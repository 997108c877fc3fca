#!/usr/bin/env python3
"""Per-query tables from committed Bench records and perfbench profiles.

Three modes:

  python3 tools/scale_table.py LO.json HI.json [scale]
      Markdown ratio table: warm ratio hi/lo per query and the
      top-decade exponent log_scale(t_hi/t_lo); flags exponents > 1.2
      (the verdict's fix-or-bless line).

  python3 tools/scale_table.py --fit F1.json S1 F2.json S2 F3.json S3 ...
      Least-squares exponent over ln t ~ a + e*ln scale across 2+
      records (e.g. sf1=10 sf3=30 sf10=100 relative to sf0.1=1).

  python3 tools/scale_table.py --profile PARENT.json CHANGE.json
      Per-query diff of two traced perfbench `result.json` files
      (`perfbench/run.py --trace 1` writes `profile.queries`): wall_ms,
      codegen_compiles, jobs and jobs_ms per query and pass, parent ->
      change, then per-pass totals and each side's warm median wall.

Sub-second-at-every-scale queries are summarized in aggregate (the
fixed-cost floor dominates; an exponent fitted on 0.2 s vs 0.4 s
measures noise, not the plan).
"""
import json, math, statistics, sys


def load(p):
    with open(p) as f:
        return json.load(f)


def ratio_table(lo_p, hi_p, scale):
    lo, hi = load(lo_p), load(hi_p)
    wlo, whi = lo["queries_warm"], hi["queries_warm"]
    common = sorted(set(wlo) & set(whi))
    missing = sorted(set(wlo) ^ set(whi))
    if missing:
        print(f"NOTE: {len(missing)} queries not in both records: {missing}")
    rows, small = [], []
    for q in common:
        a, b = wlo[q], whi[q]
        if a < 0 or b < 0:
            print(f"FAILED ({q}): lo={a} hi={b}")
            continue
        if max(a, b) < 1.0:
            small.append((q, a, b))
            continue
        ratio = b / max(a, 0.01)
        exp = math.log(max(ratio, 0.01)) / math.log(scale)
        rows.append((exp, ratio, a, b, q))
    rows.sort(reverse=True)
    print(f"\ncommon queries: {len(common)}; sub-1s at both scales: {len(small)} "
          f"(aggregate lo {sum(a for _, a, _ in small):.1f}s -> hi {sum(b for _, _, b in small):.1f}s)")
    # totals over the COMMON query set only, so the headline ratio and
    # the per-query table describe the same inventory even when the two
    # records disagree on membership (the NOTE case above)
    tlo = sum(wlo[q] for q in common if wlo[q] > 0 and whi[q] > 0)
    thi = sum(whi[q] for q in common if wlo[q] > 0 and whi[q] > 0)
    print(f"warm totals (common set): lo {tlo:.1f}s  hi {thi:.1f}s  "
          f"ratio {thi / tlo:.2f}x at {scale:.0f}x data")
    print(f"queries with exponent > 1.2: {sum(1 for r in rows if r[0] > 1.2)}\n")
    print("| query | lo warm s | hi warm s | ratio | exponent |")
    print("|---|---|---|---|---|")
    for exp, ratio, a, b, q in rows[:40]:
        print(f"| {q} | {a:.2f} | {b:.2f} | {ratio:.2f}x | {exp:.2f} |")
    if len(rows) > 40:
        rest = rows[40:]
        print(f"| ({len(rest)} more, all exponent <= {rest[0][0]:.2f}) | "
              f"{sum(r[2] for r in rest):.1f} | {sum(r[3] for r in rest):.1f} | — | — |")


def fit(paths_scales):
    recs = [(load(p)["queries_warm"], s) for p, s in paths_scales]
    common = set(recs[0][0])
    for r, _ in recs[1:]:
        common &= set(r)
    out = []
    for q in sorted(common):
        ts = [r[q] for r, _ in recs]
        if any(t < 0 for t in ts):
            print(f"FAILED ({q}): {ts}")
            continue
        if max(ts) < 1.0:
            continue
        pts = [(math.log(s), math.log(max(r[q], 0.01))) for r, s in recs]
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts); sxy = sum(x * y for x, y in pts)
        e = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        out.append((e, q, ts))
    out.sort(reverse=True)
    scales = "/".join(f"{s:g}x" for _, s in paths_scales)
    print(f"fitted over {scales}; {len(out)} queries >=1s somewhere; "
          f"exponents > 1.2: {sum(1 for e, _, _ in out if e > 1.2)}\n")
    print(f"| query | warm s at {scales} | exponent |")
    print("|---|---|---|")
    for e, q, ts in out[:40]:
        print(f"| {q} | {' / '.join(f'{t:.2f}' for t in ts)} | {e:.2f} |")
    if len(out) > 40:
        print(f"| ({len(out) - 40} more, all <= {out[40][0]:.2f}) | | |")


PROFILE_COLS = ("wall_ms", "codegen_compiles", "jobs", "jobs_ms")


def profile_rows(p):
    prof = load(p).get("profile")
    if not prof:
        sys.exit(f"{p}: no profile section (run perfbench with --trace 1)")
    return {(q["name"], q["pass"]): q for q in prof["queries"]}


def profile_diff(parent_p, change_p):
    a, b = profile_rows(parent_p), profile_rows(change_p)
    keys = [k for k in a if k in b]  # the parent's execution order
    missing = sorted(set(a) ^ set(b))
    if missing:
        print(f"NOTE: {len(missing)} executions not in both records: {missing}")
    head = " | ".join(PROFILE_COLS)
    print(f"| query | pass | {head} |")
    print("|---|---|" + "---|" * len(PROFILE_COLS))

    def cells(x, y):
        return " | ".join(f"{x[c]} → {y[c]}" for c in PROFILE_COLS)

    for k in keys:
        print(f"| {k[0]} | {k[1]} | {cells(a[k], b[k])} |")
    # per pass, hunting (hq_*) and curation queries apart
    group = lambda k: (k[1], "hunt" if k[0].startswith("hq_") else "curate")
    for g in dict.fromkeys(map(group, keys)):
        ks = [k for k in keys if group(k) == g]
        tot = lambda r: {c: sum(r[k][c] for k in ks) for c in PROFILE_COLS}
        print(f"| **{g[1]} total ({len(ks)})** | {g[0]} | {cells(tot(a), tot(b))} |")
    warm = [k for k in keys if k[1].startswith("warm")]
    if warm:
        ma = statistics.median(a[k]["wall_ms"] for k in warm)
        mb = statistics.median(b[k]["wall_ms"] for k in warm)
        print(f"\nwarm median wall_ms ({len(warm)} executions): "
              f"parent {ma:g}, change {mb:g}")


def usage():
    print(__doc__.strip())
    sys.exit(1)


if __name__ == "__main__":
    if len(sys.argv) < 3:
        usage()
    if sys.argv[1] == "--profile":
        if len(sys.argv) != 4:
            usage()
        profile_diff(sys.argv[2], sys.argv[3])
    elif sys.argv[1] == "--fit":
        pairs = sys.argv[2:]
        if len(pairs) < 4 or len(pairs) % 2 != 0:
            usage()
        try:
            args = [(pairs[i], float(pairs[i + 1]))
                    for i in range(0, len(pairs), 2)]
        except ValueError:
            usage()
        fit(args)
    else:
        try:
            scale = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
        except ValueError:
            usage()
        ratio_table(sys.argv[1], sys.argv[2], scale)
