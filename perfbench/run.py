#!/usr/bin/env python3
"""Benchmark of the graft connector and query engine.

    python3 perfbench/run.py --workload <ingest|query> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark from source (sbt, offline) and prepares the query
fixture; later runs reuse both while the sources are unchanged. Each run
then starts one fresh JVM, which measures and writes raw observations;
this script turns them into metrics, checks the outputs, and prints one
JSON line last on stdout. It exits 1 when an output check fails and 2
when the benchmark cannot run at all.

Build and runtime files go to `.bench_build/perfbench/` in the checkout.
The query fixture is scaled from the sf0.1 tables (SPARK_GRAFT_SF_DIR, or
the location TESTDATA.md documents), which are only read.
"""
import argparse
import array
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of build debris
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURE_MULT = 2
JVM_HEAP = "4g"
# A fixed young generation: with G1 sizing it adaptively, the ingest
# latency median moved by 15-20 % between identical runs; fixed at 1 GiB,
# five runs on a quiet host moved by under 5 %.
JVM_YOUNG = "1g"
RUN_LIMIT_S = 170

END_TO_END = {
    "setup_s": "s",
    "retained_heap_mb": "MB",
    "job_s": "s",
    "op_p50_ms": "ms",
}

PER_LAYER = {
    "host.steal_pct": "%",
    "jvm.peak_rss_mb": "MB",
    "gen.lag_p99_ms": "ms",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "source.lag_events": "events",
    "source.refreshes": "count",
    "stream.batches": "count",
    "stream.rows_per_batch": "rows",
    "stream.planning_ms": "ms",
    "stream.wal_ms": "ms",
    "stream.add_batch_ms": "ms",
    "transform.task_cpu_us_per_event": "us",
    "transform.dropped": "events",
    "sink.posts": "count",
    "sink.fill_ratio": "ratio",
    "sink.bytes": "bytes",
    "sink.replayed_batches": "count",
    "ingest.catchup_eps": "1/s",
    "ingest.delivery_p99_ms": "ms",
    "build_ms": "ms",
    "build_jobs": "count",
    "hq_memo.hit_ratio": "ratio",
    "analysis_ms": "ms",
    "optimization_ms": "ms",
    "planning_ms": "ms",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "jobs_wall_ms": "ms",
    "residual_ms": "ms",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "scheduler_delay_ms": "ms",
    "task_run_ms": "ms",
    "task_cpu_ms": "ms",
    "gc_ms": "ms",
    "input_mb": "MB",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "memo.staged": "count",
    "memo.restaged_warm": "count",
    "memo.pinned_mb": "MB",
    "cpu.job_s": "s",
    "cpu.op_p50_ms": "ms",
    "hunt.cold_p50_ms": "ms",
    "hunt.cold_s": "s",
    "curate.cold_s": "s",
    "trace.spans": "count",
    "trace.job_s": "s",
    "trace.op_p50_ms": "ms",
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """The benchmark cannot run (missing sources, build or fixture)."""


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in roots:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_checked(cmd, cwd, timeout, what):
    """Runs a child to completion (killing it on timeout), output to stderr."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError(f"{what} timed out after {timeout}s")
    if code != 0:
        raise BenchError(f"{what} failed with exit code {code}")


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("no program sources at src/main/scala/graft: "
                         "run from the root of a checkout")
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME must name the Spark installation")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building program and benchmark with sbt")
    run_checked(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile"], HERE, 800, "sbt compile")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_cmd(main, args):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    cp = classes + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    tmp = os.path.join(WORK, "tmp")
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx" + JVM_HEAP, "-Xmn" + JVM_YOUNG, "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", cp, main] + [str(a) for a in args])


def fixture_dir():
    return os.path.join(WORK, f"fixture-x{FIXTURE_MULT}")


def base_fixture_dir():
    """The sf0.1 tables the query fixture is scaled from."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(r"`([^`]*sf0\.1)/?`", f.read())
    if not m:
        raise BenchError("TESTDATA.md names no sf0.1 fixture; set SPARK_GRAFT_SF_DIR")
    return m.group(1)


def prepare_fixture():
    """Builds the query fixture once with graft.tools.ScaleGen; reused
    while its completion marker exists. Row counts are verified by the
    benchmark JVM before every query run."""
    out = fixture_dir()
    if os.path.exists(os.path.join(out, "_complete")):
        return
    shutil.rmtree(out, ignore_errors=True)
    log(f"preparing the x{FIXTURE_MULT} query fixture with ScaleGen")
    run_checked(java_cmd("perfbench.Prepare", [base_fixture_dir(), out, FIXTURE_MULT]),
                ROOT, 800, "fixture preparation")
    open(os.path.join(out, "_complete"), "w").close()


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat: (steal, total)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def measure(workload, seed, seconds, trace):
    data, mult = fixture_dir(), FIXTURE_MULT
    for d in ("out", "tmp", "spark-local", "warehouse"):
        fresh_dir(os.path.join(WORK, d))
    log(f"running {workload} seed={seed} seconds={seconds} trace={trace}")
    steal0, total0 = cpu_times()
    run_checked(java_cmd("perfbench.Main", [workload, seed, seconds, trace, WORK, data, mult]),
                ROOT, RUN_LIMIT_S, f"{workload} run")
    steal1, total1 = cpu_times()
    with open(os.path.join(WORK, "out", "result.json")) as f:
        res = json.load(f)
    # CPU the hypervisor gave to other guests while this run was measured:
    # on a shared host it explains run-to-run spread
    res["steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    log(f"host CPU steal during the run: {res['steal_pct']:.1f}%")
    return res


def metric(value, unit):
    return {"value": value, "unit": unit}


def query_metrics(res, refs):
    """Metrics and checks of a query run."""
    cold = [q["s"] for q in res["cold"]]
    warm = [q["s"] for q in res["warm"]]
    problems = list(res["errors"])
    for name, got in sorted(res["hashes"].items()):
        want = refs.get(name)
        if want is None:
            problems.append(f"{name}: no reference hash")
        elif got != want:
            problems.append(f"{name}: result {got} differs from reference {want}")
    attempted = len(cold) + len(warm)
    failed_names = {q["name"] for q in res["cold"] + res["warm"] if q["s"] < 0}
    failed_names |= {n for n, got in res["hashes"].items() if got != refs.get(n)}
    failed = sum(1 for q in res["cold"] + res["warm"] if q["name"] in failed_names)
    ops = [s for s in warm if s >= 0] or [float("nan")]
    e2e = {"job_s": res["job_s"], "op_p50_ms": stats.median(ops) * 1000.0}
    return e2e, attempted, failed, problems


def ingest_metrics(res):
    """Metrics and checks of an ingest run: exact event accounting per
    partition, and delivery latency from each event's due time."""
    acc = res["accounting"]
    problems = list(res["errors"])
    for p in acc["partitions"]:
        if p["lost"] or p["duplicated"]:
            problems.append(f"partition {p['partition']}: lost {p['lost']}, duplicated "
                            f"{p['duplicated']} of {p['generated_valid']} valid events")
    if acc["unknown"]:
        problems.append(f"{acc['unknown']} delivered events were never generated as valid")
    if acc["dropped"] != acc["injected_invalid"]:
        problems.append(f"pipeline dropped {acc['dropped']} lines, "
                        f"{acc['injected_invalid']} were empty or corrupt")
    lat = latencies(os.path.join(WORK, "out", "latency.bin"))
    if (stats.tail_percentile(len(lat)) or 0) < 99:
        problems.append(f"{len(lat)} steady-phase deliveries are too few for a p99")
        lat = lat or [float("nan")]
    attempted = acc["generated_valid"]
    failed = acc["unknown"] + sum(p["lost"] + p["duplicated"] for p in acc["partitions"])
    e2e = {"job_s": res["catchup_s"], "op_p50_ms": stats.median(lat)}
    return e2e, attempted, failed, problems, lat


def latencies(path):
    """Reads (due ms, posted us) pairs written big-endian by the sink."""
    raw = array.array("q")
    with open(path, "rb") as f:
        raw.frombytes(f.read())
    if sys.byteorder == "little":
        raw.byteswap()
    return [stats.due_latency_ms(raw[i], raw[i + 1]) for i in range(0, len(raw), 2)]


def layer_metrics(res, e2e, lat):
    """Per-layer numbers of a traced run; 0 where the workload leaves a
    layer idle."""
    v = {k: 0.0 for k in PER_LAYER}
    prof = res.get("profile", {})
    mb = 1024.0 * 1024.0
    for q in prof.get("queries", []):
        for key, src in (("build_ms", "build_ms"), ("build_jobs", "build_jobs"),
                         ("analysis_ms", "analysis_ms"),
                         ("optimization_ms", "optimization_ms"),
                         ("planning_ms", "planning_ms"),
                         ("codegen.compiles", "codegen_compiles"),
                         ("codegen.compile_ms", "codegen_ms"),
                         ("jobs_wall_ms", "jobs_ms"), ("residual_ms", "residual_ms"),
                         ("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                         ("scheduler_delay_ms", "scheduler_delay_ms"),
                         ("task_run_ms", "task_run_ms"), ("task_cpu_ms", "task_cpu_ms"),
                         ("gc_ms", "gc_ms")):
            v[key] += q[src]
        v["input_mb"] += q["input_bytes"] / mb
        v["shuffle_write_mb"] += q["shuffle_write_bytes"] / mb
        v["shuffle_read_mb"] += q["shuffle_read_bytes"] / mb
        v["spill_mb"] += q["spill_bytes"] / mb
        v["memo.staged" if q["pass"] == "cold" else "memo.restaged_warm"] += q["memo_staged"]
    if prof.get("hq_memo_lookups"):
        v["hq_memo.hit_ratio"] = prof["hq_memo_hits"] / prof["hq_memo_lookups"]
    v["memo.pinned_mb"] = prof.get("memo_pinned_bytes", 0) / mb
    if "cold" in res:
        v["cpu.job_s"] = sum(q["cpu_s"] for q in res["cold"])
        v["cpu.op_p50_ms"] = stats.median([q["cpu_s"] for q in res["warm"]]) * 1000.0
        hunt = [q["s"] for q in res["cold"] if q["name"].startswith("hq_")]
        v["hunt.cold_p50_ms"] = stats.median(hunt) * 1000.0
        v["hunt.cold_s"] = sum(hunt)
        v["curate.cold_s"] = sum(q["s"] for q in res["cold"] if not q["name"].startswith("hq_"))
    for key, val in res.get("layers", {}).items():
        v[key] = val
    if lat:
        acc, sink = res["accounting"], res["sink"]
        v["ingest.delivery_p99_ms"] = stats.percentile(lat, 99)
        v["sink.posts"] = sink["posts"]
        v["sink.bytes"] = sink["bytes"]
        v["sink.fill_ratio"] = stats.fill_ratio(sink["events"], sink["posts"], sink["bulk_max"])
        v["ingest.catchup_eps"] = res["backlog_valid"] / res["catchup_s"]
        v["cpu.job_s"] = res["catchup_cpu_s"]
        v["cpu.op_p50_ms"] = 1000.0 * res["window_cpu_s"] / len(lat)
        v["transform.dropped"] = acc["dropped"]
        v["sink.replayed_batches"] = acc["replayed_batches"]
        gen = array.array("f")
        with open(os.path.join(WORK, "out", "genlag.bin"), "rb") as f:
            gen.frombytes(f.read())
        if sys.byteorder == "little":
            gen.byteswap()
        v["gen.lag_p99_ms"] = stats.percentile(list(gen), 99)
    v["host.steal_pct"] = res["steal_pct"]
    v["jvm.peak_rss_mb"] = res["rss_hwm_kb"] / 1024.0
    v["trace.spans"] = res.get("spans", 0)
    v["trace.job_s"] = e2e["job_s"]
    v["trace.op_p50_ms"] = e2e["op_p50_ms"]
    return {k: metric(v[k], PER_LAYER[k]) for k in PER_LAYER}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        os.makedirs(WORK, exist_ok=True)
        build()
        prepare_fixture()
        res = measure(args.workload, args.seed, args.seconds, args.trace)
    except BenchError as e:
        log(f"cannot run: {e}")
        return 2
    lat = None
    if args.workload == "ingest":
        e2e, attempted, failed, problems, lat = ingest_metrics(res)
    else:
        with open(os.path.join(HERE, "reference_hashes.json")) as f:
            refs = json.load(f)
        e2e, attempted, failed, problems = query_metrics(res, refs)
    e2e["setup_s"] = stats.median(res["setup_s"])
    e2e["retained_heap_mb"] = res["retained_heap_bytes"] / 1048576.0
    for p in problems:
        log("CHECK FAILED: " + p)
    if args.trace:
        metrics = layer_metrics(res, e2e, lat)
    else:
        metrics = {k: metric(e2e[k], u) for k, u in END_TO_END.items()}
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
