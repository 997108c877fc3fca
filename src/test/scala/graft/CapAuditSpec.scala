package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.operators.{Drift, Knn, LogAnalytics}
import graft.queries.{LogQueries, PipelineQueries => PQ}
import org.apache.spark.sql.functions._

/** The round-15 industrialization of the r14 sf1-sweep lesson: EVERY
  * session conf and scale cap must carry a registered defense
  * ([[CapAudit]]) — an oracle splice, a binding-scale test, a
  * rows-invariance proof, or an exactness-regime fixture assert — and
  * the registry itself must be stale-proof:
  *
  *  - a NEW `spark.graft.*` conf anywhere in main source without a
  *    registry entry fails here (source scan == registry);
  *  - a NEW `*_CAP` / `*_BUDGET` / `*_TIERS` constant without an entry
  *    fails here;
  *  - RETUNING a registered bound without touching its audit fails the
  *    hardcoded value pins below (the CapReplaySpec discipline);
  *  - deleting an oracle splice fails the per-entry fragment asserts
  *    (the exact shape of the r14 semdedup bug).
  */
class CapAuditSpec extends SparkSpec {
  import spark.implicits._

  private val mainRoot = Paths.get("src/main/scala")

  private def mainSources: Seq[String] = {
    val files = Files.walk(mainRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no main sources under $mainRoot — cwd moved?")
    files.map(p => new String(Files.readAllBytes(p), "UTF-8"))
  }

  // ── staleness gate 1: conf keys in source == registry ──

  test("every spark.graft.* conf literal in main source has an audit entry") {
    val re = """spark\.graft\.[A-Za-z0-9.]*[A-Za-z0-9]""".r
    val found = mainSources.flatMap(src => re.findAllIn(src)).toSet
    val missing = found -- CapAudit.confKeys
    val stale = CapAudit.confKeys -- found
    assert(missing.isEmpty,
      s"conf keys WITHOUT a CapAudit entry (the r14 bug class — add the " +
        s"entry with its defense): $missing")
    assert(stale.isEmpty,
      s"CapAudit entries for conf keys no longer in source: $stale")
  }

  // ── staleness gate 2: cap-named constants == registry ──

  test("every *_CAP / *_BUDGET / *_TIERS constant has an audit entry") {
    // SCOPE-QUALIFIED scan (round-16 fix): registering by the bare last
    // id segment let a same-named constant in a DIFFERENT object (a
    // second PROBE_CAP elsewhere) ride an existing entry unregistered —
    // the exact gap class this audit exists to close. Each constant is
    // qualified by its nearest preceding `object X` declaration, so two
    // scopes each need their own `Object.CONST` entry.
    val capRe = """val\s+([A-Z][A-Z0-9_]*(?:_CAP|_BUDGET|_TIERS))\s*[=:]""".r
    val objRe = """object\s+([A-Za-z0-9_]+)""".r
    val found = mainSources.flatMap { src =>
      val objs = objRe.findAllMatchIn(src).map(m => (m.start, m.group(1))).toSeq
      capRe.findAllMatchIn(src).map { m =>
        val scope = objs.takeWhile(_._1 < m.start).lastOption.map(_._2)
          .getOrElse("<no-enclosing-object>")
        s"$scope.${m.group(1)}"
      }
    }.toSet
    val qualRe = """^[A-Za-z0-9_]+\.[A-Z][A-Z0-9_]*(?:_CAP|_BUDGET|_TIERS)$""".r
    val registered = CapAudit.entries.map(_.id)
      .filter(id => qualRe.findFirstIn(id).isDefined).toSet
    val missing = found -- registered
    val stale = registered -- found
    assert(missing.isEmpty,
      s"cap constants WITHOUT a scope-qualified CapAudit entry: $missing — " +
        "register each (as Object.CONST) with an oracle-splice fragment, a " +
        "binding test, or a written cannot-diverge argument")
    assert(stale.isEmpty,
      s"CapAudit entries for cap constants no longer in source: $stale")
  }

  // ── retune pins: registry values must match these LITERALS, so a
  //    retuned bound forces a deliberate audit touch (CapReplaySpec
  //    discipline: the expected values are hardcoded HERE, not derived) ──

  test("registered bounds carry their audited values (retune forces audit)") {
    val pinned = Map(
      "PipelineQueries.SEMDEDUP_CELL_CAP" -> "1024",
      "PipelineQueries.PROBE_CAP" -> "500",
      "PipelineQueries.PQ_PROBE_CAP" -> "2000",
      "PipelineQueries.KNN_CAP" -> "100",
      "PipelineQueries.RETR_CAP" -> "50",
      "PipelineQueries.DEDUP_EVAL_CAP" -> "500",
      "PipelineQueries.LSH_BUCKET_CAP" -> "128",
      "PipelineQueries.WINNOW_DF_CAP" -> "20",
      "PipelineQueries.CONT_DF_CAP" -> "8",
      "PipelineQueries.DP_MAG_CAP" -> "32",
      "PipelineQueries.PACK_BUDGET" -> "512",
      "PipelineQueries.CHUNK_BUDGET" -> "32",
      "LogQueries.SLO_BUDGET" -> "0.21",
      "LogQueries.TOPK_SKETCH_CAP" -> "1024",
      "Drift.REF_K" -> "1024",
      "LogAnalytics.SKETCH_EXACT_ACCURACY" -> "1048576")
    val byId = CapAudit.entries.map(e => e.id -> e.value).toMap
    pinned.foreach { case (id, want) =>
      assert(byId.contains(id), s"audit entry vanished: $id")
      assert(byId(id) == want,
        s"$id retuned (${byId(id)} != audited $want) — re-derive where it " +
          "binds, update the oracle splices/fixture asserts, THEN this pin")
    }
    assert(byId("Sketches.BLOOM_TIERS").startsWith("16384,") &&
      byId("Sketches.BLOOM_TIERS").endsWith(",16777216"),
      "BLOOM_TIERS retuned — re-audit bloomMCaseSql's oracle splice")
  }

  // ── splice asserts: every registered fragment must survive in the
  //    declared oracle SQL (deleting a splice == the r14 semdedup bug) ──

  test("every SpliceCap fragment appears in some oracle") {
    val oracles = SparkEntry.oracleSql.values.toSeq
    CapAudit.entries.filter(_.fragments.nonEmpty).foreach { e =>
      e.fragments.foreach { f =>
        assert(oracles.exists(_.contains(f)),
          s"${e.id}: oracle splice fragment '$f' not found in ANY oracle " +
            "SQL — the cap is no longer replayed cross-engine")
      }
    }
  }

  // ── shared-oracle twins: the rows-invariance evidence for the
  //    alternative plans is that both hash against ONE oracle ──

  test("rows-invariant mode twins share their exact oracle verbatim") {
    val twins = Seq(
      ("l_percentile_counts", "l_percentile", "percentilesByCounts"),
      ("l_topk_sketch", "l_topk", "TOPK_SKETCH_CAP exact regime"),
      ("x_decontam_bloom", "x_decontam", "Bloom zero-FN pre-filter"))
    twins.foreach { case (twin, base, knob) =>
      assert(SparkEntry.oracleSql.contains(twin) &&
        SparkEntry.oracleSql.contains(base), s"twin pair missing: $twin/$base")
      assert(SparkEntry.oracleSql(twin) == SparkEntry.oracleSql(base),
        s"$twin must share $base's oracle VERBATIM — that identity is the " +
          s"registered rows-invariance evidence for $knob")
    }
  }

  // ── evidence pointers must not rot: every Spec named in an entry's
  //    evidence string must exist on disk ──

  test("every spec named as evidence exists") {
    val specRe = """([A-Z][A-Za-z]+Spec)""".r
    CapAudit.entries.foreach { e =>
      specRe.findAllIn(e.evidence).toSeq.distinct.foreach { name =>
        val p = Paths.get(s"src/test/scala/graft/$name.scala")
        assert(Files.exists(p),
          s"${e.id}: evidence cites $name but $p does not exist")
      }
    }
  }

  // ── binding test: LSH bucketCap at a scale where it BINDS (cap=2
  //    over a 6-vector hot bucket) — the candidate side must be exactly
  //    the vec_id-ordered row_number prefix, matching the oracle's
  //    replay (lshMtPrefix: ORDER BY vec_id, pos <= cap) ──

  test("lshTopK bucketCap binds to the vec_id-ordered prefix (cap=2)") {
    val n = 6
    val vecs = (0 until n).map { i =>
      (i.toLong, Array(1.0f, 0.01f * i, 0f, 0f))
    }.toDF("vec_id", "embedding")
    // one table, one plane: every vector has positive dot → ONE bucket
    val tables = Seq(Seq(Seq(1.0, 0.0, 0.0, 0.0)))
    val pairs = Knn.lshTopK(vecs, tables, dim = 4, k = n, bucketCap = 2)
      .select("probe_id", "cand_id")
      .as[(Long, Long)].collect().toSet
    val capped = Set(0L, 1L) // row_number over ORDER BY vec_id, pos <= 2
    val expected = (for {
      p <- 0L until n.toLong; c <- capped if p != c
    } yield (p, c)).toSet
    assert(pairs == expected,
      s"bucketCap membership diverged from the vec_id-order rule the " +
        s"oracle replays: missing=${expected -- pairs} extra=${pairs -- expected}")
  }

  // ── binding test: REF_K OOV lump at cardinality > REF_K (1030 bins)
  //    — the head is the (count desc, bin) top-1024 and the OOV row
  //    carries EXACTLY the tail mass; mapCountsToRef lumps tail bins ──

  test("Drift REF_K binds: top-1024 head + exact OOV tail mass at 1030 bins") {
    val m = Drift.REF_K + 6
    val counts = (0 until m).map(i => (f"b$i%04d", (2000 - i).toLong))
      .toDF("bin", "c")
    val ref = Drift.refBinsFromCounts(counts)
      .as[(String, Long)].collect().toMap
    assert(ref.size == Drift.REF_K + 1,
      s"ref universe must be REF_K head + 1 OOV row, got ${ref.size}")
    val tailMass = (Drift.REF_K until m).map(i => (2000 - i).toLong).sum
    assert(ref(Drift.OOV) == tailMass,
      s"OOV lump must carry exactly the tail mass $tailMass, got ${ref(Drift.OOV)}")
    assert(ref.contains(f"b${Drift.REF_K - 1}%04d") &&
      !ref.contains(f"b${Drift.REF_K}%04d"),
      "head cut must fall exactly at the (count desc, bin) top-REF_K line")
    // mapCountsToRef: a tail bin lumps into OOV, a head bin keeps identity
    val win = Seq((0L, f"b${Drift.REF_K + 2}%04d", 7L), (0L, "b0000", 3L),
      (0L, f"b${Drift.REF_K + 4}%04d", 5L))
      .toDF("wstart", "bin", "c0")
    val mapped = Drift.mapCountsToRef(win,
      Drift.refBinsFromCounts(counts)).as[(Long, String, Long)].collect().toSet
    assert(mapped == Set((0L, Drift.OOV, 12L), (0L, "b0000", 3L)),
      s"tail bins must lump (re-aggregated) into OOV: $mapped")
  }

  // ── binding test: DP_MAG_CAP's ELSE arm has per-row probability
  //    2^-33 — no fixture SF can ever witness it. Evaluate the SHARED
  //    CASE string (the same text the oracle executes verbatim) at the
  //    exact arm boundary: u < 2^31 truncates to the cap, u = 2^31 is
  //    the last un-truncated magnitude ──

  test("DP_MAG_CAP binds: the truncation arm fires exactly below u = 2^31") {
    val rows = Seq(0L, (1L << 31) - 1, 1L << 31, 1L << 62).toDF("u")
    val got = rows.selectExpr("u",
        s"(${graft.queries.PipelineQueries.dpMagSql}) AS mag")
      .as[(Long, Int)].collect().toMap
    assert(got(0L) == PQ.DP_MAG_CAP && got((1L << 31) - 1) == PQ.DP_MAG_CAP,
      s"u below 2^31 must hit the ELSE truncation arm: $got")
    assert(got(1L << 31) == 31 && got(1L << 62) == 0,
      s"arm boundaries must replay the geometric thresholds: $got")
  }

  // ── binding test: the GK sketch accuracy beyond the exact regime —
  //    SKETCH_EXACT_ACCURACY (2^20) covers every committed fixture
  //    ~50x, so no sweep can observe the regime END. Force it: one
  //    10k-value group at accuracy 100 compresses (n >> accuracy) and
  //    the estimate must stay inside the documented rank bound
  //    n/accuracy ──

  test("percentile sketch accuracy binds: 10k-row group at accuracy 100 stays in the GK rank bound") {
    val n = 10000
    val df = (1 to n).map(i => ("g", i.toDouble)).toDF("dim", "v")
    val est = LogAnalytics.percentilesApprox(
        df, col("dim"), col("v"), Seq(0.5), accuracy = 100)
      .select("p50").as[Double].head()
    // values ARE the ranks 1..n, so |est - exact| is the rank error;
    // GK guarantees rank error <= n/accuracy (+1 for the pick)
    assert(math.abs(est - 5000.0) <= n / 100 + 1,
      s"GK rank bound violated at binding accuracy: p50 estimate $est")
  }

  // ── exactness-regime fixture asserts: the gate corpus must sit
  //    strictly inside every regime whose oracle assumes exactness ──

  test("gate fixtures sit inside the Misra-Gries exact regime") {
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val card = Tables.events(spark, s"/root/testdata/$sf")
        .select("event_type").distinct().count()
      assert(card < LogQueries.TOPK_SKETCH_CAP,
        s"$sf event_type cardinality ($card) must stay under " +
          s"TOPK_SKETCH_CAP (${LogQueries.TOPK_SKETCH_CAP}) or " +
          "l_topk_sketch's shared exact oracle stops being valid")
    }
  }
}
