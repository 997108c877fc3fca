package graft

import graft.operators.Drift
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-window drift scores on the path `l_drift_window` and
  * `x_drift_gate` run, `windowDrift(mapCountsToRef(counts, ref), ref)`:
  * the window with novel mass out-drifts the in-vocabulary one, the
  * OOV bin lumps every word the reference never saw, and an all-OOV
  * window or an empty reference still scores. The reference corpus
  * deliberately EXCLUDES some words so the OOV lump path is exercised
  * (fixture docs can't — they share one vocabulary).
  */
class DriftStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) =
    java.sql.Timestamp.valueOf(f"2024-03-01 10:$minute%02d:00")

  // reference snapshot: a skewed word distribution; "drifted" and
  // "novel" never appear here → they must land in the OOV bin
  private val refDocs = Seq(
    "alpha alpha alpha beta beta gamma",
    "alpha beta gamma delta delta",
    "alpha gamma epsilon")
  private val ref = Drift.refBinsFromCounts(
    refDocs.toDF("text")
      .select(explode(split(col("text"), " ")).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c")))

  // two 10-minute windows; window 2 drifts hard (novel mass)
  private val batch1 = Seq(
    (ts(1), 1L, "alpha alpha beta gamma"),
    (ts(3), 2L, "alpha beta delta"),
    (ts(12), 3L, "drifted novel novel epsilon"))
  private val batch2 = Seq(
    (ts(5), 4L, "gamma gamma alpha"),
    (ts(14), 5L, "novel drifted drifted"))

  /** Per-(10-minute window, word) counts, scored against `r`. */
  private def scores(rows: Seq[(java.sql.Timestamp, Long, String)],
                     r: DataFrame = ref): Seq[Row] = {
    val winMs = 600000L
    val counts = rows.toDF("ts", "doc_id", "text")
      .select((expr(s"unix_millis(ts) DIV $winMs") * winMs).as("wstart"),
        explode(split(col("text"), " ")).as("bin"))
      .groupBy("wstart", "bin").agg(count(lit(1)).as("c0"))
    collect(Drift.windowDrift(Drift.mapCountsToRef(counts, r), r))
  }

  private type Row = (Long, Long, Double, Double, Double)
  private def collect(df: DataFrame): Seq[Row] =
    df.select("wstart", "n0", "kl_wr", "kl_rw", "tv")
      .orderBy("wstart").as[Row].collect().toSeq

  test("OOV lump and drift direction: the novel-mass window scores higher") {
    val s = scores(batch1 ++ batch2)
    assert(s.size == 2, s"expected two windows: $s")
    val (w1, w2) = (s.head, s.last)
    // window 2 is mostly words the reference never saw → larger drift
    // on every axis
    assert(w2._3 > w1._3 && w2._4 > w1._4 && w2._5 > w1._5,
      s"novel-mass window must out-drift the in-vocabulary one: $s")
    // OOV really is the lump: scoring with a reference whose head
    // contains the novel words (built FROM the scored docs) must
    // strictly reduce window-2 drift
    val selfRef = Drift.refBinsFromCounts(
      (batch1 ++ batch2).map(_._3).toDF("text")
        .select(explode(split(col("text"), " ")).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("c")))
    val drifted = scores(batch1 ++ batch2, selfRef)
    assert(drifted.last._3 < s.last._3,
      "a reference that knows the novel words must report less drift")
  }

  test("edge inputs: OOV-only window and an empty reference never throw") {
    // every word unknown to the reference → all mass in the OOV
    // bin; smoothing keeps both KLs finite and TV sane
    val oovOnly = Seq((ts(2), 9L, "zz yy xx ww"))
    val s1 = scores(oovOnly)
    assert(s1.size == 1 && s1.head._2 == 4L, s"4 grams, one window: $s1")
    assert(s1.head._3 > 0 && s1.head._4 > 0 && s1.head._5 > 0 && s1.head._5 <= 1,
      s"finite positive drift on an all-OOV window: $s1")
    // an EMPTY reference corpus: head empty, OOV row carries 0 mass —
    // v = 1, n1 = 0; add-one smoothing keeps every ln argument >= 1
    // and the (n1 + v) denominators >= 1 (no ANSI divide-by-zero)
    val emptyRef = Drift.refBinsFromCounts(
      Seq.empty[(String, Long)].toDF("bin", "c"))
    assert(emptyRef.as[(String, Long)].collect().toSeq == Seq((Drift.OOV, 0L)))
    val out = scores(oovOnly, emptyRef)
    assert(out.size == 1 && out.head._2 == 4L, s"scores exist: $out")
  }

  test("refBinsFromCounts: head keeps exact counts, OOV lumps the tail mass") {
    val counts = Seq(("a", 50L), ("b", 30L), ("c", 2L)).toDF("bin", "c")
    val bins = Drift.refBinsFromCounts(counts)
      .as[(String, Long)].collect().toMap
    // REF_K is far above 3, so the head holds all three and OOV is 0
    assert(bins == Map("a" -> 50L, "b" -> 30L, "c" -> 2L, Drift.OOV -> 0L))
  }
}
