package graft

import graft.operators.Drift
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The drift→ACTION composition `x_drift_gate` runs
  * (`driftVerdicts(windowDrift(mapCountsToRef(counts, ref), ref))`):
  * a window whose KL is a 2σ outlier against its peers quarantines,
  * clean windows pass, and windows that all look alike quarantine
  * nothing. Batch face: `x_drift_gate` (LogQueries), hash-gated
  * against DuckDB.
  */
class DriftGateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) =
    java.sql.Timestamp.valueOf(f"2024-03-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  // reference: the clean vocabulary; "poison"/"venom" never appear
  private val ref = Drift.refBinsFromCounts(
    Seq("alpha alpha beta gamma", "alpha beta delta", "gamma delta")
      .toDF("text")
      .select(explode(split(col("text"), " ")).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c")))

  // seven 10-minute windows: six echo the reference mix, window 4
  // (minutes 40-49) is pure novel mass
  private val docs: Seq[(java.sql.Timestamp, Long, String)] =
    (0 until 7).flatMap { w =>
      if (w == 4) Seq(
        (ts(w * 10 + 1), w * 10L + 1, "poison venom poison"),
        (ts(w * 10 + 5), w * 10L + 2, "venom venom poison"))
      else Seq(
        (ts(w * 10 + 2), w * 10L + 1, "alpha alpha beta gamma"),
        (ts(w * 10 + 7), w * 10L + 2, "alpha beta delta gamma"))
    }

  private val winMs = 600000L

  /** Per-(10-minute window, word) counts, the relation x_drift_gate
    * aggregates from events.
    */
  private def counts(rows: Seq[(java.sql.Timestamp, Long, String)]): DataFrame =
    rows.toDF("ts", "doc_id", "text")
      .select((expr(s"unix_millis(ts) DIV $winMs") * winMs).as("wstart"),
        explode(split(col("text"), " ")).as("bin"))
      .groupBy("wstart", "bin").agg(count(lit(1)).as("c0"))

  private def verdicts(rows: Seq[(java.sql.Timestamp, Long, String)]): Map[Long, Long] =
    Drift.driftVerdicts(Drift.windowDrift(Drift.mapCountsToRef(counts(rows), ref), ref))
      .select("wstart", "quarantined")
      .as[(Long, Long)].collect().toMap

  test("a poisoned window quarantines whole; clean windows pass") {
    val v = verdicts(docs)
    assert(v.size == 7, s"every window gets a verdict row: $v")
    val poisoned = docs.filter(_._3.contains("poison"))
      .map(_._1.getTime / winMs * winMs).toSet
    assert(poisoned.size == 1)
    poisoned.foreach(w => assert(v(w) == 1L,
      s"the novel-mass window $w must quarantine: $v"))
    (v.keySet -- poisoned).foreach(w => assert(v(w) == 0L,
      s"clean window $w must pass: $v"))
  }

  test("all-alike windows quarantine nothing (d = 0 degenerate)") {
    val v = verdicts(docs.filterNot(_._3.contains("poison")))
    assert(v.size == 6 && v.values.forall(_ == 0L),
      s"identical windows have zero variance and no outlier: $v")
  }
}
