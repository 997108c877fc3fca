package graft

import graft.functions.Vectors
import graft.operators.Knn
import graft.queries.PipelineQueries
import org.apache.spark.sql.functions._

/** The round-14 sf1 sweep found the one bug class the sf0.01/sf0.1
  * gates structurally cannot see: a scale bound (SEMDEDUP_CELL_CAP)
  * that only BINDS at larger fixtures, whose Spark-side selection was
  * capped while the oracle joined the uncapped relation. This spec pins
  * both halves at a scale where the cap binds IN-SUITE:
  *
  *  - the capped member IDENTITY is the documented md5(vec_id) rule —
  *    verified against an independent MessageDigest replay, so a drift
  *    in `cappedCells`' ordering (e.g. to plain vec_id order) fails
  *    here immediately instead of at the next sf1 sweep;
  *  - the five semdedup-family oracles carry the `capIdsSql` replay —
  *    removing the splice fails the suite, not the driver's gate
  *    months later.
  */
class CapReplaySpec extends SparkSpec {
  import spark.implicits._

  /** Spark md5(CAST(x AS STRING)) replay: lowercase hex of the MD5 of
    * the decimal rendering — the cap's documented sort key.
    */
  private def md5Hex(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val n = 40
  private val cap = 4
  private def expectedCapped(ids: Seq[Long]): Seq[Long] =
    ids.sortBy(id => (md5Hex(id), id)).take(cap)

  test("cellPairs capped members are EXACTLY the md5-rule selection") {
    val vecs = (0L until n.toLong).map(i => (i, Array(1.0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val assigned = vecs.select(lit(0L).as("cell"), col("vec_id"),
      col("embedding"), Vectors.norm(col("embedding"), 4).as("nrm"))
    val pairs = Knn.cellPairs(assigned, tau = 0.3, cellCap = cap)
      .as[(Long, Long)].collect().toSet
    val capped = expectedCapped(0L until n.toLong).toSet
    // the pair set determined by member identity: all canonical pairs
    // with at least one capped endpoint (the cellPairs contract)
    val expected = (for {
      a <- 0L until n.toLong; b <- (a + 1) until n.toLong
      if capped(a) || capped(b)
    } yield (a, b)).toSet
    assert(pairs == expected,
      s"capped pair membership diverged from the md5 rule: " +
        s"missing=${(expected -- pairs).take(5)} extra=${(pairs -- expected).take(5)}")
  }

  test("probeCellIndex joins EXACTLY the md5-rule capped base index") {
    val base = (0L until n.toLong).map(i => (i, Array(1.0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val index = base.select(col("vec_id"), col("embedding"),
      Vectors.norm(col("embedding"), 4).as("nrm"), lit(0L).as("cell"))
    val cents = Seq((0L, Array(1.0f, 0f, 0f, 0f))).toDF("cent_id", "cvec")
    val delta = Seq((100L, Array(1.0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Knn.probeCellIndex(delta, index, cents, dim = 4, tau = 0.5,
        nprobe = 1, cellCap = cap)
      .as[(Long, Long, Long)].collect()
    val capped = expectedCapped(0L until n.toLong)
    assert(out.length == 1)
    val (vecId, nMatches, firstMatch) = out.head
    assert(vecId == 100L)
    assert(nMatches == cap.toLong,
      s"probe must match every capped base member and no other: $nMatches")
    assert(firstMatch == capped.min,
      s"first_match must be the smallest CAPPED id (${capped.min}), got " +
        s"$firstMatch — min over the uncapped cell would be 0 only if 0 " +
        "survives the md5 cut")
    // the planted regime must actually exercise the cut, or the
    // assertions above are vacuous
    assert(capped.min != 0L || capped.toSet != (0L until cap.toLong).toSet,
      "fixture degenerated: md5 order picked the id-order prefix")
  }

  test("the five semdedup-family oracles replay the cap (structural)") {
    val keys = Seq("x_semdedup", "x_semdedup_probe", "x_semdedup_incremental",
      "x_curate_semantic", "x_curate_semantic_incremental")
    keys.foreach { k =>
      val sql = SparkEntry.oracleSql(k)
      assert(sql.contains(s"pos <= ${PipelineQueries.SEMDEDUP_CELL_CAP}"),
        s"$k oracle lost the cellCap replay (capIdsSql splice)")
      assert(sql.contains("md5(CAST(vec_id AS VARCHAR))"),
        s"$k oracle cap must use the md5 order, or sf1+ diverges")
    }
  }
}
