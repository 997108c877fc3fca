package graft

import graft.operators.Knn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The index-lifecycle gate ([[Knn.indexHealth]]) and its refresh path:
  * a drifted delta must flip the retrain verdict, a stationary delta
  * must not, and the refreshed codebook (the session-memoized
  * [[Knn.kmeansTrain]] on the current corpus) must be bit-identical to
  * a cold retrain of the same corpus.
  */
class IndexHealthSpec extends SparkSpec {
  import spark.implicits._

  private val DIM = 4

  /** n vectors around a center, deterministic jitter, ids from `from`. */
  private def cloud(from: Int, n: Int, center: Array[Double]): Seq[(Long, Seq[Float])] =
    (0 until n).map { i =>
      val jit = Array.tabulate(DIM)(d => ((i * 7 + d * 3) % 5 - 2) * 0.02)
      (from + i.toLong, center.indices.map(d => (center(d) + jit(d)).toFloat))
    }

  private def df(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  private val a = cloud(0, 40, Array(1.0, 0.0, 0.0, 0.0))
  private val b = cloud(100, 40, Array(0.0, 1.0, 0.0, 0.0))
  private val base = a ++ b
  private def seedOf(rows: Seq[(Long, Seq[Float])], k: Int) =
    df(rows.sortBy(_._1).take(k))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))

  private def health(baseRows: Seq[(Long, Seq[Float])],
                     curRows: Seq[(Long, Seq[Float])]): (Double, Long) = {
    val (trained, _) = Knn.kmeansTrain(df(baseRows), seedOf(baseRows, 4), DIM, 3)
    val r = Knn.indexHealth(df(baseRows), df(curRows), trained, DIM)
      .select("tv", "retrain").as[(Double, Long)].collect().head
    r
  }

  test("stationary delta keeps the index; drifted delta flips the verdict") {
    // stationary: the delta is more of the same two clouds
    val sameDelta = cloud(200, 10, Array(1.0, 0.0, 0.0, 0.0)) ++
      cloud(300, 10, Array(0.0, 1.0, 0.0, 0.0))
    val (tvSame, keepVerdict) = health(base, base ++ sameDelta)
    assert(keepVerdict == 0L, s"stationary delta must not retrain (tv=$tvSame)")
    // drifted: a NEW cloud far from both training clusters, big enough
    // to move cell mass past the TV threshold
    val drift = cloud(400, 120, Array(0.0, 0.0, 1.0, 0.0))
    val (tvDrift, retrain) = health(base, base ++ drift)
    assert(retrain == 1L && tvDrift > tvSame,
      s"drifted corpus must trip the gate (tv $tvSame -> $tvDrift)")
  }

  test("empty sides are definitionally stale") {
    val (trained, _) = Knn.kmeansTrain(df(base), seedOf(base, 4), DIM, 3)
    val empty = df(base).where(col("vec_id") < 0)
    val r = Knn.indexHealth(empty, df(base), trained, DIM)
      .select("tv", "retrain").as[(Double, Long)].collect().head
    assert(r == ((1.0, 1L)))
  }

  test("refreshed codebook is bit-identical to a cold retrain") {
    val current = base ++ cloud(400, 120, Array(0.0, 0.0, 1.0, 0.0))
    def centroids(memo: Boolean): Seq[(Long, Seq[Double])] = {
      val prev = spark.conf.getOption(graft.operators.Scale.MemoConf)
      spark.conf.set(graft.operators.Scale.MemoConf, memo.toString)
      try {
        val (trained, _) = Knn.kmeansTrain(df(current), seedOf(current, 4), DIM, 3)
        trained.select(col("cent_id"), col("cvec"))
          .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
      } finally prev match {
        case Some(v) => spark.conf.set(graft.operators.Scale.MemoConf, v)
        case None => spark.conf.unset(graft.operators.Scale.MemoConf)
      }
    }
    val cold = centroids(memo = false)
    // memoized refresh: first call trains and caches, second is a hit —
    // both must equal the cold run exactly (doubles, not approximately)
    val warm1 = centroids(memo = true)
    val warm2 = centroids(memo = true)
    assert(warm1 == cold, "memoized training must equal the cold retrain")
    assert(warm2 == cold, "a memo hit must return the identical codebook")
  }
}
