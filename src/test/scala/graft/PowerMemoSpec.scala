package graft

class PowerMemoSpec extends SparkSpec {
  // Regression guard for the mapPartitions power-rounds plan: typed
  // plans embed closures and encoder-derived expressions, and a fresh
  // instance per build would defeat the stage memo's canonical-plan
  // equality (the TopKByScore lesson) — every consumer query would then
  // re-stage and re-pin identical checkpoint blocks.
  test("powerRounds staged output memo-hits across two builds") {
    import spark.implicits._
    // conf set/restored on the SHARED spec session — a builder
    // getOrCreate().config(...) here would flip the memo on for every
    // later suite and break the opt-in tests (it did, once)
    spark.conf.set(graft.operators.Scale.MemoConf, "true")
    try {
      val vecs = (0 until 50).map(i => (i.toLong, Array.fill(6)(i * 0.01f)))
        .toDF("vec_id", "embedding")
      val a = graft.operators.Knn.powerIteration(vecs, 6, 8)
      val b = graft.operators.Knn.powerIteration(vecs, 6, 8)
      def leafIds(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        p.collectLeaves().collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
        }.toSet
      val ia = leafIds(a.queryExecution.analyzed)
      val ib = leafIds(b.queryExecution.analyzed)
      assert(ia == ib, s"memo MISS: first build leaves $ia, second $ib")
    } finally spark.conf.set(graft.operators.Scale.MemoConf, "false")
  }
}
