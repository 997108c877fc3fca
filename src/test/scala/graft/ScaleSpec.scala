package graft

import graft.operators.Scale
import org.apache.spark.sql.functions._

import scala.util.Random

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted top-k equals direct window top-k (skewed keys)") {
    val rnd = new Random(1)
    // hot key 0 has 80% of rows — the skew case salting exists for
    val rows = (1 to 2000).map { i =>
      val key = if (rnd.nextInt(10) < 8) 0L else rnd.nextInt(5).toLong + 1
      (key, rnd.nextDouble() * 1000, i.toLong)
    }
    val df = rows.toDF("key", "score", "id")
    val direct = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("score").desc, col("id"))
      df.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .select("key", "id").as[(Long, Long)].collect().toSet
    }
    val salted = Scale.saltedTopKPerKey(df, col("key"),
        Seq(col("score").desc, col("id")), k = 3, salts = 8, tiebreak = col("id"))
      .select("key", "id").as[(Long, Long)].collect().toSet
    assert(salted == direct)
  }

  test("memoArtifact: opt-in, keyed by canonical plan + tag; recomputes when off") {
    val mk = () => spark.range(100).toDF("id").withColumn("v", col("id") % 5)
    var computes = 0
    def collectIt(df: org.apache.spark.sql.DataFrame): java.lang.Long = {
      computes += 1; java.lang.Long.valueOf(df.count())
    }
    // default OFF: every call recomputes
    Scale.memoArtifact(mk(), "t1")(collectIt(mk()))
    Scale.memoArtifact(mk(), "t1")(collectIt(mk()))
    assert(computes == 2, "memo must be opt-in")
    spark.conf.set(Scale.MemoConf, "true")
    try {
      computes = 0
      val a = Scale.memoArtifact(mk(), "t1")(collectIt(mk()))
      val b = Scale.memoArtifact(mk(), "t1")(collectIt(mk()))
      assert(computes == 1 && a == b, "equal plan+tag must hit the memo")
      // a different TAG or PLAN misses
      Scale.memoArtifact(mk(), "t2")(collectIt(mk()))
      Scale.memoArtifact(mk().where(col("v") > 1), "t1")(
        collectIt(mk().where(col("v") > 1)))
      assert(computes == 3)
      // a nondeterministic plan never memoizes
      val nd = () => mk().withColumn("r", rand())
      Scale.memoArtifact(nd(), "t1")(collectIt(mk()))
      Scale.memoArtifact(nd(), "t1")(collectIt(mk()))
      assert(computes == 5, "nondeterministic plans must bypass the memo")
    } finally spark.conf.unset(Scale.MemoConf)
  }

  test("stage memo (opt-in): canonically equal plans share one staged " +
    "relation; renames, default-off, and nondeterministic plans do not") {
    val mk = () => spark.range(500).toDF("id")
      .withColumn("v", col("id") * 3 + 1).where(col("v") % 7 === 2)
    // default OFF: every call re-stages (general sessions may rewrite
    // sources mid-run — the soundness contract lives in the conf doc)
    val off1 = Scale.stage(mk())
    val off2 = Scale.stage(mk())
    assert(!(off1.queryExecution.logical eq off2.queryExecution.logical),
      "memo must be opt-in")
    spark.conf.set(Scale.MemoConf, "true")
    try {
      // two INDEPENDENTLY built but canonically equal plans memo to the
      // SAME staged DataFrame (the session-warm shared subtree)
      val a = Scale.stage(mk())
      val b = Scale.stage(mk())
      assert(a.queryExecution.logical eq b.queryExecution.logical,
        "equal canonical plans must share the staged relation")
      assert(b.as[(Long, Long)].collect().toSet ==
        mk().as[(Long, Long)].collect().toSet)
      // a DIFFERENT plan misses the memo
      val c = Scale.stage(mk().where(col("id") > 100))
      assert(!(c.queryExecution.logical eq a.queryExecution.logical))
      // canonicalization erases aliases — the schema key must keep a
      // renamed staging APART or a hit would return the wrong columns
      val renamed = Scale.stage(spark.range(500).toDF("id")
        .withColumn("w", col("id") * 3 + 1).where(col("w") % 7 === 2))
      assert(!(renamed.queryExecution.logical eq a.queryExecution.logical),
        "same canonical plan under different names must not share")
      assert(renamed.columns.toSeq == Seq("id", "w"))
      // nondeterministic lineage is never memoized
      val r1 = Scale.stage(spark.range(100).withColumn("r", rand(0)).limit(5))
      val r2 = Scale.stage(spark.range(100).withColumn("r", rand(0)).limit(5))
      assert(!(r1.queryExecution.logical eq r2.queryExecution.logical),
        "nondeterministic plans must not share staged blocks")
      // ...including nondeterminism hiding INSIDE a subquery plan: the
      // outer expression tree is deterministic (ScalarSubquery's
      // `deterministic` covers only its outer references), so only the
      // recursive subqueriesAll walk catches it
      val mkSub = () => spark.range(100).toDF("id")
        .where(col("id").cast("double") >= expr("(SELECT rand(0))"))
      val s1 = Scale.stage(mkSub())
      val s2 = Scale.stage(mkSub())
      assert(!(s1.queryExecution.logical eq s2.queryExecution.logical),
        "plans with nondeterministic subqueries must not share staged blocks")
      // execution-time confs that change what an identical plan computes
      // are part of the key: the same lineage under a different session
      // time zone must NOT hit the UTC entry
      val tzBefore = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      try {
        val other = Scale.stage(mk())
        assert(!(other.queryExecution.logical eq a.queryExecution.logical),
          "a conf flip between stagings must not serve the old entry")
      } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
    } finally spark.conf.unset(Scale.MemoConf)
  }

  test("stage memo budget: over-budget entries are forgotten LRU-first " +
    "and re-stage with identical rows; a roomy budget keeps sharing") {
    spark.conf.set(Scale.MemoConf, "true")
    val mkA = () => spark.range(2000).toDF("id")
      .withColumn("v", col("id") * 7 + 3).where(col("v") % 5 === 1)
    val mkB = () => spark.range(3000).toDF("id")
      .withColumn("v", col("id") * 11 + 2).where(col("v") % 3 === 0)
    try {
      // roomy budget (the auto default ≫ these tiny relations): the
      // second staging of A shares the first's relation
      val a1 = Scale.stage(mkA()); a1.count()
      assert(Scale.stage(mkA()).queryExecution.logical
        eq a1.queryExecution.logical)
      // 1-byte budget: any MATERIALIZED entry is over budget, so the
      // next stage() call sweeps it from the memo — the re-staging must
      // be a fresh relation with the same rows (eviction is a
      // memory-for-time trade, never a result change)
      val tiny = Some(1L)
      val b1 = Scale.stage(mkB(), eager = false, tiny); b1.count()
      // this call's sweep sees a1+b1 materialized and over budget
      val a2 = Scale.stage(mkA(), eager = false, tiny)
      assert(!(Scale.stage(mkA(), eager = false, tiny).queryExecution.logical
          eq a1.queryExecution.logical),
        "an evicted entry must re-stage, not serve the dropped relation")
      assert(a2.as[(Long, Long)].collect().toSet ==
        mkA().as[(Long, Long)].collect().toSet,
        "eviction must never change rows")
    } finally spark.conf.unset(Scale.MemoConf)
  }

  test("one memo: a memoArtifact whose compute stages returns, and a " +
    "repeat call hits both the artifact and the staged entry") {
    val mk = () => spark.range(300).toDF("id").withColumn("v", col("id") % 11)
    var computes = 0
    var staged: org.apache.spark.sql.DataFrame = null
    def train(): java.lang.Long = {
      computes += 1
      // the nested update reaches the same memo map mid-compute
      staged = Scale.stage(mk().where(col("v") < 4))
      java.lang.Long.valueOf(staged.count())
    }
    spark.conf.set(Scale.MemoConf, "true")
    try {
      val a = Scale.memoArtifact(mk(), "nested")(train())
      val first = staged
      assert(computes == 1)
      val b = Scale.memoArtifact(mk(), "nested")(train())
      assert(computes == 1 && (a eq b), "the artifact entry must hit")
      assert(Scale.stage(mk().where(col("v") < 4)).queryExecution.logical eq
        first.queryExecution.logical, "the staged entry must hit")
      assert(a.longValue == mk().where(col("v") < 4).count())
    } finally spark.conf.unset(Scale.MemoConf)
  }

  test("stage idempotence gates on materialization, not plan shape: a " +
    "staged relation is returned as-is; a caller-built RDD DataFrame is staged") {
    // a prior stage's output: LogicalRDD leaf backed by a persisted/
    // checkpointed RDD — re-staging must be the identity
    val staged = Scale.stage(spark.range(200).toDF("id"))
    assert(Scale.stage(staged) eq staged,
      "stage() on an already-staged relation must be a no-op")
    // a caller-built spark.createDataFrame(rdd) is ALSO a LogicalRDD
    // leaf, but nothing has materialized it — stage() must actually
    // pin it (the old plan-shape-only gate silently no-op'd here,
    // leaving a nondeterministic RDD recomputed per consumer)
    val rdd = spark.sparkContext.parallelize(1 to 100)
      .map(i => org.apache.spark.sql.Row(i.toLong))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val raw = spark.createDataFrame(rdd, schema)
    val pinned = Scale.stage(raw)
    assert(!(pinned eq raw), "an unmaterialized RDD relation must be staged")
    assert(pinned.count() == 100)
  }

  test("partitioned layout prunes partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val df = (1 to 300).map(i => (i.toLong, s"t${i % 3}", i * 1.0))
      .toDF("id", "category", "v")
    df.write.mode("overwrite").partitionBy("category").parquet(dir)
    val q = spark.read.parquet(dir).where(col("category") === "t1")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(category"),
      s"category filter must prune partitions, got:\n${plan.take(800)}")
    assert(q.count() == 100L)
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    // at 100 TB the fact table is date/category-partitioned and the dim
    // filter is only known at run time — DPP injects the dim's surviving
    // keys as a runtime partition filter on the fact scan
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val fact = (1 to 3000).map(i => (i.toLong, s"c${i % 3}", i * 1.0))
      .toDF("id", "category", "v")
    fact.write.mode("overwrite").partitionBy("category").parquet(dir)
    // the dim must be a FILE relation: over a literal LocalRelation the
    // selective filter constant-folds away before the pruning rule runs
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    Seq(("c0", 0L), ("c1", 1L), ("c2", 0L)).toDF("category", "flag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    // DPP's cost heuristic skips megabyte-scale tables; force the benefit
    // estimate so the toy fixture takes the same rewrite terabytes would
    val savedStats = spark.conf.getOption("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    val savedRatio = spark.conf.getOption("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    try {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100")
      val q = spark.read.parquet(dir)
        .join(broadcast(dim).where(col("flag") === 1L), "category")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruningexpression"),
        s"fact scan must carry a runtime pruning filter, got:\n${plan.take(1200)}")
      assert(q.count() == 1000L, "only c1's partition rows survive")
    } finally {
      savedStats.fold(spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats"))(
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", _))
      savedRatio.fold(spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio"))(
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", _))
    }
  }

  test("runtime bloom filter: a selective dim filter prunes the fact side pre-shuffle") {
    // the non-partition-column sibling of DPP: when the fact table can't
    // be pruned by partition keys, Spark builds a bloom filter from the
    // filtered dim side and applies might_contain on the fact scan —
    // at 100 TB this drops most fact rows BEFORE the join shuffle
    val factDir = java.nio.file.Files.createTempDirectory("graft-bloom-f").toString
    val dimDir = java.nio.file.Files.createTempDirectory("graft-bloom-d").toString
    (1 to 20000).map(i => (i.toLong % 100, s"payload$i"))
      .toDF("k", "payload").write.mode("overwrite").parquet(factDir)
    // the creation-side predicate must be comparison-shaped: the rule's
    // isLikelySelective heuristic accepts EqualTo(attr, lit) but not a
    // bare boolean attribute
    (0 to 99).map(i => (i.toLong, if (i % 50 == 0) "keep" else "drop"))
      .toDF("k", "sel").write.mode("overwrite").parquet(dimDir)
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      // no broadcast (a broadcast join already prunes at the join) and
      // zero size thresholds so the megabyte fixture takes the rewrite
      // the terabyte scan would
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val q = spark.read.parquet(factDir)
        .join(spark.read.parquet(dimDir).where(col("sel") === "keep"), "k")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("might_contain"),
        s"fact side must carry a bloom-filter probe, got:\n${plan.take(1500)}")
      assert(q.count() == 400L, "keys 0 and 50 keep 200 fact rows each")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    // one hot key owns ~97% of the fact bytes: the static plan puts it in
    // one shuffle partition (the classic straggler); AQE's skew-join
    // rewrite must split it at runtime. Thresholds are lowered so the
    // megabyte-scale fixture crosses them the way terabytes would in
    // production — the REWRITE under test is identical.
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // enough partitions that the MEDIAN partition is a cold one — skew
      // is judged against the median, which 2 partitions can't establish
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // incompressible payloads: skew detection sees COMPRESSED shuffle
      // sizes, so a repetitive pad would deflate below the threshold
      val rnd = new Random(3)
      val hot = (1 to 60000).map(i =>
        (0L, new String(Array.fill(48)((rnd.nextInt(94) + 33).toChar))))
      val cold = (1 to 400).map(i => (i.toLong % 8 + 1, "small"))
      val fact = (hot ++ cold).toDF("k", "payload")
      val dim = (0L until 16L).map(i => (i, s"d$i")).toDF("k", "dv")
      val joined = fact.join(dim, "k")
      // collect() (not count(): that builds a separate QueryExecution)
      // so THIS plan instance executes and AQE finalizes it
      assert(joined.collect().length == 60400)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must mark the skewed join split, got:\n${plan.take(1500)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables join without an Exchange") {
    // the warehouse dir outlives the in-memory catalog across JVM runs;
    // saveAsTable refuses an existing unmanaged location — clean both
    Seq("graft_bucket_a", "graft_bucket_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        loc.listFiles().foreach(_.delete()); loc.delete()
      }
    }
    val a = (0L until 200L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (0L until 200L).map(i => (i, i * 2)).toDF("k", "vb")
    // bucketing pre-shuffles once at write time, so a join on k reads
    // both sides already co-partitioned
    for ((df, t) <- Seq(a -> "graft_bucket_a", b -> "graft_bucket_b"))
      df.write.mode("overwrite").bucketBy(4, "k").sortBy("k")
        .format("parquet").saveAsTable(t)
    val joined = spark.table("graft_bucket_a")
      .join(spark.table("graft_bucket_b"), "k")
    // disable broadcast so the join would NEED a shuffle if not bucketed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be exchange-free, got:\n$plan")
      assert(joined.count() == 200L)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("cell-index lifecycle: the stored bucketed index probe shuffles " +
    "only the delta side") {
    import graft.operators.Knn
    // the x_semdedup_incremental production claim made concrete: write
    // the ivfAssign index bucketed by cell, read it back, probe — the
    // index side must join with NO Exchange of its own (its bucketing IS
    // the partitioning), so ingest shuffles |delta| rows, never the base
    spark.sql("DROP TABLE IF EXISTS graft_cell_index")
    val loc = new java.io.File("spark-warehouse/graft_cell_index")
    if (loc.exists()) { loc.listFiles().foreach(_.delete()); loc.delete() }
    def v(i: Long) = Array.tabulate(4)(d => ((i % 4) * 10 + d + 1).toFloat)
    val base = (0L until 64L).map(i => (i, v(i))).toDF("vec_id", "embedding")
    val cents = (0L until 4L).map(i => (i, v(i))).toDF("cent_id", "cvec")
    Knn.ivfAssign(base, cents, 4).write.mode("overwrite")
      .bucketBy(4, "cell").sortBy("cell").format("parquet")
      .saveAsTable("graft_cell_index")
    val stored = spark.table("graft_cell_index")
    val delta = (100L until 110L).map(i => (i, v(i))).toDF("vec_id", "embedding")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probed = Knn.probeCellIndex(delta, stored, cents, 4,
        tau = 0.9, nprobe = 1, cellCap = 1000)
      probed.collect()
      val plan = probed.queryExecution.executedPlan.toString
      // the stored index must reach the join straight off its bucketed
      // scan: all 4 buckets selected, and NO Exchange anywhere on the
      // index side — identified precisely by the scan's own `cell`
      // attribute id (the probe side's renamed cell attr is a different
      // id, so its legitimate delta-side shuffles don't match)
      assert(plan.contains("Bucketed: true"),
        s"index scan must use its bucketing:\n$plan")
      assert(plan.contains("SelectedBucketsCount: 4 out of 4"), plan)
      val cellAttr = """graft_cell_index\[[^\]]*?cell#(\d+)""".r
        .findFirstMatchIn(plan).map(_.group(1))
        .getOrElse(fail(s"no index scan in plan:\n$plan"))
      assert(!plan.contains(s"Exchange hashpartitioning(cell#$cellAttr"),
        s"stored index must NOT re-shuffle (bucketing is its partitioning):\n$plan")
      assert(probed.columns.toSeq ==
        Seq("vec_id", "n_base_matches", "first_match"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("exact KNN broadcasts only the bounded probe side; candidates partial-aggregate") {
    // the 100× criterion for the exact tier: the candidate table must
    // NEVER be the broadcast build side (at scale it exceeds the
    // broadcast limit outright) — probes are the bounded side, and the
    // per-probe top-k must partial-aggregate map-side so the shuffle
    // carries |probes|·k rows, not |probes|·|candidates|
    // range-backed (not a LocalRelation) so the probe filter survives
    // as a visible Filter node instead of constant-folding into the scan
    val vecs = spark.range(50).select(col("id").as("vec_id"),
      array(col("id").cast("float"), lit(1.0f)).as("embedding"))
    val q = graft.operators.Knn.bruteForceTopK(
      vecs.where(col("vec_id") < 5), vecs, 2, 3)
    val plan = q.queryExecution.executedPlan.toString
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastExchange"))
    assert(broadcasts == 1, s"expected exactly one broadcast, got:\n$plan")
    // the broadcast build side is the probe-filtered branch: the probe
    // bound must appear as a pushed/planned filter, and the join must
    // build right (the broadcast(p) side)
    assert(plan.contains("BuildRight"), s"probe side must be the build side:\n$plan")
    assert(plan.contains("vec_id#") && plan.contains("< 5"),
      s"probe bound must survive into the plan:\n$plan")
    // partial top-k before the exchange: a partial-mode object hash
    // aggregate of the typed top-k UDAF
    assert(plan.contains("ObjectHashAggregate") &&
      plan.toLowerCase.contains("partial_topkbyscore"),
      s"per-partition partial top-k missing:\n$plan")
    // exact result sanity on the small fixture
    assert(q.where(col("rank") === 1).count() == 5L)
  }

  test("IVF-PQ search streams the corpus-sized code table, broadcasts only bounded sides") {
    val q = graft.queries.PipelineQueries.xIvfpq(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in IVF-PQ plan:\n$plan")
    // every join is a broadcast hash join whose BUILD side is one of the
    // bounded relations (probe cells, ADC table, centroids, pair list) —
    // the corpus-sized code/assignment relations must only ever stream;
    // a sort-merge join would mean a corpus-side shuffle for the search
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-sized relation shuffled into a join:\n$plan")
    assert(q.count() == 5L)   // vec_id % 100 == 0 over 500 vectors at sf0.001
  }

  test("vocab-coverage top-k fuses into TakeOrderedAndProject, no full-vocab window sort") {
    val q = graft.queries.PipelineQueries.xVocabCoverage(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must plan as a partial top-k, got:\n$plan")
    assert(q.count() == 20L)
  }

  test("x_dupgrams is join-free: windows and aggregates only") {
    val q = graft.queries.PipelineQueries.xDupgrams(spark, "/root/testdata/sf0.001",
      skewSafe = false)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"join in x_dupgrams plan:\n$plan")
    assert(q.count() > 0)
  }

  test("index knobs scale: IVF_K=64, PQ_CODE_K=256, LSH L=8 keep their plan shapes") {
    // the fixture constants (IVF_K=16, PQ_CODE_K=16, LSH_TABLES=4) are
    // bindings of parameterized operators; the growth rules (IVF k ~ √n,
    // PQ codeK -> 256 = 1-byte codes, LSH L = recall lever) must change
    // plan SIZE, never plan SHAPE — same broadcasts, same single
    // exchanges, nothing quadratic
    val dim = 64
    val vecs = spark.range(500).select(col("id").as("vec_id"),
      array((0 until dim).map(d =>
        ((col("id") * (d + 3) + d) % 97).cast("float")): _*).as("embedding"))

    // IVF at k=64: the cell self-join runs over ONE assignment exchange
    // — AQE materializes the second side as a ReusedExchange of the
    // REPARTITION_BY_COL stage (visible only in the executed final
    // plan, so collect() THIS DataFrame first)
    val cents64 = vecs.where(col("vec_id") < 64)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val ivf = graft.operators.Knn.ivfTopK(vecs, cents64, dim, 1)
    assert(ivf.collect().length == 500)
    val ivfPlan = ivf.queryExecution.executedPlan.toString
    assert(ivfPlan.linesIterator.exists(l =>
      l.contains("ReusedExchange") && l.contains("REPARTITION_BY_COL")),
      s"the second cell-join side must reuse the assignment exchange:\n$ivfPlan")
    assert(!ivfPlan.contains("CartesianProduct"),
      s"IVF k=64 fell back to a cartesian:\n$ivfPlan")

    // PQ at codeK=256 (1-byte codes): still ONE codebook broadcast +
    // the per-(vec, subspace) argmin aggregate; codes stay < 256
    val pq = graft.operators.Pq.encode(vecs,
      graft.operators.Pq.codebook(vecs, 256, 8, dim), 8, dim)
    val rows = pq.collect()
    assert(rows.length == 500 * 8 &&
      rows.forall { r => val c = r.getLong(2); c >= 0 && c < 256 })
    val pqPlan = pq.queryExecution.executedPlan.toString
    assert(pqPlan.contains("BroadcastExchange") && !pqPlan.contains("ReusedExchange"),
      s"PQ codeK=256 must stay one codebook broadcast:\n$pqPlan")
    assert(!pqPlan.contains("SortMergeJoin") && !pqPlan.contains("CartesianProduct"),
      s"PQ codeK=256 changed join strategy:\n$pqPlan")

    // LSH at L=8 tables: still the ids-only bucket equi-join, no
    // quadratic fallback
    val tables8 = graft.functions.Vectors.signPlaneTables(8, 6, dim)
    val lsh = graft.operators.Knn.lshTopK(vecs, tables8, dim, k = 1, bucketCap = 64)
    val lshPlan = lsh.queryExecution.executedPlan.toString
    assert(!lshPlan.contains("CartesianProduct"),
      s"LSH L=8 fell back to a cartesian:\n$lshPlan")
    assert(lsh.count() > 0)
  }

  test("cellPairs caps a planted hot cell; vacuous cap equals the full pair set") {
    import graft.operators.{Dedup, Knn}
    import graft.functions.Vectors
    // planted hot cell: 40 near-identical embeddings all landing in ONE
    // cell — the mass-duplicate case that defeats the √n codebook rule
    val n = 40
    val vecs = (0 until n).map(i => (i.toLong, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val assigned = vecs.select(lit(0L).as("cell"), col("vec_id"),
      col("embedding"), Vectors.norm(col("embedding"), 4).as("nrm"))
    val cap = 4
    val capped = Knn.cellPairs(assigned, tau = 0.3, cellCap = cap)
    val cappedPairs = capped.as[(Long, Long)].collect().toSet
    // pair volume bounded: C(cap,2) within the sample + cap·(n−cap)
    // sample↔rest — never the C(n,2) pair matrix
    assert(cappedPairs.size == cap * (cap - 1) / 2 + cap * (n - cap),
      s"expected bounded pair count, got ${cappedPairs.size}")
    assert(cappedPairs.forall { case (a, b) => a < b }, "pairs must be canonical")
    // hub connectivity: the capped hubs keep the whole dup mass ONE
    // component — the recall trade loses only sample-external pairs,
    // never the cluster
    val labels = Dedup.dupClusters(vecs.select(col("vec_id").as("doc_id")),
        capped.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect()
    assert(labels.forall(_._2 == 0L), "hot cell must stay one cluster under the cap")
    // cap ≥ cell size ⇒ the cap is vacuous: output == full pair matrix
    val full = Knn.cellPairs(assigned, tau = 0.3, cellCap = n)
      .as[(Long, Long)].collect().toSet
    assert(full.size == n * (n - 1) / 2)
    assert(cappedPairs.subsetOf(full))
    // one cell exchange serves both join sides
    val reuse = Knn.cellPairs(assigned, tau = 0.3, cellCap = cap)
    reuse.collect()
    assert(reuse.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "both pair sides must reuse the one cell exchange")
  }

  test("cellPairsProbed recovers a boundary-split near-dup pair at nprobe=2") {
    import graft.operators.Knn
    // two orthogonal cells; a/b are a near-dup pair (10° apart) that the
    // codebook boundary at 45° SPLITS — the one structural miss of
    // home-cell-only pair generation; c/d are a same-home near-dup pair
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f, 0.0f)
    }
    val vecs = Seq((0L, v(40)), (1L, v(50)), (2L, v(0)), (3L, v(2)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
        (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("cent_id", "cvec")
    def pairs(nprobe: Int) =
      Knn.cellPairsProbed(vecs, cents, dim = 4, tau = 0.9, nprobe, cellCap = 100)
        .as[(Long, Long)].collect().toSet
    val p1 = pairs(1)
    assert(p1.contains((2L, 3L)), s"same-home pair must survive nprobe=1: $p1")
    assert(!p1.contains((0L, 1L)),
      s"the boundary-split pair is the documented nprobe=1 miss: $p1")
    val p2 = pairs(2)
    assert(p2.contains((0L, 1L)), s"nprobe=2 must recover the split pair: $p2")
    // probing can only ADD pairs (every home pair is also a probed pair)
    assert(p1.subsetOf(p2), s"nprobe=2 lost pairs: ${p1 -- p2}")
    assert(p2.forall { case (a, b) => a < b }, "pairs must be canonical")
    val q = Knn.cellPairsProbed(vecs, cents, 4, 0.9, 2, 100)
    q.collect()
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "probed pair join must stay an equi-join on cell")
  }

  test("probeCellIndex: delta probes the stored index — nprobe recall, " +
    "cap bound, base never self-paired") {
    import graft.operators.Knn
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f, 0.0f)
    }
    // base corpus: two near-identical docs in cell 0 (0°/2°) and one in
    // cell 1 (88°); delta: vec 10 near the cell-0 mass, vec 11 at 50° —
    // home cell 1 but its true near-dup (vec 2 at 40°... in base) sits
    // across the 45° boundary in cell 0
    val base = Seq((0L, v(0)), (1L, v(2)), (2L, v(40)), (3L, v(88)))
      .toDF("vec_id", "embedding")
    val delta = Seq((10L, v(1)), (11L, v(50))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
        (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("cent_id", "cvec")
    val index = Knn.ivfAssign(base, cents, 4)
    val m1 = Knn.probeCellIndex(delta, index, cents, 4, 0.9, 1, 100)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // vec 10 matches both cell-0 base docs; vec 11's only near-dup is
    // boundary-split — invisible at nprobe=1
    assert(m1(10L) == ((2L, 0L)), s"delta 10 must match base 0 and 1: $m1")
    assert(!m1.contains(11L), s"boundary-split match needs nprobe=2: $m1")
    val m2 = Knn.probeCellIndex(delta, index, cents, 4, 0.9, 2, 100)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m2(11L) == ((1L, 2L)), s"nprobe=2 must recover the split match: $m2")
    assert(m2(10L) == m1(10L), "probing only adds matches")
    // the cap bounds per-cell candidates: cap=1 keeps ≤1 base doc per cell
    val capped = Knn.probeCellIndex(delta, index, cents, 4, 0.9, 2, 1)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(capped.values.forall(_ <= 1), s"cellCap=1 must bound matches: $capped")
    // base ids never appear as probes: the base corpus is not re-paired
    assert(!m2.keySet.exists(Set(0L, 1L, 2L, 3L)), s"base leaked into probes: $m2")
  }

  test("x_curate_incremental: both gate anti-joins broadcast bounded id " +
    "lists, the index probe stays an equi-join, no cartesian") {
    val q = graft.queries.PipelineQueries
      .xCurateIncremental(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"non-equi join leaked:\n$plan")
    // decontam and dup removal are LEFT ANTI against BROADCAST id lists
    // (bounded by the gates) — a shuffled anti-join would move every
    // text-bearing delta row instead
    val antiBroadcasts = plan.linesIterator
      .count(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
    assert(antiBroadcasts >= 2,
      s"expected >=2 broadcast anti-joins (contam, dup), got $antiBroadcasts:\n$plan")
    assert(q.count() > 0, "the ingest path must keep some delta chunks")
  }

  test("simhash verifier is integer-only: bit_count/xor, no string HOF per pair") {
    val q = graft.queries.PipelineQueries.xSimhashPairs(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    // split(text) appears once as the per-ROW tokenizer feeding the
    // signature; the per-PAIR verifier must be integer bit_count/xor only
    assert(!plan.contains("zip_with"),
      s"per-pair string HOF in the simhash plan:\n$plan")
    assert(plan.contains("bit_count"), s"expected bit_count Hamming, got:\n$plan")
    assert(q.count() > 0)
  }
}
