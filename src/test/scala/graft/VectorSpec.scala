package graft

import graft.expressions.{BqSign64, FloatDot, Sq8Error}
import graft.functions.Vectors
import graft.operators.{Knn, Multimodal}
import org.apache.spark.sql.functions._

class VectorSpec extends SparkSpec {
  import spark.implicits._

  test("cosine of known vectors") {
    val df = Seq((Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
                 (Array(1.0f, 1.0f, 0.0f), Array(1.0f, 1.0f, 0.0f)))
      .toDF("a", "b")
    val sims = df.select(Vectors.cosine(col("a"), col("b"), 3)).as[Double].collect()
    assert(math.abs(sims(0)) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
  }

  test("brute-force KNN finds the planted nearest neighbor first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.14f)),   // 1 ≈ 0
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Knn.bruteForceTopK(vecs.where(col("vec_id") === 0), vecs, 2, 1)
      .select("cand_id").as[Long].head()
    assert(top == 1L)
  }

  test("LSH recall is 1.0 on planted twins: identical vectors share every bucket") {
    // each vector has an exact duplicate — identical signs in every LSH
    // table, so the LSH tier must find the same top-1 the exact tier does
    val base = Seq(
      Array(1.0f, 2.0f, -3.0f, 4.0f), Array(-2.0f, 1.0f, 0.5f, -1.0f),
      Array(0.1f, -0.2f, 0.3f, 0.4f))
    val vecs = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((i * 2L, v), (i * 2L + 1L, v))
    }.toDF("vec_id", "embedding")
    val tables = Vectors.signPlaneTables(2, 3, 4)
    val lsh = Knn.lshTopK(vecs, tables, 4, k = 1, bucketCap = 16)
      .select(col("probe_id"), col("cand_id").as("lsh_cand"))
    val exact = Knn.bruteForceTopK(vecs, vecs, 4, 1)
      .select(col("probe_id"), col("cand_id").as("exact_cand"))
    val joined = exact.join(lsh, Seq("probe_id"), "left")
      .as[(Long, Long, Option[Long])].collect()
    assert(joined.length == 6)
    assert(joined.forall { case (p, e, l) => l.contains(e) },
      s"every probe's twin must be found by both tiers: ${joined.toSeq}")
  }

  test("LSH buckets: identical vectors collide, opposite vectors do not") {
    val planes = Vectors.signPlanes(8, 4)
    val df = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Array(-1.0f, -2.0f, -3.0f, -4.0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), Vectors.lshBucket(col("embedding"), planes, 4).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(df(0L) == df(1L))
    assert(df(0L) != df(2L), "antipodal vectors flip every sign bit")
  }

  test("multi-table LSH finds the planted near pair; bucket cap bounds candidates") {
    // 4 near-identical vectors + noise: the pair must collide in at least
    // one of the L tables (that's the multi-table recall argument)
    val rnd = new scala.util.Random(7)
    val noise = (10L until 40L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val vecs = (Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f, 7.0f, 8.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f, 7.0f, 8.1f))) ++ noise)
      .toDF("vec_id", "embedding")
    val tables = Vectors.signPlaneTables(nTables = 4, nPlanes = 4, dim = 8)
    val top = Knn.lshTopK(vecs, tables, dim = 8, k = 1, bucketCap = 64)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toMap
    assert(top(0L) == 1L && top(1L) == 0L,
      s"near-identical pair must be mutual top-1, got $top")
    // bucketCap = 1: each (table, bucket) keeps ONE candidate — probe 0
    // (lowest id in its buckets) can never be its own candidate, so the
    // candidate sets shrink but the join still returns rows
    val capped = Knn.lshTopK(vecs, tables, dim = 8, k = 10, bucketCap = 1)
      .groupBy("probe_id").count().as[(Long, Long)].collect().toMap
    assert(capped.values.forall(_ <= 4L),
      s"with cap 1, each probe sees at most one candidate per table, got $capped")
  }

  test("IVF assigns every vector to its nearest centroid and finds in-cell neighbors") {
    // two well-separated clusters around the two centroid vectors
    val vecs = Seq(
      (0L, Array(10.0f, 0.0f)), (1L, Array(0.0f, 10.0f)),       // centroids
      (2L, Array(9.0f, 1.0f)), (3L, Array(8.0f, 0.5f)),          // cluster of 0
      (4L, Array(1.0f, 9.0f)), (5L, Array(0.5f, 8.0f)))          // cluster of 1
      .toDF("vec_id", "embedding")
    val cents = vecs.where(col("vec_id") < 2)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val cells = Knn.ivfAssign(vecs, cents, 2)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(cells == Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L))
    val top = Knn.ivfTopK(vecs, cents, 2, 1)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toMap
    // neighbors come from the OWN cluster only (nprobe=1 searches one cell)
    assert(Set(0L, 2L, 3L).contains(top(2L)) && top(2L) != 2L)
    assert(Set(1L, 4L, 5L).contains(top(4L)) && top(4L) != 4L)
  }

  test("ivfSearch: bounded probes search nprobe cells, corpus streams against broadcast probe cells") {
    val vecs = Seq(
      (0L, Array(10.0f, 0.0f)), (1L, Array(0.0f, 10.0f)),       // centroids
      (2L, Array(9.0f, 1.0f)), (3L, Array(8.0f, 0.5f)),          // cluster of 0
      (4L, Array(1.0f, 9.0f)), (5L, Array(0.5f, 8.0f)))          // cluster of 1
      .toDF("vec_id", "embedding")
    val cents = vecs.where(col("vec_id") < 2)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val probes = vecs.where(col("vec_id").isin(2L, 4L))
    val out = Knn.ivfSearch(probes, vecs, cents, 2, 1, 1)
    // ONLY the bounded probe set emits, from its own cell at nprobe=1
    val top = out.select("probe_id", "cand_id").as[(Long, Long)].collect().toMap
    assert(top.keySet == Set(2L, 4L))
    assert(Set(0L, 3L).contains(top(2L)))
    assert(Set(1L, 5L).contains(top(4L)))
    // nprobe covering every cell degenerates to exact brute force
    val all = Knn.ivfSearch(probes, vecs, cents, 2, 1, 2)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toMap
    val exact = Knn.bruteForceTopK(probes, vecs, 2, 1)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toMap
    assert(all == exact)
    // plan: probe-cell table broadcasts; the corpus side never does
    // (no corpus-sized broadcast, no cartesian, no sort-merge shuffle)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("hardNegatives: best different-label candidate; same-label never surfaces") {
    val vecs = Seq(
      (0L, 0, Array(10.0f, 0.0f)),
      (1L, 0, Array(9.9f, 0.1f)),    // nearest overall but same label — excluded
      (2L, 1, Array(8.0f, 2.0f)),    // best different-label candidate
      (3L, 1, Array(0.0f, 10.0f)))   // different label, dissimilar
      .toDF("vec_id", "label", "embedding")
    val out = Knn.hardNegatives(vecs.where(col("vec_id") === 0), vecs, 2)
    assert(out.select("probe_id", "cand_id").as[(Long, Long)].collect().toMap
      == Map(0L -> 2L))
    // probes broadcast, corpus streams — no shuffle join, no cartesian
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("kmeansRefine moves centroids to quantized cluster means; empty cells retained") {
    // two tight clusters; seeds are one member of each + one far-off seed
    // that attracts nothing (the empty-cell retention path)
    val vecs = Seq(
      (0L, Array(10.0f, 0.0f)), (1L, Array(0.0f, 10.0f)),
      (2L, Array(12.0f, 0.0f)), (3L, Array(14.0f, 0.0f)),
      (4L, Array(0.0f, 12.0f)), (5L, Array(0.0f, 14.0f)))
      .toDF("vec_id", "embedding")
    val seeds = Seq(
      (0L, Array(10.0f, 0.0f)), (1L, Array(0.0f, 10.0f)),
      (9L, Array(-100.0f, -100.0f)))                 // attracts nothing
      .toDF("cent_id", "cvec")
    val refined = Knn.kmeansRefine(vecs, seeds, 2)
      .as[(Long, Seq[Double])].collect().toMap
    assert(refined.keySet == Set(0L, 1L, 9L), "every seed survives")
    // cell 0 = {0,2,3} → mean (12, 0); cell 1 = {1,4,5} → mean (0, 12)
    assert(math.abs(refined(0L).head - 12.0) < 1e-6 && math.abs(refined(0L)(1)) < 1e-6,
      s"cell 0 mean, got ${refined(0L)}")
    assert(math.abs(refined(1L)(1) - 12.0) < 1e-6 && math.abs(refined(1L).head) < 1e-6,
      s"cell 1 mean, got ${refined(1L)}")
    assert(refined(9L) == Seq(-100.0, -100.0), "empty cell keeps its previous centroid")
  }

  test("TopKByScore is merge-order independent (random partitionings and merge trees)") {
    // partial aggregation only works if any partition split and any
    // merge-tree shape yield the same buffer — the property the shuffle
    // relies on at scale, checked against a global sort-take-k
    val agg = graft.functions.TopKByScore(3)
    val rnd = new scala.util.Random(53)
    (0 until 30).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      // duplicate scores on purpose: ties must break by id everywhere
      val rows = (0 until n).map(i => (i.toLong, rnd.nextInt(8).toDouble))
      val expected = rows.sortBy { case (id, s) => (-s, id) }.take(3)
      // random partitioning → per-partition reduce → random-order merge
      val parts = rows.groupBy(_ => rnd.nextInt(4)).values.toSeq
      val buffers = parts.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = rnd.shuffle(buffers).foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged) == expected,
        s"rows=$rows parts=$parts got=${agg.finish(merged)} want=$expected")
    }
  }

  test("bruteForceTopK keeps a zero-norm probe: k rows with NULL sims, not a vanish") {
    // a zero embedding divides by zero → NULL sims; the probe must still
    // rank its k candidates (NULLS LAST order = cand_id ties) so recall
    // denominators built on the exact tier can't silently shrink
    val vecs = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
        (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Knn.bruteForceTopK(vecs.where(col("vec_id") === 0), vecs, 2, 2)
      .orderBy("rank").collect()
    assert(out.length == 2, "zero-norm probe must not vanish")
    assert(out.forall(_.isNullAt(out.head.fieldIndex("sim"))))
    assert(out.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("cand_id"))).toSeq ==
      Seq((1, 1L), (2, 2L)))
  }

  test("kmeansTrain converges early on separated clusters and is a fixed point") {
    // two tight direction clusters around (1,0) and (0,1); seeds one per
    // cluster — Lloyd stabilizes in a couple of rounds, well under the cap
    val vecs = (0 until 20).map { i =>
      val t = 0.02f * (i / 2)
      (i.toLong, if (i % 2 == 0) Array(1.0f, t) else Array(t, 1.0f))
    }.toDF("vec_id", "embedding")
    val seed = vecs.where(col("vec_id") < 2)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val (trained, rounds) = Knn.kmeansTrain(vecs, seed, 2, 10)
    assert(rounds < 10, s"expected early convergence, ran $rounds rounds")
    val t1 = trained.as[(Long, Seq[Double])].collect().toMap
    // converged ⇒ one more refinement is exactly a no-op (quantized
    // means make the fixed point bit-exact, not approximate)
    val again = Knn.kmeansRefine(vecs, trained, 2)
      .as[(Long, Seq[Double])].collect().toMap
    assert(again == t1, "a converged codebook must be a fixed point")
    // each trained centroid leans toward its cluster's axis
    assert(t1(0L).head > t1(0L)(1) && t1(1L)(1) > t1(1L).head)
  }

  test("coreset medoid: per cell, the vector most cosine-aligned with its trained centroid wins") {
    import org.apache.spark.sql.functions.{broadcast, expr, max_by, struct}
    val data = (0 until 20).map { i =>
      val t = 0.02f * (i / 2)
      (i.toLong, if (i % 2 == 0) Array(1.0f, t) else Array(t, 1.0f))
    }
    val vecs = data.toDF("vec_id", "embedding")
    val seed = vecs.where(col("vec_id") < 2)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val (trained, _) = Knn.kmeansTrain(vecs, seed, 2, 10)
    val cents = trained.as[(Long, Seq[Double])].collect().toMap
    // the x_coreset shape: assignment, broadcast centroid join, max_by
    val cent = broadcast(trained.select(col("cent_id").as("cell"),
      col("cvec"), graft.functions.Vectors.norm(col("cvec"), 2).as("cnrm")))
    val got = Knn.ivfAssign(vecs, trained, 2)
      .join(cent, "cell")
      .withColumn("csim", Vectors.cosineByNorms("embedding", "cvec", "nrm", "cnrm"))
      .groupBy("cell")
      .agg(max_by(struct(col("vec_id"), col("csim")),
        struct(col("csim"), -col("vec_id"))).as("m"))
      .select(col("cell"), col("m.vec_id"))
      .as[(Long, Long)].collect().toMap
    // Scala twin: nearest centroid per vector, then per-cell argmax
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val assigned = data.map { case (id, arr) =>
      val v = arr.map(_.toDouble).toSeq
      val cell = cents.toSeq.map { case (c, cv) => (c, cos(v, cv)) }
        .maxBy { case (c, s) => (s, -c) }._1
      (id, cell, cos(v, cents(cell)))
    }
    val expected = assigned.groupBy(_._2).map { case (cell, vs) =>
      cell -> vs.maxBy { case (id, _, s) => (s, -id) }._1
    }
    assert(got == expected, s"got $got expected $expected")
    assert(got.size == 2 && got.values.toSet.size == 2,
      "two cells, two distinct medoids")
  }

  test("kmeansTrain codebook memo: opt-in repeat calls share one artifact, different inputs do not") {
    val vecs = (0 until 20).map { i =>
      val t = 0.02f * (i / 2)
      (i.toLong, if (i % 2 == 0) Array(1.0f, t) else Array(t, 1.0f))
    }.toDF("vec_id", "embedding")
    val seed = () => vecs.where(col("vec_id") < 2)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    // default OFF: every call trains (the stage memo underneath is
    // likewise off; general sessions may rewrite sources mid-run)
    val off1 = Knn.kmeansTrain(vecs, seed(), 2, 3)._1
    val off2 = Knn.kmeansTrain(vecs, seed(), 2, 3)._1
    assert(!(off1.queryExecution.logical eq off2.queryExecution.logical),
      "codebook memo must be opt-in")
    spark.conf.set(graft.operators.Scale.MemoConf, "true")
    try {
      val a = Knn.kmeansTrain(vecs, seed(), 2, 3)
      val b = Knn.kmeansTrain(vecs, seed(), 2, 3)
      assert(a._1.queryExecution.logical eq b._1.queryExecution.logical,
        "identical (vectors, seed, dim, rounds) must share the trained codebook")
      assert(a._2 == b._2)
      // a different corpus (the incremental query's base-only training)
      // must NOT hit the full-corpus entry
      val c = Knn.kmeansTrain(vecs.where(col("vec_id") % 4 =!= 0), seed(), 2, 3)
      assert(!(c._1.queryExecution.logical eq a._1.queryExecution.logical),
        "different training inputs must not share a codebook")
      // ...nor may a round cap that changes the RESULT. (maxRounds=2
      // would legitimately share here: this fixture converges at round
      // 2, so the 3-round call's final relation IS the round-2 staged
      // lineage, and the round-level stage memo returns the same object
      // for the identical chain prefix — that sharing became reachable
      // in round 16 when memo keys learned to equate typed-UDAF plans.)
      val d = Knn.kmeansTrain(vecs, seed(), 2, 1)
      assert(d._2 == 1)
      assert(!(d._1.queryExecution.logical eq a._1.queryExecution.logical),
        "a round cap that stops training early must not share the " +
          "converged codebook")
    } finally spark.conf.unset(graft.operators.Scale.MemoConf)
  }

  test("multimodal frame sampling: every stride-th fixed-size chunk, indexed") {
    val docs = Seq((1L, "abcdefghij")).toDF("doc_id", "text")  // 10 bytes
    val frames = Multimodal.frameSample(Multimodal.packetize(docs, "video/fake"),
        frameBytes = 2, stride = 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2, 4), "frames 0,2,4 of 5")
    assert(frames.forall(_.frame_bytes.length == 2))
    assert(new String(frames.head.frame_bytes) == "ab")
  }

  test("multimodal byteFeatures: per-doc bin counts sum to the payload bytes") {
    val docs = Seq((1L, "abc"), (2L, "abcd")).toDF("doc_id", "text")
    val feats = Multimodal.byteFeatures(Multimodal.packetize(docs, "x"), 16)
    assert(feats.groupBy("doc_id").agg(sum("n")).as[(Long, Long)].collect().toMap
      == Map(1L -> 3L, 2L -> 4L))
  }

  test("PQ: codebook vectors encode to themselves with zero error") {
    val out = graft.queries.PipelineQueries.xPq(spark, "/root/testdata/sf0.001")
      .where(col("vec_id") < graft.queries.PipelineQueries.PQ_CODE_K)
      .collect()
    assert(out.length == graft.queries.PipelineQueries.PQ_CODE_K)
    out.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      (0 until graft.queries.PipelineQueries.PQ_M).foreach { j =>
        assert(r.getAs[Long](s"code$j") == id,
          s"codeword $id subspace $j must be its own nearest codeword")
      }
      assert(r.getAs[Double]("recon_err") == 0.0)
    }
  }

  test("PQ ADC recall: one row per probe, self excluded, hit is 0/1") {
    val out = graft.queries.PipelineQueries
      .xPqRecall(spark, "/root/testdata/sf0.001").collect()
    val nProbes = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .where(col("vec_id") % 100 === 0).count()
    assert(out.length == nProbes)
    out.foreach { r =>
      assert(r.getAs[Long]("pq_nn") != r.getAs[Long]("probe_id"))
      assert(r.getAs[Long]("exact_nn") != r.getAs[Long]("probe_id"))
      assert(Set(0L, 1L).contains(r.getAs[Long]("hit")))
    }
  }

  test("source mixture shares sum to 1 over the whole corpus") {
    val total = graft.queries.PipelineQueries
      .xSourceMix(spark, "/root/testdata/sf0.001")
      .agg(sum("token_share")).as[Double].head()
    // each cell rounds to 4 decimals → the sum drifts at most n_cells/2e4
    assert(math.abs(total - 1.0) < 0.01, s"shares must sum to ~1, got $total")
  }

  test("Sq8Error native equals the declarative quantize-dequantize HOF") {
    val dim = 8
    val rnd = new scala.util.Random(59)
    val vecs = (0L until 40L).map(id =>
      (id, Array.fill(dim)(rnd.nextFloat() * 4 - 2))) :+
      // a constant dimension (span 0) must quantize to code 0, error 0
      (40L, Array.fill(dim)(0.5f))
    val df = vecs.toDF("vec_id", "embedding")
    val dims = df.select(posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("d").agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
    val scales = broadcast(dims.agg(
      transform(array_sort(collect_list(struct(col("d"), col("mn")))), p => p("mn")).as("mn"),
      transform(array_sort(collect_list(struct(col("d"), col("mx")))), p => p("mx")).as("mx")))
    val hofTerms = transform(sequence(lit(0), lit(dim - 1)), i => {
      val x = element_at(col("embedding"), i + 1).cast("double")
      val mn = element_at(col("mn"), i + 1)
      val mx = element_at(col("mx"), i + 1)
      val span = mx - mn
      val q = when(span === 0, lit(0.0)).otherwise(round(((x - mn) / span) * 255))
      val deq = mn + (q * span) / 255.0
      (x - deq) * (x - deq)
    })
    val joined = df.crossJoin(scales)
    val native = joined.select(col("vec_id"),
        Sq8Error.call(col("embedding"), col("mn"), col("mx")).as("e"))
      .as[(Long, Double)].collect().toMap
    val hof = joined.select(col("vec_id"),
        aggregate(hofTerms, lit(0.0), (a, t) => a + t).as("e"))
      .as[(Long, Double)].collect().toMap
    assert(native == hof, "bit-exact against the declarative twin")
    // max per-dim error of uniform 8-bit quantization is (span/255)/2
    // per component -> mse bounded by (span_max/510)^2 * dim... loose
    // sanity: errors are tiny and non-negative
    assert(native.values.forall(e => e >= 0.0 && e < 1e-3))
  }

  test("Sq8Error saturates out-of-range components and rejects scale mismatch") {
    // scales trained on [0, 1]; the serving vector leaves the range on
    // both sides — codes must clamp to 0/255, so the error equals the
    // squared distance to the range edge (deq = mn or mx exactly)
    val df = Seq((1L, Array(-0.5f, 1.5f)))
      .toDF("vec_id", "embedding")
      .withColumn("mn", array(lit(0.0), lit(0.0)))
      .withColumn("mx", array(lit(1.0), lit(1.0)))
    val e = df.select(Sq8Error.call(col("embedding"), col("mn"), col("mx")))
      .as[Double].head()
    assert(math.abs(e - (0.25 + 0.25)) < 1e-12,
      s"clamped codes reconstruct the range edges, got $e")
    // a 1-dim scale table against a 2-dim vector is a caller bug
    val bad = df.withColumn("mn", array(lit(0.0)))
    val thrown = intercept[Exception] {
      bad.select(Sq8Error.call(col("embedding"), col("mn"), col("mx"))).collect()
    }
    assert(thrown.getMessage != null)
  }

  test("BqSign64: MSB-first sign bits; zeros/NaN clear; short arrays pad; " +
    "hamming tracks angle") {
    def sig(a: Array[Float]): Long =
      Seq(Tuple1(a)).toDF("embedding")
        .select(BqSign64.call(col("embedding"))).as[Long].head()
    // dim 0 -> bit 63: a single positive first component is Long.MIN
    assert(sig(Array(1.0f)) == Long.MinValue)
    assert(sig(Array(-1.0f)) == 0L)
    // strictly positive sets the bit; zero and NaN leave it clear
    assert(sig(Array(0.0f, Float.NaN, 2.0f)) == (1L << 61))
    // a 64-dim all-positive vector is all ones = -1
    assert(sig(Array.fill(64)(0.5f)) == -1L)
    // hamming between signatures counts sign flips = quadrant boundary
    // crossings, the angular proxy BQ search ranks by
    val a = sig(Array(1f, 1f, 1f, 1f))
    val b = sig(Array(1f, -1f, 1f, -1f))
    assert(java.lang.Long.bitCount(a ^ b) == 2)
  }

  test("MMR re-ranking diversifies: the near-dup of pick 1 is demoted") {
    // probe at (1,0); candidates: two near-identical vectors very close
    // to the probe, and one moderately-similar but DIFFERENT direction.
    // Pure top-3 ranks the twins 1-2; MMR at lambda=0.5 must pick the
    // diverse candidate second (the twin's sim-to-selected ~1.0 kills
    // its margin).
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),            // probe
      (1L, Array(0.99f, 0.10f, 0.0f)),          // near the probe
      (2L, Array(0.99f, 0.11f, 0.0f)),          // near-dup of 1
      (3L, Array(0.70f, 0.0f, 0.70f)),          // diverse, still relevant
      (4L, Array(-1.0f, 0.0f, 0.0f)))           // anti-relevant
      .toDF("vec_id", "embedding")
    val out = Knn.mmrRerank(vecs.where(col("vec_id") === 0), vecs, 3,
        pool = 4, k = 3, lam = 0.5)
      .select("pick", "cand_id").as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L, "pick 1 is pure relevance")
    assert(out(2L) == 3L, "pick 2 is the diverse candidate, not the near-dup")
    assert(out(3L) == 2L, "the near-dup lands third")
    // determinism: ties and ordering are stable across runs
    val again = Knn.mmrRerank(vecs.where(col("vec_id") === 0), vecs, 3,
        pool = 4, k = 3, lam = 0.5)
      .select("pick", "cand_id").as[(Long, Long)].collect().toMap
    assert(again == out)
  }

  test("power iteration matches a bit-exact scalar replay of the integer recurrence") {
    val dim = 6
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 80).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextFloat() - 0.5f) * 2f))
    }
    // plant a dominant direction so convergence is fast and unambiguous
    val planted = vecs.map { case (id, v) =>
      val a = v.clone(); a(2) = a(2) + 3.0f; (id, a)
    }
    val df = planted.toDF("vec_id", "embedding")
    val got = Knn.powerIteration(df, dim, 8)
      .orderBy("dim").as[(Long, Long, Double)].collect()

    // scalar replay of the SAME integer algorithm
    val P = Knn.PowerQ
    // NOT math.round: engine round() is half-AWAY-FROM-ZERO; math.round
    // is half-toward-+inf — they differ on negative exact halves
    val q = planted.map(_._2.map(x =>
      BigDecimal(x.toDouble * P).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val m = Array.ofDim[BigInt](dim, dim)
    for (j <- 0 until dim; k <- 0 until dim)
      m(j)(k) = q.map(v => BigInt(v(j)) * v(k)).sum
    var r = Array.fill(dim)(BigInt(P))
    var mx = BigInt(1)
    for (_ <- 1 to 8) {
      val sV = (0 until dim).map(j => (0 until dim).map(k => m(j)(k) * r(k)).sum)
      mx = sV.map(_.abs).max.max(BigInt(1))
      r = sV.map(s => (if (s < 0) BigInt(-1) else BigInt(1)) * (s.abs * P / mx)).toArray
    }
    val le4 = (mx * 10000 / (BigInt(P) * P * P)).toLong
    got.foreach { case (d, vq, lam) =>
      assert(BigInt(vq) == r(d.toInt - 1), s"component $d: $vq vs ${r(d.toInt - 1)}")
      assert(math.abs(lam - le4 / 1e4) < 5e-5, s"lambda $lam vs ${le4 / 1e4}")
    }
    // the planted axis dominates: component 3 carries the max-norm peak
    assert(got(2)._2 == P, s"planted dim should hit the max-norm scale: ${got.toSeq}")
    // eigenvalue sanity: dominant eigenvalue >= trace/dim (mean eigenvalue)
    val trace = q.map(v => v.map(x => BigInt(x) * x).sum).sum
    assert(BigInt((got.head._3 * 1e4).toLong) * P * P * dim >= trace * 10000 / 2,
      "dominant eigenvalue must be at least half the mean-eigenvalue bound")
  }

  test("top-2 deflated power iteration recovers two planted orthogonal axes") {
    val dim = 8
    val rnd = new scala.util.Random(3)
    // two planted axes with distinct energies over tiny noise
    val vecs = (0 until 200).map { i =>
      val v = Array.fill(dim)((rnd.nextFloat() - 0.5f) * 0.05f)
      v(1) = v(1) + (if (i % 2 == 0) 3.0f else -3.0f)   // strongest axis
      v(6) = v(6) + (if (i % 3 == 0) 2.0f else -1.0f)   // second axis
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val got = Knn.powerIterationTop2(vecs, dim, 8)
      .orderBy("dim")
      .as[(Long, Long, Long, Double, Double, Double)].collect()
    val v1 = got.map(_._2.toDouble); val v2 = got.map(_._3.toDouble)
    def share(v: Array[Double], j: Int) =
      math.abs(v(j)) / math.sqrt(v.map(c => c * c).sum)
    assert(share(v1, 1) > 0.99, s"v1 must ride the strongest axis: ${v1.toSeq}")
    assert(share(v2, 6) > 0.95, s"v2 must ride the second axis: ${v2.toSeq}")
    val (_, _, _, l1, l2, cos12) = got.head
    assert(l1 > l2 && l2 > 0, s"eigenvalues must order: $l1 vs $l2")
    assert(math.abs(cos12) < 0.05, s"deflated directions must be near-orthogonal: $cos12")
  }

  test("power iteration edge inputs: single vector and all-zero corpus") {
    // one vector: S = x·xT is rank-1, the direction is x itself and
    // lambda = ||x||^2 (to quantization)
    val x = Array(0.5f, -0.25f, 0.125f, 0.0f)
    val one = Seq((0L, x)).toDF("vec_id", "embedding")
    val got = Knn.powerIteration(one, 4, 8)
      .orderBy("dim").as[(Long, Long, Double)].collect()
    val comps = got.map(_._2.toDouble)
    // direction proportional to x, max-norm peak on dim 1
    assert(comps(0) == Knn.PowerQ.toDouble)
    assert(math.abs(comps(1) / comps(0) + 0.5) < 1e-4, s"${comps.toSeq}")
    assert(math.abs(comps(2) / comps(0) - 0.25) < 1e-4)
    assert(comps(3) == 0.0)
    val l2 = x.map(c => c.toDouble * c).sum
    assert(math.abs(got.head._3 - l2) < 1e-3, s"lambda ${got.head._3} vs |x|^2 $l2")
    // all-zero corpus: the greatest(mx, 1) guard keeps every round
    // defined; the direction collapses to 0 and lambda to 0
    val zeros = (0 until 5).map(i => (i.toLong, Array.fill(4)(0.0f)))
      .toDF("vec_id", "embedding")
    val z = Knn.powerIteration(zeros, 4, 8)
      .orderBy("dim").as[(Long, Long, Double)].collect()
    assert(z.forall(r => r._2 == 0L && r._3 == 0.0), s"${z.toSeq}")
  }

  test("power-iteration direction is axis-aligned on a planted anisotropic cloud") {
    val dim = 8
    val rnd = new scala.util.Random(7)
    // background: tiny isotropic noise; planted: big spread along dim 5
    val vecs = (0 until 120).map { i =>
      val v = Array.fill(dim)((rnd.nextFloat() - 0.5f) * 0.1f)
      v(4) = v(4) + (if (i % 2 == 0) 2.0f else -2.0f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val d = Knn.powerIteration(vecs, dim, 8)
      .orderBy("dim").as[(Long, Long, Double)].collect()
    val comps = d.map(_._2.toDouble)
    val nrm = math.sqrt(comps.map(c => c * c).sum)
    assert(math.abs(comps(4)) / nrm > 0.99,
      s"dominant direction must align with the planted axis: ${comps.toSeq}")
    assert(math.abs(comps(4)) == Knn.PowerQ.toDouble,
      "the max-norm peak sits on the planted axis at full scale")
  }

  // ADVICE r16 pin: graft_dot's null/length semantics are INTENTIONAL
  // and differ from graft_l2sq's strict propagation — a NULL element is
  // SKIPPED (contributes 0) and mismatched lengths iterate the shorter
  // prefix. Every production caller passes fixed-width, null-free
  // embeddings (the fixtures and the oracle both guarantee it); this
  // test freezes the edge behavior so a refactor that silently changes
  // it fails here, not at oracle-hash time.
  test("graft_dot edge semantics: null elements skipped, mismatched lengths truncate") {
    val row = Seq((Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](2.0, 5.0, 4.0, 9.0)))
      .toDF("a", "b")
    val got = row.select(FloatDot.call(col("a"), col("b"))).as[Double].collect()
    // index 0: 1*2; index 1 skipped (null); index 2: 3*4; index 3 beyond min length
    assert(got.toSeq == Seq(14.0))
    val nullArr = Seq((Option.empty[Seq[Double]], Option(Seq(1.0))))
      .toDF("a", "b")
    assert(nullArr.select(FloatDot.call(col("a"), col("b")))
      .collect().head.isNullAt(0), "NULL array input must yield NULL")
  }
}
