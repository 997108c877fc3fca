package graft.operators

import graft.expressions.FloatDot
import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * Two tiers, mirroring what survives at scale:
  *  - [[bruteForceTopK]]: probe × candidate broadcast cross join — exact,
  *    O(|probe|·|candidates|); correct baseline, bounded probe set.
  *  - [[lshTopK]]: MULTI-TABLE sign-LSH — L independent hyperplane tables
  *    of p planes each. Each vector hashes to one bucket per table; the
  *    join pairs only same-(table, bucket) vectors, and a per-bucket
  *    candidate cap bounds the worst bucket. Multi-table is the standard
  *    recall lever (a near pair is missed only if it splits in ALL L
  *    tables); p is the per-bucket-size lever (2^p buckets per table —
  *    size p to the data so buckets stay O(1)-ish); the cap is the skew
  *    backstop that kills the O(n²/2^p) blowup a hot bucket would cause.
  */
object Knn {

  /** ONE [[graft.functions.TopKByScore]] UDAF instance per k, shared by
    * every plan build in the JVM. `udaf(...)` mints fresh
    * ExpressionEncoders per call, and ScalaAggregator equality runs
    * through them — so two canonically-IDENTICAL plans built from two
    * `udaf(TopKByScore(k))` calls compare UNEQUAL, every staged ANN
    * subtree missed the session memo, and each re-staging pinned
    * another checkpoint copy of the same relation (the round-16 sf10
    * probe's memory-poison mechanism, SCALE_PROBE.md). Sharing the
    * instance restores plan equality; TopKByScore itself is a pure
    * case class, so one instance per k is sound across sessions.
    */
  private val topkUdafs = new java.util.concurrent.ConcurrentHashMap[
    Int, org.apache.spark.sql.expressions.UserDefinedFunction]()
  private def topkUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    topkUdafs.computeIfAbsent(k, kk => udaf(graft.functions.TopKByScore(kk)))

  /** The shared top-k-per-probe tail of every scored KNN join:
    * `scored` is (probe_id, cand_id, sim) pair rows; output is
    * (probe_id, cand_id, rank, sim) ordered sim DESC with cand_id ASC
    * ties and NULL sims (zero-norm under try_divide) ranked last —
    * carried through the aggregate as -Inf and restored after.
    *
    * k == 1 — the dominant call shape (every recall metric, the LSH/IVF
    * ranked tiers) — runs as a DECLARATIVE min_by on (-sim, cand_id):
    * a codegen'd partial aggregate instead of
    * [[graft.functions.TopKByScore]]'s ObjectHashAggregate, whose
    * per-row typed update (encoder decode + buffer alloc) was the
    * measured floor of every brute-force-bound query (x_cosine 1.19 s
    * warm isolated at sf0.1, nearly all in the UDAF stage). Ordering is
    * identical: min over (-sim, cand_id) IS (sim desc, cand_id asc),
    * and -Inf restores to NULL exactly as the k-row path does.
    *
    * k > 1 keeps the bounded typed buffer (top-k needs the sorted
    * k-element state; mergeable, map-side combined).
    */
  private[graft] def topkTail(scored: DataFrame, k: Int): DataFrame = {
    val filled = scored.withColumn("sim",
      coalesce(col("sim"), lit(Double.NegativeInfinity)))
    if (k == 1)
      filled
        .groupBy("probe_id")
        .agg(min_by(struct(col("cand_id"), col("sim")),
          struct(negate(col("sim")), col("cand_id"))).as("b"))
        .select(col("probe_id"), col("b.cand_id").as("cand_id"),
          lit(1).cast("int").as("rank"),
          when(col("b.sim") === Double.NegativeInfinity, lit(null))
            .otherwise(col("b.sim")).as("sim"))
    else {
      val topk = topkUdaf(k)
      filled
        .groupBy("probe_id")
        .agg(topk(col("cand_id"), col("sim")).as("top"))
        .select(col("probe_id"), posexplode(col("top")))
        .select(col("probe_id"), col("col._1").as("cand_id"),
          (col("pos") + 1).cast("int").as("rank"),
          when(col("col._2") === Double.NegativeInfinity, lit(null))
            .otherwise(col("col._2")).as("sim"))
    }
  }

  /** Exact top-k cosine neighbors for each probe vector. `probes` MUST
    * be the bounded side (the caller caps it — a probe set, a recall
    * sample): probes are broadcast, CANDIDATES stream through a
    * partitioned scan of any size, and each candidate partition reduces
    * to a partial top-k per probe ([[graft.functions.TopKByScore]],
    * map-side combine) before the one |probes|·k-row exchange and exact
    * final merge. Nothing here broadcasts or shuffles the candidate
    * table itself, so the exact tier survives a candidate side that is
    * the full 100 TB corpus; unbounded-BOTH-sides exact KNN is the
    * O(n²) problem [[lshTopK]]/[[ivfTopK]] exist for.
    */
  def bruteForceTopK(probes: DataFrame, candidates: DataFrame, dim: Int, k: Int): DataFrame = {
    // norms once per row, not once per pair — the pair loop then does a
    // single codegen'd primitive dot and one division
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
      Vectors.norm(col("embedding"), dim).as("pn"))
    val c = candidates.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
      Vectors.norm(col("embedding"), dim).as("cn"))
    // try_divide: a zero-norm vector must yield a NULL sim, not an
    // ANSI DIVIDE_BY_ZERO job failure. The aggregate carries NULL as
    // -Inf (unreachable for a real cosine) and restores it after the
    // merge — NULLS-LAST ranking, and a probe whose sims are ALL null
    // still emits its k rows (it must not vanish from a recall
    // denominator). topkTail owns that convention for every tier.
    topkTail(
      c.join(broadcast(p), col("probe_id") =!= col("cand_id"))
        .withColumn("sim", Vectors.cosineByNorms("pe", "ce", "pn", "cn"))
        .select("probe_id", "cand_id", "sim"),
      k)
  }

  /** MMR (maximal marginal relevance) diversity re-ranking — the
    * retrieval-side step after ANN: for each bounded probe, re-rank its
    * top-`pool` candidate set by iteratively picking
    * `argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` (round 1 is
    * pure relevance, score λ·rel), emitting `k` picks per probe. The
    * training-data use is diverse few-shot/context selection: nearest
    * neighbors without MMR are often near-duplicates of each other.
    *
    * Scale shape: the candidate pool comes from [[bruteForceTopK]]
    * (probes broadcast, corpus streams, |probes|·pool rows through one
    * exchange); the iterative argmax then runs per probe over the
    * BOUNDED pool via mapGroups — probes distribute, each group is
    * `pool` rows, and the pairwise-sim matrix a chained window/join
    * formulation would re-shuffle k times lives in one task's O(pool²)
    * doubles instead. Determinism: ties break (score desc, cand_id
    * asc); pool sims use the same index-order double dot as the SQL
    * oracle, so the argmax replays exactly cross-engine.
    *
    * Output: (probe_id, pick 1..k, cand_id, score).
    */
  def mmrRerank(probes: DataFrame, corpus: DataFrame, dim: Int,
                pool: Int, k: Int, lam: Double): DataFrame = {
    val s = probes.sparkSession
    import s.implicits._
    val emb = corpus.select(col("vec_id").as("cand_id"),
      col("embedding").as("cvec"))
    val top = bruteForceTopK(probes, corpus, dim, pool)
      // a zero-norm candidate's NULL sim can't rank under MMR (and
      // would NPE the primitive decode) — drop it from the pool
      .where(col("sim").isNotNull)
      .join(emb, "cand_id")
      .select(col("probe_id"), col("cand_id"), col("sim"), col("cvec"))
      .as[(Long, Long, Double, Seq[Float])]
    top.groupByKey(_._1)
      .flatMapGroups { (pid: Long, it: Iterator[(Long, Long, Double, Seq[Float])]) =>
        // deterministic iteration order (the pool arrives unordered
        // from the shuffle); ties in the argmax break by cand_id asc
        val cands = it.map(t => (t._2, t._3, {
          val a = new Array[Double](t._4.length)
          var i = 0
          while (i < a.length) { a(i) = t._4(i).toDouble; i += 1 }
          a
        })).toVector.sortBy(_._1)
        // index-order double dot + norms — the dotSql/normSql replay
        def cos(a: Array[Double], b: Array[Double]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
          }
          dot / (math.sqrt(na) * math.sqrt(nb))
        }
        // incremental penalty: pen(c) = max sim to everything selected
        // so far, updated with ONE new cosine per candidate per round
        // (re-deriving the whole max each round would be O(pool·k²)
        // cosines with norms recomputed inside each — same argmax,
        // ~100× the work at production pool/k)
        // pen starts at -Inf, NOT 0: the max similarity to the selected
        // set can be NEGATIVE (an anti-similar candidate is REWARDED by
        // the -(1-lam)*pen term), and a 0 floor would erase that. The
        // r == 1 branch below never reads the sentinel.
        var remaining = cands.map { case (id, rel, v) =>
          (id, rel, v, Double.NegativeInfinity) }
        val out = Vector.newBuilder[(Long, Long, Long, Double)]
        var r = 1
        while (r <= k && remaining.nonEmpty) {
          val scored = remaining.map { case (id, rel, _, pen) =>
            (id, if (r == 1) lam * rel else lam * rel - (1 - lam) * pen)
          }
          val best = scored.reduceLeft { (a, b) =>
            if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a
          }
          val bestVec = remaining.find(_._1 == best._1).get._3
          out += ((pid, r.toLong, best._1, best._2))
          remaining = remaining.collect {
            case (id, rel, v, pen) if id != best._1 =>
              (id, rel, v, math.max(pen, cos(v, bestVec)))
          }
          r += 1
        }
        out.result().iterator
      }
      .toDF("probe_id", "pick", "cand_id", "score")
  }

  /** Hard-negative mining for contrastive training: each probe's single
    * most-similar candidate with a DIFFERENT label — the pair a
    * retrieval/embedding trainer wants next to the positive. Both sides
    * carry a `label` column; `probes` MUST be the bounded side (the
    * [[bruteForceTopK]] contract): probes broadcast with their labels,
    * the corpus STREAMS with no shuffle, the label-mismatch predicate
    * rides the broadcast join, and [[graft.functions.TopKByScore]]
    * reduces each candidate partition to |probes| rows before the one
    * exchange. Ties and NULL sims follow the bruteForceTopK conventions
    * (sim desc, cand_id asc; zero-norm → NULL restored after the merge).
    */
  def hardNegatives(probes: DataFrame, corpus: DataFrame, dim: Int): DataFrame = {
    val p = probes.select(col("vec_id").as("probe_id"),
      col("label").as("probe_label"), col("embedding").as("pe"),
      Vectors.norm(col("embedding"), dim).as("pn"))
    val c = corpus.select(col("vec_id").as("cand_id"),
      col("label").as("cand_label"), col("embedding").as("ce"),
      Vectors.norm(col("embedding"), dim).as("cn"))
    topkTail(
      c.join(broadcast(p), col("probe_label") =!= col("cand_label"))
        .withColumn("sim", Vectors.cosineByNorms("pe", "ce", "pn", "cn"))
        .select("probe_id", "cand_id", "sim"),
      k = 1)
      .drop("rank")
  }

  /** IVF cell assignment: each vector goes to its nearest centroid by
    * cosine (argmax dot over the broadcast centroid set, ties to the
    * lower cent_id). Centroids here are a deterministic sample of the
    * data (callers pass e.g. the first k vectors) standing in for a
    * k-means codebook — the ASSIGNMENT and probe dataflow, which is what
    * must scale, is the real thing: n·k codegen'd dot products, narrow
    * per row, centroids broadcast, no shuffle until the cell join.
    */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame, dim: Int): DataFrame = {
    val c = centroids.select(col("cent_id"), col("cvec"),
      Vectors.norm(col("cvec"), dim).as("cnrm"))
    vectors.select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding"), dim).as("nrm"))
      .join(broadcast(c))
      // FloatDot accepts float OR double arrays, so centroids may be data
      // samples (float) or trained means (double) — the n·k inner loop
      // stays a codegen'd primitive loop either way
      .withColumn("csim",
        Vectors.cosineByNorms("embedding", "cvec", "nrm", "cnrm"))
      // argmax as max_by with a composite (csim, -cent_id) ordering
      // value: struct comparison gives csim-desc with cent_id-asc ties
      // DETERMINISTICALLY (no two candidates share a cent_id; a NULL
      // csim — zero norm under try_divide — sorts below any real score,
      // like the window's NULLS LAST). The array-typed buffer binds as a
      // partial SortAggregate, so the n·k scored rows are still sorted
      // WITHIN each partition — but only the n winners cross the
      // exchange, where a rank-1 window must shuffle all n·k rows first
      .groupBy("vec_id")
      .agg(max_by(
        struct(col("embedding"), col("nrm"), col("cent_id")),
        struct(col("csim"), -col("cent_id"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.nrm").as("nrm"), col("best.cent_id").as("cell"))
  }

  /** IVF top-k where the CORPUS searches itself (every vector a probe,
    * nprobe=1): the learned-bucket sibling of [[lshTopK]] (equi-join on
    * cell, never the pair matrix), both self-join sides reusing ONE
    * assignment exchange. Per-pair volume is n·|cell| = n²/k — all-corpus
    * self-search is a DEDUP workload, so at scale use [[cellPairs]] (the
    * cellCap-bounded form) for dedup and [[ivfSearch]] for a bounded
    * probe workload; this uncapped form is the structural baseline the
    * capped operators are spec-compared against.
    */
  def ivfTopK(vectors: DataFrame, centroids: DataFrame, dim: Int, k: Int): DataFrame = {
    // both self-join branches route through ONE explicit exchange on the
    // join key: the branches' canonical plans are identical, so Spark's
    // ReuseExchange computes the n·k assignment once instead of once per
    // side — the dominant stage at scale must not run twice
    val assigned = ivfAssign(vectors, centroids, dim).repartition(col("cell"))
    val a = assigned.select(col("cell"), col("vec_id").as("probe_id"),
      col("embedding").as("pe"), col("nrm").as("pn"))
    val b = assigned.select(col("cell"), col("vec_id").as("cand_id"),
      col("embedding").as("ce"), col("nrm").as("cn"))
    // topkTail instead of a rank window: the window shuffled and sorted
    // ALL n·|cell| scored pair rows by probe_id; the aggregate reduces
    // each partition to ≤ k rows per probe map-side before the one
    // |probes|·k exchange (same ordering contract: sim desc, cand_id
    // asc, NULL sims last — topkTail owns the convention)
    topkTail(
      a.join(b, Seq("cell"))
        .where(col("probe_id") =!= col("cand_id"))
        .withColumn("sim", Vectors.cosineByNorms("pe", "ce", "pn", "cn"))
        .select("probe_id", "cand_id", "sim"),
      k)
  }

  /** The nprobe-scored cell assignment [[cellPairsProbed]] and
    * [[probeCellIndex]] share: each vector's `nprobe` nearest
    * centroids by cosine (ties by cent_id), centroid norms broadcast
    * once, output (vec_id, embedding, nrm, cell, rk) routed through ONE
    * `repartition(cell)` exchange that both consumers' join sides reuse
    * (ReuseExchange). The tie-break and null-handling conventions live
    * HERE and nowhere else — the search tier and the probed dedup
    * oracle must never drift apart.
    */
  private def scoredProbes(vectors: DataFrame, centroids: DataFrame,
                           dim: Int, nprobe: Int): DataFrame = {
    val c = centroids.select(col("cent_id"), col("cvec"),
      Vectors.norm(col("cvec"), dim).as("cnrm"))
    val wc = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))
    vectors.select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding"), dim).as("nrm"))
      .join(broadcast(c))
      .withColumn("csim",
        Vectors.cosineByNorms("embedding", "cvec", "nrm", "cnrm"))
      .withColumn("rk", row_number().over(wc))
      .where(col("rk") <= nprobe)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cent_id").as("cell"), col("rk"))
      .repartition(col("cell"))
  }

  /** IVF ANN SEARCH for a bounded probe workload — the serving-path
    * shape: `probes` MUST be the bounded side (a query workload, a
    * recall sample — the [[bruteForceTopK]] contract); each probe ranks
    * its `nprobe` nearest cells against the broadcast centroid table,
    * the corpus is home-assigned once ([[ivfAssign]] — n·k codegen'd
    * dot products, no shuffle) and STREAMS against the broadcast
    * probe-cell table, and [[graft.functions.TopKByScore]] reduces each
    * candidate partition to |probes|·k rows before the one exchange
    * (same tie-break as the window formulation: sim desc, cand_id asc).
    * Total search cost is |probes| · nprobe · |cell| — linear in corpus
    * size at fixed probe count.
    *
    * An UNBOUNDED probe side (the corpus searching itself) is not a
    * serving workload but dedup — that path is [[cellPairs]] /
    * [[cellPairsProbed]], whose `cellCap` bounds the quadratic term.
    * The 10× scale probe (SCALE_PROBE.md) measured the difference:
    * all-corpus probing scaled ~25× at 10× data (n²·nprobe/k pair
    * volume, the round-7 percolation class); this shape scales with n.
    */
  def ivfSearch(probes: DataFrame, corpus: DataFrame, centroids: DataFrame,
                dim: Int, k: Int, nprobe: Int): DataFrame = {
    val c = centroids.select(col("cent_id"), col("cvec"),
      Vectors.norm(col("cvec"), dim).as("cnrm"))
    val wc = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))
    val probeCells = probes.select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding"), dim).as("nrm"))
      .join(broadcast(c))
      .withColumn("csim",
        Vectors.cosineByNorms("embedding", "cvec", "nrm", "cnrm"))
      .withColumn("rk", row_number().over(wc))
      .where(col("rk") <= nprobe)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("nrm").as("pn"), col("cent_id").as("cell"))
    // the home-assigned corpus IS the stored IVF index — staged so a
    // session's repeat searches (and every query sharing the codebook)
    // serve from the materialized index instead of re-running the n·k
    // assignment pass. This is what makes a √n-scaled codebook sane:
    // assignment is n·k = n^1.5 at k ~ √n, an INDEX-BUILD cost paid
    // once, while the per-search scan stays |probes|·nprobe·|cell|
    // (measured at the 100× probe: warm 47.6 s unstaged → index-read
    // bound staged)
    val homes = Scale.stage(ivfAssign(corpus, centroids, dim)
      .select(col("cell"), col("vec_id").as("cand_id"),
        col("embedding").as("ce"), col("nrm").as("cn")))
    // NULL sim (zero-norm vector under try_divide) rides the aggregate
    // as -Inf and is restored after the merge — the bruteForceTopK
    // convention, NULLS-LAST like the window's sim desc (topkTail)
    topkTail(
      homes.join(broadcast(probeCells), Seq("cell"))
        .where(col("probe_id") =!= col("cand_id"))
        .withColumn("sim", Vectors.cosineByNorms("pe", "ce", "pn", "cn"))
        .select("probe_id", "cand_id", "sim"),
      k)
  }

  /** One deterministic k-means (Lloyd) refinement of a centroid set:
    * assign every vector to its nearest centroid by cosine, then rebuild
    * each centroid as the mean of its cell.
    *
    * Distributed float means are accumulation-order-dependent, so the
    * mean is computed over QUANTIZED components (round(x·2^20) — exact
    * integers whose per-dimension long sums, map-side-partial
    * declarative aggregates, are order-independent; no per-dimension
    * explode) and one exact division at the end. The result is
    * bit-reproducible across partitionings AND replayable by a serial
    * SQL oracle — the same discipline as the engine's integer-cents
    * money sums, applied to codebook training. Empty cells keep their
    * previous centroid (the standard Lloyd convention).
    */
  def kmeansRefine(vectors: DataFrame, centroids: DataFrame, dim: Int): DataFrame = {
    val Q = 1L << 20
    // dim DECLARATIVE long sums rather than a typed vector-sum UDAF: the
    // aggregate runs over EVERY corpus vector (the training hot path of
    // each Lloyd round), and an ObjectHashAggregate's per-row typed
    // update (encoder decode + array buffer) is the same floor the
    // k=1 topkTail removed from the ANN tier. Long sums are exact and
    // order-independent, so the refined centroids are bit-reproducible;
    // no transform HOF (CodegenFallback) sits in the scan stage either.
    val assigned = ivfAssign(vectors, centroids, dim)
    val refined = assigned.groupBy("cell")
      .agg(array((0 until dim).map(i =>
          sum(round(col("embedding")(i).cast("double") * Q).cast("long"))
            .cast("double") / (count(lit(1)).cast("double") * Q)): _*)
        .as("cvec"))
      .select(col("cell").as("cent_id"), col("cvec"))
    // empty cells (no vectors assigned) retain their previous centroid
    centroids.join(refined, centroids("cent_id") === refined("cent_id"), "left_anti")
      .select(centroids("cent_id"), col("cvec"))
      .unionByName(refined)
  }

  /** Lloyd's k-means iterated to CONVERGENCE (or `maxRounds`): repeated
    * [[kmeansRefine]] with the same quantized order-independent means,
    * under the same loop discipline as [[Dedup.dupClusters]] — each
    * round's centroids materialize through [[Scale.stage]] (lineage
    * truncated, no recomputation cascade; reliable-checkpoint mode via
    * `spark.graft.checkpoint.reliable`), and the driver only ever sees a boolean
    * convergence flag, never centroid data. Convergence is EXACT
    * equality of the centroid set round-over-round — well-defined
    * because the quantized means are bit-reproducible, and equivalent to
    * assignment stability (identical centroids ⇒ identical next
    * assignment). Returns (centroids, refinement rounds run). The last
    * scheduled round skips the equality probe (its verdict couldn't
    * change the loop), so a fixed-round caller pays no extra job.
    *
    * IVF_K scaling: k here is the codebook size — grow it ~√n with the
    * corpus so cells stay O(√n); the per-round cost is one n·k
    * assignment pass + a k·dim-sized aggregate, both map-side-partial,
    * so rounds scale linearly in data with no driver involvement.
    */
  def kmeansTrain(vectors: DataFrame, seed: DataFrame, dim: Int,
                  maxRounds: Int): (DataFrame, Int) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    def doTrain(): (DataFrame, Int) = {
      // normalize the seed to double vectors so round-over-round equality
      // compares like with like (seeds are often float data samples)
      var cents = Scale.stage(seed.select(col("cent_id"),
        transform(col("cvec"), x => x.cast("double")).as("cvec")),
        eager = true)
      var round = 0
      var converged = false
      while (!converged && round < maxRounds) {
        // lazy checkpoint: the convergence probe's count() both runs the
        // refinement pass and caches its k-row result in one job (the
        // final scheduled round skips the probe, so its refinement
        // materializes with whatever downstream action consumes it)
        val next = Scale.stage(kmeansRefine(vectors, cents, dim))
        val prev = cents.select(col("cent_id"), col("cvec").as("pvec"))
        round += 1
        if (round < maxRounds)
          converged = next.join(prev, "cent_id")
            .where(col("cvec") =!= col("pvec")).count() == 0
        cents = next
      }
      (cents, round)
    }
    // memoized on (vectors, seed): the per-round stage memo already
    // shares canonically identical refinement chains ACROSS the queries
    // that train on the same corpus; this entry also skips the per-round
    // convergence-probe JOBS on a repeat call, and covers trainings whose
    // chains are unique in the session (x_semdedup_incremental's
    // base-only codebook)
    Scale.memoized(s"kmeans;dim=$dim;rounds=$maxRounds", Seq(vectors, seed))(doTrain())
  }

  /** Within-cell cosine-similar pairs — the pair-generation stage of
    * semantic dedup (SemDeDup shape): `assigned` is the
    * [[ivfAssign]]-shaped relation (cell, vec_id, embedding, nrm); the
    * output is canonical (doc_a < doc_b) pairs with cosine > `tau`.
    *
    * Scale shape: one `repartition(cell)` exchange REUSED by both join
    * sides (ReuseExchange — the [[ivfTopK]] pattern), and the candidate
    * side capped at `cellCap` rows per cell, mirroring [[lshTopK]]'s
    * `bucketCap`: the √n codebook-growth rule bounds the EXPECTED
    * within-cell quadratic term, but a hot cell — a mass of
    * near-identical embeddings, which is precisely what a dedup corpus
    * contains — would otherwise produce |cell|² candidate pairs before
    * the τ filter. With the cap, pair volume is ≤ |cell|·cellCap.
    *
    * The cap is deterministic and content-independent: candidates are
    * the first `cellCap` vectors per cell in md5(vec_id) order — a
    * pseudo-random sample uncorrelated with the min-id keep rule
    * downstream (plain vec_id order would bias candidates toward the
    * very docs the keep rule preserves). Recall trade: a pair survives
    * iff at least one endpoint is a candidate, so a hot cell keeps its
    * dup mass connected through the capped hubs; only dup pairs BOTH
    * outside the sample are missed — the same trade lshTopK makes.
    * With cellCap ≥ the largest cell the cap is vacuous and the output
    * equals the uncapped full pair set.
    */
  def cellPairs(assigned: DataFrame, tau: Double, cellCap: Int): DataFrame = {
    require(cellCap >= 1, s"cellPairs: cellCap must be >= 1, got $cellCap")
    val cellPart = assigned.repartition(col("cell"))
    // the cap window rides the SAME cell exchange (sort within
    // partitions, no new shuffle); the candidate FLAG stays on the probe
    // side too, so the pre-sim filter below emits each qualifying pair
    // exactly once — no post-sim dedup shuffle, and when the cap is
    // vacuous the filter degenerates to doc_a < doc_b: exactly half the
    // cross product pays a dot product, same as the uncapped form
    val wCap = Window.partitionBy("cell")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val flagged = cellPart.withColumn("__pos", row_number().over(wCap))
      .withColumn("__cand", col("__pos") <= cellCap).drop("__pos")
    val a = flagged.select(col("cell"), col("vec_id").as("doc_a"),
      col("embedding").as("pe"), col("nrm").as("pn"), col("__cand"))
    val b = flagged.where(col("__cand"))
      .select(col("cell"), col("vec_id").as("doc_b"),
        col("embedding").as("ce"), col("nrm").as("cn"))
    a.join(b, Seq("cell"))
      // each unordered pair once, BEFORE the dot product: candidate
      // pairs in a<b orientation only; a non-candidate probe pairs with
      // every candidate (its only orientation)
      .where(col("doc_a") < col("doc_b") || !col("__cand"))
      .withColumn("sim", Vectors.cosineByNorms("pe", "ce", "pn", "cn"))
      .where(col("sim") > tau)
      // canonicalize (a non-candidate probe may sit on either side;
      // fresh names first — a same-name lateral alias would shadow the
      // input columns)
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .select(col("lo").as("doc_a"), col("hi").as("doc_b"))
  }

  /** [[cellPairs]] with the IVF recall lever (nprobe): each vector
    * PROBES its `nprobe` nearest cells while candidates stay indexed
    * under their single home cell — [[ivfSearch]]'s probe discipline applied to
    * dedup pair generation. Cross-cell near-dups that a codebook
    * boundary splits (the single-cell form's documented recall trade)
    * are recovered when either endpoint probes the other's home; pair
    * volume grows LINEARLY in nprobe, never quadratically.
    *
    * Scale shape: one scored assignment ([[scoredProbes]]) routed
    * through ONE cell exchange reused by both sides; the home side
    * capped per cell at `cellCap` in deterministic md5(vec_id) order
    * (the [[cellPairs]] hot-cell backstop). The dominant same-home-cell
    * orientation pays its dot product ONCE (the [[cellPairs]] pair-once
    * discipline, via the candidate flag carried onto the probe side);
    * only genuinely cross-cell pairs can surface twice (a probing b's
    * home AND b probing a's), so the narrow ids-only distinct handles
    * exactly that remainder.
    */
  def cellPairsProbed(vectors: DataFrame, centroids: DataFrame, dim: Int,
                      tau: Double, nprobe: Int, cellCap: Int): DataFrame = {
    require(nprobe >= 1 && cellCap >= 1,
      s"cellPairsProbed: nprobe=$nprobe and cellCap=$cellCap must be >= 1")
    // rk leads the cap order, so home rows (rk=1) rank in a prefix and
    // the candidate set is identical to ranking the rk=1 subset alone
    val wCap = Window.partitionBy("cell")
      .orderBy(col("rk"), md5(col("vec_id").cast("string")), col("vec_id"))
    val flagged = scoredProbes(vectors, centroids, dim, nprobe)
      .withColumn("__pos", row_number().over(wCap))
      .withColumn("__cand", col("rk") === 1 && col("__pos") <= cellCap)
      .drop("__pos")
    val a = flagged.select(col("cell"), col("vec_id").as("doc_a"),
      col("embedding").as("pe"), col("nrm").as("pn"),
      col("rk").as("rka"), col("__cand").as("cand_a"))
    val b = flagged.where(col("__cand"))
      .select(col("cell"), col("vec_id").as("doc_b"),
        col("embedding").as("ce"), col("nrm").as("cn"))
    a.join(b, Seq("cell"))
      .where(col("doc_a") =!= col("doc_b"))
      // pair-once BEFORE the dot product: a same-home candidate pair
      // keeps only its a<b orientation; a non-candidate home and a
      // cross-cell probe (rk>1) keep their only / possibly-duplicated
      // orientation (the latter collapses in the distinct below)
      .where(col("rka") > 1 || col("doc_a") < col("doc_b") || !col("cand_a"))
      .withColumn("sim", Vectors.cosineByNorms("pe", "ce", "pn", "cn"))
      .where(col("sim") > tau)
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .select(col("lo").as("doc_a"), col("hi").as("doc_b"))
      .distinct()
  }

  /** The index side of a cell probe, capped per cell in the
    * deterministic md5(vec_id) order ([[cellPairs]]' hot-cell
    * backstop).
    */
  private def cappedCells(index: DataFrame, cellCap: Int): DataFrame = {
    val wCap = Window.partitionBy("cell")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    index
      .withColumn("__pos", row_number().over(wCap))
      .where(col("__pos") <= cellCap)
      .select(col("cell"), col("vec_id").as("base_id"),
        col("embedding").as("ce"), col("nrm").as("cn"))
  }

  /** Incremental SEMANTIC ingest probe — the IVF-cell sibling of
    * [[graft.operators.Dedup.probeBandIndex]]: an arriving delta of
    * vectors probes the STORED cell index of the corpus already kept
    * (`index`: the [[ivfAssign]] output of the base corpus — its
    * durable artifact, in production a parquet bucketed by `cell` —
    * plus the `centroids` it was trained with), so ingest cost is
    * |delta| · nprobe · cellCap and the base corpus is never re-paired
    * against itself.
    *
    * Each delta vector scores its `nprobe` nearest trained cells
    * ([[scoredProbes]], which repartitions the probe side by `cell` —
    * against a cell-bucketed index only the delta shuffles); the index
    * side is capped per cell in the deterministic md5(vec_id) order
    * ([[cellPairs]]' hot-cell backstop). A (probe, base) pair can
    * surface at most once — a base vector has ONE home cell and the
    * probe's nprobe cells are distinct — so the per-probe aggregate
    * needs no distinct. Returns one row per matched delta vector:
    * `(vec_id, n_base_matches, first_match)` — the near-dup verdict an
    * ingest gate quarantines on, [[graft.operators.Dedup.probeBandIndex]]'s
    * exact output shape in embedding space.
    */
  def probeCellIndex(delta: DataFrame, index: DataFrame, centroids: DataFrame,
                     dim: Int, tau: Double, nprobe: Int, cellCap: Int): DataFrame = {
    require(nprobe >= 1 && cellCap >= 1,
      s"probeCellIndex: nprobe=$nprobe and cellCap=$cellCap must be >= 1")
    val base = cappedCells(index, cellCap)
    scoredProbes(delta, centroids, dim, nprobe)
      .select(col("cell"), col("vec_id"),
        col("embedding").as("pe"), col("nrm").as("pn"))
      .join(base, Seq("cell"))
      .withColumn("sim", Vectors.cosineByNorms("pe", "ce", "pn", "cn"))
      .where(col("sim") > tau)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_base_matches"),
        min(col("base_id")).as("first_match"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019,
    * arXiv:1811.01136 — the distance-margin variant): each probe from
    * the source space retrieves its best target-space neighbor scored
    * by margin(x,y) = cos(x,y) − (avgNNₖ(x) + avgNNₖ(y))/2, which
    * discounts hub vectors whose neighborhoods are uniformly close.
    * `probes` must be the bounded side (fixed cap); `tgt` streams
    * through the forward k-NN, and the reverse k-NN's probe side is
    * the ≤ |probes|·k distinct forward candidates. Neighborhood
    * averages quantize sims at `q` and sum exact longs (order-free);
    * the margin assembles once; the per-probe argmax breaks ties
    * (margin desc, cand asc). Output per probe:
    * (src_id, tgt_id, sim, margin, accept at margin > tau) —
    * [[graft.queries.PipelineQueries.xBitext]]'s oracle replays it all.
    */
  def bitextMine(probes: DataFrame, src: DataFrame, tgt: DataFrame,
                 dim: Int, k: Int, q: Long, tau: Double): DataFrame = {
    val nnx = Scale.stage(bruteForceTopK(probes, tgt, dim, k)
      .where(col("sim").isNotNull))
    val dx = nnx.groupBy("probe_id")
      .agg(sum(round(col("sim") * q).cast("long")).as("qx"),
        count(lit(1)).as("kx"))
    val ys = nnx.select(col("cand_id").as("vec_id")).distinct()
    val nny = bruteForceTopK(tgt.join(broadcast(ys), "vec_id"), src, dim, k)
      .where(col("sim").isNotNull)
    val dy = nny.groupBy("probe_id")
      .agg(sum(round(col("sim") * q).cast("long")).as("qy"),
        count(lit(1)).as("ky"))
    nnx.join(broadcast(dx), "probe_id")
      .join(broadcast(dy.withColumnRenamed("probe_id", "cand_id")), "cand_id")
      .withColumn("margin",
        col("sim") - (col("qx").cast("double") / (col("kx") * q) +
          col("qy").cast("double") / (col("ky") * q)) / lit(2.0))
      .groupBy("probe_id")
      .agg(max_by(struct(col("cand_id"), col("sim"), col("margin")),
        struct(col("margin"), -col("cand_id"))).as("best"))
      .select(col("probe_id").as("src_id"),
        col("best.cand_id").as("tgt_id"),
        col("best.sim").as("sim"),
        col("best.margin").as("margin"),
        (col("best.margin") > tau).cast("bigint").as("accept"))
  }

  /** Index staleness gate — the lifecycle decision a stored IVF index
    * ([[ivfAssign]] + its training codebook) needs once a corpus keeps
    * growing: has the CURRENT corpus drifted far enough from the
    * codebook's TRAINING snapshot that the index should retrain?
    * Signal: total variation between the training-time and current
    * per-cell mass distributions under the SAME codebook — two bounded
    * k-row relations, so the comparison costs two assignment passes
    * and O(k) arithmetic at any corpus size. The verdict threshold is
    * a fixed fraction of the (already scale-free) TV: retrain when
    * TV > 1/[[INDEX_TV_DEN]], decided in exact integer arithmetic
    * (tvnum·DEN > 2·N0·N1 — decimal before every multiply); the TV/
    * max-shift doubles assemble once at the output. An empty side is
    * definitionally stale (tv = 1, retrain = 1). One row out:
    * (k_cells, n_base, n_cur, tv, max_cell_shift, retrain).
    *
    * The refresh path is [[kmeansTrain]] on the current corpus (the
    * session-memoized artifact): IndexHealthSpec proves a refreshed
    * codebook is bit-identical to a cold retrain, and that a drifted
    * delta flips the verdict.
    */
  val INDEX_TV_DEN = 10L

  def indexHealth(base: DataFrame, current: DataFrame,
                  centroids: DataFrame, dim: Int): DataFrame = {
    val m0 = ivfAssign(base, centroids, dim)
      .groupBy("cell").agg(count(lit(1)).as("m0"))
    val m1 = ivfAssign(current, centroids, dim)
      .groupBy("cell").agg(count(lit(1)).as("m1"))
    val cells = centroids.select(col("cent_id").as("cell"))
    val joined = cells.join(m0, Seq("cell"), "left")
      .join(m1, Seq("cell"), "left")
      .na.fill(0L, Seq("m0", "m1"))
    val tot = joined.agg(sum("m0").as("n0"), sum("m1").as("n1"))
    val sums = joined.crossJoin(broadcast(tot))
      .withColumn("dnum", abs(col("m0").cast("decimal(38,0)") * col("n1") -
        col("m1").cast("decimal(38,0)") * col("n0")))
      .agg(count(lit(1)).as("k_cells"), max("n0").as("n0"),
        max("n1").as("n1"), sum("dnum").as("tvnum"), max("dnum").as("maxnum"))
    sums.select(col("k_cells"),
      col("n0").cast("bigint").as("n_base"),
      col("n1").cast("bigint").as("n_cur"),
      graft.functions.Det.detRound4(
        when(col("n0") === 0 || col("n1") === 0, lit(1.0))
          .otherwise(col("tvnum").cast("double") /
            (lit(2.0) * col("n0").cast("double") * col("n1").cast("double"))))
        .as("tv"),
      graft.functions.Det.detRound4(
        when(col("n0") === 0 || col("n1") === 0, lit(1.0))
          .otherwise(col("maxnum").cast("double") /
            (col("n0").cast("double") * col("n1").cast("double"))))
        .as("max_cell_shift"),
      when(col("n0") === 0 || col("n1") === 0, lit(1L))
        .otherwise((col("tvnum") * INDEX_TV_DEN >
          col("n0").cast("decimal(38,0)") * col("n1") * 2).cast("bigint"))
        .as("retrain"))
  }

  /** Multi-table sign-LSH top-k: `tables` is L plane-tables of p planes
    * each (see [[Vectors.signPlaneTables]]), `bucketCap` caps candidates
    * per (table, bucket). Vectors alone in their buckets get no row
    * (inner join) — the recall/cost trade of LSH.
    *
    * Scale shape (round 16 — the sf10 probe measured the old
    * ids-first formulation shuffling the PAIR volume with embeddings
    * attached, ~10^8 rows × two 64-float arrays ≈ tens of GB through
    * two id-keyed joins; SCALE_PROBE.md):
    *  1. bucket keys are exploded as (table, bucket, vec_id) ID rows;
    *     the candidate side is capped per (table, bucket) by a
    *     deterministic vec_id-ordered row_number (skew bound), the
    *     probe side is uncapped so every vector still probes;
    *  2. embeddings ride INTO the bucket join once per (table, vector)
    *     — n·L wide rows through ONE exchange per side, bounded by
    *     corpus size, never by collision volume;
    *  3. the bucket equi-join scores each collision IMMEDIATELY in the
    *     same codegen stage (one primitive dot per row) and emits only
    *     narrow (probe_id, cand_id, sim) rows — the ONLY pair-volume-
    *     sized relations are 24-byte triples: the cross-table dedup
    *     (identical inputs give a bit-identical sim, so distinct on
    *     the triple equals the old ids-only dedup) and the per-probe
    *     top-k partial aggregate ([[graft.functions.TopKByScore]], the
    *     r9 ivfSearch discipline: each partition reduces to ≤ k rows
    *     per probe before the final exchange; score desc, id asc ==
    *     the old window's sim desc, cand_id asc; NULL sims ride as
    *     -Inf and restore, the bruteForceTopK contract).
    */
  def lshTopK(vectors: DataFrame, tables: Seq[Seq[Seq[Double]]], dim: Int,
              k: Int, bucketCap: Int): DataFrame = {
    val emb = vectors.select(col("vec_id"), col("embedding"),
      Vectors.norm(col("embedding"), dim).as("nrm"))
    // (table, bucket, vec_id) — one row per vector per table, ids only
    val keyed = vectors.select(col("vec_id"),
      explode(array(tables.zipWithIndex.map { case (planes, t) =>
        struct(lit(t.toLong).as("tbl"),
          Vectors.lshBucket(col("embedding"), planes, dim).as("bucket"))
      }: _*)).as("tb"))
      .select(col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"), col("vec_id"))
    val wCap = Window.partitionBy("tbl", "bucket").orderBy("vec_id")
    val capped = keyed.withColumn("pos", row_number().over(wCap))
      .where(col("pos") <= bucketCap).drop("pos")
    val probeSide = keyed.join(emb, "vec_id")
      .select(col("tbl"), col("bucket"), col("vec_id").as("probe_id"),
        col("embedding").as("pe"), col("nrm").as("pn"))
    val candSide = capped.join(emb, "vec_id")
      .select(col("tbl"), col("bucket"), col("vec_id").as("cand_id"),
        col("embedding").as("ce"), col("nrm").as("cn"))
    val scored = probeSide.join(candSide, Seq("tbl", "bucket"))
      .where(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        Vectors.cosineByNorms("pe", "ce", "pn", "cn").as("sim"))
      // same pair colliding in two tables scores bit-identically (same
      // expression, same arrays) — one narrow row survives, exactly the
      // old ids-before-scoring dedup
      .distinct()
    topkTail(scored, k)
  }

  /** 2^20 — [[powerIteration]]'s per-component quantum (the
    * [[kmeansRefine]] discipline's component scale).
    */
  val PowerQ: Long = 1L << 20

  /** Dominant eigenvector of the corpus second-moment matrix
    * S = Σ_i x_i·x_iᵀ by power iteration — the top principal direction
    * a curation pipeline uses for embedding-space anisotropy
    * diagnostics and "all-but-the-top" spectral cleanup (Mu & Viswanath
    * 2018, arXiv:1702.01417).
    *
    * SCALE SHAPE: ONE corpus pass builds the quantized dim×dim moment
    * matrix (a double posexplode, map-side-combined down to ≤dim² rows,
    * staged once); every iteration then runs entirely on that bounded
    * relation — at 100 TB the data is read once and extra iterations
    * cost nothing more. (For T < dim the T-pass matvec variant does
    * fewer multiplies, but it re-reads the corpus T times; at scale the
    * scan, not the per-row dim² combine, is the bottleneck.) Each
    * iteration's 64-row vector is staged (the [[Dedup.dupClusters]]
    * loop discipline) so the two consumers per round — matvec and
    * max-norm — don't compound lineage exponentially.
    *
    * EXACTNESS: components quantize once to p = round(x·2^20);
    * M_jk = Σ p_j·p_k sums exactly as DECIMAL(38,0) in any partition
    * order; each round's matvec s = M·r and max-norm renormalization
    * r' = sign(s)·((|s|·2^20) div max|s|) are pure integer arithmetic —
    * bit-reproducible across engines, partitionings and SFs. The one
    * double appears at the end: the max-norm eigenvalue estimate
    * λ ≈ max|s|/2^60, computed as an integer div to 4 decimals first.
    * Headroom: |s| ≤ dim·n·(2^20·max|x|)²·2^20 — ~2^100 at n = 10^9,
    * inside DECIMAL(38,0)'s ~2^126.
    *
    * Returns `dim` rows (dim 1-based, v_q the eigenvector component at
    * 2^20 max-norm scale, lambda rounded to 4 decimals). The sign
    * convention follows the all-ones start vector.
    */
  def powerIteration(vectors: DataFrame, dim: Int, iters: Int): DataFrame = {
    val (rF, mxF, _) = powerIterationState(vectors, dim, iters)
    val P = PowerQ
    val lam = mxF.select(
      (expr(s"(mx * 10000) div ${P * P * P}").cast("double") / 1e4).as("lambda0"))
    rF.crossJoin(broadcast(lam))
      .select(col("j").cast("bigint").as("dim"), col("r").cast("bigint").as("v_q"),
        graft.functions.Det.detRound4(col("lambda0")).as("lambda"))
  }

  /** [[powerIteration]]'s internals for consumers that need more than
    * the assembled output row: (final quantized direction r(j, r), the
    * last round's max-|s| scalar, the staged quantized moment matrix
    * m(j, k, m)). Same exactness and staging contracts as the wrapper.
    */
  def powerIterationState(vectors: DataFrame, dim: Int,
      iters: Int): (DataFrame, DataFrame, DataFrame) = {
    require(iters >= 1, "powerIteration needs at least one round")
    val s = vectors.sparkSession
    import s.implicits._
    val P = PowerQ
    val qv = vectors.select(transform(col("embedding"),
      x => round(x.cast("double") * P).cast("long")).as("q"))
    // ONE posexplode (dim rows per vector) with dim codegen'd column
    // sums per j, unpivoted to the bounded (j, k, m) relation — the
    // former double posexplode generated dim² rows PER VECTOR (4096 at
    // dim 64) into the partial aggregate; the row explosion, not the
    // multiply count, was the scan-stage term at corpus scale. Addends
    // are identical: pj·q[k] is the same long product (|pj·pk| ≤ 2^42 ≪
    // 2^63, the bound proven below) cast to DECIMAL(38,0) before the
    // order-independent exact sum. Row-set equivalence: group j exists
    // iff some vector has index j (as before); sum(m$k) is NULL iff NO
    // vector with index j also has index k, exactly the case where the
    // double-explode form had no (j, k) group — the isNotNull filter
    // restores that absence. (A mixed case — some vector has both j and
    // k but every PRODUCT is null — needs NULL embedding ELEMENTS,
    // which the quantization transform never emits from real floats.)
    val m = Scale.stage(
      qv.select(posexplode(col("q")).as(Seq("j0", "pj")), col("q"))
        .groupBy((col("j0") + 1).cast("bigint").as("j"))
        .agg(
          sum((col("pj") * col("q")(0)).cast("decimal(38,0)")).as("m0"),
          (1 until dim).map(k0 =>
            sum((col("pj") * col("q")(k0)).cast("decimal(38,0)")).as(s"m$k0")): _*)
        .select(col("j"), posexplode(array(
          (0 until dim).map(k0 => col(s"m$k0")): _*)).as(Seq("k0", "m")))
        .select(col("j"), (col("k0") + 1).cast("bigint").as("k"), col("m"))
        .where(col("m").isNotNull))
    val (rF, mxF) = powerRounds(s, m, dim, iters)
    (rF, mxF, m)
  }

  /** The max-norm integer power rounds over an arbitrary (j, k, m)
    * moment relation — shared by the top-1 chain and the deflated
    * second-component chain. Returns (final r(j, r), last max-|s|).
    *
    * The moment relation is BOUNDED (≤ dim² rows) by construction, so
    * all `iters` rounds run in ONE task over a coalesce(1) of the
    * matrix instead of `iters` staged join→aggregate→renormalize
    * micro-plans. The per-round distributed form moved 64-row relations
    * through 2·iters plan builds and localCheckpoint jobs — pure
    * driver/scheduler overhead that dominated the family's COLD time
    * (x_pca2 8.2 s cold vs 0.9 s warm, r17 BEFORE record) while the
    * data never exceeded dim rows. BigInteger arithmetic replicates the
    * SQL integer recurrence bit-for-bit (VectorSpec's scalar replay):
    * exact decimal sums are order-independent, `div` on non-negative
    * operands is BigInteger.divide's truncation, and the ±1 sign factor
    * is applied to the absolute quotient exactly as the old expression
    * did. The (j, k) row SET is also replicated: round i keeps the j
    * values reachable through m from round i−1's j set (the old join
    * semantics), so degenerate inputs (empty m) stay empty.
    */
  private val powerRoundsFns = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int), Iterator[(Long, Long, String)] => Iterator[(Long, Long, String)]]()

  /** ONE function instance per (dim, iters): typed mapPartitions plans
    * embed the closure by reference, and plan-memo equality (the
    * [[Scale.MemoConf]] contract) needs two builds of the same
    * rounds to compare EQUAL — the TopKByScore sharing lesson.
    */
  private def powerRoundsFn(dim: Int, iters: Int)
      : Iterator[(Long, Long, String)] => Iterator[(Long, Long, String)] =
    powerRoundsFns.computeIfAbsent((dim, iters), { case (d, it) =>
      (rows: Iterator[(Long, Long, String)]) => {
        import java.math.BigInteger
        val entries = rows.map { case (j, k, mv) =>
          (j, k, new BigInteger(mv)) }.toArray
        val bigP = BigInteger.valueOf(PowerQ)
        var r = scala.collection.mutable.HashMap[Long, BigInteger](
          (1 to d).map(j => j.toLong -> bigP): _*)
        var mx = BigInteger.ONE
        for (_ <- 1 to it) {
          val sv = scala.collection.mutable.HashMap.empty[Long, BigInteger]
          entries.foreach { case (j, k, mv) =>
            r.get(k) match {
              case Some(rk) =>
                val term = mv.multiply(rk)
                sv.update(j, sv.get(j).map(_.add(term)).getOrElse(term))
              case None => ()
            }
          }
          // greatest(max(abs(s)), 1): the empty-relation max degrades to
          // the literal 1 exactly as the SQL form's greatest(NULL, 1)
          mx = sv.valuesIterator.map(_.abs)
            .foldLeft(BigInteger.ONE)((a, b) => if (b.compareTo(a) > 0) b else a)
          r = sv.map { case (j, sj) =>
            val v = sj.abs.multiply(bigP).divide(mx)
            j -> (if (sj.signum < 0) v.negate else v)
          }
        }
        r.toSeq.sortBy(_._1).iterator
          .map { case (j, rj) => (j, rj.longValueExact, mx.toString) }
      }
    })

  private def powerRounds(s: org.apache.spark.sql.SparkSession,
      m: DataFrame, dim: Int, iters: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    // m values can pass 2^63 at corpus scale and mx passes 10^20 long
    // before the last round — both cross the task boundary as STRINGS
    // (exact for scale-0 decimals) because the tuple encoder's default
    // BigDecimal type is decimal(38,18), which truncates above 10^20
    val out = Scale.stage(
      m.select(col("j").cast("long"), col("k").cast("long"),
          col("m").cast("string"))
        .as[(Long, Long, String)]
        .coalesce(1)
        .mapPartitions(powerRoundsFn(dim, iters))
        .toDF("j", "r", "mx")
        .select(col("j"), col("r"), col("mx").cast("decimal(38,0)").as("mx")))
    (out.select("j", "r"),
      out.agg(coalesce(max(col("mx")),
        lit(1).cast("decimal(38,0)")).as("mx")))
  }

  /** Exact TRUNCATING (toward-zero) division on signed DECIMALs via
    * remainder subtraction on the absolute value: abs(a) − pmod(abs(a),
    * b) is exactly divisible, so the decimal divide is exact at any
    * scale, and re-applying the sign gives truncation — the SAME
    * convention DuckDB's `//` uses on negatives (measured: -7 // 2 =
    * -3, truncation, NOT floor). Spark's own `div` also truncates but
    * returns Long, which overflows when the quotient itself exceeds
    * 2^63 (the deflation quotients can at corpus scale).
    */
  private def divTrunc(a: Column, b: Column): Column =
    (when(a < 0, lit(-1L)).otherwise(lit(1L)) *
      ((abs(a) - pmod(abs(a), b)) / b).cast("decimal(38,0)"))
      .cast("decimal(38,0)")

  /** Top-2 principal directions by INTEGER-EXACT deflation: run
    * [[powerIterationState]], deflate M' = M − (r·rᵀ)·qd // rr with
    * qd = (rᵀMr) // (rᵀr) (two truncating divisions keep every
    * intermediate under DECIMAL(38,0)'s range — the single-expression
    * form r_j·r_k·rᵀMr overflows at 2^154), then run the SAME rounds
    * on the bounded deflated matrix. Both chains and the deflation are
    * pure integer arithmetic, so the DuckDB oracle replays them
    * bit-for-bit with `//`.
    *
    * Returns dim rows: (dim, v1_q, v2_q, lambda1, lambda2, cos12) —
    * cos12 ≈ 0 certifies the deflation actually removed the top
    * component. Scale: one corpus pass (the moment build); everything
    * else bounded.
    */
  def powerIterationTop2(vectors: DataFrame, dim: Int, iters: Int): DataFrame = {
    val s = vectors.sparkSession
    val P = PowerQ
    val (r1, mx1, m) = powerIterationState(vectors, dim, iters)
    // bounded long arithmetic: |r| ≤ PowerQ = 2^20 (max-norm
    // renormalized each round), so r² ≤ 2^40 and the dim-row sum
    // ≤ dim·2^40 ≤ 2^51 — exact in long before the decimal cast
    val rr = r1.agg(sum(col("r") * col("r")).cast("decimal(38,0)").as("rr"))
    val rj = broadcast(r1.select(col("j"), col("r").as("rj")))
    val rk = broadcast(r1.select(col("j").as("k"), col("r").as("rk")))
    val qd = m.join(rj, "j").join(rk, "k")
      .agg(sum(col("m") * col("rj") * col("rk")).as("rmr"))
      .crossJoin(broadcast(rr))
      .select(divTrunc(col("rmr"), col("rr")).as("qd"), col("rr"))
    val m2 = Scale.stage(m.join(rj, "j").join(rk, "k")
      .crossJoin(broadcast(qd))
      .select(col("j"), col("k"),
        // |rj·rk| ≤ 2^40 (each ≤ PowerQ = 2^20) — the long product is
        // exact; the decimal widening guards the × qd that follows
        (col("m") - divTrunc(
          (col("rj") * col("rk")).cast("decimal(38,0)") * col("qd"),
          col("rr"))).as("m")))
    val (r2, mx2) = powerRounds(s, m2, dim, iters)
    def lam(mx: DataFrame, name: String) = mx.select(
      (expr(s"(mx * 10000) div ${P * P * P}").cast("double") / 1e4).as(name))
    val cos = r1.select(col("j"), col("r").as("r1"))
      .join(r2.select(col("j"), col("r").as("r2")), "j")
      .agg(sum(col("r1") * col("r2")).as("dot"),
        sum(col("r1") * col("r1")).as("n1"),
        sum(col("r2") * col("r2")).as("n2"))
      .select(graft.functions.Det.detRound4(
        when(col("n1") === 0 || col("n2") === 0, lit(0.0))
          .otherwise(col("dot").cast("double") /
            sqrt(col("n1").cast("double") * col("n2").cast("double"))))
        .as("cos12"))
    r1.select(col("j"), col("r").as("v1"))
      .join(r2.select(col("j"), col("r").as("v2")), "j")
      .crossJoin(broadcast(lam(mx1, "l1")))
      .crossJoin(broadcast(lam(mx2, "l2")))
      .crossJoin(broadcast(cos))
      .select(col("j").cast("bigint").as("dim"),
        col("v1").cast("bigint").as("v1_q"), col("v2").cast("bigint").as("v2_q"),
        graft.functions.Det.detRound4(col("l1")).as("lambda1"),
        graft.functions.Det.detRound4(col("l2")).as("lambda2"),
        col("cos12"))
  }
}
