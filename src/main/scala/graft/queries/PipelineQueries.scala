package graft.queries

import graft.Tables
import graft.expressions.{BqSign64, RollingWinnow, ShinglePermMinHash, Sq8Error, TrigramJaccard}
import graft.functions.{Bloom, BloomOr, BloomParams, Text, Vectors}
import graft.operators.{Dedup, Knn, Sampling, Sketches, Stats}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.3-D — LLM-training-data pipeline pack over `documents`/`embeddings`:
  * text analysis, language ID, quality scoring, fingerprinting, exact +
  * MinHash/LSH dedup, n-gram Jaccard, brute-force and LSH similarity
  * search, multimodal join. md5 is the cross-engine exact hash that makes
  * MinHash signatures oracle-replayable in DuckDB.
  */
object PipelineQueries {
  import ConnectorQueries.{detRound4, detRound4Sql}

  val DIM = 64
  val MINHASH_K = 4
  val PROBE_CAP = 500  // brute-force probe bound: keeps x_cosine O(cap·n), not O(n²)
  val KNN_CAP = 100
  // n-permutation MinHash banding: 16 perms cut as 8 bands × 2 rows —
  // match threshold ≈ (1/8)^(1/2) ≈ 0.35 Jaccard; scale by raising perms
  val N_PERMS = 16
  val ROWS_PER_BAND = 2
  // multi-table sign-LSH: 4 tables × 6 planes (64 buckets each) + a
  // per-bucket candidate cap — L is the recall lever, p the bucket-size
  // lever (size p so buckets stay O(1)-ish), the cap the skew backstop
  val LSH_TABLES = 4
  val LSH_TABLE_PLANES = 6
  val LSH_BUCKET_CAP = 128
  // IVF: 16 deterministic centroids (first 16 vectors as the codebook
  // stand-in); cells ~n/16 — scale k with data so cells stay bounded
  val IVF_K = 16
  // PQ: 8 subspaces × 8 dims, 16 codewords each → 4-byte codes; grow
  // PQ_CODE_K to 256 (1 byte/subspace) with real data
  val PQ_M = 8
  val PQ_SUB = DIM / PQ_M
  val PQ_CODE_K = 16
  // equi-width histogram bucket width for the n_chars quantile sketch
  val HIST_W = 16

  // ---- text analysis -------------------------------------------------

  /** English stopword hit count via the ONE-pass native scorer
    * ([[graft.expressions.StopwordCounts]]) — every quality/curation
    * gate reads this; the HOF form re-scanned the token array per
    * language. element_at is 1-based; "en" is stopwordSets.head.
    */
  private def enStopHits(s: SparkSession, toks: Column): Column = {
    element_at(Text.stopwordCountsNative(toks), 1)
  }

  def xTokens(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("word"))
    Tables.documents(s, dir)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .where(col("rn") <= 5)
      .orderBy("lang", "rn")
  }

  def xTokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Text.nWords(Text.tokens(col("text"))).as("n_words"),
        Text.tokenCountEstimate(col("text")).as("est_tokens"),
        length(col("text")).cast("bigint").as("n_chars_actual"))
      .orderBy("doc_id")

  def xLangid(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    // one native counting pass serves all five hit columns AND the
    // argmax — the repeated counts calls dedup via subexpression
    // elimination inside whole-stage codegen
    val counts = Text.stopwordCountsNative(toks)
    val hitCols = Text.stopwordSets.zipWithIndex.map { case ((lang, _), i) =>
      element_at(counts, i + 1).as(s"${lang}_hits")
    }
    Tables.documents(s, dir)
      .select((col("doc_id") +: col("lang").as("labeled_lang") +: hitCols :+
        Text.langIdNative(toks).as("pred_lang")): _*)
      .orderBy("doc_id")
  }

  /** Language-ID CONFUSION MATRIX — the accuracy accounting of the
    * stopword classifier ([[xLangid]]): labeled × predicted doc counts
    * plus the per-cell share of the labeled row. One per-row scoring
    * pass into a 25-cell aggregate; the row-share window runs over the
    * bounded matrix.
    */
  def xLangConfusion(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("lang").as("labeled_lang"), Text.langIdNative(toks).as("pred_lang"))
      .groupBy("labeled_lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("row_share",
        detRound4(col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy("labeled_lang"))))
      .orderBy("labeled_lang", "pred_lang")
  }

  /** Character-trigram language ID — the literal n-gram heuristic: build
    * a top-20-trigram profile per labeled language, score each document
    * by how many profile trigrams it contains, argmax.
    *
    * Train-then-score, the codebook discipline ([[xIvfknnTrained]]):
    *
    *  - TRAIN aggregates straight to (lang, trigram) totals — the key is
    *    distinct-trigram cardinality, not corpus size, so occurrences
    *    collapse in the map-side partial aggregate and the one shuffle
    *    moves a vocabulary, not the corpus. The top-20-per-language
    *    model (≤ 20·|langs| rows) is a bounded index artifact, collected
    *    like the k-means codebook.
    *  - SCORE turns the model into plan-time literals: per document,
    *    hits(L) = how many of L's 20 profile trigrams occur in the text.
    *    "tg ∈ doc's trigram set" ⟺ `contains(text, tg)` — the trigram
    *    set IS all 3-char substrings (docs are filtered to length ≥ 3,
    *    so no partial grams), and UTF-8's self-synchronization makes
    *    byte-level contains equal char-level substring even for
    *    multi-byte profiles. Scoring is therefore ≤ 20·|langs| codegen'd
    *    `contains` calls per row — NO trigram re-extraction, no arrays,
    *    no join, no window. The argmax is `greatest` over
    *    (hits, lang-priority) structs; ties break toward the
    *    lexicographically smallest language (priority = |langs|−i under
    *    `greatest`'s max), matching the oracle's `ORDER BY hits DESC,
    *    plang`. Docs with zero hits for every profile drop out, matching
    *    the oracle's inner join.
    *
    * vs the previous one-pass formulation (corpus-sized (doc,lang,tg)
    * shuffle staged + broadcast join + per-doc rank window): the scoring
    * pass is a single embarrassingly-parallel projection, and the only
    * shuffle left anywhere is the vocabulary-sized training aggregate.
    */
  def xLangidNgram(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).where(length(col("text")) >= 3)
    val wp = Window.partitionBy("lang").orderBy(col("cnt").desc, col("tg"))
    val modelDf = docs
      .select(col("lang"), explode(Text.charTrigramsNative(col("text"))).as("tg"))
      .groupBy("lang", "tg").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wp)).where(col("rn") <= 20)
      .select(col("lang"), col("tg"))
    // the ≤20·|langs|-row model is a bounded index artifact collected at
    // plan-build time; memoized per session (the kmeansTrain codebook
    // contract) so repeat constructions skip the training job
    val model = graft.operators.Scale.memoArtifact(modelDf, "langid_trigram_model") {
      modelDf.collect().map(r => (r.getString(0), r.getString(1)))
    }
    val langs = model.map(_._1).distinct.sorted
    val profile = model.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val scored = langs.zipWithIndex.map { case (l, i) =>
      struct(
        profile(l).map(tg => col("text").contains(tg).cast("bigint"))
          .reduce(_ + _).as("hits"),
        lit(langs.length - i).as("pri"))
    }
    docs
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        greatest(scored: _*).as("b"))
      .where(col("b.hits") > 0)
      .select(col("doc_id"), col("labeled_lang"),
        element_at(typedLit(langs),
          lit(langs.length + 1) - col("b.pri")).as("pred_lang"),
        col("b.hits").as("hits"))
      .orderBy("doc_id")
  }

  def xQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val n = Text.nWords(toks)
    val enHits = enStopHits(s, toks)
    Tables.documents(s, dir)
      .select(col("doc_id"), n.as("n_words"),
        detRound4(Text.sumWordLen(toks).cast("double") / n).as("avg_word_len"),
        detRound4(enHits.cast("double") / n).as("stopword_ratio"),
        detRound4(Text.punctRatio(col("text"))).as("punct_ratio"),
        (n.between(5, 2000) && (enHits.cast("double") / n) < 0.4)
          .cast("bigint").as("quality_ok"))
      .orderBy("doc_id")
  }

  /** Gopher-style document quality rules (Rae et al. 2021, the published
    * heuristic filter battery every large-scale text pipeline runs before
    * dedup): per-document rule columns PLUS the composed verdict, so
    * downstream curation can gate on `pass` and audit WHICH rule fired —
    * the operational difference between a filter and a filter report.
    * Rules here: word-count bounds [50, 100k], mean word length in
    * [3, 10], ≥2 stopword hits, duplicate-3-gram fraction ≤ 0.02, and
    * ≥80% of words containing an alphabetic character. Every RULE is an
    * integer comparison (mean·n and fraction·k forms), so verdicts are
    * exact cross-engine; only the display columns round. The dup-3-gram
    * threshold is fixture-tuned (real corpora run 0.15-0.30; the
    * word-salad fixture's small vocabulary makes repeated 3-grams rare,
    * so 0.02 is where the rule splits at both SFs — the l_burn_rate
    * non-vacuity discipline); wordlen keeps Gopher's published [3, 10]
    * even though the fixture never leaves it (spec-covered). Everything is
    * per-row arithmetic over the token array — no explode, no shuffle
    * before the output sort — so the operator is embarrassingly parallel
    * at any corpus size. The punctuation-dependent Gopher rules (bullet/
    * ellipsis line ratios) are intentionally absent: the fixture corpus
    * has no punctuation (TESTDATA.md), so they would be oracle-invisible;
    * symbol hygiene is covered by the alpha-word rule (spec-tested on
    * synthetic docs in QualityRulesSpec).
    */
  /** Shared per-document rule frame behind [[xGopherRules]] (the report)
    * and [[xRuleAblation]] (the per-source rollup): raw counters plus
    * integer-exact rule verdicts, `source` retained for the rollup.
    */
  private def gopherRuleFrame(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        Text.nWords(toks).as("n_words"),
        Text.sumWordLen(toks).as("sum_len"),
        enStopHits(s, toks).as("stop_hits"),
        greatest(size(toks) - 2, lit(1)).cast("bigint").as("n_g3"),
        size(array_distinct(Text.shinglesNative(toks, 3))).cast("bigint")
          .as("d_g3"),
        size(filter(toks, w => w.rlike("[a-zA-Z]"))).cast("bigint")
          .as("alpha_words"))
      .withColumn("r_words",
        col("n_words").between(50, 100000).cast("bigint"))
      .withColumn("r_wordlen",
        (col("sum_len") >= col("n_words") * 3 &&
          col("sum_len") <= col("n_words") * 10).cast("bigint"))
      .withColumn("r_stop", (col("stop_hits") >= 2).cast("bigint"))
      .withColumn("r_dup",
        ((col("n_g3") - col("d_g3")) * 50 <= col("n_g3")).cast("bigint"))
      .withColumn("r_alpha",
        (col("alpha_words") * 5 >= col("n_words") * 4).cast("bigint"))
      .withColumn("pass",
        (col("r_words") + col("r_wordlen") + col("r_stop") + col("r_dup") +
          col("r_alpha") === 5).cast("bigint"))
  }

  def xGopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRuleFrame(s, dir)
      .select(col("doc_id"), col("n_words"),
        detRound4(col("sum_len").cast("double") / col("n_words"))
          .as("mean_word_len"),
        col("stop_hits"),
        detRound4(lit(1.0) - col("d_g3").cast("double") / col("n_g3"))
          .as("dup3_frac"),
        detRound4(col("alpha_words").cast("double") / col("n_words"))
          .as("alpha_frac"),
        col("r_words"), col("r_wordlen"), col("r_stop"), col("r_dup"),
        col("r_alpha"), col("pass"))
      .orderBy("doc_id")

  /** Per-source quality ablation — the rollup a curation engineer reads
    * before dropping a source from the mix: for each source, how many
    * docs fail each [[gopherRuleFrame]] rule and what fraction survives
    * the whole battery. One corpus scan + one 20-row aggregate (rules
    * are per-row integers, so the map side combines); at 100 TB this is
    * the same plan with more partitions.
    */
  def xRuleAblation(s: SparkSession, dir: String): DataFrame =
    gopherRuleFrame(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - sum("r_words")).as("fail_words"),
        (count(lit(1)) - sum("r_wordlen")).as("fail_wordlen"),
        (count(lit(1)) - sum("r_stop")).as("fail_stop"),
        (count(lit(1)) - sum("r_dup")).as("fail_dup"),
        (count(lit(1)) - sum("r_alpha")).as("fail_alpha"),
        sum("pass").as("n_pass"))
      .withColumn("pass_rate",
        detRound4(col("n_pass").cast("double") / col("n_docs")))
      .orderBy("source")

  /** Linear quality classifier (the fastText-style gate distilled to its
    * dataflow): four per-document features — ln(token count), mean word
    * length, stopword ratio, type-token ratio — combined under FIXED
    * published-style weights into one score, gated at 0. One corpus
    * scan, per-row arithmetic, no shuffle before the sink: the shape a
    * learned quality filter runs at 100 TB (weights broadcast-free
    * plan-time literals; swapping in trained weights changes constants,
    * not the plan). The score > 0 gate is exact cross-engine: both
    * engines evaluate the identical left-associated expression over the
    * same doubles, and the fixture's nearest score to 0 is 5e-5 — nine
    * orders above ULP drift.
    */
  def xQualityLr(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val n = Text.nWords(toks).cast("double")
    val awl = Text.sumWordLen(toks).cast("double") / n
    val stop = enStopHits(s, toks).cast("double") / n
    val ttr = size(array_distinct(toks)).cast("double") / n
    val score = lit(-2.0) + lit(0.5) * log(n) + lit(0.2) * awl +
      lit(3.0) * stop - lit(1.5) * ttr
    Tables.documents(s, dir)
      .select(col("doc_id"), detRound4(score).as("lr_score"),
        (score > 0).cast("bigint").as("kept"))
      .orderBy("doc_id")
  }

  /** Threshold grid for [[xQualitySweep]] — plan-time literals spanning
    * the fixture score range non-vacuously at every point (212-446 of
    * 500 kept at sf0.01).
    */
  val QUALITY_SWEEP_TAUS = Seq(-0.5, -0.25, 0.0, 0.25, 0.5)

  /** Quality-gate CALIBRATION sweep — the operational question behind
    * [[xQualityLr]]'s fixed cut: for each candidate threshold, how much
    * of the corpus survives and what does the surviving text look like.
    * One corpus scan; the per-doc score fans out over the BOUNDED
    * 5-point grid and partial-aggregates map-side, so the sweep costs
    * one aggregate more than the gate itself at any corpus size. Kept
    * means are exact integer-sum ratios (one division at the end);
    * verdict exactness rides the same ULP-margin argument as
    * x_quality_lr (nearest raw score to any grid point ≳ 1e-4 — nine
    * orders above cross-engine ln() drift).
    */
  def xQualitySweep(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val n = Text.nWords(toks).cast("double")
    val awl = Text.sumWordLen(toks).cast("double") / n
    val stop = enStopHits(s, toks).cast("double") / n
    val ttr = size(array_distinct(toks)).cast("double") / n
    val score = lit(-2.0) + lit(0.5) * log(n) + lit(0.2) * awl +
      lit(3.0) * stop - lit(1.5) * ttr
    Tables.documents(s, dir)
      .select(score.as("score"), Text.nWords(toks).as("n_words"))
      .select(col("score"), col("n_words"),
        explode(array(QUALITY_SWEEP_TAUS.map(lit): _*)).as("tau"))
      .groupBy("tau")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("score") > col("tau")).cast("bigint")).as("n_kept"),
        sum(when(col("score") > col("tau"), col("n_words"))
          .otherwise(0L)).as("__kw"))
      .select(col("tau"), col("n_kept"),
        detRound4(col("n_kept").cast("double") / col("n_docs")).as("kept_frac"),
        detRound4(expr("try_divide(CAST(__kw AS DOUBLE), CAST(n_kept AS DOUBLE))"))
          .as("kept_mean_words"))
      .orderBy("tau")
  }

  /** Hard-negative mining for contrastive training: each bounded probe's
    * most-similar candidate with a DIFFERENT label — the pair a
    * retrieval/embedding trainer wants next to the positive. Scale shape
    * = [[Knn.bruteForceTopK]]'s exactly: probes (with their labels)
    * broadcast, the corpus STREAMS with no shuffle, the label-mismatch
    * predicate rides the broadcast join, and TopKByScore partial-
    * aggregates each partition to |probes| rows before the one exchange.
    */
  def xHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Knn.hardNegatives(emb.where(col("vec_id") < KNN_CAP), emb, DIM)
      .select(col("probe_id").as("vec_id"), col("cand_id").as("hard_neg"),
        detRound4(col("sim")).as("sim"))
      .orderBy("vec_id")
  }

  /** The dataset datasheet in ONE corpus scan: volume (docs, tokens,
    * chars), diversity (languages, sources), shape (mean doc length),
    * and the quality-gate pass share — the numbers a dataset card opens
    * with. Every stat is a map-side-combining aggregate over the same
    * per-doc projection; integer sums keep the means exact.
    */
  def xDatasetCard(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val n = Text.nWords(toks)
    val enHits = enStopHits(s, toks)
    Tables.documents(s, dir)
      .select(col("lang"), col("source"), col("n_chars"), n.as("n_words"),
        (n.between(5, 2000) && (enHits.cast("double") / n) < 0.4)
          .cast("bigint").as("ok"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_tokens"),
        sum("n_chars").as("total_chars"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        detRound4(sum(col("n_words")).cast("double") / count(lit(1)))
          .as("mean_doc_tokens"),
        detRound4(sum(col("ok")).cast("double") / count(lit(1)))
          .as("quality_pass_share"))
  }

  def xFingerprint(s: SparkSession, dir: String): DataFrame =
    // sig0 of the MinHash family == the fingerprint; the explode+min-agg
    // path evaluates md5 once per shingle as a scalar (the per-row
    // array-transform formulation is ~2× slower under codegen)
    Dedup.withMinhashSigs(Tables.documents(s, dir), col("text"), 1)
      .withColumnRenamed("sig0", "fp")
      .orderBy("doc_id")

  // ---- dedup ---------------------------------------------------------

  def xDocdedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), col("text"))
      .orderBy("content_hash")

  def xMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.withMinhashSigs(
        Tables.documents(s, dir).select("doc_id", "text"), col("text"), MINHASH_K)
      .drop("text")
      .orderBy("doc_id")

  def xLshpairs(s: SparkSession, dir: String): DataFrame =
    Dedup.lshCandidates(Tables.documents(s, dir), col("text"), MINHASH_K)
      .orderBy("doc_a", "doc_b")

  /** n-permutation seeded MinHash signatures in long (doc, perm, sig)
    * format — the scale-grade family ([[Dedup.withPermMinhashSigs]],
    * 16 permutations; the rotation family caps at 4).
    */
  def xMinhashPerm(s: SparkSession, dir: String): DataFrame =
    Dedup.withPermMinhashSigs(
        Tables.documents(s, dir).select("doc_id", "text"), col("text"), N_PERMS)
      .select(col("doc_id"), posexplode(col("sigs")))
      .select(col("doc_id"), col("pos").cast("bigint").as("perm"), col("col").as("sig"))
      .orderBy("doc_id", "perm")

  /** Banded LSH near-dup candidates over the 16-perm family: 8 bands ×
    * 2 rows ([[Dedup.bandedCandidates]]).
    */
  def xLshpairsBanded(s: SparkSession, dir: String): DataFrame =
    Dedup.bandedCandidates(Tables.documents(s, dir), col("text"),
        N_PERMS, ROWS_PER_BAND)
      .orderBy("doc_a", "doc_b")

  /** INCREMENTAL near-dup probe — the ingest pattern that makes dedup
    * sustainable at 100 TB: every fourth doc plays the arriving shard,
    * the rest the already-kept corpus whose band INDEX
    * ([[Dedup.bandRows]]) is the durable artifact of the last run;
    * [[Dedup.probeBandIndex]] equi-joins shard band rows against it, so
    * ingest cost is |delta|·bands — the full corpus is never re-paired.
    * One staged signature pass feeds both sides (in production the base
    * side is READ, not recomputed — here it must be built so the oracle
    * can replay it). Output: per matched shard doc, its distinct
    * base-corpus match count and the smallest matching base id.
    */
  def xDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val rows = graft.operators.Scale.stage(
      Dedup.bandRows(Tables.documents(s, dir).select("doc_id", "text"),
          col("text"), N_PERMS, ROWS_PER_BAND)
        .select("doc_id", "band", "key"))
    Dedup.probeBandIndex(
        index  = rows.where(col("doc_id") % 4 =!= 0),
        probes = rows.where(col("doc_id") % 4 === 0))
      .orderBy("doc_id")
  }

  /** The INGEST-mode curation pipeline — how the curate matrix actually
    * runs at 100 TB day-to-day: the kept corpus is NEVER re-curated; an
    * arriving delta (every fourth doc) flows quality gate →
    * decontamination → near-dup probe against the kept corpus's STORED
    * band index → context-window chunking, each stage |delta|-sized
    * plus fixed broadcast artifacts (the eval-gram set; the matched-id
    * list). The base corpus appears ONLY through its durable index
    * ([[Dedup.bandRows]] — recomputed here solely so the oracle can
    * replay it; production reads the `(band, key)`-bucketed parquet,
    * and ScaleSpec's cell-index lifecycle test pins the analogous
    * no-index-side-shuffle plan). Output: the surviving delta's
    * training chunks — the composition of x_curate_clean's gates with
    * x_dedup_incremental's probe, in ONE plan.
    */
  def xCurateIncremental(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val nW = Text.nWords(toks)
    val enHits = enStopHits(s, toks)
    val docs = Tables.documents(s, dir)
    val delta = docs.where(col("doc_id") % 4 === 0)
    def grams(d: DataFrame) = d.select(col("doc_id"),
      explode(Text.shinglesNative(toks, 4)).as("gram"))
    // quality gate on the arriving delta (eval-slice docs never ingest)
    val quality = delta.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("text"), nW.as("n_words"),
        (enHits.cast("double") / nW).as("swr"))
      .where(col("n_words").between(5, 2000) && col("swr") < 0.4)
    // decontamination: the eval 4-gram set is the fixed broadcast
    // artifact every ingest run reuses
    val evalGrams = grams(docs.where(col("doc_id") % 50 === 0))
      .select("gram").distinct()
    val contam = grams(quality.select("doc_id", "text"))
      .join(broadcast(evalGrams), "gram").select("doc_id").distinct()
    val clean = quality.join(broadcast(contam), Seq("doc_id"), "left_anti")
    // near-dup probe: delta band rows vs the kept corpus's band index —
    // |delta|·bands join, the base never re-paired against itself
    val index = Dedup.bandRows(
        docs.where(col("doc_id") % 4 =!= 0).select("doc_id", "text"),
        col("text"), N_PERMS, ROWS_PER_BAND)
      .select("doc_id", "band", "key")
    val probes = Dedup.bandRows(clean.select("doc_id", "text"),
        col("text"), N_PERMS, ROWS_PER_BAND)
      .select("doc_id", "band", "key")
    val dupIds = Dedup.probeBandIndex(index, probes).select("doc_id")
    val kept = clean.join(broadcast(dupIds), Seq("doc_id"), "left_anti")
    Sampling.chunked(kept.select("doc_id", "text"), col("text"), CHUNK_BUDGET)
      .select("doc_id", "chunk", "n_tok")
      .orderBy("doc_id", "chunk")
  }

  /** Near-dup CLUSTERS from the banded candidates: connected components
    * labeled by smallest member ([[Dedup.dupClusters]]) — transitive
    * closure of "is a candidate pair of", the step that turns pairs into
    * keep-one-per-cluster decisions.
    */
  def xDupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.dupClusters(docs,
        Dedup.bandedCandidates(docs, col("text"), N_PERMS, ROWS_PER_BAND))
      .orderBy("doc_id")
  }

  /** Same clusters via the alternating large-star/small-star edge
    * rewriting ([[Dedup.dupClustersStar]]) — the doubly-logarithmic CC
    * alternative, hash-matched against the SAME recursive-CTE oracle as
    * [[xDupClusters]] (and spec-matched against it on adversarial
    * graphs).
    */
  def xDupClustersStar(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.dupClustersStar(docs,
        Dedup.bandedCandidates(docs, col("text"), N_PERMS, ROWS_PER_BAND))
      .orderBy("doc_id")
  }

  /** Dedup cluster-size histogram — the number a dedup run reports: how
    * many clusters of each size the near-dup graph collapses to (size 1
    * = unique docs), with the doc count per size. Two bounded aggregates
    * over the CC label relation — the expensive part is the clustering
    * itself, shared shape with [[xDupClusters]].
    */
  def xClusterStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.dupClusters(docs,
        Dedup.bandedCandidates(docs, col("text"), N_PERMS, ROWS_PER_BAND))
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy("cluster_size")
  }

  /** Cluster-REPRESENTATIVE selection — the step after clustering when
    * curation keeps the BEST member (longest doc; ties to the lowest
    * doc_id) instead of the smallest id: one max_by hash aggregate per
    * cluster over the CC labels (map-side partial, no window sort).
    * Completes the dedup story: pairs → clusters → representative.
    */
  def xKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val clusters = Dedup.dupClusters(docs,
      Dedup.bandedCandidates(docs, col("text"), N_PERMS, ROWS_PER_BAND))
    docs.select(col("doc_id"), Text.nWords(Text.tokens(col("text"))).as("n_words"))
      .join(clusters, "doc_id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_docs"),
        max_by(col("doc_id"), struct(col("n_words"), -col("doc_id"))).as("keep_doc"),
        max("n_words").as("keep_words"))
      .orderBy("cluster")
  }

  def xSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.withSimhash(Tables.documents(s, dir), col("text"))
      .select("doc_id", "simhash")
      .orderBy("doc_id")

  /** SimHash near-dup pipeline end-to-end: corpus-scaled bit-bands →
    * candidate equi-join → exact Hamming verification at distance ≤ 12
    * ([[Dedup.simhashCandidates]]) — the bit-signature twin of x_neardup.
    * The band layout defaults from the corpus count
    * ([[Dedup.simhashWidthFor]]: 4×16-bit through n = 16384 — both
    * fixture SFs — then 2×32, bounding accidental collisions to ≤ n/2
    * pairs at any scale); the DuckDB oracle replays the same integer
    * rule from count(*), so the hash match holds at every SF without a
    * pinned constant.
    */
  def xSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashCandidates(Tables.documents(s, dir), col("text"),
        nBands = Dedup.simhashBands(Tables.documents(s, dir)),
        maxHamming = 12)
      .orderBy("doc_a", "doc_b")

  def xJaccard(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val a = t.select(col("doc_id").as("doc_a"), col("toks").as("ta"))
    val b = t.select(col("doc_id").as("doc_b"), col("toks").as("tb"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        detRound4(Dedup.jaccard(col("ta"), col("tb"))).as("jac"))
      .orderBy("doc_a")
  }

  /** MinHash estimator quality as a query — the sketch-accuracy twin of
    * the ANN recall metrics: per adjacent doc pair, the signature-
    * agreement Jaccard ESTIMATE (fraction of the 16 permutations whose
    * minima agree) against the exact 3-shingle-set Jaccard, with the
    * absolute error. The number that tells you whether N_PERMS is sized
    * right, computed in-engine from the same signatures the LSH uses.
    */
  def xMinhashEst(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // ONE per-doc pass carries BOTH comparison inputs — the 64-perm
    // signature and the distinct shingle set — so the adjacent-pair
    // equi-join runs once; the before-plan derived sigs and shingles
    // separately per join side (four text passes, eight scans, three
    // joins for the same rows)
    val per = docs.select(col("doc_id"),
      ShinglePermMinHash.call(Text.tokens(col("text")), lit(3), lit(N_PERMS)).as("sigs"),
      array_distinct(Text.shinglesNative(Text.tokens(col("text")), 3)).as("sh"))
    val est = size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
      b => b)).cast("double") / N_PERMS
    per.select(col("doc_id").as("doc_a"), col("sigs").as("sa"),
        col("sh").as("sha"))
      .join(per.select(col("doc_id").as("doc_b"), col("sigs").as("sb"),
        col("sh").as("shb")), col("doc_b") === col("doc_a") + 1)
      .withColumn("est", est)
      .withColumn("exact", Dedup.jaccardDistinct(col("sha"), col("shb")))
      .select(col("doc_a"), col("doc_b"),
        detRound4(col("est")).as("est_jac"),
        detRound4(col("exact")).as("exact_jac"),
        detRound4(abs(col("est") - col("exact"))).as("abs_err"))
      .orderBy("doc_a")
  }

  /** The corpus 3-gram frequency relation the sketch queries share:
    * one explode + one map-side-combined groupBy — the exact-counts
    * side every sketch is judged against.
    */
  private def gramCounts(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(explode(Text.shinglesNative(Text.tokens(col("text")), 3)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
  }

  /** Count-Min sketch point estimates vs exact counts — the
    * frequency-sketch twin of [[xMinhashEst]]: the D×W counter table
    * ([[Sketches.cmsSketch]], ≤4096 rows regardless of corpus size) is
    * probed for the top-50 grams and each estimate is scored against
    * the exact count (overcount ≥ 0 by construction — CMS never
    * undercounts). Scale shape: counts is one map-side-combined
    * groupBy; the sketch and the TakeOrdered(50) probe set are both
    * bounded and broadcast; nothing pairwise anywhere.
    */
  /** The D×W gram-count CMS counter table — STAGED: ≤
    * [[Sketches.CMS_D]]·[[Sketches.CMS_W]] rows (bounded) whose lineage
    * is the corpus gram explode + vocabulary count; x_cms and x_cms_err
    * each re-built it privately (x_cms_err's before-plan re-derived the
    * gram counts FOUR times: sketch, probe set, total mass, final
    * join). */
  private def gramCms(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.stage(
      Sketches.cmsSketch(gramCounts(s, dir), col("gram"), col("cnt")))

  def xCms(s: SparkSession, dir: String): DataFrame = {
    val counts = gramCounts(s, dir)
    val sk = gramCms(s, dir)
    // bounded (50 rows): staged so the probe pass reads it instead of
    // re-running the vocabulary TakeOrdered a second time
    val top = graft.operators.Scale.stage(
      counts.orderBy(col("cnt").desc, col("gram")).limit(50))
    // exact cnt rides the probe pass (constant per gram), replacing the
    // join back to the top-50 relation
    Sketches.cmsEstimate(top, col("gram"), sk, carry = Seq("cnt"))
      .withColumnRenamed("item", "gram")
      .select(col("gram"), col("cnt").as("exact_cnt"), col("est").as("cms_est"),
        (col("est") - col("cnt")).as("overcount"))
      .orderBy("gram")
  }

  /** The CMS error-guarantee audit over the WHOLE vocabulary: one
    * summary row — total grams, total mass N, how many estimates
    * overcount at all, the worst and summed overcounts, and how many
    * exceed the 2·N/W Markov bound (expected overcount per hash row is
    * ≤ N/W; the min over [[Sketches.CMS_D]] rows should beat it, so
    * this count is the sketch-health number an ingest would alert on).
    * All-integer arithmetic — the bound check is (est−cnt)·W > 2·N,
    * never a float division. N reaches the predicate via the
    * aggregate-broadcast-crossJoin scalar pattern.
    */
  def xCmsErr(s: SparkSession, dir: String): DataFrame = {
    val counts = gramCounts(s, dir)
    val sk = gramCms(s, dir)
    // exact cnt rides the one probe pass (constant per gram) — the
    // before-plan re-derived the vocabulary counts and shuffle-joined
    // them back onto the estimates
    val est = Sketches.cmsEstimate(counts, col("gram"), sk, carry = Seq("cnt"))
      .withColumnRenamed("item", "gram")
    // N = Σ cnt — read off the staged sketch instead of a third corpus
    // pass: every occurrence lands in exactly ONE bucket of each hash
    // row, so row 0's counters sum to the exact total mass
    val nTot = sk.where(col("row") === 0).agg(sum(col("c")).as("n_total"))
    est.crossJoin(broadcast(nTot))
      .agg(count(lit(1)).as("n_grams"),
        max(col("n_total")).as("n_total"),
        // decimal accumulate: est/cnt are corpus-mass longs, and the
        // vocabulary-wide overcount sum can pass 2^63 in the multi-TB
        // regime while DuckDB widens to HUGEINT; BIGINT only at output
        sum((col("est") - col("cnt")).cast("decimal(38,0)"))
          .cast("bigint").as("sum_overcount"),
        max(col("est") - col("cnt")).as("max_overcount"),
        sum((col("est") > col("cnt")).cast("bigint")).as("n_over"),
        sum(((col("est") - col("cnt")) * Sketches.CMS_W >
          col("n_total") * 2).cast("bigint")).as("n_exceed_2nw"))
  }

  /** HyperLogLog register state over the gram stream — the oracled
    * register-level twin of the estimate-only `q_approx` class: bucket
    * = top 6 bits of md5, register = max(leading-zero rank) per bucket
    * ([[Sketches.hllRegisters]]), numer = the exact integer
    * harmonic-mean numerator 2^(59−register). No distinct pass — max
    * is duplicate-idempotent, which is why HLL streams; the whole
    * query is one explode + one 64-group aggregate. The float estimate
    * α·m²/Σ2^−reg is deliberately NOT in the query (libm is not
    * cross-engine); SketchesSpec derives it from these registers and
    * checks it against the exact distinct count.
    */
  def xHll(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(explode(Text.shinglesNative(Text.tokens(col("text")), 3)).as("gram"))
    Sketches.hllRegisters(grams, col("gram")).orderBy("bucket")
  }

  /** CMS join-cardinality estimation — the query-planner use of the
    * sketch (the AQE-style "how big is this join" question answered
    * from two D×W counter tables instead of the data): the corpus is
    * split by doc_id parity, each half's gram counts are sketched, and
    * |A ⋈ B| on gram is estimated as min over the D rows of the
    * counter inner product Σ_b cA[b]·cB[b] — an overestimate of the
    * true join size Σ_gram cntA·cntB, exact when no bucket collides.
    * One row out: estimate, exact, overcount. All-integer; the inner
    * product is a ≤W-row join per hash row, computed entirely on the
    * two bounded sketches.
    */
  def xCmsJoinest(s: SparkSession, dir: String): DataFrame = {
    // half counts read off the ONE staged parity-count relation
    // (shared with x_kl/x_keyness/x_llr/x_kmv_overlap/x_bloom via the
    // stage memo) instead of re-exploding the corpus per half
    val byGram = parityGramCounts(s, dir)
    def half(c: String) = byGram.where(col(c) > 0)
      .select(col("gram"), col(c).as("cnt"))
    val (a, b) = (half("c0"), half("c1"))
    val est = Sketches.cmsJoinEstimate(
      Sketches.cmsSketch(a, col("gram"), col("cnt")),
      Sketches.cmsSketch(b, col("gram"), col("cnt")))
    val exact = a.withColumnRenamed("cnt", "ca").join(b.withColumnRenamed("cnt", "cb"), "gram")
      // decimal BEFORE the multiply (corpus-mass products overflow Long
      // near ~3e10 occurrences); the output contract stays BIGINT
      .agg(coalesce(sum(col("ca").cast("decimal(38,0)") * col("cb")),
        lit(0L).cast("decimal(38,0)")).as("exact_join"))
    est.crossJoin(broadcast(exact))
      .select(col("est_join").cast("bigint").as("est_join"),
        col("exact_join").cast("bigint").as("exact_join"),
        (col("est_join") - col("exact_join")).cast("bigint").as("overcount"))
  }

  /** K-minimum-values distinct sketch — the mergeable cardinality
    * sketch whose state is EXACTLY replayable as a TakeOrdered: the
    * [[Sketches.KMV_K]] smallest md5-derived 64-bit hashes of the
    * distinct gram set (two 32-bit halves joined, same nibble math as
    * [[xHll]]). Unlike HLL it supports set INTERSECTION estimates, so
    * it is the sketch a planner keeps per partition for overlap
    * planning. Output: rank, hash value — integer state only; the
    * (k−1)/θ float estimate lives in SketchesSpec next to the HLL one.
    * Scale shape: one explode + distinct + TakeOrdered(k) — never a
    * full sort at the output, vocabulary-sized input.
    */
  def xKmv(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(explode(Text.shinglesNative(Text.tokens(col("text")), 3)).as("gram"))
      .distinct()
    // 63-bit hash (top bit masked off v1): keeps the value positive in
    // a signed BIGINT on both engines so min-order == unsigned order
    val h = grams.select(md5(col("gram").cast("binary")).as("m"))
      .select((Sketches.hex32(col("m"), 1).bitwiseAND(lit((1L << 31) - 1)) *
        lit(1L << 32) + Sketches.hex32(col("m"), 9)).as("h"))
    h.orderBy("h").limit(Sketches.KMV_K)
      .select(row_number().over(Window.orderBy("h")).cast("bigint").as("rank"),
        col("h"))
      .orderBy("rank")
  }

  /** KMV set-INTERSECTION estimation — the operation HLL cannot do and
    * the reason a planner keeps KMV states per partition: the corpus
    * gram set is split by doc_id parity, each half is sketched
    * ([[xKmv]] state), the union sketch is the k smallest of the two
    * states MERGED, and every union-sketch member that appears in BOTH
    * states votes for the intersection (sound because θ_U ≤ θ_A, θ_B:
    * a union-sketch hash belonging to A is necessarily inside A's
    * k-min state). Output is one all-integer row — n_both (the vote),
    * theta_u (the k-th union hash), k, and the exact intersection /
    * union distinct counts the spec scores the float estimates
    * against. Scale shape: one distinct per half, three
    * TakeOrdered(k), then joins of ≤k-row relations.
    */
  def xKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    // half gram SETS from the one staged parity-count relation
    val byGram = parityGramCounts(s, dir)
    // distinct on h (not just gram): KMV state is a set of HASHES
    def hashes(c: String) = byGram.where(col(c) > 0)
      .select(md5(col("gram").cast("binary")).as("m"))
      .select((Sketches.hex32(col("m"), 1).bitwiseAND(lit((1L << 31) - 1)) *
        lit(1L << 32) + Sketches.hex32(col("m"), 9)).as("h"))
      .distinct()
    val (ha, hb) = (hashes("c0"), hashes("c1"))
    def kmin(h: DataFrame) = h.orderBy("h").limit(Sketches.KMV_K)
    val (ka, kb) = (kmin(ha), kmin(hb))
    val ku = kmin(ka.union(kb).distinct())
    val nBoth = ku.join(ka, Seq("h"), "left_semi")
      .join(kb, Seq("h"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    val thetaU = ku.agg(max(col("h")).as("theta_u"))
    val exact = ha.withColumn("in_a", lit(1)).join(
        hb.withColumn("in_b", lit(1)), Seq("h"), "full_outer")
      // coalesce: disjoint halves make every product NULL and a bare
      // sum would return NULL where the oracle's max(CASE) path gives 0
      .agg(coalesce(sum((col("in_a") * col("in_b")).cast("bigint")), lit(0L))
        .as("exact_inter"),
        count(lit(1)).as("exact_union"))
    nBoth.crossJoin(broadcast(thetaU)).crossJoin(broadcast(exact))
      .select(col("n_both"), col("theta_u"),
        lit(Sketches.KMV_K.toLong).as("k"),
        col("exact_inter"), col("exact_union"))
  }

  /** Equi-width histogram quantiles — the bounded-state percentile a
    * planner/quality-gate keeps instead of a full sort: doc length
    * (`n_chars`) is bucketed at width [[HIST_W]], and for each p ∈
    * {25,50,90,99} the estimate is the first bucket whose cumulative
    * count reaches ceil(p·N/100), scored against the exact discrete
    * quantile (same index rule) computed from the per-VALUE counts.
    * All-integer. Scale shape: two map-side-combined groupBys (values,
    * buckets); the cumulative windows run over the bounded distinct-
    * value/bucket relations, never the corpus; N arrives by aggregate
    * broadcast cross join.
    */
  def xHistPctile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pcts = Seq(25, 50, 90, 99).toDF("p")
    val n = docs.agg(count(lit(1)).as("n"))
    val vc = docs.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
    // floor-div, not CAST(x / w): DuckDB's CAST rounds where Spark's
    // truncates — floor() agrees on both engines for the ≥0 domain
    val bc = docs.groupBy(floor(col("n_chars") / HIST_W).cast("bigint").as("b"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)))
    val tgt = pcts.crossJoin(broadcast(n))
      .select(col("p"), ceil(col("p") * col("n") / 100).cast("bigint").as("idx"))
    def pick(t: DataFrame, keyed: DataFrame, key: String, out: String) =
      t.join(broadcast(keyed), col("cum") >= col("idx"))
        .groupBy("p").agg(min(col(key)).as(out))
    pick(tgt, vc, "v", "exact_q")
      .join(pick(tgt, bc, "b", "hb"), "p")
      .select(col("p").cast("bigint").as("p"), col("exact_q"),
        (col("hb") * HIST_W).as("hist_lo"),
        ((col("hb") + 1) * HIST_W - 1).as("hist_hi"),
        (col("exact_q") - col("hb") * HIST_W).as("err_lo"))
      .orderBy("p")
  }

  /** AMS F2 sketch — the second-moment / self-join-size estimator
    * (Alon–Matias–Szegedy): [[Sketches.AMS_D]] independent ±1 sign
    * rows, Z_d = Σ sign_d(gram)·cnt, estimate = median of Z², scored
    * against the exact F2 = Σ cnt² (the size of the gram self-join —
    * the quantity a planner wants before a skewed self-join, and the
    * repetitiveness number a dedup pass alerts on). All integers; the
    * even-count median averages the two middle order stats with
    * floor-div. One explode + one 8-group aggregate; the median runs
    * over the bounded 8-row relation.
    */
  def xAms(s: SparkSession, dir: String): DataFrame = {
    val counts = gramCounts(s, dir)
    val z = counts
      .select(explode(array((0 until Sketches.AMS_D).map(d =>
        struct(lit(d).as("d"),
          (Sketches.amsSign(d, col("gram")) * col("cnt")).as("t"))): _*)).as("e"))
      .groupBy(col("e.d").as("d")).agg(sum(col("e.t")).as("z"))
      // decimal BEFORE the square: |z| ~ sqrt(F2) exceeds the Long
      // square root (~3e9) in the multi-TB regime
      .select(col("d"), (col("z").cast("decimal(38,0)") * col("z")).as("z2"))
    val med = z
      .select(col("z2"), row_number().over(Window.orderBy("z2", "d")).as("rn"))
      .where(col("rn") === Sketches.AMS_D / 2 || col("rn") === Sketches.AMS_D / 2 + 1)
      .agg(sum(col("z2")).as("s2"))
      .select(expr("CAST(s2 div 2 AS BIGINT)").as("est_f2"))
    val exact = counts
      .agg(sum(col("cnt").cast("decimal(38,0)") * col("cnt")).as("exact_f2"))
    med.crossJoin(broadcast(exact))
      .select(col("est_f2"), col("exact_f2").cast("bigint").as("exact_f2"),
        detRound4(col("est_f2").cast("double") / col("exact_f2")).as("ratio"))
  }

  /** Zipf head size for [[xZipf]] — shared with the oracle. */
  val ZIPF_K = 1000

  /** Zipf-law fit over the corpus 3-gram frequencies
    * ([[graft.operators.Stats.zipfFit]]): OLS slope/intercept/r² of
    * ln(cnt) against ln(rank) on the top-[[ZIPF_K]] head — the
    * vocabulary-health law a curation pass checks before trusting
    * frequency-based filters (natural text ≈ −1 slope, high r²).
    * ln() runs only on the bounded head; every sum is exact integers.
    */
  def xZipf(s: SparkSession, dir: String): DataFrame =
    Stats.zipfFit(gramCounts(s, dir), col("gram"), col("cnt"), ZIPF_K)

  /** Heaps'-law checkpoint count — shared with the oracle. */
  val HEAPS_B = 16

  /** Heaps'-law vocabulary-growth fit: V(n) ≈ K·n^β, read off
    * [[HEAPS_B]] doc-prefix checkpoints (cut_i = (i·nDocs) div B —
    * the rule derives from count(*) in BOTH engines, so it is
    * SF-independent). Per checkpoint: tokens = Σ gram occurrences in
    * the prefix, vocab = #grams whose FIRST occurrence (min doc_id —
    * one aggregate, no running state) lands in the prefix; β and ln K
    * come from [[Stats.lnOlsFit]] on the 16 bounded points. β well
    * under 1 is healthy text; β ≈ 1 means vocabulary grows as fast as
    * the corpus — the word-salad / boilerplate-explosion alarm. Scale
    * shape: two map-side aggregates over one explode, then everything
    * runs on ≤B-row or broadcast relations.
    */
  def xHeaps(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(Text.shinglesNative(Text.tokens(col("text")), 3)).as("gram"))
    val fo = g.groupBy("gram").agg(min(col("doc_id")).as("fd"))
    val dt = g.groupBy("doc_id").agg(count(lit(1)).as("ng"))
    val nD = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
    val cuts = s.range(1, HEAPS_B + 1).toDF("i")
      .crossJoin(broadcast(nD))
      .select(col("i"), expr(s"(i * nd) div $HEAPS_B").as("cut"))
    val toks = dt.crossJoin(broadcast(cuts))
      .where(col("doc_id") < col("cut"))
      .groupBy("i").agg(sum(col("ng")).as("tokens"))
    val voc = fo.crossJoin(broadcast(cuts))
      .where(col("fd") < col("cut"))
      .groupBy("i").agg(count(lit(1)).as("vocab"))
    Stats.lnOlsFit(toks.join(voc, "i"), col("tokens"), col("vocab"))
  }

  /** Bootstrap replica count. */
  val BOOT_B = 32

  /** Poisson(1) inverse-CDF thresholds on the 2^32 hash scale —
    * P(W ≤ k) · 2^32 for k = 0..4 (k = 5 past the last): the weights
    * of the Poisson bootstrap, resolved by pure integer comparison on
    * a 32-bit hash, so resampling is deterministic and identical in
    * both engines.
    */
  val BOOT_THRESH: Seq[Long] =
    Seq(0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563)
      .map(p => (p * 4294967296.0).toLong)

  /** Deterministic Poisson bootstrap of the mean-doc-length metric —
    * error bars for a corpus statistic without a second pass over
    * resampled data (Poisson bootstrap is the STREAMING bootstrap:
    * each doc draws an independent Poisson(1) replica weight, here
    * inverted from a salted 32-bit hash through the fixed
    * [[BOOT_THRESH]] CDF table, so every engine and partitioning draws
    * the same replicas). [[BOOT_B]] replica means come from ONE
    * explode(×B) + one map-side-combined aggregate; the interval
    * (replica min/max) and the bootstrap SE (exact quantized-mean
    * variance, the stdDev discipline) read off the bounded 32-row
    * relation. Scale: one corpus pass producing B×n rows map-combined
    * to B — no resampled copy of the data ever materializes.
    */
  def xBootstrap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
          .cast("long").as("nw"))
    // replica index explodes FIRST, then ONE md5/CASE runs on the
    // exploded rows — 32 inlined md5+CASE trees in a single generator
    // overflow Janino's method limit and drop the stage to interpreted
    val u = Sketches.hex32(md5(concat(col("b").cast("string"), lit("!"),
      col("doc_id").cast("string")).cast("binary")), 1)
    val w = BOOT_THRESH.zipWithIndex
      .foldRight(lit(BOOT_THRESH.size.toLong): Column) {
        case ((t, k), els) => when(u < t, lit(k.toLong)).otherwise(els)
      }
    val reps = docs
      .select(col("doc_id"), col("nw"),
        explode(sequence(lit(0L), lit(BOOT_B - 1L))).as("b"))
      .select(col("nw"), col("b"), w.as("w"))
      .groupBy("b")
      .agg(sum(col("w") * col("nw")).as("swn"), sum(col("w")).as("sw"))
      .select(col("b"),
        round(when(col("sw") === 0, lit(0.0))
          .otherwise(col("swn").cast("double") / col("sw").cast("double")) * 10000)
          .cast("long").as("mq"))
    val ranked = reps.select(col("b"), col("mq"),
      row_number().over(Window.orderBy("mq", "b")).as("rn"))
    val lohi = ranked.agg(
      min(when(col("rn") === 1, col("mq"))).as("loq"),
      min(when(col("rn") === BOOT_B, col("mq"))).as("hiq"))
    // decimal BEFORE the multiply (the repo-wide rule): mq is a
    // mean×10⁴ long, and a long×long square overflows silently once
    // mq ≳ 3e9 — widening after the product would be too late
    val se = reps.agg(count(lit(1)).as("bb"),
      sum(col("mq").cast("decimal(38,0)")).as("sq"),
      sum(col("mq").cast("decimal(38,0)") * col("mq")).as("sqq"))
    val overall = docs.agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("tw"))
    overall.crossJoin(broadcast(lohi)).crossJoin(broadcast(se))
      .select(col("n_docs"),
        detRound4(col("tw").cast("double") / col("n_docs").cast("double"))
          .as("mean_words"),
        (col("loq").cast("double") / 1e4).as("boot_lo"),
        (col("hiq").cast("double") / 1e4).as("boot_hi"),
        detRound4(sqrt(expr("CAST(bb * sqq - sq * sq AS DOUBLE)") /
          (lit(BOOT_B.toDouble) * (BOOT_B - 1))) / 1e4).as("boot_se"))
  }

  /** Corpus drift detection — smoothed KL divergence (both directions)
    * and total-variation distance between the gram distributions of
    * the doc-parity halves: the snapshot-vs-snapshot shift monitor an
    * ingest pipeline alerts on before a mixture rebalance. Add-one
    * smoothing over the union vocabulary V keeps both logs finite.
    *
    * EXACTNESS: with L(k) = round(ln(k)·2^20) (ln on INTEGER inputs
    * only), KL(P‖Q)·(N₀+V)·2^20 decomposes into the exact integer sum
    * Σ (c₀+1)·(L(c₀+1) − L(c₁+1)) plus the scalar (N₀+V)·(L(N₁+V) −
    * L(N₀+V)) — order-independent DECIMAL(38,0) sums, assembled into
    * ONE double expression per output (the DSIR λ discipline,
    * generalized from the 64-bucket table to per-integer-count ln).
    * TV's numerator Σ |(c₀+1)(N₁+V) − (c₁+1)(N₀+V)| is exact integer
    * arithmetic throughout.
    *
    * Scale shape: ONE corpus explode → one (gram, c₀, c₁) aggregate
    * (map-side combined), staged once and consumed by the totals
    * broadcast and the final sum — the corpus is read once, like
    * [[xPowerIter]]'s moment build.
    */
  /** (gram, c0, c1): per-gram occurrence counts in the even/odd
    * doc-parity halves — ONE corpus explode + one map-side-combined
    * aggregate over the union vocabulary, staged once (two consumers:
    * the totals broadcast and the per-gram scoring; the stage memo
    * also shares it between [[xKl]] and [[xKeyness]]).
    */
  private def parityGramCounts(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Scale.stage(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(Text.shinglesNative(Text.tokens(col("text")), 3)).as("gram"))
        .groupBy("gram").agg(
          sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("c1")))
  }

  def xKl(s: SparkSession, dir: String): DataFrame = {
    val Q = Stats.LnQ
    def lnq(c: Column) = round(log(c.cast("double")) * Q).cast("long")
    val byGram = parityGramCounts(s, dir)
    val tot = byGram.agg(count(lit(1)).as("v"),
      sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    val sums = byGram.crossJoin(broadcast(tot))
      .select(col("c0"), col("c1"), col("v"), col("n0"), col("n1"),
        (lnq(col("c0") + 1) - lnq(col("c1") + 1)).as("dl"))
      .agg(max(col("v")).as("v"), max(col("n0")).as("n0"), max(col("n1")).as("n1"),
        // decimal BEFORE the multiply: a single gram count near ~3e11
        // would overflow the Long product with the 2^25-scale ln delta
        sum((col("c0") + 1).cast("decimal(38,0)") * col("dl")).as("a01"),
        sum((col("c1") + 1).cast("decimal(38,0)") * -col("dl")).as("a10"),
        sum(abs((col("c0") + 1).cast("decimal(38,0)") * (col("n1") + col("v")) -
          (col("c1") + 1).cast("decimal(38,0)") * (col("n0") + col("v"))))
          .as("tvnum"))
    sums.select(col("v").as("n_vocab"), col("n0"), col("n1"),
      detRound4((col("a01").cast("double") / (col("n0") + col("v")).cast("double") +
        (lnq(col("n1") + col("v")) - lnq(col("n0") + col("v"))).cast("double")) / Q)
        .as("kl_pq"),
      detRound4((col("a10").cast("double") / (col("n1") + col("v")).cast("double") +
        (lnq(col("n0") + col("v")) - lnq(col("n1") + col("v"))).cast("double")) / Q)
        .as("kl_qp"),
      detRound4(col("tvnum").cast("double") /
        (lit(2.0) * (col("n0") + col("v")).cast("double") *
          (col("n1") + col("v")).cast("double"))).as("tv"))
  }

  /** Keyness cut size — shared with the oracle. */
  val KEYNESS_TOP = 20

  /** Chi-squared keyness — the [[KEYNESS_TOP]] grams most
    * DISCRIMINATIVE between the doc-parity halves (the classic corpus-
    * linguistics keyness table; in a pipeline: "which n-grams drive
    * the drift [[xKl]] just alerted on"). For gram g with half counts
    * (c0, c1) and half totals (n0, n1), the 2×2 chi² collapses to
    * N·(c0·n1 − c1·n0)² / (n0·n1·cnt·(N−cnt)) — every factor an exact
    * integer (the cross term as DECIMAL), assembled in ONE double
    * expression, zero-denominator guarded. dir = +1 marks
    * even-half-leaning grams. Ordering is on the ROUNDED chi² with the
    * gram tiebreak, so ranks agree cross-engine; TakeOrdered bounds it.
    */
  def xKeyness(s: SparkSession, dir: String): DataFrame = {
    val byGram = parityGramCounts(s, dir)
    val tot = byGram.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    byGram.crossJoin(broadcast(tot))
      .withColumn("cross",
        col("c0").cast("decimal(38,0)") * col("n1") -
          col("c1").cast("decimal(38,0)") * col("n0"))
      .withColumn("cnt", col("c0") + col("c1"))
      .withColumn("chi2", detRound4(
        when(col("n0") === 0 || col("n1") === 0 ||
          col("n0") + col("n1") - col("cnt") === 0, lit(0.0))
          .otherwise((col("n0") + col("n1")).cast("double") *
            col("cross").cast("double") * col("cross").cast("double") /
            (col("n0").cast("double") * col("n1").cast("double") *
              col("cnt").cast("double") *
              (col("n0") + col("n1") - col("cnt")).cast("double")))))
      .select(col("gram"), col("c0"), col("c1"), col("chi2"),
        when(col("cross") < 0, -1L).otherwise(1L).as("dir"))
      .orderBy(col("chi2").desc, col("gram"))
      .limit(KEYNESS_TOP)
      .orderBy("gram")
  }

  /** Dunning log-likelihood keyness (G²) — [[xKeyness]]'s
    * better-calibrated sibling (chi² overweights rare events; G² is
    * the corpus-linguistics standard, Dunning 1993). The 2×2 G²
    * expands by the entropy identity
    * 2·[Σ O·lnO + N·lnN − Σ margins·ln(margin)] whose ln arguments are
    * ALL INTEGERS — so with L(k) = round(ln k·2^20) and the 0·ln0 = 0
    * convention, each gram's G²·2^20/2 is one exact integer sum and
    * ranking needs only the rounded double. Same staged parity-count
    * relation as [[xKl]]/[[xKeyness]] (the stage memo shares it).
    */
  def xLlr(s: SparkSession, dir: String): DataFrame = {
    val Q = Stats.LnQ
    // the count widens to decimal BEFORE multiplying the 2^25-scale
    // quantized ln — c·L(c) on the corpus total overflows Long at
    // N ≈ 3.5e11 gram occurrences (the multi-TB regime)
    def xlx(c: Column): Column = when(c === 0, lit(0L).cast("decimal(38,0)"))
      .otherwise(c.cast("decimal(38,0)") *
        round(log(c.cast("double")) * Q).cast("long"))
    val byGram = parityGramCounts(s, dir)
    val tot = byGram.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    byGram.crossJoin(broadcast(tot))
      .withColumn("g2q",
        xlx(col("c0")) + xlx(col("c1")) +
          xlx(col("n0") - col("c0")) + xlx(col("n1") - col("c1")) +
          xlx(col("n0") + col("n1")) -
          xlx(col("c0") + col("c1")) -
          xlx(col("n0") + col("n1") - col("c0") - col("c1")) -
          xlx(col("n0")) - xlx(col("n1")))
      .select(col("gram"), col("c0"), col("c1"),
        detRound4(lit(2.0) * col("g2q").cast("double") / Q).as("g2"),
        when(col("c0").cast("decimal(38,0)") * col("n1") <
          col("c1").cast("decimal(38,0)") * col("n0"), -1L)
          .otherwise(1L).as("dir"))
      .orderBy(col("g2").desc, col("gram"))
      .limit(KEYNESS_TOP)
      .orderBy("gram")
  }

  /** Pairwise Pearson correlation of the per-doc surface metrics
    * ([[Stats.corrPairs]]): chars × words × distinct-words — the
    * redundancy matrix read before composing them into a quality gate
    * (near-1 pairs carry one signal and shouldn't be double-counted).
    * One codegen'd metric projection + ONE aggregate of exact integer
    * sums; three rows out.
    */
  def xCorr(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Stats.corrPairs(Tables.documents(s, dir), Seq(
      "n_chars" -> length(col("text")).cast("long"),
      "n_words" -> Text.nWords(toks),
      "n_distinct" -> size(array_distinct(toks)).cast("long")))
      .orderBy("pair")
  }

  /** Explicit Bloom-filter membership — the oracled bit-state twin of
    * the runtime-filter decontamination (`x_decontam_bloom` uses
    * Spark's injected bloom; THIS one owns the bits): the even-half
    * gram set builds an m-bit ([[Sketches.bloomMFor]], tier scaled
    * from the insert count) / [[Sketches.BLOOM_K]]-hash filter, the
    * odd half probes it, and the output is the
    * confusion summary — no false negatives by construction (n_fn is
    * asserted zero by the oracle match), measured false-positive rate
    * against exact membership. The bit set is ≤m rows → broadcast;
    * probes stream through one aggregate.
    */
  def xBloom(s: SparkSession, dir: String): DataFrame = {
    // half gram SETS from the one staged parity-count relation
    val byGram = parityGramCounts(s, dir)
    def half(c: String) = byGram.where(col(c) > 0).select("gram")
    val (ga, gb) = (half("c0"), half("c1"))
    // bit count scaled from the INSERT count, the simhashBands
    // discipline — the oracle replays the same tiering from count(*),
    // so the match is SF-independent
    val n = graft.operators.Scale.memoArtifact(ga, "bloom_n")(
      java.lang.Long.valueOf(ga.count()))
    val m = Sketches.bloomMFor(n.longValue())
    val bits = Sketches.bloomBits(ga, col("gram"), m)
    val maybe = Sketches.bloomMaybe(gb, col("gram"), bits, m)
      .withColumnRenamed("item", "gram")
    val flagged = gb
      .join(ga.withColumn("member", lit(1L)), Seq("gram"), "left")
      .select(col("gram"), coalesce(col("member"), lit(0L)).as("member"))
      .join(maybe, "gram")
    val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
    flagged.crossJoin(broadcast(nBits))
      .agg(count(lit(1)).as("n_probes"),
        sum(col("member")).as("n_member"),
        sum(col("maybe")).as("n_maybe"),
        sum(when(col("maybe") === 1 && col("member") === 0, 1L).otherwise(0L)).as("n_fp"),
        sum(when(col("maybe") === 0 && col("member") === 1, 1L).otherwise(0L)).as("n_fn"),
        max(col("n_bits_set")).as("n_bits_set"),
        // zero-guard: if the probe half is a SUBSET of the insert half
        // there are no absent probes and the rate is 0 by convention
        // (Spark ANSI throws on the bare /0; DuckDB yields inf)
        detRound4(when(count(lit(1)) - sum(col("member")) === 0, lit(0.0))
          .otherwise(
            sum(when(col("maybe") === 1 && col("member") === 0, 1L).otherwise(0L))
              .cast("double") /
            (count(lit(1)) - sum(col("member"))))).as("fp_rate"))
  }

  /** Power-iteration rounds for [[xPowerIter]] — the oracle unrolls
    * its CTE chain from THIS val, so a bump propagates to both engines.
    */
  val PI_ITERS = 8

  /** Dominant eigenvector + eigenvalue of the embedding second-moment
    * matrix ([[Knn.powerIteration]]): the spectral-anisotropy
    * diagnostic of the embedding space ("all-but-the-top" cleanup, PCA
    * whitening prep). One corpus pass builds the quantized 64×64
    * moment matrix; [[PI_ITERS]] integer-exact max-norm power rounds
    * run on that bounded staged relation — the oracle replays the
    * identical integer recurrence unrolled from the same constants.
    */
  def xPowerIter(s: SparkSession, dir: String): DataFrame =
    Knn.powerIteration(Tables.embeddings(s, dir), DIM, PI_ITERS)
      .orderBy("dim")

  /** Spectral-outlier cut size. */
  val OUTLIER_K = 20

  /** Shared WITH-body for the power-iteration oracles: quantized
    * vectors → 64×64 moment matrix (MATERIALIZED — referenced by every
    * unrolled round) → [[PI_ITERS]] integer max-norm rounds, ending at
    * `r$PI_ITERS` / `x$PI_ITERS`. The unroll derives from the same
    * Scala vals [[Knn.PowerQ]]/[[PI_ITERS]] the Spark plan uses.
    */
  /** Shared oracle tail replaying [[Stats.lnOlsFit]]: quantized ln-ln
    * OLS with the degenerate-variance guards, over `src`'s positive
    * (`xExpr`, `yExpr`) pairs. Ends the WITH chain (SELECT included).
    */
  private def lnOlsSqlTail(src: String, xExpr: String, yExpr: String,
      nName: String): String = {
    val Q = Stats.LnQ
    s"""xy AS (SELECT CAST(round(ln(CAST($xExpr AS DOUBLE)) * $Q) AS BIGINT) AS x,
      |              CAST(round(ln(CAST($yExpr AS DOUBLE)) * $Q) AS BIGINT) AS y
      |       FROM $src WHERE $xExpr > 0 AND $yExpr > 0),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
      |             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy FROM xy)
      |SELECT n AS $nName,
      |  ${detRound4Sql(
            "CASE WHEN n * sxx - sx * sx = 0 THEN 0.0 ELSE " +
            "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END")} AS slope,
      |  ${detRound4Sql(
            s"CASE WHEN n * sxx - sx * sx = 0 THEN 0.0 ELSE " +
            s"CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) / $Q END")} AS intercept_ln,
      |  ${detRound4Sql(
            "CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0 ELSE " +
            "CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)" +
            " / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) END")} AS r2
      |FROM s""".stripMargin
  }

  /** The unrolled max-norm power rounds over moment relation `mName`,
    * CTE names suffixed with `pfx` (chain A uses "", keeping the
    * r0..r8 names the other oracles reference). Every s$i is
    * referenced TWICE (x$i and r$i): without MATERIALIZED DuckDB
    * re-inlines the whole chain per reference — 2^ITERS blowup
    * (measured 12.6/27.9 s oracle walls; materialized: sub-second).
    */
  private def powerRoundsSql(mName: String, pfx: String): String = {
    val P = graft.operators.Knn.PowerQ
    val iters = (1 to PI_ITERS).map { i =>
      s"""s$pfx$i AS MATERIALIZED (SELECT m.j, sum(m.m * r.r) AS s
        |        FROM $mName m JOIN r$pfx${i - 1} r ON m.k = r.j GROUP BY m.j),
        |x$pfx$i AS (SELECT greatest(max(abs(s)), 1) AS mx FROM s$pfx$i),
        |r$pfx$i AS (SELECT j,
        |        (CASE WHEN s < 0 THEN -1 ELSE 1 END) * ((abs(s) * $P) // mx) AS r
        |        FROM s$pfx$i CROSS JOIN x$pfx$i)""".stripMargin
    }.mkString(",\n")
    s"""r${pfx}0 AS (SELECT unnest(range(1, ${DIM + 1})) AS j, CAST($P AS HUGEINT) AS r),
      |$iters""".stripMargin
  }

  private def powerIterCtes: String = {
    val P = graft.operators.Knn.PowerQ
    s"""q AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x ->
      |       CAST(round(CAST(x AS DOUBLE) * $P) AS BIGINT)) AS q FROM embeddings),
      |p0 AS (SELECT q, unnest(range(1, ${DIM + 1})) AS j FROM q),
      |p1 AS (SELECT q, j, unnest(range(1, ${DIM + 1})) AS k FROM p0),
      |m AS MATERIALIZED (SELECT j, k, sum(CAST(q[j] AS HUGEINT) * q[k]) AS m
      |     FROM p1 GROUP BY j, k),
      |${powerRoundsSql("m", "")}""".stripMargin
  }

  /** Spectral outlier scoring — the "all-but-the-top" consumer of
    * [[xPowerIter]]: every vector's projection onto the dominant
    * eigendirection (an exact integer Σ q_j·r_j over the 64-row
    * broadcast direction) and its cosine to that axis; the
    * [[OUTLIER_K]] most-aligned vectors are the anisotropy outliers a
    * cleanup pass would recenter or drop. Norms assemble from exact
    * integer sums (all < 2^53, so the double conversions are exact)
    * into ONE sqrt+division per row. Scale shape: the power chain is
    * one corpus pass + bounded iteration; scoring is one more corpus
    * pass against two broadcast scalars; TakeOrdered(20) ends it.
    */
  def xSpectralOutliers(s: SparkSession, dir: String): DataFrame = {
    val P = Knn.PowerQ
    val emb = Tables.embeddings(s, dir)
    val dirV = Knn.powerIteration(emb, DIM, PI_ITERS)
    val q = emb.select(col("vec_id"), posexplode(transform(col("embedding"),
        x => round(x.cast("double") * P).cast("long"))).as(Seq("j0", "p")))
      .select(col("vec_id"), (col("j0") + 1).cast("bigint").as("dim"), col("p"))
    val scored = q.join(broadcast(dirV.select(col("dim"), col("v_q"))), "dim")
      .groupBy("vec_id")
      .agg(sum(col("p") * col("v_q")).as("proj"),
        sum(col("p") * col("p")).as("q2"))
    val r2 = dirV.agg(sum(col("v_q") * col("v_q")).as("r2"))
    scored.crossJoin(broadcast(r2))
      .select(col("vec_id"), col("proj").cast("bigint").as("proj_q"),
        detRound4(when(col("q2") === 0, lit(0.0)).otherwise(
          col("proj").cast("double") /
            sqrt(col("q2").cast("double") * col("r2").cast("double"))))
          .as("cos_pc1"))
      .orderBy(abs(col("cos_pc1")).desc, col("vec_id"))
      .limit(OUTLIER_K)
      .orderBy("vec_id")
  }

  /** Top-2 PCA ([[Knn.powerIterationTop2]]): the first two principal
    * directions of the embedding second moment by integer-exact
    * deflation — both chains, the deflation quotients, and the
    * orthogonality certificate (cos12 ≈ 0) replay bit-for-bit in the
    * oracle. One corpus pass; everything else bounded.
    */
  def xPca2(s: SparkSession, dir: String): DataFrame =
    Knn.powerIterationTop2(Tables.embeddings(s, dir), DIM, PI_ITERS)
      .orderBy("dim")

  /** "All-but-the-top" energy audit — the actionable number behind
    * [[xSpectralOutliers]]: how much of the embedding space's total
    * second moment the dominant direction carries (pc1_share =
    * (rᵀMr/rᵀr)/trace(M), all exact integer/decimal arithmetic off the
    * SAME staged moment matrix; the one double appears per output
    * column). A high share says the space is anisotropic and a
    * whitening/centering pass will pay; resid_share is what a
    * downstream ANN index would actually see after removal. One row:
    * (n_vecs, m2_mean, pc1_share, resid_share).
    */
  def xWhiten(s: SparkSession, dir: String): DataFrame = {
    val P = Knn.PowerQ
    val emb = Tables.embeddings(s, dir)
    val (r, _, m) = Knn.powerIterationState(emb, DIM, PI_ITERS)
    val trace = m.where(col("j") === col("k")).agg(sum(col("m")).as("tr"))
    val rmr = m
      .join(broadcast(r.select(col("j"), col("r").as("rj"))), "j")
      .join(broadcast(r.select(col("j").as("k"), col("r").as("rk"))), "k")
      .agg(sum(col("m") * col("rj") * col("rk")).as("rmr"))
    val rr = r.agg(sum(col("r") * col("r")).as("rr"))
    val n = emb.agg(count(lit(1)).as("n_vecs"))
    val share = when(col("tr") === 0 || col("rr") === 0, lit(0.0))
      .otherwise(col("rmr").cast("double") /
        (col("rr").cast("double") * col("tr").cast("double")))
    n.crossJoin(broadcast(trace)).crossJoin(broadcast(rmr)).crossJoin(broadcast(rr))
      .select(col("n_vecs"),
        detRound4(when(col("n_vecs") === 0, lit(0.0)).otherwise(
          col("tr").cast("double") /
            (col("n_vecs").cast("double") * P.toDouble * P.toDouble)))
          .as("m2_mean"),
        detRound4(share).as("pc1_share"),
        detRound4(lit(1.0) - share).as("resid_share"))
  }

  /** Signed-random-projection (Johnson–Lindenstrauss) compression:
    * every embedding → 16 ±1-signed sums ([[Sketches.srpProject]], 4×
    * smaller), the cheapest learned-free compression tier next to SQ8/
    * PQ/BQ/MRL. The sign matrix is a Scala-derived CONSTANT both
    * engines interpolate, so the projection is engine-exact; sums fold
    * in ascending index (the summation-order contract). Per-row
    * arithmetic in the scan projection — zero shuffles before the
    * output sort.
    */
  def xSrp(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(Sketches.srpProject(col("embedding"), DIM)))
      .select(col("vec_id"), (col("pos") + 1).cast("bigint").as("k"),
        detRound4(col("col")).as("proj"))
      .orderBy("vec_id", "k")

  /** SRP recall@1 — the [[xSq8Recall]] shape for the JL tier: nearest
    * neighbour under 16-dim projected L2 vs exact 64-dim L2, per
    * bounded probe ([[pqProbeRows]] discipline: fixed cap, corpus
    * streams, argmin ties broken by vec_id through the min_by struct).
    */
  def xSrpRecall(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        Sketches.srpProject(col("embedding"), DIM).as("pv"))
    val probes = v.where(col("vec_id") % 100 === 0 &&
        col("vec_id") < PQ_PROBE_CAP)
      .select(col("vec_id").as("p"), col("pv").as("ppv"))
    val approx = v
      .join(broadcast(probes), col("vec_id") =!= col("p"))
      .withColumn("d2", l2sq(col("ppv"), col("pv")))
      .groupBy("p")
      .agg(min_by(col("vec_id"), struct(col("d2"), col("vec_id"))).as("srp_nn"))
    approx.join(broadcast(pqExactNn(s, dir)), "p")
      .select(col("p").as("probe_id"), col("srp_nn"), col("exact_nn"),
        (col("srp_nn") === col("exact_nn")).cast("bigint").as("hit"))
      .orderBy("probe_id")
  }

  /** Character-trigram Jaccard between adjacent docs — the char-level
    * twin of the word-set [[xJaccard]] (robust to tokenization and
    * whitespace variance, the standard fuzzy-dedup fallback for CJK and
    * noisy text). The whole comparison is ONE fused native expression
    * ([[graft.expressions.TrigramJaccard]]: packed-long gram keys, no
    * gram arrays) — the interpreted HOF + array_distinct/intersect form
    * it replaces was the clean bench's slowest line at 5.4 s.
    */
  def xNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val a = t.select(col("doc_id").as("doc_a"), col("text").as("ta"))
    val b = t.select(col("doc_id").as("doc_b"), col("text").as("tb"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        detRound4(TrigramJaccard.call(col("ta"), col("tb")))
          .as("jac3"))
      .orderBy("doc_a")
  }

  // ---- similarity search --------------------------------------------

  /** Exact cosine top-1 over the [[PROBE_CAP]] probe workload — the
    * brute-force truth tier. STAGED: ≤ PROBE_CAP rows (bounded) while
    * its lineage is the probes-broadcast × corpus scoring pass — the
    * four consumers (x_cosine / x_lsh_recall / x_ivf_recall, and
    * x_retrieval_eval through the prefix filter: top-1 per probe is
    * per-probe independent, so probes < RETR_CAP ⊂ PROBE_CAP select
    * the identical rows) each re-ran the full pass privately; the
    * session memo pays it once. */
  private def exactTop1(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.operators.Scale.stage(
      Knn.bruteForceTopK(emb.where(col("vec_id") < PROBE_CAP), emb, DIM, 1))
  }

  def xCosine(s: SparkSession, dir: String): DataFrame =
    exactTop1(s, dir)
      .select(col("probe_id").as("vec_id"),
        detRound4(col("sim")).as("max_sim"))
      .orderBy("vec_id")

  /** MMR knobs: bounded probe workload, top-10 candidate pool per
    * probe, 5 diversity-aware picks, λ = 0.5 (exact in binary — the
    * (1−λ) arithmetic replays bit-for-bit cross-engine). */
  val MMR_PROBES = 20
  val MMR_POOL = 10
  val MMR_K = 5
  val MMR_LAMBDA = 0.5

  /** MMR diversity re-ranking ([[Knn.mmrRerank]]): each probe's top-10
    * cosine pool re-ranked to 5 picks by λ·rel − (1−λ)·max-sim-to-
    * selected — nearest neighbors without MMR are often near-dups of
    * each other; this is the diverse-context selection step. The
    * oracle unrolls the five argmax rounds as SQL CTEs over the same
    * pool and pairwise-sim relations.
    */
  def xMmr(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Knn.mmrRerank(emb.where(col("vec_id") < MMR_PROBES), emb, DIM,
        MMR_POOL, MMR_K, MMR_LAMBDA)
      .select(col("probe_id").as("vec_id"), col("pick"), col("cand_id"),
        detRound4(col("score")).as("score"))
      .orderBy("vec_id", "pick")
  }

  /** Scalar (int8-style) embedding quantization: per-dimension corpus
    * [min, max] → 0..255 codes → reconstruction, reported as per-vector
    * MSE. The memory-4× lever before PQ ([[xPq]]'s 16× codes); exact
    * cross-engine because quantize/dequantize is pure double arithmetic
    * in a fixed parenthesization and the per-vector error sums in index
    * order. Scale shape: one explode into a 64-row map-side-partial
    * min/max aggregate, collected to two broadcast arrays; the
    * quantization pass is per-row over the corpus with no shuffle.
    */
  /** Per-dimension corpus [min, max] as two broadcast arrays — the
    * shared scale table of the SQ8 pair. STAGED: one row, but its
    * lineage is a full-corpus explode+aggregate — and x_sq8_recall's
    * pre-stage plan re-planned it once per dqv consumer (probe side,
    * corpus side, each nn branch: 30 Exchanges / 12 nested-loop joins
    * measured in the round-16 before-plan). Staging collapses the
    * scale table to a computed-once leaf shared by x_sq8 AND
    * x_sq8_recall through the session memo. */
  private def sq8Scales(emb: DataFrame): DataFrame =
    broadcast(graft.operators.Scale.stage(emb
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("d").agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("d"), col("mn")))),
          p => p("mn")).as("mn"),
        transform(array_sort(collect_list(struct(col("d"), col("mx")))),
          p => p("mx")).as("mx"))))

  def xSq8(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // one codegen'd quantize-dequantize-error pass per row (the
    // declarative transform+aggregate twin is Sq8Error's spec fixture)
    emb.crossJoin(sq8Scales(emb))
      .select(col("vec_id"),
        detRound4(Sq8Error.call(col("embedding"), col("mn"), col("mx")) / DIM).as("mse"))
      .orderBy("vec_id")
  }

  /** SQ8 recall@1 — does 4×-compressed storage preserve nearest
    * neighbors? Each bounded probe's exact-L2 nearest over the
    * DEQUANTIZED corpus vs over the original floats (the x_pq_recall
    * shape one tier up the accuracy ladder: SQ8's 64 codes/vector vs
    * PQ's 8). The dequantized vectors come from one per-row declarative
    * pass (round() on both engines, the proven-equal convention) and
    * the bounded probe set is [[pqProbeRows]] — at fixed probes the
    * search side is linear in corpus size.
    */
  def xSq8Recall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val dq = transform(sequence(lit(0), lit(DIM - 1)), i => {
      val x = element_at(col("embedding"), i + 1).cast("double")
      val mn = element_at(col("mn"), i + 1)
      val mx = element_at(col("mx"), i + 1)
      val span = mx - mn
      // clamp like the Sq8Error native (and the oracle): out-of-range
      // components saturate to the code range edges
      val q = when(span === 0, lit(0.0))
        .otherwise(least(lit(255.0),
          greatest(lit(0.0), round(((x - mn) / span) * 255))))
      mn + (q * span) / 255.0
    })
    val dqv = emb.crossJoin(sq8Scales(emb))
      .select(col("vec_id"), dq.as("dqv"))
    val probes = dqv.where(col("vec_id") % 100 === 0 &&
        col("vec_id") < PQ_PROBE_CAP)
      .select(col("vec_id").as("p"), col("dqv").as("pdq"))
    val approx = dqv
      .join(broadcast(probes), col("vec_id") =!= col("p"))
      .withColumn("d2", l2sq(col("pdq"), col("dqv")))
      .groupBy("p")
      .agg(min_by(col("vec_id"), struct(col("d2"), col("vec_id"))).as("sq8_nn"))
    approx.join(broadcast(pqExactNn(s, dir)), "p")
      .select(col("p").as("probe_id"), col("sq8_nn"), col("exact_nn"),
        (col("sq8_nn") === col("exact_nn")).cast("bigint").as("hit"))
      .orderBy("probe_id")
  }

  /** Binary-quantization signatures ([[graft.expressions.BqSign64]]):
    * the sign bits of all 64 dims packed into ONE signed long — 32×
    * smaller than float32, the cheapest tier of the modern BQ serving
    * stack. Per-row codegen'd pass, no shuffle before the output sort;
    * downstream search is integer Hamming ([[xBqRecall]]).
    */
  def xBq(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        BqSign64.call(col("embedding")).as("bqsig"))
      .orderBy("vec_id")
  }

  /** Binary-quantization recall@1 — does the 1-bit Hamming nearest
    * neighbor agree with the full-precision L2 one? The [[xSq8Recall]]
    * measurement shape verbatim (bounded capped probes broadcast,
    * corpus streams, one partial-aggregated min_by per branch), with
    * the approximate tier's distance a single `bit_count(xor)` per
    * pair — sign-bit Hamming tracks the ANGLE between vectors (each
    * flip is a hyperquadrant boundary), so against an L2 exact tier on
    * unnormalized random fixtures the recall is the honest pessimistic
    * number a BQ rollout would gate on; production re-ranks the
    * Hamming top-k with exact scores.
    */
  def xBqRecall(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        BqSign64.call(col("embedding")).as("sig"))
    val probes = v.where(col("vec_id") % 100 === 0 &&
        col("vec_id") < PQ_PROBE_CAP)
      .select(col("vec_id").as("p"), col("sig").as("psig"))
    val approx = v.join(broadcast(probes), col("vec_id") =!= col("p"))
      .withColumn("hd", bit_count(col("sig").bitwiseXOR(col("psig"))))
      .groupBy("p")
      .agg(min_by(col("vec_id"), struct(col("hd"), col("vec_id"))).as("bq_nn"))
    approx.join(broadcast(pqExactNn(s, dir)), "p")
      .select(col("p").as("probe_id"), col("bq_nn"), col("exact_nn"),
        (col("bq_nn") === col("exact_nn")).cast("bigint").as("hit"))
      .orderBy("probe_id")
  }

  /** Matryoshka truncation width for [[xMrlRecall]] (first 16 of 64
    * dims = a 4× storage/compute cut, the published MRL serving trade).
    */
  val MRL_DIM = 16

  /** Matryoshka-truncation recall (Kusupati et al. 2022, arXiv:
    * 2205.13147): does nearest-neighbor search over only the FIRST
    * [[MRL_DIM]] embedding dimensions return the same neighbor as the
    * full vector? This is the serving question MRL-trained embedders
    * answer with "yes" and random embeddings answer with "mostly no" —
    * either way the measurement pipeline is identical: per probe, the
    * truncated-space NN and the full-space NN from the same one
    * broadcast-probes × corpus stream (the [[xSq8Recall]] shape:
    * probes bounded by [[PQ_PROBE_CAP]], corpus never collected, one
    * partial-aggregated min_by per probe). hit-rate over probes is the
    * recall@1 a dimension-truncation rollout would ship on.
    */
  def xMrlRecall(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, MRL_DIM),
          x => x.cast("double")).as("tv"))
    val probes = v.where(col("vec_id") % 100 === 0 &&
        col("vec_id") < PQ_PROBE_CAP)
      .select(col("vec_id").as("p"), col("tv").as("ptv"))
    val approx = v
      .join(broadcast(probes), col("vec_id") =!= col("p"))
      .withColumn("d2", l2sq(col("ptv"), col("tv")))
      .groupBy("p")
      .agg(min_by(col("vec_id"), struct(col("d2"), col("vec_id"))).as("mrl_nn"))
    approx.join(broadcast(pqExactNn(s, dir)), "p")
      .select(col("p").as("probe_id"), col("mrl_nn"), col("exact_nn"),
        (col("mrl_nn") === col("exact_nn")).cast("bigint").as("hit"))
      .orderBy("probe_id")
  }

  def xKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Knn.bruteForceTopK(emb.where(col("vec_id") < KNN_CAP), emb, DIM, 3)
      .select(col("probe_id").as("vec_id"), col("cand_id"),
        col("rank").cast("bigint").as("rank"),
        detRound4(col("sim")).as("sim"))
      .orderBy("vec_id", "rank")
  }

  /** Closed-form 3×3 normal-equation solve shared VERBATIM by the
    * Spark plan and the DuckDB oracle ([[xLinearProbe]]): Cramer's
    * rule and the moment-form residual sums as SQL strings over the
    * cast moment columns (d11..d33 = XᵀX, e1..e3 = Xᵀy, dyy = yᵀy),
    * so the double arithmetic cannot diverge between engines — both
    * evaluate the IDENTICAL expression tree on identical doubles.
    */
  private val lpDet =
    "d11*(d22*d33 - d23*d23) - d12*(d12*d33 - d23*d13) + d13*(d12*d23 - d22*d13)"
  private val lpDetX =
    "e1*(d22*d33 - d23*d23) - d12*(e2*d33 - d23*e3) + d13*(e2*d23 - d22*e3)"
  private val lpDetY =
    "d11*(e2*d33 - d23*e3) - e1*(d12*d33 - d23*d13) + d13*(d12*e3 - e2*d13)"
  private val lpDetZ =
    "d11*(d22*e3 - e2*d23) - d12*(d12*e3 - e2*d13) + e1*(d12*d23 - d22*d13)"
  private val lpQuad =
    "w0*(d11*w0 + d12*w1 + d13*w2) + w1*(d12*w0 + d22*w1 + d23*w2)" +
      " + w2*(d13*w0 + d23*w1 + d33*w2)"
  private val lpSse = s"dyy - 2.0*(w0*e1 + w1*e2 + w2*e3) + ($lpQuad)"
  private val lpSst = "dyy - e1*e1 / d11"

  /** Distributed supervised LINEAR PROBE — ordinary least squares by
    * the normal equations, the budget-planning regression a pipeline
    * fits constantly (predict tokenizer cost from cheap byte-level
    * features before paying for tokenization): y = est_tokens on
    * x = (1, n_words, n_chars). ONE corpus pass accumulates the full
    * XᵀX / Xᵀy / yᵀy moment set as EXACT integer sums (features and
    * target are integers; decimal before every product — n_chars²
    * sums pass 2^63 in the multi-TB regime), then the 3×3 solve and
    * the moment-form R² (SSE = yᵀy − 2wᵀb + wᵀAw — no second corpus
    * pass) assemble in shared closed-form double expressions
    * ([[lpDet]]…): the same string is spliced into both engines, so
    * the fit replays bit-for-bit. Degenerate design (det = 0) and
    * zero-variance target guard to 0 under ANSI. StatsSpec replays
    * the solve against a scalar reference on a known line.
    */
  def xLinearProbe(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    linearProbe3(Tables.documents(s, dir).select(
      Text.nWords(toks).as("x1"),
      length(col("text")).cast("long").as("x2"),
      Text.tokenCountEstimate(col("text")).as("y")))
  }

  /** The moment build + solve of [[xLinearProbe]] over an integer
    * (x1, x2, y) relation — factored so StatsSpec can fit a known
    * exact line.
    */
  private[graft] def linearProbe3(m: DataFrame): DataFrame = {
    def dprod(a: String, b: String) =
      sum(col(a).cast("decimal(38,0)") * col(b))
    val agg = m.agg(
      count(lit(1)).as("a11"),
      sum(col("x1").cast("decimal(38,0)")).as("a12"),
      sum(col("x2").cast("decimal(38,0)")).as("a13"),
      dprod("x1", "x1").as("a22"), dprod("x1", "x2").as("a23"),
      dprod("x2", "x2").as("a33"),
      sum(col("y").cast("decimal(38,0)")).as("e1b"),
      dprod("x1", "y").as("e2b"), dprod("x2", "y").as("e3b"),
      dprod("y", "y").as("syy"))
    agg.selectExpr("CAST(a11 AS BIGINT) AS n_docs",
        "CAST(a11 AS DOUBLE) AS d11", "CAST(a12 AS DOUBLE) AS d12",
        "CAST(a13 AS DOUBLE) AS d13", "CAST(a22 AS DOUBLE) AS d22",
        "CAST(a23 AS DOUBLE) AS d23", "CAST(a33 AS DOUBLE) AS d33",
        "CAST(e1b AS DOUBLE) AS e1", "CAST(e2b AS DOUBLE) AS e2",
        "CAST(e3b AS DOUBLE) AS e3", "CAST(syy AS DOUBLE) AS dyy")
      .selectExpr("*", s"($lpDet) AS det", s"($lpDetX) AS detx",
        s"($lpDetY) AS dety", s"($lpDetZ) AS detz")
      .selectExpr("*",
        "CASE WHEN det = 0.0 THEN 0.0 ELSE detx / det END AS w0",
        "CASE WHEN det = 0.0 THEN 0.0 ELSE dety / det END AS w1",
        "CASE WHEN det = 0.0 THEN 0.0 ELSE detz / det END AS w2")
      .selectExpr("*", s"($lpSse) AS sse", s"($lpSst) AS sst")
      // CAST AS DOUBLE: Spark parses the 10000.0 literal in the shared
      // round4 SQL as DECIMAL, so the quotient would surface decimal
      .selectExpr("n_docs",
        s"CAST(${detRound4Sql("w0")} AS DOUBLE) AS w0",
        s"CAST(${detRound4Sql("w1")} AS DOUBLE) AS w1",
        s"CAST(${detRound4Sql("w2")} AS DOUBLE) AS w2",
        s"CAST(${detRound4Sql(
          "CASE WHEN sst <= 0.0 THEN 0.0 ELSE 1.0 - sse / sst END")} AS DOUBLE) AS r2")
  }

  /** Join-key skew audit — the shuffle-planning report a 100 TB job
    * reads BEFORE picking join strategies: for each hot join key
    * (orders.o_custkey, lineitem.l_orderkey, events.user_id), the key
    * cardinality, the heaviest key and its count, and the skew ratio
    * max/mean — the number that decides between a plain shuffle join,
    * AQE skew splitting, and explicit salting
    * ([[graft.operators.Scale.saltedTopKPerKey]]'s discipline). One
    * map-side-combined aggregate per relation, then a 1-row summary
    * (deterministic argmax: count desc, key asc); output is 3 rows at
    * any scale.
    */
  def xSkewAudit(s: SparkSession, dir: String): DataFrame = {
    def one(name: String, df: DataFrame, key: Column) =
      df.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"),
          max("c").as("max_cnt"),
          max_by(col("k"), struct(col("c"), -col("k"))).as("top_key"))
        .select(lit(name).as("rel"), col("n_keys"), col("n_rows"),
          col("max_cnt"), col("top_key").cast("bigint").as("top_key"),
          detRound4(col("max_cnt").cast("double") * col("n_keys") /
            col("n_rows")).as("skew_ratio"))
    one("events_user", Tables.events(s, dir), col("user_id"))
      .unionByName(one("lineitem_order", Tables.table(s, dir, "lineitem"),
        col("l_orderkey")))
      .unionByName(one("orders_cust", Tables.orders(s, dir), col("o_custkey")))
      .orderBy("rel")
  }

  /** Magnitude cap of [[xDpCounts]]' geometric noise (tail mass 2^-32). */
  val DP_MAG_CAP = 32

  /** Shared noise-magnitude CASE over the 63-bit uniform `u`:
    * mag = k iff u ∈ [2^(62-k), 2^(63-k)) — a symmetric geometric with
    * P(mag = k) = 2^-(k+1), entirely integer thresholds generated from
    * the same Scala constants on both engines.
    */
  private[graft] val dpMagSql: String = {
    val arms = (0 until DP_MAG_CAP)
      .map(k => s"WHEN u >= ${1L << (62 - k)} THEN $k").mkString(" ")
    s"CASE $arms ELSE $DP_MAG_CAP END"
  }

  /** Geometric-noise count release DEMO — per-source doc counts plus
    * two-sided geometric noise: magnitude from the md5-seeded 63-bit
    * uniform through [[dpMagSql]]'s exact integer thresholds
    * (P(±k) = 2^-(k+2), P(0) = 1/2), sign from an independent md5
    * nibble — the geometric mechanism of
    * Ghosh–Roughgarden–Sundararajan 2009 with α = 1/2, chosen over
    * Laplace because its inverse CDF needs NO ln() (a libm
    * cross-engine hazard): everything to the noisy count is integer
    * arithmetic both engines replay bit-for-bit.
    *
    * PRIVACY HONESTY (this is a mechanism demo, NOT a private release):
    * the noise is a deterministic function of the PUBLIC source name
    * (md5(source)) so any observer can recompute and subtract it —
    * under a public-mechanism threat model the release provides no
    * privacy; a production deployment would seed from a secret key,
    * making republication free (same key → same noise → no extra ε
    * spent). And even secretly seeded, the hard magnitude truncation at
    * ±[[DP_MAG_CAP]] makes the mechanism (ε = ln 4, δ ≈ 2⁻³³)
    * APPROXIMATELY DP, not pure DP: outputs beyond the cap would have
    * infinite likelihood ratio between neighbors, so δ carries the
    * 2·2⁻³⁴ tail mass the cap removes. The `eps` column records the
    * un-truncated mechanism's ε = ln 4 ≈ 1.3863 for the audit view;
    * the exact count rides along deliberately (this is the audit face,
    * not the release). Bounded |sources| relation after one corpus
    * aggregate.
    */
  def xDpCounts(s: SparkSession, dir: String): DataFrame = {
    val eps = math.floor(2.0 * math.log(2.0) * 10000.0 + 0.5) / 10000.0
    Tables.documents(s, dir).groupBy("source").agg(count(lit(1)).as("n_exact"))
      .withColumn("m", md5(col("source").cast("binary")))
      .withColumn("u",
        Sketches.hex32(col("m"), 1).bitwiseAND(lit((1L << 31) - 1)) *
          lit(1L << 32) + Sketches.hex32(col("m"), 9))
      .withColumn("mag", expr(dpMagSql).cast("long"))
      .withColumn("noise",
        (lit(1L) - Sketches.hex32(col("m"), 17) % 2 * 2L) * col("mag"))
      .select(col("source"), col("n_exact"), col("noise"),
        (col("n_exact") + col("noise")).as("n_dp"), lit(eps).as("eps"))
      .orderBy("source")
  }

  /** k-anonymity threshold for [[xKanon]]'s suppression accounting. */
  val K_ANON = 10L

  /** Privacy release audit — k-anonymity across a GENERALIZATION
    * LATTICE of quasi-identifiers over the event log: for each level
    * (event_type × day × value-bin → event_type × day → event_type),
    * the k actually achieved (min equivalence-class size), the class
    * count, and the row mass that would need suppression at
    * k ≥ [[K_ANON]] — the table a release gate reads to pick the
    * coarsest level that clears its k. ONE corpus aggregate: the
    * finest level's class relation is bounded (types·days·bins) and
    * staged; coarser levels re-aggregate it, never the corpus. All
    * integer arithmetic.
    */
  def xKanon(s: SparkSession, dir: String): DataFrame = {
    val l1 = graft.operators.Scale.stage(
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          to_date(col("ts")).cast("string").as("day"),
          floor(col("value") / 100).cast("long").as("bin"))
        .agg(count(lit(1)).as("n")))
    def summarize(name: String, classes: DataFrame) = classes
      .agg(min("n").as("k_anon"), count(lit(1)).as("n_classes"),
        sum(when(col("n") < K_ANON, col("n")).otherwise(0L)).as("n_suppressed"))
      .select(lit(name).as("level"), col("k_anon"), col("n_classes"),
        col("n_suppressed"))
    summarize("1_type_day_bin", l1)
      .unionByName(summarize("2_type_day",
        l1.groupBy("event_type", "day").agg(sum("n").as("n"))))
      .unionByName(summarize("3_type",
        l1.groupBy("event_type").agg(sum("n").as("n"))))
      .orderBy("level")
  }

  /** Retrieval-eval probe cap and lexical cut. */
  val RETR_CAP = 50L
  val RETR_K = 10

  /** Retrieval-quality evaluation — does LEXICAL retrieval recover the
    * EMBEDDING-space nearest neighbor? The harness every hybrid-search
    * (RAG) pipeline runs before trusting cheap lexical recall as the
    * ANN pre-filter: for each of [[RETR_CAP]] probe docs, the top-
    * [[RETR_K]] candidates by distinct-word overlap are checked for
    * the exact cosine top-1 ([[graft.operators.Knn.bruteForceTopK]]
    * truth). Per probe: lexical best + overlap, embedding best, and
    * the recall hit flag. Scale shape: the probe word set is bounded
    * and broadcast, the corpus word stream joins once; per-probe
    * top-K goes through [[graft.operators.Scale.saltedTopKPerKey]]
    * (no full-corpus window partitions); the ranked relation is
    * ≤ probes·K rows, staged for its two consumers. On this fixture
    * text and embeddings are independent, so measured recall ≈ chance
    * — the honest reading, and exactly what the harness exists to
    * catch.
    */
  def xRetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cw = docs.select(col("doc_id"),
      explode(Text.tokens(col("text"))).as("word")).distinct()
    val pw = graft.operators.Scale.stage(cw.where(col("doc_id") < RETR_CAP)
      .select(col("doc_id").as("probe_id"), col("word")))
    val overlap = cw.join(broadcast(pw), "word")
      .where(col("doc_id") =!= col("probe_id"))
      .groupBy("probe_id", "doc_id").agg(count(lit(1)).as("overlap"))
    val topk = graft.operators.Scale.saltedTopKPerKey(overlap, col("probe_id"),
      Seq(col("overlap").desc, col("doc_id")), k = RETR_K, salts = 8,
      tiebreak = col("doc_id"))
    val wr = Window.partitionBy("probe_id")
      .orderBy(col("overlap").desc, col("doc_id"))
    val ranked = graft.operators.Scale.stage(
      topk.withColumn("rk", row_number().over(wr)))
    // the staged PROBE_CAP truth tier filtered to this query's prefix:
    // top-1 per probe is per-probe independent, so the filter selects
    // the identical rows the RETR_CAP-probed pass computed
    val truth = exactTop1(s, dir).where(col("probe_id") < RETR_CAP)
      .select(col("probe_id"), col("cand_id").as("emb_best"))
    truth
      .join(broadcast(ranked.where(col("rk") === 1)
        .select(col("probe_id"), col("doc_id").as("lex_best"),
          col("overlap").as("lex_overlap"))), Seq("probe_id"), "left")
      .join(broadcast(ranked.select(col("probe_id"),
        col("doc_id").as("emb_best"), lit(1L).as("hit"))),
        Seq("probe_id", "emb_best"), "left")
      .select(col("probe_id"), coalesce(col("lex_best"), lit(-1L)).as("lex_best"),
        coalesce(col("lex_overlap"), lit(0L)).as("lex_overlap"),
        col("emb_best"), coalesce(col("hit"), lit(0L)).as("hit"))
      .orderBy("probe_id")
  }

  /** Bitext-mining neighborhood size and quantizer. */
  val BITEXT_K = 4
  val BITEXT_Q = 1L << 40
  val BITEXT_SRC = "en"
  val BITEXT_TGT = "de"
  /** Distance-margin acceptance threshold ([[xBitext]]). */
  val BITEXT_TAU = 0.05

  /** Cross-lingual pair mining — margin-based nearest-neighbor bitext
    * retrieval (Artetxe & Schwenk 2019, arXiv:1811.01136, the
    * DISTANCE-margin variant): for each source-language doc x, its best
    * target-language neighbor y by
    * margin(x,y) = cos(x,y) − (avgNNₖ(x) + avgNNₖ(y))/2 — the margin
    * discounts hubs whose neighborhoods are uniformly close (the
    * failure mode raw cosine retrieval has in multilingual spaces).
    * The ratio-margin form divides by that average instead; on
    * zero-centered cosine spaces (this fixture's random embeddings)
    * the denominator crosses 0, so the distance form is the robust
    * published choice.
    *
    * Scale shape: the forward k-NN runs on a FIXED probe cap
    * ([[PROBE_CAP]] — probes broadcast, the target corpus streams);
    * the reverse k-NN's probe side is the ≤ |probes|·k distinct
    * forward candidates (bounded by construction), against the
    * streaming source corpus. Exactness: each neighborhood average
    * quantizes sims at 2^40 and sums exact longs (order-free), the
    * margin assembles in one double expression, and the per-probe
    * argmax breaks ties (margin desc, cand asc) — all replayed by the
    * oracle. Output: every probe's best pair with sim, margin, and the
    * accept verdict at margin > [[BITEXT_TAU]].
    */
  def xBitext(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val lg = Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"), col("lang"))
    val withLang = emb.join(lg, "vec_id")
    val aAll = withLang.where(col("lang") === BITEXT_SRC)
      .select("vec_id", "embedding")
    val bAll = withLang.where(col("lang") === BITEXT_TGT)
      .select("vec_id", "embedding")
    val probes = aAll.where(col("vec_id") < PROBE_CAP)
    Knn.bitextMine(probes, aAll, bAll, DIM, BITEXT_K, BITEXT_Q, BITEXT_TAU)
      .select(col("src_id"), col("tgt_id"),
        detRound4(col("sim")).as("sim"),
        detRound4(col("margin")).as("margin"), col("accept"))
      .orderBy("src_id")
  }

  /** The ONE multi-table LSH computation both ANN queries derive from —
    * x_lshknn takes the per-probe best neighbor, x_embdup filters the
    * same ranked pairs by threshold; each query's plan contains a single
    * bucket join, never two. STAGED: the ranked-pairs relation is
    * |probes|·k rows (bounded) while its lineage is the L-table bucket
    * join + scoring — the session-warm memo lets the three consumers
    * (x_lshknn / x_embdup / x_lsh_recall) pay that compute once.
    */
  private def lshRanked(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.stage(
      Knn.lshTopK(Tables.embeddings(s, dir),
        Vectors.signPlaneTables(LSH_TABLES, LSH_TABLE_PLANES, DIM), DIM,
        k = 1, bucketCap = LSH_BUCKET_CAP))

  def xLshknn(s: SparkSession, dir: String): DataFrame =
    lshRanked(s, dir)
      .select(col("probe_id").as("vec_id"), col("cand_id"),
        detRound4(col("sim")).as("sim"))
      .orderBy("vec_id")

  /** Embedding-cosine near-duplicate detection: the SAME ranked LSH pairs
    * as x_lshknn, filtered above a similarity threshold — the vector twin
    * of x_lshpairs. Same scale shape: bucket equi-join, never the pair
    * matrix.
    */
  def xEmbdup(s: SparkSession, dir: String): DataFrame =
    lshRanked(s, dir)
      .where(col("sim") > 0.3)
      .select(col("probe_id").as("vec_id"), col("cand_id"),
        detRound4(col("sim")).as("sim"))
      .orderBy("vec_id")

  /** ANN quality as a query: recall@1 of the multi-table LSH tier
    * against the exact brute-force tier over the probe set — the number
    * that tells you whether L×p×cap are tuned right, computed by the
    * engine itself (join of the two tiers, one row out). At scale this
    * runs on a probe SAMPLE; the exact side is the only quadratic piece
    * and is capped. (The fixture's i.i.d. gaussian embeddings are the
    * LSH-adversarial case — no cluster structure, so recall@1 ≈ 0.24 at
    * L=4×p=6; real corpora cluster and score far higher. L is the knob.)
    */
  def xLshRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = exactTop1(s, dir)
      .select(col("probe_id"), col("cand_id").as("exact_cand"))
    val lsh = lshRanked(s, dir).where(col("probe_id") < PROBE_CAP)
      .select(col("probe_id"), col("cand_id").as("lsh_cand"))
    val agree = when(col("lsh_cand") === col("exact_cand"), 1L).otherwise(0L)
    // both sides are ≤ PROBE_CAP rows but read from staged leaves whose
    // stats default to "huge" — without the hint this 500-row merge
    // planned as a SortMergeJoin (two exchanges + sorts)
    exact.join(broadcast(lsh), Seq("probe_id"), "left")
      .agg(count(lit(1)).as("n_probes"),
        sum(agree).as("n_agree"),
        detRound4(sum(agree).cast("double") / count(lit(1))).as("recall_at_1"))
  }

  /** IVF twin of [[xLshRecall]]: recall@1 of the cell-probing tier vs
    * exact over the probe set — the coarse-quantizer quality number
    * nprobe/k get tuned against.
    */
  def xIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val exact = exactTop1(s, dir)
      .select(col("probe_id"), col("cand_id").as("exact_cand"))
    // the probe bound is structural (ivfSearch's bounded side), not a
    // post-filter relying on pushdown through the rank window
    val ivf = Knn.ivfSearch(emb.where(col("vec_id") < PROBE_CAP), emb,
        ivfCentroids(emb), DIM, k = 1, nprobe = 1)
      .select(col("probe_id"), col("cand_id").as("ann_cand"))
    val agree = when(col("ann_cand") === col("exact_cand"), 1L).otherwise(0L)
    // ≤ PROBE_CAP rows per side (the xLshRecall broadcast rationale)
    exact.join(broadcast(ivf), Seq("probe_id"), "left")
      .agg(count(lit(1)).as("n_probes"),
        sum(agree).as("n_agree"),
        detRound4(sum(agree).cast("double") / count(lit(1))).as("recall_at_1"))
  }

  val KMEANS_K = 8
  val IVF_NPROBE = 2

  /** IVF ANN with nprobe=2 — the recall lever over [[xIvfknn]]: each
    * bounded-workload probe ([[PROBE_CAP]]) searches its two nearest
    * cells, candidates stay under their home cell; fan-out linear in
    * nprobe, search cost linear in corpus size ([[Knn.ivfSearch]]).
    */
  def xIvfknn2(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Knn.ivfSearch(emb.where(col("vec_id") < PROBE_CAP), emb,
        ivfCentroids(emb), DIM, k = 1, nprobe = IVF_NPROBE)
      .select(col("probe_id").as("vec_id"), col("cand_id"),
        detRound4(col("sim")).as("sim"))
      .orderBy("vec_id")
  }

  /** Deterministic IVF TRAINING: seed codebook (first k vectors) → one
    * Lloyd refinement with order-independent quantized means
    * ([[Knn.kmeansRefine]]) → re-assignment on the trained codebook.
    * Output: per-cell occupancy + trained-centroid norm. The refinement
    * is bit-reproducible across partitionings, so a serial DuckDB replay
    * hash-matches — distributed codebook training under the same
    * determinism discipline as the engine's money sums.
    */
  def xIvfTrain(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val seed = emb.where(col("vec_id") < KMEANS_K)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    // the refined codebook is k-bounded and consumed twice (the
    // re-assignment pass and the norm join) — unstaged, the whole
    // refine chain ran once per consumer, and the declarative
    // per-dimension sums' wider analysis cost doubled with it
    val trained = graft.operators.Scale.stage(Knn.kmeansRefine(emb, seed, DIM))
    Knn.ivfAssign(emb, trained, DIM)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .join(trained.select(col("cent_id").as("cell"),
        detRound4(Vectors.norm(col("cvec"), DIM)).as("cnorm")), "cell")
      .orderBy("cell")
  }

  val KMEANS_ROUNDS = 3

  /** Iterated IVF training: seed codebook → THREE convergence-checked
    * Lloyd rounds ([[Knn.kmeansTrain]] — the gaussian fixture does not
    * converge that fast, so the round count is deterministic and the
    * serial DuckDB oracle unrolls exactly three refinements) →
    * re-assignment on the trained codebook. Same bit-reproducibility
    * discipline as [[xIvfTrain]]; the convergence early-exit itself is
    * spec-tested on a clustered fixture (KnnSpec/VectorSpec).
    */
  def xIvfTrain2(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val seed = emb.where(col("vec_id") < KMEANS_K)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val (trained, _) = Knn.kmeansTrain(emb, seed, DIM, KMEANS_ROUNDS)
    Knn.ivfAssign(emb, trained, DIM)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .join(trained.select(col("cent_id").as("cell"),
        detRound4(Vectors.norm(col("cvec"), DIM)).as("cnorm")), "cell")
      .orderBy("cell")
  }

  /** The trained IVF index END-TO-END: 3 convergence-checked Lloyd
    * rounds on the seed codebook ([[Knn.kmeansTrain]]) and then the
    * nprobe=2 ANN search over the TRAINED centroids — training and
    * serving composed in one plan, the lifecycle a real index runs
    * (x_ivf_train2 verifies training alone; x_ivfknn2 searches the
    * fixture codebook). The oracle unrolls the same three quantized
    * refinements serially and replays the search against them.
    */
  /** Index-lifecycle health check — the drift-triggered retrain gate
    * over the stored semantic index ([[Knn.indexHealth]]): the codebook
    * trained on the BASE corpus slice (the same base/seed/rounds as
    * [[xCurateSemanticIncremental]]'s stored index) is held against the
    * CURRENT corpus (base + the arriving quarter); per-cell mass
    * distributions under that one codebook yield TV / max-cell-shift
    * staleness metrics and the integer retrain verdict. Two assignment
    * passes + O(k) arithmetic — the decision is bounded-relation work
    * at any corpus size. IndexHealthSpec proves the refresh path
    * (retrain on current == cold retrain, drifted delta flips the
    * verdict); on the fixture's stationary random embeddings the
    * honest verdict is retrain = 0.
    */
  def xIndexHealth(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val base = emb.where(col("vec_id") % 4 =!= 0)
    val seed = base.orderBy("vec_id").limit(KMEANS_K)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val (trained, _) = Knn.kmeansTrain(base, seed, DIM, KMEANS_ROUNDS)
    Knn.indexHealth(base, emb, trained, DIM)
  }

  def xIvfknnTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val seed = emb.where(col("vec_id") < KMEANS_K)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val (trained, _) = Knn.kmeansTrain(emb, seed, DIM, KMEANS_ROUNDS)
    Knn.ivfSearch(emb.where(col("vec_id") < PROBE_CAP), emb, trained,
        DIM, k = 1, nprobe = IVF_NPROBE)
      .select(col("probe_id").as("vec_id"), col("cand_id"),
        detRound4(col("sim")).as("sim"))
      .orderBy("vec_id")
  }

  /** Coreset / prototype selection — the diversity-preserving
    * downsampling step of embedding-side curation (the SemDeDup "keep
    * one representative per semantic cluster" shape): train the
    * [[KMEANS_ROUNDS]]-round codebook, assign every vector to its home
    * cell, and keep the cell MEDOID (max cosine to the trained
    * centroid; vec_id tie-break). Scale shape: codebook broadcast both
    * times (k rows), n·k codegen'd dot products, and the per-cell
    * argmax is max_by over a composite ordering struct — only the k
    * winners cross the exchange (the ivfAssign discipline), never a
    * rank window over the n scored rows.
    */
  def xCoreset(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val seed = emb.where(col("vec_id") < KMEANS_K)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val (trained, _) = Knn.kmeansTrain(emb, seed, DIM, KMEANS_ROUNDS)
    val cent = broadcast(trained.select(col("cent_id").as("cell"),
      col("cvec"), Vectors.norm(col("cvec"), DIM).as("cnrm")))
    Knn.ivfAssign(emb, trained, DIM)
      .join(cent, "cell")
      .withColumn("csim", Vectors.cosineByNorms("embedding", "cvec", "nrm", "cnrm"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        max_by(struct(col("vec_id"), col("csim")),
          struct(col("csim"), -col("vec_id"))).as("m"))
      .select(col("cell"), col("n_vecs"), col("m.vec_id").as("medoid"),
        detRound4(col("m.csim")).as("sim"))
      .orderBy("cell")
  }

  /** τ stays at 0.3 deliberately: round 7's ~8-minute oracle wall for
    * x_semdedup was NOT the percolated closure itself (500 vectors cap
    * the all-pairs reach at 250k rows — trivial) but DuckDB re-inlining
    * every non-recursive CTE referenced from a recursive term, so each
    * fixpoint iteration re-ran the whole kmeans-chain + pair scoring.
    * `AS MATERIALIZED` on the chain CTEs fixes it (measured at sf0.01:
    * 467 s → 0.5 s, byte-identical result), keeping the round-1..7
    * hashes stable instead of re-baselining at a different τ.
    */
  val SEMDEDUP_TAU = 0.3
  /** Tighter τ for the nprobe-probed dedup variant — see
    * [[xSemdedupProbe]]'s scaladoc for why the probed candidate set
    * needs a sparser pair graph than [[SEMDEDUP_TAU]] yields. */
  val SEMDEDUP_PROBE_TAU = 0.4

  /** Per-cell candidate cap for the semantic-dedup pair join
    * ([[Knn.cellPairs]]) — bounds a hot cell's pair volume to
    * |cell|·cap instead of |cell|². Far above every gate-fixture cell
    * size (≤ ~300 vectors per cell at sf0.1); cells outgrow it around
    * sf1, where it is the skew backstop, the same role
    * [[LSH_BUCKET_CAP]] plays in the LSH tier. [[capIdsSql]] splices
    * the same md5-ordered cap into the family's oracles, so the Spark
    * plan and the DuckDB twin agree at every scale.
    */
  val SEMDEDUP_CELL_CAP = 1024

  /** SEMANTIC dedup end-to-end — the embedding-space sibling of
    * [[xCurateFuzzy]]'s text pipeline, composed from verified parts in
    * ONE plan: train a codebook ([[Knn.kmeansTrain]], [[KMEANS_ROUNDS]]
    * convergence-checked Lloyd rounds), assign every vector to its home
    * cell, pair vectors WITHIN a cell above cosine [[SEMDEDUP_TAU]]
    * ([[Knn.cellPairs]]: equi-join on the cell key with a
    * [[SEMDEDUP_CELL_CAP]] per-cell candidate bound — never the n² pair
    * matrix, even on a hot cell; the SemDeDup-style shape where the
    * codebook's k grows ~√n so cells stay bounded and the within-cell
    * quadratic term is O(n) total), close the pairs transitively
    * ([[Dedup.dupClusters]]), and keep one representative per cluster
    * (the min-id label; kept = 1).
    *
    * Scale shape: both pair sides reuse ONE cell exchange
    * (ReuseExchange, the [[Knn.ivfTopK]] pattern); cross-cell near-dups
    * are the recall trade every cell-partitioned dedup makes — raise
    * recall by probing neighbor cells, linearly, like IVF nprobe.
    */
  def xSemdedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val seed = emb.where(col("vec_id") < KMEANS_K)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val (trained, _) = Knn.kmeansTrain(emb, seed, DIM, KMEANS_ROUNDS)
    val pairs = Knn.cellPairs(Knn.ivfAssign(emb, trained, DIM),
      SEMDEDUP_TAU, SEMDEDUP_CELL_CAP)
    Dedup.dupClusters(emb.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("cluster"),
        (col("doc_id") === col("cluster")).cast("bigint").as("kept"))
      .orderBy("vec_id")
  }

  /** [[xSemdedup]] with the nprobe recall lever — the cross-cell answer
    * to cell-partitioned dedup's one structural miss: a near-dup pair
    * split across a codebook boundary. Each vector probes its
    * [[IVF_NPROBE]] nearest trained cells while candidates stay under
    * their home cell ([[Knn.cellPairsProbed]]); recall rises linearly
    * in nprobe (never quadratically), the same lever the IVF search
    * tier uses. Clusters can only COARSEN vs the single-cell pass
    * (every home-cell pair is also a probed pair), so keep-counts are
    * ≤ [[xSemdedup]]'s at equal τ — the recall/cost dial a real
    * curation run tunes. Oracle: the probed pair set replayed in SQL,
    * same recursive-CTE closure.
    *
    * τ is [[SEMDEDUP_PROBE_TAU]], tighter than [[xSemdedup]]'s 0.3: the
    * fixture's sim distribution is pure noise tail (no sim > 0.5 pair
    * exists), and at 0.3 the DOUBLED probed candidate set pushes the
    * pair graph past percolation — one giant component whose transitive
    * closure the SQL oracle then pays for quadratically (measured: ~8
    * minutes at sf0.01 vs seconds sparse). 0.4 keeps ~59 true-tail
    * pairs over 500 vectors: non-vacuous, near-dup-sized components,
    * bounded closure — the regime semantic dedup actually targets.
    * (Round 8 found most of those minutes were NOT the closure itself
    * but DuckDB re-inlining the chain CTEs per fixpoint iteration —
    * see [[SEMDEDUP_TAU]]'s scaladoc; with `AS MATERIALIZED` this
    * oracle runs in under a second. The sparser 0.4 regime remains the
    * right semantic choice for the probed variant.)
    */
  def xSemdedupProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val seed = emb.where(col("vec_id") < KMEANS_K)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val (trained, _) = Knn.kmeansTrain(emb, seed, DIM, KMEANS_ROUNDS)
    val pairs = Knn.cellPairsProbed(emb, trained, DIM,
      SEMDEDUP_PROBE_TAU, IVF_NPROBE, SEMDEDUP_CELL_CAP)
    Dedup.dupClusters(emb.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("cluster"),
        (col("doc_id") === col("cluster")).cast("bigint").as("kept"))
      .orderBy("vec_id")
  }

  /** Incremental SEMANTIC ingest — [[graft.queries.PipelineQueries.xDedupIncremental]]'s
    * pattern in embedding space: every fourth vector plays the arriving
    * delta, the rest the kept base corpus whose durable artifacts are
    * the codebook (trained on the BASE only — an ingest run reads the
    * index, it doesn't retrain on data it hasn't seen) and the
    * [[Knn.ivfAssign]] cell index. [[Knn.probeCellIndex]] scores each
    * delta vector against its [[IVF_NPROBE]] nearest cells and joins
    * the capped index — |delta|·nprobe·cellCap work, the base never
    * re-paired. τ is [[SEMDEDUP_PROBE_TAU]] (the probed-variant
    * regime). Output per matched delta vector: distinct base matches +
    * smallest matching base id, the quarantine verdict. The oracle
    * replays the trained assignment and the probe join in SQL — no
    * transitive closure, so it's linear in the pair count.
    */
  def xSemdedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val base = emb.where(col("vec_id") % 4 =!= 0)
    val delta = emb.where(col("vec_id") % 4 === 0)
    val seed = base.orderBy("vec_id").limit(KMEANS_K)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val (trained, _) = Knn.kmeansTrain(base, seed, DIM, KMEANS_ROUNDS)
    Knn.probeCellIndex(delta, Knn.ivfAssign(base, trained, DIM), trained,
        DIM, SEMDEDUP_PROBE_TAU, IVF_NPROBE, SEMDEDUP_CELL_CAP)
      .orderBy("vec_id")
  }

  /** Winnowing fingerprints (rolling-hash k-grams, minima per w-window)
    * in long (doc_id, fp) format — [[graft.expressions.RollingWinnow]],
    * the position-robust signature whose size tracks length/w.
    */
  def xWinnow(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(RollingWinnow.call(Text.tokens(col("text")), lit(3), lit(4))).as("fp"))
      .orderBy("doc_id", "fp")
  }

  val WINNOW_DF_CAP = 20
  val WINNOW_SHARED_MIN = 3

  /** Winnowing fingerprint MATCHING — the MOSS use of [[xWinnow]]'s
    * signatures: doc pairs sharing at least [[WINNOW_SHARED_MIN]]
    * fingerprints, after dropping fingerprints present in more than
    * [[WINNOW_DF_CAP]] docs (the boilerplate filter, which is ALSO the
    * skew backstop: a hot fingerprint would otherwise fan the
    * equi-join out quadratically). One fp exchange carries the df
    * window AND the self-join; pairs aggregate map-side.
    */
  def xWinnowPairs(s: SparkSession, dir: String): DataFrame = {
    // one materialization of the capped fingerprint relation: the
    // self-join would otherwise re-run the rolling-hash explode +
    // distinct + df window once per side
    val fps = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(RollingWinnow.call(Text.tokens(col("text")), lit(3), lit(4))).as("fp"))
      .distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .where(col("df") <= WINNOW_DF_CAP)
      .select("doc_id", "fp")
      .transform(graft.operators.Scale.stage(_))
    fps.select(col("fp"), col("doc_id").as("doc_a"))
      .join(fps.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= WINNOW_SHARED_MIN)
      .orderBy("doc_a", "doc_b")
  }

  /** The COMPLETE 3-stage near-dup pipeline in one plan — the canonical
    * shape a 100 TB dedup pass runs: (1) n-perm signatures, narrow
    * per-row; (2) banded LSH candidates, one equi-join on band keys;
    * (3) exact 3-gram-shingle Jaccard verification paid ONLY by candidate
    * pairs (never the pair matrix), with the verified threshold matching
    * the banding's s-curve midpoint (≈(1/b)^(1/r)).
    */
  def xNeardup(s: SparkSession, dir: String): DataFrame =
    neardupVerifiedPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), detRound4(col("jac")).as("jac"))
      .orderBy("doc_a", "doc_b")

  /** The VERIFIED near-dup pair relation (doc_a, doc_b, raw jac ≥ 0.35)
    * shared by [[xNeardup]] and [[xTrianglesVerified]] — band candidates
    * cut by the exact Jaccard verify, the graph every downstream dedup
    * consumer should read at 100 TB (its edge volume scales with TRUE
    * duplication, exponent 0.61 in the sf10 record, where the raw
    * candidate graph densifies quadratically with band collisions).
    */
  private def neardupVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cands = Dedup.bandedCandidates(docs, col("text"), N_PERMS, ROWS_PER_BAND)
    // pre-distinct once per doc: the pair joins ship the smaller
    // deduped sets and the per-pair verify drops to one hash-set pass
    // (Dedup.jaccardDistinct — set-identical values)
    val sh = docs.select(col("doc_id"),
      array_distinct(Text.shinglesNative(Text.tokens(col("text")), 3)).as("sh"))
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("jac", Dedup.jaccardDistinct(col("sha"), col("shb")))
      .where(col("jac") >= 0.35)
  }

  /** Dedup-eval doc-id cap — FIXED (the ANN-probe discipline: a
    * proportional sample would reintroduce n² truth pairs). 500 covers
    * every sf0.01 doc (the fixture's dup pairs span ids 8–486), so the
    * truth set is non-trivial at every SF.
    */
  val DEDUP_EVAL_CAP = 500L

  /** Candidate-generation quality harness for the banded MinHash tier:
    * on the first [[DEDUP_EVAL_CAP]] docs, exact all-pairs Jaccard
    * (bounded ≤ C(200,2) pairs) defines the ≥0.35 near-dup TRUTH set;
    * the banded candidates are scored against it — precision (how many
    * candidate pairs are true near-dups), recall (how many true pairs
    * the bands surface; the verify stage can never recover a pair the
    * bands missed), F1 = 2·hit/(cand+truth) assembled from the exact
    * counts. The number a pipeline watches when tuning
    * N_PERMS/ROWS_PER_BAND. Truth is staged (two consumers).
    */
  def xDedupEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).where(col("doc_id") < DEDUP_EVAL_CAP)
    // both stagings are CAP-bounded (≤ DEDUP_EVAL_CAP rows / pairs among
    // them): sh fed the truth BNLJ twice (broadcast build + stream side
    // each re-ran the shingle pass), and cand fed two aggregate branches
    // (n_cand + n_hit each re-ran the banded self-join) — the query's
    // 7:1 cold:warm ratio was mostly these duplicated bounded chains
    val sh = graft.operators.Scale.stage(
      docs.select(col("doc_id"),
        array_distinct(Text.shinglesNative(Text.tokens(col("text")), 3)).as("sh")))
    val truth = graft.operators.Scale.stage(
      sh.as("a").join(broadcast(sh.as("b")), col("a.doc_id") < col("b.doc_id"))
        .where(Dedup.jaccardDistinct(col("a.sh"), col("b.sh")) >= 0.35)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")))
    val cand = graft.operators.Scale.stage(
      Dedup.bandedCandidates(docs, col("text"), N_PERMS, ROWS_PER_BAND))
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nC = cand.agg(count(lit(1)).as("n_cand"))
    val nH = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nT.crossJoin(broadcast(nC)).crossJoin(broadcast(nH)).select(
      col("n_truth"), col("n_cand"), col("n_hit"),
      detRound4(when(col("n_cand") === 0, lit(0.0))
        .otherwise(col("n_hit").cast("double") / col("n_cand"))).as("precision"),
      detRound4(when(col("n_truth") === 0, lit(0.0))
        .otherwise(col("n_hit").cast("double") / col("n_truth"))).as("recall"),
      detRound4(when(col("n_cand") + col("n_truth") === 0, lit(0.0))
        .otherwise(lit(2.0) * col("n_hit").cast("double") /
          (col("n_cand") + col("n_truth")))).as("f1"))
  }

  /** Power-iteration rounds for [[xPagerank]] — fixed so the oracle
    * unrolls; authority ranks stabilize in a few damped rounds on
    * near-dup graphs (diameter is small), and the round count is a
    * plan-time constant at any corpus size.
    */
  val PR_ITERS = 3

  /** Damping factor shared by the Scala iteration and the oracle's
    * unrolled replay (interpolated into the SQL so a change breaks
    * loudly in one place, not silently at hash-compare time).
    */
  val PR_DAMPING = 0.85

  /** PageRank authority over the near-dup candidate graph
    * ([[Dedup.pageRank]] on [[Dedup.bandedCandidates]] pairs): the
    * canonical-copy/boilerplate-hub signal complementing the
    * connected-components keep-min rule — within a cluster the most-
    * duplicated member is the natural keeper; corpus-wide the score
    * ranks hub documents for audit (the same damped iteration that
    * ranks URL graphs in web-curation pipelines). `authority` is pr·n
    * (1.0 = the uniform score). Quantized-integer round sums make the
    * three unrolled rounds bit-exact cross-engine.
    */
  def xPagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.bandedCandidates(docs, col("text"), N_PERMS, ROWS_PER_BAND)
    val nRow = broadcast(docs.agg(count(lit(1)).cast("bigint").as("__n")))
    Dedup.pageRank(docs.select("doc_id"), pairs, PR_ITERS, PR_DAMPING)
      .crossJoin(nRow)
      .select(col("doc_id"), col("deg"),
        detRound4(col("pr") * col("__n").cast("double")).as("authority"))
      .orderBy("doc_id")
  }

  /** Triangle census of the banded near-dup candidate graph
    * ([[Dedup.triangleStats]]): transitive-consistency diagnostic —
    * tight dup communities close their triangles; band-collision noise
    * doesn't. Same pair relation as [[xPagerank]]; degree-oriented
    * wedge join keeps a hot vertex at O(√m) out-degree.
    */
  def xTriangles(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.triangleStats(
      Dedup.bandedCandidates(docs, col("text"), N_PERMS, ROWS_PER_BAND))
  }

  /** Triangle census of the VERIFIED near-dup pair graph — the declared
    * 100 TB face of [[xTriangles]]: same [[Dedup.triangleStats]]
    * degree-oriented census, but over [[xNeardup]]'s Jaccard-verified
    * cut instead of the raw band-candidate graph. The raw graph's edge
    * volume is collision-bound and densifies quadratically with corpus
    * growth (the sf10 record's 2.39 top-decade exponent is the INPUT,
    * not the census); the verified graph scales with true duplication
    * (0.61 in the same record), so this is the census a production
    * dedup pipeline runs — x_triangles stays as the collision-noise
    * diagnostic whose edge count against this one MEASURES the noise.
    */
  def xTrianglesVerified(s: SparkSession, dir: String): DataFrame =
    Dedup.triangleStats(
      neardupVerifiedPairs(s, dir).select("doc_a", "doc_b"))

  /** Keep-by-AUTHORITY — [[xKeepBest]] with the keeper chosen by
    * [[Dedup.pageRank]] instead of length: per near-dup cluster
    * (size ≥ 2), the member the most other documents duplicate wins
    * (ties to the lower doc_id), with its uniform-relative authority.
    * Clusters and scores share one banded-candidate pair relation; the
    * double argmax is exact cross-engine because every pr is the same
    * quantized-round value in both engines.
    */
  def xKeepAuthority(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.bandedCandidates(docs, col("text"), N_PERMS, ROWS_PER_BAND)
    val clusters = Dedup.dupClusters(docs, pairs)
    val pr = Dedup.pageRank(docs.select("doc_id"), pairs, PR_ITERS, PR_DAMPING)
    val nRow = broadcast(docs.agg(count(lit(1)).cast("bigint").as("__n")))
    clusters.join(pr.select("doc_id", "pr"), "doc_id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_docs"),
        max_by(col("doc_id"), struct(col("pr"), -col("doc_id"))).as("keep_doc"),
        max("pr").as("__mx"))
      .where(col("n_docs") >= 2)
      .crossJoin(nRow)
      .select(col("cluster"), col("n_docs"), col("keep_doc"),
        detRound4(col("__mx") * col("__n").cast("double")).as("authority"))
      .orderBy("cluster")
  }

  /** Group-level MinHash via the typed [[graft.functions.SigUnion]]
    * Aggregator: MinHash is mergeable (signature of a union = element-wise
    * min of signatures), so a per-language near-dup signature aggregates
    * WITHOUT re-hashing text — partial map-side merge, one signature per
    * group shuffled. The SURVEY §2.2 custom-UDAF surface.
    */
  def xGroupSig(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{SigUnion, Text}
    val withSigs = Tables.documents(s, dir)
      .select(col("lang"),
        ShinglePermMinHash.call(Text.tokens(col("text")), lit(3), lit(N_PERMS)).as("sigs"))
    withSigs.groupBy("lang")
      .agg(udaf(SigUnion).apply(col("sigs")).as("gsig"))
      .select(col("lang"), posexplode(col("gsig")))
      .select(col("lang"), col("pos").cast("bigint").as("perm"), col("col").as("sig"))
      .orderBy("lang", "perm")
  }

  private def ivfCentroids(emb: DataFrame): DataFrame =
    emb.where(col("vec_id") < IVF_K)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))

  /** IVF cell occupancy — the codebook-assignment half of the IVF index
    * ([[Knn.ivfAssign]]): n·k broadcast dot products, one row per vector.
    */
  def xIvfCells(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Knn.ivfAssign(emb, ivfCentroids(emb), DIM)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .orderBy("cell")
  }

  /** IVF ANN (nprobe=1): nearest in-cell neighbor for the bounded probe
    * workload ([[PROBE_CAP]] — the same contract as x_cosine/x_knn) on
    * the serving-path shape [[Knn.ivfSearch]]: probe cells broadcast,
    * corpus home-assigned and streamed, partial top-k before the one
    * exchange. The 10× scale probe caught the previous all-corpus-probe
    * form scaling ~25× at 10× data (n²/k pair volume) — a fixed probe
    * workload over a growing index is the search semantics that holds
    * at 100 TB; the corpus-searches-itself workload is dedup and lives
    * in x_semdedup* with its cellCap.
    */
  def xIvfknn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Knn.ivfSearch(emb.where(col("vec_id") < PROBE_CAP), emb,
        ivfCentroids(emb), DIM, k = 1, nprobe = 1)
      .select(col("probe_id").as("vec_id"), col("cand_id"),
        detRound4(col("sim")).as("sim"))
      .orderBy("vec_id")
  }

  /** Regex tokenization (BPE-ish splitter): alnum runs, not whitespace —
    * the second tokenizer family of the text checklist.
    */
  def xRegexTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), "[^a-z0-9]+"), w => length(w) > 0))
          .cast("bigint").as("n_regex_tokens"))
      .orderBy("doc_id")

  // ---- curation gates (decontamination / privacy / repetition / retrieval)

  /** Benchmark decontamination — the C4/GPT-3-style eval-overlap gate: a
    * training doc sharing any 4-word shingle with the held-out
    * "benchmark" slice (here the deterministic doc_id % 50 == 0 slice
    * stands in for an eval set) is flagged with its distinct-overlap
    * count. Scale shape: the benchmark n-gram set is small and FIXED
    * (eval suites don't grow with the corpus) → broadcast hash join
    * against a single corpus-side shingle explode, then ONE groupBy —
    * never a doc×doc comparison. At 100 TB the only full-data cost is
    * the linear shingle scan.
    */
  def xDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    def grams(d: DataFrame) = d.select(col("doc_id"),
      explode(Text.shinglesNative(Text.tokens(col("text")), 4)).as("gram"))
    val evalGrams = grams(docs.where(col("doc_id") % 50 === 0))
      .select("gram").distinct()
    grams(docs.where(col("doc_id") % 50 =!= 0))
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id")
      .agg(count_distinct(col("gram")).as("n_overlap"))
      .orderBy("doc_id")
  }

  /** Bloom-filtered decontamination — the result-identical scale twin of
    * [[xDecontam]]. Same eval slice, same overlap count, but corpus
    * grams are pre-filtered through a fixed-size Bloom bitmap
    * ([[graft.functions.Bloom]], sized by `bp`; the declared query uses
    * [[Bloom.Default]], 2^20 bits = 128 KiB) before the exact equi-join. At 100 TB the
    * difference is the broadcast budget: the distinct eval gram set can
    * be multi-GB, while the bitmap is m/8 bytes whatever the grams
    * weigh — sized by the ε ≈ (1 − e^(−kn/m))^k formula (see
    * [[graft.functions.BloomParams]]; 10^8 grams at ε = 1% wants
    * m ≈ 2^30, k ≈ 7) — and the exact join downstream sees only the
    * true overlap + ε false positives instead of the full corpus gram
    * stream. Bloom filters have no false negatives, so the exact join
    * restores bit-identical output AT ANY SIZE — an undersized filter
    * degrades to pass-through, never to a wrong answer
    * ([[graft.CurationGateSpec]] proves it at m = 2^8). This entry
    * shares x_decontam's oracle, and the correctness gate itself proves
    * the equivalence on the real corpus.
    */
  def xDecontamBloom(s: SparkSession, dir: String, bp: BloomParams): DataFrame = {
    val docs = Tables.documents(s, dir)
    def grams(d: DataFrame) = d.select(col("doc_id"),
      explode(Text.shinglesNative(Text.tokens(col("text")), 4)).as("gram"))
    // staged once: feeds both the bitmap build and the exact verify join
    val evalGrams = graft.operators.Scale.stage(
      grams(docs.where(col("doc_id") % 50 === 0)).select("gram").distinct())
    val bitmap = evalGrams.select(
      udaf(BloomOr(bp.words)).apply(Bloom.positions(col("gram"), bp)).as("bloom"))
    grams(docs.where(col("doc_id") % 50 =!= 0))
      .crossJoin(broadcast(bitmap))
      .where(Bloom.mightContain(col("bloom"), col("gram"), bp))
      .drop("bloom")
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id")
      .agg(count_distinct(col("gram")).as("n_overlap"))
      .orderBy("doc_id")
  }

  /** PII redaction — the privacy-scrub stage of a curation pipeline. The
    * synthetic corpus contains no PII, so the fixture deterministically
    * plants an email and an IPv4 (pure functions of doc_id) ahead of the
    * text; what's under test is the redaction machinery itself — match
    * counting and global replace — with patterns chosen to behave
    * identically under Java regex and DuckDB's RE2. Per-row, zero
    * shuffles: at scale this is a codegen'd map over the scan.
    */
  def xPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
    val ipRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
    val planted = concat_ws(" ",
      concat(lit("user"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 10).cast("string"), lit(".net")),
      concat(lit("src=10."), (col("doc_id") % 256).cast("string"),
        lit(".0.7")),
      col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), planted.as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(emailRe)).cast("bigint").as("n_emails"),
        regexp_count(col("raw"), lit(ipRe)).cast("bigint").as("n_ips"),
        regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
          ipRe, "<IP>").as("redacted"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition/diversity signals: duplicate-trigram
    * fraction, top-word fraction, and word-entropy per doc. The dup
    * fraction is pure per-row array math (zero shuffles); entropy needs
    * word counts, so ONE explode + two-level aggregate keyed by doc —
    * the per-row stats ride through the key as functionally-dependent
    * columns instead of paying a separate join back to the corpus.
    */
  def xRepetition(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val g3 = Text.shinglesNative(toks, 3)
    val n = col("n_words").cast("double")
    val p = col("c").cast("double") / n
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(toks).cast("bigint").as("n_words"),
        // gram COUNT is pure arithmetic (len-2, whole-doc fallback 1) —
        // only the distinct needs the interpreted shingle build, once
        greatest(size(toks) - 2, lit(1)).cast("bigint").as("n_g3"),
        size(array_distinct(g3)).cast("bigint").as("d_g3"),
        toks.as("toks"))
      // materialize the per-doc stats BEFORE the word explode: in one
      // select, CollapseProject + Generate extraction land the heavy
      // interpreted shingle/array_distinct expressions ABOVE the
      // Generate — re-evaluated once per exploded WORD, an ~n_words×
      // overcompute (observed: 108 s at sf0.1 vs ~1 s). The repartition
      // is the barrier AND the aggregation exchange: doc_id partitioning
      // satisfies both downstream groupBy keys, so the aggregate runs
      // partition-local — still ONE corpus shuffle, now of compact
      // per-doc rows instead of exploded words
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_g3"), col("d_g3"),
        explode(col("toks")).as("word"))
      .groupBy("doc_id", "n_words", "n_g3", "d_g3", "word")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_words", "n_g3", "d_g3")
      .agg((-sum(p * log(p))).as("ent"), max(col("c")).as("mx"))
      .select(col("doc_id"), col("n_words"),
        detRound4(lit(1.0) - col("d_g3").cast("double") / col("n_g3"))
          .as("dup3_frac"),
        detRound4(col("mx").cast("double") / n).as("top_word_frac"),
        detRound4(col("ent")).as("word_entropy"))
      .orderBy("doc_id")
  }

  /** BM25 retrieval scoring (k1=1.2, b=0.75) of every doc against a fixed
    * query-term set — the relevance-ranking sibling of x_tfidf. ONE
    * corpus explode filtered to the query terms (tiny after the filter);
    * df comes from re-aggregating that same tf relation (3 rows,
    * broadcast) and N/avgdl from a column-pruned 1-row corpus aggregate —
    * the per-doc dl rides through the tf groupBy key. No second full
    * tokenize pass, nothing driver-side.
    */
  def xBm25(s: SparkSession, dir: String): DataFrame = {
    val K1 = 1.2; val B = 0.75
    val terms = Seq("query", "join", "fast")
    val toks = Text.tokens(col("text"))
    // dl as char arithmetic, not size(split(...)): a select-sibling of an
    // explode is re-evaluated per exploded row (the x_repetition lesson),
    // so it must be O(len) scans, not a full re-tokenize per word
    val dl = (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
      .cast("bigint")
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), dl.as("dl"), explode(toks).as("word"))
      .where(col("word").isin(terms: _*))
      .groupBy("doc_id", "dl", "word")
      .agg(count(lit(1)).as("tf"))
      // df as a word-partitioned window over the one tf relation — each
      // (doc, word) appears once, so count(*) IS the distinct doc count;
      // a groupBy("word") branch would rescan+re-explode the corpus
      // (pruning defeats ReuseExchange, the x_unigram_lp lesson)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
    // N and avgdl from a column-pruned scan with separators+1 arithmetic
    // (== avg(size(split)) exactly) — no second tokenize pass
    val stats = Tables.documents(s, dir)
      .agg(count(lit(1)).as("n_docs"),
        avg(length(col("text")) - length(translate(col("text"), " ", "")) + 1)
          .as("avgdl"))
    tf.crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("score_t",
        col("idf") * (col("tf") * (K1 + 1.0)) /
          (col("tf") + (lit(1.0) - B + lit(B) * col("dl") / col("avgdl")) * K1))
      .groupBy("doc_id")
      .agg(detRound4(sum("score_t")).as("bm25"))
      .orderBy("doc_id")
  }

  /** Product quantization — the PQ half of the canonical IVF-PQ index
    * that makes billion-vector ANN fit in memory: each vector is cut
    * into [[PQ_M]] subvectors and each subvector replaced by the id of
    * its nearest codeword (16 per subspace → 8×4 bits = 4 bytes per
    * 64-dim vector, a 64× compression). The codebook is the
    * deterministic first-[[PQ_CODE_K]]-vectors stand-in (same fixture
    * convention as IVF_K; real training would Lloyd-iterate per
    * subspace exactly like [[Knn.kmeansRefine]]). Scale shape: the
    * codebook is 128 tiny rows → broadcast; encode is a per-row
    * subspace explode + argmin aggregate keyed by (vec, subspace) —
    * linear in vectors, never pairwise. recon_err (the sum of
    * per-subspace quantization distances) is the index-quality metric
    * you'd tune M/K by.
    */
  // fixture-constant bindings of the parameterized graft.operators.Pq
  // pipeline (codeK/m are ARGUMENTS there, with the growth rules in its
  // scaladoc; ScaleSpec pins the plan shape at production-size knobs)
  private def pqSubRows(df: DataFrame): DataFrame =
    graft.operators.Pq.subRows(df, PQ_M, DIM)

  private def pqCents(emb: DataFrame): DataFrame =
    graft.operators.Pq.codebook(emb, PQ_CODE_K, PQ_M, DIM)

  private def l2sq(a: Column, b: Column): Column =
    graft.operators.Pq.l2sq(a, b)

  // STAGED: the code table is n·M small rows (the whole point of PQ)
  // while its lineage is codebook training + nearest-codeword encoding —
  // the session-warm memo lets the three consumers (x_pq / x_pq_recall /
  // x_ivfpq) pay that once
  private def pqCodes(emb: DataFrame): DataFrame =
    graft.operators.Scale.stage(
      graft.operators.Pq.encode(emb, pqCents(emb), PQ_M, DIM))

  def xPq(s: SparkSession, dir: String): DataFrame = {
    val codeCols = (0 until PQ_M).map(j =>
      max(when(col("j") === j, col("code"))).as(s"code$j"))
    pqCodes(Tables.embeddings(s, dir)).groupBy("vec_id")
      .agg(codeCols.head, (codeCols.tail :+
        detRound4(sum(col("bd2"))).as("recon_err")): _*)
      .orderBy("vec_id")
  }

  /** Diagnostic probe set of the PQ/IVF-PQ recall metrics: every 100th
    * vec_id, CAPPED — the cap is what keeps the probe count FIXED as
    * the corpus grows (the ANN-probe discipline: a proportional sample
    * re-introduces n²/100 exact-side pair volume — the full-suite ×10
    * probe measured x_pq_recall at 42× warm before the cap). The cap
    * covers every fixture vec_id at sf0.01 AND sf0.1, so declared
    * hashes are unchanged; at 10× data the probe workload stays 20.
    */
  val PQ_PROBE_CAP = 2000

  private def pqProbeRows(emb: DataFrame): DataFrame =
    emb.where(col("vec_id") % 100 === 0 && col("vec_id") < PQ_PROBE_CAP)

  /** The exact-L2 truth side every compressed-tier recall metric scores
    * against: per bounded probe ([[pqProbeRows]] discipline), the
    * full-precision nearest neighbor — min_by over (d2, vec_id), self
    * excluded. STAGED: ≤ |probes| rows (bounded) while its lineage is a
    * probes-broadcast × corpus stream scoring pass — the five consumers
    * (x_srp_recall / x_sq8_recall / x_bq_recall / x_mrl_recall /
    * x_pq_recall) each re-ran this identical pass privately (measured
    * 0.3-0.5 s apiece at sf0.1); the session memo pays it once.
    * Exactness: identical expression tree to the per-query branches it
    * replaces — l2sq in index order, ties to the smaller vec_id. */
  private def pqExactNn(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.stage {
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("fv"))
      val probes = v.where(col("vec_id") % 100 === 0 &&
          col("vec_id") < PQ_PROBE_CAP)
        .select(col("vec_id").as("p"), col("fv").as("pfv"))
      v.join(broadcast(probes), col("vec_id") =!= col("p"))
        .withColumn("d2", l2sq(col("pfv"), col("fv")))
        .groupBy("p")
        .agg(min_by(col("vec_id"), struct(col("d2"), col("vec_id")))
          .as("exact_nn"))
    }

  /** PQ asymmetric-distance recall@1 — the accuracy metric of the
    * compressed tier: each probe builds its 8×16 codeword distance table
    * (ADC lookup table), candidate distances are the SUM of 8 table
    * lookups over the 4-byte codes (never touching the original
    * vectors), and the approx nearest is scored against the exact-L2
    * nearest. Scale shape: the probe set is the bounded diagnostic
    * sample ([[pqProbeRows]]) so dtab stays tiny and broadcast; the
    * code table — 8 small ints per vector, the whole point of PQ — is
    * the only corpus-sized relation scanned; exact side broadcasts only
    * the probes and partial-aggregates (the r5 exact-KNN shape).
    */
  def xPqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val probeRows = pqProbeRows(emb)
    // ADC lookup table: probe × subspace × codeword (|probes|·128 rows)
    val dtab = pqSubRows(probeRows).join(broadcast(pqCents(emb)), "j")
      .select(col("vec_id").as("p"), col("j"), col("c"),
        l2sq(col("sl"), col("csl")).as("td2"))
    val codes = pqCodes(emb).select(col("vec_id").as("cand"), col("j"), col("code"))
    val approx = codes
      .join(broadcast(dtab),
        codes("j") === dtab("j") && codes("code") === dtab("c") &&
          codes("cand") =!= dtab("p"))
      .groupBy("p", "cand").agg(sum("td2").as("ad2"))
      .groupBy("p")
      .agg(min_by(col("cand"), struct(col("ad2"), col("cand"))).as("pq_nn"))
    approx.join(broadcast(pqExactNn(s, dir)), "p")
      .select(col("p").as("probe_id"), col("pq_nn"), col("exact_nn"),
        (col("pq_nn") === col("exact_nn")).cast("bigint").as("hit"))
      .orderBy("probe_id")
  }

  /** IVF-PQ search — the composition that makes billion-vector ANN fit
    * a cluster: IVF prunes the search to each probe's [[IVF_NPROBE]]
    * nearest cells, then PQ scores ONLY those candidates from their
    * 4-byte codes via the probe's ADC lookup table — candidate vectors
    * are never touched after indexing. Scale shape: the full corpus is
    * scanned exactly twice (home-cell assignment, PQ encode — both
    * broadcast-centroid passes with no shuffle); the probe set is a
    * bounded diagnostic sample, so its cell fan-out (`pairs`) and ADC
    * table stay broadcast-sized, and the only corpus-sized relation in
    * the search itself is the CODE table (8 small ints/vector — the
    * point of PQ). A serving path with unbounded probes would swap the
    * two broadcasts for an equi-join shuffle on cell/code — same plan
    * shape, no quadratic anywhere. n_cand is the per-probe scanned-
    * candidate count: the IVF selectivity number you'd tune nprobe by.
    */
  def xIvfpq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val probeRows = pqProbeRows(emb)
    val cents = ivfCentroids(emb)
    // probe-side cell ranking: |sample|·k rows, broadcast centroids
    val cn = cents.select(col("cent_id"), col("cvec"),
      Vectors.norm(col("cvec"), DIM).as("cnrm"))
    val wc = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))
    val probeCells = probeRows.select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding"), DIM).as("nrm"))
      .join(broadcast(cn))
      .withColumn("csim",
        Vectors.cosineByNorms("embedding", "cvec", "nrm", "cnrm"))
      .withColumn("rk", row_number().over(wc))
      .where(col("rk") <= IVF_NPROBE)
      .select(col("vec_id").as("p"), col("cent_id").as("cell"))
    // candidate set: home-cell assignment joined to the probed cells —
    // a candidate appears at most once per probe (one home cell)
    val pairs = Knn.ivfAssign(emb, cents, DIM)
      .select(col("vec_id").as("cand"), col("cell"))
      .join(broadcast(probeCells), Seq("cell"))
      .where(col("cand") =!= col("p"))
      .select("p", "cand")
    val dtab = pqSubRows(probeRows).join(broadcast(pqCents(emb)), "j")
      .select(col("vec_id").as("p"), col("j"), col("c").as("code"),
        l2sq(col("sl"), col("csl")).as("td2"))
    pqCodes(emb).select(col("vec_id").as("cand"), col("j"), col("code"))
      .join(broadcast(pairs), "cand")
      .join(broadcast(dtab), Seq("p", "j", "code"))
      .groupBy("p", "cand").agg(sum("td2").as("ad2"))
      .groupBy("p")
      .agg(count(lit(1)).as("n_cand"),
        min_by(struct(col("cand"), col("ad2")),
          struct(col("ad2"), col("cand"))).as("b"))
      .select(col("p").as("probe_id"), col("n_cand"),
        col("b.cand").as("ivfpq_nn"), detRound4(col("b.ad2")).as("ad2"))
      .orderBy("probe_id")
  }

  /** Per-source mixture accounting — the token-budget table a training
    * run samples against (docs, estimated tokens, and each source-lang
    * cell's share of the corpus token budget). One scan + one groupBy;
    * the global-share window runs over the already-aggregated
    * source×lang table (bounded cardinality, like x_tfidf's vocabulary
    * window), not the corpus.
    */
  /** The (source, lang, n_docs, est_tokens) cell aggregate every
    * mixture query starts from — one scan + one groupBy.
    */
  private def mixCells(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), col("lang"),
        Text.tokenCountEstimate(col("text")).as("t"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("est_tokens"))

  def xSourceMix(s: SparkSession, dir: String): DataFrame =
    mixCells(s, dir)
      .withColumn("token_share",
        detRound4(col("est_tokens").cast("double") /
          sum(col("est_tokens")).over(Window.partitionBy())))
      .orderBy("source", "lang")

  /** Mixture re-weighting — the sampling-weight table that turns the
    * observed source×lang token mixture ([[xSourceMix]]) into a TARGET
    * mixture (uniform over cells here): weight = target_share /
    * observed_share, the factor a weighted sampler multiplies each
    * cell's inclusion probability by (>1 up-samples rare cells, <1
    * down-samples dominant ones), plus the expected token count the
    * reweighted cell would contribute at the same total budget. Same
    * scan+aggregate shape as x_source_mix; the share window runs over
    * the bounded cell relation.
    */
  def xMixWeights(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    mixCells(s, dir)
      .withColumn("share",
        col("est_tokens").cast("double") / sum(col("est_tokens")).over(w))
      .withColumn("target", lit(1.0) / count(lit(1)).over(w))
      .select(col("source"), col("lang"), col("n_docs"), col("est_tokens"),
        detRound4(col("share")).as("token_share"),
        detRound4(col("target") / col("share")).as("weight"),
        // floor before the cast: Spark's double→bigint cast truncates
        // while DuckDB's rounds — floor makes both sides explicit
        floor(col("target") * sum(col("est_tokens")).over(w)).cast("bigint")
          .as("target_tokens"))
      .orderBy("source", "lang")
  }

  /** Repeat ceiling for [[xMixEpochs]] — past ~4 epochs repeated data
    * stops buying loss (Muennighoff et al. 2023, arXiv:2305.16264); 2
    * here so the cap is non-vacuous on the fixture mixture.
    */
  val MIX_MAX_EPOCHS = 2

  /** Epoch planning under a data-constrained token budget (Muennighoff
    * et al. 2023): given the observed source×lang token mixture and a
    * budget of 2× the corpus redistributed UNIFORMLY across cells (the
    * [[xMixWeights]] target), how many epochs of each cell does the
    * training run consume, where does the repeat ceiling bite, and how
    * many tokens does each capped cell leave unfilled? `epochs` is the
    * raw requirement, `capped_epochs` what the run actually takes,
    * `deficit_tokens` the shortfall the mixer must reassign elsewhere.
    * Budget scales WITH the corpus (2×total/cells), so the plan is
    * SF-free; all arithmetic runs on the bounded cell relation after the
    * one mixCells aggregate — same scan shape as x_source_mix.
    */
  def xMixEpochs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    mixCells(s, dir)
      .withColumn("target_tokens",
        floor(sum(col("est_tokens")).over(w) * 2.0 / count(lit(1)).over(w))
          .cast("bigint"))
      .select(col("source"), col("lang"), col("est_tokens"),
        col("target_tokens"),
        detRound4(col("target_tokens").cast("double") / col("est_tokens"))
          .as("epochs"),
        detRound4(least(lit(MIX_MAX_EPOCHS.toDouble),
          col("target_tokens").cast("double") / col("est_tokens")))
          .as("capped_epochs"),
        greatest(lit(0L),
          col("target_tokens") - col("est_tokens") * MIX_MAX_EPOCHS)
          .cast("bigint").as("deficit_tokens"))
      .orderBy("source", "lang")
  }

  /** TEMPERATURE-scaled mixture re-weighting (T = 2) — the standard
    * smoothing between the observed mixture (T = 1) and uniform
    * (T → ∞): sampled share ∝ observed_share^(1/T), the multilingual/
    * multi-source pretraining trick that up-samples rare cells without
    * flattening the head entirely. T = 2 makes the power an exact IEEE
    * sqrt — bit-identical across engines — and the normalizer sums
    * QUANTIZED integers (order-independent; see the body comment), so
    * the oracle hash-compares with neither a pow() nor an accumulation-
    * order ulp hazard. Same bounded cell-relation windows as
    * [[xMixWeights]]; weight = temp_share / share is the factor against
    * the observed mixture.
    */
  def xMixTemp(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    // the normalizer sum(sqrt(share)) is a DOUBLE sum whose value would
    // depend on accumulation order — quantize to integers first (the
    // kmeansRefine discipline): round(√share·2^40) sums exactly and
    // order-independently on both engines, and the quantization error
    // (≤ 2^-41 per cell) is invisible at 4 decimals
    val Q = math.pow(2, 40)
    mixCells(s, dir)
      .withColumn("share",
        col("est_tokens").cast("double") / sum(col("est_tokens")).over(w))
      .withColumn("rq", floor(sqrt(col("share")) * Q + 0.5).cast("bigint"))
      .withColumn("temp_share",
        col("rq").cast("double") / sum(col("rq")).over(w).cast("double"))
      .select(col("source"), col("lang"), col("n_docs"), col("est_tokens"),
        detRound4(col("share")).as("token_share"),
        detRound4(col("temp_share")).as("temp_share"),
        detRound4(col("temp_share") / col("share")).as("weight"))
      .orderBy("source", "lang")
  }

  /** Decontamination gram-width SWEEP — the knob-tuning table behind
    * [[xDecontam]]: for shingle widths 3/4/5, how many training docs
    * the eval-overlap gate would flag and how many distinct grams
    * overlap. (On this corpus: 3-grams flag half the corpus, 5-grams
    * almost nothing — width 4 is the working point; this query IS that
    * analysis.) Each width is an independent broadcast-join branch over
    * the linear gram scan; a production sweep would run it on a
    * deterministic sample, which changes none of the plan shapes.
    */
  def xContamSweep(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // HYBRID shape, adjudicated at sf1 (r17): round 16 fused BOTH sides
    // into one width-tagged stream (scans 12→4) but the single (w,gram)
    // join + two-distinct Expand over the 3×-combined train stream
    // measured SLOWER warm at sf1 than the branched form it replaced
    // (isolated A/B: fused 2.3–3.0 s vs branched 1.6–2.0 s; an
    // array_distinct pre-dedup variant measured the same) — the three
    // independent branches overlap their stages and keep per-task
    // aggregate state per width, which wins on wall clock even at 10×
    // data. What DOES transfer from the fusion is the EVAL side: the
    // 2%-slice pass is one scan building all three width gram sets
    // (the bounded broadcast relation, staged and shared), so the
    // corpus-side scan count stays 4 (3 train + 1 eval) instead of 6
    // while the train side keeps the measured-faster branched plan.
    val evToks = Text.tokens(col("text"))
    val evAll = graft.operators.Scale.stage(
      docs.where(col("doc_id") % 50 === 0)
        .select(
          size(Text.shinglesNative(evToks, 3)).as("n3"),
          size(Text.shinglesNative(evToks, 4)).as("n4"),
          concat(Text.shinglesNative(evToks, 3), Text.shinglesNative(evToks, 4),
            Text.shinglesNative(evToks, 5)).as("gs"))
        .select(col("n3"), col("n4"), posexplode(col("gs")))
        .select(
          when(col("pos") < col("n3"), 3)
            .when(col("pos") < col("n3") + col("n4"), 4)
            .otherwise(5).as("w"),
          col("col").as("gram"))
        .distinct())
    def hit(n: Int): DataFrame = {
      val ev = evAll.where(col("w") === n).select("gram")
      docs.where(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"),
          explode(Text.shinglesNative(Text.tokens(col("text")), n)).as("gram"))
        .join(broadcast(ev), "gram")
        .agg(count_distinct(col("doc_id")).as("n_contam_docs"),
          count_distinct(col("gram")).as("n_overlap_grams"))
        .select(lit(n.toLong).as("gram_width"),
          col("n_contam_docs"), col("n_overlap_grams"))
    }
    hit(3).unionByName(hit(4)).unionByName(hit(5)).orderBy("gram_width")
  }

  /** The shared quality→decontamination gate of the curate pipelines:
    * non-eval-slice docs passing the length/stopword quality gate,
    * minus docs overlapping the eval slice's 4-gram set — as
    * (doc_id, text). The knobs here (4-gram width, %50 eval slice,
    * 5..2000 words, swr < 0.4) are THE single definition both
    * [[xCurateClean]] and [[xCurateAll]] compose; [[xDecontam]] reports
    * the same overlap as per-doc counts.
    */
  private def decontamGatedDocs(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val n = Text.nWords(toks)
    val enHits = enStopHits(s, toks)
    val docs = Tables.documents(s, dir)
    def grams(d: DataFrame) = d.select(col("doc_id"),
      explode(Text.shinglesNative(toks, 4)).as("gram"))
    val evalGrams = grams(docs.where(col("doc_id") % 50 === 0))
      .select("gram").distinct()
    val contamIds = grams(docs.where(col("doc_id") % 50 =!= 0))
      .join(broadcast(evalGrams), "gram")
      .select("doc_id").distinct()
    val quality = docs.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("source"), col("text"), n.as("n_words"),
        (enHits.cast("double") / n).as("swr"))
      .where(col("n_words").between(5, 2000) && col("swr") < 0.4)
    // broadcast the contaminated-id list: it is bounded by the eval
    // overlap, and a shuffled anti-join would move every text-bearing
    // quality row instead
    quality.join(broadcast(contamIds), Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "text")
  }

  /** The source-gate keep rule: a source is dropped when any failure
    * class (duplicate text, eval contamination, quality) is a
    * 2-standard-error OUTLIER above the corpus-wide rate — the
    * one-sided binomial z² > 4 test. RELATIVE, not absolute, because
    * the absolute rates are scale-dependent (the fixture's eval-gram
    * contamination grows from ~4% at sf0.01 to ~25% at sf0.1 — any
    * fixed budget is vacuous at one SF or the other), while "which
    * domains are anomalously worse than the corpus" is the question a
    * reputation gate actually asks. Exactness: with per-source counts
    * (c, n) and corpus totals (C, N), the test
    * (c/n − C/N)² > 4·(C/N)(1−C/N)/n clears denominators to
    * d = c·N − C·n (exact DECIMAL, decimal before the multiply) and
    * d > 0 ∧ d² > 4·C·(N−C)·n — d² can pass 10^38 at 100 TB doc
    * counts, so the comparison assembles in ONE double expression over
    * the exact integer operands (identical IEEE ops both engines).
    */
  private[graft] def sourceOutlier(c: Column, n: Column,
                                   ctot: Column, ntot: Column): Column = {
    val d = c.cast("decimal(38,0)") * ntot - ctot.cast("decimal(38,0)") * n
    val dd = d.cast("double")
    d > 0 && dd * dd > lit(4.0) * ctot.cast("double") *
      (ntot - ctot).cast("double") * n.cast("double")
  }

  /** keep verdict over a [[sourceStats]]-shaped relation — factored so
    * CurationGateSpec can drive the fixture-vacuous classes (dup,
    * quality) with synthetic stats.
    */
  private[graft] def sourceVerdicts(stats: DataFrame): DataFrame = {
    val tot = stats.agg(sum("n_docs").as("ntot"), sum("dup_cnt").as("dtot"),
      sum("contam_cnt").as("ctot"), sum("qfail_cnt").as("qtot"))
    stats.crossJoin(broadcast(tot))
      .withColumn("keep",
        (!sourceOutlier(col("dup_cnt"), col("n_docs"), col("dtot"), col("ntot")) &&
          !sourceOutlier(col("contam_cnt"), col("n_docs"), col("ctot"), col("ntot")) &&
          !sourceOutlier(col("qfail_cnt"), col("n_docs"), col("qtot"), col("ntot")))
          .cast("bigint"))
  }

  /** (source, n_docs, sum_w, dup_cnt, contam_cnt, qfail_cnt) — the
    * bounded (|sources|-row) reputation relation the source-level gate
    * decides from, CCNet/Gopher-style: whole domains are admitted or
    * dropped BEFORE doc-level curation spends effort on them. One
    * corpus pass: per-doc flags (corpus-wide exact-dup window on the
    * text hash, broadcast eval-overlap contamination ids, the standard
    * length/stopword quality predicate) → one groupBy(source).
    */
  private def sourceStats(s: SparkSession, dir: String): DataFrame =
    // STAGED: |sources| rows (bounded) whose lineage is THREE corpus
    // passes (eval grams, contamination probe, the flag pass with the
    // exact-dup window) — sourceVerdicts consumes its stats twice
    // (population totals + the per-source crossJoin), so unstaged the
    // whole chain ran twice per query (x_source_gate's before-plan: 12
    // scans / 30 Exchanges), and x_source_gate / x_curate_sourced each
    // re-ran it privately; the session memo pays it once.
    graft.operators.Scale.stage(sourceStatsRaw(s, dir))

  private def sourceStatsRaw(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val n = Text.nWords(toks)
    val enHits = enStopHits(s, toks)
    val docs = Tables.documents(s, dir)
    def grams(d: DataFrame) = d.select(col("doc_id"),
      explode(Text.shinglesNative(toks, 4)).as("gram"))
    val evalGrams = grams(docs.where(col("doc_id") % 50 === 0))
      .select("gram").distinct()
    val contamIds = grams(docs.where(col("doc_id") % 50 =!= 0))
      .join(broadcast(evalGrams), "gram")
      .select("doc_id").distinct()
    docs.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("source"), col("text"), n.as("nw"),
        (enHits.cast("double") / n).as("swr"))
      .withColumn("dupf", (count(lit(1)).over(
        Window.partitionBy(md5(col("text").cast("binary")))) > 1).cast("long"))
      .join(broadcast(contamIds.withColumn("contam", lit(1L))),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("contam"))
      .withColumn("qfail",
        (!(col("nw").between(5, 2000) && col("swr") < 0.4)).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("sum_w"),
        sum("dupf").as("dup_cnt"), sum("contam").as("contam_cnt"),
        sum("qfail").as("qfail_cnt"))
  }

  /** Source-level curation gate — the per-source reputation table with
    * outlier verdicts: doc counts, mean length, and the duplicate /
    * eval-contamination / quality-failure shares, plus the relative
    * keep verdict ([[sourceVerdicts]]' 2σ binomial outlier test per
    * class). The relation is bounded by |sources| at any corpus size;
    * the shares are single divisions of exact integer counts. On the
    * fixture the contamination class is the live discriminator; the
    * dup and quality classes are fixture-vacuous and covered by
    * CurationGateSpec.
    */
  def xSourceGate(s: SparkSession, dir: String): DataFrame =
    sourceVerdicts(sourceStats(s, dir)).select(col("source"), col("n_docs"),
      detRound4(col("sum_w").cast("double") / col("n_docs")).as("mean_words"),
      detRound4(col("dup_cnt").cast("double") / col("n_docs")).as("dup_share"),
      detRound4(col("contam_cnt").cast("double") / col("n_docs"))
        .as("contam_share"),
      detRound4(col("qfail_cnt").cast("double") / col("n_docs"))
        .as("qfail_share"),
      col("keep"))
    .orderBy("source")

  /** The source-gated curation pipeline — [[xCurateClean]] with the
    * source-level reputation gate composed between decontamination and
    * exact dedup: docs of sources failing [[sourceKeepExpr]] drop as a
    * whole (the CCNet/Gopher domain-blocklist pass), via ONE broadcast
    * join of the kept-source list (bounded by |sources|). Everything
    * else — quality gate, eval decontam, exact dedup, 80% split,
    * chunking — is the shared curate machinery; docs stream through.
    */
  def xCurateSourced(s: SparkSession, dir: String): DataFrame = {
    val kept = sourceVerdicts(sourceStats(s, dir))
      .where(col("keep") === 1L).select("source")
    val clean = decontamGatedDocs(s, dir).join(broadcast(kept), "source")
    val deduped = clean
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")))
      .where(col("rn") === 1)
    val train = deduped.where(Sampling.pct(col("doc_id")) < 80)
    Sampling.chunked(train.select("doc_id", "text"), col("text"), CHUNK_BUDGET)
      .select("doc_id", "chunk", "n_tok")
      .orderBy("doc_id", "chunk")
  }

  /** The decontaminated curation pipeline — [[xCurate]] with a benchmark
    * decontamination gate between quality filtering and dedup: the eval
    * slice's 4-gram set (small, fixed → broadcast) flags contaminated
    * training docs (one linear shingle pass → ids), which a left-anti
    * join removes before exact dedup, the 80% split and chunking. The
    * full quality→decontam→dedup→split→chunk composition as ONE plan —
    * two linear corpus scans (gram pass + quality pass), one broadcast,
    * no pair matrix.
    */
  def xCurateClean(s: SparkSession, dir: String): DataFrame = {
    val clean = decontamGatedDocs(s, dir)
    val deduped = clean
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")))
      .where(col("rn") === 1)
    val train = deduped.where(Sampling.pct(col("doc_id")) < 80)
    Sampling.chunked(train.select("doc_id", "text"), col("text"), CHUNK_BUDGET)
      .select("doc_id", "chunk", "n_tok")
      .orderBy("doc_id", "chunk")
  }

  /** Vocabulary coverage curve (top 20) — the tokenizer-design number:
    * how much of the corpus token mass the k most frequent words cover.
    * One explode + vocabulary aggregate; the rank/cumulative window runs
    * over the bounded vocabulary relation, and the corpus total comes
    * from the pruned separators+1 scan (no second tokenize).
    */
  def xVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("cnt").desc, col("word"))
    val total = Tables.documents(s, dir)
      .agg(sum((length(col("text")) -
        length(translate(col("text"), " ", "")) + 1).cast("bigint")).as("n_total"))
    Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      // top-20 FIRST via orderBy+limit (TakeOrderedAndProject: per-
      // partition partial top-k, parallel) — ranking the full vocabulary
      // through the global window would single-partition-sort millions
      // of rows at scale just to throw all but 20 away
      .orderBy(col("cnt").desc, col("word")).limit(20)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("word"), col("cnt"),
        detRound4(col("cum").cast("double") / col("n_total")).as("cum_share"))
      .orderBy("rank")
  }

  /** Exact substring-duplication signals — the cross-doc repeated-
    * substring gate (the "dedup training data at the substring level"
    * result): per doc, how many of its positional 4-word grams also
    * occur in at least one OTHER doc, and the longest CONSECUTIVE run
    * of such grams (a long run ≈ a long copied substring — the span a
    * substring-dedup pass would cut). Scale shape, with NO joins in the
    * default mode: one corpus shingle explode (native), then the
    * [[Dedup.gramDupFlag]] dup flag (ONE gram exchange by default;
    * `skewSafe` swaps in the AQE-skew-splittable
    * distinct→count→equi-join for Zipfian corpora),
    * then one exchange back to doc order where gaps-and-islands
    * run-length groups and two bounded aggregates finish.
    *
    * `skewSafe = true` is the declared `_skewjoin` twin. Each of the five
    * twins (this one, x_dedup_cut, x_substr_spans, x_substr_cut and
    * x_containment) shares its base's oracle, so the correctness gate
    * proves the two modes result-identical on the real corpus — the
    * 100 TB Zipfian-gram escape hatch, hash-verified.
    */
  def xDupgrams(s: SparkSession, dir: String, skewSafe: Boolean): DataFrame = {
    // the ONE staged 4-gram relation the cut/dupgrams family shares
    val pos = Dedup.posGrams(Tables.documents(s, dir), col("text"), 4)
    val flagged = Dedup.gramDupFlag(pos, skewSafe)
      .withColumn("dup", col("dup").cast("bigint"))
    // gaps-and-islands: consecutive positions with the same dup flag
    // form one island; its row count is the run length
    val wd = Window.partitionBy("doc_id", "dup").orderBy("pos")
    flagged
      .withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy("doc_id", "dup", "grp").agg(count(lit(1)).as("len"))
      .groupBy("doc_id")
      .agg(sum(col("len")).as("n_grams"),
        sum(when(col("dup") === 1, col("len")).otherwise(0L)).as("n_dup_grams"),
        coalesce(max(when(col("dup") === 1, col("len"))), lit(0L)).as("max_dup_run"))
      .orderBy("doc_id")
  }

  /** Substring-dedup CUT — the transform [[xDupgrams]] only measures:
    * REMOVE every token covered by a cross-doc duplicated 4-gram and
    * emit the surviving text (the train-on-unique-text output).
    *
    * The dup flag is the same distinct-doc-count-≥2 pass over ONE gram
    * exchange as x_dupgrams; coverage is then the BOUNDED island set of
    * the dup gram spans (staged — the dupOccurrences discipline), and
    * the per-doc rebuild joins single tokens against it
    * ([[Dedup.cutDupSpans]]) — the doc-side exchange never carries the
    * full gram relation again.
    *
    * Invariants (spec + oracle): every token appears exactly once
    * (n_tokens = the doc's token count), kept ⊎ cut partitions the
    * positions, and kept_text is the in-order join of uncut tokens.
    * `skewSafe` as in [[xDupgrams]].
    */
  def xDedupCut(s: SparkSession, dir: String, skewSafe: Boolean): DataFrame =
    Dedup.cutDupSpans(Tables.documents(s, dir), col("text"), 4, skewSafe)
      .orderBy("doc_id")

  /** ExactSubstr gram width: 6 words — wide enough that a duplicated
    * span is a real copied phrase on this corpus (1061 duplicated
    * 6-grams at sf0.01, 11k at sf0.1), narrow enough to stay
    * non-vacuous; the [[Dedup.substrIslands]] contract. */
  val ESD_GRAM = 6

  /** Exact-substring duplicated-span inventory ([[Dedup.substrIslands]]):
    * maximal merged islands of ≥2-occurrence 6-word spans, one row per
    * island with its word positions and length — the span-level ESD
    * artifact (occurrence-based, so within-doc self-repeats flag too),
    * complementing the cross-doc measurement (x_dupgrams) and cut
    * (x_dedup_cut) twins. `skewSafe` as in [[xDupgrams]].
    */
  def xSubstrSpans(s: SparkSession, dir: String, skewSafe: Boolean): DataFrame =
    Dedup.substrIslands(Tables.documents(s, dir), col("text"), ESD_GRAM, skewSafe)
      .withColumn("len", col("e") - col("s") + 1)
      .orderBy("doc_id", "s")

  /** The ESD cut itself ([[Dedup.substrCut]]): corpus-first occurrence
    * of every duplicated 6-word span survives, every other copy's
    * tokens are removed, documents rebuilt in order — keep-one
    * substring dedup, vs x_dedup_cut's remove-all-copies variant.
    * `skewSafe` as in [[xDupgrams]].
    */
  def xSubstrCut(s: SparkSession, dir: String, skewSafe: Boolean): DataFrame =
    Dedup.substrCut(Tables.documents(s, dir), col("text"), ESD_GRAM, skewSafe)
      .withColumn("cut_ratio", detRound4(col("n_cut") / col("n_tokens")))
      .select(col("doc_id"), col("n_tokens"), col("n_cut"),
        col("cut_ratio"), col("kept_text"))
      .orderBy("doc_id")

  /** Incremental ESD: duplicated-span islands of an arriving delta
    * (every fourth doc) against the kept corpus's STORED distinct-gram
    * index ([[Dedup.probeSubstrIndex]]) — |delta|·grams work, base
    * never re-paired; the ingest-mode substring-dedup path.
    */
  def xSubstrIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val idx = graft.operators.Scale.stage(
      Dedup.substrGramIndex(docs.where(col("doc_id") % 4 =!= 0),
        col("text"), ESD_GRAM))
    Dedup.probeSubstrIndex(idx, docs.where(col("doc_id") % 4 === 0),
        col("text"), ESD_GRAM)
      .withColumn("len", col("e") - col("s") + 1)
      .orderBy("doc_id", "s")
  }

  /** The EXACT-SUBSTRING curation pipeline — the curate matrix with the
    * ESD keep-one cut as its dedup stage: quality gates → benchmark
    * decontamination → [[Dedup.substrCut]] (corpus-first occurrence of
    * every duplicated 6-word span survives; docs AT LEAST half
    * duplicated drop entirely — which subsumes exact dedup: a verbatim
    * copy is one full-doc span, so the later copy is fully cut and
    * filtered, keep-first semantics for free) → train split → chunking.
    * The substring stage replaces x_curate_clean's whole-doc md5 dedup
    * with span-granular dedup over the SAME gated relation.
    */
  def xCurateExact(s: SparkSession, dir: String): DataFrame = {
    // the gated relation feeds BOTH the gram side (islands) and the
    // token side (marking) of the cut — staged so the quality/decontam
    // lineage runs once (measured: recompute-twice and staged are flat
    // at the 10x probe; the stage wins the second corpus scan at scale)
    val clean = graft.operators.Scale.stage(decontamGatedDocs(s, dir))
    val cut = Dedup.substrCut(clean, col("text"), ESD_GRAM)
      .where(col("n_cut") * 2 < col("n_tokens"))
      .select(col("doc_id"), col("kept_text").as("text"))
    val train = cut.where(Sampling.pct(col("doc_id")) < 80)
    Sampling.chunked(train.select("doc_id", "text"), col("text"), CHUNK_BUDGET)
      .select("doc_id", "chunk", "n_tok")
      .orderBy("doc_id", "chunk")
  }

  /** The incremental EXACT-SUBSTRING curation path — the curate
    * matrix's ingest-mode column with ESD as its dedup stage, the
    * day-to-day 100 TB shape for the strongest dedup discipline: the
    * arriving delta (doc_id%4==0, the [[xCurateIncremental]] ingest
    * convention) passes the quality gate and benchmark decontamination,
    * then every token covered by a span already present in the KEPT
    * base corpus's stored distinct-gram index is cut
    * ([[Dedup.substrCutAgainstIndex]] — the base copy survives, so
    * every probe-side occurrence flags), docs at least half duplicated
    * drop entirely, and the survivors chunk. The plan is |delta|-sized
    * end to end: the base corpus appears ONLY as its bounded staged
    * distinct-gram index (never re-exploded, never re-paired), exactly
    * like the banded index of the fuzzy incremental path.
    */
  def xCurateExactIncremental(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val nW = Text.nWords(toks)
    val enHits = enStopHits(s, toks)
    val docs = Tables.documents(s, dir)
    val delta = docs.where(col("doc_id") % 4 === 0)
    def grams4(d: DataFrame) = d.select(col("doc_id"),
      explode(Text.shinglesNative(toks, 4)).as("gram"))
    // quality gate on the arriving delta (eval-slice docs never ingest)
    val quality = delta.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("text"), nW.as("n_words"),
        (enHits.cast("double") / nW).as("swr"))
      .where(col("n_words").between(5, 2000) && col("swr") < 0.4)
    // decontamination: the eval 4-gram set is the fixed broadcast
    // artifact every ingest run reuses
    val evalGrams = grams4(docs.where(col("doc_id") % 50 === 0))
      .select("gram").distinct()
    val contam = grams4(quality.select("doc_id", "text"))
      .join(broadcast(evalGrams), "gram").select("doc_id").distinct()
    val clean = quality.join(broadcast(contam), Seq("doc_id"), "left_anti")
    // ESD vs the stored base index: |delta| grams probe the staged
    // bounded distinct-gram relation; covered tokens are cut, half-
    // duplicated docs drop (keep-first semantics — the base HAS them)
    val idx = graft.operators.Scale.stage(
      Dedup.substrGramIndex(docs.where(col("doc_id") % 4 =!= 0)
        .select("doc_id", "text"), col("text"), ESD_GRAM))
    val cut = Dedup.substrCutAgainstIndex(idx,
        clean.select("doc_id", "text"), col("text"), ESD_GRAM)
      .where(col("n_cut") * 2 < col("n_tokens"))
      .select(col("doc_id"), col("kept_text").as("text"))
    Sampling.chunked(cut, col("text"), CHUNK_BUDGET)
      .select("doc_id", "chunk", "n_tok")
      .orderBy("doc_id", "chunk")
  }

  /** The incremental SEMANTIC curation path — the last column of the
    * curate ingest matrix: the arriving delta (doc_id%4==0) passes the
    * quality gate and benchmark decontamination, then its EMBEDDINGS
    * probe the kept base corpus's stored cell index
    * ([[Knn.probeCellIndex]] — codebook trained on the BASE only, the
    * ingest run reads the index, it never retrains or re-pairs the
    * base) and any delta doc within [[SEMDEDUP_PROBE_TAU]] cosine of a
    * base vector in its [[IVF_NPROBE]] nearest cells is quarantined;
    * survivors chunk. |delta|-sized end to end: gate and decontam scan
    * the delta, the probe is |delta|·nprobe·cellCap, and the base
    * appears only as its bounded trained artifacts (codebook + staged
    * cell index). Delta docs with no embedding row pass the semantic
    * stage untouched (nothing to compare — the same convention as
    * [[xCurateSemantic]]'s gated join). Closure-free oracle: the gate
    * CTEs compose with the kmeans replay and one probe join — no
    * transitive closure, linear in the hit count.
    */
  def xCurateSemanticIncremental(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val nW = Text.nWords(toks)
    val enHits = enStopHits(s, toks)
    val docs = Tables.documents(s, dir)
    val delta = docs.where(col("doc_id") % 4 === 0)
    def grams4(d: DataFrame) = d.select(col("doc_id"),
      explode(Text.shinglesNative(toks, 4)).as("gram"))
    // quality gate on the arriving delta (eval-slice docs never ingest)
    val quality = delta.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("text"), nW.as("n_words"),
        (enHits.cast("double") / nW).as("swr"))
      .where(col("n_words").between(5, 2000) && col("swr") < 0.4)
    // decontamination: the eval 4-gram set is the fixed broadcast
    // artifact every ingest run reuses
    val evalGrams = grams4(docs.where(col("doc_id") % 50 === 0))
      .select("gram").distinct()
    val contam = grams4(quality.select("doc_id", "text"))
      .join(broadcast(evalGrams), "gram").select("doc_id").distinct()
    val clean = quality.join(broadcast(contam), Seq("doc_id"), "left_anti")
    // semantic quarantine: only the gated delta's vectors probe the
    // base's stored cell index — gate first, probe less
    val emb = Tables.embeddings(s, dir)
    val base = emb.where(col("vec_id") % 4 =!= 0)
    val seed = base.orderBy("vec_id").limit(KMEANS_K)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val (trained, _) = Knn.kmeansTrain(base, seed, DIM, KMEANS_ROUNDS)
    val probes = emb.where(col("vec_id") % 4 === 0)
      .join(clean.select(col("doc_id").as("vec_id")), "vec_id")
    val dupIds = Knn.probeCellIndex(probes, Knn.ivfAssign(base, trained, DIM),
        trained, DIM, SEMDEDUP_PROBE_TAU, IVF_NPROBE, SEMDEDUP_CELL_CAP)
      .select(col("vec_id").as("doc_id"))
    val kept = clean.join(broadcast(dupIds), Seq("doc_id"), "left_anti")
    Sampling.chunked(kept.select("doc_id", "text"), col("text"), CHUNK_BUDGET)
      .select("doc_id", "chunk", "n_tok")
      .orderBy("doc_id", "chunk")
  }

  /** Rare-gram df cap for containment candidates (the winnow-pairs
    * discipline) and the report threshold. */
  val CONT_DF_CAP = 8
  val CONT_MIN = 0.5

  /** Asymmetric containment pairs ([[Dedup.containmentPairs]]):
    * C(a→b) = shared rare 6-grams / grams(a) — the quoted-inside
    * detector Jaccard dilutes; pairs at ≥ [[CONT_MIN]]. `skewSafe` as
    * in [[xDupgrams]].
    */
  def xContainment(s: SparkSession, dir: String, skewSafe: Boolean): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, dir).select("doc_id", "text"),
        col("text"), ESD_GRAM, CONT_DF_CAP, skewSafe)
      .where(col("containment") >= CONT_MIN)
      .withColumn("containment", detRound4(col("containment")))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("containment"))
      .orderBy("doc_a", "doc_b")

  /** Per-doc KEYWORD extraction — top-3 tf-idf terms per document (the
    * doc-level sibling of the corpus-level [[xTfidf]]): one corpus
    * explode into the (doc, word) aggregate, df as a word-partitioned
    * window over that same relation (each row is a distinct doc), N
    * from a column-pruned 1-row broadcast, then a per-doc rank window.
    * The rank key is the ROUNDED tf-idf: ln() may differ in the last
    * ulp across engines, and an unrounded double sort key would make
    * the top-3 cut nondeterministic cross-engine.
    */
  def xKeyterms(s: SparkSession, dir: String): DataFrame = {
    val cdw = Tables.documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .withColumn("df_docs", count(lit(1)).over(Window.partitionBy("word")))
    val total = Tables.documents(s, dir)
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val wd = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("word"))
    cdw.crossJoin(broadcast(total))
      .withColumn("tfidf",
        detRound4(col("tf").cast("double") *
          log(col("n_docs") / col("df_docs").cast("double"))))
      .withColumn("rank", row_number().over(wd).cast("bigint"))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("word"), col("tf"),
        col("df_docs"), col("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** BPE merge-pair counting — the tokenizer-training primitive: the
    * frequency of every adjacent character pair, weighted by word
    * frequency; the top pair is what the first BPE merge would fuse.
    * Scale shape: the corpus pays ONE word explode + shuffle into the
    * word-frequency dictionary (the standard BPE trainer input); the
    * character-pair explode then runs over the VOCABULARY — bounded,
    * ~zipf-small — with counts carried as weights, never touching the
    * corpus again. The rank window orders the pair aggregate (alphabet²
    * rows at most).
    */
  val BPE_ROUNDS = 10

  /** BPE merge TRAINING — the iterative continuation of [[xBpePairs]]:
    * [[BPE_ROUNDS]] rounds of count-pairs → fuse-argmax → rewrite,
    * producing the ordered merge table a tokenizer replays
    * ([[graft.operators.Bpe]]). Exact-oracled since round 8: the DuckDB
    * twin unrolls the training loop with the delimiter-replace encoding
    * (see [[bpeSqlCtes]]) — round 7 had declared this rows-only on the
    * belief the argmax-rewrite loop wasn't SQL-expressible. BpeSpec's
    * differential against a sequential reference implementation stands
    * as the semantics proof. Scale shape: corpus touched once for the
    * (word, freq) dictionary; every round runs over the zipf-bounded
    * vocabulary with a flag-only driver (one merge pair per round).
    */
  /** The ONE staged word-frequency dictionary the BPE family shares —
    * train, apply, and pairs (and both bench runs of each) all pay a
    * single corpus word explode through the session stage-memo; the
    * identical `words` plan also keys [[graft.operators.Bpe.train]]'s
    * merge-table memo, so train and apply share the training loop.
    */
  private def bpeWords(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.stage(
      Tables.documents(s, dir)
        .select(explode(Text.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq")))

  def xBpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.train(bpeWords(s, dir), BPE_ROUNDS).orderBy("merge_idx")

  /** BPE tokenizer APPLY — the closing bracket of the tokenizer
    * lifecycle: train [[BPE_ROUNDS]] merges on the corpus dictionary,
    * then replay them over the distinct vocabulary
    * ([[graft.operators.Bpe.tokenize]]) and emit the resulting token
    * table: per token, its instance count across the tokenized
    * vocabulary (`n_instances` — a word tokenizing to [ab, ab] counts
    * twice) and its freq-weighted corpus occurrence count.
    * The merge-table collect is the flag-only-driver artifact (the
    * kmeans-centroid discipline: [[BPE_ROUNDS]] rows, never data); the
    * dictionary is staged ONCE and feeds both training and apply, so
    * the corpus pays exactly one word explode. At 100 TB the apply map
    * runs over the zipf-bounded vocabulary with the merge table
    * broadcast — token counts weight by word freq, the corpus stream is
    * never re-tokenized.
    */
  def xBpeApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = bpeWords(s, dir)
    val merges = graft.operators.Bpe.train(words, BPE_ROUNDS)
      .orderBy("merge_idx")
      .select(col("left_sym"), col("right_sym"))
      .as[(String, String)].collect().toSeq
    graft.operators.Bpe.tokenize(words, merges)
      .select(explode(col("tokens")).as("token"), col("freq"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_instances"), sum("freq").as("n_occurrences"))
      .orderBy("token")
  }

  /** Per-language tokenizer fertility under the corpus-trained BPE —
    * the tokenizer-fairness report (how many subword tokens each
    * language pays per word/char; the multilingual-cost concern in
    * e.g. the XLM-R and NLLB analyses): train [[BPE_ROUNDS]] merges on
    * the shared staged dictionary (memoized with x_bpe_train/apply),
    * tokenize the VOCABULARY once, then weight per-word token counts by
    * each language's word frequencies. The corpus pays one extra
    * (lang, word) aggregate; everything else runs on the Zipf-bounded
    * vocabulary, and the final metrics divide exact integer sums once
    * per language.
    */
  def xBpeFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = bpeWords(s, dir)
    val merges = graft.operators.Bpe.train(words, BPE_ROUNDS)
      .orderBy("merge_idx")
      .select(col("left_sym"), col("right_sym"))
      .as[(String, String)].collect().toSeq
    val tokenized = graft.operators.Bpe.tokenize(words, merges)
      .select(col("word"), size(col("tokens")).cast("long").as("n_toks"))
    Tables.documents(s, dir)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
      .join(tokenized, "word")
      .groupBy("lang")
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("n_toks")).as("n_tokens"),
        sum(col("freq") * length(col("word"))).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        detRound4(col("n_tokens").cast("double") / col("n_words"))
          .as("tokens_per_word"),
        detRound4(col("n_chars").cast("double") / col("n_tokens"))
          .as("chars_per_token"))
      .orderBy("lang")
  }

  /** Shard count for [[xShardOrder]] — small here; at 100 TB this is
    * the writer-fleet width (thousands), and the plan is unchanged.
    */
  val SHARD_N = 16

  /** Deterministic shard layout for training-data writes (the
    * WebDataset/Megatron-style sharding step between curation and the
    * trainer): every doc gets a stable pseudo-random shard — the
    * md5 bucket of a salted doc key mod [[SHARD_N]] — and a stable
    * position within its shard (hash order, doc_id tiebreak), giving a
    * coordinator-free global permutation: any writer can materialize
    * its shard independently, and changing the salt re-deals the next
    * epoch's order without moving data. The window partitions BY SHARD
    * — never a global orderBy-cumsum, which would serialize the corpus
    * through one partition — so the one exchange is the shard shuffle
    * the write needs anyway. Per-doc token estimates ride along so
    * downstream packers know their budgets.
    */
  def xShardOrder(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Text.tokenCountEstimate(col("text")).as("est_tokens"),
        Sampling.hashBucket(concat(lit("epoch0:"), col("doc_id"))).as("hv"))
      .withColumn("shard", (col("hv") % SHARD_N).cast("bigint"))
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .select(col("doc_id"), col("shard"), col("pos"), col("est_tokens"))
      .orderBy("shard", "pos")
  }

  /** Per-shard WRITE MANIFEST over [[xShardOrder]]'s layout — what a
    * writer fleet publishes and a trainer validates before reading:
    * doc/token totals, the bin count a [[PACK_BUDGET]] concat-then-
    * split pack of the shard yields, the boundary docs, and an order-
    * sensitive md5 of the shard's doc sequence (any membership OR
    * order drift flips it — the cheap end-to-end integrity check).
    * One aggregate over the shard exchange [[xShardOrder]] already
    * pays; the md5 string build is per-shard bounded (n/SHARD_N docs).
    */
  def xManifest(s: SparkSession, dir: String): DataFrame =
    xShardOrder(s, dir)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("est_tokens").as("est_tokens"),
        min_by(col("doc_id"), col("pos")).as("first_doc"),
        max_by(col("doc_id"), col("pos")).as("last_doc"),
        md5(concat_ws(",", transform(
          array_sort(collect_list(struct(col("pos"), col("doc_id")))),
          x => x("doc_id").cast("string"))).cast("binary")).as("manifest_md5"))
      .withColumn("n_bins",
        expr(s"(est_tokens + ${PACK_BUDGET - 1}) div $PACK_BUDGET"))
      .select(col("shard"), col("n_docs"), col("est_tokens"), col("n_bins"),
        col("first_doc"), col("last_doc"), col("manifest_md5"))
      .orderBy("shard")

  def xBpePairs(s: SparkSession, dir: String): DataFrame = {
    val v = bpeWords(s, dir).where(length(col("word")) >= 2)
    val w = Window.orderBy(col("cnt").desc, col("pair"))
    v.select(col("freq"), explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
      // top-20 via TakeOrderedAndProject before the 20-row rank window
      // (the x_vocab_coverage discipline — never globally sort the full
      // pair table for a top-k)
      .orderBy(col("cnt").desc, col("pair")).limit(20)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .select("rank", "pair", "cnt")
      .orderBy("rank")
  }

  /** Unigram language-model scoring — the CCNet-style perplexity proxy:
    * train a unigram LM on the corpus itself (one vocabulary aggregate)
    * and score every doc by its average token log-probability; docs far
    * below the corpus distribution are quality outliers. Scale shape:
    * ONE corpus explode feeds both the per-(doc,word) counts and (via a
    * word-keyed re-aggregate of that same relation, vocabulary-sized
    * output) the LM itself, which joins back broadcast; the corpus total
    * is a 1-row broadcast like x_tfidf's. The global window trap is
    * avoided: N comes from the vocabulary aggregate, never a
    * single-partition window over the corpus.
    */
  def xUnigramLp(s: SparkSession, dir: String): DataFrame =
    unigramScores(s, dir)
      .select(col("doc_id"), col("n_words"), detRound4(col("alp")).as("avg_logprob"))
      .orderBy("doc_id")

  /** DSIR feature-space size (hashed-unigram buckets) and the fixed
    * selection cap. The cap is the ANN-probe discipline applied to data
    * selection: output is top-[[DSIR_TOP]] regardless of corpus size, so
    * the final ordered take is a distributed TakeOrdered, never a full
    * sort materialization.
    */
  val DSIR_B = 64
  val DSIR_TOP = 100
  /** 2⁴⁰ — the established quantizer for order-independent double sums. */
  val DSIR_Q = 1099511627776.0

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169, the published recipe for picking pretraining data
    * that "looks like" a target domain): score every document by how much
    * likelier its hashed-unigram features are under the TARGET
    * distribution (here the lang='en' slice stands in for the target
    * corpus) than under the raw-corpus proposal, then keep the top
    * scorers. Per-bucket log-ratios λ_b = ln p̂_t(b) − ln p̂_p(b)
    * (add-one smoothed) are QUANTIZED once to round(λ·2⁴⁰) on the
    * 64-row broadcast table, so each document's score is an exact
    * integer Σ c_b·λq_b — order-independent across partitions and
    * engines (the shannonEntropy discipline); ln only ever runs on the
    * bounded bucket table, never per row. Shapes: one corpus explode →
    * one (doc, bucket) count aggregate; the λ table aggregates that same
    * relation down to 64 rows inside its broadcast build; scoring joins
    * the broadcast back and sums per doc. Final ranking orders by the
    * ROUNDED weight (then doc_id) so a 1-ulp ln() divergence between
    * engines can never flip the selection order.
    */
  def xDsir(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    val cells = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(Text.tokens(col("text"))).as("word"))
      .withColumn("b",
        expr(s"cast(conv(substring(md5(word), 1, 8), 16, 10) as bigint) % $DSIR_B"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
    val lam = cells.groupBy("b")
      .agg(sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("ct"),
        sum(col("c")).as("cp"))
      .withColumn("nt", sum("ct").over(w))
      .withColumn("np", sum("cp").over(w))
      .select(col("b"),
        round((log((col("ct") + 1).cast("double") / (col("nt") + DSIR_B)) -
          log((col("cp") + 1).cast("double") / (col("np") + DSIR_B))) * DSIR_Q)
          .cast("bigint").as("lq"))
    cells.join(broadcast(lam), "b")
      .groupBy("doc_id", "lang")
      .agg(sum(col("c") * col("lq")).as("wq"))
      .select(col("doc_id"), col("lang"),
        detRound4(col("wq").cast("double") / DSIR_Q).as("dsir_weight"))
      .orderBy(col("dsir_weight").desc, col("doc_id"))
      .limit(DSIR_TOP)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("dsir_weight").desc, col("doc_id")))
        .cast("bigint"))
      .orderBy("rank")
  }

  /** Multiplicative-weight rounds and learning rate of [[xDoremi]];
    * per-word surprisal quantum 2^20 (the DSIR λ discipline), weight
    * normalization quantum 2^40 (the kmeansRefine sum discipline).
    */
  val DOREMI_ROUNDS = 3
  val DOREMI_ETA = 1.0
  val DOREMI_Q = 1048576L

  /** DoReMi-style domain reweighting (Xie et al. 2023, arXiv:
    * 2305.10429, distilled to its dataflow): domains with EXCESS loss
    * over the corpus reference get upweighted by multiplicative
    * weights, yielding the mixture α a next training run samples by.
    * The loss proxy here is the corpus-unigram cross-entropy per word
    * (the full method's proxy/reference model pair distils to
    * one-model surprisal on a measurement engine); the update is the
    * LINEARIZED multiplicative-weights step w′ = α·(1 + η·excess) —
    * rational arithmetic only, so three unrolled rounds replay
    * bit-for-bit cross-engine where exp() would be a libm-ulp hazard.
    *
    * Exactness: per-word surprisal quantizes to round(−ln(c_w/N)·2^20)
    * BEFORE any order-dependent sum (the x_dsir λ discipline); domain
    * sums are exact longs; each round renormalizes through
    * round(w′·2^40) integer ratios. Scale: one corpus explode → one
    * (source, word) aggregate; everything after runs on the bounded
    * domain relation through whole-partition windows.
    */
  def xDoremi(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    val csw = Tables.documents(s, dir)
      .select(col("source"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    // corpus total as a broadcast 1-row cross join, NOT an empty-
    // partition window: sum(c).over(partitionBy()) would funnel the
    // whole vocabulary-scale (source, word) relation through one task
    val nRow = broadcast(csw.agg(sum("c").as("nTot")))
    val scored = csw
      .withColumn("cw", sum("c").over(Window.partitionBy("word")))
      .crossJoin(nRow)
      .withColumn("sq",
        round(-log(col("cw").cast("double") / col("nTot")) * DOREMI_Q)
          .cast("bigint"))
    val dom = scored.groupBy("source")
      // decimal BEFORE the multiply: c·sq is a corpus-mass × quantized-ln
      // product whose per-source sum reaches 2^63 near 1e12 words — the
      // same overflow class fixed in cmsJoinEstimate/xKl/xLlr/xAms
      .agg(sum(col("c").cast("decimal(38,0)") * col("sq")).as("sumq"),
        sum(col("c")).as("n_words"))
      .withColumn("refq",
        sum("sumq").over(w).cast("double") / sum("n_words").over(w))
      .withColumn("xentq", col("sumq").cast("double") / col("n_words"))
      .withColumn("excess",
        greatest(lit(0.0), (col("xentq") - col("refq")) / DOREMI_Q))
    val wq = 1099511627776.0 // 2^40
    var cur = dom.withColumn("alpha", lit(1.0))
    for (_ <- 1 to DOREMI_ROUNDS) {
      cur = cur
        .withColumn("__wq",
          round(col("alpha") * (lit(1.0) + lit(DOREMI_ETA) * col("excess")) * wq)
            .cast("bigint"))
        .withColumn("alpha",
          col("__wq").cast("double") / sum("__wq").over(w).cast("double"))
        .drop("__wq")
    }
    cur.select(col("source"), col("n_words"),
        detRound4(col("xentq") / DOREMI_Q.toDouble).as("xent"),
        detRound4(col("excess")).as("excess"),
        detRound4(col("alpha")).as("alpha"))
      .orderBy("source")
  }

  /** Add-k smoothing constant of the bigram LM (×2 to stay integral in
    * oracle arithmetic: α = [[BIGRAM_ALPHA2]]/2 = 0.5).
    */
  val BIGRAM_ALPHA2 = 1

  /** Bigram-LM perplexity scoring — the KenLM-style quality filter one
    * order up from [[xUnigramLp]]: per doc, the mean log P(wᵢ | wᵢ₋₁)
    * under an add-½ smoothed bigram model trained on the corpus itself.
    * Shapes: bigrams build per row by slicing the token array (no
    * self-join on positions); corpus counts come from WINDOWS over the
    * one (doc, w1, w2) aggregate — c(w1,w2) partitioned by the pair,
    * context totals c(w1·) by the first word — because a separate
    * groupBy branch would rescan the corpus (the unigramScores lesson:
    * pruning differentiates subtrees, ReuseExchange never fires).
    * Vocabulary size arrives as a broadcast 1-row cross join. Two
    * shuffles over the compact aggregate; the corpus explodes once.
    */
  def xBigramLp(s: SparkSession, dir: String): DataFrame = {
    val cdw = Tables.documents(s, dir)
      .withColumn("toks", Text.tokens(col("text")))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(2, size(toks)),
          |  i -> struct(element_at(toks, i - 1) AS w1, element_at(toks, i) AS w2))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c"))
      // staged: the aggregate feeds BOTH the pair-count branch and the
      // score join, and pruning-differentiated subtrees never reuse an
      // exchange — without staging the corpus would re-explode per
      // branch (the unigramScores lesson)
      .transform(graft.operators.Scale.stage(_))
    // corpus counts as COMPACT side tables, not windows over the full
    // (doc, w1, w2) relation: the pair table aggregates map-side and
    // moves only distinct pairs; the context table derives from IT (one
    // more hash aggregate over pairs) and is vocabulary-sized →
    // broadcast here (shuffle-join it at a scale where the vocabulary
    // itself is huge). The full relation crosses the wire ONCE, for the
    // (w1, w2) join — at 100× data the previous second full-relation
    // window exchange (partition by w1) was the dominant cost.
    val pairs = cdw.groupBy("w1", "w2").agg(sum("c").as("c_b"))
    val ctx = broadcast(pairs.groupBy("w1").agg(sum("c_b").as("c_ctx")))
    val bg = cdw.join(pairs, Seq("w1", "w2")).join(ctx, Seq("w1"))
    val vocab = Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .agg(countDistinct("w").as("v"))
    bg.crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        (sum(col("c").cast("double") *
          log((col("c_b").cast("double") * 2.0 + BIGRAM_ALPHA2) /
            (col("c_ctx").cast("double") * 2.0 + col("v").cast("double") * BIGRAM_ALPHA2)))
          / sum(col("c")).cast("double")).as("alp"))
      .select(col("doc_id"), col("n_bigrams"),
        detRound4(col("alp")).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Per-doc (doc_id, n_words, alp) unigram-LM scores — the shared core
    * of [[xUnigramLp]] (the score table) and [[xLpBuckets]] (the
    * quantile-bucket pacing table).
    */
  private def unigramScores(s: SparkSession, dir: String): DataFrame = {
    val cdw = Tables.documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      // LM count per word as a WORD-partitioned window over the one
      // (doc,word) aggregate — a separate groupBy("word") branch would
      // rescan and re-explode the corpus (column pruning differentiates
      // the subtrees, so ReuseExchange never fires; observed as 3 scans)
      .withColumn("c_w", sum(col("c")).over(Window.partitionBy("word")))
    // corpus token total from a column-pruned 1-row scan: separators+1
    // char arithmetic == size(split), no explode, no global window
    val total = Tables.documents(s, dir)
      .agg(sum((length(col("text")) -
        length(translate(col("text"), " ", "")) + 1).cast("bigint")).as("n_total"))
    cdw.crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_words"),
        (sum(col("c").cast("double") *
          (log(col("c_w").cast("double")) - log(col("n_total").cast("double"))))
          / sum(col("c")).cast("double")).as("alp"))
  }

  /** Perplexity-BUCKET pacing table — the quality-pacing view real
    * curation runs sample against: docs quartiled by unigram-LM score,
    * with per-bucket doc/token mass (CCNet's head/middle/tail cut,
    * generalized to quartiles).
    *
    * Scale shape: NO global ntile — a corpus-wide ntile is a
    * single-partition sort of every doc. The quartile THRESHOLDS come
    * from one exact-percentile aggregate over the ROUNDED scores (a
    * 1-row broadcast); bucket assignment is then three comparisons per
    * row, map-side. Thresholds and scores are detRound4'd on BOTH
    * engines before comparing — Spark's percentile lerps
    * (1−d)·lo + d·hi where DuckDB's quantile_cont computes
    * lo + d·(hi−lo), algebraically equal but not bit-equal, so the
    * rounding convention is what keeps boundary docs on the same side.
    *
    * The exact percentile buffers every score in one aggregation state
    * — bounded HERE because detRound4 pre-rounding caps the distinct
    * values the buffer can hold, and fine for the oracle contract; at
    * 100 TB swap the threshold aggregate for `percentile_approx` — the
    * fixed-size mergeable Greenwald–Khanna sketch whose partials
    * combine map-side, declared as the
    * [[graft.operators.LogAnalytics.percentilesApprox]] /
    * l_percentile_approx twin. The rest of the plan (broadcast
    * thresholds, map-side bucket comparisons) is unchanged by that
    * swap.
    */
  def xLpBuckets(s: SparkSession, dir: String): DataFrame = {
    // the threshold branch and the bucket assignment both consume the
    // scored relation, and column pruning differentiates the subtrees
    // (ReuseExchange never fires — the unigramScores lesson), so stage
    // it once instead of re-running the corpus explode + LM aggregates
    // per consumer
    val scored = unigramScores(s, dir)
      .select(col("doc_id"), col("n_words"), detRound4(col("alp")).as("alp"))
      .transform(graft.operators.Scale.stage(_))
    val qs = scored.agg(
      detRound4(percentile(col("alp"), lit(0.25))).as("q1"),
      detRound4(percentile(col("alp"), lit(0.5))).as("q2"),
      detRound4(percentile(col("alp"), lit(0.75))).as("q3"))
    scored.crossJoin(broadcast(qs))
      .withColumn("bucket", (lit(1) +
        (col("alp") > col("q1")).cast("int") +
        (col("alp") > col("q2")).cast("int") +
        (col("alp") > col("q3")).cast("int")).cast("bigint"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"),
        min(col("alp")).as("lo"), max(col("alp")).as("hi"))
      .orderBy("bucket")
  }

  // ---- multimodal ----------------------------------------------------

  def xMultimodal(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"),
        Text.nWords(Text.tokens(col("text"))).as("n_words"),
        col("label").cast("bigint").as("label"),
        detRound4(Vectors.norm(col("embedding"), DIM)).as("vec_norm"))
      .orderBy("doc_id")

  /** The typed multimodal pipeline end-to-end: packetize documents as
    * binary payloads, frame-sample every 2nd 64-byte chunk, count frames
    * per doc. The oracle replays the arithmetic (frames = ⌈⌈len/64⌉/2⌉),
    * so the Dataset plumbing — encoders, flatMap batching, chunk
    * boundaries — is what's actually being checked.
    */
  def xFrames(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.frameSample(
        Multimodal.packetize(Tables.documents(s, dir), "video/fake"),
        frameBytes = 64, stride = 2)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(octet_length(col("frame_bytes")).cast("bigint")).as("sampled_bytes"))
      .orderBy("doc_id")
  }

  /** Byte-histogram features over the opaque multimodal payload —
    * [[graft.operators.Multimodal.byteFeatures]] as a declared query:
    * each doc's bytes bucketed into 16 fixed-width bins, one (doc, bin,
    * count) row per occupied bin — the stand-in for pixel/spectral
    * feature extraction, exercising the Dataset flatMap → hash-agg
    * plumbing a real featurizer rides. Per-row explode then one
    * map-side-combining aggregate; the oracle replays the binning
    * byte-for-byte (the fixture is pure ASCII, so DuckDB's code-point
    * ord() IS the byte value).
    */
  def xByteFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.byteFeatures(
        Multimodal.packetize(Tables.documents(s, dir), "image/fake"), bins = 16)
      .select(col("doc_id"), col("bin").cast("bigint").as("bin"), col("n"))
      .orderBy("doc_id", "bin")
  }

  /** Multimodal AS-OF alignment — the audio/video-to-event sync every
    * multimodal training pipeline needs: each sampled frame
    * ([[xFrames]]' relation) is aligned to the nearest PRECEDING event
    * of its doc's stream (doc → stream by doc_id mod; frame event-time
    * = corpus start + 1 h per frame index — the fixture has no real
    * media clock, so the mapping is synthetic but the dataflow is the
    * real thing). Same union+window as-of shape as q_asof
    * ([[Relational.asofJoin]]): one exchange on the stream key, a
    * running last-non-null — NO cartesian, no per-frame probe join.
    * Frames before their stream's first event keep a NULL value (left
    * as-of). The event side is pre-deduped per (stream, ts) with
    * max_by(event_id) so both engines see a unique as-of candidate at
    * every timestamp; the left tie sorts AFTER every event tie so an
    * exactly-equal timestamp is included (ASOF >= semantics).
    * Oracle: DuckDB's native ASOF LEFT JOIN over the replayed frame
    * arithmetic.
    */
  def xFramesAsof(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Multimodal, Relational}
    val frames = Multimodal.frameSample(
        Multimodal.packetize(Tables.documents(s, dir), "video/fake"),
        frameBytes = 64, stride = 2)
      .select(col("doc_id"), col("frame_idx"))
    val ev = Tables.events(s, dir)
    val t0 = ev.agg(min(unix_micros(col("ts"))).as("t0"))
    val fr = frames.crossJoin(broadcast(t0))
      .select(col("doc_id"), col("frame_idx").cast("bigint").as("frame_idx"),
        (col("doc_id") % 50).as("u"),
        (col("t0") + col("frame_idx") * 3600000000L).as("fts"))
    val evd = ev.where(col("user_id") < 50)
      .groupBy(col("user_id").as("u"), unix_micros(col("ts")).as("ets"))
      .agg(max_by(col("value"), col("event_id")).as("v"))
    Relational.asofJoin(
        left = fr, right = evd, key = "u",
        leftTs = col("fts"), rightTs = col("ets"),
        leftTie = lit(Long.MaxValue), rightTie = lit(0L),
        leftCols = Seq("doc_id", "frame_idx"), payload = col("v"),
        strict = false)
      .select(col("doc_id"), col("frame_idx"),
        detRound4(col("asof_value")).as("last_event_value"))
      .orderBy("doc_id", "frame_idx")
  }

  def xBinary(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        octet_length(col("text").cast("binary")).cast("bigint").as("byte_len"),
        length(col("text")).cast("bigint").as("n_chars"),
        md5(col("text").cast("binary")).as("content_md5"))
      .orderBy("doc_id")

  /** TF-IDF term weighting per (lang, word): tf = term count within the
    * language, idf = ln(N_docs / docs-containing-word). Three hash
    * aggregations plus one broadcast of the 1-row doc count and one
    * broadcastable join on the (tiny) per-word doc frequencies — at
    * 100 TB the word-keyed aggregates partial-aggregate map-side, so
    * the shuffle carries vocabulary, not corpus.
    */
  def xTfidf(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(Text.tokens(col("text"))).as("word"))
    // ONE scan+tokenize+shuffle over the corpus: tf and per-(word, lang)
    // distinct docs aggregate together; since a document has exactly one
    // lang, per-word doc frequency is the SUM of the per-lang distincts —
    // a window over the vocabulary-sized aggregate, not a second corpus
    // pass (two independent groupBys would each rescan and re-explode)
    val g = words.groupBy("word", "lang")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("dd"))
      .withColumn("df_docs", sum("dd").over(Window.partitionBy("word")))
    // doc count: a column-pruned metadata-cheap count, broadcast as 1 row
    val nDocs = Tables.documents(s, dir).agg(countDistinct("doc_id").as("n"))
    g.crossJoin(broadcast(nDocs))
      .select(col("lang"), col("word"), col("tf"), col("df_docs"),
        detRound4(col("tf") * log(col("n").cast("double") / col("df_docs")))
          .as("tfidf"))
      .orderBy("lang", "word")
  }

  // ---- dataset curation ---------------------------------------------

  /** Deterministic 10% sample — membership is a pure function of doc_id
    * ([[Sampling.samplePct]]), identical at any partitioning/scale.
    */
  def xSample(s: SparkSession, dir: String): DataFrame =
    Sampling.samplePct(Tables.documents(s, dir), col("doc_id"), 10)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** train/val/test split assignment (80/10/10 by hash percentile) —
    * stable under corpus growth, no test-set leakage on re-ingest.
    */
  def xSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Sampling.pct(col("doc_id")).as("bucket"),
        Sampling.splitAssign(col("doc_id"), 80, 10).as("split"))
      .orderBy("doc_id")

  /** The END-TO-END curation pipeline in ONE plan — the composition a
    * training-data pass actually runs: quality gate (length + stopword
    * ratio, per-row) → exact dedup (keep lowest doc_id per content hash,
    * one window shuffle) → deterministic 80% train split (per-row hash) →
    * context-window chunking (bounded explode). Everything between the
    * scan and the dedup window is narrow; the output is loader-ready
    * (doc_id, chunk, n_tok) rows.
    */
  def xCurate(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val n = Text.nWords(toks)
    val enHits = enStopHits(s, toks)
    val quality = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), n.as("n_words"),
        (enHits.cast("double") / n).as("swr"))
      .where(col("n_words").between(5, 2000) && col("swr") < 0.4)
    val deduped = quality
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")))
      .where(col("rn") === 1)
    val train = deduped.where(Sampling.pct(col("doc_id")) < 80)
    Sampling.chunked(train.select("doc_id", "text"), col("text"), CHUNK_BUDGET)
      .select("doc_id", "chunk", "n_tok")
      .orderBy("doc_id", "chunk")
  }

  /** The FUZZY-dedup curation pipeline — [[xCurate]] with the exact
    * content-hash dedup stage replaced by the full near-dup machinery:
    * quality gate → n-perm banded-LSH candidates over the gated docs →
    * connected-components clustering ([[Dedup.dupClusters]]) → keep the
    * SMALLEST doc_id per cluster (docs in no pair keep themselves; exact
    * dups are subsumed — identical text signs identically, so they band
    * together) → deterministic 80% train split → context-window
    * chunking. This is the composition a real 100 TB curation pass
    * runs: everything narrow except the one band equi-join and the
    * O(log d) label-propagation rounds; the pair matrix is never
    * materialized. Oracle: the recursive-CTE transitive closure composed
    * with the curate SQL.
    */
  def xCurateFuzzy(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val n = Text.nWords(toks)
    val enHits = enStopHits(s, toks)
    val quality = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), n.as("n_words"),
        (enHits.cast("double") / n).as("swr"))
      .where(col("n_words").between(5, 2000) && col("swr") < 0.4)
      .select("doc_id", "text")
      // one materialization for the three consumers (CC seed, banding,
      // keep join) — the gate re-tokenizes per row, so re-running it
      // per consumer pays the stopword scan thrice
      .transform(graft.operators.Scale.stage(_))
    val clusters = Dedup.dupClusters(quality,
      Dedup.bandedCandidates(quality, col("text"), N_PERMS, ROWS_PER_BAND))
    val keep = quality
      .join(clusters.where(col("doc_id") === col("cluster")).select("doc_id"),
        "doc_id")
    val train = keep.where(Sampling.pct(col("doc_id")) < 80)
    Sampling.chunked(train.select("doc_id", "text"), col("text"), CHUNK_BUDGET)
      .select("doc_id", "chunk", "n_tok")
      .orderBy("doc_id", "chunk")
  }

  /** The SEMANTIC-dedup curation pipeline — the third member of the
    * dedup-curation matrix ([[xCurate]] exact-hash, [[xCurateFuzzy]]
    * text near-dup, this one embedding near-dup): quality gate → the
    * gated docs' embeddings assigned to fixture-codebook cells
    * ([[Knn.ivfAssign]], centroids broadcast) → within-cell cosine >
    * [[SEMDEDUP_TAU]] pairs over ONE reused cell exchange with the
    * [[SEMDEDUP_CELL_CAP]] per-cell candidate bound ([[Knn.cellPairs]],
    * the [[xSemdedup]] shape — never the pair matrix, even on a hot
    * cell) → connected components → keep the cluster-minimum doc →
    * deterministic 80% split → context-window chunking. What text
    * shingles can't see — paraphrases, translations landing near each
    * other in embedding space — this pass removes; at scale the
    * codebook k grows ~√n so the within-cell quadratic term stays O(n)
    * total.
    */
  def xCurateSemantic(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val n = Text.nWords(toks)
    val enHits = enStopHits(s, toks)
    val quality = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), n.as("n_words"),
        (enHits.cast("double") / n).as("swr"))
      .where(col("n_words").between(5, 2000) && col("swr") < 0.4)
      .select("doc_id", "text")
      // one materialization for the three consumers (embedding gate,
      // CC seed, keep join)
      .transform(graft.operators.Scale.stage(_))
    val emb = Tables.embeddings(s, dir)
    val gated = emb.join(quality.select(col("doc_id").as("vec_id")), "vec_id")
    val pairs = Knn.cellPairs(Knn.ivfAssign(gated, ivfCentroids(emb), DIM),
      SEMDEDUP_TAU, SEMDEDUP_CELL_CAP)
    val clusters = Dedup.dupClusters(quality, pairs)
    val keep = quality
      .join(clusters.where(col("doc_id") === col("cluster")).select("doc_id"),
        "doc_id")
    val train = keep.where(Sampling.pct(col("doc_id")) < 80)
    Sampling.chunked(train.select("doc_id", "text"), col("text"), CHUNK_BUDGET)
      .select("doc_id", "chunk", "n_tok")
      .orderBy("doc_id", "chunk")
  }

  /** The FULL curation composition — every gate in one plan: quality
    * filter → benchmark decontamination (broadcast eval-gram overlap,
    * left-anti) → FUZZY near-dup removal (banded LSH → connected
    * components, keep the cluster minimum) → deterministic 80% split →
    * context-window chunking. [[xCurateClean]] with the exact-hash dedup
    * upgraded to the near-dup machinery, or [[xCurateFuzzy]] with the
    * decontamination gate added — the pass a real pretraining corpus
    * pays end-to-end. Scale: two linear gram/quality scans, one band
    * equi-join, O(log d) CC rounds; no pair matrix, nothing driver-side.
    */
  def xCurateAll(s: SparkSession, dir: String): DataFrame = {
    // the lazy checkpoint matters here: the gated doc set has the gram
    // explode in its lineage and feeds THREE consumers (CC label seed,
    // the banding pass, the keep join) — materialize it once instead of
    // re-running decontamination per consumer
    val clean = decontamGatedDocs(s, dir).transform(graft.operators.Scale.stage(_))
    val clusters = Dedup.dupClusters(clean,
      Dedup.bandedCandidates(clean, col("text"), N_PERMS, ROWS_PER_BAND))
    val keep = clean
      .join(clusters.where(col("doc_id") === col("cluster")).select("doc_id"),
        "doc_id")
    val train = keep.where(Sampling.pct(col("doc_id")) < 80)
    Sampling.chunked(train.select("doc_id", "text"), col("text"), CHUNK_BUDGET)
      .select("doc_id", "chunk", "n_tok")
      .orderBy("doc_id", "chunk")
  }

  val PACK_BUDGET = 512

  /** Sequence PACKING — the loader step after chunking: token streams
    * are concatenated per shard and cut into fixed `PACK_BUDGET`-token
    * bins (concat-then-split, the standard LLM pretraining packing;
    * docs may span a bin boundary). Each doc reports the bins it lands
    * in via a running token total — computed by
    * [[graft.operators.Relational.scalablePrefixSum]], the bucketed
    * two-phase running sum, because the shard key (lang) is
    * low-cardinality: a plain `Window.partitionBy(lang)` caps
    * parallelism at |langs| tasks forever (the q_ntile disease;
    * PlanGuardSpec rejects that plan shape repo-wide).
    */
  def xPack(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.scalablePrefixSum(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          Text.nWords(Text.tokens(col("text"))).as("n_words"))
        .where(col("n_words") > 0),
      "lang", "doc_id", "n_words", "cum", "__ktot")
      .select(col("doc_id"), col("lang"), col("n_words"),
        expr(s"(cum - n_words) div $PACK_BUDGET").as("first_bin"),
        expr(s"(cum - 1) div $PACK_BUDGET").as("last_bin"))
      .orderBy("doc_id")

  /** Expected CDC chunk length in words (boundary when the word's
    * 32-bit md5 value ≡ 0 mod this). */
  val CDC_DIV = 16L

  /** One row per (doc, word): position, and the winnow-convention word
    * value (first 8 md5 hex digits as an unsigned 32-bit integer —
    * cross-engine exact). The shared feed of the two CDC queries.
    */
  private def cdcWords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(Text.tokens(col("text"))).as(Seq("pos", "word")))
      .withColumn("v",
        expr("cast(conv(substring(md5(word), 1, 8), 16, 10) as bigint)"))

  /** Content-defined chunking (the Rabin/FastCDC idea at word level): a
    * chunk boundary falls AFTER word i when its md5-derived value ≡ 0
    * (mod [[CDC_DIV]]) — boundaries depend only on CONTENT, so an
    * insertion early in a document shifts chunk boundaries only locally
    * (unlike the fixed-size x_chunks windows) and duplicated text
    * re-aligns to identical chunks for chunk-level dedup. chunk id =
    * running count of prior boundaries (one per-doc window over the
    * exploded tokens — the x_pack shape: narrow, per-doc partitions);
    * the chunk signature is the exact integer SUM of member word values
    * (order-independent — no collect_list ordering hazard, v < 2^32 and
    * docs < 2^11 words keep the sum exact) with member count and first
    * position.
    */
  def xCdcChunks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    cdcWords(s, dir)
      .withColumn("b", (col("v") % CDC_DIV === 0).cast("long"))
      .withColumn("chunk", coalesce(sum("b").over(w), lit(0L)))
      .groupBy("doc_id", "chunk")
      .agg(count(lit(1)).as("n_words"),
        min("pos").cast("bigint").as("first_pos"),
        sum("v").as("chunk_sig"))
      .orderBy("doc_id", "chunk")
  }

  /** Chunk-level dedup over the CDC chunks — THE content-defined-
    * chunking use case: chunks whose (signature, length) recur, across
    * or within documents (exact-duplicate documents' chunks all
    * re-align; a shared passage inside otherwise-different documents
    * re-aligns after its first in-chunk boundary). One extra
    * hash-aggregate over [[xCdcChunks]]' bounded output.
    */
  def xCdcDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    cdcWords(s, dir)
      .withColumn("b", (col("v") % CDC_DIV === 0).cast("long"))
      .withColumn("chunk", coalesce(sum("b").over(w), lit(0L)))
      .groupBy("doc_id", "chunk")
      .agg(count(lit(1)).as("n_words"), sum("v").as("chunk_sig"))
      .groupBy("chunk_sig", "n_words")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct("doc_id").as("n_docs"))
      .where(col("n_copies") > 1)
      // n_words in the sort: the group key is (chunk_sig, n_words), and
      // a 32-bit-sum sig collision between groups of different n_words
      // would leave row order engine-ambiguous under the positional
      // compare (zero such ties in the fixtures today — latent hazard)
      .orderBy("chunk_sig", "n_words")
  }

  /** Words per "line" for the line-level family: the fixture corpus has
    * no newlines, so a line is a fixed 8-word segment (the same
    * synthetic-boundary convention as [[xChunks]]).
    */
  val SEG_WORDS = 8
  /** A segment is boilerplate when it appears in ≥ this many DISTINCT
    * documents (the CCNet header/footer removal threshold).
    */
  val BOILER_DF = 3

  /** One row per (doc, line): line index and line text — the shared feed
    * of the line-level dedup family. Built by slicing the token array
    * per row (no explode-then-regroup, no collect_list ordering
    * hazard); narrow until a consumer shuffles.
    */
  private def docSegments(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("nseg", expr(s"(size(toks) + ${SEG_WORDS - 1}) div $SEG_WORDS"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(nseg - 1 as int)),
           |  k -> concat_ws(' ', slice(toks, k * $SEG_WORDS + 1, $SEG_WORDS)))"""
          .stripMargin)).as(Seq("seg", "seg_text")))

  /** CCNet-style corpus-wide LINE dedup with document reconstruction:
    * every occurrence of a line after its first (corpus order =
    * (doc_id, line index)) is dropped, and each document is rebuilt
    * from its surviving lines. Per doc: line counts, retention ratio,
    * and the rebuilt text. ONE shuffle, on the line text (the dedup
    * key); the rebuild is a per-doc aggregate over sorted structs (no
    * collect_list order dependence). At 100 TB this is the standard
    * line-hash repartition — no driver state, no window over the
    * corpus, and the hot "every doc has it" line lands in one partition
    * only for its own group (skew bounded by occurrence count of the
    * single most common line; salt the rank if that ever dominates).
    */
  def xLinededup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("seg_text").orderBy("doc_id", "seg")
    docSegments(s, dir)
      .withColumn("keep", row_number().over(w) === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("seg"), col("seg_text"))))),
          x => x("seg_text"))).as("text_kept"))
      .withColumn("kept_ratio", detRound4(col("n_kept") / col("n_seg")))
      .select(col("doc_id"), col("n_seg"), col("n_kept"),
        col("kept_ratio"), col("text_kept"))
      .orderBy("doc_id")
  }

  /** Boilerplate REMOVAL stats: lines whose document frequency reaches
    * [[BOILER_DF]] are boilerplate (headers/footers/navigation in web
    * corpora); per doc, how many of its lines are boilerplate and the
    * contamination ratio. The df table derives from one line-key
    * aggregate; the flag attaches back with an equi-join on the line
    * text — left to the optimizer (the df≥K set is data-dependent:
    * tiny here and broadcast by AQE, shuffle-joined at corpus scale).
    */
  def xBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val segs = docSegments(s, dir)
    val boiler = segs.groupBy("seg_text")
      .agg(countDistinct("doc_id").as("df"))
      .where(col("df") >= BOILER_DF)
      .select(col("seg_text"), lit(1L).as("boiler"))
    segs.join(boiler, Seq("seg_text"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_seg"),
        sum(coalesce(col("boiler"), lit(0L))).as("n_boiler"))
      .withColumn("boiler_ratio", detRound4(col("n_boiler") / col("n_seg")))
      .orderBy("doc_id")
  }

  /** The boilerplate line inventory itself: line text, document
    * frequency, total occurrences — the bounded review artifact a
    * curation run ships alongside the scrub (df ≥ [[BOILER_DF]] keeps
    * it small by construction).
    */
  def xBoilerLines(s: SparkSession, dir: String): DataFrame =
    docSegments(s, dir)
      .groupBy("seg_text")
      .agg(countDistinct("doc_id").as("df"),
        count(lit(1)).as("occ"))
      .where(col("df") >= BOILER_DF)
      .orderBy("seg_text")

  val PPS_PER_SHARD = 20

  /** Weighted sampling via PPS SYSTEMATIC selection — the curation pass
    * that favors long documents with probability proportional to token
    * count: per shard (lang), lay documents on a line of cumulative
    * token weight and pick one at every `total/n`-token stride
    * (inclusion probability = weight/stride, the textbook
    * probability-proportional-to-size scheme). ALL-INTEGER arithmetic
    * (running sum + `div`), so selection is bit-identical at any
    * partitioning and in the DuckDB replay — no RNG, no floats. The
    * running total AND the per-shard total both come from ONE
    * [[graft.operators.Relational.scalablePrefixSum]] pass (the
    * low-card shard key must not plan a corpus-wide window — the
    * q_ntile disease, PlanGuardSpec-rejected; the per-key total rides
    * the same bounded bucket relation for free).
    */
  def xPpsSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.scalablePrefixSum(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          Text.nWords(Text.tokens(col("text"))).as("n_words"))
        .where(col("n_words") > 0),
      "lang", "doc_id", "n_words", "cum", "ktot")
      .withColumn("step", expr(s"ktot div $PPS_PER_SHARD"))
      .where(col("step") > 0 &&
        expr("(cum div step) > ((cum - n_words) div step)"))
      .select(col("doc_id"), col("lang"), col("n_words"))
      .orderBy("doc_id")

  /** Per-vector symmetric int8 QUANTIZATION of the embedding column —
    * the compression step before an ANN index ships: scale = max|x|/127,
    * each component rounds to [-127, 127], and the query reports the
    * scale, saturated-component count, and mean absolute reconstruction
    * error. Narrow per-row arithmetic (zero shuffle; the rounding is the
    * deterministic floor(x+0.5) form both engines replay exactly).
    */
  def xQuantize(s: SparkSession, dir: String): DataFrame = {
    val x = col("embedding")
    val absmax = array_max(transform(x, v => abs(v.cast("double"))))
    // guard the all-zero vector: scale 0 → quantized all-zero, error 0
    val scale = col("q_scale")
    val qi = transform(x, v =>
      when(scale === 0.0, lit(0L))
        .otherwise(floor(v.cast("double") / scale + 0.5).cast("long")))
    val err = aggregate(
      zip_with(x, col("q"), (v, q) =>
        abs(q.cast("double") * scale - v.cast("double"))),
      lit(0.0), (acc, d) => acc + d) / DIM
    Tables.embeddings(s, dir)
      .select(col("vec_id"), x, (absmax / 127.0).as("q_scale"))
      .withColumn("q", qi)
      // mae/n_sat are computed BEFORE the select that re-aliases
      // "q_scale" to its rounded form: a select-item alias shadows the
      // same-named input column for later items in the list (lateral
      // column alias resolution), which would silently rebuild the
      // error term against the 4-decimal scale
      .withColumn("n_sat",
        size(filter(col("q"), q => abs(q) === 127)).cast("bigint"))
      .withColumn("mae", detRound4(err))
      .select(col("vec_id"), detRound4(scale).as("q_scale"),
        col("n_sat"), col("mae"))
      .orderBy("vec_id")
  }

  /** Balanced corpus: exactly 20 docs per lang, hash-ordered —
    * stratified deterministic sampling ([[Sampling.stratifiedN]]).
    */
  def xStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedN(Tables.documents(s, dir), col("lang"), col("doc_id"), 20)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  val CHUNK_BUDGET = 32

  /** Context-window chunking: ≤32-token contiguous chunks per document
    * ([[Sampling.chunked]]) — the pre-tokenization shaping step of a
    * training loader.
    */
  def xChunks(s: SparkSession, dir: String): DataFrame =
    Sampling.chunked(Tables.documents(s, dir), col("text"), CHUNK_BUDGET)
      .orderBy("doc_id", "chunk")

  val CHUNK_STRIDE = 24

  /** Overlapping context windows ([[Sampling.chunkedOverlap]], window
    * [[CHUNK_BUDGET]] stride [[CHUNK_STRIDE]] → 8-token overlap) — the
    * retrieval/pretraining chunker that never loses boundary context.
    */
  def xChunksOverlap(s: SparkSession, dir: String): DataFrame =
    Sampling.chunkedOverlap(Tables.documents(s, dir), col("text"),
        CHUNK_BUDGET, CHUNK_STRIDE)
      .select("doc_id", "chunk", "start_tok", "n_tok")
      .orderBy("doc_id", "chunk")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_tfidf"       -> xTfidf _,
    "x_chunks_overlap" -> xChunksOverlap _,
    "x_sample"      -> xSample _,
    "x_stratified"  -> xStratified _,
    "x_split"       -> xSplit _,
    "x_curate"      -> xCurate _,
    "x_curate_fuzzy" -> xCurateFuzzy _,
    "x_curate_semantic" -> xCurateSemantic _,
    "x_curate_all"  -> xCurateAll _,
    "x_pack"        -> xPack _,
    "x_shard_order" -> xShardOrder _,
    "x_manifest"    -> xManifest _,
    "x_pps_sample"  -> xPpsSample _,
    "x_quantize"    -> xQuantize _,
    "x_chunks"      -> xChunks _,
    "x_tokens"      -> xTokens _,
    "x_token_count" -> xTokenCount _,
    "x_langid"      -> xLangid _,
    "x_langid_ngram" -> xLangidNgram _,
    "x_quality"     -> xQuality _,
    "x_quality_lr"  -> xQualityLr _,
    "x_quality_sweep" -> xQualitySweep _,
    "x_gopher_rules" -> xGopherRules _,
    "x_rule_ablation" -> xRuleAblation _,
    "x_dsir"        -> xDsir _,
    "x_doremi"      -> xDoremi _,
    "x_mix_epochs"  -> xMixEpochs _,
    "x_mrl_recall"  -> xMrlRecall _,
    "x_hard_negatives" -> xHardNegatives _,
    "x_cdc_chunks"  -> xCdcChunks _,
    "x_cdc_dedup"   -> xCdcDedup _,
    "x_linededup"   -> xLinededup _,
    "x_boilerplate" -> xBoilerplate _,
    "x_boiler_lines" -> xBoilerLines _,
    "x_dataset_card" -> xDatasetCard _,
    "x_fingerprint" -> xFingerprint _,
    "x_docdedup"    -> xDocdedup _,
    "x_minhash"     -> xMinhash _,
    "x_minhash_perm" -> xMinhashPerm _,
    "x_minhash_est" -> xMinhashEst _,
    "x_cms"         -> xCms _,
    "x_cms_err"     -> xCmsErr _,
    "x_cms_joinest" -> xCmsJoinest _,
    "x_hll"         -> xHll _,
    "x_kmv"         -> xKmv _,
    "x_kmv_overlap" -> xKmvOverlap _,
    "x_hist_pctile" -> xHistPctile _,
    "x_ams"         -> xAms _,
    "x_bloom"       -> xBloom _,
    "x_power_iter"  -> xPowerIter _,
    "x_spectral_outliers" -> xSpectralOutliers _,
    "x_whiten"      -> xWhiten _,
    "x_pca2"        -> xPca2 _,
    "x_zipf"        -> xZipf _,
    "x_heaps"       -> xHeaps _,
    "x_corr"        -> xCorr _,
    "x_kl"          -> xKl _,
    "x_keyness"     -> xKeyness _,
    "x_triangles"   -> xTriangles _,
    "x_triangles_verified" -> xTrianglesVerified _,
    "x_bootstrap"   -> xBootstrap _,
    "x_llr"         -> xLlr _,
    "x_dedup_eval"  -> xDedupEval _,
    "x_srp"         -> xSrp _,
    "x_srp_recall"  -> xSrpRecall _,
    "x_group_sig"   -> xGroupSig _,
    "x_neardup"     -> xNeardup _,
    "x_winnow"      -> xWinnow _,
    "x_lshpairs"    -> xLshpairs _,
    "x_lshpairs_banded" -> xLshpairsBanded _,
    "x_dupclusters" -> xDupClusters _,
    "x_pagerank"    -> xPagerank _,
    "x_keep_authority" -> xKeepAuthority _,
    "x_cluster_stats" -> xClusterStats _,
    "x_dupclusters_star" -> xDupClustersStar _,
    "x_keep_best"   -> xKeepBest _,
    "x_simhash"     -> xSimhash _,
    "x_simhash_pairs" -> xSimhashPairs _,
    "x_jaccard"     -> xJaccard _,
    "x_ngram_jaccard" -> xNgramJaccard _,
    "x_cosine"      -> xCosine _,
    "x_mmr"         -> xMmr _,
    "x_sq8"         -> xSq8 _,
    "x_sq8_recall"  -> xSq8Recall _,
    "x_bq"          -> xBq _,
    "x_bq_recall"   -> xBqRecall _,
    "x_knn"         -> xKnn _,
    "x_lshknn"      -> xLshknn _,
    "x_embdup"      -> xEmbdup _,
    "x_lsh_recall"  -> xLshRecall _,
    "x_ivf_cells"   -> xIvfCells _,
    "x_ivf_recall"  -> xIvfRecall _,
    "x_ivfknn"      -> xIvfknn _,
    "x_ivf_train"   -> xIvfTrain _,
    "x_ivf_train2"  -> xIvfTrain2 _,
    "x_coreset"     -> xCoreset _,
    "x_ivfknn_trained" -> xIvfknnTrained _,
    "x_semdedup"    -> xSemdedup _,
    "x_ivfknn2"     -> xIvfknn2 _,
    "x_regex_tokens" -> xRegexTokens _,
    "x_decontam"    -> xDecontam _,
    "x_decontam_bloom" -> (xDecontamBloom(_, _, Bloom.Default)),
    "x_contam_sweep" -> xContamSweep _,
    "x_pq"          -> xPq _,
    "x_pq_recall"   -> xPqRecall _,
    "x_ivfpq"       -> xIvfpq _,
    "x_source_mix"  -> xSourceMix _,
    "x_mix_weights" -> xMixWeights _,
    "x_pii_scrub"   -> xPiiScrub _,
    "x_repetition"  -> xRepetition _,
    "x_bm25"        -> xBm25 _,
    "x_unigram_lp"  -> xUnigramLp _,
    "x_bigram_lp"   -> xBigramLp _,
    "x_bpe_pairs"   -> xBpePairs _,
    "x_bpe_train"   -> xBpeTrain _,
    "x_bpe_apply"   -> xBpeApply _,
    "x_bpe_fertility" -> xBpeFertility _,
    "x_dupgrams"    -> (xDupgrams(_, _, skewSafe = false)),
    "x_dedup_cut"   -> (xDedupCut(_, _, skewSafe = false)),
    "x_substr_spans" -> (xSubstrSpans(_, _, skewSafe = false)),
    "x_substr_cut"  -> (xSubstrCut(_, _, skewSafe = false)),
    "x_dupgrams_skewjoin"  -> (xDupgrams(_, _, skewSafe = true)),
    "x_dedup_cut_skewjoin" -> (xDedupCut(_, _, skewSafe = true)),
    "x_substr_spans_skewjoin" -> (xSubstrSpans(_, _, skewSafe = true)),
    "x_substr_cut_skewjoin" -> (xSubstrCut(_, _, skewSafe = true)),
    "x_substr_incremental" -> xSubstrIncremental _,
    "x_containment" -> (xContainment(_, _, skewSafe = false)),
    "x_containment_skewjoin" -> (xContainment(_, _, skewSafe = true)),
    "x_curate_exact" -> xCurateExact _,
    "x_dedup_incremental"  -> xDedupIncremental _,
    "x_curate_incremental" -> xCurateIncremental _,
    "x_curate_exact_incremental" -> xCurateExactIncremental _,
    "x_curate_semantic_incremental" -> xCurateSemanticIncremental _,
    "x_mix_temp"    -> xMixTemp _,
    "x_lp_buckets"  -> xLpBuckets _,
    "x_keyterms"    -> xKeyterms _,
    "x_winnow_pairs" -> xWinnowPairs _,
    "x_lang_confusion" -> xLangConfusion _,
    "x_curate_clean" -> xCurateClean _,
    "x_source_gate" -> xSourceGate _,
    "x_curate_sourced" -> xCurateSourced _,
    "x_vocab_coverage" -> xVocabCoverage _,
    "x_multimodal"  -> xMultimodal _,
    "x_frames"      -> xFrames _,
    "x_frames_asof" -> xFramesAsof _,
    "x_byte_features" -> xByteFeatures _,
    "x_semdedup_probe" -> xSemdedupProbe _,
    "x_semdedup_incremental" -> xSemdedupIncremental _,
    "x_index_health" -> xIndexHealth _,
    "x_bitext"      -> xBitext _,
    "x_linear_probe" -> xLinearProbe _,
    "x_retrieval_eval" -> xRetrievalEval _,
    "x_kanon"       -> xKanon _,
    "x_dp_counts"   -> xDpCounts _,
    "x_skew_audit"  -> xSkewAudit _,
    "x_binary"      -> xBinary _)

  // ---- oracles -------------------------------------------------------

  private val enList = Text.stopwordSets.head._2.map(w => s"'$w'").mkString(", ")

  private def hitsSql(lang: String): String = {
    val sw = Text.stopwordSets.find(_._1 == lang).get._2
      .map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(string_split(text,' '), x -> x IN ($sw))) AS BIGINT)"
  }

  /** CASE chain equivalent of the [[Text.langId]] fold (strict-greater
    * beats the running max; earlier language wins ties).
    */
  private val langCaseSql: String =
    """CASE WHEN zh_hits > greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'zh'
      |     WHEN fr_hits > greatest(en_hits, de_hits, es_hits) THEN 'fr'
      |     WHEN es_hits > greatest(en_hits, de_hits) THEN 'es'
      |     WHEN de_hits > en_hits THEN 'de'
      |     ELSE 'en' END""".stripMargin

  /** DuckDB twin of the shingle-hash pass: md5 per 3-word shingle (the
    * `hs` column the sig oracles rotate over).
    */
  private val hashesSql: String =
    "CASE WHEN len(toks) >= 3 THEN list_transform(" +
      "range(1, len(toks) - 1), i -> md5(array_to_string(list_slice(toks, i, i + 2), ' '))) " +
      "ELSE [md5(array_to_string(toks, ' '))] END"

  /** DuckDB twin of [[graft.expressions.SimHash64]]: per-(doc, bit)
    * +1/-1 sums over md5 nibbles, then the signed 64-bit two's-complement
    * value assembled from 32-bit halves in HUGEINT (bit i MSB-first =
    * long bit 63-i, matching the Scala expression exactly).
    */
  private val simhashLongCte: String =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |h AS (SELECT doc_id, md5(word) AS m FROM w),
      |bits AS (
      |  SELECT doc_id, t.i,
      |         sum(CASE WHEN ((strpos('0123456789abcdef', substr(m, 1 + CAST(t.i // 4 AS INTEGER), 1)) - 1)
      |                        >> (3 - CAST(t.i % 4 AS INTEGER))) & 1 = 1
      |             THEN 1 ELSE -1 END) AS s
      |  FROM h CROSS JOIN range(0, 64) t(i)
      |  GROUP BY doc_id, t.i),
      |halves AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN i < 32 AND s > 0 THEN CAST(1 AS BIGINT) << CAST(31 - i AS INTEGER) ELSE 0 END) AS hi,
      |    sum(CASE WHEN i >= 32 AND s > 0 THEN CAST(1 AS BIGINT) << CAST(63 - i AS INTEGER) ELSE 0 END) AS lo
      |  FROM bits GROUP BY doc_id),
      |sh AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN CAST(hi AS HUGEINT) * 4294967296 + lo >= CAST(9223372036854775808 AS HUGEINT)
      |         THEN CAST(hi AS HUGEINT) * 4294967296 + lo - CAST(18446744073709551616 AS HUGEINT)
      |         ELSE CAST(hi AS HUGEINT) * 4294967296 + lo END AS BIGINT) AS simhash
      |  FROM halves)""".stripMargin

  /** Shared PQ replay CTEs: sub (subvector slices), cent (codebook),
    * d (all codeword distances), best (argmin codeword per subspace) —
    * the DuckDB twin of [[pqSubRows]]/[[pqCents]]/[[pqCodes]].
    */
  private val pqBaseCtes: String =
    s"""sub AS (SELECT vec_id, j,
      |    list_transform(range(1, ${PQ_SUB + 1}),
      |      d -> CAST(embedding[j * $PQ_SUB + d] AS DOUBLE)) AS sl
      |  FROM embeddings CROSS JOIN range(0, $PQ_M) t(j)),
      |cent AS (SELECT vec_id AS c, j, sl AS csl FROM sub WHERE vec_id < $PQ_CODE_K),
      |d AS (SELECT s.vec_id, s.j, c.c,
      |    list_aggregate(list_transform(range(1, ${PQ_SUB + 1}),
      |      i -> (s.sl[i] - c.csl[i]) * (s.sl[i] - c.csl[i])), 'sum') AS d2
      |  FROM sub s JOIN cent c ON s.j = c.j),
      |best AS (SELECT vec_id, j, c AS code, d2,
      |    row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn FROM d)""".stripMargin

  /** DuckDB twin of [[Text.shingles]] at width `k` (space-joined word
    * `k`-grams over a `toks` column, whole-doc fallback under `k` words).
    */
  private def gramsSql(k: Int): String =
    s"CASE WHEN len(toks) >= $k THEN list_transform(" +
      s"range(1, len(toks) - ${k - 2}), i -> array_to_string(list_slice(toks, i, i + ${k - 1}), ' ')) " +
      "ELSE [array_to_string(toks, ' ')] END"

  /** Shared Count-Min replay CTEs: c (exact 3-gram counts — the
    * DuckDB twin of [[gramCounts]]) and sk (the D×W counter table —
    * the twin of [[Sketches.cmsSketch]], counters as BIGINT `c2`).
    */
  private val cmsBaseCtes: String =
    s"""t AS (SELECT string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT unnest(${gramsSql(3)}) AS gram FROM t),
      |c AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY gram),
      |e0 AS (SELECT gram, cnt, unnest(range(0, ${Sketches.CMS_D})) AS r FROM c),
      |eb AS (SELECT r, ${Sketches.cmsBucketSql("r", "gram")} AS bucket, cnt FROM e0),
      |sk AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS c2 FROM eb GROUP BY r, bucket)""".stripMargin

  /** DuckDB twin of [[Text.minhashSig]]: min over 8·salt-char-rotated
    * hex strings of the shared md5 list.
    */
  private def sigSql(salt: Int): String = {
    val rot = (salt % 4) * 8
    if (rot == 0) "list_aggregate(hs, 'min')"
    else s"list_aggregate(list_transform(hs, m -> substr(m, ${rot + 1}, ${32 - rot}) || substr(m, 1, $rot)), 'min')"
  }

  private val dotSql =
    "list_aggregate(list_transform(range(1, 65), i -> CAST(pe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)), 'sum')"
  private def normSql(v: String) =
    s"sqrt(list_aggregate(list_transform(range(1, 65), i -> CAST($v[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)), 'sum'))"

  /** Native-dot twins of [[dotSql]]/[[normSql]] over a per-row HOISTED
    * DOUBLE-cast list (`list_transform(v, x -> CAST(x AS DOUBLE))`):
    * DuckDB's `list_dot_product` sums the same per-element double
    * products in the same sequential order, so the result is
    * BIT-IDENTICAL to the lambda formulation (verified exhaustively on
    * fixture pairs: 30k pair dots and norms, zero ulp differences) at
    * ~5x the throughput — the r15 sf1-sweep lesson ("hoist per-row
    * expressions out of pair joins") taken to its end: hoist the CAST
    * per row, evaluate the dot natively per pair.
    */
  private def edSql(v: String) = s"list_transform($v, x -> CAST(x AS DOUBLE))"
  private def dotD(a: String, b: String) = s"list_dot_product($a, $b)"
  private def normD(ed: String) = s"sqrt(list_dot_product($ed, $ed))"

  /** DuckDB twin of the n-permutation signature pass: raw 3-word
    * shingles, ONE md5 per shingle split into two 64-bit hex-polynomial
    * halves, then per (doc, perm) minima of (h1 + i·h2) mod 2^64 in
    * HUGEINT, padded to 20 decimal digits — exactly
    * [[graft.expressions.ShinglePermMinHash]]'s double-hash math in long
    * format. `src` is the doc source CTE/table (x_curate_fuzzy signs
    * only the quality-gated subset).
    */
  private val permSigsSql: String = permSigsSqlFrom("documents")

  /** A 16-hex-char substring of an md5 as an exact HUGEINT (unrolled
    * polynomial with literal 16^k multipliers — no hugeint shifts).
    */
  private def hex16Huge(e: String): String =
    (0 until 16).map { k =>
      s"CAST(strpos('0123456789abcdef', substr($e, ${k + 1}, 1)) - 1 AS HUGEINT)" +
        s" * CAST(${BigInt(16).pow(15 - k)} AS HUGEINT)"
    }.mkString(" + ")

  private def permSigsSqlFrom(src: String): String =
    s"""t AS (SELECT doc_id, string_split(text,' ') AS toks FROM $src),
      |sh AS (SELECT doc_id,
      |    CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1),
      |             i -> array_to_string(list_slice(toks, i, i + 2), ' '))
      |         ELSE [array_to_string(toks, ' ')] END AS shingles FROM t),
      |lng AS (SELECT doc_id, md5(unnest(shingles)) AS m FROM sh),
      |hh AS (SELECT doc_id,
      |         ${hex16Huge("substr(m, 1, 16)")} AS h1,
      |         ${hex16Huge("substr(m, 17, 16)")} AS h2
      |       FROM lng),
      |sigs AS MATERIALIZED (SELECT doc_id, p.i AS perm,
      |           lpad(CAST(min((h1 + CAST(p.i AS HUGEINT) * h2)
      |                         % CAST(18446744073709551616 AS HUGEINT)) AS VARCHAR),
      |                20, '0') AS sig
      |         FROM hh CROSS JOIN range(0, $N_PERMS) p(i)
      |         GROUP BY doc_id, p.i)""".stripMargin

  /** Shared WITH-prefix of the multi-table-LSH oracles: replays the L
    * plane tables (same seeded constants as [[Vectors.signPlaneTables]]),
    * the per-bucket cap, cross-table pair dedup, scoring, and ranking —
    * the exact dataflow of [[Knn.lshTopK]].
    */
  private def lshMtPrefix: String = {
    val tables = Vectors.signPlaneTables(LSH_TABLES, LSH_TABLE_PLANES, DIM)
    val keyedSelects = tables.zipWithIndex.map { case (planes, t) =>
      val bucketSql = planes.zipWithIndex.map { case (plane, j) =>
        val l = Vectors.planeSqlLiteral(plane)
        s"(CASE WHEN ${dotD("ed", s"($l)")} > 0.0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bucketSql AS bucket FROM embd"
    }.mkString("\nUNION ALL\n")
    s"""WITH embd AS MATERIALIZED (SELECT vec_id,
      |    ${edSql("embedding")} AS ed, ${normD("ed")} AS nrm FROM embeddings),
      |keyed AS MATERIALIZED (
      |$keyedSelects),
      |capped AS (SELECT tbl, bucket, vec_id FROM (
      |    SELECT tbl, bucket, vec_id,
      |           row_number() OVER (PARTITION BY tbl, bucket ORDER BY vec_id) AS pos
      |    FROM keyed) WHERE pos <= $LSH_BUCKET_CAP),
      |pairs AS (SELECT DISTINCT a.vec_id AS probe_id, c.vec_id AS cand_id
      |  FROM keyed a JOIN capped c ON a.tbl = c.tbl AND a.bucket = c.bucket
      |  WHERE a.vec_id <> c.vec_id),
      |scored AS (SELECT probe_id, cand_id,
      |    ${dotD("pe.ed", "ce.ed")} / (pe.nrm * ce.nrm) AS sim
      |  FROM pairs
      |  JOIN embd pe ON probe_id = pe.vec_id
      |  JOIN embd ce ON cand_id = ce.vec_id),
      |r AS (SELECT probe_id, cand_id, sim,
      |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rank
      |      FROM scored)""".stripMargin
  }

  /** Scored-and-ranked centroid assignment — THE single copy of the
    * numerically sensitive argmax-cosine SQL every IVF oracle builds on:
    * (vec_id, embedding, cent_id, rk) for every vector × centroid of
    * `centCte`, rk 1 = nearest (ties to the lower cent_id).
    */
  private def scoredSql(centCte: String, outCte: String,
                        src: String = "embeddings"): String =
    s"""${outCte}_e AS MATERIALIZED (SELECT vec_id, embedding,
      |    ${edSql("embedding")} AS ed, ${normD("ed")} AS nrm FROM $src),
      |${outCte}_k AS MATERIALIZED (SELECT cent_id,
      |    ${edSql("cvec")} AS cd, ${normD("cd")} AS cnrm FROM $centCte),
      |$outCte AS MATERIALIZED (SELECT e.vec_id, e.embedding, e.ed, e.nrm,
      |    c.cent_id,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      ${dotD("e.ed", "c.cd")} / (e.nrm * c.cnrm) DESC, c.cent_id) AS rk
      |  FROM ${outCte}_e e CROSS JOIN ${outCte}_k c)""".stripMargin

  /** Home-cell (rk = 1) assignment built on [[scoredSql]]; carries the
    * hoisted ed/nrm columns through for downstream pair joins.
    */
  private def asgnSql(centCte: String, outCte: String,
                      src: String = "embeddings"): String =
    s"""${scoredSql(centCte, outCte + "_sc", src)},
      |$outCte AS MATERIALIZED (SELECT vec_id, embedding, ed, nrm,
      |            cent_id AS cell
      |            FROM ${outCte}_sc WHERE rk = 1)""".stripMargin

  /** The md5-ordered per-cell cap id set — the exact replay of
    * [[graft.operators.Knn]]'s `cappedCells` / `cellPairs` candidate
    * flag (row_number per cell over (md5(vec_id), vec_id), kept while
    * ≤ [[SEMDEDUP_CELL_CAP]]) over an assignment CTE exposing
    * (vec_id, cell). Every semdedup-family oracle splices this so the
    * declared cellCap binds identically in both engines: the cap first
    * BINDS around sf1 (cells outgrow 1024), so the gate SFs alone can
    * never witness a replay gap — round 14's sf1 correctness sweep
    * found exactly that (Spark capped, oracle uncapped, 4276 vs 4835
    * rows on x_semdedup_incremental) and this helper is the fix.
    * Spark's md5(CAST(... AS STRING)) and DuckDB's
    * md5(CAST(... AS VARCHAR)) agree: same decimal rendering of the
    * integer id, same lowercase-hex digest, same binary collation.
    */
  private def capIdsSql(src: String, out: String): String =
    s"""$out AS MATERIALIZED (SELECT vec_id FROM (
      |  SELECT vec_id, row_number() OVER (PARTITION BY cell
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pos
      |  FROM $src) WHERE pos <= $SEMDEDUP_CELL_CAP)""".stripMargin

  /** Shared WITH-prefix of the fixed-codebook IVF oracles. */
  private def ivfAsgnPrefix: String =
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cvec
      |              FROM embeddings WHERE vec_id < $IVF_K),
      |${asgnSql("cent", "asgn")}""".stripMargin

  /** One serial Lloyd refinement as composable CTEs: assignment on
    * `prev`, quantized per-cell means, empty cells retained — the exact
    * replay of [[Knn.kmeansRefine]], chainable for iterated training.
    */
  private def refineSql(prev: String, out: String, i: Int,
                        src: String = "embeddings"): String =
    s"""${asgnSql(prev, s"ra$i", src)},
      |rq$i AS (SELECT cell, d.i AS dim,
      |        CAST(round(CAST(embedding[d.i] AS DOUBLE) * 1048576) AS BIGINT) AS qv
      |      FROM ra$i CROSS JOIN range(1, ${DIM + 1}) d(i)),
      |rn$i AS (SELECT cell, count(*) AS n FROM ra$i GROUP BY cell),
      |rc$i AS MATERIALIZED (SELECT s.cell AS cent_id,
      |                 list(CAST(s.sq AS DOUBLE) / (n.n * 1048576.0) ORDER BY s.dim) AS cvec
      |          FROM (SELECT cell, dim, sum(qv) AS sq FROM rq$i GROUP BY cell, dim) s
      |          JOIN rn$i n ON s.cell = n.cell
      |          GROUP BY s.cell),
      |$out AS MATERIALIZED (SELECT cent_id, cvec FROM rc$i
      |         UNION ALL
      |         SELECT cent_id, list_transform(cvec, x -> CAST(x AS DOUBLE))
      |         FROM $prev WHERE cent_id NOT IN (SELECT cent_id FROM rc$i))""".stripMargin

  /** DuckDB replay of the whole BPE training loop, unrolled `rounds`
    * times — the oracle for x_bpe_train AND x_bpe_apply. The encoding
    * that makes the merge step SQL-expressible: a symbol sequence is a
    * string of chr(1)‖sym‖chr(2) cells, so one non-overlapping
    * left-to-right `replace` of chr(1)‖l‖chr(2)‖chr(1)‖r‖chr(2) with
    * chr(1)‖lr‖chr(2) is EXACTLY [[graft.operators.Bpe.applyMerge]]'s
    * semantics (delimiters make matches cell-aligned and keep skipped
    * overlaps mergeable next occurrence; a merge can never create a new
    * instance of its own pair because l+r is strictly longer than
    * either side). Each round: split cells → adjacent-pair counts →
    * 1-row argmax (cnt desc, l, r — [[graft.operators.Bpe.train]]'s
    * tie-break) → replace. All chain CTEs MATERIALIZED (the recursive-
    * closure lesson: DuckDB re-inlines CTEs aggressively). LEFT JOIN ON
    * true (not CROSS JOIN) so an exhausted round degrades to identity
    * instead of annihilating the vocabulary.
    */
  private def bpeSqlCtes(rounds: Int): String = {
    def symsOf(s: String) =
      s"string_split(substr($s, 2, length($s) - 2), chr(2)||chr(1))"
    val head = Seq(
      // word <> '' guards the delimiter encoding: an empty word would
      // reach substr(s, 2, -2), which DuckDB rejects (the Spark twin
      // just tokenizes '' to zero symbols — no output either way)
      "bw AS (SELECT unnest(string_split(text,' ')) AS word FROM documents)",
      "bv AS MATERIALIZED (SELECT word, count(*) AS freq FROM bw WHERE word <> '' GROUP BY 1)",
      """bs0 AS MATERIALIZED (SELECT array_to_string(list_transform(range(1, length(word)+1),
        |  i -> chr(1)||substr(word, CAST(i AS BIGINT), 1)||chr(2)), '') AS s, freq FROM bv)""".stripMargin)
    val perRound = (1 to rounds).flatMap { j =>
      Seq(
        s"by$j AS (SELECT ${symsOf("s")} AS syms, freq FROM bs${j - 1})",
        s"""bp$j AS (SELECT syms[CAST(i AS BIGINT)] AS l, syms[CAST(i AS BIGINT)+1] AS r, freq
          |  FROM (SELECT syms, freq, unnest(range(1, len(syms))) AS i FROM by$j WHERE len(syms) >= 2))""".stripMargin,
        s"""bm$j AS MATERIALIZED (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt
          |  FROM bp$j GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin,
        s"""bs$j AS MATERIALIZED (SELECT
          |  CASE WHEN m.l IS NULL THEN t.s
          |       ELSE replace(t.s, chr(1)||m.l||chr(2)||chr(1)||m.r||chr(2), chr(1)||m.l||m.r||chr(2)) END AS s,
          |  t.freq FROM bs${j - 1} t LEFT JOIN bm$j m ON true)""".stripMargin)
    }
    (head ++ perRound).mkString(",\n")
  }

  /** Final-vocabulary token extraction on top of [[bpeSqlCtes]]. */
  private def bpeApplySelect(rounds: Int): String =
    s"""btok AS (SELECT unnest(string_split(substr(s, 2, length(s) - 2), chr(2)||chr(1))) AS token, freq
      |  FROM bs$rounds)
      |SELECT token, CAST(count(*) AS BIGINT) AS n_instances,
      |       CAST(sum(freq) AS BIGINT) AS n_occurrences
      |FROM btok GROUP BY token ORDER BY token""".stripMargin

  /** Merge-table projection on top of [[bpeSqlCtes]]. */
  private def bpeTrainSelect(rounds: Int): String =
    "bmt AS (" + (1 to rounds).map(j =>
      s"SELECT CAST(${j - 1} AS BIGINT) AS merge_idx, l AS left_sym, " +
        s"r AS right_sym, cnt AS pair_freq FROM bm$j")
      .mkString(" UNION ALL ") +
      ")\nSELECT * FROM bmt ORDER BY merge_idx"

  /** DuckDB twin of [[Sampling.hashBucket]]: first-4-hex-chars-of-md5
    * polynomial (same digits, same value).
    */
  private[queries] def hashBucketSql(e: String): String =
    s"CAST(list_aggregate(list_transform(range(1, 5), j -> " +
      s"(strpos('0123456789abcdef', substr(md5(CAST($e AS VARCHAR)), CAST(j AS INTEGER), 1)) - 1) * " +
      s"CAST(16 ** (4 - j) AS BIGINT)), 'sum') AS BIGINT)"

  /** The exact-tier CTEs + recall SELECT shared by both ANN quality
    * oracles: compares the caller's `ann1(probe_id, ann_cand)` CTE
    * against the brute-force top-1 over probes < PROBE_CAP.
    */
  private def recallSuffixSql: String =
    s"""ep AS MATERIALIZED (SELECT vec_id AS probe_id,
      |       ${edSql("embedding")} AS ped, ${normD("ped")} AS pnrm
      |       FROM embeddings WHERE vec_id < $PROBE_CAP),
      |ec AS MATERIALIZED (SELECT vec_id AS cand_id,
      |       ${edSql("embedding")} AS ced, ${normD("ced")} AS cnrm
      |       FROM embeddings),
      |epairs AS (SELECT probe_id, cand_id,
      |    ${dotD("ped", "ced")} / (pnrm * cnrm) AS sim
      |  FROM ep JOIN ec ON probe_id <> cand_id),
      |er AS (SELECT probe_id, cand_id,
      |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rank
      |      FROM epairs),
      |ex1 AS (SELECT probe_id, cand_id AS exact_cand FROM er WHERE rank = 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_probes,
      |       CAST(sum(CASE WHEN a.ann_cand = e.exact_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
      |       ${detRound4Sql("CAST(sum(CASE WHEN a.ann_cand = e.exact_cand THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS recall_at_1
      |FROM ex1 e LEFT JOIN ann1 a USING (probe_id)""".stripMargin

  /** Recursive-CTE transitive closure of the banded candidates, up to the
    * per-node min-reachable label `minr` — shared by the clustering and
    * representative-selection oracles.
    */
  private val dupClustersCte: String =
    s"""WITH RECURSIVE ${permSigsSql},
      |bands AS MATERIALIZED (SELECT doc_id, CAST(perm // $ROWS_PER_BAND AS BIGINT) AS band,
      |                 string_agg(sig, '|' ORDER BY perm) AS key
      |          FROM sigs GROUP BY doc_id, perm // $ROWS_PER_BAND),
      |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      |         WHERE a.doc_id < b.doc_id),
      |und AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
      |        UNION SELECT doc_b, doc_a FROM cand),
      |reach(a, b) AS (
      |  SELECT a, b FROM und
      |  UNION
      |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      |minr AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
      |         FROM reach GROUP BY a)""".stripMargin

  /** DuckDB twin of the winnowing fingerprint pass ([[xWinnow]]'s
    * RollingWinnow replay) up to the DISTINCT (doc_id, fp) relation
    * `fps` — shared by x_winnow and x_winnow_pairs. The hex-digit
    * polynomial of the first 8 md5 chars is the expression's unsigned
    * first-4-digest-bytes value.
    */
  /** First 8 md5 hex digits of `e` as an unsigned 32-bit BIGINT — the
    * winnow/CDC word-value convention, replayed digit-by-digit. */
  private def hvSql(e: String): String =
    s"CAST(list_aggregate(list_transform(range(1, 9), j -> (strpos('0123456789abcdef', substr(md5($e), CAST(j AS INTEGER), 1)) - 1) * CAST(16 ** (8 - j) AS BIGINT)), 'sum') AS BIGINT)"

  /** Shared oracle CTE for the line-level family: per-doc [[SEG_WORDS]]-
    * word segments via list slicing (DuckDB has no WITH ORDINALITY;
    * range+list_slice replays [[docSegments]] exactly).
    */
  /** Shared oracle CTE block for the curation gates — THE single SQL
    * definition of quality (n_words 5..2000, stopword ratio < 0.4) +
    * benchmark decontamination (4-gram overlap with the doc_id%50 eval
    * slice), replaying [[decontamGatedDocs]]; ends at `f(doc_id, text)`.
    */
  private val curateGateCtes: String =
    s"""t0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |g0 AS (SELECT doc_id, unnest(${gramsSql(4)}) AS gram FROM t0),
      |ev AS (SELECT DISTINCT gram FROM g0 WHERE doc_id % 50 = 0),
      |bad AS (SELECT DISTINCT g0.doc_id FROM g0 JOIN ev USING (gram)
      |        WHERE g0.doc_id % 50 <> 0),
      |q AS (
      |  SELECT doc_id, source, text,
      |         len(string_split(text, ' ')) AS n_words,
      |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ($enList))) AS DOUBLE)
      |           / len(string_split(text, ' ')) AS swr
      |  FROM documents WHERE doc_id % 50 <> 0),
      |f AS MATERIALIZED (SELECT doc_id, source, text FROM q
      |      WHERE n_words BETWEEN 5 AND 2000 AND swr < 0.4
      |        AND doc_id NOT IN (SELECT doc_id FROM bad))""".stripMargin

  /** Per-source reputation CTE over [[curateGateCtes]]'s `q`/`bad`
    * (st = counts per source, ks = kept sources under the 2σ binomial
    * outlier test of [[sourceVerdicts]]) — spliced by x_source_gate
    * and x_curate_sourced so the verdict definition cannot diverge
    * between them. The d construction is exact HUGEINT; the z²
    * comparison assembles in one double expression (identical IEEE
    * operand order to the Spark side).
    */
  private def srcOutlierSql(c: String, tot: String): String =
    s"(CAST($c AS HUGEINT) * ntot - CAST($tot AS HUGEINT) * n_docs > 0 AND " +
      s"CAST(CAST($c AS HUGEINT) * ntot - CAST($tot AS HUGEINT) * n_docs AS DOUBLE)" +
      s" * CAST(CAST($c AS HUGEINT) * ntot - CAST($tot AS HUGEINT) * n_docs AS DOUBLE)" +
      s" > 4.0 * CAST($tot AS DOUBLE) * CAST(ntot - $tot AS DOUBLE)" +
      s" * CAST(n_docs AS DOUBLE))"

  private val sourceStatsCtes: String =
    s"""st AS MATERIALIZED (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_words) AS BIGINT) AS sum_w,
      |         CAST(sum(CASE WHEN dc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_cnt,
      |         CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM bad)
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS contam_cnt,
      |         CAST(sum(CASE WHEN n_words BETWEEN 5 AND 2000 AND swr < 0.4
      |                  THEN 0 ELSE 1 END) AS BIGINT) AS qfail_cnt
      |  FROM (SELECT q.*, count(*) OVER (PARTITION BY text) AS dc FROM q)
      |  GROUP BY source),
      |tt2 AS (SELECT CAST(sum(n_docs) AS BIGINT) AS ntot,
      |               CAST(sum(dup_cnt) AS BIGINT) AS dtot,
      |               CAST(sum(contam_cnt) AS BIGINT) AS ctot,
      |               CAST(sum(qfail_cnt) AS BIGINT) AS qtot FROM st),
      |kv AS (SELECT source,
      |         CAST(CASE WHEN NOT ${srcOutlierSql("dup_cnt", "dtot")}
      |                    AND NOT ${srcOutlierSql("contam_cnt", "ctot")}
      |                    AND NOT ${srcOutlierSql("qfail_cnt", "qtot")}
      |              THEN 1 ELSE 0 END AS BIGINT) AS keep
      |       FROM st CROSS JOIN tt2),
      |ks AS (SELECT source FROM kv WHERE keep = 1)""".stripMargin

  /** Shared oracle CTEs for the ESD (exact-substring) family: per-doc
    * [[ESD_GRAM]]-word gram explode. `gr` is MATERIALIZED — it feeds
    * multiple consumers (the round-8 recursive-CTE lesson).
    */
  private def esdGramCtesOver(base: String): String =
    s"""t AS (SELECT doc_id, string_split(text,' ') AS toks FROM $base),
      |g AS (SELECT doc_id, CAST(unnest(range(1, len(toks) - $ESD_GRAM + 2)) AS BIGINT) AS s, toks
      |      FROM t WHERE len(toks) >= $ESD_GRAM),
      |gr AS MATERIALIZED (SELECT doc_id, s,
      |        array_to_string(list_slice(toks, s, s + $ESD_GRAM - 1), ' ') AS gtext
      |      FROM g)""".stripMargin
  private val esdGramCtes: String = esdGramCtesOver("documents")

  /** Island-merge CTE chain over a `sp(doc_id, s, e)` span relation —
    * the gaps-and-islands replay of [[Dedup.substrIslands]]' merge.
    */
  private val esdIslandCtes: String =
    """i0 AS (SELECT doc_id, s, e,
      |         max(e) OVER (PARTITION BY doc_id ORDER BY s
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |       FROM sp),
      |i1 AS (SELECT doc_id, s, e,
      |         CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS ni FROM i0),
      |i2 AS (SELECT doc_id, s, e,
      |         sum(ni) OVER (PARTITION BY doc_id ORDER BY s
      |              ROWS UNBOUNDED PRECEDING) AS island FROM i1),
      |isl AS (SELECT doc_id, CAST(min(s) AS BIGINT) AS s, CAST(max(e) AS BIGINT) AS e
      |        FROM i2 GROUP BY doc_id, island)""".stripMargin

  private val segCtes: String =
    s"""t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |sg AS (SELECT doc_id, unnest(range(0, (len(toks) + ${SEG_WORDS - 1}) // $SEG_WORDS)) AS seg, toks FROM t),
      |segs AS (SELECT doc_id, CAST(seg AS BIGINT) AS seg,
      |           array_to_string(list_slice(toks, seg * $SEG_WORDS + 1, seg * $SEG_WORDS + $SEG_WORDS), ' ') AS seg_text
      |         FROM sg)""".stripMargin

  private val cdcCtes: String =
    s"""t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |e AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
      |        i -> {'pos': i - 1, 'word': toks[i]})) AS s FROM t),
      |x AS (SELECT doc_id, s.pos AS pos, ${hvSql("s.word")} AS v FROM e),
      |c AS (SELECT doc_id, pos, v,
      |        coalesce(sum(CASE WHEN v % $CDC_DIV = 0 THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
      |      FROM x),
      |ch AS (SELECT doc_id, CAST(chunk AS BIGINT) AS chunk,
      |         CAST(count(*) AS BIGINT) AS n_words,
      |         CAST(min(pos) AS BIGINT) AS first_pos,
      |         CAST(sum(v) AS BIGINT) AS chunk_sig
      |       FROM c GROUP BY doc_id, chunk)""".stripMargin

  private val winnowCtes: String = {
    def hv(e: String) = hvSql(e)
    s"""t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |vv AS (SELECT doc_id, toks, list_transform(toks, w -> ${hv("w")}) AS vals FROM t),
      |g AS (SELECT doc_id,
      |        CASE WHEN len(toks) < 3 THEN [${hv("array_to_string(toks, ' ')")}]
      |             ELSE list_transform(range(1, len(toks) - 1),
      |                    i -> vals[i] * 961 + vals[i + 1] * 31 + vals[i + 2])
      |        END AS grams FROM vv),
      |wnd AS (SELECT doc_id,
      |          CASE WHEN len(grams) <= 4 THEN [list_aggregate(grams, 'min')]
      |               ELSE list_transform(range(1, len(grams) - 2),
      |                      i -> list_aggregate(list_slice(grams, i, i + 3), 'min'))
      |          END AS fps FROM g),
      |fps AS (SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp
      |        FROM (SELECT doc_id, unnest(fps) AS fp FROM wnd))""".stripMargin
  }

  /** Cluster labels per doc — shared by x_dupclusters (label propagation)
    * and x_dupclusters_star (star rewriting).
    */
  private val dupClustersOracle: String =
    s"""$dupClustersCte
      |SELECT d.doc_id, CAST(coalesce(m.cluster, d.doc_id) AS BIGINT) AS cluster
      |FROM documents d LEFT JOIN minr m USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** One unrolled [[Dedup.pageRank]] round as oracle CTEs (c/s/p chain
    * over `e`, `dg`, `pd`, `nn`) — THE single copy both the x_pagerank
    * and x_keep_authority oracles splice, so the quantized arithmetic
    * can only change in lock-step with [[PR_DAMPING]]/[[PR_ITERS]].
    */
  private def prRound(i: Int, prev: String): String =
    s"""c$i AS (SELECT e.dst, CAST(round(p.pr / dg.deg * 1099511627776.0) AS BIGINT) AS cq
      |       FROM e JOIN $prev p ON e.src = p.doc_id JOIN dg ON e.src = dg.src),
      |s$i AS (SELECT dst, sum(cq) AS sq FROM c$i GROUP BY dst),
      |p$i AS MATERIALIZED (SELECT d.doc_id,
      |         (1.0 - $PR_DAMPING) / nn.n + $PR_DAMPING * (coalesce(s.sq, 0) / 1099511627776.0) AS pr
      |       FROM pd d CROSS JOIN nn LEFT JOIN s$i s ON d.doc_id = s.dst)""".stripMargin

  /** The shared e/dg/pd/nn/p0 prefix of the pagerank oracles. */
  private val prPrefixCtes: String =
    s"""e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cand
      |     UNION ALL SELECT doc_b, doc_a FROM cand),
      |dg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
      |pd AS (SELECT doc_id FROM documents),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |p0 AS MATERIALIZED (SELECT doc_id, 1.0 / nn.n AS pr FROM pd CROSS JOIN nn)""".stripMargin

  /** The shared shard-layout CTEs (t, sh) of the x_shard_order and
    * x_manifest oracles — one copy of the token-estimate rule and the
    * 'epoch0:' shard salt, replaying [[graft.functions.Text.tokenCountEstimate]]
    * and [[graft.operators.Sampling.hashBucket]].
    */
  private def shardCtes: String =
    s"""t AS (SELECT doc_id,
      |    CAST(list_aggregate(list_transform(string_split(text,' '),
      |      w -> greatest(1, CAST(ceil(length(w)/4.0) AS BIGINT))), 'sum') AS BIGINT) AS est_tokens,
      |    ${hashBucketSql("'epoch0:' || CAST(doc_id AS VARCHAR)")} AS hv
      |  FROM documents),
      |sh AS (SELECT doc_id, est_tokens, hv, CAST(hv % $SHARD_N AS BIGINT) AS shard FROM t)""".stripMargin

  private val oracleBase: Map[String, String] = Map(
    "x_tfidf" ->
      s"""WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |tf AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
        |dfw AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df_docs
        |        FROM w GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents)
        |SELECT tf.lang, tf.word, tf.tf, dfw.df_docs,
        |       ${detRound4Sql("tf.tf * ln(n.n / dfw.df_docs)")} AS tfidf
        |FROM tf JOIN dfw USING (word), n
        |ORDER BY lang, word""".stripMargin,
    "x_sample" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE ${hashBucketSql("doc_id")} % 100 < 10
        |ORDER BY doc_id""".stripMargin,
    "x_curate" ->
      s"""WITH q AS (
        |  SELECT doc_id, text,
        |         len(string_split(text, ' ')) AS n_words,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ($enList))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS swr
        |  FROM documents),
        |f AS (SELECT doc_id, text FROM q
        |      WHERE n_words BETWEEN 5 AND 2000 AND swr < 0.4),
        |d AS (SELECT doc_id, text,
        |        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM f),
        |tr AS (SELECT doc_id, text FROM d
        |       WHERE rn = 1 AND ${hashBucketSql("doc_id")} % 100 < 80),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM tr),
        |n2 AS (SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) > 0),
        |e AS (SELECT doc_id, n,
        |        unnest(range(0, CAST((n + ${CHUNK_BUDGET - 1}) // $CHUNK_BUDGET AS BIGINT))) AS c
        |      FROM n2)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_BUDGET) AS BIGINT) AS n_tok
        |FROM e ORDER BY doc_id, chunk""".stripMargin,
    "x_curate_fuzzy" ->
      s"""WITH RECURSIVE q AS (
        |  SELECT doc_id, text,
        |         len(string_split(text, ' ')) AS n_words,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ($enList))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS swr
        |  FROM documents),
        |f AS (SELECT doc_id, text FROM q
        |      WHERE n_words BETWEEN 5 AND 2000 AND swr < 0.4),
        |${permSigsSqlFrom("f")},
        |bands AS MATERIALIZED (SELECT doc_id, CAST(perm // $ROWS_PER_BAND AS BIGINT) AS band,
        |                 string_agg(sig, '|' ORDER BY perm) AS key
        |          FROM sigs GROUP BY doc_id, perm // $ROWS_PER_BAND),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        |         WHERE a.doc_id < b.doc_id),
        |und AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
        |        UNION SELECT doc_b, doc_a FROM cand),
        |reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |minr AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
        |         FROM reach GROUP BY a),
        |keep AS (SELECT ff.doc_id, ff.text
        |         FROM f ff LEFT JOIN minr m USING (doc_id)
        |         WHERE coalesce(m.cluster, ff.doc_id) = ff.doc_id),
        |tr AS (SELECT doc_id, text FROM keep
        |       WHERE ${hashBucketSql("doc_id")} % 100 < 80),
        |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM tr),
        |n2 AS (SELECT doc_id, len(toks) AS n FROM t2 WHERE len(toks) > 0),
        |e AS (SELECT doc_id, n,
        |        unnest(range(0, CAST((n + ${CHUNK_BUDGET - 1}) // $CHUNK_BUDGET AS BIGINT))) AS c
        |      FROM n2)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_BUDGET) AS BIGINT) AS n_tok
        |FROM e ORDER BY doc_id, chunk""".stripMargin,
    "x_curate_all" ->
      s"""WITH RECURSIVE t0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(4)}) AS gram FROM t0),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
        |        WHERE g.doc_id % 50 <> 0),
        |q AS (
        |  SELECT doc_id, text,
        |         len(string_split(text, ' ')) AS n_words,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ($enList))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS swr
        |  FROM documents WHERE doc_id % 50 <> 0),
        |f AS (SELECT doc_id, text FROM q
        |      WHERE n_words BETWEEN 5 AND 2000 AND swr < 0.4
        |        AND doc_id NOT IN (SELECT doc_id FROM bad)),
        |${permSigsSqlFrom("f")},
        |bands AS MATERIALIZED (SELECT doc_id, CAST(perm // $ROWS_PER_BAND AS BIGINT) AS band,
        |                 string_agg(sig, '|' ORDER BY perm) AS key
        |          FROM sigs GROUP BY doc_id, perm // $ROWS_PER_BAND),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        |         WHERE a.doc_id < b.doc_id),
        |und AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
        |        UNION SELECT doc_b, doc_a FROM cand),
        |reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |minr AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
        |         FROM reach GROUP BY a),
        |keep AS (SELECT ff.doc_id, ff.text
        |         FROM f ff LEFT JOIN minr m USING (doc_id)
        |         WHERE coalesce(m.cluster, ff.doc_id) = ff.doc_id),
        |tr AS (SELECT doc_id, text FROM keep
        |       WHERE ${hashBucketSql("doc_id")} % 100 < 80),
        |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM tr),
        |n2 AS (SELECT doc_id, len(toks) AS n FROM t2 WHERE len(toks) > 0),
        |e AS (SELECT doc_id, n,
        |        unnest(range(0, CAST((n + ${CHUNK_BUDGET - 1}) // $CHUNK_BUDGET AS BIGINT))) AS c
        |      FROM n2)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_BUDGET) AS BIGINT) AS n_tok
        |FROM e ORDER BY doc_id, chunk""".stripMargin,
    "x_pack" ->
      s"""WITH t AS (SELECT doc_id, lang,
        |            CAST(len(string_split(text,' ')) AS BIGINT) AS n_words
        |          FROM documents),
        |c AS (SELECT doc_id, lang, n_words,
        |        sum(n_words) OVER (PARTITION BY lang ORDER BY doc_id
        |                           ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t WHERE n_words > 0)
        |SELECT doc_id, lang, n_words,
        |       CAST((cum - n_words) // $PACK_BUDGET AS BIGINT) AS first_bin,
        |       CAST((cum - 1) // $PACK_BUDGET AS BIGINT) AS last_bin
        |FROM c ORDER BY doc_id""".stripMargin,
    "x_shard_order" ->
      s"""WITH ${shardCtes}
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY hv, doc_id) AS BIGINT) AS pos,
        |       est_tokens
        |FROM sh ORDER BY shard, pos""".stripMargin,
    "x_manifest" ->
      s"""WITH ${shardCtes},
        |so AS (SELECT doc_id, shard, est_tokens,
        |         row_number() OVER (PARTITION BY shard ORDER BY hv, doc_id) AS pos
        |       FROM sh)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(est_tokens) AS BIGINT) AS est_tokens,
        |       CAST((sum(est_tokens) + ${PACK_BUDGET - 1}) // $PACK_BUDGET AS BIGINT) AS n_bins,
        |       arg_min(doc_id, pos) AS first_doc,
        |       arg_max(doc_id, pos) AS last_doc,
        |       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos)) AS manifest_md5
        |FROM so GROUP BY shard ORDER BY shard""".stripMargin,
    "x_chunks_overlap" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) > 0),
        |e AS (SELECT doc_id, n,
        |        unnest(range(0, CAST(1 + ceil(greatest(n - $CHUNK_BUDGET, 0)
        |          / CAST($CHUNK_STRIDE AS DOUBLE)) AS BIGINT))) AS c
        |      FROM n)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(c * $CHUNK_STRIDE AS BIGINT) AS start_tok,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_STRIDE) AS BIGINT) AS n_tok
        |FROM e ORDER BY doc_id, chunk""".stripMargin,
    "x_pps_sample" ->
      s"""WITH t AS (SELECT doc_id, lang,
        |            CAST(len(string_split(text,' ')) AS BIGINT) AS n_words
        |          FROM documents),
        |c AS (SELECT doc_id, lang, n_words,
        |        sum(n_words) OVER (PARTITION BY lang ORDER BY doc_id
        |                           ROWS UNBOUNDED PRECEDING) AS cum,
        |        sum(n_words) OVER (PARTITION BY lang) // $PPS_PER_SHARD AS step
        |      FROM t WHERE n_words > 0)
        |SELECT doc_id, lang, n_words FROM c
        |WHERE step > 0 AND (cum // step) > ((cum - n_words) // step)
        |ORDER BY doc_id""".stripMargin,
    "x_quantize" ->
      s"""WITH s AS (SELECT vec_id, embedding,
        |             list_aggregate(list_transform(embedding,
        |               v -> abs(CAST(v AS DOUBLE))), 'max') / 127.0 AS q_scale
        |           FROM embeddings),
        |q AS (SELECT vec_id, embedding, q_scale,
        |        list_transform(embedding, v -> CASE WHEN q_scale = 0 THEN 0
        |          ELSE CAST(floor(CAST(v AS DOUBLE) / q_scale + 0.5) AS BIGINT) END) AS qv
        |      FROM s)
        |SELECT vec_id, ${detRound4Sql("q_scale")} AS q_scale,
        |       CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
        |       ${detRound4Sql(
          s"list_aggregate(list_transform(range(1, ${DIM + 1}), " +
            "i -> abs(CAST(qv[i] AS DOUBLE) * q_scale - CAST(embedding[i] AS DOUBLE))), 'sum') / " +
            s"$DIM")} AS mae
        |FROM q ORDER BY vec_id""".stripMargin,
    "x_stratified" ->
      s"""WITH r AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY ${hashBucketSql("doc_id")}, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= 20 ORDER BY doc_id""".stripMargin,
    "x_split" ->
      s"""SELECT doc_id, ${hashBucketSql("doc_id")} % 100 AS bucket,
        |  CASE WHEN ${hashBucketSql("doc_id")} % 100 < 80 THEN 'train'
        |       WHEN ${hashBucketSql("doc_id")} % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |e AS (SELECT doc_id, toks, n,
        |        unnest(range(0, CAST((n + ${CHUNK_BUDGET - 1}) // $CHUNK_BUDGET AS BIGINT))) AS c
        |      FROM n)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_BUDGET) AS BIGINT) AS n_tok,
        |       array_to_string(toks[c * $CHUNK_BUDGET + 1 : least(n, (c + 1) * $CHUNK_BUDGET)], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk""".stripMargin,
    "x_ivfknn2" -> {
      s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cvec
        |              FROM embeddings WHERE vec_id < $IVF_K),
        |${scoredSql("cent", "scoredc")},
        |probes AS (SELECT vec_id AS probe_id, ed AS pe, nrm AS pn, cent_id AS cell
        |           FROM scoredc WHERE rk <= $IVF_NPROBE AND vec_id < $PROBE_CAP),
        |homes AS (SELECT vec_id AS cand_id, ed AS ce, nrm AS cn, cent_id AS cell
        |          FROM scoredc WHERE rk = 1),
        |pairs AS (SELECT probe_id, cand_id,
        |    ${dotD("pe", "ce")} / (pn * cn) AS sim
        |  FROM probes JOIN homes USING (cell)
        |  WHERE probe_id <> cand_id),
        |r AS (SELECT probe_id, cand_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rank
        |      FROM pairs)
        |SELECT probe_id AS vec_id, cand_id, ${detRound4Sql("sim")} AS sim
        |FROM r WHERE rank = 1 ORDER BY vec_id""".stripMargin
    },
    "x_ivf_train" ->
      s"""WITH cent0 AS (SELECT vec_id AS cent_id, embedding AS cvec
        |              FROM embeddings WHERE vec_id < $KMEANS_K),
        |${asgnSql("cent0", "a1")},
        |q AS (SELECT cell, d.i AS dim,
        |        CAST(round(CAST(embedding[d.i] AS DOUBLE) * 1048576) AS BIGINT) AS qv
        |      FROM a1 CROSS JOIN range(1, ${DIM + 1}) d(i)),
        |ncell AS (SELECT cell, count(*) AS n FROM a1 GROUP BY cell),
        |cent1 AS (SELECT s.cell AS cent_id,
        |                 list(CAST(s.sq AS DOUBLE) / (n.n * 1048576.0) ORDER BY s.dim) AS cvec
        |          FROM (SELECT cell, dim, sum(qv) AS sq FROM q GROUP BY cell, dim) s
        |          JOIN ncell n ON s.cell = n.cell
        |          GROUP BY s.cell),
        |cent AS (SELECT cent_id, cvec FROM cent1
        |         UNION ALL
        |         SELECT cent_id, list_transform(cvec, x -> CAST(x AS DOUBLE))
        |         FROM cent0 WHERE cent_id NOT IN (SELECT cent_id FROM cent1)),
        |${asgnSql("cent", "a2")},
        |occ AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM a2 GROUP BY cell)
        |SELECT o.cell, o.n_vecs, ${detRound4Sql(normSql("c.cvec"))} AS cnorm
        |FROM occ o JOIN cent c ON o.cell = c.cent_id
        |ORDER BY cell""".stripMargin,
    "x_ivfknn_trained" ->
      s"""WITH cent0 AS (SELECT vec_id AS cent_id, embedding AS cvec
        |              FROM embeddings WHERE vec_id < $KMEANS_K),
        |${refineSql("cent0", "k1", 1)},
        |${refineSql("k1", "k2", 2)},
        |${refineSql("k2", "k3", 3)},
        |${scoredSql("k3", "sc")},
        |probes AS (SELECT vec_id AS probe_id, ed AS pe, nrm AS pn, cent_id AS cell
        |           FROM sc WHERE rk <= $IVF_NPROBE AND vec_id < $PROBE_CAP),
        |homes AS (SELECT vec_id AS cand_id, ed AS ce, nrm AS cn, cent_id AS cell
        |          FROM sc WHERE rk = 1),
        |pairs AS (SELECT probe_id, cand_id,
        |    ${dotD("pe", "ce")} / (pn * cn) AS sim
        |  FROM probes JOIN homes USING (cell)
        |  WHERE probe_id <> cand_id),
        |r AS (SELECT probe_id, cand_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rank
        |      FROM pairs)
        |SELECT probe_id AS vec_id, cand_id, ${detRound4Sql("sim")} AS sim
        |FROM r WHERE rank = 1 ORDER BY vec_id""".stripMargin,
    "x_semdedup" ->
      s"""WITH RECURSIVE cent0 AS (SELECT vec_id AS cent_id, embedding AS cvec
        |              FROM embeddings WHERE vec_id < $KMEANS_K),
        |${refineSql("cent0", "k1", 1)},
        |${refineSql("k1", "k2", 2)},
        |${refineSql("k2", "k3", 3)},
        |${asgnSql("k3", "af")},
        |${capIdsSql("af", "cp")},
        |afn AS MATERIALIZED (SELECT vec_id, cell, ed, nrm,
        |        vec_id IN (SELECT vec_id FROM cp) AS capped
        |      FROM af),
        |cand AS MATERIALIZED (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM afn a JOIN afn b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE (a.capped OR b.capped)
        |    AND ${dotD("a.ed", "b.ed")} / (a.nrm * b.nrm) > $SEMDEDUP_TAU),
        |und AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
        |        UNION SELECT doc_b, doc_a FROM cand),
        |reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |minr AS (SELECT a AS vec_id, least(a, min(b)) AS cluster
        |         FROM reach GROUP BY a)
        |SELECT e.vec_id,
        |       CAST(coalesce(m.cluster, e.vec_id) AS BIGINT) AS cluster,
        |       CAST(CASE WHEN coalesce(m.cluster, e.vec_id) = e.vec_id
        |            THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM embeddings e LEFT JOIN minr m USING (vec_id)
        |ORDER BY vec_id""".stripMargin,
    "x_coreset" ->
      s"""WITH cent0 AS (SELECT vec_id AS cent_id, embedding AS cvec
        |              FROM embeddings WHERE vec_id < $KMEANS_K),
        |${refineSql("cent0", "k1", 1)},
        |${refineSql("k1", "k2", 2)},
        |${refineSql("k2", "k3", 3)},
        |${asgnSql("k3", "af")},
        |sc AS (SELECT af.vec_id, af.cell,
        |         list_aggregate(list_transform(range(1, ${DIM + 1}),
        |           i -> CAST(af.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE)), 'sum')
        |           / (${normSql("af.embedding")} * ${normSql("c.cvec")}) AS csim
        |       FROM af JOIN k3 c ON af.cell = c.cent_id),
        |m AS (SELECT cell, vec_id, csim,
        |        row_number() OVER (PARTITION BY cell ORDER BY csim DESC, vec_id) AS rk
        |      FROM sc),
        |n AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM sc GROUP BY cell)
        |SELECT n.cell, n.n_vecs, m.vec_id AS medoid,
        |       ${detRound4Sql("m.csim")} AS sim
        |FROM n JOIN m ON n.cell = m.cell AND m.rk = 1
        |ORDER BY n.cell""".stripMargin,
    "x_ivf_train2" ->
      s"""WITH cent0 AS (SELECT vec_id AS cent_id, embedding AS cvec
        |              FROM embeddings WHERE vec_id < $KMEANS_K),
        |${refineSql("cent0", "k1", 1)},
        |${refineSql("k1", "k2", 2)},
        |${refineSql("k2", "k3", 3)},
        |${asgnSql("k3", "af")},
        |occ AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM af GROUP BY cell)
        |SELECT o.cell, o.n_vecs, ${detRound4Sql(normSql("c.cvec"))} AS cnorm
        |FROM occ o JOIN k3 c ON o.cell = c.cent_id
        |ORDER BY cell""".stripMargin,
    "x_ivf_cells" ->
      s"""$ivfAsgnPrefix
        |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
        |FROM asgn GROUP BY cell ORDER BY cell""".stripMargin,
    "x_ivfknn" ->
      s"""$ivfAsgnPrefix,
        |pairs AS (SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
        |    ${dotD("a.ed", "b.ed")} / (a.nrm * b.nrm) AS sim
        |  FROM (SELECT * FROM asgn WHERE vec_id < $PROBE_CAP) a
        |  JOIN asgn b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |r AS (SELECT probe_id, cand_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rank
        |      FROM pairs)
        |SELECT probe_id AS vec_id, cand_id, ${detRound4Sql("sim")} AS sim
        |FROM r WHERE rank = 1 ORDER BY vec_id""".stripMargin,
    "x_pq" -> {
      val codes = (0 until PQ_M).map(j =>
        s"CAST(max(CASE WHEN j = $j THEN code END) AS BIGINT) AS code$j")
        .mkString(",\n|  ")
      s"""WITH $pqBaseCtes
        |SELECT vec_id,
        |  $codes,
        |  ${detRound4Sql("sum(d2)")} AS recon_err
        |FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },
    "x_pq_recall" ->
      s"""WITH $pqBaseCtes,
        |codes AS (SELECT vec_id AS cand, j, code FROM best WHERE rn = 1),
        |dtab AS (SELECT s.vec_id AS p, s.j, c.c,
        |    list_aggregate(list_transform(range(1, ${PQ_SUB + 1}),
        |      i -> (s.sl[i] - c.csl[i]) * (s.sl[i] - c.csl[i])), 'sum') AS td2
        |  FROM sub s JOIN cent c ON s.j = c.j WHERE s.vec_id % 100 = 0 AND vec_id < $PQ_PROBE_CAP),
        |adc AS (SELECT d.p, k.cand, sum(d.td2) AS ad2
        |  FROM codes k JOIN dtab d ON k.j = d.j AND k.code = d.c AND k.cand <> d.p
        |  GROUP BY 1, 2),
        |abest AS (SELECT p, cand,
        |    row_number() OVER (PARTITION BY p ORDER BY ad2, cand) AS rn FROM adc),
        |ex AS (SELECT p.vec_id AS p, e.vec_id AS cand,
        |    list_aggregate(list_transform(range(1, ${DIM + 1}),
        |      i -> (CAST(p.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
        |         * (CAST(p.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))), 'sum') AS d2
        |  FROM embeddings p JOIN embeddings e ON e.vec_id <> p.vec_id
        |  WHERE p.vec_id % 100 = 0 AND p.vec_id < $PQ_PROBE_CAP),
        |ebest AS (SELECT p, cand,
        |    row_number() OVER (PARTITION BY p ORDER BY d2, cand) AS rn FROM ex)
        |SELECT a.p AS probe_id, a.cand AS pq_nn, e.cand AS exact_nn,
        |  CAST(a.cand = e.cand AS BIGINT) AS hit
        |FROM abest a JOIN ebest e ON a.p = e.p AND a.rn = 1 AND e.rn = 1
        |ORDER BY probe_id""".stripMargin,
    "x_ivfpq" ->
      s"""WITH icent AS (SELECT vec_id AS cent_id, embedding AS cvec
        |              FROM embeddings WHERE vec_id < $IVF_K),
        |${scoredSql("icent", "sc")},
        |$pqBaseCtes,
        |probes AS (SELECT vec_id AS p, cent_id AS cell FROM sc
        |           WHERE rk <= $IVF_NPROBE AND vec_id % 100 = 0 AND vec_id < $PQ_PROBE_CAP),
        |homes AS (SELECT vec_id AS cand, cent_id AS cell FROM sc WHERE rk = 1),
        |pairs AS (SELECT p, cand FROM probes JOIN homes USING (cell)
        |          WHERE cand <> p),
        |codes AS (SELECT vec_id AS cand, j, code FROM best WHERE rn = 1),
        |dtab AS (SELECT s.vec_id AS p, s.j, c.c AS code,
        |    list_aggregate(list_transform(range(1, ${PQ_SUB + 1}),
        |      i -> (s.sl[i] - c.csl[i]) * (s.sl[i] - c.csl[i])), 'sum') AS td2
        |  FROM sub s JOIN cent c ON s.j = c.j WHERE s.vec_id % 100 = 0 AND vec_id < $PQ_PROBE_CAP),
        |adc AS (SELECT pr.p, pr.cand, sum(d.td2) AS ad2
        |  FROM pairs pr JOIN codes k ON k.cand = pr.cand
        |  JOIN dtab d ON d.p = pr.p AND d.j = k.j AND d.code = k.code
        |  GROUP BY 1, 2),
        |r AS (SELECT p, cand, ad2,
        |        CAST(count(*) OVER (PARTITION BY p) AS BIGINT) AS n_cand,
        |        row_number() OVER (PARTITION BY p ORDER BY ad2, cand) AS rn
        |      FROM adc)
        |SELECT p AS probe_id, n_cand, cand AS ivfpq_nn,
        |       ${detRound4Sql("ad2")} AS ad2
        |FROM r WHERE rn = 1 ORDER BY probe_id""".stripMargin,
    "x_source_mix" ->
      s"""WITH t AS (SELECT source, lang,
        |    list_aggregate(list_transform(string_split(text,' '),
        |      w -> greatest(1, CAST(ceil(length(w)/4.0) AS BIGINT))), 'sum') AS t
        |  FROM documents),
        |g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(t) AS BIGINT) AS est_tokens
        |      FROM t GROUP BY source, lang)
        |SELECT source, lang, n_docs, est_tokens,
        |  ${detRound4Sql("CAST(est_tokens AS DOUBLE) / sum(est_tokens) OVER ()")} AS token_share
        |FROM g ORDER BY source, lang""".stripMargin,
    "x_mix_temp" ->
      s"""WITH t AS (SELECT source, lang,
        |    list_aggregate(list_transform(string_split(text,' '),
        |      w -> greatest(1, CAST(ceil(length(w)/4.0) AS BIGINT))), 'sum') AS t
        |  FROM documents),
        |g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(t) AS BIGINT) AS est_tokens
        |      FROM t GROUP BY source, lang),
        |s AS (SELECT *,
        |        CAST(est_tokens AS DOUBLE) / sum(est_tokens) OVER () AS share
        |      FROM g),
        |r AS (SELECT *,
        |        CAST(floor(sqrt(share) * 1099511627776.0 + 0.5) AS BIGINT) AS rq
        |      FROM s),
        |n AS (SELECT *,
        |        CAST(rq AS DOUBLE) / CAST(sum(rq) OVER () AS DOUBLE) AS temp_share
        |      FROM r)
        |SELECT source, lang, n_docs, est_tokens,
        |  ${detRound4Sql("share")} AS token_share,
        |  ${detRound4Sql("temp_share")} AS temp_share,
        |  ${detRound4Sql("temp_share / share")} AS weight
        |FROM n ORDER BY source, lang""".stripMargin,
    "x_mix_weights" ->
      s"""WITH t AS (SELECT source, lang,
        |    list_aggregate(list_transform(string_split(text,' '),
        |      w -> greatest(1, CAST(ceil(length(w)/4.0) AS BIGINT))), 'sum') AS t
        |  FROM documents),
        |g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(t) AS BIGINT) AS est_tokens
        |      FROM t GROUP BY source, lang),
        |s AS (SELECT *,
        |        CAST(est_tokens AS DOUBLE) / sum(est_tokens) OVER () AS share,
        |        1.0 / count(*) OVER () AS target,
        |        sum(est_tokens) OVER () AS total
        |      FROM g)
        |SELECT source, lang, n_docs, est_tokens,
        |  ${detRound4Sql("share")} AS token_share,
        |  ${detRound4Sql("target / share")} AS weight,
        |  CAST(floor(target * total) AS BIGINT) AS target_tokens
        |FROM s ORDER BY source, lang""".stripMargin,
    "x_curate_clean" ->
      s"""WITH $curateGateCtes,
        |d AS (SELECT doc_id, text,
        |        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM f),
        |tr AS (SELECT doc_id, text FROM d
        |       WHERE rn = 1 AND ${hashBucketSql("doc_id")} % 100 < 80),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM tr),
        |n2 AS (SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) > 0),
        |e AS (SELECT doc_id, n,
        |        unnest(range(0, CAST((n + ${CHUNK_BUDGET - 1}) // $CHUNK_BUDGET AS BIGINT))) AS c
        |      FROM n2)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_BUDGET) AS BIGINT) AS n_tok
        |FROM e ORDER BY doc_id, chunk""".stripMargin,
    "x_source_gate" ->
      s"""WITH $curateGateCtes,
        |$sourceStatsCtes
        |SELECT source, n_docs,
        |  ${detRound4Sql("CAST(sum_w AS DOUBLE) / n_docs")} AS mean_words,
        |  ${detRound4Sql("CAST(dup_cnt AS DOUBLE) / n_docs")} AS dup_share,
        |  ${detRound4Sql("CAST(contam_cnt AS DOUBLE) / n_docs")} AS contam_share,
        |  ${detRound4Sql("CAST(qfail_cnt AS DOUBLE) / n_docs")} AS qfail_share,
        |  (SELECT keep FROM kv WHERE kv.source = st.source) AS keep
        |FROM st ORDER BY source""".stripMargin,
    "x_curate_sourced" ->
      s"""WITH $curateGateCtes,
        |$sourceStatsCtes,
        |f2 AS (SELECT doc_id, text FROM f
        |       WHERE source IN (SELECT source FROM ks)),
        |d AS (SELECT doc_id, text,
        |        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM f2),
        |tr AS (SELECT doc_id, text FROM d
        |       WHERE rn = 1 AND ${hashBucketSql("doc_id")} % 100 < 80),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM tr),
        |n2 AS (SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) > 0),
        |e AS (SELECT doc_id, n,
        |        unnest(range(0, CAST((n + ${CHUNK_BUDGET - 1}) // $CHUNK_BUDGET AS BIGINT))) AS c
        |      FROM n2)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_BUDGET) AS BIGINT) AS n_tok
        |FROM e ORDER BY doc_id, chunk""".stripMargin,
    "x_vocab_coverage" ->
      s"""WITH w AS (SELECT unnest(string_split(text,' ')) AS word FROM documents),
        |v AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
        |tot AS (SELECT CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_total
        |        FROM documents),
        |r AS (SELECT word, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank,
        |        sum(cnt) OVER (ORDER BY cnt DESC, word
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM v)
        |SELECT rank, word, cnt,
        |  ${detRound4Sql("CAST(cum AS DOUBLE) / n_total")} AS cum_share
        |FROM r CROSS JOIN tot WHERE rank <= 20 ORDER BY rank""".stripMargin,
    "x_contam_sweep" -> {
      val arms = (3 to 5).map { n =>
        s"""SELECT CAST($n AS BIGINT) AS gram_width,
          |  CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_contam_docs,
          |  CAST(count(DISTINCT g.gram) AS BIGINT) AS n_overlap_grams
          |FROM (SELECT doc_id, unnest(${gramsSql(n)}) AS gram FROM t0
          |      WHERE doc_id % 50 <> 0) g
          |JOIN (SELECT DISTINCT gram FROM
          |        (SELECT unnest(${gramsSql(n)}) AS gram FROM t0
          |         WHERE doc_id % 50 = 0)) ev
          |  ON g.gram = ev.gram""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
        |SELECT * FROM ($arms)
        |ORDER BY gram_width""".stripMargin
    },
    "x_keyterms" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
        |cdw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
        |d AS (SELECT doc_id, word, tf,
        |        CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS df_docs
        |      FROM cdw),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |s AS (SELECT doc_id, word, tf, df_docs,
        |        ${detRound4Sql("tf * ln(n_docs / df_docs)")} AS tfidf
        |      FROM d, n),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, word) AS BIGINT) AS rank FROM s)
        |SELECT doc_id, rank, word, tf, df_docs, tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "x_dupgrams" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |g AS (SELECT doc_id, ${gramsSql(4)} AS grams FROM t),
        |px AS (SELECT doc_id, grams,
        |         unnest(range(1, len(grams) + 1)) AS pos1 FROM g),
        |p AS (SELECT doc_id, CAST(pos1 - 1 AS BIGINT) AS pos,
        |        grams[pos1] AS gram FROM px),
        |f AS (SELECT doc_id, pos, gram,
        |        CASE WHEN lag(doc_id) OVER (PARTITION BY gram ORDER BY doc_id, pos)
        |                  IS DISTINCT FROM doc_id THEN 1 ELSE 0 END AS fd
        |      FROM p),
        |d AS (SELECT doc_id, pos,
        |        CAST(sum(fd) OVER (PARTITION BY gram) >= 2 AS BIGINT) AS dup
        |      FROM f),
        |i AS (SELECT doc_id, dup,
        |        pos - row_number() OVER (PARTITION BY doc_id, dup ORDER BY pos) AS grp
        |      FROM d),
        |runs AS (SELECT doc_id, dup, grp, count(*) AS len
        |         FROM i GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN dup = 1 THEN len ELSE 0 END) AS BIGINT) AS n_dup_grams,
        |       CAST(coalesce(max(CASE WHEN dup = 1 THEN len END), 0) AS BIGINT) AS max_dup_run
        |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_substr_spans" ->
      s"""WITH $esdGramCtes,
        |d AS (SELECT gtext FROM gr GROUP BY gtext HAVING count(*) >= 2),
        |sp AS (SELECT gr.doc_id, s, s + $ESD_GRAM - 1 AS e FROM gr JOIN d USING (gtext)),
        |$esdIslandCtes
        |SELECT doc_id, s, e, CAST(e - s + 1 AS BIGINT) AS len
        |FROM isl ORDER BY doc_id, s""".stripMargin,
    "x_curate_exact" ->
      s"""WITH $curateGateCtes,
        |${esdGramCtesOver("f")},
        |fw AS (SELECT doc_id, s,
        |         count(*) OVER (PARTITION BY gtext) AS occ,
        |         min(struct_pack(d := doc_id, p := s)) OVER (PARTITION BY gtext) AS fst
        |       FROM gr),
        |sp AS (SELECT doc_id, s, s + $ESD_GRAM - 1 AS e FROM fw
        |       WHERE occ >= 2 AND NOT (doc_id = fw.fst.d AND s = fw.fst.p)),
        |$esdIslandCtes,
        |tok AS (SELECT doc_id, CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) AS pos, toks FROM t),
        |tk AS (SELECT doc_id, pos, toks[pos] AS tok FROM tok),
        |mk AS (SELECT tk.doc_id, tk.pos, tk.tok,
        |         CASE WHEN isl.s IS NOT NULL THEN 1 ELSE 0 END AS cut
        |       FROM tk LEFT JOIN isl
        |         ON tk.doc_id = isl.doc_id AND tk.pos BETWEEN isl.s AND isl.e),
        |per AS (SELECT doc_id, count(*) AS n_tokens, sum(cut) AS n_cut,
        |          coalesce(string_agg(CASE WHEN cut = 0 THEN tok END, ' ' ORDER BY pos), '') AS kept
        |        FROM mk GROUP BY doc_id),
        |ct AS (SELECT doc_id, kept AS text FROM per WHERE n_cut * 2 < n_tokens),
        |tr AS (SELECT doc_id, text FROM ct WHERE ${hashBucketSql("doc_id")} % 100 < 80),
        |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM tr),
        |n2 AS (SELECT doc_id, len(toks) AS n FROM t2 WHERE len(toks) > 0),
        |e2 AS (SELECT doc_id, n,
        |        unnest(range(0, CAST((n + ${CHUNK_BUDGET - 1}) // $CHUNK_BUDGET AS BIGINT))) AS c
        |      FROM n2)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_BUDGET) AS BIGINT) AS n_tok
        |FROM e2 ORDER BY doc_id, chunk""".stripMargin,
    "x_containment" ->
      s"""WITH $esdGramCtes,
        |gd AS (SELECT DISTINCT doc_id, gtext FROM gr),
        |na AS (SELECT doc_id, count(*) AS n FROM gd GROUP BY doc_id),
        |rare AS (SELECT gtext FROM gd GROUP BY gtext
        |         HAVING count(*) BETWEEN 2 AND $CONT_DF_CAP),
        |k AS (SELECT gd.doc_id, gd.gtext FROM gd JOIN rare USING (gtext)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        CAST(count(*) AS BIGINT) AS shared
        |      FROM k a JOIN k b ON a.gtext = b.gtext AND a.doc_id <> b.doc_id
        |      GROUP BY 1, 2),
        |c AS (SELECT doc_a, doc_b, shared,
        |        shared * 1.0 / na.n AS containment
        |      FROM p JOIN na ON p.doc_a = na.doc_id)
        |SELECT doc_a, doc_b, shared, ${detRound4Sql("containment")} AS containment
        |FROM c WHERE containment >= $CONT_MIN ORDER BY doc_a, doc_b""".stripMargin,
    "x_substr_incremental" ->
      s"""WITH $esdGramCtes,
        |idx AS (SELECT DISTINCT gtext FROM gr WHERE doc_id % 4 <> 0),
        |sp AS (SELECT gr.doc_id, s, s + $ESD_GRAM - 1 AS e
        |       FROM gr JOIN idx USING (gtext) WHERE gr.doc_id % 4 = 0),
        |$esdIslandCtes
        |SELECT doc_id, s, e, CAST(e - s + 1 AS BIGINT) AS len
        |FROM isl ORDER BY doc_id, s""".stripMargin,
    "x_substr_cut" ->
      s"""WITH $esdGramCtes,
        |f AS (SELECT doc_id, s,
        |        count(*) OVER (PARTITION BY gtext) AS occ,
        |        min(struct_pack(d := doc_id, p := s)) OVER (PARTITION BY gtext) AS fst
        |      FROM gr),
        |sp AS (SELECT doc_id, s, s + $ESD_GRAM - 1 AS e FROM f
        |       WHERE occ >= 2 AND NOT (doc_id = fst.d AND s = fst.p)),
        |$esdIslandCtes,
        |tok AS (SELECT doc_id, CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) AS pos, toks FROM t),
        |tk AS (SELECT doc_id, pos, toks[pos] AS tok FROM tok),
        |mk AS (SELECT tk.doc_id, tk.pos, tk.tok,
        |         CASE WHEN isl.s IS NOT NULL THEN 1 ELSE 0 END AS cut
        |       FROM tk LEFT JOIN isl
        |         ON tk.doc_id = isl.doc_id AND tk.pos BETWEEN isl.s AND isl.e)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(cut) AS BIGINT) AS n_cut,
        |       ${detRound4Sql("sum(cut) * 1.0 / count(*)")} AS cut_ratio,
        |       coalesce(string_agg(CASE WHEN cut = 0 THEN tok END, ' ' ORDER BY pos), '') AS kept_text
        |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_dedup_cut" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |g AS (SELECT doc_id, ${gramsSql(4)} AS grams FROM t),
        |px AS (SELECT doc_id, grams, unnest(range(1, len(grams) + 1)) AS pos1 FROM g),
        |p AS (SELECT doc_id, CAST(pos1 - 1 AS BIGINT) AS pos, grams[pos1] AS gram FROM px),
        |dg AS (SELECT gram FROM p GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |dpos AS (SELECT doc_id, pos FROM p JOIN dg USING (gram)),
        |tk0 AS (SELECT doc_id, len(toks) AS n, toks,
        |          unnest(range(1, len(toks) + 1)) AS tp1 FROM t),
        |tk AS (SELECT doc_id, n, CAST(tp1 - 1 AS BIGINT) AS tp, toks[tp1] AS tok FROM tk0),
        |cut AS (SELECT DISTINCT k.doc_id, k.tp
        |        FROM tk k JOIN dpos d ON k.doc_id = d.doc_id
        |         AND d.pos <= k.tp
        |         AND k.tp <= d.pos + (CASE WHEN k.n >= 4 THEN 3 ELSE k.n - 1 END))
        |SELECT k.doc_id,
        |  coalesce(string_agg(k.tok, ' ' ORDER BY k.tp) FILTER (WHERE c.tp IS NULL), '') AS kept_text,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c.tp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cut
        |FROM tk k LEFT JOIN cut c ON k.doc_id = c.doc_id AND k.tp = c.tp
        |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin,
    "x_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text,' ')) AS word FROM documents),
        |v AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
        |p AS (SELECT freq, unnest(list_transform(range(1, length(word)),
        |        i -> substr(word, CAST(i AS BIGINT), 2))) AS pair
        |      FROM v WHERE length(word) >= 2),
        |g AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY 1),
        |r AS (SELECT pair, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rank
        |      FROM g)
        |SELECT rank, pair, cnt FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    "x_bpe_train" ->
      s"WITH ${bpeSqlCtes(BPE_ROUNDS)},\n${bpeTrainSelect(BPE_ROUNDS)}",
    "x_bpe_apply" ->
      s"WITH ${bpeSqlCtes(BPE_ROUNDS)},\n${bpeApplySelect(BPE_ROUNDS)}",
    // Fertility replay: the delimiter encoding is injective (symbols
    // concatenate back to the word), so stripping chr(1)/chr(2) from the
    // trained cell string recovers the vocab key and len(symbols) is the
    // per-word token count — no need to thread `word` through the rounds.
    "x_bpe_fertility" ->
      s"""WITH ${bpeSqlCtes(BPE_ROUNDS)},
        |ft AS (SELECT replace(replace(s, chr(1), ''), chr(2), '') AS word,
        |         CAST(len(string_split(substr(s, 2, length(s) - 2), chr(2)||chr(1))) AS BIGINT) AS n_toks
        |       FROM bs$BPE_ROUNDS),
        |flw AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS freq
        |        FROM (SELECT lang, unnest(string_split(text,' ')) AS word FROM documents)
        |        WHERE word <> '' GROUP BY 1, 2),
        |fj AS (SELECT lang, freq, n_toks, CAST(length(word) AS BIGINT) AS wl
        |       FROM flw JOIN ft USING (word))
        |SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words,
        |       CAST(sum(freq * n_toks) AS BIGINT) AS n_tokens,
        |       CAST(sum(freq * wl) AS BIGINT) AS n_chars,
        |       ${detRound4Sql("CAST(sum(freq * n_toks) AS DOUBLE) / sum(freq)")} AS tokens_per_word,
        |       ${detRound4Sql("CAST(sum(freq * wl) AS DOUBLE) / sum(freq * n_toks)")} AS chars_per_token
        |FROM fj GROUP BY lang ORDER BY lang""".stripMargin,
    "x_lp_buckets" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
        |cdw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1, 2),
        |cw AS (SELECT word, CAST(sum(c) AS BIGINT) AS c_w FROM cdw GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_total FROM cw),
        |sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |         ${detRound4Sql("sum(CAST(c AS DOUBLE) * (ln(CAST(c_w AS DOUBLE)) - ln(CAST(n_total AS DOUBLE)))) / CAST(sum(c) AS DOUBLE)")} AS alp
        |       FROM cdw JOIN cw USING (word) CROSS JOIN tot GROUP BY doc_id),
        |q AS (SELECT ${detRound4Sql("quantile_cont(alp, 0.25)")} AS q1,
        |             ${detRound4Sql("quantile_cont(alp, 0.5)")} AS q2,
        |             ${detRound4Sql("quantile_cont(alp, 0.75)")} AS q3 FROM sc)
        |SELECT CAST(1 + (CASE WHEN alp > q1 THEN 1 ELSE 0 END)
        |              + (CASE WHEN alp > q2 THEN 1 ELSE 0 END)
        |              + (CASE WHEN alp > q3 THEN 1 ELSE 0 END) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |  min(alp) AS lo, max(alp) AS hi
        |FROM sc CROSS JOIN q GROUP BY 1 ORDER BY bucket""".stripMargin,
    "x_unigram_lp" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
        |cdw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1, 2),
        |cw AS (SELECT word, CAST(sum(c) AS BIGINT) AS c_w FROM cdw GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_total FROM cw)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |  ${detRound4Sql("sum(CAST(c AS DOUBLE) * (ln(CAST(c_w AS DOUBLE)) - ln(CAST(n_total AS DOUBLE)))) / CAST(sum(c) AS DOUBLE)")} AS avg_logprob
        |FROM cdw JOIN cw USING (word) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_bigram_lp" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(2, len(toks) + 1),
        |         i -> {'w1': toks[i - 1], 'w2': toks[i]})) AS b
        |       FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c
        |      FROM bg GROUP BY 1, 2, 3),
        |cb AS (SELECT doc_id, c,
        |         CAST(sum(c) OVER (PARTITION BY w1, w2) AS BIGINT) AS c_b,
        |         CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS c_ctx FROM c),
        |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM
        |        (SELECT unnest(string_split(text,' ')) AS w FROM documents))
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  ${detRound4Sql(
             "sum(CAST(c AS DOUBLE) * ln((CAST(c_b AS DOUBLE) * 2.0 + " +
             s"$BIGRAM_ALPHA2) / (CAST(c_ctx AS DOUBLE) * 2.0 + $BIGRAM_ALPHA2 * " +
             "CAST(v AS DOUBLE)))) / CAST(sum(c) AS DOUBLE)")} AS avg_logprob
        |FROM cb CROSS JOIN v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_decontam" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(4)}) AS gram FROM t),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
        |SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_overlap
        |FROM g JOIN ev USING (gram)
        |WHERE doc_id % 50 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_pii_scrub" ->
      """WITH p AS (SELECT doc_id,
        |  'user' || CAST(doc_id AS VARCHAR) || '@mail' || CAST(doc_id % 10 AS VARCHAR) || '.net'
        |    || ' ' || 'src=10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.7'
        |    || ' ' || text AS raw
        |FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,
    "x_repetition" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |r AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
        |        CAST(len(${gramsSql(3)}) AS BIGINT) AS n_g3,
        |        CAST(len(list_distinct(${gramsSql(3)})) AS BIGINT) AS d_g3
        |      FROM t),
        |wc AS (SELECT doc_id, word, count(*) AS c
        |       FROM (SELECT doc_id, unnest(toks) AS word FROM t) GROUP BY 1, 2),
        |ent AS (SELECT wc.doc_id,
        |          -sum((CAST(c AS DOUBLE) / n_words) * ln(CAST(c AS DOUBLE) / n_words)) AS e,
        |          max(c) AS mx, any_value(n_words) AS nw
        |        FROM wc JOIN r ON wc.doc_id = r.doc_id GROUP BY wc.doc_id)
        |SELECT r.doc_id, r.n_words,
        |  ${detRound4Sql("1.0 - CAST(d_g3 AS DOUBLE) / n_g3")} AS dup3_frac,
        |  ${detRound4Sql("CAST(mx AS DOUBLE) / nw")} AS top_word_frac,
        |  ${detRound4Sql("e")} AS word_entropy
        |FROM r JOIN ent ON r.doc_id = ent.doc_id ORDER BY r.doc_id""".stripMargin,
    "x_bm25" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(len(toks)) AS avgdl FROM t),
        |w AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS word FROM t),
        |tf AS (SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf
        |       FROM w WHERE word IN ('query', 'join', 'fast') GROUP BY 1, 2, 3),
        |d AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1)
        |SELECT doc_id,
        |  ${detRound4Sql("sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))")} AS bm25
        |FROM tf JOIN d USING (word) CROSS JOIN s
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_tokens" ->
      """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |c AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY lang, word),
        |r AS (SELECT lang, word, cnt,
        |             CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS BIGINT) AS rn
        |      FROM c)
        |SELECT lang, word, cnt, rn FROM r WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    "x_token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
        |       CAST(list_aggregate(list_transform(string_split(text,' '),
        |              w -> greatest(1, CAST(ceil(length(w)/4.0) AS BIGINT))), 'sum') AS BIGINT) AS est_tokens,
        |       CAST(length(text) AS BIGINT) AS n_chars_actual
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_langid" ->
      s"""WITH h AS (SELECT doc_id, lang AS labeled_lang,
        |       ${hitsSql("en")} AS en_hits, ${hitsSql("de")} AS de_hits,
        |       ${hitsSql("es")} AS es_hits, ${hitsSql("fr")} AS fr_hits,
        |       ${hitsSql("zh")} AS zh_hits
        |FROM documents)
        |SELECT doc_id, labeled_lang, en_hits, de_hits, es_hits, fr_hits, zh_hits,
        |       $langCaseSql AS pred_lang
        |FROM h ORDER BY doc_id""".stripMargin,
    "x_lang_confusion" ->
      s"""WITH h AS (SELECT doc_id, lang AS labeled_lang,
        |       ${hitsSql("en")} AS en_hits, ${hitsSql("de")} AS de_hits,
        |       ${hitsSql("es")} AS es_hits, ${hitsSql("fr")} AS fr_hits,
        |       ${hitsSql("zh")} AS zh_hits
        |FROM documents),
        |p AS (SELECT labeled_lang, $langCaseSql AS pred_lang FROM h),
        |m AS (SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM p GROUP BY 1, 2)
        |SELECT labeled_lang, pred_lang, n_docs,
        |  ${detRound4Sql("CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY labeled_lang)")} AS row_share
        |FROM m ORDER BY labeled_lang, pred_lang""".stripMargin,
    "x_langid_ngram" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents WHERE length(text) >= 3),
        |tri AS (SELECT doc_id, lang,
        |          unnest(list_transform(range(1, length(text) - 1),
        |                 i -> substr(text, CAST(i AS INTEGER), 3))) AS tg
        |        FROM d),
        |counts AS (SELECT lang, tg, count(*) AS cnt FROM tri GROUP BY lang, tg),
        |profiles AS (SELECT lang AS plang, tg FROM (
        |    SELECT lang, tg, cnt,
        |           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tg) AS rn
        |    FROM counts) WHERE rn <= 20),
        |dt AS (SELECT DISTINCT doc_id, tg FROM tri),
        |scores AS (SELECT dt.doc_id, p.plang, CAST(count(*) AS BIGINT) AS hits
        |           FROM dt JOIN profiles p ON dt.tg = p.tg
        |           GROUP BY dt.doc_id, p.plang),
        |best AS (SELECT doc_id, plang, hits FROM (
        |    SELECT doc_id, plang, hits,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang) AS rn
        |    FROM scores) WHERE rn = 1)
        |SELECT b.doc_id, d.lang AS labeled_lang, b.plang AS pred_lang, b.hits
        |FROM best b JOIN d ON b.doc_id = d.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "x_dataset_card" ->
      s"""WITH t AS (SELECT lang, source, n_chars,
        |        string_split(text,' ') AS toks,
        |        CAST(len(list_filter(string_split(text,' '), x -> x IN ($enList))) AS BIGINT) AS en_hits
        |      FROM documents),
        |f AS (SELECT lang, source, n_chars, len(toks) AS n_words,
        |        CAST(len(toks) BETWEEN 5 AND 2000
        |             AND CAST(en_hits AS DOUBLE) / len(toks) < 0.4 AS BIGINT) AS ok
        |      FROM t)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       ${detRound4Sql("CAST(sum(n_words) AS DOUBLE) / count(*)")} AS mean_doc_tokens,
        |       ${detRound4Sql("CAST(sum(ok) AS DOUBLE) / count(*)")} AS quality_pass_share
        |FROM f""".stripMargin,
    "x_quality_lr" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |f AS (SELECT doc_id,
        |        CAST(len(toks) AS DOUBLE) AS n,
        |        CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum') AS DOUBLE) / len(toks) AS awl,
        |        CAST(len(list_filter(toks, x -> x IN ($enList))) AS DOUBLE) / len(toks) AS stop,
        |        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
        |      FROM t),
        |s AS (SELECT doc_id,
        |        -2.0 + 0.5 * ln(n) + 0.2 * awl + 3.0 * stop - 1.5 * ttr AS score
        |      FROM f)
        |SELECT doc_id, ${detRound4Sql("score")} AS lr_score,
        |       CAST(score > 0 AS BIGINT) AS kept
        |FROM s ORDER BY doc_id""".stripMargin,
    "x_quality_sweep" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |f AS (SELECT doc_id,
        |        CAST(len(toks) AS BIGINT) AS n_words,
        |        CAST(len(toks) AS DOUBLE) AS n,
        |        CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum') AS DOUBLE) / len(toks) AS awl,
        |        CAST(len(list_filter(toks, x -> x IN ($enList))) AS DOUBLE) / len(toks) AS stop,
        |        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
        |      FROM t),
        |sc AS (SELECT doc_id, n_words,
        |        -2.0 + 0.5 * ln(n) + 0.2 * awl + 3.0 * stop - 1.5 * ttr AS score
        |      FROM f),
        |g AS (SELECT CAST(unnest([${QUALITY_SWEEP_TAUS.mkString(", ")}]) AS DOUBLE) AS tau),
        |a AS (SELECT tau, count(*) AS n_docs,
        |        CAST(sum(CASE WHEN score > tau THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |        CAST(sum(CASE WHEN score > tau THEN n_words ELSE 0 END) AS BIGINT) AS kw
        |      FROM sc CROSS JOIN g GROUP BY tau)
        |SELECT tau, n_kept,
        |       ${detRound4Sql("CAST(n_kept AS DOUBLE) / n_docs")} AS kept_frac,
        |       ${detRound4Sql("CAST(kw AS DOUBLE) / nullif(CAST(n_kept AS DOUBLE), 0)")} AS kept_mean_words
        |FROM a ORDER BY tau""".stripMargin,
    "x_hard_negatives" ->
      s"""WITH en AS MATERIALIZED (SELECT vec_id, label,
        |    ${edSql("embedding")} AS ed, ${normD("ed")} AS nrm FROM embeddings),
        |pairs AS (SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
        |    ${dotD("a.ed", "b.ed")} / (a.nrm * b.nrm) AS sim
        |  FROM (SELECT * FROM en WHERE vec_id < $KNN_CAP) a
        |  JOIN en b ON a.label <> b.label),
        |r AS (SELECT probe_id, cand_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rank
        |      FROM pairs)
        |SELECT probe_id AS vec_id, cand_id AS hard_neg, ${detRound4Sql("sim")} AS sim
        |FROM r WHERE rank = 1 ORDER BY vec_id""".stripMargin,
    "x_quality" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks,
        |       CAST(len(list_filter(string_split(text,' '), x -> x IN ($enList))) AS BIGINT) AS en_hits
        |FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
        |       ${detRound4Sql("CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum') AS DOUBLE) / len(toks)")} AS avg_word_len,
        |       ${detRound4Sql("CAST(en_hits AS DOUBLE) / len(toks)")} AS stopword_ratio,
        |       ${detRound4Sql("CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / nullif(length(text), 0)")} AS punct_ratio,
        |       CAST(len(toks) BETWEEN 5 AND 2000
        |            AND CAST(en_hits AS DOUBLE) / len(toks) < 0.4 AS BIGINT) AS quality_ok
        |FROM t ORDER BY doc_id""".stripMargin,
    "x_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |r AS (SELECT doc_id,
        |        CAST(len(toks) AS BIGINT) AS n_words,
        |        CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum') AS BIGINT) AS sum_len,
        |        CAST(len(list_filter(toks, x -> x IN ($enList))) AS BIGINT) AS stop_hits,
        |        CAST(greatest(len(toks) - 2, 1) AS BIGINT) AS n_g3,
        |        CAST(len(list_distinct(${gramsSql(3)})) AS BIGINT) AS d_g3,
        |        CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS alpha_words
        |      FROM t),
        |v AS (SELECT doc_id, n_words,
        |        ${detRound4Sql("CAST(sum_len AS DOUBLE) / n_words")} AS mean_word_len,
        |        stop_hits,
        |        ${detRound4Sql("1.0 - CAST(d_g3 AS DOUBLE) / n_g3")} AS dup3_frac,
        |        ${detRound4Sql("CAST(alpha_words AS DOUBLE) / n_words")} AS alpha_frac,
        |        CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS r_words,
        |        CAST(sum_len >= n_words * 3 AND sum_len <= n_words * 10 AS BIGINT) AS r_wordlen,
        |        CAST(stop_hits >= 2 AS BIGINT) AS r_stop,
        |        CAST((n_g3 - d_g3) * 50 <= n_g3 AS BIGINT) AS r_dup,
        |        CAST(alpha_words * 5 >= n_words * 4 AS BIGINT) AS r_alpha
        |      FROM r)
        |SELECT *, CAST(r_words + r_wordlen + r_stop + r_dup + r_alpha = 5 AS BIGINT) AS pass
        |FROM v ORDER BY doc_id""".stripMargin,
    "x_rule_ablation" ->
      s"""WITH t AS (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents),
        |r AS (SELECT doc_id, source,
        |        CAST(len(toks) AS BIGINT) AS n_words,
        |        CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum') AS BIGINT) AS sum_len,
        |        CAST(len(list_filter(toks, x -> x IN ($enList))) AS BIGINT) AS stop_hits,
        |        CAST(greatest(len(toks) - 2, 1) AS BIGINT) AS n_g3,
        |        CAST(len(list_distinct(${gramsSql(3)})) AS BIGINT) AS d_g3,
        |        CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS alpha_words
        |      FROM t),
        |v AS (SELECT source,
        |        CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS r_words,
        |        CAST(sum_len >= n_words * 3 AND sum_len <= n_words * 10 AS BIGINT) AS r_wordlen,
        |        CAST(stop_hits >= 2 AS BIGINT) AS r_stop,
        |        CAST((n_g3 - d_g3) * 50 <= n_g3 AS BIGINT) AS r_dup,
        |        CAST(alpha_words * 5 >= n_words * 4 AS BIGINT) AS r_alpha
        |      FROM r),
        |p AS (SELECT *, CAST(r_words + r_wordlen + r_stop + r_dup + r_alpha = 5 AS BIGINT) AS pass
        |      FROM v)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(*) - sum(r_words) AS BIGINT) AS fail_words,
        |       CAST(count(*) - sum(r_wordlen) AS BIGINT) AS fail_wordlen,
        |       CAST(count(*) - sum(r_stop) AS BIGINT) AS fail_stop,
        |       CAST(count(*) - sum(r_dup) AS BIGINT) AS fail_dup,
        |       CAST(count(*) - sum(r_alpha) AS BIGINT) AS fail_alpha,
        |       CAST(sum(pass) AS BIGINT) AS n_pass,
        |       ${detRound4Sql("CAST(sum(pass) AS DOUBLE) / count(*)")} AS pass_rate
        |FROM p GROUP BY source ORDER BY source""".stripMargin,
    "x_dsir" ->
      s"""WITH w AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS word FROM documents),
        |wb AS (SELECT doc_id, lang, ${hvSql("word")} % $DSIR_B AS b FROM w),
        |cells AS (SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS c
        |          FROM wb GROUP BY 1, 2, 3),
        |lam0 AS (SELECT b, sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct,
        |                sum(c) AS cp
        |         FROM cells GROUP BY b),
        |lam AS (SELECT b, CAST(round((ln((ct + 1.0) / (sum(ct) OVER () + $DSIR_B))
        |                             - ln((cp + 1.0) / (sum(cp) OVER () + $DSIR_B)))
        |                            * $DSIR_Q) AS BIGINT) AS lq
        |        FROM lam0),
        |sc AS (SELECT doc_id, lang,
        |         ${detRound4Sql(s"CAST(sum(c * lq) AS DOUBLE) / $DSIR_Q")} AS dsir_weight
        |       FROM cells JOIN lam USING (b) GROUP BY doc_id, lang),
        |rk AS (SELECT doc_id, lang, dsir_weight,
        |         CAST(row_number() OVER (ORDER BY dsir_weight DESC, doc_id) AS BIGINT) AS rank
        |       FROM sc)
        |SELECT * FROM rk WHERE rank <= $DSIR_TOP ORDER BY rank""".stripMargin,
    // linearized multiplicative weights unrolled DOREMI_ROUNDS times;
    // surprisal quantized at 2^20 before any sum, weights renormalized
    // through round(w * 2^40) integer ratios — no exp(), no libm drift
    "x_doremi" -> {
      def mwRound(i: Int, prev: String, alphaExpr: String): String =
        s"""w$i AS (SELECT source, n_words, xentq, excess,
          |        CAST(round($alphaExpr * (1.0 + $DOREMI_ETA * excess) * 1099511627776.0) AS BIGINT) AS wq
          |      FROM $prev),
          |a$i AS (SELECT source, n_words, xentq, excess,
          |        CAST(wq AS DOUBLE) / sum(wq) OVER () AS al FROM w$i)""".stripMargin
      s"""WITH wds AS (SELECT source, unnest(string_split(text,' ')) AS word FROM documents),
        |csw AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
        |        FROM wds GROUP BY 1, 2),
        |sc AS (SELECT source, word, c,
        |        CAST(round(-ln(CAST(sum(c) OVER (PARTITION BY word) AS DOUBLE)
        |                       / sum(c) OVER ()) * $DOREMI_Q) AS BIGINT) AS sq
        |      FROM csw),
        |dom AS (SELECT source, CAST(sum(c * sq) AS BIGINT) AS sumq,
        |          CAST(sum(c) AS BIGINT) AS n_words
        |        FROM sc GROUP BY source),
        |d2 AS (SELECT source, n_words,
        |        CAST(sumq AS DOUBLE) / n_words AS xentq,
        |        CAST(sum(sumq) OVER () AS DOUBLE) / sum(n_words) OVER () AS refq
        |      FROM dom),
        |d3 AS (SELECT source, n_words, xentq,
        |        greatest(0.0, (xentq - refq) / $DOREMI_Q) AS excess FROM d2),
        |${(1 to DOREMI_ROUNDS).map(i =>
            mwRound(i, if (i == 1) "d3" else s"a${i - 1}",
              if (i == 1) "1.0" else "al")).mkString(",\n")}
        |SELECT source, n_words,
        |       ${detRound4Sql(s"xentq / $DOREMI_Q.0")} AS xent,
        |       ${detRound4Sql("excess")} AS excess,
        |       ${detRound4Sql("al")} AS alpha
        |FROM a$DOREMI_ROUNDS ORDER BY source""".stripMargin
    },
    "x_mix_epochs" ->
      s"""WITH t AS (SELECT source, lang,
        |    list_aggregate(list_transform(string_split(text,' '),
        |      w -> greatest(1, CAST(ceil(length(w)/4.0) AS BIGINT))), 'sum') AS t
        |  FROM documents),
        |g AS (SELECT source, lang, CAST(sum(t) AS BIGINT) AS est_tokens
        |      FROM t GROUP BY source, lang),
        |s AS (SELECT *,
        |        CAST(floor(CAST(sum(est_tokens) OVER () AS DOUBLE) * 2.0
        |                   / count(*) OVER ()) AS BIGINT) AS target_tokens
        |      FROM g)
        |SELECT source, lang, est_tokens, target_tokens,
        |  ${detRound4Sql("CAST(target_tokens AS DOUBLE) / est_tokens")} AS epochs,
        |  ${detRound4Sql(s"least(CAST($MIX_MAX_EPOCHS AS DOUBLE), CAST(target_tokens AS DOUBLE) / est_tokens)")} AS capped_epochs,
        |  CAST(greatest(0, target_tokens - est_tokens * $MIX_MAX_EPOCHS) AS BIGINT) AS deficit_tokens
        |FROM s ORDER BY source, lang""".stripMargin,
    "x_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |h AS (SELECT doc_id, $hashesSql AS hs FROM t)
        |SELECT doc_id, ${sigSql(0)} AS fp FROM h ORDER BY doc_id""".stripMargin,
    "x_docdedup" ->
      """SELECT md5(text) AS content_hash, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS keep_doc
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "x_minhash" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |h AS (SELECT doc_id, $hashesSql AS hs FROM t)
        |SELECT doc_id, ${sigSql(0)} AS sig0, ${sigSql(1)} AS sig1,
        |       ${sigSql(2)} AS sig2, ${sigSql(3)} AS sig3
        |FROM h ORDER BY doc_id""".stripMargin,
    "x_minhash_perm" ->
      s"""WITH ${permSigsSql}
        |SELECT doc_id, CAST(perm AS BIGINT) AS perm, sig
        |FROM sigs ORDER BY doc_id, perm""".stripMargin,
    "x_minhash_est" ->
      s"""WITH ${permSigsSql},
        |sp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS DOUBLE)
        |           / $N_PERMS AS est
        |       FROM sigs a JOIN sigs b
        |         ON b.doc_id = a.doc_id + 1 AND a.perm = b.perm
        |       GROUP BY 1, 2),
        |ex AS (SELECT sa.doc_id AS doc_a,
        |         CAST(len(list_distinct(list_intersect(sa.shingles, sb.shingles))) AS DOUBLE)
        |         / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS exact
        |       FROM sh sa JOIN sh sb ON sb.doc_id = sa.doc_id + 1)
        |SELECT sp.doc_a, sp.doc_b,
        |       ${detRound4Sql("sp.est")} AS est_jac,
        |       ${detRound4Sql("ex.exact")} AS exact_jac,
        |       ${detRound4Sql("abs(sp.est - ex.exact)")} AS abs_err
        |FROM sp JOIN ex ON sp.doc_a = ex.doc_a
        |ORDER BY sp.doc_a""".stripMargin,
    "x_cms" ->
      s"""WITH $cmsBaseCtes,
        |top AS (SELECT gram, cnt FROM (SELECT gram, cnt,
        |          row_number() OVER (ORDER BY cnt DESC, gram) AS rn FROM c) q
        |        WHERE rn <= 50),
        |pe AS (SELECT gram, cnt, unnest(range(0, ${Sketches.CMS_D})) AS r FROM top),
        |pb AS (SELECT gram, cnt, r, ${Sketches.cmsBucketSql("r", "gram")} AS bucket FROM pe),
        |est AS (SELECT gram, cnt, min(c2) AS est
        |        FROM pb JOIN sk USING (r, bucket) GROUP BY gram, cnt)
        |SELECT gram, cnt AS exact_cnt, CAST(est AS BIGINT) AS cms_est,
        |       CAST(est - cnt AS BIGINT) AS overcount
        |FROM est ORDER BY gram""".stripMargin,
    "x_cms_err" ->
      s"""WITH $cmsBaseCtes,
        |pe AS (SELECT gram, cnt, unnest(range(0, ${Sketches.CMS_D})) AS r FROM c),
        |pb AS (SELECT gram, cnt, r, ${Sketches.cmsBucketSql("r", "gram")} AS bucket FROM pe),
        |est AS (SELECT gram, cnt, min(c2) AS est
        |        FROM pb JOIN sk USING (r, bucket) GROUP BY gram, cnt),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(max(n_total) AS BIGINT) AS n_total,
        |       CAST(sum(est - cnt) AS BIGINT) AS sum_overcount,
        |       CAST(max(est - cnt) AS BIGINT) AS max_overcount,
        |       CAST(sum(CASE WHEN est > cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
        |       CAST(sum(CASE WHEN (est - cnt) * ${Sketches.CMS_W} > 2 * n_total
        |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed_2nw
        |FROM est CROSS JOIN tot""".stripMargin,
    "x_cms_joinest" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(3)}) AS gram FROM t),
        |ca AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g
        |       WHERE doc_id % 2 = 0 GROUP BY gram),
        |cb AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g
        |       WHERE doc_id % 2 = 1 GROUP BY gram),
        |ea AS (SELECT gram, cnt, unnest(range(0, ${Sketches.CMS_D})) AS r FROM ca),
        |ba AS (SELECT r, ${Sketches.cmsBucketSql("r", "gram")} AS bucket, cnt FROM ea),
        |sa AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS c2a FROM ba GROUP BY r, bucket),
        |e2 AS (SELECT gram, cnt, unnest(range(0, ${Sketches.CMS_D})) AS r FROM cb),
        |bb AS (SELECT r, ${Sketches.cmsBucketSql("r", "gram")} AS bucket, cnt FROM e2),
        |sb AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS c2b FROM bb GROUP BY r, bucket),
        |ip AS (SELECT sa.r, sum(CAST(sa.c2a AS HUGEINT) * sb.c2b) AS ip
        |       FROM sa JOIN sb ON sa.r = sb.r AND sa.bucket = sb.bucket GROUP BY sa.r),
        |est AS (SELECT CAST(min(ip) AS BIGINT) AS est_join FROM ip),
        |ex AS (SELECT CAST(coalesce(sum(CAST(ca.cnt AS HUGEINT) * cb.cnt), 0) AS BIGINT)
        |         AS exact_join
        |       FROM ca JOIN cb USING (gram))
        |SELECT est_join, exact_join,
        |       CAST(est_join - exact_join AS BIGINT) AS overcount
        |FROM est CROSS JOIN ex""".stripMargin,
    "x_kmv" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |g0 AS (SELECT unnest(${gramsSql(3)}) AS gram FROM t),
        |g AS (SELECT DISTINCT gram FROM g0),
        |m0 AS (SELECT md5(gram) AS m FROM g),
        |h0 AS (SELECT (${Sketches.hex32Sql("m", 1)} & ${(1L << 31) - 1}) * ${1L << 32}
        |         + ${Sketches.hex32Sql("m", 9)} AS h FROM m0),
        |k AS (SELECT h, row_number() OVER (ORDER BY h) AS rank FROM h0
        |      ORDER BY h LIMIT ${Sketches.KMV_K})
        |SELECT CAST(rank AS BIGINT) AS rank, CAST(h AS BIGINT) AS h
        |FROM k ORDER BY rank""".stripMargin,
    "x_kmv_overlap" -> {
      val mask = (1L << 31) - 1
      def hSide(src: String) =
        s"SELECT DISTINCT (${Sketches.hex32Sql("m", 1)} & $mask) * ${1L << 32} " +
          s"+ ${Sketches.hex32Sql("m", 9)} AS h FROM $src"
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(3)}) AS gram FROM t),
        |ma AS (SELECT DISTINCT md5(gram) AS m FROM g WHERE doc_id % 2 = 0),
        |mb AS (SELECT DISTINCT md5(gram) AS m FROM g WHERE doc_id % 2 = 1),
        |ha AS (${hSide("ma")}),
        |hb AS (${hSide("mb")}),
        |ka AS (SELECT h FROM ha ORDER BY h LIMIT ${Sketches.KMV_K}),
        |kb AS (SELECT h FROM hb ORDER BY h LIMIT ${Sketches.KMV_K}),
        |ku AS (SELECT h FROM (SELECT DISTINCT h FROM
        |         (SELECT h FROM ka UNION ALL SELECT h FROM kb) u0) u1
        |       ORDER BY h LIMIT ${Sketches.KMV_K}),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_both FROM ku
        |       WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
        |th AS (SELECT CAST(max(h) AS BIGINT) AS theta_u FROM ku),
        |u AS (SELECT h, max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS in_a,
        |        max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS in_b
        |      FROM (SELECT h, 0 AS side FROM ha
        |            UNION ALL SELECT h, 1 AS side FROM hb) s0 GROUP BY h),
        |ex AS (SELECT CAST(sum(in_a * in_b) AS BIGINT) AS exact_inter,
        |              CAST(count(*) AS BIGINT) AS exact_union FROM u)
        |SELECT n_both, theta_u, CAST(${Sketches.KMV_K} AS BIGINT) AS k,
        |       exact_inter, exact_union
        |FROM nb CROSS JOIN th CROSS JOIN ex""".stripMargin
    },
    "x_ams" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT unnest(${gramsSql(3)}) AS gram FROM t),
        |c AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY gram),
        |z0 AS (SELECT gram, cnt, unnest(range(0, ${Sketches.AMS_D})) AS d FROM c),
        |z1 AS (SELECT d, CAST(sum(${Sketches.amsSignSql("d", "gram")} * cnt) AS BIGINT) AS z
        |       FROM z0 GROUP BY d),
        |z2 AS (SELECT d, CAST(z AS HUGEINT) * z AS z2 FROM z1),
        |r AS (SELECT z2, row_number() OVER (ORDER BY z2, d) AS rn FROM z2),
        |m AS (SELECT CAST(sum(z2) // 2 AS BIGINT) AS est_f2 FROM r
        |      WHERE rn IN (${Sketches.AMS_D / 2}, ${Sketches.AMS_D / 2 + 1})),
        |ex AS (SELECT CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS BIGINT) AS exact_f2 FROM c)
        |SELECT est_f2, exact_f2,
        |       ${detRound4Sql("est_f2 * 1.0 / exact_f2")} AS ratio
        |FROM m CROSS JOIN ex""".stripMargin,
    "x_zipf" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT unnest(${gramsSql(3)}) AS gram FROM t),
        |c AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY gram),
        |h AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, gram) AS rank
        |      FROM c ORDER BY cnt DESC, gram LIMIT $ZIPF_K),
        |${lnOlsSqlTail("h", "rank", "cnt", "n_head")}""".stripMargin,
    "x_corr" -> {
      def varOf(x: String) = s"(n * p$x$x - s$x * s$x)"
      def corrOf(a: String, b: String) = detRound4Sql(
        s"CASE WHEN ${varOf(a)} = 0 OR ${varOf(b)} = 0 THEN 0.0 ELSE " +
          s"CAST(n * p$a$b - s$a * s$b AS DOUBLE)" +
          s" / sqrt(CAST(${varOf(a)} AS DOUBLE) * CAST(${varOf(b)} AS DOUBLE)) END")
      s"""WITH t AS (SELECT text, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT CAST(length(text) AS BIGINT) AS a, CAST(len(toks) AS BIGINT) AS b,
        |             CAST(len(list_distinct(toks)) AS BIGINT) AS c FROM t),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(a) AS sa, sum(b) AS sb,
        |             sum(c) AS sc, sum(a*a) AS paa, sum(b*b) AS pbb, sum(c*c) AS pcc,
        |             sum(a*b) AS pab, sum(a*c) AS pac, sum(b*c) AS pbc FROM m)
        |SELECT * FROM (
        |  SELECT 'n_chars~n_words' AS pair, n AS n_docs, ${corrOf("a", "b")} AS corr FROM s
        |  UNION ALL
        |  SELECT 'n_chars~n_distinct', n, ${corrOf("a", "c")} FROM s
        |  UNION ALL
        |  SELECT 'n_words~n_distinct', n, ${corrOf("b", "c")} FROM s)
        |ORDER BY pair""".stripMargin
    },
    "x_bootstrap" -> {
      val wSql = BOOT_THRESH.zipWithIndex
        .foldRight(s"${BOOT_THRESH.size}") { case ((t, k), els) =>
          s"CASE WHEN u < $t THEN $k ELSE $els END"
        }
      val uSql = Sketches.hex32Sql(
        "md5(concat(CAST(b AS VARCHAR), '!', CAST(doc_id AS VARCHAR)))", 1)
      s"""WITH d AS (SELECT doc_id,
        |       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nw
        |     FROM documents),
        |e0 AS (SELECT doc_id, nw, unnest(range(0, $BOOT_B)) AS b FROM d),
        |e1 AS (SELECT b, nw, $uSql AS u FROM e0),
        |e2 AS (SELECT b, nw, CAST($wSql AS BIGINT) AS w FROM e1),
        |r AS (SELECT b, CAST(sum(w * nw) AS BIGINT) AS swn,
        |             CAST(sum(w) AS BIGINT) AS sw FROM e2 GROUP BY b),
        |m AS MATERIALIZED (SELECT b, CAST(round((CASE WHEN sw = 0 THEN 0.0
        |       ELSE CAST(swn AS DOUBLE) / sw END) * 10000) AS BIGINT) AS mq FROM r),
        |rk AS (SELECT b, mq, row_number() OVER (ORDER BY mq, b) AS rn FROM m),
        |lh AS (SELECT min(CASE WHEN rn = 1 THEN mq END) AS loq,
        |              min(CASE WHEN rn = $BOOT_B THEN mq END) AS hiq FROM rk),
        |sse AS (SELECT CAST(count(*) AS BIGINT) AS bb, sum(mq) AS sq,
        |               sum(mq * mq) AS sqq FROM m),
        |ov AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(nw) AS BIGINT) AS tw FROM d)
        |SELECT n_docs,
        |  ${detRound4Sql("CAST(tw AS DOUBLE) / n_docs")} AS mean_words,
        |  loq / 10000.0 AS boot_lo, hiq / 10000.0 AS boot_hi,
        |  ${detRound4Sql(
            s"sqrt(CAST(bb * sqq - sq * sq AS DOUBLE) / ($BOOT_B.0 * ${BOOT_B - 1})) / 10000.0")} AS boot_se
        |FROM ov CROSS JOIN lh CROSS JOIN sse""".stripMargin
    },
    "x_kl" -> {
      val Q = Stats.LnQ
      def L(e: String) = s"CAST(round(ln(CAST($e AS DOUBLE)) * $Q) AS BIGINT)"
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(3)}) AS gram FROM t),
        |bg AS MATERIALIZED (SELECT gram,
        |       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |     FROM g GROUP BY gram),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c0) AS BIGINT) AS n0,
        |              CAST(sum(c1) AS BIGINT) AS n1 FROM bg),
        |sm AS (SELECT max(v) AS v, max(n0) AS n0, max(n1) AS n1,
        |         sum(CAST(c0 + 1 AS HUGEINT) * (${L("c0 + 1")} - ${L("c1 + 1")})) AS a01,
        |         sum(CAST(c1 + 1 AS HUGEINT) * (${L("c1 + 1")} - ${L("c0 + 1")})) AS a10,
        |         sum(abs(CAST(c0 + 1 AS HUGEINT) * (n1 + v)
        |               - CAST(c1 + 1 AS HUGEINT) * (n0 + v))) AS tvnum
        |       FROM bg CROSS JOIN tt)
        |SELECT v AS n_vocab, n0, n1,
        |  ${detRound4Sql(s"(CAST(a01 AS DOUBLE) / CAST(n0 + v AS DOUBLE)" +
             s" + CAST(${L("n1 + v")} - ${L("n0 + v")} AS DOUBLE)) / $Q")} AS kl_pq,
        |  ${detRound4Sql(s"(CAST(a10 AS DOUBLE) / CAST(n1 + v AS DOUBLE)" +
             s" + CAST(${L("n0 + v")} - ${L("n1 + v")} AS DOUBLE)) / $Q")} AS kl_qp,
        |  ${detRound4Sql("CAST(tvnum AS DOUBLE)" +
             " / (2.0 * CAST(n0 + v AS DOUBLE) * CAST(n1 + v AS DOUBLE))")} AS tv
        |FROM sm""".stripMargin
    },
    "x_llr" -> {
      val Q = Stats.LnQ
      def xlx(e: String) = s"(CASE WHEN ($e) = 0 THEN 0 ELSE " +
        s"CAST($e AS HUGEINT) * CAST(round(ln(CAST($e AS DOUBLE)) * $Q) AS BIGINT) END)"
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(3)}) AS gram FROM t),
        |bg AS MATERIALIZED (SELECT gram,
        |       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |     FROM g GROUP BY gram),
        |tt AS (SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1
        |       FROM bg),
        |k AS (SELECT gram, c0, c1,
        |        ${xlx("c0")} + ${xlx("c1")} + ${xlx("n0 - c0")} + ${xlx("n1 - c1")}
        |          + ${xlx("n0 + n1")} - ${xlx("c0 + c1")}
        |          - ${xlx("n0 + n1 - c0 - c1")} - ${xlx("n0")} - ${xlx("n1")} AS g2q,
        |        CAST(CASE WHEN CAST(c0 AS HUGEINT) * n1 < CAST(c1 AS HUGEINT) * n0
        |             THEN -1 ELSE 1 END AS BIGINT) AS dir
        |      FROM bg CROSS JOIN tt),
        |sc AS (SELECT gram, c0, c1,
        |         ${detRound4Sql(s"2.0 * CAST(g2q AS DOUBLE) / $Q")} AS g2, dir FROM k)
        |SELECT * FROM
        |  (SELECT gram, c0, c1, g2, dir FROM sc
        |   ORDER BY g2 DESC, gram LIMIT $KEYNESS_TOP)
        |ORDER BY gram""".stripMargin
    },
    "x_keyness" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(3)}) AS gram FROM t),
        |bg AS MATERIALIZED (SELECT gram,
        |       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |     FROM g GROUP BY gram),
        |tt AS (SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1
        |       FROM bg),
        |k AS (SELECT gram, c0, c1,
        |        CAST(c0 AS HUGEINT) * n1 - CAST(c1 AS HUGEINT) * n0 AS crs,
        |        c0 + c1 AS cnt, n0, n1
        |      FROM bg CROSS JOIN tt),
        |sc AS (SELECT gram, c0, c1,
        |         ${detRound4Sql(
                   "CASE WHEN n0 = 0 OR n1 = 0 OR n0 + n1 - cnt = 0 THEN 0.0 ELSE " +
                   "CAST(n0 + n1 AS DOUBLE) * CAST(crs AS DOUBLE) * CAST(crs AS DOUBLE)" +
                   " / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(cnt AS DOUBLE)" +
                   " * CAST(n0 + n1 - cnt AS DOUBLE)) END")} AS chi2,
        |         CAST(CASE WHEN crs < 0 THEN -1 ELSE 1 END AS BIGINT) AS dir
        |       FROM k)
        |SELECT * FROM
        |  (SELECT gram, c0, c1, chi2, dir FROM sc
        |   ORDER BY chi2 DESC, gram LIMIT $KEYNESS_TOP)
        |ORDER BY gram""".stripMargin,
    "x_heaps" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(3)}) AS gram FROM t),
        |fo AS (SELECT gram, min(doc_id) AS fd FROM g GROUP BY gram),
        |dt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng FROM g GROUP BY doc_id),
        |nd0 AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |cuts AS (SELECT i, (i * nd) // $HEAPS_B AS cut
        |         FROM (SELECT unnest(range(1, ${HEAPS_B + 1})) AS i) CROSS JOIN nd0),
        |tk AS (SELECT i, sum(ng) AS tokens FROM dt JOIN cuts ON dt.doc_id < cuts.cut
        |       GROUP BY i),
        |vc AS (SELECT i, CAST(count(*) AS BIGINT) AS vocab
        |       FROM fo JOIN cuts ON fo.fd < cuts.cut GROUP BY i),
        |p AS (SELECT tokens, vocab FROM tk JOIN vc USING (i)),
        |${lnOlsSqlTail("p", "tokens", "vocab", "n_pts")}""".stripMargin,
    "x_bloom" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(3)}) AS gram FROM t),
        |ga AS MATERIALIZED (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
        |gb AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 1),
        |mm AS (SELECT ${Sketches.bloomMCaseSql("SELECT count(*) FROM ga")} AS m),
        |bb0 AS (SELECT gram, m, unnest(range(0, ${Sketches.BLOOM_K})) AS j
        |        FROM ga CROSS JOIN mm),
        |bits AS (SELECT DISTINCT ${Sketches.bloomBitSql("j", "gram", "m")} AS bit FROM bb0),
        |pb0 AS (SELECT gram, m, unnest(range(0, ${Sketches.BLOOM_K})) AS j
        |        FROM gb CROSS JOIN mm),
        |pb AS (SELECT gram, ${Sketches.bloomBitSql("j", "gram", "m")} AS bit FROM pb0),
        |mb AS (SELECT gram,
        |         CAST(min(CASE WHEN bit IN (SELECT bit FROM bits) THEN 1 ELSE 0 END)
        |              = 1 AS BIGINT) AS maybe
        |       FROM pb GROUP BY gram),
        |mem AS (SELECT gb.gram,
        |          CAST(CASE WHEN ga.gram IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS member
        |        FROM gb LEFT JOIN ga ON gb.gram = ga.gram),
        |j AS (SELECT mb.gram, mb.maybe, mem.member FROM mb JOIN mem ON mb.gram = mem.gram),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bits)
        |SELECT CAST(count(*) AS BIGINT) AS n_probes,
        |       CAST(sum(member) AS BIGINT) AS n_member,
        |       CAST(sum(maybe) AS BIGINT) AS n_maybe,
        |       CAST(sum(CASE WHEN maybe = 1 AND member = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
        |       CAST(sum(CASE WHEN maybe = 0 AND member = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fn,
        |       CAST(max(n_bits_set) AS BIGINT) AS n_bits_set,
        |       ${detRound4Sql(
                  "CASE WHEN count(*) - sum(member) = 0 THEN 0.0 ELSE " +
                  "sum(CASE WHEN maybe = 1 AND member = 0 THEN 1 ELSE 0 END) * 1.0 " +
                  "/ (count(*) - sum(member)) END")} AS fp_rate
        |FROM j CROSS JOIN nb""".stripMargin,
    // the iteration chain unrolls from the SAME Scala vals the query
    // uses (PI_ITERS, Knn.PowerQ) — a constant bump moves both engines
    "x_power_iter" -> {
      val P = graft.operators.Knn.PowerQ
      s"""WITH $powerIterCtes,
        |l AS (SELECT CAST((mx * 10000) // ${P * P * P} AS BIGINT) AS le4 FROM x$PI_ITERS)
        |SELECT CAST(j AS BIGINT) AS dim, CAST(r AS BIGINT) AS v_q,
        |       ${detRound4Sql("le4 / 10000.0")} AS lambda
        |FROM r$PI_ITERS CROSS JOIN l ORDER BY dim""".stripMargin
    },
    "x_pca2" -> {
      val P = graft.operators.Knn.PowerQ
      s"""WITH $powerIterCtes,
        |rr0 AS (SELECT sum(r * r) AS rr FROM r$PI_ITERS),
        |rmr0 AS (SELECT sum(m.m * a.r * b.r) AS rmr
        |         FROM m JOIN r$PI_ITERS a ON m.j = a.j
        |                JOIN r$PI_ITERS b ON m.k = b.j),
        |qd0 AS (SELECT rmr // rr AS qd, rr FROM rmr0 CROSS JOIN rr0),
        |m2 AS MATERIALIZED (SELECT m.j, m.k,
        |       m.m - (CAST(a.r AS HUGEINT) * b.r * qd) // rr AS m
        |     FROM m JOIN r$PI_ITERS a ON m.j = a.j
        |            JOIN r$PI_ITERS b ON m.k = b.j CROSS JOIN qd0),
        |${powerRoundsSql("m2", "b")},
        |l1 AS (SELECT CAST((mx * 10000) // ${P * P * P} AS BIGINT) AS le4 FROM x$PI_ITERS),
        |l2 AS (SELECT CAST((mx * 10000) // ${P * P * P} AS BIGINT) AS le4 FROM xb$PI_ITERS),
        |c0 AS (SELECT sum(a.r * b.r) AS dot, sum(a.r * a.r) AS n1,
        |              sum(b.r * b.r) AS n2
        |       FROM r$PI_ITERS a JOIN rb$PI_ITERS b ON a.j = b.j)
        |SELECT CAST(a.j AS BIGINT) AS dim, CAST(a.r AS BIGINT) AS v1_q,
        |       CAST(b.r AS BIGINT) AS v2_q,
        |       ${detRound4Sql("l1.le4 / 10000.0")} AS lambda1,
        |       ${detRound4Sql("l2.le4 / 10000.0")} AS lambda2,
        |       ${detRound4Sql(
                 "CASE WHEN n1 = 0 OR n2 = 0 THEN 0.0 ELSE CAST(dot AS DOUBLE)" +
                 " / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) END")} AS cos12
        |FROM r$PI_ITERS a JOIN rb$PI_ITERS b ON a.j = b.j
        |CROSS JOIN l1 CROSS JOIN l2 CROSS JOIN c0 ORDER BY dim""".stripMargin
    },
    "x_whiten" -> {
      val P = graft.operators.Knn.PowerQ
      val share = s"CASE WHEN tr = 0 OR rr = 0 THEN 0.0 ELSE " +
        s"CAST(rmr AS DOUBLE) / (CAST(rr AS DOUBLE) * CAST(tr AS DOUBLE)) END"
      s"""WITH $powerIterCtes,
        |tr0 AS (SELECT sum(m) AS tr FROM m WHERE j = k),
        |rmr0 AS (SELECT sum(m.m * r1.r * r2.r) AS rmr
        |         FROM m JOIN r$PI_ITERS r1 ON m.j = r1.j
        |                JOIN r$PI_ITERS r2 ON m.k = r2.j),
        |rr0 AS (SELECT sum(r * r) AS rr FROM r$PI_ITERS),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings)
        |SELECT n_vecs,
        |  ${detRound4Sql(s"CASE WHEN n_vecs = 0 THEN 0.0 ELSE " +
             s"CAST(tr AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * $P.0 * $P.0) END")} AS m2_mean,
        |  ${detRound4Sql(share)} AS pc1_share,
        |  ${detRound4Sql(s"1.0 - ($share)")} AS resid_share
        |FROM nv CROSS JOIN tr0 CROSS JOIN rmr0 CROSS JOIN rr0""".stripMargin
    },
    "x_spectral_outliers" ->
      s"""WITH $powerIterCtes,
        |w AS (SELECT vec_id, j, q[j] AS p
        |      FROM (SELECT vec_id, q, unnest(range(1, ${DIM + 1})) AS j FROM q)),
        |sc AS (SELECT w.vec_id, sum(w.p * r.r) AS proj, sum(w.p * w.p) AS q2
        |       FROM w JOIN r$PI_ITERS r ON w.j = r.j GROUP BY w.vec_id),
        |rr AS (SELECT sum(r * r) AS r2 FROM r$PI_ITERS),
        |o AS (SELECT vec_id, CAST(proj AS BIGINT) AS proj_q,
        |        ${detRound4Sql(
                  "CASE WHEN q2 = 0 THEN 0.0 ELSE CAST(proj AS DOUBLE) " +
                  "/ sqrt(CAST(q2 AS DOUBLE) * CAST(r2 AS DOUBLE)) END")} AS cos_pc1
        |      FROM sc CROSS JOIN rr)
        |SELECT * FROM
        |  (SELECT vec_id, proj_q, cos_pc1 FROM o
        |   ORDER BY abs(cos_pc1) DESC, vec_id LIMIT $OUTLIER_K)
        |ORDER BY vec_id""".stripMargin,
    "x_hist_pctile" ->
      s"""WITH n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |p0 AS (SELECT unnest([25, 50, 90, 99]) AS p),
        |tgt AS (SELECT p, CAST(ceil(p * n / 100.0) AS BIGINT) AS idx
        |        FROM p0 CROSS JOIN n0),
        |vc AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
        |vcc AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM vc),
        |bc AS (SELECT CAST(floor(n_chars / $HIST_W.0) AS BIGINT) AS b,
        |         count(*) AS c FROM documents GROUP BY 1),
        |bcc AS (SELECT b, sum(c) OVER (ORDER BY b) AS cum FROM bc),
        |eq AS (SELECT p, min(v) AS exact_q FROM tgt JOIN vcc ON cum >= idx GROUP BY p),
        |hq AS (SELECT p, min(b) AS hb FROM tgt JOIN bcc ON cum >= idx GROUP BY p)
        |SELECT CAST(p AS BIGINT) AS p, CAST(exact_q AS BIGINT) AS exact_q,
        |       CAST(hb * $HIST_W AS BIGINT) AS hist_lo,
        |       CAST((hb + 1) * $HIST_W - 1 AS BIGINT) AS hist_hi,
        |       CAST(exact_q - hb * $HIST_W AS BIGINT) AS err_lo
        |FROM eq JOIN hq USING (p) ORDER BY p""".stripMargin,
    "x_hll" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT unnest(${gramsSql(3)}) AS gram FROM t),
        |m0 AS (SELECT md5(gram) AS m FROM g),
        |h AS (SELECT ${Sketches.hex32Sql("m", 1)} AS v1,
        |             ${Sketches.hex32Sql("m", 9)} AS v2 FROM m0),
        |b AS (SELECT v1 >> ${32 - Sketches.HLL_B} AS bucket,
        |        (v1 & ${(1L << (32 - Sketches.HLL_B)) - 1}) * ${1L << 32} + v2 AS w FROM h),
        |rk AS (SELECT bucket, ${Sketches.rankCaseSql("w")} AS rnk FROM b),
        |rg AS (SELECT bucket, max(rnk) AS register FROM rk GROUP BY bucket)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(register AS BIGINT) AS register,
        |       CAST(${Sketches.numerCaseSql("register")} AS BIGINT) AS numer
        |FROM rg ORDER BY bucket""".stripMargin,
    "x_srp" ->
      s"""WITH sgc AS (SELECT ${Sketches.srpSignsSql(DIM)} AS sg),
        |p AS (SELECT vec_id, t.k,
        |        list_aggregate(list_transform(range(1, ${DIM + 1}),
        |          i -> CAST(sg[k][i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |          'sum') AS proj
        |      FROM embeddings CROSS JOIN sgc
        |      CROSS JOIN range(1, ${Sketches.SRP_K + 1}) t(k))
        |SELECT vec_id, CAST(k AS BIGINT) AS k, ${detRound4Sql("proj")} AS proj
        |FROM p ORDER BY vec_id, k""".stripMargin,
    "x_srp_recall" -> {
      def l2(a: String, b: String, n: Int) =
        s"list_aggregate(list_transform(range(1, ${n + 1}), i -> " +
          s"($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum')"
      s"""WITH sgc AS (SELECT ${Sketches.srpSignsSql(DIM)} AS sg),
        |v AS MATERIALIZED (SELECT vec_id,
        |      list_transform(range(1, ${Sketches.SRP_K + 1}), k ->
        |        list_aggregate(list_transform(range(1, ${DIM + 1}),
        |          i -> CAST(sg[k][i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |          'sum')) AS pv,
        |      list_transform(range(1, ${DIM + 1}),
        |        i -> CAST(embedding[i] AS DOUBLE)) AS fv
        |    FROM embeddings CROSS JOIN sgc),
        |p AS (SELECT vec_id AS p, pv AS ppv, fv AS pfv FROM v
        |      WHERE vec_id % 100 = 0 AND vec_id < $PQ_PROBE_CAP),
        |ax AS (SELECT p.p, v.vec_id, ${l2("ppv", "pv", Sketches.SRP_K)} AS d2
        |       FROM v JOIN p ON v.vec_id <> p.p),
        |ab AS (SELECT p, vec_id,
        |         row_number() OVER (PARTITION BY p ORDER BY d2, vec_id) AS rn FROM ax),
        |ex AS (SELECT p.p, v.vec_id, ${l2("pfv", "fv", DIM)} AS d2
        |       FROM v JOIN p ON v.vec_id <> p.p),
        |eb AS (SELECT p, vec_id,
        |         row_number() OVER (PARTITION BY p ORDER BY d2, vec_id) AS rn FROM ex)
        |SELECT a.p AS probe_id, a.vec_id AS srp_nn, b.vec_id AS exact_nn,
        |       CAST(a.vec_id = b.vec_id AS BIGINT) AS hit
        |FROM (SELECT * FROM ab WHERE rn = 1) a
        |JOIN (SELECT * FROM eb WHERE rn = 1) b ON a.p = b.p
        |ORDER BY probe_id""".stripMargin
    },
    "x_winnow" ->
      s"""WITH $winnowCtes
        |SELECT doc_id, fp FROM fps
        |ORDER BY doc_id, fp""".stripMargin,
    "x_cdc_chunks" ->
      s"""WITH $cdcCtes
        |SELECT doc_id, chunk, n_words, first_pos, chunk_sig
        |FROM ch ORDER BY doc_id, chunk""".stripMargin,
    "x_cdc_dedup" ->
      s"""WITH $cdcCtes
        |SELECT chunk_sig, n_words, CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM ch GROUP BY 1, 2 HAVING count(*) > 1
        |ORDER BY chunk_sig, n_words""".stripMargin,
    "x_linededup" ->
      s"""WITH $segCtes,
        |k AS (SELECT doc_id, seg, seg_text,
        |        row_number() OVER (PARTITION BY seg_text ORDER BY doc_id, seg) AS rn
        |      FROM segs)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       ${detRound4Sql("sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS kept_ratio,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN seg_text END, ' ' ORDER BY seg), '') AS text_kept
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_boilerplate" ->
      s"""WITH $segCtes,
        |b AS (SELECT seg_text FROM segs GROUP BY seg_text
        |      HAVING count(DISTINCT doc_id) >= $BOILER_DF)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg,
        |       CAST(sum(CASE WHEN b.seg_text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |       ${detRound4Sql("sum(CASE WHEN b.seg_text IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS boiler_ratio
        |FROM segs LEFT JOIN b ON segs.seg_text = b.seg_text
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_boiler_lines" ->
      s"""WITH $segCtes
        |SELECT seg_text, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |       CAST(count(*) AS BIGINT) AS occ
        |FROM segs GROUP BY seg_text HAVING count(DISTINCT doc_id) >= $BOILER_DF
        |ORDER BY seg_text""".stripMargin,
    "x_winnow_pairs" ->
      s"""WITH $winnowCtes,
        |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $WINNOW_DF_CAP),
        |k AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |             CAST(count(*) AS BIGINT) AS shared
        |      FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared FROM p WHERE shared >= $WINNOW_SHARED_MIN
        |ORDER BY doc_a, doc_b""".stripMargin,
    "x_dedup_eval" -> {
      val C = DEDUP_EVAL_CAP
      s"""WITH ${permSigsSql},
        |bands AS MATERIALIZED (SELECT doc_id, CAST(perm // $ROWS_PER_BAND AS BIGINT) AS band,
        |                 string_agg(sig, '|' ORDER BY perm) AS key
        |          FROM sigs WHERE doc_id < $C GROUP BY doc_id, perm // $ROWS_PER_BAND),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        |         WHERE a.doc_id < b.doc_id),
        |shc AS MATERIALIZED (SELECT doc_id, list_distinct(shingles) AS s
        |      FROM sh WHERE doc_id < $C),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.s, b.s)) AS i, len(a.s) + len(b.s) AS t
        |       FROM shc a JOIN shc b ON a.doc_id < b.doc_id),
        |tr AS MATERIALIZED (SELECT doc_a, doc_b FROM pr
        |      WHERE CAST(i AS DOUBLE) / (t - i) >= 0.35),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tr),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
        |nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
        |       FROM cand JOIN tr USING (doc_a, doc_b))
        |SELECT n_truth, n_cand, n_hit,
        |  ${detRound4Sql(
            "CASE WHEN n_cand = 0 THEN 0.0 ELSE CAST(n_hit AS DOUBLE) / n_cand END")} AS precision,
        |  ${detRound4Sql(
            "CASE WHEN n_truth = 0 THEN 0.0 ELSE CAST(n_hit AS DOUBLE) / n_truth END")} AS recall,
        |  ${detRound4Sql(
            "CASE WHEN n_cand + n_truth = 0 THEN 0.0 ELSE " +
            "2.0 * CAST(n_hit AS DOUBLE) / (n_cand + n_truth) END")} AS f1
        |FROM nt CROSS JOIN nc CROSS JOIN nh""".stripMargin
    },
    "x_neardup" ->
      s"""WITH ${permSigsSql},
        |bands AS MATERIALIZED (SELECT doc_id, CAST(perm // $ROWS_PER_BAND AS BIGINT) AS band,
        |                 string_agg(sig, '|' ORDER BY perm) AS key
        |          FROM sigs GROUP BY doc_id, perm // $ROWS_PER_BAND),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        |         WHERE a.doc_id < b.doc_id),
        |ver AS (SELECT doc_a, doc_b,
        |          CAST(len(list_distinct(list_intersect(sa.shingles, sb.shingles))) AS DOUBLE)
        |          / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jac
        |        FROM cand
        |        JOIN sh sa ON doc_a = sa.doc_id
        |        JOIN sh sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, ${detRound4Sql("jac")} AS jac
        |FROM ver WHERE jac >= 0.35 ORDER BY doc_a, doc_b""".stripMargin,
    "x_group_sig" ->
      s"""WITH ${permSigsSql}
        |SELECT d.lang, CAST(s.perm AS BIGINT) AS perm, min(s.sig) AS sig
        |FROM sigs s JOIN documents d ON s.doc_id = d.doc_id
        |GROUP BY d.lang, s.perm
        |ORDER BY lang, perm""".stripMargin,
    "x_lshpairs_banded" ->
      s"""WITH ${permSigsSql},
        |bands AS MATERIALIZED (SELECT doc_id, CAST(perm // $ROWS_PER_BAND AS BIGINT) AS band,
        |                 string_agg(sig, '|' ORDER BY perm) AS key
        |          FROM sigs GROUP BY doc_id, perm // $ROWS_PER_BAND)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        |WHERE a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the dup-cluster closure joined with the pagerank replay: keeper =
    // rank-1 by (pr DESC, doc_id) within each >=2 cluster
    "x_keep_authority" -> {
      s"""$dupClustersCte,
        |${prPrefixCtes},
        |${(1 to PR_ITERS).map(i => prRound(i, s"p${i - 1}")).mkString(",\n")},
        |r AS (SELECT m.doc_id, m.cluster, p.pr,
        |        row_number() OVER (PARTITION BY m.cluster ORDER BY p.pr DESC, m.doc_id) AS rn
        |      FROM minr m JOIN p$PR_ITERS p USING (doc_id)),
        |gg AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs, max(pr) AS mx
        |       FROM r GROUP BY cluster)
        |SELECT gg.cluster, gg.n_docs, r.doc_id AS keep_doc,
        |       ${detRound4Sql("gg.mx * nn.n")} AS authority
        |FROM gg JOIN r ON gg.cluster = r.cluster AND r.rn = 1 CROSS JOIN nn
        |WHERE gg.n_docs >= 2 ORDER BY gg.cluster""".stripMargin
    },
    // damped power iteration unrolled PR_ITERS times over the banded
    // candidate graph; contributions quantize to round(pr/deg * 2^40)
    // longs so every round's sum is order-exact — Dedup.pageRank's
    // arithmetic replayed term for term ((1.0 - 0.85)/n, not 0.15/n:
    // the subtraction itself must match the Scala double)
    "x_pagerank" -> {
      s"""WITH ${permSigsSql},
        |bands AS MATERIALIZED (SELECT doc_id, CAST(perm // $ROWS_PER_BAND AS BIGINT) AS band,
        |                 string_agg(sig, '|' ORDER BY perm) AS key
        |          FROM sigs GROUP BY doc_id, perm // $ROWS_PER_BAND),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        |         WHERE a.doc_id < b.doc_id),
        |${prPrefixCtes},
        |${(1 to PR_ITERS).map(i => prRound(i, s"p${i - 1}")).mkString(",\n")}
        |SELECT p.doc_id, coalesce(dg.deg, 0) AS deg,
        |       ${detRound4Sql("p.pr * nn.n")} AS authority
        |FROM p$PR_ITERS p CROSS JOIN nn LEFT JOIN dg ON p.doc_id = dg.src
        |ORDER BY p.doc_id""".stripMargin
    },
    "x_triangles" ->
      s"""WITH ${permSigsSql},
        |bands AS MATERIALIZED (SELECT doc_id, CAST(perm // $ROWS_PER_BAND AS BIGINT) AS band,
        |                 string_agg(sig, '|' ORDER BY perm) AS key
        |          FROM sigs GROUP BY doc_id, perm // $ROWS_PER_BAND),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        |         WHERE a.doc_id < b.doc_id),
        |und AS (SELECT doc_a AS u FROM cand UNION ALL SELECT doc_b AS u FROM cand),
        |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |      FROM und GROUP BY u),
        |ori AS MATERIALIZED (SELECT
        |        CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND c.doc_a < c.doc_b)
        |             THEN c.doc_a ELSE c.doc_b END AS src,
        |        CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND c.doc_a < c.doc_b)
        |             THEN c.doc_b ELSE c.doc_a END AS dst
        |      FROM cand c JOIN deg d1 ON c.doc_a = d1.u JOIN deg d2 ON c.doc_b = d2.u),
        |w AS (SELECT o1.dst AS lo, o2.dst AS hi FROM ori o1 JOIN ori o2
        |      ON o1.src = o2.src AND o1.dst < o2.dst),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS t
        |        FROM w JOIN cand ON w.lo = cand.doc_a AND w.hi = cand.doc_b),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM cand),
        |nw AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |              CAST(sum(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges FROM deg)
        |SELECT n_nodes, n_edges, n_wedges, t AS n_triangles,
        |       ${detRound4Sql(
                 "CASE WHEN n_wedges = 0 THEN 0.0 ELSE " +
                 "3.0 * t / n_wedges END")} AS clustering
        |FROM nw CROSS JOIN ne CROSS JOIN tri""".stripMargin,
    // the x_neardup verify chain feeding the x_triangles census: the
    // pair graph is the Jaccard-verified cut, not the raw candidates
    "x_triangles_verified" ->
      s"""WITH ${permSigsSql},
        |bands AS MATERIALIZED (SELECT doc_id, CAST(perm // $ROWS_PER_BAND AS BIGINT) AS band,
        |                 string_agg(sig, '|' ORDER BY perm) AS key
        |          FROM sigs GROUP BY doc_id, perm // $ROWS_PER_BAND),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        |         WHERE a.doc_id < b.doc_id),
        |vp AS MATERIALIZED (SELECT doc_a, doc_b FROM (
        |        SELECT doc_a, doc_b,
        |          CAST(len(list_distinct(list_intersect(sa.shingles, sb.shingles))) AS DOUBLE)
        |          / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jac
        |        FROM cand
        |        JOIN sh sa ON doc_a = sa.doc_id
        |        JOIN sh sb ON doc_b = sb.doc_id) WHERE jac >= 0.35),
        |und AS (SELECT doc_a AS u FROM vp UNION ALL SELECT doc_b AS u FROM vp),
        |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |      FROM und GROUP BY u),
        |ori AS MATERIALIZED (SELECT
        |        CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND c.doc_a < c.doc_b)
        |             THEN c.doc_a ELSE c.doc_b END AS src,
        |        CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND c.doc_a < c.doc_b)
        |             THEN c.doc_b ELSE c.doc_a END AS dst
        |      FROM vp c JOIN deg d1 ON c.doc_a = d1.u JOIN deg d2 ON c.doc_b = d2.u),
        |w AS (SELECT o1.dst AS lo, o2.dst AS hi FROM ori o1 JOIN ori o2
        |      ON o1.src = o2.src AND o1.dst < o2.dst),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS t
        |        FROM w JOIN vp ON w.lo = vp.doc_a AND w.hi = vp.doc_b),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM vp),
        |nw AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |              CAST(sum(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges FROM deg)
        |SELECT n_nodes, n_edges, n_wedges, t AS n_triangles,
        |       ${detRound4Sql(
                 "CASE WHEN n_wedges = 0 THEN 0.0 ELSE " +
                 "3.0 * t / n_wedges END")} AS clustering
        |FROM nw CROSS JOIN ne CROSS JOIN tri""".stripMargin,
    "x_dedup_incremental" ->
      s"""WITH ${permSigsSql},
        |bands AS MATERIALIZED (SELECT doc_id, CAST(perm // $ROWS_PER_BAND AS BIGINT) AS band,
        |                 string_agg(sig, '|' ORDER BY perm) AS key
        |          FROM sigs GROUP BY doc_id, perm // $ROWS_PER_BAND),
        |hits AS (SELECT DISTINCT d.doc_id, b.doc_id AS base_id
        |         FROM bands d JOIN bands b ON d.band = b.band AND d.key = b.key
        |         WHERE d.doc_id % 4 = 0 AND b.doc_id % 4 <> 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_base_matches,
        |       min(base_id) AS first_match
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_curate_incremental" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(4)}) AS gram FROM t0),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
        |        WHERE g.doc_id % 4 = 0 AND g.doc_id % 50 <> 0),
        |q AS (
        |  SELECT doc_id, text,
        |         len(string_split(text, ' ')) AS n_words,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ($enList))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS swr
        |  FROM documents WHERE doc_id % 4 = 0 AND doc_id % 50 <> 0),
        |f AS (SELECT doc_id, text FROM q
        |      WHERE n_words BETWEEN 5 AND 2000 AND swr < 0.4
        |        AND doc_id NOT IN (SELECT doc_id FROM bad)),
        |${permSigsSql},
        |bands AS MATERIALIZED (SELECT doc_id, CAST(perm // $ROWS_PER_BAND AS BIGINT) AS band,
        |                 string_agg(sig, '|' ORDER BY perm) AS key
        |          FROM sigs GROUP BY doc_id, perm // $ROWS_PER_BAND),
        |dup AS (SELECT DISTINCT d.doc_id
        |        FROM bands d JOIN bands b ON d.band = b.band AND d.key = b.key
        |        WHERE d.doc_id IN (SELECT doc_id FROM f) AND b.doc_id % 4 <> 0),
        |kept AS (SELECT doc_id, text FROM f
        |         WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
        |ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM kept),
        |cn AS (SELECT doc_id, len(toks) AS n FROM ct WHERE len(toks) > 0),
        |ce AS (SELECT doc_id, n,
        |        unnest(range(0, CAST((n + ${CHUNK_BUDGET - 1}) // $CHUNK_BUDGET AS BIGINT))) AS c
        |      FROM cn)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_BUDGET) AS BIGINT) AS n_tok
        |FROM ce ORDER BY doc_id, chunk""".stripMargin,
    "x_curate_exact_incremental" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(4)}) AS gram FROM t0),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
        |        WHERE g.doc_id % 4 = 0 AND g.doc_id % 50 <> 0),
        |q AS (
        |  SELECT doc_id, text,
        |         len(string_split(text, ' ')) AS n_words,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ($enList))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS swr
        |  FROM documents WHERE doc_id % 4 = 0 AND doc_id % 50 <> 0),
        |f AS (SELECT doc_id, text FROM q
        |      WHERE n_words BETWEEN 5 AND 2000 AND swr < 0.4
        |        AND doc_id NOT IN (SELECT doc_id FROM bad)),
        |bt AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |       WHERE doc_id % 4 <> 0),
        |bg AS (SELECT doc_id, unnest(range(1, len(toks) - $ESD_GRAM + 2)) AS s, toks
        |       FROM bt WHERE len(toks) >= $ESD_GRAM),
        |idx AS MATERIALIZED (SELECT DISTINCT
        |        array_to_string(list_slice(toks, s, s + $ESD_GRAM - 1), ' ') AS gtext
        |      FROM bg),
        |dt AS (SELECT doc_id, string_split(text,' ') AS toks FROM f),
        |dg AS (SELECT doc_id, CAST(unnest(range(1, len(toks) - $ESD_GRAM + 2)) AS BIGINT) AS s, toks
        |       FROM dt WHERE len(toks) >= $ESD_GRAM),
        |dgr AS (SELECT doc_id, s,
        |          array_to_string(list_slice(toks, s, s + $ESD_GRAM - 1), ' ') AS gtext
        |        FROM dg),
        |sp AS (SELECT dgr.doc_id, s, s + $ESD_GRAM - 1 AS e
        |       FROM dgr JOIN idx USING (gtext)),
        |$esdIslandCtes,
        |tok AS (SELECT doc_id, CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) AS pos, toks FROM dt),
        |tk AS (SELECT doc_id, pos, toks[pos] AS tok FROM tok),
        |mk AS (SELECT tk.doc_id, tk.pos, tk.tok,
        |         CASE WHEN isl.s IS NOT NULL THEN 1 ELSE 0 END AS cut
        |       FROM tk LEFT JOIN isl
        |         ON tk.doc_id = isl.doc_id AND tk.pos BETWEEN isl.s AND isl.e),
        |per AS (SELECT doc_id, count(*) AS n_tokens, sum(cut) AS n_cut,
        |          coalesce(string_agg(CASE WHEN cut = 0 THEN tok END, ' ' ORDER BY pos), '') AS kept
        |        FROM mk GROUP BY doc_id),
        |ct AS (SELECT doc_id, kept AS text FROM per WHERE n_cut * 2 < n_tokens),
        |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM ct),
        |n2 AS (SELECT doc_id, len(toks) AS n FROM t2 WHERE len(toks) > 0),
        |e2 AS (SELECT doc_id, n,
        |        unnest(range(0, CAST((n + ${CHUNK_BUDGET - 1}) // $CHUNK_BUDGET AS BIGINT))) AS c
        |      FROM n2)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_BUDGET) AS BIGINT) AS n_tok
        |FROM e2 ORDER BY doc_id, chunk""".stripMargin,
    // the exact-incremental gate CTEs composed with x_semdedup_
    // incremental's base-trained kmeans replay: gated delta vectors
    // probe the base assignment, any tau hit quarantines the doc, the
    // survivors chunk. No transitive closure anywhere.
    "x_skew_audit" -> {
      def arm(name: String, table: String, key: String) =
        s"""SELECT '$name' AS rel, CAST(count(*) AS BIGINT) AS n_keys,
          |  CAST(sum(c) AS BIGINT) AS n_rows, CAST(max(c) AS BIGINT) AS max_cnt,
          |  CAST((SELECT k FROM (SELECT $key AS k, count(*) AS c FROM $table GROUP BY 1) q2
          |        ORDER BY c DESC, k LIMIT 1) AS BIGINT) AS top_key,
          |  ${detRound4Sql("CAST(max(c) AS DOUBLE) * count(*) / sum(c)")} AS skew_ratio
          |FROM (SELECT $key AS k, count(*) AS c FROM $table GROUP BY 1)""".stripMargin
      s"""${arm("events_user", "events", "user_id")}
        |UNION ALL
        |${arm("lineitem_order", "lineitem", "l_orderkey")}
        |UNION ALL
        |${arm("orders_cust", "orders", "o_custkey")}
        |ORDER BY rel""".stripMargin
    },
    "x_dp_counts" -> {
      val eps = math.floor(2.0 * math.log(2.0) * 10000.0 + 0.5) / 10000.0
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact,
        |             md5(source) AS m
        |           FROM documents GROUP BY source),
        |h AS (SELECT source, n_exact,
        |        (${Sketches.hex32Sql("m", 1)} & ${(1L << 31) - 1}) * ${1L << 32}
        |          + ${Sketches.hex32Sql("m", 9)} AS u,
        |        ${Sketches.hex32Sql("m", 17)} % 2 AS s FROM c),
        |g AS (SELECT source, n_exact,
        |        CAST((1 - s * 2) * ($dpMagSql) AS BIGINT) AS noise FROM h)
        |SELECT source, n_exact, noise, n_exact + noise AS n_dp,
        |       CAST($eps AS DOUBLE) AS eps
        |FROM g ORDER BY source""".stripMargin
    },
    "x_kanon" ->
      s"""WITH l1 AS MATERIALIZED (
        |  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |         CAST(floor(value / 100) AS BIGINT) AS bin,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |l2 AS (SELECT event_type, day, CAST(sum(n) AS BIGINT) AS n
        |       FROM l1 GROUP BY 1, 2),
        |l3 AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n
        |       FROM l1 GROUP BY 1),
        |s1 AS (SELECT '1_type_day_bin' AS level, min(n) AS k_anon,
        |         CAST(count(*) AS BIGINT) AS n_classes,
        |         CAST(sum(CASE WHEN n < $K_ANON THEN n ELSE 0 END) AS BIGINT) AS n_suppressed
        |       FROM l1),
        |s2 AS (SELECT '2_type_day', min(n), CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN n < $K_ANON THEN n ELSE 0 END) AS BIGINT)
        |       FROM l2),
        |s3 AS (SELECT '3_type', min(n), CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN n < $K_ANON THEN n ELSE 0 END) AS BIGINT)
        |       FROM l3)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        |ORDER BY level""".stripMargin,
    "x_retrieval_eval" ->
      s"""WITH cw AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, word FROM
        |    (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents)),
        |ov AS MATERIALIZED (
        |  SELECT p.doc_id AS probe_id, c.doc_id AS doc_id,
        |         CAST(count(*) AS BIGINT) AS overlap
        |  FROM cw c JOIN (SELECT * FROM cw WHERE doc_id < $RETR_CAP) p USING (word)
        |  WHERE c.doc_id <> p.doc_id GROUP BY 1, 2),
        |rk AS MATERIALIZED (
        |  SELECT probe_id, doc_id, overlap,
        |         row_number() OVER (PARTITION BY probe_id
        |           ORDER BY overlap DESC, doc_id) AS rk FROM ov),
        |pairs AS (SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
        |    (list_aggregate(list_transform(range(1, ${DIM + 1}), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum'))
        |    / (${normSql("a.embedding")} * ${normSql("b.embedding")}) AS sim
        |  FROM (SELECT * FROM embeddings WHERE vec_id < $RETR_CAP) a
        |  JOIN embeddings b ON a.vec_id <> b.vec_id),
        |tr AS (SELECT probe_id, cand_id AS emb_best FROM
        |         (SELECT probe_id, cand_id,
        |            row_number() OVER (PARTITION BY probe_id
        |              ORDER BY sim DESC, cand_id) AS r FROM pairs)
        |       WHERE r = 1)
        |SELECT t.probe_id, coalesce(l1.doc_id, -1) AS lex_best,
        |       coalesce(l1.overlap, 0) AS lex_overlap, t.emb_best,
        |       CAST(CASE WHEN EXISTS (SELECT 1 FROM rk
        |              WHERE rk.rk <= $RETR_K AND rk.probe_id = t.probe_id
        |                AND rk.doc_id = t.emb_best)
        |            THEN 1 ELSE 0 END AS BIGINT) AS hit
        |FROM tr t LEFT JOIN (SELECT * FROM rk WHERE rk = 1) l1 USING (probe_id)
        |ORDER BY probe_id""".stripMargin,
    "x_linear_probe" ->
      s"""WITH m AS (SELECT CAST(len(string_split(text,' ')) AS BIGINT) AS x1,
        |             CAST(length(text) AS BIGINT) AS x2,
        |             CAST(list_aggregate(list_transform(string_split(text,' '),
        |               w -> greatest(1, CAST(ceil(length(w)/4.0) AS BIGINT))), 'sum') AS BIGINT) AS y
        |           FROM documents),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS a11,
        |         sum(CAST(x1 AS HUGEINT)) AS a12, sum(CAST(x2 AS HUGEINT)) AS a13,
        |         sum(CAST(x1 AS HUGEINT) * x1) AS a22,
        |         sum(CAST(x1 AS HUGEINT) * x2) AS a23,
        |         sum(CAST(x2 AS HUGEINT) * x2) AS a33,
        |         sum(CAST(y AS HUGEINT)) AS e1b,
        |         sum(CAST(x1 AS HUGEINT) * y) AS e2b,
        |         sum(CAST(x2 AS HUGEINT) * y) AS e3b,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |       FROM m),
        |c1 AS (SELECT CAST(a11 AS BIGINT) AS n_docs,
        |         CAST(a11 AS DOUBLE) AS d11, CAST(a12 AS DOUBLE) AS d12,
        |         CAST(a13 AS DOUBLE) AS d13, CAST(a22 AS DOUBLE) AS d22,
        |         CAST(a23 AS DOUBLE) AS d23, CAST(a33 AS DOUBLE) AS d33,
        |         CAST(e1b AS DOUBLE) AS e1, CAST(e2b AS DOUBLE) AS e2,
        |         CAST(e3b AS DOUBLE) AS e3, CAST(syy AS DOUBLE) AS dyy
        |       FROM ag),
        |c2 AS (SELECT *, ($lpDet) AS det, ($lpDetX) AS detx,
        |         ($lpDetY) AS dety, ($lpDetZ) AS detz FROM c1),
        |c3 AS (SELECT *,
        |         CASE WHEN det = 0.0 THEN 0.0 ELSE detx / det END AS w0,
        |         CASE WHEN det = 0.0 THEN 0.0 ELSE dety / det END AS w1,
        |         CASE WHEN det = 0.0 THEN 0.0 ELSE detz / det END AS w2
        |       FROM c2),
        |c4 AS (SELECT *, ($lpSse) AS sse, ($lpSst) AS sst FROM c3)
        |SELECT n_docs, ${detRound4Sql("w0")} AS w0, ${detRound4Sql("w1")} AS w1,
        |       ${detRound4Sql("w2")} AS w2,
        |       ${detRound4Sql("CASE WHEN sst <= 0.0 THEN 0.0 ELSE 1.0 - sse / sst END")} AS r2
        |FROM c4""".stripMargin,
    "x_bitext" -> {
      val Q = BITEXT_Q
      s"""WITH lg AS (SELECT doc_id AS vec_id, lang FROM documents),
        |aa AS MATERIALIZED (SELECT e.vec_id,
        |      ${edSql("e.embedding")} AS ed, ${normD("ed")} AS nrm
        |      FROM embeddings e JOIN lg USING (vec_id) WHERE lang = '$BITEXT_SRC'),
        |bb AS MATERIALIZED (SELECT e.vec_id,
        |      ${edSql("e.embedding")} AS ed, ${normD("ed")} AS nrm
        |      FROM embeddings e JOIN lg USING (vec_id) WHERE lang = '$BITEXT_TGT'),
        |fp AS (SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
        |         ${dotD("a.ed", "b.ed")} / (a.nrm * b.nrm) AS sim
        |       FROM (SELECT * FROM aa WHERE vec_id < $PROBE_CAP) a CROSS JOIN bb b),
        |fr AS (SELECT probe_id, cand_id, sim,
        |         row_number() OVER (PARTITION BY probe_id
        |           ORDER BY sim DESC, cand_id) AS rk FROM fp),
        |nnx AS MATERIALIZED (SELECT probe_id, cand_id, sim FROM fr WHERE rk <= $BITEXT_K),
        |dx AS (SELECT probe_id, sum(CAST(round(sim * $Q) AS BIGINT)) AS qx,
        |              CAST(count(*) AS BIGINT) AS kx FROM nnx GROUP BY 1),
        |ys AS (SELECT DISTINCT cand_id AS vec_id FROM nnx),
        |rp AS (SELECT b.vec_id AS probe_id, a.vec_id AS cand_id,
        |         ${dotD("b.ed", "a.ed")} / (b.nrm * a.nrm) AS sim
        |       FROM (SELECT bb.* FROM bb JOIN ys USING (vec_id)) b CROSS JOIN aa a),
        |rr AS (SELECT probe_id, sim,
        |         row_number() OVER (PARTITION BY probe_id
        |           ORDER BY sim DESC, cand_id) AS rk FROM rp),
        |dy AS (SELECT probe_id AS cand_id,
        |              sum(CAST(round(sim * $Q) AS BIGINT)) AS qy,
        |              CAST(count(*) AS BIGINT) AS ky
        |       FROM rr WHERE rk <= $BITEXT_K GROUP BY 1),
        |sc AS (SELECT n.probe_id, n.cand_id, n.sim,
        |         n.sim - (CAST(dx.qx AS DOUBLE) / (dx.kx * $Q)
        |                + CAST(dy.qy AS DOUBLE) / (dy.ky * $Q)) / 2.0 AS margin
        |       FROM nnx n JOIN dx USING (probe_id) JOIN dy USING (cand_id)),
        |bst AS (SELECT probe_id, cand_id, sim, margin,
        |          row_number() OVER (PARTITION BY probe_id
        |            ORDER BY margin DESC, cand_id) AS rk FROM sc)
        |SELECT probe_id AS src_id, cand_id AS tgt_id,
        |  ${detRound4Sql("sim")} AS sim, ${detRound4Sql("margin")} AS margin,
        |  CAST(CASE WHEN margin > $BITEXT_TAU THEN 1 ELSE 0 END AS BIGINT) AS accept
        |FROM bst WHERE rk = 1 ORDER BY src_id""".stripMargin
    },
    "x_index_health" ->
      s"""WITH bse AS MATERIALIZED (SELECT * FROM embeddings WHERE vec_id % 4 <> 0),
        |cent0 AS (SELECT vec_id AS cent_id, embedding AS cvec
        |          FROM bse ORDER BY vec_id LIMIT $KMEANS_K),
        |${refineSql("cent0", "k1", 1, "bse")},
        |${refineSql("k1", "k2", 2, "bse")},
        |${refineSql("k2", "k3", 3, "bse")},
        |${asgnSql("k3", "ab", "bse")},
        |${asgnSql("k3", "ac", "embeddings")},
        |m0 AS (SELECT cell, CAST(count(*) AS BIGINT) AS m0 FROM ab GROUP BY cell),
        |m1 AS (SELECT cell, CAST(count(*) AS BIGINT) AS m1 FROM ac GROUP BY cell),
        |jd AS (SELECT k.cent_id AS cell, coalesce(m0.m0, 0) AS m0,
        |              coalesce(m1.m1, 0) AS m1
        |       FROM k3 k LEFT JOIN m0 ON k.cent_id = m0.cell
        |                 LEFT JOIN m1 ON k.cent_id = m1.cell),
        |tt AS (SELECT CAST(sum(m0) AS BIGINT) AS n0,
        |              CAST(sum(m1) AS BIGINT) AS n1 FROM jd),
        |sm AS (SELECT CAST(count(*) AS BIGINT) AS k_cells,
        |         max(n0) AS n0, max(n1) AS n1,
        |         sum(abs(CAST(m0 AS HUGEINT) * n1 - CAST(m1 AS HUGEINT) * n0)) AS tvnum,
        |         max(abs(CAST(m0 AS HUGEINT) * n1 - CAST(m1 AS HUGEINT) * n0)) AS maxnum
        |       FROM jd CROSS JOIN tt)
        |SELECT k_cells, CAST(n0 AS BIGINT) AS n_base, CAST(n1 AS BIGINT) AS n_cur,
        |  ${detRound4Sql("CASE WHEN n0 = 0 OR n1 = 0 THEN 1.0 ELSE " +
             "CAST(tvnum AS DOUBLE) / (2.0 * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) END")} AS tv,
        |  ${detRound4Sql("CASE WHEN n0 = 0 OR n1 = 0 THEN 1.0 ELSE " +
             "CAST(maxnum AS DOUBLE) / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) END")} AS max_cell_shift,
        |  CAST(CASE WHEN n0 = 0 OR n1 = 0 THEN 1
        |       WHEN tvnum * ${Knn.INDEX_TV_DEN} > CAST(n0 AS HUGEINT) * n1 * 2
        |       THEN 1 ELSE 0 END AS BIGINT) AS retrain
        |FROM sm""".stripMargin,
    "x_curate_semantic_incremental" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(${gramsSql(4)}) AS gram FROM t0),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
        |        WHERE g.doc_id % 4 = 0 AND g.doc_id % 50 <> 0),
        |q AS (
        |  SELECT doc_id, text,
        |         len(string_split(text, ' ')) AS n_words,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ($enList))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS swr
        |  FROM documents WHERE doc_id % 4 = 0 AND doc_id % 50 <> 0),
        |f AS (SELECT doc_id, text FROM q
        |      WHERE n_words BETWEEN 5 AND 2000 AND swr < 0.4
        |        AND doc_id NOT IN (SELECT doc_id FROM bad)),
        |bse AS MATERIALIZED (SELECT * FROM embeddings WHERE vec_id % 4 <> 0),
        |dlt AS MATERIALIZED (SELECT e.* FROM embeddings e
        |       JOIN f ON e.vec_id = f.doc_id),
        |cent0 AS (SELECT vec_id AS cent_id, embedding AS cvec
        |          FROM bse ORDER BY vec_id LIMIT $KMEANS_K),
        |${refineSql("cent0", "k1", 1, "bse")},
        |${refineSql("k1", "k2", 2, "bse")},
        |${refineSql("k2", "k3", 3, "bse")},
        |${asgnSql("k3", "bi", "bse")},
        |${capIdsSql("bi", "cpb")},
        |${scoredSql("k3", "dp", "dlt")},
        |pr AS (SELECT vec_id, ed, nrm, cent_id AS cell FROM dp
        |       WHERE rk <= $IVF_NPROBE),
        |prn AS MATERIALIZED (SELECT vec_id, cell, ed, nrm FROM pr),
        |bin AS MATERIALIZED (SELECT h.vec_id, h.cell, h.ed, h.nrm
        |      FROM bi h JOIN cpb USING (vec_id)),
        |hits AS (SELECT DISTINCT p.vec_id
        |  FROM prn p JOIN bin h USING (cell)
        |  WHERE ${dotD("p.ed", "h.ed")} / (p.nrm * h.nrm) > $SEMDEDUP_PROBE_TAU),
        |kept AS (SELECT doc_id, text FROM f
        |         WHERE doc_id NOT IN (SELECT vec_id FROM hits)),
        |ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM kept),
        |cn AS (SELECT doc_id, len(toks) AS n FROM ct WHERE len(toks) > 0),
        |ce AS (SELECT doc_id, n,
        |        unnest(range(0, CAST((n + ${CHUNK_BUDGET - 1}) // $CHUNK_BUDGET AS BIGINT))) AS c
        |      FROM cn)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_BUDGET) AS BIGINT) AS n_tok
        |FROM ce ORDER BY doc_id, chunk""".stripMargin,
    "x_curate_semantic" ->
      s"""WITH RECURSIVE q AS (
        |  SELECT doc_id, text,
        |         len(string_split(text, ' ')) AS n_words,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ($enList))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS swr
        |  FROM documents),
        |f AS (SELECT doc_id, text FROM q
        |      WHERE n_words BETWEEN 5 AND 2000 AND swr < 0.4),
        |ge AS (SELECT e.vec_id, e.embedding
        |       FROM embeddings e JOIN f ON e.vec_id = f.doc_id),
        |cent AS (SELECT vec_id AS cent_id, embedding AS cvec
        |         FROM embeddings WHERE vec_id < $IVF_K),
        |${asgnSql("cent", "sa", "ge")},
        |${capIdsSql("sa", "cp")},
        |san AS MATERIALIZED (SELECT vec_id, cell, ed, nrm,
        |        vec_id IN (SELECT vec_id FROM cp) AS capped
        |      FROM sa),
        |cand AS MATERIALIZED (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM san a JOIN san b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE (a.capped OR b.capped)
        |    AND ${dotD("a.ed", "b.ed")} / (a.nrm * b.nrm) > $SEMDEDUP_TAU),
        |und AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
        |        UNION SELECT doc_b, doc_a FROM cand),
        |reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |minr AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
        |         FROM reach GROUP BY a),
        |keep AS (SELECT ff.doc_id, ff.text
        |         FROM f ff LEFT JOIN minr m USING (doc_id)
        |         WHERE coalesce(m.cluster, ff.doc_id) = ff.doc_id),
        |tr AS (SELECT doc_id, text FROM keep
        |       WHERE ${hashBucketSql("doc_id")} % 100 < 80),
        |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM tr),
        |n2 AS (SELECT doc_id, len(toks) AS n FROM t2 WHERE len(toks) > 0),
        |e AS (SELECT doc_id, n,
        |        unnest(range(0, CAST((n + ${CHUNK_BUDGET - 1}) // $CHUNK_BUDGET AS BIGINT))) AS c
        |      FROM n2)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk,
        |       CAST(least($CHUNK_BUDGET, n - c * $CHUNK_BUDGET) AS BIGINT) AS n_tok
        |FROM e ORDER BY doc_id, chunk""".stripMargin,
    "x_dupclusters" -> dupClustersOracle,
    "x_cluster_stats" ->
      s"""$dupClustersCte,
        |lab AS (SELECT d.doc_id, coalesce(m.cluster, d.doc_id) AS cluster
        |        FROM documents d LEFT JOIN minr m USING (doc_id)),
        |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
        |       FROM lab GROUP BY 1)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // the star-rewriting variant computes the SAME transitive closure —
    // one oracle, two distributed algorithms
    "x_dupclusters_star" -> dupClustersOracle,
    "x_keep_best" ->
      s"""$dupClustersCte,
        |lab AS (SELECT d.doc_id,
        |          CAST(coalesce(m.cluster, d.doc_id) AS BIGINT) AS cluster,
        |          CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words
        |        FROM documents d LEFT JOIN minr m USING (doc_id)),
        |r AS (SELECT cluster, doc_id, n_words,
        |        row_number() OVER (PARTITION BY cluster
        |          ORDER BY n_words DESC, doc_id) AS rn
        |      FROM lab),
        |g AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(max(n_words) AS BIGINT) AS keep_words
        |      FROM lab GROUP BY cluster)
        |SELECT g.cluster, g.n_docs, r.doc_id AS keep_doc, g.keep_words
        |FROM g JOIN r ON g.cluster = r.cluster AND r.rn = 1
        |ORDER BY g.cluster""".stripMargin,
    "x_lshpairs" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |h AS (SELECT doc_id, $hashesSql AS hs FROM t),
        |sigs AS (SELECT doc_id, ${sigSql(0)} AS sig0, ${sigSql(1)} AS sig1,
        |                ${sigSql(2)} AS sig2, ${sigSql(3)} AS sig3 FROM h),
        |long AS (
        |  SELECT doc_id, 0 AS band, sig0 AS sig FROM sigs UNION ALL
        |  SELECT doc_id, 1, sig1 FROM sigs UNION ALL
        |  SELECT doc_id, 2, sig2 FROM sigs UNION ALL
        |  SELECT doc_id, 3, sig3 FROM sigs)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM long a JOIN long b ON a.band = b.band AND a.sig = b.sig
        |WHERE a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "x_simhash" ->
      s"""$simhashLongCte
        |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,
    "x_simhash_pairs" ->
      s"""$simhashLongCte,
        |u AS (SELECT doc_id,
        |        CAST((CAST(simhash AS HUGEINT) + 18446744073709551616) % 18446744073709551616 AS HUGEINT) AS uv
        |      FROM sh),
        |wsel AS (SELECT CASE WHEN 4 * count(*) <= 65536 THEN 16
        |                     WHEN 4 * count(*) <= 4294967296 THEN 32
        |                     ELSE 64 END AS w
        |         FROM documents),
        |long AS (SELECT doc_id, b.b AS band,
        |           (uv // (CAST(1 AS HUGEINT) << CAST(64 - w * (b.b + 1) AS INTEGER)))
        |             % (CAST(1 AS HUGEINT) << CAST(w AS INTEGER)) AS key
        |         FROM u CROSS JOIN wsel CROSS JOIN range(0, 4) b(b)
        |         WHERE b.b < 64 // w),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        |         FROM long a JOIN long b2 ON a.band = b2.band AND a.key = b2.key
        |         WHERE a.doc_id < b2.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
        |FROM cand
        |JOIN sh sa ON doc_a = sa.doc_id
        |JOIN sh sb ON doc_b = sb.doc_id
        |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 12
        |ORDER BY doc_a, doc_b""".stripMargin,
    "x_jaccard" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       ${detRound4Sql("CAST(len(list_distinct(list_intersect(a.toks, b.toks))) AS DOUBLE) / len(list_distinct(list_concat(a.toks, b.toks)))")} AS jac
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,
    "x_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(text) - 2, 1) + 1),
        |    i -> substr(text, CAST(i AS INTEGER), 3))) AS grams
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       ${detRound4Sql("CAST(len(list_distinct(list_intersect(a.grams, b.grams))) AS DOUBLE) / (len(a.grams) + len(b.grams) - len(list_distinct(list_intersect(a.grams, b.grams))))")} AS jac3
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,
    "x_mmr" -> {
      // rounds 2..MMR_K unrolled: each scores the un-picked pool rows
      // by λ·rel − (1−λ)·max sim to everything selected so far, then
      // argmax per probe (score desc, cand_id asc)
      val rounds = (2 to MMR_K).map { r =>
        s"""sc$r AS (SELECT p.probe_id, p.cand_id, p.rel,
           |    $MMR_LAMBDA * p.rel - (1 - $MMR_LAMBDA) * max(ps.sim) AS score
           |  FROM pool p
           |  JOIN sel${r - 1} s ON s.probe_id = p.probe_id
           |  JOIN ps ON ps.probe_id = p.probe_id AND ps.ca = p.cand_id
           |         AND ps.cb = s.cand_id
           |  LEFT JOIN sel${r - 1} x ON x.probe_id = p.probe_id
           |         AND x.cand_id = p.cand_id
           |  WHERE x.cand_id IS NULL
           |  GROUP BY p.probe_id, p.cand_id, p.rel),
           |pick$r AS (SELECT probe_id, cand_id, score, CAST($r AS BIGINT) AS pick FROM sc$r
           |  QUALIFY row_number() OVER (PARTITION BY probe_id
           |            ORDER BY score DESC, cand_id) = 1),
           |sel$r AS MATERIALIZED (SELECT probe_id, cand_id FROM sel${r - 1}
           |  UNION ALL SELECT probe_id, cand_id FROM pick$r)""".stripMargin
      }.mkString(",\n")
      val picks = (1 to MMR_K).map(r => s"SELECT * FROM pick$r").mkString(" UNION ALL ")
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < $MMR_PROBES),
        |c AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings),
        |pr AS (SELECT probe_id, cand_id,
        |         ($dotSql) / (${normSql("pe")} * ${normSql("ce")}) AS sim
        |       FROM p JOIN c ON probe_id <> cand_id),
        |pool AS MATERIALIZED (SELECT probe_id, cand_id, sim AS rel FROM pr
        |  QUALIFY row_number() OVER (PARTITION BY probe_id
        |            ORDER BY sim DESC, cand_id) <= $MMR_POOL),
        |pe2 AS MATERIALIZED (SELECT pool.probe_id, pool.cand_id, e.embedding
        |  FROM pool JOIN embeddings e ON e.vec_id = pool.cand_id),
        |ps AS MATERIALIZED (SELECT a.probe_id, a.cand_id AS ca, b.cand_id AS cb,
        |    ($dotSql) / (${normSql("pe")} * ${normSql("ce")}) AS sim
        |  FROM (SELECT probe_id, cand_id, embedding AS pe FROM pe2) a
        |  JOIN (SELECT probe_id, cand_id, embedding AS ce FROM pe2) b
        |    ON a.probe_id = b.probe_id AND a.cand_id <> b.cand_id),
        |pick1 AS (SELECT probe_id, cand_id, $MMR_LAMBDA * rel AS score,
        |    CAST(1 AS BIGINT) AS pick FROM pool
        |  QUALIFY row_number() OVER (PARTITION BY probe_id
        |            ORDER BY rel DESC, cand_id) = 1),
        |sel1 AS MATERIALIZED (SELECT probe_id, cand_id FROM pick1),
        |$rounds
        |SELECT probe_id AS vec_id, pick, cand_id,
        |       ${detRound4Sql("score")} AS score
        |FROM ($picks) ORDER BY vec_id, pick""".stripMargin
    },
    "x_sq8" -> {
      val x = "CAST(embedding[i] AS DOUBLE)"
      val span = "(mx[i] - mn[i])"
      val q = s"(CASE WHEN $span = 0 THEN 0 ELSE least(255, greatest(0, round((($x - mn[i]) / $span) * 255))) END)"
      val deq = s"(mn[i] + ($q * $span) / 255.0)"
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |d0 AS (SELECT unnest(range(1, ${DIM + 1})) AS d, embedding FROM e),
        |d AS (SELECT d, min(CAST(embedding[d] AS DOUBLE)) AS mn,
        |             max(CAST(embedding[d] AS DOUBLE)) AS mx
        |      FROM d0 GROUP BY d),
        |s AS (SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx FROM d),
        |m AS (SELECT vec_id,
        |        list_aggregate(list_transform(range(1, ${DIM + 1}), i ->
        |          ($x - $deq) * ($x - $deq)), 'sum') / $DIM AS mse
        |      FROM e CROSS JOIN s)
        |SELECT vec_id, ${detRound4Sql("mse")} AS mse FROM m ORDER BY vec_id""".stripMargin
    },
    "x_sq8_recall" -> {
      val x = "CAST(embedding[i] AS DOUBLE)"
      val span = "(mx[i] - mn[i])"
      val q = s"(CASE WHEN $span = 0 THEN 0 ELSE least(255, greatest(0, round((($x - mn[i]) / $span) * 255))) END)"
      val deq = s"(mn[i] + ($q * $span) / 255.0)"
      def l2(a: String, b: String) =
        s"list_aggregate(list_transform(range(1, ${DIM + 1}), i -> " +
          s"($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum')"
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |d0 AS (SELECT unnest(range(1, ${DIM + 1})) AS d, embedding FROM e),
        |d AS (SELECT d, min(CAST(embedding[d] AS DOUBLE)) AS mn,
        |             max(CAST(embedding[d] AS DOUBLE)) AS mx
        |      FROM d0 GROUP BY d),
        |s AS (SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx FROM d),
        |v AS MATERIALIZED (SELECT vec_id,
        |      list_transform(range(1, ${DIM + 1}), i -> $deq) AS dqv,
        |      list_transform(range(1, ${DIM + 1}), i -> $x) AS fv
        |    FROM e CROSS JOIN s),
        |p AS (SELECT vec_id AS p, dqv AS pdq, fv AS pfv FROM v
        |      WHERE vec_id % 100 = 0 AND vec_id < $PQ_PROBE_CAP),
        |ax AS (SELECT p.p, v.vec_id, ${l2("pdq", "dqv")} AS d2
        |       FROM v JOIN p ON v.vec_id <> p.p),
        |ab AS (SELECT p, vec_id,
        |         row_number() OVER (PARTITION BY p ORDER BY d2, vec_id) AS rn FROM ax),
        |ex AS (SELECT p.p, v.vec_id, ${l2("pfv", "fv")} AS d2
        |       FROM v JOIN p ON v.vec_id <> p.p),
        |eb AS (SELECT p, vec_id,
        |         row_number() OVER (PARTITION BY p ORDER BY d2, vec_id) AS rn FROM ex)
        |SELECT a.p AS probe_id, a.vec_id AS sq8_nn, b.vec_id AS exact_nn,
        |       CAST(a.vec_id = b.vec_id AS BIGINT) AS hit
        |FROM (SELECT * FROM ab WHERE rn = 1) a
        |JOIN (SELECT * FROM eb WHERE rn = 1) b ON a.p = b.p
        |ORDER BY probe_id""".stripMargin
    },
    // sign bits assembled as two 32-bit halves, then two's-complement
    // in HUGEINT — the simhashLongCte layout (dim i at long bit 63-i)
    "x_bq" ->
      s"""WITH b AS (SELECT vec_id,
        |    sum(CASE WHEN t.i < 32 AND embedding[t.i + 1] > 0 AND NOT isnan(embedding[t.i + 1])
        |        THEN CAST(1 AS BIGINT) << CAST(31 - t.i AS INTEGER) ELSE 0 END) AS hi,
        |    sum(CASE WHEN t.i >= 32 AND embedding[t.i + 1] > 0 AND NOT isnan(embedding[t.i + 1])
        |        THEN CAST(1 AS BIGINT) << CAST(63 - t.i AS INTEGER) ELSE 0 END) AS lo
        |  FROM embeddings CROSS JOIN range(0, 64) t(i) GROUP BY vec_id)
        |SELECT vec_id,
        |  CAST(CASE WHEN CAST(hi AS HUGEINT) * 4294967296 + lo >= CAST(9223372036854775808 AS HUGEINT)
        |       THEN CAST(hi AS HUGEINT) * 4294967296 + lo - CAST(18446744073709551616 AS HUGEINT)
        |       ELSE CAST(hi AS HUGEINT) * 4294967296 + lo END AS BIGINT) AS bqsig
        |FROM b ORDER BY vec_id""".stripMargin,
    // Hamming over sign bits without packing: count of dims whose sign
    // classes differ — exactly bit_count(xor) of the packed signatures
    "x_bq_recall" -> {
      def l2(a: String, b: String) =
        s"list_aggregate(list_transform(range(1, ${DIM + 1}), i -> " +
          s"($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum')"
      s"""WITH v AS MATERIALIZED (SELECT vec_id, embedding,
        |      list_transform(range(1, ${DIM + 1}), i -> CAST(embedding[i] AS DOUBLE)) AS fv
        |    FROM embeddings),
        |p AS (SELECT vec_id AS p, embedding AS pe, fv AS pfv FROM v
        |      WHERE vec_id % 100 = 0 AND vec_id < $PQ_PROBE_CAP),
        |ax AS (SELECT p.p, v.vec_id,
        |         CAST(len(list_filter(range(1, ${DIM + 1}),
        |           i -> (p.pe[i] > 0 AND NOT isnan(p.pe[i]))
        |                <> (v.embedding[i] > 0 AND NOT isnan(v.embedding[i])))) AS BIGINT) AS hd
        |       FROM v JOIN p ON v.vec_id <> p.p),
        |ab AS (SELECT p, vec_id,
        |         row_number() OVER (PARTITION BY p ORDER BY hd, vec_id) AS rn FROM ax),
        |ex AS (SELECT p.p, v.vec_id, ${l2("pfv", "fv")} AS d2
        |       FROM v JOIN p ON v.vec_id <> p.p),
        |eb AS (SELECT p, vec_id,
        |         row_number() OVER (PARTITION BY p ORDER BY d2, vec_id) AS rn FROM ex)
        |SELECT a.p AS probe_id, a.vec_id AS bq_nn, b.vec_id AS exact_nn,
        |       CAST(a.vec_id = b.vec_id AS BIGINT) AS hit
        |FROM (SELECT * FROM ab WHERE rn = 1) a
        |JOIN (SELECT * FROM eb WHERE rn = 1) b ON a.p = b.p
        |ORDER BY probe_id""".stripMargin
    },
    "x_mrl_recall" -> {
      def l2(a: String, b: String, d: Int) =
        s"list_aggregate(list_transform(range(1, ${d + 1}), i -> " +
          s"($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum')"
      s"""WITH v AS MATERIALIZED (SELECT vec_id,
        |      list_transform(range(1, ${DIM + 1}), i -> CAST(embedding[i] AS DOUBLE)) AS fv,
        |      list_transform(range(1, ${MRL_DIM + 1}), i -> CAST(embedding[i] AS DOUBLE)) AS tv
        |    FROM embeddings),
        |p AS (SELECT vec_id AS p, fv AS pfv, tv AS ptv FROM v
        |      WHERE vec_id % 100 = 0 AND vec_id < $PQ_PROBE_CAP),
        |ax AS (SELECT p.p, v.vec_id, ${l2("ptv", "tv", MRL_DIM)} AS d2
        |       FROM v JOIN p ON v.vec_id <> p.p),
        |ab AS (SELECT p, vec_id,
        |         row_number() OVER (PARTITION BY p ORDER BY d2, vec_id) AS rn FROM ax),
        |ex AS (SELECT p.p, v.vec_id, ${l2("pfv", "fv", DIM)} AS d2
        |       FROM v JOIN p ON v.vec_id <> p.p),
        |eb AS (SELECT p, vec_id,
        |         row_number() OVER (PARTITION BY p ORDER BY d2, vec_id) AS rn FROM ex)
        |SELECT a.p AS probe_id, a.vec_id AS mrl_nn, b.vec_id AS exact_nn,
        |       CAST(a.vec_id = b.vec_id AS BIGINT) AS hit
        |FROM (SELECT * FROM ab WHERE rn = 1) a
        |JOIN (SELECT * FROM eb WHERE rn = 1) b ON a.p = b.p
        |ORDER BY probe_id""".stripMargin
    },
    "x_cosine" ->
      s"""WITH p AS MATERIALIZED (SELECT vec_id AS probe_id,
        |       ${edSql("embedding")} AS ped, ${normD("ped")} AS pnrm
        |       FROM embeddings WHERE vec_id < $PROBE_CAP),
        |c AS MATERIALIZED (SELECT vec_id AS cand_id,
        |       ${edSql("embedding")} AS ced, ${normD("ced")} AS cnrm
        |       FROM embeddings),
        |pairs AS (
        |  SELECT probe_id, ${dotD("ped", "ced")} / (pnrm * cnrm) AS sim
        |  FROM p JOIN c ON probe_id <> cand_id)
        |SELECT probe_id AS vec_id, ${detRound4Sql("max(sim)")} AS max_sim
        |FROM pairs GROUP BY probe_id ORDER BY vec_id""".stripMargin,
    "x_knn" ->
      s"""WITH p AS MATERIALIZED (SELECT vec_id AS probe_id,
        |       ${edSql("embedding")} AS ped, ${normD("ped")} AS pnrm
        |       FROM embeddings WHERE vec_id < $KNN_CAP),
        |c AS MATERIALIZED (SELECT vec_id AS cand_id,
        |       ${edSql("embedding")} AS ced, ${normD("ced")} AS cnrm
        |       FROM embeddings),
        |pairs AS (
        |  SELECT probe_id, cand_id,
        |         ${dotD("ped", "ced")} / (pnrm * cnrm) AS sim
        |  FROM p JOIN c ON probe_id <> cand_id),
        |r AS (SELECT probe_id, cand_id, sim,
        |             CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank
        |      FROM pairs)
        |SELECT probe_id AS vec_id, cand_id, rank, ${detRound4Sql("sim")} AS sim
        |FROM r WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,
    "x_lshknn" ->
      s"""$lshMtPrefix
        |SELECT probe_id AS vec_id, cand_id, ${detRound4Sql("sim")} AS sim
        |FROM r WHERE rank = 1 ORDER BY vec_id""".stripMargin,
    "x_embdup" ->
      s"""$lshMtPrefix
        |SELECT probe_id AS vec_id, cand_id, ${detRound4Sql("sim")} AS sim
        |FROM r WHERE rank = 1 AND sim > 0.3 ORDER BY vec_id""".stripMargin,
    "x_lsh_recall" ->
      s"""$lshMtPrefix,
        |ann1 AS (SELECT probe_id, cand_id AS ann_cand FROM r
        |         WHERE rank = 1 AND probe_id < $PROBE_CAP),
        |$recallSuffixSql""".stripMargin,
    "x_ivf_recall" ->
      s"""$ivfAsgnPrefix,
        |pairs AS (SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
        |    ${dotD("a.ed", "b.ed")} / (a.nrm * b.nrm) AS sim
        |  FROM (SELECT * FROM asgn WHERE vec_id < $PROBE_CAP) a
        |  JOIN asgn b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |r AS (SELECT probe_id, cand_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rank
        |      FROM pairs),
        |ann1 AS (SELECT probe_id, cand_id AS ann_cand FROM r
        |         WHERE rank = 1),
        |$recallSuffixSql""".stripMargin,
    "x_regex_tokens" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            w -> length(w) > 0)) AS BIGINT) AS n_regex_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_multimodal" ->
      s"""SELECT doc_id, lang,
        |       CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
        |       CAST(label AS BIGINT) AS label,
        |       ${detRound4Sql(normSql("embedding"))} AS vec_norm
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,
    "x_frames" ->
      """WITH t AS (SELECT doc_id, octet_length(encode(text)) AS bl FROM documents),
        |c AS (SELECT doc_id, bl, CAST(ceil(bl / 64.0) AS BIGINT) AS chunks FROM t)
        |SELECT doc_id, CAST((chunks + 1) // 2 AS BIGINT) AS n_frames,
        |       CAST(CASE WHEN (chunks - 1) % 2 = 0
        |            THEN 64 * ((chunks + 1) // 2 - 1) + (bl - 64 * (chunks - 1))
        |            ELSE 64 * ((chunks + 1) // 2) END AS BIGINT) AS sampled_bytes
        |FROM c WHERE chunks > 0 ORDER BY doc_id""".stripMargin,
    "x_semdedup_probe" ->
      s"""WITH RECURSIVE cent0 AS (SELECT vec_id AS cent_id, embedding AS cvec
        |              FROM embeddings WHERE vec_id < $KMEANS_K),
        |${refineSql("cent0", "k1", 1)},
        |${refineSql("k1", "k2", 2)},
        |${refineSql("k2", "k3", 3)},
        |${scoredSql("k3", "sp")},
        |probes AS (SELECT vec_id, ed, nrm, cent_id AS cell FROM sp WHERE rk <= $IVF_NPROBE),
        |homes AS (SELECT vec_id, ed, nrm, cent_id AS cell FROM sp WHERE rk = 1),
        |${capIdsSql("homes", "cph")},
        |pn AS MATERIALIZED (SELECT vec_id, cell, ed, nrm FROM probes),
        |hn AS MATERIALIZED (SELECT h.vec_id, h.cell, h.ed, h.nrm
        |      FROM homes h JOIN cph USING (vec_id)),
        |cand AS MATERIALIZED (SELECT DISTINCT least(p.vec_id, h.vec_id) AS doc_a,
        |                greatest(p.vec_id, h.vec_id) AS doc_b
        |  FROM pn p JOIN hn h USING (cell)
        |  WHERE p.vec_id <> h.vec_id
        |    AND ${dotD("p.ed", "h.ed")} / (p.nrm * h.nrm) > $SEMDEDUP_PROBE_TAU),
        |und AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
        |        UNION SELECT doc_b, doc_a FROM cand),
        |reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |minr AS (SELECT a AS vec_id, least(a, min(b)) AS cluster
        |         FROM reach GROUP BY a)
        |SELECT e.vec_id,
        |       CAST(coalesce(m.cluster, e.vec_id) AS BIGINT) AS cluster,
        |       CAST(CASE WHEN coalesce(m.cluster, e.vec_id) = e.vec_id
        |            THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM embeddings e LEFT JOIN minr m USING (vec_id)
        |ORDER BY vec_id""".stripMargin,
    "x_semdedup_incremental" ->
      s"""WITH bse AS MATERIALIZED (SELECT * FROM embeddings WHERE vec_id % 4 <> 0),
        |dlt AS MATERIALIZED (SELECT * FROM embeddings WHERE vec_id % 4 = 0),
        |cent0 AS (SELECT vec_id AS cent_id, embedding AS cvec
        |          FROM bse ORDER BY vec_id LIMIT $KMEANS_K),
        |${refineSql("cent0", "k1", 1, "bse")},
        |${refineSql("k1", "k2", 2, "bse")},
        |${refineSql("k2", "k3", 3, "bse")},
        |${asgnSql("k3", "bi", "bse")},
        |${capIdsSql("bi", "cpb")},
        |${scoredSql("k3", "dp", "dlt")},
        |pr AS (SELECT vec_id, ed, nrm, cent_id AS cell FROM dp
        |       WHERE rk <= $IVF_NPROBE),
        |prn AS MATERIALIZED (SELECT vec_id, cell, ed, nrm FROM pr),
        |bin AS MATERIALIZED (SELECT h.vec_id, h.cell, h.ed, h.nrm
        |      FROM bi h JOIN cpb USING (vec_id)),
        |hits AS (SELECT p.vec_id, h.vec_id AS base_id
        |  FROM prn p JOIN bin h USING (cell)
        |  WHERE ${dotD("p.ed", "h.ed")} / (p.nrm * h.nrm) > $SEMDEDUP_PROBE_TAU)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_base_matches,
        |       min(base_id) AS first_match
        |FROM hits GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "x_byte_features" ->
      """WITH i AS (SELECT doc_id, text,
        |        CAST(unnest(range(1, length(text) + 1)) AS BIGINT) AS p
        |      FROM documents),
        |b AS (SELECT doc_id,
        |        (ord(substr(text, CAST(p AS INT), 1)) * 16) // 256 AS bin
        |      FROM i)
        |SELECT doc_id, CAST(bin AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY doc_id, bin ORDER BY doc_id, bin""".stripMargin,
    "x_frames_asof" ->
      s"""WITH t0 AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0 FROM events),
        |d AS (SELECT doc_id,
        |        CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS chunks
        |      FROM documents),
        |idx AS (SELECT doc_id, CAST(unnest(range(0, chunks)) AS BIGINT) AS frame_idx
        |        FROM d),
        |f AS (SELECT doc_id, frame_idx, doc_id % 50 AS u,
        |        t0.t0 + frame_idx * 3600000000 AS fts
        |      FROM idx, t0 WHERE frame_idx % 2 = 0),
        |e AS (SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS ets,
        |        arg_max(value, event_id) AS v
        |      FROM events WHERE user_id < 50 GROUP BY 1, 2)
        |SELECT f.doc_id, f.frame_idx,
        |       ${detRound4Sql("e.v")} AS last_event_value
        |FROM f ASOF LEFT JOIN e ON f.u = e.u AND f.fts >= e.ets
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "x_binary" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin)

  /** The skew-join-mode twins are result-identical by contract
    * ([[Dedup.gramDupFlag]]'s two modes), so they share their
    * default-mode siblings' oracles — the CORRECTNESS gate itself then
    * proves mode-invariance on the real fixture, not just the spec's
    * planted corpus. */
  val oracle: Map[String, String] = oracleBase ++ Map(
    "x_dedup_cut_skewjoin" -> oracleBase("x_dedup_cut"),
    "x_dupgrams_skewjoin" -> oracleBase("x_dupgrams"),
    "x_substr_spans_skewjoin" -> oracleBase("x_substr_spans"),
    "x_substr_cut_skewjoin" -> oracleBase("x_substr_cut"),
    "x_containment_skewjoin" -> oracleBase("x_containment"),
    // Bloom pre-filter + exact verify is result-identical to the exact
    // join alone (no false negatives), so the twin shares the oracle.
    "x_decontam_bloom" -> oracleBase("x_decontam"))
}
