package graft

import graft.queries.PipelineQueries
import org.apache.spark.sql.functions._

/** Semantics of the curation-gate pack (decontamination, PII scrub,
  * repetition signals, BM25) the hash oracle can't force: exclusion
  * invariants, full-redaction, and score/ratio bounds.
  */
class CurationGateSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("decontamination never flags the benchmark slice itself") {
    val out = PipelineQueries.xDecontam(spark, dir).cache()
    val evalLeak = out.where(col("doc_id") % 50 === 0).count()
    assert(evalLeak == 0, "eval-slice docs must not appear as training hits")
    // every reported overlap is a positive distinct-gram count
    assert(out.where(col("n_overlap") < 1).count() == 0)
    out.unpersist()
  }

  test("bloom decontam twin is bit-identical; the bitmap actually prunes") {
    import graft.functions.{Bloom, BloomOr}
    // result-identical to the exact gate (the shared-oracle contract)
    val exact = PipelineQueries.xDecontam(spark, dir).collect().toSeq
    val bloom = PipelineQueries.xDecontamBloom(spark, dir, Bloom.Default).collect().toSeq
    assert(exact == bloom, "bloom pre-filter must not change the result")

    // no false negatives at the bloom layer: every inserted gram probes true
    val docs = Tables.documents(spark, dir)
    def grams(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
      explode(graft.functions.Text.shinglesNative(
        graft.functions.Text.tokens(col("text")), 4)).as("gram"))
    val evalGrams = grams(docs.where(col("doc_id") % 50 === 0))
      .select("gram").distinct().cache()
    val bp = Bloom.Default
    val bitmap = evalGrams.select(
      udaf(BloomOr(bp.words)).apply(Bloom.positions(col("gram"), bp)).as("bloom"))
    val misses = evalGrams.crossJoin(broadcast(bitmap))
      .where(!Bloom.mightContain(col("bloom"), col("gram"), bp)).count()
    assert(misses == 0, "a Bloom filter has zero false negatives")

    // and it prunes: planted non-member grams mostly probe false
    // (m=2^20 bits, k=5, n ~ hundreds -> fp rate should be tiny)
    val probes = spark.range(10000)
      .select(concat(lit("nonmember-gram-"), col("id")).as("gram"))
    val fp = probes.crossJoin(broadcast(bitmap))
      .where(Bloom.mightContain(col("bloom"), col("gram"), bp)).count()
    assert(fp < 100, s"false-positive rate too high: $fp / 10000")
    evalGrams.unpersist()
  }

  test("resized or saturated bloom filters keep the exact answer") {
    import graft.functions.{Bloom, BloomParams}
    val exact = PipelineQueries.xDecontam(spark, dir).collect().toSeq

    // non-default LARGER size: still bit-identical, still prunes
    val big = PipelineQueries.xDecontamBloom(spark, dir, BloomParams(1L << 22, 7))
      .collect().toSeq
    assert(big == exact, "resized filter must not change the result")

    // pathologically UNDERSIZED: 2^8 bits saturates on hundreds of
    // grams (ε ~ 1) — the pre-filter passes everything through and
    // the exact join still restores the identical answer
    val saturated = BloomParams(1L << 8, 5)
    assert(saturated.expectedFp(500L) > 0.99,
      "2^8 bits on 500 keys should be saturated by the ε formula")
    val small = PipelineQueries.xDecontamBloom(spark, dir, saturated).collect().toSeq
    assert(small == exact, "saturated filter must degrade to pass-through")

    // sizing maths: the scaladoc's 10^8-gram case really is saturated at
    // the default size, and the formula-sized filter is not
    assert(Bloom.Default.expectedFp(100000000L) > 0.999)
    assert(BloomParams(1L << 30, 7).expectedFp(100000000L) < 0.02)
    intercept[IllegalArgumentException] { BloomParams(100, 5) }
    intercept[IllegalArgumentException] { BloomParams(1L << 20, 0) }
    // the 2^34 cap guards the words-as-Int overflow at 2^37
    intercept[IllegalArgumentException] { BloomParams(1L << 37, 5) }
  }

  test("PII scrub removes every planted pattern and counts it") {
    val out = PipelineQueries.xPiiScrub(spark, dir).cache()
    val n = out.count()
    assert(n > 0)
    // the planted email and IP are gone from every redacted row...
    val residue = out.where(
      regexp_count(col("redacted"), lit("[a-z0-9]+@[a-z0-9]+\\.[a-z]+")) > 0 ||
      regexp_count(col("redacted"), lit("\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}")) > 0)
      .count()
    assert(residue == 0, "redacted text must contain no residual PII match")
    // ...and the counters saw at least the planted instances
    assert(out.where(col("n_emails") < 1 || col("n_ips") < 1).count() == 0)
    assert(out.where(!col("redacted").contains("<EMAIL>") ||
      !col("redacted").contains("<IP>")).count() == 0)
    out.unpersist()
  }

  test("repetition signals stay in-range; constructed dup doc maxes out") {
    val out = PipelineQueries.xRepetition(spark, dir).cache()
    assert(out.count() > 0)
    assert(out.where(col("dup3_frac") < 0 || col("dup3_frac") > 1).count() == 0)
    assert(out.where(col("top_word_frac") <= 0 || col("top_word_frac") > 1).count() == 0)
    assert(out.where(col("word_entropy") < 0).count() == 0)
    out.unpersist()
    // a fully repetitive doc: every trigram identical → dup3_frac 1-1/n,
    // entropy 0, top_word_frac 1 (the Gopher filter's target shape)
    val one = Seq((0L, Array.fill(10)("spam").mkString(" ")))
      .toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val g3 = graft.functions.Text.shingles(toks, 3)
    val r = one.select(
      (lit(1.0) - size(array_distinct(g3)).cast("double") / size(g3)).as("dup"),
      size(g3).as("n")).head()
    assert(r.getAs[Int]("n") == 8 && math.abs(r.getAs[Double]("dup") - 7.0 / 8) < 1e-9)
  }

  test("decontaminated curation excludes flagged docs and the eval slice") {
    val out = PipelineQueries.xCurateClean(spark, dir).cache()
    assert(out.count() > 0)
    assert(out.where(col("doc_id") % 50 === 0).count() == 0,
      "benchmark docs never reach the training set")
    val flagged = PipelineQueries.xDecontam(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val leaked = out.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet.intersect(flagged)
    assert(leaked.isEmpty, s"contaminated docs leaked: $leaked")
    out.unpersist()
  }

  test("vocabulary coverage is monotone, bounded, ranked 1..20") {
    val rows = PipelineQueries.xVocabCoverage(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to 20L))
    val shares = rows.map(_.getAs[Double]("cum_share")).toSeq
    assert(shares == shares.sorted, "cumulative share must be monotone")
    assert(shares.last <= 1.0 && shares.head > 0.0)
    val cnts = rows.map(_.getAs[Long]("cnt")).toSeq
    assert(cnts == cnts.sortBy(-_), "ranked by descending count")
  }

  test("x_curate_exact's dedup stage: ESD cut + half rule = keep-first on twins") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    // the fixture corpus has NO verbatim twins (its duplication is
    // span-level), so the subsumption claim is proven synthetically:
    // the later verbatim copy is one full-doc duplicated span, fully
    // cut, and the >50% rule drops it — keep-first exact dedup
    val twin = "one two three four five six seven eight nine"
    val d = Seq((1L, twin), (2L, twin),
      (3L, "ten eleven twelve thirteen fourteen fifteen sixteen"))
      .toDF("doc_id", "text")
    val survivors = Dedup.substrCut(d, col("text"), 6)
      .where(col("n_cut") * 2 < col("n_tokens"))
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 3L),
      s"first copy and the unique doc survive, the twin drops: $survivors")
  }

  test("source gate: each failure class triggers its own 2-sigma outlier drop") {
    import spark.implicits._
    // 10 clean sources at the base rates, plus one outlier per class;
    // columns mirror sourceStats: (source, n_docs, sum_w, dup, contam, qfail)
    val base = (0 until 10).map(i => (s"ok$i", 1000L, 50000L, 10L, 10L, 10L))
    val stats = (base ++ Seq(
      ("dup_farm", 1000L, 50000L, 200L, 10L, 10L),
      ("contam_farm", 1000L, 50000L, 10L, 200L, 10L),
      ("junk_farm", 1000L, 50000L, 10L, 10L, 200L)))
      .toDF("source", "n_docs", "sum_w", "dup_cnt", "contam_cnt", "qfail_cnt")
    val keep = PipelineQueries.sourceVerdicts(stats)
      .select("source", "keep").as[(String, Long)].collect().toMap
    assert((0 until 10).forall(i => keep(s"ok$i") == 1L),
      s"base-rate sources must pass: $keep")
    assert(keep("dup_farm") == 0L && keep("contam_farm") == 0L &&
      keep("junk_farm") == 0L,
      s"each outlier class must drop its source independently: $keep")
    // a uniformly-bad corpus has NO outliers — the gate is relative by
    // design (an absolute budget is scale-dependent; see scaladoc)
    val uniform = (0 until 10).map(i => (s"u$i", 1000L, 50000L, 300L, 300L, 300L))
      .toDF("source", "n_docs", "sum_w", "dup_cnt", "contam_cnt", "qfail_cnt")
    val uk = PipelineQueries.sourceVerdicts(uniform)
      .select("source", "keep").as[(String, Long)].collect()
    assert(uk.forall(_._2 == 1L), "uniform badness is not an outlier")
  }

  test("BM25 scores exactly the docs containing a query term, positively") {
    val out = PipelineQueries.xBm25(spark, dir).cache()
    val expected = Tables.documents(spark, dir)
      .where(col("text").rlike("(^| )(query|join|fast)( |$)"))
      .count()
    assert(out.count() == expected,
      "one score per doc containing >=1 query term")
    assert(out.where(col("bm25") <= 0).count() == 0,
      "idf = ln(1 + x) with x > 0 is strictly positive")
    out.unpersist()
  }
}
