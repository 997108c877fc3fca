package graft.streaming

import graft.functions.Text
import graft.operators.{Dedup, Sampling}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The streaming CURATION INGEST pipeline — the day-to-day 100 TB shape
  * of the curate matrix, end to end in ONE streaming query: an arriving
  * document stream passes the (stateless) quality gate, probes the
  * benchmark eval-gram set and the kept corpus's stored band index, and
  * the survivors chunk into training windows. The streaming twin of
  * `x_curate_incremental` (reference dataflow: the connector's
  * transform-per-batch loop, cses2humio app.py:100-150, generalized
  * from event shipping to corpus curation).
  *
  * Dataflow (all joins stream-static — state never scales with the
  * corpus, only with the watermark):
  *
  *  1. gate: a caller-supplied boolean column over the doc row —
  *     stateless filter, no shuffle.
  *  2. decontam probe: the doc's word `decontamGram`-shingles LEFT SEMI
  *     join the static eval-gram set — any hit is a verdict row.
  *  3. dup probe: the doc's MinHash band rows ([[Dedup.bandRows]]) LEFT
  *     SEMI join the static stored band index — any hit is a verdict
  *     row. The base corpus appears ONLY through its durable index
  *     (bucketed parquet in production), never re-paired.
  *  4. ONE windowed aggregation folds the verdict rows per doc:
  *     `max(bad)` decides, `first(text)` carries the payload (exactly
  *     one base row per gated doc supplies it). Append mode — a doc's
  *     verdict emits when the watermark passes its window, and
  *     at-least-once redelivery collapses inside the aggregate (a
  *     redelivered doc adds duplicate verdict rows, same max/first).
  *  5. survivors chunk ([[Sampling.chunked]]) — stateless explode.
  *
  * This is the single-stateful-operator formulation: quarantine rows
  * UNION into the verdict aggregate rather than anti-joining the doc
  * stream against a second stream (stream-stream anti joins don't
  * exist, and a per-channel dedup would triple the state). State per
  * in-flight doc is its text + flag, expired by the watermark.
  *
  * Watermark gotcha (spec-pinned): Catalyst pushes filters below
  * `EventTimeWatermark`, so a watermark-advancing sentinel document
  * must PASS the gate or it advances nothing.
  *
  * Output: (doc_id, chunk, n_tok, chunk_text) of kept docs, append
  * mode. For the quarantine channel route [[streamingCurateVerdicts]]
  * (bad = 1 rows) to a quarantine sink instead.
  */
object Curation {

  /** Shared front of the three ingest pipelines: the watermarked gated
    * stream (all caller columns preserved), its payload base channel
    * (one row per gated doc, bad = 0), and the eval-gram contamination
    * channel (flag-only rows, bad = 1). One definition so a decontam
    * or watermark fix lands once.
    */
  private def gateAndDecontam(stream: DataFrame, gate: Column,
                              evalGrams: DataFrame, decontamGram: Int,
                              watermark: String)
      : (DataFrame, DataFrame, DataFrame) = {
    require(stream.isStreaming,
      "the streaming curation pipelines need a streaming DataFrame — " +
        "use the batch curate queries otherwise")
    require(!evalGrams.isStreaming,
      "the eval-gram set must be a static DataFrame")
    val gated = stream.withWatermark("ts", watermark).where(gate)
    val toks = Text.tokens(col("text"))
    val base = gated.select(col("doc_id"), col("ts"), col("text"),
      lit(0).as("bad"))
    val contam = gated
      .select(col("doc_id"), col("ts"),
        explode(Text.shinglesNative(toks, decontamGram)).as("gram"))
      .join(evalGrams.select("gram"), Seq("gram"), "left_semi")
      .select(col("doc_id"), col("ts"),
        lit(null).cast("string").as("text"), lit(1).as("bad"))
    (gated, base, contam)
  }

  /** Per-doc curation verdicts: (window, doc_id, bad, text), bad = 1
    * iff the doc hit the eval-gram set or the stored band index. The
    * composition point: [[streamingCurateIngest]] keeps bad = 0 and
    * chunks; a quarantine writer keeps bad = 1.
    */
  def streamingCurateVerdicts(stream: DataFrame, gate: Column,
                              evalGrams: DataFrame, bandIndex: DataFrame,
                              numPerms: Int, rowsPerBand: Int,
                              decontamGram: Int = 4,
                              windowWidth: String = "1 minute",
                              watermark: String = "10 minutes"): DataFrame = {
    require(!bandIndex.isStreaming,
      "the band index must be a static DataFrame")
    val (gated0, base, contam) =
      gateAndDecontam(stream, gate, evalGrams, decontamGram, watermark)
    val gated = gated0.select("doc_id", "ts", "text")
    val dup = Dedup.bandRows(gated, col("text"), numPerms, rowsPerBand)
      .join(bandIndex.select("band", "key"), Seq("band", "key"), "left_semi")
      .select(col("doc_id"), col("ts"),
        lit(null).cast("string").as("text"), lit(1).as("bad"))
    base.unionByName(contam).unionByName(dup)
      .groupBy(window(col("ts"), windowWidth), col("doc_id"))
      .agg(max(col("bad")).as("bad"),
        first(col("text"), ignoreNulls = true).as("text"))
  }

  /** The streaming EXACT-SUBSTRING curation ingest — the streaming twin
    * of `x_curate_exact_incremental`: gate → decontam → ESD cut against
    * the kept corpus's stored distinct-gram index → half-dup drop →
    * chunk, in one query. The same single-stateful-operator design as
    * [[streamingCurateVerdicts]], with a third verdict channel carrying
    * the doc's DUPLICATED SPAN STARTS (its `esdGram`-shingles LEFT SEMI
    * the static gram index, position riding through the semi join); the
    * windowed aggregate collects them per doc (state = text + span
    * list, bounded by the doc's own gram count and the watermark), and
    * the cut itself is a stateless post-aggregation expression — token
    * p is removed iff some collected span s covers it (p ∈ [s,
    * s+esdGram−1]; the batch path's island merge is only an
    * optimization of the same predicate, so kept text matches
    * [[Dedup.substrCutAgainstIndex]] exactly). Docs at least half cut
    * drop (the base HAS their content); survivors chunk.
    */
  def streamingCurateExactIngest(stream: DataFrame, gate: Column,
                                 evalGrams: DataFrame, gramIndex: DataFrame,
                                 esdGram: Int, chunkBudget: Int,
                                 decontamGram: Int = 4,
                                 windowWidth: String = "1 minute",
                                 watermark: String = "10 minutes"): DataFrame = {
    require(!gramIndex.isStreaming,
      "the ESD gram index must be a static DataFrame")
    // the batch twin (Dedup.explodeGrams) rejects gram < 2 — mirror it
    // so the documented batch agreement is checkable for every input
    require(esdGram >= 2, s"streamingCurateExactIngest: esdGram must be >= 2, got $esdGram")
    val (gated0, base4, contam4) =
      gateAndDecontam(stream, gate, evalGrams, decontamGram, watermark)
    val gated = gated0.select("doc_id", "ts", "text")
    val toks = Text.tokens(col("text"))
    val nullS = lit(null).cast("long").as("s")
    val nullText = lit(null).cast("string").as("text")
    val base = base4.select(col("doc_id"), col("ts"), col("text"),
      col("bad"), nullS)
    val contam = contam4.select(col("doc_id"), col("ts"), col("text"),
      col("bad"), nullS)
    val spans = gated.where(size(toks) >= esdGram)
      .select(col("doc_id"), col("ts"),
        posexplode(Text.shinglesNative(toks, esdGram)).as(Seq("p0", "gtext")))
      .select(col("doc_id"), col("ts"), col("gtext"),
        (col("p0") + 1).cast("long").as("s"))
      .join(gramIndex.select("gtext"), Seq("gtext"), "left_semi")
      .select(col("doc_id"), col("ts"), nullText, lit(0).as("bad"), col("s"))
    val agg = base.unionByName(contam).unionByName(spans)
      .groupBy(window(col("ts"), windowWidth), col("doc_id"))
      .agg(max(col("bad")).as("bad"),
        first(col("text"), ignoreNulls = true).as("text"),
        collect_list(col("s")).as("spans"))
      .where(col("bad") === 0)
    val toks2 = Text.tokens(col("text"))
    val cut = agg
      .select(col("doc_id"), col("spans"),
        filter(transform(toks2, (t, i) =>
            struct((i + 1).cast("long").as("pos"), t.as("tok"))),
          x => !exists(col("spans"),
            sp => x("pos").between(sp, sp + esdGram - 1))).as("kept"),
        size(toks2).cast("long").as("n_tokens"))
      .withColumn("n_cut", col("n_tokens") - size(col("kept")))
      .where(col("n_cut") * 2 < col("n_tokens"))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("kept"), x => x("tok"))).as("text"))
    Sampling.chunked(cut, col("text"), chunkBudget)
  }

  /** The streaming SEMANTIC curation ingest — the streaming twin of
    * `x_curate_semantic_incremental`, completing the streaming curate
    * trio (fuzzy band index / exact gram index / embedding cell index):
    * gate → decontam → semantic quarantine against the kept corpus's
    * STORED cell index → chunk. The stream must carry `doc_id`, `ts`,
    * `text`, AND `embedding`; the semantic channel is
    * [[graft.operators.Knn]]'s stateless probe core (codebook collected
    * to literals at plan time — k codegen'd dot products per row, no
    * stream-side shuffle before the static join), unioned as verdict
    * rows into the same single windowed aggregate. A null embedding
    * passes the semantic stage untouched (nothing to compare — the
    * batch twin's convention).
    */
  def streamingCurateSemanticIngest(stream: DataFrame, gate: Column,
                                    evalGrams: DataFrame,
                                    cellIndex: DataFrame, centroids: DataFrame,
                                    dim: Int, tau: Double, nprobe: Int,
                                    cellCap: Int, chunkBudget: Int,
                                    decontamGram: Int = 4,
                                    windowWidth: String = "1 minute",
                                    watermark: String = "10 minutes"): DataFrame = {
    require(!cellIndex.isStreaming && !centroids.isStreaming,
      "the cell index and codebook must be static DataFrames")
    val (gated0, base, contam) =
      gateAndDecontam(stream, gate, evalGrams, decontamGram, watermark)
    val gated = gated0.select("doc_id", "ts", "text", "embedding")
    val nullText = lit(null).cast("string").as("text")
    val sem = graft.operators.Knn.streamingProbeCellHits(
        gated.select(col("doc_id").as("vec_id"), col("ts"), col("embedding")),
        cellIndex, centroids, dim, tau, nprobe, cellCap)
      .select(col("vec_id").as("doc_id"), col("ts"), nullText, lit(1).as("bad"))
    val kept = base.unionByName(contam).unionByName(sem)
      .groupBy(window(col("ts"), windowWidth), col("doc_id"))
      .agg(max(col("bad")).as("bad"),
        first(col("text"), ignoreNulls = true).as("text"))
      .where(col("bad") === 0)
      .select("doc_id", "text")
    Sampling.chunked(kept, col("text"), chunkBudget)
  }

  /** The kept-side pipeline: gate → decontam → dup quarantine → chunk.
    * See the object scaladoc for the dataflow and state contract.
    */
  def streamingCurateIngest(stream: DataFrame, gate: Column,
                            evalGrams: DataFrame, bandIndex: DataFrame,
                            numPerms: Int, rowsPerBand: Int,
                            chunkBudget: Int,
                            decontamGram: Int = 4,
                            windowWidth: String = "1 minute",
                            watermark: String = "10 minutes"): DataFrame = {
    val kept = streamingCurateVerdicts(stream, gate, evalGrams, bandIndex,
        numPerms, rowsPerBand, decontamGram, windowWidth, watermark)
      .where(col("bad") === 0)
      .select("doc_id", "text")
    Sampling.chunked(kept, col("text"), chunkBudget)
  }

  /** The STREAMING source-gate state — the online face of
    * x_source_gate's per-source reputation: ONE stateful windowed
    * aggregate keyed by (event-time window, doc_id), carrying the
    * doc's source, weight, and per-class failure flags with
    * idempotent merges (first/max — at-least-once redelivery re-hits
    * the same key with identical values, the [[streamingCurateVerdicts]]
    * discipline). The flags are caller-supplied STATELESS columns
    * (quality predicate, stored-index dup verdict, broadcast eval-gram
    * contamination), so the stream side never grows state beyond the
    * in-flight docs under the watermark; the per-source decision is
    * [[finishSourceGate]], stateless over this bounded state.
    */
  def streamingSourceState(stream: DataFrame, width: String, delay: String,
                           qfail: Column, dup: Column, contam: Column,
                           weight: Column): DataFrame =
    stream.withWatermark("ts", delay)
      .groupBy(window(col("ts"), width).as("win"), col("doc_id"))
      .agg(first(col("source")).as("source"),
        max(qfail.cast("long")).as("qfail"),
        max(dup.cast("long")).as("dup"),
        max(contam.cast("long")).as("contam"),
        first(weight.cast("long")).as("w"))

  /** Per-window source verdicts over [[streamingSourceState]] output
    * (or its batch twin): aggregate to the bounded
    * (window × source) stats relation, then apply the SAME 2σ binomial
    * outlier rule as the batch gate
    * ([[graft.queries.PipelineQueries.sourceOutlier]]) with per-window
    * totals via windows over the bounded relation. Output:
    * (wstart, source, n_docs, dup_cnt, contam_cnt, qfail_cnt, keep).
    */
  def finishSourceGate(state: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = state
      .groupBy(unix_millis(col("win.start")).as("wstart"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum("w").as("sum_w"),
        sum("dup").as("dup_cnt"), sum("contam").as("contam_cnt"),
        sum("qfail").as("qfail_cnt"))
    val wW = Window.partitionBy("wstart")
    val out = graft.queries.PipelineQueries.sourceOutlier _
    stats
      .withColumn("ntot", sum("n_docs").over(wW))
      .withColumn("dtot", sum("dup_cnt").over(wW))
      .withColumn("ctot", sum("contam_cnt").over(wW))
      .withColumn("qtot", sum("qfail_cnt").over(wW))
      .withColumn("keep",
        (!out(col("dup_cnt"), col("n_docs"), col("dtot"), col("ntot")) &&
          !out(col("contam_cnt"), col("n_docs"), col("ctot"), col("ntot")) &&
          !out(col("qfail_cnt"), col("n_docs"), col("qtot"), col("ntot")))
          .cast("bigint"))
      .select("wstart", "source", "n_docs", "dup_cnt", "contam_cnt",
        "qfail_cnt", "keep")
  }
}
