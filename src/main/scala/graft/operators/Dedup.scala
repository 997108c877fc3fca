package graft.operators

import graft.expressions.{ShingleMinHash, ShinglePermMinHash, SimHash64}
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication family for the training-data pipeline: exact
  * (content hash), MinHash+LSH (near-dup candidates), and n-gram Jaccard
  * verification.
  *
  * Scale shape: exact dedup is one hash-groupBy (map-side partial, tiny
  * shuffle). MinHash/LSH turns the O(n²) near-dup problem into
  * (a) per-row signature computation — narrow, codegen'd — and (b) an
  * equi-join on (band, signature) buckets — shuffle proportional to data,
  * not pairs. Only candidate pairs (bucket collisions) pay the exact
  * Jaccard verification. This is the standard shape that survives 100 TB;
  * nothing here ever materializes the pair matrix.
  */
object Dedup {

  /** The canonical positional-gram relation per (corpus, gram) — every
    * token of every doc exploded to its `k`-word shingles (a short
    * doc's single whole-text gram included). Deliberately UNSTAGED: the
    * codegen'd explode re-runs cheaper than a corpus-sized checkpoint
    * reads back (measured at sf0.1 — staging this relation regressed
    * every window-mode consumer ~25%); [[gramDupFlag]]'s join mode
    * stages it itself for its two consumers, and the memo then shares
    * the staged copy across the `_skewjoin` twins.
    */
  def posGrams(docs: DataFrame, text: Column, k: Int): DataFrame = {
    docs.select(col("doc_id"), posexplode(
      Text.shinglesNative(Text.tokens(text), k)).as(Seq("pos", "gram")))
  }

  /** Cross-doc duplication flag per gram occurrence: input is
    * (doc_id, pos, gram) rows, output adds `dup` (int 0/1) = "this gram
    * occurs in ≥ 2 distinct docs". Two formulations with IDENTICAL
    * results, selected by `skewSafe`:
    *
    *  - window (`false`, the default): flag each gram row that starts
    *    a new doc in (doc_id, pos) order with a lag window, sum the
    *    flags over the gram partition — distinct-doc count without
    *    count(DISTINCT) (not window-able), and both windows share ONE
    *    gram exchange.
    *    Fastest at tame gram frequencies, but a pathologically hot gram
    *    (cross-corpus boilerplate: license headers, navigation chrome)
    *    lands every occurrence in one task, and window execs cannot be
    *    AQE-split.
    *  - join (`true`): `distinct(gram, doc_id)` partial-aggregates
    *    map-side AND spreads a hot gram across doc_id hash partitions,
    *    `groupBy(gram).count` partial-aggregates again, and the flag
    *    rejoins on gram — a shuffle join AQE skew-split handles. The
    *    input is staged ([[Scale.stage]]) because BOTH the dup-gram
    *    aggregate and the rejoin probe it and their shuffles key
    *    differently (no exchange reuse possible): without staging the
    *    corpus tokenize+shingle explode would run twice. Net cost vs
    *    the window form: one materialization plus one extra shuffle
    *    (measured slower at sf0.1, which is why it is not the
    *    default), but no single-task ceiling: the 100 TB mode for
    *    Zipfian corpora.
    *
    * Both modes return the same (doc_id, pos, gram, dup) column order —
    * callers may bind positionally.
    */
  def gramDupFlag(pos: DataFrame, skewSafe: Boolean = false): DataFrame =
    if (skewSafe) {
      // stage only the BOUNDED dup-gram set (grams in ≥2 docs), not the
      // corpus-sized gram relation: the codegen'd explode re-runs
      // cheaper than a corpus checkpoint reads back (measured at
      // sf0.1), so the flag side re-derives from `pos` while the
      // aggregate side is computed once per session and shared across
      // the skewjoin twins through the stage-memo
      val dupGrams = Scale.stage(pos.select("gram", "doc_id").distinct()
        .groupBy("gram").agg(count(lit(1)).as("__nd"))
        .where(col("__nd") >= 2)
        .select(col("gram"), lit(1).as("__dup")))
      pos.join(dupGrams, Seq("gram"), "left")
        .withColumn("dup", coalesce(col("__dup"), lit(0)))
        .select("doc_id", "pos", "gram", "dup")
    } else {
      val wg = Window.partitionBy("gram").orderBy("doc_id", "pos")
      val wgAll = Window.partitionBy("gram")
      val fd = when(lag("doc_id", 1).over(wg).isNull ||
        lag("doc_id", 1).over(wg) =!= col("doc_id"), 1).otherwise(0)
      pos.withColumn("fd", fd)
        .withColumn("dup", (sum(col("fd")).over(wgAll) >= 2).cast("int"))
        .drop("fd")
    }

  /** Substring-dedup CUT: remove every token covered by a cross-doc
    * duplicated `k`-gram and return the surviving text per doc — the
    * train-on-unique-text transform (the measurement twin is the
    * x_dupgrams duplicated-run profile).
    *
    * Shape: the dup flag (gram in ≥ 2 distinct docs) sees every gram
    * row over ONE gram exchange ([[gramDupFlag]]), but the coverage
    * artifact downstream is BOUNDED — the dup gram rows collapse to
    * merged per-doc islands (staged, the dupOccurrences discipline),
    * and the rebuild joins single tokens against that island set
    * ([[applyIslandCut]]: AQE broadcasts it, the one doc exchange
    * carries token bytes). The earlier formulation shuffled the FULL
    * gram relation a second time with k rolling-max window columns —
    * the ×10 record's 16 s warm pair floor; this shape re-measured
    * 2.2 s at sf1 with identical hashes at both fixture SFs.
    *
    * Invariants: every token appears exactly once (n_tokens = the
    * doc's token count), kept ⊎ cut partitions the positions, and
    * kept_text is the in-order join of uncut tokens. A short doc's
    * single whole-text gram spans s..s+k−1 ⊇ its tokens, so its
    * every-token-cut-iff-dup semantics ride the same island path.
    *
    * Skew note: `skewSafe` passes through to [[gramDupFlag]], selecting
    * the distinct→count→equi-join formulation for Zipfian corpora where
    * a hot boilerplate gram would single-task the default window form.
    *
    * Output: (doc_id, kept_text, n_tokens, n_cut).
    */
  def cutDupSpans(docs: DataFrame, text: Column, k: Int,
                  skewSafe: Boolean = false): DataFrame = {
    require(k >= 2, s"cutDupSpans: k must be >= 2, got $k")
    // token t is cut iff SOME cross-doc-dup gram covers it — which is
    // exactly "t lies in a merged island of the dup gram spans". The
    // dup flag still sees every gram row (it must count distinct docs
    // per gram), but everything DOWNSTREAM of the flag is the bounded
    // dup slice: spans → islands is the dupOccurrences staging shape
    // (11k of 265k gram rows at sf0.1), and the token-side rebuild
    // joins single tokens against it — the per-doc exchange carries
    // token bytes, not k-word gram strings plus k rolling-max window
    // columns (the r10 ×10 record's 16 s warm pair floor; this shape
    // re-measured −45% at sf1 with identical hashes). A short doc's
    // single whole-text gram spans s..s+k-1 ⊇ its tokens, so the
    // every-token-cut-iff-dup semantics ride the same island path.
    val dup = gramDupFlag(posGrams(docs, text, k), skewSafe)
    val islands = Scale.stage(mergeIslands(
      dup.where(col("dup") === 1)
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("s"),
          (col("pos") + k).cast("long").as("e"))))
    applyIslandCut(docs, text, islands)
      .select("doc_id", "kept_text", "n_tokens", "n_cut")
  }

  /** Duplicated-span ISLANDS for exact-substring dedup — the span-level
    * artifact of the ExactSubstr discipline (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * `gram`-word span whose text occurs MORE THAN ONCE in the corpus is
    * duplicated, and per document the overlapping duplicated spans merge
    * into maximal islands (one row per island, 1-based inclusive word
    * positions `s..e`).
    *
    * Differs from [[cutDupSpans]]/[[gramDupFlag]] deliberately: the dup
    * predicate is OCCURRENCE count ≥ 2 (any doc, any position), so a
    * document repeating its own phrase is flagged too (the self-spam
    * signal cross-doc distinct-doc counting is blind to), and the output
    * is the span inventory itself — the artifact an ESD cut pass or a
    * human audit consumes — rather than the cut text.
    *
    * Scale shape: one explode to (doc, pos, gram-text) — linear in
    * corpus tokens; the occurrence count is a whole-partition window
    * over ONE gram-text exchange (default mode — no dup-set join, the
    * explode lineage runs once; `skewSafe` selects the
    * aggregate+join-back formulation for Zipfian corpora, hash-proven
    * identical by the `_skewjoin` twins); island merge is
    * two windows over ONE doc_id exchange. No pair matrix: a gram
    * occurring k times costs k rows, never k².
    */
  def substrIslands(docs: DataFrame, text: Column, gram: Int,
                    skewSafe: Boolean = false): DataFrame =
    mergeIslands(dupGramSpans(docs, text, gram, nonFirstOnly = false, skewSafe))

  /** The ESD CUT itself — dedup, not just measurement: every token
    * covered by a duplicated `gram`-word span whose occurrence is NOT
    * the corpus-first (min (doc_id, s) order) is removed, so exactly
    * one copy of every duplicated substring survives corpus-wide (the
    * keep-one discipline of Lee et al. 2022; [[cutDupSpans]] by
    * contrast cuts ALL covered tokens of cross-doc grams — the
    * train-on-unique-text variant). Returns per doc: token counts, cut
    * counts, and the surviving text rebuilt in order.
    *
    * Shape: the non-first spans reuse the one-gram-exchange window of
    * [[substrIslands]] (the first-occurrence struct rides the SAME
    * window frame as the occurrence count — no second exchange); token
    * marking is a doc_id equi-join with a BETWEEN band against the
    * bounded island set (islands ≤ spans; AQE broadcasts it when
    * small), never a token×token product; the rebuild is the
    * linededup sorted-struct aggregate on one doc exchange. `skewSafe`
    * as in [[substrIslands]].
    */
  def substrCut(docs: DataFrame, text: Column, gram: Int,
                skewSafe: Boolean = false): DataFrame =
    applyIslandCut(docs, text,
      mergeIslands(dupGramSpans(docs, text, gram, nonFirstOnly = true, skewSafe)))

  /** Incremental ESD CUT: remove from the arriving `probes` docs every
    * token covered by a span whose text exists in the kept corpus's
    * STORED distinct-gram index (the base copy survives, so every
    * probe-side occurrence is cut) and rebuild the surviving text — the
    * [[probeSubstrIndex]] islands composed with the [[substrCut]]
    * rebuild. Work is |delta|·grams through one equi-join; the base
    * corpus appears only as its bounded index. Delta-internal
    * duplicates are the NEXT ingest's problem (the probed index then
    * contains them) — the same convention as the banded incremental
    * path ([[probeBandIndex]]).
    */
  def substrCutAgainstIndex(index: DataFrame, probes: DataFrame,
                            text: Column, gram: Int): DataFrame =
    applyIslandCut(probes, text, probeSubstrIndex(index, probes, text, gram))

  /** Token marking + per-doc rebuild shared by the cut variants: mark
    * every token covered by an island, count, and rebuild the uncut
    * text in order. Both sides may derive from the same `docs` lineage —
    * the aliases keep the join attributes unambiguous (no reliance on
    * plan-id self-join disambiguation, no trivially-true-equals WARNs).
    */
  private def applyIslandCut(docs: DataFrame, text: Column,
                             islandSpans: DataFrame): DataFrame = {
    val islands = islandSpans.alias("isl")
    val tokens = docs
      .select(col("doc_id"), posexplode(Text.tokens(text)).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
      .alias("tk")
    // islands are disjoint per doc, so each token matches at most one —
    // the left join IS the cut flag, no dedup aggregate needed
    tokens.join(islands,
        col("tk.doc_id") === col("isl.doc_id") &&
          col("tk.pos").between(col("isl.s"), col("isl.e")), "left")
      .select(col("tk.doc_id").as("doc_id"), col("tk.pos").as("pos"),
        col("tk.tok").as("tok"), col("isl.s").isNotNull.as("cut"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cut"), 1L).otherwise(0L)).as("n_cut"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(!col("cut"),
            struct(col("pos"), col("tok"))))),
          x => x("tok"))).as("kept_text"))
  }

  /** One row per full `gram`-word window: (doc_id, s, gtext), s 1-based.
    * shinglesNative emits ONE whole-doc gram for docs shorter than
    * `gram` words — those are whole-doc exact-dup signals at a different
    * granularity (exactGroups' job), excluded here so every span is a
    * true gram-length window.
    */
  private def explodeGrams(docs: DataFrame, text: Column, gram: Int): DataFrame = {
    require(gram >= 2, s"explodeGrams: gram must be >= 2, got $gram")
    val toks = Text.tokens(text)
    // UNSTAGED like posGrams: the explode is codegen'd and re-runs
    // cheaper than a corpus-sized checkpoint reads back; what gets
    // staged is the BOUNDED dup-occurrence relation derived from it
    // (dupGramSpans), which the spans/cut family then shares.
    docs
      .where(size(toks) >= gram)
      .select(col("doc_id"), posexplode(Text.shinglesNative(toks, gram))
        .as(Seq("p0", "gtext")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("s"), col("gtext"))
  }

  /** The durable ESD gram index of a kept corpus: the DISTINCT gram
    * texts (production writes this `gtext`-bucketed, the
    * [[probeBandIndex]] discipline — probes join it with no index-side
    * shuffle).
    */
  def substrGramIndex(docs: DataFrame, text: Column, gram: Int): DataFrame =
    explodeGrams(docs, text, gram).select("gtext").distinct()

  /** Incremental ESD ingest probe: duplicated-span islands of the
    * arriving `probes` docs against a kept corpus's STORED gram index —
    * a span is duplicated iff its text exists in the base (the base
    * copy is the one that survives, so every probe-side occurrence
    * flags). Work is |delta|·grams through one equi-join; the base
    * corpus appears only through its bounded distinct-gram index and is
    * never re-paired — the x_dedup_incremental discipline at substring
    * granularity.
    */
  def probeSubstrIndex(index: DataFrame, probes: DataFrame, text: Column,
                       gram: Int): DataFrame =
    mergeIslands(
      explodeGrams(probes, text, gram)
        .join(index, Seq("gtext"))
        .select(col("doc_id"), col("s"), (col("s") + (gram - 1)).as("e")))

  /** Asymmetric CONTAINMENT near-dup pairs over `gram`-word shingles:
    * C(a→b) = |rare-grams(a) ∩ grams(b)| / |grams(a)| — the quoted-
    * inside detector. Jaccard dilutes a short doc embedded in a long
    * one (|A∩B|/|A∪B| → small); containment normalizes by the SMALL
    * side, so full embeds score 1.0 regardless of the host's size.
    *
    * Candidate pairs come only from grams shared by 2..`dfCap` docs —
    * the winnow-pairs rare-fingerprint discipline: a boilerplate gram
    * in thousands of docs would emit df² pairs, while every true embed
    * still surfaces through its rare grams (an embedded span's grams
    * have df ≈ 2). Pair volume is bounded by Σ df² over rare grams ≤
    * dfCap · Σ df — linear in gram rows, never corpus². Both the
    * numerator (shared rare grams) and denominator (all grams of a)
    * are defined over DISTINCT per-doc grams; one staged gram relation
    * feeds the per-doc counts, the rare filter, and both join sides.
    */
  def containmentPairs(docs: DataFrame, text: Column, gram: Int,
                       dfCap: Int, skewSafe: Boolean = false): DataFrame = {
    require(dfCap >= 2, s"containmentPairs: dfCap must be >= 2, got $dfCap")
    // ONE corpus lineage, never recomputed. Default mode: per-gram doc
    // frequency via the gramDupFlag lag-flag trick (first row per
    // (gram, doc) flags, sum over the gram partition = distinct-doc
    // count — no distinct pre-shuffle), then the per-doc distinct-gram
    // DENOMINATOR as a doc-partitioned count window over the flagged
    // rows, so the rare k relation carries its own n_grams. Only THAT
    // bounded relation is staged for the self-join (a
    // distinct→count→join-back formulation recomputed the corpus
    // explode on every consumer: measured 24× at 10× data; this shape
    // 1.6×). `skewSafe` selects the aggregate+join-back formulation
    // instead — a Zipfian boilerplate gram would land its every
    // occurrence in one non-splittable window task here; the
    // aggregate path partial-aggregates it map-side and is
    // AQE-splittable (the gramDupFlag trade, the
    // `_skewjoin` twin hash-proves mode-invariance), at the cost of
    // staging the distinct gram relation for its three consumers.
    val k =
      if (skewSafe) {
        val g = Scale.stage(
          explodeGrams(docs, text, gram).select("doc_id", "gtext").distinct())
        val na = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        val rare = g.groupBy("gtext").agg(count(lit(1)).as("df"))
          .where(col("df") >= 2 && col("df") <= dfCap)
          .select("gtext")
        Scale.stage(g.join(rare, Seq("gtext")).join(na, Seq("doc_id"))
          .select("doc_id", "gtext", "n_grams"))
      } else {
        val raw = explodeGrams(docs, text, gram)
        val wg = Window.partitionBy("gtext").orderBy("doc_id", "s")
        val nd = when(lag("doc_id", 1).over(wg).isNull ||
          lag("doc_id", 1).over(wg) =!= col("doc_id"), 1L).otherwise(0L)
        val gd = raw
          .withColumn("nd", nd)
          .withColumn("df", sum("nd").over(Window.partitionBy("gtext")))
          .where(col("nd") === 1L)
          .withColumn("n_grams",
            count(lit(1)).over(Window.partitionBy("doc_id")))
        Scale.stage(
          gd.where(col("df") >= 2 && col("df") <= dfCap)
            .select("doc_id", "gtext", "n_grams"))
      }
    k.select(col("doc_id").as("doc_a"), col("gtext"),
        col("n_grams"))
      .join(k.select(col("doc_id").as("doc_b"), col("gtext")), Seq("gtext"))
      .where(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b", "n_grams").agg(count(lit(1)).as("shared"))
      .withColumn("containment",
        col("shared").cast("double") / col("n_grams").cast("double"))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("containment"))
  }

  /** The STAGED bounded dup-occurrence relation per (corpus, gram):
    * (doc_id, s, is_first) for every occurrence of a ≥2-occurrence
    * gram. This is the "stage only SMALL filtered relations" shape —
    * duplicated-gram occurrences are a tiny slice of the corpus (11k of
    * 265k gram rows at sf0.1) — so the spans query, the cut query, and
    * both bench runs of each share ONE explode+count pass through the
    * session stage-memo and then read a checkpoint thousands of times
    * smaller than the corpus.
    */
  private def dupOccurrences(docs: DataFrame, text: Column, gram: Int,
                             skewSafe: Boolean): DataFrame = {
    val grams = explodeGrams(docs, text, gram)
    val isFirst = (col("doc_id") === col("fst.doc_id") &&
      col("s") === col("fst.s")).as("is_first")
    val rel =
      if (skewSafe) {
        // skew-safe formulation (the Zipfian escape hatch,
        // result-identical — the _skewjoin twins hash-prove it): the
        // per-gram stats aggregate once (map-side partials absorb a hot
        // gram) and join back, so no window ever sees a Zipfian gram's
        // whole partition in one frame. Only the BOUNDED ≥2-occurrence
        // stats are staged (the gramDupFlag discipline) — the explode
        // re-runs per consumer, cheaper than a corpus checkpoint
        val stats = Scale.stage(grams.groupBy("gtext")
          .agg(count(lit(1)).as("occ"),
            min(struct(col("doc_id"), col("s"))).as("fst"))
          .where(col("occ") >= 2)
          .select(col("gtext"), col("fst")))
        grams.join(stats, Seq("gtext"))
          .select(col("doc_id"), col("s"), isFirst)
      } else {
        // default: occurrence count (and the first-occurrence struct,
        // same frame) as whole-partition windows over ONE gram exchange
        val wg = Window.partitionBy("gtext")
        grams
          .withColumn("occ", count(lit(1)).over(wg))
          .withColumn("fst", min(struct(col("doc_id"), col("s"))).over(wg))
          .where(col("occ") >= 2)
          .select(col("doc_id"), col("s"), isFirst)
      }
    Scale.stage(rel)
  }

  /** Duplicated-gram spans (doc_id, s, e): every `gram`-word window
    * whose text occurs ≥ 2 times corpus-wide; with `nonFirstOnly` the
    * corpus-first occurrence (min (doc_id, s)) of each gram is exempt
    * (it is the copy that survives a cut).
    *
    * The occurrence count — and the first-occurrence struct, same
    * frame — are whole-partition windows over ONE gram exchange: the
    * explode lineage runs once and no dup-set join is needed (a
    * groupBy+join-back formulation re-ran the explode on both sides
    * and probed every gram through a 100k-string broadcast hash:
    * measured 15× at 10× data; this shape re-measured ~6×). Skew
    * bound: the frame is the gram's occurrence count (max 5 on the
    * fixture); for Zipfian corpora with boilerplate-hot grams,
    * `skewSafe` selects the aggregate+join-back formulation instead
    * (AQE-splittable, result-identical — the `_skewjoin` query twins
    * hash-prove it on the real corpus).
    */
  private def dupGramSpans(docs: DataFrame, text: Column, gram: Int,
                           nonFirstOnly: Boolean, skewSafe: Boolean): DataFrame = {
    val occ = dupOccurrences(docs, text, gram, skewSafe)
    val dupOnly = if (nonFirstOnly) occ.where(!col("is_first")) else occ
    dupOnly.select(col("doc_id"), col("s"), (col("s") + (gram - 1)).as("e"))
  }

  /** Merge overlapping (doc_id, s, e) spans into maximal islands —
    * gaps-and-islands over (doc_id, s): a span starts a new island iff
    * it begins past the running max end of everything before it. Two
    * windows and the island aggregate share one doc_id exchange.
    */
  private def mergeIslands(spans: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("s")
    val prevMax = max("e").over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    spans
      .withColumn("ni", when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
      .withColumn("island", sum("ni").over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("s").as("s"), max("e").as("e"))
      .select(col("doc_id"), col("s"), col("e"))
  }

  /** Exact-duplicate groups by content hash (md5 of the raw text). */
  def exactGroups(docs: DataFrame, text: Column): DataFrame =
    docs.groupBy(md5(text.cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))

  /** Per-doc salted MinHash signatures sig0..sig{k-1} over 3-word
    * shingles, as (doc_id, sig*) rows — one native single-pass expression
    * per row ([[graft.expressions.ShingleMinHash]]): md5 once per
    * shingle, all k rotation-minima folded in the same loop. No shingle
    * arrays, no explode, no shuffle; the signature step stays co-located
    * with the scan and the LSH band join is the only exchange left.
    */
  def withMinhashSigs(docs: DataFrame, text: Column, k: Int): DataFrame = {
    val sigs = ShingleMinHash.call(Text.tokens(text), lit(3), lit(k))
    docs.select((col("doc_id") +: Seq(sigs.as("__sigs"))): _*)
      .select((col("doc_id") +: (0 until k).map(j =>
        element_at(col("__sigs"), j + 1).as(s"sig$j"))): _*)
  }

  /** LSH candidate pairs: docs sharing any one signature band (band size
    * 1 here — highest recall at these corpus sizes). Returns distinct
    * (doc_a < doc_b) pairs via a bucket equi-join.
    */
  def lshCandidates(docs: DataFrame, text: Column, k: Int): DataFrame = {
    val sigs = withMinhashSigs(docs, text, k)
    // long format: (band, sig, doc_id) — explode instead of k self-joins
    val long = sigs.select(col("doc_id"),
      explode(array((0 until k).map(j =>
        struct(lit(j).as("band"), col(s"sig$j").as("sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band"), col("bs.sig"))
    val a = long.select(col("band"), col("sig"), col("doc_id").as("doc_a"))
    val b = long.select(col("band"), col("sig"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** n-permutation MinHash signatures as one `sigs` array column
    * ([[graft.expressions.ShinglePermMinHash]]: ONE md5 per shingle,
    * whose 64-bit halves double-hash into n permutations
    * (h1 + i·h2 mod 2^64)). Unlike [[withMinhashSigs]]'s rotation family
    * (period-capped at k=4) this family extends to the 16–128 permutations
    * real banding needs — the scale-grade signature path.
    */
  def withPermMinhashSigs(docs: DataFrame, text: Column, numPerms: Int): DataFrame = {
    docs.select(col("doc_id"),
      ShinglePermMinHash.call(Text.tokens(text), lit(3), lit(numPerms)).as("sigs"))
  }

  /** Banded LSH candidate pairs over the n-permutation family: signatures
    * are cut into `numPerms / rowsPerBand` bands of `rowsPerBand` rows;
    * docs sharing ANY band key become a candidate pair. The standard
    * s-curve knobs: more rows per band → higher precision, more bands →
    * higher recall (match threshold ≈ (1/b)^(1/r)).
    *
    * Scale shape: one narrow signature projection, an explode to
    * (band, key) rows — keys are fixed-width strings, not documents —
    * and a single equi-join on (band, key). Candidate count is governed
    * by banding, never the O(n²) pair matrix.
    */
  def bandedCandidates(docs: DataFrame, text: Column,
                       numPerms: Int, rowsPerBand: Int): DataFrame = {
    val long = bandRows(docs.select(col("doc_id"), text.as("__t")),
      col("__t"), numPerms, rowsPerBand)
    val a = long.select(col("band"), col("key"), col("doc_id").as("doc_a"))
    val b = long.select(col("band"), col("key"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** The banded-LSH INDEX relation: every input column plus `(band,
    * key)` rows — `numPerms / rowsPerBand` rows per doc, keys are
    * fixed-width strings. This is the durable artifact of a dedup run:
    * in production it is WRITTEN (bucketed by `(band, key)`) so later
    * ingests probe it ([[probeBandIndex]]) instead of re-pairing the
    * corpus against itself. Input columns ride through the explode;
    * Catalyst prunes the ones a consumer drops (candidate generation
    * keeps only `doc_id`).
    */
  def bandRows(docs: DataFrame, text: Column,
               numPerms: Int, rowsPerBand: Int): DataFrame = {
    require(numPerms % rowsPerBand == 0,
      s"numPerms=$numPerms must be divisible by rowsPerBand=$rowsPerBand")
    val nBands = numPerms / rowsPerBand
    val sigs = docs.withColumn("__sigs",
      ShinglePermMinHash.call(Text.tokens(text), lit(3), lit(numPerms)))
    val keep = docs.columns.filter(_ != "__t")
    sigs.select(col("*"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b.toLong).as("band"),
            concat_ws("|", slice(col("__sigs"), b * rowsPerBand + 1, rowsPerBand))
              .as("key"))): _*)).as("__bk"))
      .select(keep.map(col) :+ col("__bk.band") :+ col("__bk.key"): _*)
  }

  /** Incremental near-dup probe — the 100 TB INGEST pattern: a new
    * shard's band rows equi-join the STORED index ([[bandRows]]) of the
    * corpus already kept, so ingest cost is |delta| · bands, never a
    * re-pairing of the full corpus (with the index parquet bucketed by
    * `(band, key)`, the join shuffles ONLY the delta side). Multi-band
    * hits on the same (probe, base) pair collapse in a map-side
    * distinct before the per-probe aggregate. Returns one row per
    * MATCHED probe doc: `(doc_id, n_base_matches, first_match)` —
    * distinct base docs sharing ≥ 1 band, and the smallest such base id
    * (the cluster a keep-min-id policy would merge the probe into).
    */
  def probeBandIndex(index: DataFrame, probes: DataFrame): DataFrame =
    probes.select(col("band"), col("key"), col("doc_id"))
      .join(index.select(col("band"), col("key"), col("doc_id").as("base_id")),
        Seq("band", "key"))
      .select("doc_id", "base_id").distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_base_matches"),
        min(col("base_id")).as("first_match"))

  /** 64-bit SimHash (signed long) per doc ([[graft.expressions.SimHash64]]);
    * near-dups cluster at small Hamming distance. Narrow per-row op.
    */
  def withSimhash(docs: DataFrame, text: Column): DataFrame = {
    docs.withColumn("simhash", SimHash64.call(Text.tokens(text)))
  }

  /** Hamming distance between two 64-bit long signatures — the SimHash
    * near-dup verifier: `bit_count(a ^ b)`, pure codegen'd integer
    * arithmetic (no string or array work per pair).
    */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Band-width rule for a 64-bit SimHash over an `n`-doc corpus: the
    * smallest width w ∈ {16, 32, 64} with 2^w ≥ 4n. Candidate volume is
    * BIRTHDAY-BOUND: random (dissimilar) signatures collide on a width-w
    * band at rate n²·nBands/2^w, so a fixed width saturates as the
    * corpus grows (the full-suite ×10 probe measured x_simhash_pairs at
    * 24× warm — 16-bit bands over 50k docs). Under this rule the
    * expected ACCIDENTAL candidate volume is nBands·n²/2^(w+1) ≤ n/2 at
    * every tier — linear in the corpus by construction, so the plan
    * survives any scale-up unchanged. The recall trade per width
    * (the Manku et al. design decision — one 64-bit signature only
    * subdivides so many ways): w=16 → 4 bands, pigeonhole GUARANTEES
    * every pair at hamming ≤ 3 and catches most ≤ 12; w=32 → 2 bands,
    * guarantee drops to hamming ≤ 1 (near-identical docs — SimHash
    * near-dups concentrate there, and anything hash-equal on either
    * half still surfaces); w=64 → exact-signature match only. A recall-
    * critical corpus at n > 16384 should call [[simhashCandidates]] with
    * nBands = 4 and pay the quadratic tail knowingly, or move to the
    * MinHash LSH path whose signature width grows with permutations.
    */
  def simhashWidthFor(n: Long): Int =
    if (4L * n <= (1L << 16)) 16
    else if (BigInt(4) * BigInt(n) <= (BigInt(1) << 32)) 32
    else 64

  /** Band COUNT for `docs` under [[simhashWidthFor]]: 64/w with w
    * scaled from the corpus count — a one-row driver artifact, memoized
    * per session under the stage-memo contract (sessions without the
    * opt-in memo conf pay a metadata-cheap count() per plan build).
    */
  def simhashBands(docs: DataFrame): Int = {
    val n = Scale.memoArtifact(docs, "simhash_n")(
      java.lang.Long.valueOf(docs.count()))
    64 / simhashWidthFor(n.longValue())
  }

  /** SimHash near-dup pipeline: cut each 64-bit signature into `nBands`
    * equal bit-bands; docs sharing ANY band become candidates (a pair
    * within Hamming distance d < nBands must agree on some band —
    * pigeonhole); only candidates pay the exact Hamming verification.
    * Same scale shape as the MinHash path: band equi-join, never the
    * pair matrix. Size the bands with the corpus — see
    * [[simhashWidthFor]].
    */
  def simhashCandidates(docs: DataFrame, text: Column, nBands: Int,
                        maxHamming: Int): DataFrame = {
    require(64 % nBands == 0, s"nBands=$nBands must divide 64")
    val width = 64 / nBands
    // width 64 (one band = whole signature): 1L<<64 wraps to 1 in JVM
    // shift semantics, which would mask every key to 0
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sh = withSimhash(docs, text).select(col("doc_id"), col("simhash"))
    // the full signature rides along in the band rows: the verification
    // needs no rejoin (which would re-evaluate the md5-per-word simhash
    // computation two more times), and the two self-join branches share
    // one exchange subtree. Band b = bits [b*width, (b+1)*width) MSB-first,
    // extracted with unsigned shift + mask — integer-only, codegen'd.
    val long = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b.toLong).as("band"),
          shiftrightunsigned(col("simhash"), 64 - width * (b + 1))
            .bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
    val a = long.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("simhash").as("ha"))
    val b = long.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("simhash").as("hb"))
    a.join(b, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "ha", "hb")
      // dedup on the narrow pair key — the signatures are functionally
      // dependent on the ids and just ride along
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", hamming64(col("ha"), col("hb")).cast("bigint"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Connected components over the candidate-pair graph — the cluster
    * step between pair generation and keep-one-per-cluster: every doc is
    * labeled with the SMALLEST doc_id reachable through pairs (docs in
    * no pair are their own cluster).
    *
    * Min-label propagation WITH pointer halving: each round every node
    * takes the min of its own label, its neighbors' labels, and its
    * label's label (the halving step) — linear chains converge in
    * O(log diameter) rounds, not diameter, so the round cap is a
    * backstop, not a reachable limit. Each round is one distributed
    * join pass materialized through [[Scale.stage]] (truncating the
    * otherwise-doubling lineage; `spark.graft.checkpoint.reliable=true`
    * routes it to durable `checkpoint()` for executor-loss recovery on
    * real clusters); the convergence check scans those cached blocks,
    * and the driver only sees a flag, never data. Superseded snapshots
    * are evictable MEMORY_AND_DISK blocks the ContextCleaner reclaims
    * as the loop drops their references.
    */
  def dupClusters(docs: DataFrame, pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    // lazy: round 1's join is the first full scan — it materializes the
    // cached edge blocks without a dedicated up-front job
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .transform(Scale.stage(_))
    // loop state is the EDGE-TOUCHED vertex set (≤ 2|pairs| rows), not
    // the corpus: an untouched doc can never change labels, so carrying
    // it through every round's joins would make each round scan corpus-
    // sized label tables for nothing — at 100 TB the loop must cost
    // O(rounds · |edges|), with the corpus joined back ONCE at the end
    // as singletons. The semi join keeps the operator's contract: a
    // pair endpoint NOT in `docs` stays inert (it can neither take nor
    // become a label), exactly as when the loop carried the full doc
    // table — without it a foreign endpoint could become a cluster id
    // that exists in no doc, breaking every keep-representative
    // (`doc_id === cluster`) consumer. (Each round references `labels`
    // twice — neighbor lookup and step — so the seed is staged like
    // the rounds are.)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .join(docs.select("doc_id"), Seq("doc_id"), "left_semi")
      .withColumn("cluster", col("doc_id"))
      .transform(Scale.stage(_))
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster").as("nc")), "dst")
        .groupBy(col("src").as("doc_id")).agg(min("nc").as("nmin"))
      // labels-as-parents: cluster values are always doc_ids, so the
      // lookup is total; least() ignores the NULL nmin of edgeless docs
      val parents = labels
        .select(col("doc_id").as("cluster"), col("cluster").as("pc"))
      // LAZY checkpoint + count: the one count() action both materializes
      // the round's cached blocks (truncating lineage) and answers the
      // convergence flag — one distributed pass per round, not a
      // materialize job plus a probe job. (isEmpty would short-circuit
      // and leave partitions unmaterialized for later rounds to recompute.)
      val stepped = labels
        .join(nbrMin, Seq("doc_id"), "left")
        .join(parents, Seq("cluster"), "left")
        .select(col("doc_id"),
          least(col("cluster"), col("nmin"), col("pc")).as("cluster"),
          col("cluster").as("old"))
        .transform(Scale.stage(_))
      converged = stepped.where(col("cluster") < col("old")).count() == 0
      labels = stepped.select("doc_id", "cluster")
      round += 1
    }
    require(converged, s"dupClusters did not converge in $maxRounds rounds")
    docs.select("doc_id").join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * rewriting — the O(log² n)-round alternative to [[dupClusters]]'
    * label propagation (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): instead of carrying a label table alongside
    * the edges, the edge set ITSELF is rewritten each round until every
    * component collapses to a star rooted at its minimum node.
    *
    *  - large-star (per node u, over both edge directions): each
    *    strictly-larger neighbor v > u reattaches to
    *    m = min(Γ(u) ∪ {u});
    *  - small-star (per node u, over edges directed high→low): every
    *    smaller neighbor and u itself reattach to the smallest
    *    neighbor.
    *
    * Both steps are one groupBy + one equi-join on node id — the same
    * shuffle shape as a propagation round, but the rewriting provably
    * contracts components doubly-logarithmically on adversarial graphs
    * where plain propagation (even halved) pays per-round latency
    * longer. The fixed point (star forests) is stable under both steps;
    * convergence = edge-set equality round-over-round, checked with one
    * full-outer join whose result the driver reads only as a flag.
    * Agreement with [[dupClusters]] on chains, stars, and random graphs
    * is spec-tested; both share the recursive-CTE DuckDB oracle.
    */
  /** PageRank authority over an undirected pair graph — the canonical-
    * copy signal [[dupClusters]]' min-label cannot give: within a dup
    * cluster the HIGHEST-authority member (the one most docs duplicate)
    * is the natural keeper, and across the corpus the score ranks
    * boilerplate hubs for audit; the same damped power iteration ranks
    * URL graphs in web-curation pipelines. Fixed `iters` rounds of
    * pr' = (1−d)/n + d·Σ_incoming pr/deg, dangling (isolated) nodes
    * holding the base term (their lost mass is NOT redistributed — the
    * standard simplification, documented so the oracle replays it).
    *
    * Cross-engine exactness (the kmeansRefine discipline): each
    * neighbor contribution quantizes to round(pr/deg · 2^40) and the
    * per-node reduction sums exact longs, so the result is independent
    * of partitioning and row order; only the final display column
    * rounds. Scale shape: edges and degrees are bounded staged
    * relations (pairs, not the corpus); each round is one equi-join +
    * one partial-aggregated sum keyed by node, the lineage truncated
    * per round ([[Scale.stage]] — the dupClusters loop discipline), and
    * the driver sees only the node COUNT, never data.
    */
  def pageRank(nodes: DataFrame, pairs: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    val q = 1099511627776.0 // 2^40
    val n = Scale.memoArtifact(nodes, "pagerank_n")(
      java.lang.Long.valueOf(nodes.count())).longValue()
    require(n > 0, "pageRank: empty node set")
    val base = (1.0 - damping) / n
    val edges = Scale.stage(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    val deg = Scale.stage(
      edges.groupBy("src").agg(count(lit(1)).as("deg")))
    val ids = nodes.select(col("doc_id"))
    var pr = ids.select(col("doc_id"), lit(1.0 / n).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(pr.select(col("doc_id").as("src"), col("pr")), "src")
        .join(deg, "src")
        .select(col("dst"),
          round((col("pr") / col("deg")) * q).cast("long").as("cq"))
        .groupBy("dst").agg(sum("cq").as("sq"))
      pr = Scale.stage(ids
        .join(contrib.select(col("dst").as("doc_id"), col("sq")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(base) + lit(damping) *
            (coalesce(col("sq"), lit(0L)).cast("double") / q)).as("pr")))
    }
    pr.join(deg.select(col("src").as("doc_id"), col("deg")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg"), col("pr"))
  }

  /** Triangle census + global clustering coefficient of an undirected
    * pair graph — the dup-graph TOPOLOGY diagnostic next to
    * [[pageRank]]'s centrality: a high clustering coefficient says the
    * near-dup relation is transitively consistent (tight duplicate
    * communities); triangles ≈ 0 with many edges says the candidate
    * pairs are band-collision noise that a verify stage must cut.
    *
    * Algorithm: DEGREE-ORIENTED wedge counting (the standard
    * distributed scheme): every edge orients from its (deg, id)-smaller
    * endpoint, so each triangle is counted exactly ONCE (at its unique
    * two-out-edge apex) and out-degrees are O(√m) even on a hot vertex
    * — the wedge self-join is Σ outdeg² ≤ m^1.5, never the deg² blowup
    * a hub would cause in an id-oriented join. All shapes are bounded
    * staged pair relations; counts are exact integers; the one double
    * is the final 3T/wedges.
    *
    * One row out: (n_nodes, n_edges, n_wedges, n_triangles,
    * clustering = 3·triangles / wedges, 0 when wedge-free).
    */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val e = Scale.stage(pairs
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .where(col("lo") =!= col("hi")).distinct())
    val und = e.select(col("lo").as("u")).unionAll(e.select(col("hi").as("u")))
    val deg = Scale.stage(und.groupBy("u").agg(count(lit(1)).as("deg")))
    val srcIsLo = col("dlo") < col("dhi") ||
      (col("dlo") === col("dhi") && col("lo") < col("hi"))
    val oriented = Scale.stage(e
      .join(deg.select(col("u").as("lo"), col("deg").as("dlo")), "lo")
      .join(deg.select(col("u").as("hi"), col("deg").as("dhi")), "hi")
      .select(when(srcIsLo, col("lo")).otherwise(col("hi")).as("src"),
        when(srcIsLo, col("hi")).otherwise(col("lo")).as("dst")))
    // wedge pair deduped by dst id-order; the closing edge is then
    // (lo, hi)-canonical by construction and probes e directly
    val wedges = oriented.as("o1").join(oriented.as("o2"),
        col("o1.src") === col("o2.src") && col("o1.dst") < col("o2.dst"))
      .select(col("o1.dst").as("lo"), col("o2.dst").as("hi"))
    val tri = wedges.join(e, Seq("lo", "hi")).agg(count(lit(1)).as("t"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val nw = deg.agg(count(lit(1)).as("n_nodes"),
      expr("CAST(sum(CAST(deg AS DECIMAL(38,0)) * (deg - 1)) div 2 AS BIGINT)")
        .as("n_wedges"))
    nw.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("t").as("n_triangles"),
        graft.functions.Det.detRound4(when(col("n_wedges") === 0, lit(0.0))
          .otherwise(lit(3.0) * col("t").cast("double") /
            col("n_wedges").cast("double"))).as("clustering"))
  }

  def dupClustersStar(docs: DataFrame, pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    var edges = pairs
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .where(col("lo") =!= col("hi")).distinct()
      .transform(Scale.stage(_))
    // count, not isEmpty: the emptiness probe doubles as the full first
    // materialization (isEmpty's limit-1 would cache only a prefix)
    var converged = edges.count() == 0
    var round = 0
    while (!converged && round < maxRounds) {
      val und = edges.select(col("lo").as("u"), col("hi").as("v"))
        .union(edges.select(col("hi").as("u"), col("lo").as("v")))
      val lmin = und.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = und.join(lmin, "u").where(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi")).distinct()
      // small-star reads the large-star output directed high→low; its
      // min neighbor is < u by construction, so every emitted edge is
      // already (lo, hi)-canonical
      val dir = large.select(col("hi").as("u"), col("lo").as("v"))
      val smin = dir.groupBy("u").agg(min("v").as("mn"))
      // lazy checkpoint: the convergence count's full-outer join scans
      // every partition of the new edge set, so the ONE count() action
      // materializes the round's cached blocks and answers the flag —
      // no separate materialize job (same discipline as dupClusters)
      val small = dir.join(smin, "u").where(col("v") =!= col("mn"))
        .select(col("mn").as("lo"), col("v").as("hi"))
        .union(smin.select(col("mn").as("lo"), col("u").as("hi")))
        .distinct()
        .transform(Scale.stage(_))
      converged = small.withColumn("n", lit(1))
        .join(edges.withColumn("o", lit(1)), Seq("lo", "hi"), "full_outer")
        .where(col("n").isNull || col("o").isNull)
        .count() == 0
      edges = small
      round += 1
    }
    require(converged, s"dupClustersStar did not converge in $maxRounds rounds")
    // star forest: every component is rooted at its min, so the label is
    // the lo endpoint (roots appear only as lo and label themselves)
    val labels = edges.select(col("lo").as("doc_id"), col("lo").as("cluster"))
      .union(edges.select(col("hi").as("doc_id"), col("lo").as("cluster")))
      .groupBy("doc_id").agg(min("cluster").as("cluster"))
    docs.select("doc_id").join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** Exact word-set Jaccard similarity between two token-array columns. */
  def jaccard(ta: Column, tb: Column): Column = {
    val inter = size(array_distinct(array_intersect(ta, tb))).cast("double")
    val uni = size(array_distinct(concat(ta, tb))).cast("double")
    inter / uni
  }

  /** [[jaccard]] for inputs that are ALREADY distinct element sets:
    * array_intersect of distinct inputs is distinct, and |A∪B| =
    * |A|+|B|−|A∩B| — one hash-set pass per pair instead of three, and
    * callers ship the smaller deduped arrays through the pair join
    * (measured −33% on x_neardup's verify stage at sf1). Same VALUES
    * as [[jaccard]] on distinct inputs; garbage-in otherwise.
    */
  def jaccardDistinct(da: Column, db: Column): Column = {
    val inter = size(array_intersect(da, db)).cast("double")
    inter / (size(da).cast("double") + size(db).cast("double") - inter)
  }
}
