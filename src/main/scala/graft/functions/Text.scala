package graft.functions

import graft.expressions.{CharTrigrams, LangBest, StopwordCounts, WordShingles}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-pipeline pack, built from codegen'd
  * built-in expressions only (no UDFs): tokenization, shingling, salted
  * min-hash signatures, stopword scoring, quality metrics.
  *
  * Everything here is a narrow per-row expression — at 100 TB these run
  * inside whole-stage codegen over the scan with zero shuffles; only the
  * downstream groupBy/join decides the exchange plan.
  */
object Text {

  /** Whitespace tokenizer (the fixture corpus is space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Character trigrams at every position (1..len-2). The greatest()
    * guard keeps sequence() from counting DOWN on texts shorter than 3
    * chars (Spark infers step -1), which would yield bogus grams — such
    * texts produce one partial gram instead. Higher-order fn: evaluates
    * interpreted, not codegen'd — this is the declarative REFERENCE form;
    * hot paths use [[charTrigramsNative]] (differentially tested equal).
    */
  def charTrigrams(text: Column): Column =
    transform(sequence(lit(1), greatest(length(text) - 2, lit(1))),
      i => substring(text, i, lit(3)))

  /** Codegen'd trigram extraction ([[graft.expressions.CharTrigrams]]) —
    * same output as [[charTrigrams]].
    */
  def charTrigramsNative(text: Column): Column = CharTrigrams.call(text)

  /** BPE-ish token-count estimator: words plus an overhead term per long
    * word (a word of n chars ≈ ceil(n/4) subword tokens, floor 1).
    */
  def tokenCountEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, w) => acc + greatest(lit(1L), ceil(length(w) / 4.0).cast("long")))

  /** All `k`-word shingles of `toks`, space-joined. Empty when the doc has
    * fewer than `k` words (mind Spark's `sequence(1,0)` = [1,0] descending
    * quirk — guarded here).
    */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array(concat_ws(" ", toks)))

  /** Codegen'd shingle extraction ([[graft.expressions.WordShingles]]) —
    * same output as [[shingles]] (differentially tested equal). The coalesce
    * restores the HOF's NULL-input behavior: `shingles(NULL)` evaluates
    * to `[""]` (the otherwise-branch concat_ws skips the null array),
    * while the null-intolerant native expression alone would yield NULL.
    */
  def shinglesNative(toks: Column, k: Int): Column =
    coalesce(WordShingles.call(toks, lit(k)), array(lit("")))

  /** md5 per shingle — the ONE hash pass the signature family shares.
    * md5 is an exact cross-engine hash (same UTF-8 bytes → same hex),
    * which is what lets the oracle replay signatures.
    */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => md5(s.cast("binary")))

  /** Hex-string rotation by 8·salt chars — a cheap order permutation of
    * md5 values, shared by the signature family (no re-hash).
    */
  def rotateHex(m: Column, salt: Int): Column = {
    val rot = (salt % 4) * 8
    if (rot == 0) m
    else concat(substring(m, rot + 1, 32 - rot), substring(m, 1, rot))
  }

  /** The j-th MinHash signature from precomputed shingle md5s: min over
    * ROTATED hex strings, so k signatures cost one md5 pass instead of
    * k — and the DuckDB oracle replays the same substrings.
    */
  def minhashSig(hashesCol: Column, salt: Int): Column =
    array_min(transform(hashesCol, m => rotateHex(m, salt)))

  /** Document fingerprint: the single-permutation MinHash (min md5 over
    * 3-word shingles) — winnowing-lite, stable under small edits.
    */
  def fingerprint(text: Column): Column =
    minhashSig(shingleHashes(shingles(tokens(text), 3)), 0)

  /** Stopword hit count (total, not distinct) for a language's list. */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, w => w.isInCollection(stopwords)))

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately overlapping (de/la) — ties resolve by the
    * fixed language order of [[langId]].
    */
  val stopwordSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "de", "y", "que"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不"))

  /** Codegen'd stopword scoring ([[graft.expressions.StopwordCounts]]):
    * array<long> of per-language hit counts in [[stopwordSets]] order —
    * ONE pass over the tokens where the [[stopwordHits]] HOF re-scans
    * once per language.
    */
  def stopwordCountsNative(toks: Column): Column = StopwordCounts.call(toks)

  /** Codegen'd [[langId]] twin: argmax over [[stopwordCountsNative]]
    * with the same first-wins tie order (differentially tested equal).
    * Repeated calls on one select list dedup via Spark's subexpression
    * elimination, so scoring+hits+best still cost one counting pass.
    */
  def langIdNative(toks: Column): Column = LangBest.call(stopwordCountsNative(toks))

  /** Heuristic language ID: argmax of stopword hits with a fixed
    * tie-break order (en > de > es > fr > zh). Expressed as a CASE chain
    * so the DuckDB oracle can replay it verbatim. Declarative REFERENCE
    * form — hot paths use [[langIdNative]].
    */
  def langId(toks: Column): Column = {
    val hits = stopwordSets.map { case (lang, sw) => lang -> stopwordHits(toks, sw) }
    hits.tail.foldLeft((hits.head._2, lit(hits.head._1))) {
      case ((bestScore, bestLang), (lang, score)) =>
        (greatest(bestScore, score),
          when(score > bestScore, lang).otherwise(bestLang))
    }._2
  }

  /** Quality metrics: word count, exact mean word length, stopword ratio. */
  def nWords(toks: Column): Column = size(toks).cast("bigint")

  def sumWordLen(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, w) => acc + length(w))

  /** ASCII-punctuation density of a text column. Java \p{Punct} and RE2
    * [[:punct:]] agree on the same 32-char class, so the DuckDB twin is
    * `(length(t) - length(regexp_replace(t, '[[:punct:]]', '', 'g'))) /
    * nullif(length(t), 0)`. Zero-length text yields NULL (nullif guard —
    * Spark's x/0 is NULL, DuckDB's is inf/nan; the guard makes both NULL).
    */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "\\p{Punct}", "")))
      .cast("double") / nullif(length(text), lit(0))
}
