package graft

import graft.expressions.{RollingWinnow, TrigramJaccard}
import graft.functions.Text
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Near-dup detection on synthetic documents with KNOWN duplicates (the
  * fixture corpus is checked separately by the oracle; this proves the
  * operators actually catch planted near-dups).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearDup = base.replace("today", "tomorrow")  // 1-word edit
  private val unrelated = "completely different content with no overlap whatsoever in any words"

  private def docs = Seq(
    (0L, base), (1L, nearDup), (2L, unrelated), (3L, base))  // 3 = exact dup of 0
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val g = Dedup.exactGroups(docs, col("text"))
      .where(col("n_docs") > 1).collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("n_docs") == 2L)
    assert(g.head.getAs[Long]("keep_doc") == 0L)
  }

  test("minhash LSH surfaces the near-dup pair, not the unrelated doc") {
    val pairs = Dedup.lshCandidates(docs, col("text"), 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "near-dup pair must be a candidate")
    assert(pairs.contains((0L, 3L)), "exact dup pair must be a candidate")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      "unrelated doc shares no shingles, must not be a candidate")
  }

  test("n-permutation minhash: 16 independent signatures, stable across dups") {
    val sigs = Dedup.withPermMinhashSigs(docs, col("text"), 16)
      .as[(Long, Seq[String])].collect().toMap
    assert(sigs(0L).length == 16)
    // padded 20-digit unsigned decimal: string order == numeric order
    assert(sigs(0L).forall(_.matches("[0-9]{20}")))
    // a FAMILY: double-hashed permutations are distinct draws, not
    // rotations of one digest — 16 perms must be 16 distinct values (w.h.p.)
    assert(sigs(0L).distinct.length == 16,
      "permutations must not collapse to duplicates")
    assert(sigs(0L) == sigs(3L), "identical docs sign identically")
    // near-dup agrees on most permutations, unrelated on none
    val nearAgree = sigs(0L).zip(sigs(1L)).count { case (a, b) => a == b }
    val farAgree = sigs(0L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(nearAgree > 8, s"1-word edit should keep most minima, got $nearAgree/16")
    assert(farAgree == 0, s"no shared shingles → no shared minima, got $farAgree")
  }

  test("ShinglePermMinHash equals a BigInt replay of the double-hash family") {
    // the oracle checks fixture data only; this differential recomputes
    // the (h1 + i·h2) mod 2^64 family in BigInt arithmetic (the DuckDB
    // twin's HUGEINT shape — exercising a different overflow model than
    // the expression's wrapping Longs) over seeded random inputs,
    // including <3-word and empty docs
    val rnd = new scala.util.Random(11)
    val randDocs = (0 until 60).map { i =>
      val n = rnd.nextInt(25)   // 0..24 words — hits the whole-doc fallback
      (i.toLong, Seq.fill(n)(rnd.alphanumeric.take(1 + rnd.nextInt(5)).mkString)
        .mkString(" "))
    }
    val nPerms = 6
    val native = Dedup.withPermMinhashSigs(
        randDocs.toDF("doc_id", "text"), col("text"), nPerms)
      .as[(Long, Seq[String])].collect().toMap
    val two64 = BigInt(1) << 64
    def twin(text: String): Seq[String] = {
      val toks = text.split(" ", -1).toSeq
      val shingles =
        if (toks.size >= 3) (0 to toks.size - 3).map(i => toks.slice(i, i + 3).mkString(" "))
        else Seq(toks.mkString(" "))
      val md = java.security.MessageDigest.getInstance("MD5")
      val hs = shingles.map { s =>
        val d = md.digest(s.getBytes("UTF-8"))
        (BigInt(1, d.take(8)), BigInt(1, d.drop(8)))   // non-negative halves
      }
      (0 until nPerms).map { i =>
        val m = hs.map { case (h1, h2) => (h1 + BigInt(i) * h2).mod(two64) }.min
        val str = m.toString
        "0" * (20 - str.length) + str
      }
    }
    randDocs.foreach { case (id, text) =>
      assert(native(id) == twin(text), s"doc $id: native ${native(id)} != ${twin(text)}")
    }
  }

  test("CharTrigrams native expression equals the declarative HOF form") {
    // edge cases the fixture never exercises: empty text, 1–2 chars
    // (partial-gram fallback), multi-byte UTF-8 (code-point semantics)
    val texts = Seq("", "a", "ab", "abc", "abcd", "héllo wörld",
      "的是了在我不", "abc def ghi jkl") ++ {
      val rnd = new scala.util.Random(17)
      (0 until 40).map(_ => rnd.alphanumeric.take(rnd.nextInt(30)).mkString(" "))
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val native = df.select(col("doc_id"),
        Text.charTrigramsNative(col("text")).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    val hof = df.select(col("doc_id"), Text.charTrigrams(col("text")).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(native == hof)
    assert(native(0L) == Seq(""), "empty text yields one empty gram")
    assert(native(3L) == Seq("abc"))
    assert(native(4L) == Seq("abc", "bcd"))
  }

  test("WordShingles native expression equals the declarative HOF form") {
    // edges: empty text (split -> [""]), under-k docs (whole-doc
    // fallback), exactly-k, multi-byte tokens, long docs
    val texts = Seq("", "a", "a b", "a b c", "a b c d", "héllo wörld 的是 了在",
      "x y z w v u t") ++ {
      val rnd = new scala.util.Random(31)
      (0 until 40).map(_ =>
        (0 until rnd.nextInt(12)).map(_ => rnd.alphanumeric.take(3).mkString).mkString(" "))
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (k <- Seq(1, 3, 4)) {
      val native = df.select(col("doc_id"),
          Text.shinglesNative(Text.tokens(col("text")), k).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      val hof = df.select(col("doc_id"),
          Text.shingles(Text.tokens(col("text")), k).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      assert(native == hof, s"k=$k mismatch")
    }
    // NULL elements join like concat_ws (skipped, no double separator)
    val withNulls = Seq(1L).toDF("id")
      .select(col("id"), array(lit("a"), lit(null), lit("b"), lit("c")).as("toks"))
    val ng = withNulls.select(Text.shinglesNative(col("toks"), 3).as("g"))
      .as[Seq[String]].collect().head
    val hg = withNulls.select(Text.shingles(col("toks"), 3).as("g"))
      .as[Seq[String]].collect().head
    assert(ng == hg)
    // a NULL ARRAY yields [""] in the HOF (concat_ws skips the null) —
    // the native wrapper's coalesce must reproduce that, not return NULL
    val nullArr = Seq(1L).toDF("id")
      .select(col("id"), lit(null).cast("array<string>").as("toks"))
    val nn = nullArr.select(Text.shinglesNative(col("toks"), 3).as("g"))
      .as[Seq[String]].collect().head
    val nh = nullArr.select(Text.shingles(col("toks"), 3).as("g"))
      .as[Seq[String]].collect().head
    assert(nn == Seq("") && nn == nh)
  }

  test("StopwordCounts/LangBest native equals the HOF scoring and langId fold") {
    // vocabulary mixing every language's stopwords (incl. the
    // overlapping de/la), CJK, noise, and repeats — repeats matter
    // because stopwordHits counts TOTAL hits, not distinct
    val vocab = Text.stopwordSets.flatMap(_._2) ++
      Seq("fox", "qqq", "zz9", "", "Le", "THE")  // case-sensitive: no hit
    val rnd = new scala.util.Random(41)
    val texts = Seq("", "the the the und und la la",
      "el la los de y que", "的 是 了") ++
      (0 until 60).map(_ =>
        (0 until rnd.nextInt(25)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val toks = Text.tokens(col("text"))
    val native = df.select(col("doc_id"),
        Text.stopwordCountsNative(toks).as("c"),
        Text.langIdNative(toks).as("best"))
      .as[(Long, Seq[Long], String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val hof = df.select(col("doc_id"),
        array(Text.stopwordSets.map(p =>
          Text.stopwordHits(toks, p._2).cast("long")): _*).as("c"),
        Text.langId(toks).as("best"))
      .as[(Long, Seq[Long], String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(native == hof)
    // all-zero counts tie-break to the first language in set order
    assert(native(0L)._2 == "en")
    // "la" counts for BOTH es and fr (overlap), never for en/de/zh
    val laOnly = Seq((9L, "la la")).toDF("doc_id", "text")
      .select(Text.stopwordCountsNative(Text.tokens(col("text"))).as("c"))
      .as[Seq[Long]].collect().head
    assert(laOnly == Seq(0L, 0L, 2L, 2L, 0L))
    // NULL text → NULL counts and NULL best (size(filter(NULL)) parity)
    val nullRow = Seq(1L).toDF("id")
      .select(Text.stopwordCountsNative(lit(null).cast("array<string>")).as("c"),
        Text.langIdNative(lit(null).cast("array<string>")).as("b"))
      .collect().head
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
  }

  test("TrigramJaccard fused expression equals the declarative set formula") {
    val rnd = new scala.util.Random(23)
    val alphabet = "abcd的是 héö"   // small alphabet forces gram collisions
    def randText(n: Int) = (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val pairs = Seq(("", ""), ("", "abc"), ("a", "ab"), ("abc", "abc"),
      ("abcd", "bcda"), ("的是了", "的是了在")) ++
      (0 until 50).map(_ => (randText(rnd.nextInt(40)), randText(rnd.nextInt(40))))
    val df = pairs.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("id", "ta", "tb")
    val fused = df.select(col("id"),
        TrigramJaccard.call(col("ta"), col("tb")).as("j"))
      .as[(Long, Double)].collect().toMap
    def grams(c: org.apache.spark.sql.Column) = array_distinct(Text.charTrigrams(c))
    val decl = df.select(col("id"), grams(col("ta")).as("ga"), grams(col("tb")).as("gb"))
      .select(col("id"), size(array_intersect(col("ga"), col("gb"))).as("ni"),
        size(col("ga")).as("sa"), size(col("gb")).as("sb"))
      .select(col("id"), (col("ni").cast("double") /
        (col("sa") + col("sb") - col("ni"))).as("j"))
      .as[(Long, Double)].collect().toMap
    assert(fused == decl)
    assert(fused(0L) == 1.0, "two empty texts share their one empty gram")
    assert(fused(3L) == 1.0)
  }

  test("banded LSH (8 bands × 2 rows) finds near-dups, drops unrelated") {
    val pairs = Dedup.bandedCandidates(docs, col("text"), 16, 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "near-dup pair must band-collide")
    assert(pairs.contains((0L, 3L)), "exact dup pair must band-collide")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      "unrelated doc must not band-collide")
  }

  test("probeBandIndex flags shard docs against the base index, never base against itself") {
    // base corpus: 0 (kept) and 2 (unrelated); arriving shard: 10 = near-dup
    // of 0, 11 = unrelated to everything, 12 = exact dup of 0
    val baseDocs  = Seq((0L, base), (2L, unrelated)).toDF("doc_id", "text")
    val shardDocs = Seq((10L, nearDup), (11L, "nothing here matches anything at all truly"),
      (12L, base)).toDF("doc_id", "text")
    val index  = Dedup.bandRows(baseDocs, col("text"), 16, 2)
    val probes = Dedup.bandRows(shardDocs, col("text"), 16, 2)
    val out = Dedup.probeBandIndex(index, probes)
      .as[(Long, Long, Long)].collect().map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(out.contains(10L) && out(10L)._2 == 0L,
      s"near-dup shard doc must match base doc 0: $out")
    assert(out(12L) == ((1L, 0L)), s"exact dup matches base 0 once: $out")
    assert(!out.contains(11L), "unrelated shard doc must not match")
    assert(!out.contains(0L) && !out.contains(2L),
      "base docs never appear — the corpus is not re-paired")
    // multi-band agreement (an exact dup shares ALL 8 bands) still
    // counts its base doc ONCE — the pair distinct before the aggregate
    assert(out(12L)._1 == 1L)
  }

  test("substrCutAgainstIndex cuts base-covered spans, keeps fresh text") {
    val phrase = "alpha beta gamma delta epsilon zeta"  // exactly 6 words
    val base = Seq((0L, s"prefix words here $phrase and a tail end")).toDF("doc_id", "text")
    val index = Dedup.substrGramIndex(base, col("text"), 6)
    // 10: embeds the base phrase (6 covered tokens cut, flanks survive)
    // 11: shares no 6-gram (fully kept)
    // 12: short doc, fewer than 6 words (no grams -> fully kept)
    // 13: verbatim copy of base doc 0 (fully cut)
    val delta = Seq(
      (10L, s"fresh open $phrase fresh close"),
      (11L, "nothing here matches anything at all truly for sure"),
      (12L, "too short for grams"),
      (13L, s"prefix words here $phrase and a tail end"))
      .toDF("doc_id", "text")
    val out = Dedup.substrCutAgainstIndex(index, delta, col("text"), 6)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(10L) == ((10L, 6L, "fresh open fresh close")))
    assert(out(11L)._2 == 0L && out(11L)._3 == "nothing here matches anything at all truly for sure")
    assert(out(12L) == ((4L, 0L, "too short for grams")))
    assert(out(13L) == ((13L, 13L, "")), "a verbatim base copy is fully cut")
    // delta-internal duplicates are NOT cut against each other (the
    // documented next-ingest convention): two identical fresh docs both
    // survive untouched
    val twins = Seq((20L, "brand new words appearing nowhere in the base corpus today"),
      (21L, "brand new words appearing nowhere in the base corpus today"))
      .toDF("doc_id", "text")
    val t = Dedup.substrCutAgainstIndex(index, twins, col("text"), 6)
      .as[(Long, Long, Long, String)].collect()
    assert(t.forall(_._3 == 0L), "delta-internal dups pass this ingest")
  }

  test("containmentPairs: a short doc embedded in a long host scores 1.0 one-way") {
    val quote = "alpha beta gamma delta epsilon zeta eta"
    val host = s"lots of framing words before $quote and plenty of trailing " +
      "words after the embedded quote continue onward further still more"
    val d = Seq((1L, quote), (2L, host), (3L, unrelated)).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, col("text"), 6, 8)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    // every 6-gram of the quote appears in the host → C(quote→host)=1.0;
    // the host has many grams of its own → C(host→quote) is small but
    // present; the unrelated doc pairs with nothing
    assert(out((1L, 2L)) == 1.0)
    assert(out((2L, 1L)) > 0.0 && out((2L, 1L)) < 0.2)
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("ESD family matches a brute-force Scala reference on random corpora") {
    val rnd = new scala.util.Random(777)
    val vocab = Vector("a", "b", "c", "d", "e")  // tiny vocab → heavy collisions
    val G = 6
    for (trial <- 1 to 8) {
      val docs = (1L to (6 + rnd.nextInt(6)).toLong).map { id =>
        val n = 4 + rnd.nextInt(22)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      // brute-force reference
      val grams = docs.flatMap { case (id, t) =>
        val w = t.split(" ")
        if (w.length < G) Nil
        else (0 to w.length - G).map(i => (id, i + 1L, w.slice(i, i + G).mkString(" ")))
      }
      val occ = grams.groupBy(_._3).view.mapValues(_.size).toMap
      def islandsOf(spans: Seq[(Long, Long)]): Seq[(Long, Long)] = {
        val sorted = spans.sortBy(_._1)
        sorted.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (s, e)) =>
          acc.lastOption match {
            case Some((ps, pe)) if s <= pe => acc.init :+ (ps, math.max(pe, e))
            case _ => acc :+ (s, e)
          }
        }
      }
      val refIslands = grams.filter(g => occ(g._3) >= 2)
        .groupBy(_._1).flatMap { case (id, gs) =>
          islandsOf(gs.map(g => (g._2, g._2 + G - 1))).map(i => (id, i._1, i._2))
        }.toSet
      val gotIslands = Dedup.substrIslands(df, col("text"), G)
        .as[(Long, Long, Long)].collect().toSet
      assert(gotIslands == refIslands, s"trial $trial islands: " +
        s"got ${gotIslands.toSeq.sorted} ref ${refIslands.toSeq.sorted}")
      // cut reference: non-first occurrences (corpus-first = min (doc, s))
      val first = grams.filter(g => occ(g._3) >= 2)
        .groupBy(_._3).view.mapValues(gs => gs.map(g => (g._1, g._2)).min).toMap
      val refCut = docs.map { case (id, t) =>
        val w = t.split(" ")
        val spans = grams.filter(g => g._1 == id && occ(g._3) >= 2 &&
          first(g._3) != ((id, g._2))).map(g => (g._2, g._2 + G - 1))
        val cutPos = islandsOf(spans).flatMap { case (s, e) => s to e }.toSet
        val kept = w.zipWithIndex.collect {
          case (tok, i) if !cutPos.contains(i + 1L) => tok }.mkString(" ")
        (id, w.length.toLong, cutPos.size.toLong, kept)
      }.toSet
      val gotCut = Dedup.substrCut(df, col("text"), G)
        .as[(Long, Long, Long, String)].collect().toSet
      assert(gotCut == refCut, s"trial $trial cut mismatch")
    }
  }

  test("SigUnion aggregates the element-wise minimum signature (mergeable sketch)") {
    import org.apache.spark.sql.functions.udaf
    val perDoc = Dedup.withPermMinhashSigs(docs, col("text"), 8)
      .as[(Long, Seq[String])].collect().toMap
    val expected = (0 until 8).map(i => perDoc.values.map(_(i)).min)
    val grouped = Dedup.withPermMinhashSigs(docs, col("text"), 8)
      .groupBy().agg(udaf(graft.functions.SigUnion).apply(col("sigs")).as("g"))
      .as[Seq[String]].head()
    assert(grouped == expected, "group signature = element-wise min of member signatures")
    // empty partitions contribute zero buffers: merge must tolerate them
    // on EITHER side (4 rows over 16 partitions → 12 empty partials)
    val sparse = Dedup.withPermMinhashSigs(docs, col("text"), 8)
      .repartition(16)
      .groupBy().agg(udaf(graft.functions.SigUnion).apply(col("sigs")).as("g"))
      .as[Seq[String]].head()
    assert(sparse == expected, "zero buffers from empty partitions must merge cleanly")
  }

  test("winnowing fingerprints overlap heavily under edits, and are position-robust") {
    // shifted = same text with two words prepended: every k-gram moves
    // position but almost all survive — winnowed minima must mostly agree
    val shifted = "oh well " + base
    val d = Seq((0L, base), (1L, shifted), (2L, unrelated)).toDF("doc_id", "text")
    val fps = d.select(col("doc_id"),
        RollingWinnow.call(Text.tokens(col("text")), lit(3), lit(4)).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    val a = fps(0L).toSet; val b = fps(1L).toSet; val c = fps(2L).toSet
    assert((a intersect b).size >= (a.size * 2) / 3,
      s"prefix insertion must preserve most fingerprints: $a vs $b")
    assert((a intersect c).isEmpty, "no shared grams → no shared fingerprints")
    // fingerprint count tracks length/w, not length (the winnowing point)
    assert(a.size < base.split(" ").length,
      "winnowing must select a sparse subset of gram hashes")
  }

  test("jaccard ranks near-dup far above unrelated") {
    val t = docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val a = t.where(col("doc_id") === 0).select(col("toks").as("ta"))
    val near = a.crossJoin(t.where(col("doc_id") === 1).select(col("toks").as("tb")))
      .select(Dedup.jaccard(col("ta"), col("tb"))).as[Double].head()
    val far = a.crossJoin(t.where(col("doc_id") === 2).select(col("toks").as("tb")))
      .select(Dedup.jaccard(col("ta"), col("tb"))).as[Double].head()
    assert(near > 0.8 && far < 0.1)
  }

  test("simhash: near-dups at small Hamming distance, unrelated far apart") {
    val sh = Dedup.withSimhash(docs, col("text"))
      .select(col("doc_id"), col("simhash"))
    val m = sh.as[(Long, Long)].collect().toMap
    assert(m(0L) == m(3L), "identical docs hash identically")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val near = ham(m(0L), m(1L))
    val far = ham(m(0L), m(2L))
    assert(near < far, s"near-dup distance $near must be below unrelated $far")
    assert(near <= 16, s"1-word edit should move few bits, got $near")
    // the declarative hamming verifier agrees with the Scala one
    val viaExpr = sh.where(col("doc_id") === 0).select(col("simhash").as("a"))
      .crossJoin(sh.where(col("doc_id") === 1).select(col("simhash").as("b")))
      .select(Dedup.hamming64(col("a"), col("b"))).as[Int].head()
    assert(viaExpr == near)
  }

  test("simhash band candidates surface the near-dup pair and verify Hamming") {
    val pairs = Dedup.simhashCandidates(docs, col("text"), nBands = 4, maxHamming = 16)
      .as[(Long, Long, Long)].collect()
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 3L)), "exact dups collide on every band")
    assert(pairs.find(p => p._1 == 0L && p._2 == 3L).get._3 == 0L,
      "exact dups verify at Hamming 0")
    assert(!keys.exists(p => p._1 == 2L || p._2 == 2L),
      "unrelated doc must not survive band + Hamming filter")
  }

  test("simhash band width scales with the corpus; 1-band masking correct") {
    // the tier rule, pinned at its exact boundaries: 4 bands (w=16)
    // through n = 16384, 2 bands (w=32) through n = 2^30, then 1
    assert(Dedup.simhashWidthFor(1L) == 16)
    assert(Dedup.simhashWidthFor(16384L) == 16, "4n = 2^16 is the last 16-bit n")
    assert(Dedup.simhashWidthFor(16385L) == 32)
    assert(Dedup.simhashWidthFor(1L << 30) == 32, "4n = 2^32 is the last 32-bit n")
    assert(Dedup.simhashWidthFor((1L << 30) + 1) == 64)
    // the DataFrame wrapper counts the corpus
    assert(Dedup.simhashBands(docs) == 4, s"${docs.count()} docs sit in the 16-bit tier")
    // nBands = 1 (width 64) is the whole signature: 1L << 64 wraps to 1
    // in JVM shift semantics, so the mask needs its special case — the
    // exact-dup pair must still collide and verify at Hamming 0
    val one = Dedup.simhashCandidates(docs, col("text"), nBands = 1, maxHamming = 0)
      .as[(Long, Long, Long)].collect()
    assert(one.map(p => (p._1, p._2)).toSet == Set((0L, 3L)),
      "1-band candidates are exactly the identical-signature pairs")
  }

  test("jaccardDistinct on deduped arrays equals jaccard on the raw arrays") {
    val rnd = new scala.util.Random(23)
    def arr() = Seq.fill(rnd.nextInt(30) + 1)(s"w${rnd.nextInt(12)}")
    val rows = (1L to 200L).map(i => (i, arr(), arr()))
    val df = rows.toDF("id", "a", "b")
      .withColumn("da", array_distinct(col("a")))
      .withColumn("db", array_distinct(col("b")))
    val diff = df.select(col("id"),
        Dedup.jaccard(col("a"), col("b")).as("ref"),
        Dedup.jaccardDistinct(col("da"), col("db")).as("opt"))
      .where(col("ref") =!= col("opt"))
      .count()
    assert(diff == 0, "the one-pass set form must be value-identical")
  }

  test("pageRank matches a scalar reference on a random graph; hub of a star wins") {
    // star: hub 0 with leaves 1..5, plus an isolated node 6
    val ids = (0L to 6L).toDF("doc_id")
    val star = (1L to 5L).map(l => (0L, l)).toDF("doc_a", "doc_b")
    val pr = Dedup.pageRank(ids, star, iters = 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(pr(0L)._1 == 5 && pr(1L)._1 == 1 && pr(6L)._1 == 0, "degrees ride along")
    assert((1L to 5L).forall(l => pr(0L)._2 > pr(l)._2), "the hub outranks leaves")
    assert((1L to 5L).forall(l => pr(l)._2 > pr(6L)._2),
      "connected leaves outrank the isolated node")
    assert(math.abs(pr(6L)._2 - 0.15 / 7) < 1e-15, "isolated = the base term only")

    // random graph vs an independent scalar replay of the SAME quantized
    // arithmetic — distribution/partitioning must not change a bit
    val rnd = new scala.util.Random(17)
    val nodes = (0L until 30L).toSeq
    val pairs = (for {
      a <- nodes; b <- nodes if a < b && rnd.nextInt(10) == 0
    } yield (a, b)).distinct
    val got = Dedup.pageRank(nodes.toDF("doc_id"),
        pairs.toDF("doc_a", "doc_b"), iters = 3)
      .select("doc_id", "pr").as[(Long, Double)].collect().toMap
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size).toMap
    val q = 1099511627776.0
    var ref = nodes.map(_ -> 1.0 / 30).toMap
    for (_ <- 1 to 3) {
      val sums = nodes.map { v =>
        v -> adj.getOrElse(v, Seq.empty)
          // Spark round() semantics, not math.round: BigDecimal HALF_UP
          // on the shortest decimal repr (the Sq8Error one-ulp lesson)
          .map(u => BigDecimal(ref(u) / deg(u) * q)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum
      }.toMap
      ref = nodes.map(v =>
        v -> ((1.0 - 0.85) / 30 + 0.85 * (sums(v).toDouble / q))).toMap
    }
    assert(nodes.forall(v => got(v) == ref(v)),
      s"bit-exact vs the scalar reference: ${nodes.filter(v => got(v) != ref(v))}")
  }

  test("punctRatio counts the ASCII punctuation class; empty text is NULL") {
    val d = Seq((1L, "no punct here"), (2L, "a,b.c!"), (3L, ""), (4L, "!!!"))
      .toDF("doc_id", "text")
    val r = d.select(col("doc_id"), Text.punctRatio(col("text")).as("r"))
      .as[(Long, Option[Double])].collect().toMap
    assert(r(1L).contains(0.0))
    assert(math.abs(r(2L).get - 3.0 / 6.0) < 1e-12, s"3 of 6 chars, got ${r(2L)}")
    assert(r(3L).isEmpty, "zero-length text must be NULL, not NaN/inf")
    assert(r(4L).contains(1.0))
  }

  test("fingerprint is stable under distant edits but changes locally") {
    val fp = docs.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fp(0L) == fp(3L), "identical docs share a fingerprint")
    assert(fp(0L) != fp(2L), "different docs differ")
  }

  test("dupClusters closes transitively: 2-hop chains share one cluster") {
    val ids = spark.range(7).toDF("doc_id")
    // chain 1-2-3 (3 never pairs with 1 directly), pair 5-6, singleton 0 and 4
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(ids, pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 5L, 6L -> 5L), s"got $out")
  }

  test("dupClusters converges on a 64-deep chain inside the round cap") {
    // pointer halving makes rounds O(log diameter): a 64-node path would
    // need 63 plain propagation rounds, far past the 30-round backstop
    val n = 64L
    val ids = spark.range(n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(ids, pairs).as[(Long, Long)].collect()
    assert(out.length == n && out.forall(_._2 == 0L),
      "every node of the chain must label down to 0")
  }

  test("dupClustersStar agrees with dupClusters on chain, star, and empty graphs") {
    val n = 64L
    val ids = spark.range(n).toDF("doc_id")
    val fixtures = Seq(
      // deep chain (worst case for propagation, the star variant's selling point)
      (0L until n - 1).map(i => (i, i + 1)),
      // star centered high (reversal case: center 63 must label to leaf min 0)
      (0L until n - 1).map(i => (63L, i)),
      // two components + reversed-order pairs + a triangle
      Seq((9L, 3L), (3L, 7L), (20L, 11L), (11L, 20L), (5L, 6L), (6L, 5L), (9L, 7L)),
      Seq.empty[(Long, Long)])
    fixtures.foreach { edges =>
      val pairs = edges.toDF("doc_a", "doc_b")
      val a = Dedup.dupClusters(ids, pairs).as[(Long, Long)].collect().toMap
      val b = Dedup.dupClustersStar(ids, pairs).as[(Long, Long)].collect().toMap
      assert(a == b, s"star CC disagrees on $edges:\n$b\nvs propagation\n$a")
    }
  }

  test("dupClustersStar matches dupClusters on seeded random graphs") {
    val rnd = new scala.util.Random(41)
    (0 until 3).foreach { _ =>
      val nNodes = 120
      val ids = spark.range(nNodes.toLong).toDF("doc_id")
      val pairs = (0 until 90).map(_ =>
          (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter(p => p._1 != p._2)
        .toDF("doc_a", "doc_b")
      val a = Dedup.dupClusters(ids, pairs).as[(Long, Long)].collect().toMap
      val b = Dedup.dupClustersStar(ids, pairs).as[(Long, Long)].collect().toMap
      assert(a == b)
    }
  }

  test("cutDupSpans removes exactly the cross-doc duplicated spans") {
    // docs 1/2 share the 4-gram run "a b c d e" (two overlapping dup
    // 4-grams) inside otherwise-unique text; doc 3 is short (< k tokens)
    // and unique; docs 4/5 are identical (everything cut)
    val docs = Seq(
      (1L, "u1 u2 a b c d e u3 u4 u5"),
      (2L, "v1 a b c d e v2 v3 v4"),
      (3L, "w1 w2"),
      (4L, "x1 x2 x3 x4 x5"),
      (5L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text")
    val out = Dedup.cutDupSpans(docs, col("text"), 4)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // every token accounted for, kept + cut partitions the positions
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val n = text.split(" ").length
      val (kept, nTok, nCut) = out(id)
      assert(nTok == n, s"doc $id token count")
      val nKept = if (kept.isEmpty) 0 else kept.split(" ").length
      assert(nKept + nCut == n, s"doc $id partition")
    }
    // the shared run is cut, the unique flanks survive in order
    assert(out(1L)._1 == "u1 u2 u3 u4 u5")
    assert(out(2L)._1 == "v1 v2 v3 v4")
    // short unique doc untouched; full duplicates fully cut
    assert(out(3L) == (("w1 w2", 2L, 0L)))
    assert(out(4L) == (("", 5L, 5L)))
    assert(out(5L) == (("", 5L, 5L)))
  }

  test("cutDupSpans at k=2 cuts overlapping bigram coverage exactly") {
    // "p q" is shared; in doc 1 it sits mid-text so tokens p,q are cut
    // while neighbors stay (bigram coverage: p covered by (o,p),(p,q);
    // only (p,q) is dup)
    val docs = Seq(
      (1L, "o p q r"),
      (2L, "p q"),
      (3L, "s t")).toDF("doc_id", "text")
    val out = Dedup.cutDupSpans(docs, col("text"), 2)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("o r", 4L, 2L)))
    assert(out(2L) == (("", 2L, 2L)))
    assert(out(3L) == (("s t", 2L, 0L)))
  }

  test("reliable-checkpoint mode: identical results, durable round files") {
    import graft.operators.Scale
    val sc = spark.sparkContext
    // the mode refuses to run without a durable checkpoint location —
    // silently falling back to executor-local blocks would defeat it
    if (sc.getCheckpointDir.isEmpty) {
      spark.conf.set(Scale.ReliableCheckpointConf, "true")
      try {
        val e = intercept[IllegalArgumentException] {
          Scale.stage(docs)
        }
        assert(e.getMessage.contains("setCheckpointDir"))
      } finally spark.conf.set(Scale.ReliableCheckpointConf, "false")
    }
    val ids = spark.range(64L).toDF("doc_id")
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val local = Dedup.dupClusters(ids, pairs).as[(Long, Long)].collect().toMap
    // NOTE: setCheckpointDir is sticky on the shared SparkContext (no
    // public unset), which is why the refuse-without-dir branch above
    // runs FIRST and guards on isEmpty; the temp dir itself is cleaned
    // up below so runs don't accumulate checkpoint files on disk
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    ckptDir.toFile.deleteOnExit()
    sc.setCheckpointDir(ckptDir.toString)
    spark.conf.set(Scale.ReliableCheckpointConf, "true")
    try {
      val reliable = Dedup.dupClusters(ids, pairs).as[(Long, Long)].collect().toMap
      assert(reliable == local, "checkpoint mode must not change CC labels")
      // the rounds really went through durable storage, not executor
      // blocks (Using closes the directory-handle stream walk() opens)
      val nFiles = scala.util.Using.resource(java.nio.file.Files.walk(ckptDir))(
        _.filter(p => p.toFile.isFile).count())
      assert(nFiles > 0, "reliable mode must write checkpoint files")
      // the iterative k-means trainer runs under the same knob
      val vecs = (0 until 40).map(i =>
        (i.toLong, Array.tabulate(4)(d => ((i % 4) * 10 + d).toFloat)))
        .toDF("vec_id", "embedding")
      val seed = vecs.where(col("vec_id") < 4)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
      val (cents, rounds) =
        graft.operators.Knn.kmeansTrain(vecs, seed, dim = 4, maxRounds = 10)
      assert(cents.count() == 4L && rounds >= 1)
    } finally {
      spark.conf.set(Scale.ReliableCheckpointConf, "false")
      // recursive cleanup (deleteOnExit alone won't remove non-empty dirs)
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(ckptDir))(
          _.iterator().asScala.toSeq)
        .reverse.foreach(p => p.toFile.delete())
    }
  }

  test("cutDupSpans matches a brute-force reference on seeded random corpora") {
    val k = 4
    val vocab = Vector("a", "b", "c", "d", "e")
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(1000 + trial)
      // tiny vocabulary forces shared grams; lengths 1..9 cover the
      // short-doc (whole-text gram) and exact-k boundaries
      val docs = (0 until 30).map(i => (i.toLong,
        Seq.fill(rnd.nextInt(9) + 1)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      def grams(toks: Array[String]): Vector[String] =
        if (toks.length >= k) toks.sliding(k).map(_.mkString(" ")).toVector
        else Vector(toks.mkString(" "))
      val gramDocs = collection.mutable.Map.empty[String, collection.mutable.Set[Long]]
      docs.foreach { case (id, t) =>
        grams(t.split(" ")).foreach(g =>
          gramDocs.getOrElseUpdate(g, collection.mutable.Set.empty) += id)
      }
      val expected = docs.map { case (id, t) =>
        val toks = t.split(" ")
        val w = if (toks.length >= k) k else toks.length
        val cut = Array.fill(toks.length)(false)
        grams(toks).zipWithIndex.foreach { case (g, p) =>
          if (gramDocs(g).size >= 2)
            (p until math.min(p + w, toks.length)).foreach(cut(_) = true)
        }
        id -> ((toks.zip(cut).collect { case (tk, false) => tk }.mkString(" "),
          toks.length.toLong, cut.count(identity).toLong))
      }.toMap
      val got = Dedup.cutDupSpans(docs.toDF("doc_id", "text"), col("text"), k)
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("gramJoinMode: identical cut/flag results on a planted hot gram, no gram window") {
    // planted hot gram: every doc shares the boilerplate 4-gram run —
    // the Zipfian worst case where the default gram window single-tasks
    val hot = "hot boiler plate gram"
    val docs = (0 until 60).map(i =>
      (i.toLong, s"u${i}a u${i}b $hot u${i}c u${i}d")).toDF("doc_id", "text")
    def runCut(skewSafe: Boolean = false) = Dedup.cutDupSpans(docs, col("text"), 4, skewSafe)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val defaultMode = runCut()
    // the hot 4-gram's 4 tokens are cut everywhere, unique flanks survive
    assert(defaultMode.forall { case (_, kept, n, cut) =>
      n == 8L && cut == 4L && kept.split(" ").length == 4 })
    assert(runCut(skewSafe = true) == defaultMode,
      "join mode must produce byte-identical cut output")
    // plan shape: the dup flag must join back against the staged
    // bounded dup-gram set with NO window over the gram partition —
    // the whole point of the skew-safe mode (the partial aggregate
    // that builds the set runs behind the Scale.stage leaf)
    val pos = docs.select(col("doc_id"), posexplode(
      Text.shinglesNative(Text.tokens(col("text")), 4)).as(Seq("pos", "gram")))
    val plan = Dedup.gramDupFlag(pos, skewSafe = true).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"join mode must not plan a window:\n$plan")
    assert(plan.contains("Join"), s"join mode must join the dup set back:\n$plan")
    // window mode really is the window plan (the modes differ)
    assert(Dedup.gramDupFlag(pos).queryExecution.executedPlan.toString.contains("Window"))
  }

  test("line dedup keeps each distinct line exactly once and rebuilds docs in order") {
    import graft.queries.PipelineQueries
    val dir = "/root/testdata/sf0.001"
    val out = PipelineQueries.xLinededup(spark, dir).cache()
    try {
      val docs = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      // every distinct line survives exactly once corpus-wide:
      // Σ n_kept == |distinct 8-word segments|
      val kept = out.agg(sum("n_kept")).as[Long].head()
      val distinctSegs = docs
        .withColumn("toks", split(col("text"), " "))
        .select(explode(expr(
          "transform(sequence(0, cast((size(toks) + 7) div 8 - 1 as int)), " +
            "k -> concat_ws(' ', slice(toks, k * 8 + 1, 8)))")).as("seg_text"))
        .agg(countDistinct("seg_text")).as[Long].head()
      assert(kept == distinctSegs,
        s"sum(n_kept)=$kept must equal distinct segment count $distinctSegs")
      // a fully-retained doc rebuilds to its original text verbatim
      val full = out.where(col("n_kept") === col("n_seg"))
        .join(docs, "doc_id")
        .where(col("text_kept") =!= col("text"))
        .count()
      assert(full == 0L, "reconstruction must preserve word order for fully-kept docs")
      // totals: n_seg is ceil(words/8) for every doc
      val badSeg = out.join(docs, "doc_id")
        .withColumn("exp", expr("(size(split(text, ' ')) + 7) div 8"))
        .where(col("n_seg") =!= col("exp")).count()
      assert(badSeg == 0L)
    } finally out.unpersist()
  }

  test("boilerplate stats agree with the boilerplate line inventory") {
    import graft.queries.PipelineQueries
    val dir = "/root/testdata/sf0.001"
    val perDoc = PipelineQueries.xBoilerplate(spark, dir)
      .agg(sum("n_boiler")).as[Long].head()
    val inventory = PipelineQueries.xBoilerLines(spark, dir)
      .agg(coalesce(sum("occ"), lit(0L))).as[Long].head()
    assert(perDoc == inventory,
      s"per-doc boiler occurrences ($perDoc) must equal the inventory total ($inventory)")
  }

  test("substrIslands: occurrence semantics, island merge, full-copy coverage") {
    // doc 10 repeats its own 6-word phrase (within-doc occurrence —
    // cross-doc distinct-doc counting would NOT flag this); docs 11/12
    // are exact copies of each other; doc 13 is unique
    val phrase = "alpha beta gamma delta epsilon zeta"
    val d = Seq(
      (10L, s"$phrase $phrase"),
      (11L, "one two three four five six seven eight nine"),
      (12L, "one two three four five six seven eight nine"),
      (13L, "ten eleven twelve thirteen fourteen fifteen sixteen"))
      .toDF("doc_id", "text")
    val out = Dedup.substrIslands(d, col("text"), 6)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // doc 10: grams at positions 1..7; only "alpha…zeta" (pos 1 and 7)
    // occurs twice → spans [1,6] and [7,12], ADJACENT but not
    // overlapping → two islands, jointly covering the whole doc
    // docs 11/12: every gram of each occurs twice (the twin) → spans
    // merge into ONE island covering all 9 words
    // doc 13: unique — absent
    assert(out == Seq((10L, 1L, 6L), (10L, 7L, 12L),
      (11L, 1L, 9L), (12L, 1L, 9L)))
    // islands are disjoint per doc and each at least gram words long
    out.groupBy(_._1).foreach { case (_, spans) =>
      spans.sortBy(_._2).sliding(2).foreach {
        case Seq((_, _, e1), (_, s2, _)) => assert(s2 > e1)
        case _ =>
      }
      spans.foreach { case (_, s, e) => assert(e - s + 1 >= 6) }
    }
  }

  test("substrCut: corpus-first occurrence survives, all later copies cut") {
    val phrase = "alpha beta gamma delta epsilon zeta"
    val d = Seq(
      (10L, s"$phrase $phrase"),                                   // self-repeat
      (11L, "one two three four five six seven eight nine"),
      (12L, "one two three four five six seven eight nine"),       // copy of 11
      (13L, "ten eleven twelve thirteen fourteen fifteen sixteen"))// unique
      .toDF("doc_id", "text")
    val out = Dedup.substrCut(d, col("text"), 6)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // doc 10: first occurrence (pos 1-6) keeps, the self-repeat at 7-12 cut
    assert(out(10L) == ((10L, 12L, 6L, phrase)))
    // doc 11 is the corpus-first copy — fully kept; doc 12 fully cut
    assert(out(11L) == ((11L, 9L, 0L, "one two three four five six seven eight nine")))
    assert(out(12L) == ((12L, 9L, 9L, "")))
    // unique doc untouched
    assert(out(13L)._3 == 0L && out(13L)._4.startsWith("ten eleven"))
    // conservation: kept tokens + cut tokens = doc tokens, corpus-wide
    val total = out.values.map(_._2).sum
    val cut = out.values.map(_._3).sum
    val keptWords = out.values.map(_._4).filter(_.nonEmpty)
      .map(_.split(" ").length.toLong).sum
    assert(keptWords + cut == total)
  }

  test("dupClusters leaves pair endpoints outside docs inert") {
    // pairs may reference docs a gate upstream removed: a foreign
    // endpoint must neither take a label nor become one (a cluster id
    // that exists in no doc would silently break every
    // keep-representative `doc_id === cluster` consumer)
    val docs = Seq(5L, 7L, 9L).toDF("doc_id")
    val pairs = Seq((3L, 5L), (5L, 7L)).toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(docs, pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(5L -> 5L, 7L -> 5L, 9L -> 9L))
  }

  test("triangleStats counts planted cliques, paths, and stars exactly") {
    def stats(edges: Seq[(Long, Long)]): (Long, Long, Long, Long, Double) =
      Dedup.triangleStats(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long, Long, Long, Double)].head()
    // K4: 4 triangles, 12 wedges, clustering 1.0 — every wedge closes
    val k4 = for { a <- 0L to 3L; b <- (a + 1) to 3L } yield (a, b)
    assert(stats(k4) == ((4L, 6L, 12L, 4L, 1.0)))
    // path 0-1-2-3: zero triangles, 2 wedges, clustering 0
    assert(stats(Seq((0L, 1L), (1L, 2L), (2L, 3L))) == ((4L, 3L, 2L, 0L, 0.0)))
    // hot star (center 0, leaves 1..5) + one closing edge 1-2:
    // 1 triangle; wedges = C(5,2) at the center + 1 at each closed leaf
    assert(stats((1L to 5L).map(l => (0L, l)) :+ ((1L, 2L))) ==
      ((6L, 6L, 12L, 1L, 0.25)))
    // dedup + canonicalization: reversed and duplicated edges collapse
    assert(stats(Seq((1L, 0L), (0L, 1L), (1L, 2L), (0L, 2L), (2L, 0L))) ==
      ((3L, 3L, 3L, 1L, 1.0)))
  }
}
