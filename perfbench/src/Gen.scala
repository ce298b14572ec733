package perfbench

import graft.core.{Doc, Hashing, LexiconEntry, Span}
import graft.data.DocsGen

/** Seeded input generators. Every draw is keyed on (seed, index), so a seed
  * gives the same inputs on any partitioning, and the driver can replay a
  * document (for the oracles) without reading what the program staged.
  */
object Gen {

  /** A gold mention: what the generator placed, independent of the detector. */
  final case class Gold(docId: String, tpe: String, surface: String)

  private def h(seed: Long, a: Long, b: Long): Long = Hashing.mix64(Hashing.hash2(Hashing.hash2(seed, a), b))
  private def pick(x: Long, n: Int): Int = Hashing.pick(x, n)

  // ------------------------------------------------------------ uniform corpus

  /** The repository's own uniform corpus (kg_batch, kg_resume). */
  def uniformGold(idx: Long, seed: Long): Seq[Gold] =
    DocsGen.buildDoc(idx, seed).mentions.map(m => Gold(m.doc_id, m.entity_type, m.text))

  // ------------------------------------------------------------ Zipf corpus

  /** Surface characters and filler characters are disjoint CJK blocks, and
    * every lexicon surface has the same length, so no lexicon surface can
    * match anywhere in a generated text except exactly at a placed surface.
    */
  val SurfaceLen = 4
  private val Alphabet: Array[Char] = Array.tabulate(256)(i => (0x5000 + i).toChar)
  private val Filler: Array[Char] = Array.tabulate(24)(i => (0x6000 + i).toChar)
  val Types: IndexedSeq[String] = DocsGen.Types

  /** Shape of the UMLS-scale lexicon: `concepts` corpus concepts with 1 to
    * `maxSynonyms` surfaces each, plus distractor entries whose surfaces
    * never occur in the corpus.
    */
  final case class LexShape(concepts: Int, maxSynonyms: Int, distractors: Int)

  /** The lexicon and the Zipf sampler for one seed. Concept `c` has Zipf
    * rank `c`; its synonyms are consecutive entries.
    */
  final class ZipfLexicon(val seed: Long, val shape: LexShape) extends Serializable {
    // entry j's surface: 4 base-256 digits of an odd-multiplier bijection
    // of j mod 2^32, so distinct entries never share a surface
    private val mult = (h(seed, 11, 0) | 1L) & 0xFFFFFFFFL
    private val offs = h(seed, 12, 0) & 0xFFFFFFFFL
    def surface(j: Int): String = {
      var x = (j.toLong * mult + offs) & 0xFFFFFFFFL
      val sb = new java.lang.StringBuilder(SurfaceLen)
      var k = 0
      while (k < SurfaceLen) { sb.append(Alphabet((x & 255).toInt)); x >>>= 8; k += 1 }
      sb.toString
    }
    // types by rank, not by draw: the few top-ranked concepts carry a large
    // share of all mentions, so drawing their types would make the triple
    // count swing with the seed
    def conceptType(c: Int): String = Types(c % Types.length)
    def conceptId(c: Int): String = f"C${c + 1}%07d"
    /** first entry index of concept c, for c in [0, concepts] */
    val firstEntry: Array[Int] = {
      val a = new Array[Int](shape.concepts + 1)
      var c = 0
      while (c < shape.concepts) { a(c + 1) = a(c) + 1 + pick(h(seed, 14, c), shape.maxSynonyms); c += 1 }
      a
    }
    def corpusEntries: Int = firstEntry(shape.concepts)
    def size: Int = corpusEntries + shape.distractors
    private val cdf: Array[Double] = {
      val w = Array.tabulate(shape.concepts)(r => 1.0 / (r + 1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def zipfConcept(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, shape.concepts - 1)
    }
    /** (concept_id, surface, type) of entry j; distractors are their own concepts */
    def entry(j: Int): (String, String, String) =
      if (j < corpusEntries) {
        var lo = 0
        var hi = shape.concepts - 1
        while (lo < hi) { val mid = (lo + hi + 1) >>> 1; if (firstEntry(mid) <= j) lo = mid else hi = mid - 1 }
        (conceptId(lo), surface(j), conceptType(lo))
      } else {
        val c = shape.concepts + (j - corpusEntries)
        (conceptId(c), surface(j), conceptType(c))
      }
    def lexiconEntry(j: Int): LexiconEntry = {
      val (cid, s, t) = entry(j)
      // scaled so an exact-surface candidate (+10) always outranks any other
      LexiconEntry(cid, s, t, Hashing.embedding(cid + "|" + s, graft.data.Lexicon.EmbeddingDim).map(_ * 0.1f))
    }
  }

  private def fillerRun(sb: java.lang.StringBuilder, x: Long, minLen: Int, maxLen: Int): Unit = {
    val len = minLen + pick(Hashing.mix64(x), maxLen - minLen + 1)
    var i = 0
    while (i < len) { sb.append(Filler(pick(Hashing.mix64(x + 31 * i + 7), Filler.length))); i += 1 }
  }

  /** One document of the Zipf corpus and its gold mentions; the span layout
    * follows `DocsGen.buildDoc` (1-3 text spans with 1-3 entities each,
    * 0-2 media spans).
    */
  def zipfDoc(idx: Long, lex: ZipfLexicon): (Doc, Seq[Gold]) = {
    val seed = lex.seed
    val docId = f"doc-$idx%010d"
    val h0 = h(seed, 20, idx)
    val nText = 1 + pick(Hashing.mix64(h0 + 1), 3)
    val nMedia = pick(Hashing.mix64(h0 + 2), 3)
    val nSpans = nText + nMedia
    val mediaPos = (0 until nSpans).sortBy(p => Hashing.mix64(h0 + 100 + p)).take(nMedia).toSet
    val spans = Seq.newBuilder[Span]
    val gold = Seq.newBuilder[Gold]
    for (pos <- 0 until nSpans) {
      if (mediaPos.contains(pos)) spans += Span("image", "", s"media://image/$docId/$pos", pos)
      else {
        val hs = h(h0, 1000, pos)
        val nEnts = 1 + pick(Hashing.mix64(hs + 1), 3)
        val sb = new java.lang.StringBuilder
        fillerRun(sb, hs + 2, 2, 8)
        var e = 0
        while (e < nEnts) {
          val c = lex.zipfConcept(Hashing.uniformDouble(Hashing.mix64(hs + 10 + e)))
          val nSyn = lex.firstEntry(c + 1) - lex.firstEntry(c)
          val surf = lex.surface(lex.firstEntry(c) + pick(Hashing.mix64(hs + 20 + e), nSyn))
          sb.append(surf)
          gold += Gold(docId, lex.conceptType(c), surf)
          fillerRun(sb, hs + 30 + e, 2, 10)
          e += 1
        }
        spans += Span("text", sb.toString, "", pos)
      }
    }
    (Doc(docId, spans.result()), gold.result())
  }

  // ------------------------------------------------------------ documents table

  /** The 30-word vocabulary of the sf0.1 `documents` table; its words occur
    * with equal frequency (3.26–3.39 % each, measured over the table).
    */
  val DocWords: Array[String] = (
    "a agg batch big column customer data fast filter group hash join key line merge order " +
    "part query row scan slow small sort spark stream table the value vector window").split(" ")
  /** Languages of the sf0.1 table and their shares (en 2059, zh 753, es 744, fr 742, de 702 of 5000). */
  private val Langs: Array[(String, Double)] = Array("en" -> 0.4118, "zh" -> 0.1506, "es" -> 0.1488, "fr" -> 0.1484, "de" -> 0.1404)
  val CopyKeyOffset: Long = graft.tools.MakeSf.KeyOffset

  /** @param baseDocs rows of the source table (sf0.1: 5000)
    * @param dupShare share of source rows that repeat another row's text
    *                 with a ` dup` token appended (sf0.1: 250 of 5000)
    * @param copies   the `MakeSf` factor: each source row, key-shifted by
    *                 `c * 10^8` and salted with ` cpy<c>` for copy c > 0
    */
  final case class DocsShape(baseDocs: Int, dupShare: Double, copies: Int)

  private def baseBody(b: Long, seed: Long): String = {
    val hb = h(seed, 30, b)
    val n = 10 + pick(hb, 90) // 10–99 words, uniform, as measured
    val sb = new java.lang.StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(DocWords(pick(Hashing.mix64(hb + 3 + i), DocWords.length)))
      i += 1
    }
    sb.toString
  }

  /** The source row a near-duplicate row `b` repeats, if `b` is one. */
  def dupSource(b: Long, seed: Long, shape: DocsShape): Option[Long] = {
    val hd = h(seed, 32, b)
    if (Hashing.uniformDouble(hd) >= shape.dupShare) None
    else {
      val s = pick(Hashing.mix64(hd + 1), shape.baseDocs - 1).toLong
      Some(if (s >= b) s + 1 else s)
    }
  }

  /** One row of the expanded documents table: (doc_id, text, lang, source).
    * Source rows follow the sf0.1 table's measured shape; copies follow
    * `graft.tools.MakeSf`: key offset per copy, ` cpy<c>` salt, other
    * columns unchanged.
    */
  def document(id: Long, seed: Long, shape: DocsShape): (Long, String, String, String) = {
    val b = id % CopyKeyOffset
    val copy = id / CopyKeyOffset
    val body = dupSource(b, seed, shape).fold(baseBody(b, seed))(s => baseBody(s, seed) + " dup")
    val u = Hashing.uniformDouble(h(seed, 33, b))
    var k = 0
    var acc = Langs(0)._2
    while (k < Langs.length - 1 && u >= acc) { k += 1; acc += Langs(k)._2 }
    (id, if (copy > 0) s"$body cpy$copy" else body, Langs(k)._1, s"src${b % 20}")
  }

  def documentIds(shape: DocsShape): Seq[Long] =
    for (c <- 0 until shape.copies; b <- 0 until shape.baseDocs) yield c * CopyKeyOffset + b

  /** The near-duplicate pairs the generator plants, ordered (id_a < id_b):
    * every two copies of one source row, and every copy of a `dup` row with
    * every copy of the row it repeats.
    */
  def plantedPairs(seed: Long, shape: DocsShape): Seq[(Long, Long)] = {
    val cs = 0 until shape.copies
    def ordered(a: Long, b: Long) = if (a < b) (a, b) else (b, a)
    (0L until shape.baseDocs.toLong).flatMap { b =>
      val copies = for (x <- cs; y <- cs if x < y) yield ordered(x * CopyKeyOffset + b, y * CopyKeyOffset + b)
      val dups = dupSource(b, seed, shape).toSeq.flatMap(s => for (x <- cs; y <- cs) yield ordered(x * CopyKeyOffset + b, y * CopyKeyOffset + s))
      copies ++ dups
    }.distinct
  }
}
