package perfbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** Expected outputs computed sequentially on the driver from the generators'
  * gold data — never from the program's output.
  */
object Oracle {

  /** The relation rules, kept as their own copy: a change to the program's
    * rules shows as a mismatch instead of moving the expectation with it.
    */
  val Rules: Map[(String, String), String] = Map(
    ("Diseases", "Drug") -> "treated_by",
    ("Diseases", "Laboratory") -> "has_finding",
    ("Diseases", "Anatomical") -> "located_in",
    ("Diseases", "Image") -> "diagnosed_by",
    ("Diseases", "Operation") -> "treated_with")

  /** Count and wrap-around sum of a 64-bit tuple hash: equal digests mean
    * equal multisets (up to hash collisions), whatever the row order.
    */
  final case class Digest(count: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
  }
  val Empty: Digest = Digest(0L, 0L)

  def tupleHash(parts: String*): Long = {
    val k = parts.mkString("\u0001")
    (MurmurHash3.stringHash(k, 0x3c6ef372).toLong << 32) ^ (MurmurHash3.stringHash(k, 0x1b873593).toLong & 0xffffffffL)
  }
  def tripleDigest(subj: String, pred: String, obj: String, docId: String): Digest =
    Digest(1L, tupleHash(subj, pred, obj, docId))

  /** Expected triples of ONE pipeline run over `docs` (gold mentions grouped
    * by document). Each mention links to the lexicon concept of its exact
    * surface and type ("S:<surface>" when the lexicon has none); the
    * canonical id is the smallest node of the mention's component in the
    * graph of surface-node ↔ concept edges; every distinct (type, concept)
    * of a document pairs a Diseases subject with each rule object.
    */
  def triples(docs: Iterable[Seq[Gen.Gold]], concept: (String, String) => Option[String]): Iterator[(String, String, String, String)] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    def link(g: Gen.Gold): String = concept(g.surface, g.tpe).getOrElse("S:" + g.surface)
    for (d <- docs; g <- d) {
      val a = find("S:" + g.surface)
      val b = find(link(g))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    docs.iterator.flatMap { d =>
      val concepts = d.map(g => (g.tpe, link(g))).distinct
      for {
        (st, s) <- concepts.iterator if st == "Diseases"
        (ot, o) <- concepts.iterator
        pred <- Rules.get((st, ot)).iterator
      } yield (find(s), pred, find(o), d.head.docId)
    }
  }

  def digest(ts: Iterator[(String, String, String, String)]): Digest =
    ts.foldLeft(Empty)((acc, t) => acc + tripleDigest(t._1, t._2, t._3, t._4))

  /** Spark's `xxhash64(doc_id)` chunk rule, recomputed from the string bytes. */
  def chunkOf(docId: String, nChunks: Int): Int = {
    val hv = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(docId), 42L)
    (((hv % nChunks) + nChunks) % nChunks).toInt
  }

  // -------------------------------------------------------------- n-gram pairs

  /** Word w-shingles: lower-cased, whitespace-split, sliding window; a text
    * shorter than w words is one shingle.
    */
  def shingles(text: String, w: Int): Set[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < w) (if (toks.isEmpty) Set.empty else Set(toks.mkString(" ")))
    else toks.sliding(w).map(_.mkString(" ")).toSet
  }

  /** Spark's `round(x, 6)` on a double. */
  def round6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The expected n-gram Jaccard pairs over (id, text) rows: for each pair
    * sharing a shingle, the score counts only shared shingles whose
    * document frequency is within the posting cap, and pairs whose rounded
    * score clears the threshold are kept. Also answers, per pair, the exact
    * Jaccard and whether any shared shingle was over the cap.
    */
  final class NgramPairs(ids: Array[Long], texts: Array[String], w: Int, threshold: Double, maxDf: Int) {
    private val intern = mutable.HashMap.empty[String, Int]
    val sets: Array[Array[Int]] = texts.map { t =>
      shingles(t, w).iterator.map(s => intern.getOrElseUpdate(s, intern.size)).toArray.sorted
    }
    private val df = new Array[Int](intern.size)
    sets.foreach(_.foreach(s => df(s) += 1))
    private val index: Map[Long, Int] = ids.iterator.zipWithIndex.toMap

    private def sharedCounts(i: Int, j: Int): (Int, Int) = {
      val a = sets(i); val b = sets(j)
      var x = 0; var y = 0; var all = 0; var capped = 0
      while (x < a.length && y < b.length) {
        if (a(x) < b(y)) x += 1
        else if (a(x) > b(y)) y += 1
        else { all += 1; if (df(a(x)) > maxDf) capped += 1; x += 1; y += 1 }
      }
      (all, capped)
    }
    def exactJaccard(idA: Long, idB: Long): Double = {
      val i = index(idA); val j = index(idB)
      val (all, _) = sharedCounts(i, j)
      all.toDouble / (sets(i).length + sets(j).length - all)
    }
    def sharesCapped(idA: Long, idB: Long): Boolean = sharedCounts(index(idA), index(idB))._2 > 0
    def cappedScore(idA: Long, idB: Long): Double = {
      val i = index(idA); val j = index(idB)
      val (all, capped) = sharedCounts(i, j)
      val s = all - capped
      round6(s.toDouble / (sets(i).length + sets(j).length - s))
    }

    /** Sorted (id_a, id_b, score) with id_a < id_b: for each document,
      * its shared-shingle counts with every later document, counted
      * through the capped postings (documents in parallel).
      */
    lazy val expected: Array[(Long, Long, Double)] = {
      val postings = Array.fill(intern.size)(mutable.ArrayBuilder.make[Int])
      sets.iterator.zipWithIndex.foreach { case (s, i) => s.foreach(x => if (df(x) <= maxDf) postings(x) += i) }
      val post = postings.map(_.result())
      val n = sets.length
      val found = (0 until n).grouped(math.max(1, n / 64)).toSeq.par.flatMap { block =>
        val cnt = new Array[Int](n)
        val touched = mutable.ArrayBuilder.make[Int]
        val out = mutable.ArrayBuffer.empty[(Long, Long, Double)]
        block.foreach { i =>
          sets(i).foreach { x =>
            if (df(x) <= maxDf) post(x).foreach(j => if (j > i) { if (cnt(j) == 0) touched += j; cnt(j) += 1 })
          }
          touched.result().foreach { j =>
            val c = cnt(j)
            cnt(j) = 0
            val raw = c.toDouble / (sets(i).length + sets(j).length - c)
            if (raw >= threshold - 1e-6) { // rounding moves a score by at most 5e-7
              val score = round6(raw)
              if (score >= threshold) out += (if (ids(i) < ids(j)) (ids(i), ids(j), score) else (ids(j), ids(i), score))
            }
          }
          touched.clear()
        }
        out
      }.seq
      found.toArray.sortBy(p => (p._1, p._2))
    }
  }
}
