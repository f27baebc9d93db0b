package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** A generated document. `family` is the id of the fresh document this
  * one was copied from (itself when fresh): copies are exact or append
  * one word, so every member of a family is a near-duplicate of every
  * other (3-word-shingle Jaccard ≥ (n-2)/(n+1) for n-word texts), while
  * unrelated texts draw from a 2^20-word vocabulary and share no
  * shingle in practice. */
final case class Doc(id: Long, text: String, source: String, family: Long)

final case class Vec(id: Long, values: Array[Float])

/** Seeded inputs and the truth the benchmark checks outputs against.
  * Every stream is derived from the seed and a fixed stream number, so
  * the same seed always yields the same inputs, whatever the timing. */
final class Gen(seed: Long) {

  def rng(stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  def word(r: SplittableRandom): String = "w" + Integer.toString(r.nextInt(1 << 20), 36)

  /** `n` distinct random words: no repeated 2-gram, so the repetition
    * gate never drops a fresh document. */
  def words(r: SplittableRandom, n: Int): Array[String] = {
    val seen = mutable.HashSet.empty[String]
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val w = word(r)
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  def freshText(r: SplittableRandom, lo: Int = 40, hi: Int = 60): String =
    words(r, lo + r.nextInt(hi - lo + 1)).mkString(" ")

  /** A near copy: the text plus one fresh word at the end. */
  def nearCopy(r: SplittableRandom, text: String): String = text + " " + word(r)

  def source(r: SplittableRandom): String = "src" + r.nextInt(4)

  def freshDocs(r: SplittableRandom, firstId: Long, n: Int): Array[Doc] =
    Array.tabulate(n) { i =>
      val id = firstId + i
      Doc(id, freshText(r), source(r), id)
    }

  def vector(r: SplittableRandom, dim: Int): Array[Float] =
    Array.fill(dim)(r.nextGaussian().toFloat)

  /** A near copy of a vector: cosine ≈ 0.9998 to its source, ~0 to
    * every other (independent Gaussian) vector, so the source is the
    * unique rank-1 neighbour. */
  def nearVector(r: SplittableRandom, v: Array[Float]): Array[Float] =
    v.map(x => x + 0.02f * r.nextGaussian().toFloat)

  def vectors(r: SplittableRandom, firstId: Long, n: Int, dim: Int): Array[Vec] =
    Array.tabulate(n)(i => Vec(firstId + i, vector(r, dim)))
}

/** The reference's plan catalogue and group masks. Plans exist for
  * every bit except [[Plans.MissingBits]] (bit 31 among them, so a
  * group naming it silently drops it); bit 63's plan id is
  * `Long.MinValue`. */
object Plans {
  val MissingBits: Set[Int] = Set(5, 19, 31, 44)
  val Bits: Seq[Int] = (0 to 63).filterNot(MissingBits)

  def title(bit: Int): String = f"plan$bit%02d"
  def id(bit: Int): Long = 1L << bit

  /** A mask with 0–10 random bits, plus bit 31 and bit 63 each with
    * probability 1/4. */
  def mask(r: SplittableRandom): Long = {
    var m = 0L
    val n = r.nextInt(11)
    var i = 0
    while (i < n) { m |= 1L << r.nextInt(64); i += 1 }
    if (r.nextInt(4) == 0) m |= 1L << 31
    if (r.nextInt(4) == 0) m |= 1L << 63
    m
  }

  /** Independent decode of one mask: (n_plans, plan_titles). */
  def decode(mask: Long): (Long, String) = {
    val titles = (0 to 63).filter(b => (mask & (1L << b)) != 0 && !MissingBits(b)).map(title)
    (titles.size.toLong, titles.mkString(","))
  }

  def masks(g: Gen, stream: Long, groups: Int): Array[Long] = {
    val r = g.rng(stream)
    Array.fill(groups)(mask(r))
  }
}

/** Generated `documents` table for the near-dup pipeline and the
  * pipeline's expected output, derived from how the table was built:
  * fresh documents, exact and near copies (families), short documents
  * that fail the length gate, repetitive documents that fail the
  * repetition gate, and documents carrying a 10-word run of a
  * benchmark document (every 50th id) that decontamination must drop. */
final class PipelineInput(g: Gen, n: Int) {
  val docs: Array[Doc] = {
    val r = g.rng(30)
    val out = new Array[Doc](n)
    val normal = mutable.ArrayBuffer.empty[Int] // indexes usable as copy parents
    var i = 0
    while (i < n) {
      val id = (i + 1).toLong
      val src = g.source(r)
      val kind = r.nextInt(100)
      val d =
        if (kind < 4 && normal.nonEmpty) { // exact copy
          val p = out(normal(r.nextInt(normal.size)))
          Doc(id, p.text, src, p.family)
        } else if (kind < 8 && normal.nonEmpty) { // near copy
          val p = out(normal(r.nextInt(normal.size)))
          Doc(id, g.nearCopy(r, p.text), src, p.family)
        } else if (kind < 9) // too short for the length gate
          Doc(id, g.words(r, 10 + r.nextInt(6)).mkString(" "), src, id)
        else if (kind < 10) { // one 4-word phrase repeated: repetition gate
          val w = g.words(r, 4)
          Doc(id, Seq.fill(10)(w.mkString(" ")).mkString(" "), src, id)
        } else if (kind < 12 && i >= 100) { // contaminated by a benchmark doc
          val b = out(50 * (1 + r.nextInt(i / 50)) - 1)
          val bw = b.text.split(" ")
          val at = r.nextInt(bw.length - 10 + 1)
          val run = bw.slice(at, at + 10)
          Doc(id, (g.words(r, 20) ++ run ++ g.words(r, 20)).mkString(" "), src, id)
        } else Doc(id, g.freshText(r), src, id)
      if (d.family == id && kind >= 10 && !(kind < 12 && i >= 100)) normal += i
      out(i) = d
      i += 1
    }
    out
  }

  private def isBench(d: Doc): Boolean = d.id % 50 == 0

  private def md5Nibble(s: String): Char = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Character.forDigit((h(0) >> 4) & 0xf, 16)
  }

  private def grams(tokens: Array[String], k: Int): Seq[String] =
    if (tokens.length < k) Seq(tokens.mkString(" "))
    else tokens.sliding(k).map(_.mkString(" ")).toSeq

  /** Expected rows (split, source, n_docs, n_tokens), in output order. */
  lazy val expected: Seq[(String, String, Long, Long)] = {
    val corpus = docs.filterNot(isBench)
    // exact dedup: one representative (min id) per distinct text
    val reps = corpus.groupBy(_.text).values.map(_.minBy(_.id)).toSeq
    // near-dup components: one survivor (min id) per family
    val survivors = reps.groupBy(_.family).values.map(_.minBy(_.id)).toSeq
    val gated = survivors.filter { d =>
      val t = d.text.split(" ")
      val pairs = t.sliding(2).map(_.mkString(" ")).toSeq
      val dup2 = if (t.length < 2) 0.0 else 1.0 - pairs.distinct.size.toDouble / pairs.size
      d.text.length >= 100 && t.length >= 20 && dup2 <= 0.3
    }
    val benchGrams = docs.filter(isBench).flatMap(d => grams(d.text.split(" "), 8)).toSet
    val clean = gated.filterNot(d => grams(d.text.split(" "), 8).exists(benchGrams))
    clean.map { d =>
      val c = md5Nibble(d.text)
      val split = if (c <= 'b') "train" else if (c <= 'd') "val" else "test"
      (split, d.source, d.text.split(" ").length.toLong)
    }.groupBy(x => (x._1, x._2)).toSeq
      .map { case ((sp, src), xs) => (sp, src, xs.size.toLong, xs.map(_._3).sum) }
      .sortBy(x => (x._1, x._2))
  }
}
