package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded text corpus with planted duplicate structure. Plain Scala, no
  * Spark and no program code.
  *
  * Every family draws its words from a vocabulary no other family shares
  * (each word carries the family id in its letters), so no near-duplicate
  * edge can legitimately join two families. Family kinds:
  *  - exact: one document and 1-4 byte-identical copies;
  *  - chain: d0 -> d1 -> ... where each step rewrites two tokens, so
  *    neighbours overlap strongly and the ends far less; chain length
  *    (2-6) sets how many closure sweeps the grouping needs. A quarter of
  *    the chains also carry a byte copy of one member;
  *  - single: one document.
  * Doc ids are a seeded permutation, so family members are scattered.
  */
object CorpusGen {

  final case class Doc(id: Long, text: String, lang: String, family: Int)

  val Langs: Seq[String] = Seq("en", "en", "en", "fr", "es", "de", "zh")
  val DocTokens = 32
  /** Tokens rewritten per chain step. */
  val EditTokens = 2

  private val letters = "bcdfghjklmnprstvz"
  private def tag(fid: Int): String = {
    val sb = new StringBuilder; var x = fid
    do { sb += ('a' + x % 26).toChar; x /= 26 } while (x > 0)
    sb.toString
  }

  /** A family's private vocabulary: 60 pseudo-words ending in its tag. */
  private def vocab(rnd: Random, fid: Int): IndexedSeq[String] = {
    val t = tag(fid)
    (0 until 60).map { i =>
      val len = 2 + rnd.nextInt(3)
      (0 until len).map(_ => letters(rnd.nextInt(letters.length))).mkString +
        "aeiou"(i % 5) + "q" + t
    }.distinct
  }

  private def draw(rnd: Random, v: IndexedSeq[String], n: Int): Vector[String] =
    Vector.fill(n)(v(rnd.nextInt(v.size)))

  private def edit(rnd: Random, v: IndexedSeq[String], d: Vector[String]): Vector[String] = {
    var out = d
    val picked = mutable.Set.empty[Int]
    while (picked.size < EditTokens) picked += rnd.nextInt(d.size)
    picked.foreach(i => out = out.updated(i, v(rnd.nextInt(v.size))))
    out
  }

  /** `size` documents: planted families until the size is reached. */
  def corpus(seed: Long, size: Int): (Seq[Doc], Families) = {
    val rnd = new Random(seed * 15485863L + 5)
    val texts = mutable.ArrayBuffer.empty[(String, String, Int)]
    val chains = mutable.ArrayBuffer.empty[Seq[Int]] // positions in texts
    var fid = 0
    while (texts.size < size) {
      val v = vocab(rnd, fid)
      val lang = Langs(rnd.nextInt(Langs.size))
      val roll = rnd.nextInt(100)
      if (roll < 20) {                       // exact family
        val t = draw(rnd, v, DocTokens).mkString(" ")
        (0 to 1 + rnd.nextInt(4)).foreach(_ => texts += ((t, lang, fid)))
      } else if (roll < 60) {                // near-dup chain
        val len = 2 + rnd.nextInt(5)
        var d = draw(rnd, v, DocTokens)
        val pos = (0 until len).map { _ =>
          texts += ((d.mkString(" "), lang, fid)); val p = texts.size - 1
          d = edit(rnd, v, d); p
        }
        chains += pos
        if (rnd.nextInt(4) == 0) texts += ((texts(pos(rnd.nextInt(len)))._1, lang, fid))
      } else texts += ((draw(rnd, v, DocTokens).mkString(" "), lang, fid))
      fid += 1
    }
    val ids = rnd.shuffle((0L until texts.size.toLong).toVector)
    val docs = texts.indices.map(i => Doc(ids(i), texts(i)._1, texts(i)._2, texts(i)._3))
    (docs.sortBy(_.id), Families(chains.map(_.map(ids)).toSeq, fid))
  }

  /** The planted structure the checks need: consecutive chain members
    * (as doc ids) and the number of families drawn. */
  final case class Families(chains: Seq[Seq[Long]], count: Int) {
    def plantedPairs: Seq[(Long, Long)] =
      chains.flatMap(c => c.zip(c.tail))
  }

  /** One incremental batch of `size` docs with ids from `firstId`, in a
    * fixed rotation: a byte copy of a corpus doc, a near copy (one chain
    * step from a corpus doc), a novel doc from a fresh family, and a pair
    * of novel docs that are near copies of each other. The seed picks the
    * source docs and the words. `freshFid` numbers the fresh families past
    * the corpus's. Returns the docs and the near copies as (doc id,
    * source id). */
  def batch(seed: Long, round: Int, corpus: IndexedSeq[Doc], firstId: Long,
      size: Int, freshFid: Int): (Seq[Doc], Seq[(Long, Long)]) = {
    val rnd = new Random(seed * 32452843L + round * 1000003L + 7)
    val out = mutable.ArrayBuffer.empty[Doc]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    var fid = freshFid
    def next() = firstId + out.size
    var step = 0
    while (out.size < size) {
      val roll = step % 4
      step += 1
      if (roll == 0) {
        val src = corpus(rnd.nextInt(corpus.size))
        out += Doc(next(), src.text, src.lang, src.family)
      } else if (roll == 1) {
        val src = corpus(rnd.nextInt(corpus.size))
        val words = src.text.split(" ").toVector
        near += ((next(), src.id))
        out += Doc(next(), edit(rnd, words.distinct, words).mkString(" "), src.lang, src.family)
      } else {
        val v = vocab(rnd, fid)
        val lang = Langs(rnd.nextInt(Langs.size))
        val d = draw(rnd, v, DocTokens)
        out += Doc(next(), d.mkString(" "), lang, fid)
        if (roll == 3 && out.size < size)
          out += Doc(next(), edit(rnd, v, d).mkString(" "), lang, fid)
        fid += 1
      }
    }
    (out.toSeq, near.toSeq)
  }

  /** Distinct word 3-gram shingles, tokenised on runs of spaces. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val w = text.split(" +").filter(_.nonEmpty)
    if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size
}
