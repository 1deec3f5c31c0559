package graftbench

import scala.collection.mutable

/** Seeded document corpus with planted structure, shared by
  * `corpus_maintain` and `corpus_serve`.
  *
  * Documents are Zipf-distributed words from a synthetic vocabulary,
  * each with a small embedding near one of a few topic centres. Ids
  * are in arrival order: `1..standing` is the standing corpus, later
  * ids arrive in drops. Planted among them, at random ids:
  *   - near-duplicate groups: a source document and 1-3 copies with a
  *     few words replaced (3-shingle Jaccard well above graft's 0.5
  *     default threshold) whose embeddings are the source's plus small
  *     noise (planted neighbours);
  *   - control documents: a group source with 30% of its words
  *     replaced (Jaccard near 0.2), which must never join the group. */
final class CorpusGen(seed: Long, val total: Int) {
  import CorpusGen._

  private val rnd = new java.util.Random(RttGen.mix(seed, 31, total))
  val vocab: Array[String] = Array.tabulate(VocabSize)(word)
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / math.pow(i + 1, 1.05))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val centres = Array.fill(Topics)(gaussian(Dim, 1.0))

  val text = new Array[String](total + 1)
  val vec = new Array[Array[Double]](total + 1)
  /** Planted near-duplicate groups (ids, source first) and controls. */
  val groups = mutable.ArrayBuffer.empty[Seq[Int]]
  val controls = mutable.ArrayBuffer.empty[Int]
  /** Control id -> index of the group whose source it was edited from. */
  val controlGroup = mutable.Map.empty[Int, Int]

  locally {
    val ids = scala.util.Random.javaRandomToRandom(rnd).shuffle((1 to total).toVector)
    var next = 0
    def take(): Int = { next += 1; ids(next - 1) }
    val nGroups = (total * GroupShare).toInt
    (0 until nGroups).foreach { _ =>
      val src = take()
      val words = randomDoc()
      text(src) = words.mkString(" ")
      vec(src) = topicVector()
      val copies = (1 + rnd.nextInt(3)).min(total - next - 1)
      val members = src +: (0 until copies).map { _ =>
        val id = take()
        text(id) = edit(words, CopyEdits).mkString(" ")
        vec(id) = noisy(vec(src), 0.05)
        id
      }
      groups += members
      if (rnd.nextInt(2) == 0 && next < total) {
        val c = take()
        text(c) = edit(words, (words.length * 0.3).toInt).mkString(" ")
        vec(c) = topicVector()
        controls += c
        controlGroup(c) = groups.size - 1
      }
    }
    while (next < total) {
      val id = take()
      text(id) = randomDoc().mkString(" ")
      vec(id) = topicVector()
    }
  }

  /** Content hash of every document: equal seeds give equal hashes. */
  lazy val sha256: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (1 to total).foreach { i =>
      md.update(s"$i\t${text(i)}\t${vec(i).mkString(",")}\n".getBytes("UTF-8"))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Unordered planted pairs among `live` ids. */
  def plantedPairs(live: Int => Boolean): Seq[(Int, Int)] =
    groups.toSeq.flatMap { g =>
      val l = g.filter(live)
      for (i <- l.indices; j <- l.indices if i < j) yield (l(i), l(j))
    }

  /** A query of `QueryWords` consecutive words from document `id`. */
  def bm25Query(id: Int, r: java.util.Random): String = {
    val w = text(id).split(' ')
    val at = r.nextInt(math.max(1, w.length - QueryWords))
    w.slice(at, at + QueryWords).mkString(" ")
  }

  /** A query vector near document `id`'s embedding. */
  def annQuery(id: Int, r: java.util.Random): Array[Double] =
    vec(id).map(_ + r.nextGaussian() * 0.05)

  private def randomDoc(): Array[String] =
    Array.fill(MinWords + rnd.nextInt(MaxWords - MinWords))(zipfWord())

  private def zipfWord(): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    vocab(math.min(VocabSize - 1, if (i >= 0) i else -i - 1))
  }

  private def edit(words: Array[String], n: Int): Array[String] = {
    val w = words.clone()
    (0 until n).foreach(_ => w(rnd.nextInt(w.length)) = zipfWord())
    w
  }

  private def topicVector(): Array[Double] = noisy(centres(rnd.nextInt(Topics)), 0.35)

  private def noisy(v: Array[Double], sd: Double): Array[Double] =
    v.map(x => round4(x + rnd.nextGaussian() * sd))

  private def gaussian(d: Int, sd: Double): Array[Double] =
    Array.fill(d)(round4(rnd.nextGaussian() * sd))
}

object CorpusGen {
  val VocabSize = 5000
  val MinWords = 60
  val MaxWords = 120
  val CopyEdits = 3
  val GroupShare = 0.04
  val Topics = 24
  val Dim = 16
  val QueryWords = 8

  private def round4(x: Double): Double = math.rint(x * 1e4) / 1e4

  /** Pronounceable synthetic word for vocabulary index `i`. */
  def word(i: Int): String = {
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    val sb = new StringBuilder
    var k = i + 17 * 5
    while (k > 0) {
      sb += cons(k % cons.length); k /= cons.length
      sb += vow(k % vow.length); k /= vow.length
    }
    sb.toString
  }
}
