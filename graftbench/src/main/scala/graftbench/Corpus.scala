package graftbench

import java.util.SplittableRandom

/** One generated document. `tokens` is the default analyzer's view of
  * `text` (lower-case, split on non-alphanumerics), kept beside the
  * text so the reference scorer never re-tokenizes. */
final case class Doc(id: Long, text: String, tokens: Array[String],
    lang: String, source: String, year: Int)

/** Seeded synthetic corpus with a Zipf (power-law) vocabulary.
  *
  * Every document is a pure function of (seed, id), so any slice of the
  * corpus (the written files, a join's left side) can be regenerated
  * independently and identically. Word ranks map to fixed
  * pronounceable strings; the seed decides which ranks each document
  * draws. A fixed set of collocations (torso-word bigrams) is spliced
  * in so phrase queries taken from corpus bigrams have real df. */
final class Corpus(val seed: Long, val numDocs: Int, val vocab: Int, val zipfS: Double) {
  import Corpus._

  /** Cumulative Zipf weights over ranks 1..vocab. */
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1.0, zipfS))
    var acc = 0.0
    w.map { x => acc += x; acc }.map(_ / acc)
  }

  /** Collocations: bigrams of torso ranks, fixed per seed. */
  private val collocations: Array[(Int, Int)] = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    Array.fill(Collocations)(
      (TorsoLo + rnd.nextInt(TorsoHi - TorsoLo), TorsoLo + rnd.nextInt(TorsoHi - TorsoLo)))
  }

  def sampleRank(rnd: SplittableRandom): Int = {
    val u = rnd.nextDouble()
    var lo = 0; var hi = vocab - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo + 1
  }

  def doc(id: Long): Doc = {
    val rnd = new SplittableRandom(seed * 1000003L + id * 7919L + 17L)
    val len = MinLen + rnd.nextInt(MaxLen - MinLen + 1)
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    while (words.length < len) {
      if (rnd.nextDouble() < CollocationRate) {
        val (a, b) = collocations(rnd.nextInt(collocations.length))
        words += word(a); words += word(b)
      } else words += word(sampleRank(rnd))
    }
    // surface form: sentence capitals and punctuation the analyzer
    // must strip, so the benchmark exercises the real tokenizer
    val sb = new StringBuilder
    var i = 0
    var sentenceStart = true
    while (i < words.length) {
      val w = words(i)
      if (sentenceStart) sb.append(w.head.toUpper).append(w.tail) else sb.append(w)
      val r = rnd.nextDouble()
      sentenceStart = r < 0.08
      if (i < words.length - 1) sb.append(if (sentenceStart) ". " else if (r < 0.12) ", " else " ")
      else sb.append('.')
      i += 1
    }
    val lang = Langs(pick(rnd, LangWeights))
    val source = f"src${math.min(sampleSmallZipf(rnd, Sources), Sources - 1)}%02d"
    val year = 1995 + rnd.nextInt(30)
    Doc(id, sb.toString, words.toArray, lang, source, year)
  }

  /** The written corpus, ids 0 until numDocs. */
  def docs(): Array[Doc] = Array.tabulate(numDocs)(i => doc(i.toLong))

  private def sampleSmallZipf(rnd: SplittableRandom, n: Int): Int = {
    // ranks 0..n-1 with weight 1/(r+1)
    val total = (1 to n).map(1.0 / _).sum
    var u = rnd.nextDouble() * total
    var r = 0
    while (r < n - 1 && u > 1.0 / (r + 1)) { u -= 1.0 / (r + 1); r += 1 }
    r
  }
}

object Corpus {
  val MinLen = 30
  val MaxLen = 110
  val Collocations = 400
  val CollocationRate = 0.06
  val TorsoLo = 100
  val TorsoHi = 3000
  val HeadMax = 100
  val Sources = 24
  val Langs: Array[String] = Array("en", "de", "fr", "it", "es")
  val LangWeights: Array[Double] = Array(0.6, 0.15, 0.1, 0.1, 0.05)

  private val Cons = "bcdfghjklmnprstvz"
  private val Vows = "aeiou"

  /** Bijective rank → word over consonant-vowel syllables (85 per
    * position), at least two syllables long. */
  def word(rank: Int): String = {
    val sb = new StringBuilder
    var r = rank
    var syll = 0
    while (r > 0 || syll < 2) {
      val d = r % 85
      sb.append(Cons(d / 5)).append(Vows(d % 5))
      r /= 85; syll += 1
    }
    sb.toString
  }

  def pick(rnd: SplittableRandom, weights: Array[Double]): Int = {
    var u = rnd.nextDouble()
    var i = 0
    while (i < weights.length - 1 && u >= weights(i)) { u -= weights(i); i += 1 }
    i
  }
}
