package graftbench

import scala.collection.mutable

/** A benchmark query in the benchmark's own terms. Each shape maps to
  * one engine call ([[Queries.toSearch]]) and to one brute-force
  * scoring rule here, so the reference never goes through the engine. */
sealed trait BQuery { def terms: Seq[String] }
/** Any-of (minMatch 1) or min-match flat query. */
final case class Flat(terms: Seq[String], minMatch: Int) extends BQuery
/** `+req opt -exc`: all of req, none of exc, and (when req is empty)
  * at least one of opt; scores sum over the present req and opt terms. */
final case class BoolQ(req: Seq[String], opt: Seq[String], exc: Seq[String]) extends BQuery {
  def terms: Seq[String] = req ++ opt ++ exc
  def raw: String = (req.map("+" + _) ++ opt ++ exc.map("-" + _)).mkString(" ")
}
/** Exact two-word phrase. */
final case class Phrase(a: String, b: String) extends BQuery {
  def terms: Seq[String] = Seq(a, b)
}
/** Any-of terms filtered on a keyword value or a year range. */
final case class Filtered(terms: Seq[String], lang: Option[String],
    years: Option[(Int, Int)]) extends BQuery

/** Brute-force BM25 over an in-memory document set, with corpus-global
  * IDF `log(1 + (N - df + 0.5) / (df + 0.5))` and the default
  * analyzer's tokens. */
final class RefIndex(k1: Double = 1.2, b: Double = 0.75) {
  private val docs = mutable.HashMap.empty[Long, Doc]
  private val postings = mutable.HashMap.empty[String, mutable.HashMap[Long, Int]]
  private var totalLen = 0L

  def add(d: Doc): Unit = {
    require(!docs.contains(d.id), s"duplicate doc ${d.id}")
    docs(d.id) = d
    totalLen += d.tokens.length
    d.tokens.groupBy(identity).foreach { case (t, occ) =>
      postings.getOrElseUpdate(t, mutable.HashMap.empty)(d.id) = occ.length
    }
  }

  def avgdl: Double = if (docs.isEmpty) 0.0 else totalLen.toDouble / docs.size
  def df(t: String): Int = postings.get(t).map(_.size).getOrElse(0)
  def idf(t: String): Double = {
    val n = docs.size.toDouble; val d = df(t).toDouble
    math.log(1.0 + (n - d + 0.5) / (d + 0.5))
  }
  def tf(id: Long, t: String): Int = postings.get(t).flatMap(_.get(id)).getOrElse(0)

  def bm25(tf: Double, dl: Double, idf: Double): Double =
    idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))

  private def termScore(id: Long, t: String): Double = {
    val f = tf(id, t)
    if (f == 0) 0.0 else bm25(f, docs(id).tokens.length, idf(t))
  }

  private def candidates(ts: Seq[String]): Iterator[Long] =
    ts.iterator.flatMap(t => postings.get(t).iterator.flatMap(_.keysIterator)).distinct

  /** Score of `id` under `q`, or None when it does not match. */
  def score(q: BQuery, id: Long): Option[Double] = {
    val d = docs(id)
    q match {
      case Flat(ts, m) =>
        val present = ts.count(tf(id, _) > 0)
        if (present >= math.max(m, 1)) Some(ts.map(termScore(id, _)).sum) else None
      case BoolQ(req, opt, exc) =>
        val ok = req.forall(tf(id, _) > 0) && exc.forall(tf(id, _) == 0) &&
          (req.nonEmpty || opt.exists(tf(id, _) > 0))
        if (ok) Some(req.map(termScore(id, _)).sum + opt.map(termScore(id, _)).sum) else None
      case Phrase(a, bb) =>
        val toks = d.tokens
        var n = 0; var i = 0
        while (i + 1 < toks.length) { if (toks(i) == a && toks(i + 1) == bb) n += 1; i += 1 }
        if (n > 0) Some(bm25(n, toks.length, idf(a) + idf(bb))) else None
      case Filtered(ts, lang, years) =>
        val pass = lang.forall(_ == d.lang) && years.forall { case (lo, hi) => d.year >= lo && d.year <= hi }
        if (pass && ts.exists(tf(id, _) > 0)) Some(ts.map(termScore(id, _)).sum) else None
    }
  }

  /** Top-k (key, score), score descending then key ascending — the
    * engine's tie order. `keep` filters candidate docs (join attribute
    * bounds, self exclusion). */
  def topK(q: BQuery, k: Int, keep: Doc => Boolean = _ => true): Seq[(Long, Double)] = {
    val cands = q match {
      case BoolQ(req, _, _) if req.nonEmpty =>
        postings.get(req.minBy(df)).iterator.flatMap(_.keysIterator)
      case BoolQ(_, opt, _) => candidates(opt)
      case Phrase(a, _) => postings.get(a).iterator.flatMap(_.keysIterator)
      case other => candidates(other.terms)
    }
    cands.filter(id => keep(docs(id))).flatMap(id => score(q, id).map(id -> _))
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }
}

object RefIndex {
  val Tol = 1e-9

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= Tol * (1.0 + math.abs(a) + math.abs(b))

  /** Compares an engine top-k with the reference top-k. Keys may differ
    * only among documents tied (within tolerance) at the cut-off score;
    * every returned key must match and score as the reference says.
    * Returns None when they agree, else a one-line reason. */
  def compare(engine: Seq[(Long, Double)], ref: Seq[(Long, Double)],
      refScore: Long => Option[Double]): Option[String] = {
    if (engine.length != ref.length)
      return Some(s"length ${engine.length} != ${ref.length}")
    val bad = engine.zip(ref).indexWhere { case ((_, se), (_, sr)) => !close(se, sr) }
    if (bad >= 0) return Some(s"rank ${bad + 1}: score ${engine(bad)._2} != ${ref(bad)._2}")
    engine.find { case (key, s) => !refScore(key).exists(close(_, s)) }
      .map { case (key, s) => s"key $key scored $s, reference ${refScore(key)}" }
      .orElse {
        val cut = ref.lastOption.map(_._2).getOrElse(0.0)
        val strictE = engine.filter(p => !close(p._2, cut)).map(_._1).toSet
        val strictR = ref.filter(p => !close(p._2, cut)).map(_._1).toSet
        if (strictE != strictR) Some(s"keys above the cut differ: ${strictE.diff(strictR)} vs ${strictR.diff(strictE)}")
        else None
      }
  }
}
