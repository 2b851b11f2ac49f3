package graftbench

import graft.dsl._
import java.util.SplittableRandom
import org.apache.spark.sql.Row

/** One interactive query: its benchmark shape, and whether it goes
  * through the SQL table function instead of `SearchIndex.search`. */
final case class Interactive(q: BQuery, sql: Boolean, kind: String)

/** Seeded query generation from the corpus's own vocabulary. */
final class Queries(corpus: Corpus, seed: Long) {
  import Corpus._

  private def headTerm(rnd: SplittableRandom): String = word(1 + rnd.nextInt(HeadMax))
  private def torsoTerm(rnd: SplittableRandom): String = word(TorsoLo + rnd.nextInt(TorsoHi - TorsoLo))
  private def tailTerm(rnd: SplittableRandom): String =
    word(TorsoHi + rnd.nextInt(corpus.vocab - TorsoHi) + 1)
  /** A term from a band picked with equal odds: head, torso or tail. */
  private def anyTerm(rnd: SplittableRandom): String = rnd.nextInt(3) match {
    case 0 => headTerm(rnd)
    case 1 => torsoTerm(rnd)
    case _ => tailTerm(rnd)
  }
  private def distinctTerms(rnd: SplittableRandom, n: Int, gen: SplittableRandom => String): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += gen(rnd)
    out.toSeq
  }

  /** Interactive stream of `n` distinct queries. Shapes follow the fixed
    * [[Queries.Schedule]], so every seed runs the same mix (flat OR and
    * min-match over head/torso/tail terms, `Parsed` strings with + and -,
    * phrases taken from corpus bigrams, term queries with a keyword or
    * year-range filter, and 10% through the `graft_search` SQL function);
    * the seed picks the words. */
  def interactive(n: Int, docCount: Int): IndexedSeq[Interactive] = {
    val rnd = new SplittableRandom(seed * 7 + 101)
    val seen = scala.collection.mutable.HashSet.empty[Interactive]
    val out = scala.collection.mutable.ArrayBuffer.empty[Interactive]
    while (out.length < n) {
      val kind = Queries.Schedule(out.length % Queries.Schedule.length)
      val q = kind match {
        case "flat_or" => Interactive(Flat(distinctTerms(rnd, 3, anyTerm), 1), false, kind)
        case "min_match" => Interactive(Flat(distinctTerms(rnd, 4, anyTerm), 2), false, kind)
        case "parsed" =>
          val ts = distinctTerms(rnd, 4, anyTerm)
          Interactive(BoolQ(Seq(ts(0)), ts.slice(1, 3), Seq(ts(3))), false, kind)
        case "phrase" =>
          val d = corpus.doc(rnd.nextInt(docCount).toLong)
          val i = rnd.nextInt(d.tokens.length - 1)
          Interactive(Phrase(d.tokens(i), d.tokens(i + 1)), false, kind)
        case "filter_kw" =>
          Interactive(Filtered(distinctTerms(rnd, 2, anyTerm), Some(Langs(1 + rnd.nextInt(Langs.length - 1))), None), false, kind)
        case "filter_range" =>
          val lo = 1995 + rnd.nextInt(25)
          Interactive(Filtered(distinctTerms(rnd, 2, anyTerm), None, Some((lo, lo + 4))), false, kind)
        case "sql" =>
          val ts = distinctTerms(rnd, 3, anyTerm)
          Interactive(if ((out.length / Queries.Schedule.length) % 2 == 0) BoolQ(Nil, ts, Nil) else BoolQ(Seq(ts.head), ts.tail, Nil), true, kind)
      }
      if (seen.add(q)) out += q
    }
    out.toIndexedSeq
  }

  private val headWords: Set[String] = (1 to HeadMax).map(word).toSet
  def isHead(t: String): Boolean = headWords.contains(t)
}

object Queries {
  val Field = "text"

  /** Shape of each slot of an interactive stream, cycled: 10% through
    * the SQL function and an equal 15% for each of the six other shapes.
    * A chosen mix, not measured traffic. */
  val Schedule: IndexedSeq[String] = IndexedSeq("flat_or", "min_match", "parsed", "phrase",
    "filter_kw", "filter_range", "sql", "flat_or", "min_match", "parsed", "phrase", "filter_kw",
    "filter_range", "flat_or", "min_match", "parsed", "phrase", "filter_kw", "filter_range", "sql")

  /** The engine query for a benchmark shape. Parsed strings go through
    * the engine's own query grammar. */
  def toSearch(q: BQuery): SearchQuery = q match {
    case Flat(ts, 1) => MatchAnyTerms(Field, ts)
    case Flat(ts, m) => MatchMin(Field, m, ts)
    case b: BoolQ => Parsed(Field, b.raw)
    case Phrase(a, b) => MatchPhrase(Field, s"$a $b")
    case Filtered(ts, lang, years) =>
      val base: SearchQuery = MatchAnyTerms(Field, ts)
      lang.map(l => And(base, EqFilter("lang", l)))
        .orElse(years.map { case (lo, hi) => And(base, RangeFilter("year", lo, hi)) })
        .getOrElse(base)
  }

  /** Nested AST of an exact `queryJoinAst` row: (t1 AND (t2 OR t3) OR
    * "pa pb") within the row's year range, NOT t4. */
  val astExact: Row => SearchQuery = r => And(
    And(Or(And(MatchTerm(Field, r.getAs[String]("t1")),
      MatchAnyTerms(Field, Seq(r.getAs[String]("t2"), r.getAs[String]("t3")))),
      MatchPhrase(Field, r.getAs[String]("pa") + " " + r.getAs[String]("pb"))),
      RangeFilter("year", r.getAs[Int]("lo"), r.getAs[Int]("hi"))),
    Not(MatchTerm(Field, r.getAs[String]("t4"))))
}
