package graft.search

import graft.dsl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Fixed corpus and query set behind [[ScanParitySpec]]: every
  * [[SearchQuery]] node, on text, cross-field, keyword and unknown
  * fields, with numeric and string filters, through every scan-path
  * front door (`search`, `searchAfter`, `collapseSearch`,
  * `facetCounts`, `highlight`). [[render]] turns the results into
  * tab-separated lines — `case <tab> key <tab> score` for ranked
  * output, with scores printed round-trippably — which the spec
  * compares against the golden file `scan_parity_golden.tsv`. */
object ScanParityFixture {

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "join", "query", "index", "search", "quick", "brown", "fox",
    "lazy", "dog", "data", "fast", "cluster", "score", "term", "phrase",
    "shard", "merge", "token", "vector", "spork", "sparks", "lucene",
    "stream", "batch", "scale", "node", "graph", "rank", "sort")

  /** 90 documents from a fixed seed: Zipf-ish word draws (low ranks
    * are frequent), a nullable title, a nullable keyword `lang`, a
    * nullable int `year` and a nullable long `views`. */
  def corpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(20261017L)
    def word(): String = {
      val r = rnd.nextDouble()
      Vocab((r * r * Vocab.length).toInt)
    }
    val langs = IndexedSeq("de", "en", "fr", "it")
    (1 to 90).map { i =>
      val text = Seq.fill(4 + rnd.nextInt(14))(word()).mkString(" ")
      val title = if (i % 7 == 0) None else Some(Seq.fill(1 + rnd.nextInt(3))(word()).mkString(" "))
      val lang = if (i % 11 == 0) None else Some(langs(rnd.nextInt(langs.length)))
      val year = if (i % 13 == 0) None else Some(1999 + rnd.nextInt(10))
      val views = if (i % 9 == 0) None else Some(rnd.nextInt(5000).toLong - 200L)
      (i.toLong, text, title, lang, year, views)
    }.toDF("doc_id", "text", "title", "lang", "year", "views")
  }

  val Spec: IndexSpec = IndexSpec("doc_id", Seq("text", "title"), Seq("lang"))

  private val t = "text"
  /** (case name, query, k) for the ranked front doors. */
  val Queries: Seq[(String, SearchQuery, Int)] = Seq(
    ("any", MatchAnyTerms(t, Seq("spark", "join", "shard")), 10),
    ("all", MatchAllTerms(t, Seq("spark", "query")), 10),
    ("term", MatchTerm(t, "merge"), 10),
    ("text", MatchText(t, "The Quick, brown FOX!"), 10),
    ("all_text", MatchAllText(t, "lazy dog"), 10),
    ("min", MatchMin(t, 2, Seq("spark", "index", "search", "lazy")), 10),
    ("phrase", MatchPhrase(t, "spark spark"), 10),
    ("phrase_slop", MatchPhrase(t, "spark query", 2), 10),
    ("near", MatchNear(t, "spark", "join", 3), 10),
    ("synonyms", MatchSynonyms(t, Seq("dog", "fox", "absentword")), 10),
    ("wildcard", MatchWildcard(t, "s?ar*"), 10),
    ("fuzzy", MatchFuzzy(t, "spork", 1), 10),
    ("regex", MatchRegex(t, "qu[a-z]+"), 10),
    ("and_or", And(MatchTerm(t, "spark"), Or(MatchTerm(t, "join"), MatchTerm(t, "index"))), 10),
    ("not", And(MatchAnyTerms(t, Seq("spark", "data")), Not(MatchTerm(t, "join"))), 10),
    ("not_root", Not(MatchTerm(t, "spark")), 10),
    ("should", And(MatchTerm(t, "index"), Should(MatchAnyTerms(t, Seq("spark", "fast")))), 10),
    ("boost", Or(Boost(MatchTerm(t, "search"), 2.5), MatchTerm(t, "query")), 10),
    ("dismax", DisMax(Seq(MatchTerm(t, "spark"), MatchTerm("title", "spark"),
      And(MatchTerm(t, "query"), MatchTerm(t, "index"))), 0.3), 10),
    ("const", ConstScore(MatchAnyTerms(t, Seq("vector", "graph")), 2.0), 10),
    ("function", FunctionScore(MatchAnyTerms(t, Seq("spark", "search")), "views", 0.7), 10),
    ("demote", Demote(MatchAnyTerms(t, Seq("spark", "query")), MatchTerm(t, "join"), 0.25), 10),
    ("parsed", Parsed(t, "+spark query index -join"), 10),
    ("parsed_fields", Parsed(t, "title:spark OR (query AND lazy)"), 10),
    ("keyword_leaf", Or(MatchTerm("lang", "fr"), MatchTerm(t, "node")), 10),
    ("keyword_filter", And(MatchAnyTerms(t, Seq("spark", "query")), EqFilter("lang", "en")), 10),
    ("keyword_any", MatchAnyTerms("lang", Seq("de", "it")), 10),
    ("cross_field", And(MatchAnyTerms("title", Seq("query", "index")), MatchTerm(t, "spark")), 10),
    ("cross_phrase", MatchPhrase("title", "spark query"), 10),
    ("unknown_field", Or(MatchTerm("nosuchfield", "spark"), MatchTerm(t, "sort")), 10),
    ("unknown_parsed", Parsed(t, "nosuchfield:spark rank"), 10),
    ("string_range", Parsed(t, "spark lang:[de TO en]"), 10),
    ("string_gt", And(MatchTerm(t, "query"), GtFilter("lang", "en")), 10),
    ("string_lt_excl", Parsed(t, "query lang:{de TO it}"), 10),
    ("numeric_range", And(MatchAnyTerms(t, Seq("spark", "data")), RangeFilter("year", 2001, 2005)), 10),
    ("numeric_gt_long", And(MatchTerm(t, "spark"), GtFilter("year", 2003L)), 10),
    ("numeric_le_double", And(MatchTerm(t, "spark"), LeFilter("year", 2004.5)), 10),
    ("parsed_numeric_range", Parsed(t, "query year:[2002 TO 2006]"), 10),
    ("in_set", And(MatchTerm(t, "spark"), InSetFilter("lang", Seq("de", "it"))), 10),
    ("in_set_numeric", And(MatchTerm(t, "spark"), InSetFilter("year", Seq(2000, 2004, 2007))), 10),
    ("exists", And(MatchTerm(t, "query"), ExistsFilter("title")), 10),
    ("missing", And(MatchTerm(t, "query"), MissingFilter("year")), 10),
    ("all_docs_filter", And(AllDocs, EqFilter("lang", "de")), 10),
    ("all_docs", AllDocs, 5))

  def rankedLines(name: String, df: DataFrame, keyCol: String): Seq[String] =
    df.select(col(keyCol).cast("long"), col("score")).collect().toSeq.map(r =>
      s"$name\t${r.getLong(0)}\t${java.lang.Double.toString(r.getDouble(1))}")

  /** Every case's result lines, in case order. */
  def render(idx: SearchIndex): Seq[String] = {
    val ranked = Queries.flatMap { case (name, q, k) =>
      rankedLines(s"search/$name", idx.search(q, k), "doc_id")
    }
    // cursor paging: page two continues after page one's last row
    val pagingQ = MatchAnyTerms(t, Seq("spark", "query", "data"))
    val page1 = idx.search(pagingQ, 4).select("score", "doc_id").collect()
    val last = page1.last
    val after = rankedLines("searchAfter/p2",
      idx.searchAfter(pagingQ, 4, last.getDouble(0), last.getLong(1)), "doc_id")
    val collapsed = Seq(
      ("any", MatchAnyTerms(t, Seq("spark", "join", "index"))),
      ("string_range", Parsed(t, "query lang:[de TO fr]"))).flatMap { case (n, q) =>
      rankedLines(s"collapse/$n", idx.collapseSearch(q, "lang", 3), "doc_id")
    }
    val facets = Seq(
      ("any", MatchAnyTerms(t, Seq("spark", "fox"))),
      ("not_root", Not(MatchTerm(t, "query")))).flatMap { case (n, q) =>
      idx.facetCounts(q, Seq("lang", "year")).collect().toSeq
        .map(r => s"facets/$n\t${r.getString(0)}\t${r.getString(1)}\t${r.getLong(2)}")
        .sorted
    }
    val highlights = idx.highlight(MatchAnyTerms(t, Seq("lazy", "merge")), 5, t,
      Seq("lazy", "merge")).select(col("doc_id"), col("score"), col("hit_pos"), col("snippet"))
      .collect().toSeq.map((r: Row) =>
        s"highlight\t${r.getLong(0)}\t${java.lang.Double.toString(r.getDouble(1))}\t" +
          s"${r.get(2)}\t${r.get(3)}")
    val explained = idx.explainTerms(t, Seq("spark", "join", "absentword"), 4).collect().toSeq
      .map(r => s"explain\t${r.getAs[Long]("key")}\t${r.getAs[Double]("score")}\t" +
        s"${r.getAs[String]("term")}\t${r.getAs[Long]("tf")}\t${r.getAs[Long]("df")}\t" +
        s"${r.getAs[Double]("idf")}\t${r.getAs[Double]("contribution")}")
      .sorted
    val raw = rankedLines("searchRaw", idx.searchRaw("+query spark -lazy", 6), "doc_id")
    ranked ++ after ++ collapsed ++ facets ++ highlights ++ explained ++ raw
  }
}
