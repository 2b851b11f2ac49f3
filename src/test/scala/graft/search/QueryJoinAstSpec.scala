package graft.search

import graft.TestSpark
import graft.dsl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The distributed nested-AST query join must agree with a per-query
  * scan ([[ScanJoinReference]]: the left collected, each query run
  * through the public scan path `batchSearchDsl`, hits joined back on
  * the qid) on every query shape — fixed nested cases plus a seeded
  * fuzz over random ASTs. Both score through the same
  * serialized-program interpreter, so this pins the distributed
  * plumbing (probe choice, candidate generation, doc-side maps, shape
  * dedup, per-query top-k) against the per-document scan; the scan
  * path itself is pinned against golden results by `ScanParitySpec`.
  * ("The driver path" below is that reference.) */
class QueryJoinAstSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", 100L),
    (2L, "spark makes big data processing fast and simple", "en", 200L),
    (3L, "the lazy dog sleeps all day long", "en", 150L),
    (4L, "spark spark spark everywhere in the cluster", "fr", 120L),
    (5L, "a quick survey of join algorithms in spark", "fr", 300L),
    (6L, "dogs and foxes are not the same animal", "de", 250L),
    (7L, "quick quick dog dog spark join data day", "en", 180L)
  ).toDF("doc_id", "text", "lang", "n_chars")

  lazy val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text"), Seq("lang")))

  /** Both paths, normalized to (qid, rank, key, score6). */
  private def both(left: DataFrame, gen: Row => SearchQuery, k: Int,
      excludeSelf: Boolean): (Set[(Long, Int, Long, Double)], Set[(Long, Int, Long, Double)]) = {
    def norm(df: DataFrame, qidCol: String): Set[(Long, Int, Long, Double)] =
      df.select(col(qidCol).cast("long"), col("rank").cast("int"),
        col("key").cast("long"), round(col("score"), 6))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val ast = norm(idx.queryJoinAst(left, "doc_id", gen, "text", k, excludeSelf), "qid")
    val dsl = norm(ScanJoinReference(idx, left, "doc_id", gen, k, excludeSelf), "doc_id")
    (ast, dsl)
  }

  private def check(gen: Row => SearchQuery, k: Int = 3,
      excludeSelf: Boolean = false, minHits: Int = 0): Unit = {
    val left = corpus.select("doc_id", "text", "n_chars")
    val (ast, dsl) = both(left, gen, k, excludeSelf)
    assert(ast == dsl, s"\nast: ${ast.toSeq.sorted}\ndsl: ${dsl.toSeq.sorted}")
    assert(ast.size >= minHits)
  }

  test("nested And(Or(phrase, allTerms), Should(Boost(term)), Not+range) matches the driver path") {
    check({ r =>
      val nc = r.getAs[Long]("n_chars")
      And(
        Or(MatchPhrase("text", "lazy dog"), MatchAllTerms("text", Seq("spark", "join"))),
        And(Should(Boost(MatchTerm("text", "quick"), 0.5)),
          And(Not(MatchTerm("text", "cluster")), RangeFilter("n_chars", 0L, nc + 100))))
    }, minHits = 1)
  }

  test("data-driven shapes: each row generates from its own tokens") {
    check({ r =>
      val toks = r.getAs[String]("text").split(" ")
      And(Or(MatchPhrase("text", toks.take(2).mkString(" ")),
        MatchAllTerms("text", toks.slice(2, 4).toSeq)),
        Not(MatchTerm("text", toks(4))))
    }, excludeSelf = true)
  }

  test("total shapes (Not root, AllDocs, pure filter) take the corpus path and still agree") {
    check(_ => Not(MatchTerm("text", "spark")), minHits = 1)
    check(_ => AllDocs, minHits = 1)
    check({ r => GeFilter("n_chars", r.getAs[Long]("n_chars")) }, minHits = 1)
    check(_ => Should(MatchTerm("text", "dog")), minHits = 1)
  }

  test("min-match, near, in-set, exists, missing, unknown terms and fields") {
    check(_ => MatchMin("text", 2, Seq("quick", "dog", "spark")), minHits = 1)
    check(_ => MatchNear("text", "quick", "dog", 3), minHits = 1)
    check(_ => And(MatchTerm("text", "spark"), InSetFilter("n_chars", Seq(120L, 300L))), minHits = 1)
    check(_ => And(MatchTerm("text", "dog"), ExistsFilter("n_chars")), minHits = 1)
    check(_ => And(MatchTerm("text", "dog"), MissingFilter("n_chars")))
    check(_ => MatchTerm("text", "zzz_not_in_corpus"))
    // top-level unknown-field leaf: its ONLY alt is the empty
    // "matches nothing" probe — regression for the ANSI element_at
    // crash when constraint inference reorders in front of the
    // size(probe) filter
    check(_ => MatchTerm("no_such_field", "x"))
    check(_ => Or(MatchTerm("no_such_field", "x"), MatchTerm("text", "fox")), minHits = 1)
    check(_ => Parsed("text", "+spark join -cluster"), minHits = 1)
  }

  test("keyword-field leaves and string filters distribute (verify vs driver path)") {
    // lang is an indexed KEYWORD field of this corpus: scored with
    // tf 1 / dl 1 / avgdl 1, verified via the string attr map,
    // riding the text probe (or taking the corpus pass alone)
    check(_ => And(MatchTerm("text", "dog"), MatchTerm("lang", "en")), minHits = 1)
    check(_ => Or(MatchTerm("text", "cluster"), MatchTerm("lang", "de")), minHits = 1)
    check(_ => MatchTerm("lang", "fr"), minHits = 1) // pure keyword: corpus pass
    check(_ => MatchAnyTerms("lang", Seq("fr", "de")), minHits = 1)
    check(_ => MatchSynonyms("lang", Seq("fr", "de")), minHits = 1)
    check(_ => And(MatchTerm("text", "dog"),
      MatchSynonyms("text", Seq("quick", "fast"))), minHits = 1)
    check(_ => And(MatchTerm("text", "spark"), MatchAllTerms("lang", Seq("fr"))), minHits = 1)
    check(_ => MatchMin("lang", 1, Seq("en", "de")), minHits = 1)
    check(_ => Should(Boost(MatchTerm("lang", "en"), 2.0)), minHits = 1)
    // string filters: EqFilter / InSetFilter on a string column
    check(_ => And(MatchTerm("text", "dog"), EqFilter("lang", "en")), minHits = 1)
    check(_ => And(MatchTerm("text", "spark"), InSetFilter("lang", Seq("fr", "de"))), minHits = 1)
    // same string as text term and keyword term: slots stay distinct
    check(_ => And(MatchTerm("text", "fox"), Not(MatchTerm("lang", "fox"))), minHits = 1)
  }

  test("fuzz: random nested ASTs agree with the driver path (seeded, deterministic)") {
    val vocab = Vector("spark", "dog", "quick", "lazy", "fox", "join", "data",
      "cluster", "day", "zzz_unknown")
    val langs = Vector("en", "fr", "de", "xx")
    def leaf(rnd: Random): SearchQuery = rnd.nextInt(17) match {
      case 0 => MatchTerm("text", vocab(rnd.nextInt(vocab.length)))
      case 1 => MatchAnyTerms("text",
        Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length))).distinct)
      case 2 => MatchAllTerms("text",
        Seq.fill(1 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.length))).distinct)
      case 3 => MatchMin("text", 1 + rnd.nextInt(2),
        Seq.fill(2 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.length))).distinct)
      case 4 => MatchPhrase("text",
        s"${vocab(rnd.nextInt(vocab.length))} ${vocab(rnd.nextInt(vocab.length))}",
        rnd.nextInt(2))
      case 5 => MatchNear("text", vocab(rnd.nextInt(vocab.length)),
        vocab(rnd.nextInt(vocab.length)), 1 + rnd.nextInt(3))
      case 6 => RangeFilter("n_chars", 100L + rnd.nextInt(100).toLong,
        200L + rnd.nextInt(200).toLong)
      case 7 => GeFilter("n_chars", 100L + rnd.nextInt(150).toLong)
      case 8 => AllDocs
      case 9 => MatchTerm("lang", langs(rnd.nextInt(langs.length)))
      case 10 => EqFilter("lang", langs(rnd.nextInt(langs.length)))
      case 11 => MatchAnyTerms("lang",
        Seq.fill(1 + rnd.nextInt(2))(langs(rnd.nextInt(langs.length))).distinct)
      case 12 =>
        if (rnd.nextBoolean())
          MatchText("text", s"${vocab(rnd.nextInt(vocab.length))} processing")
        else MatchSynonyms("text",
          Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length))).distinct)
      // dictionary-expansion leaves: prefixes/edits/regexes over both
      // the text vocabulary and the keyword field, some matching
      // nothing
      case 13 => MatchWildcard("text",
        vocab(rnd.nextInt(vocab.length)).take(1 + rnd.nextInt(3)) + "*")
      case 14 => MatchFuzzy("text", vocab(rnd.nextInt(vocab.length)), 1 + rnd.nextInt(2))
      case 15 => MatchRegex("text", s"(${vocab(rnd.nextInt(vocab.length))}|d.g)")
      case _ => MatchWildcard("lang", langs(rnd.nextInt(langs.length)).take(1) + "*")
    }
    def ast(rnd: Random, depth: Int): SearchQuery =
      if (depth <= 0) leaf(rnd)
      else rnd.nextInt(10) match {
        case 0 => And(ast(rnd, depth - 1), ast(rnd, depth - 1))
        case 1 => Or(ast(rnd, depth - 1), ast(rnd, depth - 1))
        case 2 => Not(ast(rnd, depth - 1))
        case 3 => Should(ast(rnd, depth - 1))
        case 4 => Boost(ast(rnd, depth - 1), 0.25 + rnd.nextInt(8) * 0.25)
        case 5 => DisMax(Seq.fill(2 + rnd.nextInt(2))(ast(rnd, depth - 1)),
          rnd.nextInt(3) * 0.25)
        case 6 => ConstScore(ast(rnd, depth - 1), 0.5 + rnd.nextInt(4) * 0.5)
        case 7 => FunctionScore(ast(rnd, depth - 1), "n_chars",
          rnd.nextInt(3) * 0.05)
        case 8 => Demote(ast(rnd, depth - 1), ast(rnd, depth - 1),
          0.25 + rnd.nextInt(3) * 0.25)
        case _ => leaf(rnd)
      }
    for (round <- 0 until 6) {
      // the generator must be PURE per row (both paths invoke it):
      // seed from (round, qid)
      check({ r =>
        val rnd = new Random(round * 1000 + r.getAs[Long]("doc_id"))
        ast(rnd, 3)
      }, k = 5)
    }
  }

  test("DisMax gates a half-matched And clause's score mass (interpreter parity)") {
    // A failed And clause still carries its matched side's score mass
    // (the engine's And/Or convention: only LEAVES gate score on
    // match). DisMax must gate the WHOLE combine on any-clause-match,
    // or that mass leaks through a Should/Or parent — the exact
    // divergence the seeded fuzz caught when the scan compiler
    // briefly dropped the gate while the serialized interpreter kept
    // it. Docs with "spark" but neither clause matching (And needs
    // the unknown term too; "dog" absent) must score the DisMax at
    // exactly 0 through Should on BOTH paths.
    check(_ => Should(DisMax(Seq(
      And(MatchTerm("text", "spark"), MatchTerm("text", "zzz_not_in_corpus")),
      MatchTerm("text", "dog")), 0.5)), k = 7, minHits = 7)
    // same shape under Or with a matching sibling: the sibling's
    // score must be the ONLY contribution for spark-only docs
    check(_ => Or(
      DisMax(Seq(
        And(MatchTerm("text", "spark"), MatchTerm("text", "zzz_not_in_corpus")),
        MatchTerm("text", "dog")), 0.25),
      MatchTerm("text", "join")), minHits = 1)
    // negative boost inside DisMax: max semantics need the -Inf seed
    // (a 0-seeded fold would clamp the best clause at 0)
    check(_ => Should(DisMax(Seq(
      Boost(MatchTerm("text", "spark"), -1.0),
      Boost(MatchTerm("text", "dog"), -2.0)), 0.5)), k = 7, minHits = 1)
  }

  test("dictionary-expansion leaves distribute: wildcard/fuzzy/regex vs driver path") {
    // text-field expansions (constant-score rewrite, probe = the
    // expanded term set)
    check(_ => MatchWildcard("text", "qu*"), minHits = 1)
    check(_ => MatchFuzzy("text", "spork", 1), minHits = 1) // -> spark
    check(_ => MatchRegex("text", "do(g|gs)"), minHits = 1)
    check(_ => MatchWildcard("text", "?og"), minHits = 1)
    // empty expansion: matches nothing on both paths
    check(_ => MatchWildcard("text", "zzz*"))
    check(_ => Or(MatchWildcard("text", "zzz*"), MatchTerm("text", "fox")), minHits = 1)
    // keyword-field expansions (verified via the string attr map)
    check(_ => MatchWildcard("lang", "e*"), minHits = 1)
    check(_ => MatchFuzzy("lang", "enn", 1), minHits = 1)
    check(_ => MatchRegex("lang", "en|de"), minHits = 1)
    // nested under combinators, riding a text sibling's probe,
    // boosted (constant score scales by the boost), negated
    check({ r => And(MatchWildcard("text", "sp*"),
      RangeFilter("n_chars", 0L, r.getAs[Long]("n_chars") + 200)) }, minHits = 1)
    check(_ => And(MatchTerm("text", "dog"), MatchWildcard("lang", "e?")), minHits = 1)
    check(_ => Should(Boost(MatchFuzzy("text", "quack", 2), 3.0)), minHits = 1)
    check(_ => Not(MatchWildcard("text", "sp*")), minHits = 1)
    // data-driven patterns: a different expansion per row
    check({ r =>
      val first = r.getAs[String]("text").split(" ").head
      MatchWildcard("text", first.take(2) + "*")
    }, excludeSelf = true, minHits = 1)
  }

  // two TEXT fields: "title" is a secondary text field for the
  // cross-field (X*) leaf coverage below
  lazy val corpus2 = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "animal tales quick", "en", 100L),
    (2L, "spark makes big data processing fast and simple", "spark guide", "en", 200L),
    (3L, "the lazy dog sleeps all day long", "dog diary dog", "en", 150L),
    (4L, "spark spark spark everywhere in the cluster", "cluster spark notes", "fr", 120L),
    (5L, "a quick survey of join algorithms in spark", "survey of joins", "fr", 300L),
    (6L, "dogs and foxes are not the same animal", "animal facts", "de", 250L),
    (7L, "quick quick dog dog spark join data day", null, "en", 180L)
  ).toDF("doc_id", "text", "title", "lang", "n_chars")

  lazy val idx2 = SearchIndex.build(corpus2,
    IndexSpec("doc_id", Seq("text", "title"), Seq("lang")))

  private def check2(gen: Row => SearchQuery, k: Int = 3, minHits: Int = 0): Unit = {
    val left = corpus2.select("doc_id", "text", "n_chars")
    def norm(df: DataFrame, qidCol: String): Set[(Long, Int, Long, Double)] =
      df.select(col(qidCol).cast("long"), col("rank").cast("int"),
        col("key").cast("long"), round(col("score"), 6))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val ast = norm(idx2.queryJoinAst(left, "doc_id", gen, "text", k), "qid")
    val dsl = norm(ScanJoinReference(idx2, left, "doc_id", gen, k), "doc_id")
    assert(ast == dsl, s"\nast: ${ast.toSeq.sorted}\ndsl: ${dsl.toSeq.sorted}")
    assert(ast.size >= minHits)
  }

  test("cross-field text leaves distribute: scored leaves on a secondary text field") {
    // term / all / any / min / phrase / near on "title", riding the
    // probe-field sibling's postings probe or taking the corpus pass
    check2(_ => And(MatchTerm("text", "spark"), MatchTerm("title", "guide")), minHits = 1)
    check2(_ => MatchTerm("title", "animal"), minHits = 1) // pure cross-field: corpus pass
    check2(_ => Or(MatchTerm("text", "cluster"), MatchTerm("title", "dog")), minHits = 1)
    check2(_ => MatchAllTerms("title", Seq("animal", "facts")), minHits = 1)
    check2(_ => MatchAnyTerms("title", Seq("guide", "diary", "zzz")), minHits = 1)
    check2(_ => MatchMin("title", 2, Seq("animal", "tales", "facts")), minHits = 1)
    check2(_ => MatchPhrase("title", "animal tales"), minHits = 1)
    check2(_ => MatchNear("title", "cluster", "notes", 2), minHits = 1)
    // tf > 1 on the secondary field (doc 3 title has "dog" twice):
    // dl/avgdl must be the SECONDARY field's
    check2(_ => Should(Boost(MatchTerm("title", "dog"), 2.0)), minHits = 1)
    // null title (doc 7): leaf unmatched, no crash
    check2(_ => Not(MatchTerm("title", "spark")), minHits = 1)
    // dictionary-expansion leaf on the secondary field -> XCANY
    check2(_ => MatchWildcard("title", "sp*"), minHits = 1)
    check2(_ => And(MatchTerm("text", "dog"), MatchFuzzy("title", "diury", 1)), minHits = 1)
    check2(_ => MatchText("title", "animal guide"), minHits = 1)
  }

  test("boolean/date/timestamp filter values distribute (epoch-encoded consts)") {
    // typed attribute columns: flag (boolean, one null), day (date),
    // at (timestamp) — the AST path encodes values as epoch
    // days/micros and compares against unix_date/unix_micros doc
    // columns; the driver path compares natively. Both must agree,
    // including on the null row under negation (absent-attr filter
    // fails, so Not(filter) matches).
    val corpus3 = corpus2
      .withColumn("flag", when(col("doc_id") === 7, lit(null).cast("boolean"))
        .otherwise(col("doc_id") % 2 === 0))
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("doc_id") * 10).cast("int")))
      .withColumn("at", timestamp_seconds(lit(1700000000L) + col("doc_id") * 3600))
    val idx3 = SearchIndex.build(corpus3,
      IndexSpec("doc_id", Seq("text"), Seq("lang")))
    def check3(gen: Row => SearchQuery, minHits: Int = 0): Unit = {
      val left = corpus3.select("doc_id", "n_chars")
      def norm(df: DataFrame, qidCol: String): Set[(Long, Int, Long, Double)] =
        df.select(col(qidCol).cast("long"), col("rank").cast("int"),
          col("key").cast("long"), round(col("score"), 6))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val ast = norm(idx3.queryJoinAst(left, "doc_id", gen, "text", 5), "qid")
      val dsl = norm(ScanJoinReference(idx3, left, "doc_id", gen, 5), "doc_id")
      assert(ast == dsl, s"\nast: ${ast.toSeq.sorted}\ndsl: ${dsl.toSeq.sorted}")
      assert(ast.size >= minHits)
    }
    val d = java.sql.Date.valueOf("2024-02-01")
    val ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + 4 * 3600))
    check3(_ => And(MatchTerm("text", "spark"), EqFilter("flag", true)), minHits = 1)
    check3(_ => And(MatchTerm("text", "spark"), Not(EqFilter("flag", false))), minHits = 1)
    check3(_ => And(MatchTerm("text", "the"), GtFilter("day", d)), minHits = 1)
    check3(_ => And(MatchTerm("text", "the"), LeFilter("day", d)), minHits = 1)
    check3(_ => And(MatchTerm("text", "spark"), EqFilter("at", ts)), minHits = 1)
    check3(_ => And(MatchTerm("text", "spark"),
      RangeFilter("at", java.time.Instant.ofEpochSecond(1700000000L),
        java.time.Instant.ofEpochSecond(1700000000L + 5 * 3600))), minHits = 1)
    check3(_ => And(MatchTerm("text", "quick"),
      InSetFilter("day", Seq(java.time.LocalDate.of(2024, 1, 11),
        java.time.LocalDate.of(2024, 1, 31)))), minHits = 1)
    // null boolean row (doc 7): filter fails, negation matches —
    // identically on both paths after the scan coalesce
    check3(_ => And(MatchTerm("text", "quick"), Not(EqFilter("flag", true))), minHits = 1)
    check3(_ => And(MatchTerm("text", "quick"), ExistsFilter("flag")), minHits = 1)
    idx3.unpersist(blocking = false)
  }

  test("cross-field fuzz: random ASTs over two text fields agree with the driver path") {
    val tvocab = Vector("spark", "dog", "quick", "animal", "cluster", "zzz")
    val titles = Vector("guide", "diary", "animal", "spark", "facts", "notes", "zzz")
    def leaf(rnd: Random): SearchQuery = rnd.nextInt(8) match {
      case 0 => MatchTerm("text", tvocab(rnd.nextInt(tvocab.length)))
      case 1 => MatchTerm("title", titles(rnd.nextInt(titles.length)))
      case 2 =>
        if (rnd.nextBoolean())
          MatchAnyTerms("title",
            Seq.fill(1 + rnd.nextInt(3))(titles(rnd.nextInt(titles.length))).distinct)
        else MatchSynonyms("title",
          Seq.fill(1 + rnd.nextInt(3))(titles(rnd.nextInt(titles.length))).distinct)
      case 3 => MatchAllTerms("title",
        Seq.fill(1 + rnd.nextInt(2))(titles(rnd.nextInt(titles.length))).distinct)
      case 4 => MatchPhrase("title",
        s"${titles(rnd.nextInt(titles.length))} ${titles(rnd.nextInt(titles.length))}",
        rnd.nextInt(2))
      case 5 => MatchWildcard("title", titles(rnd.nextInt(titles.length)).take(2) + "*")
      case 6 => MatchTerm("lang", Vector("en", "fr", "de")(rnd.nextInt(3)))
      case _ => MatchMin("title", 1 + rnd.nextInt(2),
        Seq.fill(2)(titles(rnd.nextInt(titles.length))).distinct)
    }
    def ast(rnd: Random, depth: Int): SearchQuery =
      if (depth <= 0) leaf(rnd)
      else rnd.nextInt(7) match {
        case 0 => And(ast(rnd, depth - 1), ast(rnd, depth - 1))
        case 1 => Or(ast(rnd, depth - 1), ast(rnd, depth - 1))
        case 2 => Not(ast(rnd, depth - 1))
        case 3 => Should(ast(rnd, depth - 1))
        case 4 => Boost(ast(rnd, depth - 1), 0.5 + rnd.nextInt(4) * 0.5)
        case _ => leaf(rnd)
      }
    for (round <- 0 until 4) {
      check2({ r =>
        val rnd = new Random(round * 777 + r.getAs[Long]("doc_id"))
        ast(rnd, 3)
      }, k = 5)
    }
  }

  test("plan size is constant in |left| with expansion leaves") {
    def planNodes(rows: Int): Int = {
      val left = corpus.limit(rows).select("doc_id", "text")
      idx.queryJoinAst(left, "doc_id",
        { r => Or(MatchWildcard("text", r.getAs[String]("text").take(2) + "*"),
          MatchFuzzy("text", "spork", 1)) },
        "text", 3).queryExecution.optimizedPlan.collect { case p => p }.length
    }
    val p2 = planNodes(2); val p7 = planNodes(7)
    assert(p2 == p7, s"plan grew with |left|: $p2 vs $p7 nodes")
  }

  test("plan size is constant in |left|") {
    def planNodes(rows: Int): Int = {
      val left = corpus.limit(rows).select("doc_id", "n_chars")
      idx.queryJoinAst(left, "doc_id",
        r => And(MatchTerm("text", "spark"), RangeFilter("n_chars", 0L, r.getAs[Long]("n_chars"))),
        "text", 3).queryExecution.optimizedPlan.collect { case p => p }.length
    }
    val p2 = planNodes(2); val p7 = planNodes(7)
    assert(p2 == p7, s"plan grew with |left|: $p2 vs $p7 nodes")
  }

  test("repeat invocations share one memoized setup; distinct generators do not") {
    // fresh index so memo counting starts at zero
    val idx2 = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text"), Seq("lang")))
    try {
      val before = idx2.astJoinMemoEntries
      // one definition site, fresh lambda/DataFrame per call — the
      // memo must key on the serialized closure + canonicalized plan,
      // not on reference identity
      def mkGen(): Row => SearchQuery = { r => MatchTerm("text", "spark") }
      def run(k: Int) = {
        val left = corpus.select("doc_id", "text")
        idx2.queryJoinAst(left, "doc_id", mkGen(), "text", k).collect()
      }
      run(3); run(3)
      assert(idx2.astJoinMemoEntries == before + 1,
        "identical repeat invocations must share one memo entry")
      // a different k reuses the same scored frame (k is in the
      // per-call tail, not the memo key)
      run(5)
      assert(idx2.astJoinMemoEntries == before + 1)
      val left = corpus.select("doc_id", "text")
      val a = idx2.queryJoinAst(left, "doc_id", mkGen(), "text", 3).collect().toSet
      assert(a.nonEmpty)
      // a generator with DIFFERENT captured state must miss: captured
      // values are part of the fingerprint
      def capGen(term: String): Row => SearchQuery = { r => MatchTerm("text", term) }
      idx2.queryJoinAst(left, "doc_id", capGen("quick"), "text", 3).collect()
      assert(idx2.astJoinMemoEntries == before + 2,
        "a generator with different captured state must get its own entry")
      idx2.queryJoinAst(left, "doc_id", capGen("quick"), "text", 3).collect()
      assert(idx2.astJoinMemoEntries == before + 2,
        "equal captured state must share the entry")
      // a different LEFT must miss even with the same generator
      idx2.queryJoinAst(corpus.where(col("doc_id") < 4).select("doc_id", "text"),
        "doc_id", { r => MatchTerm("text", "spark") }, "text", 3).collect()
      assert(idx2.astJoinMemoEntries == before + 3)
    } finally idx2.unpersist()
  }

  test("maxCandidatesPerShape: doc-key-order early termination for dense queries") {
    // "the" matches docs 1, 3, 4, 6 — a dense single-term query.
    // The cap keeps only the first N candidates in DOC-KEY order
    // before scoring (the distributed analog of Lucene's docid-order
    // early termination), so hits must come from the N lowest
    // matching keys, deterministically; a cap at or above the true
    // candidate count must be EXACTLY the uncapped result.
    val left = corpus.where(col("doc_id") === 1L).select("doc_id", "text")
    val gen: Row => SearchQuery = { _ => MatchTerm("text", "the") }
    def hits(cap: Int): Seq[(Long, Long, Double)] =
      idx.queryJoinAst(left, "doc_id", gen, "text", k = 10,
          maxCandidatesPerShape = cap)
        .select(col("qid"), col("key"), round(col("score"), 6))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sortBy(t => (t._1, t._2))
    val exact = hits(Int.MaxValue)
    assert(exact.map(_._2) == Seq(1L, 3L, 4L, 6L))
    // cap below the match count: only the lowest-keyed candidates
    // survive, with scores identical to the exact run's
    val capped = hits(2)
    assert(capped.map(_._2) == Seq(1L, 3L), capped)
    assert(capped == exact.take(2), s"\ncapped: $capped\nexact: $exact")
    // cap >= candidate count degenerates to exact
    assert(hits(4) == exact)
    // the memo must NOT serve a differently-capped run's frame
    assert(hits(2) == capped)
  }
}
