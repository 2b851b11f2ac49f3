package graft.search

import graft.TestSpark
import graft.dsl._
import graft.dsl.builders._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SearchIndexSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", 100L),
    (2L, "spark makes big data processing fast and simple", "en", 200L),
    (3L, "the lazy dog sleeps all day long", "en", 150L),
    (4L, "spark spark spark everywhere in the cluster", "fr", 120L),
    (5L, "a quick survey of join algorithms in spark", "fr", 300L),
    (6L, "dogs and foxes are not the same animal", "de", 250L)
  ).toDF("doc_id", "text", "lang", "n_chars")

  lazy val spec = IndexSpec("doc_id", Seq("text"), Seq("lang"))
  lazy val idx = SearchIndex.build(corpus, spec)

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSeq

  test("single term search matches containing docs, scored desc") {
    val r = idx.search("text" matchAny termSet("spark"), 10)
    val got = ids(r)
    assert(got.toSet == Set(2L, 4L, 5L))
    // doc 4 has tf=3 and short dl -> highest score
    assert(got.head == 4L)
  }

  test("matchAllText requires all terms") {
    assert(ids(idx.search("text" matchAllText "lazy dog", 10)).toSet == Set(1L, 3L))
  }

  test("matchMin 2 of 3") {
    val r = ids(idx.search("text".matchMin(2, termSet("quick", "fox", "dog")), 10))
    assert(r.toSet == Set(1L)) // only doc1 has >= 2 of the terms
    val r1 = ids(idx.search("text".matchMin(1, termSet("quick", "fox", "dog")), 10))
    assert(r1.toSet == Set(1L, 3L, 5L)) // doc3 has dog, doc5 has quick
  }

  test("phrase match is positional") {
    assert(ids(idx.search("text" matchPhrase "lazy dog", 10)).toSet == Set(1L, 3L))
    assert(ids(idx.search("text" matchPhrase "dog lazy", 10)).isEmpty)
    // Lucene sloppy phrase: slop 2 admits the transposition, slop 1
    // does not (matchLength 2)
    assert(ids(idx.search("text".matchPhrase("dog lazy", 2), 10)).toSet == Set(1L, 3L))
    assert(ids(idx.search("text".matchPhrase("dog lazy", 1), 10)).isEmpty)
  }

  test("boolean and/or/not") {
    assert(ids(idx.search(("text" matchTerm "spark") && ("text" matchTerm "join"), 10)) == Seq(5L))
    assert(ids(idx.search(("text" matchTerm "fox") || ("text" matchTerm "foxes"), 10)).toSet == Set(1L, 6L))
    assert(ids(idx.search(all && Not("text" matchTerm "the"), 10)).toSet == Set(2L, 5L))
  }

  test("filters do not change scores (Occur.FILTER discipline)") {
    val unfiltered = idx.search("text" matchAny termSet("spark"), 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val filtered = idx.search(("text" matchAny termSet("spark")) && ("lang" === "fr"), 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(filtered.keySet == Set(4L, 5L))
    filtered.foreach { case (id, s) => assert(math.abs(s - unfiltered(id)) < 1e-12) }
  }

  test("range / in-set / exists filters") {
    assert(ids(idx.search(all && ("n_chars" in range(150L, 260L)), 10)).toSet == Set(2L, 3L, 6L))
    assert(ids(idx.search(all && ("lang" in valueSet("de", "fr")), 10)).toSet == Set(4L, 5L, 6L))
    assert(ids(idx.search(all && builders.exists("lang"), 10)).size == 6)
    assert(ids(idx.search(all && missing("lang"), 10)).isEmpty)
  }

  test("scores are invariant under repartitioning (global IDF)") {
    val q = "text" matchAny termSet("spark", "dog")
    val base = idx.search(q, 10).select("doc_id", "score").as[(Long, Double)].collect().sortBy(_._1)
    for (n <- Seq(1, 2, 5)) {
      val idxN = SearchIndex.build(corpus.repartition(n), spec)
      val got = idxN.search(q, 10).select("doc_id", "score").as[(Long, Double)].collect().sortBy(_._1)
      assert(got.map(_._1).toSeq == base.map(_._1).toSeq)
      got.zip(base).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
      idxN.unpersist()
    }
  }

  test("batchSearch agrees with per-query search") {
    val queries = Seq(
      (10L, "text", Seq("spark"), 1),
      (11L, "text", Seq("lazy", "dog"), 0)
    ).toDF("qid", "field", "terms", "min_match")
    val batch = idx.batchSearch(queries, 10)
      .select("qid", "key", "score").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val single = idx.search("text" matchAny termSet("spark"), 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(batch(10L).keySet == single.keySet)
    batch(10L).foreach { case (k, s) => assert(math.abs(s - single(k)) < 1e-9) }
    val allq = idx.search("text" matchAllText "lazy dog", 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(batch(11L).keySet == allq.keySet)
    batch(11L).foreach { case (k, s) => assert(math.abs(s - allq(k)) < 1e-9) }
  }

  test("string-keyed corpus: batchSearch and queryJoin work end-to-end") {
    val sCorpus = corpus.withColumn("doc_id", concat(lit("doc-"), col("doc_id")))
    val sIdx = SearchIndex.build(sCorpus, spec)
    val queries = Seq((10L, "text", Seq("spark"), 1)).toDF("qid", "field", "terms", "min_match")
    val batch = sIdx.batchSearch(queries, 10)
      .select("key", "score").as[(String, Double)].collect().toMap
    val single = sIdx.search("text" matchAny termSet("spark"), 10)
      .select("doc_id", "score").as[(String, Double)].collect().toMap
    assert(batch.keySet == Set("doc-2", "doc-4", "doc-5") && batch.keySet == single.keySet)
    batch.foreach { case (k, s) => assert(math.abs(s - single(k)) < 1e-9) }
    val left = sIdx.docs.where(col("doc_id") === "doc-2")
    val qj = sIdx.queryJoin(left, "doc_id",
      array_distinct(col(SearchIndex.tokensColName("text"))), "text",
      k = 3, minMatch = 1, excludeSelf = true)
    val hits = qj.select("key").as[String].collect().toSet
    assert(hits.nonEmpty && !hits.contains("doc-2"))
    sIdx.unpersist()
  }

  test("queryJoin returns top-k similar docs excluding self") {
    val left = idx.docs.where(col("doc_id") === 2L)
    val r = idx.queryJoin(left, "doc_id",
      array_distinct(col(SearchIndex.tokensColName("text"))), "text",
      k = 3, minMatch = 1, excludeSelf = true)
    val hits = r.select("key").collect().map(_.getLong(0)).toSet
    assert(!hits.contains(2L))
    assert(hits.nonEmpty)
  }

  test("light and transformer query-join variants project correctly") {
    val left = idx.docs.where(col("doc_id") <= 2L)
    val terms = array_distinct(slice(col(SearchIndex.tokensColName("text")), 1, 5))
    val light = idx.lightQueryJoin(left, "doc_id", terms, "text", k = 2)
    assert(light.columns.toSeq == Seq("qid", "rank", "key", "score"))
    assert(light.count() > 0)
    val tr = idx.queryJoinWithResultsTransformer(left, "doc_id", terms, "text", 2, col("lang"))
    assert(tr.columns.toSeq == Seq("lang", "rank", "key", "score"))
  }

  test("stats: term counts, idfs, doc counts, indices info") {
    val tc = idx.getTermCounts.where($"field" === "text" && $"term" === "spark")
      .select("cf").as[Long].head()
    assert(tc == 5L) // 1 + 3 + 1
    val n = idx.getDocumentCounts.where($"field" === "text").select("n_docs").as[Long].head()
    assert(n == 6L)
    val idf = idx.getTermIDFs.where($"field" === "text" && $"term" === "spark")
      .select("idf").as[Double].head()
    assert(math.abs(idf - math.log(1.0 + (6 - 3 + 0.5) / 3.5)) < 1e-12)
    val info = idx.getIndicesInfo.where($"field" === "text").head()
    assert(info.getAs[Long]("num_docs") == 6L)
  }

  test("config and data/indices info summarize the index") {
    val info = idx.getDataAndIndicesInfo
    assert(info.contains("key=doc_id") && info.contains("text(docs=6"))
    assert(info.contains("postings partitions"))
  }

  test("parsed query: +required optional -excluded") {
    val r = ids(idx.search("text" parseQuery "+spark -join", 10))
    assert(r.toSet == Set(2L, 4L))
  }

  test("light and transformer variants project correctly") {
    val light = idx.lightSearch("text" matchTerm "spark", 10)
    assert(light.columns.toSeq == Seq("doc_id", "score"))
    val tr = idx.searchWithResultsTransformer("text" matchTerm "spark", 10, col("lang"))
    assert(tr.columns.toSeq == Seq("lang", "score"))
  }

  test("getElements point lookup") {
    assert(ids(idx.getElements(Seq(1L, 4L)).orderBy("doc_id")) == Seq(1L, 4L))
  }

  test("matchNear: unordered proximity with exact pair-count tf") {
    val docs = Seq(
      (1L, "alpha x x beta"), // distance 3
      (2L, "beta x alpha"), // distance 2, reversed order
      (3L, "alpha x x x beta"), // distance 4 — outside dist=3
      (4L, "alpha beta alpha"), // two pairs within 2
      (5L, "gamma gamma x gamma") // same-term pairs: (1,2),(2,4) at dist 2
    ).toDF("doc_id", "text")
    val nidx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text")))
    def hits(q: SearchQuery) = nidx.search(q, 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits("text".matchNear("alpha", "beta", 3)) == Set(1L, 2L, 4L))
    assert(hits("text".matchNear("beta", "alpha", 3)) == Set(1L, 2L, 4L), "symmetric")
    assert(hits("text".matchNear("alpha", "beta", 4)) == Set(1L, 2L, 3L, 4L))
    // pair-count tf: doc 4 has two pairs -> higher score than doc 2
    // (same dl would be needed for a strict comparison; check tf via
    // the registered function directly)
    val tfs = docs
      .select(col("doc_id"), call_function("near_count",
        graft.analysis.Analyzers.default.tokensCol(col("text")),
        lit("alpha"), lit("beta"), lit(2)).as("tf"))
      .as[(Long, Int)].collect().toMap
    assert(tfs(4L) == 2 && tfs(2L) == 1 && tfs(1L) == 0)
    // same-term proximity counts i < j pairs once, never self-pairs
    val sameTf = docs
      .select(col("doc_id"), call_function("near_count",
        graft.analysis.Analyzers.default.tokensCol(col("text")),
        lit("gamma"), lit("gamma"), lit(2)).as("tf"))
      .as[(Long, Int)].collect().toMap
    assert(sameTf(5L) == 2, s"expected pairs (1,2),(2,4): ${sameTf(5L)}")
    nidx.unpersist()
  }

  test("facetCounts: per-value counts over the full match set") {
    val fc = idx.facetCounts("text" matchTerm "spark", Seq("lang"))
      .as[(String, String, Long)].collect()
      .map { case (_, v, n) => v -> n }.toMap
    // spark matches docs 2 (en), 4 (fr), 5 (fr)
    assert(fc == Map("en" -> 1L, "fr" -> 2L))
    // facet counts sum to the match-set size, per facet field
    val both = idx.facetCounts("text" matchTerm "spark", Seq("lang", "n_chars"))
      .as[(String, String, Long)].collect()
    assert(both.filter(_._1 == "lang").map(_._3).sum ==
      both.filter(_._1 == "n_chars").map(_._3).sum)
  }

  test("searchAfter pages are disjoint and union to the top of the ranking") {
    val q = "text" matchAny termSet("spark", "dog", "quick", "lazy")
    val all = idx.search(q, 100).select("doc_id", "score")
      .as[(Long, Double)].collect()
    assert(all.length >= 4)
    val page1 = all.take(2)
    val cursor = page1.last
    val page2 = idx.searchAfter(q, 2, cursor._2, cursor._1)
      .select("doc_id", "score").as[(Long, Double)].collect()
    assert(page2.toSeq == all.slice(2, 4).toSeq,
      s"page2 ${page2.toSeq} vs expected ${all.slice(2, 4).toSeq}")
    assert(page1.map(_._1).toSet.intersect(page2.map(_._1).toSet).isEmpty)
  }

  test("highlight: earliest matched position, snippet window contains the term") {
    val hits = idx.highlight("text" matchAny termSet("spark", "lazy"), 10,
        "text", Seq("spark", "lazy"), window = 2)
      .select("doc_id", "hit_pos", "snippet")
      .as[(Long, Long, String)].collect()
    assert(hits.nonEmpty)
    hits.foreach { case (id, pos, snip) =>
      val toks = corpus.where(col("doc_id") === id)
        .select("text").as[String].head().toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val matched = toks(pos.toInt - 1) // 1-based position
      assert(Set("spark", "lazy").contains(matched), s"doc $id pos $pos -> $matched")
      assert(snip.split(" ").contains(matched))
      // earliest: no earlier occurrence of either term
      assert(!toks.take(pos.toInt - 1).exists(Set("spark", "lazy").contains))
    }
  }
}
