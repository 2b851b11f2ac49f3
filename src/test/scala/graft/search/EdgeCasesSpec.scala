package graft.search

import graft.TestSpark
import graft.dsl.builders._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate inputs a production index must survive: empty corpora,
  * empty documents, absent terms, k larger than the corpus, null
  * keyword fields. */
class EdgeCasesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("empty corpus builds and searches to empty results") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val idx = SearchIndex.build(empty, IndexSpec("doc_id", Seq("text")))
    assert(idx.search("text" matchTerm "anything", 5).count() == 0)
    assert(idx.getTermCounts.count() == 0)
    assert(idx.fieldStats("text").numDocs == 0L)
    idx.unpersist()
  }

  test("empty and whitespace-only documents index without error") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "real words here")).toDF("doc_id", "text")
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text")))
    assert(idx.search("text" matchTerm "words", 5)
      .select("doc_id").as[Long].collect().toSeq == Seq(3L))
    assert(idx.search("text" matchPhrase "real words here extra", 5).count() == 0)
    assert(idx.getDocumentCounts.where($"field" === "text")
      .select("n_docs").as[Long].head() == 1L)
    idx.unpersist()
  }

  test("absent terms score nothing; k larger than corpus truncates") {
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text")))
    assert(idx.search("text" matchTerm "missingterm", 10).count() == 0)
    assert(idx.search("text" matchAny termSet("alpha", "beta"), 100).count() == 2)
    val batch = idx.batchSearch(
      Seq((1L, "text", Seq("missingterm"), 1)).toDF("qid", "field", "terms", "min_match"), 5)
    assert(batch.count() == 0)
    idx.unpersist()
  }

  test("null keyword fields neither match nor break filters") {
    val docs = Seq((1L, "a doc", Some("en")), (2L, "b doc", None))
      .toDF("doc_id", "text", "lang")
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text"), Seq("lang")))
    assert(idx.search(all && ("lang" === "en"), 5)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(idx.search(all && missing("lang"), 5)
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))
    assert(idx.getDocumentCounts.where($"field" === "lang")
      .select("n_docs").as[Long].head() == 1L)
    idx.unpersist()
  }

  test("long filter values a double cannot compare exactly are rejected, the rest compare exactly") {
    val big = (1L << 53) + 1
    val docs = Seq((1L, "alpha", big), (2L, "alpha", big - 2), (3L, "alpha", 7L))
      .toDF("doc_id", "text", "n")
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text")))
    try {
      val e = intercept[IllegalArgumentException] {
        idx.search(graft.dsl.And("text" matchTerm "alpha", graft.dsl.GtFilter("n", big - 1)), 5)
      }
      assert(e.getMessage.contains("cannot be compared exactly"), e.getMessage)
      // the largest accepted magnitude still orders every long exactly
      val hits = idx.search(graft.dsl.And("text" matchTerm "alpha",
        graft.dsl.GtFilter("n", (1L << 53) - 1)), 5).select("doc_id").as[Long].collect().toSet
      assert(hits == Set(1L))
    } finally idx.unpersist()
  }

  test("a filter on a column the docs lack, or a range on a string column, fails at the search call") {
    val docs = Seq((1L, "alpha beta", "en", "t1"), (2L, "alpha", "fr", "t2"))
      .toDF("doc_id", "text", "lang", "tag")
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text"), Seq("lang")))
    try {
      def refused(): Unit = {
        val unknown = intercept[IllegalArgumentException] {
          idx.search(graft.dsl.And("text" matchTerm "alpha", graft.dsl.EqFilter("nope", "x")), 5)
        }
        assert(unknown.getMessage == "query filter references unknown doc column 'nope'",
          unknown.getMessage)
        val unordered = intercept[IllegalArgumentException] {
          idx.search(graft.dsl.And("text" matchTerm "alpha", graft.dsl.RangeFilter("tag", 1, 5)), 5)
        }
        assert(unordered.getMessage ==
          "query comparison filters need an orderable column; 'tag' is StringType",
          unordered.getMessage)
      }
      refused() // before the index has a prepared scan plan
      assert(idx.search("text" matchTerm "alpha", 5).count() == 2)
      refused() // and after
    } finally idx.unpersist()
  }

  test("getElements with no matching keys is empty, not an error") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text")))
    assert(idx.getElements(Seq(99L)).count() == 0)
    idx.unpersist()
  }

  test("validateUniqueKeys enforces the keyCol contract") {
    val dup = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("doc_id", "text")
    val idx = SearchIndex.build(dup, IndexSpec("doc_id", Seq("text")))
    val e = intercept[IllegalArgumentException](idx.validateUniqueKeys())
    assert(e.getMessage.contains("duplicate doc_id"))
    idx.unpersist()
    val ok = SearchIndex.build(Seq((1L, "a")).toDF("doc_id", "text"),
      IndexSpec("doc_id", Seq("text")))
    ok.validateUniqueKeys() // no throw
    ok.unpersist()
  }

  test("unsupported key type fails fast with a clear message") {
    val docs = Seq((1.5, "x")).toDF("doc_id", "text")
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text")))
    val e = intercept[IllegalArgumentException] {
      idx.batchSearch(
        Seq((1L, "text", Seq("x"), 1)).toDF("qid", "field", "terms", "min_match"), 5)
        .collect()
    }
    assert(e.getMessage.contains("integral or string"))
    idx.unpersist()
  }

  /** Every query-join front door over `left` (doc_id, text): its
    * name, its output columns and its result. */
  private def frontDoors(idx: SearchIndex, left: org.apache.spark.sql.DataFrame)
      : Seq[(String, Seq[String], org.apache.spark.sql.DataFrame)] = {
    val words = split(col("text"), " ")
    val none = array().cast("array<string>")
    val gen: org.apache.spark.sql.Row => graft.dsl.SearchQuery =
      r => "text" matchAny termSet(r.getAs[String]("text").split(" ").toSeq: _*)
    val hitCols = Seq("rank", "key", "score")
    Seq(
      ("queryJoin", left.columns.toSeq ++ hitCols,
        idx.queryJoin(left, "doc_id", words, "text", 3)),
      ("queryJoin(impactPruning)", left.columns.toSeq ++ hitCols,
        idx.queryJoin(left, "doc_id", words, "text", 3, impactPruning = true)),
      ("queryJoinBool", "qid" +: hitCols,
        idx.queryJoinBool(left, "doc_id", slice(words, 1, 1), words, none, "text", 3)),
      ("queryJoinBool(impactPruning)", "qid" +: hitCols,
        idx.queryJoinBool(left, "doc_id", none, words, none, "text", 3,
          excludeSelf = true, impactPruning = true)),
      ("queryJoinAst", "qid" +: hitCols,
        idx.queryJoinAst(left, "doc_id", gen, "text", 3)),
      ("queryJoinAst(impactPruning)", "qid" +: hitCols,
        idx.queryJoinAst(left, "doc_id", gen, "text", 3, impactPruning = true)),
      ("queryJoinDsl", left.columns.toSeq ++ hitCols,
        idx.queryJoinDsl(left, "doc_id", gen, 3, excludeSelf = true)),
      ("queryJoinPhrase", "qid" +: hitCols,
        idx.queryJoinPhrase(left, "doc_id", col("text"), "text", 3)))
  }

  private lazy val frontDoorDocs =
    Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"), (3L, "alpha delta"))
      .toDF("doc_id", "text")

  test("a zero-row left through every query-join front door: zero rows, contract schema") {
    val idx = SearchIndex.build(frontDoorDocs, IndexSpec("doc_id", Seq("text")))
    try {
      for ((name, cols, df) <- frontDoors(idx, frontDoorDocs.where(lit(false)))) {
        assert(df.columns.toSeq == cols, s"$name schema: ${df.columns.mkString(", ")}")
        assert(df.collect().isEmpty, s"$name returned rows for an empty left")
      }
    } finally idx.unpersist()
  }

  test("a null qid gets no hits through every query-join front door") {
    // the null-qid row shares its query with qid 1: whether it gets
    // hits must not depend on that (the bool shape's sid is the min
    // non-null qid), and no front door may fail on it
    val idx = SearchIndex.build(frontDoorDocs, IndexSpec("doc_id", Seq("text")))
    try {
      val left = frontDoorDocs.where(col("doc_id") === 1L)
        .unionByName(frontDoorDocs.where(col("doc_id") === 1L)
          .withColumn("doc_id", lit(null).cast("long")))
      for ((name, cols, df) <- frontDoors(idx, left)) {
        val qids = df.select(col(if (cols.head == "qid") "qid" else "doc_id"))
          .collect().map(r => Option(r.get(0)))
        assert(qids.nonEmpty, s"$name returned no hits for qid 1")
        assert(qids.forall(_.isDefined), s"$name returned hits for a null qid")
      }
    } finally idx.unpersist()
  }
}
