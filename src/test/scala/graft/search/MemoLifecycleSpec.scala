package graft.search

import graft.{SharedGates, TestSpark}
import graft.dsl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Regression pins for the query-join memo lifecycle and the two
  * carried ADVICE papercuts (VERDICT r16 #7):
  *
  *  - a result frame returned by a memoized query join must stay
  *    EXECUTABLE after its memo entry is displaced (ADVICE r16
  *    medium: eviction used to release the checkpoint blocks the
  *    caller-held frame still reads — localCheckpoint'd RDDs cannot
  *    recompute, so re-execution died with "checkpoint block not
  *    found"; displaced frames now park until index unpersist);
  *  - null qids on the pruned flat path are filtered, not NPE'd
  *    (the flag stays result-invisible);
  *  - queryJoinDsl(impactPruning) on a generator that leads on a
  *    SECONDARY text field needs pruneField to stay efficient but
  *    must be result-identical with and without it.
  */
class MemoLifecycleSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "fox news daily"),
    (2L, "spark makes big data processing fast and simple", "spark guide"),
    (3L, "the lazy dog sleeps all day long", "dog stories"),
    (4L, "spark spark spark everywhere in the cluster", "cluster ops"),
    (5L, "a quick survey of join algorithms in spark", "join survey"),
    (6L, "dogs and foxes are not the same animal", "animal facts"),
    (7L, "quick quick dog dog spark join data day", "daily digest")
  ).toDF("doc_id", "text", "title")

  private def norm(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long, Double)] =
    df.select(col("qid").cast("long"), col("rank").cast("int"),
      col("key").cast("long"), round(col("score"), 6))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  test("a returned query-join frame survives memo eviction (displaced frames park until unpersist)") {
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val savedCap = idx.astJoinMemoCap
    try {
      idx.astJoinMemoCap = 1
      val left = corpus.select(col("doc_id"), col("text"))
      val genA: Row => SearchQuery =
        r => MatchAnyTerms("text", r.getAs[String]("text").split(" ").take(2).toSeq)
      val genB: Row => SearchQuery =
        r => MatchAnyTerms("text", r.getAs[String]("text").split(" ").slice(2, 4).toSeq)
      val a = idx.queryJoinAst(left, "doc_id", genA, "text", 3)
      val first = norm(a)
      // a SECOND distinct setup evicts A's entry at cap 1
      idx.queryJoinAst(left, "doc_id", genB, "text", 3).collect()
      assert(idx.astJoinMemoEntries == 1)
      // the caller-held frame must re-execute, bit-identically
      assert(norm(a) == first)
    } finally {
      idx.astJoinMemoCap = savedCap
      idx.unpersist()
    }
  }

  test("astBroadcastShapesMax boundary: forcing the non-broadcast orientation is result-identical") {
    // A/B at the gate (VERDICT r16 #1): below the gate the probe and
    // qinfo sides broadcast; at/over it the planner keeps its choice
    // and the qinfo attach falls back to shuffle-hash. Both
    // orientations must produce identical hits on the same batch.
    val saved = SearchIndex.astBroadcastShapesMax
    val left = corpus.select(col("doc_id"), col("text"))
    val genA: Row => SearchQuery =
      r => MatchAnyTerms("text", r.getAs[String]("text").split(" ").take(3).toSeq)
    def runBoth(): (Set[(Long, Int, Long, Double)], Set[(Long, Int, Long, Double)]) = {
      val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
      try {
        val ast = norm(idx.queryJoinAst(left, "doc_id", genA, "text", 3))
        val l = corpus.select(col("doc_id"), split(col("text"), " ").as("req"))
        val bool = norm(idx.queryJoinBool(l, "doc_id",
          slice(col("req"), 1, 1), slice(col("req"), 2, 2),
          array().cast("array<string>"), "text", 3))
        (ast, bool)
      } finally idx.unpersist()
    }
    // the gate is process-wide: hold the shared-gates write lock so no
    // suite reading it runs while it is moved
    SharedGates.changing {
      try {
        SearchIndex.astBroadcastShapesMax = 65536L
        val (bcAst, bcBool) = runBoth()
        SearchIndex.astBroadcastShapesMax = 0L // every batch is "over the gate"
        val (shAst, shBool) = runBoth()
        assert(shAst == bcAst)
        assert(shBool == bcBool)
        assert(bcAst.nonEmpty && bcBool.nonEmpty)
      } finally SearchIndex.astBroadcastShapesMax = saved
    }
  }

  test("null qids on the pruned flat queryJoin are filtered, not NPE'd; flag stays result-invisible") {
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    try {
      val left = Seq(
        (Option(1L), "quick fox"),
        (Option.empty[Long], "lazy dog"), // null qid
        (Option(3L), "spark join")
      ).toDF("qid0", "q")
      val terms = split(col("q"), " ")
      def run(pruned: Boolean) = idx
        .queryJoin(left, "qid0", terms, "text", k = 3, impactPruning = pruned)
        .select(col("qid0").cast("long"), col("rank").cast("int"),
          col("key").cast("long"), round(col("score"), 6))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val exact = run(pruned = false)
      val pruned = run(pruned = true)
      assert(pruned == exact)
      assert(pruned.nonEmpty)
      assert(!pruned.exists(_._1 == 0L)) // the null-qid row matched nothing
    } finally idx.unpersist()
  }

  test("queryJoinDsl(impactPruning) with pruneField on a secondary text field is result-identical") {
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text", "title")))
    try {
      val left = corpus.select(col("doc_id"), col("title"))
      val gen: Row => SearchQuery =
        r => MatchAnyTerms("title", r.getAs[String]("title").split(" ").take(2).toSeq)
      def norm2(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id").cast("long"), col("rank").cast("int"),
          col("key").cast("long"), round(col("score"), 6))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val exact = norm2(idx.queryJoinDsl(left, "doc_id", gen, k = 3))
      val prunedDefault = norm2(idx.queryJoinDsl(left, "doc_id", gen, k = 3,
        impactPruning = true))
      val prunedField = norm2(idx.queryJoinDsl(left, "doc_id", gen, k = 3,
        impactPruning = true, pruneField = Some("title")))
      assert(prunedDefault == exact)
      assert(prunedField == exact)
      assert(exact.nonEmpty)
    } finally idx.unpersist()
  }
}
