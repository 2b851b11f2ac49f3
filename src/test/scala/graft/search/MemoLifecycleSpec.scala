package graft.search

import graft.TestSpark
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
  *    found");
  *  - a displaced entry's frames are freed once nothing reaches them
  *    (the ContextCleaner's reachability, not index unpersist, bounds
  *    their lifetime);
  *  - null qids on the pruned flat path are filtered, not NPE'd
  *    (the flag stays result-invisible);
  *  - queryJoinDsl(impactPruning) on a generator that leads on a
  *    SECONDARY text field needs pruneField to stay efficient but
  *    must be result-identical with and without it (and with the
  *    per-query scan reference).
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

  test("a returned query-join frame survives memo eviction (displaced frames live while a result reaches them)") {
    val base = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    try {
      val left = corpus.select(col("doc_id"), col("text"))
      val genA: Row => SearchQuery =
        r => MatchAnyTerms("text", r.getAs[String]("text").split(" ").take(2).toSeq)
      val genB: Row => SearchQuery =
        r => MatchAnyTerms("text", r.getAs[String]("text").split(" ").slice(2, 4).toSeq)
      // under the gate an entry holds its canon checkpoint; over it
      // (gate 0) its lineage-cut shape tables too, whose columnar
      // cache eviction drops at once
      for (gate <- Seq(65536L, 0L)) {
        val idx = base.withJoinGates(SearchIndex.JoinGates(broadcastShapesMax = gate, memoCap = 1))
        val a = idx.queryJoinAst(left, "doc_id", genA, "text", 3)
        val first = norm(a)
        // a SECOND distinct setup evicts A's entry at cap 1
        idx.queryJoinAst(left, "doc_id", genB, "text", 3).collect()
        assert(idx.astJoinMemoEntries == 1)
        // the caller-held frame must re-execute, bit-identically
        assert(norm(a) == first, s"gate $gate")
        assert(first.nonEmpty)
      }
    } finally base.unpersist()
  }

  test("displaced memo entries are freed once no result reaches them") {
    // ADVICE medium: a long-lived index serving many distinct joins
    // must not pin one canon checkpoint per join it ever ran. Six
    // distinct joins at memo cap 2, only the last result kept: after
    // GC, the persisted RDDs the joins added (the canon checkpoints)
    // are at most the cap — the live result's entry is one of them.
    val base = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val idx = base.withJoinGates(SearchIndex.JoinGates(memoCap = 2))
    try {
      val sc = spark.sparkContext
      val left = corpus.select(col("doc_id"), col("text"))
      // compared as id sets: the context cleaner may drop unrelated
      // RDDs of earlier suites meanwhile
      val pinned0 = sc.getPersistentRDDs.keySet
      var last: org.apache.spark.sql.DataFrame = null
      for (n <- 1 to 6) {
        val gen: Row => SearchQuery =
          r => MatchAnyTerms("text", r.getAs[String]("text").split(" ").take(n).toSeq)
        last = idx.queryJoinAst(left, "doc_id", gen, "text", 3)
        last.collect()
      }
      assert(idx.astJoinMemoEntries == 2)
      def added: Int = (sc.getPersistentRDDs.keySet -- pinned0).size
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (added > 2 && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(200)
      }
      assert(added <= 2, s"$added persisted RDDs still pinned after GC; expected at most " +
        "the memo cap's 2 canon checkpoints")
      // the kept result still reads its entry's checkpoint
      assert(last.collect().nonEmpty)
    } finally idx.unpersist()
  }

  test("astBroadcastShapesMax boundary: forcing the non-broadcast orientation is result-identical") {
    // A/B at the gate (VERDICT r16 #1): when the left has at most
    // gate rows the per-shape setup tables are collected into local
    // relations and the probe and program/clause sides broadcast;
    // with more left rows but at most gate shapes the tables are
    // lineage-cut and still broadcast; over both the planner keeps
    // its choice and the attach falls back to shuffle-hash. All three
    // front doors must produce identical (qid, rank, key, score) rows
    // on every side. The left repeats each document's query under a
    // second qid: 14 rows, 7 shapes. Over the gate the attach order is
    // pinned too (no benchmark runs there): the corpus (__doc_key)
    // join is never a sort-merge and no Sort runs over the candidate
    // keys — the shape side attaches as a shuffle-hash build side.
    val twice = corpus.unionByName(corpus.withColumn("doc_id", col("doc_id") + 100))
    val left = twice.select(col("doc_id"), col("text"))
    val genA: Row => SearchQuery =
      r => MatchAnyTerms("text", r.getAs[String]("text").split(" ").take(3).toSeq)
    // the rows, and the executed plan they came from
    def exact(df: org.apache.spark.sql.DataFrame): (Set[(Long, Int, Long, Double)], String) =
      (df.select(col("qid").cast("long"), col("rank").cast("int"),
        col("key").cast("long"), col("score"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet,
        df.queryExecution.executedPlan.toString)
    def runAll(gate: Long): Seq[(Set[(Long, Int, Long, Double)], String)] = {
      val base = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
      val idx = base.withJoinGates(SearchIndex.JoinGates(broadcastShapesMax = gate))
      try {
        val l = twice.select(col("doc_id"), split(col("text"), " ").as("req"))
        val empty = array().cast("array<string>")
        Seq(
          exact(idx.queryJoinAst(left, "doc_id", genA, "text", 3)),
          exact(idx.queryJoinBool(l, "doc_id",
            slice(col("req"), 1, 1), slice(col("req"), 2, 2), empty, "text", 3)),
          exact(idx.queryJoinBool(l, "doc_id", empty, slice(col("req"), 1, 3), empty,
            "text", 3, excludeSelf = true, impactPruning = true)))
      } finally idx.unpersist()
    }
    val local = runAll(65536L) // local-relation setup tables
    val cutBroadcast = runAll(7L) // lineage-cut, broadcast
    val cut = runAll(0L) // every batch is "over the gate"
    Seq("queryJoinAst", "queryJoinBool", "queryJoinBool(impactPruning)")
      .zip(local.zip(cutBroadcast.zip(cut))).foreach {
        case (name, ((l, localPlan), ((b, _), (c, plan)))) =>
          assert(l.nonEmpty, s"$name returned no hits")
          assert(b == l, s"$name differs between collected and lineage-cut tables")
          assert(c == l, s"$name differs across the gate")
          // under the gate the qid fan-out broadcasts: no join keyed
          // on sid alone shuffles, whichever AQE stage finishes first
          assert(!"Exchange hashpartitioning\\(sid#\\d+L?, \\d+\\)".r
            .findFirstIn(localPlan).isDefined,
            s"$name shuffles on sid under the gate:\n$localPlan")
          assert(!"SortMergeJoin [^\\n]*__doc_key".r.findFirstIn(plan).isDefined,
            s"$name sort-merges the candidate stream against the corpus:\n$plan")
          assert("(ShuffledHashJoin|BroadcastHashJoin) [^\\n]*__doc_key".r
            .findFirstIn(plan).isDefined,
            s"$name lost the hash-join corpus attach:\n$plan")
          assert(!"Sort \\[key#\\d+L ASC".r.findFirstIn(plan).isDefined,
            s"$name sorts the candidate stream:\n$plan")
      }
  }

  test("memo footprint: each distinct exact join pins only its canon frame") {
    // Under the gate a query join's per-shape setup tables are
    // local relations (no storage); the one frame a memo entry
    // pins is its |left|-row canonical query checkpoint. N distinct
    // joins therefore grow the persisted RDDs by exactly N.
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    try {
      val sc = spark.sparkContext
      val left = corpus.select(col("doc_id"), col("text"),
        split(col("text"), " ").as("w"))
      val empty = array().cast("array<string>")
      val joins: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
        () => idx.queryJoinAst(left, "doc_id",
          r => MatchAnyTerms("text", r.getAs[String]("text").split(" ").take(2).toSeq),
          "text", 3),
        () => idx.queryJoinAst(left, "doc_id",
          r => MatchTerm("text", r.getAs[String]("text").split(" ").head), "text", 3),
        () => idx.queryJoinBool(left, "doc_id", slice(col("w"), 1, 1),
          slice(col("w"), 2, 2), empty, "text", 3),
        () => idx.queryJoinBool(left, "doc_id", empty, slice(col("w"), 1, 3), empty,
          "text", 3),
        () => idx.queryJoinBool(left, "doc_id", slice(col("w"), 2, 1), empty,
          slice(col("w"), 1, 1), "text", 3, excludeSelf = true))
      val entries0 = idx.astJoinMemoEntries
      // compared as id sets: the context cleaner may drop unrelated
      // RDDs of earlier suites meanwhile
      val pinned0 = sc.getPersistentRDDs.keySet
      joins.zipWithIndex.foreach { case (join, i) =>
        join().collect()
        assert(idx.astJoinMemoEntries == entries0 + i + 1)
        val added = (sc.getPersistentRDDs.keySet -- pinned0).size
        assert(added == i + 1, s"after ${i + 1} distinct joins: $added persisted RDDs, " +
          "expected one canon checkpoint per entry")
      }
    } finally idx.unpersist()
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
      val exact = norm2(ScanJoinReference(idx, left, "doc_id", gen, k = 3))
      assert(norm2(idx.queryJoinDsl(left, "doc_id", gen, k = 3)) == exact)
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
