package graft.search

import graft.TestSpark
import graft.dsl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Per-call setup cost of the query-join front doors: the SQL
  * executions and Spark jobs a call launches BEFORE its result is
  * collected, for bool exact and pruned, AST exact and pruned, and the
  * phrase join (an AST join). A cold call checkpoints its |left|-row
  * canonical query frame once and collects its per-shape setup tables
  * (one for the exact joins' shapes, one more for the pruned bool
  * threshold, one more for the AST scoring table, and the pruned AST
  * join adds a seed checkpoint and its pruned probe table). Every
  * shape table reads its term statistics through ONE lookup, so the
  * job bounds sit at the measured counts: a second stats join or
  * aggregate in any setup table shows up here. A memoized repeat
  * launches nothing. Runs on a fresh index, so an exact call that
  * built an index-wide pruning statistic would show up here too. */
class QueryJoinSetupSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 60 documents of 8 seeded words over a 24-word vocabulary
  lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(11)
    (0L until 60L).map { id =>
      (id, Seq.fill(8)(s"w${rnd.nextInt(24)}").mkString(" "), 2000 + (id % 4).toInt)
    }.toDF("doc_id", "text", "year")
  }

  /** 20 left rows, each query drawn from its own document's words. */
  lazy val left: DataFrame = corpus.where(col("doc_id") % 3 === 0)
    .select(col("doc_id"), split(col("text"), " ").as("w"),
      (col("year") - 3).as("lo"), (col("year") + 3).as("hi"))
    .select(col("doc_id"), slice(col("w"), 1, 1).as("req"),
      slice(col("w"), 2, 2).as("opt"), slice(col("w"), 6, 1).as("exc"),
      col("lo"), col("hi"), col("w"))

  test("a cold query join launches a bounded setup; its repeat launches nothing") {
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    try {
      idx.docs.count()
      val astGen: Row => SearchQuery = { r =>
        val w = r.getSeq[String](r.fieldIndex("w"))
        And(And(Or(And(MatchTerm("text", w(0)), MatchAnyTerms("text", Seq(w(1), w(2)))),
          MatchPhrase("text", s"${w(3)} ${w(4)}")),
          RangeFilter("year", r.getAs[Int]("lo"), r.getAs[Int]("hi"))),
          Not(MatchTerm("text", w(5))))
      }
      val phraseLeft = left.select(col("doc_id"),
        concat_ws(" ", slice(col("w"), 4, 2)).as("phrase"))
      // (name, most SQL executions, most jobs, call)
      val calls = Seq[(String, Int, Int, () => DataFrame)](
        ("queryJoinBool exact", 2, 5, () => idx.queryJoinBool(left, "doc_id", col("req"),
          col("opt"), col("exc"), "text", 5,
          attrFilter = Some(("year", col("lo"), col("hi"))), excludeSelf = true)),
        ("queryJoinBool(impactPruning)", 3, 9, () => idx.queryJoinBool(left, "doc_id",
          array().cast("array<string>"), concat(col("req"), col("opt")),
          array().cast("array<string>"), "text", 5, excludeSelf = true,
          impactPruning = true)),
        ("queryJoinAst exact", 3, 7, () => idx.queryJoinAst(left, "doc_id", astGen, "text", 5,
          excludeSelf = true)),
        ("queryJoinAst(impactPruning)", 5, 21, () => idx.queryJoinAst(left, "doc_id", astGen,
          "text", 5, excludeSelf = true, impactPruning = true)),
        ("queryJoinPhrase", 3, 7, () => idx.queryJoinPhrase(phraseLeft, "doc_id",
          col("phrase"), "text", 5)))
      for ((name, maxExecs, maxJobs, call) <- calls) {
        val (cold, (execs, jobs)) = Launches(spark)(call())
        info(s"$name cold call: $execs SQL executions, $jobs jobs")
        assert(execs <= maxExecs && jobs <= maxJobs,
          s"$name cold call: $execs SQL executions, $jobs jobs")
        val first = cold.collect().toSet
        assert(first.nonEmpty, s"$name returned no hits")
        val (warm, repeat) = Launches(spark)(call())
        assert(repeat == (0, 0), s"$name repeat call launched $repeat (executions, jobs)")
        assert(warm.collect().toSet == first, s"$name repeat differs from its first call")
      }
    } finally idx.unpersist()
  }
}
