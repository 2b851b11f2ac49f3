package graft.search

import graft.TestSpark
import graft.dsl._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Every scan-path search plans to the same generated code: the query
  * and its IDFs reach the scorer as array literals, which codegen
  * references instead of inlining. After one warm-up search per front
  * door (`search`, `searchAfter`, SQL), distinct searches of every interactive shape — flat OR,
  * min-match, `Parsed` with `+`/`-`, phrase, keyword filter, range
  * filter, cursor paging and the SQL `graft_search` — compile no new
  * class and launch exactly one Spark job, the scan (the IDFs come
  * from the index's driver-resident term dictionary), and each still
  * runs a TakeOrderedAndProject plan (for `search`, the bound plan
  * under its GraftSearch node). */
class CodegenReuseSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val words = (1 to 60).map(i => s"w$i")

  /** A 300-document corpus in the registry's layout (text, keyword
    * `lang` and `source`, int `year`) so the SQL function and the
    * Scala calls share one index. */
  private def corpusDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("codegen_reuse").toString
    val rnd = new java.util.Random(7L)
    (1 to 300).map { i =>
      val text = Seq.fill(6 + rnd.nextInt(20))(words(math.min(rnd.nextInt(60), rnd.nextInt(60))))
      (i.toLong, text.mkString(" "), Seq("en", "fr", "de")(i % 3), s"s${i % 5}", 1995 + i % 25)
    }.toDF("doc_id", "text", "lang", "source", "year")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("distinct searches of every interactive shape reuse one compiled scorer") {
    val dir = corpusDir()
    val idx = SearchQueries.indexFor(spark, dir)
    def sql(raw: String): DataFrame =
      spark.sql(s"SELECT * FROM graft_search('$dir', '$raw', 10)")
    // one warm-up per front door — each plans its own operators around
    // the scorer, or (SQL) decodes its own row schema: the Scala
    // search, cursor paging and the SQL function
    idx.search(MatchAnyTerms("text", Seq("w1", "w2", "w3")), 10).collect()
    idx.searchAfter(MatchAnyTerms("text", Seq("w4", "w5")), 10, 2.0, 3L).collect()
    sql("w4 w5").collect()
    val before = compiles
    val searches: Seq[() => DataFrame] = Seq(
      () => idx.search(MatchAnyTerms("text", Seq("w7", "w30", "w55")), 10),
      () => idx.search(MatchAnyTerms("text", Seq("w2", "w11", "w40")), 10),
      () => idx.search(MatchMin("text", 2, Seq("w1", "w9", "w22", "w50")), 10),
      () => idx.search(MatchMin("text", 2, Seq("w3", "w4", "w5", "w6")), 10),
      () => idx.search(Parsed("text", "+w1 w8 w12 -w3"), 10),
      () => idx.search(Parsed("text", "+w20 w2 -w40"), 10),
      () => idx.search(MatchPhrase("text", "w1 w2"), 10),
      () => idx.search(MatchPhrase("text", "w5 w1"), 10),
      () => idx.search(And(MatchAnyTerms("text", Seq("w1", "w17")), EqFilter("lang", "fr")), 10),
      () => idx.search(And(MatchAnyTerms("text", Seq("w6", "w33")), EqFilter("lang", "de")), 10),
      () => idx.search(
        And(MatchAnyTerms("text", Seq("w2", "w9")), RangeFilter("year", 2000, 2004)), 10),
      () => idx.search(
        And(MatchAnyTerms("text", Seq("w8", "w28")), RangeFilter("year", 1996, 2012)), 10),
      () => idx.searchAfter(MatchAnyTerms("text", Seq("w1", "w3")), 10, 1.5, 40L),
      () => idx.searchAfter(MatchAnyTerms("text", Seq("w2", "w5")), 10, 0.75, 7L),
      () => sql("w1 w2 w3"),
      () => sql("+w3 w10 w44"))
    // each search is planned and collected under its own job count
    val counted = searches.map(s => Launches(spark) { val df = s(); df.collect(); df })
    assert(compiles == before, s"${compiles - before} classes compiled after warm-up")
    val jobs = counted.map(_._2._2)
    assert(jobs.forall(_ == 1), s"jobs per search after warm-up: ${jobs.mkString(", ")}")
    // a `search` runs the bound plan of its GraftSearch node; that
    // plan, like the cursor page's own, ends in TakeOrderedAndProject
    counted.take(14).map(_._1).foreach { df =>
      val plan = df.queryExecution.executedPlan match {
        case s: graft.plans.GraftScanSearchExec => s.bound
        case p => p
      }
      assert(plan.nodeName == "TakeOrderedAndProject", plan.toString.take(400))
    }
    SearchQueries.clearCache()
  }

  test("the SQL graft_search reuses the class the Scala search compiled") {
    val dir = corpusDir()
    val idx = SearchQueries.indexFor(spark, dir)
    idx.search(MatchAnyTerms("text", Seq("w1", "w2", "w3")), 10).collect()
    // the caller's decoder for (bigint, double) rows is the SQL
    // result's only class of its own; compile it off the index
    spark.range(1).select(col("id").as("doc_id"), lit(1.0).as("score")).collect()
    val before = compiles
    val (rows, (_, sqlJobs)) = Launches(spark)(
      spark.sql(s"SELECT * FROM graft_search('$dir', '+w3 w10 w44', 10)").collect())
    assert(compiles == before, s"${compiles - before} classes compiled by the first SQL search")
    val (expect, (_, scalaJobs)) = Launches(spark)(
      idx.searchRaw("+w3 w10 w44", 10).select("doc_id", "score").collect())
    assert(sqlJobs <= scalaJobs, s"the first SQL search launched $sqlJobs jobs, " +
      s"the same Scala search $scalaJobs")
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      expect.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    SearchQueries.clearCache()
  }
}
