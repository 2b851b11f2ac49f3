package graft.search

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The probe-depth knob (reference maxHitsPerIndex,
  * SearchableRDD.scala:103-119): per-partition bounded top-n before
  * the global merge. Assertions are hash-layout-independent: the
  * capped result is a subset of the exact one, the global best
  * always survives (it is its partition's best), sizes obey
  * partitions x n, and the default is exact. */
class MaxHitsPerIndexSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val corpus = Seq(
    (1L, "spark a b", "en", 10L),
    (2L, "spark spark c", "en", 20L),
    (3L, "spark d spark spark", "en", 30L),
    (4L, "spark e f g h i j k", "en", 40L),
    (5L, "spark l m", "en", 50L),
    (6L, "no match here", "en", 60L)
  ).toDF("doc_id", "text", "lang", "n_chars")

  lazy val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))

  private def queries = Seq((0L, "text", Seq("spark"), 1))
    .toDF("qid", "field", "terms", "min_match")

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("rank").cast("long"), col("key").cast("long"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(_._1)

  test("default and n >= k are exact; n < k caps per-partition contributions") {
    val exact = hits(idx.batchSearch(queries, 10))
    assert(exact.size == 5) // docs 1-5 match
    assert(hits(idx.batchSearch(queries, 10, maxHitsPerIndex = 10)) == exact)
    assert(hits(idx.batchSearch(queries, 10, maxHitsPerIndex = Int.MaxValue)) == exact)

    val capped = hits(idx.batchSearch(queries, 10, maxHitsPerIndex = 1))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // every capped hit is a true hit with its exact score
    val exactByKey = exact.map(h => h._2 -> h._3).toMap
    capped.foreach { case (_, key, score) =>
      assert(math.abs(exactByKey(key) - score) < 1e-12) }
    // at most one survivor per partition
    assert(capped.size <= math.min(exact.size, parts))
    // the global best is its own partition's best, so it always
    // survives any per-partition cap and stays rank 1
    assert(capped.head._2 == exact.head._2)
  }

  test("the capped plan carries the per-partition pre-aggregate, the exact one does not") {
    val exactPlan = idx.batchSearch(queries, 10).queryExecution.optimizedPlan.toString
    val cappedPlan = idx.batchSearch(queries, 10, maxHitsPerIndex = 2)
      .queryExecution.optimizedPlan.toString
    assert(!exactPlan.contains("SPARK_PARTITION_ID"))
    assert(cappedPlan.contains("SPARK_PARTITION_ID"))
  }

  test("queryJoin and queryJoinBool expose the knob with the same contract") {
    val left = corpus.where(col("doc_id") <= 2).select(col("doc_id"),
      array(lit("spark")).as("req"))
    val exact = idx.queryJoinBool(left, "doc_id", col("req"),
      array().cast("array<string>"), array().cast("array<string>"), "text", k = 5)
      .select(col("qid"), col("key").cast("long"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = idx.queryJoinBool(left, "doc_id", col("req"),
      array().cast("array<string>"), array().cast("array<string>"), "text", k = 5,
      maxHitsPerIndex = 1)
      .select(col("qid"), col("key").cast("long"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped.subsetOf(exact))
    assert(capped.nonEmpty)
    // per qid: the exact best survives
    val bestExact = exact.groupBy(_._1).view.mapValues(_.maxBy(h => (h._3, -h._2))).toMap
    val bestCapped = capped.groupBy(_._1).view.mapValues(_.maxBy(h => (h._3, -h._2))).toMap
    bestExact.foreach { case (qid, h) => assert(bestCapped(qid) == h) }

    val qj = hits(idx.queryJoin(corpus.where(col("doc_id") === 1), "doc_id",
      array(lit("spark")), "text", k = 5, maxHitsPerIndex = 1)
      .select(col("rank"), col("key"), col("score")))
    assert(qj.nonEmpty && qj.size <= spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }
}
