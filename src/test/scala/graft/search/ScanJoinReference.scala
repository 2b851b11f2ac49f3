package graft.search

import graft.dsl.SearchQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

/** Per-query scan reference for the query joins: collects the left,
  * runs each generated query through the public scan-path
  * [[SearchIndex.batchSearchDsl]] (one plan per query, no postings
  * probe, no shape dedup, no memo), and joins the hits back on the
  * qid. With `excludeSelf` it fetches k+1 hits and re-ranks after
  * dropping the self hit. Output has the left's columns plus rank,
  * key and score, like [[SearchIndex.queryJoinDsl]]. For small lefts
  * only — it is a test oracle, not a join. */
object ScanJoinReference {
  def apply(idx: SearchIndex, left: DataFrame, qidCol: String,
      gen: Row => SearchQuery, k: Int, excludeSelf: Boolean = false): DataFrame = {
    val queries = left.collect().toSeq.map(r => r.getAs[Number](qidCol).longValue() -> gen(r))
    val raw = idx.batchSearchDsl(queries, if (excludeSelf) k + 1 else k)
    val hits =
      if (!excludeSelf) raw
      else raw.where(col("qid") =!= col("key"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score").desc, col("key").asc)))
        .where(col("rank") <= k)
    left.join(hits, left(qidCol) === hits("qid")).drop(hits("qid"))
  }
}
