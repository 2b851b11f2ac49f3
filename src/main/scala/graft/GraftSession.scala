package graft

import org.apache.spark.sql.SparkSession

/** The one local Spark session configuration of the engine's mains
  * (`Bench`, `Verify`, `tools.IndexBuildBench`, `examples.Walkthrough`)
  * and its test suites: the oracle dump, the bench and the tests run
  * under the same settings. Callers add what is theirs (an app name)
  * and call `getOrCreate()`. */
object GraftSession {
  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      // bounded top-k aggregates (TopKAgg) over thousands of groups:
      // the 128-key default forces the sort-based object-agg fallback,
      // which serializes each group buffer per row (measured 155s /
      // 7.3GB spill on a 3.7M-row seed aggregate, SCALE.md r15)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      // bound plan-string rendering: Spark eagerly builds the
      // SQLExecutionStart listener event's physicalPlanDescription
      // (treeString of the whole physical plan) for EVERY action even
      // with the UI disabled. The pruned query-join plans are MBs of
      // text; jstack sampling showed TreeNode.generateTreeString hot
      // in 57/75 driver samples and a 12.6s driver-only gap before the
      // timed job (r16). Truncating the diagnostic string is
      // result-invisible; measured query_join_ast_expand_pruned
      // 14.3-19.3s -> 9.4s. Driver-side plan rendering is a real
      // 100 TB concern too (same string is built on every AQE
      // re-plan), so the production recommendation is the same value.
      .config("spark.sql.maxPlanStringLength", "32768")
      // events.parquet is TIMESTAMP(NANOS), which Spark 4 only reads
      // under this flag (graft.relational.Tables normalizes it back)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the build-time extension route (spark-submit contract):
      // installs the native expressions + the graft_search TVF
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
