package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (one JVM, one context). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      // bounded top-k aggregates (TopKAgg) over thousands of groups:
      // the 128-key default forces the sort-based object-agg fallback,
      // which serializes each group buffer per row (measured 155s /
      // 7.3GB spill on a 3.7M-row seed aggregate, SCALE.md r15)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      // match Verify/Bench: events.parquet is TIMESTAMP(NANOS), which
      // Spark 4 only reads under this flag (Tables normalizes back)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the build-time extension route (spark-submit contract):
      // installs the native expressions + the graft_search TVF
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Guard for the engine's process-wide tuning gates (e.g.
  * `SearchIndex.astBroadcastShapesMax`): a test that changes a gate
  * holds the write lock for the whole change ([[SharedGates.changing]]);
  * suites whose calls read the gates mix in [[ReadsSharedGates]],
  * which holds the read lock around each test. So no suite ever runs
  * against a gate another suite has temporarily moved, even when
  * suites run in parallel. */
object SharedGates {
  val lock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  def changing[T](body: => T): T = {
    lock.writeLock().lock()
    try body finally lock.writeLock().unlock()
  }
}

trait ReadsSharedGates extends org.scalatest.TestSuiteMixin { this: org.scalatest.TestSuite =>
  abstract override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    SharedGates.lock.readLock().lock()
    try super.withFixture(test) finally SharedGates.lock.readLock().unlock()
  }
}
