package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (one JVM, one context). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-tests")
      // plan-shape specs match on whole executed-plan strings: keep
      // Spark's unbounded default, not the mains' truncation
      .config("spark.sql.maxPlanStringLength",
        org.apache.spark.unsafe.array.ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toLong)
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
