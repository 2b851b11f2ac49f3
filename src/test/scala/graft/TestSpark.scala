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
