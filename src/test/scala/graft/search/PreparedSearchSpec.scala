package graft.search

import graft.TestSpark
import graft.dsl._
import graft.plans.GraftScanSearchExec
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, spark_partition_id}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** A scan-path search runs a bound copy of its index's prepared plan
  * behind one GraftSearch node. The copy must be the plan a fresh
  * search would get (same rows, same scores, canonically the same
  * plan), private to its search, re-planned when the session conf
  * changes, and never read a docs cache that is no longer registered. */
class PreparedSearchSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val words = (1 to 60).map(i => s"w$i")

  /** The interactive corpus of CodegenReuseSpec: 300 documents with
    * text, keyword `lang` and `source`, int `year`. */
  private def corpusDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("prepared_search").toString
    val rnd = new java.util.Random(7L)
    (1 to 300).map { i =>
      val text = Seq.fill(6 + rnd.nextInt(20))(words(math.min(rnd.nextInt(60), rnd.nextInt(60))))
      (i.toLong, text.mkString(" "), Seq("en", "fr", "de")(i % 3), s"s${i % 5}", 1995 + i % 25)
    }.toDF("doc_id", "text", "lang", "source", "year")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** Every interactive `search` shape of CodegenReuseSpec. */
  private val shapes: Seq[SearchQuery] = Seq(
    MatchAnyTerms("text", Seq("w7", "w30", "w55")),
    MatchMin("text", 2, Seq("w1", "w9", "w22", "w50")),
    Parsed("text", "+w1 w8 w12 -w3"),
    MatchPhrase("text", "w1 w2"),
    And(MatchAnyTerms("text", Seq("w1", "w17")), EqFilter("lang", "fr")),
    And(MatchAnyTerms("text", Seq("w2", "w9")), RangeFilter("year", 2000, 2004)))
  private val rawShapes = Seq("w1 w2 w3", "+w3 w10 w44")
  private val ks = Seq(1, 10, 500)

  /** The bound plan under a search frame's GraftSearch node (the
    * frame's own plan is adaptive under `forceApply`). */
  private def boundOf(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case s: GraftScanSearchExec => s.bound
    case AdaptiveSparkPlanExec(s: GraftScanSearchExec, _, _, _, _) => s.bound
    case p => fail(s"not a GraftSearch node:\n$p")
  }

  private def hits(rows: Array[Row]): Seq[(Long, Double)] =
    rows.map(r => (r.getAs[Number]("doc_id").longValue(), r.getAs[Double]("score"))).toSeq

  test("bound plans equal fresh plans: rows, scores and canonical plan, lightSearch and SQL included") {
    val dir = corpusDir()
    val idx = SearchQueries.indexFor(spark, dir)
    shapes.foreach(q => idx.search(q, 10).collect()) // one template per doc-side input set
    for (q <- shapes; k <- ks) {
      val fresh = idx.plannedSearch(q, k)
      val df = idx.search(q, k)
      assert(df.schema == fresh.schema)
      val bound = boundOf(df)
      assert(bound.canonicalized == fresh.queryExecution.executedPlan.canonicalized,
        s"$q k=$k bound:\n$bound\nfresh:\n${fresh.queryExecution.executedPlan}")
      assert(df.collect().toSeq == fresh.collect().toSeq, s"$q k=$k")
      // plain columns of a search run a pruned template of their own
      val light = idx.lightSearch(q, k)
      val freshLight = fresh.select("doc_id", "score")
      assert(boundOf(light).canonicalized == freshLight.queryExecution.executedPlan.canonicalized,
        s"$q k=$k bound:\n${boundOf(light)}")
      assert(light.collect().toSeq == freshLight.collect().toSeq, s"light $q k=$k")
    }
    for (raw <- rawShapes; k <- ks) {
      val sql = spark.sql(s"SELECT doc_id, score FROM graft_search('$dir', '$raw', $k)").collect()
      val fresh = idx.plannedSearch(idx.constructQuery(raw, "text"), k).collect()
      assert(hits(sql) == hits(fresh), s"'$raw' k=$k")
    }
    val plan = idx.search(shapes.head, 10).queryExecution.executedPlan.toString
    assert(plan.contains("GraftSearch query=MatchAnyTerms(text,List(w7, w30, w55)), k=10") &&
      plan.contains("TakeOrderedAndProject(limit=10"), plan)
    SearchQueries.clearCache()
  }

  test("no plan node or metric is shared between searches; threads see their own rows") {
    val dir = corpusDir()
    val idx = SearchQueries.indexFor(spark, dir)
    shapes.foreach(q => idx.search(q, 10).collect())
    val (a, b) = (idx.search(shapes(0), 10), idx.search(shapes(1), 10))
    a.collect(); b.collect()
    def nodes(p: SparkPlan) = p.collect { case n => n }
    val (pa, pb) = (nodes(boundOf(a)), nodes(boundOf(b)))
    assert(pa.forall(n => !pb.exists(_ eq n)), "a plan node is shared")
    val (ma, mb) = (pa.flatMap(_.metrics.values), pb.flatMap(_.metrics.values))
    assert(ma.nonEmpty && ma.forall(m => !mb.exists(_ eq m)), "a metric is shared")
    // 4 threads x 25 searches against one-after-another
    val work = (0 until 100).map(i => (shapes(i % shapes.length), ks(i % ks.length)))
    val expect = work.map { case (q, k) => idx.search(q, k).collect().toSeq }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Int, Seq[Row])]] {
          def call(): Seq[(Int, Seq[Row])] = (t until 100 by 4).map { i =>
            val (q, k) = work(i)
            i -> idx.search(q, k).collect().toSeq
          }
        })
      }
      val got = futures.flatMap(_.get()).toMap
      work.indices.foreach(i => assert(got(i) == expect(i), s"search $i: ${work(i)}"))
    } finally pool.shutdown()
    SearchQueries.clearCache()
  }

  test("search results self-join: the leaf is a multi-instance relation") {
    val dir = corpusDir()
    val idx = SearchQueries.indexFor(spark, dir)
    val r = idx.search(shapes.head, 10)
    val self = r.as("x").join(r.as("y"), col("x.doc_id") === col("y.doc_id"))
    assert(self.count() == r.count())
    val other = idx.search(shapes(1), 500)
    val both = r.join(other, r("doc_id") === other("doc_id"))
    val expect = hits(r.collect()).map(_._1).toSet intersect hits(other.collect()).map(_._1).toSet
    assert(both.select(r("doc_id")).as[Long].collect().toSet == expect)
    SearchQueries.clearCache()
  }

  test("a conf change re-plans the template; forced adaptive execution is planned fresh") {
    val dir = corpusDir()
    val idx = SearchQueries.indexFor(spark, dir)
    val q = shapes(2)
    val expect = idx.plannedSearch(q, 10).collect().toSeq
    def codegen(df: DataFrame) = boundOf(df).collect { case w: WholeStageCodegenExec => w }.nonEmpty
    idx.search(q, 10).collect()
    assert(codegen(idx.search(q, 10)))
    val held = idx.scanTemplateEntries
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      (1 to 2).foreach { _ =>
        val df = idx.search(q, 10)
        assert(!codegen(df), boundOf(df).toString)
        assert(df.collect().toSeq == expect)
        // a plan with no generated stage is still a template: the
        // second search binds it
        assert(idx.scanTemplateEntries == held + 1)
      }
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    assert(codegen(idx.search(q, 10)))
    try {
      spark.conf.set("spark.sql.adaptive.forceApply", "true")
      (1 to 2).foreach { _ =>
        val df = idx.search(q, 10)
        assert(boundOf(df).nodeName == "AdaptiveSparkPlan", boundOf(df).toString)
        assert(df.collect().toSeq == expect)
      }
    } finally spark.conf.unset("spark.sql.adaptive.forceApply")
    assert(idx.search(q, 10).collect().toSeq == expect)
    SearchQueries.clearCache()
  }

  /** RDD ids holding blocks right now. */
  private def pinned(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("after unpersist and clearCache a search pins no docs blocks") {
    val dir = corpusDir()
    val built = SearchIndex.build(spark.read.parquet(s"$dir/documents.parquet"),
      IndexSpec("doc_id", Seq("text"), Seq("lang", "source")))
    val saved = java.nio.file.Files.createTempDirectory("prepared_saved").toString
    built.save(saved)
    built.unpersist()
    // a loaded index's docs cache reads parquet, which stays readable
    // once the cache is gone
    val idx = SearchIndex.load(spark, saved, IndexSpec("doc_id", Seq("text"), Seq("lang", "source")))
    val expect = shapes.map(q => idx.plannedSearch(q, 10).collect().toSeq)
    shapes.foreach(q => idx.search(q, 10).collect())
    assert(org.apache.spark.sql.GraftColumnBridge.cacheOf(idx.docs).nonEmpty)
    idx.unpersist()
    val before = pinned()
    shapes.zip(expect).foreach { case (q, e) => assert(idx.search(q, 10).collect().toSeq == e) }
    assert(pinned() subsetOf before, s"pinned ${pinned() -- before} after unpersist")
    // a registry index, its docs cache dropped by the session
    val reg = SearchQueries.indexFor(spark, dir)
    val regExpect = shapes.map(q => reg.search(q, 10).collect().toSeq)
    shapes.foreach(q => reg.search(q, 10).collect())
    spark.catalog.clearCache()
    val cleared = pinned()
    shapes.zip(regExpect).foreach { case (q, e) => assert(reg.search(q, 10).collect().toSeq == e) }
    assert(pinned() subsetOf cleared, s"pinned ${pinned() -- cleared} after clearCache")
    SearchQueries.clearCache()
  }

  /** The messages `logger` logs on this thread while `body` runs. A
    * logger config of its own (DEBUG, not additive, so nothing reaches
    * the console) is in place only for the block. */
  private def logged(name: String)(body: => Unit): Seq[String] = {
    val thread = Thread.currentThread.getName
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("test-records", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getThreadName == thread) seen.add(e.getMessage.getFormattedMessage)
    }
    val ctx = LoggerContext.getContext(false)
    val config = ctx.getConfiguration
    val prior = Option(config.getLoggers.get(name))
    val counting = new LoggerConfig(name, Level.DEBUG, false)
    counting.addAppender(appender, Level.DEBUG, null)
    appender.start()
    config.addLogger(name, counting)
    ctx.updateLoggers()
    try body finally {
      config.removeLogger(name)
      prior.foreach(config.addLogger(name, _))
      ctx.updateLoggers()
      appender.stop()
    }
    seen.toArray(new Array[String](0)).toSeq
  }

  /** The indylambda closures Spark's ClosureCleaner cleans on this
    * thread while `body` runs, by implementation method name. */
  private def cleaned(body: => Unit): Seq[String] = {
    val prefix = "Cleaning indylambda closure: "
    logged("org.apache.spark.util.ClosureCleaner")(body)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
  }

  /** The whole-stage sources generated on this thread while `body`
    * runs: `WholeStageCodegenExec.doCodeGen` logs each at DEBUG. */
  private def generated(body: => Unit): Seq[String] =
    logged("org.apache.spark.sql.execution.WholeStageCodegenExec")(body)
      .filter(_.contains("generate(Object[] references)"))

  test("a bound search generates no stage source, runs no analyzer rule and cleans one closure") {
    val dir = corpusDir()
    val idx = SearchQueries.indexFor(spark, dir)
    def sql(raw: String) = spark.sql(s"SELECT * FROM graft_search('$dir', '$raw', 10)")
    // the first search of a template generates its stage once
    val first = generated(idx.search(MatchAnyTerms("text", Seq("w4")), 10).collect()).length
    assert(first == 1, s"$first sources; is the counting appender attached?")
    shapes.foreach(q => idx.search(q, 10).collect())
    sql("w4 w5").collect()
    def counted(what: String, run: => Unit): Unit = {
      var closures = Seq.empty[String]
      val sources = generated { closures = cleaned(run) }
      assert(sources.isEmpty, s"$what generated ${sources.length} stage sources")
      assert(closures.length == 1 && !closures.exists(n => n.contains("takeOrdered") ||
        n.contains("runJob") || n.contains("doExecute")), s"$what cleaned ${closures.mkString(", ")}")
    }
    shapes.foreach { q =>
      counted(s"search $q", {
        val df = idx.search(q, 10)
        val rules = df.queryExecution.tracker.rules.keys
          .filter(_.startsWith("org.apache.spark.sql.catalyst.analysis"))
        assert(rules.isEmpty, s"search $q analyzed its frame: ${rules.mkString(", ")}")
        df.collect()
      })
    }
    rawShapes.foreach(raw => counted(s"SQL '$raw'", sql(raw).collect()))
    SearchQueries.clearCache()
  }

  test("the collect merges like TakeOrderedAndProject: ties at k, no match, small k, large k, projected") {
    // 200 documents over 4 files: 4 heavy `alpha` documents, 40 tied
    // ones whose equal scores straddle k, the rest without `alpha`
    val dir = java.nio.file.Files.createTempDirectory("prepared_ties").toString
    (1 to 200).map { i =>
      val text =
        if (i % 50 == 7) "alpha alpha alpha gamma"
        else if (i % 5 == 0) "alpha beta gamma"
        else s"beta gamma ${words(i % 60)} ${words((i * 7) % 60)}"
      (i.toLong, text, Seq("en", "fr", "de")(i % 3), s"s${i % 5}", 1995 + i % 25)
    }.toDF("doc_id", "text", "lang", "source", "year").repartition(4)
      .write.parquet(s"$dir/documents.parquet")
    val idx = SearchQueries.indexFor(spark, dir)
    val tiedParts = idx.docs.where(col("doc_id") % 5 === 0)
      .select(spark_partition_id()).distinct().count()
    assert(tiedParts > 1, "the tied documents sit in one partition")
    val alpha = MatchAnyTerms("text", Seq("alpha"))
    val queries = Seq(alpha, MatchAnyTerms("text", Seq("zzz")), MatchAnyTerms("text", Seq("w3")),
      And(alpha, EqFilter("lang", "fr")))
    queries.foreach(q => idx.search(q, 10).collect())
    for (q <- queries; k <- Seq(1, 3, 4, 5, 10, 44, 45, 500)) {
      val fresh = idx.plannedSearch(q, k)
      assert(idx.search(q, k).collect().toSeq == fresh.collect().toSeq, s"$q k=$k")
      assert(idx.lightSearch(q, k).collect().toSeq == fresh.select("doc_id", "score").collect().toSeq,
        s"light $q k=$k")
      // a column set without the sort key: the plan projects after the top-k
      assert(idx.search(q, k).select("doc_id").collect().toSeq == fresh.select("doc_id").collect().toSeq,
        s"doc_id $q k=$k")
    }
    // the heavy documents, then the tied ones by ascending key
    val top10 = hits(idx.search(alpha, 10).collect()).map(_._1)
    assert(top10 == Seq(7L, 57L, 107L, 157L, 5L, 10L, 15L, 20L, 25L, 30L), top10)
    assert(idx.search(MatchAnyTerms("text", Seq("zzz")), 10).collect().isEmpty)
    for (raw <- Seq("alpha", "zzz", "alpha gamma"); k <- Seq(1, 6, 500)) {
      val got = spark.sql(s"SELECT doc_id, score FROM graft_search('$dir', '$raw', $k)").collect()
      val fresh = idx.plannedSearch(idx.constructQuery(raw, "text"), k).collect()
      assert(hits(got) == hits(fresh), s"SQL '$raw' k=$k")
    }
    SearchQueries.clearCache()
  }

  test("a docs frame with more partitions than documents: empty partitions merge to nothing") {
    val docs = (1 to 10).map(i => (i.toLong, if (i % 2 == 0) "alpha beta" else "alpha", "en"))
      .toDF("doc_id", "text", "lang").repartition(32)
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text"), Seq("lang")))
    assert(idx.docs.rdd.getNumPartitions > 10)
    val qs = Seq(MatchAnyTerms("text", Seq("alpha")), MatchAnyTerms("text", Seq("beta")),
      MatchAnyTerms("text", Seq("zzz")))
    qs.foreach(q => idx.search(q, 3).collect())
    for (q <- qs; k <- Seq(1, 3, 10, 500)) {
      val fresh = idx.plannedSearch(q, k)
      assert(idx.search(q, k).collect().toSeq == fresh.collect().toSeq, s"$q k=$k")
      assert(idx.lightSearch(q, k).collect().toSeq == fresh.select("doc_id", "score").collect().toSeq,
        s"light $q k=$k")
    }
    idx.unpersist()
  }

  test("the bound plan's scan metrics are filled by its collect") {
    val dir = corpusDir()
    val idx = SearchQueries.indexFor(spark, dir)
    shapes.foreach(q => idx.search(q, 10).collect())
    shapes.foreach { q =>
      val df = idx.search(q, 10)
      def scanned = boundOf(df).collect { case s: InMemoryTableScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
      assert(scanned == 0L)
      df.collect()
      assert(scanned == 300L, s"$q: the scan reported $scanned rows")
    }
    SearchQueries.clearCache()
  }
}
