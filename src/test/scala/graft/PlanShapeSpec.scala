package graft

import graft.dsl.builders._
import graft.search.{IndexSpec, SearchIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards for the properties that matter at
  * cluster scale (PLANS.md). These assert on the executed plan, so a
  * refactor that silently trades a broadcast for a shuffle, or a
  * bounded top-k for a global sort, fails here instead of in
  * production explain output. */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Runs the query and returns the FINAL adaptive plan — the shape
    * AQE actually executed. Required for joins with no broadcast hint
    * (strategy is a runtime decision; initial plans show SMJ) and for
    * runtime exchange/stage reuse. collect() drives THIS DataFrame's
    * QueryExecution (a noop write would plan a separate one). */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("driver contract: flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("single-query search ends in TakeOrderedAndProject, never a global sort") {
    val corpus = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val p = plan(idx.search("text" matchTerm "beta", 5))
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(!p.contains("Exchange rangepartitioning"), p.take(400))
    idx.unpersist()
  }

  test("relational filter and projection reach the parquet scan") {
    val df = relational.RelationalQueries.queries("q2_filter_project")(spark, sf)
    val p = plan(df)
    // non-empty PushedFilters (the plan string may truncate the list)
    assert(p.contains("PushedFilters: [IsNotNull") ||
      p.contains("PushedFilters: [GreaterThanOrEqual"), p.take(600))
    assert(p.contains("GreaterThanOrEqual(l_discount"), p.take(600))
    // projection pruning: the 11-column lineitem scan reads only what
    // the query needs
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!read.contains("l_shipdate") || read.count(_ == ',') < 6, read)
  }

  test("partitioned corpus layout: lang filter becomes driver-side partition pruning") {
    val df = sources.PartitionedCorpus.docsByLang(spark, sf)
      .where(col("lang") === "en").select(col("source"), col("n_chars"))
    val p = plan(df)
    // pruning is a PartitionFilter on the scan, not a post-scan Filter
    assert(p.contains("PartitionFilters: [isnotnull(lang") ||
      p.contains("PartitionFilters: [(lang"), p.take(800))
    assert("\\(lang#\\d+ = en\\)".r.findFirstIn(p).isDefined, p.take(800))
    // the pruned scan reads only the projected data columns — text
    // stays unread, lang comes from the directory, not the file
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!read.contains("text") && !read.contains("lang"), read)
  }

  test("dimension joins broadcast instead of shuffling the fact side") {
    val p = plan(relational.RelationalQueries.queries("q4_dim_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("batch search broadcasts the query side against the postings") {
    val corpus = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val qs = Seq((0L, "text", Seq("beta"), 1)).toDF("qid", "field", "terms", "min_match")
    val p = plan(idx.batchSearch(qs, 5))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(600))
    idx.unpersist()
  }

  test("exists subquery decorrelates to a semi join") {
    val p = plan(relational.RelationalQueries.queries("q20_exists_subquery")(spark, sf))
    assert(p.contains("LeftSemi"), p.take(600))
  }

  test("decontaminate broadcasts the eval gram dictionary, semi-joins the corpus") {
    val p = plan(pipeline.Curation.decontaminate(spark, sf))
    // the corpus-side probe must be a broadcast join — a shuffled join
    // here would re-shuffle the whole corpus at 100 TB
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("stratified sampling is a pure map-side filter: no shuffle before the harness sort") {
    val df = pipeline.Curation.stratifiedSample(spark, sf)
    val p = plan(df)
    // exactly one Exchange, and it is the final orderBy's range
    // partitioning — the sampling itself must not shuffle
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), exchanges.toString)
  }

  test("split assignment and chunking are map-side: only the harness sort shuffles") {
    for (df <- Seq(pipeline.Curation.splitAssign(spark, sf),
        pipeline.Curation.chunkDocuments(spark, sf))) {
      val p = plan(df)
      val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
      assert(exchanges.forall(_.contains("rangepartitioning")), exchanges.toString)
      assert(!p.contains("Window "), p.take(400))
    }
  }

  test("collapseSearch aggregates per group, never a window over the match set") {
    import graft.dsl._
    val df = search.SearchQueries.indexFor(spark, sf)
      .collapseSearch("text" matchAny termSet("spark", "join"), "source", 10)
    val p = plan(df)
    // struct-max plans as SortAggregate; the point is the MAP-SIDE
    // partial (one row per group crosses the exchange) and the
    // bounded TakeOrderedAndProject on the group winners
    assert(p.contains("partial_max"), p.take(600))
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(!p.contains("Window "), p.take(600)) // collapse is a partial-agg, not a rank
  }

  test("filteredTopK joins on the label, never a cartesian scoring pass") {
    val p = plan(pipeline.Similarity.filteredTopK(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
    // the label equi-join materializes as a hash join on label
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(600))
  }

  test("curateManifest pays exactly the dedup hash exchange beyond the harness sort") {
    val p = plan(pipeline.Curation.curateManifest(spark, sf))
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    val hashEx = exchanges.filterNot(_.contains("rangepartitioning"))
    assert(hashEx.size == 1, exchanges.toString) // the md5(text) window
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
  }

  test("keywordsTfidf joins df stats without a forced broadcast; bounds per-doc state") {
    val df = pipeline.Curation.keywordsTfidf(spark, sf)
    // the df-side join is deliberately UNhinted (a 100 TB vocabulary
    // must not be forced through the driver, VERDICT r6) — at test
    // scale AQE still picks a broadcast because the vocab is tiny
    val p = finalPlan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // per-doc top-k is the bounded TopKAgg (ObjectHashAggregate), not
    // a window over a full sort
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "), p.take(800))
  }

  test("sourceOverlap self-joins on the gram hash, not all-pairs") {
    val p = plan(pipeline.Curation.sourceOverlap(spark, sf))
    // equi-join on g — never a cartesian/BNLJ over the corpus
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("unigramLogprob keeps the LM distributed and reuses the freq exchange") {
    val df = pipeline.Curation.unigramLogprob(spark, sf)
    val p = finalPlan(df)
    // LM join is AQE-decided (broadcast at test scale); the corpus
    // total reuses the (term, cnt) exchange instead of re-aggregating
    // the corpus — and there is no driver collect anywhere (the whole
    // computation is one plan, which this assertion inspects)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("ReusedExchange"), p.take(2000))
  }

  /** Executes the query and returns shuffleRecordsWritten per
    * exchange — the runtime evidence that a plan's shuffle volume
    * scales with the corpus, not with some squared blowup. Walks
    * through AQE wrappers and query stages. */
  private def shuffleRecords(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    df.collect()
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: ShuffleExchangeLike =>
        s.metrics.get("shuffleRecordsWritten").foreach(m => buf += m.value)
        s.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    buf.toSeq
  }

  test("curation cohort: every shuffle is bounded by the corpus token stream") {
    // grams/terms per doc are bounded by its token count, so NO
    // exchange in any curation entry may move more than ~|total
    // tokens| records — a (doc x gram) or (gram x gram) blowup
    // shuffles orders of magnitude more and fails here long before a
    // 100 TB run would
    val totalTokens = spark.read.parquet(s"$sf/documents.parquet")
      .select(sum(size(split(lower(col("text")), "[^a-z0-9]+"))))
      .head().getLong(0)
    val bound = totalTokens * 2 // partial-agg + final-agg headroom
    for ((name, fn) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "keywords_tfidf" -> (() => pipeline.Curation.keywordsTfidf(spark, sf)),
      "unigram_logprob" -> (() => pipeline.Curation.unigramLogprob(spark, sf)),
      "source_overlap" -> (() => pipeline.Curation.sourceOverlap(spark, sf)),
      "decontaminate" -> (() => pipeline.Curation.decontaminate(spark, sf)),
      "pack_sequences" -> (() => pipeline.Curation.packSequences(spark, sf)),
      "ccnet_buckets" -> (() => pipeline.Curation.ccnetBuckets(spark, sf)),
      "vocab_coverage" -> (() => pipeline.Curation.vocabCoverage(spark, sf)))) {
      val recs = shuffleRecords(fn())
      assert(recs.forall(_ <= bound),
        s"$name shuffles ${recs.max} records > bound $bound (per-exchange: $recs)")
    }
  }

  test("r7-flagged entries: shuffles token-bounded, job count bounded, no collect roundtrip") {
    // bigram_logprob / select_budget / quality_classifier /
    // dedup_winnow previously argued their scale-safety only in
    // PLANS.md prose (VERDICT r7 item 8, r8 carry-over). Enforced
    // here: (a) every exchange moves at most ~|token stream| records
    // (a (doc x gram) or LM-vocabulary blowup fails), (b) the number
    // of jobs is a small constant (a driver-batch loop over corpus
    // slices fails), (c) no LocalTableScan / Scan ExistingRDD
    // anywhere in the final plan — the in-plan fingerprint of a
    // corpus collect -> parallelize roundtrip (literals from the
    // bounded Newton/threshold aggregates are fine and do not scan).
    val totalTokens = spark.read.parquet(s"$sf/documents.parquet")
      .select(sum(size(split(lower(col("text")), "[^a-z0-9]+"))))
      .head().getLong(0)
    val bound = totalTokens * 2 // partial-agg + final-agg headroom
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((name, fn) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "bigram_logprob" -> (() => pipeline.Curation.bigramLogprob(spark, sf)),
        "select_budget" -> (() => pipeline.Curation.selectBudget(spark, sf)),
        "quality_classifier" -> (() => pipeline.Curation.qualityClassifier(spark, sf)),
        "dedup_winnow" -> (() => pipeline.Dedup.winnowPairs(spark, sf)))) {
        jobs.set(0)
        val df = fn()
        val recs = shuffleRecords(df) // runs the query
        assert(recs.forall(_ <= bound),
          s"$name shuffles above bound $bound (per-exchange: $recs)")
        // bounded driver-side orchestration: build + collect must be
        // a handful of jobs (Newton iterations, threshold walk), not
        // a per-document or per-vocabulary-slice loop
        assert(jobs.get() <= 40, s"$name launched ${jobs.get()} jobs")
        val p = df.queryExecution.executedPlan.toString
        // LocalTableScan = driver-local data (a collect roundtrip) —
        // banned everywhere. Scan ExistingRDD is EXPECTED now: the
        // registry frames these entries read are lineage-cut
        // (graft.sources.Frames — distributed localCheckpoint
        // blocks, never driver data); driver roundtrips remain
        // caught by the LocalTableScan ban plus the job bound above
        // (a per-document collect loop would blow it).
        assert(!p.contains("LocalTableScan"),
          s"$name plan contains driver-local data:\n" + p.take(1200))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bm25fSearch query path: bounded stats read, no corpus-sized job") {
    // r10 verdict item 2: BM25F must resolve whole-document df from
    // the materialized cross-field stats table (the idfFor
    // discipline), not by aggregating the corpus per call
    val idx = search.SearchQueries.xfieldIndexFor(spark, sf)
    val fields = Seq(("text", 1.0, 0.75), ("source", 2.0, 0.5))
    val first = idx.bm25fSearch(Seq("spark", "src1"), fields, 10).collect()
    // the stats frame is persisted and |vocab|-bounded (at most the
    // per-field stats row count — it aggregates them over fields)
    val x = idx.crossFieldStats
    assert(x.storageLevel.useMemory || x.storageLevel.useDisk,
      "cross-field stats must be persisted")
    assert(x.count() <= idx.stats.count(),
      "cross-field stats must be vocabulary-bounded")
    // repeat call: a handful of jobs (the |terms|-row filtered
    // collect + the scored top-k) — the old shape paid an extra
    // whole-corpus aggregation job here
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val again =
      try idx.bm25fSearch(Seq("spark", "src1"), fields, 10).collect()
      finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 4, s"bm25f repeat call launched ${jobs.get()} jobs")
    assert(again.map(_.toString).toSeq == first.map(_.toString).toSeq)
  }

  test("queryJoinAst expansion/cross-field entries: bounded jobs, no collect roundtrip") {
    // The dictionary-expansion and cross-field rewrites add joins to
    // the queryJoinAst plan; enforce that they stay fully in-plan:
    // (a) the job count is a small constant (per-shape driver loops
    // or per-pattern dictionary actions would scale with |left|),
    // (b) no collected data beyond the per-shape setup tables —
    // a LocalTableScan of left-row or corpus data is the in-plan
    // fingerprint of a collect->parallelize roundtrip.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // warm the shared index caches so build jobs don't count
    search.SearchQueries.indexFor(spark, sf).docs.count()
    search.SearchQueries.xfieldIndexFor(spark, sf).docs.count()
    spark.sparkContext.addSparkListener(listener)
    try {
      for (name <- Seq("query_join_ast", "query_join_ast_expand", "query_join_ast_xfield")) {
        jobs.set(0)
        val df = SparkEntry.queries(name)(spark, sf)
        df.collect()
        // constant per call (bounded driver actions + AQE stage
        // jobs); a per-shape or per-pattern driver loop would scale
        // with |left| into the hundreds. The impact-pruned expand
        // entry adds a bounded handful (seed top-k, threshold, the
        // once-per-index max-impact build) — still constant in |left|.
        val firstJobs = jobs.get()
        assert(firstJobs <= 80, s"$name launched $firstJobs jobs")
        // REPEAT invocation: the cross-invocation memo must serve the
        // scored frame from the cached setup (no metadata action, no
        // re-materialization of the canon/shape/doubles persists) —
        // only the probe+verify tail re-runs. Asserted through the
        // memo itself (entry count unchanged — NOT through a strict
        // job decrease: an earlier suite may already have warmed the
        // memo, making the first call here a hit too) plus a tight
        // job bound on the memoized path.
        val idx = if (name == "query_join_ast_xfield")
          search.SearchQueries.xfieldIndexFor(spark, sf)
        else search.SearchQueries.indexFor(spark, sf)
        val memoBefore = idx.astJoinMemoEntries
        jobs.set(0)
        SparkEntry.queries(name)(spark, sf).collect()
        val repeatJobs = jobs.get()
        assert(idx.astJoinMemoEntries == memoBefore,
          s"$name memo miss on repeat (entries $memoBefore -> ${idx.astJoinMemoEntries})")
        assert(repeatJobs <= 30, s"$name repeat launched $repeatJobs jobs")
        val p = df.queryExecution.executedPlan.toString
        // Two kinds of local-relation leaf are by design: fieldStatsDf
        // (per-field num_docs for the in-plan IDF join, a FIELD-COUNT-
        // sized literal) and the per-shape setup tables a call
        // collects under the broadcast gate (SearchIndex.shapeTable:
        // keyed by `sid`, one row per distinct query shape, so never
        // more rows than the join's left side — the entries' left is
        // every 10th document). Left-row or corpus data is not.
        val leftBound = idx.docs.where(col("doc_id") % 10 === 0).count()
        val scans = PlanWalk.localScans(df)
        assert(scans.exists(_.output.exists(_.name == "sid")),
          s"$name: a batch under the gate reads its shape tables as local relations")
        val offending = scans.filterNot { l =>
          val names = l.output.map(_.name)
          names.headOption.contains("field") ||
            (names.contains("sid") && l.rows.size <= leftBound)
        }
        assert(offending.isEmpty, s"$name plan contains collected data: " +
          offending.map(l => s"${l.output.mkString(", ")} (${l.rows.size} rows)")
            .mkString("; "))
        // Scan ExistingRDD is now the EXPECTED leaf for the index's
        // lineage-cut frames (SearchIndex.cutLineage — distributed
        // localCheckpoint blocks, never driver data); the old blanket
        // ban caught collect->parallelize roundtrips, which remain
        // covered by the LocalTableScan ban above plus the bounded
        // job counts (a driver roundtrip costs a collect job per
        // shape/pattern and would blow the <= 80/30 bounds).
        // Pin the r15 plan-bloat regression instead: the full plan
        // string of every query-join entry must stay far under the
        // size that OOM'd executedPlan.toString at 8g (VERDICT r15
        // #2: "a PlanShapeSpec pin that executedPlan.toString.length
        // ... stays under a fixed bound").
        assert(p.length < 2000000,
          s"$name physical plan string is ${p.length} chars — plan bloat regression")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bucketed LSH corpus joins exchange-free: only the arriving slice shuffles") {
    // the ingest-dedup joins, batch form (micro-batch planning uses
    // the same physical planner): with the corpus tables bucketed on
    // the join keys, the corpus side of BOTH joins must read
    // co-located buckets with no Exchange — only the (small) arriving
    // side shuffles, whatever the corpus size
    val (bt, st) = pipeline.Dedup.saveBucketedLshTables(
      spark, sf, "plan_shape_lsh", nBuckets = 4)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable broadcast: model the real regime where the arriving
    // slice is large enough that co-location is what saves the plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val sb = pipeline.Dedup.streamBands(docs, "text")
      val cand = sb.join(
          spark.table(bt).select(col("doc_id").as("corpus_id"), col("band"), col("bh")),
          Seq("band", "bh"))
        .where(col("corpus_id") =!= col("doc_id"))
      val out = cand.join(
          spark.table(st).select(col("doc_id").as("corpus_id"), col("ss").as("ssy")),
          Seq("corpus_id"))
      val p = plan(out)
      // both corpus scans are bucketed reads...
      assert("SelectedBucketsCount".r.findAllIn(p).size == 2 ||
        "Bucketed: true".r.findAllIn(p).size == 2, p.take(2000))
      // ...and exactly two exchanges exist: the arriving side into
      // join 1, and join 1's output re-keyed for join 2. Zero
      // exchanges sit above a corpus scan.
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("substringSpans: long-keyed equi-joins only, no strings in the gram exchange") {
    val df = pipeline.Dedup.substringSpans(spark, sf)
    val p = finalPlan(df)
    // never all-pairs over the gram stream
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the dup-window flag join is keyed on the 60-bit hash — the
    // exchanges carry (h, doc_id, pos) longs, never gram strings
    assert(p.contains("hashpartitioning(h#"), p.take(1500))
    // span merge is the per-doc interval-islands window, not a global sort
    assert(p.contains("hashpartitioning(doc_id#"), p.take(1500))
  }

  test("piiScrub is map-side only: no shuffle before the harness sort") {
    val p = plan(pipeline.Curation.piiScrub(spark, sf))
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), exchanges.toString)
  }

  test("getElements on a key-bucketed corpus prunes buckets") {
    // the reference's point lookup targets ONE partition via
    // sc.runJob (PartitionsIndexLuceneRDD.scala:403-450); our analog
    // is bucket pruning — an 8-bucket corpus keyed by doc_id must
    // scan only the buckets holding the requested keys
    val docs = (0L until 64L).map(i => (i, s"token$i body")).toDF("doc_id", "text")
    // in-memory catalog forgets the table between JVMs but leaves the
    // warehouse directory behind — clear both before recreating
    spark.sql("DROP TABLE IF EXISTS plan_shape_bucketed_corpus")
    val loc = java.nio.file.Paths.get("spark-warehouse/plan_shape_bucketed_corpus")
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    docs.write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
      .saveAsTable("plan_shape_bucketed_corpus")
    // pass-through build (StorageLevel.NONE): point-lookup
    // deployments keep the docs frame a VIEW over the bucketed table
    // so the scan retains bucket pruning — the default materialized
    // build trades that for leaf plans (SearchIndex.cutLineage)
    val idx = SearchIndex.build(
      spark.table("plan_shape_bucketed_corpus"), IndexSpec("doc_id", Seq("text")),
      org.apache.spark.storage.StorageLevel.NONE)
    // the planner's DisableUnnecessaryBucketedScan would turn the
    // bucketed read off for a bare filter (no join/agg wants the
    // distribution) and with it the pruning — pin it on, as a
    // deployment doing point lookups would
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val p = plan(idx.getElements(Seq(3L, 11L)))
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
      assert(sel.isDefined, p.take(800))
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt, sel.get.matched)
    } finally
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
  }

  test("bloom probe broadcasts the bitset; CMS estimate broadcasts the sketch") {
    // the membership/frequency sketches are tiny data-side tables —
    // their probe joins must be broadcasts (no shuffle of the probe
    // stream beyond its own aggregation), the 100 TB shape
    val pb = finalPlan(pipeline.Dedup.bloomMembership(spark, sf))
    assert(pb.contains("BroadcastHashJoin"), pb.take(800))
    assert(!pb.contains("SortMergeJoin"), pb.take(800))
    val pc = finalPlan(pipeline.TextAnalysis.cmsTermCounts(spark, sf))
    assert(pc.contains("BroadcastHashJoin"), pc.take(800))
    assert(!pc.contains("SortMergeJoin"), pc.take(800))
  }

  test("TVF results compose with ordinary SQL: join + aggregate over graft_search") {
    // the front door is a real relation: join the probe's top-k with
    // the raw corpus table and aggregate — one plan, no collect
    spark.read.parquet(s"$sf/documents.parquet")
      .createOrReplaceTempView("plan_shape_docs")
    val df = spark.sql(
      s"""SELECT d.lang, count(*) AS hits, round(avg(s.score), 3) AS avg_score
         |FROM graft_search('$sf', 'spark join', 10) s
         |JOIN plan_shape_docs d ON d.doc_id = s.doc_id
         |GROUP BY d.lang""".stripMargin)
    val p = finalPlan(df)
    assert(p.contains("GraftSearch"), p.take(600))
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == 10L)
  }

  test("query-join candidate streams are never sorted: corpus attach is shuffle-hash") {
    // The 16x scale run (SCALE.md) caught queryJoinAst sorting its
    // candidate stream — |left| x df rows, each carrying ~1KB of
    // program payload — to feed a SortMergeJoin against the corpus:
    // a 13+ GB spill from a 9 MB corpus. The fix keeps candidates
    // slim through the postings probe and attaches every wide side
    // (query program, corpus tokens) via SHUFFLE_HASH joins, which
    // stream the candidate side unsorted at any width. Pin that shape
    // for all three data-driven join families: the corpus (__doc_key)
    // join must be hash-based, never sort-merge, and no Sort may run
    // over the candidate stream's key column.
    // query_join_ast_pruned: the impact-pruned path must keep the
    // same discipline — its seed/threshold stages and the essential
    // probe all move candidates as bare (sid, key) pairs
    for (name <- Seq("query_join_ast", "query_join_bool", "query_join_phrase",
        "query_join_ast_pruned")) {
      val p = finalPlan(SparkEntry.queries(name)(spark, sf))
      assert(!"SortMergeJoin [^\\n]*__doc_key".r.findFirstIn(p).isDefined,
        s"$name sort-merges the candidate stream against the corpus:\n${p.take(1200)}")
      assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
        s"$name lost the hash-join corpus attach:\n${p.take(1200)}")
      // no Sort over the candidate stream's doc-key column (the final
      // orderBy sorts the k-bounded OUTPUT by qid/rank, never by key)
      assert(!"Sort \\[key#\\d+L ASC".r.findFirstIn(p).isDefined,
        s"$name sorts the candidate stream:\n${p.take(1200)}")
    }
  }
}

/** Walks a query's executed adaptive plan, query stages included. */
private object PlanWalk
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def localScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.LocalTableScanExec] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }
}
