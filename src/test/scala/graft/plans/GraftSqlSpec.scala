package graft.plans

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-visible search surface: graft_search must resolve as a
  * table function, plan into the fused EXPLAIN-visible probe node,
  * and return exactly the Scala API's rows. */
class GraftSqlSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("graft_search plans into one fused GraftSearch node") {
    val df = spark.sql(s"SELECT * FROM graft_search('$dir', 'spark join', 10)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftSearch"),
      s"fused probe node missing from plan:\n$plan")
    // the fused node IS the probe: no scan/sort/limit spread at the
    // top level of this plan
    assert(!plan.contains("FileScan"), s"unfused scan leaked:\n$plan")
  }

  test("SQL result rows equal the Scala API's") {
    val sql = spark.sql(
      s"SELECT doc_id, round(score, 4) AS score FROM graft_search('$dir', 'spark join', 10)")
      .as[(Long, Double)].collect().toSeq
    val idx = graft.search.SearchQueries.indexFor(spark, dir)
    val api = idx.searchRaw("spark join", 10)
      .select(col("doc_id").cast("long"), round(col("score"), 4))
      .as[(Long, Double)].collect().toSeq
    assert(sql == api)
    assert(sql.size == 10)
    // scores descend (the probe's own top-k order survives the SQL
    // front door)
    assert(sql.map(_._2) == sql.map(_._2).sorted.reverse)
  }

  test("graft_query_join plans into one fused GraftQueryJoin node") {
    val df = spark.sql(s"SELECT * FROM graft_query_join('$dir', 20, 5, 3)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftQueryJoin"),
      s"fused join node missing from plan:\n$plan")
    assert(!plan.contains("FileScan"), s"unfused scan leaked:\n$plan")
  }

  test("SQL query-join rows equal the Scala API's") {
    import graft.search.SearchIndex
    val sql = spark.sql(
      s"SELECT qid, rank, key, round(score, 4) AS score " +
        s"FROM graft_query_join('$dir', 20, 5, 3) ORDER BY qid, rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val idx = graft.search.SearchQueries.indexFor(spark, dir)
    val api = idx.queryJoin(idx.docs.where(col("doc_id") < 20), "doc_id",
        array_distinct(slice(col(SearchIndex.tokensColName("text")), 1, 5)),
        "text", k = 3, minMatch = 1, excludeSelf = true, broadcastHits = true)
      .select(col("doc_id").cast("long"), col("rank").cast("long"),
        col("key").cast("long"), round(col("score"), 4))
      .orderBy("doc_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(sql == api)
    assert(sql.nonEmpty)
  }

  test("graft_batch_search plans fused and equals the Scala batch API") {
    val df = spark.sql(
      s"SELECT * FROM graft_batch_search('$dir', 'spark join; vector', 5)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftBatchSearch"),
      s"fused batch node missing from plan:\n$plan")
    val sql = spark.sql(
      s"SELECT qid, rank, key, round(score, 4) AS score " +
        s"FROM graft_batch_search('$dir', 'spark join; vector', 5) ORDER BY qid, rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val idx = graft.search.SearchQueries.indexFor(spark, dir)
    val qdf = Seq((0L, "text", Seq("spark", "join"), 1),
      (1L, "text", Seq("vector"), 1)).toDF("qid", "field", "terms", "min_match")
    val api = idx.batchSearch(qdf, 5)
      .select(col("qid").cast("long"), col("rank").cast("long"),
        col("key").cast("long"), round(col("score"), 4))
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(sql == api)
    assert(sql.nonEmpty)
  }

  test("graft_ann plans fused and equals the Scala IVF probe") {
    val df = spark.sql(s"SELECT * FROM graft_ann('$dir', 3, 5)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftAnn"), s"fused ANN node missing:\n$plan")
    val sql = spark.sql(
      s"SELECT qid, rank, vec_id, cos FROM graft_ann('$dir', 3, 5) ORDER BY qid, rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val api = graft.pipeline.Similarity.ivfTopK(spark, dir, nQueries = 3, k = 5)
      .select(col("qid").cast("long"), col("rank").cast("long"),
        col("vec_id").cast("long"), col("cos").cast("double"))
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(sql == api)
    assert(sql.nonEmpty)
  }

  test("TABLE-form graft_batch_search equals the literal form row-for-row") {
    spark.createDataFrame(Seq((0L, "spark join"), (1L, "vector table")))
      .toDF("qid", "qtext").createOrReplaceTempView("bst_spec_queries")
    val df = spark.sql(
      s"SELECT * FROM graft_batch_search('$dir', 'bst_spec_queries', 'qid', 'qtext', 4)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftBatchSearchTable"),
      s"fused table-batch node missing from plan:\n$plan")
    assert(!plan.contains("FileScan"), s"unfused scan leaked:\n$plan")
    val table = spark.sql(
      "SELECT qid, rank, key, round(score, 4) AS score FROM " +
        s"graft_batch_search('$dir', 'bst_spec_queries', 'qid', 'qtext', 4) " +
        "ORDER BY qid, rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val literal = spark.sql(
      "SELECT qid, rank, key, round(score, 4) AS score FROM " +
        s"graft_batch_search('$dir', 'spark join; vector table', 4) " +
        "ORDER BY qid, rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(table == literal)
    assert(table.nonEmpty)
    // field + min_match thread through the TABLE form too: ALL-terms
    // results are a subset of ANY-terms
    val all = spark.sql(
      "SELECT qid, key FROM graft_batch_search(" +
        s"'$dir', 'bst_spec_queries', 'qid', 'qtext', 4, 'text', 0)")
      .as[(Long, Long)].collect().toSet
    assert(all.subsetOf(table.map(r => (r._1, r._3)).toSet))
    // bad view / column fail fast at analysis
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_batch_search('$dir', " +
        "'no_such_view_bst', 'qid', 'qtext', 4)").collect()
    }
    assert(e.getMessage.contains("no_such_view_bst"))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_batch_search('$dir', " +
        "'bst_spec_queries', 'qid', 'body', 4)").collect()
    }
    assert(e2.getMessage.contains("query_col"))
  }

  test("TABLE-form graft_ann plans fused, matches the Scala probes") {
    spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") < 4)
      .selectExpr("vec_id AS qid", "CAST(embedding AS ARRAY<DOUBLE>) AS qv")
      .createOrReplaceTempView("ann_spec_queries")
    val df = spark.sql(
      s"SELECT * FROM graft_ann('$dir', 'ann_spec_queries', 'qid', 'qv', 6)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftAnnTable"),
      s"fused table-ANN node missing from plan:\n$plan")
    assert(!plan.contains("FileScan"), s"unfused scan leaked:\n$plan")
    val sql = spark.sql(
      s"SELECT qid, rank, vec_id, cos FROM graft_ann('$dir', " +
        "'ann_spec_queries', 'qid', 'qv', 6) ORDER BY qid, rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // parity with the Scala TABLE-form API
    val api = graft.pipeline.Similarity.ivfTopKFor(spark, dir,
        spark.table("ann_spec_queries"), "qid", "qv", k = 6)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(sql == api)
    assert(sql.nonEmpty)
    // no self-exclusion: each query's own vector sits at rank 1 with
    // cos rounding to 1.0 (its assigned cell is by definition the
    // closest, hence always probed)
    val rank1 = sql.filter(_._2 == 1L)
    assert(rank1.map(r => (r._1, r._3)).toSet == (0L until 4L).map(q => (q, q)).toSet)
    assert(rank1.forall(_._4 == 1.0))
    // dropping the self rows and re-ranking reproduces the
    // corpus-prefix probe exactly (same centroids cache, same probe
    // parameters): distributed probe-cell selection == driver-side
    val deSelfed = sql.filter(r => r._1 != r._3)
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(_._2).zipWithIndex.map { case (r, i) =>
          (qid, i + 1L, r._3, r._4)
        }
      }.sortBy(r => (r._1, r._2))
    val prefix = graft.pipeline.Similarity.ivfTopK(spark, dir,
        nQueries = 4, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(deSelfed == prefix)
  }

  test("graft_ann_store probes the persisted PQ store from SQL") {
    val store = java.nio.file.Files.createTempDirectory("pq_sql").toString
    graft.pipeline.Similarity.savePqIndex(spark, dir, store)
    val df = spark.sql(
      s"SELECT * FROM graft_ann_store('$dir', '$store', 3, 5)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftAnnStore"),
      s"fused store-ANN node missing from plan:\n$plan")
    val sql = spark.sql(
      s"SELECT qid, rank, vec_id, cos FROM graft_ann_store('$dir', " +
        s"'$store', 3, 5) ORDER BY qid, rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val api = graft.pipeline.Similarity.loadedIvfPqTopK(spark, dir, store,
        nQueries = 3, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(sql == api)
    assert(sql.nonEmpty)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ann_store('$dir', '$store', 3)").collect()
    }
    assert(e.getMessage.contains("graft_ann_store"))
  }

  test("TABLE-form graft_ann fails fast on bad view / column / arity") {
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ann('$dir', 'no_such_view_ann', " +
        "'qid', 'qv', 5)").collect()
    }
    assert(e1.getMessage.contains("no_such_view_ann"),
      s"unknown-view error unhelpful: ${e1.getMessage.take(160)}")
    spark.range(3).selectExpr("id AS qid", "CAST(id AS STRING) AS body")
      .createOrReplaceTempView("ann_spec_cols")
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ann('$dir', 'ann_spec_cols', " +
        "'qid', 'qv', 5)").collect()
    }
    assert(e2.getMessage.contains("vec_col") &&
      e2.getMessage.contains("ann_spec_cols"),
      s"missing-column error unhelpful: ${e2.getMessage.take(160)}")
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ann('$dir', 'a', 'b', 'c')").collect()
    }
    assert(e3.getMessage.contains("graft_ann"),
      s"arity error unhelpful: ${e3.getMessage.take(160)}")
  }

  test("TABLE-form graft_query_join plans fused and equals the Scala path") {
    spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < 10)
      .selectExpr("doc_id + 500 AS qid", "text")
      .createOrReplaceTempView("qjt_spec_left")
    val df = spark.sql(
      s"SELECT * FROM graft_query_join('$dir', 'qjt_spec_left', 'qid', 'text', 4, 3)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftQueryJoinTable"),
      s"fused table-join node missing from plan:\n$plan")
    assert(!plan.contains("FileScan"), s"unfused scan leaked:\n$plan")
    val sql = spark.sql(
      s"SELECT qid, rank, key, round(score, 4) AS score " +
        s"FROM graft_query_join('$dir', 'qjt_spec_left', 'qid', 'text', 4, 3) " +
        "ORDER BY qid, rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val idx = graft.search.SearchQueries.indexFor(spark, dir)
    val an = graft.analysis.Analyzers(idx.spec.queryAnalyzer)
    val api = idx.queryJoin(spark.table("qjt_spec_left"), "qid",
        array_distinct(slice(an.tokensCol(col("text")), 1, 4)),
        "text", k = 3, minMatch = 1)
      .select(col("qid").cast("long"), col("rank").cast("long"),
        col("key").cast("long"), round(col("score"), 4))
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(sql == api)
    assert(sql.nonEmpty)
    // qids are the view's own (shifted), NOT corpus keys
    assert(sql.map(_._1).forall(_ >= 500))
  }

  test("TABLE-form graft_query_join fails fast on bad view / column") {
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_query_join('$dir', 'no_such_view_xyz', " +
        "'qid', 'text', 4, 3)").collect()
    }
    assert(e1.getMessage.contains("no_such_view_xyz"),
      s"unknown-view error unhelpful: ${e1.getMessage.take(160)}")
    spark.range(3).selectExpr("id AS qid", "CAST(id AS STRING) AS body")
      .createOrReplaceTempView("qjt_spec_cols")
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_query_join('$dir', 'qjt_spec_cols', " +
        "'qid', 'text', 4, 3)").collect()
    }
    assert(e2.getMessage.contains("text_col") &&
      e2.getMessage.contains("qjt_spec_cols"),
      s"missing-column error unhelpful: ${e2.getMessage.take(160)}")
  }

  test("graft_batch_search field + min_match arguments") {
    // ALL-terms mode: every hit of the 2-term ALL query must also be
    // a hit of the ANY query, and the ALL set can only shrink
    val any = spark.sql(
      s"SELECT key FROM graft_batch_search('$dir', 'spark join', 10) WHERE qid = 0")
      .as[Long].collect().toSet
    val all = spark.sql(
      s"SELECT key FROM graft_batch_search('$dir', 'spark join', 10, 'text', 0) WHERE qid = 0")
      .as[Long].collect().toSet
    assert(all.nonEmpty && all.subsetOf(any))
    // explicit field equal to the default field is a no-op
    val dflt = spark.sql(
      s"SELECT * FROM graft_batch_search('$dir', 'spark join', 5)").collect().toSeq
    val named = spark.sql(
      s"SELECT * FROM graft_batch_search('$dir', 'spark join', 5, 'text')").collect().toSeq
    assert(dflt == named)
    // an unknown field fails with the field inventory in the message
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_batch_search('$dir', 'spark', 5, 'nope')").collect()
    }
    assert(e.getMessage.contains("not an indexed text field"),
      s"bad-field error unhelpful: ${e.getMessage.take(160)}")
  }

  test("graft_term_stats plans fused and equals the Scala stats APIs") {
    val df = spark.sql(s"SELECT * FROM graft_term_stats('$dir')")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftTermStats"),
      s"fused stats node missing from plan:\n$plan")
    val sql = spark.sql(
      s"""SELECT field, term, df, cf, round(idf, 6) AS idf
         |FROM graft_term_stats('$dir') ORDER BY field, term""".stripMargin)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    val idx = graft.search.SearchQueries.indexFor(spark, dir)
    val api = idx.getTermCounts
      .join(idx.getTermIDFs, Seq("field", "term"))
      .join(idx.getTermStats.select(col("field"), col("term"), col("df")),
        Seq("field", "term"))
      .select(col("field"), col("term"), col("df").cast("long"),
        col("cf").cast("long"), round(col("idf"), 6))
      .orderBy("field", "term")
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(sql == api)
    assert(sql.nonEmpty)
    // field slice: only that field's rows, same values
    val text = spark.sql(
      s"""SELECT field, term, df, cf, round(idf, 6) AS idf
         |FROM graft_term_stats('$dir', 'text') ORDER BY term""".stripMargin)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(text == sql.filter(_._1 == "text"))
    // unknown field fails with the function's own message
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_term_stats('$dir', 'nope')").collect()
    }
    assert(e.getMessage.contains("graft_term_stats"))
  }

  test("graft_search argument validation") {
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_search('$dir', 'q')").collect()
    }
    assert(e.getMessage.contains("graft_search") ||
      e.getMessage.contains("arguments"))
  }

  test("all four table functions reject wrong arity / non-literal args") {
    // arity
    for ((fn, args) <- Seq(
      "graft_query_join" -> s"'$dir', 10, 5",
      "graft_batch_search" -> s"'$dir', 'a b'",
      "graft_ann" -> s"'$dir', 3")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM $fn($args)").collect()
      }
      assert(e.getMessage.contains(fn) || e.getMessage.contains("arguments"),
        s"$fn arity error unhelpful: ${e.getMessage.take(120)}")
    }
    // literal-only contract: an expression argument must fail at
    // resolution with the function's own message, not deep in planning
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ann('$dir', 1 + 2, 5)").collect()
    }
    assert(e2.getMessage.contains("graft_ann") ||
      e2.getMessage.contains("literal"),
      s"non-literal arg error unhelpful: ${e2.getMessage.take(120)}")
  }

  test("graft_batch_search rejects a quoted k with a targeted message") {
    // 5-arg literal-form call with k as a STRING: the arity overlaps
    // the TABLE form, which keys on the third argument's type — this
    // must NOT reroute to "queries_view does not resolve"
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_batch_search('$dir', 'spark', '5', 'text', 1)")
        .collect()
    }
    assert(e.getMessage.contains("unquoted"),
      s"quoted-k error not targeted: ${e.getMessage.take(200)}")
    assert(!e.getMessage.contains("does not resolve"),
      s"quoted-k still rerouted to the TABLE form: ${e.getMessage.take(200)}")
  }

  test("graft_ann_store calls do not clobber the harness oracle tag") {
    val store = "/tmp/graft_spec_pq_guard"
    graft.pipeline.Similarity.savePqIndex(spark, dir, store)
    // the harness records its run explicitly with (nQueries=5, k=10)
    graft.pipeline.Similarity.recordPqStoreRun(spark, store,
      "ann_store_sql_guard_tag", nQueries = 5, k = 10)
    // an unrelated SQL call with DIFFERENT parameters must not touch it
    spark.sql(s"SELECT * FROM graft_ann_store('$dir', '$store', 3, 5)")
      .collect()
    val run = graft.pipeline.Similarity
      .recordedIvfPqRun("ann_store_sql_guard_tag")
    assert(run.exists(r => r.nQueries == 5 && r.k == 10),
      s"recorded run clobbered or missing: $run")
  }
}
