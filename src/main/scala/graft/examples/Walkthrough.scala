package graft.examples

import graft.dsl.builders._
import graft.search.{IndexSpec, SearchIndex}
import org.apache.spark.sql.functions._

/** End-to-end walkthrough mirroring the reference's example program
  * (examples/SearchableRDDExamples.scala:12-85): parse a Wikipedia
  * dump, build a distributed index, run a top-10 search, inspect
  * index metadata and top terms, and finish with a self query-join —
  * the same five stops, Spark-first.
  *
  * Run: sbt "runMain graft.examples.Walkthrough <wiki-xml-path>"
  * (defaults to the bundled test corpus when no dump is given).
  */
object Walkthrough {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[8]"), 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // 1. corpus: a real dump if given (reference README.md:84-98),
    // otherwise the driver test corpus
    val corpus = args.headOption match {
      case Some(dump) =>
        graft.sources.WikipediaXml.readPages(spark, dump)
          .select(col("page_id").as("doc_id"), col("title"), col("text"))
      case None =>
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .select(col("doc_id"), col("text").as("title"), col("text"))
    }

    // 2. build (reference README.md:114-123): analyzed text, stored
    // title-only projection
    val idx = SearchIndex.build(corpus,
      IndexSpec("doc_id", Seq("text"), indexAnalyzer = "english",
        queryAnalyzer = "english", storedCols = Some(Seq("title"))))

    // 3. top-10 search (reference README.md:127-137). matchText runs
    // the QUERY analyzer over the text, so the terms stem the same
    // way the index did ("table" -> "tabl" matches indexed tokens).
    println("top-10 for `text matchText \"island spark table\"` (any-of, analyzed):")
    idx.search("text" matchText "island spark table", 10).show(false)

    // 4. metadata + top terms (reference SearchableRDDExamples.scala:47-66)
    println(idx.getDataAndIndicesInfo)
    println("top-10 terms by collection frequency:")
    idx.getTermCounts.orderBy(col("cf").desc, col("term")).show(10, false)

    // 5. self query-join, maxHits 5 (reference
    // SearchableRDDExamples.scala:68-74: query = title + text prefix)
    val left = idx.docs.limit(5)
    idx.queryJoin(left, "doc_id",
        array_distinct(slice(col(SearchIndex.tokensColName("text")), 1, 8)),
        "text", k = 5, excludeSelf = true, broadcastHits = true)
      .select(col("doc_id"), col("rank"), col("key"), round(col("score"), 4).as("score"))
      .orderBy("doc_id", "rank")
      .show(25, false)

    // 6. the training-data pipeline face (no reference analog): near-
    // dup pairs -> connected-component clusters -> keep one per
    // cluster, then repetition-based quality filtering. These
    // operators read a parquet corpus DIR, so this stop always runs
    // on the bundled test corpus (a user-supplied dump fed steps 1-5).
    val dir = "/root/testdata/sf0.001"
    val clusters = graft.pipeline.Dedup.clusters(spark, dir)
    val kept = graft.pipeline.Dedup.dropClusteredDuplicates(
      spark.read.parquet(s"$dir/documents.parquet"), clusters, "doc_id")
    println(s"near-dup clusters (bundled sf0.001 corpus): " +
      s"${clusters.count()} clustered docs, ${kept.count()} docs kept")
    println("most repetitive docs (top-2-gram coverage):")
    graft.pipeline.TextAnalysis.repetitionSignals(spark, dir)
      .orderBy(col("top_2gram_frac").desc).show(5, false)
    graft.pipeline.Dedup.clearCaches()

    // 7. curation before training: eval-set decontamination, language
    // rebalancing, and context-window packing
    println("train docs sharing 5-grams with the eval split:")
    graft.pipeline.Curation.decontaminate(spark, dir)
      .where(col("n_hit") > 0).show(5, false)
    val sampled = graft.pipeline.Curation.stratifiedSample(spark, dir)
    println(s"stratified sample keeps ${sampled.count()} docs")
    println("context-window packing (256-token windows):")
    graft.pipeline.Curation.packSequences(spark, dir).show(5, false)

    // 8. corpus analytics: per-doc keywords, cross-source gram
    // contamination, and unigram-LM quality scores
    println("per-document tf-idf keywords:")
    graft.pipeline.Curation.keywordsTfidf(spark, dir).show(6, false)
    println("most contaminated source pairs (shared 5-grams):")
    graft.pipeline.Curation.sourceOverlap(spark, dir)
      .orderBy(col("n_shared_grams").desc).show(5, false)
    println("rare-token soup (highest unigram neg-logprob):")
    graft.pipeline.Curation.unigramLogprob(spark, dir)
      .orderBy(col("mean_neg_logprob").desc).show(5, false)

    // 9. substring-level dedup (Lee et al. 2022): find every 8-token
    // window duplicated anywhere in the corpus, then train on the
    // corpus with those spans stripped out
    println("docs with the largest duplicated-span fraction:")
    graft.pipeline.Dedup.substringSpans(spark, dir)
      .orderBy(col("dup_frac").desc, col("doc_id")).show(5, false)
    println("cleaned corpus (duplicated spans removed):")
    graft.pipeline.Dedup.stripDuplicatedSpans(spark, dir).show(3, false)

    // 10. tokenizer training: corpus pair mining + BPE merges
    println("most frequent adjacent token pairs (BPE iteration-1 counts):")
    graft.pipeline.TextAnalysis.tokenPairStats(spark, dir).show(5, false)
    val merges = graft.pipeline.Bpe.learn(spark, dir, numMerges = 8)
    println(s"first BPE merges: ${merges.map(m => m.left + "+" + m.right).mkString(", ")}")

    // 10b. model-based filtering: a logistic quality classifier
    // trained inside the engine (decimal-exact Newton moments)
    println("trained quality classifier (score vs weak language label):")
    graft.pipeline.Curation.qualityClassifier(spark, dir)
      .orderBy(col("score").desc).show(5, false)

    // 11. selecting the training set: keep the best docs per language
    // under a token budget, then ingest-time dedup — would a stream
    // of NEW documents duplicate what we just selected?
    println("token-budget selection (best docs per lang, 500 tokens each):")
    graft.pipeline.Curation.selectBudget(spark, dir).show(5, false)
    val (bands, shingles) = graft.pipeline.Dedup.corpusLshTables(spark, dir)
    println("banded corpus index for ingest-time dedup: " +
      s"${bands.count()} band rows over ${shingles.count()} docs " +
      "(join a readStream of arriving docs against these — " +
      "EventStreams.nearDupVsCorpusStream)")
    graft.pipeline.Dedup.clearCaches()

    // 12. the crawl-side URL surface: canonicalize + dedup by URL,
    // domain quality priors, and link authority (domain- and
    // page-level PageRank, converged)
    println("URL dedup groups (canonical key, clean/dirty variants):")
    graft.pipeline.Urls.dedupByUrl(spark, dir).show(4, false)
    println("domain stats (docs, distinct pages, dup rate, degrees):")
    graft.pipeline.Urls.domainStats(spark, dir).show(4, false)
    println("domain PageRank, L1-converged:")
    graft.pipeline.Urls.domainPageRankConverged(spark, dir).show(4, false)
    graft.pipeline.Urls.clearCaches()

    // 13. the vector store: IVF-PQ build/save, encode-only append,
    // delete, and drift-triggered compaction
    val store = java.nio.file.Files.createTempDirectory("walk_pq").toString
    graft.pipeline.Similarity.savePqIndex(spark, dir, store,
      codesFilter = Some(col("vec_id") % 10 =!= 9))
    graft.pipeline.Similarity.appendToPqIndex(spark, dir, store,
      col("vec_id") % 10 === 9)
    graft.pipeline.Similarity.removeFromPqIndex(spark, store,
      col("vec_id") % 50 === 7)
    println(f"PQ store reconstruction error: " +
      f"${graft.pipeline.Similarity.pqReconstructionError(spark, dir, store)}%.4f " +
      s"(compaction ran: ${graft.pipeline.Similarity.compactPqIndex(spark, dir, store)})")
    println("ANN top-k from the persisted store:")
    graft.pipeline.Similarity.loadedIvfPqTopK(spark, dir, store).show(5, false)
    graft.pipeline.Similarity.clearCaches()

    // 14. pure SQL front door (the session was built with
    // spark.sql.extensions=graft.GraftExtensions, so thrift-server /
    // Spark Connect SQL clients would see the same functions)
    println("SQL search / batch search / search join:")
    spark.sql(s"SELECT * FROM graft_search('$dir', 'spark join', 5)").show(false)
    spark.sql(
      s"SELECT * FROM graft_batch_search('$dir', 'spark join; vector', 3)").show(false)
    spark.sql(s"SELECT * FROM graft_query_join('$dir', 10, 5, 3)").show(false)
    // the flagship join over the USER'S OWN table (TABLE form), and
    // the index's term statistics — both pure SQL
    spark.read.parquet(s"$dir/documents.parquet").limit(5)
      .selectExpr("doc_id AS qid", "text").createOrReplaceTempView("my_queries")
    spark.sql(
      s"SELECT * FROM graft_query_join('$dir', 'my_queries', 'qid', 'text', 5, 3)")
      .show(false)
    println("SQL term statistics (df / cf / global IDF):")
    spark.sql(s"SELECT * FROM graft_term_stats('$dir', 'text') ORDER BY df DESC")
      .show(5, false)
    // DataSource V2: WHERE + ORDER BY score DESC LIMIT push into the
    // index probe (EXPLAIN shows PushedFilters on the graft scan)
    println("DSv2 read with pushdown:")
    spark.read.format("graft").option("dir", dir)
      .option("query", "spark join").option("k", "5").load()
      .where(col("doc_id") > 10).show(false)

    // batch search over YOUR OWN query table (TABLE form — the query
    // text is analyzed in the plan, never collected)
    println("SQL batch search over a user query view:")
    spark.createDataFrame(Seq((0L, "spark join"), (1L, "vector")))
      .toDF("qid", "q").createOrReplaceTempView("my_batch")
    spark.sql(
      s"SELECT * FROM graft_batch_search('$dir', 'my_batch', 'qid', 'q', 3)")
      .show(false)

    // 15. vector search over YOUR OWN query table from SQL (TABLE-form
    // graft_ann: distributed probe-cell selection, no self-exclusion)
    println("SQL vector search over a user query view:")
    spark.read.parquet(s"$dir/embeddings.parquet").limit(3)
      .selectExpr("vec_id AS qid", "CAST(embedding AS ARRAY<DOUBLE>) AS qv")
      .createOrReplaceTempView("my_vectors")
    spark.sql(s"SELECT * FROM graft_ann('$dir', 'my_vectors', 'qid', 'qv', 5)")
      .show(false)
    println("IVF probe quality (recall@k vs exact top-k):")
    graft.pipeline.Similarity.ivfRecall(spark, dir).show(false)
    // ... and the PERSISTED store probed from SQL (the serving path)
    println("SQL vector search against the persisted IVF-PQ store:")
    spark.sql(s"SELECT * FROM graft_ann_store('$dir', '$store', 3, 5)")
      .show(false)

    // 16. Bloom membership: the bitset is a DataFrame; the streaming
    // probe is k stateless stream-static joins (see dedup_bloom /
    // stream_bloom_vs_corpus entries)
    println("Bloom membership (even ids = members, odd ids = perturbed):")
    graft.pipeline.Dedup.bloomMembership(spark, dir).show(6, false)

    // 17. domain mixing: natural share + uniform cap, and the
    // temperature-scaled weights between them
    println("temperature-scaled domain sampling weights:")
    graft.pipeline.Curation.domainMixture(spark, dir).show(5, false)

    idx.unpersist()
    spark.stop()
  }
}
