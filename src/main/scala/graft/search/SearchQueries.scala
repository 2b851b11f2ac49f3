package graft.search

import graft.dsl._
import graft.dsl.builders._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkEntry query entries for the search surface (SURVEY §2.2/§2.3),
  * each with a DuckDB oracle that recomputes BM25 from first
  * principles over the same tokenization
  * (`lower` + split `[^a-z0-9]+`), so score values hash-match.
  *
  * The SearchIndex for a given sf dir is built once and cached
  * (build-once / query-many, like the reference's persisted
  * SearchableRDD); Verify/Bench invoke many entries against the same
  * corpus.
  */
object SearchQueries {

  private val K1 = 1.2
  private val B = 0.75

  private val spec = IndexSpec(
    keyCol = "doc_id",
    textFields = Seq("text"),
    keywordFields = Seq("lang", "source"),
    similarity = BM25(K1, B))

  /** Build-once index registry; every lookup re-checks the corpus
    * dir's content signature ([[graft.sources.CorpusRegistry]]), so
    * an in-place-rewritten corpus triggers an index rebuild instead
    * of silently serving the stale artifacts. */
  private val cache =
    new graft.sources.CorpusRegistry[SearchIndex](_.unpersist(blocking = true))

  /** Releases every cached index (docs + postings + stats persists).
    * Also used by Bench to bound peak pinned storage between
    * sections. */
  def clearCache(): Unit = cache.clear()

  /** The corpus read PINNED to its current data-file set (explicit
    * leaf paths, not the directory). Spark's parquet insert command
    * refreshes every cached plan rooted under the written DIRECTORY
    * (`refreshByPath`), so a directory-rooted index whose frames
    * materialize after an in-place append silently re-lists the
    * grown corpus — inside an incremental merge that double-counts
    * the appended batch (df summed once from the refreshed base and
    * once from the delta; negative IDFs follow). Explicit file roots
    * re-list to themselves, so the index keeps describing the corpus
    * AS OF ITS BUILD, which is what the registry's signature key
    * asserts it does. Falls back to the directory read when the
    * listing is empty (missing dir — let the read raise the standard
    * error). */
  private[graft] def snapshotDocs(spark: SparkSession, dir: String) = {
    val files = graft.sources.CorpusRegistry.dataFiles(s"$dir/documents.parquet")
    if (files.isEmpty) spark.read.parquet(s"$dir/documents.parquet")
    else spark.read.parquet(files: _*)
  }

  // The default index of a corpus directory, built once and shared
  // by the SQL table functions and Scala callers; query-join behavior
  // (exact unless a call asks for impactPruning) is per call, never
  // per index.
  def indexFor(spark: SparkSession, dir: String): SearchIndex =
    cache.get(dir) {
      SearchIndex.build(snapshotDocs(spark, dir), spec)
    }

  /** Incremental-maintenance hook for the DSv2 append path: when a
    * live default index exists for `dir` AND it described the corpus
    * exactly as it stood before the write (`preTag`), merge ONLY the
    * newly-written files in via [[SearchIndex.addDocuments]] — the
    * delta build tokenizes just the appended batch, and the merged
    * index scores bit-identically to a fresh build of the union — and
    * re-key the cache at the post-write signature so the next read
    * serves it. At 100 TB this is the difference between analyzing a
    * day's crawl and re-tokenizing the archive on every INSERT.
    * Returns true when the in-place merge happened; false falls back
    * to the ordinary evict-and-rebuild staleness path (no index yet,
    * or an external mutation intervened — then a full rebuild is the
    * only safe answer). */
  def appendedToCorpus(spark: SparkSession, dir: String, preTag: String,
      newFiles: Seq[String]): Boolean =
    newFiles.nonEmpty && cache.refreshIfCurrent(dir, "", preTag,
        graft.sources.CorpusRegistry.signature(dir)) { idx =>
      // the lineage-tracking overload: the delta stays persisted and
      // the merged index records (base, delta) as parents, so the
      // registry's eventual evict cascades the unpersist correctly
      idx.addDocuments(spark.read.parquet(newFiles: _*),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Two-text-field index (text + source as TEXT) for the
    * cross-field query-join entry: "source" is analyzed like any
    * text field (its single token is the value), so secondary-field
    * leaves score with tf/dl/avgdl of the source field. */
  def xfieldIndexFor(spark: SparkSession, dir: String): SearchIndex =
    cache.get(dir, "xfield") {
      SearchIndex.build(snapshotDocs(spark, dir),
        IndexSpec(keyCol = "doc_id", textFields = Seq("text", "source"),
          keywordFields = Seq("lang"), similarity = BM25(K1, B),
          // non-default pluggable constructor: raw strings become a
          // best-fields dis-max over text^1 + source^2 (tie 0.2) —
          // the search_constructor entry exercises it via searchRaw
          queryConstructor = Some(graft.dsl.MultiFieldQueryConstructor(
            Seq("text" -> 1.0, "source" -> 2.0), 0.2))))
    }

  /** Incrementally-maintained index: built on 90% of the corpus
    * (doc_id % 10 != 9), the last tenth ADDED via
    * [[SearchIndex.addDocuments]], every 7th doc REMOVED via
    * [[SearchIndex.removeDocuments]] — only the added slice is ever
    * re-analyzed, yet the final index must score EXACTLY like a fresh
    * build over the survivor corpus (doc_id % 7 != 0), which is what
    * the oracle searches directly. */
  def incrementalIndexFor(spark: SparkSession, dir: String): SearchIndex =
    cache.get(dir, "incremental") {
      {
      val docs = snapshotDocs(spark, dir)
      SearchIndex.build(docs.where(col("doc_id") % 10 =!= 9), spec)
        .addDocuments(docs.where(col("doc_id") % 10 === 9))
        .removeDocuments(docs.where(col("doc_id") % 7 === 0).select("doc_id"))
      }
    }

  /** English-analyzer (stop + Porter) index over the same corpus —
    * exercises the full analyzer pipeline end-to-end. No SQL oracle
    * (stemming is not DuckDB-expressible), so its entry gets the
    * driver's rows-only check; semantics are covered by
    * AnalyzersSpec/PorterStemmerSpec goldens. */
  def englishIndexFor(spark: SparkSession, dir: String): SearchIndex =
    cache.get(dir, "english") {
      SearchIndex.build(snapshotDocs(spark, dir),
        spec.copy(indexAnalyzer = "english", queryAnalyzer = "english"))
    }

  /** Index exercising two more spec dimensions over the same corpus:
    *  - index-/query-analyzer SPLIT (reference LuceneConfig.scala:
    *    20-52): standard index tokens, english query analysis — a
    *    stemmed query term ("Sparks" -> "spark") hits the unstemmed
    *    corpus token, which is exactly what the split is for
    *    (normalize queries harder than documents);
    *  - a derived NULLABLE keyword field `src_opt` (null iff the
    *    source name is 4 chars, i.e. src0..src9) so exists/missing
    *    filters are non-trivially oracle-checked — the driver corpus
    *    has no natural nulls. */
  def splitIndexFor(spark: SparkSession, dir: String): SearchIndex =
    cache.get(dir, "split") {
      {
      val corpus = snapshotDocs(spark, dir)
        .withColumn("src_opt",
          when(length(col("source")) === 4, lit(null).cast("string"))
            .otherwise(col("source")))
      SearchIndex.build(corpus,
        spec.copy(keywordFields = Seq("lang", "source", "src_opt"),
          queryAnalyzer = "english"))
      }
    }

  /** No-positions index (reference NoPositionsTextField): token
    * arrays dropped after the postings build; flat term queries run
    * through the postings probe, phrase queries throw. */
  def noPositionsIndexFor(spark: SparkSession, dir: String): SearchIndex =
    cache.get(dir, "nopos") {
      SearchIndex.build(snapshotDocs(spark, dir),
        spec.copy(storePositions = false))
    }

  /** save()/load() round-trip of the default index (reference analog:
    * saveAsObjectFile + reload, examples/StoreableExample.scala:22-30):
    * queries against the reloaded artifacts must match the
    * from-scratch build — which the shared oracle asserts. */
  def reloadedIndexFor(spark: SparkSession, dir: String): SearchIndex =
    cache.get(dir, "reload") {
      val path = s"/tmp/graft_index_${Integer.toHexString(dir.hashCode)}"
      indexFor(spark, dir).save(path)
      SearchIndex.load(spark, path, spec)
    }

  private def topkOut(df: DataFrame): DataFrame =
    df.select(col("doc_id"), round(col("score"), 4).as("score"))

  // ------------------------------------------------------------------
  // oracle SQL generation
  // ------------------------------------------------------------------

  /** Tokenization + corpus stats CTE prefix shared by all oracles. */
  private val toksCte =
    """WITH toks AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tokens
      |  FROM documents
      |), st AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks)""".stripMargin

  private def tfSql(term: String) = s"len(list_filter(tokens, x -> x = '$term'))"
  private def dfSql(term: String) =
    s"(SELECT count(*) FROM toks WHERE list_contains(tokens, '$term'))"
  private def idfSql(dfExpr: String) = s"ln(1 + (n - $dfExpr + 0.5) / ($dfExpr + 0.5))"
  private def bm25Sql(tf: String, idf: String, k1: Double = K1, b: Double = B) =
    s"CASE WHEN $tf > 0 THEN $idf * ($tf * ${k1 + 1.0}) / ($tf + $k1 * (${1.0 - b} + $b * dl / avgdl)) ELSE 0.0 END"
  private def tfidfSql(tf: String, idf: String) =
    s"CASE WHEN $tf > 0 THEN sqrt($tf) * ($idf * $idf) / sqrt(dl) ELSE 0.0 END"

  /** Oracle for a flat term query over `text`: per-term score columns
    * summed in fixed order (matching the Spark expression's
    * left-to-right association), semantics by matched-term count. */
  private def termQueryOracle(terms: Seq[String], minMatch: Int, k: Int,
      extraWhere: String = "", extraScore: String = "",
      scoreFn: (String, String) => String = (tf, idf) => bm25Sql(tf, idf),
      exposeRaw: Boolean = false, prefix: String = toksCte,
      semOverride: Option[String] = None,
      weights: Seq[Double] = Nil,
      offset: Int = 0): String = {
    val tfCols = terms.zipWithIndex
      .map { case (t, i) => s"${tfSql(t)} AS tf_$i" }.mkString(",\n    ")
    val dfCols = terms.zipWithIndex
      .map { case (t, i) => s"${dfSql(t)} AS df_$i" }.mkString(",\n    ")
    val scoreSum = terms.indices
      .map { i =>
        val s = scoreFn(s"tf_$i", idfSql(s"df_$i"))
        val w = if (weights.isEmpty) 1.0 else weights(i)
        if (w == 1.0) s else s"$w * ($s)" // `term^w` boost
      }.mkString(" + ")
    val nm = terms.indices.map(i => s"(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    val sem = semOverride.getOrElse(
      if (minMatch <= 0) s"nm = ${terms.size}"
      else s"nm >= $minMatch")
    s"""$prefix,
       |dfs AS (
       |  SELECT
       |    $dfCols
       |  FROM (SELECT 1)
       |), scored AS (
       |  SELECT t.doc_id, t.lang, t.source, t.n_chars, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
       |    $tfCols
       |  FROM toks t, st, dfs
       |), s2 AS (
       |  SELECT *, $scoreSum $extraScore AS score, $nm AS nm
       |  FROM scored
       |)
       |SELECT doc_id,${if (exposeRaw) " score AS raw_score," else ""} round(score, 4) AS score FROM s2
       |WHERE $sem$extraWhere
       |ORDER BY s2.score DESC, doc_id
       |LIMIT $k${if (offset > 0) s" OFFSET $offset" else ""}""".stripMargin
  }

  // ------------------------------------------------------------------
  // entries
  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // single-term BM25 top-k (the README's flagship shape,
    // reference README.md:127-137)
    "search_topk" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text" matchAny termSet("spark"), 10))),

    // multi-term OR
    "search_any" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text" matchAny termSet("spark", "join", "window"), 10))),

    // synonym group scored as ONE pseudo-term (Lucene SynonymQuery):
    // tf summed across variants, idf of the most frequent variant
    "search_synonyms" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text" matchSynonyms termSet("row", "line"), 10))),

    // disjunction-max: best clause + 0.3 x the others ("best fields")
    "search_dismax" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(DisMax(Seq(
        "text" matchTerm "spark",
        "text" matchTerm "window",
        "text" matchAll termSet("join", "merge")), 0.3), 10))),

    // constant-score wrapper: matching docs score a flat 2.5
    "search_const_score" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(ConstScore(
        And("text" matchTerm "spark", "n_chars" gt 300L), 2.5), 10))),

    // Lucene IndexSearcher.explain surface: per-(hit, matched term)
    // score breakdown for the top-10 of a two-term OR; contributions
    // must sum to the hit's total (same columns the scan path
    // compiles, just not collapsed), exploded AFTER the k-row limit
    "search_explain" -> ((s, dir) =>
      indexFor(s, dir).explainTerms("text", Seq("spark", "join"), 10)
        .select(col("key").as("doc_id"), round(col("score"), 4).as("score"),
          col("term"), col("tf"), col("df"), round(col("idf"), 4).as("idf"),
          round(col("contribution"), 4).as("contribution"))
        .orderBy("doc_id", "term")),

    // getConfigInfo through the gate (reference getConfigInfo,
    // PartitionsIndexLuceneRDD.scala:537-566): the entry PARSES the
    // debug string back into fields, so the oracle pins both the
    // method and the configuration it reports
    "config_info" -> ((s, dir) => {
      import s.implicits._
      val info = indexFor(s, dir).getConfigInfo
      def part(re: String): String =
        re.r.findFirstMatchIn(info).map(_.group(1)).getOrElse("")
      Seq((part("key=([^,)]+)"), part("textFields=([^,)]+)"),
        part("keywordFields=(.*?), indexAnalyzer"),
        part("indexAnalyzer=([^,)]+)"), part("queryAnalyzer=([^,)]+)"),
        part("similarity=(BM25\\([^)]*\\)|TFIDF)"), part("layout=([^,)]+)")))
        .toDF("key_col", "text_fields", "keyword_fields",
          "index_analyzer", "query_analyzer", "similarity", "layout")
    }),

    // BM25F multi-field ranking (Robertson & Zaragoza 2009 §3.3 /
    // Lucene BM25FQuery): weighted per-field tf accumulated ACROSS
    // fields BEFORE one shared saturation — text^1 (b=0.75) +
    // source^2 (b=0.5), whole-document idf
    "search_bm25f" -> ((s, dir) =>
      topkOut(xfieldIndexFor(s, dir).bm25fSearch(Seq("spark", "src1"),
        Seq(("text", 1.0, 0.75), ("source", 2.0, 0.5)), 10))),

    // SQL-visible search surface: the flagship probe through the
    // graft_search TABLE function (GraftSearchPlan) — pure SQL, no
    // Scala API; the plan is the fused EXPLAIN-visible GraftSearch
    // node (asserted in GraftSqlSpec), executing the same cached
    // index the Scala entries share
    "search_sql" -> ((s, dir) =>
      s.sql("SELECT doc_id, round(score, 4) AS score " +
        s"FROM graft_search('$dir', 'spark join', 10)")),

    // the stats family (getTermCounts/getTermIDFs/getDocumentCounts)
    // from pure SQL: one vocabulary-bounded (field, term, df, cf,
    // idf) table through the fused GraftTermStats node
    "term_stats_sql" -> ((s, dir) =>
      s.sql("SELECT field, term, df, cf, round(idf, 6) AS idf " +
        s"FROM graft_term_stats('$dir') ORDER BY field, term")),

    // the flagship search JOIN from pure SQL: graft_query_join plans
    // into the fused GraftQueryJoin node (GraftSqlSpec pins the
    // EXPLAIN) and must hash-match the Scala path's query_join
    // oracle — same left (doc_id < 20), same first-5-distinct-terms
    // generator, same k/minMatch/self-exclusion
    "query_join_sql" -> ((s, dir) =>
      s.sql("SELECT qid AS doc_id, rank, key, round(score, 4) AS score " +
        s"FROM graft_query_join('$dir', 20, 5, 3) ORDER BY doc_id, rank")),

    // batch search from pure SQL: three positional queries through the
    // fused GraftBatchSearch node; oracle is the batchOracle shape
    // with the same (qid, term) table
    "batch_search_sql" -> ((s, dir) =>
      s.sql("SELECT qid, rank, key, round(score, 4) AS score " +
        s"FROM graft_batch_search('$dir', 'spark join; window batch; vector', 5) " +
        "ORDER BY qid, rank")),
    // the TABLE form over a user view of (qid, query text) rows —
    // same queries as the literal entry, so the oracle is shared by
    // construction; the query side is analyzed in the plan, never
    // collected
    "batch_search_sql_table" -> ((s, dir) => {
      import s.implicits._
      Seq((0L, "spark join"), (1L, "window batch"), (2L, "vector"))
        .toDF("qid", "q").createOrReplaceTempView("graft_batch_queries")
      s.sql("SELECT qid, rank, key, round(score, 4) AS score " +
        s"FROM graft_batch_search('$dir', 'graft_batch_queries', 'qid', 'q', 5) " +
        "ORDER BY qid, rank")
    }),

    // DataSource V2 front door: spark.read.format("graft") — WHERE
    // clauses on keyword/numeric columns push INTO the index probe
    // (top-k OF the filtered set; GraftDsv2Spec pins PushedFilters in
    // EXPLAIN), so the result must equal search_filtered's oracle
    "search_dsv2" -> ((s, dir) =>
      s.read.format("graft")
        .option("dir", dir).option("query", "spark join").option("k", "10")
        .load()
        .where(col("lang") === "en" && col("n_chars").between(100L, 400L))
        .select(col("doc_id"), round(col("score"), 4).as("score"))),

    // ORDER BY score DESC LIMIT n over a wider relation collapses
    // into the probe's own k (SupportsPushDownTopN, FULL pushdown —
    // GraftDsv2Spec pins the Sort-free plan with k=10): top-10 of a
    // k=50 relation IS the global top-10
    "search_dsv2_topn" -> ((s, dir) =>
      s.read.format("graft")
        .option("dir", dir).option("query", "spark join").option("k", "50")
        .load()
        .orderBy(col("score").desc).limit(10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),

    // the CATALOG path: CREATE TABLE ... USING graft, then plain SQL
    // over the table name — WHERE still pushes into the probe through
    // the catalog-resolved relation (same oracle as search_dsv2)
    "search_dsv2_ddl" -> ((s, dir) => {
      s.sql("DROP TABLE IF EXISTS graft_entry_hits")
      s.sql(s"CREATE TABLE graft_entry_hits USING graft " +
        s"OPTIONS (dir '$dir', query 'spark join', k '10')")
      s.sql("SELECT doc_id, round(score, 4) AS score FROM graft_entry_hits " +
        "WHERE lang = 'en' AND n_chars BETWEEN 100 AND 400")
    }),

    // the WRITE side of the front door: the corpus round-trips
    // through df.write.format("graft") (V1 insert fallback — a
    // distributed parquet job), and a read over the written dir
    // rebuilds the index (content-signature registry) and must land
    // on the source corpus' own top-k answers
    "search_dsv2_write" -> ((s, dir) => {
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_dsv2_write_${new java.io.File(dir).getName}").getAbsolutePath
      s.read.parquet(s"$dir/documents.parquet").write.format("graft")
        .option("dir", out).mode("overwrite").save()
      s.read.format("graft")
        .option("dir", out).option("query", "spark join").option("k", "10")
        .load()
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),

    // the TABLE form of the SQL join — the reference's PRIMARY shape
    // (queryJoin(other, ...), SearchableRDD.scala:257) from pure SQL:
    // the left side is the user's OWN registered view (here: shifted
    // qids over a doc slice, proving the qid is opaque — no key
    // aliasing, no self-exclusion), resolved by name at analysis time
    "query_join_sql_table" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 15)
        .selectExpr("doc_id + 1000 AS qid", "text")
        .createOrReplaceTempView("graft_qj_left")
      s.sql("SELECT qid, rank, key, round(score, 4) AS score " +
        s"FROM graft_query_join('$dir', 'graft_qj_left', 'qid', 'text', 4, 3) " +
        "ORDER BY qid, rank")
    }),

    // the TABLE-form SQL join with impact_pruning=1 — the MaxScore
    // pipeline through the pure-SQL front door (9th TVF argument):
    // same left, same oracle as query_join_sql_table, so a hash match
    // proves the SQL flag is result-invisible too
    "query_join_sql_pruned_table" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 15)
        .selectExpr("doc_id + 1000 AS qid", "text")
        .createOrReplaceTempView("graft_qjp_left")
      s.sql("SELECT qid, rank, key, round(score, 4) AS score " +
        s"FROM graft_query_join('$dir', 'graft_qjp_left', 'qid', 'text', 4, 3, " +
        "'text', 1, 1) ORDER BY qid, rank")
    }),

    // batch search from SQL with explicit field selection + ALL-terms
    // mode (min_match 0) — the Scala batchSearch surface's remaining
    // knobs through the TVF
    "batch_search_sql_field" -> ((s, dir) =>
      s.sql("SELECT qid, rank, key, round(score, 4) AS score " +
        s"FROM graft_batch_search('$dir', 'spark join; window batch; vector stream', 5, 'text', 0) " +
        "ORDER BY qid, rank")),

    // pluggable QueryConstructor (reference QueryConstructor.scala:
    // 7-10): the raw string "spark src1" routed through the xfield
    // index's spec-configured MultiFieldQueryConstructor — parsed
    // once per field and combined best-fields (dis-max, text^1
    // source^2, tie 0.2), so a doc from source src1 scores the
    // boosted source idf while text matches ride the text leg
    "search_constructor" -> ((s, dir) =>
      topkOut(xfieldIndexFor(s, dir).searchRaw("spark src1", 10))),

    // field-value-factor function scoring: relevance x length signal
    "search_function_score" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(FunctionScore(
        "text" matchAny termSet("spark", "join"), "n_chars", 0.1), 10))),

    // boosting/demotion: docs also mentioning "window" rank x0.4
    "search_demote" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(Demote(
        "text" matchAny termSet("spark", "join"),
        "text" matchTerm "window", 0.4), 10))),

    // all terms required
    "search_all" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text" matchAllText "spark join", 10))),

    // at least 2 of 3
    "search_min2" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text".matchMin(2, termSet("spark", "join", "window")), 10))),

    // positional phrase
    "search_phrase" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text" matchPhrase "batch batch", 10))),

    // sloppy phrase via the parser's `~N` syntax: terms in order
    // within 2 extra positions; tf counts start positions
    "search_phrase_slop" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(
        "text" parseQuery "\"batch join\"~2", 10))),

    // scored text match AND'd with non-scoring filters (Occur.FILTER
    // discipline: score must equal the unfiltered text score)
    "search_filtered" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(
        ("text" matchAny termSet("spark", "join")) &&
          ("lang" === "en") && ("n_chars" in range(100L, 400L)), 10))),

    // keyword-field scoring: MatchTerm on an un-analyzed field
    "search_keyword" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(
        ("lang" matchTerm "fr") && ("text" matchAny termSet("vector")), 10))),

    // negation: all && not(term) — constant score 1.0
    "search_negated" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(all && Not("text" matchTerm "spark"), 20))),

    // mini query-parser syntax: +required optional -excluded
    "search_raw" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text" parseQuery "+spark join -window", 10))),

    // QueryParser boolean grammar: parentheses + AND/OR keywords.
    // Scoring note: every matched term contributes score mass (an
    // unmatched AND branch's matched term still scores under the OR —
    // our Or sums each side's self-gated score), and the oracle
    // mirrors exactly that
    "search_raw_bool" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(
        "text" parseQuery "(spark AND join) OR window", 10))),

    // QueryParser field scoping: `lang:fr` targets the keyword field;
    // compiles to the same AST as the explicit-builder search_keyword
    "search_raw_field" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text" parseQuery "+lang:fr +vector", 10))),

    // QueryParser boosts: `term^w` scales the clause's score mass
    // without changing the match set
    "search_boosted" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(
        "text" parseQuery "spark^2 join^0.5 window", 10))),

    // QueryParser wildcards: dictionary expansion + constant-score
    // rewrite (s*a* → scan/small/spark/stream, jo?n → join); each
    // matched wildcard clause contributes exactly 1.0
    "search_wildcard" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text" parseQuery "s*a* jo?n", 10))),

    // QueryParser fuzzy: required `spakr~2` expands to dictionary
    // terms within Levenshtein 2 (constant score), plus an optional
    // scoring term
    "search_fuzzy" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text" parseQuery "+spakr~2 window", 10))),

    // QueryParser regex `/re/`: anchored dictionary expansion
    // (s.a(n|rk) → scan/spark), constant score per matched clause,
    // plus an optional scoring term for rank diversity
    "search_regex" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text" parseQuery "/s.a(n|rk)/ merge", 10))),

    // Lucene-ONLY RegExp dialect (RegexpQuery's RegExp class, not
    // Java regex): top-level intersection of a complement and a
    // containment with a quoted literal —
    // ~("spark"|d.*) & .*a.*  ⇒  dictionary terms containing 'a'
    // that are neither exactly "spark" nor d-prefixed. Exercises
    // ~, &, "...", grouping and union through LuceneRegex.translate;
    // same constant-score + scoring-term shape as search_regex
    "search_regex_lucene" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(
        "text" parseQuery "/~(\"spark\"|d.*)&.*a.*/ merge", 10))),

    // QueryParser range syntax with mixed bounds: [inclusive TO
    // exclusive} on a numeric doc field, as a required non-scoring
    // clause beside a required scored term
    "search_range_syntax" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(
        "text" parseQuery "+group +n_chars:[200 TO 480}", 10))),

    // ids-only light search
    "search_light" -> ((s, dir) =>
      indexFor(s, dir).lightSearch("text" matchAny termSet("stream"), 10)
        .select(col("doc_id"), round(col("score"), 4).as("score"))),

    // projection-transformer search
    "search_transform" -> ((s, dir) =>
      indexFor(s, dir)
        .searchWithResultsTransformer("text" matchAny termSet("hash"), 10,
          col("doc_id"), col("lang"), col("n_chars"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("score"), 4).as("score"))),

    // english-analyzer pipeline end-to-end (stems + stopwords; the
    // query text "sparks joining windows" matches stemmed corpus
    // tokens). DuckDB has no Porter stemmer (fts extension is not
    // installable offline), so the oracle is generated at entry time
    // from a (term -> stem) dictionary: the corpus vocabulary run
    // through the repo's PorterStemmer — itself pinned by the
    // published Porter test vocabulary in PorterStemmerSpec — which
    // verifies the whole pipeline downstream of the stemmer with the
    // stemmer independently gold-checked (same capture pattern as
    // ann_ivf's centroids).
    "search_stemmed" -> ((s, dir) => {
      captureStemDict(s, dir)
      topkOut(englishIndexFor(s, dir)
        .search("text" matchText "sparks joining windows", 10))
    }),

    // classic TF-IDF scoring mode on the same index artifacts
    "search_tfidf" -> ((s, dir) =>
      topkOut(indexFor(s, dir).withSimilarity(TFIDF())
        .search("text" matchAny termSet("spark", "join"), 10))),

    // configurable BM25 parameters (reference
    // ConfigurableBM25Similarity(k1,b))
    "search_bm25_tuned" -> ((s, dir) =>
      topkOut(indexFor(s, dir).withSimilarity(BM25(1.5, 0.3))
        .search("text" matchAny termSet("stream", "batch"), 10))),

    // point lookup
    "get_elements" -> ((s, dir) =>
      indexFor(s, dir).getElements(Seq(1L, 5L, 10L, 100L))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // corpus statistics
    "doc_counts" -> ((s, dir) =>
      indexFor(s, dir).getDocumentCounts.orderBy("field")),

    "term_counts" -> ((s, dir) =>
      indexFor(s, dir).getTermCounts.orderBy("field", "term")),

    // did-you-mean: top-3 dictionary terms within 2 edits per input
    "search_suggest" -> ((s, dir) =>
      indexFor(s, dir).suggest(Seq("spak", "windoww", "qury"), "text")),

    "term_idfs" -> ((s, dir) =>
      indexFor(s, dir).getTermIDFs
        .select(col("field"), col("term"), round(col("idf"), 6).as("idf"))
        .orderBy("field", "term")),

    "indices_info" -> ((s, dir) =>
      indexFor(s, dir).getIndicesInfo.orderBy("field")),

    // batch search: 4 queries in one postings pass + bounded topk_agg
    "batch_search" -> ((s, dir) =>
      runBatch(indexFor(s, dir), s)),

    // same batch under the broadcast index layout (§1.4c): postings
    // ship to the query side, no shuffle of either input — identical
    // results by construction, asserted by sharing batch_search's
    // oracle
    "batch_search_broadcast" -> ((s, dir) =>
      runBatch(indexFor(s, dir).withLayout(BroadcastIndex), s)),

    // DSL Or node: two MatchTerm children, either side matches,
    // matching sides' scores sum
    "search_or" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(
        ("text" matchTerm "filter") || ("text" matchTerm "scan"), 10))),

    // MatchText: query-time analysis (lowercase+split) of free text,
    // OR over produced terms
    "search_text" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text" matchText "Query TABLE", 10))),

    // gt/ge/lt/le comparison filters, all four in one conjunction
    // (non-scoring: score must equal the bare term query's)
    "search_cmp_filters" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(
        ("text" matchAny termSet("group")) &&
          ("n_chars" gt 150L) && ("n_chars" ge 200L) &&
          ("n_chars" lt 520L) && ("n_chars" le 480L), 10))),

    // valueSet membership filter
    "search_value_set" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search(
        ("source" in valueSet("src1", "src3", "src5")) &&
          ("text" matchAny termSet("data")), 10))),

    // exists filter over the derived nullable keyword field
    // (src_opt is null iff source is 4 chars — see splitIndexFor)
    "search_exists" -> ((s, dir) =>
      topkOut(splitIndexFor(s, dir).search(
        builders.exists("src_opt") && ("text" matchAny termSet("row")), 10))),

    // missing filter, same nullable field, complementary predicate
    "search_missing" -> ((s, dir) =>
      topkOut(splitIndexFor(s, dir).search(
        missing("src_opt") && ("text" matchAny termSet("key")), 10))),

    // index-/query-analyzer split: english query analysis stems
    // "Sparks joining" -> [spark, join], hitting the standard-analyzed
    // corpus tokens — scores equal the plain two-term query's
    "search_analyzer_split" -> ((s, dir) =>
      topkOut(splitIndexFor(s, dir).search(
        "text" matchText "Sparks joining", 10))),

    // save()/load() persistence round-trip: query the RELOADED index
    "search_reloaded" -> ((s, dir) =>
      topkOut(reloadedIndexFor(s, dir).search(
        "text".matchMin(1, termSet("column", "value")), 10))),

    // no-positions index: same flat query, postings-probe execution,
    // scores must equal the positional scan path's (2-term sums are
    // association-exact)
    "search_no_positions" -> ((s, dir) =>
      topkOut(noPositionsIndexFor(s, dir).search(
        "text" matchAny termSet("spark", "join"), 10))),

    // incrementally-maintained index (build 90% + add 10% - remove
    // every 7th): must score exactly like a fresh build of the
    // survivor corpus, which is what the oracle searches
    "search_incremental" -> ((s, dir) =>
      topkOut(incrementalIndexFor(s, dir).search(
        "text".matchMin(1, termSet("window", "merge")), 10))),

    // unordered proximity (SpanNear inOrder=false): sort/hash within
    // 3 positions, either order; tf = proximity pair count
    "search_near" -> ((s, dir) =>
      topkOut(indexFor(s, dir).search("text".matchNear("sort", "hash", 3), 10))),

    // faceted counts over the FULL match set (Lucene/Solr faceting):
    // one scan, one shuffle, counts per keyword-field value
    "search_facets" -> ((s, dir) =>
      indexFor(s, dir)
        .facetCounts("text" matchAny termSet("spark", "join"), Seq("lang", "source"))
        .orderBy("facet", "value")),

    // field collapsing: at most one (best) hit per source
    "search_collapsed" -> ((s, dir) =>
      indexFor(s, dir)
        .collapseSearch("text" matchAny termSet("spark", "join"), "source", 10)
        .select(col("doc_id"), col("source"), round(col("score"), 4).as("score"))),

    // cursor pagination: page 2 strictly after page 1's (score, key)
    // cursor — a predicate, not an OFFSET re-sort; oracle is the same
    // ranking with OFFSET 10. The cursor collect is BOUNDED by
    // construction: search(q, 10) ends in a k-row top-k
    // (TakeOrderedAndProject / TopKAgg), so collect() moves exactly
    // k=10 rows to the driver regardless of corpus size — this is the
    // search-after contract itself (the client hands back the last
    // hit of the previous PAGE, which is k-row by definition), not a
    // corpus-sized action
    "search_after" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val q = "text".matchMin(1, termSet("window", "merge"))
      val last = idx.search(q, 10).select(col("doc_id"), col("score"))
        .collect().last // k-row page; cursor = its last row
      topkOut(idx.searchAfter(q, 10, last.getDouble(1), last.getLong(0)))
    }),

    // hit highlighting: earliest matched-term position + a 7-token
    // snippet around it, computed on the top-k survivors only
    "search_highlight" -> ((s, dir) =>
      indexFor(s, dir)
        .highlight("text" matchAny termSet("vector", "stream"), 10,
          "text", Seq("vector", "stream"))
        .select(col("doc_id"), round(col("score"), 4).as("score"),
          col("hit_pos"), col("snippet"))
        .orderBy("doc_id")),

    // query join with an ARBITRARY query generator (reference
    // queryGenerator: T => DslQuery, SearchableRDD.scala:257-298):
    // each left doc generates a positional PHRASE query from its
    // first two tokens — an AST the flat-terms queryJoin cannot
    // express
    "query_join_dsl" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val left = idx.docs
        .where(col("doc_id") < 10 &&
          size(col(SearchIndex.tokensColName("text"))) >= 2)
        .select(col("doc_id"),
          concat_ws(" ", slice(col(SearchIndex.tokensColName("text")), 1, 2)).as("phrase"))
      idx.queryJoinDsl(left, "doc_id",
          r => MatchPhrase("text", r.getAs[String]("phrase")), k = 3, excludeSelf = true)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // the same phrase self-join as query_join_dsl but through the
    // phrase-column front door (queryJoinPhrase generates the same
    // MatchPhrase per row) — must produce the identical result set
    "query_join_phrase" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val left = idx.docs
        .where(col("doc_id") < 10 &&
          size(col(SearchIndex.tokensColName("text"))) >= 2)
        .select(col("doc_id"),
          concat_ws(" ", slice(col(SearchIndex.tokensColName("text")), 1, 2)).as("phrase"))
      idx.queryJoinPhrase(left, "doc_id", col("phrase"), "text", k = 3, excludeSelf = true)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // query join: self similarity join, query = first 5 distinct
    // tokens of each left doc (reference examples/
    // SearchableRDDExamples.scala:68-74 shape)
    "query_join" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val left = idx.docs.where(col("doc_id") < 20)
      idx.queryJoin(left, "doc_id",
          array_distinct(slice(col(SearchIndex.tokensColName("text")), 1, 5)),
          "text", k = 3, minMatch = 1, excludeSelf = true,
          broadcastHits = true) // left is 20 docs — known-small
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // BOOLEAN query join with a corpus-PROPORTIONAL left (every 10th
    // doc is a query — the left grows with the corpus, unlike
    // query_join's fixed 20): each doc requires its first token,
    // prefers its 2nd-3rd, excludes its 4th, and filters hits to docs
    // no longer than itself. One distributed plan, size constant in
    // |left|. The 10x sample keeps the BENCH bounded on this
    // synthetic corpus: its 31-term vocabulary makes every query
    // match ~77% of all docs (median df 3862/5000 at sf0.1), so an
    // all-docs left scores ~19M (query, doc) pairs REGARDLESS of plan
    // — a density no real Zipfian corpus has.
    // more-like-this: top-5 tf×idf terms of each query doc run as an
    // OR query (Lucene MoreLikeThis); doc_id < 15 keeps the BENCH
    // bounded — the plan itself is corpus-proportional-safe (bounded
    // TopKAgg term selection + the standard postings probe)
    "search_more_like_this" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val left = idx.docs.where(col("doc_id") < 15).select(col("doc_id"))
      idx.moreLikeThis(left, "doc_id", "text", topTerms = 5, k = 3)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    "query_join_bool" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val tk = col(SearchIndex.tokensColName("text"))
      val req = array(element_at(tk, 1))
      val opt = array_except(array_distinct(slice(tk, 2, 2)), req)
      val left = idx.docs.where(size(tk) >= 4 && col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("n_chars"), req.as("req"), opt.as("opt"),
          array_except(array(element_at(tk, 4)), concat(req, opt)).as("exc"))
      idx.queryJoinBool(left, "doc_id", col("req"), col("opt"), col("exc"),
          "text", k = 3,
          attrFilter = Some(("n_chars", lit(null).cast("long"), col("n_chars"))),
          excludeSelf = true)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // SHOULD-only dense boolean join — the scored-disjunction regime
    // (no required clause, every optional term dense) where exact
    // candidate volume is Theta(Sum df(opt)) per shape; the pruned
    // twin below is the bounded escape. Kept separate from
    // query_join_bool (req-led + attr-filtered), whose candidates
    // are LOWER-bounded by df(req) for any exact algorithm.
    "query_join_bool_dense" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val tk = col(SearchIndex.tokensColName("text"))
      val left = idx.docs.where(size(tk) >= 3 && col("doc_id") % 40 === 0)
        .select(col("doc_id"), array_distinct(slice(tk, 1, 3)).as("opt"))
      idx.queryJoinBool(left, "doc_id",
          lit(null).cast("array<string>"), col("opt"),
          lit(null).cast("array<string>"), "text", k = 3, excludeSelf = true)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // ...and the SAME join under native impact pruning: per-shape
    // seed threshold + essential-term drop + block-max posting
    // filter (SearchIndex.boolEssentialProbes). Shares the exact
    // twin's oracle, so a hash match proves pruning is invisible.
    "query_join_bool_dense_pruned" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val tk = col(SearchIndex.tokensColName("text"))
      val left = idx.docs.where(size(tk) >= 3 && col("doc_id") % 40 === 0)
        .select(col("doc_id"), array_distinct(slice(tk, 1, 3)).as("opt"))
      idx.queryJoinBool(left, "doc_id",
          lit(null).cast("array<string>"), col("opt"),
          lit(null).cast("array<string>"), "text", k = 3, excludeSelf = true,
          impactPruning = true)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // The req-led attr-filtered boolean join under impact pruning
    // (r15, native in the bool pipeline): the per-shape threshold is
    // the MIN over the shape's qids of each qid's (k+1)-th best
    // ATTR-FILTERED seed score, and a prunability gate skips shapes
    // where the machinery has no leverage (this entry's req-led
    // shapes mostly skip — candidates are bounded below by df(req)
    // for ANY exact algorithm; see query_join_bool_dense_pruned for
    // the regime pruning wins). The oracle is query_join_bool's own
    // SQL, so a hash match proves the whole stage is invisible.
    "query_join_bool_pruned" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val tk = col(SearchIndex.tokensColName("text"))
      val req = array(element_at(tk, 1))
      val opt = array_except(array_distinct(slice(tk, 2, 2)), req)
      val left = idx.docs.where(size(tk) >= 4 && col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("n_chars"), req.as("req"), opt.as("opt"),
          array_except(array(element_at(tk, 4)), concat(req, opt)).as("exc"))
      idx.queryJoinBool(left, "doc_id", col("req"), col("opt"), col("exc"),
          "text", k = 3,
          attrFilter = Some(("n_chars", lit(null).cast("long"), col("n_chars"))),
          excludeSelf = true, impactPruning = true)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // ARBITRARY nested-AST query join, fully distributed (the
    // reference's queryGenerator: T => DslQuery regime at corpus
    // scale, SearchableRDD.scala:257-298): same corpus-proportional
    // left convention as query_join_bool (every 10th doc), but each
    // row generates a NESTED mixed AST — phrase OR all-terms, a
    // boosted optional term, a negation and a numeric range filter —
    // serialized to QueryProgram bytecode and verified in-row by
    // dsl_query_score. One plan, constant size in |left|, nothing
    // collected (unlike query_join_dsl's driver-batch contract).
    "query_join_ast" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val tk = col(SearchIndex.tokensColName("text"))
      val left = idx.docs.where(size(tk) >= 6 && col("doc_id") % 10 === 0)
        .select((col("doc_id") +: col("n_chars") +:
          (1 to 6).map(i => element_at(tk, i).as(s"t$i"))): _*)
      idx.queryJoinAst(left, "doc_id", { r =>
          def t(i: Int) = r.getAs[String](s"t$i")
          And(
            Or(MatchPhrase("text", s"${t(1)} ${t(2)}"),
              MatchAllTerms("text", Seq(t(3), t(4)))),
            And(Should(Boost(MatchTerm("text", t(6)), 0.5)),
              And(Not(MatchTerm("text", t(5))),
                RangeFilter("n_chars", 0L, r.getAs[Long]("n_chars")))))
        }, "text", k = 3, excludeSelf = true)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // Nested-AST query join with DICTIONARY-EXPANSION leaves — the
    // Lucene multi-term rewrite (wildcard/fuzzy/regex, constant-score)
    // distributed: each row's patterns expand against the term
    // dictionary via one broadcast join per batch (expandShapes), no
    // per-query driver action. Boosted text wildcard (required),
    // fuzzy-or-term, and an optional keyword-field wildcard riding
    // the text probe.
    "query_join_ast_expand" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val tk = col(SearchIndex.tokensColName("text"))
      val left = idx.docs.where(size(tk) >= 4 && col("doc_id") % 10 === 0)
        .select(col("doc_id") +: (1 to 3).map(i => element_at(tk, i).as(s"t$i")): _*)
      idx.queryJoinAst(left, "doc_id", { r =>
          def t(i: Int) = r.getAs[String](s"t$i")
          And(
            Boost(MatchWildcard("text", t(1).take(2) + "*"), 2.0),
            And(Or(MatchFuzzy("text", t(2), 1), MatchTerm("text", t(3))),
              Should(MatchWildcard("lang", "e*"))))
        }, "text", k = 3, excludeSelf = true)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // The SAME dictionary-expansion query under impact-ordered EXACT
    // pruning (impactPruning — see query_join_ast_pruned below for
    // the pure-disjunction form): the oracle is the plain exact
    // semantics, so a hash match PROVES pruning is invisible in the
    // results even across the wildcard/fuzzy rewrite (CANY leaves,
    // constant-score units, keyword-field constants). Left is a
    // quarter of the expand entry's so the seed/threshold stages —
    // the thing this entry times — stay a bounded slice of the
    // bench floor; SCALE.md's 16x receipts
    // (scale_results/capped_expand_16x_r14.json) carry the
    // exact-vs-pruned headline on the dense synthetic corpus.
    "query_join_ast_expand_pruned" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val tk = col(SearchIndex.tokensColName("text"))
      val left = idx.docs.where(size(tk) >= 4 && col("doc_id") % 40 === 0)
        .select(col("doc_id") +: (1 to 3).map(i => element_at(tk, i).as(s"t$i")): _*)
      idx.queryJoinAst(left, "doc_id", { r =>
          def t(i: Int) = r.getAs[String](s"t$i")
          And(
            Boost(MatchWildcard("text", t(1).take(2) + "*"), 2.0),
            And(Or(MatchFuzzy("text", t(2), 1), MatchTerm("text", t(3))),
              Should(MatchWildcard("lang", "e*"))))
        }, "text", k = 3, excludeSelf = true, impactPruning = true)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // DENSE query join with pre-verify early termination
    // (maxCandidatesPerShape — the distributed analog of Lucene's
    // docid-order early termination, SCALE.md): each left doc matches
    // any of its two leading tokens, which on this corpus's small
    // vocabulary makes every query match a constant fraction of the
    // documents; the cap bounds the verified volume at |shapes| x 8
    // in deterministic doc-key order, so the oracle can replay the
    // exact kept set.
    "query_join_ast_capped" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val tk = col(SearchIndex.tokensColName("text"))
      val left = idx.docs.where(size(tk) >= 2 && col("doc_id") % 20 === 0)
        .select(col("doc_id"), element_at(tk, 1).as("t1"),
          element_at(tk, 2).as("t2"))
      idx.queryJoinAst(left, "doc_id", { r =>
          MatchAnyTerms("text",
            Seq(r.getAs[String]("t1"), r.getAs[String]("t2")).distinct)
        }, "text", k = 3, excludeSelf = true, maxCandidatesPerShape = 8)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // DENSE query join with impact-ordered EXACT pruning — the
    // MaxScore-family alternative to the docid-order cap above: the
    // same match-a-constant-fraction-of-the-corpus disjunctions, but
    // instead of truncating candidates (an accuracy trade) the plan
    // scores a bounded per-shape seed set, takes the (k+1)-th best
    // seed score as a threshold, and probes only the terms outside
    // which no document can reach it — results are bit-identical to
    // the exact join (this oracle is the plain exact semantics).
    "query_join_ast_pruned" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      val tk = col(SearchIndex.tokensColName("text"))
      val left = idx.docs.where(size(tk) >= 3 && col("doc_id") % 20 === 0)
        .select(col("doc_id"), element_at(tk, 1).as("t1"),
          element_at(tk, 2).as("t2"), element_at(tk, 3).as("t3"))
      idx.queryJoinAst(left, "doc_id", { r =>
          MatchAnyTerms("text",
            Seq(r.getAs[String]("t1"), r.getAs[String]("t2"),
              r.getAs[String]("t3")).distinct)
        }, "text", k = 3, excludeSelf = true, impactPruning = true)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // Nested-AST query join with CROSS-FIELD text leaves — scored
    // leaves on a SECOND text field ("source", indexed as text in
    // xfieldIndexFor): "docs sharing my source that match one of my
    // leading tokens", the source term scored with the source
    // field's tf/dl/avgdl/idf (X* ops over the doc-side tokens map),
    // plus an optional boosted source-prefix wildcard (XCANY).
    "query_join_ast_xfield" -> ((s, dir) => {
      val idx = xfieldIndexFor(s, dir)
      val tk = col(SearchIndex.tokensColName("text"))
      val left = idx.docs.where(size(tk) >= 3 && col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("source").as("src"),
          element_at(tk, 1).as("t1"), element_at(tk, 2).as("t2"))
      idx.queryJoinAst(left, "doc_id", { r =>
          And(
            Or(MatchTerm("text", r.getAs[String]("t1")),
              MatchTerm("text", r.getAs[String]("t2"))),
            And(MatchTerm("source", r.getAs[String]("src")),
              Should(Boost(MatchWildcard("source", "src1*"), 0.5))))
        }, "text", k = 3, excludeSelf = true)
        .select(col("qid").as("doc_id"), col("rank").cast("long").as("rank"),
          col("key"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // hybrid sparse+dense retrieval: the BM25 lexical top-20 fused
    // with the embedding-cosine top-20 (query vector = doc 0's
    // embedding) by reciprocal-rank fusion, score = sum of
    // 1/(60 + rank) over the lists containing the doc (Cormack et
    // al., SIGIR 2009). Both legs are bounded distributed top-k
    // (TakeOrderedAndProject over one corpus scan each); the fusion
    // itself joins two k-row frames, so its cost is constant in the
    // corpus size — the standard retrieval-stack combiner the
    // reference's Lucene layer has no counterpart for.
    "search_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.SearchExpressions.register(s)
      val kLeg = 20
      val lex = indexFor(s, dir)
        .lightSearch("text" matchAny termSet("spark", "join"), kLeg)
        .withColumn("rank_lex", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rank_lex"))
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val qv = broadcast(e.where(col("vec_id") === 0).select(col("v").as("qv")))
      val vec = e.crossJoin(qv)
        .select(col("vec_id").as("doc_id"),
          graft.pipeline.Similarity.cosine(col("v"), col("qv")).as("cos"))
        .orderBy(col("cos").desc, col("doc_id").asc).limit(kLeg)
        .withColumn("rank_vec", row_number().over(
          Window.orderBy(col("cos").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rank_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0)))
        .orderBy(col("rrf").desc, col("doc_id").asc).limit(10)
        .select(col("doc_id"), round(col("rrf"), 6).as("rrf_score"))
    })
  )

  /** Shared body of batch_search and its broadcast-layout twin: same
    * queries, same projection — the layout must be invisible in the
    * results. */
  private def runBatch(idx: SearchIndex, s: SparkSession): DataFrame = {
    import s.implicits._
    val queries = Seq(
      (0L, "text", Seq("spark", "join"), 1),
      (1L, "text", Seq("window", "batch"), 1),
      (2L, "text", Seq("merge", "sort", "hash"), 2),
      (3L, "text", Seq("vector"), 1))
      .toDF("qid", "field", "terms", "min_match")
    idx.batchSearch(queries, 5)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("key"), round(col("score"), 4).as("score"))
      .orderBy("qid", "rank")
  }

  private val postsCte =
    """posts AS (
      |  SELECT doc_id, dl, term, count(*) AS tf
      |  FROM (SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM toks)
      |  GROUP BY 1, 2, 3
      |), dfs AS (SELECT term, count(*) AS df FROM posts GROUP BY term)""".stripMargin

  /** keyword term score = idf over the lang field (tf=1, dl=1,
    * avgdl=1 → BM25 collapses to idf); text term scored normally;
    * both required (AND). Shared by search_keyword and the
    * field-scoped parser entry search_raw_field. */
  private lazy val keywordFrVectorOracle: String =
    s"""$toksCte,
       |kw AS (
       |  SELECT count(*) AS n_lang,
       |    (SELECT count(*) FROM documents WHERE lang = 'fr') AS df_fr
       |  FROM documents WHERE lang IS NOT NULL
       |), dfs AS (SELECT ${dfSql("vector")} AS df_v FROM (SELECT 1)),
       |scored AS (
       |  SELECT t.doc_id, t.lang, len(t.tokens) AS dl, st.n, st.avgdl, dfs.df_v, kw.n_lang, kw.df_fr,
       |    ${tfSql("vector")} AS tf_v
       |  FROM toks t, st, dfs, kw
       |), s2 AS (
       |  SELECT *,
       |    (CASE WHEN lang = 'fr' THEN ln(1 + (n_lang - df_fr + 0.5) / (df_fr + 0.5))
       |      * (1 * ${K1 + 1.0}) / (1 + $K1 * (${1.0 - B} + $B * 1.0 / 1.0)) ELSE 0.0 END)
       |    + ${bm25Sql("tf_v", idfSql("df_v"))} AS score
       |  FROM scored
       |)
       |SELECT doc_id, round(score, 4) AS score FROM s2
       |WHERE lang = 'fr' AND tf_v > 0
       |ORDER BY s2.score DESC, doc_id
       |LIMIT 10""".stripMargin

  private lazy val sharedBatchOracle: String = batchOracle(
    "(0, 'spark', 1, 2), (0, 'join', 1, 2), (1, 'window', 1, 2), (1, 'batch', 1, 2), " +
      "(2, 'merge', 2, 3), (2, 'sort', 2, 3), (2, 'hash', 2, 3), (3, 'vector', 1, 1)",
    k = 5, excludeSelf = false, outCols = "qid")

  private def batchOracle(qtValues: String, k: Int, excludeSelf: Boolean,
      outCols: String): String = {
    val selfFilter = if (excludeSelf) " AND p.doc_id <> q.qid" else ""
    s"""$toksCte,
       |$postsCte,
       |qt(qid, term, min_match, n_terms) AS (VALUES $qtValues),
       |scored AS (
       |  SELECT q.qid, p.doc_id, any_value(q.min_match) AS min_match,
       |    any_value(q.n_terms) AS n_terms,
       |    sum(ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5)) * (p.tf * ${K1 + 1.0})
       |        / (p.tf + $K1 * (${1.0 - B} + $B * p.dl / st.avgdl))) AS score,
       |    count(*) AS nm
       |  FROM qt q
       |  JOIN posts p USING (term)
       |  JOIN dfs d USING (term), st
       |  WHERE 1=1$selfFilter
       |  GROUP BY 1, 2
       |), sel AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
       |  FROM scored
       |  WHERE CASE WHEN min_match <= 0 THEN nm = n_terms ELSE nm >= min_match END
       |)
       |SELECT $outCols, rank, doc_id AS key, round(score, 4) AS score
       |FROM sel WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin
  }

  /** (corpus term -> stem) rows recorded when search_stemmed runs —
    * consumed by [[stemmedOracle]]. Terms are guaranteed [a-z0-9]+
    * (the standard tokenizer splits on everything else), so inlining
    * them into VALUES needs no escaping. */
  @volatile private var stemDict: Option[Seq[(String, String)]] = None

  private def captureStemDict(s: SparkSession, dir: String): Unit = {
    val vocab = indexFor(s, dir).stats
      .where(col("field") === "text").select("term")
      .collect().map(_.getString(0))
    val an = graft.analysis.Analyzers("english")
    stemDict = Some(vocab.toSeq.sorted.flatMap { t =>
      an.analyze(t) match {
        case Seq(stem) => Some(t -> stem)
        case _ => None // stopword — removed by the analyzer
      }
    })
  }

  /** english-pipeline BM25 oracle: re-tokenize standard, map tokens
    * through the captured stem dictionary (dropping stopwords, which
    * have no dict row), then run the shared term-query oracle over the
    * stemmed token arrays. Docs whose every token is a stopword keep
    * an empty array (LEFT JOIN) so n and avgdl match the index's
    * field stats. */
  private def stemmedOracle: Map[String, String] = stemDict match {
    case None => Map.empty
    case Some(dict) =>
      val qTerms = graft.analysis.Analyzers("english").analyze("sparks joining windows")
      val values = dict.map { case (t, st) => s"('$t', '$st')" }.mkString(", ")
      val prefix =
        s"""WITH dict(term, stem) AS (VALUES $values),
           |toks0 AS (
           |  SELECT doc_id, lang, source, n_chars,
           |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tokens
           |  FROM documents
           |), stem_lists AS (
           |  SELECT t.doc_id, list(d.stem) AS tokens
           |  FROM (SELECT doc_id, unnest(tokens) AS term FROM toks0) t
           |  JOIN dict d USING (term)
           |  GROUP BY t.doc_id
           |), toks AS (
           |  SELECT t0.doc_id, t0.lang, t0.source, t0.n_chars,
           |    coalesce(s.tokens, CAST([] AS VARCHAR[])) AS tokens
           |  FROM toks0 t0 LEFT JOIN stem_lists s USING (doc_id)
           |), st AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks)""".stripMargin
      Map("search_stemmed" -> termQueryOracle(qTerms, 1, 10, prefix = prefix))
  }

  /** The query_join oracle, shared verbatim by the Scala-path entry
    * and the SQL front door (`query_join_sql`) — the TVF is a
    * front-end, not a second engine, so one oracle pins both. */
  private def queryJoinOracleSql: String =
    s"""$toksCte,
       |$postsCte,
       |lefts AS (SELECT doc_id AS qid, list_distinct(tokens[1:5]) AS qterms FROM toks WHERE doc_id < 20),
       |qt AS (
       |  SELECT qid, unnest(qterms) AS term, 1 AS min_match, len(qterms) AS n_terms FROM lefts
       |),
       |scored AS (
       |  SELECT q.qid, p.doc_id, any_value(q.min_match) AS min_match,
       |    any_value(q.n_terms) AS n_terms,
       |    sum(ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5)) * (p.tf * ${K1 + 1.0})
       |        / (p.tf + $K1 * (${1.0 - B} + $B * p.dl / st.avgdl))) AS score,
       |    count(*) AS nm
       |  FROM qt q
       |  JOIN posts p USING (term)
       |  JOIN dfs d USING (term), st
       |  WHERE p.doc_id <> q.qid
       |  GROUP BY 1, 2
       |), sel AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
       |  FROM scored WHERE nm >= min_match
       |)
       |SELECT sel.qid AS doc_id, sel.rank, sel.doc_id AS key, round(sel.score, 4) AS score
       |FROM sel WHERE rank <= 3
       |ORDER BY sel.qid, sel.rank""".stripMargin

  def oracles: Map[String, String] = {
    val base = staticOracles ++ staticOracles2 ++ stemmedOracle +
      // same query shape and output as query_join_dsl — the data-driven
      // phrase join must reproduce the scan path's result exactly
      ("query_join_phrase" -> staticOracles("query_join_dsl"))
    // the pruned twins share their exact twins' oracles VERBATIM —
    // a hash match is the proof that pruning is result-invisible
    base +
      ("query_join_bool_pruned" -> base("query_join_bool")) +
      ("query_join_bool_dense_pruned" -> base("query_join_bool_dense")) +
      ("query_join_sql_pruned_table" -> base("query_join_sql_table"))
  }

  private val staticOracles: Map[String, String] = Map(
    "search_topk" -> termQueryOracle(Seq("spark"), 1, 10),
    "search_any" -> termQueryOracle(Seq("spark", "join", "window"), 1, 10),

    // graft_search('dir', 'spark join', 10): two bare optional terms
    // of the Parsed grammar — the matchAny scoring shape
    "search_sql" -> termQueryOracle(Seq("spark", "join"), 1, 10),

    "term_stats_sql" ->
      s"""$toksCte,
         |text_df AS (
         |  SELECT term, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, unnest(tokens) AS term FROM toks) GROUP BY term
         |), text_cf AS (
         |  SELECT term, count(*) AS cf
         |  FROM (SELECT unnest(tokens) AS term FROM toks) GROUP BY term
         |), lang_df AS (
         |  SELECT lang AS term, count(*) AS df FROM documents WHERE lang IS NOT NULL GROUP BY lang
         |), source_df AS (
         |  SELECT source AS term, count(*) AS df FROM documents WHERE source IS NOT NULL GROUP BY source
         |), nn AS (
         |  SELECT (SELECT count(*) FROM documents) AS n_total,
         |    (SELECT count(lang) FROM documents) AS n_lang,
         |    (SELECT count(source) FROM documents) AS n_source
         |)
         |SELECT field, term, df, cf, round(idf, 6) AS idf FROM (
         |  SELECT 'text' AS field, text_df.term, text_df.df AS df, text_cf.cf AS cf,
         |    ln(1 + (nn.n_total - text_df.df + 0.5) / (text_df.df + 0.5)) AS idf
         |  FROM text_df JOIN text_cf USING (term), nn
         |  UNION ALL
         |  SELECT 'lang', term, df, df, ln(1 + (nn.n_lang - df + 0.5) / (df + 0.5)) FROM lang_df, nn
         |  UNION ALL
         |  SELECT 'source', term, df, df, ln(1 + (nn.n_source - df + 0.5) / (df + 0.5)) FROM source_df, nn
         |)
         |ORDER BY field, term""".stripMargin,

    // per-(hit, term) breakdown: the top-10 of the two-term OR
    // unpivoted to matched terms, each with tf/df/idf/contribution
    "search_explain" ->
      s"""$toksCte,
         |dfs AS (
         |  SELECT ${dfSql("spark")} AS df_0, ${dfSql("join")} AS df_1 FROM (SELECT 1)
         |), scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    ${tfSql("spark")} AS tf_0, ${tfSql("join")} AS tf_1
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT doc_id, tf_0, tf_1, df_0, df_1, n,
         |    ${idfSql("df_0")} AS idf_0, ${idfSql("df_1")} AS idf_1,
         |    ${bm25Sql("tf_0", idfSql("df_0"))} AS c0,
         |    ${bm25Sql("tf_1", idfSql("df_1"))} AS c1
         |  FROM scored
         |), top AS (
         |  SELECT *, c0 + c1 AS score FROM s2 WHERE tf_0 > 0 OR tf_1 > 0
         |  ORDER BY score DESC, doc_id LIMIT 10
         |)
         |SELECT doc_id, round(score, 4) AS score, term, tf, df,
         |  round(idf, 4) AS idf, round(contribution, 4) AS contribution
         |FROM (
         |  SELECT doc_id, score, 'spark' AS term, tf_0 AS tf, df_0 AS df,
         |    idf_0 AS idf, c0 AS contribution FROM top WHERE tf_0 > 0
         |  UNION ALL
         |  SELECT doc_id, score, 'join', tf_1, df_1, idf_1, c1
         |  FROM top WHERE tf_1 > 0)
         |ORDER BY doc_id, term""".stripMargin,

    // static pin of the default index configuration as reported by
    // getConfigInfo
    "config_info" ->
      """SELECT * FROM (VALUES
        |  ('doc_id', 'text', 'lang,source', 'default', 'default',
        |   'BM25(k1=1.2, b=0.75)', 'DecoupledPostings')
        |) AS t(key_col, text_fields, keyword_fields, index_analyzer,
        |       query_analyzer, similarity, layout)""".stripMargin,

    // BM25F: per-term weighted cross-field tf accumulation (text b
    // 0.75, source b 0.5 with dl=avgdl=1 so its norm is 1), shared
    // k1 saturation, whole-document (any-field) df
    "search_bm25f" ->
      s"""$toksCte,
         |dfs AS (
         |  SELECT
         |    (SELECT count(*) FROM toks WHERE list_contains(tokens, 'spark') OR source = 'spark') AS df_0,
         |    (SELECT count(*) FROM toks WHERE list_contains(tokens, 'src1') OR source = 'src1') AS df_1
         |  FROM (SELECT 1)
         |), scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    ${tfSql("spark")} AS tf_t0, ${tfSql("src1")} AS tf_t1,
         |    (CASE WHEN t.source = 'spark' THEN 1 ELSE 0 END) AS tf_s0,
         |    (CASE WHEN t.source = 'src1' THEN 1 ELSE 0 END) AS tf_s1
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT doc_id, df_0, df_1, n,
         |    1.0 * tf_t0 / (0.25 + 0.75 * dl / avgdl) + 2.0 * tf_s0 / 1.0 AS acc_0,
         |    1.0 * tf_t1 / (0.25 + 0.75 * dl / avgdl) + 2.0 * tf_s1 / 1.0 AS acc_1
         |  FROM scored
         |), s3 AS (
         |  SELECT doc_id,
         |    ${idfSql("df_0")} * acc_0 / (1.2 + acc_0)
         |    + ${idfSql("df_1")} * acc_1 / (1.2 + acc_1) AS score
         |  FROM s2
         |  WHERE acc_0 > 0 OR acc_1 > 0
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s3
         |ORDER BY s3.score DESC, doc_id
         |LIMIT 10""".stripMargin,

    // field collapsing: best (score desc, doc_id asc) hit per source,
    // then the global top-10 over the group winners
    "search_collapsed" ->
      s"""$toksCte,
         |dfs AS (
         |  SELECT ${dfSql("spark")} AS df_0, ${dfSql("join")} AS df_1 FROM (SELECT 1)
         |), scored AS (
         |  SELECT t.doc_id, t.source, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    ${tfSql("spark")} AS tf_0, ${tfSql("join")} AS tf_1
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT doc_id, source,
         |    ${bm25Sql("tf_0", idfSql("df_0"))} + ${bm25Sql("tf_1", idfSql("df_1"))} AS score
         |  FROM scored WHERE tf_0 > 0 OR tf_1 > 0
         |), best AS (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY score DESC, doc_id) AS rn FROM s2
         |)
         |SELECT doc_id, source, round(score, 4) AS score FROM best
         |WHERE rn = 1
         |ORDER BY score DESC, doc_id
         |LIMIT 10""".stripMargin,

    // multi-field constructor: "spark src1" parsed per field, fused
    // dis-max(text^1, source^2, tie 0.2). Text clause = gated bm25
    // sum over both terms; source clause = the source-field leaves'
    // BM25, which collapses to idf (tf=1, dl=avgdl=1 — one token per
    // source), boosted x2; clause mass ungated, match = any clause
    "search_constructor" ->
      s"""$toksCte,
         |dfs AS (
         |  SELECT ${dfSql("spark")} AS df_t0, ${dfSql("src1")} AS df_t1,
         |    (SELECT count(*) FROM documents WHERE source = 'spark') AS sdf_0,
         |    (SELECT count(*) FROM documents WHERE source = 'src1') AS sdf_1
         |  FROM (SELECT 1)
         |), scored AS (
         |  SELECT t.doc_id, t.source, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    ${tfSql("spark")} AS tf_t0, ${tfSql("src1")} AS tf_t1
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT doc_id, source, tf_t0, tf_t1,
         |    ${bm25Sql("tf_t0", idfSql("df_t0"))} + ${bm25Sql("tf_t1", idfSql("df_t1"))} AS ctext,
         |    2.0 * ((CASE WHEN source = 'spark' THEN ${idfSql("sdf_0")} ELSE 0.0 END)
         |         + (CASE WHEN source = 'src1' THEN ${idfSql("sdf_1")} ELSE 0.0 END)) AS csrc
         |  FROM scored
         |), s3 AS (
         |  SELECT doc_id,
         |    greatest(ctext, csrc) + 0.2 * (ctext + csrc - greatest(ctext, csrc)) AS score
         |  FROM s2
         |  WHERE tf_t0 > 0 OR tf_t1 > 0 OR source IN ('spark', 'src1')
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s3
         |ORDER BY s3.score DESC, doc_id
         |LIMIT 10""".stripMargin,

    // dis-max: clause scores s0 (spark), s1 (window), s2 (join AND
    // merge — composite mass ungated, the engine's And convention);
    // score = greatest + 0.3 x (sum - greatest); match = any clause
    "search_dismax" ->
      s"""$toksCte,
         |dfs AS (
         |  SELECT ${dfSql("spark")} AS df_0, ${dfSql("window")} AS df_1,
         |    ${dfSql("join")} AS df_2, ${dfSql("merge")} AS df_3 FROM (SELECT 1)
         |), scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    ${tfSql("spark")} AS tf_0, ${tfSql("window")} AS tf_1,
         |    ${tfSql("join")} AS tf_2, ${tfSql("merge")} AS tf_3
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT doc_id, tf_0, tf_1, tf_2, tf_3,
         |    ${bm25Sql("tf_0", idfSql("df_0"))} AS c0,
         |    ${bm25Sql("tf_1", idfSql("df_1"))} AS c1,
         |    ${bm25Sql("tf_2", idfSql("df_2"))} + ${bm25Sql("tf_3", idfSql("df_3"))} AS c2
         |  FROM scored
         |), s3 AS (
         |  SELECT doc_id,
         |    greatest(c0, c1, c2) + 0.3 * (c0 + c1 + c2 - greatest(c0, c1, c2)) AS score
         |  FROM s2
         |  WHERE tf_0 > 0 OR tf_1 > 0 OR (tf_2 > 0 AND tf_3 > 0)
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s3
         |ORDER BY s3.score DESC, doc_id
         |LIMIT 10""".stripMargin,

    // demotion: positive score scaled x0.4 when "window" also occurs
    "search_demote" ->
      s"""$toksCte,
         |dfs AS (
         |  SELECT ${dfSql("spark")} AS df_0, ${dfSql("join")} AS df_1 FROM (SELECT 1)
         |), scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    ${tfSql("spark")} AS tf_0, ${tfSql("join")} AS tf_1,
         |    ${tfSql("window")} AS tf_neg
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT doc_id,
         |    (${bm25Sql("tf_0", idfSql("df_0"))} + ${bm25Sql("tf_1", idfSql("df_1"))})
         |      * (CASE WHEN tf_neg > 0 THEN 0.4 ELSE 1.0 END) AS score
         |  FROM scored WHERE tf_0 > 0 OR tf_1 > 0
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s2
         |ORDER BY s2.score DESC, doc_id
         |LIMIT 10""".stripMargin,

    // function score: (bm25_spark + bm25_join) x (1 + 0.1 ln(1 + n_chars))
    "search_function_score" ->
      s"""$toksCte,
         |dfs AS (
         |  SELECT ${dfSql("spark")} AS df_0, ${dfSql("join")} AS df_1 FROM (SELECT 1)
         |), scored AS (
         |  SELECT t.doc_id, t.n_chars, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    ${tfSql("spark")} AS tf_0, ${tfSql("join")} AS tf_1
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT doc_id,
         |    (${bm25Sql("tf_0", idfSql("df_0"))} + ${bm25Sql("tf_1", idfSql("df_1"))})
         |      * (1 + 0.1 * ln(1 + greatest(coalesce(n_chars, 0), 0))) AS score
         |  FROM scored WHERE tf_0 > 0 OR tf_1 > 0
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s2
         |ORDER BY s2.score DESC, doc_id
         |LIMIT 10""".stripMargin,

    // constant score: flat 2.5 for docs matching term AND filter;
    // the cut is by doc_id (all scores equal)
    "search_const_score" ->
      s"""$toksCte
         |SELECT doc_id, 2.5 AS score FROM toks
         |WHERE list_contains(tokens, 'spark') AND n_chars > 300
         |ORDER BY doc_id
         |LIMIT 10""".stripMargin,

    // SynonymQuery: tf = tf_row + tf_line, df = max of the two dfs
    "search_synonyms" ->
      s"""$toksCte,
         |dfs AS (
         |  SELECT ${dfSql("row")} AS df_0, ${dfSql("line")} AS df_1 FROM (SELECT 1)
         |), scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    ${tfSql("row")} + ${tfSql("line")} AS tf_s
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT *, ${bm25Sql("tf_s", idfSql("greatest(df_0, df_1)"))} AS score
         |  FROM scored
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s2
         |WHERE tf_s > 0
         |ORDER BY s2.score DESC, doc_id
         |LIMIT 10""".stripMargin,
    "search_all" -> termQueryOracle(Seq("spark", "join"), 0, 10),
    "search_min2" -> termQueryOracle(Seq("spark", "join", "window"), 2, 10),

    "search_phrase" -> {
      // phrase tf = count of starting positions; phrase idf = sum of
      // constituent term idfs (2 * idf(batch) here)
      s"""$toksCte,
         |dfs AS (SELECT ${dfSql("batch")} AS df_b FROM (SELECT 1)),
         |scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.df_b,
         |    len(list_filter(range(1, len(t.tokens)),
         |        i -> t.tokens[i] = 'batch' AND t.tokens[i + 1] = 'batch')) AS tf_p
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT *, CASE WHEN tf_p > 0
         |    THEN (${idfSql("df_b")} + ${idfSql("df_b")}) * (tf_p * ${K1 + 1.0})
         |         / (tf_p + $K1 * (${1.0 - B} + $B * dl / avgdl))
         |    ELSE 0.0 END AS score
         |  FROM scored
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s2
         |WHERE tf_p > 0
         |ORDER BY s2.score DESC, doc_id
         |LIMIT 10""".stripMargin
    },

    "search_phrase_slop" -> {
      // Lucene sloppy-phrase (SloppyPhraseScorer matchLength): tf =
      // anchor positions i with tokens[i]='batch' and a 'join' at j
      // with |i - (j-1)| <= slop, j != i — slop 2 admits the
      // TRANSPOSED "join batch" (j = i-1, matchLength 2), exactly as
      // Lucene's "batch join"~2 does; 1-based SQL indices make the
      // window j in [i-1, i+3]. phrase idf = idf(batch) + idf(join)
      s"""$toksCte,
         |dfs AS (SELECT ${dfSql("batch")} AS df_1, ${dfSql("join")} AS df_2 FROM (SELECT 1)),
         |scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.df_1, dfs.df_2,
         |    len(list_filter(range(1, len(t.tokens) + 1),
         |      i -> t.tokens[i] = 'batch' AND
         |        len(list_filter(range(greatest(i - 1, 1), least(i + 4, len(t.tokens) + 1)),
         |          j -> j <> i AND t.tokens[j] = 'join')) > 0)) AS tf_p
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT *, CASE WHEN tf_p > 0
         |    THEN (${idfSql("df_1")} + ${idfSql("df_2")}) * (tf_p * ${K1 + 1.0})
         |         / (tf_p + $K1 * (${1.0 - B} + $B * dl / avgdl))
         |    ELSE 0.0 END AS score
         |  FROM scored
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s2
         |WHERE tf_p > 0
         |ORDER BY s2.score DESC, doc_id
         |LIMIT 10""".stripMargin
    },

    "search_filtered" -> termQueryOracle(Seq("spark", "join"), 1, 10,
      extraWhere = " AND lang = 'en' AND n_chars BETWEEN 100 AND 400"),
    // the DSv2 relation with the same pushed filters must land on the
    // same answers — one oracle pins front door and Scala path alike
    "search_dsv2" -> termQueryOracle(Seq("spark", "join"), 1, 10,
      extraWhere = " AND lang = 'en' AND n_chars BETWEEN 100 AND 400"),
    // topN(10) over the k=50 relation = the plain top-10; the written
    // corpus is a byte-equivalent round trip, so the same oracle pins
    // both the TopN pushdown and the write path
    "search_dsv2_topn" -> termQueryOracle(Seq("spark", "join"), 1, 10),
    "search_dsv2_write" -> termQueryOracle(Seq("spark", "join"), 1, 10),
    "search_dsv2_ddl" -> termQueryOracle(Seq("spark", "join"), 1, 10,
      extraWhere = " AND lang = 'en' AND n_chars BETWEEN 100 AND 400"),

    "search_keyword" -> keywordFrVectorOracle,
    // parseQuery "+lang:fr +vector" compiles to the same AST as
    // search_keyword's explicit builders — shared oracle asserts it
    "search_raw_field" -> keywordFrVectorOracle,

    // predicate (spark AND join) OR window; score = sum of the three
    // self-gated term scores (see the entry's scoring note)
    "search_raw_bool" -> termQueryOracle(Seq("spark", "join", "window"), 1, 10,
      semOverride = Some("(tf_0 > 0 AND tf_1 > 0) OR tf_2 > 0")),

    "search_negated" ->
      s"""$toksCte
         |SELECT doc_id, 1.0 AS score FROM toks
         |WHERE NOT list_contains(tokens, 'spark')
         |ORDER BY doc_id
         |LIMIT 20""".stripMargin,

    "search_raw" -> {
      // +spark join -window: spark required, join optional-scoring,
      // window excluded
      s"""$toksCte,
         |dfs AS (
         |  SELECT ${dfSql("spark")} AS df_0, ${dfSql("join")} AS df_1 FROM (SELECT 1)
         |), scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    ${tfSql("spark")} AS tf_0, ${tfSql("join")} AS tf_1,
         |    ${tfSql("window")} AS tf_x
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT *, ${bm25Sql("tf_0", idfSql("df_0"))} + ${bm25Sql("tf_1", idfSql("df_1"))} AS score
         |  FROM scored
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s2
         |WHERE tf_0 > 0 AND NOT tf_x > 0
         |ORDER BY s2.score DESC, doc_id
         |LIMIT 10""".stripMargin
    },

    // spark^2 join^0.5 window: same match set as the unboosted
    // 3-term OR, per-term score mass scaled by the boosts
    "search_boosted" -> termQueryOracle(Seq("spark", "join", "window"), 1, 10,
      weights = Seq(2.0, 0.5, 1.0)),

    // wildcard clauses score a constant 1.0 each (Lucene
    // CONSTANT_SCORE multi-term rewrite); the oracle applies the
    // glob directly per token — the engine's dictionary expansion
    // must produce the identical match set
    "search_wildcard" ->
      s"""$toksCte,
         |scored AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(list_filter(tokens, x -> x LIKE 's%a%')) > 0 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN len(list_filter(tokens, x -> x LIKE 'jo_n')) > 0 THEN 1.0 ELSE 0.0 END) AS score
         |  FROM toks
         |)
         |SELECT doc_id, round(score, 4) AS score FROM scored
         |WHERE score > 0
         |ORDER BY score DESC, doc_id
         |LIMIT 10""".stripMargin,

    // +spakr~2 window: the oracle recomputes the fuzzy expansion
    // itself (DuckDB levenshtein over the corpus vocabulary — plain
    // Levenshtein in both engines), so the dictionary probe is
    // verified, not assumed; score = 1.0 (required fuzzy, constant)
    // + optional-scoring bm25(window)
    "search_fuzzy" ->
      s"""$toksCte,
         |fzm AS (
         |  SELECT list(term) AS ts FROM (
         |    SELECT DISTINCT unnest(tokens) AS term FROM toks
         |  ) WHERE levenshtein(term, 'spakr') <= 2
         |), dfs AS (SELECT ${dfSql("window")} AS df_w FROM (SELECT 1)),
         |scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.df_w,
         |    len(list_intersect(t.tokens, fzm.ts)) AS n_fz,
         |    ${tfSql("window")} AS tf_w
         |  FROM toks t, st, dfs, fzm
         |), s2 AS (
         |  SELECT *, 1.0 + ${bm25Sql("tf_w", idfSql("df_w"))} AS score
         |  FROM scored WHERE n_fz > 0
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s2
         |ORDER BY s2.score DESC, doc_id
         |LIMIT 10""".stripMargin,

    // /s.a(n|rk)/ merge: the oracle recomputes the anchored regex
    // expansion over the corpus vocabulary (scan/spark); the matched
    // regex clause contributes a constant 1.0 beside the scored term
    "search_regex" ->
      s"""$toksCte,
         |rxm AS (
         |  SELECT list(term) AS ts FROM (
         |    SELECT DISTINCT unnest(tokens) AS term FROM toks
         |  ) WHERE regexp_matches(term, '^(?:s.a(n|rk))$$')
         |), dfs AS (SELECT ${dfSql("merge")} AS df_m FROM (SELECT 1)),
         |scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.df_m,
         |    len(list_intersect(t.tokens, rxm.ts)) AS n_rx,
         |    ${tfSql("merge")} AS tf_m
         |  FROM toks t, st, dfs, rxm
         |), s2 AS (
         |  SELECT *, (CASE WHEN n_rx > 0 THEN 1.0 ELSE 0.0 END)
         |    + ${bm25Sql("tf_m", idfSql("df_m"))} AS score
         |  FROM scored WHERE n_rx > 0 OR tf_m > 0
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s2
         |ORDER BY s2.score DESC, doc_id
         |LIMIT 10""".stripMargin,

    // the Lucene-dialect pattern ~("spark"|d.*)&.*a.* expressed as
    // its SEMANTICS (complement + intersection over the anchored
    // whole-term match), not as the translated Java pattern
    "search_regex_lucene" ->
      s"""$toksCte,
         |rxm AS (
         |  SELECT list(term) AS ts FROM (
         |    SELECT DISTINCT unnest(tokens) AS term FROM toks
         |  ) WHERE NOT regexp_matches(term, '^(?:spark|d.*)$$')
         |      AND regexp_matches(term, '^(?:.*a.*)$$')
         |), dfs AS (SELECT ${dfSql("merge")} AS df_m FROM (SELECT 1)),
         |scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.df_m,
         |    len(list_intersect(t.tokens, rxm.ts)) AS n_rx,
         |    ${tfSql("merge")} AS tf_m
         |  FROM toks t, st, dfs, rxm
         |), s2 AS (
         |  SELECT *, (CASE WHEN n_rx > 0 THEN 1.0 ELSE 0.0 END)
         |    + ${bm25Sql("tf_m", idfSql("df_m"))} AS score
         |  FROM scored WHERE n_rx > 0 OR tf_m > 0
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s2
         |ORDER BY s2.score DESC, doc_id
         |LIMIT 10""".stripMargin,

    // +group +n_chars:[200 TO 480}: required term + mixed-bound
    // range filter (inclusive low, exclusive high), non-scoring
    "search_range_syntax" -> termQueryOracle(Seq("group"), 0, 10,
      extraWhere = " AND n_chars >= 200 AND n_chars < 480"),

    "search_light" -> termQueryOracle(Seq("stream"), 1, 10),

    "search_tfidf" -> termQueryOracle(Seq("spark", "join"), 1, 10,
      scoreFn = (tf, idf) => tfidfSql(tf, idf)),

    "search_bm25_tuned" -> termQueryOracle(Seq("stream", "batch"), 1, 10,
      scoreFn = (tf, idf) => bm25Sql(tf, idf, 1.5, 0.3)),

    "search_transform" -> {
      // raw_score carried out of the inner query so the outer orders
      // by the RAW double like the Spark side (res.score is rounded —
      // ordering by it can flip tied-at-4-decimals neighbors)
      val inner = termQueryOracle(Seq("hash"), 1, 10, exposeRaw = true)
      s"""WITH res AS ($inner)
         |SELECT res.doc_id, d.lang, d.n_chars, res.score
         |FROM res JOIN documents d USING (doc_id)
         |ORDER BY res.raw_score DESC, res.doc_id""".stripMargin
    },

    "get_elements" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id IN (1, 5, 10, 100)
        |ORDER BY doc_id""".stripMargin,

    "doc_counts" ->
      s"""$toksCte
         |SELECT 'lang' AS field, count(lang) AS n_docs FROM documents
         |UNION ALL
         |SELECT 'source', count(source) FROM documents
         |UNION ALL
         |SELECT 'text', count(*) FROM toks WHERE len(tokens) > 0
         |ORDER BY field""".stripMargin,

    "term_counts" ->
      s"""$toksCte
         |SELECT 'text' AS field, term, count(*) AS cf
         |FROM (SELECT unnest(tokens) AS term FROM toks) GROUP BY term
         |UNION ALL
         |SELECT 'lang', lang, count(*) FROM documents WHERE lang IS NOT NULL GROUP BY lang
         |UNION ALL
         |SELECT 'source', source, count(*) FROM documents WHERE source IS NOT NULL GROUP BY source
         |ORDER BY field, term""".stripMargin,

    // did-you-mean replica: same dictionary (per-term doc frequency),
    // same (distance, df desc, term) ranking, same 2-edit band
    "search_suggest" ->
      s"""$toksCte,
         |text_df AS (
         |  SELECT term, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, unnest(tokens) AS term FROM toks) GROUP BY term
         |), inputs(input_term) AS (VALUES ('spak'), ('windoww'), ('qury')),
         |cand AS (
         |  SELECT i.input_term, d.term, levenshtein(d.term, i.input_term) AS dist, d.df
         |  FROM text_df d, inputs i
         |  WHERE abs(length(d.term) - length(i.input_term)) <= 2
         |    AND levenshtein(d.term, i.input_term) <= 2
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY input_term
         |    ORDER BY dist, df DESC, term) AS rank FROM cand
         |)
         |SELECT input_term, rank, term, CAST(dist AS BIGINT) AS dist, df
         |FROM r WHERE rank <= 3
         |ORDER BY input_term, rank""".stripMargin,

    "term_idfs" ->
      s"""$toksCte,
         |text_df AS (
         |  SELECT term, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, unnest(tokens) AS term FROM toks) GROUP BY term
         |), lang_df AS (
         |  SELECT lang AS term, count(*) AS df FROM documents WHERE lang IS NOT NULL GROUP BY lang
         |), source_df AS (
         |  SELECT source AS term, count(*) AS df FROM documents WHERE source IS NOT NULL GROUP BY source
         |), nn AS (
         |  SELECT (SELECT count(*) FROM documents) AS n_total,
         |    (SELECT count(lang) FROM documents) AS n_lang,
         |    (SELECT count(source) FROM documents) AS n_source
         |)
         |SELECT field, term, round(idf, 6) AS idf FROM (
         |  SELECT 'text' AS field, term, ln(1 + (nn.n_total - df + 0.5) / (df + 0.5)) AS idf FROM text_df, nn
         |  UNION ALL
         |  SELECT 'lang', term, ln(1 + (nn.n_lang - df + 0.5) / (df + 0.5)) FROM lang_df, nn
         |  UNION ALL
         |  SELECT 'source', term, ln(1 + (nn.n_source - df + 0.5) / (df + 0.5)) FROM source_df, nn
         |)
         |ORDER BY field, term""".stripMargin,

    "indices_info" ->
      s"""$toksCte,
         |text_stats AS (
         |  SELECT count(DISTINCT term) AS num_terms, count(*) AS total_terms
         |  FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
         |), tstat AS (SELECT n, avgdl FROM st)
         |SELECT 'lang' AS field, (SELECT count(lang) FROM documents) AS num_docs,
         |  (SELECT count(DISTINCT lang) FROM documents) AS num_terms,
         |  (SELECT count(lang) FROM documents) AS total_terms, 1.0 AS avg_dl
         |UNION ALL
         |SELECT 'source', (SELECT count(source) FROM documents),
         |  (SELECT count(DISTINCT source) FROM documents),
         |  (SELECT count(source) FROM documents), 1.0
         |UNION ALL
         |SELECT 'text', tstat.n, text_stats.num_terms, text_stats.total_terms,
         |  round(tstat.avgdl, 6)
         |FROM tstat, text_stats
         |ORDER BY field""".stripMargin,

    "batch_search" -> sharedBatchOracle,
    // identical oracle: layout is a physical choice, not a semantic one
    "batch_search_broadcast" -> sharedBatchOracle,

    "search_or" -> termQueryOracle(Seq("filter", "scan"), 1, 10),
    "search_text" -> termQueryOracle(Seq("query", "table"), 1, 10),
    "search_cmp_filters" -> termQueryOracle(Seq("group"), 1, 10,
      extraWhere = " AND n_chars > 150 AND n_chars >= 200 AND n_chars < 520 AND n_chars <= 480"),
    "search_value_set" -> termQueryOracle(Seq("data"), 1, 10,
      extraWhere = " AND source IN ('src1', 'src3', 'src5')"),
    // src_opt is null iff len(source)=4 (see splitIndexFor), so
    // exists/missing translate to length predicates on source
    "search_exists" -> termQueryOracle(Seq("row"), 1, 10,
      extraWhere = " AND length(source) = 5"),
    "search_missing" -> termQueryOracle(Seq("key"), 1, 10,
      extraWhere = " AND length(source) = 4"),
    // the english QUERY analyzer reduces "Sparks joining" to
    // [spark, join]; the oracle is the plain two-term query
    "search_analyzer_split" -> termQueryOracle(Seq("spark", "join"), 1, 10),
    // reloaded artifacts must reproduce the from-scratch scores
    "search_reloaded" -> termQueryOracle(Seq("column", "value"), 1, 10),
    // the incremental add/remove chain must equal a fresh index over
    // the survivor corpus: same oracle, corpus filtered to survivors
    "search_incremental" -> termQueryOracle(Seq("window", "merge"), 1, 10,
      prefix = toksCte.replace("FROM documents",
        "FROM documents WHERE doc_id % 7 <> 0")),

    // tf = unordered (i, j) pair count within the window, idf = summed
    // constituent idfs — the span-near analog of the phrase oracle
    "search_near" ->
      s"""$toksCte,
         |dfs AS (SELECT ${dfSql("sort")} AS df_a, ${dfSql("hash")} AS df_b FROM (SELECT 1)),
         |scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    list_sum(list_transform(
         |      list_filter(range(1, len(t.tokens) + 1), i -> t.tokens[i] = 'sort'),
         |      i -> len(list_filter(
         |        list_filter(range(1, len(t.tokens) + 1), j -> t.tokens[j] = 'hash'),
         |        j -> abs(i - j) <= 3)))) AS tf_n
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT doc_id, tf_n,
         |    CASE WHEN tf_n > 0
         |      THEN (${idfSql("df_a")} + ${idfSql("df_b")}) * (tf_n * ${K1 + 1.0})
         |        / (tf_n + $K1 * (${1.0 - B} + $B * dl / avgdl))
         |      ELSE 0.0 END AS score
         |  FROM scored
         |)
         |SELECT doc_id, round(score, 4) AS score FROM s2
         |WHERE tf_n > 0
         |ORDER BY score DESC, doc_id
         |LIMIT 10""".stripMargin,

    "search_facets" ->
      s"""$toksCte,
         |matched AS (
         |  SELECT lang, source FROM toks
         |  WHERE list_contains(tokens, 'spark') OR list_contains(tokens, 'join')
         |), sel AS (
         |  SELECT 'lang' AS facet, lang AS value, count(*) AS n FROM matched GROUP BY 2
         |  UNION ALL
         |  SELECT 'source' AS facet, source AS value, count(*) AS n FROM matched GROUP BY 2
         |)
         |SELECT facet, value, n FROM sel ORDER BY facet, value""".stripMargin,

    // page 2 of the incremental-free ranking = OFFSET 10 of the same
    // deterministic (score DESC, doc_id) order the cursor predicate walks
    "search_after" -> termQueryOracle(Seq("window", "merge"), 1, 10, offset = 10),

    // earliest matched position via list_position (NULL-skipping
    // least), snippet = 7 tokens centred on it, clamped at the start
    "search_highlight" ->
      s"""$toksCte,
         |dfs AS (
         |  SELECT ${dfSql("vector")} AS df_0, ${dfSql("stream")} AS df_1 FROM (SELECT 1)
         |), scored AS (
         |  SELECT t.doc_id, t.tokens, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    ${tfSql("vector")} AS tf_0, ${tfSql("stream")} AS tf_1
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT *, ${bm25Sql("tf_0", idfSql("df_0"))} + ${bm25Sql("tf_1", idfSql("df_1"))} AS score,
         |    (CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS nm
         |  FROM scored
         |), sel AS (
         |  SELECT * FROM s2 WHERE nm >= 1 ORDER BY score DESC, doc_id LIMIT 10
         |), pos AS (
         |  SELECT doc_id, score, tokens,
         |    least(list_position(tokens, 'vector'), list_position(tokens, 'stream'))::BIGINT AS hit_pos
         |  FROM sel
         |)
         |SELECT doc_id, round(score, 4) AS score, hit_pos,
         |  array_to_string(tokens[greatest(hit_pos - 3, 1):greatest(hit_pos - 3, 1) + 6], ' ') AS snippet
         |FROM pos
         |ORDER BY doc_id""".stripMargin,
    // postings-probe scores must equal the scan path's
    "search_no_positions" -> termQueryOracle(Seq("spark", "join"), 1, 10),

    "query_join_dsl" -> {
      // per-left-doc phrase query: tf = positional phrase count,
      // phrase idf = idf(t1) + idf(t2) (same association order as the
      // Spark-side terms.map(idf).sum)
      s"""$toksCte,
         |$postsCte,
         |lefts AS (
         |  SELECT doc_id AS qid, tokens[1] AS t1, tokens[2] AS t2
         |  FROM toks WHERE doc_id < 10 AND len(tokens) >= 2
         |), scored AS (
         |  SELECT l.qid, t.doc_id,
         |    len(list_filter(range(1, len(t.tokens)),
         |        i -> t.tokens[i] = l.t1 AND t.tokens[i + 1] = l.t2)) AS tf_p,
         |    len(t.tokens) AS dl,
         |    (ln(1 + (st.n - d1.df + 0.5) / (d1.df + 0.5))
         |      + ln(1 + (st.n - d2.df + 0.5) / (d2.df + 0.5))) AS p_idf,
         |    st.avgdl
         |  FROM lefts l
         |  CROSS JOIN toks t
         |  CROSS JOIN st
         |  JOIN dfs d1 ON d1.term = l.t1
         |  JOIN dfs d2 ON d2.term = l.t2
         |  WHERE t.doc_id <> l.qid
         |), s2 AS (
         |  SELECT qid, doc_id, ${bm25Sql("tf_p", "p_idf")} AS score
         |  FROM scored WHERE tf_p > 0
         |), sel AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |  FROM s2
         |)
         |SELECT sel.qid AS doc_id, sel.rank, sel.doc_id AS key, round(sel.score, 4) AS score
         |FROM sel WHERE rank <= 3
         |ORDER BY sel.qid, sel.rank""".stripMargin
    },

    "query_join" -> queryJoinOracleSql,
    // the SQL front doors must land on the very same answers
    "query_join_sql" -> queryJoinOracleSql,
    "batch_search_sql" -> batchOracle(
      "(0, 'spark', 1, 2), (0, 'join', 1, 2), (1, 'window', 1, 2), " +
        "(1, 'batch', 1, 2), (2, 'vector', 1, 1)",
      k = 5, excludeSelf = false, outCols = "qid"),
    // TABLE form over the same three queries: identical rows by
    // construction
    "batch_search_sql_table" -> batchOracle(
      "(0, 'spark', 1, 2), (0, 'join', 1, 2), (1, 'window', 1, 2), " +
        "(1, 'batch', 1, 2), (2, 'vector', 1, 1)",
      k = 5, excludeSelf = false, outCols = "qid"),
    // ALL-terms mode (min_match 0 -> nm = n_terms) on the named field
    "batch_search_sql_field" -> batchOracle(
      "(0, 'spark', 0, 2), (0, 'join', 0, 2), (1, 'window', 0, 2), " +
        "(1, 'batch', 0, 2), (2, 'vector', 0, 2), (2, 'stream', 0, 2)",
      k = 5, excludeSelf = false, outCols = "qid"),
    // TABLE-form join: left view qids are shifted doc ids (opaque to
    // the corpus keyspace), distinct terms among the first 4 tokens,
    // NO self-exclusion — otherwise the query_join fold verbatim
    "query_join_sql_table" ->
      s"""$toksCte,
         |$postsCte,
         |lefts AS (SELECT doc_id + 1000 AS qid, list_distinct(tokens[1:4]) AS qterms FROM toks WHERE doc_id < 15),
         |qt AS (
         |  SELECT qid, unnest(qterms) AS term, 1 AS min_match, len(qterms) AS n_terms FROM lefts
         |),
         |scored AS (
         |  SELECT q.qid, p.doc_id, any_value(q.min_match) AS min_match,
         |    any_value(q.n_terms) AS n_terms,
         |    sum(ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5)) * (p.tf * ${K1 + 1.0})
         |        / (p.tf + $K1 * (${1.0 - B} + $B * p.dl / st.avgdl))) AS score,
         |    count(*) AS nm
         |  FROM qt q
         |  JOIN posts p USING (term)
         |  JOIN dfs d USING (term), st
         |  GROUP BY 1, 2
         |), sel AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |  FROM scored WHERE nm >= min_match
         |)
         |SELECT qid, rank, doc_id AS key, round(score, 4) AS score
         |FROM sel WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin,

    // MLT term selection mirrors the keywords_tfidf convention
    // (decimal-exact tf×idf, term tie-break); the search stage is the
    // query_join oracle with the selected terms
    "search_more_like_this" ->
      s"""$toksCte,
         |$postsCte,
         |lq AS (SELECT doc_id AS qid, term, count(*) AS tf
         |       FROM (SELECT doc_id, unnest(tokens) AS term FROM toks WHERE doc_id < 15)
         |       GROUP BY 1, 2),
         |mltsc AS (
         |  SELECT qid, term,
         |    CAST(tf AS DECIMAL(12,0)) *
         |      CAST(ln(CAST((SELECT n FROM st) AS DOUBLE) / df) AS DECIMAL(18,6)) AS s
         |  FROM lq JOIN dfs USING (term)
         |),
         |qt AS (
         |  SELECT qid, term FROM (
         |    SELECT qid, term,
         |      row_number() OVER (PARTITION BY qid ORDER BY s DESC, term) AS r
         |    FROM mltsc) ranked WHERE r <= 5
         |),
         |scored AS (
         |  SELECT q.qid, p.doc_id,
         |    sum(ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5)) * (p.tf * ${K1 + 1.0})
         |        / (p.tf + $K1 * (${1.0 - B} + $B * p.dl / st.avgdl))) AS score,
         |    count(*) AS nm
         |  FROM qt q JOIN posts p USING (term) JOIN dfs d USING (term), st
         |  WHERE p.doc_id <> q.qid
         |  GROUP BY 1, 2
         |), sel AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |  FROM scored WHERE nm >= 1
         |)
         |SELECT sel.qid AS doc_id, sel.rank, sel.doc_id AS key, round(sel.score, 4) AS score
         |FROM sel WHERE rank <= 3
         |ORDER BY sel.qid, sel.rank""".stripMargin,

    "query_join_bool_dense" -> {
      // SHOULD-only: three distinct leading tokens, all optional;
      // score sums BM25 over the matched terms, >= 1 must match,
      // self excluded, top 3 per qid
      s"""$toksCte,
         |$postsCte,
         |lefts AS (
         |  SELECT doc_id AS qid, list_distinct(tokens[1:3]) AS opt
         |  FROM toks WHERE len(tokens) >= 3 AND doc_id % 40 = 0
         |), qt AS (
         |  SELECT qid, unnest(opt) AS term FROM lefts
         |), scored AS (
         |  SELECT q.qid, p.doc_id,
         |    sum(ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5)) * (p.tf * ${K1 + 1.0})
         |      / (p.tf + $K1 * (${1.0 - B} + $B * p.dl / st.avgdl))) AS score,
         |    count(*) AS nm
         |  FROM qt q JOIN posts p USING (term) JOIN dfs d USING (term), st
         |  WHERE p.doc_id <> q.qid
         |  GROUP BY 1, 2
         |), sel AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |  FROM scored WHERE nm >= 1
         |)
         |SELECT sel.qid AS doc_id, sel.rank, sel.doc_id AS key, round(sel.score, 4) AS score
         |FROM sel WHERE rank <= 3
         |ORDER BY sel.qid, sel.rank""".stripMargin
    },

    "query_join_bool" -> {
      // roles: required tokens[1] / optional distinct tokens[2:3]
      // minus required / excluded tokens[4] minus both; verify =
      // all-required AND no-excluded AND n_chars <= query doc's;
      // score sums BM25 over matched required+optional terms only
      s"""$toksCte,
         |$postsCte,
         |lefts AS (
         |  SELECT doc_id AS qid, n_chars AS max_chars, tokens[1] AS rq,
         |    list_filter(list_distinct(tokens[2:3]), x -> x <> tokens[1]) AS opt
         |  FROM toks WHERE len(tokens) >= 4 AND doc_id % 10 = 0
         |), lefts2 AS (
         |  SELECT l.*, list_filter([t.tokens[4]],
         |      x -> x <> l.rq AND NOT list_contains(l.opt, x)) AS exc
         |  FROM lefts l JOIN toks t ON t.doc_id = l.qid
         |), qt AS (
         |  SELECT qid, max_chars, rq AS term, 1 AS role FROM lefts2
         |  UNION ALL
         |  SELECT qid, max_chars, unnest(opt) AS term, 0 AS role FROM lefts2
         |  UNION ALL
         |  SELECT qid, max_chars, unnest(exc) AS term, -1 AS role FROM lefts2
         |), scored AS (
         |  SELECT q.qid, p.doc_id, any_value(q.max_chars) AS max_chars,
         |    sum(CASE WHEN q.role >= 0
         |      THEN ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5)) * (p.tf * ${K1 + 1.0})
         |        / (p.tf + $K1 * (${1.0 - B} + $B * p.dl / st.avgdl))
         |      ELSE 0 END) AS score,
         |    sum(CASE WHEN q.role = 1 THEN 1 ELSE 0 END) AS n_req_m,
         |    max(CASE WHEN q.role = -1 THEN 1 ELSE 0 END) AS has_exc
         |  FROM qt q JOIN posts p USING (term) JOIN dfs d USING (term), st
         |  WHERE p.doc_id <> q.qid
         |  GROUP BY 1, 2
         |), ver AS (
         |  SELECT s.qid, s.doc_id, s.score
         |  FROM scored s JOIN toks t ON t.doc_id = s.doc_id
         |  WHERE s.n_req_m = 1 AND s.has_exc = 0 AND t.n_chars <= s.max_chars
         |), sel AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |  FROM ver
         |)
         |SELECT sel.qid AS doc_id, sel.rank, sel.doc_id AS key, round(sel.score, 4) AS score
         |FROM sel WHERE rank <= 3
         |ORDER BY sel.qid, sel.rank""".stripMargin
    },

    "query_join_ast" -> {
      // nested AST per left doc: And(Or(phrase(t1 t2), all(t3, t4)),
      // And(Should(Boost(term(t6), 0.5)), And(Not(term(t5)),
      // range(n_chars <= query's)))). Gating is leaf-only (the scan
      // compiler's discipline): Or sums BOTH sides' leaf-gated
      // scores even when only one side matches — e.g. tf3>0 scores
      // even if tf4=0 keeps the all-terms side unmatched.
      s"""$toksCte,
         |$postsCte,
         |lefts AS (
         |  SELECT doc_id AS qid, n_chars AS max_chars,
         |    tokens[1] AS t1, tokens[2] AS t2, tokens[3] AS t3,
         |    tokens[4] AS t4, tokens[5] AS t5, tokens[6] AS t6
         |  FROM toks WHERE len(tokens) >= 6 AND doc_id % 10 = 0
         |), scored AS (
         |  SELECT l.qid, t.doc_id, t.n_chars, l.max_chars,
         |    len(list_filter(range(1, len(t.tokens)),
         |        i -> t.tokens[i] = l.t1 AND t.tokens[i + 1] = l.t2)) AS tf_p,
         |    len(list_filter(t.tokens, x -> x = l.t3)) AS tf3,
         |    len(list_filter(t.tokens, x -> x = l.t4)) AS tf4,
         |    len(list_filter(t.tokens, x -> x = l.t5)) AS tf5,
         |    len(list_filter(t.tokens, x -> x = l.t6)) AS tf6,
         |    len(t.tokens) AS dl, st.n, st.avgdl,
         |    coalesce(d1.df, 0) AS df1, coalesce(d2.df, 0) AS df2,
         |    coalesce(d3.df, 0) AS df3, coalesce(d4.df, 0) AS df4,
         |    coalesce(d6.df, 0) AS df6
         |  FROM lefts l
         |  CROSS JOIN toks t
         |  CROSS JOIN st
         |  LEFT JOIN dfs d1 ON d1.term = l.t1
         |  LEFT JOIN dfs d2 ON d2.term = l.t2
         |  LEFT JOIN dfs d3 ON d3.term = l.t3
         |  LEFT JOIN dfs d4 ON d4.term = l.t4
         |  LEFT JOIN dfs d6 ON d6.term = l.t6
         |  WHERE t.doc_id <> l.qid
         |), s2 AS (
         |  SELECT qid, doc_id,
         |    ${bm25Sql("tf_p", s"(${idfSql("df1")} + ${idfSql("df2")})")}
         |    + ${bm25Sql("tf3", idfSql("df3"))}
         |    + ${bm25Sql("tf4", idfSql("df4"))}
         |    + 0.5 * ${bm25Sql("tf6", idfSql("df6"))} AS score
         |  FROM scored
         |  WHERE (tf_p > 0 OR (tf3 > 0 AND tf4 > 0))
         |    AND tf5 = 0 AND n_chars BETWEEN 0 AND max_chars
         |), sel AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |  FROM s2
         |)
         |SELECT sel.qid AS doc_id, sel.rank, sel.doc_id AS key, round(sel.score, 4) AS score
         |FROM sel WHERE rank <= 3
         |ORDER BY sel.qid, sel.rank""".stripMargin
    },

    "query_join_ast_capped" -> {
      // any-of-two-leading-tokens per left doc, candidates capped to
      // the 8 LOWEST matching doc keys per query BEFORE scoring
      // (maxCandidatesPerShape's deterministic doc-key-order early
      // termination), self-exclusion and top-3 applied after — the
      // oracle replays the kept set exactly. Duplicate-token queries
      // (t1 = t2) dedup to a single ANY term.
      s"""$toksCte,
         |$postsCte,
         |lefts AS (
         |  SELECT doc_id AS qid, tokens[1] AS t1, tokens[2] AS t2
         |  FROM toks WHERE len(tokens) >= 2 AND doc_id % 20 = 0
         |), cand AS (
         |  SELECT l.qid, l.t1, l.t2, t.doc_id AS key, t.tokens,
         |    len(t.tokens) AS dl
         |  FROM lefts l JOIN toks t
         |    ON (list_contains(t.tokens, l.t1) OR list_contains(t.tokens, l.t2))
         |), capped AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY key) AS rn
         |    FROM cand
         |  ) WHERE rn <= 8
         |), parts AS (
         |  SELECT c.qid, c.key, c.t1, c.t2, c.dl, st.avgdl, st.n,
         |    len(list_filter(c.tokens, x -> x = c.t1)) AS tf1,
         |    len(list_filter(c.tokens, x -> x = c.t2)) AS tf2,
         |    d1.df AS df1, d2.df AS df2
         |  FROM capped c
         |  JOIN dfs d1 ON d1.term = c.t1
         |  JOIN dfs d2 ON d2.term = c.t2, st
         |), s2 AS (
         |  SELECT qid, key,
         |    ${bm25Sql("tf1", idfSql("df1"))}
         |    + CASE WHEN t2 <> t1 THEN ${bm25Sql("tf2", idfSql("df2"))}
         |      ELSE 0.0 END AS score
         |  FROM parts
         |), sel AS (
         |  SELECT qid, key, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, key) AS rank
         |  FROM s2 WHERE key <> qid
         |)
         |SELECT qid AS doc_id, CAST(rank AS BIGINT) AS rank, key,
         |  round(score, 4) AS score
         |FROM sel WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin
    },

    "query_join_ast_pruned" -> {
      // any-of-three-leading-tokens per left doc, impact-pruned on
      // the Spark side — EXACT semantics, so the oracle is the plain
      // unpruned BM25 any-terms join (pruning must be invisible in
      // the results). Duplicate tokens dedup to a single ANY term.
      s"""$toksCte,
         |$postsCte,
         |lefts AS (
         |  SELECT doc_id AS qid, tokens[1] AS t1, tokens[2] AS t2, tokens[3] AS t3
         |  FROM toks WHERE len(tokens) >= 3 AND doc_id % 20 = 0
         |), parts AS (
         |  SELECT l.qid, t.doc_id AS key, l.t1, l.t2, l.t3,
         |    len(t.tokens) AS dl, st.avgdl, st.n,
         |    len(list_filter(t.tokens, x -> x = l.t1)) AS tf1,
         |    len(list_filter(t.tokens, x -> x = l.t2)) AS tf2,
         |    len(list_filter(t.tokens, x -> x = l.t3)) AS tf3,
         |    coalesce(d1.df, 0) AS df1, coalesce(d2.df, 0) AS df2,
         |    coalesce(d3.df, 0) AS df3
         |  FROM lefts l
         |  JOIN toks t ON (list_contains(t.tokens, l.t1)
         |    OR list_contains(t.tokens, l.t2) OR list_contains(t.tokens, l.t3))
         |  LEFT JOIN dfs d1 ON d1.term = l.t1
         |  LEFT JOIN dfs d2 ON d2.term = l.t2
         |  LEFT JOIN dfs d3 ON d3.term = l.t3, st
         |), s2 AS (
         |  SELECT qid, key,
         |    ${bm25Sql("tf1", idfSql("df1"))}
         |    + CASE WHEN t2 <> t1 THEN ${bm25Sql("tf2", idfSql("df2"))}
         |      ELSE 0.0 END
         |    + CASE WHEN t3 <> t1 AND t3 <> t2 THEN ${bm25Sql("tf3", idfSql("df3"))}
         |      ELSE 0.0 END AS score
         |  FROM parts
         |), sel AS (
         |  SELECT qid, key, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, key) AS rank
         |  FROM s2 WHERE key <> qid
         |)
         |SELECT qid AS doc_id, CAST(rank AS BIGINT) AS rank, key,
         |  round(score, 4) AS score
         |FROM sel WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin
    },

    "query_join_ast_expand" -> expandOracleSql(10),
    // the impact-pruned twin: IDENTICAL exact semantics on a quarter
    // of the queries — a hash match proves the pruning invisible
    "query_join_ast_expand_pruned" -> expandOracleSql(40),
  )

  /** Exact-semantics oracle for the dictionary-expansion query join,
    * parameterized by the left-side modulus (shared by the exact and
    * impact-pruned entries — pruning must be invisible).
    * And(Boost(wildcard t1[0:2]*, 2.0), And(Or(fuzzy(t2, 1),
    * term(t3)), Should(wildcard lang e*))). Expansion leaves are
    * CONSTANT-SCORE (matched -> 1.0, scaled by boosts); with the
    * synthetic 31-term vocabulary the maxClauseCount cap never
    * binds, so dictionary expansion + doc match reduces to a
    * direct predicate over the doc's tokens (resp. lang value). */
  private def expandOracleSql(mod: Int): String = {
      s"""$toksCte,
         |$postsCte,
         |lefts AS (
         |  SELECT doc_id AS qid,
         |    tokens[1] AS t1, tokens[2] AS t2, tokens[3] AS t3
         |  FROM toks WHERE len(tokens) >= 4 AND doc_id % $mod = 0
         |), scored AS (
         |  SELECT l.qid, t.doc_id,
         |    len(list_filter(t.tokens, x -> x LIKE substr(l.t1, 1, 2) || '%')) > 0 AS w,
         |    len(list_filter(t.tokens, x -> levenshtein(x, l.t2) <= 1)) > 0 AS fz,
         |    len(list_filter(t.tokens, x -> x = l.t3)) AS tf3,
         |    (t.lang IS NOT NULL AND t.lang LIKE 'e%') AS kw,
         |    len(t.tokens) AS dl, st.n, st.avgdl, coalesce(d3.df, 0) AS df3
         |  FROM lefts l
         |  CROSS JOIN toks t
         |  CROSS JOIN st
         |  LEFT JOIN dfs d3 ON d3.term = l.t3
         |  WHERE t.doc_id <> l.qid
         |), s2 AS (
         |  SELECT qid, doc_id,
         |    2.0
         |    + (CASE WHEN fz THEN 1.0 ELSE 0.0 END)
         |    + ${bm25Sql("tf3", idfSql("df3"))}
         |    + (CASE WHEN kw THEN 1.0 ELSE 0.0 END) AS score
         |  FROM scored
         |  WHERE w AND (fz OR tf3 > 0)
         |), sel AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |  FROM s2
         |)
         |SELECT sel.qid AS doc_id, sel.rank, sel.doc_id AS key, round(sel.score, 4) AS score
         |FROM sel WHERE rank <= 3
         |ORDER BY sel.qid, sel.rank""".stripMargin
  }

  private val staticOracles2: Map[String, String] = Map(

    "query_join_ast_xfield" -> {
      // And(Or(term(t1), term(t2)), And(term(source = my src),
      // Should(Boost(wildcard source src1*, 0.5)))). The source term
      // is a SECONDARY-text-field leaf: tf 1, dl 1, avgdl 1 (every
      // source is one token), so its BM25 collapses to its idf over
      // the source dictionary; the wildcard is constant-score 0.5
      // when the doc's source starts with src1. n for both fields is
      // the corpus row count.
      s"""$toksCte,
         |$postsCte,
         |sdfs AS (SELECT source AS sval, count(*) AS sdf FROM documents GROUP BY 1),
         |lefts AS (
         |  SELECT doc_id AS qid, source AS src, tokens[1] AS t1, tokens[2] AS t2
         |  FROM toks WHERE len(tokens) >= 3 AND doc_id % 10 = 0
         |), scored AS (
         |  SELECT l.qid, t.doc_id,
         |    len(list_filter(t.tokens, x -> x = l.t1)) AS tf1,
         |    len(list_filter(t.tokens, x -> x = l.t2)) AS tf2,
         |    (t.source = l.src) AS smatch,
         |    (t.source LIKE 'src1%') AS w,
         |    len(t.tokens) AS dl, st.n, st.avgdl,
         |    coalesce(d1.df, 0) AS df1, coalesce(d2.df, 0) AS df2,
         |    coalesce(sd.sdf, 0) AS sdf
         |  FROM lefts l
         |  CROSS JOIN toks t
         |  CROSS JOIN st
         |  LEFT JOIN dfs d1 ON d1.term = l.t1
         |  LEFT JOIN dfs d2 ON d2.term = l.t2
         |  LEFT JOIN sdfs sd ON sd.sval = l.src
         |  WHERE t.doc_id <> l.qid
         |), s2 AS (
         |  SELECT qid, doc_id,
         |    ${bm25Sql("tf1", idfSql("df1"))}
         |    + ${bm25Sql("tf2", idfSql("df2"))}
         |    + ${idfSql("sdf")}
         |    + (CASE WHEN w THEN 0.5 ELSE 0.0 END) AS score
         |  FROM scored
         |  WHERE (tf1 > 0 OR tf2 > 0) AND smatch
         |), sel AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |  FROM s2
         |)
         |SELECT sel.qid AS doc_id, sel.rank, sel.doc_id AS key, round(sel.score, 4) AS score
         |FROM sel WHERE rank <= 3
         |ORDER BY sel.qid, sel.rank""".stripMargin
    },

    "search_hybrid_rrf" -> {
      val score =
        s"${bm25Sql("tf_0", idfSql("df_0"))} + ${bm25Sql("tf_1", idfSql("df_1"))}"
      s"""$toksCte,
         |dfs AS (SELECT ${dfSql("spark")} AS df_0, ${dfSql("join")} AS df_1 FROM (SELECT 1)),
         |scored AS (
         |  SELECT t.doc_id, len(t.tokens) AS dl, st.n, st.avgdl, dfs.*,
         |    ${tfSql("spark")} AS tf_0, ${tfSql("join")} AS tf_1
         |  FROM toks t, st, dfs
         |), s2 AS (
         |  SELECT doc_id, $score AS score,
         |    (CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS nm
         |  FROM scored
         |), lex AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_lex
         |  FROM s2 WHERE nm >= 1 ORDER BY score DESC, doc_id LIMIT 20
         |), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |vs AS (SELECT e.vec_id AS doc_id, list_cosine_similarity(e.v, q.qv) AS cos FROM e, q),
         |vec AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_vec
         |  FROM vs ORDER BY cos DESC, doc_id LIMIT 20
         |), fused AS (
         |  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         |    COALESCE(1.0::DOUBLE / (60 + rank_lex), 0.0::DOUBLE) +
         |      COALESCE(1.0::DOUBLE / (60 + rank_vec), 0.0::DOUBLE) AS rrf
         |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
         |)
         |SELECT doc_id, round(rrf, 6) AS rrf_score
         |FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 10)""".stripMargin
    }
  )
}
