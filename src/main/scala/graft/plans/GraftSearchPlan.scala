package graft.plans

import graft.search.{BoundScan, ScanSearch}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Cast, Expression, ExpressionInfo, InterpretedUnsafeProjection, Literal}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy, TakeOrderedAndProjectExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** SQL-visible search surface (SURVEY §7 Phase 3): the flagship
  * match+score+limit pipeline as ONE EXPLAIN-visible table function,
  * so thrift-server / Spark Connect SQL clients can run full-text
  * search without the Scala API:
  *
  * {{{
  *   SELECT doc_id, score
  *   FROM graft_search('/data/sf0.001', 'spark join', 10)
  * }}}
  *
  * Three pieces, all installed by [[graft.GraftExtensions]]:
  *  - the `graft_search(dir, raw_query, k)` TABLE function, resolving
  *    to a [[GraftSearchNode]] logical leaf;
  *  - [[GraftSearchStrategy]], planning that leaf into the fused
  *    [[GraftSearchExec]] probe operator (`EXPLAIN` shows
  *    `GraftSearch dir=..., query=..., k=...` — the whole probe is
  *    one visible node, not a scan+filter+sort+limit spread);
  *  - [[GraftSearchExec]] itself, which executes the library's
  *    postings-probe top-k (the same build-once cached index the
  *    Scala entries share — first use pays the index build, every
  *    later SQL query probes warm artifacts) and streams the k-row
  *    result out as its RDD.
  *
  * The raw string goes through the index's [[graft.dsl
  * .QueryConstructor]] ([[graft.search.SearchIndex.searchRaw]]), so
  * the full Parsed grammar — +required -excluded "phrases" wildcards
  * ranges boosts — is available from SQL. Scale shape: identical to
  * the Scala path (this is a front-end, not a second engine).
  */
object GraftSearchPlan {

  /** Resolve a view/table name for a TABLE-form exec. Temp views are
    * SESSION-scoped: the TVF builder validates the name against
    * `SparkSession.active` at analysis time, but the exec node
    * carries the session that planned the query — and cloned
    * sessions (streaming micro-batches, `cloneSession()`) share the
    * persistent catalog but NOT local temp views, so the two lookups
    * can diverge. Try the exec's session first, then fall back to
    * the active one, so a name that passed build-time validation
    * also resolves at execution. */
  private[plans] def resolveView(session: SparkSession,
      view: String): org.apache.spark.sql.DataFrame =
    try session.table(view) catch {
      case e: org.apache.spark.sql.AnalysisException =>
        val active = SparkSession.active
        if (active ne session) active.table(view) else throw e
    }

  private val fnName = FunctionIdentifier("graft_search")

  private val info = new ExpressionInfo(GraftSearchNode.getClass.getName,
    null, "graft_search", "graft_search(dir, raw_query, k) - full-text " +
      "BM25 top-k over the corpus at `dir` using the library's search " +
      "index; raw_query uses the Parsed grammar.", "")

  /** TVF builder: literal args only (dir, query, k) — the standard
    * contract for source-defining table functions. */
  private def build(args: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"graft_search(dir, raw_query, k): $msg")
    if (args.length != 3) fail(s"expected 3 arguments, got ${args.length}")
    def str(e: Expression, what: String): String = e match {
      case Literal(v, StringType) if v != null => v.toString
      case _ => fail(s"$what must be a string literal, got $e")
    }
    val dir = str(args(0), "dir")
    val raw = str(args(1), "raw_query")
    val k = args(2) match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case e => fail(s"k must be an integer literal, got $e")
    }
    GraftSearchNode(dir, raw, k)
  }

  private val joinFnName = FunctionIdentifier("graft_query_join")

  private val joinInfo = new ExpressionInfo(GraftQueryJoinNode.getClass.getName,
    null, "graft_query_join", "graft_query_join(dir, max_qid, n_terms, k) - " +
      "search join: each document with key < max_qid queries the corpus " +
      "with its first n_terms distinct terms (self excluded) and keeps its " +
      "top-k BM25 hits; output (qid, rank, key, score). TABLE form: " +
      "graft_query_join(dir, left_view, qid_col, text_col, n_terms, k" +
      "[, field[, min_match[, impact_pruning]]]) - each row of the " +
      "registered view/table `left_view` queries the corpus with the " +
      "distinct terms among the first n_terms analyzed tokens of its " +
      "text_col (no self-exclusion; min_match <= 0 requires ALL terms; " +
      "impact_pruning <> 0 routes through the exact MaxScore pipeline " +
      "— identical results, bounded candidate volume on dense terms).", "")

  /** TVF builder for the flagship search JOIN (SURVEY §2.4 from SQL).
    * Two arities:
    *  - `(dir, max_qid, n_terms, k)` — the corpus self-join by key
    *    prefix (the r11 form);
    *  - `(dir, left_view, qid_col, text_col, n_terms, k[, field
    *    [, min_match]])` — the reference's PRIMARY shape
    *    (`queryJoin(other, ...)`, SearchableRDD.scala:257): the left
    *    side is the USER'S registered view/table, resolved here at
    *    build time so an unknown view or missing column fails during
    *    analysis, not at execution. */
  private def buildJoin(args: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      "graft_query_join(dir, max_qid, n_terms, k) | graft_query_join(dir, " +
        "left_view, qid_col, text_col, n_terms, k[, field[, min_match" +
        s"[, impact_pruning]]]): $msg")
    def str(e: Expression, what: String): String = e match {
      case Literal(v, StringType) if v != null => v.toString
      case other => fail(s"$what must be a string literal, got $other")
    }
    def int(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => fail(s"$what must be an integer literal, got $other")
    }
    args.length match {
      case 4 =>
        GraftQueryJoinNode(str(args.head, "dir"), int(args(1), "max_qid"),
          int(args(2), "n_terms"), int(args(3), "k"))
      case n if n >= 6 && n <= 9 =>
        val dir = str(args.head, "dir")
        val view = str(args(1), "left_view")
        val qidCol = str(args(2), "qid_col")
        val textCol = str(args(3), "text_col")
        // fail-fast resolution: the view must exist NOW and carry the
        // named columns (execution re-resolves by name, so the result
        // tracks the view's CURRENT contents, not a captured snapshot)
        val leftSchema = try {
          SparkSession.active.table(view).schema
        } catch {
          case e: org.apache.spark.sql.AnalysisException =>
            fail(s"left_view '$view' does not resolve: ${e.getMessage}")
        }
        Seq(qidCol -> "qid_col", textCol -> "text_col").foreach {
          case (c, what) =>
            if (!leftSchema.fieldNames.contains(c))
              fail(s"$what '$c' is not a column of '$view' " +
                s"(has: ${leftSchema.fieldNames.mkString(", ")})")
        }
        GraftQueryJoinTableNode(dir, view, qidCol, textCol,
          int(args(4), "n_terms"), int(args(5), "k"),
          if (n >= 7) Some(str(args(6), "field")) else None,
          if (n >= 8) int(args(7), "min_match") else 1,
          impactPruning = n >= 9 && int(args(8), "impact_pruning") != 0)
      case n => fail(s"expected 4 or 6-9 arguments, got $n")
    }
  }

  private val batchFnName = FunctionIdentifier("graft_batch_search")

  private val batchInfo = new ExpressionInfo(GraftBatchSearchNode.getClass.getName,
    null, "graft_batch_search", "graft_batch_search(dir, queries, k" +
      "[, field[, min_match]]) - batch term search: `queries` is a " +
      "';'-separated list of whitespace-separated terms; query i " +
      "(0-based qid) returns its top-k BM25 hits. `field` selects the " +
      "indexed text field to probe (default: the first); min_match <= 0 " +
      "requires ALL terms, n >= 1 at least n (default 1 = any). Output " +
      "(qid, rank, key, score). TABLE form: graft_batch_search(dir, " +
      "queries_view, qid_col, query_col, k[, field[, min_match]]) - " +
      "each row of the registered view/table runs its query_col text " +
      "as a batch query (analyzed with the index's query-time " +
      "analyzer).", "")

  /** TVF builder for the batch search (SURVEY §2.2 from SQL). Two
    * forms, disambiguated by the THIRD argument's type (integer k =
    * literal form; string qid_col = TABLE form — the arities overlap
    * at 5):
    *  - `(dir, queries, k[, field[, min_match]])` — literal
    *    ';'-separated query list;
    *  - `(dir, queries_view, qid_col, query_col, k[, field
    *    [, min_match]])` — the user's registered view/table of
    *    (id, query text) rows, resolved at build time. */
  private def buildBatch(args: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      "graft_batch_search(dir, queries, k[, field[, min_match]]) | " +
        "graft_batch_search(dir, queries_view, qid_col, query_col, k" +
        s"[, field[, min_match]]): $msg")
    def str(e: Expression, what: String): String = e match {
      case Literal(v, StringType) if v != null => v.toString
      case other => fail(s"$what must be a string literal, got $other")
    }
    def int(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => fail(s"$what must be an integer literal, got $other")
    }
    val isTable = args.length >= 5 &&
      (args(2) match { case Literal(_, StringType) => true; case _ => false })
    // The arities overlap at 5 and the forms are told apart by the
    // third argument's TYPE — so a literal-form call that quotes k
    // ('5' instead of 5) would silently reroute to the TABLE form
    // and die on an unrelated "queries_view does not resolve". Catch
    // the integer-shaped string here with a targeted message.
    if (isTable && args.length == 5) {
      val third = args(2) match { case Literal(v, StringType) => v.toString }
      if (third.nonEmpty && third.forall(_.isDigit))
        fail(s"ambiguous call: third argument '$third' is a STRING that " +
          "looks like k — in the literal form k must be an unquoted " +
          s"integer (graft_batch_search(dir, queries, $third, field, " +
          "min_match)); in the TABLE form the third argument is qid_col")
    }
    if (isTable) {
      if (args.length > 7) fail(s"expected 5-7 arguments, got ${args.length}")
      val dir = str(args.head, "dir")
      val view = str(args(1), "queries_view")
      val qidCol = str(args(2), "qid_col")
      val queryCol = str(args(3), "query_col")
      val schema = try {
        SparkSession.active.table(view).schema
      } catch {
        case e: org.apache.spark.sql.AnalysisException =>
          fail(s"queries_view '$view' does not resolve: ${e.getMessage}")
      }
      Seq(qidCol -> "qid_col", queryCol -> "query_col").foreach {
        case (c, what) =>
          if (!schema.fieldNames.contains(c))
            fail(s"$what '$c' is not a column of '$view' " +
              s"(has: ${schema.fieldNames.mkString(", ")})")
      }
      GraftBatchSearchTableNode(dir, view, qidCol, queryCol,
        int(args(4), "k"),
        field = if (args.length >= 6) Some(str(args(5), "field")) else None,
        minMatch = if (args.length >= 7) int(args(6), "min_match") else 1)
    } else {
      if (args.length < 3 || args.length > 5)
        fail(s"expected 3-5 arguments, got ${args.length}")
      GraftBatchSearchNode(str(args.head, "dir"), str(args(1), "queries"),
        int(args(2), "k"),
        field = if (args.length >= 4) Some(str(args(3), "field")) else None,
        minMatch = if (args.length >= 5) int(args(4), "min_match") else 1)
    }
  }

  private val annFnName = FunctionIdentifier("graft_ann")

  private val annInfo = new ExpressionInfo(GraftAnnNode.getClass.getName,
    null, "graft_ann", "graft_ann(dir, n_queries, k) - approximate " +
      "nearest neighbors: the first n_queries corpus vectors each " +
      "retrieve their top-k cosine neighbors through the IVF probe. " +
      "Output (qid, rank, vec_id, cos). TABLE form: graft_ann(dir, " +
      "query_view, qid_col, vec_col, k[, n_probe]) - each row of the " +
      "registered view/table `query_view` retrieves the top-k cosine " +
      "neighbors of its vec_col vector (no self-exclusion; probe-cell " +
      "selection is fully distributed).", "")

  /** TVF builder for the ANN surface (vector search from SQL). Two
    * arities, mirroring `graft_query_join`:
    *  - `(dir, n_queries, k)` — the corpus-prefix probe (the r11 form);
    *  - `(dir, query_view, qid_col, vec_col, k[, n_probe])` — the
    *    production shape: the query side is the USER'S registered
    *    view/table of (id, vector) rows, resolved here at build time
    *    so an unknown view or missing column fails during analysis. */
  private def buildAnn(args: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      "graft_ann(dir, n_queries, k) | graft_ann(dir, query_view, " +
        s"qid_col, vec_col, k[, n_probe]): $msg")
    def str(e: Expression, what: String): String = e match {
      case Literal(v, StringType) if v != null => v.toString
      case other => fail(s"$what must be a string literal, got $other")
    }
    def int(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => fail(s"$what must be an integer literal, got $other")
    }
    args.length match {
      case 3 =>
        GraftAnnNode(str(args.head, "dir"), int(args(1), "n_queries"),
          int(args(2), "k"))
      case n if n == 5 || n == 6 =>
        val dir = str(args.head, "dir")
        val view = str(args(1), "query_view")
        val qidCol = str(args(2), "qid_col")
        val vecCol = str(args(3), "vec_col")
        val schema = try {
          SparkSession.active.table(view).schema
        } catch {
          case e: org.apache.spark.sql.AnalysisException =>
            fail(s"query_view '$view' does not resolve: ${e.getMessage}")
        }
        Seq(qidCol -> "qid_col", vecCol -> "vec_col").foreach {
          case (c, what) =>
            if (!schema.fieldNames.contains(c))
              fail(s"$what '$c' is not a column of '$view' " +
                s"(has: ${schema.fieldNames.mkString(", ")})")
        }
        GraftAnnTableNode(dir, view, qidCol, vecCol, int(args(4), "k"),
          if (n == 6) int(args(5), "n_probe") else 4)
      case n => fail(s"expected 3 or 5-6 arguments, got $n")
    }
  }

  private val annStoreFnName = FunctionIdentifier("graft_ann_store")

  private val annStoreInfo = new ExpressionInfo(GraftAnnStoreNode.getClass.getName,
    null, "graft_ann_store", "graft_ann_store(corpus_dir, store_path, " +
      "n_queries, k) - vector search against a PERSISTED IVF-PQ store " +
      "(the serving path): the first n_queries corpus vectors probe the " +
      "saved centroids/codebooks/codes at store_path with asymmetric-" +
      "distance shortlisting and exact re-rank. Output (qid, rank, " +
      "vec_id, cos).", "")

  /** TVF builder for the persisted-store ANN surface — SQL access to
    * the saved IVF-PQ index lifecycle (save/load/append/remove/
    * compact): literal args (corpus_dir, store_path, n_queries, k). */
  private def buildAnnStore(args: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"graft_ann_store(corpus_dir, store_path, n_queries, k): $msg")
    if (args.length != 4) fail(s"expected 4 arguments, got ${args.length}")
    def str(e: Expression, what: String): String = e match {
      case Literal(v, StringType) if v != null => v.toString
      case other => fail(s"$what must be a string literal, got $other")
    }
    def int(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => fail(s"$what must be an integer literal, got $other")
    }
    GraftAnnStoreNode(str(args.head, "corpus_dir"), str(args(1), "store_path"),
      int(args(2), "n_queries"), int(args(3), "k"))
  }

  private val statsFnName = FunctionIdentifier("graft_term_stats")

  private val statsInfo = new ExpressionInfo(GraftTermStatsNode.getClass.getName,
    null, "graft_term_stats", "graft_term_stats(dir[, field]) - the " +
      "index's per-term statistics: document frequency, collection " +
      "frequency, and global IDF, optionally restricted to one indexed " +
      "field. Output (field, term, df, cf, idf).", "")

  /** TVF builder for the stats surface (SURVEY §2.2 getTermCounts /
    * getTermIDFs / getDocumentCounts from SQL): literal args
    * (dir[, field]). */
  private def buildStats(args: Seq[Expression]): LogicalPlan = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"graft_term_stats(dir[, field]): $msg")
    if (args.isEmpty || args.length > 2)
      fail(s"expected 1-2 arguments, got ${args.length}")
    def str(e: Expression, what: String): String = e match {
      case Literal(v, StringType) if v != null => v.toString
      case other => fail(s"$what must be a string literal, got $other")
    }
    GraftTermStatsNode(str(args.head, "dir"),
      if (args.length == 2) Some(str(args(1), "field")) else None)
  }

  /** Entry point for [[graft.GraftExtensions]]. */
  def install(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectTableFunction((fnName, info, build))
    ext.injectTableFunction((joinFnName, joinInfo, buildJoin))
    ext.injectTableFunction((batchFnName, batchInfo, buildBatch))
    ext.injectTableFunction((annFnName, annInfo, buildAnn))
    ext.injectTableFunction((annStoreFnName, annStoreInfo, buildAnnStore))
    ext.injectTableFunction((statsFnName, statsInfo, buildStats))
    ext.injectPlannerStrategy(_ => new GraftSearchStrategy)
  }

  /** Runtime registration for a session that was built WITHOUT
    * `spark.sql.extensions` (interactive sessions you already hold):
    * installs the strategy through the public experimental hook. The
    * TVF itself needs build-time injection; sessions installing at
    * runtime use [[graft.search.SearchIndex.searchRaw]] directly. */
  def installStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[GraftSearchStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ new GraftSearchStrategy

  /** The DataFrame of one scan-path search: a lazy
    * [[GraftScanSearchNode]] over the index's search schema, planned
    * by [[GraftSearchStrategy]] (installed here on a session built
    * without [[graft.GraftExtensions]]). */
  def searchFrame(search: ScanSearch): DataFrame = {
    val spark = search.index.spark
    installStrategy(spark)
    GraftColumnBridge.frame(spark,
      GraftScanSearchNode(search, DataTypeUtils.toAttributes(search.index.searchSchema)))
  }
}

/** Logical leaf for a `graft_search` call: the whole match+score+
  * limit pipeline as one node. Output is (doc_id bigint, score
  * double) — carried as a FIELD so plan transforms/copies preserve
  * the analysis-time expression ids (a def/val regenerating
  * AttributeReferences per instance breaks downstream binding). */
final case class GraftSearchNode(dir: String, rawQuery: String, k: Int,
    output: Seq[Attribute] = GraftSearchNode.freshOutput())
    extends LeafNode {
  // k rows of (long, double): the node is always broadcast-sized
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(k.toLong.max(1L) * 24L))
  override def simpleString(maxFields: Int): String =
    s"GraftSearchNode dir=$dir, query='$rawQuery', k=$k"
}

object GraftSearchNode {
  private[plans] def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("doc_id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
}

/** Logical leaf of one scan-path [[graft.search.SearchIndex.search]]:
  * (index, query, program, IDFs, k), planned as a whole into a
  * [[GraftScanSearchExec]]. Output: the index's search schema, fresh
  * attributes per search; a self-join of one search result gets a new
  * instance for its second side. */
final case class GraftScanSearchNode(search: ScanSearch, output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override def maxRows: Option[Long] = Some(search.k.toLong)
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = EstimationUtils.getSizePerRow(output) * search.k)
  override def simpleString(maxFields: Int): String =
    s"GraftSearchNode query=${search.query}, k=${search.k}"
}

/** Logical leaf for a `graft_query_join` call: the whole left-build +
  * term-extraction + batch-probe + per-query top-k as one node.
  * Output (qid, rank, key, score); same output-as-field discipline as
  * [[GraftSearchNode]]. */
final case class GraftQueryJoinNode(dir: String, maxQid: Int, nTerms: Int,
    k: Int, output: Seq[Attribute] = GraftQueryJoinNode.freshOutput())
    extends LeafNode {
  // ≤ maxQid * k rows of (long, long, long, double)
  override def computeStats(): Statistics =
    Statistics(sizeInBytes =
      BigInt(maxQid.toLong.max(1L) * k.toLong.max(1L) * 32L))
  override def simpleString(maxFields: Int): String =
    s"GraftQueryJoinNode dir=$dir, maxQid=$maxQid, nTerms=$nTerms, k=$k"
}

object GraftQueryJoinNode {
  private[plans] def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("qid", LongType, nullable = false)(),
    AttributeReference("rank", LongType, nullable = false)(),
    AttributeReference("key", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
}

/** Logical leaf for a `graft_batch_search` call: the whole query-set
  * build + batch postings probe + per-query top-k as one node.
  * `field` None = the index's first text field; `minMatch` <= 0 = ALL
  * terms required. */
final case class GraftBatchSearchNode(dir: String, queries: String, k: Int,
    field: Option[String] = None, minMatch: Int = 1,
    output: Seq[Attribute] = GraftBatchSearchNode.freshOutput())
    extends LeafNode {
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(
      (queries.count(_ == ';') + 1L).max(1L) * k.toLong.max(1L) * 32L))
  override def simpleString(maxFields: Int): String =
    s"GraftBatchSearchNode dir=$dir, queries='$queries', k=$k" +
      field.map(f => s", field=$f").getOrElse("") + s", minMatch=$minMatch"
}

/** Logical leaf for the TABLE form of `graft_query_join`: the user's
  * registered view/table is the left side; each of its rows queries
  * the corpus with the distinct terms among the first nTerms analyzed
  * tokens of its text column. Carried by NAME (re-resolved at
  * execution), validated at build time. */
final case class GraftQueryJoinTableNode(dir: String, leftView: String,
    qidCol: String, textCol: String, nTerms: Int, k: Int,
    field: Option[String], minMatch: Int, impactPruning: Boolean = false,
    output: Seq[Attribute] = GraftQueryJoinNode.freshOutput())
    extends LeafNode {
  // |left| is unknown until execution — report a deliberately large
  // estimate so the optimizer never broadcasts this node's result on
  // the strength of a guess (the k-bounded per-query output can still
  // be broadcast explicitly by the user)
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(Long.MaxValue) >> 8)
  override def simpleString(maxFields: Int): String =
    s"GraftQueryJoinTableNode dir=$dir, left=$leftView, qid=$qidCol, " +
      s"text=$textCol, nTerms=$nTerms, k=$k" +
      field.map(f => s", field=$f").getOrElse("") + s", minMatch=$minMatch" +
      (if (impactPruning) ", impactPruning" else "")
}

object GraftBatchSearchNode {
  private[plans] def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("qid", LongType, nullable = false)(),
    AttributeReference("rank", LongType, nullable = false)(),
    AttributeReference("key", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
}

/** Logical leaf for a `graft_ann` call: query-set selection + IVF
  * probe + exact rerank + per-query top-k as one node. */
final case class GraftAnnNode(dir: String, nQueries: Int, k: Int,
    output: Seq[Attribute] = GraftAnnNode.freshOutput())
    extends LeafNode {
  override def computeStats(): Statistics =
    Statistics(sizeInBytes =
      BigInt(nQueries.toLong.max(1L) * k.toLong.max(1L) * 32L))
  override def simpleString(maxFields: Int): String =
    s"GraftAnnNode dir=$dir, nQueries=$nQueries, k=$k"
}

object GraftAnnNode {
  private[plans] def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("qid", LongType, nullable = false)(),
    AttributeReference("rank", LongType, nullable = false)(),
    AttributeReference("vec_id", LongType, nullable = false)(),
    AttributeReference("cos", DoubleType, nullable = false)())
}

/** Logical leaf for a `graft_ann_store` call: ADC probe + exact
  * re-rank against a PERSISTED IVF-PQ store. */
final case class GraftAnnStoreNode(dir: String, store: String,
    nQueries: Int, k: Int,
    output: Seq[Attribute] = GraftAnnNode.freshOutput())
    extends LeafNode {
  override def computeStats(): Statistics =
    Statistics(sizeInBytes =
      BigInt(nQueries.toLong.max(1L) * k.toLong.max(1L) * 32L))
  override def simpleString(maxFields: Int): String =
    s"GraftAnnStoreNode dir=$dir, store=$store, nQueries=$nQueries, k=$k"
}

/** Logical leaf for the TABLE form of `graft_batch_search`: the
  * user's registered view/table supplies (qid, query text) rows;
  * each row's text is analyzed with the index's query-time analyzer
  * and probed as one distributed batch. Carried by NAME (re-resolved
  * at execution), validated at build time. */
final case class GraftBatchSearchTableNode(dir: String, queriesView: String,
    qidCol: String, queryCol: String, k: Int,
    field: Option[String], minMatch: Int,
    output: Seq[Attribute] = GraftBatchSearchNode.freshOutput())
    extends LeafNode {
  // |queries| unknown until execution — same deliberately large
  // estimate as the other TABLE-form nodes
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(Long.MaxValue) >> 8)
  override def simpleString(maxFields: Int): String =
    s"GraftBatchSearchTableNode dir=$dir, queries=$queriesView, " +
      s"qid=$qidCol, query=$queryCol, k=$k" +
      field.map(f => s", field=$f").getOrElse("") + s", minMatch=$minMatch"
}

/** Logical leaf for the TABLE form of `graft_ann`: the user's
  * registered view/table is the query side; each row's vec_col vector
  * retrieves its top-k cosine neighbors through the fully distributed
  * IVF probe. Carried by NAME (re-resolved at execution), validated
  * at build time. */
final case class GraftAnnTableNode(dir: String, queryView: String,
    qidCol: String, vecCol: String, k: Int, nProbe: Int,
    output: Seq[Attribute] = GraftAnnNode.freshOutput())
    extends LeafNode {
  // |queries| is unknown until execution — same deliberately large
  // estimate as GraftQueryJoinTableNode so the optimizer never
  // broadcasts this node's result on a guess
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(Long.MaxValue) >> 8)
  override def simpleString(maxFields: Int): String =
    s"GraftAnnTableNode dir=$dir, queries=$queryView, qid=$qidCol, " +
      s"vec=$vecCol, k=$k, nProbe=$nProbe"
}

/** Logical leaf for a `graft_term_stats` call: the index's per-term
  * (df, cf, idf) statistics, optionally restricted to one field. */
final case class GraftTermStatsNode(dir: String, field: Option[String],
    output: Seq[Attribute] = GraftTermStatsNode.freshOutput())
    extends LeafNode {
  // vocabulary-sized, unknown at plan time: report a deliberately
  // LARGE estimate so the optimizer never auto-broadcasts a joined
  // web-scale dictionary (users broadcast() explicitly when they
  // know their vocab is small)
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(1L) << 40)
  override def simpleString(maxFields: Int): String =
    s"GraftTermStatsNode dir=$dir" + field.map(f => s", field=$f").getOrElse("")
}

object GraftTermStatsNode {
  private[plans] def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("field", StringType, nullable = false)(),
    AttributeReference("term", StringType, nullable = false)(),
    AttributeReference("df", LongType, nullable = false)(),
    AttributeReference("cf", LongType, nullable = false)(),
    AttributeReference("idf", DoubleType, nullable = false)())
}

/** Plans [[GraftSearchNode]] / [[GraftQueryJoinNode]] /
  * [[GraftBatchSearchNode]] / [[GraftAnnNode]] into the fused
  * operators. */
final class GraftSearchStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraftScanSearchNode(search, out) =>
      GraftScanSearchExec(search, out) :: Nil
    // plain columns of a search (`lightSearch`): a template of its own
    // prunes the scan and keeps the one-stage collect
    case Project(list, GraftScanSearchNode(search, _))
        if list.forall(_.isInstanceOf[Attribute]) && search.columns.isEmpty =>
      val out = list.map(_.toAttribute)
      GraftScanSearchExec(search.copy(columns = Some(out.map(_.name))), out) :: Nil
    case GraftSearchNode(dir, raw, k, out) =>
      GraftSearchExec(dir, raw, k, out) :: Nil
    case GraftQueryJoinNode(dir, maxQid, nTerms, k, out) =>
      GraftQueryJoinExec(dir, maxQid, nTerms, k, out) :: Nil
    case GraftQueryJoinTableNode(dir, view, qidCol, textCol, nTerms, k,
        field, minMatch, pruning, out) =>
      GraftQueryJoinTableExec(dir, view, qidCol, textCol, nTerms, k,
        field, minMatch, pruning, out) :: Nil
    case GraftBatchSearchNode(dir, queries, k, field, minMatch, out) =>
      GraftBatchSearchExec(dir, queries, k, field, minMatch, out) :: Nil
    case GraftBatchSearchTableNode(dir, view, qidCol, queryCol, k,
        field, minMatch, out) =>
      GraftBatchSearchTableExec(dir, view, qidCol, queryCol, k,
        field, minMatch, out) :: Nil
    case GraftAnnNode(dir, nQueries, k, out) =>
      GraftAnnExec(dir, nQueries, k, out) :: Nil
    case GraftAnnTableNode(dir, view, qidCol, vecCol, k, nProbe, out) =>
      GraftAnnTableExec(dir, view, qidCol, vecCol, k, nProbe, out) :: Nil
    case GraftAnnStoreNode(dir, store, nQueries, k, out) =>
      GraftAnnStoreExec(dir, store, nQueries, k, out) :: Nil
    case GraftTermStatsNode(dir, field, out) =>
      GraftTermStatsExec(dir, field, out) :: Nil
    case _ => Nil
  }
}

/** A search node that runs one bound search plan
  * ([[graft.search.SearchIndex.scanPlan]]): `executeCollect` runs a
  * TakeOrderedAndProject root as [[TopKCollect]] (per-partition heaps
  * merged on the driver: one job, one stage) over the scan stage, which
  * for a plan bound from a template is that template's generated code
  * with the search's own references ([[graft.search.BoundStage]]: no
  * Java source generated per search), and any other root as its own
  * collect; `doExecute` is the plan's RDD (for a consumer above the
  * node), and `cut`, when set, projects each row (expressions bound to
  * the plan's output). */
sealed trait BoundSearchExec extends LeafExecNode {
  /** The plan this node runs, with its scan stage: bound once per
    * node, shared with no other search. */
  protected def scan: BoundScan
  protected def cut: Option[Seq[Expression]]

  /** The physical plan this node runs. */
  private[graft] def bound: SparkPlan = scan.plan

  override def executeCollect(): Array[InternalRow] = {
    val rows = bound match {
      case t: TakeOrderedAndProjectExec if t.offset == 0 =>
        TopKCollect(t, scan.stage.fold(t.child.execute())(_.execute()))
      case b => b.executeCollect()
    }
    cut.fold(rows) { c =>
      val project = InterpretedUnsafeProjection.createProjection(c)
      rows.map(r => project(r).copy())
    }
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  override protected def doExecute(): RDD[InternalRow] = cut.fold(bound.execute()) { c =>
    bound.execute().mapPartitions { rows =>
      val project = InterpretedUnsafeProjection.createProjection(c)
      rows.map(project)
    }
  }
}

/** The Scala front door's search operator: `EXPLAIN` shows the query
  * and k, with the bound plan as its inner child. */
final case class GraftScanSearchExec(search: ScanSearch, output: Seq[Attribute])
    extends BoundSearchExec {
  @transient override protected lazy val scan: BoundScan = search.plan()
  override protected def cut: Option[Seq[Expression]] = None
  override def innerChildren: Seq[QueryPlan[_]] = Seq(bound)
  override def simpleString(maxFields: Int): String =
    s"GraftSearch query=${search.query}, k=${search.k}" +
      search.columns.fold("")(cs => s", columns=${cs.mkString("[", ", ", "]")}")
}

/** The fused index-probe physical operator of SQL `graft_search`: one
  * EXPLAIN node covering analyze → score → top-k. Execution looks up
  * the build-once cached index ([[graft.search.SearchQueries.indexFor]])
  * and runs the same bound plan as the Scala `search`
  * ([[graft.search.SearchIndex.searchPlan]]), cutting (key, score)
  * from its k rows: `SELECT ... FROM graft_search(...)` collects in one
  * job and one stage. The index lookup waits for execution, so
  * `EXPLAIN` never builds an index. */
final case class GraftSearchExec(dir: String, rawQuery: String, k: Int,
    output: Seq[Attribute]) extends BoundSearchExec {
  override def simpleString(maxFields: Int): String =
    s"GraftSearch dir=$dir, query='$rawQuery', k=$k"

  // `session` is SparkPlan's own captured session (set at planning)
  @transient private lazy val plan: (BoundScan, Seq[Expression]) = {
    val idx = graft.search.SearchQueries.indexFor(session, dir)
    val hits = idx.searchPlan(idx.constructQuery(rawQuery, idx.spec.textFields.head), k)
    // (key, score) are cut from the k hit rows AFTER the search plan:
    // a projection inside it would prune the scan stage's columns and
    // give SQL searches a generated class of their own, not the one
    // every Scala-side search already shares
    val out = hits.plan.output
    def field(name: String): Expression = {
      val i = out.indexWhere(_.name == name)
      BoundReference(i, out(i).dataType, out(i).nullable)
    }
    val tz = Some(session.sessionState.conf.sessionLocalTimeZone)
    (hits, Seq(Cast(field(idx.spec.keyCol), LongType, tz), Cast(field("score"), DoubleType, tz)))
  }
  override protected def scan: BoundScan = plan._1
  override protected def cut: Option[Seq[Expression]] = Some(plan._2)
}

/** The fused search-JOIN physical operator — the SQL front door for
  * the flagship [[graft.search.SearchIndex.queryJoin]]: one EXPLAIN
  * node covering left-side selection (key < maxQid), per-row term
  * extraction (first nTerms distinct analyzed tokens), the batch
  * postings probe (self excluded, minMatch 1), and the per-query
  * top-k. Executes the library's own distributed join plan against
  * the build-once cached index — a front-end, not a bypass; the
  * maxQid-bounded left makes broadcastHits sound. */
/** The fused batch-search physical operator — the SQL front door for
  * [[graft.search.SearchIndex.batchSearch]]: the ';'-separated query
  * list becomes the (qid, field, terms, min_match=1) query frame
  * (qid = 0-based position, terms analyzed with the index's
  * query-time analyzer, field = the first text field), probed as ONE
  * distributed plan with per-query top-k. */
final case class GraftBatchSearchExec(dir: String, queries: String, k: Int,
    fieldOpt: Option[String], minMatch: Int,
    output: Seq[Attribute]) extends LeafExecNode {
  override def simpleString(maxFields: Int): String =
    s"GraftBatchSearch dir=$dir, queries='$queries', k=$k" +
      fieldOpt.map(f => s", field=$f").getOrElse("") + s", minMatch=$minMatch"
  override protected def doExecute(): RDD[InternalRow] = {
    val idx = graft.search.SearchQueries.indexFor(session, dir)
    val field = fieldOpt.getOrElse(idx.spec.textFields.head)
    require(idx.spec.textFields.contains(field),
      s"graft_batch_search: '$field' is not an indexed text field " +
        s"(has: ${idx.spec.textFields.mkString(", ")})")
    val an = graft.analysis.Analyzers(idx.spec.queryAnalyzer)
    val qs = queries.split(";").toSeq.zipWithIndex.map { case (q, i) =>
      (i.toLong, field, q.trim.split("\\s+").toSeq.flatMap(an.analyze), minMatch)
    }
    import idx.spark.implicits._
    val qdf = qs.toDF("qid", "field", "terms", "min_match")
    idx.batchSearch(qdf, k)
      .select(col("qid").cast("long"), col("rank").cast("long"),
        col("key").cast("long"), col("score").cast("double"))
      .queryExecution.toRdd
  }
}

/** The TABLE-form batch-search physical operator: the user's query
  * table is re-resolved by name at execution; each row's query text
  * is analyzed IN THE PLAN (the index's query-time analyzer as a
  * Column pipeline — no driver collect of the query side, unlike the
  * literal form's tiny fixed list) and the whole set probes the
  * postings index as one distributed batch with per-query top-k. */
final case class GraftBatchSearchTableExec(dir: String, queriesView: String,
    qidCol: String, queryCol: String, k: Int,
    fieldOpt: Option[String], minMatch: Int,
    output: Seq[Attribute]) extends LeafExecNode {
  override def simpleString(maxFields: Int): String =
    s"GraftBatchSearchTable dir=$dir, queries=$queriesView, qid=$qidCol, " +
      s"query=$queryCol, k=$k" +
      fieldOpt.map(f => s", field=$f").getOrElse("") + s", minMatch=$minMatch"
  override protected def doExecute(): RDD[InternalRow] = {
    import org.apache.spark.sql.functions.lit
    val idx = graft.search.SearchQueries.indexFor(session, dir)
    val field = fieldOpt.getOrElse(idx.spec.textFields.head)
    require(idx.spec.textFields.contains(field),
      s"graft_batch_search: '$field' is not an indexed text field " +
        s"(has: ${idx.spec.textFields.mkString(", ")})")
    val an = graft.analysis.Analyzers(idx.spec.queryAnalyzer)
    val qdf = GraftSearchPlan.resolveView(session, queriesView).select(
      col(qidCol).cast("long").as("qid"),
      lit(field).as("field"),
      an.tokensCol(col(queryCol)).as("terms"),
      lit(minMatch).as("min_match"))
    idx.batchSearch(qdf, k)
      .select(col("qid").cast("long"), col("rank").cast("long"),
        col("key").cast("long"), col("score").cast("double"))
      .queryExecution.toRdd
  }
}

/** The TABLE-form search-JOIN physical operator — the SQL front door
  * for the reference's primary `queryJoin(other, ...)` shape
  * (SearchableRDD.scala:257): the left side is the USER'S view,
  * re-resolved by name at execution; each row's text column is
  * analyzed with the index's query-time analyzer and the distinct
  * terms among its first nTerms tokens probe the postings index as
  * ONE distributed batch (no self-exclusion: the view's qids are opaque,
  * not corpus keys; hits are NOT broadcast — the left's size is the
  * user's business). */
final case class GraftQueryJoinTableExec(dir: String, leftView: String,
    qidCol: String, textCol: String, nTerms: Int, k: Int,
    fieldOpt: Option[String], minMatch: Int, impactPruning: Boolean,
    output: Seq[Attribute]) extends LeafExecNode {
  override def simpleString(maxFields: Int): String =
    s"GraftQueryJoinTable dir=$dir, left=$leftView, qid=$qidCol, " +
      s"text=$textCol, nTerms=$nTerms, k=$k" +
      fieldOpt.map(f => s", field=$f").getOrElse("") + s", minMatch=$minMatch" +
      (if (impactPruning) ", impactPruning" else "")
  override protected def doExecute(): RDD[InternalRow] = {
    import org.apache.spark.sql.functions.array_distinct
    val idx = graft.search.SearchQueries.indexFor(session, dir)
    val field = fieldOpt.getOrElse(idx.spec.textFields.head)
    require(idx.spec.textFields.contains(field),
      s"graft_query_join: '$field' is not an indexed text field " +
        s"(has: ${idx.spec.textFields.mkString(", ")})")
    val an = graft.analysis.Analyzers(idx.spec.queryAnalyzer)
    val left = GraftSearchPlan.resolveView(session, leftView)
    idx.queryJoin(left, qidCol,
        array_distinct(org.apache.spark.sql.functions.slice(
          an.tokensCol(col(textCol)), 1, nTerms)),
        field, k = k, minMatch = minMatch, impactPruning = impactPruning)
      .select(col(qidCol).cast("long").as("qid"), col("rank").cast("long"),
        col("key").cast("long"), col("score").cast("double"))
      .queryExecution.toRdd
  }
}

/** The fused ANN physical operator — vector search from SQL: executes
  * the library's IVF probe (coarse cells from the cached fitted
  * quantizer, candidate cells probed, exact cosine rerank, bounded
  * per-query top-k) and records the run for the oracle like the
  * Scala `ann_ivf` entry does. */
final case class GraftAnnExec(dir: String, nQueries: Int, k: Int,
    output: Seq[Attribute]) extends LeafExecNode {
  override def simpleString(maxFields: Int): String =
    s"GraftAnn dir=$dir, nQueries=$nQueries, k=$k"
  override protected def doExecute(): RDD[InternalRow] =
    graft.pipeline.Similarity.ivfTopK(session, dir, nQueries, k,
        recordAs = Some("ann_sql"))
      .select(col("qid").cast("long"), col("rank").cast("long"),
        col("vec_id").cast("long"), col("cos").cast("double"))
      .queryExecution.toRdd
}

/** The TABLE-form ANN physical operator — vector search from SQL over
  * the USER'S query table, re-resolved by name at execution. Executes
  * [[graft.pipeline.Similarity.ivfTopKFor]]: probe-cell selection is
  * a per-row codegen'd expression over the broadcast-literal
  * centroids (never a driver collect of the query side), candidates
  * come from one cell equi-join, and the rerank is exact cosine with
  * a bounded per-query top-k. No self-exclusion — the view's qids are
  * opaque, not corpus keys. */
final case class GraftAnnTableExec(dir: String, queryView: String,
    qidCol: String, vecCol: String, k: Int, nProbe: Int,
    output: Seq[Attribute]) extends LeafExecNode {
  override def simpleString(maxFields: Int): String =
    s"GraftAnnTable dir=$dir, queries=$queryView, qid=$qidCol, " +
      s"vec=$vecCol, k=$k, nProbe=$nProbe"
  override protected def doExecute(): RDD[InternalRow] =
    graft.pipeline.Similarity.ivfTopKFor(session, dir,
        GraftSearchPlan.resolveView(session, queryView), qidCol, vecCol,
        k = k, nProbe = nProbe)
      .select(col("qid").cast("long"), col("rank").cast("long"),
        col("vec_id").cast("long"), col("cos").cast("double"))
      .queryExecution.toRdd
}

/** The persisted-store ANN physical operator — SQL serving path for
  * the saved IVF-PQ index: executes [[graft.pipeline.Similarity
  * .loadedIvfPqTopK]] (crash-recovery check, frozen centroids/
  * codebooks/codes read from parquet, ADC shortlist, exact re-rank).
  * Records NOTHING: the exec cannot know whether it is the harness
  * entry or an unrelated call in the same process (a spec with
  * different parameters, a walkthrough probing a mutated store), so
  * a constant tag here would defeat the run registry's keyed
  * protection — the entry that wants an oracle records its own
  * parameters explicitly via [[graft.pipeline.Similarity
  * .recordPqStoreRun]], mirroring `recordIvfRun` for `graft_ann`. */
final case class GraftAnnStoreExec(dir: String, store: String,
    nQueries: Int, k: Int,
    output: Seq[Attribute]) extends LeafExecNode {
  override def simpleString(maxFields: Int): String =
    s"GraftAnnStore dir=$dir, store=$store, nQueries=$nQueries, k=$k"
  override protected def doExecute(): RDD[InternalRow] =
    graft.pipeline.Similarity.loadedIvfPqTopK(session, dir, store,
        nQueries, k, recordAs = None)
      .select(col("qid").cast("long"), col("rank").cast("long"),
        col("vec_id").cast("long"), col("cos").cast("double"))
      .queryExecution.toRdd
}

/** The fused stats physical operator: streams the index's
  * vocabulary-bounded (field, term, df, cf, idf) frame as its RDD —
  * a distributed projection of the persisted stats table joined with
  * the broadcast per-field doc counts, never a driver collect. */
final case class GraftTermStatsExec(dir: String, field: Option[String],
    output: Seq[Attribute]) extends LeafExecNode {
  override def simpleString(maxFields: Int): String =
    s"GraftTermStats dir=$dir" + field.map(f => s", field=$f").getOrElse("")
  override protected def doExecute(): RDD[InternalRow] = {
    val idx = graft.search.SearchQueries.indexFor(session, dir)
    field.foreach { f =>
      require(idx.spec.textFields.contains(f) ||
          idx.spec.keywordFields.contains(f),
        s"graft_term_stats: '$f' is not an indexed field (has: " +
          s"${(idx.spec.textFields ++ idx.spec.keywordFields).mkString(", ")})")
    }
    val base = idx.getTermStats
    val sliced = field.map(f => base.where(col("field") === f)).getOrElse(base)
    sliced.select(col("field").cast("string"), col("term").cast("string"),
        col("df").cast("long"), col("cf").cast("long"),
        col("idf").cast("double"))
      .queryExecution.toRdd
  }
}

final case class GraftQueryJoinExec(dir: String, maxQid: Int, nTerms: Int,
    k: Int, output: Seq[Attribute]) extends LeafExecNode {
  override def simpleString(maxFields: Int): String =
    s"GraftQueryJoin dir=$dir, maxQid=$maxQid, nTerms=$nTerms, k=$k"
  override protected def doExecute(): RDD[InternalRow] = {
    import org.apache.spark.sql.functions.{array_distinct, slice}
    val idx = graft.search.SearchQueries.indexFor(session, dir)
    val field = idx.spec.textFields.head
    val keyCol = idx.spec.keyCol
    val left = idx.docs.where(col(keyCol) < maxQid)
    idx.queryJoin(left, keyCol,
        array_distinct(slice(col(
          graft.search.SearchIndex.tokensColName(field)), 1, nTerms)),
        field, k = k, minMatch = 1, excludeSelf = true,
        broadcastHits = true)
      .select(col(keyCol).cast("long"), col("rank").cast("long"),
        col("key").cast("long"), col("score").cast("double"))
      .queryExecution.toRdd
  }
}
