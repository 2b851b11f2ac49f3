package graft.plans

import graft.search.{BoundScan, ScanSearch, SearchIndex, SearchQueries}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast, Expression, ExpressionInfo, InterpretedUnsafeProjection, Literal}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy, TakeOrderedAndProjectExec}
import org.apache.spark.sql.functions.{array_distinct, col, lit, slice}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** The SQL-visible surface (SURVEY §7 Phase 3): the library's search,
  * batch search, query join, vector search and corpus statistics as
  * six table functions, so thrift-server / Spark Connect SQL clients
  * reach them without the Scala API:
  *
  * {{{
  *   SELECT doc_id, score
  *   FROM graft_search('/data/sf0.001', 'spark join', 10)
  * }}}
  *
  * Each call form is one [[GraftCall]] value: its literal arguments,
  * output schema, size estimate and EXPLAIN text, read by the
  * function's builder through one literal reader ([[Args]]). Three
  * generic pieces, installed by [[graft.GraftExtensions]], run every
  * call:
  *  - [[GraftCallNode]], the one logical leaf;
  *  - [[GraftSearchStrategy]], which plans a `graft_search` call into
  *    [[GraftSearchExec]] (the same bound plan as the Scala `search`:
  *    one job, one stage) and any other call into [[GraftCallExec]];
  *  - [[GraftCallExec]], which runs the call's library frame and casts
  *    its columns to the leaf's output.
  *
  * A call looks its index up only at execution, so `EXPLAIN` never
  * builds an index; each call is one EXPLAIN-visible node, not a
  * scan+filter+sort+limit spread. Scale shape: identical to the Scala
  * path (this is a front-end, not a second engine).
  */
object GraftSearchPlan {

  /** Resolve a view/table name for a TABLE-form call. Temp views are
    * SESSION-scoped: the TVF builder validates the name against
    * `SparkSession.active` at analysis time, but the exec node
    * carries the session that planned the query — and cloned
    * sessions (streaming micro-batches, `cloneSession()`) share the
    * persistent catalog but NOT local temp views, so the two lookups
    * can diverge. Try the exec's session first, then fall back to
    * the active one, so a name that passed build-time validation
    * also resolves at execution. */
  private[plans] def resolveView(session: SparkSession, view: String): DataFrame =
    try session.table(view) catch {
      case e: AnalysisException =>
        val active = SparkSession.active
        if (active ne session) active.table(view) else throw e
    }

  /** The literal arguments of one table-function call; every failure
    * names the function's usage. Arguments are literals only — the
    * standard contract for source-defining table functions. */
  private final class Args(usage: String, args: Seq[Expression]) {
    def n: Int = args.length
    def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$usage: $msg")
    def str(i: Int, what: String): String = args(i) match {
      case Literal(v, StringType) if v != null => v.toString
      case e => fail(s"$what must be a string literal, got $e")
    }
    /** An integer of an integral type that fits an Int: a DATE or an
      * interval is an Int inside Spark, and narrowing a bigint would
      * wrap it. */
    def int(i: Int, what: String): Int = args(i) match {
      case Literal(v: Byte, ByteType) => v.toInt
      case Literal(v: Short, ShortType) => v.toInt
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType) if v.isValidInt => v.toInt
      case Literal(v: Long, LongType) => fail(s"$what $v does not fit an int")
      case e => fail(s"$what must be an integer literal, got $e")
    }
    /** Argument `i` when the call has it. */
    def opt[A](i: Int)(read: Int => A): Option[A] = if (i < n) Some(read(i)) else None
    /** Fail-fast resolution: the view must exist NOW and carry the
      * named columns (execution re-resolves by name, so the result
      * tracks the view's CURRENT contents, not a captured snapshot). */
    def view(name: String, what: String, cols: (String, String)*): Unit = {
      val fields = try SparkSession.active.table(name).schema.fieldNames catch {
        case e: AnalysisException => fail(s"$what '$name' does not resolve: ${e.getMessage}")
      }
      cols.foreach { case (c, colWhat) =>
        if (!fields.contains(c))
          fail(s"$colWhat '$c' is not a column of '$name' (has: ${fields.mkString(", ")})")
      }
    }
  }

  private def search(args: Seq[Expression]): LogicalPlan = {
    val a = new Args("graft_search(dir, raw_query, k)", args)
    if (a.n != 3) a.fail(s"expected 3 arguments, got ${a.n}")
    GraftCallNode(GraftSearchCall(a.str(0, "dir"), a.str(1, "raw_query"), a.int(2, "k")))
  }

  /** The flagship search JOIN (SURVEY §2.4 from SQL). Two arities:
    *  - `(dir, max_qid, n_terms, k)` — the corpus self-join by key
    *    prefix;
    *  - `(dir, left_view, qid_col, text_col, n_terms, k[, field
    *    [, min_match[, impact_pruning]]])` — the reference's PRIMARY
    *    shape (`queryJoin(other, ...)`, SearchableRDD.scala:257): the
    *    left side is the USER'S registered view/table. */
  private def queryJoin(args: Seq[Expression]): LogicalPlan = {
    val a = new Args("graft_query_join(dir, max_qid, n_terms, k) | graft_query_join(dir, " +
      "left_view, qid_col, text_col, n_terms, k[, field[, min_match[, impact_pruning]]])", args)
    GraftCallNode(a.n match {
      case 4 =>
        QueryJoinCall(a.str(0, "dir"), a.int(1, "max_qid"), a.int(2, "n_terms"), a.int(3, "k"))
      case n if n >= 6 && n <= 9 =>
        val dir = a.str(0, "dir")
        val (view, qidCol, textCol) = (a.str(1, "left_view"), a.str(2, "qid_col"), a.str(3, "text_col"))
        a.view(view, "left_view", qidCol -> "qid_col", textCol -> "text_col")
        QueryJoinTableCall(dir, view, qidCol, textCol, a.int(4, "n_terms"), a.int(5, "k"),
          a.opt(6)(a.str(_, "field")), a.opt(7)(a.int(_, "min_match")).getOrElse(1),
          a.opt(8)(a.int(_, "impact_pruning")).exists(_ != 0))
      case n => a.fail(s"expected 4 or 6-9 arguments, got $n")
    })
  }

  /** The batch search (SURVEY §2.2 from SQL). Two forms, told apart by
    * the THIRD argument's type (integer k = literal form; string
    * qid_col = TABLE form — the arities overlap at 5):
    *  - `(dir, queries, k[, field[, min_match]])` — literal
    *    ';'-separated query list;
    *  - `(dir, queries_view, qid_col, query_col, k[, field
    *    [, min_match]])` — the user's registered view/table of
    *    (id, query text) rows. */
  private def batchSearch(args: Seq[Expression]): LogicalPlan = {
    val a = new Args("graft_batch_search(dir, queries, k[, field[, min_match]]) | " +
      "graft_batch_search(dir, queries_view, qid_col, query_col, k[, field[, min_match]])", args)
    val isTable = a.n >= 5 &&
      (args(2) match { case Literal(_, StringType) => true; case _ => false })
    GraftCallNode(if (isTable) {
      if (a.n > 7) a.fail(s"expected 5-7 arguments, got ${a.n}")
      val dir = a.str(0, "dir")
      val (view, qidCol, queryCol) = (a.str(1, "queries_view"), a.str(2, "qid_col"), a.str(3, "query_col"))
      // a literal-form call that quotes k ('5' instead of 5) would
      // otherwise reroute to the TABLE form and die on an unrelated
      // "queries_view does not resolve"
      if (a.n == 5 && qidCol.nonEmpty && qidCol.forall(_.isDigit))
        a.fail(s"ambiguous call: third argument '$qidCol' is a STRING that " +
          "looks like k — in the literal form k must be an unquoted " +
          s"integer (graft_batch_search(dir, queries, $qidCol, field, " +
          "min_match)); in the TABLE form the third argument is qid_col")
      a.view(view, "queries_view", qidCol -> "qid_col", queryCol -> "query_col")
      BatchSearchTableCall(dir, view, qidCol, queryCol, a.int(4, "k"),
        a.opt(5)(a.str(_, "field")), a.opt(6)(a.int(_, "min_match")).getOrElse(1))
    } else {
      if (a.n < 3 || a.n > 5) a.fail(s"expected 3-5 arguments, got ${a.n}")
      BatchSearchCall(a.str(0, "dir"), a.str(1, "queries"), a.int(2, "k"),
        a.opt(3)(a.str(_, "field")), a.opt(4)(a.int(_, "min_match")).getOrElse(1))
    })
  }

  /** Vector search from SQL. Two arities, mirroring `graft_query_join`:
    *  - `(dir, n_queries, k)` — the corpus-prefix probe;
    *  - `(dir, query_view, qid_col, vec_col, k[, n_probe])` — the
    *    user's registered view/table of (id, vector) rows. */
  private def ann(args: Seq[Expression]): LogicalPlan = {
    val a = new Args("graft_ann(dir, n_queries, k) | graft_ann(dir, query_view, " +
      "qid_col, vec_col, k[, n_probe])", args)
    GraftCallNode(a.n match {
      case 3 => AnnCall(a.str(0, "dir"), a.int(1, "n_queries"), a.int(2, "k"))
      case 5 | 6 =>
        val dir = a.str(0, "dir")
        val (view, qidCol, vecCol) = (a.str(1, "query_view"), a.str(2, "qid_col"), a.str(3, "vec_col"))
        a.view(view, "query_view", qidCol -> "qid_col", vecCol -> "vec_col")
        AnnTableCall(dir, view, qidCol, vecCol, a.int(4, "k"),
          a.opt(5)(a.int(_, "n_probe")).getOrElse(4))
      case n => a.fail(s"expected 3 or 5-6 arguments, got $n")
    })
  }

  /** SQL access to the saved IVF-PQ store's lifecycle
    * (save/load/append/remove/compact). */
  private def annStore(args: Seq[Expression]): LogicalPlan = {
    val a = new Args("graft_ann_store(corpus_dir, store_path, n_queries, k)", args)
    if (a.n != 4) a.fail(s"expected 4 arguments, got ${a.n}")
    GraftCallNode(AnnStoreCall(a.str(0, "corpus_dir"), a.str(1, "store_path"),
      a.int(2, "n_queries"), a.int(3, "k")))
  }

  /** SURVEY §2.2 getTermCounts / getTermIDFs / getDocumentCounts from
    * SQL. */
  private def termStats(args: Seq[Expression]): LogicalPlan = {
    val a = new Args("graft_term_stats(dir[, field])", args)
    if (a.n < 1 || a.n > 2) a.fail(s"expected 1-2 arguments, got ${a.n}")
    GraftCallNode(TermStatsCall(a.str(0, "dir"), a.opt(1)(a.str(_, "field"))))
  }

  private def function(name: String, usage: String, build: Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftCallNode].getName, null, name, usage, ""), build)

  /** Entry point for [[graft.GraftExtensions]]. */
  def install(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    Seq(
      function("graft_search", "graft_search(dir, raw_query, k) - full-text " +
        "BM25 top-k over the corpus at `dir` using the library's search " +
        "index; raw_query uses the Parsed grammar.", search),
      function("graft_query_join", "graft_query_join(dir, max_qid, n_terms, k) - " +
        "search join: each document with key < max_qid queries the corpus " +
        "with its first n_terms distinct terms (self excluded) and keeps its " +
        "top-k BM25 hits; output (qid, rank, key, score). TABLE form: " +
        "graft_query_join(dir, left_view, qid_col, text_col, n_terms, k" +
        "[, field[, min_match[, impact_pruning]]]) - each row of the " +
        "registered view/table `left_view` queries the corpus with the " +
        "distinct terms among the first n_terms analyzed tokens of its " +
        "text_col (no self-exclusion; min_match <= 0 requires ALL terms; " +
        "impact_pruning <> 0 routes through the exact MaxScore pipeline " +
        "— identical results, bounded candidate volume on dense terms).", queryJoin),
      function("graft_batch_search", "graft_batch_search(dir, queries, k" +
        "[, field[, min_match]]) - batch term search: `queries` is a " +
        "';'-separated list of whitespace-separated terms; query i " +
        "(0-based qid) returns its top-k BM25 hits. `field` selects the " +
        "indexed text field to probe (default: the first); min_match <= 0 " +
        "requires ALL terms, n >= 1 at least n (default 1 = any). Output " +
        "(qid, rank, key, score). TABLE form: graft_batch_search(dir, " +
        "queries_view, qid_col, query_col, k[, field[, min_match]]) - " +
        "each row of the registered view/table runs its query_col text " +
        "as a batch query (analyzed with the index's query-time " +
        "analyzer).", batchSearch),
      function("graft_ann", "graft_ann(dir, n_queries, k) - approximate " +
        "nearest neighbors: the first n_queries corpus vectors each " +
        "retrieve their top-k cosine neighbors through the IVF probe. " +
        "Output (qid, rank, vec_id, cos). TABLE form: graft_ann(dir, " +
        "query_view, qid_col, vec_col, k[, n_probe]) - each row of the " +
        "registered view/table `query_view` retrieves the top-k cosine " +
        "neighbors of its vec_col vector (no self-exclusion; probe-cell " +
        "selection is fully distributed).", ann),
      function("graft_ann_store", "graft_ann_store(corpus_dir, store_path, " +
        "n_queries, k) - vector search against a PERSISTED IVF-PQ store " +
        "(the serving path): the first n_queries corpus vectors probe the " +
        "saved centroids/codebooks/codes at store_path with asymmetric-" +
        "distance shortlisting and exact re-rank. Output (qid, rank, " +
        "vec_id, cos).", annStore),
      function("graft_term_stats", "graft_term_stats(dir[, field]) - the " +
        "index's per-term statistics: document frequency, collection " +
        "frequency, and global IDF, optionally restricted to one indexed " +
        "field. Output (field, term, df, cf, idf).", termStats)
    ).foreach(ext.injectTableFunction)
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

/** One call of a `graft_*` table function: its literal arguments and
  * what planning needs to know before anything runs. */
sealed trait GraftCall {
  /** The result columns, in order; none is nullable. */
  def schema: StructType
  /** The optimizer's size estimate of the result. */
  def sizeInBytes: BigInt
  /** The physical node's line in `EXPLAIN`. */
  def explain: String
}

/** A call that runs as one library DataFrame (every call but
  * `graft_search`, which runs as its bound search plan). */
sealed trait GraftFrameCall extends GraftCall {
  /** The library frame of the call: the schema's columns, in order,
    * of any type that casts to the schema's. */
  def run(session: SparkSession): DataFrame
}

private[plans] object GraftCall {
  private def schemaOf(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })
  private[plans] val searchSchema: StructType = schemaOf("doc_id" -> LongType, "score" -> DoubleType)
  private[plans] val hitSchema: StructType =
    schemaOf("qid" -> LongType, "rank" -> LongType, "key" -> LongType, "score" -> DoubleType)
  private[plans] val annSchema: StructType =
    schemaOf("qid" -> LongType, "rank" -> LongType, "vec_id" -> LongType, "cos" -> DoubleType)
  private[plans] val statsSchema: StructType = schemaOf("field" -> StringType, "term" -> StringType,
    "df" -> LongType, "cf" -> LongType, "idf" -> DoubleType)

  /** ≤ queries × k rows of (long, long, long, double). */
  private[plans] def perQuery(queries: Long, k: Int): BigInt =
    BigInt(queries.max(1L)) * k.max(1) * 32
  /** The query side of a TABLE form is unknown until execution: a
    * deliberately large estimate, so the optimizer never broadcasts
    * the result on the strength of a guess (the k-bounded per-query
    * output can still be broadcast explicitly by the user). */
  private[plans] val unknownSize: BigInt = BigInt(Long.MaxValue) >> 8

  private[plans] def opts(field: Option[String], minMatch: Int): String =
    field.fold("")(f => s", field=$f") + s", minMatch=$minMatch"

  /** `field`, or the index's first text field; it must be a text field. */
  private[plans] def textField(idx: SearchIndex, field: Option[String], fn: String): String = {
    val f = field.getOrElse(idx.spec.textFields.head)
    require(idx.spec.textFields.contains(f),
      s"$fn: '$f' is not an indexed text field (has: ${idx.spec.textFields.mkString(", ")})")
    f
  }
}
import GraftCall._

/** `graft_search(dir, raw_query, k)`: analyze → score → top-k over the
  * build-once cached index ([[graft.search.SearchQueries.indexFor]]).
  * The raw string goes through the index's
  * [[graft.dsl.QueryConstructor]], so the full Parsed grammar —
  * +required -excluded "phrases" wildcards ranges boosts — is
  * available from SQL. */
final case class GraftSearchCall(dir: String, rawQuery: String, k: Int) extends GraftCall {
  def schema: StructType = searchSchema
  // k rows of (long, double): always broadcast-sized
  def sizeInBytes: BigInt = BigInt(k.toLong.max(1L) * 24L)
  def explain: String = s"GraftSearch dir=$dir, query='$rawQuery', k=$k"
}

/** `graft_query_join(dir, max_qid, n_terms, k)`, the SQL front door of
  * [[graft.search.SearchIndex.queryJoin]]: left-side selection
  * (key < maxQid), per-row term extraction (first nTerms distinct
  * analyzed tokens), the batch postings probe (self excluded,
  * minMatch 1) and the per-query top-k, as the library's own
  * distributed join plan; the maxQid-bounded left makes broadcastHits
  * sound. */
final case class QueryJoinCall(dir: String, maxQid: Int, nTerms: Int, k: Int)
    extends GraftFrameCall {
  def schema: StructType = hitSchema
  def sizeInBytes: BigInt = perQuery(maxQid, k)
  def explain: String = s"GraftQueryJoin dir=$dir, maxQid=$maxQid, nTerms=$nTerms, k=$k"
  def run(session: SparkSession): DataFrame = {
    val idx = SearchQueries.indexFor(session, dir)
    val field = idx.spec.textFields.head
    val keyCol = idx.spec.keyCol
    idx.queryJoin(idx.docs.where(col(keyCol) < maxQid), keyCol,
        array_distinct(slice(col(SearchIndex.tokensColName(field)), 1, nTerms)),
        field, k = k, minMatch = 1, excludeSelf = true, broadcastHits = true)
      .select(col(keyCol), col("rank"), col("key"), col("score"))
  }
}

/** The TABLE form of `graft_query_join`, the reference's primary
  * `queryJoin(other, ...)` shape (SearchableRDD.scala:257): each row
  * of the user's view (re-resolved by name at execution) queries the
  * corpus with the distinct terms among the first nTerms tokens of its
  * text column (the index's query-time analyzer), probed as ONE
  * distributed batch. No self-exclusion: the view's qids are opaque,
  * not corpus keys; hits are NOT broadcast — the left's size is the
  * user's business. */
final case class QueryJoinTableCall(dir: String, leftView: String, qidCol: String,
    textCol: String, nTerms: Int, k: Int, field: Option[String], minMatch: Int,
    impactPruning: Boolean) extends GraftFrameCall {
  def schema: StructType = hitSchema
  def sizeInBytes: BigInt = unknownSize
  def explain: String =
    s"GraftQueryJoinTable dir=$dir, left=$leftView, qid=$qidCol, text=$textCol, " +
      s"nTerms=$nTerms, k=$k" + opts(field, minMatch) +
      (if (impactPruning) ", impactPruning" else "")
  def run(session: SparkSession): DataFrame = {
    val idx = SearchQueries.indexFor(session, dir)
    val f = textField(idx, field, "graft_query_join")
    val an = graft.analysis.Analyzers(idx.spec.queryAnalyzer)
    idx.queryJoin(GraftSearchPlan.resolveView(session, leftView), qidCol,
        array_distinct(slice(an.tokensCol(col(textCol)), 1, nTerms)),
        f, k = k, minMatch = minMatch, impactPruning = impactPruning)
      .select(col(qidCol), col("rank"), col("key"), col("score"))
  }
}

/** `graft_batch_search(dir, queries, k[, field[, min_match]])`, the SQL
  * front door of [[graft.search.SearchIndex.batchSearch]]: the
  * ';'-separated query list becomes the (qid, field, terms, min_match)
  * query frame (qid = 0-based position, terms analyzed on the driver
  * with the index's query-time analyzer), probed as ONE distributed
  * plan with per-query top-k. */
final case class BatchSearchCall(dir: String, queries: String, k: Int,
    field: Option[String], minMatch: Int) extends GraftFrameCall {
  def schema: StructType = hitSchema
  def sizeInBytes: BigInt = perQuery(queries.count(_ == ';') + 1L, k)
  def explain: String = s"GraftBatchSearch dir=$dir, queries='$queries', k=$k" +
    opts(field, minMatch)
  def run(session: SparkSession): DataFrame = {
    val idx = SearchQueries.indexFor(session, dir)
    val f = textField(idx, field, "graft_batch_search")
    val an = graft.analysis.Analyzers(idx.spec.queryAnalyzer)
    val qs = queries.split(";").toSeq.zipWithIndex.map { case (q, i) =>
      (i.toLong, f, q.trim.split("\\s+").toSeq.flatMap(an.analyze), minMatch)
    }
    import idx.spark.implicits._
    idx.batchSearch(qs.toDF("qid", "field", "terms", "min_match"), k)
      .select("qid", "rank", "key", "score")
  }
}

/** The TABLE form of `graft_batch_search`: the user's query table is
  * re-resolved by name at execution; each row's query text is analyzed
  * IN THE PLAN (the index's query-time analyzer as a Column pipeline —
  * no driver collect of the query side) and the whole set probes the
  * postings index as one distributed batch with per-query top-k. */
final case class BatchSearchTableCall(dir: String, queriesView: String, qidCol: String,
    queryCol: String, k: Int, field: Option[String], minMatch: Int) extends GraftFrameCall {
  def schema: StructType = hitSchema
  def sizeInBytes: BigInt = unknownSize
  def explain: String = s"GraftBatchSearchTable dir=$dir, queries=$queriesView, " +
    s"qid=$qidCol, query=$queryCol, k=$k" + opts(field, minMatch)
  def run(session: SparkSession): DataFrame = {
    val idx = SearchQueries.indexFor(session, dir)
    val f = textField(idx, field, "graft_batch_search")
    val an = graft.analysis.Analyzers(idx.spec.queryAnalyzer)
    val qdf = GraftSearchPlan.resolveView(session, queriesView).select(
      col(qidCol).cast("long").as("qid"), lit(f).as("field"),
      an.tokensCol(col(queryCol)).as("terms"), lit(minMatch).as("min_match"))
    idx.batchSearch(qdf, k).select("qid", "rank", "key", "score")
  }
}

/** `graft_ann(dir, n_queries, k)`: the library's IVF probe (coarse
  * cells from the cached fitted quantizer, candidate cells probed,
  * exact cosine rerank, bounded per-query top-k), recorded for the
  * oracle like the Scala `ann_ivf` entry. */
final case class AnnCall(dir: String, nQueries: Int, k: Int) extends GraftFrameCall {
  def schema: StructType = annSchema
  def sizeInBytes: BigInt = perQuery(nQueries, k)
  def explain: String = s"GraftAnn dir=$dir, nQueries=$nQueries, k=$k"
  def run(session: SparkSession): DataFrame =
    graft.pipeline.Similarity.ivfTopK(session, dir, nQueries, k, recordAs = Some("ann_sql"))
      .select("qid", "rank", "vec_id", "cos")
}

/** The TABLE form of `graft_ann`, over the USER'S query table
  * (re-resolved by name at execution):
  * [[graft.pipeline.Similarity.ivfTopKFor]] selects probe cells per
  * row with a codegen'd expression over the broadcast-literal
  * centroids (never a driver collect of the query side), joins
  * candidates on the cell and reranks by exact cosine with a bounded
  * per-query top-k. No self-exclusion — the view's qids are opaque,
  * not corpus keys. */
final case class AnnTableCall(dir: String, queryView: String, qidCol: String,
    vecCol: String, k: Int, nProbe: Int) extends GraftFrameCall {
  def schema: StructType = annSchema
  def sizeInBytes: BigInt = unknownSize
  def explain: String = s"GraftAnnTable dir=$dir, queries=$queryView, qid=$qidCol, " +
    s"vec=$vecCol, k=$k, nProbe=$nProbe"
  def run(session: SparkSession): DataFrame =
    graft.pipeline.Similarity.ivfTopKFor(session, dir,
        GraftSearchPlan.resolveView(session, queryView), qidCol, vecCol, k = k, nProbe = nProbe)
      .select("qid", "rank", "vec_id", "cos")
}

/** `graft_ann_store(corpus_dir, store_path, n_queries, k)`, the SQL
  * serving path of the saved IVF-PQ index:
  * [[graft.pipeline.Similarity.loadedIvfPqTopK]] (crash-recovery
  * check, frozen centroids/codebooks/codes read from parquet, ADC
  * shortlist, exact re-rank). Records NOTHING: the call cannot know
  * whether it is the harness entry or an unrelated call in the same
  * process (a spec with different parameters, a walkthrough probing a
  * mutated store), so a constant tag here would defeat the run
  * registry's keyed protection — the entry that wants an oracle
  * records its own parameters explicitly via
  * [[graft.pipeline.Similarity.recordPqStoreRun]]. */
final case class AnnStoreCall(dir: String, store: String, nQueries: Int, k: Int)
    extends GraftFrameCall {
  def schema: StructType = annSchema
  def sizeInBytes: BigInt = perQuery(nQueries, k)
  def explain: String = s"GraftAnnStore dir=$dir, store=$store, nQueries=$nQueries, k=$k"
  def run(session: SparkSession): DataFrame =
    graft.pipeline.Similarity.loadedIvfPqTopK(session, dir, store, nQueries, k, recordAs = None)
      .select("qid", "rank", "vec_id", "cos")
}

/** `graft_term_stats(dir[, field])`: the index's vocabulary-bounded
  * (field, term, df, cf, idf) frame — a distributed projection of the
  * persisted stats table joined with the broadcast per-field doc
  * counts, never a driver collect. */
final case class TermStatsCall(dir: String, field: Option[String]) extends GraftFrameCall {
  def schema: StructType = statsSchema
  // vocabulary-sized, unknown at plan time: a deliberately LARGE
  // estimate so the optimizer never auto-broadcasts a joined web-scale
  // dictionary (users broadcast() explicitly when their vocab is small)
  def sizeInBytes: BigInt = BigInt(1L) << 40
  def explain: String = s"GraftTermStats dir=$dir" + field.fold("")(f => s", field=$f")
  def run(session: SparkSession): DataFrame = {
    val idx = SearchQueries.indexFor(session, dir)
    val fields = idx.spec.textFields ++ idx.spec.keywordFields
    field.foreach { f =>
      require(fields.contains(f),
        s"graft_term_stats: '$f' is not an indexed field (has: ${fields.mkString(", ")})")
    }
    val base = idx.getTermStats
    field.fold(base)(f => base.where(col("field") === f))
      .select("field", "term", "df", "cf", "idf")
  }
}

/** The logical leaf of every `graft_*` call. `output` is a FIELD so
  * plan transforms/copies keep the analysis-time expression ids (a
  * def/val regenerating AttributeReferences per instance breaks
  * downstream binding). */
final case class GraftCallNode(call: GraftCall, output: Seq[Attribute]) extends LeafNode {
  override def computeStats(): Statistics = Statistics(sizeInBytes = call.sizeInBytes)
  override def simpleString(maxFields: Int): String = s"GraftCallNode ${call.explain}"
}

object GraftCallNode {
  def apply(call: GraftCall): GraftCallNode =
    GraftCallNode(call, DataTypeUtils.toAttributes(call.schema))
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

/** Plans the graft leaves: a Scala search, its plain-column `Project`,
  * a SQL `graft_search` call and any other `graft_*` call. */
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
    case GraftCallNode(call: GraftSearchCall, out) => GraftSearchExec(call, out) :: Nil
    case GraftCallNode(call: GraftFrameCall, out) => GraftCallExec(call, out) :: Nil
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
final case class GraftSearchExec(call: GraftSearchCall, output: Seq[Attribute])
    extends BoundSearchExec {
  override def simpleString(maxFields: Int): String = call.explain

  // `session` is SparkPlan's own captured session (set at planning)
  @transient private lazy val plan: (BoundScan, Seq[Expression]) = {
    val idx = SearchQueries.indexFor(session, call.dir)
    val hits = idx.searchPlan(idx.constructQuery(call.rawQuery, idx.spec.textFields.head), call.k)
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

/** The physical operator of every `graft_*` call but `graft_search`:
  * one EXPLAIN node whose execution runs the call's library frame
  * against the build-once cached index — a front-end, not a bypass —
  * and casts its columns, by position, to the node's output. */
final case class GraftCallExec(call: GraftFrameCall, output: Seq[Attribute]) extends LeafExecNode {
  override def simpleString(maxFields: Int): String = call.explain
  override protected def doExecute(): RDD[InternalRow] = {
    val df = call.run(session).toDF(output.map(_.name): _*)
    df.select(output.map(a => col(a.name).cast(a.dataType)): _*).queryExecution.toRdd
  }
}
