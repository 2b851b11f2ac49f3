package graft.sources

import java.util.OptionalLong

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportOrdering, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.dsl.{And, EqFilter, ExistsFilter, GeFilter, GtFilter, InSetFilter, LeFilter, LtFilter, MissingFilter, Parsed, SearchQuery}

/** DataSource V2 front door for the search surface (SURVEY §7 Phase
  * 3's "general SQL front door beyond the TVFs"):
  *
  * {{{
  *   spark.read.format("graft")
  *     .option("dir", "/data/corpus").option("query", "spark join")
  *     .option("k", "10").load()
  *     .where($"lang" === "en" && $"n_chars".between(100, 400))
  * }}}
  *
  * The relation is the top-k result of the raw query (Parsed grammar,
  * the index's first text field) over the corpus at `dir`: all
  * document columns plus `score`. Catalyst WHERE clauses on
  * non-text columns are PUSHED INTO THE INDEX PROBE
  * ([[SupportsPushDownFilters]] → the library's DSL filter nodes, the
  * same Occur.FILTER discipline as the reference's Filter.scala
  * hierarchy), a `LIMIT` tightens k ([[SupportsPushDownLimit]]), an
  * `ORDER BY score DESC LIMIT n` collapses into the probe's own k
  * ([[SupportsPushDownTopN]] — fully pushed: the scan emits rows in
  * score-descending order, so Spark drops the Sort entirely), and
  * unused columns are pruned ([[SupportsPushDownRequiredColumns]]) —
  * EXPLAIN shows the scan's `GraftScan ... PushedFilters: [...]`
  * description, and filters arriving before the top-k is exactly what
  * makes the pushdown semantically load-bearing (top-k OF the
  * filtered set, not a filter over the top-k).
  *
  * Scale shape: the probe itself runs as the library's ordinary
  * distributed plan against the build-once cached index
  * ([[graft.search.SearchQueries.indexFor]]); only the k result rows
  * pass through the driver into the scan partition, so the scan's
  * driver state is k-bounded by construction (k is required to be
  * explicit for any scan without a LIMIT to push). The scan also
  * REPORTS its k-bounded statistics ([[SupportsReportStatistics]]),
  * so joining graft hits against a corpus-sized table auto-plans a
  * broadcast join with no hint, and its score-descending output order
  * ([[SupportsReportOrdering]]), so a bare `ORDER BY score DESC`
  * costs no Sort node.
  *
  * ORDERING CAVEAT (multi-partition reads): when k exceeds
  * `graft.dsv2.rows.per.partition` the scan emits contiguous
  * rank-range partitions, and both the fully-pushed TopN and the
  * reported ordering describe order WITHIN each partition plus the
  * partition INDEX order. Consumers that preserve partition order —
  * collect, CollectLimit, write without repartition — see the global
  * (score DESC, key ASC) order; an explicit downstream
  * `repartition`/`coalesce(shuffle=true)` destroys it, exactly as it
  * would after any sorted source. A downstream `ORDER BY` re-sorts
  * and is always safe (pinned in GraftDataSourceSpec).
  *
  * The source is also WRITABLE ({{{df.write.format("graft")
  * .option("dir", d).mode("overwrite").save()}}}): rows land in
  * `dir/documents.parquet` (Append appends; Overwrite replaces) via
  * the V1 insert fallback ([[V1Write]] — the write is a
  * driver-orchestrated parquet job, the idiomatic shape for a sink
  * whose "write" is itself a Spark action). A subsequent read
  * rebuilds the index automatically: [[CorpusRegistry]] keys every
  * cached index by a file-listing content signature, so the write
  * invalidates stale caches with no explicit hook. A `score` column
  * in the incoming frame is dropped (it is the READ side's synthetic
  * column — round-tripping a read back into a write stays lossless
  * on document columns). */
final class GraftDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def dirOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("dir")).getOrElse(throw new IllegalArgumentException(
      "graft source requires option 'dir' (corpus directory)"))

  /** Read path (a 'query' option): all document columns plus the
    * synthetic `score`. Write path (no 'query'): the EXISTING corpus
    * schema when one is on disk, else empty — the table declares
    * [[TableCapability.ACCEPT_ANY_SCHEMA]], so an append defines or
    * extends the corpus with the incoming frame's own schema and a
    * read without a query only fails at scan-build time. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val docs = s"${dirOf(options)}/documents.parquet"
    if (options.containsKey("query")) {
      val base = SparkSession.active.read.parquet(docs).schema
      StructType(base.fields :+ StructField("score", DoubleType, nullable = false))
    } else
      try SparkSession.active.read.parquet(docs).schema
      catch { case _: org.apache.spark.sql.AnalysisException => new StructType() }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val k = Option(options.get("k")).map(_.toInt).getOrElse(10)
    require(k > 0, s"graft source: k must be positive, got $k")
    // fail fast on driver-memory-event k: the scan materializes all k
    // rows on the driver at planning time (k-bounded by construction
    // is the whole design), so an unguarded k=10^7 would OOM the
    // driver with no warning
    val maxK = GraftDataSource.maxK
    require(k <= maxK,
      s"graft source: k=$k exceeds the driver-side cap $maxK (the DSv2 " +
        "scan collects k rows on the driver at planning time). For " +
        "larger result sets use the distributed Scala path — " +
        "SearchIndex.search / batchSearch / queryJoin — or raise " +
        "-Dgraft.dsv2.max.k if the driver is sized for it.")
    GraftTable(schema, dirOf(options), Option(options.get("query")), k)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object GraftDataSource {
  /** Driver-side k cap for the DSv2 scan ([[GraftScan
    * .planInputPartitions]] collects k rows into one partition):
    * generous for top-k serving, a fail-fast for misuse. */
  def maxK: Long = java.lang.Long.getLong("graft.dsv2.max.k", 100000L)
}

final case class GraftTable(tableSchema: StructType, dir: String,
    query: Option[String], k: Int) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"graft:$dir"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableSchema, dir, query.getOrElse(
      throw new IllegalArgumentException(
        "graft source requires option 'query' (raw query string) to read")), k)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(dir)
}

/** Append/Overwrite into `dir/documents.parquet` through the V1
  * insert fallback: the incoming frame is written by an ordinary
  * distributed parquet job (executor-parallel; nothing corpus-sized
  * crosses the driver).
  *
  * An APPEND with a live index is INCREMENTAL index maintenance, not
  * invalidation: the newly-written files (post-listing minus
  * pre-listing — exact, because a parquet append only adds part
  * files) are merged into the cached index via
  * [[graft.search.SearchIndex.addDocuments]], which tokenizes only
  * the appended batch and scores bit-identically to a fresh build of
  * the union. At 100 TB that is the difference between analyzing a
  * day's crawl and re-tokenizing the archive on every `INSERT INTO`.
  * The merge is signature-fenced ([[CorpusRegistry.refreshIfCurrent]]):
  * if anything ELSE mutated the corpus since the index was built, the
  * hook declines and the ordinary evict-and-rebuild staleness path
  * takes over. Overwrite always invalidates (a replaced corpus shares
  * nothing with the old index). */
final class GraftWriteBuilder(dir: String) extends WriteBuilder
    with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }

  private def dataFiles(dest: String): Set[String] =
    CorpusRegistry.dataFiles(dest).toSet

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwriteParam: Boolean): Unit = {
          val clean =
            if (data.columns.contains("score")) data.drop("score") else data
          val dest = s"$dir/documents.parquet"
          val ow = overwrite || overwriteParam
          if (ow) {
            clean.write.mode(SaveMode.Overwrite).parquet(dest)
            CorpusRegistry.invalidateSignature(dir)
          } else {
            // fresh pre-write signature (bypass any TTL memo): the
            // fence that proves the cached index described THIS state
            CorpusRegistry.invalidateSignature(dir)
            val pre = CorpusRegistry.signature(dir)
            val before = dataFiles(dest)
            clean.write.mode(SaveMode.Append).parquet(dest)
            CorpusRegistry.invalidateSignature(dir)
            val fresh = (dataFiles(dest) -- before).toSeq.sorted
            graft.search.SearchQueries.appendedToCorpus(
              SparkSession.active, dir, pre, fresh)
          }
        }
      }
  }
}

/** Translates Catalyst source filters into the library's DSL filter
  * nodes. Text-field and score predicates are NOT pushed (a text
  * equality is not index semantics; score exists only post-probe) —
  * they come back as postScanFilters and Spark evaluates them. */
final class GraftScanBuilder(fullSchema: StructType, dir: String,
    query: String, k0: Int) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownRequiredColumns {

  private var k = k0
  private var accepted = Array.empty[Filter]
  private var dslFilters = Seq.empty[SearchQuery]
  private var required: StructType = fullSchema

  /** Fields the probe may filter on: any document column except the
    * analyzed text fields and the synthetic score. */
  private def pushable(name: String): Boolean =
    name != "score" && name != "text" && fullSchema.fieldNames.contains(name)

  private def toDsl(f: Filter): Option[SearchQuery] = f match {
    case EqualTo(a, v) if pushable(a) => Some(EqFilter(a, v))
    case GreaterThan(a, v) if pushable(a) => Some(GtFilter(a, v))
    case GreaterThanOrEqual(a, v) if pushable(a) => Some(GeFilter(a, v))
    case LessThan(a, v) if pushable(a) => Some(LtFilter(a, v))
    case LessThanOrEqual(a, v) if pushable(a) => Some(LeFilter(a, v))
    case In(a, vs) if pushable(a) => Some(InSetFilter(a, vs.toSeq))
    case IsNotNull(a) if pushable(a) => Some(ExistsFilter(a))
    case IsNull(a) if pushable(a) => Some(MissingFilter(a))
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(f => toDsl(f).isDefined)
    accepted = ok
    dslFilters = ok.toSeq.flatMap(toDsl)
    rest
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pushLimit(limit: Int): Boolean = {
    k = math.min(k, limit)
    true
  }

  /** `ORDER BY score DESC LIMIT n` IS the probe's own semantics —
    * accept it as a FULL pushdown (the scan emits score-descending
    * rows, [[GraftScan.planInputPartitions]]) and fold n into k.
    * Any other sort shape is declined and Spark keeps its Sort. */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean =
    orders match {
      case Array(o) => o.expression match {
        case ref: NamedReference
            if ref.fieldNames.sameElements(Array("score")) &&
              o.direction == SortDirection.DESCENDING =>
          k = math.min(k, limit)
          true
        case _ => false
      }
      case _ => false
    }

  override def isPartiallyPushed: Boolean = false

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    GraftScan(required, dir, query, k, dslFilters,
      accepted.map(_.toString).toSeq)
}

/** The k-bounded scan: one partition carrying the probe's result rows
  * (external JVM values, converted to catalyst rows executor-side),
  * emitted in (score DESC, key ASC) order and REPORTED as such, with
  * k-bounded statistics so downstream joins broadcast it. */
final case class GraftScan(readSchema: StructType, dir: String,
    query: String, k: Int, dslFilters: Seq[SearchQuery],
    pushedDesc: Seq[String]) extends Scan with Batch
    with SupportsReportStatistics with SupportsReportOrdering {

  override def description(): String =
    s"GraftScan dir=$dir, query='$query', k=$k, " +
      s"PushedFilters: [${pushedDesc.mkString(", ")}]"

  override def toBatch: Batch = this

  /** k rows by construction — tiny, and SAYING so is what lets the
    * planner broadcast a graft↔corpus join with no hint. Size uses
    * the pruned schema's default row width (generous: adds the row
    * overhead Spark's own estimators assume). */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(k.toLong * (readSchema.defaultSize + 32L))
    override def numRows(): OptionalLong = OptionalLong.of(k.toLong)
  }

  /** The emitted order ([[planInputPartitions]] sorts the k rows) —
    * only reportable while `score` survives pruning. DESC NULLS LAST
    * matches Catalyst's default for `desc`, so `ORDER BY score DESC`
    * unifies with it and the Sort is eliminated. */
  override def outputOrdering(): Array[SortOrder] =
    if (readSchema.fieldNames.contains("score"))
      Array(Expressions.sort(Expressions.column("score"),
        SortDirection.DESCENDING, NullOrdering.NULLS_LAST))
    else Array.empty

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val idx = graft.search.SearchQueries.indexFor(spark, dir)
    val field = idx.spec.textFields.head
    val ast = dslFilters.foldLeft[SearchQuery](Parsed(field, query))(And(_, _))
    // deterministic (score DESC, key ASC) order: the contract behind
    // both the TopN full-pushdown and the reported output ordering
    val hits = idx.search(ast, k).orderBy(
      org.apache.spark.sql.functions.col("score").desc,
      org.apache.spark.sql.functions.col(idx.spec.keyCol))
    val cols = if (readSchema.isEmpty) Seq(org.apache.spark.sql.functions.lit(0))
      else readSchema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col)
    val rows: Array[Array[Any]] = hits.select(cols: _*).collect()
      .map(r => (0 until r.length).map(r.get).toArray)
    val out = if (readSchema.isEmpty) rows.map(_ => Array.empty[Any]) else rows
    // large k: emit CONTIGUOUS RANK RANGES as separate partitions so
    // downstream processing of a big serving read parallelizes
    // instead of funneling through one task. Per-partition rows stay
    // (score DESC, key ASC)-sorted, which is exactly the contract
    // SupportsReportOrdering describes (ordering WITHIN a partition),
    // so the TopN/ORDER BY pushdowns stay valid.
    val perPart = math.max(1,
      Integer.getInteger("graft.dsv2.rows.per.partition", 4096))
    if (out.length <= perPart) Array(GraftResultPartition(out))
    else out.grouped(perPart).map(GraftResultPartition(_)).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(readSchema)
}

final case class GraftResultPartition(rows: Array[Array[Any]])
  extends InputPartition

final case class GraftReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[GraftResultPartition].rows
    val converters = schema.fields.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType))
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        InternalRow.fromSeq(rows(i).toIndexedSeq.zip(converters.toIndexedSeq)
          .map { case (v, c) => c(v) })
      override def close(): Unit = ()
    }
  }
}
