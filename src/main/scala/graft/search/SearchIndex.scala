package graft.search

import graft.analysis.{Analyzer, Analyzers}
import graft.dsl._
import graft.functions.{SearchExpressions, TopKAgg}
import graft.plans.GraftSearchPlan
import graft.sources.Frames
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType, StructType}
import org.apache.spark.storage.StorageLevel

/** Scoring mode (reference: similarities/ConfigurableBM25Similarity.
  * scala:7-30 for the tunable k1/b BM25, similarities/
  * TFIDFWithGlobalIDFSimilarity.scala:14-76 for classic TF-IDF; both
  * use the corpus-global IDF `log(1 + (N - df + 0.5)/(df + 0.5))`,
  * utils/IDFUtils.scala:28). */
sealed trait Similarity extends Serializable
final case class BM25(k1: Double = 1.2, b: Double = 0.75) extends Similarity
final case class TFIDF() extends Similarity

/** Physical index layout for the batch/postings query path —
  * re-expression of the reference's three SearchableRDD layouts
  * (SURVEY §1.4):
  *  - the per-partition colocated layout (a)
  *    (PartitionsIndexLuceneRDD) is [[SearchIndex.search]]'s scan
  *    path: tokens live next to the rows, each partition evaluates
  *    its own documents, no data movement;
  *  - [[DecoupledPostings]] is layout (b) (DistributedIndexLuceneRDD):
  *    the index is a separate postings DataFrame joined by shuffle —
  *    partition-count independent, the default at scale;
  *  - [[BroadcastIndex]] is layout (c) (BroadcastIndexLuceneRDD):
  *    the postings side is broadcast to every task — right when the
  *    index fits in executor memory, eliminating the shuffle
  *    entirely (and unlike the reference, our broadcast layout fully
  *    supports queryJoin — the reference left it `???`,
  *    BroadcastIndexLuceneRDD.scala:449-464). */
sealed trait IndexLayout extends Serializable
case object DecoupledPostings extends IndexLayout
case object BroadcastIndex extends IndexLayout
/** Pick per query from index size: broadcast when the postings fit
  * comfortably in an executor (the index analog of
  * `spark.sql.autoBroadcastJoinThreshold`), decoupled otherwise. */
case object AutoLayout extends IndexLayout

/** Index specification (reference analog: impl/LuceneConfig.scala —
  * analyzer classes, similarity, field mapping; the index-time vs
  * query-time analyzer split is LuceneConfig.scala:20-52).
  *
  * @param keyCol stable UNIQUE document key (the engine's `$id`;
  *   unlike the reference's ephemeral `zipWithUniqueId` ids —
  *   SearchableRDD.scala:75-83 — a user-supplied stable key survives
  *   recomputation and repartitioning, which is a hard requirement at
  *   cluster scale). Uniqueness is a contract, not validated at build
  *   (a distinct-count pass over 100 TB is not free): duplicate keys
  *   double-count df and per-key scores. Run exact dedup first
  *   ([[graft.pipeline.Dedup.exact]]) or check with
  *   [[SearchIndex.validateUniqueKeys]]; [[SearchIndex.merge]] does
  *   verify cross-index disjointness by default.
  * @param textFields analyzed full-text fields
  * @param keywordFields exact-match (un-analyzed) string fields
  * @param storedCols the reference's `Storeable` split (Indexable.
  *   scala:16-19): index everything in text/keyword fields but KEEP
  *   only these columns (+ key + token internals) in the docs table —
  *   at 100 TB, storing a 50-byte projection instead of the raw
  *   document shrinks the cached/scanned corpus by orders of
  *   magnitude. None = store every input column.
  * @param storePositions the reference's NoPositionsTextField knob
  *   (NoPositionsTextField.java:42-49): false drops the per-doc token
  *   arrays after the postings/stats build, shrinking the stored
  *   corpus to key + payload + doc lengths. Flat term queries then
  *   run through the postings probe (frequencies survive); phrase
  *   queries throw, exactly the reference trade-off.
  * @param queryConstructor pluggable raw-string → query strategy
  *   (reference QueryConstructor, impl/queries/QueryConstructor.
  *   scala:7-10): None = the default single-field Parsed grammar
  *   over the call-site field; Some(c) routes every raw-string API
  *   (searchRaw / batchSearchRaw) through `c.construct`.
  */
final case class IndexSpec(
    keyCol: String,
    textFields: Seq[String],
    keywordFields: Seq[String] = Nil,
    indexAnalyzer: String = "default",
    queryAnalyzer: String = "default",
    similarity: Similarity = BM25(),
    layout: IndexLayout = DecoupledPostings,
    storedCols: Option[Seq[String]] = None,
    storePositions: Boolean = true,
    queryConstructor: Option[graft.dsl.QueryConstructor] = None)

/** Per-field corpus statistics gathered at build time. */
final case class FieldStats(numDocs: Long, avgDl: Double)

/** The driver-resident term dictionary of one index: per field, its
  * terms sorted with a parallel array of their document frequencies —
  * the engine's analog of the reference's broadcast global-IDF map
  * (DistributedIndexLuceneRDD.scala:552-587), held without a boxed
  * entry per term. A lookup is one binary search; a term absent from
  * the field, or a field absent from the index, has no entry. */
private[search] final class TermDictionary private (
    fields: Map[String, (Array[String], Array[Long])]) {

  /** The df of `term` in `field`, if the index holds it. */
  def df(field: String, term: String): Option[Long] = fields.get(field).flatMap {
    case (terms, dfs) =>
      val i = java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], term)
      if (i >= 0) Some(dfs(i)) else None
  }

  /** Number of (field, term) entries. */
  def size: Int = fields.valuesIterator.map(_._1.length).sum
}

private[search] object TermDictionary {

  /** From collected (field, term, df) stats rows. Terms are sorted on
    * the driver, in `String` order, so the binary search agrees with
    * the sort; a null term (no query term can be null) is skipped. */
  def apply(rows: Array[Row]): TermDictionary =
    new TermDictionary(rows.filterNot(_.isNullAt(1)).groupBy(_.getString(0)).map {
      case (field, rs) =>
        val sorted = rs.sortBy(_.getString(1))
        field -> (sorted.map(_.getString(1)), sorted.map(_.getLong(2)))
    })
}

/** A distributed inverted index over a DataFrame — the engine's
  * `SearchableRDD` (reference: SearchableRDD.scala:94-336), built
  * Spark-first:
  *
  *  - `docs`: the corpus with per-field token arrays + doc lengths —
  *    the "per-partition colocated data" of the reference's
  *    PartitionsIndexLuceneRDD (layout §1.4a), here simply extra
  *    columns so Catalyst keeps pruning/pushdown.
  *  - `postings`: (field, term, key, tf, dl) — the inverted index as
  *    a DataFrame, repartitioned by term so a query's posting lookup
  *    shuffles nothing but its own terms (layout §1.4b, the
  *    "decoupled index" — ours is partition-count-independent).
  *  - `stats`: (field, term, df, cf) global term statistics; scores
  *    therefore use corpus-global IDF and are partition-invariant *by
  *    construction* — the property the reference needed
  *    GlobalIDFLuceneIndex + a broadcast IDF map for
  *    (DistributedIndexLuceneRDD.scala:552-587).
  *
  * Scale: stats and postings are computed with hash aggregations
  * (partial+final, map-side combine), never `groupByKey`; a search
  * launches one Spark job, its scan: the query's IDFs come from the
  * index's driver-resident term dictionary, built once per index by
  * one collect of `stats` while that table has at most
  * [[SearchIndex.AutoBroadcastMaxPostings]] rows (above that bound a
  * search pays one IDF lookup job on `stats` as well); top-k is
  * `TakeOrderedAndProject` or the bounded [[TopKAgg]].
  */
final class SearchIndex private (
    val spark: SparkSession,
    val spec: IndexSpec,
    val docs: DataFrame,
    val postings: DataFrame,
    val stats: DataFrame,
    val fieldStats: Map[String, FieldStats],
    private[graft] val joinGates: SearchIndex.JoinGates = SearchIndex.JoinGates())
  extends Serializable {

  import SearchIndex._

  private def analyzer(name: String): Analyzer = Analyzers(name)
  private def queryAn: Analyzer = analyzer(spec.queryAnalyzer)
  private def key: Column = col(spec.keyCol)

  // ------------------------------------------------------------------
  // compilation: AST -> serialized query program -> dsl_query_score
  // ------------------------------------------------------------------

  /** Document frequencies of the given (field, term) pairs, read from
    * the index's [[termDictionary]] with no Spark job when the stats
    * table has at most [[SearchIndex.AutoBroadcastMaxPostings]] rows
    * (counted once per index); above that bound, from one action on
    * the stats table ([[dfFromStats]]). Pairs on fields this index
    * never built and terms absent from the corpus are missing (df 0). */
  private def dfFor(pairs: Set[(String, String)]): Map[(String, String), Long] =
    if (statsRows <= AutoBroadcastMaxPostings) dfFromDictionary(pairs)
    else dfFromStats(pairs)

  /** [[dfFor]] through the driver-resident dictionary. */
  private[search] def dfFromDictionary(
      pairs: Set[(String, String)]): Map[(String, String), Long] = {
    val dict = termDictionary
    pairs.iterator.filter(p => isIndexedField(p._1))
      .flatMap(p => dict.df(p._1, p._2).map(p -> _)).toMap
  }

  /** [[dfFor]] as ONE tiny action on the stats table for the whole
    * set: the lookup for a vocabulary the driver cannot hold. The
    * field and term sets travel as array literals, so every lookup
    * plans to the same generated class whatever the query; the pair
    * filter runs on the driver over the at most |fields| x |terms|
    * rows that come back. */
  private[search] def dfFromStats(
      pairs: Set[(String, String)]): Map[(String, String), Long] = {
    val known = pairs.filter(p => isIndexedField(p._1))
    if (known.isEmpty) return Map.empty
    stats
      .where(array_contains(stringsLit(known.map(_._1).toSeq.sorted), col("field")) &&
        array_contains(stringsLit(known.map(_._2).toSeq.sorted), col("term")))
      .select(col("field"), col("term"), col("df"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .filter(e => known.contains(e._1))
      .toMap
  }

  /** Stats row count, computed once: the gate for holding the
    * [[termDictionary]] on the driver. */
  private lazy val statsRows: Long = stats.count()

  /** The `(field, term) -> df` dictionary of this index, built lazily
    * ONCE by one collect of the stats table and then held on the
    * driver: the global-IDF map the reference computes once beside
    * its searcher (GlobalIDFLuceneIndex.scala:43-87). Transient, so a
    * serialized index never ships it; dropped by [[unpersist]]. */
  @transient @volatile private var termDictionaryRef: TermDictionary = _
  private[search] def termDictionary: TermDictionary = {
    var d = termDictionaryRef
    if (d == null) synchronized {
      d = termDictionaryRef
      if (d == null) {
        d = TermDictionary(stats.select(col("field"), col("term"), col("df")).collect())
        termDictionaryRef = d
      }
    }
    d
  }

  /** Test hook: is the term dictionary held right now? */
  private[search] def termDictionaryHeld: Boolean = termDictionaryRef != null

  /** Corpus-global IDF `log(1 + (N - df + 0.5)/(df + 0.5))` of a term
    * with document frequency `df` in `field`. */
  private def idfOf(field: String, df: Long): Double = {
    val n = fieldStats(field).numDocs
    math.log(1.0 + (n - df.toDouble + 0.5) / (df.toDouble + 0.5))
  }

  /** [[idfOf]] as a column over `numDocs` and `df` columns. */
  private def idfCol(numDocs: Column, df: Column): Column =
    log(lit(1.0) + (numDocs.cast("double") - df + 0.5) / (df + 0.5))

  /** The one term-statistics lookup of a query-join setup: `shapes`
    * (one row per `sid`) trades its `slots` column
    * (array<struct<field, term>>) for `__dfs`, `__idfs` and, with
    * `impacts`, `__mis`: the measured max impact idf^p x mi_raw
    * (p = 1 BM25 / 2 TFIDF, mi_raw from [[maxImpactStats]]), the
    * impact-pruning bound's raw material. Each is position-aligned
    * with the slots. One explode, one left join on (field, term), one
    * `groupBy(sid)`; the frame's other columns ride through it, so a
    * caller with wide per-shape columns passes only `sid` and the
    * slots and joins the result back. A slot absent from the corpus keeps df 0 and max
    * impact 0, like [[idfFor]]; N comes from the driver's `fieldStats`
    * and is 0 on a field this index never built (an attr name's ""
    * slot). */
  private def withTermStats(shapes: DataFrame, slots: String, impacts: Boolean): DataFrame = {
    val carried = shapes.columns.filterNot(c => c == "sid" || c == slots).toSeq
    val numDocs = fieldStats.foldLeft(lit(0L)) { case (n, (f, s)) =>
      when(col("field") === f, lit(s.numDocs)).otherwise(n)
    }
    val looked = shapes
      .select((col("sid") +: carried.map(col)) :+
        posexplode_outer(col(slots)).as(Seq("__pos", "__slot")): _*)
      .withColumn("field", col("__slot.field"))
      .withColumn("term", col("__slot.term"))
      .join(stats.select(col("field"), col("term"), col("df")), Seq("field", "term"), "left")
    val withMi = if (!impacts) looked
      else looked.join(maxImpactStats.select(col("field"), col("term"), col("mi_raw")),
        Seq("field", "term"), "left")
    val df = coalesce(col("df"), lit(0L))
    val idf = idfCol(numDocs, df)
    val pExp = if (spec.similarity == TFIDF()) 2.0 else 1.0
    val entry = struct((Seq(col("__pos"), df.as("df"), idf.as("idf")) ++
      (if (impacts) Seq((pow(idf, lit(pExp)) * coalesce(col("mi_raw"), lit(0.0))).as("mi"))
      else Nil)): _*)
    // an empty slot array explodes to one null slot, which collects to
    // nothing: every shape keeps its row, with empty arrays
    withMi.groupBy(col("sid"))
      .agg(sort_array(collect_list(when(col("__pos").isNotNull, entry))).as("__st"),
        carried.map(c => first(col(c)).as(c)): _*)
      .select((Seq(col("sid")) ++ carried.map(col) ++ Seq(
        transform(col("__st"), _.getField("df")).as("__dfs"),
        transform(col("__st"), _.getField("idf")).as("__idfs")) ++
        (if (impacts) Seq(transform(col("__st"), _.getField("mi")).as("__mis"))
        else Nil)): _*)
  }

  /** Global IDF for the given (field, term) pairs through [[dfFor]]
    * (no Spark job below the dictionary's size gate). Terms absent
    * from the corpus get df=0 → idf = log(1+(N+0.5)/0.5); pairs on
    * unknown fields (possible via parsed `field:term` syntax) are
    * dropped — such leaves never match, the Lucene QueryParser
    * behavior for a nonexistent field. */
  def idfFor(pairs: Set[(String, String)]): Map[(String, String), Double] = {
    val dfs = dfFor(pairs)
    pairs.filter(p => isIndexedField(p._1))
      .map(p => p -> idfOf(p._1, dfs.getOrElse(p, 0L))).toMap
  }

  /** Cross-field document frequencies: df(term) = #docs containing
    * the term in ANY text field — the whole-document statistics BM25F
    * ranks with ([[bm25fSearch]]). Materialized ONCE per index as a
    * |vocab|-bounded aggregate over the persisted postings (a doc
    * carrying the term in two fields counts once via the distinct
    * key), then read per query with the same filtered-collect
    * discipline as [[dfFromStats]]. Derived from postings rather than
    * persisted at save time so it stays correct across save/load and
    * incremental add/remove without extra artifact plumbing;
    * released by [[unpersist]]. */
  @volatile private var xdfStatsFrame: DataFrame = _
  private def xdfStats: DataFrame = {
    var f = xdfStatsFrame
    if (f == null) synchronized {
      f = xdfStatsFrame
      if (f == null) {
        f = postings
          .where(col("field").isin(spec.textFields: _*))
          .groupBy(col("term"))
          .agg(countDistinct(col("key")).as("df"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        xdfStatsFrame = f
      }
    }
    f
  }

  /** Test hook: the materialized cross-field stats frame. */
  private[graft] def crossFieldStats: DataFrame = xdfStats

  /** Per-(field, term) measured MAX IMPACT — the idf-free part of the
    * similarity maximized over the term's actual postings (tf, dl
    * pairs), the per-term upper-bound ingredient of impact-ordered
    * pruning (Lucene's `Impacts` / MaxScore metadata made a stats
    * column). The full bound is idf * mi_raw (BM25) or idf^2 * mi_raw
    * (TFIDF), assembled where the idf is already joined so the frame
    * stays similarity-parameter-specific but idf-free. Materialized
    * lazily ONCE per index (|vocab|-bounded aggregate over the
    * persisted postings, same discipline as [[xdfStats]]); released
    * by [[unpersist]]. Exact by construction: the maximum is over
    * the postings that exist, not the tf -> infinity saturation
    * limit, so bounds are as tight as the corpus allows. */
  @volatile private var maxImpactFrame: DataFrame = _
  private[graft] def maxImpactStats: DataFrame = {
    var f = maxImpactFrame
    if (f == null) synchronized {
      f = maxImpactFrame
      if (f == null) {
        val part = spec.similarity match {
          case BM25(k1, b) =>
            (col("tf") * lit(k1 + 1.0)) /
              (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avg_dl")))
          case TFIDF() => sqrt(col("tf")) / sqrt(col("dl"))
        }
        f = postings
          .join(broadcast(fieldStatsDf.select(col("field"), col("avg_dl"))), Seq("field"))
          .groupBy(col("field"), col("term"))
          .agg(max(part).as("mi_raw"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        maxImpactFrame = f
      }
    }
    f
  }

  /** Whole-document df for the given terms — a |terms|-row filtered
    * collect on [[xdfStats]]; terms absent from every text field are
    * simply missing from the map (df 0). */
  private def xdfFor(terms: Seq[String]): Map[String, Long] =
    xdfStats.where(col("term").isin(terms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Is `f` a field this index built postings for? Queries against
    * any other name match nothing (instead of crashing on a missing
    * stats entry or an unresolved token column). */
  private def isIndexedField(f: String): Boolean =
    spec.textFields.contains(f) || spec.keywordFields.contains(f)

  private def tokensCol(field: String): Column = col(tokensColName(field))
  private def dlCol(field: String): Column = col(dlColName(field))

  /** Multi-term (wildcard/fuzzy) rewrite, the Lucene MultiTermQuery
    * discipline: expand the pattern against the term DICTIONARY
    * (stats — |vocab| rows, already persisted), then match documents
    * against the expanded terms as one constant-score program leaf
    * (`CANY`). The dictionary probe is one tiny driver action per
    * distinct pattern, the same cost class as
    * [[dfFromStats]]; the alternative — a LIKE/levenshtein higher-order
    * function over every document's token array — evaluates
    * interpreted per token per doc and cannot use the dictionary's
    * small size. Expansion is capped like Lucene's maxClauseCount;
    * terms are taken in dictionary order for determinism. */
  private val maxExpansions = 1024
  private def expandDict(field: String, pred: Column): Seq[String] = {
    val ts = stats
      .where(col("field") === field && pred)
      .select("term").orderBy("term").limit(maxExpansions + 1)
      .collect().map(_.getString(0)).toSeq
    if (ts.length > maxExpansions) {
      System.err.println(s"[graft] multi-term expansion on '$field' " +
        s"capped at $maxExpansions terms (Lucene maxClauseCount discipline)")
      ts.take(maxExpansions)
    } else ts
  }

  /** `*`/`?` glob to SQL LIKE, escaping LIKE's own metacharacters. */
  private def likePattern(glob: String): String = glob.flatMap {
    case '*' => "%"
    case '?' => "_"
    case '%' => "\\%"
    case '_' => "\\_"
    case '\\' => "\\\\"
    case c => c.toString
  }

  /** The field whose token array feeds `dsl_query_score` directly on
    * the scan path; leaves on other text fields score through the
    * cross-field map. Fixed per index, so every search shares it. */
  private def scanField: String = spec.textFields.headOption.getOrElse("")

  /** `q` serialized for the scan path, with its dictionary-expansion
    * leaves (wildcard/fuzzy/regex) expanded by [[expandDict]] — one
    * dictionary action per distinct pattern — and substituted in. */
  private def serialize(q: SearchQuery): QueryProgram = {
    val field = scanField
    val p = QueryProgram.compile(q, field, spec.queryAnalyzer,
      (spec.textFields ++ spec.keywordFields).toSet, spec.textFields.toSet)
    val keys = QueryProgram.expansionKeys(p.ops, p.terms)
    if (keys.isEmpty) p
    else {
      val exp = keys.map { case k @ (kind, f, pat, maxEdits) =>
        k -> expandDict(f, kind match {
          case 0 => col("term").like(likePattern(pat))
          case 1 => levenshtein(col("term"), lit(pat)) <= maxEdits
          // Lucene RegexpQuery: the pattern is the Lucene RegExp
          // DIALECT, translated to Java regex, then anchored, since
          // Lucene matches the WHOLE term and rlike is a substring
          // search
          case _ => col("term").rlike("^(?:" + LuceneRegex.translate(pat) + ")$")
        })
      }.toMap
      val (ops, terms, termFields, _) = QueryProgram.substitute(p.ops, p.terms,
        p.termFields, Nil, field, spec.textFields.toSet, exp)
      p.copy(ops = ops, terms = terms, termFields = termFields)
    }
  }

  /** A string-array literal of `xs`, typed like `typedLit` of a
    * `Seq[String]`: the Literal `typedLit` builds, without its runtime
    * TypeTag reflection, which every call repeats. */
  private def stringsLit(xs: Seq[String]): Column =
    GraftColumnBridge.column(Literal.create(xs, ArrayType(StringType, containsNull = true)))

  /** The interpreter's combined doubles: per-slot IDF ++ consts. */
  private def doublesOf(p: QueryProgram, idf: Map[(String, String), Double]): Seq[Double] =
    p.termFields.zip(p.terms).map(idf.getOrElse(_, 0.0)) ++ p.consts

  /** The scan-path scorer of one program: `dsl_query_score` over
    * every document with the program arrays as plan LITERALS. Codegen
    * emits array literals as reference objects, so neither the query
    * nor its IDFs appear in the generated source and every search
    * reuses one compiled class (and its JIT-warmed code). The doc-side
    * maps hold every column of the index's own attribute sets
    * ([[scanAttrs]]) plus any column the program compares in a kind
    * the defaults do not cover. */
  private def scanScorer(p: QueryProgram, doubles: Seq[Double]): Column = {
    val (num, str, xFields) = scanInputs(p)
    val tokens =
      if (spec.storePositions && spec.textFields.nonEmpty)
        coalesce(tokensCol(scanField), array().cast(ArrayType(StringType)))
      else array().cast(ArrayType(StringType))
    val Seq(ops, terms, dbl) = programLiterals(p, doubles).map(GraftColumnBridge.column)
    programScore(tokens, ops, terms, dbl, programDocInputs(num, str, xFields), scanField)
  }

  /** The doc-side input names of `p`'s scan scorer: (numeric
    * attributes, string attributes, cross-field text fields). With the
    * session conf they key its prepared plan ([[scanPlan]]). */
  private def scanInputs(p: QueryProgram): (Seq[String], Seq[String], Seq[String]) = {
    val (num, str) = scanAttrs
    (num ++ p.attrFields.filterNot(num.contains), str ++ p.strAttrFields.filterNot(str.contains),
      if (spec.storePositions) spec.textFields.filter(_ != scanField) else Nil)
  }

  /** The scan scorer's only per-search inputs besides the doc-side
    * names: the (ops, terms, doubles) array literals. */
  private def programLiterals(p: QueryProgram, doubles: Seq[Double]): Seq[Literal] = Seq(
    Literal.create(p.ops, ArrayType(IntegerType, containsNull = false)),
    Literal.create(p.terms, ArrayType(StringType, containsNull = true)),
    Literal.create(doubles, ArrayType(DoubleType, containsNull = false)))

  /** The index's default doc-side attribute columns: (numeric — every
    * orderable non-internal column, encoded like QueryProgram.numVal;
    * string — every string column except the text fields' raw text,
    * plus the keyword fields). The raw text is the widest column and
    * is almost never a filter target, so copying it into every row's
    * map would cost each search more than the one extra compile a
    * program that does filter on it pays (via `strAttrFields`). */
  @transient private lazy val scanAttrs: (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types._
    val internal = internalCols(spec).toSet
    val cols = docs.schema.fields.filterNot(f => internal(f.name))
    val num = cols.collect {
      case f if f.dataType.isInstanceOf[NumericType] || f.dataType == BooleanType ||
        f.dataType == DateType || f.dataType == TimestampType => f.name
    }
    val text = spec.textFields.toSet
    val str = cols.collect { case f if f.dataType == StringType && !text(f.name) => f.name }
    (num.toSeq, (str.toSeq ++ spec.keywordFields).distinct)
  }

  /** `q` serialized for the scan path, with its doubles: the IDFs
    * through [[idfFor]] ++ the program's consts. */
  private def programOf(q: SearchQuery): (QueryProgram, Seq[Double]) = {
    val p = serialize(q)
    val pairs = p.termFields.zip(p.terms).filter(_._1.nonEmpty).toSet
    (p, doublesOf(p, idfFor(pairs)))
  }

  /** `struct(ok, score)` of `q` for every document: the shared
    * scan-path scorer of [[programOf]]. */
  private def scoreStruct(q: SearchQuery): Column = {
    val (p, doubles) = programOf(q)
    scanScorer(p, doubles)
  }

  /** Compiles the AST to (match predicate, score expression): both
    * read ONE `dsl_query_score` evaluation of the serialized program
    * (see [[scanScorer]]), whose only data-dependent inputs are the
    * program and IDF array literals — every query plans to the same
    * generated code. The IDFs come from the term dictionary, no job. */
  def compile(q: SearchQuery): (Column, Column) = {
    val r = scoreStruct(q)
    (r.getField("ok"), r.getField("score"))
  }

  /** The documents a [[scoreStruct]]-style scorer matches, with their
    * `score` column. The scorer runs once per row: it is projected
    * behind `eval_once`, which keeps the optimizer from pushing the
    * match filter below the projection — that would copy the whole
    * evaluation into the filter and run it twice per matching row. */
  private def matching(scorer: Column): DataFrame =
    docs.withColumn("__m", call_function("eval_once", scorer))
      .where(col("__m.ok"))
      .withColumn("score", col("__m.score"))
      .drop("__m")

  /** The top-k hits of a matched frame, ties broken on ascending key. */
  private def topK(matched: DataFrame, k: Int): DataFrame =
    matched.drop(internalCols(spec): _*).orderBy(col("score").desc, key.asc).limit(k)

  /** `dsl_query_score(tokens, ops, terms, doubles, docInputs...)`
    * under this index's similarity, with `field`'s avgdl for the
    * token array given. Shared by the scan path and [[queryJoinAst]]. */
  private def programScore(tokens: Column, ops: Column, terms: Column, doubles: Column,
      docInputs: Seq[Column], field: String): Column = {
    val (kind, k1, b) = spec.similarity match {
      case BM25(a, c) => (0, a, c)
      case TFIDF() => (1, 0.0, 0.0)
    }
    val avgdl = fieldStats.get(field).map(_.avgDl).getOrElse(1.0)
    call_function("dsl_query_score", Seq(tokens, ops, terms, doubles) ++ docInputs ++
      Seq(lit(kind), lit(k1), lit(b), lit(avgdl)): _*)
  }

  /** `f`'s type in the doc schema; a query filter on a column the
    * docs lack is refused. */
  private def docType(f: String): DataType = docs.schema.find(_.name == f).map(_.dataType)
    .getOrElse(throw new IllegalArgumentException(s"query filter references unknown doc column '$f'"))

  /** [[docType]] of a column a query compares by order: numeric,
    * boolean, date or timestamp. */
  private def orderableDocType(f: String): DataType = {
    import org.apache.spark.sql.types._
    docType(f) match {
      case t @ (_: NumericType | BooleanType | DateType | TimestampType) => t
      case other => throw new IllegalArgumentException(
        s"query comparison filters need an orderable column; '$f' is $other")
    }
  }

  /** The doc-side inputs of `dsl_query_score` after the token array,
    * as name-keyed maps: numeric attributes (`attrFields`, encoded
    * like QueryProgram.numVal — numerics cast, booleans 0/1 with null
    * kept, dates epoch days, timestamps epoch micros, so ordering and
    * equality agree with Spark's own comparisons), string attributes
    * (`strAttrFields`, cast to string), and the token arrays and
    * avgdls of the cross-field text leaves' fields (`xFields`). Column
    * names are checked against the doc schema at plan time. */
  private def programDocInputs(attrFields: Seq[String], strAttrFields: Seq[String],
      xFields: Seq[String]): Seq[Column] = {
    import org.apache.spark.sql.types._
    def numAttrExpr(f: String): Column = orderableDocType(f) match {
      case BooleanType =>
        when(col(f).isNull, lit(null).cast(DoubleType))
          .when(col(f), lit(1.0)).otherwise(lit(0.0))
      case DateType => unix_date(col(f)).cast(DoubleType)
      case TimestampType => unix_micros(col(f)).cast(DoubleType)
      case _ => col(f).cast(DoubleType)
    }
    def strAttrExpr(f: String): Column = { docType(f); col(f).cast(StringType) }
    def nameMap(names: Seq[String], value: String => Column, vType: DataType): Column =
      if (names.isEmpty)
        map_from_arrays(array().cast(ArrayType(StringType)), array().cast(ArrayType(vType)))
      else call_function("name_map", stringsLit(names) +: names.map(value): _*)
    Seq(nameMap(attrFields, numAttrExpr, DoubleType),
      nameMap(strAttrFields, strAttrExpr, StringType),
      nameMap(xFields, tokensCol, ArrayType(StringType)),
      nameMap(xFields, f => lit(fieldStats(f).avgDl), DoubleType))
  }

  // ------------------------------------------------------------------
  // search surface (reference: SearchableRDD.scala:117-304)
  // ------------------------------------------------------------------

  /** Distributed top-k search: result stays a DataFrame (reference
    * `search`, SearchableRDD.scala:153-156). Plan is scan → the
    * shared serialized-program scorer ([[compile]]) → match filter →
    * TakeOrderedAndProject (per-partition heap + driver merge — the
    * built-in replacement for the reference's treeAggregate 2-pointer
    * merge, PartitionsIndexLuceneRDD.scala:100-109). Ties break on
    * ascending key for determinism.
    *
    * On an index with positions and k > 0 the frame is one lazy
    * `GraftSearch` leaf ([[graft.plans.GraftScanSearchNode]]) carrying
    * (index, program, IDFs, k). The program and its IDFs are built
    * here, so a bad query fails at this call; the plan it runs comes
    * from [[scanPlan]]: a bound copy of one prepared plan, analyzed,
    * optimized, planned and code-generated once per index (the
    * build-once-then-probe regime of the reference's SearchableRDD).
    * The leaf is marked analyzed, so the frame is not analyzed again.
    * `EXPLAIN` shows the query, k and the bound plan. */
  def search(q: SearchQuery, k: Int): DataFrame =
    prepared(q, k).fold(identity, GraftSearchPlan.searchFrame)

  /** The physical plan that [[search]] runs for (q, k), shared with no
    * other search: the SQL `graft_search` front door. */
  private[graft] def searchPlan(q: SearchQuery, k: Int): BoundScan =
    prepared(q, k).fold(df => BoundScan(df.queryExecution.executedPlan, None), _.plan())

  /** [[search]] as either the frame it plans the ordinary way (no
    * positions, or k <= 0, which Catalyst rejects or plans to an empty
    * relation) or the scan-path search it binds. */
  private def prepared(q: SearchQuery, k: Int): Either[DataFrame, ScanSearch] =
    if (!spec.storePositions) Left(postingsSearch(q, k))
    else {
      val (p, doubles) = programOf(q)
      val (num, str, _) = scanInputs(p)
      num.foreach(orderableDocType)
      str.foreach(docType)
      if (k <= 0) Left(topK(matching(scanScorer(p, doubles)), k))
      else Right(ScanSearch(this, q, p, doubles, k))
    }

  /** Prepared scan plans ([[ScanTemplate]]), keyed by the doc-side
    * input names ([[scanInputs]]), the result columns kept and the
    * session's SQL conf; at most
    * [[ScanTemplate.MaxPerIndex]], least recently used out first.
    * Dropped by [[unpersist]]. */
  @transient private lazy val scanTemplates =
    new java.util.LinkedHashMap[AnyRef, ScanTemplate](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[AnyRef, ScanTemplate]): Boolean =
        size() > ScanTemplate.MaxPerIndex
    }

  /** The physical plan of one scan-path search of `p` (with its
    * doubles) and `k`, keeping `columns` of the result (None: all),
    * shared with no other search. When a template fits (same doc-side
    * inputs, same columns, same session conf, and the docs cache it
    * scans is still the registered one), a deep copy of it with the
    * program literals and k bound in and, where the template has
    * one, its scan stage bound to the template's generated code: no
    * analysis, optimization, physical planning or code generation. Otherwise `topK(matching(scanScorer(p,
    * doubles)), k)` (with its columns selected) planned from the
    * start, which becomes the template when a bind can reproduce it;
    * the search then runs a bind of that new template, or the fresh
    * plan itself where there is none. A template scanning a cache that is
    * gone (after [[unpersist]] or `spark.catalog.clearCache()`) is
    * dropped, so a search never re-pins blocks the ordinary plan would
    * not read. */
  private[graft] def scanPlan(p: QueryProgram, doubles: Seq[Double], k: Int,
      columns: Option[Seq[String]]): BoundScan =
    GraftColumnBridge.withActive(spark) {
      val key = (scanInputs(p), columns, spark.conf.getAll)
      val cache = GraftColumnBridge.cacheOf(docs)
      val held = scanTemplates.synchronized {
        val t = Option(scanTemplates.get(key))
        if (t.exists(!_.scans(cache))) scanTemplates.remove(key)
        t.filter(_.scans(cache))
      }
      val lits = programLiterals(p, doubles)
      held.flatMap(_.bind(lits, k)).getOrElse {
        val top = topK(matching(scanScorer(p, doubles)), k)
        val fresh = columns.fold(top)(cs => top.select(cs.map(col): _*)).queryExecution.executedPlan
        val made = ScanTemplate.of(fresh, cache)
        made.foreach(t => scanTemplates.synchronized(scanTemplates.put(key, t)))
        made.flatMap(_.bind(lits, k)).getOrElse(BoundScan(fresh, None))
      }
    }

  /** Test hook: the prepared scan plans held now. */
  private[search] def scanTemplateEntries: Int = scanTemplates.synchronized(scanTemplates.size)

  /** Test hook: the scan-path [[search]] frame planned from the start. */
  private[search] def plannedSearch(q: SearchQuery, k: Int): DataFrame =
    topK(matching(scoreStruct(q)), k)

  /** The schema of a scan-path [[search]] result (the stored doc
    * columns and `score`), read once from an analyzed search frame. */
  @transient private[graft] lazy val searchSchema: StructType = {
    val p = serialize(AllDocs)
    topK(matching(scanScorer(p, doublesOf(p, Map.empty))), 1).schema
  }

  /** Scan-free search for a no-positions index: the flat term part of
    * the query probes the postings (tf survives without positions),
    * non-scoring filters apply on the joined docs BEFORE the top-k.
    * Phrase and nested-boolean queries need the token arrays the
    * spec dropped — they throw, like a Lucene field indexed without
    * positions (reference NoPositionsTextField.java:42-49). */
  private def postingsSearch(q: SearchQuery, k: Int): DataFrame = {
    import spark.implicits._
    def unsupported(what: String) = throw new UnsupportedOperationException(
      s"$what requires storePositions=true (tokens are not stored on this index)")
    // split top-level AND into one flat text query + non-scoring
    // filters + a constant base score (1.0 per AllDocs leaf — the
    // scan path's And sums side scores, so parity needs the offset)
    def split(x: SearchQuery): (Option[SearchQuery], Seq[SearchFilter], Double) = x match {
      case And(l, r) =>
        val (tl, fl, bl) = split(l); val (tr, fr, br) = split(r)
        (tl, tr) match {
          case (t, None) => (t, fl ++ fr, bl + br)
          case (None, t) => (t, fl ++ fr, bl + br)
          case _ => unsupported("nested boolean text query")
        }
      case f: SearchFilter => (None, Seq(f), 0.0)
      case AllDocs => (None, Nil, 1.0)
      case other => (Some(other), Nil, 0.0)
    }
    val (textQ, filters, base) = split(q)
    textQ match {
      // filter/AllDocs-only query: the program scores it without
      // token arrays, no postings needed
      case None => topK(matching(scoreStruct(q)), k)
      case Some(tq) =>
        val (field, terms, minMatch) = tq match {
          case MatchTerm(f, t) => (f, Seq(t), 0)
          case MatchAnyTerms(f, ts) => (f, ts, 1)
          case MatchAllTerms(f, ts) => (f, ts, 0)
          case MatchMin(f, m, ts) => (f, ts, m)
          case MatchText(f, t) => (f, queryAn.analyze(t), 1)
          case MatchAllText(f, t) => (f, queryAn.analyze(t), 0)
          case _: MatchPhrase => unsupported("phrase query")
          case other => unsupported(s"query shape $other")
        }
        val q0 = Seq((0L, field, terms, minMatch)).toDF("qid", "field", "terms", "min_match")
        val scored = batchSearchPerDoc(q0)
          .select(col("key").as("__hit_key"), (col("score") + lit(base)).as("score"))
        val hits = docs.join(scored, key === col("__hit_key")).drop("__hit_key")
        topK(filters.reduceOption[SearchQuery](And)
          .fold(hits)(f => hits.where(scoreStruct(f).getField("ok"))), k)
    }
  }

  /** Global top-k collected to the driver (reference
    * `aggregatingSearch`, SearchableRDD.scala:117-120). */
  def aggregatingSearch(q: SearchQuery, k: Int): Array[(Row, Double)] =
    search(q, k).collect().map(r => (r, r.getAs[Double]("score")))

  /** Faceted counts over the query's FULL match set (Lucene/Solr
    * faceting, public API surface — not in the reference, which
    * returns only top-k rows): matching-document counts per value of
    * each facet field. ONE corpus scan and ONE shuffle regardless of
    * facet count — the (field, value) pairs explode in-row and
    * aggregate with map-side partials; output cardinality is bounded
    * by Sum(|distinct values|), never by the corpus. */
  def facetCounts(q: SearchQuery, facetFields: Seq[String]): DataFrame = {
    require(facetFields.nonEmpty, "facetCounts needs at least one facet field")
    val (pred, _) = compile(q)
    docs.where(pred)
      .select(explode(array(facetFields.map(f =>
        struct(lit(f).as("facet"), col(f).cast("string").as("value"))): _*)).as("fv"))
      .select(col("fv.facet").as("facet"), col("fv.value").as("value"))
      .groupBy(col("facet"), col("value"))
      .agg(count(lit(1)).as("n"))
  }

  /** Score explanation for the top-k hits of a flat term query — the
    * Lucene `IndexSearcher.explain` surface (the debugging staple of
    * every relevance-tuning loop): one row per (hit, matched term)
    * with the term's tf, df, idf and its score CONTRIBUTION, which
    * sum exactly to the hit's total. Hits and totals come from the
    * any-term program, each contribution from that term's own
    * single-term program — the scan-path scorer both times. Plan: the
    * top-k first (k rows), contributions exploded in-row AFTER the
    * limit — the explode multiplies k rows by |terms|, never the
    * corpus. Output: (key, score, term, tf, df, idf, contribution),
    * matched terms only. */
  def explainTerms(field: String, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "explainTerms needs at least one term")
    require(spec.textFields.contains(field), s"$field is not an indexed text field")
    // ONE df lookup serves the df column and every program's IDFs
    val dfs = dfFor(terms.map(field -> _).toSet)
    def df(t: String): Long = dfs.getOrElse((field, t), 0L)
    val idf = terms.map(t => (field, t) -> idfOf(field, df(t))).toMap
    def scorer(q: SearchQuery): Column = {
      val p = serialize(q)
      scanScorer(p, doublesOf(p, idf))
    }
    val parts = terms.map { t =>
      val r = scorer(MatchTerm(field, t))
      struct(lit(t).as("term"),
        coalesce(call_function("array_count_eq", tokensCol(field), lit(t)), lit(0))
          .cast("long").as("tf"),
        lit(df(t)).as("df"),
        lit(idf((field, t))).as("idf"),
        r.getField("score").as("contribution"),
        r.getField("ok").as("matched"))
    }
    matching(scorer(MatchAnyTerms(field, terms)))
      .orderBy(col("score").desc, key.asc)
      .limit(k)
      .select(key.as("key"), col("score"), explode(array(parts: _*)).as("p"))
      .where(col("p.matched"))
      .select(col("key"), col("score"), col("p.term").as("term"),
        col("p.tf").as("tf"), col("p.df").as("df"), col("p.idf").as("idf"),
        col("p.contribution").as("contribution"))
  }

  /** BM25F multi-field search (Robertson & Zaragoza 2009 §3.3, the
    * "simple BM25F" — Lucene's BM25FQuery / Elasticsearch
    * `combined_fields`): per-term frequencies are WEIGHTED AND
    * ACCUMULATED ACROSS FIELDS BEFORE saturation,
    *
    *   tf~(t) = Σ_f  w_f · tf_{f,t} / (1 − b_f + b_f · dl_f/avgdl_f)
    *   score  = Σ_t  idf(t) · tf~(t) / (k1 + tf~(t))
    *
    * — the principled multi-field ranking: unlike a per-field BM25
    * sum (or DisMax), a term's evidence saturates ONCE however many
    * fields repeat it, so structured boilerplate (title echoed in
    * body) cannot inflate the score. idf is the WHOLE-DOCUMENT idf:
    * df over docs containing the term in ANY text field of the index,
    * per the paper's treatment of the document as one bag, read from
    * the materialized cross-field stats table ([[xdfStats]] — built
    * once per index off the persisted postings, |vocab| rows).
    *
    * Match semantics: any term in any queried field. Plan: a
    * |terms|-row filtered collect on the cross-field stats (the
    * [[dfFromStats]] discipline — no corpus-sized job in the query path) +
    * the scan-path codegen'd score + TakeOrderedAndProject — the same
    * cost class as [[search]]; every arithmetic fold is in term/field
    * order so a DuckDB oracle replays it bit-exactly.
    *
    * @param fields (field, weight w_f, length-norm b_f) per queried
    *   text field. */
  def bm25fSearch(terms: Seq[String], fields: Seq[(String, Double, Double)],
      k: Int, k1: Double = 1.2): DataFrame = {
    require(terms.nonEmpty, "bm25fSearch needs at least one term")
    require(fields.nonEmpty, "bm25fSearch needs at least one field")
    fields.foreach { case (f, _, _) =>
      require(spec.textFields.contains(f), s"$f is not an indexed text field")
    }
    require(spec.storePositions,
      "bm25fSearch requires storePositions=true (per-field token arrays)")
    // whole-document df per term from the materialized cross-field
    // stats table — a |terms|-row filtered collect, the same bounded
    // read discipline as [[dfFromStats]]. No corpus-sized job in the query
    // path (r10 verdict item: the previous shape aggregated the whole
    // corpus per call).
    val dfMap = xdfFor(terms)
    val perTerm = terms.map { t =>
      val idf = idfOf(fields.head._1, dfMap.getOrElse(t, 0L))
      // field-order accumulation of weighted, length-normalized tf
      val tfAcc = fields.map { case (f, w, b) =>
        // null tokens / dl (absent field value) count 0
        val bNorm = lit(1.0 - b) +
          lit(b) * coalesce(dlCol(f).cast("double"), lit(0.0)) /
            lit(fieldStats(f).avgDl)
        val tf = coalesce(call_function("array_count_eq", tokensCol(f), lit(t)), lit(0))
        lit(w) * tf.cast("double") / bNorm
      }.reduce(_ + _)
      (lit(idf) * tfAcc / (lit(k1) + tfAcc), tfAcc > lit(0.0))
    }
    val score = perTerm.map(_._1).reduce(_ + _)
    val pred = perTerm.map(_._2).reduce(_ || _)
    docs
      .withColumn("score", score)
      .where(pred)
      .drop(internalCols(spec): _*)
      .orderBy(col("score").desc, key.asc)
      .limit(k)
  }

  /** Field-collapsed search (Lucene grouping / Elasticsearch
    * `collapse`, public API surface): top-k results with at most ONE
    * hit per value of `collapseField`, each group represented by its
    * best-scoring document (score desc, then smallest key — the
    * engine's standard tie-break). The collapse happens BEFORE the
    * global top-k as a per-group max aggregation, so the exchange
    * carries one row per distinct collapse value (with map-side
    * partials), never the full match set — the result-diversity
    * operator behind per-site SERP dedup, bounded at any corpus
    * size by the collapse-field cardinality. */
  def collapseSearch(q: SearchQuery, collapseField: String, k: Int): DataFrame = {
    require(spec.storePositions,
      "collapseSearch requires storePositions=true (scan-path scoring)")
    matching(scoreStruct(q))
      .groupBy(col(collapseField))
      // max(struct) picks highest score; -key makes ties prefer the
      // SMALLEST key, matching orderBy(score desc, key asc)
      .agg(max(struct(col("score"), (-key).as("negkey"))).as("best"))
      .select((col("best.negkey") * -1).as(spec.keyCol),
        col(collapseField), col("best.score").as("score"))
      .orderBy(col("score").desc, key.asc)
      .limit(k)
  }

  /** Cursor ("search_after") pagination, the Elasticsearch/Lucene
    * deep-paging API: page N+1 is everything strictly after the
    * cursor — the (score, key) of page N's last row — in the result
    * order (score desc, key asc). The cursor becomes a PREDICATE, so
    * no page ever sorts more than its own top-k: OFFSET-style paging
    * re-sorts (and at the reference's driver, re-collects) the whole
    * prefix; this stays one codegen'd filter + bounded top-k per
    * page at any depth. The cursor values sit in one-field struct
    * literals, which codegen references instead of inlining, so every
    * page reuses the same generated class. */
  def searchAfter(q: SearchQuery, k: Int,
      afterScore: Double, afterKey: Any): DataFrame = {
    require(spec.storePositions,
      "searchAfter requires storePositions=true (scan-path scoring)")
    def boxed(c: Column): Column = struct(c.as("v"))
    val score = boxed(col("score"))
    val cursorScore = boxed(lit(afterScore))
    topK(matching(scoreStruct(q)).where(score < cursorScore ||
      (score === cursorScore && boxed(key) > boxed(lit(afterKey)))), k)
  }

  /** Hit highlighting (Lucene Highlighter, public API surface): for
    * each top-k hit, the position of the FIRST occurrence of any of
    * the given query terms in the field's token array and a
    * `window`-token snippet centred on it. Pure per-row Column work
    * on the already-ranked top-k — positions from `array_position`,
    * snippet via `slice` + join; no extra scan or shuffle beyond the
    * search itself. */
  def highlight(q: SearchQuery, k: Int, field: String, terms: Seq[String],
      window: Int = 3): DataFrame = {
    require(spec.textFields.contains(field), s"$field is not an indexed text field")
    require(spec.storePositions, "highlight requires stored token arrays")
    val toks = tokensCol(field)
    // array_position returns 0 for absent terms — drop those, then
    // the earliest match (null when none). The terms travel as one
    // array literal, so the projection is the same for any term list.
    val firstPos = array_min(filter(
      transform(stringsLit(terms), t => array_position(toks, t)), p => p > 0))
    // top-k FIRST (bounded TakeOrderedAndProject), snippets computed
    // on the k survivors only — the token columns are still in scope
    // because the internal-column drop happens after
    matching(scoreStruct(q))
      .orderBy(col("score").desc, key.asc)
      .limit(k)
      .withColumn("hit_pos", firstPos)
      .withColumn("snippet",
        when(col("hit_pos").isNotNull,
          concat_ws(" ",
            slice(toks, greatest(col("hit_pos") - window, lit(1)).cast("int"),
              lit(2 * window + 1)))))
      .drop(internalCols(spec): _*)
  }

  /** Ids-only variant (reference `lightSearch`,
    * SearchableRDD.scala:139-142; manual column pruning there —
    * Catalyst's ColumnPruning makes this the same plan minus the
    * row materialization). */
  def lightSearch(q: SearchQuery, k: Int): DataFrame =
    search(q, k).select(key, col("score"))

  /** Early-projection variant (reference
    * `searchWithResultsTransformer`, SearchableRDD.scala:127-131). */
  def searchWithResultsTransformer(q: SearchQuery, k: Int, cols: Column*): DataFrame =
    search(q, k).select(cols :+ col("score"): _*)

  /** Point lookups by key (reference getElement/getElements,
    * SearchableRDD.scala:301-304 — there a targeted single-partition
    * runJob; here a key-predicate scan that prunes via min/max
    * statistics, or O(1) partitions if the corpus is bucketed by key). */
  def getElements(keys: Seq[Any]): DataFrame =
    docs.where(key.isin(keys: _*)).drop(internalCols(spec): _*)

  // ------------------------------------------------------------------
  // corpus statistics (reference: SearchableRDD.scala:310-330)
  // ------------------------------------------------------------------

  /** Docs-per-field counts (reference getDocumentCounts,
    * LuceneIndex.scala:129-140). */
  def getDocumentCounts: DataFrame =
    if (!spec.storePositions) {
      // no token arrays to scan — derive from the postings instead
      // (a doc counts for a field iff it produced >= 1 posting, the
      // same predicate the scan path evaluates); left-join against
      // the spec's field list so all-empty fields still report 0
      // like the scan path does
      import spark.implicits._
      (spec.textFields ++ spec.keywordFields).toDF("field")
        .join(postings.groupBy(col("field"))
          .agg(countDistinct(col("key")).as("__n")), Seq("field"), "left")
        .select(col("field"), coalesce(col("__n"), lit(0L)).as("n_docs"))
    } else {
      val perField = spec.textFields.map { f =>
        docs.select(lit(f).as("field"),
          when(size(tokensCol(f)) > 0, col(spec.keyCol)).as("k"))
      } ++ spec.keywordFields.map { f =>
        docs.select(lit(f).as("field"), when(col(f).isNotNull, col(spec.keyCol)).as("k"))
      }
      perField.reduceLeft(_ unionAll _)
        .groupBy(col("field")).agg(count(col("k")).as("n_docs"))
    }

  /** Full term dictionary with total term frequencies (reference
    * getTermCounts, LuceneIndex.scala:147-183). */
  def getTermCounts: DataFrame = stats.select(col("field"), col("term"), col("cf"))

  /** Per-term global IDF (reference getTermIDFs, IDFUtils.scala:9-28). */
  def getTermIDFs: DataFrame = {
    stats.join(broadcast(fieldStatsDf), "field")
      .select(col("field"), col("term"), idfCol(col("num_docs"), col("df")).as("idf"))
  }

  /** One-stop per-term statistics: document frequency, collection
    * frequency, and global IDF in one vocabulary-bounded frame — the
    * combined form of [[getDocumentCounts]] / [[getTermCounts]] /
    * [[getTermIDFs]] backing the `graft_term_stats` SQL table
    * function (reference stats family, SearchableRDD.scala:306-352).
    * Output: (field, term, df, cf, idf). */
  def getTermStats: DataFrame =
    stats.join(broadcast(fieldStatsDf), "field")
      .select(col("field"), col("term"), col("df"), col("cf"),
        idfCol(col("num_docs"), col("df")).as("idf"))

  /** Did-you-mean term suggestions (the Lucene DirectSpellChecker /
    * FuzzySuggester surface): for each input term, the top-`k`
    * dictionary terms of `field` within `maxEdits` Levenshtein edits,
    * ranked by (distance, df desc, term) — closer beats more common,
    * popularity breaks distance ties.
    *
    * Distribution shape: the input batch broadcasts against the stats
    * dictionary with an EXACT length-band prefilter
    * (|len(term) - len(input)| <= maxEdits) ahead of the Levenshtein
    * evaluation, so the scan prunes before the O(|a|*|b|) distance
    * runs; one codegen pass over the dictionary per batch — the same
    * cost class as Lucene's dictionary iteration (an FST/automaton
    * prefilter refines the constant, not the shape). The rank window
    * partitions by input term over band-sized groups. */
  def suggest(terms: Seq[String], field: String, maxEdits: Int = 2,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val in = terms.toDF("input_term")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("input_term")
      .orderBy(col("dist"), col("df").desc, col("term"))
    stats.where(col("field") === lit(field)).select(col("term"), col("df"))
      .join(broadcast(in),
        abs(length(col("term")) - length(col("input_term"))) <= maxEdits)
      .withColumn("dist", levenshtein(col("term"), col("input_term")))
      .where(col("dist") <= maxEdits)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("input_term"), col("rank"), col("term"),
        col("dist").cast("long").as("dist"), col("df"))
      .orderBy("input_term", "rank")
  }

  /** Index metadata (reference getIndicesInfo, IndicesInfo.scala:6-34). */
  def getIndicesInfo: DataFrame =
    stats.groupBy(col("field"))
      .agg(countDistinct(col("term")).as("num_terms"), sum(col("cf")).as("total_terms"))
      .join(broadcast(fieldStatsDf), "field")
      .select(col("field"), col("num_docs"), col("num_terms"), col("total_terms"),
        round(col("avg_dl"), 6).as("avg_dl"))

  private def fieldStatsDf: DataFrame = {
    import spark.implicits._
    fieldStats.toSeq.map { case (f, s) => (f, s.numDocs, s.avgDl) }
      .toDF("field", "num_docs", "avg_dl")
  }

  // ------------------------------------------------------------------
  // batch search + query join (reference: SearchableRDD.scala:194-298)
  // ------------------------------------------------------------------

  /** Batch search over a DataFrame of flat term queries
    * (reference batchSearch, SearchableRDD.scala:194-197 — there N
    * queries probe every index shard; here one postings equi-join
    * serves all queries in a single shuffle, and per-query top-k is
    * the bounded [[TopKAgg]] instead of the reference's
    * `groupByKey` + sort FIXME, DistributedIndexLuceneRDD.scala:160).
    *
    * @param queries (qid: long, field: string, terms: array<string>,
    *   min_match: int) — min_match <= 0 means ALL terms required,
    *   1 = ANY, n = at least n (MatchMin semantics)
    * @param broadcastQueries force-broadcast the exploded query-term
    *   frame onto the postings (default true: a batch of user queries
    *   is small by construction). Pass false when the query frame
    *   scales with the data — e.g. machine-generated per-document
    *   query batches — so Catalyst/AQE picks broadcast vs shuffle
    *   from runtime stats instead (same contract as queryJoin's
    *   broadcastHits, which plumbs through to here).
    * @param maxHitsPerIndex probe-depth cap (reference
    *   SearchableRDD.scala:103-119, default = exact): each partition
    *   of the scored probe contributes at most this many hits per
    *   query to the global merge. Values < k shrink the intermediate
    *   top-k state and shuffle at the reference's documented accuracy
    *   cost — a partition holding more than maxHitsPerIndex of a
    *   query's true top-k loses the excess.
    * @return (qid, rank, key, score) — rank 1..k by score desc, key asc
    */
  def batchSearch(queries: DataFrame, k: Int,
      broadcastQueries: Boolean = true,
      maxHitsPerIndex: Int = Int.MaxValue): DataFrame =
    batchSearchRaw(queries, k, None, broadcastQueries, maxHitsPerIndex)

  /** Index-probe execution of a flat term query: postings equi-join →
    * bounded top-k → broadcast join-back of the full rows. Same
    * semantics as the scan-path [[search]] for MatchAny/MatchAll/
    * MatchMin shapes (scores equal up to float summation order).
    *
    * This is the plan you want at cluster scale for selective
    * queries: with [[SearchIndex.saveBucketed]] postings, the probe
    * reads only the query terms' buckets — index-access cost, not a
    * corpus scan. The scan path wins when the query matches a large
    * corpus fraction (no join materialization); picking between them
    * is the engine's "index probe vs table scan" decision, left
    * explicit here. */
  def searchViaIndex(field: String, terms: Seq[String], minMatch: Int, k: Int): DataFrame = {
    import spark.implicits._
    val q = Seq((0L, field, terms, minMatch)).toDF("qid", "field", "terms", "min_match")
    val hits = batchSearch(q, k).drop("qid", "rank")
    docs.join(broadcast(hits), key === hits("key"))
      .drop("key")
      .drop(internalCols(spec): _*)
      .orderBy(col("score").desc, key.asc)
  }

  /** Batch search over arbitrary DSL queries (reference batchSearch /
    * batchSearchRaw with full DslQuery support, SearchableRDD.scala:
    * 194-250): each query compiles to its own scan-path plan and the
    * per-query top-k results union. Right for small batches of
    * complex queries; use [[batchSearch]] (single postings join) for
    * large batches of flat term queries. */
  def batchSearchDsl(queries: Seq[(Long, SearchQuery)], k: Int): DataFrame =
    if (queries.isEmpty)
      // zero queries (an empty batch): an empty frame with the
      // contract schema, not an empty.reduceLeft crash
      lightSearch(AllDocs, 1)
        .withColumn("qid", lit(0L)).withColumn("rank", lit(1))
        .select(col("qid"), col("rank"), key.as("key"), col("score"))
        .where(lit(false))
    else queries.map { case (qid, q) =>
      lightSearch(q, k)
        .withColumn("qid", lit(qid))
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1)).orderBy(col("score").desc, key.asc)))
        .select(col("qid"), col("rank"), key.as("key"), col("score"))
    }.reduceLeft(_ unionAll _)

  /** Batch search with raw query-syntax strings (reference
    * batchSearchRaw / lightBatchSearchRaw, SearchableRDD.scala:
    * 204-218): each string becomes a query through this index's
    * [[constructQuery]] strategy — by default the `Parsed`
    * mini-syntax (`+required optional -excluded "a phrase"`) against
    * `field`; an [[IndexSpec.queryConstructor]] overrides it. */
  def batchSearchRaw(queries: Seq[(Long, String)], field: String, k: Int): DataFrame =
    batchSearchDsl(queries.map { case (qid, s) => qid -> constructQuery(s, field) }, k)

  /** The raw-string → query strategy of this index (reference
    * `QueryConstructor.constructQuery`, impl/queries/QueryConstructor.
    * scala:7-10): the spec's pluggable [[graft.dsl.QueryConstructor]]
    * when set, else the default single-field `Parsed` grammar over
    * `field` (the reference's DefaultQueryConstructor regime, with
    * the call-site field instead of its hardcoded "text"). */
  def constructQuery(raw: String, field: String): SearchQuery =
    spec.queryConstructor match {
      case Some(qc) => qc.construct(raw)
      case None => Parsed(field, raw)
    }

  /** Top-k search from a raw query string through [[constructQuery]]
    * — the one-string entry point of a configured index. `field` is
    * only the default-field fallback when no constructor is set. */
  def searchRaw(raw: String, k: Int, field: String = ""): DataFrame = {
    val f = if (field.nonEmpty) field else spec.textFields.head
    search(constructQuery(raw, f), k)
  }

  /** Persists the index artifacts as parquet (reference analog:
    * `searchable.saveAsObjectFile`, examples/StoreableExample.scala:
    * 22-30 — parquet instead of object files so a reload gets schema,
    * column pruning and predicate pushdown on postings/term).
    * At cluster scale, write postings bucketed by term
    * (`bucketBy(n, "term").saveAsTable`) so the per-query posting
    * lookup prunes buckets instead of scanning. */
  def save(path: String): Unit = {
    import spark.implicits._
    docs.write.mode("overwrite").parquet(s"$path/docs")
    postings.write.mode("overwrite").parquet(s"$path/postings")
    stats.write.mode("overwrite").parquet(s"$path/stats")
    fieldStats.toSeq.map { case (f, s) => (f, s.numDocs, s.avgDl) }
      .toDF("field", "num_docs", "avg_dl")
      .write.mode("overwrite").parquet(s"$path/field_stats")
  }

  /** Query join — the flagship search/similarity join (reference
    * queryJoin, SearchableRDD.scala:257-298, PartitionsIndexLuceneRDD.
    * scala:265-400): for each left row, generate a term query and
    * retrieve its top-k matches from this index.
    *
    * The reference ships every query batch to every index shard via
    * `cartesian` (PartitionsIndexLuceneRDD.scala:273); here queries
    * flow through the same postings equi-join as [[batchSearch]] — a
    * plain shuffle join on term, no Q×I blowup, skew handled by AQE.
    *
    * @param left left DataFrame
    * @param qidCol stable key column of `left`
    * @param termsCol expression producing the query's terms array
    * @param field indexed field to search
    * @param excludeSelf drop hits whose key equals the query's qid
    *   (self-join convention, examples/SearchableRDDExamples.scala:68-74)
    * @param broadcastHits treat the query batch as SMALL: force-
    *   broadcast both the exploded query-term frame for the postings
    *   probe and the (qid, rank, key, score) hits for the join-back.
    *   Both grow with |left| (terms per row, resp. k hits per row),
    *   so this is only safe when the caller KNOWS left is small (a
    *   query batch, not the corpus). The default (false) leaves both
    *   choices to Catalyst/AQE, which broadcasts from runtime stats
    *   when a side fits and falls back to shuffle hash joins for a
    *   corpus-scale self-join — where a forced broadcast would grow
    *   linearly with the corpus and blow the driver. */
  def queryJoin(left: DataFrame, qidCol: String, termsCol: Column, field: String,
      k: Int, minMatch: Int = 1, excludeSelf: Boolean = false,
      broadcastHits: Boolean = false,
      maxHitsPerIndex: Int = Int.MaxValue,
      impactPruning: Boolean = false): DataFrame = {
    // impact-ordered EXACT pruning (see queryJoinAst): the flat term
    // set rewrites to MatchAllTerms (minMatch <= 0) / MatchMin and
    // runs through the MaxScore pipeline — bit-identical hits, probe
    // volume bounded by the essential terms instead of Sum(df over
    // all query terms). Terms are deduped (each distinct term scores
    // once, the postings-probe path's own aggregate discipline).
    if (impactPruning) {
      require(maxHitsPerIndex == Int.MaxValue && !broadcastHits,
        "impactPruning is exact and replaces maxHitsPerIndex/broadcastHits tuning — pass one, not both")
      val prepared = left.select(col(qidCol).cast("long").as("__qid"),
        sort_array(array_distinct(coalesce(termsCol, array().cast("array<string>"))))
          .as("__terms"))
      val f = field
      val mm = minMatch
      val gen: Row => SearchQuery = { r =>
        val ts = r.getSeq[String](1)
        if (ts.isEmpty) MatchAnyTerms(f, Nil) // NOMATCH
        else if (mm <= 0) MatchAllTerms(f, ts)
        else MatchMin(f, mm, ts)
      }
      val hits0 = queryJoinAst(prepared, "__qid", gen, field, k, excludeSelf,
        impactPruning = true)
      return left.join(hits0, left(qidCol) === hits0("qid")).drop(hits0("qid"))
    }
    val queries = left.select(col(qidCol).as("qid"), termsCol.as("terms"))
      .withColumn("field", lit(field))
      .withColumn("min_match", lit(minMatch))
    val hits0 = batchSearchRaw(queries, k,
      if (excludeSelf) Some(col("qid") =!= col("key")) else None,
      broadcastQueries = broadcastHits, maxHitsPerIndex = maxHitsPerIndex)
    val hits = if (broadcastHits) broadcast(hits0) else hits0
    // drop by Column, not name: a left side with its own "qid" column
    // must keep it
    left.join(hits, left(qidCol) === hits0("qid")).drop(hits0("qid"))
  }

  /** Query join with an ARBITRARY query generator — the reference's
    * `queryJoin(other, queryGenerator: T => DslQuery, ...)`
    * (SearchableRDD.scala:257-298): each left row generates any DSL
    * AST (phrase, boolean, filtered...), not just a flat term set,
    * and its top-k hits join back onto the left row.
    *
    * Runs on [[queryJoinAst]] (fully distributed, nothing collected,
    * plan size constant in |left|) and joins its (qid, rank, key,
    * score) hits back on the qid; the left's columns plus rank, key
    * and score come out, like [[queryJoin]].
    *
    * @param queryGen function from a left Row to the query AST; runs
    *   on the executors and reads whatever columns the caller selected
    *   into `left`
    * @param excludeSelf drop hits whose key equals the query's qid;
    *   per-query top-k is taken after the exclusion so each query
    *   still yields up to k hits
    * @param pruneField the probe field handed to [[queryJoinAst]]
    *   (default: the first indexed text field). A generator whose
    *   queries lead on a DIFFERENT text field compiles to cross-field
    *   leaves with no probe alternatives, so every shape becomes a
    *   TOTAL (full-corpus) pass — correct, but it defeats the pruning
    *   `impactPruning` asks for. Pass the field the generated queries'
    *   scored leaves live on. */
  def queryJoinDsl(left: DataFrame, qidCol: String, queryGen: Row => SearchQuery,
      k: Int, excludeSelf: Boolean = false,
      impactPruning: Boolean = false,
      pruneField: Option[String] = None): DataFrame = {
    val hits = queryJoinAst(left, qidCol, queryGen, pruneField.getOrElse(spec.textFields.head),
      k, excludeSelf, impactPruning = impactPruning)
    left.join(hits, left(qidCol) === hits("qid")).drop(hits("qid"))
  }

  /** Data-driven PHRASE query join: each left row contributes a
    * phrase (a string column, analyzed with the query-time analyzer)
    * and its top-k hits come back as (qid, rank, key, score), like
    * [[lightQueryJoin]]. It is [[queryJoinAst]] with the reference's
    * phrase-generating `queryGenerator` (SearchableRDD.scala:257-298):
    * one `MatchPhrase(field, phrase, slop)` per row, so the batch
    * shares the query-join memo, shape dedup and plan, and scores
    * exactly as `MatchPhrase` does on the scan path. A null phrase,
    * or one the analyzer empties, matches nothing. */
  def queryJoinPhrase(left: DataFrame, qidCol: String, phraseCol: Column, field: String,
      k: Int, excludeSelf: Boolean = false, slop: Int = 0): DataFrame = {
    require(spec.storePositions,
      "queryJoinPhrase needs stored positions (storePositions = true)")
    require(spec.textFields.contains(field), s"$field is not an indexed text field")
    val f = field
    val s = slop
    queryJoinAst(left.select(col(qidCol).cast("long").as("__qid"),
        phraseCol.cast("string").as("__phrase")), "__qid",
      r => if (r.isNullAt(1)) MatchAnyTerms(f, Nil) else MatchPhrase(f, r.getString(1), s),
      field, k, excludeSelf)
  }

  /** Data-driven BOOLEAN query join — the corpus-scale path for the
    * reference's arbitrary `queryGenerator: T => DslQuery`
    * (SearchableRDD.scala:257-298) when the generated AST is a
    * boolean query: each left row carries MUST / SHOULD / MUST_NOT
    * term arrays (Lucene BooleanQuery clause roles; the DSL's
    * `And` / `matchMin` / `Not` shape) plus an optional numeric range
    * filter, and the WHOLE batch runs as ONE distributed plan.
    * Nothing is collected and the plan size is constant in |left| —
    * a left of millions of rows is fine.
    *
    * Plan (the query-join skeleton [[queryJoinAst]] shares — postings
    * candidates + in-row verify, which is also Lucene's BooleanScorer
    * shape: drive from the RAREST required clause's postings, verify
    * the remaining clauses per candidate): the probe joins postings
    * on ONE term per query — the minimum-df required term (all
    * optional terms, made
    * distinct, when the query has no required clause) — so candidate
    * volume is Sum(min-df), not Sum(df) over every clause; candidates
    * then join the corpus token arrays once (AQE broadcasts the
    * smaller side) and a single codegen'd pass per (query, candidate)
    * — [[graft.functions.BoolQueryScore]] — computes role counts and
    * the BM25/TFIDF score from the token array itself. No
    * (query, doc)-grained hash aggregate exists anywhere in the plan;
    * the old aggregate formulation shuffled every clause's postings
    * into a |queries| x |matched docs| group-by, which measured 3-4x
    * slower at sf0.1 and scales with total clause df instead of
    * rarest-clause df.
    *
    * Match rule (BooleanQuery semantics): a doc matches iff it
    * contains EVERY required term, NO excluded term, and at least
    * `max(minOptMatch, 1 if required is empty)` optional terms — a
    * SHOULD-only query needs one positive clause, as in Lucene. The
    * score sums the BM25/TFIDF term scores of the matched
    * required+optional occurrences (excluded terms never score).
    * Role arrays are deduplicated per role; the caller keeps roles
    * DISJOINT per query (a term both required and excluded matches
    * nothing, exactly as the boolean algebra says).
    *
    * @param attrFilter optional (docAttrCol, loCol, hiCol): keep hits
    *   whose doc-side `docAttrCol` value lies in the left row's
    *   [lo, hi]; null bounds are unbounded. Evaluated per (query,
    *   candidate) after verification — one keyed equi-join against
    *   the corpus attributes, no extra shuffle of the postings.
    * @param maxHitsPerIndex probe-depth cap (reference
    *   SearchableRDD.scala:103-119): values < k bound each
    *   partition's verified hits PER SHAPE before the qid fan-out
    *   (per qid at the final merge when an attrFilter or excludeSelf
    *   would need the capped rows), shrinking the fan join's input at
    *   the reference's documented accuracy cost. Default = exact.
    * @param impactPruning EXACT early termination for DENSE boolean
    *   queries — a NATIVE MaxScore stage in this pipeline (an AST
    *   rewrite was measured 2x slower: per-row attr bounds inside
    *   the program split every shared shape, SCALE.md r15). Per
    *   shape the plan scores a bounded seed set (the top
    *   [[SearchIndex.JoinGates]]`.seedsPerShape` highest-impact
    *   postings of the min-df probe term, through the full verify
    *   gates), takes as
    *   threshold the MINIMUM over the shape's qids of each qid's
    *   (k+1)-th best ATTR-FILTERED seed score (binding only when
    *   every qid produced one — per-qid bounds stay honored; k+1
    *   absorbs excludeSelf), drops provably-unreachable probe terms
    *   ([[SearchIndex.boolEssentialProbes]]), and block-max-filters
    *   the kept terms' postings. Results are BIT-IDENTICAL to the
    *   exact join (pinned in ImpactPruningSpec; the
    *   `query_join_bool_pruned` harness entry hash-matches the
    *   exact twin's oracle). The win is on scored disjunctions:
    *   SHOULD-only shapes' exact candidate volume is Sum(df over
    *   optional terms) — Theta(corpus) per shape on dense terms —
    *   while the pruned probe touches only the terms a top-k hit
    *   can come from. Mutually exclusive with `maxHitsPerIndex`.
    * Output is (qid, rank, key, score) like [[lightQueryJoin]]. */
  def queryJoinBool(left: DataFrame, qidCol: String,
      requiredCol: Column, optionalCol: Column, excludedCol: Column,
      field: String, k: Int, minOptMatch: Int = 0,
      attrFilter: Option[(String, Column, Column)] = None,
      excludeSelf: Boolean = false,
      maxHitsPerIndex: Int = Int.MaxValue,
      impactPruning: Boolean = false): DataFrame = {
    require(spec.textFields.contains(field), s"$field is not an indexed text field")
    require(!(impactPruning && maxHitsPerIndex != Int.MaxValue),
      "impactPruning is exact and replaces the maxHitsPerIndex accuracy trade — pass one, not both")
    // REPEATED invocations are memoized exactly like [[queryJoinAst]]
    // (same memo, same LRU + sameResult discipline): the scored
    // (qid, key, score) frame — everything up to the per-call
    // top-k/self-exclusion tail — is cached keyed on the ANALYZED
    // canonical-query projection (left plus the resolved clause/attr
    // expressions — resolution strips the per-construction Origin
    // identity raw Columns carry, which would otherwise never hash
    // equal) and every plan-shaping parameter; re-issuing the same
    // join reuses the canon checkpoint and the shape and threshold
    // tables, and only the probe+verify re-runs.
    val empty = array().cast("array<string>")
    val (loSel, hiSel) = attrFilter match {
      case Some((_, lo, hi)) => (lo.cast("double").as("__lo"), hi.cast("double").as("__hi"))
      case None => (lit(null).cast("double").as("__lo"), lit(null).cast("double").as("__hi"))
    }
    val canonRaw = left.select(
      col(qidCol).cast("long").as("qid"),
      sort_array(array_distinct(coalesce(requiredCol, empty))).as("__req"),
      sort_array(array_distinct(coalesce(optionalCol, empty))).as("__opt"),
      sort_array(array_distinct(coalesce(excludedCol, empty))).as("__exc"),
      loSel, hiSel)
    val canonPlan = canonRaw.queryExecution.analyzed
    val memoKey = (canonPlan.semanticHash(),
      s"bool#af=${attrFilter.map(_._1).getOrElse("-")}#k=$k#mom=$minOptMatch" +
        s"#mh=$maxHitsPerIndex#es=$excludeSelf#ip=$impactPruning",
      qidCol, field)
    val scored = memoized(memoKey, canonPlan)(buildBoolScored(canonRaw, field, k,
      minOptMatch, attrFilter.map(_._1), excludeSelf, maxHitsPerIndex, impactPruning))
    val preFanCap = attrFilter.isEmpty && !excludeSelf
    perQueryTopK(
      if (excludeSelf) scored.where(col("qid") =!= col("key")) else scored, k,
      if (preFanCap) Int.MaxValue else maxHitsPerIndex)
  }

  /** The setup + probe + verify pipeline behind [[queryJoinBool]],
    * producing the un-capped scored (qid, key, score) frame plus the
    * setup frames scoped to the memo entry (see [[memoized]] for
    * their lifetime). Rows with a null qid are dropped here: they
    * get no hits.
    *
    * Setup cost: one checkpoint of the |left|-row `canon` frame and
    * one collect of the shape table `qinfo` (one row per distinct
    * shape), plus one collect of the threshold table when pruning.
    * The tables are re-planned as local relations when the
    * batch has at most [[SearchIndex.JoinGates]]`.broadcastShapesMax`
    * rows (so at most that many shapes, the gate that broadcasts
    * them), and the qid fan-out broadcasts too; above it they are
    * lineage-cut and stay distributed, and `qinfo` is counted for the
    * broadcast decision. */
  private def buildBoolScored(canonRaw: DataFrame,
      field: String, k: Int, minOptMatch: Int, attrField: Option[String],
      excludeSelf: Boolean, maxHitsPerIndex: Int,
      impactPruning: Boolean): (DataFrame, Seq[DataFrame]) = {
    val entryFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { entryFrames += df; df }
    val fs = fieldStats(field)
    // impactPruning is implemented NATIVELY in this pipeline (below),
    // not by rewriting to queryJoinAst: per-row attr bounds would
    // have to live inside the rewritten program and every bound value
    // would split an otherwise-shared shape — measured 2x SLOWER than
    // the exact join on the z16 Zipf corpus (SCALE.md r15). Here the
    // shapes stay clause-only and the threshold honors the per-qid
    // bounds instead (min over the shape's qids of each qid's
    // (k+1)-th best FILTERED seed score).
    // canonical query rows: role arrays sorted+deduped so textually
    // different but equal queries share a shape. Checkpointed: two
    // plan branches read it (shape dedup + fan-out join), and every
    // downstream stage would otherwise re-embed the left derivation
    // in its plan and task closures.
    val (canon0, collect) = SearchIndex.checkpointCanon(
      canonRaw.where(col("qid").isNotNull), joinGates.broadcastShapesMax)
    val canon = keep(canon0)
    // QUERY DEDUPLICATION: generated queries repeat (many left rows
    // produce the same clause sets — the data-driven analog of a
    // query cache), so the postings probe, scoring and verification
    // run once per DISTINCT shape; results fan back out to every qid
    // by a keyed join. Candidate volume is then
    // |distinct shapes| x df, not |left| x df — on a left whose
    // generator has bounded range this is the difference between a
    // linear and a quadratic join.
    val shapes = canon.groupBy("__req", "__opt", "__exc")
      .agg(min(col("qid")).as("sid"), count(lit(1)).as("__nq"))
    // the shape's clause terms as (term, role) slots, sorted: the
    // deterministic score summation order. Absent terms keep df=0, so
    // required-term queries with an unknown term simply match nothing
    // (the probe term's empty postings yield no candidates, and the
    // in-row verify would reject any candidate anyway), like idfFor.
    // Only pruning reads the per-term max impacts: the exact join
    // never pays that index-wide aggregate.
    val withStats = withTermStats(shapes
      .withColumn("__q", sort_array(concat(
        transform(col("__req"), t => struct(t.as("term"), lit(1).as("role"))),
        transform(col("__opt"), t => struct(t.as("term"), lit(0).as("role"))),
        transform(col("__exc"), t => struct(t.as("term"), lit(-1).as("role"))))))
      .withColumn("__slots", transform(col("__q"),
        x => struct(lit(field).as("field"), x.getField("term").as("term")))),
      "__slots", impactPruning)
    val rarest = array_min(filter(
      zip_with(col("__q"), col("__dfs"), (x, d) => struct(d.as("df"),
        x.getField("term").as("term"), x.getField("role").as("role"))),
      _.getField("role") === 1))
    // the SHAPE TABLE, one row per shape: the shape's clause arrays
    // (the fan-out join key), its qid count, ALIGNED term/role/idf
    // arrays and the probe term set: the minimum-df required term
    // (Lucene: lead with the rarest MUST clause), or every optional
    // term when no clause is required. Everything downstream reads
    // this one table.
    val (qinfo, _) = shapeTable(withStats
      .select((Seq(col("sid"), col("__req"), col("__opt"), col("__exc"), col("__nq"),
        size(col("__req")).as("n_req"),
        transform(col("__q"), _.getField("term")).as("__terms"),
        transform(col("__q"), _.getField("role")).as("__roles"),
        col("__idfs"), col("__dfs"),
        when(size(col("__req")) > 0, array(rarest.getField("term")))
          .otherwise(filter(col("__opt"), _.isNotNull)).as("__probes")) ++
        (if (impactPruning) Seq(col("__mis")) else Nil)): _*),
      keep, collect)
    // the broadcast gate: a collected table is under it by
    // construction; above the collect gate the lineage-cut table is
    // counted
    val bc = collect || qinfo.count() <= joinGates.broadcastShapesMax
    def small(df: DataFrame): DataFrame = if (bc) broadcast(df) else df
    // in-row verification + scoring: the candidates' token arrays
    // (and the attr column, same join — no second corpus join), then
    // the clause arrays, one codegen'd pass per (query, candidate).
    // Carrying __terms/__roles/__idfs on every candidate row through
    // the corpus exchange shuffled 93 MB where the bare pairs are
    // ~3 MB at sf0.1 (r17).
    val attrSel = attrField match {
      case Some(f) => Seq(col(f).cast("double").as("__attr"))
      case None => Seq.empty
    }
    val docSide = docs.select(
      (Seq(key.as("__doc_key"), tokensCol(field).as("__tokens")) ++ attrSel): _*)
    val (kind, k1, b) = spec.similarity match {
      case BM25(k1v, bv) => (0, k1v, bv)
      case TFIDF() => (1, 0.0, 0.0)
    }
    val qSlim = qinfo.select(col("sid"), col("n_req"), col("__terms"),
      col("__roles"), col("__idfs"))
    def verify(cands: DataFrame): DataFrame =
      attachAndScore(cands, docSide, qSlim, bc, call_function("bool_query_score",
          col("__tokens"), col("__terms"), col("__roles"), col("__idfs"),
          lit(kind), lit(k1), lit(b), lit(fs.avgDl)))
        .where(col("__r.req") === col("n_req") && col("__r.exc") === 0 &&
          col("__r.opt") >= greatest(lit(minOptMatch),
            when(col("n_req") === 0, lit(1)).otherwise(lit(0))))
        .select((Seq(col("sid"), col("key"), col("__r.score").as("score")) ++
          attrSel.map(_ => col("__attr"))): _*)
    // qid fan-out: canon against the shape table's clause arrays.
    // Under the collect gate it has at most gate rows and broadcasts
    // into both joins that read it, so their plans never depend on
    // which AQE stage finishes first
    val fan0 = canon
      .join(small(qinfo.select(col("__req"), col("__opt"), col("__exc"), col("sid"))),
        Seq("__req", "__opt", "__exc"))
      .select(col("qid"), col("sid"), col("__lo"), col("__hi"))
    val fan = if (collect) broadcast(fan0) else fan0
    val probes = qinfo.select(col("sid"), col("__probes").as("probe"))
    // per-qid attr bounds, applied after the fan-out
    def inBounds(fanned: DataFrame): DataFrame =
      if (attrField.isEmpty) fanned
      else fanned.where((col("__lo").isNull || col("__attr") >= col("__lo")) &&
        (col("__hi").isNull || col("__attr") <= col("__hi")))
    // impact-ordered EXACT pruning, native (MaxScore adapted to
    // per-qid attr bounds — see the method comment):
    //   1. per shape, score a bounded seed set: the top
    //      `seedsPerShape` highest-impact postings of the
    //      MIN-DF probe term, through the same verify gates;
    //   2. per (shape, qid), the threshold is the qid's (k+1)-th
    //      best seed score AFTER its own attr bounds (k+1 absorbs
    //      excludeSelf); the SHAPE threshold is the minimum over
    //      its qids, and only binds when EVERY qid produced one —
    //      a doc below it scores below every qid's k-th best, so
    //      dropping it is invisible in each qid's filtered top-k;
    //   3. per shape, keep only probe terms outside which no
    //      document's score upper bound (measured per-term max
    //      impacts) reaches the threshold, and attach each kept
    //      term's BLOCK-MAX minimum posting part — rows below it
    //      provably cannot lift any containing doc to the
    //      threshold (every posting row of every above-threshold
    //      doc survives its own term's filter, so no seed union
    //      is needed: pruned candidates remain a superset of every
    //      qid's filtered top-k).
    // Shapes with a null threshold keep the exact probe below.
    val thetaBySid: Option[DataFrame] =
      if (!impactPruning) None
      else {
        // prunability gate (see [[SearchIndex.boolPrunable]]): only
        // shapes where the threshold machinery has leverage pay the
        // seed scan; the rest keep the exact probe untouched
        val minDfGate = joinGates.seedsPerShape.toLong
        val prunableUdf = udf((terms: Seq[String], roles: Seq[Int],
            mis: Seq[Double], dfs: Seq[Long], nReq: Int,
            probeTs: Seq[String]) => SearchIndex.boolPrunable(
          terms, roles, mis, dfs, nReq, probeTs, minDfGate))
        // seed from the rarest SCORING term (required or optional),
        // not the rarest PROBE term: for a dense-required shape the
        // probe is the head term whose top-impact postings are
        // opt-poor — a threshold seeded there never clears the
        // residual mass, while the rarest optional's postings hold
        // the opt-rich docs the true top-k comes from (and its scan
        // is the cheapest of any scoring term's). Read off the shape
        // table's aligned arrays: no aggregate.
        val seedTerm = qinfo
          .where(size(col("__probes")) > 0 &&
            prunableUdf(col("__terms"), col("__roles"), col("__mis"),
              col("__dfs"), col("n_req"), col("__probes")))
          .select(col("sid"), array_min(filter(
            arrays_zip(col("__dfs"), col("__terms"), col("__roles")),
            x => x.getField("__roles") >= 0 && x.getField("__dfs") > 0)).as("m"))
          .where(col("m").isNotNull)
          .select(col("sid"), col("m.__terms").as("term"), col("m.__dfs").as("df"))
        val seedPass = inBounds(verify(seedScan(seedTerm, field, k + 1)).join(fan, Seq("sid")))
        val thetaQ = seedPass
          .groupBy(col("sid"), col("qid"))
          .agg(topkAggFor(seedPass, k + 1)(col("key"), col("score")).as("__top"))
          .select(col("sid"),
            when(size(col("__top")) >= k + 1,
              element_at(col("__top"), k + 1).getField("score")).as("__thq"))
        // the qid counts come from the shape table, not from another
        // pass over canon
        val theta = thetaQ
          .groupBy(col("sid"))
          .agg(count(lit(1)).as("__ng"),
            count(col("__thq")).as("__nb"),
            min(col("__thq")).as("__min_th"))
          .join(small(qinfo.select(col("sid"), col("__nq"))), Seq("sid"))
          .select(col("sid"),
            when(col("__ng") === col("__nq") && col("__nb") === col("__nq"),
              col("__min_th")).as("__theta"))
        // the threshold table: |shapes| rows, read by both candidate
        // branches below
        Some(shapeTable(theta.where(col("__theta").isNotNull), keep, collect)._1)
      }
    val cands = thetaBySid match {
      case None => exactCands(probes, field, bc)
      case Some(theta) =>
        val pExp = if (spec.similarity == TFIDF()) 2.0 else 1.0
        val essUdf = udf((terms: Seq[String], roles: Seq[Int], idfsA: Seq[Double],
            mis: Seq[Double], dfs: Seq[Long], nReq: Int, probeTs: Seq[String],
            th: Double) => SearchIndex.boolEssentialProbes(
          terms, roles, idfsA, mis, dfs, nReq, probeTs, th, pExp))
        // an empty kept set = "no bite" (see boolEssentialProbes):
        // those shapes fall through to the exact branch below
        val withTheta = qinfo.join(theta, Seq("sid"))
          .withColumn("__kept", essUdf(col("__terms"), col("__roles"),
            col("__idfs"), col("__mis"), col("__dfs"), col("n_req"),
            col("__probes"), col("__theta")))
          .where(size(col("__kept")) > 0)
        // a single-term probe's (sid, key) is unique by construction;
        // multi-term probes (a coverage set K, or SHOULD-only
        // optionals) dedup — the split keys on the KEPT set's size,
        // not n_req, since a req-led dense shape may probe its
        // optionals (boolEssentialProbes' coverage switch)
        val prunedProbes = withTheta
          .select(col("sid"), size(col("__kept")).as("__nk"),
            explode(col("__kept")).as("pt"))
          .select(col("sid"), col("__nk"),
            col("pt.term").as("term"), col("pt.mp").as("__mp"))
        val prunedSingle = blockMaxCands(prunedProbes.where(col("__nk") === 1), field, bc)
        val prunedMulti = blockMaxCands(prunedProbes.where(col("__nk") > 1), field, bc)
          .dropDuplicates("sid", "key")
        // exact branch for shapes whose threshold did not bind OR
        // whose essential set came back empty ("no bite")
        prunedSingle.unionByName(prunedMulti).unionByName(exactCands(
          probes.join(withTheta.select("sid"), Seq("sid"), "left_anti"), field, bc))
    }
    val verified = verify(cands)
    // probe-depth cap (the per-SHAPE form of maxHitsPerIndex): bound
    // each partition's verified hits per shape before the qid fan-out,
    // shrinking the fan join's input at the documented accuracy cost.
    // Applies pre-fan only when nothing downstream (attr filter,
    // self-exclusion) would need the capped-away rows; otherwise the
    // cap moves to the qid-grained final merge.
    val preFanCap = attrField.isEmpty && !excludeSelf
    val capped =
      if (maxHitsPerIndex < k && preFanCap)
        perPartitionTopK(verified, "sid", maxHitsPerIndex)
      else verified
    (inBounds(capped.join(fan, Seq("sid"))).select(col("qid"), col("key"), col("score")),
      entryFrames.toSeq)
  }

  /** Fully DISTRIBUTED query join for an ARBITRARY nested query
    * generator — the corpus-scale form of the reference's
    * `queryJoin(other, queryGenerator: T => DslQuery, ...)`
    * (SearchableRDD.scala:257-298) for ANY generated AST shape, not
    * just the flat/phrase/boolean specializations ([[queryJoinDsl]]
    * is this join with the left's columns joined back). Nothing is
    * ever collected to the driver and the PLAN is constant-size in
    * |left| — a corpus-proportional left is fine.
    *
    * How: `queryGen` runs on the EXECUTORS (the reference ships the
    * same closure to its shards); each AST serializes to
    * [[graft.dsl.QueryProgram]]'s pre-order bytecode + aligned term/
    * const tables, which travel as ordinary array columns. Identical
    * programs dedupe into SHAPES (the `queryJoinBool` query-cache
    * discipline). Per shape the plan picks the cheapest SOUND probe
    * set — the minimum-total-df alternative from the program's
    * candidate sets, generalizing Lucene's lead-with-the-rarest-MUST
    * discipline to nested ASTs — probes the postings with it, and
    * verifies+scores each (shape, candidate) pair with one codegen'd
    * [[graft.functions.DslQueryScore]] pass — the same scorer the
    * scan path ([[compile]]) evaluates per document. TOTAL shapes
    * (top-level Not/AllDocs/Should/pure filter — queries that can
    * match a doc containing none of their terms) take a full corpus
    * pass, the honest cost of a match-all query.
    *
    * KEYWORD-field leaves (MatchTerm & friends on an un-analyzed
    * field) and string-valued Eq/InSet filters distribute too: they
    * verify against a doc-side string-attribute map with keyword
    * scoring (tf 1, dl 1, avgdl 1) and never
    * probe — under `And` they ride their text sibling's probe; a
    * pure keyword query is an honest corpus pass.
    *
    * Dictionary-expansion leaves (wildcard/fuzzy/regex) distribute
    * too: each distinct (kind, field, pattern, maxEdits) joins once
    * against the term dictionary ([[expandShapes]] — the Lucene
    * multi-term rewrite with its constant-score semantics and
    * dictionary-order maxClauseCount cap, same as [[expandDict]])
    * and the serialized programs are rewritten in-plan;
    * a text-field expansion's probe set is its expanded terms.
    *
    * CROSS-FIELD text leaves (scored leaves on an indexed text field
    * other than `field`, including phrase/near/expansion there)
    * verify against a doc-side per-field tokens map with that
    * field's dl and avgdl; like keyword leaves they never probe.
    *
    * Filter values may be numerics, strings, booleans, dates or
    * timestamps (encoded order-preserving into the consts table —
    * epoch days / epoch micros — with the matching doc-side
    * `unix_date`/`unix_micros` columns). Anything else fails at
    * plan time, as it does on the scan path.
    *
    * Setup cost: see [[buildAstScored]] — under the broadcast gate
    * the per-shape setup tables are collected (bounded by the gate)
    * and the DISTINCT filter attribute column names are read off
    * them. Output is (qid, rank,
    * key, score) like [[lightQueryJoin]].
    *
    * REPEATED invocations are memoized: the scored (qid, key, score)
    * frame — everything up to the per-call top-k/self-exclusion
    * tail — is cached on this index keyed by the left plan's
    * canonicalized form and the generator's serialized closure
    * (class + captured state), so re-issuing the same join (a
    * re-executed workload, a bench rerun, a k sweep) reuses the
    * canon checkpoint and the shape tables and launches nothing
    * until its result is collected; only the probe+verify job
    * re-runs. Two calls
    * share an entry only when `sameResult` holds for the left AND
    * the generators serialize byte-identically — a generator whose
    * captured state changed fingerprints differently and misses.
    * Memoized frames live while the memo or a returned result reaches
    * them, and at most until index [[unpersist]] (see [[memoized]]).
    *
    * @param maxCandidatesPerShape pre-VERIFY early termination for
    *   DENSE queries (default exact). A query whose probe terms match
    *   a constant fraction of the corpus (match-most wildcards, tiny
    *   vocabularies, stop-word-ish terms) has `Theta(|corpus|)` true
    *   candidates per shape, and exact top-k must score them all —
    *   measured at 267M verified rows for 8k wildcard queries on a
    *   16x corpus (SCALE.md). This cap keeps only the first N
    *   candidates per shape in DOC-KEY ORDER before scoring — the
    *   distributed analog of Lucene's docid-order early termination —
    *   so verify cost is bounded by |shapes| x N regardless of match
    *   density, at the documented accuracy cost (hits beyond the
    *   first N matching keys are unreachable). Deterministic: the
    *   kept set depends only on (shape, corpus), not partitioning.
    * @param impactPruning EXACT early termination for DENSE queries —
    *   the impact-ordered (MaxScore-family) alternative to
    *   `maxCandidatesPerShape`'s accuracy trade. Per shape the plan
    *   first scores a BOUNDED seed set — the
    *   [[SearchIndex.JoinGates]]`.seedsPerShape`
    *   highest-single-term-impact postings of the shape's MIN-DF
    *   probe term; the rarest term is (almost always) the
    *   highest-impact one, so its postings hold the top-score
    *   population at Sum(min-df) seed-scan cost instead of the
    *   exact probe's own Sum(df) — takes the (k+1)-th best seed
    *   score as a sound threshold, and then probes ONLY the
    *   "essential" probe terms — the subset outside which no
    *   document's score upper bound ([[graft.dsl.QueryProgram
    *   .scoreBounds]]: measured per-term max impacts from
    *   [[maxImpactStats]] plus the program's constant mass) can
    *   reach the threshold. Documents matching only non-essential
    *   terms are provably outside the top-(k+1) of their shape, so
    *   the result is BIT-IDENTICAL to the exact join while the
    *   verified candidate volume drops from Sum(df over probe
    *   terms) to Sum(df over essential terms) — on dense scored
    *   disjunctions that is the difference between Theta(corpus)
    *   and one rare term's postings. Shapes with no usable bound
    *   (negative boosts, < k+1 scored seeds) fall back to the full
    *   probe, which is always exact. Mutually exclusive with
    *   `maxCandidatesPerShape`. */
  def queryJoinAst(left: DataFrame, qidCol: String, queryGen: Row => SearchQuery,
      field: String, k: Int, excludeSelf: Boolean = false,
      maxHitsPerIndex: Int = Int.MaxValue,
      maxCandidatesPerShape: Int = Int.MaxValue,
      impactPruning: Boolean = false): DataFrame = {
    require(spec.textFields.contains(field), s"$field is not an indexed text field")
    require(maxCandidatesPerShape >= 1, "maxCandidatesPerShape must be >= 1")
    require(!(impactPruning && maxCandidatesPerShape != Int.MaxValue),
      "impactPruning is exact and replaces maxCandidatesPerShape — pass one, not both")
    // +1 covers excludeSelf: keeping each shape's exact top-(k+1)
    // keeps every qid's exact top-k after removing at most itself
    val pruneK = if (impactPruning) k + 1 else 0
    val leftPlan = left.queryExecution.analyzed
    val memoKey = (leftPlan.semanticHash(),
      closureFingerprint(queryGen) +
        s"#cap=$maxCandidatesPerShape#prune=$pruneK",
      qidCol, field)
    val scored = memoized(memoKey, leftPlan)(buildAstScored(left, qidCol, queryGen, field,
      maxCandidatesPerShape, pruneK))
    // probe-depth cap: qid-grained (post fan-out and self-exclusion,
    // so the cap can never eat rows a downstream step still needed)
    perQueryTopK(
      if (excludeSelf) scored.where(col("qid") =!= col("key")) else scored, k,
      maxHitsPerIndex)
  }

  /** MD5 of the generator's Java-serialized form — class identity
    * plus every captured value, so byte-equal fingerprints imply
    * identical generator behavior (generators are deterministic by
    * the executor-retry contract). A non-serializable generator
    * would fail in the map closure anyway; fingerprint it uniquely
    * so it cleanly never shares a memo entry. */
  private def closureFingerprint(f: AnyRef): String =
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(f); oos.close()
      java.security.MessageDigest.getInstance("MD5").digest(bos.toByteArray)
        .map("%02x".format(_)).mkString
    } catch {
      case _: java.io.IOException => java.util.UUID.randomUUID().toString
    }

  /** Cross-invocation memo for [[queryJoinAst]] and
    * [[queryJoinBool]] (see their scaladocs). Values hold the scored
    * frame, the analyzed left plan for the hash-collision-proof
    * `sameResult` re-check, and the entry's own stored setup frames
    * (see [[memoized]] for their lifetime).
    * When its left has at most `joinGates.broadcastShapesMax` rows an
    * entry stores ONE frame, the |left|-row `canon` checkpoint — its
    * per-shape tables are local relations held by the scored frame's
    * plan; above that the shape tables are lineage-cut and stored
    * too. At most `joinGates.memoCap` entries: an entry pins its
    * setup frames, and real workloads cycle few distinct
    * (left, generator) pairs.
    * LinkedHashMap insertion order IS the access order (hits
    * re-insert), so `head` is the LRU victim. */
  private val astJoinMemo = scala.collection.mutable.LinkedHashMap.empty[
    (Int, String, String, String),
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame, Seq[DataFrame])]

  /** Test hook: distinct memoized AST-join setups on this index. */
  private[graft] def astJoinMemoEntries: Int =
    astJoinMemo.synchronized(astJoinMemo.size)

  /** The memo lookup of both query-join front doors: a hit (same key
    * AND `sameResult` on the analyzed plan) is LRU-refreshed and
    * returns its scored frame; a miss builds one and stores it,
    * dropping a hash-collision-displaced entry and the LRU victims
    * past `joinGates.memoCap`.
    *
    * A dropped entry's frames live exactly as long as something
    * reaches them: a caller-held result frame still reads its
    * checkpoint blocks (a localCheckpoint'd RDD cannot recompute, so
    * releasing them would break its re-execution), and Spark's
    * ContextCleaner frees them once no result plan holds their RDDs.
    * Only the columnar cache of a lineage-cut frame (above the gate)
    * is dropped at once: the session's CacheManager, not a result
    * plan, holds that, and it rebuilds from the checkpoint beneath it.
    * [[unpersist]] releases the live entries. */
  private def memoized(key: (Int, String, String, String),
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)(
      build: => (DataFrame, Seq[DataFrame])): DataFrame =
    astJoinMemo.synchronized {
      astJoinMemo.get(key) match {
        case Some(e @ (p, df, _)) if p.sameResult(plan) =>
          // LRU refresh: re-insert at the tail of the access order
          astJoinMemo.remove(key)
          astJoinMemo(key) = e
          df
        case existing =>
          val (df, frames) = build
          def drop(old: Seq[DataFrame]): Unit = old.foreach(_.unpersist(false))
          existing.foreach { case (_, _, old) => drop(old) }
          astJoinMemo(key) = (plan, df, frames)
          while (astJoinMemo.size > joinGates.memoCap) {
            val (victim, (_, _, evicted)) = astJoinMemo.head
            astJoinMemo.remove(victim)
            drop(evicted)
          }
          df
      }
    }

  // ---- the query-join skeleton ----------------------------------
  // [[buildBoolScored]] and [[buildAstScored]] run the same filter →
  // verify pipeline over deduplicated query shapes: bare (sid, key)
  // candidates from a postings probe (exact, or block-max pruned
  // against a seed-scan threshold), one shuffle-hash corpus attach,
  // then the shape side and the builder's own scorer
  // (`bool_query_score` or `dsl_query_score`). `bc` is the broadcast
  // gate: the batch has at most `joinGates.broadcastShapesMax`
  // shapes.

  /** `field`'s postings as (term, key), plus (tf, dl) for the
    * impact-ordered stages. */
  private def fieldPostings(field: String, tfDl: Boolean = false): DataFrame =
    postings.where(col("field") === lit(field)).select((Seq(col("term"), col("key")) ++
      (if (tfDl) Seq(col("tf"), col("dl")) else Nil)): _*)

  /** Probe join of a shape-bounded (…, term) frame against postings.
    * Orientation is forced, not left to size estimates (r16): under
    * the gate stream the postings side (it keeps its partitioning, so
    * the candidate fan-out parallelizes across the postings cache)
    * and broadcast the probe side. Left to the planner, an sf-scale
    * postings cache fits under the auto-broadcast threshold and the
    * whole fan-out lands on the probe side's ONE AQE-coalesced
    * partition (measured: a 2.5s single-task stage doing the entire
    * probe+verify). Corpus-scale shape batches keep the planner's
    * choice. */
  private def termJoin(probe: DataFrame, posts: DataFrame, bc: Boolean): DataFrame =
    if (bc) posts.join(broadcast(probe), Seq("term"))
    else probe.join(posts, Seq("term"))

  /** Exact candidates of a (sid, probe: array<string>) frame as bare
    * (sid, key) pairs. Single-term probes dominate (every AND-led
    * shape, every required-led boolean shape) and their (sid, key) is
    * unique by construction — no dedup exchange; multi-term probes
    * (OR/ANY-led, SHOULD-only) pay one unless `dedupMulti` is off
    * (the capped AST path's distinct bottom-k dedups anyway). An
    * EMPTY probe (a "matches nothing" alt) explodes to no rows. */
  private def exactCands(probes: DataFrame, field: String, bc: Boolean,
      dedupMulti: Boolean = true): DataFrame = {
    val posts = fieldPostings(field)
    val terms = probes.select(col("sid"), size(col("probe")).as("__np"),
      explode(col("probe")).as("term"))
    def cands(n: Column): DataFrame =
      termJoin(terms.where(n), posts, bc).select(col("sid"), col("key"))
    val multi = cands(col("__np") > 1)
    cands(col("__np") === 1)
      .unionByName(if (dedupMulti) multi.dropDuplicates("sid", "key") else multi)
  }

  /** Impact pruning's seed scan: for a (sid, term, df) frame of seed
    * terms, the top max(`seedsPerShape`, `n`) postings of each
    * term by single-term impact, fanned out to its shapes as distinct
    * (sid, key) pairs. Streams the postings and broadcasts the seed
    * terms (the single-task fan-out fix of [[termJoin]]). Aggregated
    * per TERM, then fanned out (r16): the impact's idf factor is
    * constant within a term, so a shape's top-N seed postings ARE its
    * seed term's top-N — the per-shape aggregate shipped |shapes| x
    * df(term) rows through partial buffers too sparse to reject
    * (measured 52 MB of partial-buffer shuffle on the bool entry); the
    * per-term one ships |distinct terms| x N. */
  private def seedScan(seedTerms: DataFrame, field: String, n: Int): DataFrame = {
    val fs = fieldStats(field)
    val prio = spec.similarity match {
      case BM25(a, c) =>
        col("__idf") * (col("tf") * lit(a + 1.0)) /
          (col("tf") + lit(a) * (lit(1.0 - c) + lit(c) * col("dl") / lit(fs.avgDl)))
      case TFIDF() =>
        sqrt(col("tf")) * col("__idf") * col("__idf") / sqrt(col("dl"))
    }
    val posts = fieldPostings(field, tfDl = true)
    val top = posts
      .join(broadcast(seedTerms.select(col("term"), col("df")).distinct()), Seq("term"))
      .withColumn("__idf", idfCol(lit(fs.numDocs), col("df")))
      .groupBy(col("term"))
      .agg(topkAggFor(posts, math.max(joinGates.seedsPerShape, n))(col("key"), prio)
        .as("__s"))
    seedTerms.select(col("sid"), col("term")).join(top, Seq("term"))
      .select(col("sid"), explode(col("__s")).as("h"))
      .select(col("sid"), col("h.key").as("key"))
      .dropDuplicates("sid", "key")
  }

  /** BLOCK-MAX candidates of a pruned (sid, term, __mp) probe frame:
    * each kept probe term carries the minimum idf-free similarity part
    * a posting must reach for its row's score upper bound to touch the
    * shape's threshold; rows below it drop BEFORE any dedup exchange
    * or wide attach, on the tf/dl the postings row already carries. */
  private def blockMaxCands(probes: DataFrame, field: String, bc: Boolean): DataFrame = {
    val avgDl = fieldStats(field).avgDl
    val partE = spec.similarity match {
      case BM25(a, c) =>
        (col("tf") * lit(a + 1.0)) /
          (col("tf") + lit(a) * (lit(1.0 - c) + lit(c) * col("dl") / lit(avgDl)))
      case TFIDF() => sqrt(col("tf")) / sqrt(col("dl"))
    }
    termJoin(probes, fieldPostings(field, tfDl = true), bc)
      .where(partE >= col("__mp"))
      .select(col("sid"), col("key"))
  }

  /** Attach + score of bare (sid, key) candidates: the corpus side
    * (`docSide`, keyed `__doc_key`) attaches by a shuffle-hash join —
    * the corpus partition is the build side, the candidate stream
    * (up to |shapes| x df rows) streams through UNSORTED; an SMJ
    * here sorts it, the 13 GB-spill shape the 16x scale run caught.
    * Then the |shapes|-bounded `shapeSide` attaches on sid: broadcast
    * under the gate (no exchange at all), above it the build side of
    * a shuffle-hash join, so the candidates cross their exchanges as
    * bare pairs at any scale (PlanShapeSpec and MemoLifecycleSpec pin
    * both). `score` lands in `__r`. */
  private def attachAndScore(cands: DataFrame, docSide: DataFrame, shapeSide: DataFrame,
      bc: Boolean, score: Column): DataFrame =
    cands.join(docSide.hint("shuffle_hash"), cands("key") === col("__doc_key"))
      .join(if (bc) broadcast(shapeSide) else shapeSide.hint("shuffle_hash"), Seq("sid"))
      .withColumn("__r", score)

  /** Test hook: the (sid, key) candidate frame the most recent
    * [[buildAstScored]] admitted to verification — lets plan-shape
    * specs pin that impact pruning admits FEWER candidates than the
    * full probe (counting it re-runs the bounded candidate stages). */
  @volatile private[graft] var lastAstCandsFrame: DataFrame = _

  /** The setup + probe + verify pipeline behind [[queryJoinAst]],
    * producing the un-capped scored (qid, key, score) frame plus the
    * setup frames scoped to the memo entry (see [[memoized]] for
    * their lifetime). Rows with a null qid are dropped before the
    * generator runs: they get no hits.
    *
    * Setup cost: one checkpoint of the |left|-row `canon` frame, one
    * collect of the deduplicated shapes (the metadata, the shape
    * count and the fan-out key come from its rows) and one collect of
    * the per-shape scoring table (IDF vector + chosen probe
    * alternative); a dictionary expansion adds one collect, pruning
    * a seed checkpoint and one collect of the pruned probe table.
    * When the batch has at most
    * [[SearchIndex.JoinGates]]`.broadcastShapesMax` rows the tables
    * are re-planned as local relations and the qid fan-out
    * broadcasts; above it they are lineage-cut and stay distributed,
    * one bounded action reads the metadata and the shape count, and
    * the qid fan-out is lineage-cut too. */
  private def buildAstScored(left: DataFrame, qidCol: String,
      queryGen: Row => SearchQuery, field: String,
      maxCandidatesPerShape: Int = Int.MaxValue,
      pruneK: Int = 0): (DataFrame, Seq[DataFrame]) = {
    val entryFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keepFrame(df: DataFrame): DataFrame = { entryFrames += df; df }
    // locals only — the map closure must not capture `this` (the
    // index holds DataFrames, which don't serialize)
    val targetField = field
    val qAnalyzer = spec.queryAnalyzer
    val indexedF = (spec.textFields ++ spec.keywordFields).toSet
    val textF = spec.textFields.toSet
    val qidName = qidCol
    import spark.implicits._
    // executor-side AST generation + serialization; alts = Seq.empty
    // encodes a TOTAL shape (QueryProgram.probeAlts invariant: a
    // defined alternatives list is never empty)
    val serialized = left.where(col(qidName).isNotNull).map { r =>
      val p = QueryProgram.compile(queryGen(r), targetField, qAnalyzer, indexedF, textF)
      (r.getAs[Number](qidName).longValue(), p.ops, p.terms, p.termFields, p.consts,
        p.attrFields, p.strAttrFields, p.xTextFields, p.probeAlts.getOrElse(Seq.empty))
    }.toDF("qid", "ops", "terms", "term_fields", "consts",
      "attr_fields", "str_attr_fields", "x_text_fields", "alts")
    // checkpointed: the shape dedup and the qid fan-out both read it,
    // and the opaque generator map would otherwise ride every
    // downstream task closure
    val (canon0, collect) =
      SearchIndex.checkpointCanon(serialized, joinGates.broadcastShapesMax)
    val canon = keepFrame(canon0)
    // shapes0 keeps the SERIALIZED columns (the fan-out join key);
    // `shapes` is its dictionary-expanded rewrite — identical when no
    // shape carries a wildcard/fuzzy/regex leaf.
    // The attr-field arrays are functions of the grouped program
    // columns, so first() is deterministic; carrying them here lets
    // the metadata below read |shapes| rows instead of |left|.
    val (shapes0, shapeRows) = shapeTable(canon
      .groupBy("ops", "terms", "term_fields", "consts", "alts")
      .agg(min(col("qid")).as("sid"),
        first(col("attr_fields")).as("attr_fields"),
        first(col("str_attr_fields")).as("str_attr_fields"),
        first(col("x_text_fields")).as("x_text_fields")),
      keepFrame, collect)
    // distinct filter / keyword / cross-field attr columns, the
    // needs-expansion flag and the shape count (field NAMES —
    // doc-schema-width, never |left|; the opcode scan over-approximates
    // EXPAND, a false positive only routes through an identity
    // rewrite): read off the collected shape rows, or in one bounded
    // action above the collect gate
    val (attrFields, strAttrFields, xFields, needsExpansion, nShapes) = shapeRows match {
      case Some(rows) =>
        def names(c: String) = rows.toSeq.flatMap { r =>
          val i = r.fieldIndex(c)
          if (r.isNullAt(i)) Nil else r.getSeq[String](i).toSeq
        }.distinct.sorted
        (names("attr_fields"), names("str_attr_fields"), names("x_text_fields"),
          rows.exists(r => r.getSeq[Int](r.fieldIndex("ops")).contains(QueryProgram.Op.EXPAND)),
          rows.length.toLong)
      case None =>
        val m = shapes0.agg(
          array_sort(array_distinct(flatten(collect_list(col("attr_fields"))))),
          array_sort(array_distinct(flatten(collect_list(col("str_attr_fields"))))),
          array_sort(array_distinct(flatten(collect_list(col("x_text_fields"))))),
          coalesce(max(when(array_contains(col("ops"), lit(QueryProgram.Op.EXPAND)), 1)
            .otherwise(0)), lit(0)),
          count(lit(1))).head()
        def names(i: Int) = if (m.isNullAt(i)) Seq.empty[String] else m.getSeq[String](i).toSeq
        (names(0), names(1), names(2), m.getInt(3) > 0, m.getLong(4))
    }
    def table(df: DataFrame): DataFrame = shapeTable(df, keepFrame, collect)._1
    val shapes = expandShapes(shapes0, field, needsExpansion, table)
    // validates the attr columns eagerly, plan-time
    val docInputs = programDocInputs(attrFields, strAttrFields, xFields)
    // ONE term-statistics lookup per call (see [[withTermStats]]):
    // the program's term slots, each resolved against its OWN field
    // (text slots against the probe field, keyword slots against
    // theirs; attr-name slots, field "", match no stats row and their
    // idf is never read), then every probe alternative's terms, which
    // are PROBE-FIELD terms by construction (probeAlts soundness)
    val pruning = pruneK > 0
    val nTerms = size(col("terms"))
    val looked = shapes.join(withTermStats(shapes.select(col("sid"), concat(
        zip_with(col("term_fields"), col("terms"), (f, t) => struct(f.as("field"), t.as("term"))),
        transform(flatten(col("alts")), t => struct(lit(field).as("field"), t.as("term"))))
        .as("__slots")), "__slots", pruning), Seq("sid"))
    // alternative i's dfs: the slots after the program terms and the
    // alternatives before it
    val altDfs = transform(col("alts"), (alt, i) => slice(col("__dfs"),
      nTerms + aggregate(slice(col("alts"), lit(1), i), lit(0), (n, a) => n + size(a)) + 1,
      size(alt)))
    val idfs = slice(col("__idfs"), lit(1), nTerms)
    // the per-shape SCORING TABLE: the program, its doubles vector
    // (the idf vector ++ the consts: DslQueryScore reads const
    // operands at |terms| + idx) and the chosen probe alternative
    // `ai`, the minimum total df (ties to the lowest index; an empty
    // "matches nothing" alt costs 0 and rightly wins) — the nested-AST
    // generalization of queryJoinBool's rarest-required-term probe,
    // null for a TOTAL shape. Pruning also carries the per-slot
    // measured max impacts aligned like the idf vector (0 for slots
    // absent from the corpus) and every alternative's dfs
    val scoring = table(looked.withColumn("__alt_dfs", altDfs)
      .select((Seq(col("sid"), col("ops"), col("terms"),
        concat(idfs, col("consts")).as("doubles"), col("alts"),
        array_min(transform(col("__alt_dfs"), (ds, i) => struct(
          aggregate(ds, lit(0L), (x, y) => x + y).as("adf"), i.as("ai")))).getField("ai").as("ai")) ++
        (if (pruning)
          Seq(col("term_fields"), col("__alt_dfs"),
            slice(col("__mis"), lit(1), nTerms).as("mis"))
        else Nil)): _*))
    // SLIM candidate discipline (measured at 16x sf0.1: the previous
    // shape carried (ops, terms, doubles) on every candidate row
    // through the term join, a key exchange, and a key SORT feeding a
    // SortMergeJoin against the corpus — 36M candidates x ~1KB of
    // program payload = a 13 GB sort spill that filled the disk):
    // candidates stay bare (sid, key) pairs up to [[attachAndScore]].
    val probed0 = scoring.where(col("ai").isNotNull)
      .select(col("sid"), element_at(col("alts"), col("ai") + 1).as("probe"))
    val exactCap = maxCandidatesPerShape == Int.MaxValue
    val progs = scoring.select(col("sid"), col("ops"), col("terms"),
      col("doubles"))
    // the programs (~1KB each) attach AFTER the corpus join, broadcast
    // under the gate: attaching them BEFORE the key exchange made it
    // materialize candidates x 1KB (10.7 GB written for the
    // dense-expansion batch at 16x, SCALE.md)
    val bc = nShapes <= joinGates.broadcastShapesMax
    // doc side: token array + the attr / cross-field maps, one
    // corpus join
    val docInputNames = Seq("__attrs", "__attrs_str", "__xtokens", "__xavgdl")
    val docSide = docs.select(key.as("__doc_key") +: tokensCol(field).as("__tokens") +:
      docInputs.zip(docInputNames).map { case (c, n) => c.as(n) }: _*)
    val scoreExpr = programScore(col("__tokens"), col("ops"), col("terms"),
      col("doubles"), docInputNames.map(col), field)
    def verify(scoredCands: DataFrame): DataFrame = scoredCands.where(col("__r.ok"))
      .select(col("sid"), col("key"), col("__r.score").as("score"))
    // impact-ordered EXACT pruning (see the queryJoinAst scaladoc):
    // score a bounded per-shape seed set chosen by measured
    // single-term impact, take the pruneK-th best exact seed score
    // as the threshold, and shrink each shape's probe to the terms
    // outside which no document can reach it
    // (QueryProgram.essentialTerms). Every stage is bounded: seeds
    // are |shapes| x seedsPerShape rows through the same
    // shuffle-hash verify as the main path, the threshold is a
    // |shapes|-row aggregate, and the bound analysis is a per-shape
    // UDF over the scoring table's idf/mi/df vectors. Seeds are
    // unioned back into the candidates, so even a degenerate bound
    // can never lose the hits the threshold came from.
    val prunedAndSeeds: Option[(DataFrame, DataFrame)] =
      if (!pruning) None
      else {
        // seed from each shape's MIN-DF probe term only: the rarest
        // term is (almost always) the highest-impact one, so its
        // postings hold the top-score population the threshold needs,
        // and the seed scan costs Sum(min-df) rows instead of
        // Sum(df over all probe terms) — the latter is the exact
        // probe's own volume, which would make the seed pass as
        // expensive as the thing it prunes. Absent terms (df 0) have
        // no postings and are excluded; a shape whose terms are all
        // absent gets no seeds, a null threshold, and no pruning.
        val minTerm = scoring.where(col("ai").isNotNull)
          .select(col("sid"), array_min(filter(zip_with(
            element_at(col("alts"), col("ai") + 1), element_at(col("__alt_dfs"), col("ai") + 1),
            (t, d) => struct(d.as("df"), t.as("term"))), _.getField("df") > 0)).as("m"))
          .where(col("m").isNotNull)
          .select(col("sid"), col("m.term").as("term"), col("m.df").as("df"))
        // up to seedsPerShape rows per shape: checkpointed, not
        // collected (its joins hint the corpus side as the build side)
        val seeds = keepFrame(seedScan(minTerm, field, pruneK)
          .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK))
        val theta = verify(attachAndScore(seeds, docSide, progs, bc, scoreExpr))
          .groupBy(col("sid"))
          .agg(topkAggFor(seeds, pruneK)(col("key"), col("score")).as("__top"))
          .select(col("sid"),
            when(size(col("__top")) >= pruneK,
              element_at(col("__top"), pruneK).getField("score")).as("__theta"))
        val probeF = field
        val (kind, k1v) = spec.similarity match {
          case BM25(a, _) => (0, a)
          case TFIDF() => (1, 0.0)
        }
        // the essential-probe selection reads EVERY alternative's dfs,
        // not just the min-total-df one's: a denser alternative may
        // prune to a cheaper essential set
        val essUdf = udf((ops: Seq[Int], terms: Seq[String], tfs: Seq[String],
            dbl: Seq[Double], mis: Seq[Double], altT: Seq[Seq[String]],
            altD: Seq[Seq[Long]], th: java.lang.Double) =>
          QueryProgram.essentialProbeBounds(ops.toIndexedSeq, terms.toIndexedSeq,
            tfs.toIndexedSeq, dbl.toIndexedSeq, mis.toIndexedSeq, altT, altD,
            th, probeF, kind, k1v))
        // a shape table kept with the memo entry: the single/multi
        // split below consumes the probe frame twice, and repeat
        // invocations re-execute the memoized scored plan — without
        // it the whole seed/threshold/essential pipeline (a handful
        // of bounded but latency-bearing stages) would re-run twice
        // per call. |shapes| rows of term lists.
        val pruned = table(scoring.where(size(col("alts")) > 0)
          .join(theta, Seq("sid"), "left")
          .withColumn("probe", essUdf(col("ops"), col("terms"),
            col("term_fields"), col("doubles"), col("mis"),
            col("alts"), col("__alt_dfs"), col("__theta")))
          // __th: did the threshold BIND for this shape? Unbound
          // shapes (no/too-few seeds, every unboundable program) take
          // the exact branch's slim
          // probe below: bare (term, key) postings, no part filter,
          // no seed union, no global dedup — the full-volume
          // candidate stream must never pay the pruned path's
          // dedup exchange just because pruning was AVAILABLE.
          .withColumn("__th", col("__theta").isNotNull)
          .select(col("sid"), col("probe"), col("__th")))
        Some((pruned, seeds))
      }
    // pre-verify early termination for dense shapes (see the
    // queryJoinAst scaladoc): keep only the first N DISTINCT
    // candidate keys per shape BEFORE any exchange, wide attach or
    // scoring — a bounded distinct bottom-k aggregate
    // ([[graft.functions.BottomKDistinctAgg]]): per-partition
    // partials hold <= N keys with O(1) rejection once full, the map
    // side combines, and the only exchange is |shapes| rows of <= N
    // keys. (A row_number window would concentrate each dense
    // shape's full Theta(corpus) candidate set on a single reducer's
    // sort — the exact single-point bottleneck this cap exists to
    // avoid. The capped path's distinct bottom-k also dedups
    // implicitly, so it skips the (sid, key) dedup exchange — on a
    // dense batch that exchange moves Sum(df) rows and was MEASURED
    // to dominate the capped run: SCALE.md's 16x capped-expansion
    // receipts, scale_results/capped_expand_16x_r14.json.)
    val candsRaw = prunedAndSeeds match {
      case None => exactCands(probed0, field, bc, dedupMulti = exactCap)
      case Some((pruned, seeds)) =>
        // THRESHOLD split (r16, simplified from r15's four-way
        // "effectiveness" split): shapes whose threshold BOUND take
        // the block-max probe; null-theta shapes take the exact
        // branch's slim discipline. r15 additionally joined each
        // shape's exact probe back in to detect bound-but-toothless
        // shapes — that |shapes| join plus the extra single/multi
        // branch pair doubled the probe phase's stage count and
        // measured ~2x on the forced bench entries at sf0.1 (VERDICT
        // r15 #3) while only protecting AUTO mode from shapes its
        // plan-time gate now rejects outright (cross-field/constant
        // bounds). A bound-but-toothless shape here pays one tf/dl
        // widening + a never-firing filter over its full volume —
        // the same dedup it would pay on the exact branch — which is
        // the r14 shape that measured 3.0s/5.9s floors.
        // The bound stream dedups ONCE over probe + seed union (the
        // threshold's witnesses are never lost; single-term probes
        // ride the same dedup, so one explode branch covers all).
        val bound = pruned.where(col("__th"))
        val boundCands = blockMaxCands(bound
          .select(col("sid"), explode(col("probe")).as("pt"))
          .select(col("sid"), col("pt").getField("_1").as("term"),
            col("pt").getField("_2").as("__mp")), field, bc)
          .unionByName(seeds.join(bound.select("sid"), Seq("sid")))
          .dropDuplicates("sid", "key")
        // UNBOUND shapes: the exact branch's slim discipline
        boundCands.unionByName(exactCands(pruned.where(!col("__th"))
          .select(col("sid"), transform(col("probe"), _.getField("_1")).as("probe")),
          field, bc))
    }
    val candsBounded =
      if (exactCap) candsRaw
      else candsRaw
        .groupBy(col("sid"))
        .agg(bottomKFor(candsRaw, maxCandidatesPerShape)(col("key"))
          .as("__ckeys"))
        .select(col("sid"), explode(col("__ckeys")).as("key"))
    lastAstCandsFrame = candsBounded // test hook (pruning-volume pins)
    // TOTAL shapes: no sound probe set exists — full corpus pass,
    // honoring maxCandidatesPerShape like the probed branch (ADVICE
    // r13: the first N corpus keys in doc-key order, the same
    // deterministic kept set for every total shape). AQE collapses
    // this branch when the batch has no total shape.
    val totalDocSide =
      if (exactCap) docSide
      else {
        val keptKeys = docSide
          .agg(bottomKFor(candsRaw, maxCandidatesPerShape)(col("__doc_key")).as("__k"))
          .select(explode(col("__k")).as("__kept_key"))
        docSide.join(broadcast(keptKeys), col("__doc_key") === col("__kept_key"))
          .drop("__kept_key")
      }
    val totalCands = scoring.where(size(col("alts")) === 0)
      .select(col("sid"), col("ops"), col("terms"), col("doubles"))
      .crossJoin(totalDocSide)
      .withColumn("key", col("__doc_key"))
    val verified = verify(attachAndScore(candsBounded, docSide, progs, bc, scoreExpr)
      .unionByName(totalCands.withColumn("__r", scoreExpr)))
    // qid fan-out: canon against the shape table on FIVE array
    // columns. Under the collect gate the table broadcasts, the join
    // is one map-side pass over canon, and its at most gate rows
    // broadcast into the final join (a plan independent of AQE stage
    // timing); above it the |left|-row (qid, sid) result is
    // lineage-cut so repeat calls skip the array-keyed join.
    val fanKeys = Seq("ops", "terms", "term_fields", "consts", "alts")
    val fan =
      if (collect) broadcast(canon.join(
        broadcast(shapes0.select((fanKeys :+ "sid").map(col): _*)),
        fanKeys).select(col("qid"), col("sid")))
      else keepFrame(SearchIndex.cutLineage(canon.join(shapes0, fanKeys)
        .select(col("qid"), col("sid")), StorageLevel.MEMORY_AND_DISK))
    (verified.join(fan, Seq("sid"))
      .select(col("qid"), col("key"), col("score")), entryFrames.toSeq)
  }

  /** Distributed Lucene multi-term rewrite for [[queryJoinAst]]:
    * rewrites every EXPAND placeholder in a deduped shapes frame by
    * joining the distinct (kind, field, pattern, maxEdits) requests
    * against the term DICTIONARY — [[expandDict]]'s exact semantics
    * (same match predicates, same dictionary-order maxClauseCount
    * cap, same constant-score verify) with the per-query driver
    * action replaced by ONE dictionary join per batch.
    *
    * Scale shape: patterns are query-side (shape-bounded), so they
    * BROADCAST against the dictionary, which stays partitioned — the
    * expansion join never shuffles the vocabulary; the per-pattern
    * cap is a row_number window partitioned by pattern (matched rows
    * are vocabulary-bounded, corpus-independent). `needed` = false
    * (read off the caller's shape table) passes the frame through
    * untouched — the plan is exactly the pre-expansion one.
    * `table` materializes the rewritten |shapes|-row frame. */
  private def expandShapes(shapes0: DataFrame, field: String,
      needed: Boolean, table: DataFrame => DataFrame): DataFrame = {
    val shapeCols = shapes0.select("sid", "ops", "terms", "term_fields", "consts", "alts")
    if (!needed) return shapeCols
    import spark.implicits._
    // (sid, kind, field, pattern, extra, anchored-regex) — regex
    // translation runs executor-side like the rest of the compile;
    // fuzzy rows carry rx = null (they match by edit distance)
    val sidPats = shapes0.select("sid", "ops", "terms").flatMap { r =>
      QueryProgram.expansionKeys(r.getSeq[Int](1), r.getSeq[String](2)).map {
        case (kind, f, pat, extra) =>
          val rx = kind match {
            case 0 => "^(?:" + QueryProgram.globRegex(pat) + ")$"
            case 2 => "^(?:" + LuceneRegex.translate(pat) + ")$"
            case _ => null
          }
          (r.getLong(0), kind, f, pat, extra, rx)
      }
    }.toDF("sid", "kind", "efield", "pattern", "extra", "rx")
    val pats = sidPats.drop("sid").distinct()
    val matched = stats.select(col("field").as("efield"), col("term"))
      .join(broadcast(pats), Seq("efield"))
      .where(when(col("kind") === 1,
          levenshtein(col("term"), col("pattern")) <= col("extra"))
        .otherwise(regexp_like(col("term"), col("rx"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("kind", "efield", "pattern", "extra").orderBy("term")
    val expansions = matched
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxExpansions)
      .groupBy("kind", "efield", "pattern", "extra")
      .agg(sort_array(collect_list(col("term"))).as("ets"))
    val sidExp = sidPats
      .join(expansions, Seq("kind", "efield", "pattern", "extra"), "left")
      .groupBy("sid")
      .agg(collect_list(struct(col("kind"), col("efield"), col("pattern"),
        col("extra"), coalesce(col("ets"), array().cast("array<string>")).as("ets")))
        .as("exps"))
    val probeField = field
    val textF = spec.textFields.toSet
    val rewritten = shapeCols.join(sidExp, Seq("sid"), "left")
      .select("sid", "ops", "terms", "term_fields", "consts", "alts", "exps")
      .map { r =>
        val exp =
          if (r.isNullAt(6)) Map.empty[(Int, String, String, Int), Seq[String]]
          else r.getSeq[Row](6).map(e => ((e.getInt(0), e.getString(1),
            e.getString(2), e.getInt(3)), e.getSeq[String](4))).toMap
        // getSeq hands back mutable ArraySeqs typed as immutable —
        // materialize the nested alts before the closure maps them
        val alts = r.getSeq[scala.collection.Seq[String]](5).toSeq.map(_.toSeq)
        val (o2, t2, f2, a2) = QueryProgram.substitute(r.getSeq[Int](1),
          r.getSeq[String](2), r.getSeq[String](3), alts, probeField, textF, exp)
        (r.getLong(0), o2, t2, f2, r.getSeq[Double](4), a2)
      }.toDF("sid", "ops", "terms", "term_fields", "consts", "alts")
    // two downstream readers (idf table + probe selection) —
    // materialized so the dictionary join runs once
    table(rewritten)
  }

  /** Ids-only query join (reference lightQueryJoin,
    * SearchableRDD.scala:288-298): skips the join-back entirely —
    * output is (qid, rank, key, score) regardless of the left schema,
    * so no column-name collisions are possible. */
  def lightQueryJoin(left: DataFrame, qidCol: String, termsCol: Column, field: String,
      k: Int, minMatch: Int = 1, excludeSelf: Boolean = false,
      maxHitsPerIndex: Int = Int.MaxValue): DataFrame = {
    val queries = left.select(col(qidCol).as("qid"), termsCol.as("terms"))
      .withColumn("field", lit(field))
      .withColumn("min_match", lit(minMatch))
    batchSearchRaw(queries, k,
      if (excludeSelf) Some(col("qid") =!= col("key")) else None,
      broadcastQueries = false, maxHitsPerIndex = maxHitsPerIndex)
  }

  /** More-like-this query join (Lucene's public MoreLikeThis: pick a
    * document's most characteristic terms by tf x idf, search with
    * them as an OR query — the "similar documents" feature; the
    * reference exposes the same regime through its
    * `queryGenerator: T => DslQuery` join,
    * SearchableRDD.scala:257-298): each left row names an INDEXED
    * document by key; its top `topTerms` terms are selected per query
    * doc by tf × idf and fed to [[lightQueryJoin]] as one distributed
    * batch.
    *
    * Term selection follows the keyword-extraction convention
    * (pipeline keywordsTfidf): score = tf × CAST(ln(N/df) AS
    * DECIMAL(18,6)) so mathematically equal scores tie EXACTLY and
    * break on the term (UTF-8 order) in any engine; selection state
    * is a bounded [[TopKAgg]] per query doc — O(topTerms) per group,
    * no window sort. Everything downstream is the standard postings
    * probe, so the whole chain is corpus-scale: per-query work is
    * bounded by the query doc's distinct terms, candidates by the
    * selected terms' postings. Output (qid, rank, key, score). */
  def moreLikeThis(left: DataFrame, qidCol: String, field: String,
      topTerms: Int = 5, k: Int = 10, minMatch: Int = 1,
      excludeSelf: Boolean = true): DataFrame = {
    require(spec.textFields.contains(field), s"$field is not an indexed text field")
    import org.apache.spark.sql.types.DecimalType
    val fs = fieldStats(field)
    val qdocs = docs
      .join(left.select(col(qidCol).as("__qid")).distinct(), key === col("__qid"))
      .select(col("__qid").as("qid"), tokensCol(field).as("__toks"))
    // doc-local tf via the codegen array probe (no token-stream
    // shuffle); df/idf from the index's stats table
    val tf = qdocs
      .select(col("qid"), col("__toks"),
        explode(array_distinct(col("__toks"))).as("term"))
      .select(col("qid"), col("term"),
        call_function("array_count_eq", col("__toks"), col("term"))
          .cast("long").as("tf"))
    val scored = tf
      .join(stats.where(col("field") === lit(field)).select(col("term"), col("df")),
        Seq("term"))
      .select(col("qid"), col("term"),
        (col("tf").cast(DecimalType(12, 0)) *
          log(lit(fs.numDocs.toDouble) / col("df").cast("double"))
            .cast(DecimalType(18, 6))).cast("double").as("__s"))
    val topm = TopKAgg.topkString(topTerms)
    val qterms = scored.groupBy(col("qid"))
      .agg(topm(col("term"), col("__s")).as("__kw"))
      .select(col("qid"),
        transform(col("__kw"), x => x.getField("key")).as("terms"))
    lightQueryJoin(qterms, "qid", col("terms"), field, k, minMatch, excludeSelf)
  }

  /** Projection-transforming query join (reference
    * queryJoinWithResultsTransformer, SearchableRDD.scala:276-286):
    * `cols` are resolved against the joined frame; hit columns are
    * referenced by Column object so a left side that also has
    * rank/key/score columns stays unambiguous. */
  def queryJoinWithResultsTransformer(left: DataFrame, qidCol: String, termsCol: Column,
      field: String, k: Int, cols: Column*): DataFrame = {
    val hits = lightQueryJoin(left, qidCol, termsCol, field, k)
    left.join(hits, left(qidCol) === hits("qid")).drop(hits("qid"))
      .select(cols :+ hits("rank") :+ hits("key") :+ hits("score"): _*)
  }

  /** batchSearch with an optional pre-top-k hit predicate. */
  private def batchSearchRaw(queries: DataFrame, k: Int,
      hitFilter: Option[Column], broadcastQueries: Boolean = true,
      maxHitsPerIndex: Int = Int.MaxValue): DataFrame = {
    val base = batchSearchPerDoc(queries, broadcastQueries)
    perQueryTopK(hitFilter.map(base.where).getOrElse(base), k, maxHitsPerIndex)
  }

  /** TopKAgg builder for the corpus key type: integral keys
    * aggregate as long, string keys as string — the IndexSpec
    * contract admits any stable key, so the batch path must not
    * assume long. */
  private def topkAggFor(scored: DataFrame, n: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    scored.schema("key").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        TopKAgg.topk(n)
      case org.apache.spark.sql.types.StringType => TopKAgg.topkString(n)
      case other => throw new IllegalArgumentException(
        s"batch search supports integral or string keyCol, got $other for ${spec.keyCol}")
    }

  /** [[graft.functions.BottomKDistinctAgg]] builder for the corpus
    * key type — same dichotomy as [[topkAggFor]]. */
  private def bottomKFor(cands: DataFrame, n: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    cands.schema("key").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        TopKAgg.bottomkDistinct(n)
      case org.apache.spark.sql.types.StringType => TopKAgg.bottomkDistinctString(n)
      case other => throw new IllegalArgumentException(
        s"maxCandidatesPerShape supports integral or string keyCol, got $other for ${spec.keyCol}")
    }

  /** The engine's `maxHitsPerIndex` (reference SearchableRDD.scala:
    * 103-119: each index shard contributes at most `n` hits to the
    * merge; default = maxHits = exact): a bounded per-(partition,
    * group) top-n over a scored frame. Shrinks the intermediate
    * result to <= partitions x groups x n rows BEFORE the global
    * per-group top-k, at the reference's documented accuracy cost —
    * when a single partition holds more than `n` of a group's true
    * top-k, the lost hits cannot be recovered by the merge. The
    * scan path needs no such stage: its TakeOrderedAndProject heap
    * is intrinsically the n = k case. */
  private def perPartitionTopK(scored: DataFrame, groupCol: String, n: Int): DataFrame = {
    require(n >= 1, s"maxHitsPerIndex must be >= 1, got $n")
    scored
      .withColumn("__pid", spark_partition_id())
      .groupBy(col("__pid"), col(groupCol))
      .agg(topkAggFor(scored, n)(col("key"), col("score")).as("hits"))
      .select(col(groupCol), explode(col("hits")).as("hit"))
      .select(col(groupCol), col("hit.key").as("key"), col("hit.score").as("score"))
  }

  /** Bounded per-query top-k over a (qid, key, score) frame — the
    * TopKAgg partial/merge pipeline shared by every batch path.
    * `maxHitsPerIndex` < k inserts the per-partition probe-depth cap
    * (see [[perPartitionTopK]]); the default is exact. */
  private def perQueryTopK(scored: DataFrame, k: Int,
      maxHitsPerIndex: Int = Int.MaxValue): DataFrame = {
    val pre =
      if (maxHitsPerIndex < k) perPartitionTopK(scored, "qid", maxHitsPerIndex)
      else scored
    pre
      .groupBy(col("qid"))
      .agg(topkAggFor(scored, k)(col("key"), col("score")).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.key").as("key"), col("hit.score").as("score"))
  }

  /** Shared per-(query, doc) scoring stage of the batch path.
    *
    * @param broadcastQueries force-broadcast the exploded query-term
    *   frame onto the postings for the probe join. Right for small
    *   query batches (one network-free join); must be false when the
    *   query side scales with the corpus (queryJoin self-joins) — the
    *   frame is |queries| x terms-per-query rows, so a forced
    *   broadcast would grow with the corpus. With false, AQE picks
    *   broadcast vs shuffle from the measured size at runtime. */
  private def batchSearchPerDoc(queries: DataFrame,
      broadcastQueries: Boolean = true): DataFrame = {
    val qterms = queries
      .withColumn("n_terms", size(col("terms")))
      .select(col("qid"), col("field"), col("min_match"), col("n_terms"),
        explode(col("terms")).as("term"))
    val withIdf = qterms
      .join(stats.select(col("field"), col("term"), col("df")), Seq("field", "term"), "left")
      .na.fill(0L, Seq("df"))
      .join(broadcast(fieldStatsDf), "field")
      .withColumn("idf", idfCol(col("num_docs"), col("df")))
      .select("qid", "field", "term", "min_match", "n_terms", "idf", "avg_dl")
    val bm = spec.similarity match {
      case BM25(k1, b) =>
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avg_dl")))
      case TFIDF() =>
        sqrt(col("tf")) * (col("idf") * col("idf")) / sqrt(col("dl"))
    }
    val joined = effectiveLayout match {
      case BroadcastIndex =>
        // layout (c): ship the index to the queries — no shuffle of
        // either side, index must fit in executor memory
        broadcast(postings).join(withIdf, Seq("field", "term"))
      case _ =>
        val probe = if (broadcastQueries) broadcast(withIdf) else withIdf
        postings.join(probe, Seq("field", "term"))
    }
    joined
      .withColumn("term_score", bm)
      .groupBy(col("qid"), col("key"))
      .agg(sum(col("term_score")).as("score"),
        count(lit(1)).as("n_matched"),
        first(col("min_match")).as("min_match"),
        first(col("n_terms")).as("n_terms"))
      .where(
        when(col("min_match") <= 0, col("n_matched") === col("n_terms"))
          .otherwise(col("n_matched") >= col("min_match")))
      .select(col("qid"), col("key"), col("score"))
  }

  /** Human-readable configuration summary (reference getConfigInfo,
    * PartitionsIndexLuceneRDD.scala:537-566). */
  def getConfigInfo: String = {
    val simDesc = spec.similarity match {
      case BM25(k1, b) => s"BM25(k1=$k1, b=$b)"
      case TFIDF() => "TFIDF"
    }
    val qcDesc = spec.queryConstructor match {
      case Some(c) => c.describe
      case None => "DefaultQueryConstructor(per-call field, Parsed grammar)"
    }
    s"SearchIndex(key=${spec.keyCol}, textFields=${spec.textFields.mkString(",")}, " +
      s"keywordFields=${spec.keywordFields.mkString(",")}, " +
      s"indexAnalyzer=${spec.indexAnalyzer}, queryAnalyzer=${spec.queryAnalyzer}, " +
      s"similarity=$simDesc, layout=${spec.layout}, " +
      s"queryConstructor=$qcDesc, " +
      s"fieldStats=${fieldStats.map { case (f, s) => s"$f(n=${s.numDocs}, avgdl=${s.avgDl})" }.mkString("; ")})"
  }

  /** Postings row count, computed once (postings are persisted) —
    * drives the [[AutoLayout]] broadcast-vs-shuffle decision. */
  private lazy val postingsCount: Long = postings.count()

  /** Resolves [[AutoLayout]] against the measured index size. */
  private def effectiveLayout: IndexLayout = spec.layout match {
    case AutoLayout =>
      if (postingsCount <= SearchIndex.AutoBroadcastMaxPostings) BroadcastIndex
      else DecoupledPostings
    case l => l
  }

  /** Merges this index with another built under the same spec — the
    * engine's analog of the reference's index-merge fan-in
    * (BroadcastIndexLuceneRDD.scala:646-663, treeReduce of
    * IndexWriter.addIndexes; ours is metadata-light: postings/docs
    * union, statistics combined as in [[addDocuments]]). Keys must be
    * disjoint (same contract as indexing a partitioned corpus).
    *
    * The merged index scores identically to a from-scratch build of
    * the union: global IDF is recomputed from the merged df, so the
    * partition-invariance property survives incremental growth.
    *
    * The inputs stay persisted (caller-owned); unpersist them once
    * the merged index has materialized if they are no longer queried.
    *
    * @param checkDisjoint verify the disjoint-keys contract with an
    *   intersection probe (one join over the two key columns).
    *   Overlapping keys would otherwise SILENTLY double-count df/cf
    *   and numDocs, corrupting every downstream score. Disable only
    *   when the caller guarantees disjointness (e.g. partitioned
    *   ingest with non-overlapping key ranges at 100 TB). */
  def merge(other: SearchIndex, checkDisjoint: Boolean = true): SearchIndex = {
    require(other.spec == spec, s"index specs differ: $spec vs ${other.spec}")
    if (checkDisjoint) requireDisjoint(other)
    val mDocs = docs.unionByName(other.docs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mPostings = postings.unionByName(other.postings)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (mStats, mFieldStats) = combinedStats(other, StorageLevel.MEMORY_AND_DISK)
    new SearchIndex(spark, spec, mDocs, mPostings, mStats, mFieldStats)
  }

  /** One intersection probe (`limit(1)` job) over the two key columns. */
  private def requireDisjoint(other: SearchIndex): Unit = {
    val dup = docs.select(key).intersect(other.docs.select(key)).limit(1).collect()
    require(dup.isEmpty, s"merge requires disjoint ${spec.keyCol} sets; " +
      s"found shared key ${dup.headOption.map(_.get(0))}")
  }

  /** Term and field statistics of this index plus `other` (disjoint
    * keys): df/cf merge with one vocab-sized aggregation, and the
    * per-field numDocs/avgdl update from exact integer token-count
    * sums — doc lengths are integers, so every partial sum is exact in
    * a double below 2^52 tokens and the reconstructed corpus totals
    * are bit-equal to a fresh aggregation. */
  private def combinedStats(other: SearchIndex,
      storageLevel: StorageLevel): (DataFrame, Map[String, FieldStats]) = {
    val mStats = stats.unionByName(other.stats)
      .groupBy(col("field"), col("term"))
      .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"))
      .persist(storageLevel)
    val mFieldStats = (fieldStats.keySet ++ other.fieldStats.keySet).iterator.map { f =>
      val FieldStats(n1, a1) = fieldStats.getOrElse(f, FieldStats(0L, 0.0))
      val FieldStats(n2, a2) = other.fieldStats.getOrElse(f, FieldStats(0L, 0.0))
      val n = n1 + n2
      val avg =
        if (!spec.textFields.contains(f)) 1.0
        else if (n == 0) 0.0
        else (math.rint(a1 * n1) + math.rint(a2 * n2)) / n
      f -> FieldStats(n, avg)
    }.toMap
    (mStats, mFieldStats)
  }

  /** Asserts the [[IndexSpec.keyCol]] uniqueness contract (one
    * aggregation over the corpus) — run where ingest cannot guarantee
    * it; build() deliberately does not pay this cost. */
  def validateUniqueKeys(): Unit = {
    val dup = docs.groupBy(key).count().where(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"duplicate ${spec.keyCol}: ${dup.headOption.map(_.get(0))} — dedup the corpus first")
  }

  /** Human-readable data + index summary (reference
    * getDataAndIndicesInfo, PartitionsIndexLuceneRDD.scala:537-566 —
    * there SizeEstimator over element arrays; here the per-field
    * metadata rows plus physical layout facts). */
  def getDataAndIndicesInfo: String = {
    val infos = getIndicesInfo.collect()
      .map { r =>
        s"${r.getAs[String]("field")}(docs=${r.getAs[Long]("num_docs")}, " +
          s"terms=${r.getAs[Long]("num_terms")}, tokens=${r.getAs[Long]("total_terms")})"
      }.mkString("; ")
    s"$getConfigInfo\nindices: $infos\n" +
      s"docs partitions: ${docs.rdd.getNumPartitions}, " +
      s"postings partitions: ${postings.rdd.getNumPartitions}"
  }

  /** Same index, different scoring — postings/stats/docs are
    * similarity-independent, so swapping BM25(k1,b) / TFIDF is free
    * (reference analog: ConfigurableSimilarity plugins,
    * similarities/ConfigurableSimilarity.scala:6-9). */
  def withSimilarity(sim: Similarity): SearchIndex =
    new SearchIndex(spark, spec.copy(similarity = sim), docs, postings, stats, fieldStats,
      joinGates)

  /** Same index, different physical layout for the batch/postings
    * path — the artifacts are layout-independent (layout only selects
    * the probe-join strategy in [[batchSearchPerDoc]]), so switching
    * per query is free (reference analog: choosing among the three
    * SearchableRDD implementations at build time, SURVEY §1.4 — here
    * a per-query decision, which a single-build engine can afford). */
  def withLayout(l: IndexLayout): SearchIndex =
    new SearchIndex(spark, spec.copy(layout = l), docs, postings, stats, fieldStats,
      joinGates)

  /** Same index, different query-join tuning (the artifacts do not
    * depend on it). The copy has its own memo and lazily built
    * frames; `unpersist` on either releases the shared artifacts. */
  private[graft] def withJoinGates(g: JoinGates): SearchIndex =
    new SearchIndex(spark, spec, docs, postings, stats, fieldStats, g)

  // ------------------------------------------------------------------
  // incremental maintenance
  // ------------------------------------------------------------------

  /** Incremental document ADDITION — index refresh without
    * re-tokenizing the existing corpus (a capability the reference
    * lacks: its RDD layouts rebuild per corpus,
    * SearchableRDD.scala:94-120; Lucene itself supports segment
    * appends, which this mirrors at the DataFrame level). Only the
    * NEW documents are analyzed (one delta build), whose keys must be
    * disjoint from the index's (one intersection probe, as in
    * [[merge]]); the merged corpus and postings are unions of
    * persisted frames and the statistics combine as in [[merge]], so
    * the merged index scores IDENTICALLY to a from-scratch build of
    * the union.
    *
    * The caller owns the lifecycle: the delta's frames and the merged
    * stats are persisted like [[SearchIndex.build]]'s; `unpersist()`
    * on the returned index cascades to the base index and every
    * intermediate frame. A LOOP of addDocuments calls therefore pins
    * every intermediate delta until the final unpersist; loops that
    * must stay bounded should batch their additions or periodically
    * save+load the index, which roots the frames in parquet and frees
    * the chain. */
  def addDocuments(newDocs: DataFrame,
      storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK): SearchIndex = {
    val delta = SearchIndex.build(newDocs, spec, storageLevel)
    try requireDisjoint(delta) catch {
      case e: IllegalArgumentException => delta.unpersist(); throw e
    }
    val (mergedStats, mergedFs) = combinedStats(delta, storageLevel)
    val merged = new SearchIndex(spark, spec, docs.unionByName(delta.docs),
      postings.unionByName(delta.postings), mergedStats, mergedFs)
    merged.parents = Seq(this, delta)
    merged
  }

  /** Incremental document REMOVAL — the delete side of
    * [[addDocuments]]: anti-joins on the removed keys (broadcast when
    * the removal set is small, shuffle otherwise — AQE's call) and
    * SUBTRACTS the removed documents' term/length statistics, so no
    * corpus-wide token statistic is recomputed; the two delta
    * aggregations scan only the removed documents' postings and
    * lengths. Terms whose df reaches 0 drop out of the stats table,
    * exactly as a fresh build of the survivor set would have it. */
  def removeDocuments(removeKeys: DataFrame,
      storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK): SearchIndex = {
    val rk = removeKeys
      .select(col(removeKeys.columns.head).as("__rm_key")).distinct()
      .persist(storageLevel)
    val remDelta = postings.join(rk, col("key") === col("__rm_key"), "left_semi")
      .groupBy(col("field"), col("term"))
      .agg(count(lit(1)).as("__rdf"), sum(col("tf")).as("__rcf"))
    val newStats = stats.join(remDelta, Seq("field", "term"), "left")
      .na.fill(0L, Seq("__rdf", "__rcf"))
      .select(col("field"), col("term"),
        (col("df") - col("__rdf")).as("df"), (col("cf") - col("__rcf")).as("cf"))
      .where(col("df") > 0)
      .persist(storageLevel)
    val aggExprs: Seq[Column] =
      Seq(count(lit(1)).as("__n")) ++
        spec.textFields.map(f =>
          coalesce(sum(col(dlColName(f)).cast("long")), lit(0L)).as(s"__dl_$f")) ++
        spec.keywordFields.map(f => count(col(f)).as(s"__n_$f"))
    val r = docs.join(rk, key === col("__rm_key"), "left_semi")
      .agg(aggExprs.head, aggExprs.tail: _*).head()
    val rN = r.getAs[Long]("__n")
    val newFs = fieldStats.map { case (f, FieldStats(n1, a1)) =>
      if (spec.textFields.contains(f)) {
        val n = n1 - rN
        val total = math.rint(a1 * n1) - r.getAs[Long](s"__dl_$f")
        f -> FieldStats(n, if (n == 0) 0.0 else total / n)
      } else f -> FieldStats(n1 - r.getAs[Long](s"__n_$f"), 1.0)
    }
    val pruned = new SearchIndex(spark, spec,
      docs.join(rk, key === col("__rm_key"), "left_anti"),
      postings.join(rk, col("key") === col("__rm_key"), "left_anti"),
      newStats, newFs)
    pruned.parents = Seq(this)
    pruned.extraFrames = Seq(rk)
    pruned
  }

  /** Lifecycle links of an incrementally-derived index: the base (and
    * delta) indices whose persisted frames the derived plans read,
    * plus helper frames (the removal key set). */
  private var parents: Seq[SearchIndex] = Nil
  private var extraFrames: Seq[DataFrame] = Nil

  /** The lineage of an incrementally-derived index (base + delta for
    * [[addDocuments]], base for [[removeDocuments]]) — exposed so
    * specs can assert that maintenance paths really shared the base
    * (identity, not recomputation). Empty for a fresh build. */
  private[graft] def lineageParents: Seq[SearchIndex] = parents

  /** Blocking so a caller tearing down one index (bench section
    * transitions, corpus replacement) doesn't leave block removal
    * racing with its next query's tasks. Cascades through
    * incrementally-derived lineage ([[addDocuments]] /
    * [[removeDocuments]]). */
  def unpersist(blocking: Boolean = true): Unit = {
    scanTemplates.synchronized(scanTemplates.clear())
    SearchIndex.releaseFrame(docs, blocking)
    SearchIndex.releaseFrame(postings, blocking)
    SearchIndex.releaseFrame(stats, blocking)
    extraFrames.foreach(SearchIndex.releaseFrame(_, blocking))
    termDictionaryRef = null // driver heap only; rebuilt on next use
    // the lazily built index-wide frames; rebuilt on next use
    Seq(xdfStatsFrame, maxImpactFrame).filter(_ != null)
      .foreach(SearchIndex.releaseFrame(_, blocking))
    xdfStatsFrame = null
    maxImpactFrame = null
    astJoinMemo.synchronized {
      astJoinMemo.values.foreach(
        _._3.foreach(SearchIndex.releaseFrame(_, blocking)))
      astJoinMemo.clear()
    }
    parents.foreach(_.unpersist(blocking))
  }
}

object SearchIndex {

  /** Max postings rows for [[AutoLayout]] to pick the broadcast
    * layout (~a few hundred MB of (field, term, key, tf, dl) rows —
    * the same order as a generous autoBroadcastJoinThreshold). Also
    * the most stats rows an index holds on the driver as its
    * [[TermDictionary]]. */
  val AutoBroadcastMaxPostings: Long = 2L * 1000 * 1000

  /** One kept probe term of a pruned boolean shape + the block-max
    * minimum posting part a row must reach to matter. */
  private[graft] case class BoolProbe(term: String, mp: Double)

  /** Can impact pruning possibly pay for this boolean shape? Yes
    * whenever the EXACT probe volume (df of the rarest required
    * term, or Sum df over the optionals for SHOULD-only shapes)
    * exceeds the seed set — below that the threshold machinery has
    * nothing to save. The seed scan itself costs only the rarest
    * SCORING term's postings (see the seed-term selection), so the
    * gate needs no finer economics. Unseeded shapes keep the exact
    * probe — the gate is invisible in the results. */
  private[graft] def boolPrunable(terms: Seq[String], roles: Seq[Int],
      mis: Seq[Double], dfs: Seq[Long], nReq: Int, probeTs: Seq[String],
      minDf: Long): Boolean = {
    val probeSet = probeTs.toSet
    var exactVol = 0L
    val seen = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i < terms.length) {
      if (probeSet.contains(terms(i)) && seen.add(terms(i))) exactVol += dfs(i)
      i += 1
    }
    exactVol > minDf
  }

  /** MaxScore essential-probe selection for the BOOLEAN clause
    * algebra — [[SearchIndex.queryJoinBool]]'s native analog of
    * [[graft.dsl.QueryProgram.essentialTerms]] +
    * `essentialProbeBounds`, specialized to the bool verifier's
    * additive score model (sum of per-present-term similarities over
    * role >= 0 rows; excluded terms score 0; a term both required
    * and optional scores once per row, exactly as `bool_query_score`
    * sums). Given a SOUND threshold `th` (a lower bound on every
    * qid's k-th best filtered score for this shape), a probe set P
    * is sound when every doc scoring >= th must contain a member:
    *   - the EXACT probe (rarest required term, or all optionals
    *     for SHOULD-only shapes) is sound unconditionally;
    *   - ANY subset K of the shape's scoring terms is sound when
    *     `total - Sum unit(K) < th` — a doc containing none of K
    *     scores at most the uncovered mass. Built greedily by
    *     dropping densest-first. This is what beats req-led DENSE
    *     shapes: when the required term is a corpus-head term its
    *     own mass is tiny, th clears `total - opt mass` easily, and
    *     the probe switches from df(req) ~ corpus to the optionals'
    *     postings (the verifier still gates req in-row) — the z16
    *     Zipf receipt's 113M-row candidate stream collapses.
    * Each kept term also carries its block-max minimum posting part
    * (rows below it cannot lift any containing doc to th). Aligned
    * inputs come from the shape's qinfo arrays; `p` is the
    * similarity's idf exponent (1 BM25, 2 TFIDF). */
  private[graft] def boolEssentialProbes(terms: Seq[String], roles: Seq[Int],
      idfs: Seq[Double], mis: Seq[Double], dfs: Seq[Long], nReq: Int,
      probeTs: Seq[String], th: Double, p: Double): Seq[BoolProbe] = {
    val neg = Double.NegativeInfinity
    val unit = scala.collection.mutable.HashMap.empty[String, Double]
    val miRaw = scala.collection.mutable.HashMap.empty[String, Double]
    val dfOf = scala.collection.mutable.HashMap.empty[String, Long]
    val scoring = scala.collection.mutable.LinkedHashSet.empty[String]
    var total = 0.0
    var i = 0
    while (i < terms.length) {
      if (roles(i) >= 0) {
        unit.update(terms(i), unit.getOrElse(terms(i), 0.0) + mis(i))
        total += mis(i)
        scoring += terms(i)
        if (mis(i) > 0.0 && idfs(i) > 0.0)
          miRaw.update(terms(i), mis(i) / math.pow(idfs(i), p))
      }
      if (!dfOf.contains(terms(i))) dfOf.update(terms(i), dfs(i))
      i += 1
    }
    def bound(t: String): BoolProbe = {
      val u = unit.getOrElse(t, 0.0)
      val raw = miRaw.getOrElse(t, 0.0)
      if (u <= 0.0 || raw <= 0.0) BoolProbe(t, neg)
      else {
        val resid = total - u
        val slack = 1e-7 * (1.0 + math.abs(th) + math.abs(resid))
        if (resid + slack >= th) BoolProbe(t, neg)
        // row contribution through t is unit(t) * part / mi_raw(t),
        // so part must reach (th - resid) * mi_raw / unit
        else BoolProbe(t, (th - resid - slack) * raw / u)
      }
    }
    // coverage-greedy K over ALL scoring terms: drop densest-first
    // while the uncovered mass (score ceiling of a doc containing
    // no kept term) stays provably below th
    val byDf = scoring.toSeq.sortBy(t => (-dfOf.getOrElse(t, 0L), t))
    var uncovered = 0.0
    val dropped = scala.collection.mutable.HashSet.empty[String]
    for (t <- byDf) {
      val m = uncovered + unit.getOrElse(t, 0.0)
      val slack = 1e-7 * (1.0 + math.abs(th) + m)
      if (m + slack < th && dropped.size < byDf.size - 1) {
        dropped += t; uncovered = m
      }
    }
    val kept = byDf.filterNot(dropped)
    def vol(ts: Seq[String]): Long =
      ts.map(t => dfOf.getOrElse(t, 0L)).sum
    // both sets are sound (every gate-passing match contains a
    // scoring term, and K's uncovered mass is below th) — pick the
    // cheaper postings volume. An EMPTY result signals "pruning has
    // no bite here" (exact set, every part bound -inf): the caller
    // must route the shape through the slim exact branch instead of
    // paying the widened pruned join for nothing.
    val exact = probeTs.distinct
    val chosen =
      if (kept.nonEmpty && vol(kept) < vol(exact)) kept.map(bound)
      else exact.map(bound)
    val isExactSet = chosen.map(_.term).toSet == exact.toSet
    if (isExactSet && chosen.forall(_.mp == neg)) Seq.empty else chosen
  }

  /** The query-join tuning of one index, fixed when it is built
    * (tests take another through `SearchIndex.withJoinGates`).
    *
    * @param broadcastShapesMax largest distinct-shape count for which
    *   a query join ([[SearchIndex.queryJoinAst]],
    *   [[SearchIndex.queryJoinBool]]) broadcasts its shape side: the
    *   probe joins, and the program or clause attach after the corpus
    *   join (so the candidate stream crosses its only exchange as
    *   bare (sid, key) pairs — SCALE.md receipts). ~1 KB per AST
    *   shape, so 65536 is ~64 MB of broadcast, the order of a
    *   generous autoBroadcastJoinThreshold; above it the shape side
    *   attaches after the corpus join as the build side of a
    *   shuffle-hash join (wide-but-linear, never sorted). The same
    *   gate, applied to the left's row count, decides whether the
    *   per-shape setup tables are collected into local relations and
    *   the qid fan-out broadcasts ([[checkpointCanon]],
    *   [[shapeTable]]).
    * @param seedsPerShape seeds scored per shape for the
    *   impact-pruning threshold: more seeds cost more bounded
    *   verifies but yield a tighter threshold and therefore more
    *   pruning.
    * @param memoCap query-join memo entries kept per index; 16 so a
    *   workload alternating the AST and bool front doors does not
    *   thrash either's entries. */
  private[graft] final case class JoinGates(
      broadcastShapesMax: Long = 65536L,
      seedsPerShape: Int = 64,
      memoCap: Int = 16)

  /** Name of the internal token-array column for `field` — public so
    * callers can build query-generator expressions over the analyzed
    * tokens (e.g. queryJoin term sources). */
  def tokensColName(field: String): String = s"__tokens_$field"
  private[search] def dlColName(field: String) = s"__dl_$field"
  private[search] def internalCols(spec: IndexSpec): Seq[String] =
    spec.textFields.flatMap(f => Seq(tokensColName(f), dlColName(f)))

  /** Builds the index: tokenized corpus + postings + global term
    * stats (reference analog: the `apply` factories,
    * PartitionsIndexLuceneRDD.scala:582-617 /
    * DistributedIndexLuceneRDD.scala:509-548; the global-stats pass
    * mirrors fromStoreableWithGlobalIDF,
    * DistributedIndexLuceneRDD.scala:552-587, done as one DataFrame
    * aggregation instead of driver-side treeReduce).
    *
    * Cost model at scale: one scan to tokenize (cached), one shuffle
    * to build postings (by field+term+key), one partial-aggregated
    * shuffle for stats, plus one small collect for per-field numDocs
    * and avgdl. All downstream queries reuse the cached artifacts.
    */
  /** Lineage barrier for a long-lived engine frame: materialize it
    * once (localCheckpoint) and hand back a LEAF-planned frame over
    * the stored blocks. A plain `persist` keeps the builder's full
    * logical lineage inside the InMemoryRelation, and every query
    * referencing docs/postings/stats re-embeds that subtree — the
    * measured bool-join physical plan was 3.1 MB of tree (365 nested
    * InMemoryRelations), driver planning/AQE re-planning walk it per
    * stage, and each task serializes the narrow RDD chain behind the
    * cache (60-300 ms of PER-TASK deserialize on stages with zero
    * compute; 40-50 s of total deser on the pruned bool entries at
    * sf0.1 — r16 event-log receipts). After the cut the frame plans
    * as one leaf: plans shrink ~100x, and planning, codegen size and
    * task-binary deser shrink with them. At 100 TB the same frames
    * arrive via [[load]] (parquet leaves), so production plans
    * already have this shape; the barrier gives the in-memory build
    * path the same property. Storage cost is the same blocks the
    * persist held (row format instead of columnar — the frames are
    * scanned whole by every query, so batch pruning was not load-
    * bearing). Trade-off: checkpointed blocks do not recompute on
    * executor loss — the documented localCheckpoint contract; an
    * HA deployment uses save/load. */
  private[search] def cutLineage(df: DataFrame,
      storageLevel: StorageLevel): DataFrame =
    graft.sources.Frames.cutLineage(df, storageLevel)

  /** The |left|-row canonical query frame of a query join behind one
    * localCheckpoint, and whether its per-shape setup tables are
    * collected: they are when the frame has at most `gate` rows
    * ([[JoinGates]]`.broadcastShapesMax`), since a batch has no more
    * shapes than rows. The decision costs nothing beyond the
    * checkpoint's own job, so a larger batch pays no extra collect. */
  private[search] def checkpointCanon(df: DataFrame, gate: Long): (DataFrame, Boolean) = {
    val (canon, rows) = Frames.checkpointCounted(df, StorageLevel.MEMORY_AND_DISK)
    (canon, rows <= gate)
  }

  /** A query-join setup table with one row per distinct query shape
    * (shape dedup, IDF vectors, thresholds, probe sets). When
    * `collect` holds (see [[checkpointCanon]]) it is built with ONE
    * collect and re-planned as a local relation: no checkpoint, no
    * persist, no count, no storage, and the collected rows come back
    * for the caller to read (shape count, metadata). Otherwise it is
    * lineage-cut and registered with `keep`. */
  private[search] def shapeTable(df: DataFrame, keep: DataFrame => DataFrame,
      collect: Boolean): (DataFrame, Option[Array[Row]]) =
    if (collect) {
      val (local, rows) = Frames.collectLocal(df)
      (local, Some(rows))
    } else (keep(cutLineage(df, StorageLevel.MEMORY_AND_DISK)), None)

  /** Release a frame whether it is cache-persisted or lineage-cut. */
  private[search] def releaseFrame(df: DataFrame, blocking: Boolean): Unit =
    graft.sources.Frames.release(df, blocking)

  def build(df: DataFrame, spec: IndexSpec,
      storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK): SearchIndex = {
    val spark = df.sparkSession
    SearchExpressions.register(spark)
    val an = Analyzers(spec.indexAnalyzer)
    // StorageLevel.NONE = pass-through build: no materialization, no
    // lineage barrier — frames stay logical views over the source, so
    // source-scan properties (bucket pruning for point lookups over a
    // bucketed corpus table, partition pruning) survive. The default
    // materializes: every query replans the tokenize/postings subtree
    // otherwise.
    def mat(d: DataFrame): DataFrame =
      if (storageLevel == StorageLevel.NONE) d else cutLineage(d, storageLevel)

    var docs = df
    val minPar = spark.sparkContext.defaultParallelism
    spec.textFields.foreach { f =>
      // array<string> columns are indexed per element (each element is
      // a term) — the reference's SeqField flattens arrays to one text
      // blob (LuceneIndexedPartition.scala:197, lossy); here elements
      // stay individually addressable
      val tokens = df.schema(f).dataType match {
        case org.apache.spark.sql.types.ArrayType(_, _) => col(f).cast("array<string>")
        case _ => an.tokensCol(col(f))
      }
      docs = docs
        .withColumn(tokensColName(f), tokens)
        .withColumn(dlColName(f), size(col(tokensColName(f))))
    }
    // Storeable projection: everything above indexed from the full
    // row; from here on the engine carries only key + stored payload
    // + keyword scalars + token internals (reference Storeable,
    // Indexable.scala:16-19 / StoreableExample.scala:13-34)
    spec.storedCols.foreach { stored =>
      val keep = (Seq(spec.keyCol) ++ stored ++ spec.keywordFields).distinct ++
        internalCols(spec)
      docs = docs.select(keep.map(col): _*)
    }
    // lineage barrier, not a bare persist (see [[cutLineage]]):
    // every downstream plan sees a leaf instead of the tokenize tree
    docs = mat(docs)

    // postings are built MAP-SIDE: explode the distinct terms of each
    // doc and count tf per row with the codegen array_count_eq — one
    // row per (doc, term), no shuffle of the exploded token stream.
    // (The previous groupBy(field, term, key, dl) shuffled every
    // token occurrence; at 100 TB that shuffle dwarfs the build.)
    // Per-doc cost is O(dl * distinct_terms) comparisons, cheap next
    // to tokenization; downstream term-joins broadcast the query side
    // (batchSearchPerDoc), so the postings never shuffle at all
    // unless explicitly repartitioned/bucketed for co-location.
    val perFieldPostings = spec.textFields.map { f =>
      docs.select(
          lit(f).as("field"),
          col(spec.keyCol).as("key"),
          col(dlColName(f)).as("dl"),
          col(tokensColName(f)).as("__toks"),
          explode(array_distinct(col(tokensColName(f)))).as("term"))
        .select(col("field"), col("term"), col("key"), col("dl"),
          call_function("array_count_eq", col("__toks"), col("term")).as("tf"))
    } ++ spec.keywordFields.map { f =>
      docs.where(col(f).isNotNull).select(
        lit(f).as("field"),
        col(f).cast("string").as("term"),
        col(spec.keyCol).as("key"),
        lit(1).as("dl"),
        lit(1).as("tf"))
    }
    // scale-adaptive postings parallelism: the candidate fan-out of
    // every probe join streams the postings side (termJoin), so its
    // parallelism IS the postings partition count. A small-SF corpus
    // parquet arrives in ~3 partitions and the union inherits that;
    // at real scale input partitions >> cores and this is a no-op by
    // construction. Keyless round-robin is safe: every downstream
    // aggregate is partitioning-invariant by the repo's determinism
    // discipline (InvarianceSpec pins it). Only this fan-out-bearing
    // frame is spread: spreading the docs frame too put every short
    // metadata stage on defaultParallelism tasks and measured slower
    // on the query-join entries at sf0.1.
    val postings0 = perFieldPostings.reduceLeft(_ unionAll _)
    val postings = mat(
      if (storageLevel != StorageLevel.NONE &&
          docs.rdd.getNumPartitions * perFieldPostings.size < minPar)
        postings0.repartition(minPar)
      else postings0)

    val stats = mat(postings
      .groupBy(col("field"), col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf")))

    // per-field numDocs + avgdl in ONE small action — the analog of
    // the reference's build-time stats treeReduce
    // (DistributedIndexLuceneRDD.scala:574-575). N for text-field IDF
    // is the corpus row count (documented deviation: the reference
    // uses per-field doc counts; for the corpora here every doc has
    // the text field, so the two agree).
    val fieldStats: Map[String, FieldStats] = {
      val aggExprs: Seq[Column] =
        Seq(count(lit(1)).as("__n")) ++
          spec.textFields.map(f =>
            coalesce(avg(size(col(tokensColName(f)))), lit(0.0)).as(s"__avgdl_$f")) ++
          spec.keywordFields.map(f => count(col(f)).as(s"__n_$f"))
      val r = docs.agg(aggExprs.head, aggExprs.tail: _*).head()
      val n = r.getAs[Long]("__n")
      val text = spec.textFields.map(f => f -> FieldStats(n, r.getAs[Double](s"__avgdl_$f")))
      val kw = spec.keywordFields.map(f => f -> FieldStats(r.getAs[Long](s"__n_$f"), 1.0))
      (text ++ kw).toMap
    }

    if (!spec.storePositions) {
      // NoPositions trade-off: postings + stats are already
      // materialized (eager lineage cut above), so swap the stored
      // docs for the token-free projection (doc lengths kept — they
      // cost one long per field) and release the tokenized blocks.
      val slim = mat(docs.drop(spec.textFields.map(tokensColName): _*))
      releaseFrame(docs, blocking = false)
      docs = slim
    }

    new SearchIndex(spark, spec, docs, postings, stats, fieldStats)
  }

  /** Persists postings bucketed by term (hash-bucketed table): a
    * query's posting lookup (`term IN (...)`) then reads only the
    * matching buckets — Spark's bucket pruning — instead of scanning
    * the whole index, and repeated term-joins are co-partitioned
    * without a shuffle. This is the on-disk layout for the 100 TB
    * deployment; [[SearchIndex.save]]'s plain parquet is the
    * lightweight variant. */
  def saveBucketed(index: SearchIndex, table: String, nBuckets: Int = 32): Unit =
    index.postings.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(nBuckets, "term")
      .sortBy("term")
      .saveAsTable(table)

  /** Reloads a [[save]]d index: the build scan/shuffles are skipped
    * entirely — postings and stats come straight off parquet
    * (rebuild-on-load vs serialized-directory trade-off from the
    * reference, SURVEY §1.5, resolved in favor of columnar reload). */
  def load(spark: SparkSession, path: String, spec: IndexSpec,
      storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK): SearchIndex = {
    SearchExpressions.register(spark)
    val docs = spark.read.parquet(s"$path/docs").persist(storageLevel)
    if (spec.storePositions) {
      // fail fast on a spec/artifact mismatch: a no-positions save has
      // no token arrays, and the positional scan path would otherwise
      // die later with an unresolved-column error mid-query
      val missing = spec.textFields.map(tokensColName).filterNot(docs.columns.contains)
      require(missing.isEmpty,
        s"saved index at $path has no stored positions (missing ${missing.mkString(", ")}); " +
          "load it with IndexSpec(storePositions = false)")
    }
    val postings = spark.read.parquet(s"$path/postings").persist(storageLevel)
    val stats = spark.read.parquet(s"$path/stats").persist(storageLevel)
    val fs = spark.read.parquet(s"$path/field_stats").collect()
      .map(r => r.getAs[String]("field") ->
        FieldStats(r.getAs[Long]("num_docs"), r.getAs[Double]("avg_dl"))).toMap
    new SearchIndex(spark, spec, docs, postings, stats, fs)
  }
}
