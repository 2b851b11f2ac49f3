package graftbench

import graft.analysis.Analyzers
import graft.dsl.QueryProgram
import graft.functions.TopKAgg
import graft.search.{IndexSpec, SearchIndex, SearchQueries}
import graft.sources.CorpusRegistry
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.util.SplittableRandom
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Workload sizes. Fixed, not tunable per run: a run differs from
  * another only by its seed and length. */
object Sizes {
  val Docs = 5000
  val Vocab = 10000
  val ZipfS = 1.05
  val K = 10
  /** Upper bound on one pass's interactive stream (never reached). */
  val MaxSearches = 5000
  val JoinLeft = 100
  val JoinKinds: Seq[String] = Seq("bool_exact", "bool_pruned", "ast_exact")
  val SetupReps = 2
  val WarmSearches = 6
  val KernelCopies = 20
  val CompiledQueries = 24
  val CheckedSearches = 24
  val CheckedQids = 4
}

/** Outcome of one timed pass; `ops` is (kind, traced, seconds) per
  * operation, for the tracing overhead. */
final case class Pass(e2e: ListMap[String, Double], detail: ListMap[String, Any],
    attempted: Int, failures: Seq[String], ops: Seq[(String, Boolean, Double)])

/** One timed search and its collected hits. */
final case class Searched(iq: Interactive, hits: Seq[(Long, Double)], ms: Double, traced: Boolean)

/** One timed join call and its collected result. */
final case class JoinCall(kind: String, cold: Boolean, left: DataFrame, rows: Seq[Row],
    totalS: Double, result: Map[Long, Seq[(Long, Double)]], cycle: Int, traced: Boolean)

/** One benchmark run: a session, a seeded corpus, one workload. */
final class Bench(spark: SparkSession, workload: String, seed: Long, seconds: Int,
    dir: String, tracer: Tracer) {
  import Sizes._

  private val nproc = spark.sparkContext.defaultParallelism
  val corpus = new Corpus(seed, Docs, Vocab, ZipfS)
  val spec: IndexSpec = IndexSpec(keyCol = "doc_id", textFields = Seq("text"),
    keywordFields = Seq("lang", "source"))
  private val docSchema = StructType(Seq(StructField("doc_id", LongType, false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("year", IntegerType)))
  private def docRow(d: Doc): Row = Row(d.id, d.text, d.lang, d.source, d.year)
  def corpusFrame: DataFrame = spark.read.parquet(s"$dir/documents.parquet")

  /** Writes the corpus as `nproc` parquet files with stable names;
    * returns the in-memory documents. */
  def writeCorpus(): Array[Doc] = {
    val docs = corpus.docs()
    val out = new java.io.File(s"$dir/documents.parquet")
    spark.createDataFrame(spark.sparkContext.parallelize(docs.toSeq.map(docRow), nproc), docSchema)
      .write.mode("overwrite").parquet(out.getPath)
    val parts = out.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    out.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    parts.zipWithIndex.foreach { case (f, i) => f.renameTo(new java.io.File(out, f"part-$i%05d.parquet")) }
    docs
  }

  // ------------------------------------------------------------------
  // set-up
  // ------------------------------------------------------------------

  var index: SearchIndex = _

  /** Builds the index the workload serves from and returns the seconds
    * until it can be queried. Both workloads serve from the
    * `graft_search` registry's index of the corpus directory (a
    * `SearchIndex.build` behind the registry), so the SQL function and
    * the Scala calls share one index. */
  def buildIndexes(): Double = {
    SearchQueries.clearCache()
    val t0 = System.nanoTime()
    index = SearchQueries.indexFor(spark, dir)
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------------
  // operations
  // ------------------------------------------------------------------

  private def hits(rows: Array[Row]): Seq[(Long, Double)] =
    rows.map(r => (r.getAs[Number]("doc_id").longValue(), r.getAs[Double]("score"))).toSeq

  def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def planNodes(df: DataFrame): Int = df.queryExecution.sparkPlan.collect { case p => p }.length

  /** One interactive search, collected to the driver: (hits, ms). */
  def search(idx: SearchIndex, iq: Interactive): (Seq[(Long, Double)], Double) = {
    tracer.newOp()
    val t0 = System.nanoTime()
    val res = tracer.span("search", "query") {
      if (iq.sql) tracer.span("plans", "sql_search") {
        val raw = iq.q.asInstanceOf[BoolQ].raw
        hits(spark.sql(s"SELECT doc_id, score FROM graft_search('$dir', '$raw', $K)").collect())
      } else {
        val df = tracer.span("search", "call")(idx.search(Queries.toSearch(iq.q), K))
        if (tracer.enabled) tracer.span("plans", "plan")(df.queryExecution.executedPlan)
        hits(tracer.span("search", "exec")(df.collect()))
      }
    }
    (res, (System.nanoTime() - t0) / 1e6)
  }

  // ------------------------------------------------------------------
  // search_interactive
  // ------------------------------------------------------------------

  /** In a traced run every other search records spans, and at least one
    * whole schedule runs, so every shape is seen traced and untraced. */
  private def searchInteractive(traceRun: Boolean, ref: => RefIndex): Pass = {
    val stream = new Queries(corpus, seed * 10).interactive(MaxSearches, Docs)
    val done = mutable.ArrayBuffer.empty[Searched]
    val failures = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var i = 0
    val minSearches = if (traceRun) Queries.Schedule.length else 1
    while (i < stream.length && (i < minSearches || System.nanoTime() - t0 < seconds * 1e9)) {
      val iq = stream(i); val traced = i % 2 == 1; i += 1
      try { val (h, ms) = tracer.recording(traced)(search(index, iq)); done += Searched(iq, h, ms, traced) }
      catch { case e: Exception => failures += s"search $iq: $e" }
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val pinned = storageMb()
    // output checks, outside the timed region
    val rnd = new SplittableRandom(seed + 1)
    val sample = Seq.fill(CheckedSearches)(rnd.nextInt(done.length)).distinct.map(done)
    sample.foreach { s =>
      RefIndex.compare(s.hits, ref.topK(s.iq.q, K), ref.score(s.iq.q, _)).foreach(m => failures += s"search ${s.iq}: $m")
    }
    val lat = done.map(_.ms).toSeq
    val qs = new Queries(corpus, seed)
    val terms = done.flatMap(_.iq.q.terms)
    Pass(ListMap("latency_ms" -> Stats.median(lat), "work_per_s" -> done.length / timedS,
      "pinned_storage_mb" -> pinned),
      ListMap("searches" -> done.length, "search_p50_ms" -> Stats.median(lat),
        "search_tail_ms" -> Stats.tail(lat), "searches_per_s" -> done.length / timedS,
        "sql_share" -> done.count(_.iq.sql).toDouble / done.length,
        "head_term_share" -> terms.count(qs.isHead).toDouble / terms.length,
        "kind_p50_ms" -> ListMap(done.groupBy(_.iq.kind).map { case (k, v) =>
          k -> ListMap("n" -> v.length, "p50" -> Stats.median(v.map(_.ms).toSeq)) }.toSeq.sortBy(_._1): _*),
        "checked" -> sample.length),
      i, failures.toSeq, done.map(s => (s.iq.kind, s.traced, s.ms)).toSeq)
  }

  // ------------------------------------------------------------------
  // query_join
  // ------------------------------------------------------------------

  private val leftSchema = StructType(Seq(StructField("qid", LongType, false)) ++
    Seq("req", "opt", "exc").map(StructField(_, ArrayType(StringType))) ++
    Seq("lo", "hi").map(StructField(_, IntegerType)) ++
    Seq("t1", "t2", "t3", "t4", "pa", "pb").map(StructField(_, StringType)))

  private lazy val rankOf: Map[String, Int] = (1 to Vocab).map(r => Corpus.word(r) -> r).toMap

  /** A fresh seeded left side of JoinLeft corpus documents; each row's
    * query is drawn from its own document's words. */
  def joinLeft(kind: String, salt: Long): Seq[Row] = {
    val rnd = new SplittableRandom(seed * 1009 + salt * 31 + kind.hashCode)
    val ids = mutable.LinkedHashSet.empty[Long]
    while (ids.size < JoinLeft) ids += rnd.nextInt(Docs).toLong
    ids.toSeq.map { id =>
      val d = corpus.doc(id)
      val words = d.tokens.distinct.filter(rankOf.contains)
      val (head, rest) = words.partition(w => rankOf(w) <= Corpus.HeadMax)
      def pickFrom(ws: Seq[String], n: Int): Seq[String] = {
        val pool = mutable.ArrayBuffer(ws: _*)
        val out = mutable.ArrayBuffer.empty[String]
        while (out.length < n && pool.nonEmpty) out += pool.remove(rnd.nextInt(pool.length))
        while (out.length < n) { val w = Corpus.word(1 + rnd.nextInt(Corpus.HeadMax)); if (!out.contains(w)) out += w }
        out.toSeq
      }
      def absent(): String = Iterator.continually(Corpus.word(Corpus.TorsoLo + rnd.nextInt(Corpus.TorsoHi - Corpus.TorsoLo)))
        .find(w => !d.tokens.contains(w)).get
      val own = pickFrom(if (rest.length >= 3) rest else words, 3)
      val dense = pickFrom(head, 3)
      val i = rnd.nextInt(d.tokens.length - 1)
      val (req, opt, exc) = kind match {
        case "bool_exact" => (Seq(own.head), own.tail, Seq(absent()))
        case _ => (Nil, dense, Nil)
      }
      Row(id, req, opt, exc, d.year - 8, d.year + 8, own(0), own(1), own(2), absent(),
        d.tokens(i), d.tokens(i + 1))
    }
  }

  private def callJoin(kind: String, left: DataFrame): DataFrame = kind match {
    case "bool_exact" => index.queryJoinBool(left, "qid", col("req"), col("opt"), col("exc"), "text", K,
      attrFilter = Some(("year", col("lo"), col("hi"))), excludeSelf = true)
    case "bool_pruned" => index.queryJoinBool(left, "qid", col("req"), col("opt"), col("exc"), "text", K,
      excludeSelf = true, impactPruning = true)
    case "ast_exact" => index.queryJoinAst(left, "qid", Queries.astExact, "text", K, excludeSelf = true)
  }

  private def byQid(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_.getAs[Number]("qid").longValue()).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Number]("rank").intValue())
        .map(r => (r.getAs[Number]("key").longValue(), r.getAs[Double]("score"))).toSeq
    }

  private def timedJoin(kind: String, cold: Boolean, left: DataFrame, rows: Seq[Row],
      cycle: Int, traced: Boolean): JoinCall = tracer.recording(traced) {
    tracer.newOp()
    val t0 = System.nanoTime()
    val res = tracer.span("search", if (cold) "qj_cold" else "qj_warm") {
      val df = tracer.span("search", "qj_call")(callJoin(kind, left))
      if (tracer.enabled) {
        tracer.span("plans", "plan")(df.queryExecution.executedPlan)
        qjPlanNodes += planNodes(df)
      }
      byQid(tracer.span("search", "qj_exec")(df.collect()))
    }
    JoinCall(kind, cold, left, rows, (System.nanoTime() - t0) / 1e9, res, cycle, traced)
  }
  private val qjPlanNodes = mutable.ArrayBuffer.empty[Int]

  /** Whole rotations until `--seconds` have passed (at least one). The
    * first rotation carries the process's first-use costs (JIT, code
    * generation) of every join kind. A traced run makes three
    * rotations: the first untraced, then every other left side records
    * spans, so each kind runs once traced and once untraced after the
    * first-use costs. */
  private def queryJoin(traceRun: Boolean, ref: => RefIndex): Pass = {
    val calls = mutable.ArrayBuffer.empty[JoinCall]
    val failures = mutable.ArrayBuffer.empty[String]
    val shapeShare = mutable.ArrayBuffer.empty[(String, Double)]
    var attempted = 0
    var pinned = -1.0
    val t0 = System.nanoTime()
    var cycle = 0
    val minCycles = if (traceRun) 3 else 1
    while (cycle < minCycles || System.nanoTime() - t0 < seconds * 1e9) {
      JoinKinds.zipWithIndex.foreach { case (kind, ki) =>
        val traced = cycle > 0 && (cycle + ki) % 2 == 1
        val rows = joinLeft(kind, cycle)
        shapeShare += kind -> shapes(kind, rows)
        val left = spark.createDataFrame(java.util.Arrays.asList(rows: _*), leftSchema)
        Seq(true, false).foreach { cold =>
          attempted += 1
          try calls += timedJoin(kind, cold, left, rows, cycle, traced)
          catch { case e: Exception => failures += s"$kind cold=$cold: $e" }
        }
      }
      cycle += 1
      if (pinned < 0) pinned = storageMb()
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    // output checks, outside the timed region
    val rnd = new SplittableRandom(seed * 3)
    calls.filterNot(_.cold).foreach { w =>
      calls.find(c => c.cold && (c.left eq w.left)).foreach { c =>
        if (c.result != w.result) failures += s"${w.kind}: repeat differs from first issue"
      }
    }
    calls.filter(_.cold).foreach { c =>
      val sample = Seq.fill(CheckedQids)(c.rows(rnd.nextInt(c.rows.length)))
      failures ++= checkJoin(c, sample, ref)
    }
    val cold = calls.filter(_.cold); val warm = calls.filterNot(_.cold)
    def rate(cs: Seq[JoinCall]) = cs.map(_.rows.length).sum / cs.map(_.totalS).sum
    def kindMs(cs: Seq[JoinCall], k: String) = Stats.median(cs.filter(_.kind == k).map(_.totalS * 1000))
    // every kind weighs the same: a slowdown of x in one of the three
    // kinds moves the geometric mean by x^(1/3)
    val coldGeoMs = math.exp(JoinKinds.map(k => math.log(kindMs(cold.toSeq, k))).sum / JoinKinds.length)
    Pass(ListMap("latency_ms" -> coldGeoMs,
      "work_per_s" -> calls.map(_.rows.length).sum / timedS, "pinned_storage_mb" -> pinned),
      ListMap("calls" -> calls.length, "cycles" -> cycle, "left_rows" -> JoinLeft,
        "qj_cold_rows_per_s" -> rate(cold.toSeq), "qj_warm_rows_per_s" -> rate(warm.toSeq),
        "qj_cold_p50_ms" -> Stats.median(cold.map(_.totalS * 1000).toSeq),
        "qj_warm_p50_ms" -> Stats.median(warm.map(_.totalS * 1000).toSeq),
        "per_kind_ms" -> ListMap(JoinKinds.map { k =>
          k -> ListMap("cold" -> kindMs(cold.toSeq, k), "warm" -> kindMs(warm.toSeq, k))
        }: _*),
        "distinct_shape_share" -> shapeShare.map { case (k, s) => ListMap("kind" -> k, "share" -> s) }.toSeq,
        "checked_qids_per_call" -> CheckedQids),
      attempted, failures.toSeq,
      // one operation per left side after the first rotation: its first
      // issue and its repeat
      calls.filter(_.cycle > 0).groupBy(_.left).values
        .map(cs => (cs.head.kind, cs.head.traced, cs.map(_.totalS).sum)).toSeq)
  }

  /** Distinct query shapes ÷ left rows for one join call. */
  private def shapes(kind: String, rows: Seq[Row]): Double = {
    val keys = rows.map { r =>
      if (kind.startsWith("bool")) (r.getSeq[String](1), r.getSeq[String](2), r.getSeq[String](3))
      else Queries.astExact(view(r))
    }
    keys.distinct.length.toDouble / rows.length
  }

  /** A schema-carrying view of a generated row, for the query generators. */
  private def view(r: Row): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(r.toSeq.toArray, leftSchema)

  private def checkJoin(c: JoinCall, sample: Seq[Row], ref: RefIndex): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    def got(qid: Long) = c.result.getOrElse(qid, Nil)
    if (c.kind.startsWith("bool")) sample.foreach { r =>
      val qid = r.getLong(0)
      val q = BoolQ(r.getSeq[String](1), r.getSeq[String](2), r.getSeq[String](3))
      val (lo, hi) = (r.getInt(4), r.getInt(5))
      val keep: Doc => Boolean =
        if (c.kind == "bool_exact") d => d.id != qid && d.year >= lo && d.year <= hi else d => d.id != qid
      RefIndex.compare(got(qid), ref.topK(q, K, keep), ref.score(q, _))
        .foreach(m => out += s"${c.kind} qid $qid: $m")
    } else sample.foreach { r =>
      val qid = r.getLong(0)
      val expect = hits(index.search(Queries.astExact(view(r)), K + 6).collect()).filter(_._1 != qid)
      RefIndex.compare(got(qid), expect.take(K), k => expect.find(_._1 == k).map(_._2))
        .foreach(m => out += s"${c.kind} qid $qid: vs search(): $m")
    }
    out.toSeq
  }

  /** The timed phase of the workload, then its output checks. */
  def run(traceRun: Boolean, ref: => RefIndex): Pass = workload match {
    case "search_interactive" => searchInteractive(traceRun, ref)
    case "query_join" => queryJoin(traceRun, ref)
  }

  /** Untimed warm-up searches: first-use costs (codegen, JIT, parquet
    * readers) of the search path land here instead of on the first
    * timed operations. query_join has none: a warm-up of every join
    * kind costs more than the whole timed rotation, which the run-time
    * budget does not allow, so its first rotation pays them. */
  def warmUp(): Unit = if (workload == "search_interactive")
    new Queries(corpus, seed * 10 + 9).interactive(WarmSearches, Docs).foreach(search(index, _))

  // ------------------------------------------------------------------
  // per-layer metrics (traced pass)
  // ------------------------------------------------------------------

  private def timeMedian(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Kernel and single-layer timings, each as its own span. */
  def kernels(): ListMap[String, Double] = {
    val tok = col(SearchIndex.tokensColName("text"))
    // the corpus token arrays replicated KernelCopies times, so a
    // kernel's own cost outweighs the job's fixed overhead
    val docs = index.docs.select(tok, explode(sequence(lit(1), lit(KernelCopies))).as("copy"))
    val n = docs.count().toDouble
    val w = Corpus.word _
    val avgdl = index.fieldStats("text").avgDl
    def rowsPerS(name: String, rows: Double)(body: => Unit): Double =
      rows / tracer.span(name.takeWhile(_ != '.'), name.dropWhile(_ != '.').drop(1))(timeMedian(3)(body))
    val tokenize = rowsPerS("analysis.tokenize", Docs)(noop(corpusFrame.select(Analyzers("default").tokensCol(col("text")))))
    val ace = rowsPerS("functions.array_count_eq", n)(noop(docs.select(call_function("array_count_eq", tok, lit(w(3))))))
    val pc = rowsPerS("functions.phrase_count", n)(noop(docs.select(
      call_function("phrase_count", tok, array(lit(w(2)), lit(w(5))), lit(0)))))
    val bqs = rowsPerS("functions.bool_query_score", n)(noop(docs.select(call_function("bool_query_score", tok,
      array(lit(w(7)), lit(w(150)), lit(w(900))), array(lit(1), lit(0), lit(-1)), array(lit(0.4), lit(3.1), lit(4.7)),
      lit(0), lit(1.2), lit(0.75), lit(avgdl)))))
    val topkRows = 200000.0
    val topk = rowsPerS("functions.topk_agg", topkRows)(noop(spark.range(topkRows.toLong)
      .select((col("id") % 500).as("qid"), col("id").as("key"), rand(seed).as("score"))
      .groupBy("qid").agg(TopKAgg.topk(K)(col("key"), col("score")))))
    val asts = joinLeft("ast_exact", 77).map(r => Queries.astExact(view(r)))
    val progUs = tracer.span("dsl", "program_compile")(timeMedian(3)(asts.foreach(q =>
      QueryProgram.compile(q, "text", "default", Set("text", "lang", "source"), Set("text"))))) * 1e6 / asts.length
    val sigMs = tracer.span("sources", "signature")(timeMedian(9)(CorpusRegistry.signature(dir))) * 1000
    // compile of a seeded sample of the interactive mix, IDF job included
    new Queries(corpus, seed * 10 + 5).interactive(CompiledQueries, Docs).filterNot(_.sql)
      .foreach(iq => tracer.span("dsl", "compile")(index.compile(Queries.toSearch(iq.q))))
    ListMap("analysis.tokenize_rows_per_s" -> tokenize, "dsl.program_compile_us" -> progUs,
      "functions.array_count_eq_rows_per_s" -> ace, "functions.phrase_count_rows_per_s" -> pc,
      "functions.bool_query_score_rows_per_s" -> bqs, "functions.topk_agg_rows_per_s" -> topk,
      "sources.signature_ms" -> sigMs)
  }

  /** One traced `SearchIndex.build`, for the build counters. */
  def tracedBuild(): Unit = {
    tracer.span("search", "build")(SearchIndex.build(corpusFrame, spec)).unpersist()
  }

  def layerMetrics(kernel: ListMap[String, Double], storageAfterMb: Double,
      overheadPct: Double): ListMap[String, Double] = {
    tracer.drain()
    val spans = tracer.spans
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree).toSeq
    def jobs(s: Span) = subtree(s).map(x => tracer.countersOf(x.id).jobs).sum
    def sum(s: Span)(f: Counters => Double) = subtree(s).map(x => f(tracer.countersOf(x.id))).sum
    def gapMs(s: Span) = s.ms - Stats.unionLength(subtree(s).flatMap(x =>
      tracer.countersOf(x.id).jobIntervals)).toDouble
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    def named(n: String) = tracer.named(n)
    val mb = 1e6
    val queries = named("search.query").filter(q => children.getOrElse(q.id, Nil).exists(_.name == "search.call"))
    val build = named("search.build")
    val coldOps = named("search.qj_cold"); val warmOps = named("search.qj_warm")
    def callOf(op: Span) = children.getOrElse(op.id, Nil).filter(_.name == "search.qj_call")
    val coldCalls = coldOps.flatMap(callOf); val warmCalls = warmOps.flatMap(callOf)
    val execs = named("search.qj_exec")
    ListMap(
      "analysis.tokenize_rows_per_s" -> kernel("analysis.tokenize_rows_per_s"),
      "dsl.compile_ms" -> med(named("dsl.compile").map(_.ms)),
      "dsl.program_compile_us" -> kernel("dsl.program_compile_us"),
      "functions.array_count_eq_rows_per_s" -> kernel("functions.array_count_eq_rows_per_s"),
      "functions.phrase_count_rows_per_s" -> kernel("functions.phrase_count_rows_per_s"),
      "functions.bool_query_score_rows_per_s" -> kernel("functions.bool_query_score_rows_per_s"),
      "functions.topk_agg_rows_per_s" -> kernel("functions.topk_agg_rows_per_s"),
      "search.build_s" -> med(build.map(_.ms / 1000)),
      "search.build_jobs" -> mean(build.map(jobs(_).toDouble)),
      "search.build_shuffle_mb" -> mean(build.map(sum(_)(_.shuffleBytes.toDouble) / mb)),
      "search.search_exec_ms" -> med(named("search.exec").map(_.ms)),
      "search.search_jobs" -> mean(queries.map(jobs(_).toDouble)),
      "search.search_driver_gap_ms" -> med(queries.map(gapMs)),
      "search.qj_call_s" -> med(coldCalls.map(_.ms / 1000)),
      "search.qj_setup_jobs" -> mean(coldCalls.map(jobs(_).toDouble)),
      "search.qj_exec_s" -> med(execs.map(_.ms / 1000)),
      "search.qj_exec_jobs" -> mean(execs.map(jobs(_).toDouble)),
      "search.qj_stages" -> mean(execs.map(sum(_)(_.stages.toDouble))),
      "search.qj_task_s" -> mean(execs.map(sum(_)(_.taskNs / 1e9))),
      "search.qj_shuffle_mb" -> mean(execs.map(sum(_)(_.shuffleBytes / mb))),
      "search.qj_spill_mb" -> mean(execs.map(sum(_)(_.spillBytes / mb))),
      "search.qj_driver_gap_s" -> mean(execs.map(gapMs(_) / 1000)),
      "search.qj_warm_hit_ratio" -> (if (warmCalls.isEmpty) 0.0
        else warmCalls.count(jobs(_) == 0).toDouble / warmCalls.length),
      "search.storage_mb" -> storageAfterMb,
      "plans.plan_ms" -> med(named("plans.plan").map(_.ms)),
      "plans.qj_plan_nodes" -> mean(qjPlanNodes.map(_.toDouble).toSeq),
      "plans.sql_search_ms" -> med(named("plans.sql_search").map(_.ms)),
      "sources.signature_ms" -> kernel("sources.signature_ms"),
      "trace.overhead_pct" -> overheadPct)
  }
}
