package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Paths
import scala.collection.immutable.ListMap

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --benchmark <BENCHMARK.json> [--commit <id>] [--source-digest <hex>]
  *   graftbench.Main --selftest
  * }}}
  *
  * Spark runs `local[nproc]` in this JVM and a single client thread
  * issues each call only after the previous one returned (closed loop,
  * one client). Inputs are generated from the seed into `--work`.
  * The last stdout line is the result object; earlier lines carry
  * provenance, input properties and per-workload detail. Metric units
  * come from the `--benchmark` file's metric table.
  *
  * A traced run makes the operations of the untraced run of the same
  * seed, recording spans for every other one, and reports how much
  * slower the traced operations ran than the untraced ones of the same
  * kind as the tracing overhead. */
object Main {
  val Workloads: Seq[String] = Seq("search_interactive", "query_join")

  def log(msg: String): Unit = System.err.println(s"graftbench: $msg")

  private def fail(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (argv.contains("--selftest")) sys.exit(if (SelfTest.run()) 0 else 1)
    val graftEnv = sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted
    if (graftEnv.nonEmpty) fail(s"refusing to run with ${graftEnv.mkString(", ")} set: the benchmark measures library defaults")
    val workload = args.getOrElse("workload", fail("--workload is required"))
    if (!Workloads.contains(workload)) fail(s"unknown workload $workload; known: ${Workloads.mkString(", ")}")
    val seed = args.get("seed").flatMap(_.toLongOption).getOrElse(fail("--seed must be an integer"))
    val seconds = args.get("seconds").flatMap(_.toIntOption).filter(_ > 0).getOrElse(fail("--seconds must be a positive integer"))
    val traced = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args.getOrElse("work", fail("--work is required"))).toAbsolutePath
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val units: Map[String, String] = {
      import scala.jdk.CollectionConverters._
      val table = Json.read(new java.io.File(args.getOrElse("benchmark", fail("--benchmark is required"))))
      Seq("end_to_end", "per_layer").flatMap(k => table.path(k).elements().asScala)
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toMap
    }

    if (!SelfTest.run()) fail("self-tests failed")
    val nproc = Runtime.getRuntime.availableProcessors()
    val settings = ListMap(
      "spark.master" -> s"local[$nproc]",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.shuffle.partitions" -> nproc.toString,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "262144",
      "spark.sql.maxPlanStringLength" -> "32768",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.driver.host" -> "localhost",
      "spark.driver.bindAddress" -> "127.0.0.1",
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)
    val builder = SparkSession.builder().appName("graftbench")
    settings.foreach { case (k, v) => if (k == "spark.master") builder.master(v) else builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val exit = try {
      val dir = work.resolve("corpus").toString
      val tracer = new Tracer(spark.sparkContext)
      val bench = new Bench(spark, workload, seed, seconds, dir, tracer)
      val g0 = System.nanoTime()
      val docs = bench.writeCorpus()
      val genS = (System.nanoTime() - g0) / 1e9
      lazy val ref = { val r = new RefIndex; docs.foreach(r.add); r }

      log(f"corpus written in $genS%.1fs")
      val buildS = (1 to Sizes.SetupReps).map { _ =>
        val b = bench.buildIndexes(); log(f"indexes built in $b%.1fs"); b
      }
      val w0 = System.nanoTime()
      bench.warmUp()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(buildS) + warmS
      log(f"warm-up took $warmS%.1fs")

      if (traced) tracer.start()
      val t0 = System.nanoTime()
      val pass = bench.run(traced, ref)
      val passS = (System.nanoTime() - t0) / 1e9
      val (metrics, extra) =
        if (!traced) {
          (pass.e2e ++ ListMap("setup_s" -> setupS), ListMap("index_build_s" -> Stats.median(buildS)))
        } else {
          val storageAfterMb = bench.storageMb()
          val kernels = tracer.recording(true)(bench.kernels())
          tracer.recording(true)(bench.tracedBuild())
          val layers = bench.layerMetrics(kernels, storageAfterMb, Stats.overheadPct(pass.ops))
          tracer.write(work.getParent.resolve("traces").resolve(s"$workload-seed$seed.jsonl"))
          (layers, ListMap("traced_ops" -> pass.ops.count(_._2), "untraced_ops" -> pass.ops.count(!_._2),
            "trace_bookkeeping_pct" -> tracer.overheadNs / 1e9 * 100 / passS,
            "self_time_s" -> ListMap(tracer.selfTimeByLayer.toSeq.sortBy(_._1): _*)))
        }
      val failures = pass.failures
      val attempted = pass.attempted

      val avgLen = docs.map(_.tokens.length.toDouble).sum / docs.length
      val provenance = ListMap(
        "commit" -> args.getOrElse("commit", "unknown"),
        "source_digest" -> args.getOrElse("source-digest", "unknown"),
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "nproc" -> nproc, "clients" -> 1, "loop" -> "closed",
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "session" -> settings,
        "sizes" -> ListMap("docs" -> Sizes.Docs, "vocab" -> Sizes.Vocab, "k" -> Sizes.K,
          "join_left_rows" -> Sizes.JoinLeft, "join_kinds" -> Sizes.JoinKinds,
          "setup_reps" -> Sizes.SetupReps, "warm_searches" -> Sizes.WarmSearches,
          "corpus_files" -> new java.io.File(s"$dir/documents.parquet")
            .listFiles().count(_.getName.endsWith(".parquet"))))
      val inputs = ListMap("doc_count" -> docs.length, "vocab_size" -> Sizes.Vocab,
        "zipf_exponent" -> Sizes.ZipfS, "mean_doc_len" -> avgLen,
        "distinct_terms" -> docs.iterator.flatMap(_.tokens).toSet.size,
        "corpus_sha256" -> SelfTest.digest(new java.io.File(s"$dir/documents.parquet")),
        "corpus_gen_s" -> genS, "session_s" -> sessionS, "setup_build_s" -> buildS, "warmup_s" -> warmS)
      println(Json(ListMap("provenance" -> provenance)))
      println(Json(ListMap("inputs" -> inputs)))
      println(Json(ListMap("detail" -> (pass.detail ++ extra), "failures" -> failures.take(20))))
      failures.foreach(f => System.err.println(s"graftbench: FAILED $f"))
      val result = ListMap("correct" -> failures.isEmpty, "attempted" -> attempted,
        "failed" -> math.min(failures.length, attempted),
        "metrics" -> ListMap(metrics.toSeq.map { case (k, v) =>
          k -> ListMap("value" -> v, "unit" -> units.getOrElse(k, fail(s"metric $k is not in the benchmark file")))
        }: _*))
      spark.stop()
      println(Json(result))
      if (failures.isEmpty) 0 else 1
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        try spark.stop() catch { case _: Throwable => }
        3
    }
    sys.exit(exit)
  }
}
