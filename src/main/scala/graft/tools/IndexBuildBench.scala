package graft.tools

/** Cold-build scaling measurement, the companion to [[ScaleCorpus]]:
  * the bench subset's best-of-2 minimum amortizes the build-once
  * registries away (the second run serves every probe from the warm
  * cohort cache), so the INDEX BUILD cost — the part of the engine
  * that is linear in corpus bytes by design — never shows up in the
  * per-entry scaling table. This main times it explicitly: a cold
  * default search-index build (tokenize → postings → stats persist,
  * forced through one probe) and a cold IVF-PQ train+encode, at the
  * given corpus dir. Prints ONE JSON line.
  *
  * Usage: runMain graft.tools.IndexBuildBench <sfDir>
  */
object IndexBuildBench {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: IndexBuildBench <sfDir>")
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup outside the timed region (codegen infra, parquet reader,
    // JIT) — same rationale as Bench's
    locally {
      import org.apache.spark.sql.functions.{col, sum}
      spark.range(1 << 20).agg(sum(col("id"))).write.format("noop")
        .mode("overwrite").save()
      spark.read.parquet(s"$dir/documents.parquet").limit(1).collect()
    }

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    import graft.dsl.builders._
    // cold search-index build + one probe to force every lazy stage
    val searchBuild = timed {
      graft.search.SearchQueries.clearCache()
      graft.search.SearchQueries.indexFor(spark, dir)
        .search("text" matchTerm "data", 5).collect()
    }
    // warm probe for contrast: the same query against the now-cached
    // index isolates build cost = cold - warm
    val warmProbe = timed {
      graft.search.SearchQueries.indexFor(spark, dir)
        .search("text" matchTerm "data", 5).collect()
    }
    // cold IVF-PQ train + encode + one top-k probe
    val ivfPqBuild = timed {
      graft.pipeline.Similarity.clearCaches()
      graft.pipeline.Similarity.ivfPqTopK(spark, dir, nQueries = 1, k = 10)
        .collect()
    }
    val warmIvfPq = timed {
      graft.pipeline.Similarity.ivfPqTopK(spark, dir, nQueries = 1, k = 10)
        .collect()
    }
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    spark.stop()
    def f(v: Double) = BigDecimal(v).setScale(3,
      BigDecimal.RoundingMode.HALF_UP).toString
    println(s"""{"metric":"index_build","dir":"$dir","n_docs":$nDocs,""" +
      s""""n_vecs":$nVecs,"search_build_sec":${f(searchBuild)},""" +
      s""""search_warm_probe_sec":${f(warmProbe)},""" +
      s""""ivfpq_build_sec":${f(ivfPqBuild)},""" +
      s""""ivfpq_warm_probe_sec":${f(warmIvfPq)}}""")
    System.out.flush()
  }
}
