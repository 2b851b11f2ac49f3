package graft.pipeline

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** URL canonicalization + URL-keyed dedup + domain-level corpus
  * statistics — the first dedup pass and the quality prior of every
  * real Common-Crawl-style pipeline (C4/RefinedWeb domain filtering).
  * Builds on the WARC surface's URL machinery (reference:
  * WarcHTMLResponseRecord.java:84-104,168-200 — target-URI accessors
  * and the href outlink extractor behind
  * [[graft.sources.Warc.htmlResponses]]).
  *
  * Everything here is pure map-side column arithmetic
  * (codegen'd regexp/concat) plus one hash window (dedup) or one
  * domain-keyed aggregation (stats) — the `dedup_exact` cost shape:
  * at 100 TB the normalize is free at scan speed and the only
  * exchanges are keyed on the canonical-url / domain columns.
  */
object Urls {

  /** Build-once registry for the domain edge aggregate
    * ([[domainPageRank]]) — entries bound to the building session;
    * since r12 every lookup re-checks the corpus dir's content
    * signature and rebuilds on change
    * ([[graft.sources.CorpusRegistry]]), so a refreshed directory is
    * never served from a stale frame. */
  private val edgeCache = new graft.sources.CorpusRegistry[
    org.apache.spark.sql.DataFrame](
    graft.sources.Frames.release(_, blocking = true))

  /** Build-once canonicalized pages frame (doc_id, cu, outlinks,
    * dom) — [[domainStats]] aggregates it three ways (docs, out- and
    * in-degrees); without the cut each aggregate re-ran the whole
    * urlTable + normalize regexp pipeline over the corpus. Same
    * staleness guard as [[edgeCache]]. */
  private val pagesCache = new graft.sources.CorpusRegistry[
    org.apache.spark.sql.DataFrame](
    graft.sources.Frames.release(_, blocking = true))

  /** Drops all cached URL-side artifacts (releasing their persists). */
  def clearCaches(): Unit = {
    edgeCache.clear()
    pagesCache.clear()
    warcPagesCache.clear()
  }

  private def cachedPages(spark: SparkSession, dir: String): DataFrame =
    pagesCache.get(dir) {
      // lineage-cut, not bare persist (graft.sources.Frames): the
      // page-level pagerank/hits loops re-plan a query PER ITERATION
      // that references this frame — a leaf keeps those plans flat
      graft.sources.Frames.cutLineage(
        withUrlColumns(spark.read.parquet(s"$dir/documents.parquet"))
          .select(col("doc_id"), normalizeUrl(col("url")).as("cu"), col("outlinks"))
          .withColumn("dom", registeredDomain(hostOf(col("cu")))),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** RFC-3986-flavored URL canonicalization as ONE composed codegen
    * column expression (no UDF): strip the fragment, drop tracking
    * query parameters (utm_*, gclid, fbclid, ref), drop an emptied
    * query, lowercase scheme+authority, strip default ports
    * (http:80, https:443), and trim trailing slashes. The passes are
    * ordered and each is a plain global regexp, so a DuckDB oracle
    * replays them verbatim. Tracker removal is TWO-pass so no bare
    * `&` is ever orphaned (no repair pass is needed, and a literal
    * `&` in the PATH of a query-less URL is left alone): first the
    * run of LEADING trackers collapses back into `?`, then every
    * remaining `[?&]tracker=` (now never followed by a surviving
    * parameter that lost its separator) is dropped outright.
    * Approximation (documented, standard for crawl pipelines): the
    * tracking-param list is fixed. */
  def normalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    // pass 1: one-or-more leading trackers each followed by another
    // parameter fold back into the bare '?' (the `(...)+` eats the
    // whole run in a single match, so no cascade is needed)
    val t1 = regexp_replace(noFrag,
      "\\?(?:(?:utm_[A-Za-z]+|gclid|fbclid|ref)=[^&]*&)+", "?")
    // pass 2: remaining trackers leave WITH their own separator
    // ([?&] is required, so `href=` can never false-match `ref=`);
    // after pass 1 none of these precedes a surviving parameter
    val t2 = regexp_replace(t1,
      "[?&](?:utm_[A-Za-z]+|gclid|fbclid|ref)=[^&]*", "")
    val t3 = regexp_replace(t2, "[?&]+$", "")
    // scheme://authority lowercased; path+query kept verbatim
    val pre = lower(regexp_extract(t3, "^[^:/?#]+://[^/?#]*", 0))
    val rest = regexp_replace(t3, "^[^:/?#]+://[^/?#]*", "")
    val p1 = regexp_replace(pre, "^(http://[^:/]+):80$", "$1")
    val p2 = regexp_replace(p1, "^(https://[^:/]+):443$", "$1")
    regexp_replace(concat(p2, rest), "/+$", "")
  }

  /** Host part of a URL (no port, no userinfo handling — crawl URLs). */
  def hostOf(u: Column): Column =
    regexp_extract(u, "^[^:/?#]+://([^/:?#]+)", 1)

  /** Registered-domain approximation: lowercase, strip a leading
    * `www.`, then keep the last two labels — or the last three when
    * the second-level label is a well-known country-code SLD
    * (co.uk, com.au, ac.jp, ...). A full public-suffix-list match is
    * a data file, not an algorithm; this two-rule heuristic is the
    * standard stand-in and the rule set is explicit in the regex. */
  def registeredDomain(host: Column): Column = {
    val h = regexp_replace(lower(host), "^www\\.", "")
    val ccSld = regexp_extract(h,
      "([^.]+\\.(?:co|com|net|org|ac|gov|edu)\\.[a-z]{2})$", 1)
    val plain = regexp_extract(h, "([^.]+\\.[^.]+)$", 1)
    when(ccSld =!= "", ccSld).when(plain =!= "", plain).otherwise(h)
  }

  /** Deterministic per-document URL surface standing in for the WARC
    * target_uri/outlinks at corpus scale (the WARC fixture is two
    * records; the sf tables are the scale inputs): documents d and
    * d+1 share page p = d/2 on domain ex(p%16).com, the odd doc
    * carrying a DIRTY variant of the even doc's clean URL (uppercase
    * scheme/host, default port, tracking params, fragment, trailing
    * slash — dirt depending on p's parity so both tracker positions
    * are exercised). Outlinks: two per doc into a fixed 1024-page
    * universe, again half-dirty. Everything is doc_id arithmetic, so
    * the DuckDB oracle can state the expected CANONICAL forms
    * directly — the normalizer must hit them character-exact. */
  def urlTable(spark: SparkSession, dir: String): DataFrame =
    withUrlColumns(spark.read.parquet(s"$dir/documents.parquet"))
      .select("doc_id", "url", "outlinks")

  /** The generator as a column transform (adds url + outlinks from
    * doc_id, other columns preserved) — shared by the batch
    * [[urlTable]] and the streaming ingest URL-dedup, so online and
    * batch canonical keys can never drift. */
  private[graft] def withUrlColumns(d: DataFrame): DataFrame = {
    val pg = (col("doc_id") / 2).cast("long")
    val dom = concat(lit("ex"), pg % 16, lit(".com"))
    val idq = when(pg % 2 === 1, concat(lit("?id="), pg)).otherwise(lit(""))
    val clean = concat(lit("http://www."), dom, lit("/p/"), pg, idq)
    val dirty = when(pg % 2 === 0,
      concat(lit("HTTP://WWW.EX"), pg % 16, lit(".COM:80/p/"), pg,
        lit("/?utm_source=feed&ref=rss#frag")))
      .otherwise(
        concat(lit("http://www.EX"), pg % 16, lit(".com/p/"), pg,
          lit("?utm_campaign=x&id="), pg, lit("&fbclid=abc#s")))
    def target(q: Column, dom: Column, dirtyLink: Boolean): Column = {
      val tdom = concat(lit("ex"), dom, lit(".com"))
      if (!dirtyLink) concat(lit("http://www."), tdom, lit("/p/"), q)
      else concat(lit("HTTP://www."), tdom, lit(":80/p/"), q, lit("/?ref=a#x"))
    }
    val q1 = (col("doc_id") * 7 + 3) % 1024
    val q2 = (col("doc_id") * 13 + 5) % 1024
    // the first edge's target domain is QUADRATIC in the page id:
    // squares mod 16 land on {0,1,4,9}, concentrating half the link
    // mass on four domains — a skewed link graph, so the degree and
    // PageRank oracles cannot be satisfied by a uniform answer
    d.withColumn("url", when(col("doc_id") % 2 === 0, clean).otherwise(dirty))
      .withColumn("outlinks", array(
        when(col("doc_id") % 2 === 0, target(q1, (q1 * q1) % 16, dirtyLink = false))
          .otherwise(target(q1, (q1 * q1) % 16, dirtyLink = true)),
        target(q2, q2 % 16, dirtyLink = false)))
  }

  /** Per-canonical-URL dedup — the `dedup_exact` shape keyed on the
    * normalized URL: map-side normalize, one hash window. Output:
    * (doc_id, canonical, canonical_id, group_size). */
  def dedupByUrl(spark: SparkSession, dir: String): DataFrame =
    dedupByUrlFrom(urlTable(spark, dir))

  /** [[dedupByUrl]]'s core over an arbitrary (doc_id, url, ...)
    * frame — the synthetic table and the WARC-extracted URL surface
    * ([[graft.sources.Warc.docUrls]]) share it, so batch and crawl
    * paths can never drift. */
  def dedupByUrlFrom(urls: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("canonical"))
    urls
      .select(col("doc_id"), normalizeUrl(col("url")).as("canonical"))
      .select(col("doc_id"), col("canonical"),
        min(col("doc_id")).over(w).as("canonical_id"),
        count(lit(1)).over(w).as("group_size"))
      .orderBy("doc_id")
  }

  /** Build-once canonicalized pages frame derived from the WARC
    * fixture round trip (crawl-side producer), same shape as
    * [[cachedPages]]: (doc_id, cu, outlinks, dom). */
  private val warcPagesCache =
    new graft.sources.CorpusRegistry[DataFrame](_.unpersist(blocking = true))

  private def cachedWarcPages(spark: SparkSession, dir: String): DataFrame =
    warcPagesCache.get(dir) {
      {
        val fixture = graft.sources.Warc.urlFixtureDir(spark, dir)
        graft.sources.Warc.docUrls(graft.sources.Warc.read(spark, fixture))
          .select(col("doc_id"), col("url"),
            normalizeUrl(col("url")).as("cu"), col("outlinks"))
          .withColumn("dom", registeredDomain(hostOf(col("cu"))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    }

  /** Crawl→curation composition: WARC fixture → [[graft.sources.Warc.read]]
    * → [[graft.sources.Warc.docUrls]] (target-URI + HTML href
    * extraction) → [[normalizeUrl]] → URL dedup. Proves the URL
    * surface composes end-to-end from real WARC bytes with no
    * synthetic bridge; the oracle is `dedup_url`'s, stated from the
    * generator arithmetic. */
  def warcUrlDedup(spark: SparkSession, dir: String): DataFrame =
    dedupByUrlFrom(cachedWarcPages(spark, dir).select("doc_id", "url"))

  /** Crawl→curation composition for the domain prior: the WARC round
    * trip feeds [[domainStatsFrom]]. Oracle = `domain_stats`'s. */
  def warcDomainStats(spark: SparkSession, dir: String): DataFrame =
    domainStatsFrom(cachedWarcPages(spark, dir))

  /** PageRank over the domain outlink graph (Page et al. 1999; the
    * link-authority prior crawl pipelines rank domains by, next to
    * [[domainStats]]' counts): damping 0.85, uniform init, a fixed
    * number of power iterations. Each iteration is ONE equi-join of
    * the rank vector with the (src, dst, cnt) edge aggregate plus one
    * aggregation — the standard Spark PageRank shape; at 100 TB the
    * edge table is domain-keyed and the rank vector is |domains|.
    *
    * Determinism at hash-compare strictness: per-target contributions
    * are collected, SORTED by source domain, and folded in that
    * order (`aggregate` over a sort_array) — a plain float sum over a
    * shuffled group would be partition-order-dependent at the ulp
    * level. The DuckDB oracle replays the same ordered fold.
    *
    * Output: (dom, rank) — ranks sum to 1 (dangling mass exists only
    * if a domain has no outlinks; this generator gives every domain
    * outlinks, so no dangling term is needed). */
  def domainPageRank(spark: SparkSession, dir: String,
      iterations: Int = 3, damping: Double = 0.85): DataFrame =
    pageRank(cachedEdges(spark, dir), iterations, damping)
      .select(col("dom"),
        (round(col("rank") * 1e6, 0) / 1e6).as("rank")).orderBy("dom")

  /** Build-once persisted normalized edge aggregate (src, dst, w) with
    * Σ_dst w = 1 per src (≤ |domains|^2 rows): every power iteration
    * joins it, and without the cut the whole urlTable regexp pipeline
    * re-runs per iteration (measured 3.4s → ~1s at sf0.1). Registered
    * per corpus dir; released by [[clearCaches]] (Bench section
    * teardown calls it). */
  private def cachedEdges(spark: SparkSession, dir: String): DataFrame =
    edgeCache.get(dir) {
      {
        val pages = cachedPages(spark, dir)
        // exact integer edge weights (count of outlinks src -> dst)
        val edges = pages.select(col("dom").as("src"),
          explode(col("outlinks")).as("ol"))
          .withColumn("dst", registeredDomain(hostOf(normalizeUrl(col("ol")))))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
        val outDeg = edges.groupBy(col("src")).agg(sum(col("cnt")).as("out"))
        graft.sources.Frames.cutLineage(
          edges.join(outDeg, Seq("src"))
            .select(col("src"), col("dst"), col("cnt"),
              (col("cnt").cast("double") / col("out")).as("w")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over the domain
    * outlink graph — the other classic link-authority prior next to
    * PageRank (crawl pipelines use the hub side to find link farms):
    * a_k = L1-normalize(Aᵀ h_{k-1}), h_k = L1-normalize(A a_k), fixed
    * iterations from a uniform hub vector, edge weights = link
    * counts. Each half-step is one equi-join + per-node ordered fold;
    * each normalization one |nodes|-bounded ordered-fold total (same
    * hash-exactness discipline as [[pageRank]]); per-step
    * localCheckpoint keeps the lineage flat. Output:
    * (dom, hub, authority). */
  def domainHits(spark: SparkSession, dir: String,
      iterations: Int = 3): DataFrame =
    hits(cachedEdges(spark, dir), iterations).orderBy("dom")

  /** HITS over the PAGE-level (canonical-URL) graph — the granularity
    * link-farm detection actually runs at (a farm is a page cluster,
    * not a domain): same half-step arithmetic as [[domainHits]] on
    * [[cachedPageEdges]]'s count column. Output:
    * (url, hub, authority). */
  def pageHits(spark: SparkSession, dir: String,
      iterations: Int = 3): DataFrame =
    hits(cachedPageEdges(spark, dir), iterations)
      .withColumnRenamed("dom", "url").orderBy("url")

  /** The HITS core over a weighted edge frame carrying integer link
    * counts (src, dst, cnt, ...). */
  private def hits(e: DataFrame, iterations: Int): DataFrame = {
    // LAZY checkpoints throughout the iteration (r16): the lineage
    // cut is what matters (flat plans per half-step); eager
    // materialization added one standalone job per checkpoint, and
    // each half-step already has an unavoidable action (the L1
    // normalization fold) that materializes the blocks in the same
    // job — measured ~128 jobs/run on the converged page entries,
    // mostly scheduling latency, before the fusion.
    // HONEST SIZES (r17, see [[pageRankUntil]]): doms and each
    // half-step's raw vector carry a persist over the lazy
    // checkpoint, materialized by the SAME normalization fold — the
    // next half-step then plans against actual cached sizes
    // (broadcast-sized at bench SFs, honest-large at web scale)
    // instead of the frozen pre-materialization estimates that
    // forced every join onto its own exchange + AQE stage job.
    val doms = e.select(col("src").as("dom"))
      .union(e.select(col("dst").as("dom"))).distinct()
      .localCheckpoint(false).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDoms = doms.count()
    val cachedRaws = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def foldSum(df: DataFrame, valueCol: String): Double =
      orderedGlobalSum(df.select(col("dom"), col(valueCol).as("v")))
    // one half-step: value(dom) = Σ_edges cnt * other(otherEnd),
    // folded in other-end order, missing nodes at 0, L1-normalized
    def halfStep(vec: DataFrame, joinEnd: String, outEnd: String): DataFrame = {
      val contrib = orderedKeyedSum(
        e.join(
            vec.withColumnRenamed("dom", joinEnd).withColumnRenamed("v", "vin"),
            Seq(joinEnd))
          .select(col(outEnd).as("dom"), col(joinEnd).as("other"),
            (col("cnt").cast("double") * col("vin")).as("c")),
        "dom", "other", "c", "v")
      val raw = doms.join(contrib, Seq("dom"), "left")
        .select(col("dom"), coalesce(col("v"), lit(0.0)).as("v"))
        .localCheckpoint(false) // materialized by the fold below
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cachedRaws += raw
      val total = foldSum(raw, "v")
      // the normalized vector is a literal-scalar division over the
      // ALREADY-cached raw frame — checkpointing it again would spend
      // a third job per half-step materializing a projection; every
      // downstream reference re-reads the cache and re-applies one
      // division, never the contrib shuffle
      raw.select(col("dom"), (col("v") / lit(total)).as("v"))
    }
    var hubs = doms.select(col("dom"), lit(1.0 / nDoms).as("v")).localCheckpoint(false)
    var auths = hubs
    for (_ <- 1 to iterations) {
      auths = halfStep(hubs, "src", "dst") // authority: weighted in-hub mass
      hubs = halfStep(auths, "dst", "src") // hub: weighted out-authority mass
    }
    // superseded half-step caches drop here (cache only — checkpoint
    // blocks stay for the final join); the LAST two vectors stay
    // cached for the caller's hub⋈authority action
    doms.unpersist(blocking = false)
    cachedRaws.dropRight(2).foreach(_.unpersist(blocking = false))
    hubs.withColumnRenamed("v", "hv")
      .join(auths.withColumnRenamed("v", "av"), Seq("dom"))
      .select(col("dom"),
        (round(col("hv") * 1e6, 0) / 1e6).as("hub"),
        (round(col("av") * 1e6, 0) / 1e6).as("authority"))
  }

  /** PageRank over the PAGE-level (canonical-URL) link graph — the
    * fine-grained authority prior next to [[domainPageRank]]'s
    * domain rollup: nodes are canonical URLs (|pages|, not
    * |domains|), edges aggregate each page's document outlinks after
    * canonicalization. Link targets outside the crawled page set
    * join the node set as DANGLING nodes (no outlinks; their mass
    * leaks — the removed-dangling convention [[pageRank]] documents).
    * Same per-iteration shape and determinism discipline as the
    * domain variant; at 100 TB the rank vector is |URLs| — still one
    * keyed join + one agg per iteration. Output: (url, rank). */
  def pagePageRank(spark: SparkSession, dir: String,
      iterations: Int = 3, damping: Double = 0.85): DataFrame =
    pageRank(cachedPageEdges(spark, dir), iterations, damping)
      .select(col("dom").as("url"),
        (round(col("rank") * 1e6, 0) / 1e6).as("rank")).orderBy("url")

  /** [[domainPageRankConverged]] on the PAGE graph — the convergence
    * stop matters more here: the |URLs|-node graph mixes slower than
    * the 16-domain rollup (7-11 iterations at the test SFs vs 4), and
    * a fixed count would either waste iterations or stop early.
    * Output: (url, rank, n_iters). */
  def pagePageRankConverged(spark: SparkSession, dir: String,
      tol: Double = 1e-6, maxIter: Int = 12,
      damping: Double = 0.85): DataFrame = {
    val (r, iters) = pageRankUntil(cachedPageEdges(spark, dir), tol, maxIter,
      damping, seeds = None)
    r.select(col("dom").as("url"), (round(col("rank") * 1e6, 0) / 1e6).as("rank"),
      lit(iters).as("n_iters")).orderBy("url")
  }

  /** Personalized (seeded-trust) PageRank on the PAGE graph — where
    * TrustRank seeding actually runs in production (Gyöngyi et al.
    * 2004 seed hand-vetted PAGES, not domain rollups): teleport
    * concentrates uniformly on the seed canonical URLs, rank init =
    * teleport vector, convergence stop as in
    * [[pagePageRankConverged]]. Default seeds are two canonical
    * URLs the generator arithmetic emits at every SF (pg 0 and 1).
    * Output: (url, rank, n_iters). */
  def pagePageRankPersonalized(spark: SparkSession, dir: String,
      seeds: Seq[String] =
        Seq("http://www.ex0.com/p/0", "http://www.ex1.com/p/1?id=1"),
      tol: Double = 1e-6, maxIter: Int = 12,
      damping: Double = 0.85): DataFrame = {
    val (r, iters) = pageRankUntil(cachedPageEdges(spark, dir), tol, maxIter,
      damping, seeds = Some(seeds))
    r.select(col("dom").as("url"), (round(col("rank") * 1e6, 0) / 1e6).as("rank"),
      lit(iters).as("n_iters")).orderBy("url")
  }

  /** Build-once normalized page-level edge aggregate (the page
    * analog of [[cachedEdges]]; same registry and release path). */
  private def cachedPageEdges(spark: SparkSession, dir: String): DataFrame =
    edgeCache.get(dir, "pages") {
      {
        val pages = cachedPages(spark, dir)
        val edges = pages
          .select(col("cu").as("src"), explode(col("outlinks")).as("ol"))
          .withColumn("dst", normalizeUrl(col("ol")))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
        val outDeg = edges.groupBy(col("src")).agg(sum(col("cnt")).as("out"))
        graft.sources.Frames.cutLineage(
          edges.join(outDeg, Seq("src"))
            .select(col("src"), col("dst"), col("cnt"),
              (col("cnt").cast("double") / col("out")).as("w")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    }

  /** PageRank with an L1-delta convergence stop instead of a fixed
    * iteration count: iterate until Σ|r_k − r_{k−1}| < tol (folded in
    * domain order — hash-exact parity with the oracle replay), capped
    * at maxIter. One extra |domains|-bounded aggregation per
    * iteration. Output: (dom, rank, n_iters). */
  def domainPageRankConverged(spark: SparkSession, dir: String,
      tol: Double = 1e-6, maxIter: Int = 8,
      damping: Double = 0.85): DataFrame = {
    val (r, iters) = pageRankUntil(cachedEdges(spark, dir), tol, maxIter,
      damping, seeds = None)
    r.select(col("dom"), (round(col("rank") * 1e6, 0) / 1e6).as("rank"),
      lit(iters).as("n_iters")).orderBy("dom")
  }

  /** Personalized (seeded-trust) PageRank — the TrustRank-style spam
    * demotion prior: the teleport vector concentrates uniformly on the
    * seed domains instead of all domains (Gyöngyi et al. 2004), rank
    * init = teleport vector, convergence stop as in
    * [[domainPageRankConverged]]. Output: (dom, rank, n_iters). */
  def domainPageRankPersonalized(spark: SparkSession, dir: String,
      seeds: Seq[String] = Seq("ex0.com", "ex1.com"),
      tol: Double = 1e-6, maxIter: Int = 8,
      damping: Double = 0.85): DataFrame = {
    val (r, iters) = pageRankUntil(cachedEdges(spark, dir), tol, maxIter,
      damping, seeds = Some(seeds))
    r.select(col("dom"), (round(col("rank") * 1e6, 0) / 1e6).as("rank"),
      lit(iters).as("n_iters")).orderBy("dom")
  }

  /** The convergence-stopped power-iteration core (see [[pageRank]]
    * for the per-iteration shape and determinism discipline). Each
    * iteration localCheckpoints the |domains|-row rank vector (flat
    * lineage, storage auto-released — the pointer-jumping pattern)
    * and pays ONE extra bounded aggregation for the L1 delta.
    * `seeds` switches the teleport vector from uniform to
    * uniform-over-seeds (personalized PageRank); rank init = the
    * teleport vector in both cases... for the uniform case that is
    * the same 1/N init [[pageRank]] uses. */
  private[graft] def pageRankUntil(e: DataFrame, tol: Double, maxIter: Int,
      damping: Double, seeds: Option[Seq[String]]): (DataFrame, Int) = {
    // LAZY checkpoints (see [[hits]]): each iteration's delta fold is
    // the action that materializes the iteration's rank blocks — one
    // job per iteration instead of two.
    // HONEST SIZES (r17): a bare lazy-checkpoint LogicalRDD freezes
    // the PRE-materialization size estimate (garbage-large for
    // join/aggregate outputs — the same stats trap Frames.cutLineage
    // documents), so every per-iteration join planned as sort-merge/
    // shuffled-hash even when the rank vector is tiny, and each of
    // those exchanges ran as its own sequential AQE stage job
    // (measured ~115 jobs/run, ~60ms fixed cost each, on the page
    // entries at sf0.1). Layering a persist over the lazy checkpoint
    // — materialized by the SAME delta-fold action, no extra job —
    // lets the next iteration plan against the ACTUAL cached size:
    // a |V|-small vector broadcasts into the edge join and the
    // doms/contrib joins, while a web-scale vector reports
    // honest-large and keeps the shuffle plans. Join strategy cannot
    // change values (the folds are content-defined), so ranks and
    // n_iters stay bit-identical. The superseded iteration's cache
    // is dropped once its successor lands (checkpoint blocks stay —
    // a previously returned frame must remain executable).
    val doms = e.select(col("src").as("dom"))
      .union(e.select(col("dst").as("dom"))).distinct()
      .localCheckpoint(false).persist(StorageLevel.MEMORY_AND_DISK)
    val nDoms = doms.count()
    val pCol: Column = seeds match {
      case Some(ss) =>
        when(col("dom").isInCollection(ss), lit(1.0 / ss.size))
          .otherwise(lit(0.0))
      case None => lit(1.0 / nDoms)
    }
    var rank = doms.select(col("dom"), pCol.as("rank")).localCheckpoint(false)
    var it = 0
    var delta = Double.MaxValue
    var prevCached: DataFrame = null
    while (it < maxIter && delta >= tol) {
      it += 1
      val contrib = orderedKeyedSum(
        e.join(
            rank.withColumnRenamed("dom", "src").withColumnRenamed("rank", "rank_s"),
            Seq("src"))
          .select(col("dst").as("dom"), col("src"),
            (col("rank_s") * col("w")).as("c")),
        "dom", "src", "c", "in_mass")
      // carry the PREVIOUS rank into the checkpointed frame: the
      // delta action then folds over one cached scan instead of
      // re-joining two |V| vectors — one fewer exchange+join job per
      // iteration, which is pure fixed latency at bench SFs and a
      // full extra shuffle at web scale. The extra join here rides
      // the same per-iteration job that materializes `next`.
      // The rank vector IS the node set (invariant: rank_0 is built
      // over doms and every iteration left-joins onto it), so the
      // old doms⋈contrib⋈rank three-way collapses to rank⋈contrib —
      // one join (and its exchange/broadcast-build job) fewer per
      // iteration, identical rows.
      val next = rank.withColumnRenamed("rank", "rank_o")
        .join(contrib, Seq("dom"), "left")
        .select(col("dom"),
          (lit(1.0 - damping) * pCol +
            lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("rank"),
          col("rank_o"))
        .localCheckpoint(false) // materialized by the delta fold below
        .persist(StorageLevel.MEMORY_AND_DISK)
      delta = orderedGlobalSum(
        next.select(col("dom"), abs(col("rank") - col("rank_o")).as("v")))
      if (prevCached != null) prevCached.unpersist(blocking = false)
      prevCached = next
      rank = next.select(col("dom"), col("rank"))
    }
    // cache releases only — the checkpoint blocks behind the returned
    // rank stay alive (the caller's action reads them directly)
    doms.unpersist(blocking = false)
    if (prevCached != null) prevCached.unpersist(blocking = false)
    (rank, it)
  }

  /** Deterministic per-KEY ordered sum of a (key, sub, v) frame
    * without an in-degree-sized single-buffer array: fold per
    * (key, md5-prefix bucket of sub) in sub order, then fold the
    * ≤256 bucket sums per key in bucket order. Both levels are
    * content-defined (the bucket of a contributor depends only on
    * the contributor), so a DuckDB oracle replays the association
    * bit-exactly and the result is partitioning-invariant — and no
    * aggregation buffer ever holds more than ONE bucket's worth of
    * structs even for a web-scale hub target every crawled page
    * links (the in-degree-unbounded `sort_array(collect_list(...))`
    * per target this replaces was the repo's last task-OOM hazard;
    * the reference's own discipline is bounded combiners everywhere,
    * SearchableRDD.scala:354-362). The bucket split also shears the
    * hub key across 256 shuffle partitions at level 1, so the skew
    * does not concentrate on one reducer. */
  private[graft] def orderedKeyedSum(kv: DataFrame, key: String,
      sub: String, v: String, out: String): DataFrame =
    // Two exchanges by design: partitioning level 1 by (key, _bk)
    // shears a web-scale hub key across 256 reducers (skew + memory
    // protection); a single exchange by key alone would both fold
    // levels into one stage (one fewer AQE job per power iteration)
    // and concentrate a hot target's whole in-degree on one task —
    // measured the job saving at sf0.1 (~60ms/iteration) and
    // rejected it as a scale trade (r17).
    kv.groupBy(col(key),
        substring(md5(col(sub).cast("binary")), 1, 2).as("_bk"))
      .agg(aggregate(
        sort_array(collect_list(struct(col(sub), col(v)))),
        lit(0.0), (a, x) => a + x.getField(v)).as("_bs"))
      .groupBy(col(key))
      .agg(aggregate(
        sort_array(collect_list(struct(col("_bk"), col("_bs")))),
        lit(0.0), (a, x) => a + x.getField("_bs")).as(out))

  /** Deterministic GLOBAL sum of a (dom, v) frame without a |V|-sized
    * single-task array: fold per md5-prefix bucket in dom order, then
    * fold the 256 bucket sums in bucket order — both levels are
    * content-defined, so a DuckDB oracle replays them bit-exactly,
    * and no task ever materializes more than one bucket. (A plain
    * sort_array(collect_list(...)) over the whole node set — the
    * previous shape — is a scale-killer at |URLs| nodes.) */
  private[graft] def orderedGlobalSum(dv: DataFrame): Double = {
    // level 2 folds the ≤256 bucket sums on the DRIVER, in bucket
    // order — the collect is bounded by the bucket alphabet at ANY
    // corpus size (this is not a driver-loop-over-data shape), and
    // it removes the single-row second aggregation exchange that
    // cost one more sequential AQE stage job per power iteration
    // (r17; the iterative entries pay this fold every iteration).
    // Arithmetic identical to the in-plan sort_array fold it
    // replaces: buckets are distinct, so ordering by bucket and
    // summing left-to-right reproduces the fold bit-exactly. A null
    // dom hashes to a null bucket, which sorts FIRST, as sort_array
    // placed it.
    val buckets = dv
      .groupBy(substring(md5(col("dom").cast("binary")), 1, 2).as("b"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("dom"), col("v")))),
        lit(0.0), (a, x) => a + x.getField("v")).as("s"))
      .collect()
    buckets.sortBy(r => Option(r.getString(0))).foldLeft(0.0)((a, r) => a + r.getDouble(1))
  }

  /** The power-iteration core over a normalized edge frame
    * (src, dst, w) with Σ_dst w(src, dst) = 1 per src. The rank
    * vector is defined over EVERY node in the graph (sources ∪
    * destinations) and is rebuilt by LEFT-joining that node set with
    * the incoming contributions each iteration — a groupBy(dst) alone
    * would silently drop a node with outlinks but no inlinks after
    * iteration 1 (no base-term row), zeroing its outgoing mass too.
    * Per-target contributions fold via [[orderedKeyedSum]]'s
    * two-level md5-bucketed ordered fold (hash-exact determinism
    * with BOUNDED per-task state — a web-scale hub target never
    * materializes its full in-link array in one buffer). Dangling
    * nodes (no outlinks) leak their mass, the "removed dangling
    * node" convention. */
  private[graft] def pageRank(e: DataFrame, iterations: Int,
      damping: Double): DataFrame = {
    // localCheckpoint (the pointer-jumping discipline): doms and each
    // iteration's rank are referenced by every later iteration, and
    // without the cut the final action re-evaluates the shared
    // subtrees once per reference — immaterial for 16 domains, but
    // the page-level graph (|URLs| nodes) re-ran its distinct+joins
    // ~2x per iteration (measured 2.4s → 1.3s at sf0.1)
    val doms = e.select(col("src").as("dom"))
      .union(e.select(col("dst").as("dom"))).distinct().localCheckpoint(false)
    val nDoms = doms.count()
    val base = (1.0 - damping) / nDoms
    var rank = doms.withColumn("rank", lit(1.0 / nDoms))
    for (_ <- 1 to iterations) {
      val contrib = orderedKeyedSum(
        e.join(rank.withColumnRenamed("dom", "src"), Seq("src"))
          .select(col("dst").as("dom"), col("src"),
            (col("rank") * col("w")).as("c")),
        "dom", "src", "c", "in_mass")
      // LAZY checkpoint: the lineage still cuts (flat per-iteration
      // plans), but with no convergence action in this fixed-count
      // loop the caller's ONE final action materializes the whole
      // chain — iterations eager-checkpointing here paid one
      // standalone job each for nothing
      rank = doms.join(contrib, Seq("dom"), "left")
        .select(col("dom"),
          (lit(base) + lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("rank"))
        .localCheckpoint(false)
    }
    rank
  }

  /** Domain-level corpus statistics — the quality prior every
    * curation pipeline joins against (domain blocklists, C4 /
    * RefinedWeb style): per registered domain the doc count, the
    * distinct-canonical-page count, the duplicate rate, and the
    * outlink graph degrees (edges counted AFTER canonicalization,
    * by source-page and target-url registered domain). One explode +
    * three domain-keyed aggregations over 16-row keys, all reading
    * the ONE persisted canonicalized pages frame ([[cachedPages]]). */
  def domainStats(spark: SparkSession, dir: String): DataFrame =
    domainStatsFrom(cachedPages(spark, dir))

  /** [[domainStats]]' aggregation core over an arbitrary canonical
    * pages frame (doc_id, cu, outlinks, dom) — shared with the WARC
    * round-trip path ([[warcDomainStats]]). */
  def domainStatsFrom(pages: DataFrame): DataFrame = {
    val docAgg = pages.groupBy(col("dom"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cu")).as("n_pages"))
    val edges = pages.select(col("dom").as("src_dom"),
      explode(col("outlinks")).as("ol"))
      .withColumn("dst_dom", registeredDomain(hostOf(normalizeUrl(col("ol")))))
    val outAgg = edges.groupBy(col("src_dom").as("dom"))
      .agg(count(lit(1)).as("out_degree"))
    val inAgg = edges.groupBy(col("dst_dom").as("dom"))
      .agg(count(lit(1)).as("in_degree"))
    docAgg.join(outAgg, Seq("dom"), "left").join(inAgg, Seq("dom"), "left")
      .na.fill(0L, Seq("out_degree", "in_degree"))
      .select(col("dom"), col("n_docs"), col("n_pages"),
        (round((lit(1.0) - col("n_pages").cast("double") / col("n_docs")) * 1e4, 0) / 1e4)
          .as("dup_rate"),
        col("out_degree"), col("in_degree"))
      .orderBy("dom")
  }
}
