package graft.search

import graft.TestSpark
import graft.dsl.builders._
import graft.dsl.{Boost, DisMax, MatchPhrase, MatchTerm, Parsed}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class IndexVariantsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val corpus = Seq(
    (1L, "alpha beta gamma delta"),
    (2L, "alpha alpha beta"),
    (3L, "gamma delta epsilon"),
    (4L, "zeta eta theta alpha")
  ).toDF("doc_id", "text")

  test("broadcast layout returns identical batch results to decoupled") {
    val qs = Seq((0L, "text", Seq("alpha", "gamma"), 1)).toDF("qid", "field", "terms", "min_match")
    val dec = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val bc = SearchIndex.build(corpus,
      IndexSpec("doc_id", Seq("text"), layout = BroadcastIndex))
    val a = dec.batchSearch(qs, 10).select("qid", "rank", "key", "score")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val b = bc.batchSearch(qs, 10).select("qid", "rank", "key", "score")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a.map(x => (x._1, x._2, x._3)).toSeq == b.map(x => (x._1, x._2, x._3)).toSeq)
    a.zip(b).foreach { case (x, y) => assert(math.abs(x._4 - y._4) < 1e-9) }
    dec.unpersist(); bc.unpersist()
  }

  test("no-positions index: flat queries match the positional index, phrases throw") {
    val pos = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val nopos = SearchIndex.build(corpus,
      IndexSpec("doc_id", Seq("text"), storePositions = false))
    // the stored corpus really dropped the token arrays
    assert(!nopos.docs.columns.contains(SearchIndex.tokensColName("text")))
    assert(pos.docs.columns.contains(SearchIndex.tokensColName("text")))
    // flat term query: identical hits and scores via the postings probe
    val q = "text".matchMin(1, termSet("alpha", "gamma"))
    val a = pos.search(q, 10).select("doc_id", "score").as[(Long, Double)].collect().toMap
    val b = nopos.search(q, 10).select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (id, s) => assert(math.abs(s - b(id)) < 1e-12) }
    // filters still apply (docs carry the payload columns)
    val f = nopos.search(("text" matchTerm "alpha") && ("doc_id" lt 3L), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(f == Set(1L, 2L))
    // doc counts survive without token arrays
    val counts = nopos.getDocumentCounts.as[(String, Long)].collect().toMap
    assert(counts("text") == 4L)
    // positional semantics are gone
    intercept[UnsupportedOperationException] {
      nopos.search("text" matchPhrase "alpha beta", 5).collect()
    }
    pos.unpersist(); nopos.unpersist()
  }

  test("no-positions index survives save/load; positional reload fails fast") {
    val spec0 = IndexSpec("doc_id", Seq("text"), storePositions = false)
    val nopos = SearchIndex.build(corpus, spec0)
    val dir = java.nio.file.Files.createTempDirectory("nopos_idx").toString
    nopos.save(dir)
    val reloaded = SearchIndex.load(spark, dir, spec0)
    val q = "text".matchMin(1, termSet("alpha", "gamma"))
    val a = nopos.search(q, 10).select("doc_id", "score").as[(Long, Double)].collect().toMap
    val b = reloaded.search(q, 10).select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(a == b)
    // loading token-free artifacts under a positional spec must not
    // defer the failure to first query
    val err = intercept[IllegalArgumentException] {
      SearchIndex.load(spark, dir, IndexSpec("doc_id", Seq("text")))
    }
    assert(err.getMessage.contains("storePositions"))
    nopos.unpersist(); reloaded.unpersist()
  }

  test("queryJoinPhrase equals the driver-collected DSL phrase join") {
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val left = idx.docs
      .where(size(col(SearchIndex.tokensColName("text"))) >= 2)
      .select(col("doc_id"), concat_ws(" ",
        slice(col(SearchIndex.tokensColName("text")), 1, 2)).as("phrase"))
    val dataDriven = idx
      .queryJoinPhrase(left, "doc_id", col("phrase"), "text", 5, excludeSelf = true)
      .select("qid", "key", "score").as[(Long, Long, Double)].collect()
      .map { case (q, h, s) => (q, h) -> s }.toMap
    val scanPath = ScanJoinReference(idx, left, "doc_id",
        r => MatchPhrase("text", r.getAs[String]("phrase")), 5, excludeSelf = true)
      .select(col("doc_id"), col("key"), col("score"))
      .as[(Long, Long, Double)].collect()
      .map { case (q, h, s) => (q, h) -> s }.toMap
    assert(dataDriven.keySet == scanPath.keySet)
    assert(dataDriven.nonEmpty)
    dataDriven.foreach { case (kk, s) => assert(math.abs(s - scanPath(kk)) < 1e-9) }
    idx.unpersist()
  }

  test("queryJoinBool: role semantics, SHOULD-only rule, numeric filter, flat equivalence") {
    val docs = Seq(
      (1L, "alpha beta gamma", 10L),
      (2L, "alpha beta delta", 20L),
      (3L, "alpha gamma gamma", 30L),
      (4L, "beta gamma delta", 40L)
    ).toDF("doc_id", "text", "weight")
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text")))
    def run(req: Seq[String], opt: Seq[String], exc: Seq[String],
        minOpt: Int = 0,
        attr: Option[(String, Column, Column)] = None): Set[Long] = {
      val left = Seq(0L).toDF("qid")
        .select(col("qid"), typedLit(req).as("r"), typedLit(opt).as("o"), typedLit(exc).as("e"))
      idx.queryJoinBool(left, "qid", col("r"), col("o"), col("e"), "text", 10,
          minOptMatch = minOpt, attrFilter = attr)
        .select("key").as[Long].collect().toSet
    }
    // MUST: every required term
    assert(run(Seq("alpha", "beta"), Nil, Nil) == Set(1L, 2L))
    // MUST_NOT: excluded kills, and never scores
    assert(run(Seq("alpha"), Nil, Seq("gamma")) == Set(2L))
    // SHOULD-only: at least one optional must match (Lucene rule)
    assert(run(Nil, Seq("delta", "gamma"), Nil) == Set(1L, 2L, 3L, 4L))
    // minOptMatch raises the SHOULD bar
    assert(run(Nil, Seq("delta", "gamma"), Nil, minOpt = 2) == Set(4L))
    // unknown required term matches nothing (df=0 path, no crash)
    assert(run(Seq("nosuchterm"), Nil, Nil) == Set.empty[Long])
    // numeric range filter: weight in [15, 35]
    assert(run(Seq("alpha"), Nil, Nil,
      attr = Some(("weight", lit(15L), lit(35L)))) == Set(2L, 3L))
    // null bounds are unbounded
    assert(run(Seq("alpha"), Nil, Nil,
      attr = Some(("weight", lit(null).cast("long"), lit(null).cast("long")))) ==
      Set(1L, 2L, 3L))
    // optional terms ADD to the score: doc 1 (alpha+beta+gamma, dl=3)
    // outranks doc 2 (alpha+beta, dl=3) when gamma is optional
    val left2 = Seq(7L).toDF("qid").select(col("qid"),
      typedLit(Seq("alpha")).as("r"), typedLit(Seq("gamma")).as("o"),
      typedLit(Seq.empty[String]).as("e"))
    val ranked = idx.queryJoinBool(left2, "qid", col("r"), col("o"), col("e"), "text", 10)
      .orderBy("rank").select("key").as[Long].collect().toSeq
    assert(ranked.head == 3L || ranked.head == 1L) // gamma matchers first
    assert(ranked.indexOf(2L) > ranked.indexOf(1L))
    // flat equivalence: required-only boolean == lightQueryJoin with
    // minMatch=0 (all terms), scores identical
    val leftF = Seq((0L, Seq("alpha", "beta"))).toDF("qid", "terms")
    val boolSide = idx.queryJoinBool(
        leftF.select(col("qid"), col("terms").as("r"),
          typedLit(Seq.empty[String]).as("o"), typedLit(Seq.empty[String]).as("e")),
        "qid", col("r"), col("o"), col("e"), "text", 10)
      .select("key", "score").as[(Long, Double)].collect().toMap
    val flatSide = idx.lightQueryJoin(leftF, "qid", col("terms"), "text", 10, minMatch = 0)
      .select("key", "score").as[(Long, Double)].collect().toMap
    assert(boolSide.keySet == flatSide.keySet && boolSide.nonEmpty)
    boolSide.foreach { case (kk, s) => assert(math.abs(s - flatSide(kk)) < 1e-9) }
    idx.unpersist()
  }

  test("moreLikeThis: tf-idf term selection with term tie-break, flat equivalence") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta delta"),
      (3L, "alpha gamma gamma"),
      (4L, "beta gamma delta")
    ).toDF("doc_id", "text")
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text")))
    // doc 1's terms all have df=3 -> equal tf x idf scores; the
    // deterministic tie-break keeps the UTF-8-smallest terms, so
    // topTerms=2 selects exactly {alpha, beta}
    val left = Seq(1L).toDF("doc_id")
    val mlt = idx.moreLikeThis(left, "doc_id", "text", topTerms = 2, k = 10)
      .select("key", "score").as[(Long, Double)].collect().toMap
    val flat = idx.lightQueryJoin(
        Seq((1L, Seq("alpha", "beta"))).toDF("qid", "terms"),
        "qid", col("terms"), "text", 10, minMatch = 1, excludeSelf = true)
      .select("key", "score").as[(Long, Double)].collect().toMap
    assert(mlt.keySet == flat.keySet && mlt.nonEmpty)
    mlt.foreach { case (kk, s) => assert(math.abs(s - flat(kk)) < 1e-9) }
    assert(!mlt.contains(1L)) // self excluded
    // higher-tf rare terms outrank common ones: doc 3's doubled gamma
    // (tf=2) beats its single alpha, so topTerms=1 queries gamma and
    // doc 2 (no gamma) is not a hit
    val mlt3 = idx.moreLikeThis(Seq(3L).toDF("doc_id"), "doc_id", "text",
        topTerms = 1, k = 10)
      .select("key").as[Long].collect().toSet
    assert(mlt3 == Set(1L, 4L))
    idx.unpersist()
  }

  test("incremental add/remove equals a fresh build of the survivor corpus") {
    val all = Seq(
      (1L, "alpha beta gamma", "en"),
      (2L, "alpha beta delta", "en"),
      (3L, "alpha gamma gamma", "fr"),
      (4L, "beta gamma delta", "en"),
      (5L, "delta delta epsilon", "fr"),
      (6L, "alpha epsilon zeta", "en"),
      (7L, "zeta zeta beta", "fr"),
      (8L, "gamma epsilon alpha beta", "en")
    ).toDF("doc_id", "text", "lang")
    val spec = IndexSpec("doc_id", Seq("text"), keywordFields = Seq("lang"))
    val inc = SearchIndex
      .build(all.where(col("doc_id") <= 5), spec)
      .addDocuments(all.where(col("doc_id") > 5))
      .removeDocuments(Seq(2L, 7L).toDF("doc_id"))
    val fresh = SearchIndex.build(
      all.where(col("doc_id") =!= 2 && col("doc_id") =!= 7), spec)
    // identical term statistics (df AND cf; removed-only terms gone)
    val si = inc.stats.select("field", "term", "df", "cf")
      .as[(String, String, Long, Long)].collect().toSet
    val sf = fresh.stats.select("field", "term", "df", "cf")
      .as[(String, String, Long, Long)].collect().toSet
    assert(si == sf)
    // identical field stats — the exact-integer dl bookkeeping must
    // reproduce the fresh aggregation bit-for-bit, not approximately
    assert(inc.fieldStats == fresh.fieldStats)
    // identical search results + scores on a query touching added,
    // removed and surviving docs
    for (q <- Seq("text" matchAny termSet("alpha", "zeta"),
        "text".matchMin(2, termSet("alpha", "beta", "gamma")))) {
      val a = inc.search(q, 10).select("doc_id", "score")
        .as[(Long, Double)].collect().toMap
      val b = fresh.search(q, 10).select("doc_id", "score")
        .as[(Long, Double)].collect().toMap
      assert(a.keySet == b.keySet && a.nonEmpty)
      a.foreach { case (kk, s) => assert(s == b(kk), s"doc $kk: $s vs ${b(kk)}") }
      assert(!a.contains(2L) && !a.contains(7L))
    }
    inc.unpersist()
    fresh.unpersist()
  }

  test("unknown-field queries match nothing instead of crashing") {
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    // colon in a term lexes as field scoping; a URL or time must not
    // blow up with a missing-stats or unresolved-column error
    val hits = idx.search(Parsed("text", "alpha http://example.com"), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.nonEmpty) // the "alpha" clause still matches
    assert(idx.search(Parsed("text", "12:30"), 10).count() == 0)
    // explicit AST against a bogus field: no hits, no crash
    assert(idx.search(MatchTerm("bogus", "alpha"), 10).count() == 0)
    // empty DSL batch returns an empty frame with the contract schema
    val empty = idx.batchSearchDsl(Seq.empty, 5)
    assert(empty.columns.toSeq == Seq("qid", "rank", "key", "score"))
    assert(empty.count() == 0)
    idx.unpersist()
  }

  test("batchSearchRaw parses query strings per query id") {
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val got = idx.batchSearchRaw(Seq(1L -> "+alpha -beta", 2L -> "\"gamma delta\""), "text", 5)
      .select("qid", "key").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got(1L) == Set(4L)) // alpha without beta
    assert(got(2L) == Set(1L, 3L)) // phrase
    idx.unpersist()
  }

  test("batchSearchDsl agrees with per-query search for complex queries") {
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val q1 = !("text" matchTerm "beta") && ("text" matchTerm "alpha")
    val q2 = "text" matchPhrase "gamma delta"
    val got = idx.batchSearchDsl(Seq(100L -> q1, 200L -> q2), 5)
      .select("qid", "key").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got(100L) == Set(4L))
    assert(got(200L) == Set(1L, 3L))
    idx.unpersist()
  }

  test("batch-path results are invariant under corpus repartitioning") {
    val qs = Seq((0L, "text", Seq("alpha", "gamma"), 1), (1L, "text", Seq("beta"), 1))
      .toDF("qid", "field", "terms", "min_match")
    val baseIdx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val base = baseIdx
      .batchSearch(qs, 10).select("qid", "rank", "key", "score")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    baseIdx.unpersist()
    for (n <- Seq(1, 3, 7)) {
      val idxN = SearchIndex.build(corpus.repartition(n), IndexSpec("doc_id", Seq("text")))
      val got = idxN.batchSearch(qs, 10).select("qid", "rank", "key", "score")
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
      assert(got.map(r => (r._1, r._2, r._3)).toSeq == base.map(r => (r._1, r._2, r._3)).toSeq,
        s"under $n partitions")
      got.zip(base).foreach { case (a, b) => assert(math.abs(a._4 - b._4) < 1e-12) }
      idxN.unpersist()
    }
  }

  test("merged index scores equal a from-scratch build") {
    val spec = IndexSpec("doc_id", Seq("text"))
    val full = SearchIndex.build(corpus, spec)
    val left = SearchIndex.build(corpus.where($"doc_id" <= 2), spec)
    val right = SearchIndex.build(corpus.where($"doc_id" > 2), spec)
    val merged = left.merge(right)
    val q = "text" matchAny termSet("alpha", "delta", "theta")
    val a = full.search(q, 10).select("doc_id", "score").as[(Long, Double)].collect().sortBy(_._1)
    val b = merged.search(q, 10).select("doc_id", "score").as[(Long, Double)].collect().sortBy(_._1)
    assert(a.map(_._1).toSeq == b.map(_._1).toSeq)
    a.zip(b).foreach { case (x, y) => assert(math.abs(x._2 - y._2) < 1e-9) }
    // stats fan-in: merged df/cf equal the full build's
    val sf = full.stats.select("term", "df", "cf").as[(String, Long, Long)].collect().toSet
    val sm = merged.stats.select("term", "df", "cf").as[(String, Long, Long)].collect().toSet
    assert(sf == sm)
    Seq(full, left, right, merged).foreach(_.unpersist())
  }

  test("merge refuses overlapping keys (silent stat corruption guard)") {
    val spec = IndexSpec("doc_id", Seq("text"))
    val a = SearchIndex.build(corpus.where($"doc_id" <= 2), spec)
    val b = SearchIndex.build(corpus.where($"doc_id" >= 2), spec) // doc 2 overlaps
    val e = intercept[IllegalArgumentException](a.merge(b))
    assert(e.getMessage.contains("disjoint"))
    a.unpersist(); b.unpersist()
  }

  test("addDocuments grows the index incrementally") {
    val spec = IndexSpec("doc_id", Seq("text"))
    val idx = SearchIndex.build(corpus.where($"doc_id" <= 3), spec)
      .addDocuments(corpus.where($"doc_id" > 3))
    val hits = idx.search("text" matchTerm "theta", 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(4L))
    assert(idx.fieldStats("text").numDocs == 4L)
    idx.unpersist()
  }

  test("auto layout picks broadcast for a small index and matches results") {
    val qs = Seq((0L, "text", Seq("alpha", "gamma"), 1)).toDF("qid", "field", "terms", "min_match")
    val auto = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text"), layout = AutoLayout))
    val dec = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val a = auto.batchSearch(qs, 10).select("qid", "rank", "key", "score")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val d = dec.batchSearch(qs, 10).select("qid", "rank", "key", "score")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a.map(x => (x._1, x._2, x._3)).toSeq == d.map(x => (x._1, x._2, x._3)).toSeq)
    a.zip(d).foreach { case (x, y) => assert(math.abs(x._4 - y._4) < 1e-9) }
    auto.unpersist(); dec.unpersist()
  }

  test("save/load round trip preserves search results") {
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val path = Files.createTempDirectory("graft-index").toString
    idx.save(path)
    val loaded = SearchIndex.load(spark, path, IndexSpec("doc_id", Seq("text")))
    val q = "text" matchAny termSet("alpha", "delta")
    val a = idx.search(q, 10).select("doc_id", "score").as[(Long, Double)].collect().sortBy(_._1)
    val b = loaded.search(q, 10).select("doc_id", "score").as[(Long, Double)].collect().sortBy(_._1)
    assert(a.map(_._1).toSeq == b.map(_._1).toSeq)
    a.zip(b).foreach { case (x, y) => assert(math.abs(x._2 - y._2) < 1e-12) }
    idx.unpersist()
  }

  test("bucketed postings table prunes buckets on term lookup") {
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    spark.sql("DROP TABLE IF EXISTS graft_postings_bucketed")
    val loc = new java.io.File("spark-warehouse/graft_postings_bucketed")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    SearchIndex.saveBucketed(idx, "graft_postings_bucketed", nBuckets = 8)
    // autoBucketedScan would fall back to a plain scan when no join
    // needs the bucketing; force the bucketed read so pruning applies
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val posts = spark.table("graft_postings_bucketed")
    val probe = posts.where(col("term").isin("alpha", "gamma"))
    val planStr = probe.queryExecution.executedPlan.toString
    // bucket pruning shows up as SelectedBucketsCount < total
    assert(planStr.contains("SelectedBucketsCount"), planStr.take(500))
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(planStr)
    assert(m.isDefined)
    assert(m.get.group(1).toInt < m.get.group(2).toInt)
    // and the pruned read still returns the right postings
    assert(probe.select("key").distinct().as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    idx.unpersist()
  }

  test("searchViaIndex (postings probe) agrees with scan-path search") {
    val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))
    val scan = idx.search(graft.dsl.MatchMin("text", 1, Seq("alpha", "gamma")), 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val probe = idx.searchViaIndex("text", Seq("alpha", "gamma"), minMatch = 1, k = 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(probe.keySet == scan.keySet)
    probe.foreach { case (k, s) => assert(math.abs(s - scan(k)) < 1e-9) }
    idx.unpersist()
  }

  test("array<string> fields index per element (SeqField analog)") {
    val docs = Seq(
      (1L, Seq("red", "green")),
      (2L, Seq("green", "blue", "green")),
      (3L, Seq.empty[String])
    ).toDF("doc_id", "tags")
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("tags")))
    val hits = idx.search(graft.dsl.MatchTerm("tags", "green"), 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(hits.keySet == Set(1L, 2L))
    // doc 2 has tf=2 but also longer dl; both score positively
    assert(hits.values.forall(_ > 0))
    val cf = idx.getTermCounts.where($"term" === "green").select("cf").as[Long].head()
    assert(cf == 3L)
    idx.unpersist()
  }

  test("storedCols keeps only the projection while indexing everything") {
    val docs = Seq(
      (1L, "alpha beta payload", "keep-1", "x" * 50),
      (2L, "gamma alpha", "keep-2", "y" * 50)
    ).toDF("doc_id", "text", "title", "huge_payload")
    val idx = SearchIndex.build(docs,
      IndexSpec("doc_id", Seq("text"), storedCols = Some(Seq("title"))))
    // the dropped column is gone from the stored corpus...
    assert(!idx.docs.columns.contains("huge_payload") && !idx.docs.columns.contains("text"))
    // ...but the text WAS indexed: search still matches and scores
    val hits = idx.search("text" matchTerm "alpha", 10)
    assert(hits.columns.toSeq == Seq("doc_id", "title", "score"))
    assert(hits.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(idx.getTermCounts.where($"term" === "alpha").select("cf").as[Long].head() == 2L)
    idx.unpersist()
  }

  test("index-time vs query-time analyzer split") {
    val docs = Seq((1L, "the running dogs"), (2L, "a sleeping cat")).toDF("doc_id", "text")
    val idx = SearchIndex.build(docs,
      IndexSpec("doc_id", Seq("text"), indexAnalyzer = "english", queryAnalyzer = "english"))
    // query text analyzed with the english analyzer stems "runs" -> "run",
    // matching the index-time stem of "running"
    val hits = idx.search("text" matchText "runs", 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(1L))
    idx.unpersist()
  }

  test("BM25F saturates cross-field evidence once (anti-boilerplate property)") {
    // alpha appears: doc 1 in BOTH fields, doc 2 text-only, doc 3
    // src-only — same tf/dl per field across docs, so per-field
    // evidence is identical and only the combination differs
    val docs = Seq(
      (1L, "alpha beta", "alpha"), (2L, "alpha beta", "news"),
      (3L, "gamma beta", "alpha"), (4L, "gamma delta", "news")
    ).toDF("doc_id", "text", "src")
    val idx = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text", "src")))
    val fields = Seq(("text", 1.0, 0.75), ("src", 1.0, 0.5))
    val scores = idx.bm25fSearch(Seq("alpha"), fields, 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(scores.keySet == Set(1L, 2L, 3L))
    // more evidence still helps...
    assert(scores(1L) > scores(2L) && scores(1L) > scores(3L))
    // ...but saturates ONCE: the both-fields doc scores LESS than the
    // sum of the single-field docs — a per-field BM25 sum (or two
    // independent saturations) would make it >=; this concavity is
    // BM25F's whole point (title echoing body can't double-dip)
    assert(scores(1L) < scores(2L) + scores(3L),
      s"cross-field evidence double-dipped: ${scores(1L)} vs " +
        s"${scores(2L)} + ${scores(3L)}")
    // field weight monotonicity: boosting src lifts the src-only doc
    // above the text-only doc
    val boosted = idx.bm25fSearch(Seq("alpha"),
      Seq(("text", 1.0, 0.75), ("src", 5.0, 0.5)), 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(boosted(3L) > boosted(2L))
    // single-field degeneration: BM25F over ONE field (w=1, spec's b)
    // is BM25 without the (k1+1) numerator — a constant positive
    // factor, so the RANKING must equal the plain matchAny search's
    val f1 = idx.bm25fSearch(Seq("alpha", "beta"),
      Seq(("text", 1.0, 0.75)), 10)
      .select("doc_id").as[Long].collect().toSeq
    val plain = idx.search("text" matchAny graft.dsl.builders.termSet("alpha", "beta"), 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(f1 == plain,
      s"single-field BM25F ranking diverged: $f1 vs $plain")
    idx.unpersist()
  }

  test("BM25F cross-field stats follow incremental add/remove") {
    // xdfStats derives from the live postings, so an incrementally
    // maintained index must rank exactly like a fresh build of the
    // same corpus — the r11 build-time-stats refactor must not pin
    // stale whole-document dfs
    val all = Seq(
      (1L, "alpha beta", "alpha"), (2L, "alpha gamma", "news"),
      (3L, "beta beta", "alpha"), (4L, "delta alpha", "news"),
      (5L, "alpha beta gamma", "blog")
    ).toDF("doc_id", "text", "src")
    val spec = IndexSpec("doc_id", Seq("text", "src"))
    val fields = Seq(("text", 1.0, 0.75), ("src", 2.0, 0.5))
    val incr = SearchIndex.build(all.where($"doc_id" <= 3), spec)
      .addDocuments(all.where($"doc_id" > 3))
      .removeDocuments(Seq(2L).toDF("doc_id"))
    val fresh = SearchIndex.build(all.where($"doc_id" =!= 2), spec)
    val a = incr.bm25fSearch(Seq("alpha", "beta"), fields, 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toSeq.sorted
    val b = fresh.bm25fSearch(Seq("alpha", "beta"), fields, 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toSeq.sorted
    assert(a == b, s"incremental BM25F diverged: $a vs $b")
    incr.unpersist(); fresh.unpersist()
  }

  test("pluggable QueryConstructor routes every raw-string API; default is Parsed") {
    import graft.dsl.{DefaultQueryConstructor, MultiFieldQueryConstructor}
    val docs = Seq(
      (1L, "alpha beta", "news"), (2L, "alpha gamma", "blog"),
      (3L, "beta beta beta", "news"), (4L, "delta alpha", "alpha")
    ).toDF("doc_id", "text", "src")
    // default spec: searchRaw("alpha") == search(Parsed("text", "alpha"))
    val plain = SearchIndex.build(docs, IndexSpec("doc_id", Seq("text", "src")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), round(col("score"), 6).as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows(plain.searchRaw("alpha", 10)) ==
      rows(plain.search(Parsed("text", "alpha"), 10)))
    // a configured constructor overrides: multi-field best-fields
    // must equal the explicitly-constructed DisMax query
    val qc = MultiFieldQueryConstructor(Seq("text" -> 1.0, "src" -> 2.0), 0.1)
    val multi = SearchIndex.build(docs,
      IndexSpec("doc_id", Seq("text", "src"), queryConstructor = Some(qc)))
    assert(rows(multi.searchRaw("alpha", 10)) ==
      rows(multi.search(DisMax(Seq(Parsed("text", "alpha"),
        Boost(Parsed("src", "alpha"), 2.0)), 0.1), 10)))
    // doc 4 (src = alpha) must outrank a text-only match: its source
    // clause carries the x2 boost
    val top = multi.searchRaw("alpha", 1).select("doc_id").as[Long].head()
    assert(top == 4L)
    // batchSearchRaw routes through the same strategy
    assert(rows(multi.batchSearchRaw(Seq((7L, "alpha")), "text", 10)
        .select(col("key").as("doc_id"), col("score"))) ==
      rows(multi.searchRaw("alpha", 10)))
    // the config dump names the strategy; weight-1 single field
    // degenerates to the default constructor's query exactly
    assert(multi.getConfigInfo.contains("MultiFieldQueryConstructor"))
    assert(DefaultQueryConstructor("text").construct("a b") == Parsed("text", "a b"))
    assert(MultiFieldQueryConstructor(Seq("text" -> 1.0)).construct("a b") ==
      Parsed("text", "a b"))
    plain.unpersist(); multi.unpersist()
  }
}
