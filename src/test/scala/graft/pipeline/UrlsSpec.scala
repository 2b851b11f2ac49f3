package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class UrlsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def norm(u: String): String =
    Seq(u).toDF("u").select(Urls.normalizeUrl(col("u"))).as[String].head()

  private def regdom(u: String): String =
    Seq(u).toDF("u")
      .select(Urls.registeredDomain(Urls.hostOf(col("u")))).as[String].head()

  test("normalizeUrl: case, ports, fragments, tracking params, slashes") {
    assert(norm("HTTP://WWW.Example.COM:80/A/B/?utm_source=x&ref=y#frag")
      == "http://www.example.com/A/B")
    assert(norm("https://Host.com:443/p?id=3") == "https://host.com/p?id=3")
    // non-default port survives; path case survives
    assert(norm("http://h.com:8080/Path/") == "http://h.com:8080/Path")
    // leading tracker removed, surviving param regains its '?'
    assert(norm("http://h.com/p?utm_campaign=a&id=7&fbclid=b#s")
      == "http://h.com/p?id=7")
    assert(norm("http://h.com/p?gclid=1") == "http://h.com/p")
    // href= in a query VALUE must not false-match the ref= tracker
    assert(norm("http://h.com/p?href=z") == "http://h.com/p?href=z")
    // untouched clean URL is a fixpoint
    assert(norm("http://www.ex3.com/p/7?id=7") == "http://www.ex3.com/p/7?id=7")
    assert(norm(norm("HTTPS://H.com:443/x/?ref=r#f")) == "https://h.com/x")
  }

  test("normalizeUrl leaves a path '&' of a query-less URL alone") {
    // the r10 single-pass repair rewrote the first bare '&' into '?'
    // even when no query ever existed, merging distinct pages; the
    // two-pass tracker removal never orphans a '&', so no repair runs
    assert(norm("http://h.com/p&q") == "http://h.com/p&q")
    assert(norm("http://h.com/p&q?utm_source=x") == "http://h.com/p&q")
    // a RUN of leading trackers collapses in one match
    assert(norm("http://h.com/p?utm_a=1&utm_b=2&id=3") == "http://h.com/p?id=3")
    assert(norm("http://h.com/p?gclid=g&ref=r") == "http://h.com/p")
  }

  test("pageRankUntil converges with a bounded iteration count") {
    val e = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("c", "a", 1.0))
      .toDF("src", "dst", "w")
    // damping 0.5 so the 3-node chain contracts at ~0.5^k and the
    // stop fires well inside the cap (0.85 needs ~80 iterations at
    // this tol — correct, just slow for a unit test)
    val (r, iters) = Urls.pageRankUntil(e, tol = 1e-6, maxIter = 60,
      damping = 0.5, seeds = None)
    assert(iters > 1 && iters < 60, s"unexpected iteration count $iters")
    val m = r.as[(String, Double)].collect().toMap
    // fixed point of the 3-node chain: same ordering invariants as
    // the fixed-iteration test, now at the converged answer
    assert(m("a") > m("b") && m("b") > m("c"))
    assert(math.abs(m.values.sum - 1.0) < 1e-9)
    // personalization concentrates teleport mass on the seed set:
    // seed c gains rank vs the uniform run
    val (rp, _) = Urls.pageRankUntil(e, tol = 1e-6, maxIter = 60,
      damping = 0.5, seeds = Some(Seq("c")))
    val mp = rp.as[(String, Double)].collect().toMap
    assert(mp("c") > m("c"))
  }

  test("orderedGlobalSum is bit-identical across partitionings") {
    // the two-level bucketed fold must produce the SAME double no
    // matter how the input is partitioned — the property that lets
    // the DuckDB oracle replay convergence decisions bit-exactly
    val rnd = new scala.util.Random(11)
    val rows = (1 to 4000).map(i => (s"node_$i", rnd.nextDouble() * 1e-3))
    val base = rows.toDF("dom", "v")
    val sums = Seq(1, 3, 32).map(n =>
      Urls.orderedGlobalSum(base.repartition(n)))
    assert(sums.distinct.size == 1,
      s"fold is partition-dependent: $sums")
    // and it is a faithful sum (tolerance: the naive sum differs only
    // by float association order)
    assert(math.abs(sums.head - rows.map(_._2).sum) < 1e-9)
  }

  test("orderedGlobalSum folds a null-dom bucket first instead of failing") {
    val dv = Seq[(String, Double)](("a.com", 0.25), (null, 0.5), ("b.org", 0.125)).toDF("dom", "v")
    // the null bucket's sum leads the fold: 0.5 + then the md5-ordered rest
    val buckets = Seq(("a.com", 0.25), ("b.org", 0.125))
      .sortBy { case (d, _) => java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(2) }
    assert(Urls.orderedGlobalSum(dv) == buckets.foldLeft(0.5)(_ + _._2))
  }

  test("orderedKeyedSum: hub-target fold is partitioning-invariant") {
    // web-scale shape: ONE hub target receives ~half of all edges
    // (every crawled page linking a homepage). The two-level fold
    // must produce bit-identical per-key doubles under any input
    // partitioning — and level 1 groups by (key, md5-bucket of the
    // contributor), so the hub's aggregation state shears across
    // ≤256 buckets instead of one in-degree-sized array
    val rnd = new scala.util.Random(7)
    val rows = (1 to 6000).map { i =>
      val dst = if (i % 2 == 0) "hub" else s"t_${i % 37}"
      (dst, s"src_$i", rnd.nextDouble())
    }
    val base = rows.toDF("dom", "src", "c")
    val results = Seq(1, 5, 32).map { n =>
      Urls.orderedKeyedSum(base.repartition(n), "dom", "src", "c", "m")
        .as[(String, Double)].collect().sortBy(_._1).toSeq
    }
    assert(results.distinct.size == 1,
      "per-target fold is partition-dependent")
    val m = results.head.toMap
    assert(m.size == 38) // hub + t_0..t_36
    val hubNaive = rows.filter(_._1 == "hub").map(_._3).sum
    assert(math.abs(m("hub") - hubNaive) < 1e-9)
  }

  test("pageRank on a skewed hub graph is partitioning-invariant") {
    // every source has out-degree 1 (w = 1.0) and half the graph
    // points at one hub; the rank vector must be bit-identical no
    // matter how the edge frame is partitioned
    val edges = (1 to 500).map(i =>
      (s"p_$i", if (i % 2 == 0) "hub" else s"q_${i % 11}", 1.0))
    val runs = Seq(2, 31).map { n =>
      Urls.pageRank(edges.toDF("src", "dst", "w").repartition(n),
          iterations = 3, damping = 0.85)
        .as[(String, Double)].collect().sortBy(_._1).toSeq
    }
    assert(runs.head == runs.last,
      "pageRank rank vector is partition-dependent")
    val m = runs.head.toMap
    assert(m("hub") == m.values.max)
  }

  test("domainHits: L1-normalized, authority concentrates on quadratic domains") {
    val r = Urls.domainHits(spark, "/root/testdata/sf0.001")
      .as[(String, Double, Double)].collect()
    assert(r.length == 16)
    // both vectors L1-normalize to 1 (up to the 1e-6 output rounding)
    assert(math.abs(r.map(_._2).sum - 1.0) < 1e-4)
    assert(math.abs(r.map(_._3).sum - 1.0) < 1e-4)
    // the generator routes half the link mass onto the quadratic-
    // residue domains {0,1,4,9} — their authority must dominate
    val m = r.map(x => x._1 -> x._3).toMap
    val qr = Set("ex0.com", "ex1.com", "ex4.com", "ex9.com")
    val qrMin = qr.map(m).min
    val otherMax = (m.keySet -- qr).map(m).max
    assert(qrMin > otherMax,
      s"quadratic domains must out-rank the rest: $m")
  }

  test("registeredDomain: www strip, two-label default, cc-SLD third label") {
    assert(regdom("http://www.example.com/p") == "example.com")
    assert(regdom("http://News.Bbc.CO.UK/x") == "bbc.co.uk")
    assert(regdom("http://a.b.c.example.org/") == "example.org")
    assert(regdom("http://www.uni.ac.jp/") == "uni.ac.jp")
    assert(regdom("http://localhost/") == "localhost")
    // port excluded from the host
    assert(regdom("http://www.example.com:8080/p") == "example.com")
  }

  test("normalizeUrl is idempotent (canonical forms are fixpoints)") {
    // canonicalization must converge in one pass: norm(norm(x)) ==
    // norm(x) for every input, or repeated pipeline stages would
    // keep rewriting keys
    val rnd = new scala.util.Random(7)
    val schemes = Seq("http", "HTTP", "https", "HTTPS")
    val hosts = Seq("Example.com", "www.EX3.com", "a.b.co.uk", "h", "x.y.z.org")
    val ports = Seq("", ":80", ":443", ":8080")
    val paths = Seq("", "/", "/A/b", "/p/7/", "/a//", "/p&q")
    val queries = Seq("", "?id=1", "?utm_source=x", "?utm_a=1&id=2&ref=r",
      "?id=1&gclid=g&fbclid=f", "?href=z", "?utm_x=1&utm_y=2")
    val frags = Seq("", "#f", "#a/b?c")
    val gen = (1 to 300).map { _ =>
      schemes(rnd.nextInt(schemes.size)) + "://" +
        hosts(rnd.nextInt(hosts.size)) + ports(rnd.nextInt(ports.size)) +
        paths(rnd.nextInt(paths.size)) + queries(rnd.nextInt(queries.size)) +
        frags(rnd.nextInt(frags.size))
    }
    val df = gen.toDF("u")
      .select(Urls.normalizeUrl(col("u")).as("n1"))
      .select(col("n1"), Urls.normalizeUrl(col("n1")).as("n2"))
      .where(col("n1") =!= col("n2"))
    val diverging = df.collect()
    assert(diverging.isEmpty,
      "non-idempotent canonicalizations:\n" + diverging.take(5).mkString("\n"))
  }

  test("pageRank keeps a source-only node in the vector and flowing") {
    // a -> b, b -> a, c -> a: c has outlinks but NO inlinks — it must
    // stay in the rank vector at the base level and keep feeding a
    // (a groupBy(dst)-only rebuild would drop c after iteration 1 and
    // zero its contribution)
    val e = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("c", "a", 1.0))
      .toDF("src", "dst", "w")
    val r = Urls.pageRank(e, iterations = 3, damping = 0.85)
      .as[(String, Double)].collect().toMap
    assert(r.keySet == Set("a", "b", "c"))
    val base = 0.15 / 3
    assert(math.abs(r("c") - base) < 1e-12,
      s"source-only node must sit at the base term, got ${r("c")}")
    // a receives from both b and c, b only from a
    assert(r("a") > r("b") && r("b") > r("c"))
    // conservation: no dangling nodes here, so mass is preserved
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("dedupByUrl pairs every dirty variant with its clean page") {
    val d = Urls.dedupByUrl(spark, "/root/testdata/sf0.001")
      .select("doc_id", "canonical_id", "group_size")
      .as[(Long, Long, Long)].collect()
    // generator contract: docs 2k and 2k+1 share page k
    d.foreach { case (id, canon, size) =>
      assert(canon == (id / 2) * 2, s"doc $id canonical $canon")
      assert(size == 2, s"doc $id group size $size")
    }
  }
}
