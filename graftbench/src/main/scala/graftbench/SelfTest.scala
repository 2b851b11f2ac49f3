package graftbench

/** Self-tests of the benchmark's own code, run before every measurement
  * (and alone with `--selftest`): the percentile rule, the reference
  * scorer against a hand-worked BM25 example, and seed determinism. */
object SelfTest {

  private def check(name: String, ok: Boolean, failures: collection.mutable.Buffer[String]): Unit =
    if (!ok) failures += name

  def run(): Boolean = {
    val failures = collection.mutable.ArrayBuffer.empty[String]

    // percentile rule: p95 needs ten samples beyond it
    check("p95 unsupported at 199 samples", Stats.percentile((1 to 199).map(_.toDouble), 0.95).isEmpty, failures)
    check("p95 of 1..200 is 190", Stats.percentile((1 to 200).map(_.toDouble), 0.95).contains(190.0), failures)
    check("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, failures)
    check("overhead: +10% in each kind", math.abs(Stats.overheadPct(Seq(("a", true, 110.0),
      ("a", false, 100.0), ("b", true, 22.0), ("b", false, 20.0), ("c", true, 5.0))) - 10.0) < 1e-9, failures)
    check("interval union", Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L, failures)

    // hand-worked BM25 (k1 1.2, b 0.75): docs d1 = "a b a" (dl 3),
    // d2 = "b c" (dl 2); N 2, avgdl 2.5. idf(a) = ln(1 + 1.5/1.5)
    // = ln 2; d1's tf(a) = 2, so score = ln2 * 2*2.2 / (2 + 1.2 *
    // (0.25 + 0.75 * 3/2.5)) = ln2 * 4.4 / 3.38.
    val ref = new RefIndex
    def mk(id: Long, ts: String*) = Doc(id, ts.mkString(" "), ts.toArray, "en", "s", 2000)
    ref.add(mk(1, "a", "b", "a")); ref.add(mk(2, "b", "c"))
    val want = math.log(2.0) * 4.4 / 3.38
    check("bm25 hand example", ref.topK(Flat(Seq("a"), 1), 10) match {
      case Seq((1L, s)) => RefIndex.close(s, want)
      case _ => false
    }, failures)
    // idf(b) = ln(1 + 0.5/2.5); both docs match, the shorter ranks first
    check("bm25 tie order", ref.topK(Flat(Seq("b"), 1), 10).map(_._1) == Seq(2L, 1L), failures)
    check("bool excludes", ref.topK(BoolQ(Seq("b"), Nil, Seq("c")), 10).map(_._1) == Seq(1L), failures)
    check("phrase", ref.topK(Phrase("b", "a"), 10).map(_._1) == Seq(1L), failures)

    // comparison: a tie at the cut may swap keys, nothing else may
    val scores = Map(1L -> 3.0, 2L -> 2.0, 3L -> 2.0)
    check("compare tie at cut", RefIndex.compare(Seq(1L -> 3.0, 3L -> 2.0), Seq(1L -> 3.0, 2L -> 2.0), scores.get).isEmpty, failures)
    check("compare wrong score", RefIndex.compare(Seq(1L -> 3.0, 2L -> 2.5), Seq(1L -> 3.0, 2L -> 2.0), scores.get).nonEmpty, failures)

    // seed determinism: same seed, same documents; another seed differs
    val a = new Corpus(42, 200, 5000, 1.05)
    val b = new Corpus(42, 200, 5000, 1.05)
    val c = new Corpus(43, 200, 5000, 1.05)
    check("same seed same docs", a.docs().map(_.text).sameElements(b.docs().map(_.text)), failures)
    check("other seed other docs", !a.docs().map(_.text).sameElements(c.docs().map(_.text)), failures)
    check("tokens are the analyzer's view", a.docs().forall(d =>
      graft.analysis.Analyzers("default").analyze(d.text) == d.tokens.toSeq), failures)
    val qa = new Queries(a, 7).interactive(50, 200)
    check("query stream deterministic and distinct", qa == new Queries(b, 7).interactive(50, 200) && qa.distinct.length == 50, failures)

    failures.foreach(f => System.err.println(s"graftbench: self-test failed: $f"))
    failures.isEmpty
  }

  /** SHA-256 over the sorted data files of a directory (names and bytes). */
  def digest(dir: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    dir.listFiles().filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName).foreach { f =>
        md.update(f.getName.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    md.digest().map("%02x".format(_)).mkString
  }
}
