package graft.search

import graft.TestSpark
import graft.dsl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Impact-ordered EXACT pruning (`queryJoinAst(impactPruning = true)`)
  * must be invisible in the results — bit-identical hits to the full
  * exact join on every query shape, including the ones its bound
  * analysis cannot handle (it then falls back to the full probe) —
  * while admitting strictly fewer candidates on dense scored
  * disjunctions. The corpus here is DENSE by construction: a tiny
  * vocabulary where every common term matches most documents (the
  * regime where exact top-k is Theta(corpus) per shape, SCALE.md)
  * plus one rare high-impact term that lets the threshold rise above
  * the dense terms' combined score mass. */
class ImpactPruningSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 400 docs over {aa bb cc dd} (dense, ~10 tokens each) with "rr"
  // planted in 15 of them — df(aa..dd) is a constant fraction of the
  // corpus, df(rr) = 15, idf(rr) >> idf(dense)
  lazy val corpus: DataFrame = {
    val rnd = new Random(42)
    val vocab = Array("aa", "bb", "cc", "dd")
    (0L until 400L).map { id =>
      val toks = Seq.fill(10)(vocab(rnd.nextInt(vocab.length)))
      val withRare = if (id % 27 == 0) toks :+ "rr" else toks
      (id, withRare.mkString(" "), 100L + id % 7)
    }.toDF("doc_id", "text", "n_chars")
  }

  lazy val idx = SearchIndex.build(corpus, IndexSpec("doc_id", Seq("text")))

  private def norm(df: DataFrame): Set[(Long, Int, Long, Double)] =
    df.select(col("qid").cast("long"), col("rank").cast("int"),
      col("key").cast("long"), col("score"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  /** Runs pruned and exact variants of the same join; returns the two
    * result sets plus the candidate volumes each admitted to verify. */
  private def bothWithCands(left: DataFrame, gen: Row => SearchQuery, k: Int,
      excludeSelf: Boolean = false)
      : (Set[(Long, Int, Long, Double)], Set[(Long, Int, Long, Double)], Long, Long) = {
    // the plain call IS the exact baseline
    val exact = norm(idx.queryJoinAst(left, "doc_id", gen, "text", k, excludeSelf))
    val exactCands = idx.lastAstCandsFrame.count()
    val pruned = norm(idx.queryJoinAst(left, "doc_id", gen, "text", k, excludeSelf,
      impactPruning = true))
    val prunedCands = idx.lastAstCandsFrame.count()
    (pruned, exact, prunedCands, exactCands)
  }

  test("dense scored disjunction: pruned results are bit-identical and admit far fewer candidates") {
    val left = corpus.where(col("doc_id") % 16 === 0).select("doc_id")
    val gen: Row => SearchQuery =
      _ => MatchAnyTerms("text", Seq("aa", "bb", "rr"))
    val (pruned, exact, prunedCands, exactCands) =
      bothWithCands(left, gen, k = 3, excludeSelf = true)
    assert(pruned == exact)
    assert(exact.nonEmpty)
    // the PIN: the dense terms are provably non-essential once the
    // rare term's seeds set the threshold, so the pruned probe
    // admits (roughly) only df(rr) candidates instead of Sum(df)
    assert(prunedCands < exactCands,
      s"pruning admitted $prunedCands of $exactCands candidates")
    assert(prunedCands <= exactCands / 4,
      s"dense fixture should prune most candidates: $prunedCands vs $exactCands")
  }

  test("And-gated dense disjunction with filters stays exact under pruning") {
    val left = corpus.where(col("doc_id") % 32 === 0).select("doc_id", "n_chars")
    val gen: Row => SearchQuery = { r =>
      val nc = r.getAs[Long]("n_chars")
      And(MatchAnyTerms("text", Seq("aa", "cc", "rr")),
        And(Should(Boost(MatchTerm("text", "bb"), 0.5)),
          RangeFilter("n_chars", 0L, nc + 3)))
    }
    val (pruned, exact, _, _) = bothWithCands(left, gen, k = 4)
    assert(pruned == exact)
    assert(exact.nonEmpty)
  }

  test("unboundable shapes (negative boost) fall back to the full probe and stay exact") {
    val left = corpus.where(col("doc_id") % 40 === 0).select("doc_id")
    val gen: Row => SearchQuery =
      _ => Or(Boost(MatchTerm("text", "aa"), -1.0), MatchTerm("text", "rr"))
    val (pruned, exact, prunedCands, exactCands) = bothWithCands(left, gen, k = 3)
    assert(pruned == exact)
    // no pruning happened (the bound analysis refused): same volume
    assert(prunedCands == exactCands)
  }

  test("fewer true hits than k+1 leaves theta null and prunes nothing, exactly") {
    val left = corpus.where(col("doc_id") === 0).select("doc_id")
    // "rr" alone has 15 postings; k = 40 > hits => theta is null
    val gen: Row => SearchQuery = _ => MatchAnyTerms("text", Seq("rr", "zz_absent"))
    val (pruned, exact, prunedCands, exactCands) = bothWithCands(left, gen, k = 40)
    assert(pruned == exact)
    assert(prunedCands == exactCands)
  }

  test("seeded fuzz: pruned joins agree with exact joins on random nested ASTs") {
    val rnd = new Random(7)
    val vocab = Seq("aa", "bb", "cc", "dd", "rr", "zz_absent")
    def term(): String = vocab(rnd.nextInt(vocab.length))
    def q(depth: Int): SearchQuery =
      if (depth <= 0) rnd.nextInt(4) match {
        case 0 => MatchTerm("text", term())
        case 1 => MatchAnyTerms("text", Seq.fill(1 + rnd.nextInt(3))(term()).distinct)
        case 2 => MatchAllTerms("text", Seq.fill(1 + rnd.nextInt(2))(term()).distinct)
        case _ => MatchMin("text", 1, Seq.fill(2)(term()).distinct)
      }
      else rnd.nextInt(5) match {
        case 0 => And(q(depth - 1), q(depth - 1))
        case 1 => Or(q(depth - 1), q(depth - 1))
        case 2 => Should(q(depth - 1))
        case 3 => Boost(q(depth - 1), 0.25 + rnd.nextDouble())
        case _ => And(q(depth - 1), Not(MatchTerm("text", term())))
      }
    val shapes = Seq.fill(12)(q(2))
    val left = corpus.where(col("doc_id") % 50 === 0).select("doc_id")
    shapes.zipWithIndex.foreach { case (shape, i) =>
      // distinct generator per shape: vary captured state so memo
      // entries never collide across iterations
      val gen: Row => SearchQuery = { val s = shape; _ => s }
      val (pruned, exact, _, _) = bothWithCands(left, gen, k = 3)
      assert(pruned == exact, s"fuzz shape $i diverged: $shape")
    }
  }

  test("block-max posting prefilter: low-tf rows of the essential term drop, results stay exact") {
    import spark.implicits._
    // "ss" planted with VARYING tf (1..4) in 1/6 of the docs: the
    // threshold (set by high-tf seeds) makes low-tf ss-postings
    // provably unable to reach the top-k, so the per-posting part
    // filter thins the essential term's own postings
    val rnd = new Random(5)
    val vocab = Array("aa", "bb", "cc", "dd")
    val c2 = (0L until 360L).map { id =>
      val toks = Seq.fill(10)(vocab(rnd.nextInt(vocab.length)))
      val withS = if (id % 6 == 0) toks ++ Seq.fill(1 + (id % 4).toInt)("ss") else toks
      (id, withS.mkString(" "), 0L)
    }.toDF("doc_id", "text", "n_chars")
    // small seed set so the union cannot mask the filter
    val idx2 = SearchIndex.build(c2, IndexSpec("doc_id", Seq("text")))
      .withJoinGates(SearchIndex.JoinGates(seedsPerShape = 8))
    val left = c2.where(col("doc_id") % 60 === 0).select("doc_id")
    val gen: Row => SearchQuery = _ => MatchAnyTerms("text", Seq("aa", "bb", "ss"))
    // the plain call is the true unpruned baseline
    val exact = norm(idx2.queryJoinAst(left, "doc_id", gen, "text", 3,
      excludeSelf = true))
    val exactCands = idx2.lastAstCandsFrame.count()
    val pruned = norm(idx2.queryJoinAst(left, "doc_id", gen, "text", 3,
      excludeSelf = true, impactPruning = true))
    val prunedCands = idx2.lastAstCandsFrame.count()
    assert(pruned == exact)
    assert(exact.nonEmpty)
    // df(ss) = 60; the part filter + 8 seeds must admit well below it
    assert(prunedCands < 50,
      s"posting prefilter should thin the essential term's postings: $prunedCands")
    assert(prunedCands < exactCands / 6, s"$prunedCands vs $exactCands")
  }

  test("essentialProbeBounds: minPart is -inf without theta and positive when the threshold binds") {
    import graft.dsl.QueryProgram
    val p = QueryProgram.compile(MatchAnyTerms("text", Seq("aa", "rr")),
      "text", "default", Set("text"), Set("text"))
    val idfs = IndexedSeq(0.3, 3.0)
    val mis = IndexedSeq(0.5, 4.5)
    val alt = Seq(Seq("aa", "rr"))
    val dfs = Seq(Seq(300L, 15L))
    // no theta: every kept term unfiltered
    val open = QueryProgram.essentialProbeBounds(p.ops.toIndexedSeq,
      p.terms.toIndexedSeq, p.termFields.toIndexedSeq, idfs ++ p.consts,
      mis, alt, dfs, null, "text", 0, 1.2)
    assert(open.map(_._1).toSet == Set("aa", "rr"))
    assert(open.forall(_._2 == Double.NegativeInfinity))
    // theta 2.0 > mi(aa): aa drops entirely; rr kept with a BINDING
    // minPart: rows need scale*part >= theta - resid (resid = mi(aa))
    val bound = QueryProgram.essentialProbeBounds(p.ops.toIndexedSeq,
      p.terms.toIndexedSeq, p.termFields.toIndexedSeq, idfs ++ p.consts,
      mis, alt, dfs, java.lang.Double.valueOf(2.0), "text", 0, 1.2)
    assert(bound.map(_._1) == Seq("rr"))
    val mp = bound.head._2
    assert(mp > 0.0 && mp.isFinite)
    // scale = ub*idf/mi = mi*idf/mi = idf = 3.0; minPart ~ (2.0 - 0.5)/3.0
    assert(math.abs(mp - (2.0 - 0.5) / 3.0) < 1e-3, s"minPart $mp")
  }

  test("scoreBounds: additive units for any-terms, constant mass for keyword/x leaves, None on negative boost") {
    import graft.dsl.QueryProgram
    val indexed = Set("text", "lang")
    val textF = Set("text")
    def compiled(q: SearchQuery) =
      QueryProgram.compile(q, "text", "default", indexed, textF)
    // pure scored disjunction: three any-of units, zero constant
    val p1 = compiled(MatchAnyTerms("text", Seq("aa", "bb", "cc")))
    val idfs1 = IndexedSeq(1.0, 2.0, 3.0)
    val mis1 = IndexedSeq(1.5, 2.5, 3.5)
    val Some((c1, u1)) = QueryProgram.scoreBounds(p1.ops.toIndexedSeq,
      p1.termFields.toIndexedSeq, idfs1 ++ p1.consts, mis1, "text", 0, 1.2)
    assert(c1 == 0.0)
    assert(u1.map(_.ub).sorted == Seq(1.5, 2.5, 3.5))
    assert(u1.forall(u => !u.requiresAll && u.slots.size == 1))
    // keyword leaf folds into the constant (kwSim = idf for BM25)
    val p2 = compiled(And(MatchTerm("text", "aa"), MatchTerm("lang", "en")))
    val idfs2 = IndexedSeq(1.0, 4.0, 9.0) // slots: text aa, lang name?, lang en
    val mis2 = IndexedSeq(1.5, 0.0, 0.0)
    val Some((c2, u2)) = QueryProgram.scoreBounds(p2.ops.toIndexedSeq,
      p2.termFields.toIndexedSeq, idfs2 ++ p2.consts, mis2, "text", 0, 1.2)
    assert(u2.size == 1 && u2.head.ub == 1.5)
    assert(c2 > 0.0) // the keyword term's kwSim mass
    // negative boost: no sound bound
    val p3 = compiled(Boost(MatchTerm("text", "aa"), -2.0))
    assert(QueryProgram.scoreBounds(p3.ops.toIndexedSeq,
      p3.termFields.toIndexedSeq, IndexedSeq(1.0) ++ p3.consts,
      IndexedSeq(1.5), "text", 0, 1.2).isEmpty)
    // phrase: one all-of unit over both slots
    val p4 = compiled(MatchPhrase("text", "aa bb"))
    val Some((c4, u4)) = QueryProgram.scoreBounds(p4.ops.toIndexedSeq,
      p4.termFields.toIndexedSeq, IndexedSeq(1.0, 2.0) ++ p4.consts,
      IndexedSeq(0.0, 0.0), "text", 0, 1.2)
    assert(c4 == 0.0)
    assert(u4.size == 1 && u4.head.requiresAll && u4.head.slots.size == 2)
    assert(math.abs(u4.head.ub - 3.0 * 2.2) < 1e-12) // sat(idf sum) = (1+2)*(k1+1)
  }

  test("queryJoinBool(impactPruning): bit-identical on SHOULD-only dense, mixed, and attr-filtered shapes") {
    val empty = array().cast("array<string>")
    // SHOULD-only dense disjunction — the Zipf-measured 13.8x/step
    // regime: every optional term matches most of the corpus
    val left1 = corpus.where(col("doc_id") % 16 === 0)
      .select(col("doc_id"), empty.as("req"),
        array(lit("aa"), lit("bb"), lit("rr")).as("opt"), empty.as("exc"))
    def both(l: DataFrame, attr: Option[(String,
        org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = None) = {
      def run(p: Boolean) = idx.queryJoinBool(l, "doc_id", col("req"),
          col("opt"), col("exc"), "text", k = 5, attrFilter = attr,
          excludeSelf = true, impactPruning = p)
        .select(col("qid").cast("long"), col("rank").cast("int"),
          col("key").cast("long"), round(col("score"), 6))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      (run(false), run(true))
    }
    val (e1, p1) = both(left1)
    assert(p1 == e1 && e1.nonEmpty, "SHOULD-only parity")
    // mixed: required + optional + excluded
    val left2 = corpus.where(col("doc_id") % 16 === 0)
      .select(col("doc_id"), array(lit("cc")).as("req"),
        array(lit("aa"), lit("rr")).as("opt"), array(lit("dd")).as("exc"))
    val (e2, p2) = both(left2)
    assert(p2 == e2 && e2.nonEmpty, "mixed-clause parity")
    // per-row attr bound (hi = n_chars, lo unbounded) — the
    // query_join_bool harness shape
    val left3 = corpus.where(col("doc_id") % 16 === 0)
      .select(col("doc_id"), col("n_chars"), empty.as("req"),
        array(lit("aa"), lit("bb")).as("opt"), empty.as("exc"))
    val (e3, p3) = both(left3,
      attr = Some(("n_chars", lit(null).cast("long"), col("n_chars"))))
    assert(p3 == e3 && e3.nonEmpty, "attr-filtered parity")
  }

  test("queryJoin/queryJoinDsl(impactPruning): parity with their exact paths") {
    val left = corpus.where(col("doc_id") % 16 === 0)
      .select(col("doc_id"), col("text"))
    def normJoin(df: DataFrame) =
      df.select(col("doc_id").cast("long"), col("rank").cast("int"),
        col("key").cast("long"), round(col("score"), 6))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
    val terms = array_distinct(slice(split(col("text"), " "), 1, 3))
    val exactF = normJoin(idx.queryJoin(left, "doc_id", terms, "text",
      k = 4, minMatch = 1, excludeSelf = true))
    val prunedF = normJoin(idx.queryJoin(left, "doc_id", terms, "text",
      k = 4, minMatch = 1, excludeSelf = true, impactPruning = true))
    assert(prunedF == exactF && exactF.nonEmpty, "flat queryJoin parity")
    // ALL-terms mode (minMatch <= 0 -> MatchAllTerms)
    val exactA = normJoin(idx.queryJoin(left, "doc_id", terms, "text",
      k = 4, minMatch = 0, excludeSelf = true))
    val prunedA = normJoin(idx.queryJoin(left, "doc_id", terms, "text",
      k = 4, minMatch = 0, excludeSelf = true, impactPruning = true))
    assert(prunedA == exactA && exactA.nonEmpty, "all-terms queryJoin parity")
    // queryJoinDsl: same generator through the driver-batch exact
    // path and the distributed pruned path
    val gen: Row => SearchQuery = { r =>
      val ts = r.getAs[String]("text").split(" ").take(3).distinct.toSeq
      MatchAnyTerms("text", ts)
    }
    val exactD = normJoin(idx.queryJoinDsl(left, "doc_id", gen, k = 4,
      excludeSelf = true))
    val prunedD = normJoin(idx.queryJoinDsl(left, "doc_id", gen, k = 4,
      excludeSelf = true, impactPruning = true))
    assert(prunedD == exactD && exactD.nonEmpty, "queryJoinDsl parity")
  }

  test("scoreBounds: NEAR/XNEAR unboundable under TFIDF (pair count can exceed dl), bounded under BM25") {
    import graft.dsl.QueryProgram
    val p = QueryProgram.compile(MatchNear("text", "aa", "bb", 3),
      "text", "default", Set("text"), Set("text"))
    val n = p.termFields.length
    val idfs = IndexedSeq.fill(n)(1.0)
    val mis = IndexedSeq.fill(n)(0.0)
    // BM25 (kind 0): sat is the tf->inf supremum — sound for any tf
    assert(QueryProgram.scoreBounds(p.ops.toIndexedSeq, p.termFields.toIndexedSeq,
      idfs ++ p.consts, mis, "text", 0, 1.2).isDefined)
    // TFIDF (kind 1): NEAR tf is the pair count, which exceeds dl on
    // interleaved tokens — sat assumes tf<=dl, so no sound bound
    assert(QueryProgram.scoreBounds(p.ops.toIndexedSeq, p.termFields.toIndexedSeq,
      idfs ++ p.consts, mis, "text", 1, 0.0).isEmpty)
  }

  test("scoreBounds: nested negative-factor FunctionScore is unboundable; a single one is fine") {
    import graft.dsl.QueryProgram
    def bounds(q: SearchQuery) = {
      val p = QueryProgram.compile(q, "text", "default", Set("text"), Set("text"))
      val n = p.termFields.length
      QueryProgram.scoreBounds(p.ops.toIndexedSeq, p.termFields.toIndexedSeq,
        IndexedSeq.fill(n)(1.0) ++ p.consts,
        IndexedSeq.fill(n)(1.5), "text", 0, 1.2)
    }
    val single = FunctionScore(MatchTerm("text", "aa"), "n_chars", -0.5)
    assert(bounds(single).isDefined)
    // two nested factor<0 multipliers: negative x negative = positive
    // and unbounded above — must be rejected
    val nested = FunctionScore(single, "n_chars", -0.5)
    assert(bounds(nested).isEmpty)
    // a factor=0 inner multiplier is exactly 1 — but the conservative
    // rule rejects any FUNCSC under a factor<0 FUNCSC
    val zeroInner = FunctionScore(
      FunctionScore(MatchTerm("text", "aa"), "n_chars", 0.0), "n_chars", -0.5)
    assert(bounds(zeroInner).isEmpty)
    // factor=0 OUTER is safe to nest over (multiplier exactly 1)
    val zeroOuter = FunctionScore(single, "n_chars", 0.0)
    assert(bounds(zeroOuter).isDefined)
  }

  test("TFIDF index: NEAR under impactPruning falls back and stays exact") {
    val tfidfIdx = SearchIndex.build(corpus,
      IndexSpec("doc_id", Seq("text"), similarity = TFIDF()))
    val left = corpus.where(col("doc_id") % 16 === 0).select("doc_id")
    val gen: Row => SearchQuery = _ =>
      Or(MatchNear("text", "aa", "bb", 4), MatchAnyTerms("text", Seq("cc", "dd")))
    val exact = norm(tfidfIdx.queryJoinAst(left, "doc_id", gen, "text", 5))
    val pruned = norm(tfidfIdx.queryJoinAst(left, "doc_id", gen, "text", 5,
      impactPruning = true))
    assert(pruned == exact,
      "TFIDF NEAR must not lose hits under pruning (unboundable -> full probe)")
    assert(exact.nonEmpty)
  }

  test("essentialTerms: drops dense terms under a high threshold, keeps everything under null") {
    import graft.dsl.QueryProgram
    val p = QueryProgram.compile(MatchAnyTerms("text", Seq("aa", "bb", "rr")),
      "text", "default", Set("text"), Set("text"))
    val idfs = IndexedSeq(0.3, 0.3, 3.0)
    val mis = IndexedSeq(0.5, 0.5, 4.0)
    val alt = Seq("aa", "bb", "rr")
    val dfs = Seq(300L, 290L, 15L)
    // theta above the dense terms' combined mass (0.5 + 0.5): both
    // dense terms drop, the rare one stays
    val e = QueryProgram.essentialTerms(p.ops.toIndexedSeq, p.terms.toIndexedSeq,
      p.termFields.toIndexedSeq, idfs ++ p.consts, mis, alt, dfs,
      java.lang.Double.valueOf(2.0), "text", 0, 1.2)
    assert(e == Seq("rr"))
    // theta below it: nothing can be dropped
    val e2 = QueryProgram.essentialTerms(p.ops.toIndexedSeq, p.terms.toIndexedSeq,
      p.termFields.toIndexedSeq, idfs ++ p.consts, mis, alt, dfs,
      java.lang.Double.valueOf(0.4), "text", 0, 1.2)
    assert(e2.toSet == alt.toSet)
    // null theta: untouched
    val e3 = QueryProgram.essentialTerms(p.ops.toIndexedSeq, p.terms.toIndexedSeq,
      p.termFields.toIndexedSeq, idfs ++ p.consts, mis, alt, dfs,
      null, "text", 0, 1.2)
    assert(e3 == alt)
  }

  test("exact probe choice: the alternative with the smallest total df is probed") {
    // "rr", "qq" and "ss" planted in disjoint documents (df 10, 10, 2)
    // over the dense {aa bb cc dd} background
    val rnd = new Random(3)
    val vocab = Array("aa", "bb", "cc", "dd")
    val c3 = (0L until 200L).map { id =>
      val toks = Seq.fill(10)(vocab(rnd.nextInt(vocab.length)))
      val planted = if (id % 20 == 0) Seq("rr") else if (id % 20 == 10) Seq("qq")
        else if (id == 5 || id == 15) Seq("ss") else Nil
      (id, (toks ++ planted).mkString(" "))
    }.toDF("doc_id", "text")
    val idx3 = SearchIndex.build(c3, IndexSpec("doc_id", Seq("text")))
    try {
      def df(t: String): Long = c3.where(array_contains(split(col("text"), " "), t)).count()
      val left = c3.where(col("doc_id") % 25 === 0).select("doc_id")
      def admitted(gen: Row => SearchQuery): Long = {
        assert(idx3.queryJoinAst(left, "doc_id", gen, "text", 3).count() > 0)
        idx3.lastAstCandsFrame.count()
      }
      // And: the alternatives are [aa] and [rr]; the rare one leads
      // although it is listed second
      assert(df("rr") < df("aa"))
      assert(admitted(_ => And(MatchTerm("text", "aa"), MatchTerm("text", "rr"))) == df("rr"))
      // And of two Or's: the alternatives are [ss, aa] and [rr, qq].
      // The first holds the rarest term, but the second has the
      // smaller TOTAL df, and only the total decides
      val first = df("ss") + df("aa")
      val second = df("rr") + df("qq")
      assert(df("ss") < df("rr") && second < first)
      assert(admitted(_ => And(Or(MatchTerm("text", "ss"), MatchTerm("text", "aa")),
        Or(MatchTerm("text", "rr"), MatchTerm("text", "qq")))) == second)
    } finally idx3.unpersist()
  }
}
