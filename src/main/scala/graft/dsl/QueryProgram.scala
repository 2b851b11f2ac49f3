package graft.dsl

import scala.collection.mutable

import graft.analysis.Analyzers

/** Serialized form of a [[SearchQuery]] AST: a pre-order int-array
  * "bytecode" whose leaves reference slots in aligned side tables, so
  * a DATA-DRIVEN query (one AST per row, reference
  * `queryGenerator: T => DslQuery`, SearchableRDD.scala:257-298) can
  * travel through a Spark plan as ordinary array columns and be
  * evaluated per (query, candidate-doc) pair by one codegen'd
  * expression ([[graft.functions.DslQueryScore]]) — the distributed
  * generalization of the flat-role encoding `queryJoinBool` uses.
  *
  * Layout:
  *   - `ops`    — pre-order opcode stream; children follow their
  *     parent immediately (operands inline, see the `Op` constants)
  *   - `terms` / `termFields` — aligned slot tables, deduplicated
  *     per (field, term): query terms (field = their leaf's field,
  *     so per-field IDFs resolve even when the same string appears
  *     in two fields) and filter/keyword attribute NAMES (field "")
  *   - `consts` — numeric literals (boost factors, filter bounds).
  *     Const operands are emitted RELATIVE; the interpreter reads
  *     them at `|terms| + idx` of its combined doubles array, whose
  *     prefix is the per-slot IDF vector joined in-plan from the
  *     index stats (alignment identical to `queryJoinBool`'s
  *     `__idfs`)
  *   - `attrFields` — every doc column referenced by a filter (for
  *     the caller to assemble the doc-side attribute map)
  *   - `probeAlts`  — candidate-generation alternatives: each is a
  *     SOUND probe set (every matching doc must contain >= 1 of its
  *     terms); the plan picks the minimum-total-df alternative per
  *     shape (the Lucene lead-with-the-rarest-clause discipline
  *     generalized to nested ASTs) and probes the postings with it.
  *     `None` means the query is TOTAL — it can match a document
  *     containing none of its terms (a top-level Not / AllDocs /
  *     Should / pure filter), so candidates must come from a full
  *     corpus pass, the honest cost of a match-all query.
  *
  * The same program serves the scan path: `SearchIndex.compile`
  * serializes each search and evaluates it over every document with
  * the program arrays as plan literals, so every search plans to one
  * generated class. Gating discipline: ONLY leaves gate their own
  * score on their own match; combinators always sum.
  *
  * KEYWORD-field leaves (MatchTerm/All/Any/Min on an un-analyzed
  * field — tf 1, dl 1, avgdl 1: the term either is the value or not)
  * and string-valued Eq/InSet filters serialize to `KW*`/`STR*` ops
  * verified against a doc-side STRING attribute map; they never
  * probe (soundness demands probe terms live in the probed text
  * field), so a pure keyword query is a corpus pass while the usual
  * `And(text leaf, keyword filter)` rides the text probe.
  *
  * Dictionary-expansion leaves (`MatchWildcard` / `MatchFuzzy` /
  * `MatchRegex`) serialize to EXPAND placeholders: the caller joins
  * each distinct (kind, field, pattern, maxEdits) against the term
  * dictionary IN-PLAN and [[substitute]]s the expanded lists in —
  * the Lucene multi-term rewrite (constant-score, maxClauseCount
  * cap in dictionary order, SearchIndex.expandDict's discipline)
  * with the per-query driver action replaced by one dictionary join
  * per batch. Their probe alts carry NUL-prefixed [[marker]]s that
  * substitute to the expanded terms.
  *
  * Cross-field TEXT leaves (a scored leaf on an indexed text field
  * other than the probe field) serialize to `X*` ops verified
  * against a doc-side per-field TOKENS map with that field's dl and
  * avgdl, scored exactly as a leaf on the probe field would be; like
  * keyword leaves they never probe.
  *
  * Filter values encode per [[numVal]]: numerics, booleans (0/1),
  * dates (epoch days) and timestamps (epoch micros) all become
  * order-preserving doubles in the consts table; strings go through
  * the `STR*` ops (equality, set membership and binary-ordered
  * comparisons and ranges). Anything else is rejected at compile.
  */
final case class QueryProgram(
    ops: Seq[Int],
    terms: Seq[String],
    termFields: Seq[String],
    consts: Seq[Double],
    attrFields: Seq[String],
    strAttrFields: Seq[String],
    xTextFields: Seq[String],
    probeAlts: Option[Seq[Seq[String]]])

object QueryProgram {

  /** Opcodes. Operand layout after each code, `t`=terms slot,
    * `c`=relative consts slot:
    *   ALLDOCS; AND/OR (2 children); NOT/SHOULD (1 child);
    *   BOOST c (1 child); TERM t; ALL n t*n; ANY n t*n;
    *   MIN m n t*n; PHRASE slop n t*n; NEAR dist t t;
    *   CMP op t c (op 0 eq,1 gt,2 ge,3 lt,4 le); RANGE t c c;
    *   INSET t n c*n; EXISTS t; MISSING t; NOMATCH; TRUEZERO.
    * Attribute operands (`t` of CMP/RANGE/INSET/EXISTS/MISSING) are
    * slots holding the COLUMN name. */
  object Op {
    val ALLDOCS = 0; val AND = 1; val OR = 2; val NOT = 3; val SHOULD = 4
    val BOOST = 5; val TERM = 6; val ALL = 7; val ANY = 8; val MIN = 9
    val PHRASE = 10; val NEAR = 11; val CMP = 12; val RANGE = 13
    val INSET = 14; val EXISTS = 15; val MISSING = 16
    val NOMATCH = 17; val TRUEZERO = 18
    // keyword-field leaves (reference: MatchTerm & friends on an
    // un-analyzed field — tf 1, dl 1, avgdl 1): verified against the
    // doc-side STRING attr map, never probed (a keyword leaf under
    // And rides its text sibling's probe; alone it is a corpus pass).
    // Layout: KWTERM f t; KWALL/KWANY f n t*n; KWMIN f m n t*n —
    // f = terms slot holding the FIELD name.
    val KWTERM = 19; val KWALL = 20; val KWANY = 21; val KWMIN = 22
    // string-valued filters: STREQ f t; STRIN f n t*n
    val STREQ = 23; val STRIN = 24
    // constant-score any-of-terms — the REWRITTEN form of a
    // dictionary-expansion leaf (Lucene CONSTANT_SCORE multi-term
    // rewrite: matching docs score 1.0 regardless of tf/idf, the
    // same for any expansion). CANY n t*n verifies against
    // the probe-field token array; KWCANY f n t*n against the
    // doc-side string attr map (keyword-field expansion).
    val CANY = 25; val KWCANY = 26
    // compile-time placeholder for a dictionary-expansion leaf:
    // EXPAND kind f p x (kind 0 wildcard / 1 fuzzy / 2 regex;
    // f = slot holding the FIELD name, p = slot holding the raw
    // pattern under that field, x = maxEdits for fuzzy else 0).
    // Never reaches the interpreter — [[QueryProgram.substitute]]
    // rewrites it to CANY/KWCANY/XCANY/NOMATCH once the pattern has
    // been expanded against the distributed term dictionary.
    val EXPAND = 27
    // cross-field TEXT leaves — scored leaves on an indexed text
    // field OTHER than the probe field. tf/dl come from that field's
    // token array in the doc-side tokens map, avgdl from the
    // per-field avgdl map, idf from the slot table as usual (slots
    // key per (field, term)); semantics equal the probe-field ops on
    // a secondary field exactly. Layouts parallel the probe-field
    // twins with a leading FIELD-name slot:
    // XTERM f t; XALL/XANY/XCANY f n t*n; XMIN f m n t*n;
    // XPHRASE f slop n t*n; XNEAR f dist t t.
    val XTERM = 28; val XALL = 29; val XANY = 30; val XMIN = 31
    val XPHRASE = 32; val XNEAR = 33; val XCANY = 34
    // synonym group (Lucene SynonymQuery): ONE pseudo-term — tf =
    // sum of variant tfs, idf = min of variant idfs (= idf of the
    // max-df variant). Layouts parallel ANY/KWANY/XANY:
    // SYN n t*n; KWSYN f n t*n; XSYN f n t*n.
    val SYN = 35; val KWSYN = 36; val XSYN = 37
    // DISMAX n tie: n child subtrees follow; score = best matching
    // child + tie x the others (Lucene DisjunctionMaxQuery).
    // CONSTSC b: one child subtree; score = const b when it matches
    // (Lucene ConstantScoreQuery). tie/b index the consts table.
    val DISMAX = 38; val CONSTSC = 39
    // FUNCSC f c: one child subtree; score = child x
    // (1 + factor x ln(1 + max(attr, 0))) — field-value-factor
    // function scoring; f = FIELD-name slot into the numeric attr
    // map, c indexes the consts table.
    val FUNCSC = 40
    // DEMOTE c: two child subtrees (positive, negative); match =
    // positive's; score scaled by the const factor when the negative
    // child also matches (Elasticsearch `boosting` query).
    val DEMOTE = 41
    // string-ordered filters against the doc-side STRING attr map
    // (binary UTF-8 order, Spark's string comparison):
    // STRCMP op f t (op as CMP; t = slot holding the value under f);
    // STRRANGE f lo hi (both ends inclusive, lo/hi value slots).
    val STRCMP = 42; val STRRANGE = 43
  }

  /** Bound on probe alternatives kept per node — alternatives beyond
    * it are DROPPED, never merged (dropping an alternative is always
    * sound; truncating terms inside one never is). */
  val MaxAlts = 6

  /** Pre-serialization normalization: desugars [[Parsed]] nodes and
    * reorders `And` children (CHEAPEST, GATING-FIRST) so the
    * interpreter's root-AND short-circuit evaluates filters and
    * single terms before phrase scans, and subtrees that can actually
    * REJECT a candidate (anything but Should/AllDocs roots, whose
    * predicate is constant-true) before score-only ones of equal
    * cost. Bit-exact: `And` score is one two-operand sum per node
    * and IEEE addition is commutative (only re-ASSOCIATION can
    * change a float sum; child swaps never re-associate), and the
    * match predicate is a commutative conjunction. */
  private def normalize(q: SearchQuery, an: graft.analysis.Analyzer): SearchQuery = {
    def cost(x: SearchQuery): Int = x match {
      case AllDocs | _: SearchFilter => 0
      case And(l, r) => cost(l) + cost(r)
      case Or(l, r) => cost(l) + cost(r)
      case Not(i) => cost(i)
      case Should(i) => cost(i)
      case Boost(i, _) => cost(i)
      case _: MatchTerm => 1
      case MatchText(_, t) => an.analyze(t).length
      case MatchAllText(_, t) => an.analyze(t).length
      case MatchPhrase(_, t, _) => 4 + an.analyze(t).length
      case _: MatchNear => 5
      case MatchAllTerms(_, ts) => ts.length
      case MatchAnyTerms(_, ts) => ts.length
      case MatchSynonyms(_, ts) => ts.length
      case MatchMin(_, _, ts) => ts.length
      case DisMax(qs, _) => qs.map(cost).sum
      case ConstScore(i, _) => cost(i)
      case FunctionScore(i, _, _) => cost(i)
      case Demote(p, n, _) => cost(p) + cost(n)
      // expansion leaves and anything else: dictionary-sized work
      case _ => 8
    }
    // can this subtree's predicate ever be false? (constant-true
    // subtrees contribute score but never reject, so they sort after
    // gating siblings of the same cost)
    def canGate(x: SearchQuery): Boolean = x match {
      case AllDocs => false
      case Should(_) => false
      case Boost(i, _) => canGate(i)
      case And(l, r) => canGate(l) || canGate(r)
      case Or(l, r) => canGate(l) && canGate(r)
      case MatchAllTerms(_, ts) => ts.nonEmpty
      case MatchMin(_, m, _) => m > 0
      case DisMax(qs, _) => qs.isEmpty || qs.forall(canGate)
      case ConstScore(i, _) => canGate(i)
      case FunctionScore(i, _, _) => canGate(i)
      case Demote(p, _, _) => canGate(p)
      case _ => true
    }
    def key(x: SearchQuery): (Int, Int) = (cost(x), if (canGate(x)) 0 else 1)
    def go(x: SearchQuery): SearchQuery = x match {
      case Parsed(f, s) => go(Parsed.desugar(f, s))
      case And(l, r) =>
        val (gl, gr) = (go(l), go(r))
        if (Ordering[(Int, Int)].lt(key(gr), key(gl))) And(gr, gl) else And(gl, gr)
      case Or(l, r) => Or(go(l), go(r))
      case Not(i) => Not(go(i))
      case Should(i) => Should(go(i))
      case Boost(i, f) => Boost(go(i), f)
      case DisMax(qs, t) => DisMax(qs.map(go), t)
      case ConstScore(i, b) => ConstScore(go(i), b)
      case FunctionScore(i, f, c) => FunctionScore(go(i), f, c)
      case Demote(p, n, c) => Demote(go(p), go(n), c)
      case leaf => leaf
    }
    go(q)
  }

  def compile(q0: SearchQuery, field: String, queryAnalyzer: String,
      indexedFields: Set[String], textFields: Set[String]): QueryProgram = {
    val an = Analyzers(queryAnalyzer)
    val q = normalize(q0, an)
    val ops = mutable.ArrayBuffer.empty[Int]
    // slot table keyed by (field, term): the SAME string can appear
    // as a text term, a keyword term of another field, and a filter
    // attr name — each needs its own slot because the aligned IDF
    // vector is per (field, term). Attr-name slots key under "".
    val slots = mutable.LinkedHashMap.empty[(String, String), Int]
    val consts = mutable.ArrayBuffer.empty[Double]
    val numAttrs = mutable.LinkedHashSet.empty[String]
    val strAttrs = mutable.LinkedHashSet.empty[String]
    val xAttrs = mutable.LinkedHashSet.empty[String]

    def slotOf(f: String, t: String): Int = slots.getOrElseUpdate((f, t), slots.size)
    def tIdx(t: String): Int = slotOf(field, t)
    def nameIdx(n: String): Int = slotOf("", n)
    def cIdx(v: Double): Int = { consts += v; consts.size - 1 }
    def unsupported(what: String): Nothing = throw new IllegalArgumentException(
      s"the serialized query program cannot encode $what")

    // text leaves on a field the index never built match nothing
    // (Lucene QueryParser behavior for a nonexistent field)
    def badField(f: String): Boolean = !indexedFields.contains(f)
    def kwField(f: String): Boolean = indexedFields.contains(f) && !textFields.contains(f)
    // cross-field: an indexed TEXT field other than the probe field —
    // scored from its own token array in the doc-side tokens map
    def xField(f: String): Boolean = textFields.contains(f) && f != field

    def emitTerms(code: Int, ts: Seq[String], prefix: Seq[Int]): Unit = {
      ops += code
      ops ++= prefix
      ops += ts.length
      ts.foreach(t => ops += tIdx(t))
    }
    // keyword-field variant: first operand is the FIELD-name slot;
    // term slots key under the keyword field so their IDFs resolve
    // against its stats
    def emitKw(code: Int, f: String, ts: Seq[String], prefix: Seq[Int]): Unit = {
      strAttrs += f
      ops += code
      ops += nameIdx(f)
      ops ++= prefix
      ops += ts.length
      ts.foreach(t => ops += slotOf(f, t))
    }
    // cross-field variant: same layout as emitKw (leading field-name
    // slot), term slots under the secondary text field so their IDFs
    // resolve against its stats
    def emitX(code: Int, f: String, ts: Seq[String], prefix: Seq[Int]): Unit = {
      xAttrs += f
      ops += code
      ops += nameIdx(f)
      ops ++= prefix
      ops += ts.length
      ts.foreach(t => ops += slotOf(f, t))
    }

    def emit(x: SearchQuery): Unit = x match {
      case AllDocs => ops += Op.ALLDOCS
      case And(l, r) => ops += Op.AND; emit(l); emit(r)
      case Or(l, r) => ops += Op.OR; emit(l); emit(r)
      case Not(inner) => ops += Op.NOT; emit(inner)
      case Should(inner) => ops += Op.SHOULD; emit(inner)
      case Boost(inner, f) => ops += Op.BOOST; ops += cIdx(f); emit(inner)
      case DisMax(qs, tie) =>
        if (qs.isEmpty) ops += Op.NOMATCH
        else { ops += Op.DISMAX; ops += qs.length; ops += cIdx(tie); qs.foreach(emit) }
      case ConstScore(inner, boost) =>
        ops += Op.CONSTSC; ops += cIdx(boost); emit(inner)
      case FunctionScore(inner, f, factor) =>
        numAttrs += f
        ops += Op.FUNCSC; ops += nameIdx(f); ops += cIdx(factor); emit(inner)
      case Demote(pos, neg, factor) =>
        ops += Op.DEMOTE; ops += cIdx(factor); emit(pos); emit(neg)
      case MatchTerm(f, t) =>
        if (badField(f)) ops += Op.NOMATCH
        else if (kwField(f)) {
          // KWTERM f t — single term, no count operand
          strAttrs += f
          ops += Op.KWTERM; ops += nameIdx(f); ops += slotOf(f, t)
        } else if (xField(f)) {
          xAttrs += f
          ops += Op.XTERM; ops += nameIdx(f); ops += slotOf(f, t)
        } else { ops += Op.TERM; ops += tIdx(t) }
      case MatchText(f, t) =>
        if (badField(f)) ops += Op.NOMATCH
        else emit(MatchAnyTerms(f, an.analyze(t)))
      case MatchAllText(f, t) =>
        if (badField(f)) ops += Op.NOMATCH
        else emit(MatchAllTerms(f, an.analyze(t)))
      case MatchPhrase(f, t, slop) =>
        if (!textFields.contains(f)) ops += Op.NOMATCH
        else {
          val ts = an.analyze(t)
          if (ts.isEmpty) ops += Op.NOMATCH
          else if (xField(f)) emitX(Op.XPHRASE, f, ts, Seq(slop))
          else emitTerms(Op.PHRASE, ts, Seq(slop))
        }
      case MatchNear(f, a, b, dist) =>
        if (!textFields.contains(f)) ops += Op.NOMATCH
        else if (xField(f)) {
          xAttrs += f
          ops += Op.XNEAR; ops += nameIdx(f); ops += dist
          ops += slotOf(f, a); ops += slotOf(f, b)
        } else {
          ops += Op.NEAR; ops += dist; ops += tIdx(a); ops += tIdx(b)
        }
      case MatchAllTerms(f, ts) =>
        if (badField(f)) ops += Op.NOMATCH
        else if (ts.isEmpty) ops += Op.TRUEZERO
        else if (kwField(f)) emitKw(Op.KWALL, f, ts, Nil)
        else if (xField(f)) emitX(Op.XALL, f, ts, Nil)
        else emitTerms(Op.ALL, ts, Nil)
      case MatchAnyTerms(f, ts) =>
        if (badField(f)) ops += Op.NOMATCH
        else if (ts.isEmpty) ops += Op.NOMATCH
        else if (kwField(f)) emitKw(Op.KWANY, f, ts, Nil)
        else if (xField(f)) emitX(Op.XANY, f, ts, Nil)
        else emitTerms(Op.ANY, ts, Nil)
      case MatchSynonyms(f, ts) =>
        if (badField(f)) ops += Op.NOMATCH
        else if (ts.isEmpty) ops += Op.NOMATCH
        else if (kwField(f)) emitKw(Op.KWSYN, f, ts, Nil)
        else if (xField(f)) emitX(Op.XSYN, f, ts, Nil)
        else emitTerms(Op.SYN, ts, Nil)
      case MatchMin(f, m, ts) =>
        if (badField(f)) ops += Op.NOMATCH
        else if (ts.isEmpty) ops += (if (m <= 0) Op.TRUEZERO else Op.NOMATCH)
        else if (kwField(f)) emitKw(Op.KWMIN, f, ts, Seq(m))
        else if (xField(f)) emitX(Op.XMIN, f, ts, Seq(m))
        else emitTerms(Op.MIN, ts, Seq(m))
      case Parsed(f, s) => emit(Parsed.desugar(f, s))
      // dictionary-expansion leaves: serialized as EXPAND
      // placeholders; the caller expands each distinct (kind, field,
      // pattern, extra) against the term dictionary IN-PLAN and
      // rewrites them to CANY/KWCANY via [[substitute]] — so the
      // Lucene multi-term rewrite distributes too (the search path's
      // expandDict is a per-query driver action; here it is one
      // dictionary join per batch)
      case MatchWildcard(f, pat) =>
        if (badField(f)) ops += Op.NOMATCH else emitExpand(0, f, pat, 0)
      case MatchFuzzy(f, t, maxEdits) =>
        if (badField(f)) ops += Op.NOMATCH else emitExpand(1, f, t, maxEdits)
      case MatchRegex(f, pat) =>
        if (badField(f)) ops += Op.NOMATCH else emitExpand(2, f, pat, 0)
      case EqFilter(f, v) => v match {
        case s: String =>
          strAttrs += f
          ops += Op.STREQ; ops += nameIdx(f); ops += slotOf(f, s)
        case other => emitCmp(0, f, numOnly(other, "EqFilter"))
      }
      case GtFilter(f, v) => emitOrdered(1, f, v, "GtFilter")
      case GeFilter(f, v) => emitOrdered(2, f, v, "GeFilter")
      case LtFilter(f, v) => emitOrdered(3, f, v, "LtFilter")
      case LeFilter(f, v) => emitOrdered(4, f, v, "LeFilter")
      case RangeFilter(f, lo: String, hi: String) =>
        strAttrs += f
        ops += Op.STRRANGE; ops += nameIdx(f); ops += slotOf(f, lo); ops += slotOf(f, hi)
      case RangeFilter(f, lo, hi) =>
        numAttrs += f
        ops += Op.RANGE; ops += nameIdx(f)
        ops += cIdx(numOnly(lo, "RangeFilter")); ops += cIdx(numOnly(hi, "RangeFilter"))
      case InSetFilter(f, vs) =>
        if (vs.forall(_.isInstanceOf[String])) {
          strAttrs += f
          ops += Op.STRIN; ops += nameIdx(f); ops += vs.length
          vs.foreach(v => ops += slotOf(f, v.asInstanceOf[String]))
        } else {
          numAttrs += f
          ops += Op.INSET; ops += nameIdx(f); ops += vs.length
          vs.foreach(v => ops += cIdx(numOnly(v, "InSetFilter")))
        }
      case ExistsFilter(f) => strAttrs += f; ops += Op.EXISTS; ops += nameIdx(f)
      case MissingFilter(f) => strAttrs += f; ops += Op.MISSING; ops += nameIdx(f)
    }
    def numOnly(v: Any, node: String): Double = numVal(v).getOrElse(
      unsupported(s"$node value of type " +
        s"${if (v == null) "null" else v.getClass.getSimpleName}"))
    def emitCmp(op: Int, f: String, v: Double): Unit = {
      numAttrs += f
      ops += Op.CMP; ops += op; ops += nameIdx(f); ops += cIdx(v)
    }
    def emitOrdered(op: Int, f: String, v: Any, node: String): Unit = v match {
      case s: String =>
        strAttrs += f
        ops += Op.STRCMP; ops += op; ops += nameIdx(f); ops += slotOf(f, s)
      case other => emitCmp(op, f, numOnly(other, node))
    }
    def emitExpand(kind: Int, f: String, pat: String, extra: Int): Unit = {
      if (xField(f)) xAttrs += f // secondary text: rewrites to XCANY
      else if (!textFields.contains(f)) strAttrs += f // keyword: KWCANY
      ops += Op.EXPAND; ops += kind; ops += nameIdx(f); ops += slotOf(f, pat)
      ops += extra
    }

    emit(q)
    val slotSeq = slots.keys.toSeq
    QueryProgram(ops.toSeq, slotSeq.map(_._2), slotSeq.map(_._1),
      consts.toSeq, numAttrs.toSeq, strAttrs.toSeq, xAttrs.toSeq,
      probeAlts(q, field, an, indexedFields, textFields))
  }

  /** Sound probe-set alternatives of `q` (see class doc). Invariant:
    * a `Some` is never empty; an inner `Seq.empty` alt is the
    * "matches nothing" probe (zero candidates, zero df — the min-df
    * selection rightly prefers it). A probe set is sound only if
    * every matching doc must contain one of its terms IN THE PROBE
    * TEXT FIELD — so KEYWORD-field and cross-field leaves contribute
    * None (their terms are not in the probed postings; under And
    * they ride a probe-field sibling's probe, alone they are a
    * corpus pass). */
  private[dsl] def probeAlts(q: SearchQuery, field: String,
      an: graft.analysis.Analyzer,
      indexedFields: Set[String], textFields: Set[String]): Option[Seq[Seq[String]]] = {
    val none = Seq(Seq.empty[String]) // NOMATCH: sound vacuously
    def cap(xs: Seq[Seq[String]]): Seq[Seq[String]] = xs.distinct.take(MaxAlts)
    // any leaf NOT on the probe field (keyword or secondary text)
    // verifies off the postings — it cannot supply probe terms
    def offProbe(f: String): Boolean = f != field
    def go(x: SearchQuery): Option[Seq[Seq[String]]] = x match {
      case AllDocs => None
      case _: Should => None
      case Not(_) => None
      case _: SearchFilter => None
      case Boost(inner, _) => go(inner)
      case And(l, r) => (go(l), go(r)) match {
        case (None, None) => None
        case (a, b) => Some(cap(a.getOrElse(Nil) ++ b.getOrElse(Nil)))
      }
      case Or(l, r) => (go(l), go(r)) match {
        case (Some(a), Some(b)) =>
          Some(cap(for { x1 <- a; y1 <- b } yield (x1 ++ y1).distinct))
        case _ => None
      }
      // dis-max matches when ANY child matches: same probe algebra as
      // a chain of Or; constant-score keeps the inner match set
      case DisMax(qs, _) =>
        if (qs.isEmpty) Some(none)
        else qs.map(go).reduceLeft { (l, r) =>
          (l, r) match {
            case (Some(a), Some(b)) =>
              Some(cap(for { x1 <- a; y1 <- b } yield (x1 ++ y1).distinct))
            case _ => None
          }
        }
      case ConstScore(inner, _) => go(inner)
      case FunctionScore(inner, _, _) => go(inner)
      // demotion keeps the POSITIVE match set; the negative clause
      // can never reject, so it contributes no probes
      case Demote(pos, _, _) => go(pos)
      case MatchTerm(f, t) =>
        if (!indexedFields.contains(f)) Some(none)
        else if (offProbe(f)) None
        else Some(Seq(Seq(t)))
      case MatchText(f, t) =>
        if (!indexedFields.contains(f)) Some(none)
        else go(MatchAnyTerms(f, an.analyze(t)))
      case MatchAllText(f, t) =>
        if (!indexedFields.contains(f)) Some(none)
        else go(MatchAllTerms(f, an.analyze(t)))
      case MatchPhrase(f, t, _) =>
        if (!textFields.contains(f)) Some(none)
        else if (offProbe(f)) None
        else {
          val ts = an.analyze(t)
          if (ts.isEmpty) Some(none) else Some(cap(ts.distinct.map(Seq(_))))
        }
      case MatchNear(f, a, b, _) =>
        if (!textFields.contains(f)) Some(none)
        else if (offProbe(f)) None
        else Some(cap(Seq(Seq(a), Seq(b))))
      case MatchAllTerms(f, ts) =>
        if (!indexedFields.contains(f)) Some(none)
        else if (ts.isEmpty) None // (true, 0.0): total
        else if (offProbe(f)) None
        else Some(cap(ts.distinct.map(Seq(_))))
      case MatchAnyTerms(f, ts) =>
        if (!indexedFields.contains(f)) Some(none)
        else if (ts.isEmpty) Some(none)
        else if (offProbe(f)) None
        else Some(Seq(ts.distinct))
      case MatchSynonyms(f, ts) =>
        if (!indexedFields.contains(f)) Some(none)
        else if (ts.isEmpty) Some(none)
        else if (offProbe(f)) None
        else Some(Seq(ts.distinct))
      case MatchMin(f, m, ts) =>
        if (!indexedFields.contains(f)) Some(none)
        else if (m <= 0) None // always matches: total
        else if (ts.isEmpty) Some(none)
        else if (offProbe(f)) None
        else Some(Seq(ts.distinct))
      case Parsed(f, s) => go(Parsed.desugar(f, s))
      // dictionary-expansion leaves on the probe text field are
      // sound probes — any matching doc contains >= 1 EXPANDED term
      // there — but the expansion is data-dependent, so the alt
      // carries a MARKER that [[substitute]] replaces with the
      // expanded term list; keyword-field expansions verify against
      // the attr map like other keyword leaves (None: ride an And
      // sibling's probe or take the corpus pass)
      case MatchWildcard(f, pat) =>
        if (!indexedFields.contains(f)) Some(none)
        else if (offProbe(f)) None
        else Some(Seq(Seq(marker(0, f, pat, 0))))
      case MatchFuzzy(f, t, maxEdits) =>
        if (!indexedFields.contains(f)) Some(none)
        else if (offProbe(f)) None
        else Some(Seq(Seq(marker(1, f, t, maxEdits))))
      case MatchRegex(f, pat) =>
        if (!indexedFields.contains(f)) Some(none)
        else if (offProbe(f)) None
        else Some(Seq(Seq(marker(2, f, pat, 0))))
    }
    go(q)
  }

  /** A probe-alt placeholder for a dictionary-expansion leaf: NUL
    * can never open an analyzed term, so markers are unambiguous in
    * a term list. Layout `\0kind\0extra\0field\0pattern` — the
    * pattern goes LAST so it may itself contain anything except NUL
    * followed by a well-formed prefix (field names never contain
    * NUL). */
  private[graft] def marker(kind: Int, f: String, pat: String, extra: Int): String =
    "\u0000" + kind + "\u0000" + extra + "\u0000" + f + "\u0000" + pat
  private[graft] def isMarker(t: String): Boolean = t.nonEmpty && t.charAt(0) == '\u0000'
  /** Inverse of [[marker]] → (kind, field, pattern, extra). */
  private[graft] def parseMarker(t: String): (Int, String, String, Int) = {
    val parts = t.substring(1).split("\u0000", 4)
    (parts(0).toInt, parts(2), parts(3), parts(1).toInt)
  }

  /** 2^53 - 1: the largest magnitude below which every integer is a
    * double and no two longs collapse onto the same double. */
  val MaxExactInteger: Double = 9007199254740991.0

  /** Filter-value encoding for the serialized consts table: every
    * orderable non-string value maps to a Double whose ordering and
    * equality agree with Spark's native comparison of the column
    * with the value — booleans as 0/1 (false < true), dates as epoch DAYS
    * (`unix_date` on the doc side), timestamps/instants as epoch
    * MICROS (`unix_micros`; exact in a double out to +/-285 years).
    * None = not encodable. Integral values beyond +/-(2^53 - 1) and
    * decimals a double cannot hold exactly are REJECTED with an
    * error: their double image would compare inexactly. */
  private[graft] def numVal(v: Any): Option[Double] = v match {
    case n @ (_: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte |
        _: java.lang.Float | _: java.lang.Double) =>
      Some(n.asInstanceOf[Number].doubleValue())
    case n: Number =>
      // longs and big numbers: only values a double holds exactly AND
      // within +/-(2^53 - 1), where every long doc value still orders
      // exactly against them after its own cast to double
      val d = n.doubleValue()
      val exact = new java.math.BigDecimal(n.toString)
      if (math.abs(d) > MaxExactInteger ||
          exact.compareTo(new java.math.BigDecimal(d)) != 0)
        throw new IllegalArgumentException(s"filter value $n cannot be compared exactly: " +
          "numeric filter values must be exact doubles within +/-(2^53 - 1)")
      Some(d)
    case b: Boolean => Some(if (b) 1.0 else 0.0)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
    case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
    case t: java.sql.Timestamp =>
      Some((Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L).toDouble)
    case i: java.time.Instant =>
      Some((i.getEpochSecond * 1000000L + i.getNano / 1000L).toDouble)
    case _ => None
  }

  /** One additive piece of a program's score upper bound (see
    * [[scoreBounds]]): the unit contributes at most `ub` to any
    * document's score, and contributes 0 to a document that —
    * for `requiresAll = false` (any-of leaves: TERM/ANY/CANY/SYN
    * members) — contains NONE of `slots`, or — for `requiresAll =
    * true` (phrase/near leaves) — is missing ANY of `slots`. Slots
    * index the program's term table and are PROBE-FIELD text slots
    * only; leaves that score off other fields fold into the constant
    * part of the bound. */
  final case class BoundUnit(ub: Double, slots: Seq[Int], requiresAll: Boolean,
      additive: Boolean = false)

  private final class Unboundable extends RuntimeException

  /** Static score-upper-bound analysis of a serialized program — the
    * WAND/MaxScore ingredient (Broder et al., CIKM 2003; Turtle &
    * Flood 1995): decomposes the maximum achievable score into a
    * CONSTANT part (leaves that can contribute regardless of which
    * probe-field terms the doc contains: keyword/cross-field leaves,
    * AllDocs, ConstScore) plus per-probe-slot [[BoundUnit]]s, such
    * that for EVERY document
    *
    *   score(doc) <= const + sum of ub over units "active" for doc
    *
    * where an any-of unit is active iff the doc contains >= 1 of its
    * slots' terms and an all-of unit iff it contains ALL of them.
    * Soundness leans on the engine's additive combinator discipline
    * (And/Or/Should/DisMax sum or max child scores; ONLY leaves gate
    * their own score on their own match — DslQueryScore), so each
    * leaf's contribution is bounded
    * independently:
    *   - probe-field TERM/ALL/ANY/MIN members: the term's measured
    *     max impact `mis(slot)` (max over its postings of the
    *     similarity at that posting's tf/dl — exact, not the
    *     idf*(k1+1) saturation limit)
    *   - probe-field SYN: saturation bound at the group's min idf;
    *     PHRASE/NEAR: saturation bound at the summed idf (phrase tf
    *     is not per-posting measurable) — all-of units
    *   - CANY (constant-score expansion): 1.0, any-of unit
    *   - keyword leaves: kwSim(idf) exactly; X* leaves: that field's
    *     measured max impact; X/KW CANY: 1.0 — all constants
    *   - filters and Not score 0
    * Returns None when no sound bound exists (negative Boost,
    * DisMax tie outside [0,1], FunctionScore with positive factor or
    * a negative-factor one nesting another FunctionScore, Demote
    * with negative factor, NEAR/XNEAR on a TFIDF index — the pair
    * count can exceed dl, breaking the tf<=dl bound — and
    * unrewritten EXPAND) — callers then skip pruning for that
    * shape, which is always safe.
    *
    * @param doubles idf prefix (per term slot) ++ consts, exactly the
    *   interpreter's combined array
    * @param mis     per-slot measured max impact (0 for slots absent
    *   from the corpus, unread for attr-name/keyword slots)
    * @param kind    0 = BM25 (saturation bound idf*(k1+1)),
    *                1 = TFIDF (tf <= dl so the bound is idf^2) */
  def scoreBounds(ops: IndexedSeq[Int], termFields: IndexedSeq[String],
      doubles: IndexedSeq[Double], mis: IndexedSeq[Double],
      probeField: String, kind: Int, k1: Double): Option[(Double, Seq[BoundUnit])] = {
    val constOff = termFields.length
    def idf(slot: Int): Double = doubles(slot)
    def cst(rel: Int): Double = doubles(constOff + rel)
    // saturation bound: sim(tf, dl) at any tf <= dl is <= this
    def sat(i: Double): Double = if (kind == 0) i * (k1 + 1.0) else i * i
    def kwSim(i: Double): Double = if (kind == 0) i else i * i
    var pc = 0
    var funcScSeen = 0 // nested-FUNCSC detector (see Op.FUNCSC case)
    def next(): Int = { val v = ops(pc); pc += 1; v }
    def fail(): Nothing = throw new Unboundable
    // NOT `pc += next()`: compound assignment saves the OLD pc before
    // evaluating the RHS, so next()'s own increment would be lost
    def skipN(): Unit = { val n = next(); pc += n }
    def skip(): Unit = next() match {
      case Op.AND | Op.OR => skip(); skip()
      case Op.NOT | Op.SHOULD => skip()
      case Op.BOOST => pc += 1; skip()
      case Op.TERM => pc += 1
      case Op.ALL | Op.ANY | Op.SYN | Op.CANY => skipN()
      case Op.MIN | Op.PHRASE | Op.INSET => pc += 1; skipN()
      case Op.NEAR | Op.CMP | Op.RANGE | Op.STRCMP | Op.STRRANGE => pc += 3
      case Op.EXISTS | Op.MISSING => pc += 1
      case Op.KWTERM | Op.STREQ | Op.XTERM => pc += 2
      case Op.KWALL | Op.KWANY | Op.KWSYN | Op.KWCANY | Op.STRIN => pc += 1; skipN()
      case Op.KWMIN | Op.XMIN | Op.XPHRASE => pc += 2; skipN()
      case Op.XALL | Op.XANY | Op.XCANY | Op.XSYN => pc += 1; skipN()
      case Op.XNEAR => pc += 4
      case Op.EXPAND => pc += 4
      case Op.DISMAX =>
        val n = next(); pc += 1
        var j = 0
        while (j < n) { skip(); j += 1 }
      case Op.CONSTSC => pc += 1; skip()
      case Op.FUNCSC => pc += 2; skip()
      case Op.DEMOTE => pc += 1; skip(); skip()
      case _ => () // ALLDOCS / NOMATCH / TRUEZERO
    }
    def slots(cnt: Int): Seq[Int] = Seq.fill(cnt)(next())
    def scale(r: (Double, List[BoundUnit]), f: Double): (Double, List[BoundUnit]) =
      (r._1 * f, r._2.map(u => u.copy(ub = u.ub * f)))
    def merge(l: (Double, List[BoundUnit]), r: (Double, List[BoundUnit]))
        : (Double, List[BoundUnit]) = (l._1 + r._1, l._2 ::: r._2)
    val zero = (0.0, List.empty[BoundUnit])
    // per-slot attribution for additive multi-term leaves (per-present
    // -term score sums): probe-field slots become units, others fold
    // into the constant (a doc may contain them freely)
    def perTerm(ss: Seq[Int], ub: Int => Double): (Double, List[BoundUnit]) =
      ss.foldLeft(zero) { (acc, s) =>
        if (termFields(s) == probeField)
          (acc._1, BoundUnit(ub(s), Seq(s), requiresAll = false,
            additive = true) :: acc._2)
        else (acc._1 + ub(s), acc._2)
      }
    // single-value leaves (score bounded once, not per term): a unit
    // only if EVERY member is a probe-field slot, else constant
    def singleValue(ss: Seq[Int], ub: Double, requiresAll: Boolean)
        : (Double, List[BoundUnit]) =
      if (ss.nonEmpty && ss.forall(s => termFields(s) == probeField))
        (0.0, List(BoundUnit(ub, ss, requiresAll)))
      else (ub, Nil)
    def go(): (Double, List[BoundUnit]) = next() match {
      case Op.ALLDOCS => (1.0, Nil)
      case Op.AND | Op.OR => merge(go(), go())
      case Op.NOT => skip(); zero
      case Op.SHOULD => go()
      case Op.BOOST =>
        val f = cst(next())
        if (f < 0.0) fail()
        scale(go(), f)
      case Op.DISMAX =>
        // score = best + tie x rest <= sum of children for tie in [0,1]
        val n = next()
        val tie = cst(next())
        if (tie < 0.0 || tie > 1.0) fail()
        var acc = zero
        var j = 0
        while (j < n) { acc = merge(acc, go()); j += 1 }
        acc
      case Op.CONSTSC =>
        val b = cst(next()); skip()
        (math.max(b, 0.0), Nil)
      case Op.FUNCSC =>
        // multiplier 1 + factor*ln(1+max(v,0)): <= 1 iff factor <= 0.
        // A factor < 0 multiplier is UNBOUNDED BELOW, so if the child
        // subtree can itself go negative (another factor<0 FUNCSC),
        // the product of two negatives is an unbounded POSITIVE score
        // — no finite bound exists. Conservative: a factor<0 FUNCSC
        // containing ANY other FUNCSC is unboundable.
        pc += 1 // field slot
        val factor = cst(next())
        if (factor > 0.0) fail()
        funcScSeen += 1
        val mark = funcScSeen
        val child = go()
        if (factor < 0.0 && funcScSeen > mark) fail()
        child
      case Op.DEMOTE =>
        val f = cst(next())
        if (f < 0.0) fail()
        val pos = go(); skip()
        scale(pos, math.max(1.0, f))
      case Op.TERM =>
        val t = next()
        perTerm(Seq(t), mis(_))
      case Op.ALL | Op.ANY => perTerm(slots(next()), mis(_))
      case Op.MIN => pc += 1; perTerm(slots(next()), mis(_))
      case Op.SYN =>
        val ss = slots(next())
        singleValue(ss, sat(ss.map(idf).min), requiresAll = false)
      case Op.PHRASE =>
        pc += 1 // slop
        val ss = slots(next())
        singleValue(ss, sat(ss.map(idf).sum), requiresAll = true)
      case Op.NEAR =>
        pc += 1 // dist
        val ss = Seq(next(), next())
        // TFIDF only: NEAR's tf is NearCount's PAIR count, which can
        // exceed dl (up to tf_a*min(2*dist, tf_b) for interleaved
        // tokens), so the tf<=dl saturation bound idf^2 is UNSOUND
        // there — unboundable. BM25's sat is the tf->inf supremum
        // and stays sound for any tf.
        if (kind == 1) fail()
        singleValue(ss, sat(ss.map(idf).sum), requiresAll = true)
      case Op.CANY => singleValue(slots(next()), 1.0, requiresAll = false)
      case Op.CMP | Op.RANGE | Op.STRCMP | Op.STRRANGE => pc += 3; zero
      case Op.INSET => pc += 1; skipN(); zero
      case Op.EXISTS | Op.MISSING => pc += 1; zero
      case Op.STREQ => pc += 2; zero
      case Op.STRIN => pc += 1; skipN(); zero
      case Op.NOMATCH | Op.TRUEZERO => zero
      case Op.KWTERM => pc += 1; (kwSim(idf(next())), Nil)
      case Op.KWALL | Op.KWANY =>
        pc += 1; (slots(next()).map(s => kwSim(idf(s))).sum, Nil)
      case Op.KWMIN => pc += 2; (slots(next()).map(s => kwSim(idf(s))).sum, Nil)
      case Op.KWSYN => pc += 1; (kwSim(slots(next()).map(idf).min), Nil)
      case Op.KWCANY | Op.XCANY => pc += 1; skipN(); (1.0, Nil)
      case Op.XTERM => pc += 1; (mis(next()), Nil)
      case Op.XALL | Op.XANY => pc += 1; (slots(next()).map(mis).sum, Nil)
      case Op.XMIN => pc += 2; (slots(next()).map(mis).sum, Nil)
      case Op.XSYN => pc += 1; (sat(slots(next()).map(idf).min), Nil)
      case Op.XPHRASE => pc += 2; (sat(slots(next()).map(idf).sum), Nil)
      case Op.XNEAR =>
        // same TFIDF pair-count unsoundness as Op.NEAR above
        if (kind == 1) fail()
        pc += 2; (sat(Seq(next(), next()).map(idf).sum), Nil)
      case Op.EXPAND => fail() // must be substituted before analysis
      case other => throw new IllegalStateException(
        s"scoreBounds: corrupt program, opcode $other at ${pc - 1}")
    }
    try {
      val (c, us) = go()
      Some((math.max(c, 0.0), us.map(u => u.copy(ub = math.max(u.ub, 0.0)))))
    } catch { case _: Unboundable => None }
  }

  /** MaxScore-style essential-probe-term selection (the exact,
    * impact-ordered pruning behind `queryJoinAst(impactPruning)`).
    * Given the chosen probe alternative's terms with their dfs and a
    * sound threshold `theta` (a lower bound on the shape's k'-th best
    * score — the k'-th best EXACT score of any candidate subset),
    * returns the subset E of `altTerms` to actually probe: every
    * document scoring >= theta is guaranteed to contain >= 1 E-term,
    * so candidates generated from E's postings alone preserve the
    * exact top-k'. Terms are dropped greedily in descending-df order
    * (densest postings first — maximal candidate-volume savings)
    * while the bound over E-free documents stays strictly below
    * theta with a float-slack margin. Falls back to the full
    * alternative (no pruning) when theta is null (fewer than k'
    * scored seeds) or the program admits no sound bound. */
  def essentialTerms(ops: IndexedSeq[Int], terms: IndexedSeq[String],
      termFields: IndexedSeq[String], doubles: IndexedSeq[Double],
      mis: IndexedSeq[Double], altTerms: Seq[String], altDfs: Seq[Long],
      theta: java.lang.Double, probeField: String, kind: Int, k1: Double)
      : Seq[String] =
    essentialProbe(ops, terms, termFields, doubles, mis,
      Seq(altTerms), Seq(altDfs), theta, probeField, kind, k1)

  /** [[essentialTerms]] generalized over EVERY probe alternative: the
    * per-alt greedy runs for each alternative and the probe with the
    * minimum essential-postings volume (sum of kept dfs, ties to the
    * earliest alternative) wins — so an alternative that is dense
    * but PRUNABLE (a rare scored term among stopword-dense ones)
    * beats one that is merely min-total-df but whose mass sits in a
    * single unprunable unit. With a null theta or no sound bound the
    * greedy keeps everything and the selection degenerates to the
    * plain min-total-df choice — exactly the unpruned plan's. */
  def essentialProbe(ops: IndexedSeq[Int], terms: IndexedSeq[String],
      termFields: IndexedSeq[String], doubles: IndexedSeq[Double],
      mis: IndexedSeq[Double], alts: Seq[Seq[String]], altDfs: Seq[Seq[Long]],
      theta: java.lang.Double, probeField: String, kind: Int, k1: Double)
      : Seq[String] = {
    if (alts.isEmpty) return Seq.empty
    val bounds =
      if (theta == null) None
      else scoreBounds(ops, termFields, doubles, mis, probeField, kind, k1)
    // probe-field slot per term string (slots are unique per
    // (field, term); alt terms without a slot affect no unit)
    lazy val slotOf = terms.indices.iterator
      .filter(i => termFields(i) == probeField)
      .map(i => terms(i) -> i).toMap
    def greedy(altTerms: Seq[String], dfs: Seq[Long]): Seq[String] = bounds match {
      case None => altTerms
      case Some((const, units)) =>
        val th = theta.doubleValue()
        // E as a slot set; B(E) = const + sum of units active for a
        // doc with NO E-term: any-of units with >= 1 slot outside E,
        // all-of units fully outside E
        val e = scala.collection.mutable.Set.empty[Int]
        altTerms.foreach(t => slotOf.get(t).foreach(e += _))
        def bound(): Double = const + units.iterator.filter { u =>
          if (u.requiresAll) !u.slots.exists(e.contains)
          else u.slots.exists(s => !e.contains(s))
        }.map(_.ub).sum
        // float-slack margin: the analytical inequality holds in the
        // reals; keep a safety strip so rounding can never flip a
        // prune decision against exactness
        def safe(b: Double): Boolean =
          b + 1e-7 * (1.0 + math.abs(b) + math.abs(th)) < th
        val kept = scala.collection.mutable.LinkedHashSet[String](altTerms: _*)
        val byDfDesc = altTerms.zip(dfs).sortBy(-_._2).map(_._1)
        byDfDesc.foreach { t =>
          // keep >= 1 term: an empty probe could only be sound if no
          // doc reaches theta, which theta's own seed contradicts —
          // only float slack could get here, and the guard closes it
          if (kept.size > 1) {
            val s = slotOf.get(t)
            s.foreach(e -= _)
            if (safe(bound())) kept -= t
            else s.foreach(e += _) // revert: removal would breach theta
          }
        }
        kept.toSeq
    }
    val scored = alts.zip(altDfs).zipWithIndex.map { case ((ts, dfs), i) =>
      val dfOf = ts.zip(dfs).toMap
      val kept = greedy(ts, dfs)
      (kept.map(dfOf.getOrElse(_, 0L)).sum, i, kept)
    }
    scored.minBy(x => (x._1, x._2))._3
  }

  /** [[essentialProbe]] plus the BLOCK-MAX refinement: each kept term
    * also carries a `minPart` — the minimum idf-free similarity part
    * (the per-posting `part(tf, dl)` the max-impact table maximizes)
    * a candidate row must reach, below which the row's score upper
    * bound cannot reach theta even with every OTHER leaf at max.
    * Derivation per kept term t: its single-slot any-of ("additive")
    * units contribute EXACTLY `scale * part(tf, dl)` per row with
    * `scale = sum of their ubs * idf(t)^p / mi(t)` (the boost mass
    * over the measured max impact, re-expressed per posting); every
    * other unit plus the constant folds into `resid`. A row is
    * droppable iff `resid + scale * part < theta` (with the same
    * float-slack margin), i.e. keep iff `part >= minPart =
    * (theta - resid - slack) / scale`. Rows of terms with no
    * additive unit, no sound bound, or a null theta get
    * `minPart = -Inf` (prefilter off — always sound). This is the
    * posting-grain analog of Lucene's block-max skipping: the
    * essential term's own postings thin out to the rows whose tf/dl
    * can still matter. */
  def essentialProbeBounds(ops: IndexedSeq[Int], terms: IndexedSeq[String],
      termFields: IndexedSeq[String], doubles: IndexedSeq[Double],
      mis: IndexedSeq[Double], alts: Seq[Seq[String]], altDfs: Seq[Seq[Long]],
      theta: java.lang.Double, probeField: String, kind: Int, k1: Double)
      : Seq[(String, Double)] = {
    val kept = essentialProbe(ops, terms, termFields, doubles, mis,
      alts, altDfs, theta, probeField, kind, k1)
    val noFilter = kept.map(_ -> Double.NegativeInfinity)
    if (theta == null) return noFilter
    scoreBounds(ops, termFields, doubles, mis, probeField, kind, k1) match {
      case None => noFilter
      case Some((const, units)) =>
        val th = theta.doubleValue()
        val slotOf = terms.indices.iterator
          .filter(i => termFields(i) == probeField)
          .map(i => terms(i) -> i).toMap
        val p = if (kind == 0) 1.0 else 2.0
        val total = const + units.iterator.map(_.ub).sum
        kept.map { t =>
          val mp = slotOf.get(t) match {
            case Some(s) if mis(s) > 0.0 =>
              // only per-term-ADDITIVE units scale with the row's
              // tf/dl; a 1-member constant-score CANY would match on
              // shape alone but its contribution is flat — the tag
              // keeps it in `resid` where it is sound
              val additive = units.filter(u => u.additive && u.slots == Seq(s))
              val ubA = additive.map(_.ub).sum
              if (ubA <= 0.0) Double.NegativeInfinity
              else {
                val resid = total - ubA
                val scale = ubA * math.pow(doubles(s), p) / mis(s)
                val slack = 1e-7 * (1.0 + math.abs(th) + math.abs(resid))
                if (resid + slack >= th || scale <= 0.0) Double.NegativeInfinity
                else (th - resid - slack) / scale
              }
            case _ => Double.NegativeInfinity
          }
          t -> mp
        }
    }
  }

  /** `*`/`?` glob to an (unanchored) Java regex — the regex twin of
    * the scan path's glob-to-LIKE translation, for matching the
    * pattern against a term DICTIONARY COLUMN where LIKE's pattern
    * must be a literal. Every non-glob char is quoted, so LIKE
    * metacharacters (`%`, `_`) mean themselves, as in likePattern. */
  def globRegex(glob: String): String = {
    val sb = new StringBuilder
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    sb.toString
  }

  /** Ints consumed by the opcode at `pos` INCLUDING itself and its
    * inline operands (children excluded — they are the following
    * opcodes). Children carry no inline offsets, so advancing by
    * this length from 0 is a complete linear pre-order traversal. */
  private def opLength(ops: Seq[Int], pos: Int): Int = ops(pos) match {
    case Op.ALLDOCS | Op.NOMATCH | Op.TRUEZERO | Op.AND | Op.OR |
         Op.NOT | Op.SHOULD => 1
    case Op.BOOST | Op.TERM | Op.EXISTS | Op.MISSING => 2
    case Op.ALL | Op.ANY | Op.CANY | Op.SYN => 2 + ops(pos + 1)
    case Op.MIN | Op.PHRASE | Op.INSET | Op.STRIN | Op.KWALL | Op.KWANY |
         Op.KWCANY | Op.KWSYN => 3 + ops(pos + 2)
    case Op.NEAR | Op.CMP | Op.RANGE | Op.STRCMP | Op.STRRANGE => 4
    case Op.KWTERM | Op.STREQ | Op.XTERM => 3
    case Op.KWMIN | Op.XMIN | Op.XPHRASE => 4 + ops(pos + 3)
    case Op.XALL | Op.XANY | Op.XCANY | Op.XSYN => 3 + ops(pos + 2)
    case Op.XNEAR => 5
    case Op.EXPAND => 5
    case Op.DISMAX => 3 // + n child subtrees in the following opcodes
    case Op.CONSTSC => 2 // + 1 child subtree
    case Op.FUNCSC => 3 // + 1 child subtree
    case Op.DEMOTE => 2 // + 2 child subtrees
    case other => throw new IllegalStateException(
      s"QueryProgram: corrupt program, opcode $other at $pos")
  }

  /** The distinct dictionary-expansion requests of a serialized
    * program: (kind, field, pattern, maxEdits) per EXPAND leaf. */
  def expansionKeys(ops: Seq[Int], terms: Seq[String]): Seq[(Int, String, String, Int)] = {
    val out = mutable.ArrayBuffer.empty[(Int, String, String, Int)]
    var p = 0
    while (p < ops.length) {
      if (ops(p) == Op.EXPAND)
        out += ((ops(p + 1), terms(ops(p + 2)), terms(ops(p + 3)), ops(p + 4)))
      p += opLength(ops, p)
    }
    out.distinct.toSeq
  }

  /** Rewrites every EXPAND placeholder to its runtime form — CANY
    * (probe-field leaf), XCANY (cross-text-field leaf), KWCANY
    * (keyword-field leaf) or NOMATCH (empty expansion) — appending
    * expanded terms to the slot table (existing (field, term) slots
    * are reused; alignment of existing slots never changes), and
    * substitutes probe-alt markers with the expanded term lists.
    * `exp` maps [[expansionKeys]] keys to their
    * dictionary-order-capped term lists; absent keys mean an empty
    * expansion. Returns (ops, terms, termFields, alts). */
  def substitute(ops: Seq[Int], terms: Seq[String], termFields: Seq[String],
      alts: Seq[Seq[String]], probeField: String, textFields: Set[String],
      exp: Map[(Int, String, String, Int), Seq[String]])
      : (Seq[Int], Seq[String], Seq[String], Seq[Seq[String]]) = {
    val slots = mutable.HashMap.empty[(String, String), Int]
    terms.indices.foreach { i =>
      if (!slots.contains((termFields(i), terms(i))))
        slots((termFields(i), terms(i))) = i
    }
    val newTerms = mutable.ArrayBuffer[String](terms: _*)
    val newFields = mutable.ArrayBuffer[String](termFields: _*)
    def slotOf(f: String, t: String): Int = slots.getOrElseUpdate((f, t), {
      newTerms += t; newFields += f; newTerms.size - 1
    })
    val out = mutable.ArrayBuffer.empty[Int]
    var p = 0
    while (p < ops.length) {
      val len = opLength(ops, p)
      if (ops(p) == Op.EXPAND) {
        val f = terms(ops(p + 2))
        val ets = exp.getOrElse(
          (ops(p + 1), f, terms(ops(p + 3)), ops(p + 4)), Seq.empty)
        if (ets.isEmpty) out += Op.NOMATCH
        else if (f == probeField) {
          out += Op.CANY; out += ets.length
          ets.foreach(t => out += slotOf(f, t))
        } else {
          out += (if (textFields.contains(f)) Op.XCANY else Op.KWCANY)
          out += ops(p + 2); out += ets.length
          ets.foreach(t => out += slotOf(f, t))
        }
      } else {
        var i = p
        while (i < p + len) { out += ops(i); i += 1 }
      }
      p += len
    }
    val newAlts = alts.map(_.flatMap { t =>
      if (isMarker(t)) exp.getOrElse(parseMarker(t), Seq.empty) else Seq(t)
    }.distinct)
    (out.toSeq, newTerms.toSeq, newFields.toSeq, newAlts)
  }
}
