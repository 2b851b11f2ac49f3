package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the search engine's hot path.
  *
  * The per-document term-frequency probe is the innermost loop of the
  * scan-path scorer (reference analog: the Lucene postings read in
  * LuceneIndex.scala:62-74). A Scala UDF would box every row; a
  * higher-order `filter(tokens, ...)` stays interpreted per element.
  * These expressions participate in whole-stage codegen instead.
  */

/** `array_count_eq(tokens, term)` — number of occurrences of `term`
  * in an `array<string>` column. Codegen: tight loop over the unsafe
  * array, no allocation. */
case class ArrayCountEq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "array_count_eq"

  override protected def nullSafeEval(arr: Any, term: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val t = term.asInstanceOf[UTF8String]
    var i = 0
    var n = 0
    val len = a.numElements()
    while (i < len) {
      if (!a.isNullAt(i) && a.getUTF8String(i).equals(t)) n += 1
      i += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, term) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = 0;
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i) && $arr.getUTF8String($i).equals($term)) $n++;
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayCountEq =
    copy(left = newLeft, right = newRight)
}

/** `phrase_count(tokens, phrase[, slop])` — number of starting
  * positions where the `phrase` array occurs inside `tokens` with at
  * most `slop` extra positions between first and last matched term,
  * (overlapping occurrences each count; slop 0 = exact contiguity,
  * matching positional phrase freq semantics; reference analog:
  * MatchPhraseQuery via Lucene createPhraseQuery,
  * dsl/DslQuery.scala:116-129 — in order at slop <= 1, with Lucene's
  * slop>=2 transposition allowance replicated, see
  * [[graft.dsl.MatchPhrase]] and the companion's `computeSloppy`).
  *
  * A start position i counts iff tokens(i) == phrase(0) and the
  * remaining terms match greedily (each at its earliest position
  * after the previous) with final span <= m + slop. Greedy-earliest
  * minimizes the span of an in-order match, so existence under the
  * budget is exact, not a heuristic. O(m * slop) scan per start. */
case class PhraseCount(left: Expression, right: Expression, slop: Int = 0)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "phrase_count"

  override protected def nullSafeEval(arr: Any, phr: Any): Any =
    PhraseCount.compute(arr.asInstanceOf[ArrayData], phr.asInstanceOf[ArrayData], slop)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, phr) =>
      s"${ev.value} = graft.functions.PhraseCount.compute($arr, $phr, $slop);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PhraseCount =
    copy(left = newLeft, right = newRight)
}

object PhraseCount {
  /** Static so generated code can call it directly.
    *
    * slop <= 1: ordered in-window matching (transpositions need
    * matchLength >= 2 in Lucene too, so order is forced there and
    * the greedy scan is exact). slop >= 2: Lucene sloppy-phrase
    * semantics (SloppyPhraseScorer's matchLength criterion) — a
    * match is an INJECTIVE assignment of query terms to token
    * positions with adjusted-position span
    * `max(p_i - i) - min(p_i - i) <= slop`, which admits
    * out-of-order terms ("b a" matches `"a b"~2`); tf = number of
    * term[0] anchor positions admitting such an assignment (at
    * slop <= 1 this equals the ordered start-position count, so the
    * two regimes agree at their boundary). */
  def compute(a: ArrayData, p: ArrayData, slop: Int): Int =
    if (slop <= 1) computeOrdered(a, p, slop) else computeSloppy(a, p, slop)

  private def computeOrdered(a: ArrayData, p: ArrayData, slop: Int): Int = {
    val n = a.numElements()
    val m = p.numElements()
    if (m == 0 || m > n) return 0
    var count = 0
    var i = 0
    while (i <= n - m) {
      if (!a.isNullAt(i) && !p.isNullAt(0) &&
        a.getUTF8String(i).equals(p.getUTF8String(0))) {
        // greedy: next term at its earliest position after the
        // previous one; position of term t may not exceed i+t+slop
        // (a later position could never keep the final span in
        // budget)
        var pos = i
        var t = 1
        var ok = true
        while (ok && t < m) {
          val limit = math.min(i + t + slop, n - 1)
          var q = pos + 1
          while (q <= limit && (a.isNullAt(q) || p.isNullAt(t) ||
            !a.getUTF8String(q).equals(p.getUTF8String(t)))) q += 1
          if (q > limit) ok = false else pos = q
          t += 1
        }
        if (ok) count += 1
      }
      i += 1
    }
    count
  }

  /** DFS over candidate positions per term, pruned by the running
    * adjusted-position span; cost per anchor is bounded by
    * (2*slop+1)^(m-1) in the worst (all-repeated-terms) case — slop
    * and phrase length are query constants, never data-sized. */
  private def computeSloppy(a: ArrayData, p: ArrayData, slop: Int): Int = {
    val n = a.numElements()
    val m = p.numElements()
    if (m == 0 || m > n) return 0
    val terms = new Array[UTF8String](m)
    var j = 0
    while (j < m) {
      if (p.isNullAt(j)) return 0
      terms(j) = p.getUTF8String(j)
      j += 1
    }
    val chosen = new Array[Int](m)
    def dfs(k: Int, curMin: Int, curMax: Int): Boolean = {
      if (k == m) return true
      // adjusted position (q - k) must keep the span within slop
      var q = math.max(0, curMax - slop + k)
      val qHi = math.min(n - 1, curMin + slop + k)
      while (q <= qHi) {
        if (!a.isNullAt(q) && a.getUTF8String(q).equals(terms(k))) {
          var used = false
          var t = 0
          while (t < k) { if (chosen(t) == q) used = true; t += 1 }
          if (!used) {
            chosen(k) = q
            val adj = q - k
            if (dfs(k + 1, math.min(curMin, adj), math.max(curMax, adj))) return true
          }
        }
        q += 1
      }
      false
    }
    var count = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && a.getUTF8String(i).equals(terms(0))) {
        chosen(0) = i
        if (dfs(1, i, i)) count += 1
      }
      i += 1
    }
    count
  }
}

/** `vec_dot(a, b)` — dot product of two `array<double>` columns in a
  * tight codegen loop (sequential accumulation, so results are
  * bit-identical to a left fold — required for oracle parity). The
  * hot inner loop of every cosine-similarity operator; an interpreted
  * higher-order `aggregate(zip_with(...))` is ~10x slower. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** `array_count_in(tokens, words)` — number of elements of `tokens`
  * that appear in the (small, literal) `words` array. Replaces the
  * interpreted `size(filter(tokens, isInCollection(words)))` HOF in
  * the language-ID/quality hot paths: HOFs evaluate per element via
  * the interpreter, this stays inside whole-stage codegen. Null
  * elements don't count (same as the HOF: a null predicate result is
  * filtered out). */
case class ArrayCountIn(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "array_count_in"

  override protected def nullSafeEval(arr: Any, words: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val w = words.asInstanceOf[ArrayData]
    val n = a.numElements()
    val m = w.numElements()
    var count = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val t = a.getUTF8String(i)
        var j = 0
        var found = false
        while (!found && j < m) {
          if (!w.isNullAt(j) && w.getUTF8String(j).equals(t)) found = true
          j += 1
        }
        if (found) count += 1
      }
      i += 1
    }
    count
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, words) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val found = ctx.freshName("found")
      val cnt = ctx.freshName("cnt")
      val t = ctx.freshName("t")
      s"""
         |int $cnt = 0;
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    UTF8String $t = $arr.getUTF8String($i);
         |    boolean $found = false;
         |    for (int $j = 0; !$found && $j < $words.numElements(); $j++) {
         |      if (!$words.isNullAt($j) && $words.getUTF8String($j).equals($t)) $found = true;
         |    }
         |    if ($found) $cnt++;
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayCountIn =
    copy(left = newLeft, right = newRight)
}

/** `array_total_strlen(tokens)` — sum of the character lengths of an
  * `array<string>` column's elements. Replaces the interpreted
  * `aggregate(transform(tokens, length), ...)` HOF pair in the
  * quality-score hot path with one codegen loop. Null elements add 0. */
case class ArrayTotalStrLen(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "array_total_strlen"

  override protected def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val n = a.numElements()
    var total = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) total += a.getUTF8String(i).numChars()
      i += 1
    }
    total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val i = ctx.freshName("i")
      val total = ctx.freshName("total")
      s"""
         |int $total = 0;
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) $total += $arr.getUTF8String($i).numChars();
         |}
         |${ev.value} = $total;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ArrayTotalStrLen =
    copy(child = newChild)
}

/** `winnow_fingerprint(tokens, n, w)` — the full winnowing selection
  * (Schleimer/Wilkerson/Aiken, SIGMOD'03) in one pass: positional
  * n-token shingles → 60-bit md5-prefix hash each → minimum of every
  * w-hash window (O(len) monotone deque) → distinct sorted selection
  * → `struct(n_selected, fp_winnow)` where fp_winnow is the md5 of
  * the comma-joined selection.
  *
  * Exists because the equivalent Column pipeline is three nested
  * higher-order `transform`s — each evaluates its lambda interpreted
  * per element and per consuming expression. This runs as one static
  * call inside whole-stage codegen. Hash formats match the SQL
  * building blocks exactly (md5 hex, first-15-hex-chars-as-long,
  * decimal join), so the DuckDB oracle is unchanged. */
case class WinnowFingerprint(child: Expression, n: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = WinnowFingerprint.OutType
  override def prettyName: String = "winnow_fingerprint"

  override protected def nullSafeEval(arr: Any): Any =
    WinnowFingerprint.compute(arr.asInstanceOf[ArrayData], n, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.WinnowFingerprint.compute($arr, $n, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
}

/** The one definition of the gram-hash contract every DuckDB oracle
  * replicates (`('0x' || substr(md5(s),1,15))::BIGINT` /
  * `list_min(list_transform(...))`): shingle string = tokens joined by
  * single spaces (null tokens contribute nothing but keep their
  * separator), digest = md5, 60-bit form = the first 15 hex chars.
  * WinnowFingerprint / ShingleHashes / MinShingleMd5 all go through
  * here — a change to one copy of this logic silently desyncing the
  * others from the oracles is the failure mode this object removes. */
private[functions] object ShingleDigest {

  /** Writes the space-joined n-token shingle at `i` into `sb`. */
  def appendShingle(sb: java.lang.StringBuilder, tokens: ArrayData, i: Int, n: Int): Unit = {
    sb.setLength(0)
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      if (!tokens.isNullAt(i + j)) sb.append(tokens.getUTF8String(i + j).toString)
      j += 1
    }
  }

  def digest(md: java.security.MessageDigest, sb: java.lang.StringBuilder): Array[Byte] =
    md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** First 15 hex chars of the digest as a long —
    * `conv(substring(md5(s),1,15),16,10)`. */
  def top60(d: Array[Byte]): Long = {
    var h = 0L
    var b = 0
    while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    (h << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  def hex(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(2 * d.length)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }
}

object WinnowFingerprint {
  val OutType: StructType = StructType(Seq(
    StructField("n_selected", IntegerType, nullable = false),
    StructField("fp_winnow", StringType, nullable = false)))

  /** The sorted-distinct selected window minima — shared by the
    * digest form below and the [[WinnowHashes]] array form. */
  def selected(tokens: ArrayData, n: Int, w: Int): Array[Long] = {
    val len = tokens.numElements()
    val numSh = len - n + 1
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = if (numSh > 0) {
      val arr = new Array[Long](numSh)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < numSh) {
        ShingleDigest.appendShingle(sb, tokens, i, n)
        arr(i) = ShingleDigest.top60(ShingleDigest.digest(md, sb))
        i += 1
      }
      arr
    } else new Array[Long](0)
    // sliding-window minima via monotone index deque — O(len), vs the
    // O(len*w) slice/array_min pipeline; short docs select every hash
    val mins = if (hashes.length >= w) {
      val out = new Array[Long](hashes.length - w + 1)
      val dq = new Array[Int](hashes.length)
      var head = 0
      var tail = 0 // window indices in [head, tail)
      var i = 0
      while (i < hashes.length) {
        while (tail > head && hashes(dq(tail - 1)) >= hashes(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) out(i - w + 1) = hashes(dq(head))
        i += 1
      }
      out
    } else hashes
    java.util.Arrays.sort(mins)
    var uniq = 0
    var i = 0
    while (i < mins.length) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(uniq) = mins(i); uniq += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(mins, uniq)
  }

  /** Static so generated code can call it directly. */
  def compute(tokens: ArrayData, n: Int, w: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val sel = selected(tokens, n, w)
    val md = java.security.MessageDigest.getInstance("MD5")
    val joined = {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < sel.length) {
        if (i > 0) sb.append(',')
        sb.append(sel(i))
        i += 1
      }
      sb.toString
    }
    org.apache.spark.sql.catalyst.InternalRow(
      sel.length, UTF8String.fromString(ShingleDigest.hex(
        md.digest(joined.getBytes(java.nio.charset.StandardCharsets.UTF_8)))))
  }
}

/** `shingle_hashes(tokens, n)` — sorted distinct 60-bit md5-prefix
  * hashes of the document's n-token shingles, as `array<long>`; empty
  * array when the document has fewer than n tokens. One codegen'd
  * pass replacing the interpreted
  * `transform(shingles(tokens), g => conv(substring(md5(g),1,15),16,10))`
  * pipeline, and downstream operators (explode + join) move longs
  * instead of shingle strings. The hash equals
  * `conv(substring(md5(shingle),1,15),16,10)` so SQL oracles can
  * reproduce it with `('0x' || substr(md5(s),1,15))::BIGINT`. */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(arr: Any): Any =
    ShingleHashes.compute(arr.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($arr, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Static so generated code can call it directly. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    val numSh = len - n + 1
    if (numSh <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Long](0))
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    val hs = new Array[Long](numSh)
    var i = 0
    while (i < numSh) {
      ShingleDigest.appendShingle(sb, tokens, i, n)
      hs(i) = ShingleDigest.top60(ShingleDigest.digest(md, sb))
      i += 1
    }
    java.util.Arrays.sort(hs)
    var uniq = 0
    i = 0
    while (i < numSh) {
      if (i == 0 || hs(i) != hs(i - 1)) { hs(uniq) = hs(i); uniq += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(hs, uniq))
  }
}

/** `winnow_hashes(tokens, n, w)` — the winnowing SELECTION itself
  * (sorted distinct window minima over n-token shingle hashes,
  * window w) as `array<long>`: the fingerprint set MOSS-style
  * near-dup candidate generation joins on, where
  * [[WinnowFingerprint]] returns only its digest. Same selection
  * code, so `md5(array_to_string(sel, ','))` over this array equals
  * `winnow_fingerprint(...).fp_winnow`. */
case class WinnowHashes(child: Expression, n: Int, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_hashes"

  override protected def nullSafeEval(arr: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      WinnowFingerprint.selected(arr.asInstanceOf[ArrayData], n, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.WinnowFingerprint.selected($arr, $n, $w));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
}

/** `gram_hashes(tokens, n)` — POSITIONAL 60-bit md5-prefix hashes of
  * the document's n-token grams, one per start position in order
  * (NOT sorted, NOT deduplicated — index i is the gram starting at
  * token i), as `array<long>`; empty array when the document has
  * fewer than n tokens. The positional variant of [[ShingleHashes]]:
  * exact-substring span detection (Lee et al. 2022-style "dedupe any
  * window occurring twice in the corpus") needs (position, hash)
  * pairs so flagged windows can be merged into maximal duplicated
  * spans. Hash equals `conv(substring(md5(gram),1,15),16,10)` so SQL
  * oracles reproduce it with `('0x' || substr(md5(g),1,15))::BIGINT`. */
case class GramHashes(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"

  override protected def nullSafeEval(arr: Any): Any =
    GramHashes.compute(arr.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.GramHashes.compute($arr, $n);")

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

object GramHashes {
  /** Static so generated code can call it directly. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    val numSh = len - n + 1
    if (numSh <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Long](0))
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    val hs = new Array[Long](numSh)
    var i = 0
    while (i < numSh) {
      ShingleDigest.appendShingle(sb, tokens, i, n)
      hs(i) = ShingleDigest.top60(ShingleDigest.digest(md, sb))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(hs)
  }
}

/** `shingle_strings(tokens, n)` — distinct n-token shingles joined by
  * single spaces, first-occurrence order, as `array<string>`; empty
  * array when the document has fewer than n tokens. Value-identical
  * to the Column pipeline
  * `array_distinct(transform(sequence(...), i => concat_ws(" ", element_at...)))`
  * for null-free token arrays (the analyzer never emits nulls), but
  * ONE codegen'd pass. The Column form has a scale hazard this
  * expression removes: when `tokens` is an inline expression rather
  * than a materialized attribute, Catalyst substitutes it into the
  * lambda body, so `element_at(toks(text), i + o)` re-tokenizes the
  * document once per shingle element (~3x shingle count) — the
  * measured cause of a 25s/5k-doc streaming-dedup micro-batch. */
case class ShingleStrings(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"

  override protected def nullSafeEval(arr: Any): Any =
    ShingleStrings.compute(arr.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.ShingleStrings.compute($arr, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

object ShingleStrings {
  /** Static so generated code can call it directly. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    val numSh = len - n + 1
    if (numSh <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[AnyRef](0))
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < numSh) {
      ShingleDigest.appendShingle(sb, tokens, i, n)
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(new Array[AnyRef](seen.size)))
  }
}

/** `repetition_stats(tokens)` — per-document n-gram repetition
  * signals in ONE in-row pass: `top2_chars` = (count × char length)
  * of the most frequent 2-gram (ties break on count desc, length
  * desc, gram desc — the order both engines' SQL uses), and
  * `dup5_chars` = Σ count × length over 5-grams occurring more than
  * once. These are DOC-LOCAL statistics: computing them via
  * explode + (doc_id, gram) groupBy shuffles the entire gram stream
  * of the corpus for values each row already determines — at corpus
  * scale that shuffle dwarfs the scan. Here the whole computation
  * stays inside whole-stage codegen with no exchange at all. */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = RepetitionStats.OutType
  override def prettyName: String = "repetition_stats"

  override protected def nullSafeEval(arr: Any): Any =
    RepetitionStats.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.RepetitionStats.compute($arr);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  val OutType: StructType = StructType(Seq(
    StructField("top2_chars", DoubleType, nullable = false),
    StructField("dup5_chars", DoubleType, nullable = false)))

  private def gramCounts(tokens: ArrayData, n: Int): java.util.HashMap[String, Int] = {
    val len = tokens.numElements()
    val m = new java.util.HashMap[String, Int]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= len - n) {
      ShingleDigest.appendShingle(sb, tokens, i, n)
      val g = sb.toString
      m.merge(g, 1, (a, b) => a + b)
      i += 1
    }
    m
  }

  /** Code-POINT length — Spark `length()` counts code points, not
    * UTF-16 units; String.length would desync *_chars for any gram
    * containing supplementary-plane characters (emoji etc.). */
  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Static so generated code can call it directly. */
  def compute(tokens: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    // top 2-gram by (count desc, length desc, gram desc) — the same
    // deterministic winner the SQL row_number ordering picks. Length
    // is code points and the gram tie-break is code-point order
    // (= UTF-8 binary order, what Spark/DuckDB string DESC uses):
    // String.compareTo is UTF-16 code-unit order, which disagrees
    // above the BMP — see TopKAgg.Utf8Ordering.
    var bestG: String = null
    var bestC = 0
    var bestLen = 0
    val it2 = gramCounts(tokens, 2).entrySet().iterator()
    while (it2.hasNext) {
      val e = it2.next()
      val g = e.getKey
      val c = e.getValue
      lazy val gLen = cpLen(g)
      if (bestG == null || c > bestC ||
        (c == bestC && (gLen > bestLen ||
          (gLen == bestLen && TopKAgg.Utf8Ordering.compare(g, bestG) > 0)))) {
        bestG = g; bestC = c; bestLen = gLen
      }
    }
    val top2 = if (bestG == null) 0.0 else bestC.toDouble * bestLen
    var dup5 = 0.0
    val it5 = gramCounts(tokens, 5).entrySet().iterator()
    while (it5.hasNext) {
      val e = it5.next()
      if (e.getValue > 1) dup5 += e.getValue.toDouble * cpLen(e.getKey)
    }
    org.apache.spark.sql.catalyst.InternalRow(top2, dup5)
  }
}

/** `min_shingle_md5(tokens, n)` — minimum md5 hex digest over the
  * document's n-token shingles (the winnowing-style shift-tolerant
  * fingerprint of [[graft.pipeline.TextAnalysis.fingerprints]]).
  * NULL when the document has fewer than n tokens, mirroring
  * `array_min` over an empty array. One codegen'd pass, no shingle
  * array / hash array materialization — the Column equivalent
  * `array_min(transform(shingles(tokens), md5))` evaluates its
  * lambdas interpreted. Hex-string comparison equals unsigned digest
  * comparison, so the SQL oracle (`list_min(list_transform(...))`)
  * is unchanged. */
case class MinShingleMd5(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "min_shingle_md5"
  // null for sub-n-token docs even when the input is non-nullable —
  // without this Catalyst would simplify away callers' null guards
  // (the coalesce fallback in TextAnalysis.fingerprints)
  override def nullable: Boolean = true

  override protected def nullSafeEval(arr: Any): Any =
    MinShingleMd5.compute(arr.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val out = ctx.freshName("minSh")
    nullSafeCodeGen(ctx, ev, arr =>
      s"""
         |UTF8String $out = graft.functions.MinShingleMd5.compute($arr, $n);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinShingleMd5 =
    copy(child = newChild)
}

object MinShingleMd5 {
  /** Static so generated code can call it directly; null when fewer
    * than n tokens. */
  def compute(tokens: ArrayData, n: Int): UTF8String = {
    val len = tokens.numElements()
    val numSh = len - n + 1
    if (numSh <= 0) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    var best: Array[Byte] = null
    var i = 0
    while (i < numSh) {
      ShingleDigest.appendShingle(sb, tokens, i, n)
      val d = ShingleDigest.digest(md, sb)
      // unsigned byte-wise comparison == hex-string lexicographic min
      if (best == null || {
        var k = 0
        var cmp = 0
        while (cmp == 0 && k < 16) { cmp = (d(k) & 0xff) - (best(k) & 0xff); k += 1 }
        cmp < 0
      }) best = d
      i += 1
    }
    UTF8String.fromString(ShingleDigest.hex(best))
  }
}

/** `simhash64(tokens)` — the document's 64-bit SimHash fingerprint in
  * ONE in-row pass: per-distinct-term tf, md5-derived 64-bit term
  * hash (two 32-bit hex halves, exactly the split the SQL oracle
  * replicates), signed bit sums, sign assembly. The aggregate
  * formulation shuffles the corpus twice ((doc, term) tf then a
  * 64-column doc aggregate); a document's fingerprint is doc-local
  * state, so it belongs in a map-side expression — this is what makes
  * SimHash usable in a STREAM (stateless map; the only stateful
  * operator left is whatever consumes the fingerprint). */
case class Simhash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(arr: Any): Any =
    Simhash64.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.Simhash64.compute($arr);")

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

object Simhash64 {
  /** Static so generated code can call it directly. Bit weights sum
    * with wrapping long addition (commutative), so any summation
    * order equals the Column/SQL formulation, bit 63's Long.MinValue
    * weight included. */
  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val tf = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) tf.merge(tokens.getUTF8String(i).toString, 1, (a, b) => a + b)
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val sums = new Array[Long](64)
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      md.reset()
      val d = md.digest(e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex chars = bytes 0-3, chars 9-16 = bytes 4-7 —
      // identical to conv(substring(md5(term), ...), 16, 10)
      val hHi = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val hLo = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      val t = e.getValue.toLong
      var j = 0
      while (j < 64) {
        val bit = if (j < 32) (hLo >>> j) & 1L else (hHi >>> (j - 32)) & 1L
        sums(j) += (if (bit == 1L) t else -t)
        j += 1
      }
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) > 0) fp += (1L << j)
      j += 1
    }
    fp
  }
}

/** `multi_count_in(tokens, lists)` — per-list membership counts over
  * SEVERAL word lists in ONE pass: returns `array<int>` where slot i
  * is the number of tokens appearing in `lists(i)`. Replaces N
  * separate `array_count_in` probes (each a linear scan of its word
  * list per token — the language-ID hot path did 5 probes x ~25-word
  * lists ≈ 60+ string compares per token) with a single hash lookup
  * per token against a prebuilt term → list-indices map. A term may
  * appear in several lists (e.g. a stopword shared by two languages)
  * and then counts in each, exactly as the independent probes did. */
case class MultiCountIn(child: Expression, lists: Seq[Seq[String]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "multi_count_in"

  @transient private lazy val lookup = MultiCountIn.buildLookup(lists)

  override protected def nullSafeEval(arr: Any): Any =
    MultiCountIn.compute(arr.asInstanceOf[ArrayData], lookup, lists.length)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // InSet's pattern: ship the prebuilt map as a reference object
    val mapRef = ctx.addReferenceObj("multiCountInMap", lookup,
      "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.MultiCountIn.compute($arr, $mapRef, ${lists.length});")
  }

  override protected def withNewChildInternal(newChild: Expression): MultiCountIn =
    copy(child = newChild)
}

object MultiCountIn {
  def buildLookup(lists: Seq[Seq[String]]): java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    for ((words, i) <- lists.zipWithIndex; w <- words) {
      val k = UTF8String.fromString(w)
      val prev = m.get(k)
      m.put(k, if (prev == null) Array(i) else prev :+ i)
    }
    m
  }

  /** Static so generated code can call it directly. */
  def compute(tokens: ArrayData,
      map: java.util.HashMap[UTF8String, Array[Int]], nLists: Int): ArrayData = {
    val counts = new Array[Int](nLists)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val hit = map.get(tokens.getUTF8String(i))
        if (hit != null) {
          var j = 0
          while (j < hit.length) { counts(hit(j)) += 1; j += 1 }
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(counts)
  }
}

/** `multi_substr_count(text, lists)` — per-list totals of substring
  * occurrences over SEVERAL pattern lists in ONE pass over the text:
  * slot i is the sum over `lists(i)`'s patterns of that pattern's
  * greedy left-to-right NON-OVERLAPPING occurrence count — exactly
  * the `(length(text) - length(replace(text, p, ''))) / len(p)`
  * counting the trigram language-ID entry used, which scanned the
  * text once per (language, trigram) pair (50 scans). Matching is on
  * UTF-8 bytes (self-synchronizing, so byte matches are always
  * char-boundary matches — identical to the char-level replace
  * semantics in both engines); patterns are limited to 8 bytes so a
  * window packs into one long hash key. */
case class MultiSubstrCount(child: Expression, lists: Seq[Seq[String]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "multi_substr_count"

  @transient private lazy val plan = MultiSubstrCount.compile(lists)

  override protected def nullSafeEval(txt: Any): Any =
    MultiSubstrCount.compute(txt.asInstanceOf[UTF8String], plan)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planRef = ctx.addReferenceObj("multiSubstrPlan", plan,
      classOf[MultiSubstrCount.Plan].getName)
    nullSafeCodeGen(ctx, ev, txt =>
      s"${ev.value} = graft.functions.MultiSubstrCount.compute($txt, $planRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): MultiSubstrCount =
    copy(child = newChild)
}

object MultiSubstrCount {
  /** Compiled matcher: patterns grouped by byte length, each length's
    * windows keyed by a long — the bytes packed big-endian (injective)
    * when the length fits 8 bytes, otherwise an FNV-1a hash of the
    * window with exact byte verification against `patBytes` (so a
    * non-Latin profile whose trigrams exceed 8 UTF-8 bytes compiles
    * instead of throwing at plan time). */
  case class Plan(lengths: Array[Int],
      maps: Array[java.util.HashMap[java.lang.Long, Array[Int]]],
      patList: Array[Int], patBytes: Array[Array[Byte]],
      nLists: Int, nPats: Int) extends Serializable

  def compile(lists: Seq[Seq[String]]): Plan = {
    val pats: Seq[(Array[Byte], Int)] =
      for ((ws, li) <- lists.zipWithIndex; w <- ws)
        yield (w.getBytes(java.nio.charset.StandardCharsets.UTF_8), li)
    require(pats.forall { case (b, _) => b.length >= 1 },
      "multi_substr_count patterns must be non-empty")
    val lengths = pats.map(_._1.length).distinct.sorted.toArray
    val maps = lengths.map(_ => new java.util.HashMap[java.lang.Long, Array[Int]]())
    val patListB = Array.newBuilder[Int]
    for (((bs, li), pid) <- pats.zipWithIndex) {
      val mi = lengths.indexOf(bs.length)
      val key = java.lang.Long.valueOf(windowKey(bs, 0, bs.length))
      val prev = maps(mi).get(key)
      maps(mi).put(key, if (prev == null) Array(pid) else prev :+ pid)
      patListB += li
    }
    Plan(lengths, maps, patListB.result(), pats.map(_._1).toArray,
      lists.length, pats.length)
  }

  /** Packed bytes for len <= 8 (injective per length — maps are
    * per-length, so the packed bytes alone suffice); FNV-1a for longer
    * windows (hash collisions resolved by the byte verify in
    * [[compute]]). */
  private def windowKey(b: Array[Byte], from: Int, len: Int): Long =
    if (len <= 8) {
      var k = 0L
      var i = 0
      while (i < len) { k = (k << 8) | (b(from + i) & 0xffL); i += 1 }
      k
    } else {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < len) { h ^= (b(from + i) & 0xffL); h *= 0x100000001b3L; i += 1 }
      h
    }

  private def bytesMatch(text: Array[Byte], from: Int, pat: Array[Byte]): Boolean = {
    var i = 0
    while (i < pat.length) {
      if (text(from + i) != pat(i)) return false
      i += 1
    }
    true
  }

  /** Static so generated code can call it directly. */
  def compute(txt: UTF8String, plan: Plan): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = txt.getBytes
    val n = b.length
    val counts = new Array[Long](plan.nLists)
    val lastEnd = new Array[Int](plan.nPats)
    var li = 0
    while (li < plan.lengths.length) {
      val L = plan.lengths(li)
      val exact = L <= 8 // packed key is injective: no byte verify
      val m = plan.maps(li)
      var i = 0
      while (i + L <= n) {
        val hit = m.get(java.lang.Long.valueOf(windowKey(b, i, L)))
        if (hit != null) {
          var j = 0
          while (j < hit.length) {
            val pid = hit(j)
            if (i >= lastEnd(pid) && (exact || bytesMatch(b, i, plan.patBytes(pid)))) {
              counts(plan.patList(pid)) += 1L
              lastEnd(pid) = i + L
            }
            j += 1
          }
        }
        i += 1
      }
      li += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(counts)
  }
}

/** `near_count(tokens, a, b, dist)` — number of unordered proximity
  * pairs: positions (i, j) with tokens(i)=a, tokens(j)=b and
  * |i - j| <= dist (i < j when a = b, so a pair is never a token
  * with itself and is counted once). The tf of
  * [[graft.dsl.MatchNear]], one codegen'd pass collecting both
  * position lists then an O(|a| x |b|) pair count — position lists
  * are per-document tiny. */
case class NearCount(tokens: Expression, a: Expression, b: Expression, dist: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = tokens
  override def second: Expression = a
  override def third: Expression = b
  override def dataType: DataType = IntegerType
  override def prettyName: String = "near_count"

  override protected def nullSafeEval(toks: Any, ta: Any, tb: Any): Any =
    NearCount.compute(toks.asInstanceOf[ArrayData],
      ta.asInstanceOf[UTF8String], tb.asInstanceOf[UTF8String], dist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, ta, tb) =>
      s"${ev.value} = graft.functions.NearCount.compute($toks, $ta, $tb, $dist);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): NearCount =
    copy(tokens = newFirst, a = newSecond, b = newThird)
}

object NearCount {
  /** Static so generated code can call it directly. */
  def compute(tokens: ArrayData, a: UTF8String, b: UTF8String, dist: Int): Int = {
    val n = tokens.numElements()
    val same = a.equals(b)
    var count = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i) && tokens.getUTF8String(i).equals(a)) {
        val lo = math.max(0, i - dist)
        val hi = math.min(n - 1, i + dist)
        var j = if (same) i + 1 else lo
        while (j <= hi) {
          if (j != i && !tokens.isNullAt(j) && tokens.getUTF8String(j).equals(b))
            count += 1
          j += 1
        }
      }
      i += 1
    }
    count
  }
}

/** `bool_query_score(tokens, terms, roles, idfs, kind, k1, b, avgdl)`
  * — one-pass boolean verification + scoring of a document's token
  * array against a query's clause set (reference analog: Lucene's
  * BooleanScorer walking the non-lead clauses per candidate doc,
  * driven from SearchableRDD.scala:257-298's query-generator join).
  * `terms`/`roles`/`idfs` are ALIGNED arrays (role 1=MUST, 0=SHOULD,
  * -1=MUST_NOT); `kind` 0=BM25(k1,b,avgdl), 1=TF-IDF. Returns
  * struct(score, req, opt, exc) where score sums the per-term
  * similarity of PRESENT role>=0 terms (tf read from the token array,
  * dl = its length — both identical to the postings the index
  * derives from the same array) and req/opt/exc count the present
  * terms per role. The caller applies the boolean rule
  * (req == n_req, exc == 0, opt >= minOptMatch) as Column filters.
  * One codegen'd pass; the aggregate equivalent shuffles Sum(df)
  * postings rows into a |queries| x |corpus|-group hash aggregate. */
case class BoolQueryScore(tokens: Expression, terms: Expression,
    roles: Expression, idfs: Expression,
    kind: Int, k1: Double, b: Double, avgdl: Double)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def first: Expression = tokens
  override def second: Expression = terms
  override def third: Expression = roles
  override def fourth: Expression = idfs
  override def dataType: DataType = BoolQueryScore.OutType
  override def prettyName: String = "bool_query_score"

  override def nullSafeEval(tok: Any, tms: Any, rls: Any, ids: Any): Any =
    BoolQueryScore.compute(tok.asInstanceOf[ArrayData], tms.asInstanceOf[ArrayData],
      rls.asInstanceOf[ArrayData], ids.asInstanceOf[ArrayData], kind, k1, b, avgdl)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (tok, tms, rls, ids) =>
      s"${ev.value} = graft.functions.BoolQueryScore.compute(" +
        s"$tok, $tms, $rls, $ids, $kind, ${k1}D, ${b}D, ${avgdl}D);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): BoolQueryScore =
    copy(tokens = newFirst, terms = newSecond, roles = newThird, idfs = newFourth)
}

object BoolQueryScore {
  val OutType: StructType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("req", IntegerType, nullable = false),
    StructField("opt", IntegerType, nullable = false),
    StructField("exc", IntegerType, nullable = false)))

  /** Static so generated code can call it directly. Operation order
    * inside each term's similarity matches the Column formulation of
    * the postings scorer (SearchIndex.sim) exactly; the final
    * sum runs in the aligned-array order, which is deterministic
    * (the arrays are sort_array'd at build), so results are
    * partitioning-independent. */
  def compute(tokens: ArrayData, terms: ArrayData, roles: ArrayData,
      idfs: ArrayData, kind: Int, k1: Double, b: Double, avgdl: Double)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val m = terms.numElements()
    val n = tokens.numElements()
    val tfs = new Array[Int](m)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val tok = tokens.getUTF8String(i)
        var j = 0
        while (j < m) {
          if (!terms.isNullAt(j) && tok.equals(terms.getUTF8String(j))) tfs(j) += 1
          j += 1
        }
      }
      i += 1
    }
    val dl = n.toDouble
    var score = 0.0
    var req = 0
    var opt = 0
    var exc = 0
    var j = 0
    while (j < m) {
      if (tfs(j) > 0) {
        val role = roles.getInt(j)
        if (role < 0) exc += 1
        else {
          val idf = idfs.getDouble(j)
          val tf = tfs(j).toDouble
          score += (if (kind == 0)
            idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
          else math.sqrt(tf) * (idf * idf) / math.sqrt(dl))
          if (role == 1) req += 1 else opt += 1
        }
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(score, req, opt, exc)
  }
}

/** `eval_once(expr)` — `expr` itself, marked nondeterministic so the
  * optimizer never duplicates it: a filter on a field of the result
  * stays above the projection that computes it instead of being
  * pushed below with the whole expression copied in. Projecting a
  * costly struct (the search scorer's `struct(ok, score)`) through it
  * and filtering on one field evaluates it once per row, not once in
  * the filter and again in the projection. */
case class EvalOnce(child: Expression) extends UnaryExpression with Nondeterministic {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "eval_once"
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): EvalOnce =
    copy(child = newChild)
}

/** `name_map(names, value1, ..., valueN)` — a map from the constant
  * distinct `names` (a string-array literal) to the row's values,
  * for the doc-side attribute maps of [[DslQueryScore]]. Built per
  * row without `map_from_arrays`'s duplicate-key hashing and deep
  * copy of every value: the keys are one shared array and the values
  * are referenced, not copied. Safe because a map value is either
  * read while its row is current or written into an UnsafeRow, which
  * copies it. */
case class NameMap(names: Seq[String], children: Seq[Expression]) extends Expression {
  require(names.distinct.length == names.length && names.length == children.length,
    "name_map needs one value per distinct name")
  private val valueType: DataType =
    children.headOption.map(_.dataType).getOrElse(NullType)
  require(children.forall(_.dataType == valueType), "name_map values must share one type")
  @transient private lazy val keys =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(names.map(UTF8String.fromString).toArray[Any])

  override def nullable: Boolean = false
  override def dataType: DataType = MapType(StringType, valueType, valueContainsNull = true)
  override def prettyName: String = "name_map"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(keys,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(children.map(_.eval(input)).toArray[Any]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keysRef = ctx.addReferenceObj("nameMapKeys", keys)
    val values = ctx.freshName("values")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val g = c.genCode(ctx)
      s"""${g.code}
         |$values[$i] = ${g.isNull} ? null : (Object) ${g.value};""".stripMargin
    }.mkString("\n")
    ev.copy(code = code"""
      Object[] $values = new Object[${children.length}];
      $fill
      org.apache.spark.sql.catalyst.util.MapData ${ev.value} =
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData($keysRef,
          new org.apache.spark.sql.catalyst.util.GenericArrayData($values));""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NameMap = copy(children = newChildren)
}

/** `dsl_query_score(tokens, ops, terms, doubles, attrs, kind, k1, b,
  * avgdl)` — evaluates a SERIALIZED nested query AST
  * ([[graft.dsl.QueryProgram]]'s pre-order bytecode) against one
  * document's token array in a single codegen'd pass: the
  * distributed generalization of [[BoolQueryScore]] from flat
  * MUST/SHOULD/MUST_NOT roles to arbitrary And/Or/Not/Should/Boost/
  * phrase/near/min-match nesting plus numeric attribute filters
  * (reference regime: `queryGenerator: T => DslQuery`,
  * SearchableRDD.scala:257-298, where each left row generates any
  * DSL AST).
  *
  * `doubles` = per-term-slot IDF vector (aligned with `terms`,
  * joined in-plan from the index stats per slot FIELD) ++ the
  * program's consts; `attrs` / `attrsStr` are the doc-side maps of
  * numeric filter attributes resp. string attributes (keyword-field
  * values and string-filter columns); `xtokens` / `xavgdl` are the
  * doc-side map of SECONDARY-text-field token arrays and the
  * per-field avgdl map for cross-field `X*` leaves. Any of the four
  * maps may be null when the batch uses none. Returns
  * struct(ok, score).
  *
  * It is the engine's one scorer for nested queries: the scan path
  * (`SearchIndex.compile`: search, searchAfter, collapseSearch,
  * facetCounts, highlight, explainTerms, the SQL `graft_search`) and
  * the distributed `queryJoinAst` both evaluate through it. The scan
  * path passes the program arrays as plan LITERALS, which codegen
  * emits as reference objects, so every search shares one generated
  * class. Only leaves gate their own score on their own match;
  * And/Or always sum both sides' (already-gated) scores; Not scores
  * 0; Should passes the inner score ungated; phrase/near tf reuse
  * [[PhraseCount]]/[[NearCount]] statics. */
case class DslQueryScore(tokens: Expression, ops: Expression, terms: Expression,
    doubles: Expression, attrs: Expression, attrsStr: Expression,
    xtokens: Expression, xavgdl: Expression,
    kind: Int, k1: Double, b: Double, avgdl: Double)
    extends Expression {

  override def children: Seq[Expression] =
    Seq(tokens, ops, terms, doubles, attrs, attrsStr, xtokens, xavgdl)
  override def nullable: Boolean = true
  override def dataType: DataType = DslQueryScore.OutType
  override def prettyName: String = "dsl_query_score"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val tok = tokens.eval(input)
    val op = ops.eval(input)
    val tm = terms.eval(input)
    val db = doubles.eval(input)
    if (tok == null || op == null || tm == null || db == null) null
    else {
      val at = attrs.eval(input)
      val ast = attrsStr.eval(input)
      val xt = xtokens.eval(input)
      val xa = xavgdl.eval(input)
      DslQueryScore.compute(tok.asInstanceOf[ArrayData], op.asInstanceOf[ArrayData],
        tm.asInstanceOf[ArrayData], db.asInstanceOf[ArrayData],
        if (at == null) null else at.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData],
        if (ast == null) null else ast.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData],
        if (xt == null) null else xt.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData],
        if (xa == null) null else xa.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData],
        kind, k1, b, avgdl, new DslQueryScore.TermTable(false))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tokG = tokens.genCode(ctx)
    val opsG = ops.genCode(ctx)
    val tmG = terms.genCode(ctx)
    val dbG = doubles.genCode(ctx)
    val atG = attrs.genCode(ctx)
    val astG = attrsStr.genCode(ctx)
    val xtG = xtokens.genCode(ctx)
    val xaG = xavgdl.genCode(ctx)
    val row = "org.apache.spark.sql.catalyst.InternalRow"
    val table = ctx.addMutableState(classOf[DslQueryScore.TermTable].getName, "termTable",
      v => s"$v = new ${classOf[DslQueryScore.TermTable].getName}(${terms.foldable});")
    ev.copy(code = code"""
      ${tokG.code}
      ${opsG.code}
      ${tmG.code}
      ${dbG.code}
      ${atG.code}
      ${astG.code}
      ${xtG.code}
      ${xaG.code}
      boolean ${ev.isNull} = ${tokG.isNull} || ${opsG.isNull} ||
        ${tmG.isNull} || ${dbG.isNull};
      $row ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.DslQueryScore.compute(
          ${tokG.value}, ${opsG.value}, ${tmG.value}, ${dbG.value},
          ${atG.isNull} ? null : ${atG.value},
          ${astG.isNull} ? null : ${astG.value},
          ${xtG.isNull} ? null : ${xtG.value},
          ${xaG.isNull} ? null : ${xaG.value},
          $kind, ${k1}D, ${b}D, ${avgdl}D, $table);
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DslQueryScore =
    copy(tokens = newChildren(0), ops = newChildren(1), terms = newChildren(2),
      doubles = newChildren(3), attrs = newChildren(4), attrsStr = newChildren(5),
      xtokens = newChildren(6), xavgdl = newChildren(7))
}

object DslQueryScore {
  import graft.dsl.QueryProgram.Op

  val OutType: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** Per-evaluator working state of [[compute]]: an open-addressed hash of
    * the program's term table plus the per-row tf counts. With
    * `stable` (the terms are a plan literal — every scan-path search)
    * the hash is built once, for the first row, and kept while the
    * terms object stays the same; otherwise (a query join, whose rows
    * carry their own programs) it is rebuilt for every row, reusing
    * its arrays when the term count repeats. Not thread-safe: one per
    * generated evaluator (one per task). */
  final class TermTable(stable: Boolean) {
    private var loaded: ArrayData = null
    private var m = -1
    private var cap = 0
    private[functions] var termStrs: Array[UTF8String] = new Array[UTF8String](0)
    private var slots: Array[Int] = new Array[Int](0)
    private var hashes: Array[Int] = new Array[Int](0)
    private var dup: Array[Int] = new Array[Int](0)
    // bit `sig` set for every term: a token whose signature bit is
    // clear cannot equal any term and skips the hash probe — a few
    // term bits of 64, so most non-matching tokens cost two byte
    // reads instead of a murmur hash
    private var sigMask = 0L
    private[functions] var tfs: Array[Int] = new Array[Int](0)

    /** 6-bit signature of a string's length, first and last byte. */
    private def sig(u: UTF8String): Int = {
      val n = u.numBytes()
      if (n == 0) 0 else (n * 7 + u.getByte(0) * 13 + u.getByte(n - 1)) & 63
    }

    /** Points the table at `terms`. The slot table is unique per
      * (field, term) but the STRINGS can repeat across fields, so
      * equal strings chain (`dup`) and a token hit increments the
      * whole chain — each chained slot's tf is then correct
      * regardless of which purpose the slot serves. */
    private def load(terms: ArrayData): Unit = if (!(stable && (terms eq loaded))) {
      loaded = terms
      if (terms.numElements() != m) {
        m = terms.numElements()
        termStrs = new Array[UTF8String](m)
        tfs = new Array[Int](m)
        hashes = new Array[Int](m)
        dup = new Array[Int](m)
        cap = 4
        while (cap < m * 2 + 1) cap <<= 1
        slots = new Array[Int](cap)
      }
      java.util.Arrays.fill(slots, -1)
      java.util.Arrays.fill(dup, -1)
      java.util.Arrays.fill(termStrs.asInstanceOf[Array[AnyRef]], null)
      sigMask = 0L
      var j = 0
      while (j < m) {
        if (!terms.isNullAt(j)) {
          val ts = terms.getUTF8String(j)
          termStrs(j) = ts
          sigMask |= 1L << sig(ts)
          val h = ts.hashCode
          hashes(j) = h
          var p = h & (cap - 1)
          var chained = false
          while (!chained && slots(p) != -1) {
            val s0 = slots(p)
            if (hashes(s0) == h && termStrs(s0).equals(ts)) {
              // equal string under another slot: join its chain
              dup(j) = dup(s0); dup(s0) = j; chained = true
            } else p = (p + 1) & (cap - 1)
          }
          if (!chained) slots(p) = j
        }
        j += 1
      }
    }

    /** tf per term slot of `tokens`: O(dl) token lookups, no per-row
      * allocation once the table is loaded. Slots holding filter attr
      * names or keyword-field terms also count (never read as text
      * tf). */
    def count(terms: ArrayData, tokens: ArrayData): Unit = {
      load(terms)
      java.util.Arrays.fill(tfs, 0)
      val n = tokens.numElements()
      var i = 0
      while (i < n) {
        if (!tokens.isNullAt(i)) {
          val tok = tokens.getUTF8String(i)
          if (((sigMask >>> sig(tok)) & 1L) != 0L) {
            val h = tok.hashCode
            var p = h & (cap - 1)
            var s = slots(p)
            while (s != -1 && !(hashes(s) == h && termStrs(s).equals(tok))) {
              p = (p + 1) & (cap - 1)
              s = slots(p)
            }
            while (s != -1) { tfs(s) += 1; s = dup(s) }
          }
        }
        i += 1
      }
    }
  }

  /** Static so generated code can call it directly. The per-row tf
    * table is built LAZILY by `table` (a pair rejected by a filter on
    * the cheap AND spine never scans the token array at all): O(dl)
    * hashed token lookups instead of the O(dl x m) nested equals
    * loop. Then the interpreter walks the pre-order program once;
    * score summation follows program order, which is deterministic
    * per shape, so results are partitioning-independent. */
  def compute(tokens: ArrayData, ops: ArrayData, terms: ArrayData,
      doubles: ArrayData, attrs: org.apache.spark.sql.catalyst.util.MapData,
      attrsStr: org.apache.spark.sql.catalyst.util.MapData,
      xtokens: org.apache.spark.sql.catalyst.util.MapData,
      xavgdl: org.apache.spark.sql.catalyst.util.MapData,
      kind: Int, k1: Double, b: Double, avgdl: Double, table: TermTable)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = tokens.numElements()
    var tfs: Array[Int] = null
    var termStrs: Array[UTF8String] = null
    def ensureTfs(): Unit = if (tfs == null) {
      table.count(terms, tokens)
      tfs = table.tfs
      termStrs = table.termStrs
    }
    val dl = n.toDouble
    val constOff = terms.numElements() // consts follow the idf prefix in `doubles`

    def simOf(tf: Double, idf: Double): Double =
      if (kind == 0) idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
      else math.sqrt(tf) * (idf * idf) / math.sqrt(dl)

    // attr lookups: linear scan of the (small) maps — |filter fields|
    // entries; return null when absent or null-valued
    def attrOf(slot: Int): java.lang.Double = {
      if (attrs == null) return null
      val name = terms.getUTF8String(slot)
      val keys = attrs.keyArray()
      var p = 0
      val np = attrs.numElements()
      while (p < np) {
        if (keys.getUTF8String(p).equals(name)) {
          return if (attrs.valueArray().isNullAt(p)) null
          else java.lang.Double.valueOf(attrs.valueArray().getDouble(p))
        }
        p += 1
      }
      null
    }
    def strAttrOf(slot: Int): UTF8String = {
      if (attrsStr == null) return null
      val name = terms.getUTF8String(slot)
      val keys = attrsStr.keyArray()
      var p = 0
      val np = attrsStr.numElements()
      while (p < np) {
        if (keys.getUTF8String(p).equals(name)) {
          return if (attrsStr.valueArray().isNullAt(p)) null
          else attrsStr.valueArray().getUTF8String(p)
        }
        p += 1
      }
      null
    }
    // keyword-field term score: tf 1, dl 1, avgdl 1 (a keyword value
    // is one whole term)
    def kwSim(idf: Double): Double =
      if (kind == 0) idf * (k1 + 1.0) / (1.0 + k1) else idf * idf

    // cross-field (X*) leaf state: the token array + avgdl of the
    // last-resolved secondary text field (queries overwhelmingly
    // reference one; the 1-entry cache makes repeat leaves free).
    // A null array (doc has null text there, or the field is absent
    // from the map) means every leaf on it is unmatched — the scan
    // compiler's null-tokens behavior.
    var xfName: UTF8String = null
    var xfArr: ArrayData = null
    var xfAvg: Double = 1.0
    def xFieldOf(slot: Int): Unit = {
      val name = terms.getUTF8String(slot)
      if (xfName != null && xfName.equals(name)) return
      xfName = name
      xfArr = null
      xfAvg = 1.0
      if (xtokens != null) {
        val keys = xtokens.keyArray()
        var p = 0
        val np = xtokens.numElements()
        while (p < np) {
          if (keys.getUTF8String(p).equals(name)) {
            if (!xtokens.valueArray().isNullAt(p))
              xfArr = xtokens.valueArray().getArray(p)
            p = np
          } else p += 1
        }
      }
      if (xavgdl != null) {
        val keys = xavgdl.keyArray()
        var p = 0
        val np = xavgdl.numElements()
        while (p < np) {
          if (keys.getUTF8String(p).equals(name)) {
            if (!xavgdl.valueArray().isNullAt(p))
              xfAvg = xavgdl.valueArray().getDouble(p)
            p = np
          } else p += 1
        }
      }
    }
    def xtf(term: UTF8String): Int =
      if (xfArr == null) 0
      else {
        var c = 0
        var i = 0
        val nx = xfArr.numElements()
        while (i < nx) {
          if (!xfArr.isNullAt(i) && xfArr.getUTF8String(i).equals(term)) c += 1
          i += 1
        }
        c
      }
    // secondary-field similarity: that field's dl and avgdl
    def xsim(tf: Double, idf: Double): Double = {
      val xdl = if (xfArr == null) 0.0 else xfArr.numElements().toDouble
      if (kind == 0) idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * xdl / xfAvg))
      else math.sqrt(tf) * (idf * idf) / math.sqrt(xdl)
    }

    var pc = 0
    def next(): Int = { val v = ops.getInt(pc); pc += 1; v }
    // NOT `pc += next()`: compound assignment saves the OLD pc before
    // evaluating the RHS, so next()'s own increment would be lost —
    // the skip would land one int short (on the last slot), and the
    // next skip would parse garbage from unchecked UnsafeArrayData
    // offsets (harmless for results — skips only run after a failed
    // root conjunct already decided the row — but undefined reads)
    def skipN(): Unit = { val n = next(); pc += n }
    // advances pc over one subtree without evaluating it (used by the
    // root-AND short-circuit: a failed conjunct discards the row, so
    // the sibling's score can never be observed)
    def skip(): Unit = next() match {
      case Op.AND | Op.OR => skip(); skip()
      case Op.NOT | Op.SHOULD => skip()
      case Op.BOOST => pc += 1; skip()
      case Op.TERM => pc += 1
      case Op.ALL | Op.ANY | Op.SYN => skipN()
      case Op.MIN => pc += 1; skipN()
      case Op.PHRASE => pc += 1; skipN()
      case Op.NEAR => pc += 3
      case Op.CMP | Op.RANGE | Op.STRCMP | Op.STRRANGE => pc += 3
      case Op.INSET => pc += 1; skipN()
      case Op.EXISTS | Op.MISSING => pc += 1
      case Op.KWTERM => pc += 2
      case Op.KWALL | Op.KWANY | Op.KWSYN => pc += 1; skipN()
      case Op.KWMIN => pc += 2; skipN()
      case Op.STREQ => pc += 2
      case Op.STRIN => pc += 1; skipN()
      case Op.CANY => skipN()
      case Op.KWCANY => pc += 1; skipN()
      case Op.XTERM => pc += 2
      case Op.XALL | Op.XANY | Op.XCANY | Op.XSYN => pc += 1; skipN()
      case Op.XMIN | Op.XPHRASE => pc += 2; skipN()
      case Op.XNEAR => pc += 4
      case Op.DISMAX =>
        val n = next(); pc += 1
        var j = 0
        while (j < n) { skip(); j += 1 }
      case Op.CONSTSC => pc += 1; skip()
      case Op.FUNCSC => pc += 2; skip()
      case Op.DEMOTE => pc += 1; skip(); skip()
      case _ => () // ALLDOCS / NOMATCH / TRUEZERO
    }
    // returns (matched, score); ONLY leaves gate score on match
    def ev(): (Boolean, Double) = next() match {
      case Op.ALLDOCS => (true, 1.0)
      case Op.AND =>
        val l = ev(); val r = ev(); (l._1 && r._1, l._2 + r._2)
      case Op.OR =>
        val l = ev(); val r = ev(); (l._1 || r._1, l._2 + r._2)
      case Op.NOT =>
        val c = ev(); (!c._1, 0.0)
      case Op.SHOULD =>
        val c = ev(); (true, c._2)
      case Op.BOOST =>
        val f = doubles.getDouble(constOff + next())
        val c = ev(); (c._1, c._2 * f)
      case Op.DISMAX =>
        // best child score + tie x the rest. Child scores follow the
        // engine's And/Or convention: LEAVES gate their own score on
        // their own match, composite children contribute their score
        // mass whether or not their predicate holds
        val n = next()
        val tie = doubles.getDouble(constOff + next())
        // mx starts at -Inf (not 0) so max semantics match the scan
        // compiler's greatest() even when every clause score is
        // negative (e.g. a negative Boost factor)
        var any = false; var mx = Double.NegativeInfinity; var total = 0.0
        var j = 0
        while (j < n) {
          val c = ev()
          if (c._1) any = true
          total += c._2
          if (c._2 > mx) mx = c._2
          j += 1
        }
        (any, if (any) mx + tie * (total - mx) else 0.0)
      case Op.CONSTSC =>
        val b = doubles.getDouble(constOff + next())
        val c = ev()
        (c._1, if (c._1) b else 0.0)
      case Op.FUNCSC =>
        // field-value-factor: child x (1 + factor x ln(1 + max(v, 0)));
        // NULL or negative signal = no boost
        val f = next()
        val factor = doubles.getDouble(constOff + next())
        val c = ev()
        val av = attrOf(f)
        val v = if (av == null) 0.0 else math.max(av.doubleValue(), 0.0)
        (c._1, c._2 * (1.0 + factor * math.log(1.0 + v)))
      case Op.DEMOTE =>
        // soft Not: positive decides the match; a matching negative
        // clause scales the score by the factor
        val factor = doubles.getDouble(constOff + next())
        val p = ev()
        val n = ev()
        (p._1, if (n._1) p._2 * factor else p._2)
      case Op.TERM =>
        val t = next()
        ensureTfs()
        val tf = tfs(t)
        (tf > 0, if (tf > 0) simOf(tf.toDouble, doubles.getDouble(t)) else 0.0)
      case Op.ALL =>
        val cnt = next()
        ensureTfs()
        var all = true; var s = 0.0
        var j = 0
        while (j < cnt) {
          val t = next(); val tf = tfs(t)
          if (tf > 0) s += simOf(tf.toDouble, doubles.getDouble(t)) else all = false
          j += 1
        }
        (all, s)
      case Op.ANY =>
        val cnt = next()
        ensureTfs()
        var any = false; var s = 0.0
        var j = 0
        while (j < cnt) {
          val t = next(); val tf = tfs(t)
          if (tf > 0) { any = true; s += simOf(tf.toDouble, doubles.getDouble(t)) }
          j += 1
        }
        (any, s)
      case Op.SYN =>
        // SynonymQuery pseudo-term: tf = sum of variant tfs, idf =
        // min of variant idfs (idf of the max-df variant)
        val cnt = next()
        ensureTfs()
        var tfSum = 0; var idfMin = Double.MaxValue
        var j = 0
        while (j < cnt) {
          val t = next(); tfSum += tfs(t)
          val i = doubles.getDouble(t); if (i < idfMin) idfMin = i
          j += 1
        }
        (tfSum > 0, if (tfSum > 0) simOf(tfSum.toDouble, idfMin) else 0.0)
      case Op.MIN =>
        val min = next(); val cnt = next()
        ensureTfs()
        var nm = 0; var s = 0.0
        var j = 0
        while (j < cnt) {
          val t = next(); val tf = tfs(t)
          if (tf > 0) { nm += 1; s += simOf(tf.toDouble, doubles.getDouble(t)) }
          j += 1
        }
        (nm >= min, s)
      case Op.PHRASE =>
        val slop = next(); val cnt = next()
        ensureTfs()
        val idxs = new Array[Int](cnt)
        var j = 0
        while (j < cnt) { idxs(j) = next(); j += 1 }
        var idf = 0.0
        var present = true
        j = 0
        while (j < cnt) {
          idf += doubles.getDouble(idxs(j))
          if (tfs(idxs(j)) == 0) present = false
          j += 1
        }
        // early-out: the positional scan can't match unless every
        // constituent term occurs (tf table already knows)
        if (!present) (false, 0.0)
        else {
          val phrase = new org.apache.spark.sql.catalyst.util.GenericArrayData(
            idxs.map(t => termStrs(t): Any))
          val tf = PhraseCount.compute(tokens, phrase, slop)
          (tf > 0, if (tf > 0) simOf(tf.toDouble, idf) else 0.0)
        }
      case Op.NEAR =>
        val dist = next(); val ta = next(); val tb = next()
        ensureTfs()
        if (tfs(ta) == 0 || tfs(tb) == 0) (false, 0.0)
        else {
          val tf = NearCount.compute(tokens, termStrs(ta), termStrs(tb), dist)
          val idf = doubles.getDouble(ta) + doubles.getDouble(tb)
          (tf > 0, if (tf > 0) simOf(tf.toDouble, idf) else 0.0)
        }
      case Op.CMP =>
        val op = next(); val slot = next(); val c = doubles.getDouble(constOff + next())
        val av = attrOf(slot)
        val ok = av != null && (op match {
          case 0 => av.doubleValue() == c
          case 1 => av.doubleValue() > c
          case 2 => av.doubleValue() >= c
          case 3 => av.doubleValue() < c
          case _ => av.doubleValue() <= c
        })
        (ok, 0.0)
      case Op.RANGE =>
        val slot = next()
        val lo = doubles.getDouble(constOff + next())
        val hi = doubles.getDouble(constOff + next())
        val av = attrOf(slot)
        (av != null && av.doubleValue() >= lo && av.doubleValue() <= hi, 0.0)
      case Op.STRCMP =>
        val op = next(); val f = next(); val t = next()
        val v = strAttrOf(f)
        val ok = v != null && {
          val c = v.compareTo(terms.getUTF8String(t))
          op match {
            case 0 => c == 0
            case 1 => c > 0
            case 2 => c >= 0
            case 3 => c < 0
            case _ => c <= 0
          }
        }
        (ok, 0.0)
      case Op.STRRANGE =>
        val f = next(); val lo = next(); val hi = next()
        val v = strAttrOf(f)
        (v != null && v.compareTo(terms.getUTF8String(lo)) >= 0 &&
          v.compareTo(terms.getUTF8String(hi)) <= 0, 0.0)
      case Op.INSET =>
        val slot = next(); val cnt = next()
        val av = attrOf(slot)
        var found = false
        var j = 0
        while (j < cnt) {
          val c = doubles.getDouble(constOff + next())
          if (av != null && av.doubleValue() == c) found = true
          j += 1
        }
        (found, 0.0)
      case Op.EXISTS =>
        val slot = next()
        (attrOf(slot) != null || strAttrOf(slot) != null, 0.0)
      case Op.MISSING =>
        val slot = next()
        (attrOf(slot) == null && strAttrOf(slot) == null, 0.0)
      case Op.NOMATCH => (false, 0.0)
      case Op.TRUEZERO => (true, 0.0)
      case Op.KWTERM =>
        val f = next(); val t = next()
        val v = strAttrOf(f)
        val hit = v != null && v.equals(terms.getUTF8String(t))
        (hit, if (hit) kwSim(doubles.getDouble(t)) else 0.0)
      case Op.KWALL =>
        val f = next(); val cnt = next()
        val v = strAttrOf(f)
        var all = true; var s = 0.0
        var j = 0
        while (j < cnt) {
          val t = next()
          if (v != null && v.equals(terms.getUTF8String(t)))
            s += kwSim(doubles.getDouble(t))
          else all = false
          j += 1
        }
        (all, s)
      case Op.KWANY =>
        val f = next(); val cnt = next()
        val v = strAttrOf(f)
        var any = false; var s = 0.0
        var j = 0
        while (j < cnt) {
          val t = next()
          if (v != null && v.equals(terms.getUTF8String(t))) {
            any = true; s += kwSim(doubles.getDouble(t))
          }
          j += 1
        }
        (any, s)
      case Op.KWSYN =>
        // keyword synonym group: the value is a single term, so tf is
        // 0/1 — hit iff the value is any variant, scored at the
        // group's min idf (the SynonymQuery pseudo-term on tf = 1)
        val f = next(); val cnt = next()
        val v = strAttrOf(f)
        var hit = false; var idfMin = Double.MaxValue
        var j = 0
        while (j < cnt) {
          val t = next()
          if (v != null && v.equals(terms.getUTF8String(t))) hit = true
          val i = doubles.getDouble(t); if (i < idfMin) idfMin = i
          j += 1
        }
        (hit, if (hit) kwSim(idfMin) else 0.0)
      case Op.KWMIN =>
        val f = next(); val min = next(); val cnt = next()
        val v = strAttrOf(f)
        var nm = 0; var s = 0.0
        var j = 0
        while (j < cnt) {
          val t = next()
          if (v != null && v.equals(terms.getUTF8String(t))) {
            nm += 1; s += kwSim(doubles.getDouble(t))
          }
          j += 1
        }
        (nm >= min, s)
      case Op.STREQ =>
        val f = next(); val t = next()
        val v = strAttrOf(f)
        (v != null && v.equals(terms.getUTF8String(t)), 0.0)
      case Op.STRIN =>
        val f = next(); val cnt = next()
        val v = strAttrOf(f)
        var found = false
        var j = 0
        while (j < cnt) {
          val t = next()
          if (v != null && v.equals(terms.getUTF8String(t))) found = true
          j += 1
        }
        (found, 0.0)
      // constant-score any-of-terms (rewritten dictionary-expansion
      // leaf — Lucene CONSTANT_SCORE rewrite: matching docs score
      // 1.0 regardless of tf/idf)
      case Op.CANY =>
        val cnt = next()
        ensureTfs()
        var any = false
        var j = 0
        while (j < cnt) { if (tfs(next()) > 0) any = true; j += 1 }
        (any, if (any) 1.0 else 0.0)
      case Op.KWCANY =>
        val f = next(); val cnt = next()
        val v = strAttrOf(f)
        var any = false
        var j = 0
        while (j < cnt) {
          val t = next()
          if (v != null && v.equals(terms.getUTF8String(t))) any = true
          j += 1
        }
        (any, if (any) 1.0 else 0.0)
      // cross-field text leaves: tf/dl from the secondary field's
      // token array, avgdl from the per-field map, idf per slot
      case Op.XTERM =>
        val f = next(); val t = next()
        xFieldOf(f)
        val tf = xtf(terms.getUTF8String(t))
        (tf > 0, if (tf > 0) xsim(tf.toDouble, doubles.getDouble(t)) else 0.0)
      case Op.XALL =>
        val f = next(); val cnt = next()
        xFieldOf(f)
        var all = true; var s = 0.0
        var j = 0
        while (j < cnt) {
          val t = next(); val tf = xtf(terms.getUTF8String(t))
          if (tf > 0) s += xsim(tf.toDouble, doubles.getDouble(t)) else all = false
          j += 1
        }
        (all, s)
      case Op.XANY =>
        val f = next(); val cnt = next()
        xFieldOf(f)
        var any = false; var s = 0.0
        var j = 0
        while (j < cnt) {
          val t = next(); val tf = xtf(terms.getUTF8String(t))
          if (tf > 0) { any = true; s += xsim(tf.toDouble, doubles.getDouble(t)) }
          j += 1
        }
        (any, s)
      case Op.XSYN =>
        // cross-field SynonymQuery pseudo-term on the secondary
        // field's token array
        val f = next(); val cnt = next()
        xFieldOf(f)
        var tfSum = 0; var idfMin = Double.MaxValue
        var j = 0
        while (j < cnt) {
          val t = next(); tfSum += xtf(terms.getUTF8String(t))
          val i = doubles.getDouble(t); if (i < idfMin) idfMin = i
          j += 1
        }
        (tfSum > 0, if (tfSum > 0) xsim(tfSum.toDouble, idfMin) else 0.0)
      case Op.XMIN =>
        val f = next(); val min = next(); val cnt = next()
        xFieldOf(f)
        var nm = 0; var s = 0.0
        var j = 0
        while (j < cnt) {
          val t = next(); val tf = xtf(terms.getUTF8String(t))
          if (tf > 0) { nm += 1; s += xsim(tf.toDouble, doubles.getDouble(t)) }
          j += 1
        }
        (nm >= min, s)
      case Op.XCANY =>
        val f = next(); val cnt = next()
        xFieldOf(f)
        var any = false
        var j = 0
        while (j < cnt) { if (xtf(terms.getUTF8String(next())) > 0) any = true; j += 1 }
        (any, if (any) 1.0 else 0.0)
      case Op.XPHRASE =>
        val f = next(); val slop = next(); val cnt = next()
        xFieldOf(f)
        val idxs = new Array[Int](cnt)
        var j = 0
        while (j < cnt) { idxs(j) = next(); j += 1 }
        if (xfArr == null) (false, 0.0)
        else {
          var idf = 0.0
          j = 0
          while (j < cnt) { idf += doubles.getDouble(idxs(j)); j += 1 }
          val phrase = new org.apache.spark.sql.catalyst.util.GenericArrayData(
            idxs.map(t => terms.getUTF8String(t): Any))
          val tf = PhraseCount.compute(xfArr, phrase, slop)
          (tf > 0, if (tf > 0) xsim(tf.toDouble, idf) else 0.0)
        }
      case Op.XNEAR =>
        val f = next(); val dist = next(); val ta = next(); val tb = next()
        xFieldOf(f)
        if (xfArr == null) (false, 0.0)
        else {
          val tf = NearCount.compute(xfArr, terms.getUTF8String(ta),
            terms.getUTF8String(tb), dist)
          val idf = doubles.getDouble(ta) + doubles.getDouble(tb)
          (tf > 0, if (tf > 0) xsim(tf.toDouble, idf) else 0.0)
        }
      case Op.EXPAND => throw new IllegalStateException(
        "dsl_query_score: unrewritten EXPAND placeholder — programs with " +
          "dictionary-expansion leaves must pass through QueryProgram.substitute")
      case other => throw new IllegalStateException(
        s"dsl_query_score: corrupt program, opcode $other at ${pc - 1}")
    }
    // root-AND spine: a failed conjunct means the row is discarded
    // (the caller filters on `ok`), so the sibling subtree — often
    // the expensive phrase/OR side, which the serializer orders
    // LAST — is skipped, score and all. Combined with the
    // cheapest-first And ordering and the lazy tf table, a pair
    // rejected by an attribute filter costs O(program), not O(dl).
    def evRoot(): (Boolean, Double) = {
      if (ops.getInt(pc) == Op.AND) {
        pc += 1
        val l = evRoot()
        if (!l._1) { skip(); (false, 0.0) }
        else {
          val r = evRoot()
          (r._1, l._2 + r._2)
        }
      } else ev()
    }

    val (ok, score) = evRoot()
    org.apache.spark.sql.catalyst.InternalRow(ok, score)
  }
}

object SearchExpressions {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[ArrayCountEq].getName, null, name, usage, "")

  /** The full native-function surface as (identifier, info, builder)
    * triples — the single source both [[register]] (runtime
    * registration) and [[graft.GraftExtensions]] (the
    * `spark.sql.extensions` deployment path) install from. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("array_count_eq"),
      info("array_count_eq", "array_count_eq(arr, term) - occurrences of term in arr"),
      (exprs: Seq[Expression]) => ArrayCountEq(exprs(0), exprs(1))),
    (FunctionIdentifier("phrase_count"),
      info("phrase_count", "phrase_count(arr, phrase[, slop]) - in-order occurrences of phrase in arr within slop extra positions"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(a, p) => PhraseCount(a, p)
        case Seq(a, p, s) => PhraseCount(a, p, s.eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"phrase_count slop must be a foldable integer, got $other")
        })
        case _ => throw new IllegalArgumentException(
          "phrase_count takes 2 or 3 arguments")
      }),
    (FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two double arrays"),
      (exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))),
    (FunctionIdentifier("array_count_in"),
      info("array_count_in", "array_count_in(arr, words) - count of arr elements present in words"),
      (exprs: Seq[Expression]) => ArrayCountIn(exprs(0), exprs(1))),
    (FunctionIdentifier("array_total_strlen"),
      info("array_total_strlen", "array_total_strlen(arr) - total char length of arr elements"),
      (exprs: Seq[Expression]) => ArrayTotalStrLen(exprs(0))),
    (FunctionIdentifier("winnow_fingerprint"),
      info("winnow_fingerprint",
        "winnow_fingerprint(tokens, n, w) - winnowing selection struct(n_selected, fp_winnow)"),
      (exprs: Seq[Expression]) => WinnowFingerprint(exprs(0),
        exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int])),
    (FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes",
        "shingle_hashes(tokens, n) - sorted distinct 60-bit md5-prefix hashes of n-token shingles"),
      (exprs: Seq[Expression]) => ShingleHashes(exprs(0),
        exprs(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("shingle_strings"),
      info("shingle_strings",
        "shingle_strings(tokens, n) - distinct space-joined n-token shingles, first-occurrence order"),
      (exprs: Seq[Expression]) => ShingleStrings(exprs(0),
        exprs(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("gram_hashes"),
      info("gram_hashes",
        "gram_hashes(tokens, n) - positional (unsorted, undeduplicated) 60-bit md5-prefix hashes of n-token grams"),
      (exprs: Seq[Expression]) => GramHashes(exprs(0),
        exprs(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("winnow_hashes"),
      info("winnow_hashes",
        "winnow_hashes(tokens, n, w) - sorted distinct winnowing-selected shingle hashes"),
      (exprs: Seq[Expression]) => WinnowHashes(exprs(0),
        exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int])),
    (FunctionIdentifier("repetition_stats"),
      info("repetition_stats",
        "repetition_stats(tokens) - struct(top2_chars, dup5_chars) repetition signals"),
      (exprs: Seq[Expression]) => RepetitionStats(exprs(0))),
    (FunctionIdentifier("min_shingle_md5"),
      info("min_shingle_md5",
        "min_shingle_md5(tokens, n) - minimum md5 hex over n-token shingles, NULL if < n tokens"),
      (exprs: Seq[Expression]) => MinShingleMd5(exprs(0),
        exprs(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("simhash64"),
      info("simhash64",
        "simhash64(tokens) - 64-bit SimHash fingerprint of the token array, one in-row pass"),
      (exprs: Seq[Expression]) => Simhash64(exprs(0))),
    (FunctionIdentifier("multi_count_in"),
      info("multi_count_in",
        "multi_count_in(tokens, lists) - per-list membership counts over several word lists in one pass"),
      (exprs: Seq[Expression]) => {
        val ad = exprs(1).eval().asInstanceOf[ArrayData]
        val lists = (0 until ad.numElements()).map { i =>
          val inner = ad.getArray(i)
          (0 until inner.numElements()).map(j => inner.getUTF8String(j).toString).toSeq
        }.toSeq
        MultiCountIn(exprs(0), lists)
      }),
    (FunctionIdentifier("multi_substr_count"),
      info("multi_substr_count",
        "multi_substr_count(text, lists) - per-list non-overlapping substring occurrence totals in one pass"),
      (exprs: Seq[Expression]) => {
        val ad = exprs(1).eval().asInstanceOf[ArrayData]
        val lists = (0 until ad.numElements()).map { i =>
          val inner = ad.getArray(i)
          (0 until inner.numElements()).map(j => inner.getUTF8String(j).toString).toSeq
        }.toSeq
        MultiSubstrCount(exprs(0), lists)
      }),
    (FunctionIdentifier("near_count"),
      info("near_count",
        "near_count(tokens, a, b, dist) - unordered proximity pairs of a and b within dist positions"),
      (exprs: Seq[Expression]) => NearCount(exprs(0), exprs(1), exprs(2),
        exprs(3).eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"near_count dist must be a foldable integer, got $other")
        })),
    (FunctionIdentifier("bool_query_score"),
      info("bool_query_score",
        "bool_query_score(tokens, terms, roles, idfs, kind, k1, b, avgdl) - struct(score, req, opt, exc) boolean clause verification + similarity over a token array"),
      (exprs: Seq[Expression]) => BoolQueryScore(exprs(0), exprs(1), exprs(2), exprs(3),
        exprs(4).eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"bool_query_score kind must be a foldable integer, got $other")
        },
        exprs(5).eval().asInstanceOf[Double],
        exprs(6).eval().asInstanceOf[Double],
        exprs(7).eval().asInstanceOf[Double])),
    (FunctionIdentifier("name_map"),
      info("name_map", "name_map(names, value1, ..., valueN) - map from the distinct literal names to the row's values, values referenced rather than copied"),
      (exprs: Seq[Expression]) => NameMap(
        exprs.head.eval().asInstanceOf[ArrayData].toArray[UTF8String](StringType).map(_.toString).toSeq,
        exprs.tail)),
    (FunctionIdentifier("eval_once"),
      info("eval_once", "eval_once(expr) - expr, evaluated once per row: never copied into a pushed-down filter"),
      (exprs: Seq[Expression]) => EvalOnce(exprs.head)),
    (FunctionIdentifier("dsl_query_score"),
      info("dsl_query_score",
        "dsl_query_score(tokens, ops, terms, doubles, attrs, attrs_str, xtokens, xavgdl, kind, k1, b, avgdl) - struct(ok, score) nested-AST query verification + similarity over a token array"),
      (exprs: Seq[Expression]) => DslQueryScore(exprs(0), exprs(1), exprs(2), exprs(3),
        exprs(4), exprs(5), exprs(6), exprs(7),
        exprs(8).eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"dsl_query_score kind must be a foldable integer, got $other")
        },
        exprs(9).eval().asInstanceOf[Double],
        exprs(10).eval().asInstanceOf[Double],
        exprs(11).eval().asInstanceOf[Double])))

  /** Registers the expressions in the session's FunctionRegistry so
    * they are callable from both `functions.call_function` and SQL
    * text (SURVEY §7 Phase 3). Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, fnInfo, builder) =>
      reg.registerFunction(id, fnInfo, builder)
    }
  }
}
