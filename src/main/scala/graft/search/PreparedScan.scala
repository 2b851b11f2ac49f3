package graft.search

import graft.dsl.{QueryProgram, SearchQuery}
import graft.functions.DslQueryScore
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.internal.SQLConf

/** One scan-path search, ready to run: the index, the query (for
  * `EXPLAIN`), its serialized program, the program's doubles (per-slot
  * IDFs ++ consts), k and, when a projection of plain columns sits on
  * top of it (`lightSearch`), the result columns it keeps (None: all).
  * [[plan]] gives a physical plan of its own on every call, on the
  * driver: a task closure that serializes the plan node carrying this
  * search leaves the index behind. */
final case class ScanSearch(@transient index: SearchIndex, query: SearchQuery,
    program: QueryProgram, doubles: Seq[Double], k: Int, columns: Option[Seq[String]] = None) {
  def plan(): SparkPlan = index.scanPlan(program, doubles, k, columns)
}

/** The executed plan of one scan-path search, kept to be re-bound by
  * later searches of the same index: two searches' plans differ only
  * in the `dsl_query_score` program literals and the limit, so a bound
  * copy skips analysis, optimization and physical planning. `cache` is
  * the docs cache the plan scans (by identity; None for none): the
  * template is used only while that is still the docs cache. Never
  * executed itself; every bind executes a deep copy of its own. */
private[search] final class ScanTemplate private (plan: TakeOrderedAndProjectExec,
    cache: Option[AnyRef]) {

  /** Does the template scan `current`, the registered docs cache? */
  def scans(current: Option[AnyRef]): Boolean = (cache, current) match {
    case (Some(a), Some(b)) => a eq b
    case (a, b) => a.isEmpty && b.isEmpty
  }

  /** A fresh copy of the plan with `lits` (ops, terms, doubles) as its
    * scorer's program and `k` as its limit, or None when a fresh plan
    * of `k` would not end in TakeOrderedAndProject. Call with the
    * index's session active. */
  def bind(lits: Seq[Literal], k: Int): Option[SparkPlan] =
    if (k >= SQLConf.get.topKSortFallbackThreshold) None
    else plan.clone().transformAllExpressions {
      case d: DslQueryScore => d.copy(ops = lits(0), terms = lits(1), doubles = lits(2))
    } match {
      case t: TakeOrderedAndProjectExec => Some(t.copy(limit = k))
      case _ => None
    }
}

private[search] object ScanTemplate {

  /** At most this many templates per index (distinct doc-side input
    * sets x session confs); the least recently used goes first. */
  val MaxPerIndex = 8

  /** A template of `plan` if a bind can reproduce it: the root is a
    * TakeOrderedAndProject without offset (an adaptive root, for one,
    * is not), exactly one `dsl_query_score` carries the program as
    * literals, and every cache it scans is `cache`. The template keeps
    * a deep copy, so `plan` itself may still run. */
  def of(plan: SparkPlan, cache: Option[AnyRef]): Option[ScanTemplate] = plan match {
    case t: TakeOrderedAndProjectExec if t.offset == 0 =>
      val scorers = t.collect { case p => p.expressions.flatMap(_.collect {
        case d: DslQueryScore => d
      }) }.flatten
      val literal = scorers.forall(d =>
        Seq(d.ops, d.terms, d.doubles).forall(_.isInstanceOf[Literal]))
      val caches = t.collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
      if (scorers.length == 1 && literal && caches.forall(c => cache.exists(_ eq c)))
        Some(new ScanTemplate(t.clone().asInstanceOf[TakeOrderedAndProjectExec], cache))
      else None
    case _ => None
  }
}
