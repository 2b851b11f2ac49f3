package graft.search

import graft.dsl.{QueryProgram, SearchQuery}
import graft.functions.DslQueryScore
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenEvaluatorFactory, WholeStageCodegenExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

import scala.util.control.NonFatal

/** One scan-path search, ready to run: the index, the query (for
  * `EXPLAIN`), its serialized program, the program's doubles (per-slot
  * IDFs ++ consts), k and, when a projection of plain columns sits on
  * top of it (`lightSearch`), the result columns it keeps (None: all).
  * [[plan]] gives a physical plan of its own on every call, on the
  * driver: a task closure that serializes the plan node carrying this
  * search leaves the index behind. */
final case class ScanSearch(@transient index: SearchIndex, query: SearchQuery,
    program: QueryProgram, doubles: Seq[Double], k: Int, columns: Option[Seq[String]] = None) {
  def plan(): BoundScan = index.scanPlan(program, doubles, k, columns)
}

/** One search's physical plan, shared with no other search, and the
  * scan stage its collect runs: `stage` when the plan was bound from a
  * [[ScanTemplate]], None for a plan planned from the start (its own
  * whole-stage codegen then generates the stage when it runs). */
private[graft] final case class BoundScan(plan: SparkPlan, stage: Option[BoundStage])

/** The scan stage of a bound plan, run from its template's generated
  * code: `code` is the template stage's cleaned source and `refs` the
  * references array of this search (its program values and its own
  * plan nodes' metrics). [[execute]] is the stage's RDD as
  * `WholeStageCodegenExec.doExecute` builds it, with no Java source
  * generated, formatted or hashed on the driver. */
private[graft] final class BoundStage(stage: WholeStageCodegenExec,
    code: CodeAndComment, refs: Array[Any]) {
  def execute(): RDD[InternalRow] = {
    stage.prepare()
    stage.child.asInstanceOf[CodegenSupport].inputRDDs().head.mapPartitionsWithEvaluator(
      new WholeStageCodegenEvaluatorFactory(Right(code), stage.longMetric("pipelineTime"), refs))
  }
}

/** The executed plan of one scan-path search, kept to be re-bound by
  * later searches of the same index: two searches' plans differ only
  * in the `dsl_query_score` program literals and the limit, so a bound
  * copy skips analysis, optimization and physical planning. Where
  * Spark runs the plan's scan stage from generated code, its Java
  * source is generated once, here: codegen emits the program literals
  * as reference objects, so every bound copy's stage is this `code`
  * with a references array of its own, laid out by `slots` (`stage`;
  * None where the stage is not generated code a bind can reuse, and a
  * bound copy then runs its own stage). `cache` is the docs cache the
  * plan scans (by identity; None for none): the template is used only
  * while that is still the docs cache. Never executed itself; every
  * bind executes a deep copy of its own. */
private[search] final class ScanTemplate private (plan: TakeOrderedAndProjectExec,
    cache: Option[AnyRef], stage: Option[(CodeAndComment, Seq[ScanTemplate.Slot])]) {
  import ScanTemplate._

  /** Does the template scan `current`, the registered docs cache? */
  def scans(current: Option[AnyRef]): Boolean = (cache, current) match {
    case (Some(a), Some(b)) => a eq b
    case (a, b) => a.isEmpty && b.isEmpty
  }

  /** A fresh copy of the plan with `lits` (ops, terms, doubles) as its
    * scorer's program and `k` as its limit, with its scan stage bound
    * to the template's code when there is one, or None when a fresh
    * plan of `k` would not end in TakeOrderedAndProject. Call with the
    * index's session active. */
  def bind(lits: Seq[Literal], k: Int): Option[BoundScan] =
    if (k >= SQLConf.get.topKSortFallbackThreshold) None
    else plan.clone().transformAllExpressions {
      case d: DslQueryScore => d.copy(ops = lits(0), terms = lits(1), doubles = lits(2))
    } match {
      case t: TakeOrderedAndProjectExec =>
        val bound = stage.map { case (code, slots) =>
          val s = t.child.asInstanceOf[WholeStageCodegenExec]
          val nodes = s.collect { case p => p }
          val refs = slots.map {
            case Program(i) => lits(i).value
            case Metric(node, name) => nodes(node).metrics(name)
            case Fixed(v) => v
          }
          new BoundStage(s, code, refs.toArray[Any])
        }
        Some(BoundScan(t.copy(limit = k), bound))
      case _ => None
    }
}

private[search] object ScanTemplate {

  /** At most this many templates per index (distinct doc-side input
    * sets x session confs); the least recently used goes first. */
  val MaxPerIndex = 8

  /** A slot of the stage's references array: the scorer's program
    * value `i` (ops, terms, doubles), the metric `name` of the stage
    * node at pre-order position `node`, or a value no task writes to,
    * shared by every bind. */
  sealed trait Slot
  final case class Program(i: Int) extends Slot
  final case class Metric(node: Int, name: String) extends Slot
  final case class Fixed(value: AnyRef) extends Slot

  /** A template of `plan` if a bind can reproduce it: the root is a
    * TakeOrderedAndProject without offset (an adaptive root, for one,
    * is not), exactly one `dsl_query_score` carries the program as
    * literals, and every cache it scans is `cache`. The template keeps
    * a deep copy, so `plan` itself may still run, and its
    * [[stageCode]]. */
  def of(plan: SparkPlan, cache: Option[AnyRef]): Option[ScanTemplate] = plan match {
    case t: TakeOrderedAndProjectExec if t.offset == 0 =>
      val literal = scorers(t).forall(d =>
        Seq(d.ops, d.terms, d.doubles).forall(_.isInstanceOf[Literal]))
      val caches = t.collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
      if (scorers(t).length == 1 && literal && caches.forall(c => cache.exists(_ eq c))) {
        val copy = t.clone().asInstanceOf[TakeOrderedAndProjectExec]
        Some(new ScanTemplate(copy, cache, stageCode(copy)))
      } else None
    case _ => None
  }

  /** The code of the plan's scan stage, generated once, and its
    * references' slots; None where the root's child is not one
    * whole-stage-codegen stage with one input, where Spark would not
    * run the stage from generated code (it does not compile, or a
    * method exceeds `hugeMethodLimit`) or would ship
    * the source as a broadcast (a `broadcastCleanedSourceThreshold` is
    * set), where a reference is neither a program value nor a metric
    * of the stage and may be written by a task, or where a program
    * value is not a reference (the code would hold that search's
    * program). */
  private def stageCode(t: TakeOrderedAndProjectExec)
      : Option[(CodeAndComment, Seq[Slot])] = t.child match {
    case stage: WholeStageCodegenExec if !stage.exists(_.children.length > 1) =>
      val (ctx, source) = stage.doCodeGen()
      val conf = SQLConf.get
      val runs = conf.broadcastCleanedSourceThreshold < 0 &&
        (try CodeGenerator.compile(source)._2.maxMethodCodeSize <= conf.hugeMethodLimit
        catch { case NonFatal(_) => false })
      val program = scorers(stage).flatMap(d => Seq(d.ops, d.terms, d.doubles))
        .map(_.asInstanceOf[Literal].value.asInstanceOf[AnyRef])
      val nodes = stage.collect { case p => p }
      val refs = ctx.references.toSeq.map(_.asInstanceOf[AnyRef])
      val slots = refs.map { r =>
        val i = program.indexWhere(_ eq r)
        if (i >= 0) Some(Program(i))
        else nodes.indices.flatMap(n => nodes(n).metrics.collectFirst {
          case (name, m) if m eq r => Metric(n, name)
        }).headOption.orElse(Some(Fixed(r)).filter(_ => readOnly(r)))
      }
      val bound = program.length == 3 && program.forall(v => refs.exists(_ eq v))
      if (runs && bound && slots.forall(_.isDefined))
        Some((source, slots.flatten))
      else None
    case _ => None
  }

  private def scorers(plan: SparkPlan): Seq[DslQueryScore] =
    plan.collect { case p => p.expressions.flatMap(_.collect { case d: DslQueryScore => d }) }.flatten

  /** A reference no task writes to: a literal's value or a constant. */
  private def readOnly(r: AnyRef): Boolean = r match {
    case null | _: ArrayData | _: MapData | _: UTF8String | _: String | _: Number |
        _: java.lang.Boolean | _: DataType => true
    case _ => false
  }
}
