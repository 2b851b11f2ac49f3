package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, InterpretedOrdering, InterpretedUnsafeProjection, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec

/** The collect of a bound search's TakeOrderedAndProject (offset 0) as
  * one job over `rows`, the RDD of its child (the scan stage): each
  * task keeps its partition's k best rows in a bounded heap, and the
  * driver merges the at most partitions x k rows, the local-then-global
  * top-k of the plan's own `executeCollect`. For a plan bound from a
  * template `rows` runs the template's generated stage with the
  * search's own references (`graft.search.BoundStage`), so the collect
  * generates no Java source; for a plan planned from the start it is
  * the child's own `execute()`.
  *
  * Spark's path (`RDD.takeOrdered` -> `reduce` -> `runJob`) cleans
  * three closures declared in `RDD` and `SparkContext`, and the
  * closure cleaner re-reads and parses the declaring class's bytecode
  * on every clean. The per-partition function here is declared in this
  * small object and goes through the `(TaskContext, Iterator)` overload
  * of `runJob`, which wraps it in no lambda of its own, so the collect
  * adds one clean, of this object's small class; the bound stage's
  * `mapPartitionsWithEvaluator` cleans none, so that is the search's
  * only clean. The job runs over the plan's child RDD, so the scan's
  * SQL metrics and the one-stage shape are those of the plan. */
private[plans] object TopKCollect {

  def apply(t: TakeOrderedAndProjectExec, rows: RDD[InternalRow]): Array[InternalRow] = {
    val heaps = rows.sparkContext.runJob(rows, bestOf(t.limit, t.sortOrder, t.child.output),
      0 until rows.getNumPartitions)
    val top = heaps.flatten.sorted(new InterpretedOrdering(t.sortOrder, t.child.output))
      .take(t.limit)
    if (t.projectList == t.child.output) top
    else {
      val project = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences(t.projectList, t.child.output))
      top.map(r => project(r).copy())
    }
  }

  /** A partition's `k` best rows under `order`, in no particular order.
    * The ordering is built in the task; a row is copied only when it
    * enters the heap. */
  private def bestOf(k: Int, order: Seq[SortOrder], input: Seq[Attribute])
      : (TaskContext, Iterator[InternalRow]) => Array[InternalRow] = (_, rows) => {
    val ord = new LazilyGeneratedOrdering(order, input)
    val worstFirst = new java.util.PriorityQueue[InternalRow](ord.reverse)
    rows.foreach { r =>
      if (worstFirst.size < k) worstFirst.add(r.copy())
      else if (ord.compare(r, worstFirst.peek()) < 0) {
        worstFirst.poll()
        worstFirst.add(r.copy())
      }
    }
    worstFirst.toArray(new Array[InternalRow](0))
  }
}
