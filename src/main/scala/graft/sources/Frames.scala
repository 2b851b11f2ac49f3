package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** Lineage barriers for long-lived engine frames (shared by the
  * search index and the pipeline registries).
  *
  * A bare `persist` keeps the builder's full logical lineage inside
  * the InMemoryRelation: every query referencing the frame re-embeds
  * that subtree in its plan (driver planning/AQE re-planning walk it
  * per stage) and every task serializes the narrow RDD chain behind
  * the cache (measured 60-300 ms of PER-TASK deserialize on the r16
  * query-join profile). `cutLineage` materializes the frame once via
  * eager localCheckpoint, so every downstream plan sees one LEAF and
  * task closures stay flat. Trade-off (documented localCheckpoint
  * contract): the blocks do not recompute on executor loss — HA
  * deployments persist such frames to storage and reload instead.
  */
object Frames {

  /** Materialize `df` behind a lineage barrier (see object doc).
    *
    * Shape: eager localCheckpoint (lineage → one leaf) PLUS a
    * columnar persist layered over the leaf. The persist is not
    * redundant: a bare LogicalRDD freezes the PRE-materialization
    * Catalyst size ESTIMATE of the original subtree — garbage-large
    * for anything built by joins/aggregates — so the planner stops
    * broadcasting provably tiny frames (measured: the memoized
    * query_join_ast re-run regressed 1.8 → 2.9s with SortMergeJoins
    * over 500-row leaves). The InMemoryRelation on top reports the
    * ACTUAL materialized size once built, restoring runtime
    * broadcast decisions, and its cached subtree is just the leaf,
    * so plans stay flat. Checkpoint blocks go to DISK_ONLY — after
    * the columnar cache materializes they are only read again on
    * cache eviction — so memory is not duplicated.
    *
    * Cost: two actions (checkpoint, then count) and two persisted
    * RDDs per frame. Query-join setup uses it only above the
    * broadcast gate: below it, its |shapes|-row tables are
    * [[collectLocal]] relations and its |left|-row `canon` frame a
    * [[checkpointCounted]] one, one job and one persisted RDD (it
    * keeps the pre-materialization size estimate; the shape tables
    * it joins are broadcast by hint). */
  def cutLineage(df: DataFrame, storageLevel: StorageLevel): DataFrame = {
    val out = df.localCheckpoint(true, StorageLevel.DISK_ONLY).persist(storageLevel)
    // materialize the columnar cache NOW (one cheap pass over the
    // just-checkpointed local blocks): every later plan — including
    // the frame's own first consumer — then sees the ACTUAL size and
    // keeps the right broadcast/stream orientation (the frozen
    // estimate alone made the planner broadcast a 1.9M-row postings
    // cache and stream a 500-row probe frame on one partition).
    out.count()
    out
  }

  /** `df` in ONE collect, re-planned as a local relation (exact size
    * statistics, and the optimizer evaluates projections and filters
    * over it at planning time), with the collected rows. For frames
    * the caller has already bounded. */
  def collectLocal(df: DataFrame): (DataFrame, Array[Row]) = {
    val rows = df.collect()
    (df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema), rows)
  }

  /** `df` behind a localCheckpoint (one leaf, no columnar persist:
    * see [[cutLineage]] for what that trades) and its row count, from
    * the ONE job that materializes the checkpoint. */
  def checkpointCounted(df: DataFrame, storageLevel: StorageLevel): (DataFrame, Long) = {
    val out = df.localCheckpoint(false, storageLevel)
    // counting the checkpointed RDD itself computes and stores every
    // partition, and the job's end completes the checkpoint
    (out, checkpointedRdd(out).get.count())
  }

  /** The checkpointed RDD behind a [[cutLineage]] frame, if any. */
  def checkpointedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Release a frame whether cache-persisted, lineage-cut or only
    * checkpointed (Dataset.unpersist is a no-op on a checkpointed
    * frame — the blocks belong to the RDD). */
  def release(df: DataFrame, blocking: Boolean): Unit = {
    df.unpersist(blocking)
    checkpointedRdd(df).foreach(_.unpersist(blocking))
  }
}
