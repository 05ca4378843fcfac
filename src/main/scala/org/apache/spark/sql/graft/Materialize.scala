package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one materialization rule of the library: every frame that is
  * computed once and then read again goes through one of two kinds.
  * The choice is per kind, never per call, so a caller picks only WHY
  * it materializes.
  *
  * '''`shared`''' — a frame read by more than one consumer in one query
  * (a multi-consumer intermediate, or the child of a global sort whose
  * range sampler would otherwise re-execute it). Lazy: the blocks fill
  * on the first job that reads the frame, so building a query runs no
  * job beyond the shuffles its adaptive plan materializes anyway. The
  * rows are a persisted (`MEMORY_AND_DISK`) copy of the plan's output,
  * wrapped as a `LogicalRDD` the way `Dataset.localCheckpoint` wraps
  * its own, so the frame keeps the origin's output partitioning,
  * ordering and statistics (a small shared frame still broadcasts).
  * The lineage is kept: a lost block is recomputed from the origin
  * plan, and that plan's SQL metrics stay reachable for as long as the
  * frame is. The `ContextCleaner` frees the blocks once the frame is
  * unreferenced.
  *
  * '''`truncated`''' — a frame whose lineage would otherwise grow with
  * every round of a loop (connected-component labels, PageRank ranks),
  * or whose inputs are deleted when the caller returns (a stream
  * sink's output directory). Eager: a local checkpoint, filled before
  * the call returns, whose RDD drops its dependencies. Its blocks are
  * not recomputable on executor loss, which is the price of a plan that
  * stays one node deep; the per-round frames it holds are one row per
  * vertex or one row per emitted stream row. The `ContextCleaner`
  * frees them like `shared` blocks.
  *
  * Lives in `org.apache.spark.sql` because `Dataset.ofRows` and
  * `LogicalRDD.fromDataset` are `private[sql]`. */
object Materialize {

  def shared(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }

  def truncated(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}
