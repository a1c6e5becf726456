package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column↔Expression bridge for custom Catalyst expressions. Spark 4 keeps
  * `classic.ExpressionUtils` private[sql]; this forwarder (same pattern as
  * public Spark-extension libraries use) re-exposes just the two
  * conversions graft needs.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Release the RDD blocks behind a `localCheckpoint()`'d Dataset.
    *
    * `Dataset.unpersist()` clears CACHE MANAGER entries only — but a
    * local checkpoint persists its RDD directly (`rdd.localCheckpoint()`
    * under the hood, never registered with the manager), so neither
    * unpersist() nor `spark.catalog.clearCache()` frees those blocks;
    * they survive until application end. Measured consequence: every
    * curation chain/fold run leaked its checkpointed stage frames
    * (corpus-scale TEXT blocks at sf10), and a full bench sweep
    * accumulated ~50 GB of undroppable storage — the direct cause of
    * the `_span_census_build` 4× in-sweep inflation (the span build is
    * the sweep's biggest MEMORY_AND_DISK consumer and paid the
    * eviction/spill). Bpe.fit dodged this with manual
    * getPersistentRDDs id-diffing; this helper is the non-racy form —
    * it walks the checkpointed Dataset's own plan (a LogicalRDD leaf)
    * and unpersists exactly that RDD. No-op on plans without a
    * LogicalRDD (never-checkpointed frames). */
  def releaseLocalCheckpoint(ds: Dataset[_]): Unit = ds match {
    case c: classic.Dataset[_] =>
      c.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false); ()
        case _ => ()
      }
    case _ => ()
  }

  /** `ds`'s rows under a plan that is ONE LogicalRDD leaf. Reading it
    * runs `ds`'s physical plan, through the cache manager when `ds` is
    * persisted, but a plan built on the leaf neither nests nor
    * re-analyzes `ds`'s. Unlike `localCheckpoint()` it persists nothing
    * itself: who persisted `ds` frees it as usual, and a read after
    * that recomputes through the RDD lineage. */
  def planLeaf(ds: Dataset[_]): DataFrame = ds match {
    case c: classic.Dataset[_] =>
      val s = c.sparkSession
      val fresh = classic.Dataset.ofRows(s, c.logicalPlan)
      classic.Dataset.ofRows(s, org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(fresh.queryExecution.toRdd, fresh, isStreaming = false))
  }

  /** Cancel every active job tagged `tag`; returns once the scheduler
    * has failed them, with how many there were.
    * `SparkContext.cancelJobsWithTag` only posts the request, so its
    * jobs may still be running when it returns; the future form
    * (Spark-internal) completes after the scheduler has handled it. */
  def cancelJobsWithTag(sc: org.apache.spark.SparkContext, tag: String,
                        reason: String): Int =
    org.apache.spark.util.ThreadUtils.awaitResult(
      sc.cancelJobsWithTagWithFuture(tag, reason),
      scala.concurrent.duration.Duration.Inf).size
}
