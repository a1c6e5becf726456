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
    * A local checkpoint persists its RDD directly, never registered
    * with the cache manager, so neither `Dataset.unpersist()` nor
    * `spark.catalog.clearCache()` frees its blocks; they survive until
    * application end. This walks the Dataset's own plan and unpersists
    * the RDD of every LogicalRDD leaf in it. No-op on plans without one.
    * graft's own code no longer checkpoints ([[pin]] persists through
    * the cache manager instead); the method stays for callers that
    * still do. On [[graft.CurationRound.cutRound]]'s `mixed` it frees
    * nothing: that frame is a cache-manager persist, which `unpersist()`
    * or the benchmark's per-run `clearCache()` releases. */
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

  /** Pin `df` for the reads that follow: persist its rows through the
    * cache manager (MEMORY_AND_DISK) and return their [[planLeaf]] view,
    * which plans built on it read as one leaf, with the persisted
    * frame, which releases them: `unpersist()` on it or
    * `spark.catalog.clearCache()`. A read after the release, or of a
    * lost block, recomputes through the RDD lineage. `df`'s shuffle
    * stages run here (AQE runs them while planning, as it did for an
    * eager `localCheckpoint()`); the cache is built inside the first
    * reader's jobs, so a pin adds no job to the ones `df` needs.
    *
    * What is persisted is `df` cut to one leaf, not `df`'s plan, so
    * each pin is its own cache entry: two pins of identical plans do
    * not share one (unpersisting either leaves the other cached), and
    * the cache manager never recaches a pin. It would otherwise recache
    * an entry whose plan scans files under a path as soon as anything
    * writes there, dropping its blocks (and leaking them, when the
    * entry was being built at that moment). */
  def pin(df: DataFrame): (DataFrame, DataFrame) = {
    val held = planLeaf(df).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (planLeaf(held), held)
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
