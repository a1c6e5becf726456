package graft

import java.util.concurrent.{Callable, CancellationException, CompletableFuture,
  ConcurrentLinkedQueue, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{GraftBridge, SparkSession}

/** A small pool that runs the independent parts of one call
  * ([[CurationRound.foldBatch]], [[ValidationRound.report]]) as
  * concurrent Spark jobs (guide §2.6: actions are only sequential
  * because the driver calls them sequentially). Every job a part starts
  * carries the part's label and the call's job tag. The first failure
  * aborts the call: parts not yet started return at once, the tagged
  * jobs are cancelled, and [[JobPool.run]] rethrows that failure, as it
  * was thrown, once no part, pool thread or tagged job is left. */
private[graft] final class JobPool private (spark: SparkSession) {
  private val sc = spark.sparkContext
  private val tag = s"graft-pool-${java.util.UUID.randomUUID()}"
  private val threads = new ConcurrentLinkedQueue[Thread]
  private val pool = Executors.newFixedThreadPool(JobPool.Threads, { (r: Runnable) =>
    val t = new Thread(r, s"$tag-${threads.size}"); t.setDaemon(true); threads.add(t); t })
  @volatile private var aborted = false
  private val failure = new AtomicReference[Throwable]

  /** Label every job `body` fires (guide §1.5) and tag it with the
    * call's tag; both are thread-local. The PREVIOUS description is
    * restored afterwards, and a nested label keeps the outer tag. */
  def labeled[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    val tagged = sc.getJobTags().contains(tag)
    sc.setJobDescription(name)
    if (!tagged) sc.addJobTag(tag)
    try body finally {
      if (!tagged) sc.removeJobTag(tag)
      sc.setJobDescription(prev)
    }
  }

  /** Run `body` on the pool under the label `name`. */
  def submit[T](name: String)(body: => T): Future[T] = pool.submit(new Callable[T] {
    def call(): T =
      if (aborted) throw new CancellationException(name)
      else try labeled(name)(body) catch { case t: Throwable => abort(t); throw t }
  })

  private def abort(t: Throwable): Unit = {
    failure.compareAndSet(null, t)
    aborted = true
    sc.cancelJobsWithTag(tag, "a part of the call failed")
  }
}

private[graft] object JobPool {
  val Threads = 6

  /** A part that is already done. */
  def done[T](v: T): Future[T] = CompletableFuture.completedFuture(v)

  /** Run `body` with a fresh pool; returns once every pool thread has
    * ended. `what` names the call in cancellation messages. */
  def run[T](spark: SparkSession, what: String)(body: JobPool => T): T = {
    val jp = new JobPool(spark)
    // Once aborted, cancelling the tagged jobs fails the action each
    // running part waits on. It repeats until every part has returned,
    // because a part still planning can start a job after a cancel, and
    // once more until no tagged job is left, because Spark submits
    // shuffle-stage jobs from its own thread pool. Parts are never
    // interrupted: an interrupted action skips that cleanup and leaves
    // its shuffle jobs to start after the call has returned.
    def cancel() = GraftBridge.cancelJobsWithTag(jp.sc, jp.tag, s"$what failed")
    def close(): Unit = {
      jp.pool.shutdown()
      while (!jp.pool.awaitTermination(50, TimeUnit.MILLISECONDS)) if (jp.aborted) cancel()
      jp.threads.forEach(_.join())
    }
    try body(jp) catch {
      case t: Throwable =>
        jp.abort(t)
        close()
        while (cancel() > 0) ()
        throw jp.failure.get()
    } finally close()
  }
}
