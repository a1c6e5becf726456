package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** One family of cross-query memos: a value built at most once per
  * input and shared by every consumer of it — the reference's
  * write-once `dw_data_metrics` table that every tool queries
  * (snowflake_tool.py:23-39), applied to the near-dup pair table, the
  * span census, the metrics table, the curation chain, the
  * decontamination bench table and the fitted unigram and k-means
  * models.
  *
  * KEY: (session, each input frame's canonicalized analyzed plan, the
  * (path, length, mtime) of every file those plans scan, params). Two
  * independent constructions of one query over the same files share an
  * entry; a frame over a replaced or rewritten file gets a fresh build,
  * which drops the entry it supersedes (same session, plans and params)
  * through the family's `release`. The file list is each scan's own
  * listing, taken when the frame was built, so keying costs no I/O. An
  * input whose plan never equals itself — one holding a `udaf`, whose
  * buffer encoder differs per construction — misses on every call:
  * safe, but it builds every time.
  *
  * Per-key double-checked: the map's bin lock is held only long enough
  * to INSTALL a lazy holder, and the build runs under the holder's own
  * lazy-val lock — so two concurrent first callers for DIFFERENT keys
  * build in parallel, while two callers racing on the SAME key build
  * exactly once. A build that throws leaves the holder unforced; the
  * next caller for that key retries.
  */
final class SessionMemo[P, V] private (release: V => Unit) {
  private type Key = (SparkSession, Seq[LogicalPlan], P)
  private final class Holder(val files: Seq[(String, Long, Long)], thunk: () => V) {
    @volatile var built = false
    lazy val value: V = { val v = thunk(); built = true; v }
  }
  private val m = new ConcurrentHashMap[Key, Holder]()

  /** The value for (`inputs`, `params`), building it on the first call
    * and again whenever a file the inputs scan has changed. */
  def apply(inputs: Seq[DataFrame], params: P)(build: => V): V = {
    val spark = inputs.head.sparkSession
    SessionMemo.track(spark.sparkContext)
    val plans = inputs.map(_.queryExecution.analyzed)
    val files = plans.flatMap(SessionMemo.scannedFiles).distinct.sorted
    var superseded: Option[Holder] = None
    val h = m.compute((spark, plans.map(_.canonicalized), params), (_, old) =>
      if (old != null && old.files == files) old
      else { superseded = Option(old); new Holder(files, () => build) })
    superseded.filter(_.built).foreach(o => release(o.value))
    h.value
  }

  /** Drop every entry whose session matches `p`, releasing built
    * values. A caller mid-build keeps its holder; the entry just stops
    * being served to new callers (its files still go at application end
    * when they live under [[SessionMemo.tempDir]]). */
  private def drop(p: SparkSession => Boolean): Unit = {
    val it = m.entrySet.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey._1) && m.remove(e.getKey, e.getValue) && e.getValue.built)
        release(e.getValue.value)
    }
  }
}

object SessionMemo {
  private val families = new CopyOnWriteArrayList[SessionMemo[_, _]]()
  private val liveDirs =
    scala.collection.mutable.Map.empty[SparkContext, List[java.io.File]]
  private val pathSeq = new AtomicLong(0)

  /** A new memo family; `release` runs on each value its entries drop. */
  def apply[P, V](release: V => Unit = (_: V) => ()): SessionMemo[P, V] = {
    val memo = new SessionMemo[P, V](release)
    families.add(memo)
    memo
  }

  /** Drop every entry `spark` owns in every family — the bench's
    * pass-boundary hook. */
  def invalidateAll(spark: SparkSession): Unit =
    families.forEach(_.drop(_ eq spark))

  /** (path, length, mtime) of every file `plan` scans, from each file
    * relation's listing as it stood when the frame was built. */
  private def scannedFiles(plan: LogicalPlan): Seq[(String, Long, Long)] =
    plan.collectWithSubqueries { case l: LogicalRelation => l.relation }.flatMap {
      case r: HadoopFsRelation => r.location.listFiles(Nil, Nil).flatMap(_.files)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      case _ => Nil
    }

  /** A fresh directory path, never created here, deleted when `spark`'s
    * application ends. The process id keeps two JVMs on one machine
    * apart and a process-wide counter keeps every call on its own path,
    * so no later build ever overwrites files an earlier one still
    * serves. */
  def tempDir(spark: SparkSession, prefix: String): String = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${prefix}_${ProcessHandle.current().pid()}_${pathSeq.incrementAndGet()}")
    val sc = spark.sparkContext
    liveDirs.synchronized { track(sc); liveDirs.update(sc, dir :: liveDirs(sc)) }
    dir.getPath
  }

  /** Delete a directory tree (a release function for file-backed memos). */
  def delete(path: String): Unit = deleteRecursively(new java.io.File(path))

  /** Install the one application-end listener for `sc`: it drops the
    * context's entries in every family and deletes its temp dirs, so a
    * driver cycling sessions neither pins stopped sessions nor leaks
    * their files. */
  private def track(sc: SparkContext): Unit = liveDirs.synchronized {
    if (!liveDirs.contains(sc)) {
      liveDirs.update(sc, Nil)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          families.forEach(_.drop(_.sparkContext eq sc))
          liveDirs.synchronized(liveDirs.remove(sc)).toList.flatten
            .foreach(deleteRecursively)
        }
      })
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }
}
