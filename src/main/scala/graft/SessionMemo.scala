package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** One family of cross-query memos: a value built at most once per
  * (session, corpusKey, params) and shared by every consumer of it —
  * the reference's write-once `dw_data_metrics` table that every tool
  * queries (snowflake_tool.py:23-39), applied to the near-dup pair
  * table, the span census, the metrics table, the curation chain and
  * the fitted unigram and k-means models.
  *
  * Per-key double-checked: the map's bin lock is held only long enough
  * to INSTALL a lazy holder, and the build runs under the holder's own
  * lazy-val lock — so two concurrent first callers for DIFFERENT keys
  * build in parallel, while two callers racing on the SAME key build
  * exactly once. A build that throws leaves the holder unforced; the
  * next caller for that key retries.
  *
  * STALENESS CONTRACT: a memo does NOT watch its input. The key must
  * name everything the value depends on except the data itself (the
  * corpus key names the data); a caller starting a new round over
  * changed data calls [[SessionMemo.invalidate]] first. Dropping an
  * entry calls the family's `release` on its value (the parquet-backed
  * families delete their table); every entry of a session goes when its
  * application ends.
  */
final class SessionMemo[P, V] private (release: V => Unit) {
  private type Key = (SparkSession, String, P)
  private final class Holder(thunk: () => V) {
    @volatile var built = false
    lazy val value: V = { val v = thunk(); built = true; v }
  }
  private val m = new ConcurrentHashMap[Key, Holder]()

  /** The value for (`spark`, `corpusKey`, `params`), building it on the
    * first call. */
  def apply(spark: SparkSession, corpusKey: String, params: P)(build: => V): V = {
    SessionMemo.track(spark.sparkContext)
    m.computeIfAbsent((spark, corpusKey, params), _ => new Holder(() => build)).value
  }

  /** Drop every entry whose key matches `p`, releasing built values. A
    * caller mid-build keeps its holder; the entry just stops being
    * served to new callers (its files still go at application end when
    * they live under [[SessionMemo.tempDir]]). */
  private def drop(p: (SparkSession, String) => Boolean): Unit = {
    val it = m.entrySet.iterator()
    while (it.hasNext) {
      val e = it.next()
      val (spark, corpusKey, _) = e.getKey
      if (p(spark, corpusKey) && m.remove(e.getKey, e.getValue) && e.getValue.built)
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

  /** Drop `spark`'s entries under `corpusKey` in every family — the
    * "new round over changed data" hook. */
  def invalidate(spark: SparkSession, corpusKey: String): Unit =
    families.forEach(_.drop((s, k) => (s eq spark) && k == corpusKey))

  /** Drop every entry `spark` owns in every family — the bench's
    * pass-boundary hook. */
  def invalidateAll(spark: SparkSession): Unit =
    families.forEach(_.drop((s, _) => s eq spark))

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
          families.forEach(_.drop((s, _) => s.sparkContext eq sc))
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
