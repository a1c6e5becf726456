package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into graft: wall-clock bounds in ms, the enclosing
  * span (0 at top level) and the run it belongs to. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, run: Int) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Spans around the benchmark's calls into graft, kept in memory and
  * written out once at the end. Off, a span is just its body. */
final class Tracer {
  @volatile var on = false
  @volatile var run = 0
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  private def nowMs: Double = System.nanoTime() / 1e6 - Tracer.nanoOffsetMs

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = nowMs
      try body
      finally {
        stack.set(stack.get.tail)
        val s = Span(id, name, t0, nowMs, parent, run)
        synchronized { spans += s }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Summed seconds and count of the spans named `name` in run `r`. */
  def total(name: String, r: Int): (Double, Int) = {
    val xs = all.filter(s => s.run == r && s.name == name)
    (xs.map(_.seconds).sum, xs.size)
  }
}

object Tracer {
  /** Maps System.nanoTime onto epoch milliseconds, so spans line up
    * with Spark's event timestamps. */
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
}

/** Spark-side counts from the public listener APIs: a SparkListener
  * for jobs, stages and tasks, and a QueryExecutionListener for the
  * planning phases of every action. Events are kept with their own
  * timestamps, so a run's share is read by its time window and events
  * still queued from an earlier run cannot leak into it. */
final class Probe extends SparkListener with QueryExecutionListener {
  private final case class Job(start: Long, var end: Long, label: String)
  private final case class Task(launch: Long, finish: Long, stage: (Int, Int),
                                shuffleWrite: Long, shuffleRead: Long,
                                spill: Long, output: Long) {
    def ms: Long = finish - launch
  }
  private final case class Plan(start: Long, analysis: Long, optimization: Long,
                                planning: Long)
  private final case class Stage(submitted: Long)

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val plans = ArrayBuffer.empty[Plan]
  private val stages = ArrayBuffer.empty[Stage]
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs(e.jobId) = Job(e.time, -1L, label)
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stages += Stage(t))
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += (if (m == null) Task(info.launchTime, info.finishTime,
      (e.stageId, e.stageAttemptId), 0, 0, 0, 0)
    else Task(info.launchTime, info.finishTime, (e.stageId, e.stageAttemptId),
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)

  private def plan(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    plans += Plan(start, ms("analysis"), ms("optimization"), ms("planning"))
    touch()
  }

  /** Wait until every started job has ended and the listener bus has
    * been quiet for a moment (events arrive asynchronously). */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    def open = synchronized(jobs.values.exists(_.end < 0))
    while (System.currentTimeMillis() < deadline &&
      (open || System.currentTimeMillis() - lastEventMs < 150)) Thread.sleep(20)
  }

  /** Per-layer numbers for the window [t0, t1] (epoch ms) of a run that
    * took `wallS` seconds on `cores` cores. */
  def window(t0: Long, t1: Long, wallS: Double, cores: Int): Map[String, Double] =
    synchronized {
      def in(t: Long) = t >= t0 && t <= t1
      val js = jobs.values.filter(j => in(j.start) && j.end >= 0).toSeq
      val ts = tasks.filter(t => in(t.launch)).toSeq
      val ps = plans.filter(p => in(p.start)).toSeq
      val mb = 1024.0 * 1024.0
      val taskS = ts.map(_.ms).sum / 1e3
      val skew = ts.groupBy(_.stage).values.filter(_.size >= cores).map { st =>
        val d = st.map(_.ms.toDouble)
        d.max / math.max(1.0, Stats.median(d))
      }
      // Job time overlapping the run, as a union of intervals.
      val busyMs = js.map(j => (math.max(j.start, t0), math.min(j.end, t1)))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
          val s2 = math.max(s, reach)
          if (e > s2) (acc + (e - s2), e) else (acc, math.max(reach, e))
        }._1
      val byLabel = js.groupBy(_.label).map { case (l, xs) =>
        l -> xs.map(j => j.end - j.start).sum / 1e3 }
      Map(
        "plan.actions" -> ps.size.toDouble,
        "plan.analysis_s" -> ps.map(_.analysis).sum / 1e3,
        "plan.optimization_s" -> ps.map(_.optimization).sum / 1e3,
        "plan.planning_s" -> ps.map(_.planning).sum / 1e3,
        "exec.jobs" -> js.size.toDouble,
        "exec.stages" -> stages.count(s => in(s.submitted)).toDouble,
        "exec.tasks" -> ts.size.toDouble,
        "exec.task_s" -> taskS,
        "exec.busy_share" -> taskS / (wallS * cores),
        "exec.task_p50_ms" -> (if (ts.isEmpty) 0.0 else Stats.median(ts.map(_.ms.toDouble))),
        "exec.skew_max" -> (if (skew.isEmpty) 0.0 else skew.max),
        "exec.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
        "exec.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
        "exec.spill_mb" -> ts.map(_.spill).sum / mb,
        "exec.output_mb" -> ts.map(_.output).sum / mb,
        "driver.gap_s" -> math.max(0.0, wallS - busyMs / 1e3)) ++
        Probe.FoldPhases.map(p => s"fold.${p}_s" -> byLabel.getOrElse(s"fold:$p", 0.0))
    }

  /** Jobs started inside [t0, t1] (epoch ms), for the span dump. */
  def jobsIn(t0: Double, t1: Double): Int =
    synchronized(jobs.values.count(j => j.start >= t0 && j.start <= t1))
}

object Probe {
  /** The job labels CurationRound.foldBatch sets on its phases. */
  val FoldPhases: Seq[String] = Seq("guard", "gate-census", "gated", "s3-exact",
    "shingle", "batch-df", "canonical", "s4-near", "s5-decontam", "write-fps",
    "write-survivors", "write-postings", "write-shdf", "stats", "write-funnel")
}

/** JVM counters read around a run. */
object Jvm {
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; NaN without samples
    * (every run threw), which the result prints as 0. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
