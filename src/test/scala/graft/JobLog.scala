package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

/** Every job the session runs while installed: its description and
  * its scheduler start/end times. */
final class JobLog(spark: SparkSession) extends SparkListener {
  import JobLog.Job
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.merge(e.jobId,
      Job(Option(e.properties).map(_.getProperty("spark.job.description")).orNull,
        e.time),
      (old, j) => old.copy(desc = j.desc, start = j.start)); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.merge(e.jobId, Job(null, -1L, e.time),
      (old, j) => old.copy(end = j.end)); ()
  }
  /** Runs a job labeled `name` and waits until the log has seen it
    * end: the listener bus is FIFO, so every event posted before the
    * marker has been delivered by then. */
  def marker(name: String): Unit = {
    spark.sparkContext.setJobDescription(name)
    try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
    eventually(timeout(30.seconds)) {
      assert(jobs.values.asScala.exists(j => j.desc == name && j.end >= 0))
    }
  }
  def all: Seq[Job] = jobs.values.asScala.toSeq
}

object JobLog {
  final case class Job(desc: String, start: Long, end: Long = -1L)

  def during[T](spark: SparkSession)(body: JobLog => T): T = {
    val log = new JobLog(spark)
    spark.sparkContext.addSparkListener(log)
    try body(log) finally spark.sparkContext.removeSparkListener(log)
  }

  /** The jobs `body` starts (between two marker jobs). */
  def startedBy(spark: SparkSession)(body: => Any): Seq[Job] = during(spark) { log =>
    log.marker("spec:before")
    body
    log.marker("spec:after")
    val t0 = log.all.filter(_.desc == "spec:before").map(_.end).max
    val t1 = log.all.filter(_.desc == "spec:after").map(_.start).min
    log.all.filter(j => j.start >= t0 && j.start <= t1 &&
      !String.valueOf(j.desc).startsWith("spec:"))
  }
}
