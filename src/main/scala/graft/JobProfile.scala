package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job wall-clock profiler for one query: runs the named query
  * (noop sink, bench methodology) and prints every Spark job's
  * duration + first-stage name, plus the gaps BETWEEN jobs (driver-side
  * planning/collect time — invisible in stage metrics but real
  * wall-clock; guide §7.3). Usage:
  *   runMain graft.JobProfile <query> [sfDir] [repeats]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.head
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val repeats = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.forMain(logLevel = "ERROR")
    @volatile var jobs = List.empty[(Int, Long, Long, String)]
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        val site = desc.getOrElse(
          js.stageInfos.lastOption.map(_.name).getOrElse("?"))
        starts.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, site) =>
          jobs = (je.jobId, t0, je.time, site) :: jobs
        }
      }
    })
    val fn = SparkEntry.queries(name)
    (1 to repeats).foreach { pass =>
      SessionMemo.invalidateAll(spark)
      jobs = Nil
      val w0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - w0) / 1e9
      spark.catalog.clearCache()
      // small settle so late listener events land before we read
      Thread.sleep(300)
      val ordered = jobs.sortBy(_._2)
      val jobSum = ordered.map(j => (j._3 - j._2) / 1e3).sum
      println(f"== pass $pass: wall=$wall%.2fs jobs=${ordered.length} jobSum=$jobSum%.2fs gap=${wall - jobSum}%.2fs")
      var prevEnd = 0L
      ordered.foreach { case (id, t0, t1, site) =>
        val gap = if (prevEnd == 0) 0.0 else (t0 - prevEnd) / 1e3
        prevEnd = t1
        println(f"  job $id%4d ${(t1 - t0) / 1e3}%7.3fs  gap=$gap%7.3fs  $site")
      }
    }
    spark.stop()
  }
}
