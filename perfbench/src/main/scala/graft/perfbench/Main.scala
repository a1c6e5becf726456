package graft.perfbench

import java.lang.management.ManagementFactory

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Runs one benchmark workload in this JVM and prints its result.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--scale <x>] [--spans <file>]
  *
  * Order: session (the inputs are generated beside it), set-up, one
  * cold run, then warm runs until `--seconds` have passed (at least the
  * workload's `minWarm` untraced ones). Untraced, it reports the
  * end-to-end metrics; traced, it alternates untraced and traced runs,
  * starting and ending untraced, and reports the per-layer metrics. The
  * last stdout line is the result as one JSON object.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, scale: Double, spans: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.get("scale").map(_.toDouble).getOrElse(1.0),
      m.get("spans"))
  }

  /** One measured run. */
  final case class Sample(wallS: Double, out: RunOut, persistedAfter: Int,
                          blockMbAfter: Double, gcS: Double, heapPeakMb: Double,
                          traced: Boolean, layer: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    lazy val spark = GraftSession.builder(s"local[$cores]", cores)
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()

    val wl: Workload = a.workload match {
      case "validate_catalog" => new ValidateCatalog(spark, a.seed, a.scale)
      case "curation_fold" => new CurationFold(spark, a.seed, a.scale, nBatches = 2)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // The inputs are generated on the driver while the session starts.
    val generated = Future(wl.generate(s"${a.work}/setup"))(ExecutionContext.global)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val (_, prepS) = Workload.secondsOf {
      Await.result(generated, Duration.Inf)
      wl.prepare()
      spark.catalog.clearCache()
    }
    // Process start until the cold run can begin.
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer
    val probe = new Probe
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val runDir = s"${a.work}/runs"
    var attempted = 0
    var failed = 0

    def once(traced: Boolean): Sample = {
      if (traced) {
        spark.sparkContext.addSparkListener(probe)
        classic.listenerManager.register(probe)
        tracer.run += 1
        tracer.on = true
      }
      val gc0 = Jvm.gcMs
      Jvm.resetHeapPeak()
      val t0 = System.currentTimeMillis()
      val (out, wall) = Workload.secondsOf {
        try wl.run(runDir, tracer)
        catch { case e: Exception =>
          System.err.println(s"[perfbench] ${a.workload}: run threw $e")
          RunOut(Nil, wl.opsPerRun)
        }
      }
      val t1 = System.currentTimeMillis()
      val heap = Jvm.heapPeakMb
      val gcS = (Jvm.gcMs - gc0) / 1e3
      tracer.on = false
      val layer =
        if (!traced) Map.empty[String, Double]
        else {
          probe.quiesce()
          spark.sparkContext.removeSparkListener(probe)
          classic.listenerManager.unregister(probe)
          val spans = Seq("sources.load", "metricsstore.read", "tablediff.probe",
            "tablediff.rollup", "validation.report", "metricsstore.append", "curation.fold",
            "curation.cut")
            .map(n => n -> tracer.total(n, tracer.run))
          probe.window(t0, t1, wall, cores) ++ out.layer ++
            spans.map { case (n, (s, _)) => s"${n}_s" -> s } ++
            Map("sources.load_calls" -> spans.head._2._2.toDouble)
        }
      // Isolation between runs: nothing a run cached may serve the next.
      spark.catalog.clearCache()
      val sc = spark.sparkContext
      val persisted = sc.getPersistentRDDs.size
      val blockMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
      attempted += wl.opsPerRun
      failed += out.failed
      Sample(wall, out, persisted, blockMb, gcS, heap, traced, layer)
    }

    val cold = once(traced = false)
    val windowStart = System.nanoTime()
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    // Traced processes alternate untraced and traced runs and end on an
    // untraced one, so every traced run sits between two untraced runs
    // and linear warm-up drift cancels out of trace.overhead_ratio.
    def more = elapsed < a.seconds || samples.count(!_.traced) < wl.minWarm ||
      (a.trace && (samples.forall(!_.traced) || samples.last.traced))
    while (more) samples += once(traced = a.trace && samples.size % 2 == 1)
    val all = cold +: samples.toSeq
    val (lateFailed, finishLayer) = wl.finish(a.trace)
    failed += lateFailed

    val plain = samples.filterNot(_.traced).toSeq
    val ops = plain.flatMap(_.out.ops)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("run_s", Stats.median(plain.map(_.wallS)), "s"),
        ("op_p50_s", Stats.median(ops), "s"),
        ("setup_s", setupS, "s"))
      else {
        val traced = samples.filter(_.traced).toSeq
        val keys = traced.flatMap(_.layer.keys).distinct
        val perRun = keys.map(k => k -> Stats.median(traced.map(_.layer.getOrElse(k, 0.0))))
        val extra = wl.decompose(tracer)
        (perRun ++ extra ++ finishLayer ++ Seq(
          "storage.persisted_rdds_after" -> all.map(_.persistedAfter.toDouble).max,
          "storage.block_mb_after" -> all.map(_.blockMbAfter).max,
          // One sample per process, JIT-bound and swung by host load:
          // reported here, not gated (README.md, "cold_run_s").
          "cold_run_s" -> cold.wallS,
          "jvm.gc_s" -> Stats.median(traced.map(_.gcS)),
          "jvm.heap_peak_mb" -> Stats.median(traced.map(_.heapPeakMb)),
          "trace.overhead_ratio" ->
            Stats.median(traced.map(_.wallS)) / Stats.median(plain.map(_.wallS))))
          .map { case (k, v) => (k, v, Layers.unit(k)) }
      }
    val reported = if (a.trace) Layers.All.map(k =>
      metrics.find(_._1 == k).getOrElse((k, 0.0, Layers.unit(k)))) else metrics

    a.spans.filter(_ => a.trace).foreach { path =>
      val w = new java.io.PrintWriter(path, "UTF-8")
      try tracer.all.foreach { s =>
        w.println(f"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs}%.3f,""" +
          f""""end_ms":${s.endMs}%.3f,"parent":${s.parent},"run":${s.run},""" +
          s""""jobs":${probe.jobsIn(s.startMs, s.endMs)}}""")
      } finally w.close()
    }

    println(s"[perfbench] workload=${a.workload} seed=${a.seed} cores=$cores " +
      s"runs=${all.size} window_runs=${plain.size} ops=${ops.size} " +
      s"attempted=$attempted failed=$failed " +
      s"failed_ratio=${failed.toDouble / math.max(1, attempted)} " +
      s"walls=${all.map(s => f"${s.wallS}%.3f").mkString(",")} " +
      f"session_s=$sessionS%.3f prep_s=$prepS%.3f setup_s=$setupS%.3f")
    val body = reported.map { case (k, v, unit) =>
      s""""$k": {"value": ${Layers.num(v)}, "unit": "$unit"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
    System.out.flush()
    // Nothing is left to write and run.py removes the work directory:
    // skip the session's shutdown (seconds of teardown per process).
    Runtime.getRuntime.halt(0)
  }
}

/** The per-layer metric names, in report order, with their units. */
object Layers {
  val All: Seq[String] = Seq(
    "sources.load_calls", "sources.load_s",
    "plan.actions", "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.busy_share",
    "exec.task_p50_ms", "exec.skew_max", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_mb", "exec.output_mb",
    "driver.gap_s",
    "tablediff.schema_drift_s", "tablediff.checksum_s", "tablediff.metrics_s",
    "tablediff.probe_s", "tablediff.rollup_s", "monitoring.psi_s", "monitoring.anomaly_s",
    "validation.report_s", "validation.pairs_clean", "validation.pairs_diffed",
    "validation.triage_skip_ratio",
    "metricsstore.read_s", "metricsstore.append_s",
    "curation.fold_s", "curation.cut_s", "curation.run_s", "fold.state_mb") ++
    Probe.FoldPhases.map(p => s"fold.${p}_s") ++ Seq(
    "storage.persisted_rdds_after", "storage.block_mb_after",
    "cold_run_s", "jvm.gc_s", "jvm.heap_peak_mb", "trace.overhead_ratio")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.contains("_mb")) "MB"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_ratio") || name.endsWith("_share") || name.endsWith("_max")) "ratio"
    else "count"

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v.isWhole && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
