package graft

import java.util.concurrent.Future

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One validation round over a catalog of table pairs — the reference
  * agent's operating loop (validate every table pair, write one
  * dw_data_metrics-style row each, snowflake_tool.py:23-39) composed
  * from the engine's gates so the expensive step runs ONLY where the
  * cheap steps say it must:
  *
  *   1. [[TableDiff.schemaDrift]] — metadata only; a drifted schema
  *      fails the pair immediately (running a row diff across a schema
  *      change reports garbage counts).
  *   2. [[TableDiff.partitionChecksum]] — when the pair declares a
  *      partition column: one map-side summary pass per side. A fully
  *      clean checksum SKIPS the row diff — at 100 TB this is the round
  *      that costs two scans instead of a full-outer shuffle join.
  *   3. [[TableDiff.metricsMulti]] — the full metrics row, only for
  *      pairs that failed triage (or declared no partition column).
  *
  * The report is one bounded row per table (sample lists capped by
  * `sampleCap`), built driver-side — table COUNT is metadata-scale; the
  * per-pair work is Spark jobs, run concurrently (see [[report]]).
  */
object ValidationRound {

  /** Opt-in PSI shape-drift monitor for a pair: score
    * [[graft.operators.Monitoring.distributionDrift]] (or its
    * approx_percentile twin when `sketch` — the 100 TB form) on
    * `valueCol` across the two sides and summarize it into the round
    * row. Thresholds are the conventional PSI reading the operator's
    * scaladoc cites: < 0.1 stable, < 0.25 moderate, else major. */
  final case class DriftSpec(valueCol: String, nBuckets: Int = 10,
                             sketch: Boolean = false)

  /** Opt-in robust count-anomaly monitor ([[graft.operators.Monitoring
    * .countAnomaly]], median ± nMads·MAD per group) over BOTH sides of
    * the pair: a feed gap or double-load on either side should surface
    * in the same round report that carries the pair's diff verdict.
    * `period` is an expression over the pair's columns (e.g.
    * `to_date(col("ts"))`). */
  final case class AnomalySpec(dims: Seq[String], period: Column,
                               nMads: Double = 3.0)

  /** Opt-in CENSUS monitors read from MAINTAINED state directories —
    * the operating round consuming the streaming family's work
    * ([[graft.streaming.EventStream.maintainCensusState]] /
    * [[graft.streaming.EventStream.maintainNoveltyState]]) instead of
    * re-scanning any corpus: the round row summarizes each declared
    * monitor to its WORST source (max dup_rate; min novelty), ties
    * broken to the lexicographically smallest source. The values are
    * aggregations OF the standalone monitor outputs
    * ([[graft.operators.Monitoring.dupRateFromState]] /
    * [[graft.operators.Vocab.noveltyFromState]] — spec-proven equal),
    * not parallel reimplementations. A declared path that does not
    * exist yet (no batch has committed) yields NULL columns, like an
    * unpopulated table in the triage path. */
  final case class CensusSpec(dupRatePath: Option[String] = None,
                              noveltyPath: Option[String] = None,
                              gopherRatePath: Option[String] = None,
                              piiRatePath: Option[String] = None)

  /** One table pair to validate. `partCol` opts into checksum triage
    * (the column must exist on both sides); `drift`/`anomaly`/`census`
    * opt into the monitoring columns (NULL for pairs that don't declare
    * them). */
  final case class TablePair(name: String, left: DataFrame, right: DataFrame,
                             pks: Seq[String], exclude: Seq[String] = Nil,
                             partCol: Option[String] = None,
                             drift: Option[DriftSpec] = None,
                             anomaly: Option[AnomalySpec] = None,
                             census: Option[CensusSpec] = None)

  private val schema = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("schema_ok", BooleanType, nullable = false),
    StructField("partitions_checked", LongType, nullable = false),
    StructField("partitions_drifted", LongType, nullable = false),
    StructField("total_record_count_hive", LongType, nullable = false),
    StructField("total_record_count_sf", LongType, nullable = false),
    StructField("hive_only_count", LongType, nullable = false),
    StructField("sf_only_count", LongType, nullable = false),
    StructField("data_discrepancy_count", LongType, nullable = false),
    StructField("hive_only_pk_values", StringType, nullable = false),
    StructField("sf_only_pk_values", StringType, nullable = false),
    StructField("data_discrepancy_pk_values", StringType, nullable = false),
    // Monitor columns — NULL when the pair declares no spec (and for
    // schema_drift rows, where no data may be read).
    StructField("psi_total", DoubleType, nullable = true),
    StructField("psi_one_sided_buckets", LongType, nullable = true),
    StructField("psi_status", StringType, nullable = true),
    StructField("anomaly_periods_hive", LongType, nullable = true),
    StructField("anomaly_periods_sf", LongType, nullable = true),
    // Census-monitor columns (CensusSpec) — read from MAINTAINED state,
    // so they stay populated even for schema_drift rows (they never
    // touch the pair's tables).
    StructField("dup_rate_max", DoubleType, nullable = true),
    StructField("dup_rate_max_source", StringType, nullable = true),
    StructField("novelty_min", DoubleType, nullable = true),
    StructField("novelty_min_source", StringType, nullable = true),
    StructField("gopher_rate_min", DoubleType, nullable = true),
    StructField("gopher_rate_min_source", StringType, nullable = true),
    StructField("pii_dirty_rate_max", DoubleType, nullable = true),
    StructField("pii_dirty_rate_max_source", StringType, nullable = true)))

  /** Per-pair status: `schema_drift` (gate failed, no data read),
    * `clean` (checksum triage proved parity — row diff skipped; counts
    * come from the triage summaries), or `diffed` (full metrics row).
    *
    * The schema gate is decided on the driver. Every other part runs as
    * a concurrent job on a [[JobPool]], for all pairs at once: each
    * pair's checksum→diff chain (`report:checksum`, then
    * `report:metrics`), its PSI monitor (`report:psi`), the count-anomaly
    * monitor of each side (`report:anomaly`) and each census read
    * (`report:census`). That is safe because every part only READS (the
    * pair's frames or maintained state) and hands nothing to another;
    * only the chain is ordered, as triage decides whether the diff runs.
    * Rows are assembled in pair order, so the report equals the
    * sequential one. If any part fails, the report's jobs are cancelled,
    * parts not yet started never run, and the first failure is rethrown
    * once no job or pool thread of the report is left. */
  def report(spark: SparkSession, pairs: Seq[TablePair],
             sampleCap: Int = 100): DataFrame = {
    val rows = JobPool.run(spark, "validation report") { jp =>
      // The gate honors the pair's exclusions: a one-sided audit column
      // the catalog already excludes (the reference's operating mode)
      // must not permanently fail the pair as schema_drift.
      val gated = pairs.map(p => p -> TableDiff.schemaDriftRows(
        p.left.drop(p.exclude: _*).schema, p.right.drop(p.exclude: _*).schema)
        .forall(_._4 == "ok"))
      // The pool starts parts in submission order: the chains, the
      // longest parts, go first.
      val verdicts = gated.map { case (p, ok) =>
        if (ok) jp.submit("report:checksum")(verdict(jp, p, sampleCap))
        else JobPool.done(Seq("schema_drift", false) ++ Seq.fill(7)(0L) ++ Seq.fill(3)(""))
      }
      val monitors = gated.map { case (p, ok) =>
        (if (ok) monitorParts(jp, p) else Seq(JobPool.done(Seq.fill[Any](5)(null)))) ++
          censusParts(jp, spark, p)
      }
      gated.zip(verdicts).zip(monitors).map { case (((p, _), v), ms) =>
        Row.fromSeq(p.name +: (v +: ms).flatMap(_.get()))
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The pair's verdict columns, `status` through the PK samples. */
  private def verdict(jp: JobPool, p: TablePair, sampleCap: Int): Seq[Any] = {
    val triage = p.partCol.map { pc =>
      // coalesce: an empty pair (not-yet-populated table) sums to
      // NULL over zero partitions and must report clean, not NPE.
      TableDiff.partitionChecksum(p.left, p.right, pc, p.pks, p.exclude)
        .agg(count(lit(1)),
          count(when(col("status") =!= "ok", 1)),
          coalesce(sum(col("hive_count")), lit(0L)),
          coalesce(sum(col("sf_count")), lit(0L))).head()
    }
    val (nParts, nDrifted) =
      triage.map(t => (t.getLong(0), t.getLong(1))).getOrElse((0L, 0L))
    // Checksums prove parity: report the counts the triage already paid
    // for and SKIP the diff join entirely.
    if (triage.isDefined && nDrifted == 0L)
      Seq("clean", true, nParts, 0L, triage.get.getLong(2), triage.get.getLong(3),
        0L, 0L, 0L, "", "", "")
    else jp.labeled("report:metrics") {
      val m = TableDiff.metricsMulti(p.left, p.right, p.name, p.pks,
        p.exclude, sampleCap).head()
      Seq("diffed", true, nParts, nDrifted) ++ schema.fieldNames.slice(5, 13)
        .map(c => m.getAs[Any](c))
    }
  }

  /** The monitor columns of a pair that passed the schema gate (they
    * read data, which the gate's contract forbids on drift). They run
    * regardless of the triage verdict: PSI on a checksum-clean pair is
    * provably 0 — the row then DOCUMENTS stability — and count anomaly
    * watches each side's own history, which parity between sides never
    * vouches for. The values are aggregations OF the standalone query
    * outputs (spec-proven equal), not parallel reimplementations:
    * psi_total sums the same psi_term column q_psi_drift emits; anomaly
    * counts flag rows of the same frame q_count_anomaly emits. */
  private def monitorParts(jp: JobPool, p: TablePair): Seq[Future[Seq[Any]]] = {
    val psi = p.drift.fold(JobPool.done(Seq[Any](null, null, null))) { d =>
      jp.submit("report:psi") {
        // isEmpty guard: an empty/all-null reference side defines no
        // bins (the operator throws by contract); in a ROUND a
        // not-yet-populated table must yield NULL monitor columns, not
        // fail the whole report. isEmpty is a limit-1 probe, not a scan.
        if (p.left.filter(col(d.valueCol).isNotNull).isEmpty) Seq(null, null, null)
        else {
          val t = (if (d.sketch)
            graft.operators.Monitoring.distributionDriftSketch(
              p.left, p.right, d.valueCol, d.nBuckets)
          else
            graft.operators.Monitoring.distributionDrift(
              p.left, p.right, d.valueCol, d.nBuckets))
            .agg(sum(col("psi_term")), sum(col("one_sided").cast("long")))
            .head()
          val total = if (t.isNullAt(0)) 0.0 else t.getDouble(0)
          val oneSided = if (t.isNullAt(1)) 0L else t.getLong(1)
          // One-sided buckets outrank the numeric reading: their
          // psi_terms are NULL by the operator's contract (a one-sided
          // bucket IS categorical drift — ε-smoothing would let a
          // magic constant dominate), so a fully disjoint pair sums to
          // 0.0 and would otherwise report "stable" with mass the
          // score never saw. The flag column is the alarm; the status
          // must agree with it.
          val status =
            if (oneSided > 0) "one_sided"
            else if (total < 0.1) "stable"
            else if (total < 0.25) "moderate" else "major"
          Seq(total, oneSided, status)
        }
      }
    }
    psi +: Seq(p.left, p.right).map { side =>
      p.anomaly.fold(JobPool.done(Seq[Any](null))) { a =>
        jp.submit("report:anomaly")(Seq(graft.operators.Monitoring.countAnomaly(
          side, a.dims, a.period, a.nMads).filter(col("is_anomaly") === 1).count()))
      }
    }
  }

  /** Census monitors read MAINTAINED state, never the pair's tables,
    * so they run regardless of the schema gate. Worst-source summary
    * with deterministic ties (smallest source); a not-yet-created state
    * directory reports NULLs (no batch has committed yet). */
  private def censusParts(jp: JobPool, spark: SparkSession,
                          p: TablePair): Seq[Future[Seq[Any]]] = {
    import graft.operators.{Monitoring, TextAnalysis, Vocab}
    import graft.streaming.EventStream.{readCensusState, readNoveltyState}
    // (declared path, its per-source frame, value column, worst is max)
    val specs = Seq[(Option[String], String => DataFrame, String, Boolean)](
      (p.census.flatMap(_.dupRatePath), path => Monitoring.dupRateFromState(
        readCensusState(spark, path, Monitoring.dupRateCensus)), "dup_rate", true),
      (p.census.flatMap(_.noveltyPath), path => Vocab.noveltyFromState(
        readNoveltyState(spark, path)), "novelty", false),
      (p.census.flatMap(_.gopherRatePath), path => TextAnalysis.gopherRateFromCounts(
        readCensusState(spark, path, TextAnalysis.passRateCensus)), "pass_rate", false),
      (p.census.flatMap(_.piiRatePath), path => TextAnalysis.piiRateFromCounts(
        readCensusState(spark, path, TextAnalysis.piiRateCensus)), "dirty_rate", true))
    specs.map { case (path, read, value, worstIsMax) =>
      path.fold(JobPool.done(Seq[Any](null, null))) { path =>
        jp.submit("report:census") {
          val hp = new org.apache.hadoop.fs.Path(path)
          if (!hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp))
            Seq(null, null)
          else {
            val v = col(value)
            val r = read(path).agg(if (worstIsMax) max(v) else min(v),
                min_by(col("source"), struct(if (worstIsMax) -v else v, col("source"))))
              .head()
            Seq(if (r.isNullAt(0)) null else r.getDouble(0), r.getString(1))
          }
        }
      }
    }
  }
}
