package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CurationRound, MetricsStore, TableDiff, ValidationRound}
import graft.ValidationRound.{AnomalySpec, TablePair}
import graft.operators.Monitoring
import graft.sources.Tables

/** What one run returns: the latency in seconds of each operation the
  * op_* metrics describe, how many operations threw or answered
  * wrongly, and workload-level layer numbers for the traced run. */
final case class RunOut(ops: Seq[Double], failed: Int,
                        layer: Map[String, Double] = Map.empty)

/** A benchmark workload. `generate` writes the seeded inputs under
  * `dir` and keeps everything the answers are checked against, without
  * Spark, so it runs while the session starts; `prepare` does the
  * set-up that needs the session; `run` is one timed run, which checks
  * its own answers. */
trait Workload {
  /** Operations one run attempts (all count as failed if it throws). */
  def opsPerRun: Int
  /** Untraced warm runs per process at the least; run_s is their
    * median. Sized so that every process fits the time budget. */
  def minWarm: Int
  def generate(dir: String): Unit
  def prepare(): Unit = ()
  def run(dir: String, tr: Tracer): RunOut
  /** Per-call timings of the traced run, taken outside any timed run. */
  def decompose(tr: Tracer): Map[String, Double] = Map.empty
  /** Checks left until every run is done: the operations found wrong,
    * and layer numbers of that check. */
  def finish(traced: Boolean): (Int, Map[String, Double]) = (0, Map.empty)
}

object Workload {
  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Every frame is loaded through graft's source layer, fresh per use. */
  def load(spark: SparkSession, tr: Tracer, dir: String, name: String): DataFrame =
    tr("sources.load")(Tables.load(spark, dir, name))
}

import Workload.{load, secondsOf}

/** A validation round and the questions that follow it: one
  * ValidationRound.report over the generated catalog (read-only, bound
  * by scans and shuffles), its rows appended to the MetricsStore
  * history, then the reference agent's questions about the result,
  * each loading its frames fresh (bound by per-question fixed cost). */
final class ValidateCatalog(spark: => SparkSession, seed: Long, scale: Double)
    extends Workload {
  import ValidateCatalog._

  private var cat: Gen.Catalog = _
  private var history: String = _
  private var trends: Map[String, String] = Map.empty
  private var questions: Seq[Question] = Nil
  private var runs = 0

  /** The report, its append to the history, and the questions; only
    * the questions are timed as operations. */
  def opsPerRun: Int = 2 + questions.size
  def minWarm: Int = 2

  def generate(dir: String): Unit = {
    cat = Gen.catalog(dir, seed, scale)
    history = s"$dir/metrics_store"
    val rnd = new scala.util.Random(seed ^ 0xa9e47L)
    val probed = cat.mutatedCells.filter(_._2.nonEmpty).keys.toSeq.sorted
    def ids(pair: String) =
      rnd.shuffle(cat.mutatedCells(pair).map(_._1).distinct).take(1 + rnd.nextInt(3))
    def pk() = {
      val p = cat.pairs(rnd.nextInt(cat.pairs.size)).name
      val messy = p.map(c => if (rnd.nextBoolean()) c.toUpper else c)
      PkList(p, " " * rnd.nextInt(3) + messy + " " * rnd.nextInt(3))
    }
    def pair() = probed(rnd.nextInt(probed.size))
    // One of each kind, in seeded order (tiny catalogs may have no
    // mutated cell to probe).
    questions = rnd.shuffle(Seq(Drifting, Drift, pk()) ++ (if (probed.isEmpty) Nil
      else Seq({ val p = pair(); ProbeIds(p, ids(p)) }, { val p = pair(); RollupIds(p, ids(p)) })))
  }

  /** Round 1 of the history, written by graft's MetricsStore. */
  override def prepare(): Unit = trends = Gen.metricsHistory(spark, history, seed, cat)

  private def pairs(tr: Tracer): Seq[TablePair] = cat.pairs.map { p =>
    TablePair(p.name, load(spark, tr, cat.hiveDir, p.name),
      load(spark, tr, cat.sfDir, p.name), p.pks, p.exclude, p.partCol, p.drift,
      p.anomaly.map { case (dims, day) => AnomalySpec(dims, to_date(col(day))) })
  }

  private def reportOk(rows: Seq[Row]): Boolean = {
    val got = rows.map(r => r.getAs[String]("table_name") -> r).toMap
    val ok = got.keySet == cat.truth.keySet && cat.truth.forall { case (n, t) =>
      val r = got(n)
      r.getAs[String]("status") == t.status &&
        r.getAs[Long]("total_record_count_hive") == t.nHive &&
        r.getAs[Long]("total_record_count_sf") == t.nSf &&
        r.getAs[Long]("hive_only_count") == t.hiveOnly &&
        r.getAs[Long]("sf_only_count") == t.sfOnly &&
        r.getAs[Long]("data_discrepancy_count") == t.disc
    }
    if (!ok) System.err.println(s"[perfbench] validate_catalog: report differs from " +
      s"the ledger: ${rows.map(_.toSeq.take(10).mkString("|")).mkString("; ")}")
    ok
  }

  private def probe(tr: Tracer, pair: String, ids: Seq[Long]): DataFrame = {
    val p = cat.pairs.find(_.name == pair).get
    TableDiff.mismatchProbe(load(spark, tr, cat.hiveDir, pair),
      load(spark, tr, cat.sfDir, pair), p.pks.head, ids, p.exclude)
  }

  private def expectedCells(pair: String, ids: Seq[Long]): Set[(Long, String)] =
    cat.mutatedCells(pair).filter(c => ids.contains(c._1)).toSet

  /** Asks one question of the history in `store`; true when the answer
    * equals the ledger's. */
  private def ask(q: Question, store: String, tr: Tracer): Boolean = q match {
    case Drifting =>
      val got = tr("metricsstore.read") {
        val latest = MetricsStore.latestRound(spark, store).get
        MetricsStore.readRound(spark, store, latest)
          .filter(col("hive_only_count") + col("sf_only_count") +
            col("data_discrepancy_count") > 0)
          .select("table_name").collect().map(_.getString(0)).toSet
      }
      got == cat.truth.filter(_._2.discrepancies > 0).keySet
    case Drift =>
      val got = tr("metricsstore.read") {
        MetricsStore.metricsDrift(spark, store, 1L, 2L)
          .select("table_name", "trend").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      }
      got == trends
    case PkList(pair, asked) =>
      val catalog = graft.script.SchemaCatalog.fromCsvFiles(spark, cat.tableCsv,
        cat.columnCsv)
      catalog.primaryKeys(asked).map(_.trim.toUpperCase) ==
        cat.pairs.find(_.name == pair).get.pks.map(_.toUpperCase)
    case ProbeIds(pair, ids) =>
      val got = tr("tablediff.probe") {
        probe(tr, pair, ids).select("id", "column_name").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      }
      got == expectedCells(pair, ids)
    case RollupIds(pair, ids) =>
      val got = tr("tablediff.rollup") {
        TableDiff.mismatchRollup(probe(tr, pair, ids))
          .select("column_name", "n_cells", "ids").collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
      }
      val want = expectedCells(pair, ids).groupBy(_._2).map { case (c, cs) =>
        c -> (cs.size.toLong, cs.map(_._1).toSeq.sorted.mkString(","))
      }
      got == want
  }

  private def checked(what: String)(body: => Boolean): (Boolean, Double) =
    secondsOf {
      val ok = try body catch { case e: Exception =>
        System.err.println(s"[perfbench] validate_catalog: $what threw $e"); false }
      if (!ok) System.err.println(s"[perfbench] validate_catalog: wrong answer to $what")
      ok
    }

  def run(dir: String, tr: Tracer): RunOut = {
    runs += 1
    // Each run records its round into its own copy of the seeded history.
    val store = s"$dir/metrics_store-$runs"
    Dirs.copyTree(history, store)
    var rows = Seq.empty[Row]
    val report = checked("the report") {
      val ps = pairs(tr)
      rows = tr("validation.report")(ValidationRound.report(spark, ps).collect().toSeq)
      reportOk(rows)
    }
    val append = checked("the history append") {
      tr("metricsstore.append") {
        MetricsStore.appendMetrics(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), rows.head.schema).select(Gen.MetricsCols.map(col): _*),
          store, 2L)
      }
      true
    }
    val answers = questions.map(q => checked(q.toString)(ask(q, store, tr)))
    val all = report +: append +: answers
    val statuses = rows.map(_.getAs[String]("status"))
    val triaged = cat.pairs.count(_.partCol.isDefined)
    RunOut(answers.map(_._2), all.count(!_._1), Map(
      "validation.pairs_clean" -> statuses.count(_ == "clean").toDouble,
      "validation.pairs_diffed" -> statuses.count(_ == "diffed").toDouble,
      "validation.triage_skip_ratio" -> statuses.count(_ == "clean").toDouble / triaged))
  }

  /** Each public call the report makes, timed on its own over the same
    * pairs, in the order and under the conditions the report uses. */
  override def decompose(tr: Tracer): Map[String, Double] = {
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def timed[T](name: String)(body: => T): T = {
      val (r, s) = secondsOf(tr(name)(body))
      acc(s"${name}_s") += s
      r
    }
    pairs(tr).foreach { p =>
      val drifted = timed("tablediff.schema_drift") {
        TableDiff.schemaDrift(p.left.drop(p.exclude: _*), p.right.drop(p.exclude: _*))
          .filter(col("status") =!= "ok").count()
      }
      if (drifted == 0) {
        val clean = p.partCol.exists { pc =>
          timed("tablediff.checksum") {
            TableDiff.partitionChecksum(p.left, p.right, pc, p.pks, p.exclude)
              .filter(col("status") =!= "ok").count() == 0
          }
        }
        if (!clean) timed("tablediff.metrics") {
          TableDiff.metricsMulti(p.left, p.right, p.name, p.pks, p.exclude).head()
        }
        p.drift.foreach { d =>
          timed("monitoring.psi") {
            (if (d.sketch) Monitoring.distributionDriftSketch(p.left, p.right,
              d.valueCol, d.nBuckets)
            else Monitoring.distributionDrift(p.left, p.right, d.valueCol, d.nBuckets))
              .agg(sum(col("psi_term"))).head()
          }
        }
        p.anomaly.foreach { a =>
          timed("monitoring.anomaly") {
            Seq(p.left, p.right).map(df => Monitoring.countAnomaly(df, a.dims, a.period,
              a.nMads).filter(col("is_anomaly") === 1).count())
          }
        }
      }
    }
    Seq("tablediff.schema_drift_s", "tablediff.checksum_s", "tablediff.metrics_s",
      "monitoring.psi_s", "monitoring.anomaly_s").map(k => k -> acc(k)).toMap
  }
}

object ValidateCatalog {
  /** The agent's questions. */
  private sealed trait Question
  private case object Drifting extends Question
  private case object Drift extends Question
  private final case class PkList(pair: String, asked: String) extends Question
  private final case class ProbeIds(pair: String, ids: Seq[Long]) extends Question
  private final case class RollupIds(pair: String, ids: Seq[Long]) extends Question
}

/** K monotone ingest batches folded through CurationRound.foldBatch
  * against a fresh state directory, then a round cut. Writes beside its
  * reads; driver- and job-bound. */
final class CurationFold(spark: => SparkSession, seed: Long, scale: Double,
                         nBatches: Int) extends Workload {
  private val cfg = CurationRound.Config(strataCol = "lang",
    gopherStops = Seq("the", "a", "data", "table"),
    mixTargets = Seq("de" -> 0.25, "en" -> 0.25, "es" -> 0.25, "zh" -> 0.25))

  private var corpusDir: String = _
  /** The ledger's cumulative funnel, stages 0-5. */
  private var ledger: Seq[(Int, String, Long, Long)] = Nil
  private var runs = 0
  /** Each run's cut stats and cumulative funnel, for `finish`. */
  private val results = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], Seq[Seq[Any]])]

  def opsPerRun: Int = nBatches
  def minWarm: Int = 1

  private def funnelRows(df: DataFrame): Seq[Seq[Any]] =
    df.filter(col("stage_ord") <= 5).orderBy("stage_ord")
      .select("stage_ord", "stage", "n_docs", "n_tokens", "doc_retention",
        "token_retention").collect().map(_.toSeq).toSeq

  def generate(dir: String): Unit = {
    corpusDir = s"$dir/corpus"
    ledger = Gen.corpus(corpusDir, seed, scale, nBatches)
  }

  def run(dir: String, tr: Tracer): RunOut = {
    runs += 1
    val state = s"$dir/fold-state-$runs"
    val ops = (0 until nBatches).map { b =>
      secondsOf(tr("curation.fold") {
        CurationRound.foldBatch(spark, state, load(spark, tr, corpusDir, s"batch_$b"),
          load(spark, tr, corpusDir, "bench"), cfg, b.toLong)
      })._2
    }
    val (stats, mixed, funnel) = tr("curation.cut") {
      val (mixed, _, stats) = CurationRound.cutRound(spark, state, cfg)
      (stats.head().toSeq, mixed,
        funnelRows(CurationRound.cumulativeFunnel(spark, state)))
    }
    results += ((stats, funnel))
    // The ledger knows every stage's survivors; the cut must describe
    // exactly the docs its mixture kept.
    val m = mixed.agg(count(lit(1)), sum(col("n_tokens"))).head()
    org.apache.spark.sql.GraftBridge.releaseLocalCheckpoint(mixed)
    val ok = funnel.map(_.take(4)) == ledger.map(_.productIterator.toSeq) &&
      stats.take(2) == Seq(m.getLong(0), m.getLong(1)) && m.getLong(0) > 0
    if (!ok) System.err.println(s"[perfbench] curation_fold: funnel $funnel and cut " +
      s"$stats differ from the ledger $ledger or the mixture's $m")
    val stateMb = Dirs.bytesUnder(state) / (1024.0 * 1024.0)
    Dirs.deleteTree(state)
    RunOut(ops, if (ok) 0 else nBatches, Map("fold.state_mb" -> stateMb))
  }

  /** Traced processes also run the full chain (CurationRound.run) over
    * the union of all batches, once, after the timed runs: every run's
    * cumulative funnel and cut stats must equal it. */
  override def finish(traced: Boolean): (Int, Map[String, Double]) =
    if (!traced) (0, Map.empty)
    else {
      val (ref, s) = secondsOf {
        val union = (0 until nBatches).map(b => Tables.load(spark, corpusDir, s"batch_$b"))
          .reduce(_ unionByName _)
        val r = CurationRound.run(spark, union, Tables.load(spark, corpusDir, "bench"), cfg)
        val ref = (r.packStats.head().toSeq, funnelRows(r.funnel))
        r.unpersist()
        ref
      }
      val wrong = results.count(_ != ref)
      if (wrong > 0) System.err.println(s"[perfbench] curation_fold: $wrong runs differ " +
        s"from the full chain $ref: ${results.distinct.mkString("; ")}")
      (wrong * nBatches, Map("curation.run_s" -> s))
    }
}

object Dirs {
  private def walk(p: String): Seq[java.io.File] = {
    val f = new java.io.File(p)
    if (f.isDirectory) f +: Option(f.listFiles).toSeq.flatten.flatMap(c => walk(c.getPath))
    else if (f.exists) Seq(f) else Nil
  }

  def bytesUnder(p: String): Long = walk(p).filter(_.isFile).map(_.length).sum

  def deleteTree(p: String): Unit = walk(p).reverse.foreach(_.delete())

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    walk(from).foreach { f =>
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(f.toPath))
      if (f.isDirectory) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(f.toPath, dst)
    }
  }
}
