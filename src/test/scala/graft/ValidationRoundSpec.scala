package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ValidationRound.TablePair

class ValidationRoundSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("report: schema gate fails fast, clean triage skips the diff, drift diffs") {
    val clean = Seq((1L, "p1", 10L), (2L, "p2", 20L)).toDF("id", "part", "v")
    val driftedR = Seq((1L, "p1", 10L), (2L, "p2", 99L)).toDF("id", "part", "v")
    val badSchema = clean.withColumn("v", col("v").cast("int"))
    val out = ValidationRound.report(spark, Seq(
        TablePair("t_clean", clean, clean, Seq("id"), partCol = Some("part")),
        TablePair("t_drift", clean, driftedR, Seq("id"), partCol = Some("part")),
        TablePair("t_schema", clean, badSchema, Seq("id"), partCol = Some("part")),
        TablePair("t_nopart", clean, driftedR, Seq("id"))))
      .collect().map(r => r.getString(0) -> r).toMap

    val c = out("t_clean")
    assert(c.getString(1) == "clean" && c.getBoolean(2))
    assert(c.getLong(3) == 2L && c.getLong(4) == 0L)      // partitions checked/drifted
    assert(c.getLong(5) == 2L && c.getLong(6) == 2L)      // counts from triage
    assert(c.getLong(9) == 0L)                            // no discrepancies

    val d = out("t_drift")
    assert(d.getString(1) == "diffed")
    assert(d.getLong(3) == 2L && d.getLong(4) == 1L)      // one drifted partition
    assert(d.getLong(9) == 1L)                            // id 2 mismatched
    assert(d.getAs[String]("data_discrepancy_pk_values") == "2")

    val s = out("t_schema")
    assert(s.getString(1) == "schema_drift" && !s.getBoolean(2))
    assert(s.getLong(5) == 0L)                            // nothing read

    val n = out("t_nopart")
    assert(n.getString(1) == "diffed")
    assert(n.getLong(3) == 0L)                            // no triage declared
    assert(n.getLong(9) == 1L)
  }

  test("report: excluded one-sided audit columns pass the gate; empty pairs don't NPE") {
    val clean = Seq((1L, "p1", 10L)).toDF("id", "part", "v")
    val withAudit = clean.withColumn("audit_ts", lit("2024-01-01"))
    val empty = clean.limit(0)
    val out = ValidationRound.report(spark, Seq(
        TablePair("t_audit", clean, withAudit, Seq("id"),
          exclude = Seq("audit_ts"), partCol = Some("part")),
        TablePair("t_empty", empty, empty, Seq("id"), partCol = Some("part"))))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("t_audit")
    assert(a.getString(1) == "clean" && a.getBoolean(2)) // gate honors exclude
    val e = out("t_empty")
    assert(e.getString(1) == "clean" && e.getLong(5) == 0L && e.getLong(6) == 0L)
  }

  test("report over the warehouse fixtures matches the metrics oracle queries") {
    val dir = TestSpark.Sf0001
    val out = ValidationRound.report(spark, Seq(
        TablePair("orders", Fixtures.hiveOrders(spark, dir),
          Fixtures.sfOrders(spark, dir), Seq("o_orderkey")),
        TablePair("region",
          graft.sources.Tables.load(spark, dir, "region"),
          graft.sources.Tables.load(spark, dir, "region"), Seq("r_regionkey"))))
      .collect().map(r => r.getString(0) -> r).toMap
    val m = queries.CoreQueries.queries("q_data_metrics")(spark, dir).head()
    val o = out("orders")
    assert(o.getString(1) == "diffed")
    assert(o.getLong(5) == m.getAs[Long]("total_record_count_hive"))
    assert(o.getLong(7) == m.getAs[Long]("hive_only_count"))
    assert(o.getLong(9) == m.getAs[Long]("data_discrepancy_count"))
    assert(o.getAs[String]("data_discrepancy_pk_values") ==
      m.getAs[String]("data_discrepancy_pk_values"))
    // The discrepancy-free control pair diffs (no partCol) to all-zeros.
    val r = out("region")
    assert(r.getLong(7) == 0L && r.getLong(8) == 0L && r.getLong(9) == 0L)
  }

  test("monitor columns equal the standalone q_psi_drift / q_count_anomaly queries") {
    import graft.ValidationRound.{AnomalySpec, DriftSpec}
    import graft.operators.Monitoring
    val dir = TestSpark.Sf0001
    val (h, f) = (Fixtures.hiveOrders(spark, dir), Fixtures.sfOrders(spark, dir))
    val ev = graft.sources.Tables.load(spark, dir, "events")
    val out = ValidationRound.report(spark, Seq(
        TablePair("orders", h, f, Seq("o_orderkey"),
          drift = Some(DriftSpec("o_totalprice_cents"))),
        TablePair("bare", h, f, Seq("o_orderkey"))))
      .collect().map(r => r.getString(0) -> r).toMap

    val o = out("orders")
    // psi_total is the SUM of the standalone query's psi_term column —
    // same frame, not a reimplementation.
    val psiRows = queries.CoreQueries.queries("q_psi_drift")(spark, dir)
    val expPsi = psiRows.agg(sum($"psi_term")).head().getDouble(0)
    val expOneSided = psiRows.filter($"one_sided" === 1).count()
    assert(o.getAs[Double]("psi_total") == expPsi)
    assert(o.getAs[Long]("psi_one_sided_buckets") == expOneSided)
    assert(o.getAs[String]("psi_status") ==
      (if (expOneSided > 0) "one_sided"
       else if (expPsi < 0.1) "stable"
       else if (expPsi < 0.25) "moderate" else "major"))

    // Fully disjoint sides: every populated bucket is one-sided, every
    // psi_term NULL, the sum coerces to 0.0 — the status must read
    // "one_sided", never "stable" (the code-review catch).
    val lo = h.withColumn("o_totalprice_cents", lit(5L))
    val hi = f.withColumn("o_totalprice_cents", lit(500L))
    val disj = ValidationRound.report(spark, Seq(
        TablePair("disjoint", lo, hi, Seq("o_orderkey"),
          drift = Some(DriftSpec("o_totalprice_cents"))))).collect().head
    assert(disj.getAs[Double]("psi_total") == 0.0)
    assert(disj.getAs[Long]("psi_one_sided_buckets") > 0L)
    assert(disj.getAs[String]("psi_status") == "one_sided")
    // anomaly counts are flag counts of the standalone countAnomaly
    // frame per side (both sides read the same events fixture here, so
    // the two columns agree with it and each other).
    val out2 = ValidationRound.report(spark, Seq(
        TablePair("events", ev, ev, Seq("event_id"),
          anomaly = Some(AnomalySpec(Seq("event_type"), to_date(col("ts")))))))
      .collect().head
    val expFlagged = Monitoring.countAnomaly(ev, Seq("event_type"),
        to_date(col("ts"))).filter($"is_anomaly" === 1).count()
    assert(out2.getAs[Long]("anomaly_periods_hive") == expFlagged)
    assert(out2.getAs[Long]("anomaly_periods_sf") == expFlagged)

    // an undeclared pair carries NULL monitor columns
    val b = out("bare")
    assert(b.isNullAt(b.fieldIndex("psi_total")) &&
      b.isNullAt(b.fieldIndex("psi_status")) &&
      b.isNullAt(b.fieldIndex("anomaly_periods_hive")))

    // sketch drift path wires through identically at small scale
    val sk = ValidationRound.report(spark, Seq(
        TablePair("orders_sk", h, f, Seq("o_orderkey"),
          drift = Some(DriftSpec("o_totalprice_cents", sketch = true)))))
      .collect().head
    assert(sk.getAs[Double]("psi_total") == expPsi)

    // an empty reference side yields NULL drift columns, not a throw
    val emptyDrift = ValidationRound.report(spark, Seq(
        TablePair("empty_ref", h.limit(0), f.limit(0), Seq("o_orderkey"),
          drift = Some(DriftSpec("o_totalprice_cents")))))
      .collect().head
    assert(emptyDrift.isNullAt(emptyDrift.fieldIndex("psi_total")))
  }

  test("census columns equal the standalone monitors off maintained state; NULL when undeclared") {
    import graft.ValidationRound.CensusSpec
    import graft.operators.{Monitoring, TextAnalysis}
    // Maintained state built exactly as maintainCensusState writes it:
    // per-batch census rows + __batch_id, appended. Two batches so the
    // fold is genuinely cross-batch; the streaming writer itself is
    // StreamingSpec's subject.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "web"),
      (2L, "alpha beta gamma delta epsilon", "web"),   // dup of 1 -> web dup_rate
      (3L, "zeta eta theta iota kappa", "web"),
      (4L, "alpha beta gamma delta epsilon", "wiki"),  // mirrors web -> low novelty
      (5L, "unique content nowhere else found", "wiki"),
      (6L, "totally fresh words appearing once", "mail"))
      .toDF("doc_id", "text", "source")
    val dupDir = java.nio.file.Files.createTempDirectory("graft-vr-dup").toString
    val novDir = java.nio.file.Files.createTempDirectory("graft-vr-nov").toString
    val fp = TextAnalysis.docFingerprint(col("text"))
    Seq(docs.filter($"doc_id" <= 3), docs.filter($"doc_id" > 3))
      .zipWithIndex.foreach { case (b, i) =>
        Monitoring.dupRateState(b, "source", fp)
          .withColumn("__batch_id", lit(i.toLong))
          .write.mode("append").parquet(dupDir)
        graft.operators.Vocab.sourceNoveltyState(b, "text", "source", 3)
          .write.mode("append").parquet(novDir)
      }
    val t = Seq((1L, "p", 1L)).toDF("id", "part", "v")
    val out = ValidationRound.report(spark, Seq(
        TablePair("pair", t, t, Seq("id"),
          census = Some(CensusSpec(Some(dupDir), Some(novDir)))),
        TablePair("bare", t, t, Seq("id")),
        TablePair("missing", t, t, Seq("id"),
          census = Some(CensusSpec(Some(dupDir + "-nope"), None)))))
      .collect().map(r => r.getString(0) -> r).toMap
    val p = out("pair")
    // worst source per the STANDALONE monitors over the same state
    val dupStandalone = Monitoring.dupRateBySource(docs, "source", fp)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("dup_rate")).toMap
    val novStandalone = graft.operators.Vocab.sourceNovelty(docs, "text", "source")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("novelty")).toMap
    val expDupSrc = dupStandalone.toSeq.minBy { case (s, v) => (-v, s) }
    val expNovSrc = novStandalone.toSeq.minBy { case (s, v) => (v, s) }
    assert(p.getAs[Double]("dup_rate_max") == expDupSrc._2 &&
      p.getAs[String]("dup_rate_max_source") == expDupSrc._1)
    assert(p.getAs[Double]("novelty_min") == expNovSrc._2 &&
      p.getAs[String]("novelty_min_source") == expNovSrc._1)
    // the fixture's shape: web carries the duplicate pair, wiki mirrors
    assert(p.getAs[String]("dup_rate_max_source") == "web" &&
      p.getAs[Double]("dup_rate_max") == 2.0 / 3.0)
    assert(p.getAs[Double]("novelty_min") < 1.0)
    // undeclared and not-yet-created state both read as NULL columns
    Seq("bare", "missing").foreach { k =>
      val r = out(k)
      assert(r.isNullAt(r.fieldIndex("dup_rate_max")) &&
        r.isNullAt(r.fieldIndex("novelty_min")))
    }
    // the pair above declared no gopher state -> NULL
    assert(p.isNullAt(p.fieldIndex("gopher_rate_min")))
  }

  test("gopher census column equals the standalone pass-rate monitor; NULL when undeclared") {
    import graft.ValidationRound.CensusSpec
    import graft.operators.{TextAnalysis => TA}
    val stops = Seq("the", "a")
    val passDoc = "the a " + Seq.tabulate(60)(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, passDoc, "web"), (2L, "too short", "web"),
      (3L, passDoc, "wiki"), (4L, passDoc, "wiki"))
      .toDF("doc_id", "text", "source")
    val gDir = java.nio.file.Files.createTempDirectory("graft-vr-gop").toString
    // state written exactly as maintainCensusState does, split in two
    // batches so web's counts fold across the batch boundary
    Seq(docs.filter($"doc_id" <= 2), docs.filter($"doc_id" > 2))
      .zipWithIndex.foreach { case (b, i) =>
        TA.gopherRateState(b, "source", "text", stops)
          .withColumn("__batch_id", lit(i.toLong))
          .write.mode("append").parquet(gDir)
      }
    val t = Seq((1L, 1L)).toDF("id", "v")
    val out = ValidationRound.report(spark, Seq(
        TablePair("pair", t, t, Seq("id"),
          census = Some(CensusSpec(gopherRatePath = Some(gDir)))),
        TablePair("bare", t, t, Seq("id"))))
      .collect().map(r => r.getString(0) -> r).toMap
    val p = out("pair")
    // worst source per the STANDALONE monitor over the same docs
    val standalone = TA.gopherRate(docs, "source", "text", stops)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("pass_rate")).toMap
    val exp = standalone.toSeq.minBy { case (s, v) => (v, s) }
    assert(p.getAs[Double]("gopher_rate_min") == exp._2 &&
      p.getAs[String]("gopher_rate_min_source") == exp._1)
    assert(exp == ("web" -> 0.5), "web carries the failing doc")
    // dup/novelty undeclared on this pair -> NULL; gopher NULL on bare
    assert(p.isNullAt(p.fieldIndex("dup_rate_max")))
    assert(out("bare").isNullAt(out("bare").fieldIndex("gopher_rate_min")))
  }

  test("pii census column equals the standalone leak-rate monitor; NULL when undeclared") {
    import graft.ValidationRound.CensusSpec
    import graft.operators.{TextAnalysis => TA}
    val docs = Seq(
      (1L, "reach a@b.com or c@d.org", "web"), (2L, "clean", "web"),
      (3L, "call 555-123-4567", "wiki"), (4L, "clean", "wiki"),
      (5L, "clean", "wiki"))
      .toDF("doc_id", "text", "source")
    val pDir = java.nio.file.Files.createTempDirectory("graft-vr-pii").toString
    // state written exactly as maintainCensusState does, split so web's
    // counts fold across the batch boundary
    Seq(docs.filter($"doc_id" <= 1), docs.filter($"doc_id" > 1))
      .zipWithIndex.foreach { case (b, i) =>
        TA.piiRateState(b, "source", "text")
          .withColumn("__batch_id", lit(i.toLong))
          .write.mode("append").parquet(pDir)
      }
    val t = Seq((1L, 1L)).toDF("id", "v")
    val out = ValidationRound.report(spark, Seq(
        TablePair("pair", t, t, Seq("id"),
          census = Some(CensusSpec(piiRatePath = Some(pDir)))),
        TablePair("bare", t, t, Seq("id"))))
      .collect().map(r => r.getString(0) -> r).toMap
    val p = out("pair")
    // worst source per the STANDALONE monitor over the same docs
    val standalone = TA.piiRate(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("dirty_rate")).toMap
    val exp = standalone.toSeq.minBy { case (s, v) => (-v, s) }
    assert(p.getAs[Double]("pii_dirty_rate_max") == exp._2 &&
      p.getAs[String]("pii_dirty_rate_max_source") == exp._1)
    assert(exp == ("web" -> 0.5), "web leaks 1 of 2 docs")
    assert(out("bare").isNullAt(out("bare").fieldIndex("pii_dirty_rate_max")))
  }

  test("the schema gate starts no Spark job: a schema_drift-only report runs none") {
    val dir = TestSpark.Sf0001
    val l = graft.sources.Tables.load(spark, dir, "region")
    val r = l.withColumn("r_regionkey", col("r_regionkey").cast("string"))
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = JobLog.startedBy(spark) {
      out = ValidationRound.report(spark, Seq(
        TablePair("region", l, r, Seq("r_regionkey"), partCol = Some("r_name"))))
    }
    assert(jobs.isEmpty, s"jobs started by the schema gate: $jobs")
    assert(out.collect().map(_.getString(1)).toSeq == Seq("schema_drift"))
  }

  /** A 4-pair catalog touching every report part: triage (clean and
    * drifted), the diff, PSI, count anomaly and a census read. */
  private def catalog(): Seq[TablePair] = {
    import graft.ValidationRound.{AnomalySpec, CensusSpec, DriftSpec}
    val dir = TestSpark.Sf0001
    val (h, f) = (Fixtures.hiveOrders(spark, dir), Fixtures.sfOrders(spark, dir))
    val region = graft.sources.Tables.load(spark, dir, "region")
    val nation = graft.sources.Tables.load(spark, dir, "nation")
    val dupDir = java.nio.file.Files.createTempDirectory("graft-vr-par").toString
    graft.operators.Monitoring.dupRateState(
        Seq((1L, "alpha beta", "web"), (2L, "alpha beta", "web")).toDF("doc_id", "text", "source"),
        "source", graft.operators.TextAnalysis.docFingerprint(col("text")))
      .withColumn("__batch_id", lit(0L)).write.mode("append").parquet(dupDir)
    Seq(
      TablePair("orders", h, f, Seq("o_orderkey"),
        drift = Some(DriftSpec("o_totalprice_cents")),
        anomaly = Some(AnomalySpec(Seq("o_orderstatus"), col("o_orderdate")))),
      TablePair("region", region, region, Seq("r_regionkey"), partCol = Some("r_name")),
      TablePair("nation", nation,
        nation.withColumn("n_name", when(col("n_nationkey") === 3, lit("x"))
          .otherwise(col("n_name"))),
        Seq("n_nationkey"), partCol = Some("n_regionkey")),
      TablePair("census", region, region, Seq("r_regionkey"),
        census = Some(CensusSpec(Some(dupDir)))))
  }

  test("every job a report starts carries a report:* label; rows come back in pair order") {
    val pairs = catalog()
    var rows: Seq[org.apache.spark.sql.Row] = Nil
    val jobs = JobLog.startedBy(spark) {
      rows = ValidationRound.report(spark, pairs).collect().toSeq
    }
    assert(rows.map(_.getString(0)) == pairs.map(_.name))
    assert(rows.map(_.getString(1)) == Seq("diffed", "clean", "diffed", "diffed"))
    assert(rows(2).getAs[String]("data_discrepancy_pk_values") == "3")
    assert(rows(3).getAs[String]("dup_rate_max_source") == "web")
    val parts = Set("checksum", "metrics", "psi", "anomaly", "census").map("report:" + _)
    val labels = jobs.map(_.desc)
    assert(labels.filterNot(parts.contains).isEmpty,
      s"jobs without a report label: ${labels.filterNot(parts.contains)}")
    parts.foreach(p => assert(labels.contains(p), s"no $p job"))
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  private def poolThreads: Seq[Thread] =
    scala.jdk.CollectionConverters.SetHasAsScala(Thread.getAllStackTraces.keySet)
      .asScala.toSeq.filter(t => t.isAlive && t.getName.startsWith("graft-pool-"))

  test("a failed report rethrows the monitor's failure and leaves no job or pool thread behind") {
    import graft.ValidationRound.AnomalySpec
    // Slow sides keep other parts' jobs running when the monitor fails.
    val slow = udf((x: Long) => { Thread.sleep(100); x }).asNondeterministic()
    def slowSide = spark.range(0, 16, 1, 4).select(col("id"), slow(col("id")).as("v"))
    val boom = udf((x: Long) => {
      Thread.sleep(300)
      if (x >= 0) throw new IllegalStateException("monitor failed"); x
    }).asNondeterministic()
    val small = spark.range(0, 4, 1, 2).select(col("id"), col("id").as("v"))
    val pairs = Seq(
      TablePair("slow_a", slowSide, slowSide, Seq("id")),
      TablePair("slow_b", slowSide, slowSide, Seq("id")),
      TablePair("failing", small, small, Seq("id"),
        anomaly = Some(AnomalySpec(Seq("id"), boom(col("v"))))),
      TablePair("slow_c", slowSide, slowSide, Seq("id")))
    JobLog.during(spark) { log =>
      val e = intercept[Exception](ValidationRound.report(spark, pairs))
      val thrownAt = System.currentTimeMillis()
      assert(poolThreads.isEmpty, s"pool threads left: $poolThreads")
      assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
      assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("monitor failed")),
        s"not the monitor's failure: $e")
      log.marker("spec:after-failed-report")
      val report = log.all.filter(j => String.valueOf(j.desc).startsWith("report:"))
      assert(report.nonEmpty)
      assert(report.forall(j => j.end >= 0 && j.end <= thrownAt),
        s"report jobs still running after the report threw at $thrownAt: $report")
      assert(!report.exists(_.start > thrownAt), "a report job started after the throw")
      Thread.sleep(1000)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    }
    // the session is unharmed: the next report runs
    val rows = ValidationRound.report(spark, catalog()).collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("diffed", "clean", "diffed", "diffed"))
  }
}
