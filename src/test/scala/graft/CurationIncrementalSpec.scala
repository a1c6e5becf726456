package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental curation loop's contract: folding monotone ingest
  * batches through [[CurationRound.foldBatch]] maintains exactly the
  * state the full chain would compute over the concatenated corpus —
  * survivor set, per-stage funnel sums, and the round-cut artifacts —
  * whenever history dominates (a cross-batch near-duplicate never
  * out-ranks its shipped twin under the quality rule). The one
  * divergence an append-only loop cannot avoid (a LONGER newcomer
  * would displace shipped history in a full recompute) is pinned
  * explicitly as the contract, not left implicit. */
class CurationIncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = CurationRound.Config(
    strataCol = "lang", gopherStops = Seq("the", "a", "data", "table"),
    mixTargets = Seq("en" -> 1.0))

  // Gate-passing doc builder: `lines` sentence lines of 10 words each,
  // ending '.', ≥2 stopword hits per line, all-alpha-bearing words —
  // passes C4 (≥5 kept lines) at lines ≥ 5 and Gopher (≥50 words, mean
  // word length 3–10, alpha ≥ 0.8, stops ≥ 2).
  private def mkDoc(tag: String, lines: Int = 6): String =
    (1 to lines).map(i =>
      s"the $tag$i data words extra$tag$i keeps going fine here now.")
      .mkString("\n")

  private def ids(df: DataFrame, c: String = "doc_id"): Set[Long] =
    df.select(col(c).cast("long")).as[Long].collect().toSet

  private def funnelRows(df: DataFrame): Seq[(Int, String, Long, Long)] =
    df.orderBy(col("stage_ord")).collect()
      .map(r => (r.getAs[Int]("stage_ord"), r.getAs[String]("stage"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toSeq

  test("batch-folded state equals the full recompute: survivors, funnel sums, and the round cut (cross-batch exact + near dups)") {
    val d1 = mkDoc("aa")
    val d2 = mkDoc("bb", lines = 3) // fails C4 (< 5 sentence lines)
    val d3 = mkDoc("cc") + "\nconfig { nested } block" // fails C4 ('{')
    val d4 = mkDoc("aa", lines = 5) // near-dup of d1, SHORTER (in-batch)
    val d5 = mkDoc("ee")            // contaminated (bench quotes it)
    val d6 = mkDoc("ff")
    val batch0 = Seq((1L, "en", d1), (2L, "en", d2), (3L, "en", d3),
      (4L, "en", d4), (5L, "en", d5), (6L, "en", d6))
    val batch1 = Seq(
      (11L, "en", d1),               // EXACT cross-batch duplicate of 1
      (12L, "en", mkDoc("ff", 5)),   // near-dup of 6, shorter → history wins
      (13L, "en", mkDoc("gg")),
      (14L, "en", mkDoc("gg")))      // exact in-batch duplicate of 13
    val batch2 = Seq(
      (21L, "en", mkDoc("gg", 5)),   // near-dup of shipped 13, shorter
      (22L, "en", mkDoc("hh")))
    val bench = Seq((900L, mkDoc("ee", 4))).toDF("doc_id", "text")
    def df(b: Seq[(Long, String, String)]) = b.toDF("doc_id", "lang", "text")

    val statePath = TestSpark.tempDir("graft-cur-inc").toString
    CurationRound.foldBatch(spark, statePath, df(batch0), bench, cfg, 0L)
    CurationRound.foldBatch(spark, statePath, df(batch1), bench, cfg, 1L)
    CurationRound.foldBatch(spark, statePath, df(batch2), bench, cfg, 2L)

    val full = CurationRound.run(spark,
      df(batch0 ++ batch1 ++ batch2), bench, cfg)
    val fullSurvivors = ids(full.curated)
    assert(fullSurvivors == Set(1L, 6L, 13L, 22L))

    // survivors: batch-folded pool ≡ the full chain's stage-5 set
    // (single-stratum mixture keeps everything, so curated IS stage 5)
    assert(ids(CurationRound.readRetained(spark, statePath, cfg))
      == fullSurvivors)

    // funnel: cumulative per-stage sums ≡ the full funnel, stages 0-5
    val inc = funnelRows(CurationRound.cumulativeFunnel(spark, statePath))
    val fullF = funnelRows(full.funnel.filter(col("stage_ord") <= 5))
    assert(inc == fullF)
    // retentions agree too (same exact counts, same one IEEE division)
    val incR = CurationRound.cumulativeFunnel(spark, statePath)
      .orderBy(col("stage_ord")).collect()
      .map(r => (r.getAs[Double]("doc_retention"), r.getAs[Double]("token_retention")))
    val fullR = full.funnel.filter(col("stage_ord") <= 5)
      .orderBy(col("stage_ord")).collect()
      .map(r => (r.getAs[Double]("doc_retention"), r.getAs[Double]("token_retention")))
    assert(incR.toSeq == fullR.toSeq)

    // per-batch history is MetricsStore-shaped: batch-keyed, append-only
    val hist = CurationRound.incrementalFunnel(spark, statePath)
    assert(hist.count() == 18)
    val b1 = hist.filter(col("batch_id") === 1L).orderBy(col("stage_ord"))
      .select(col("n_docs")).as[Long].collect().toSeq
    // batch 1: 4 in, 4 gated, exact drops 11 (history fp) + 14 (in-batch
    // min-id), near drops 12 (edge to shipped 6), nothing contaminated
    assert(b1 == Seq(4L, 4L, 4L, 2L, 1L, 1L))

    // the round cut over the maintained pool ≡ the full chain's stage 6
    val (mixed, packed, stats) = CurationRound.cutRound(spark, statePath, cfg)
    assert(ids(mixed) == fullSurvivors)
    assert(packed.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      == full.packed.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq)
    assert(stats.head().toSeq == full.packStats.head().toSeq)
    full.unpersist()

    // REPLAY: re-folding the last batch (a recovering caller) leaves
    // every reader's view unchanged — reads scope below the batch,
    // appends re-stamp identical rows, readers dedup
    CurationRound.foldBatch(spark, statePath, df(batch2), bench, cfg, 2L)
    assert(ids(CurationRound.readRetained(spark, statePath, cfg))
      == fullSurvivors)
    assert(CurationRound.incrementalFunnel(spark, statePath).count() == 18)
    assert(funnelRows(CurationRound.cumulativeFunnel(spark, statePath)) == inc)

    // batch ids never regress (the MetricsStore append-only rule)
    val e = intercept[IllegalArgumentException] {
      CurationRound.foldBatch(spark, statePath, df(batch1), bench, cfg, 1L)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("divergence contract: a LONGER late near-duplicate cannot displace shipped history (full recompute would)") {
    val short = mkDoc("zz", 5)
    val long = mkDoc("zz", 6) // superset, higher quality under the rule
    val bench = Seq((900L, "unrelated bench words only.")).toDF("doc_id", "text")
    val b0 = Seq((1L, "en", short)).toDF("doc_id", "lang", "text")
    val b1 = Seq((11L, "en", long)).toDF("doc_id", "lang", "text")

    val statePath = TestSpark.tempDir("graft-cur-div").toString
    CurationRound.foldBatch(spark, statePath, b0, bench, cfg, 0L)
    CurationRound.foldBatch(spark, statePath, b1, bench, cfg, 1L)
    // the loop keeps what it shipped; the newcomer drops on its history edge
    assert(ids(CurationRound.readRetained(spark, statePath, cfg)) == Set(1L))

    // the full recompute elects the longer doc — the divergence the
    // append-only contract accepts (it cannot unship batch 0)
    val full = CurationRound.run(spark,
      Seq((1L, "en", short), (11L, "en", long)).toDF("doc_id", "lang", "text"),
      bench, cfg)
    assert(ids(full.curated) == Set(11L))
    full.unpersist()
  }

  test("df valve binds over EXACT survivors (the full chain's cap domain), not just retained docs") {
    // Family: X1 (6 lines) ⊃ X2 (5 lines) in batch 0 — X2 drops at
    // near-dup (non-canonical) but STAYS an exact survivor; Y (7 lines)
    // arrives in batch 1 as a near-dup of shipped X1.
    val x1 = mkDoc("xx", 6); val x2 = mkDoc("xx", 5); val y = mkDoc("xx", 7)
    val bench = Seq((900L, "unrelated bench words only.")).toDF("doc_id", "text")
    val b0 = Seq((1L, "en", x1), (2L, "en", x2)).toDF("doc_id", "lang", "text")
    val b1 = Seq((11L, "en", y)).toDF("doc_id", "lang", "text")

    // Uncapped control: Y drops on its history edge to X1 (jaccard ≈ .87).
    val openPath = TestSpark.tempDir("graft-cur-valve-open").toString
    CurationRound.foldBatch(spark, openPath, b0, bench, cfg, 0L)
    CurationRound.foldBatch(spark, openPath, b1, bench, cfg, 1L)
    assert(ids(CurationRound.readRetained(spark, openPath, cfg)) == Set(1L))

    // dfCap = 2: every shingle X1 shares with X2 now carries history
    // df 2 (BOTH exact survivors — X2's near-dup drop must not erase
    // its df) + batch df 1 = 3 > cap → valved out; only X1's line-6
    // shingles (history df 1) stay eligible, far below minJaccard — Y
    // SURVIVES. Counting retained docs only (the pre-fix census) would
    // put the shared shingles at pool df 2 ≤ cap and wrongly drop Y.
    val valveCfg = cfg.copy(jaccardDfCap = 2)
    val cappedPath = TestSpark.tempDir("graft-cur-valve-cap").toString
    CurationRound.foldBatch(spark, cappedPath, b0, bench, valveCfg, 0L)
    CurationRound.foldBatch(spark, cappedPath, b1, bench, valveCfg, 1L)
    assert(ids(CurationRound.readRetained(spark, cappedPath, valveCfg))
      .contains(11L))

    // The full chain agrees on the NEWCOMER's verdict (its cap domain
    // is the concatenation's exact survivors — same df, same drop):
    // Y survives there too. X2 itself diverges (batch 0 shipped its
    // drop when the in-batch df was still under the cap) — the
    // append-only contract's accepted shipped-decision divergence.
    val full = CurationRound.run(spark,
      Seq((1L, "en", x1), (2L, "en", x2), (11L, "en", y))
        .toDF("doc_id", "lang", "text"), bench, valveCfg)
    assert(ids(full.curated).contains(11L))
    full.unpersist()
  }

  test("shdf compaction: summary-scoped folds match an uncompacted twin; gc=false never double-counts; the frontier refuses re-folds") {
    val bench = Seq((900L, "unrelated bench words only.")).toDF("doc_id", "text")
    def batch(k: Int) =
      Seq((k * 10L + 1L, "en", mkDoc(s"t$k")), (k * 10L + 2L, "en", mkDoc(s"u$k")))
        .toDF("doc_id", "lang", "text")
    val a = TestSpark.tempDir("graft-cur-cmp-a").toString
    val b = TestSpark.tempDir("graft-cur-cmp-b").toString
    (0 to 1).foreach { k =>
      CurationRound.foldBatch(spark, a, batch(k), bench, cfg, k.toLong)
      CurationRound.foldBatch(spark, b, batch(k), bench, cfg, k.toLong)
    }
    val shdfA = a + "/shdf"
    // gc=false first: superseded deltas REMAIN next to the summary —
    // the fold must scope to the summary, not sum both (double-count)
    graft.streaming.EventStream.compactCensusState(spark, shdfA,
      CurationRound.shdfCensus, gc = false)
    CurationRound.foldBatch(spark, a, batch(2), bench, cfg, 2L)
    CurationRound.foldBatch(spark, b, batch(2), bench, cfg, 2L)
    def view(p: String) = (
      ids(CurationRound.readRetained(spark, p, cfg)),
      funnelRows(CurationRound.cumulativeFunnel(spark, p)))
    assert(view(a) == view(b))
    // gc pass, another fold on top: still the uncompacted twin's state
    graft.streaming.EventStream.gcCensusState(spark, shdfA)
    CurationRound.foldBatch(spark, a, batch(3), bench, cfg, 3L)
    CurationRound.foldBatch(spark, b, batch(3), bench, cfg, 3L)
    assert(view(a) == view(b))
    // folding AT the compaction frontier is refused (a summary folds
    // batches <= W irreversibly; a replay below it could no longer
    // exclude its own prior df contribution)
    graft.streaming.EventStream.compactCensusState(spark, shdfA,
      CurationRound.shdfCensus)
    val e = intercept[IllegalArgumentException] {
      CurationRound.foldBatch(spark, a, batch(3), bench, cfg, 3L)
    }
    assert(e.getMessage.contains("compacted through"))
    // the twin still replays its batch 3 fine (no compaction there)
    CurationRound.foldBatch(spark, b, batch(3), bench, cfg, 3L)
    assert(view(a)._1 == view(b)._1)
  }

  test("streamCuration: streamed micro-batch folds ≡ batch foldBatch ≡ full run; compaction fires mid-stream; replay leaves views unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bench = Seq((900L, "unrelated bench words only.")).toDF("doc_id", "text")
    val batches = Seq(
      Seq((1L, "en", mkDoc("aa")), (2L, "en", mkDoc("bb"))),
      Seq((11L, "en", mkDoc("aa")),      // exact dup of shipped 1
          (12L, "en", mkDoc("cc"))),
      Seq((21L, "en", mkDoc("bb", 5)),   // shorter near-dup of shipped 2
          (22L, "en", mkDoc("dd"))))
    val streamed = TestSpark.tempDir("graft-cur-stream").toString
    val ckpt = TestSpark.tempDir("graft-cur-stream-ck").toString
    val src = MemoryStream[(Long, String, String)]
    val q = CurationRound.streamCuration(
      src.toDF().toDF("doc_id", "lang", "text"), streamed, ckpt, bench, cfg,
      compactEvery = 2)
    try {
      batches.foreach { rows => src.addData(rows: _*); q.processAllAvailable() }
    } finally q.stop()

    // ≡ the same three folds driven by hand
    val manual = TestSpark.tempDir("graft-cur-manual").toString
    batches.zipWithIndex.foreach { case (rows, k) =>
      CurationRound.foldBatch(spark, manual,
        rows.toDF("doc_id", "lang", "text"), bench, cfg, k.toLong)
    }
    def view(p: String) = (
      ids(CurationRound.readRetained(spark, p, cfg)),
      funnelRows(CurationRound.cumulativeFunnel(spark, p)),
      CurationRound.incrementalFunnel(spark, p).count())
    assert(view(streamed) == view(manual))

    // ≡ the full chain over the concatenation (history dominates here)
    val full = CurationRound.run(spark,
      batches.flatten.toDF("doc_id", "lang", "text"), bench, cfg)
    assert(ids(CurationRound.readRetained(spark, streamed, cfg))
      == ids(full.curated))
    full.unpersist()

    // compact-before-fold fired mid-stream (compactEvery=2 → at the
    // head of micro-batch 1, folding only the committed batch 0)
    val shdf = spark.read.option("mergeSchema", "true")
      .parquet(streamed + "/shdf")
    assert(shdf.columns.contains("__compacted_through"))
    assert(shdf.agg(max(col("__compacted_through"))).head().getLong(0) == 0L)

    // failure-recovery: a replayed last micro-batch (the at-least-once
    // case) recomputes identical stamped rows — every view unchanged
    val before = view(streamed)
    CurationRound.foldBatch(spark, streamed,
      batches.last.toDF("doc_id", "lang", "text"), bench, cfg, 2L)
    assert(view(streamed) == before)
  }

  test("foldBatch releases its checkpoint blocks: zero persistent RDDs leak per fold") {
    // localCheckpoint blocks live outside the cache manager; a plain
    // Dataset.unpersist leaks them until application end (the measured
    // sweep-scale leak behind the sf10 span-build inflation). Each fold
    // must leave the persistent-RDD set exactly as it found it.
    val bench = Seq((900L, "unrelated bench words only.")).toDF("doc_id", "text")
    val statePath = TestSpark.tempDir("graft-cur-leak").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CurationRound.foldBatch(spark, statePath,
      Seq((1L, "en", mkDoc("la")), (2L, "en", mkDoc("lb")))
        .toDF("doc_id", "lang", "text"), bench, cfg, 0L)
    // clearCache first (the bench harness's between-queries move): it
    // releases CACHE-MANAGER entries from operators inside the fold —
    // what it can NEVER release is a leaked localCheckpoint, which is
    // exactly what the final assert would catch.
    spark.catalog.clearCache()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "foldBatch leaked checkpoint RDD blocks")
  }

  test("fold on fresh state from an empty batch records zero rows and survives") {
    val statePath = TestSpark.tempDir("graft-cur-empty").toString
    val bench = Seq((900L, "bench words only here.")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    val f = CurationRound.foldBatch(spark, statePath, empty, bench, cfg, 0L)
    assert(f.count() == 6)
    assert(f.agg(sum(col("n_docs"))).head().getLong(0) == 0L)
    assert(CurationRound.readRetained(spark, statePath, cfg).count() == 0)
    // a real batch folds fine on top of the empty one
    CurationRound.foldBatch(spark, statePath,
      Seq((5L, "en", mkDoc("qq"))).toDF("doc_id", "lang", "text"),
      bench, cfg, 1L)
    assert(ids(CurationRound.readRetained(spark, statePath, cfg)) == Set(5L))
  }

  /** Committed state files: parquet files outside `_temporary`. */
  private def stateFiles(statePath: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.getName.startsWith("_")) Nil
      else if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    Option(new java.io.File(statePath).listFiles).toSeq.flatten.flatMap(walk)
      .map(_.getPath).filter(_.endsWith(".parquet")).toSet
  }

  private val FoldLabels = Seq("guard", "gate-census", "gated", "s3-exact",
    "shingle", "batch-df", "canonical", "s4-near", "s5-decontam", "write-fps",
    "write-survivors", "write-postings", "write-shdf", "stats", "write-funnel")
    .map("fold:" + _).toSet

  /** Folds `batch` expecting a failure; then checks that no job of the
    * fold was left running or started after the throw, and that no
    * state file appears afterwards. Returns the failure. */
  private def failedFold(statePath: String, batch: DataFrame,
                         bench: DataFrame, batchId: Long): Throwable =
    JobLog.during(spark) { log =>
      val e = intercept[Exception] {
        CurationRound.foldBatch(spark, statePath, batch, bench, cfg, batchId)
      }
      val thrownAt = System.currentTimeMillis()
      val files = stateFiles(statePath)
      log.marker("spec:after-failed-fold")
      val fold = log.all.filter(j => j.desc != null && j.desc.startsWith("fold:"))
      assert(fold.nonEmpty)
      assert(fold.forall(j => j.end >= 0 && j.end <= thrownAt),
        s"fold jobs still running after the fold threw at $thrownAt: $fold")
      assert(!fold.exists(_.start > thrownAt), "a fold job started after the throw")
      Thread.sleep(2000)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
      assert(stateFiles(statePath) == files, "state files appeared after the fold threw")
      e
    }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("a failed fold leaves nothing running: jobs cancelled, no state file appears afterwards") {
    val bench = Seq((900L, "unrelated bench words only.")).toDF("doc_id", "text")
    def batch(k: Int) = (1 to 4)
      .map(i => (k * 10L + i, "en", mkDoc(s"f$k$i"))).toDF("doc_id", "lang", "text")

    // A delta write that fails while the others run: `fps` is a plain
    // file, so its append cannot create the directory.
    val blocked = TestSpark.tempDir("graft-cur-fail-w")
    java.nio.file.Files.writeString(blocked.resolve("fps"), "not a directory")
    failedFold(blocked.toString, batch(0), bench, 0L)

    // A bench probe that throws inside its job, on a fold with history.
    val statePath = TestSpark.tempDir("graft-cur-fail-p").toString
    CurationRound.foldBatch(spark, statePath, batch(0), bench, cfg, 0L)
    val boom = udf((s: String) => {
      if (s != null) throw new IllegalStateException("bench probe failed"); s
    }).asNondeterministic()
    val e = failedFold(statePath, batch(1),
      bench.withColumn("text", boom(col("text"))), 1L)
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("bench probe failed")))
    // the same batch re-folds cleanly over whatever the failed fold left
    CurationRound.foldBatch(spark, statePath, batch(1), bench, cfg, 1L)
    assert(ids(CurationRound.readRetained(spark, statePath, cfg))
      == Set(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L))
    assert(CurationRound.incrementalFunnel(spark, statePath).count() == 12)
  }

  test("every job a fold starts carries one of the fold:* phase labels") {
    val bench = Seq((900L, "unrelated bench words only.")).toDF("doc_id", "text")
    val statePath = TestSpark.tempDir("graft-cur-labels").toString
    val labels = JobLog.startedBy(spark) {
      CurationRound.foldBatch(spark, statePath,
        Seq((1L, "en", mkDoc("ka")), (2L, "en", mkDoc("kb")))
          .toDF("doc_id", "lang", "text"), bench, cfg, 0L)
      // history present: the guard, state reads and history edges run
      CurationRound.foldBatch(spark, statePath,
        Seq((11L, "en", mkDoc("ka", 5)), (12L, "en", mkDoc("kc")))
          .toDF("doc_id", "lang", "text"), bench, cfg, 1L)
    }.map(_.desc)
    val unlabeled = labels.filterNot(FoldLabels.contains)
    assert(unlabeled.isEmpty, s"jobs without a fold label: $unlabeled")
    Seq("guard", "canonical", "s4-near", "s5-decontam", "write-funnel")
      .foreach(p => assert(labels.contains(s"fold:$p"), s"no fold:$p job"))
    assert(ids(CurationRound.readRetained(spark, statePath, cfg)) == Set(1L, 2L, 12L))
  }

  test("foldBatch releases its checkpoint blocks with history present: no persistent RDD outlives clearCache") {
    val bench = Seq((900L, "unrelated bench words only.")).toDF("doc_id", "text")
    val statePath = TestSpark.tempDir("graft-cur-leak-hist").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CurationRound.foldBatch(spark, statePath,
      Seq((1L, "en", mkDoc("ha")), (2L, "en", mkDoc("hb")))
        .toDF("doc_id", "lang", "text"), bench, cfg, 0L)
    // batch 1 meets history: 11 drops on its edge to shipped 1
    CurationRound.foldBatch(spark, statePath,
      Seq((11L, "en", mkDoc("ha", 5)), (12L, "en", mkDoc("hc")))
        .toDF("doc_id", "lang", "text"), bench, cfg, 1L)
    spark.catalog.clearCache()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "foldBatch leaked checkpoint RDD blocks")
    assert(ids(CurationRound.readRetained(spark, statePath, cfg)) == Set(1L, 2L, 12L))
  }

  test("decontamination probed over s3 then restricted to s4 ≡ run(): stage 4/5 counts and retained ids") {
    // One bench line; quoting it contaminates a doc (overlap 1.0).
    val quote = "the quoted bench line data item zeta."
    val bench = Seq((900L, quote)).toDF("doc_id", "text")
    val batch0 = Seq(
      (1L, "en", mkDoc("ww")),                        // shipped twin of 11
      (2L, "en", mkDoc("cc")))                        // clean
    val batch1 = Seq(
      (11L, "en", mkDoc("ww", 5) + "\n" + quote),    // history near-dup loser AND contaminated
      (12L, "en", mkDoc("bb") + "\n" + quote),       // contaminated only
      (13L, "en", mkDoc("dd")),                       // clean
      (14L, "en", mkDoc("dd", 5) + "\n" + quote))    // in-batch near-dup loser AND contaminated
    def df(b: Seq[(Long, String, String)]) = b.toDF("doc_id", "lang", "text")
    val statePath = TestSpark.tempDir("graft-cur-decontam").toString
    CurationRound.foldBatch(spark, statePath, df(batch0), bench, cfg, 0L)
    val f1 = funnelRows(
      CurationRound.foldBatch(spark, statePath, df(batch1), bench, cfg, 1L))
    // batch 1: 11 and 14 drop at near-dup (before decontamination could
    // count them), 12 at decontamination
    assert(f1.map(_._3).drop(3) == Seq(4L, 2L, 1L))

    val full = CurationRound.run(spark, df(batch0 ++ batch1), bench, cfg)
    def stages45(f: Seq[(Int, String, Long, Long)]) = f.filter(r => r._1 == 4 || r._1 == 5)
    assert(stages45(funnelRows(CurationRound.cumulativeFunnel(spark, statePath)))
      == stages45(funnelRows(full.funnel.filter(col("stage_ord") <= 5))))
    assert(ids(CurationRound.readRetained(spark, statePath, cfg)) == ids(full.curated))
    assert(ids(full.curated) == Set(1L, 2L, 13L))
    full.unpersist()
  }
}
