package graft

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Packing, Sampling, TextAnalysis}
import graft.sources.Tables

/** One CURATION round over a document corpus — the pre-training data
  * chain composed end-to-end from the engine's standalone operators,
  * with per-stage funnel accounting (the [[ValidationRound]] pattern
  * applied to curation instead of validation):
  *
  *   1. C4 page gate ([[TextAnalysis.c4Signals]].pass — Raffel 2020
  *      §2.2) then Gopher quality gate ([[TextAnalysis.gopherSignals]]
  *      .pass — Rae 2021 A1.1): predicate stages riding ONE scan.
  *   2. Exact dedup: keep the min-id document per
  *      [[TextAnalysis.docFingerprint]] (the [[Dedup.exactGroups]]
  *      canonical rule; null-fingerprint rows pass through untouched,
  *      the same no-data-loss contract).
  *   3. Near dedup: [[Dedup.ngramJaccardPairs]] candidates over the
  *      exact survivors, [[Dedup.canonicalKeepList]] keep/drop verdicts
  *      (best quality = longest text, ties to min id) — only
  *      non-canonical members drop.
  *   4. Decontamination: survivors with any
  *      [[Dedup.contaminationPairs]] hit against the benchmark corpus
  *      drop (the Lee/Brown-style eval-leak scrub).
  *   5. Mixture rebalance: [[Sampling.mixtureRebalance]] lands the
  *      survivors on the target per-stratum token shares at the
  *      largest achievable size.
  *   6. Packing: [[Packing.sequenceOffsets]] +
  *      [[Packing.packStats]] over the final survivor set — the
  *      training-ready artifact and its efficiency census.
  *
  * Every stage IS the standalone operator (no parallel
  * reimplementation — CurationRoundSpec proves the composed survivor
  * sets equal manual chains of the standalone calls), and the funnel
  * counts are exact longs with one IEEE division each for the
  * retention columns, so the whole report is oracle-exact
  * (q_curation_round composes the stages' existing DuckDB oracle
  * fragments into one SQL chain).
  *
  * Scale shape: the gates ride the scan (codegen'd signal bundles,
  * zero shuffle); exact dedup shuffles (id, 128-bit fp) only; near-dup
  * and contamination shuffle valve-bounded shingle hashes (df-caps) —
  * text never shuffles; the mixture is a broadcast threshold filter;
  * packing is the two-phase prefix sum. Survivor ID frames (id,
  * stratum, n_tokens — never text) persist MEMORY_AND_DISK so each
  * stage builds on the previous without recomputing the chain; the
  * gated text view persists once (the working set every dedup stage
  * scans). Call [[Result.unpersist]] when done — or rely on the
  * caller's clearCache() discipline (the Verify harness's contract).
  */
object CurationRound {

  /** The chain's knobs, defaulted to the standalone queries' published
    * parameters. `mixTargets` must be positive weights summing to 1
    * (the [[Sampling.mixtureRebalance]] contract). */
  final case class Config(idCol: String = "doc_id",
                          textCol: String = "text",
                          strataCol: String = "lang",
                          c4MinSentences: Int = 5,
                          gopherStops: Seq[String],
                          mixTargets: Seq[(String, Double)],
                          jaccardN: Int = 3,
                          jaccardMinJaccard: Double = 0.5,
                          jaccardDfCap: Int = 10000,
                          contamN: Int = 3,
                          contamMinOverlap: Double = 0.5,
                          contamBenchDfCap: Int = 100,
                          packMaxTokens: Int = 2048,
                          salt: String = "graft")

  /** `funnel`: one row per stage (ord, name, exact doc/token counts,
    * retentions vs stage 0). `curated`: the surviving corpus rows.
    * `packed`: [[Packing.sequenceOffsets]] over the survivors.
    * `packStats`: the one-row packing census. */
  final case class Result(funnel: DataFrame, curated: DataFrame,
                          packed: DataFrame, packStats: DataFrame,
                          private[graft] val pinned: Seq[DataFrame]) {
    /** Release the stage frames this round persisted. SAFE BY
      * CONSTRUCTION: every returned frame is driver-backed (`funnel`)
      * or reads the materialized final-survivor table (`curated`,
      * `packed`, `packStats` — parquet, immune to cache drops), so all
      * four stay consumable afterwards; only the intermediate stage
      * caches are freed. The pinned frames are localCheckpoints, whose
      * RDD blocks Dataset.unpersist does NOT free (they live outside
      * the cache manager) — releaseLocalCheckpoint drops the actual
      * blocks, or they'd survive to application end (the measured
      * ~50 GB/sweep leak behind the span-build inflation). */
    def unpersist(): Unit = pinned.foreach { f =>
      f.unpersist()
      org.apache.spark.sql.GraftBridge.releaseLocalCheckpoint(f)
    }
  }

  private val funnelSchema = StructType(Seq(
    StructField("stage_ord", IntegerType, nullable = false),
    StructField("stage", StringType, nullable = false),
    StructField("n_docs", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("doc_retention", DoubleType, nullable = false),
    StructField("token_retention", DoubleType, nullable = false)))

  /** Where a run's stage frames land between stages. */
  private sealed trait Seams {
    /** Materialize a stage frame; `compute` is skipped when the seam
      * can serve the stage from storage (resume). */
    def seam(stageName: String, compute: () => DataFrame): DataFrame
    /** Frames [[Result.unpersist]] must release (cache seams only). */
    def pinned: Seq[DataFrame]
    /** One-row frames (the gate census) — storage seams persist these
      * too so a resumed run skips even the corpus gate scan. */
    def tinySeam(stageName: String, compute: () => DataFrame): DataFrame
  }

  /** The in-session default: localCheckpoint (cache + logical lineage
    * cut), not plain persist — each stage's analyzed plan embeds every
    * upstream stage's tree, and with the gate signal bundles inlined
    * the tree size compounds MULTIPLICATIVELY across six stages
    * (measured at sf0.01: analyzer cost alone took the chain to ~35 s
    * on a 739-row corpus; truncation returns it to data-proportional
    * cost). Re-measured this round (guide §1.1): swapping the id-scale
    * seams for LAZY persists — hoping to save their materialization
    * jobs — took the sf0.1 build from 14 s to 20 s, because every
    * downstream ACTION (the final-survivor write, the stats, each
    * consumer) re-analyzes the untruncated trees; the eager
    * checkpoints pay one small job each and keep planning O(stage).
    * The price is recompute-on-executor-loss within the round. */
  private final class CacheSeams extends Seams {
    private var frames = List.empty[DataFrame]
    def seam(stageName: String, compute: () => DataFrame): DataFrame = {
      val f = compute().localCheckpoint()
      frames = f :: frames
      f
    }
    def tinySeam(stageName: String, compute: () => DataFrame): DataFrame =
      compute()
    def pinned: Seq[DataFrame] = frames.reverse
  }

  /** The production seam: every stage frame is a RELIABLE STAGING
    * TABLE (parquet under `root/<stage>`), the shape a 100 TB run uses
    * so stages survive executor AND driver loss. A stage directory
    * already carrying a `_SUCCESS` marker is read instead of
    * recomputed — re-running a failed chain RESUMES from the last
    * completed stage (same seams, same semantics as the cache run;
    * CurationRoundSpec proves frame-for-frame equality). Stale staging
    * from an older corpus is the caller's contract to clear, exactly
    * like the census-state and NearDupPipeline staleness rules. */
  private final class StorageSeams(spark: SparkSession, root: String) extends Seams {
    private def path(stageName: String) =
      root.stripSuffix("/") + "/" + stageName
    private def done(p: String): Boolean = {
      val sp = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sp)
    }
    def seam(stageName: String, compute: () => DataFrame): DataFrame = {
      val p = path(stageName)
      if (!done(p)) compute().write.mode("overwrite").parquet(p)
      Tables.parquet(spark, p)
    }
    def tinySeam(stageName: String, compute: () => DataFrame): DataFrame =
      seam(stageName, () => compute().coalesce(1))
    def pinned: Seq[DataFrame] = Nil
  }

  /** Run the chain with in-session cache seams (see [[CacheSeams]]). */
  def run(spark: SparkSession, corpus: DataFrame, bench: DataFrame,
          cfg: Config): Result =
    runSeamed(spark, corpus, bench, cfg, new CacheSeams)

  /** Run the chain with RELIABLE staging-table seams under
    * `stagingPath` (see [[StorageSeams]]): each stage writes
    * `stagingPath/<stage>` parquet, and a re-run resumes from the last
    * stage whose directory committed. Output is frame-for-frame equal
    * to [[run]]'s. */
  def runStaged(spark: SparkSession, corpus: DataFrame, bench: DataFrame,
                cfg: Config, stagingPath: String): Result =
    runSeamed(spark, corpus, bench, cfg, new StorageSeams(spark, stagingPath))

  /** The chain body. `corpus` needs (idCol, strataCol, textCol);
    * `bench` needs (idCol, textCol) — the benchmark suite
    * decontamination protects. Stage boundaries materialize through
    * `seams`; the FINAL survivor frame additionally lands in parquet
    * in every mode (see the [[Result.unpersist]] contract). */
  private def runSeamed(spark: SparkSession, corpus: DataFrame,
                        bench: DataFrame, cfg: Config,
                        seams: Seams): Result = {
    val id = col(cfg.idCol)
    val nTok = TextAnalysis.wsTokenCount(col(cfg.textCol)).cast("long")
    val base = corpus.select(id, col(cfg.strataCol), col(cfg.textCol),
      nTok.as("__n_tokens"))

    // Stages 0-2 ride ONE scan (the filterFunnel discipline): total,
    // after the C4 page verdict, after C4 && Gopher. The census is a
    // tiny seam so a staged resume skips even this corpus scan.
    val c4p = TextAnalysis.c4Signals(col(cfg.textCol), cfg.c4MinSentences).pass
    val gop = TextAnalysis.gopherSignals(col(cfg.textCol), cfg.gopherStops).pass
    val g = seams.tinySeam("s0_gate_census", () => base.agg(
      count(lit(1)).as("d0"),
      coalesce(sum(col("__n_tokens")), lit(0L)).as("t0"),
      count(when(c4p, 1)).as("d1"),
      coalesce(sum(when(c4p, col("__n_tokens"))), lit(0L)).as("t1"),
      count(when(c4p && gop, 1)).as("d2"),
      coalesce(sum(when(c4p && gop, col("__n_tokens"))), lit(0L)).as("t2")))
      .head()
    def lng(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)

    // The gated working set — every dedup stage scans it; text AND the
    // exact-dedup fingerprint materialize HERE once (gate + fp ride one
    // scan — guide §2.3) instead of re-deriving the signal bundles per
    // stage (and the signal trees leave every downstream plan).
    // Staging-layout versioning: a resumed s2_gated written BEFORE the
    // fingerprint rode this seam lacks __fp — recompute it from the
    // staged text (same deterministic function, identical values)
    // instead of failing the resume on a missing column.
    val gatedRaw = seams.seam("s2_gated", () => base.filter(c4p && gop)
      .withColumn("__fp", TextAnalysis.docFingerprint(col(cfg.textCol))))
    val gated =
      if (gatedRaw.columns.contains("__fp")) gatedRaw
      else gatedRaw.withColumn("__fp",
        TextAnalysis.docFingerprint(col(cfg.textCol)))

    // Stage 3 — exact dedup: min id per fingerprint keeps; null
    // fingerprints pass through (the exactGroups contract).
    val exactIds = seams.seam("s3_exact_ids", () => {
      val fps = gated.select(id, col("__fp"))
      fps.filter(col("__fp").isNotNull)
        .groupBy(col("__fp")).agg(min(id).as(cfg.idCol))
        .select(id)
        .unionByName(fps.filter(col("__fp").isNull).select(id))
    })
    val s3 = gated.join(exactIds, Seq(cfg.idCol), "left_semi").drop("__fp")

    // Stage 4 — near dedup: pair candidates over exact survivors, then
    // the canonical keep/drop verdicts; docs in no pair survive free.
    val nearIds = seams.seam("s4_near_ids", () => {
      val pairs = Dedup.ngramJaccardPairs(s3, cfg.idCol, cfg.textCol,
        cfg.jaccardN, cfg.jaccardMinJaccard, cfg.jaccardDfCap)
      val verdicts = Dedup.canonicalKeepList(pairs,
        s3.select(id, length(col(cfg.textCol)).cast("long").as("__q")),
        cfg.idCol, "__q")
      exactIds.join(
        verdicts.filter(!col("is_canonical"))
          .select(col("doc_id").as(cfg.idCol)),
        Seq(cfg.idCol), "left_anti")
    })
    val s4 = gated.join(nearIds, Seq(cfg.idCol), "left_semi").drop("__fp")

    // Stage 5 — decontamination: any benchmark overlap hit drops.
    val cleanIds = seams.seam("s5_clean_ids", () => {
      val contamIds = Dedup.contaminationPairs(s4, bench, cfg.idCol,
          cfg.textCol, cfg.contamN, cfg.contamMinOverlap,
          cfg.contamBenchDfCap)
        .select(col("doc_id").as(cfg.idCol)).distinct()
      nearIds.join(contamIds, Seq(cfg.idCol), "left_anti")
    })
    val s5 = gated.join(cleanIds, Seq(cfg.idCol), "left_semi").drop("__fp")

    // Stage 6 — mixture rebalance on the survivors' token mass. The
    // final survivor frame ALWAYS lands in parquet (a per-process temp
    // table when no staging path was given — the NearDupPipeline
    // materialization convention): it is the one frame every returned
    // output reads, so backing it with storage instead of a cache
    // makes Result.unpersist / clearCache safe by construction, and it
    // is id-scale (id, stratum, token count — never text), so the
    // write is noise next to the chain it concludes.
    val mixedPlan = () => Sampling.mixtureRebalance(
      s5.select(id, col(cfg.strataCol), col("__n_tokens")),
      cfg.idCol, cfg.strataCol, col("__n_tokens"), cfg.mixTargets,
      cfg.salt)
    val mixed = seams match {
      case ss: StorageSeams => ss.seam("s6_mixed_ids", mixedPlan)
      case _ =>
        val p = tempTableDir(spark)
        mixedPlan().write.mode("overwrite").parquet(p)
        Tables.parquet(spark, p)
    }

    // Funnel counts: stage frames are id-scale and persisted; ONE
    // union-aggregate job replaces the four per-stage count jobs (each
    // paid a driver round-trip for a one-row answer — guide §1.2).
    val statByStage = s3.select(lit(3).as("__stage"), col("__n_tokens"))
      .unionByName(s4.select(lit(4).as("__stage"), col("__n_tokens")))
      .unionByName(s5.select(lit(5).as("__stage"), col("__n_tokens")))
      .unionByName(mixed.select(lit(6).as("__stage"), col("__n_tokens")))
      .groupBy(col("__stage"))
      .agg(count(lit(1)).as("d"),
        coalesce(sum(col("__n_tokens")), lit(0L)).as("t"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def stat(stage: Int): (Long, Long) =
      statByStage.getOrElse(stage, (0L, 0L))
    val (d3, t3) = stat(3)
    val (d4, t4) = stat(4)
    val (d5, t5) = stat(5)
    val (d6, t6) = stat(6)
    val counts = Seq(
      (0, "total", lng(g, 0), lng(g, 1)),
      (1, "c4_gate", lng(g, 2), lng(g, 3)),
      (2, "gopher_gate", lng(g, 4), lng(g, 5)),
      (3, "dedup_exact", d3, t3),
      (4, "dedup_near", d4, t4),
      (5, "decontaminate", d5, t5),
      (6, "mixture", d6, t6))
    val (dTot, tTot) = (lng(g, 0), lng(g, 1))
    val funnel = spark.createDataFrame(
      spark.sparkContext.parallelize(counts.map { case (o, n, d, t) =>
        Row(o, n, d, t,
          if (dTot > 0) d.toDouble / dTot.toDouble else 0.0,
          if (tTot > 0) t.toDouble / tTot.toDouble else 0.0)
      }, 1), funnelSchema)

    val curated = corpus.join(mixed.select(id), Seq(cfg.idCol), "left_semi")
    val packed = Packing.sequenceOffsets(
      mixed.select(id, col("__n_tokens").as("n_tokens")),
      cfg.idCol, "n_tokens", cfg.packMaxTokens)
    val stats = Packing.packStats(
      mixed.select(id, col("__n_tokens").as("n_tokens")),
      cfg.idCol, "n_tokens", cfg.packMaxTokens)
    Result(funnel, curated, packed, stats, seams.pinned)
  }

  // ---- incremental fold ----------------------------------------------
  // The chain as a MAINTAINED loop: a production curation pipeline
  // ingests batches continuously and must not re-run the whole chain
  // from scratch per batch. foldBatch runs one batch through the same
  // six-stage semantics against accumulated state under `statePath`:
  //
  //   statePath/fps        (fp, __batch_id)            gated fingerprints seen
  //   statePath/survivors  (id, stratum, text, n_tokens, n_sh, __batch_id)
  //   statePath/postings   (id, sh, __batch_id)        retained docs' shingle index
  //   statePath/shdf       (sh, n, __batch_id)         EXACT-survivor shingle-df census
  //   statePath/funnel     (stage_ord, stage, n_docs, n_tokens, __batch_id)
  //
  // Per batch, only the BATCH is gated/fingerprinted/shingled; history
  // participates through its maintained index: the exact gate is the
  // Dedup.incrementalNew anti-join against `fps`, near-dup candidates
  // come from joining the batch's postings against the survivor posting
  // index under the POOL df valve (history df from the `shdf` census
  // fold + the batch's own). `shdf` counts each batch's STAGE-3 (exact
  // dedup) survivors' shingles — the same df domain the full chain's
  // ngramJaccardPairs(s3) cap uses — so under monotone ids the valve
  // is EXACTLY the full chain's bucket-size cap over the
  // concatenation's exact survivors, even for docs later stages
  // dropped. Decontamination is the stateless bench probe. At 100 TB
  // the posting index is the table you'd bucket by `sh` so only the
  // batch side shuffles.
  //
  // MAINTENANCE: `shdf` is the one ADDITIVE census here — compact it
  // with EventStream.compactCensusState(keyCols=Seq("sh"),
  // valueCols=Seq("n")); foldBatch's read is summary-scoped (latest
  // summary + newer deltas) and REFUSES to fold a batch at or below
  // the compaction frontier W (a summary folds batches ≤ W
  // irreversibly, so a replayed batch ≤ W could no longer exclude its
  // own prior contribution — compact only batches the checkpoint has
  // committed; see streamCuration's compact-before-fold schedule).
  // `funnel` is per-batch HISTORY (the MetricsStore shape) — folding
  // it across batches would collapse incrementalFunnel's rows into one
  // pseudo-batch; never compact it. `fps`/`postings`/`survivors` are
  // per-doc SET state read through replay-dedup, not additive censuses;
  // their only valid rewrite is a stamp-preserving distinct, which the
  // reads make unnecessary.
  //
  // SEMANTICS (the incremental contract, spec-pinned): ids and batch
  // ids are MONOTONE (later ingest ⇒ larger ids); shipped history is
  // immutable, so a batch doc near-pairing a retained historical doc
  // drops (history-wins), and within-batch components elect the
  // standalone canonical (quality = length, ties min id). Batch-folded
  // state ≡ the full chain over the concatenation EXCEPT where a later
  // batch's near-duplicate would out-rank its historical twin under the
  // quality rule — the one divergence an append-only loop cannot honor
  // (it cannot unship data); exact dedup, the gates, decontamination
  // and the funnel sums agree unconditionally under monotone ids.
  // CurationRoundSpec proves fold ≡ run() on a corpus where history
  // dominates (including a cross-batch duplicate pair) and pins the
  // divergence case as the contract.
  //
  // REPLAY: every state read inside foldBatch scopes to __batch_id <
  // batchId, so re-folding a batch after a partial failure recomputes
  // identical rows (appends are stamped; external readers dedup), the
  // census-state discipline. Batch ids must not regress — folding an id
  // below the recorded maximum is refused like MetricsStore's
  // append-only rounds.

  private def subPath(statePath: String, name: String): String =
    statePath.stripSuffix("/") + "/" + name

  private def dirNonEmpty(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(hp) && fs.listStatus(hp).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** A state directory read with the schema the fold wrote it under:
    * no schema-inference job (one footer-reading job per read
    * otherwise), and absent state is an empty LOCAL relation, which the
    * optimizer prunes out of every join and union it feeds. */
  private def readState(spark: SparkSession, statePath: String, name: String,
                        schema: StructType): DataFrame = {
    val p = subPath(statePath, name)
    if (dirNonEmpty(spark, p)) spark.read.schema(schema).parquet(p)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }

  private def fpsSchema = StructType(Seq(
    StructField("fp", StringType), StructField("__batch_id", LongType)))
  // The stratum is stored as a string: the mixture's targets are keyed
  // by string, and a fixed type lets every reader declare the schema.
  private def survivorsSchema(cfg: Config) = StructType(Seq(
    StructField(cfg.idCol, LongType), StructField(cfg.strataCol, StringType),
    StructField(cfg.textCol, StringType),
    StructField("__n_tokens", LongType), StructField("__n_sh", LongType),
    StructField("__batch_id", LongType)))
  private def postingsSchema(cfg: Config) = StructType(Seq(
    StructField(cfg.idCol, LongType), StructField("sh", LongType),
    StructField("__batch_id", LongType)))
  private def incFunnelSchema = StructType(Seq(
    StructField("stage_ord", IntegerType), StructField("stage", StringType),
    StructField("n_docs", LongType), StructField("n_tokens", LongType),
    StructField("__batch_id", LongType)))
  /** shdf deltas plus the columns of a compaction summary, which
    * additionally carries `__compacted_through` (NULL on deltas). */
  private def shdfSchema = StructType(Seq(StructField("sh", LongType),
    StructField("n", LongType), StructField("__batch_id", LongType),
    StructField("__compacted_through", LongType)))

  /** The shdf census scoped for folding `batchId`: compaction-aware
    * (the EventStream.readCensusState rule — keep the summary at the
    * frontier `w` plus deltas stamped after it), then
    * `__batch_id < batchId` for replay correctness. `w` is the
    * directory's highest `__compacted_through` ([[foldFrontier]]);
    * foldBatch refuses a batch at or below it before calling here. */
  private def scopedShdf(spark: SparkSession, statePath: String,
                         batchId: Long, w: Option[Long]): DataFrame = {
    val raw = readState(spark, statePath, "shdf", shdfSchema)
    val ct = col("__compacted_through")
    w.fold(raw)(w => raw.filter(ct === w || (ct.isNull && col("__batch_id") > w)))
      .drop("__compacted_through")
      .filter(col("__batch_id") < batchId)
  }

  /** Highest batch id recorded anywhere under `statePath` (partial
    * folds count — the funnel commits LAST) and the shdf compaction
    * frontier (highest `__compacted_through`), each None when absent.
    * One job: the per-directory stamp columns union into one aggregate,
    * read with declared schemas (no inference job per directory). */
  private def foldFrontier(spark: SparkSession,
                           statePath: String): (Option[Long], Option[Long]) = {
    val stamp = StructType(Seq(StructField("__batch_id", LongType)))
    val dirs = Seq("fps", "survivors", "postings", "shdf", "funnel")
      .filter(n => dirNonEmpty(spark, subPath(statePath, n)))
    if (dirs.isEmpty) (None, None)
    else {
      val r = dirs
        .map {
          case "shdf" => readState(spark, statePath, "shdf", shdfSchema)
            .select(col("__batch_id"), col("__compacted_through"))
          case n => readState(spark, statePath, n, stamp)
            .select(col("__batch_id"), lit(null).cast(LongType).as("__compacted_through"))
        }
        .reduce(_ unionByName _)
        .agg(max(col("__batch_id")), max(col("__compacted_through"))).head()
      def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      (opt(0), opt(1))
    }
  }

  /** Highest batch id recorded anywhere under `statePath` (partial
    * folds count — the funnel commits LAST), or None on fresh state. */
  def lastFoldedBatch(spark: SparkSession, statePath: String): Option[Long] =
    foldFrontier(spark, statePath)._1

  /** Fold one ingest batch (rows: idCol, strataCol, textCol) through
    * the chain against `statePath`; appends the batch's state deltas
    * and returns its six funnel rows (stages 0–5; the mixture is a
    * round-cut decision — see [[cutRound]]). */
  def foldBatch(spark: SparkSession, statePath: String, batch: DataFrame,
                bench: DataFrame, cfg: Config, batchId: Long): DataFrame = {
    // A JobPool runs every INDEPENDENT part of this fold as a
    // concurrent job under a `fold:*` label. What overlaps, and why it
    // is safe:
    //  - the append-only guard and the gate census start at fold start:
    //    the guard's answer is only needed before the first state write
    //    (and for the shdf frontier, after batch-df), the census row
    //    only at funnel assembly;
    //  - the bench probe starts as soon as s3 exists, and the
    //    history-edge branch (histDrops) runs beside the canonical-keep
    //    loop, which stays on this thread. The three only READ (s3, the
    //    batch's bucket build, state scoped < batchId) and share no
    //    intermediate but checkpointed ones. The probe runs over s3,
    //    not s4: a doc's contamination depends only on that doc and the
    //    bench, so contam(s3) ∩ s4 = contam(s4), and s4 − contam(s3) is
    //    exactly the chain's stage 5;
    //  - s4 = s3 − histDrops − nonCanon and retained = s4 − contam are
    //    taken once their inputs are ready;
    //  - each state delta starts as soon as its input exists (see
    //    "State deltas" below).
    // Stage checkpoints, released when the fold ends, either way.
    val pinned = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(); pinned.add(c); c }
    try JobPool.run(spark, s"curation fold of batch $batchId") { jp =>
    import jp.{labeled, submit}
    val guardF = submit("fold:guard") { foldFrontier(spark, statePath) }
    // The refusal point: every state write (and the shdf read) passes
    // here first, so a refused batch leaves state untouched. Returns
    // the shdf compaction frontier.
    def admitted(): Option[Long] = {
      val (last, w) = guardF.get()
      w.foreach(w => require(batchId > w,
        s"cannot fold batch $batchId: shdf is compacted through $w " +
          "(a summary folds batches <= W irreversibly; compact only " +
          "checkpoint-committed batches so replays stay above W)"))
      last.foreach(last => require(batchId >= last,
        s"batch ids are append-only: $batchId < recorded $last (the " +
          "MetricsStore rule — re-folding history would forge the funnel)"))
      w
    }
    def append(name: String)(delta: => DataFrame) =
      submit(s"fold:write-$name") {
        admitted()
        delta.write.mode("append").parquet(subPath(statePath, name)) }
    val id = col(cfg.idCol)
    def scoped(name: String, schema: StructType): DataFrame =
      readState(spark, statePath, name, schema)
        .filter(col("__batch_id") < batchId)

    // Stages 0-2: gates over the BATCH only (per-row, stateless).
    val nTok = TextAnalysis.wsTokenCount(col(cfg.textCol)).cast("long")
    val base = batch.select(id.cast("long").as(cfg.idCol),
      col(cfg.strataCol), col(cfg.textCol), nTok.as("__n_tokens"))
    val c4p = TextAnalysis.c4Signals(col(cfg.textCol), cfg.c4MinSentences).pass
    val gop = TextAnalysis.gopherSignals(col(cfg.textCol), cfg.gopherStops).pass
    val gF = submit("fold:gate-census") { base.agg(
      count(lit(1)).as("d0"),
      coalesce(sum(col("__n_tokens")), lit(0L)).as("t0"),
      count(when(c4p, 1)).as("d1"),
      coalesce(sum(when(c4p, col("__n_tokens"))), lit(0L)).as("t1"),
      count(when(c4p && gop, 1)).as("d2"),
      coalesce(sum(when(c4p && gop, col("__n_tokens"))), lit(0L)).as("t2")).head() }
    // Gate + fingerprint ride ONE scan (guide §2.3: project/compute
    // before materializing): the fp column lands inside the gated
    // checkpoint instead of a second corpus pass with its own
    // checkpoint job. Stage checkpoints stay EAGER localCheckpoints
    // throughout: they truncate each stage's logical tree, and every
    // downstream ACTION (five state writes + the stats) re-analyzes
    // its whole input tree — measured here at sf0.1, swapping these
    // for lazy persists quadrupled the fold (105 s vs 24 s) on pure
    // driver-side re-planning of the untruncated trees.
    val gated = labeled("fold:gated") { pin(base.filter(c4p && gop)
      .withColumn("__fp", TextAnalysis.docFingerprint(col(cfg.textCol)))) }

    // Stage 3 — exact vs history: in-batch min-id per fingerprint, then
    // the incrementalNew anti-join against every fingerprint GATED
    // before (a fp that lost later stages still blocks re-ingest — the
    // full chain's min-id winner is decided at the exact stage).
    val fps = gated.select(id, col("__fp").as("fp"))
    val fpsW = append("fps") {
      fps.filter(col("fp").isNotNull).select(col("fp")).distinct()
        .withColumn("__batch_id", lit(batchId)) }
    val s3 = labeled("fold:s3-exact") {
      val seenFps = scoped("fps", fpsSchema).select(col("fp")).distinct()
      val exactIds = fps.filter(col("fp").isNotNull)
        .groupBy(col("fp")).agg(min(id).as(cfg.idCol))
        .join(seenFps, Seq("fp"), "left_anti")
        .select(id)
        .unionByName(fps.filter(col("fp").isNull).select(id))
      pin(gated.drop("__fp").join(exactIds, Seq(cfg.idCol), "left_semi")) }

    // Stage 5's probe (stateless vs the fixed bench suite), over s3 —
    // see the pool comment above for why s3 stands in for s4.
    val contamF = submit("fold:s5-decontam") {
      pin(Dedup.contaminationPairs(s3, bench, cfg.idCol, cfg.textCol,
          cfg.contamN, cfg.contamMinOverlap, cfg.contamBenchDfCap)
        .select(col("doc_id").as(cfg.idCol)).distinct()) }

    // Stage 4 — near-dup vs the maintained posting index. Batch docs
    // shingle ONCE; the pool df valve (history shdf fold + batch df ≤
    // dfCap) reproduces the full chain's bucket-size cap — shdf counts
    // exact-survivor shingles, the cap's domain in ngramJaccardPairs(s3)
    // — and n_sh stays the doc's FULL distinct-shingle count (the
    // jaccard denominator is valve-independent).
    val batchSh = labeled("fold:shingle") { pin(s3.select(id,
        Dedup.shingles(col(cfg.textCol), cfg.jaccardN).as("arr"))
      .select(id, size(col("arr")).cast("long").as("__n_sh"),
        explode(col("arr")).as("raw"))
      .select(id, col("__n_sh"), xxhash64(col("raw")).as("sh"))) }
    val batchSizes = batchSh.select(id, col("__n_sh")).distinct()
    // The batch's shingle-df census, computed ONCE (checkpointed): it
    // probes the history semi-join, feeds the valve, and is the shdf
    // state delta — three consumers, one aggregation.
    val batchDf = labeled("fold:batch-df") {
      pin(batchSh.groupBy(col("sh")).agg(count(lit(1)).as("bn"))) }
    // shdf counts ALL stage-3 survivors' shingles (not just retained
    // docs'): the full chain's df cap is computed over s3 in
    // ngramJaccardPairs, so a doc that later drops at near-dup/
    // decontamination still contributes df there — and must here too,
    // or the valve diverges from run() when the cap binds.
    val shdfW = append("shdf") {
      batchDf.select(col("sh"), col("bn").as("n"))
        .withColumn("__batch_id", lit(batchId)) }
    import graft.functions.CappedCollectList.cappedCollectList
    // The batch's valve-kept shingle buckets, checkpointed ONCE: both
    // near-dup branches (history edges and the canonical loop) read
    // them. The history census is semi-joined down to the BATCH's
    // shingles before the replay-dedup + fold: the valve only needs df
    // for shingles the batch actually carries, so the two aggregation
    // exchanges run over O(batch ∩ history) rows instead of every
    // shingle ever ingested — the difference between per-fold cost
    // tracking the batch and tracking the corpus (at 100 TB, with shdf
    // bucketed by `sh`, the semi join is the only history-wide scan and
    // it prunes at the scan). The pool valve bounds every kept
    // shingle's batch+history df ≤ dfCap, so cappedCollectList never
    // truncates — it is buffer-bounding hygiene, exactly like
    // shinglePairCounts' bucket build.
    val bBuckets = labeled("fold:batch-df") {
      val histDfScoped = scopedShdf(spark, statePath, batchId, admitted())
        .join(batchDf.select(col("sh")), Seq("sh"), "left_semi")
        .dropDuplicates("__batch_id", "sh")
        .groupBy(col("sh")).agg(sum(col("n")).as("n"))
      val keepSh = batchDf.join(histDfScoped, Seq("sh"), "left_outer")
        .filter(col("bn") + coalesce(col("n"), lit(0L)) <= cfg.jaccardDfCap)
        .select(col("sh"))
      pin(batchSh.join(keepSh, Seq("sh"), "left_semi")
        .groupBy(col("sh"))
        .agg(cappedCollectList(struct(id, col("__n_sh")), cfg.jaccardDfCap)
          .as("bdocs"))) }
    def jac(shared: Column, n1: Column, n2: Column): Column =
      shared.cast("double") / (n1 + n2 - shared).cast("double")
    // Pair fan-out through BUCKET ARRAYS + double explode, the
    // shinglePairCounts shape (guide §2.4 — no join on the fan-out
    // path): a common shingle under the valve (e.g. a boilerplate line
    // every page carries, df ≲ dfCap) makes the per-shingle pair space
    // quadratic, and generating it through a shuffled join paid one
    // 5.8 s job per fold at sf0.1; through a bucket-local explode that
    // streams straight into the codegen'd count aggregate the same
    // tuples never touch join machinery. Hot buckets additionally
    // CHUNK-SPLIT (Dedup.bucketSelfPairCounts — guide §2.5) so one
    // boilerplate shingle's quadratic pair space parallelizes instead
    // of serializing in its bucket's task.
    val chunk = 256
    def chunksOf(c: Column) = transform(
      sequence(lit(0), ((size(c) - lit(1)) / lit(chunk)).cast("int")),
      i => slice(c, i * chunk + 1, lit(chunk)))
    val parts = spark.sessionState.conf.numShufflePartitions
    // history edges: any retained doc within minJaccard vetoes (the
    // shipped copy stays; the newcomer drops). The history postings are
    // semi-joined to the kept shingles (the bucket keys ARE the kept
    // shingles: every batch shingle has a bucket unless the valve
    // dropped it). hBuckets ⋈ bBuckets is a bucket-scale join (one row
    // per shingle); the chunk-pair rows then re-shuffle ONCE round-robin
    // — the whole joined posting mass crosses that exchange (small
    // buckets as one chunk-pair row, hot ones as their slice pairs), the
    // bucketSelfPairCounts trade (measured win at sf0.1; same §2.5
    // treatment, bipartite form). Unconditional chunking, one path (a
    // hot/cold filter split would re-evaluate the bucket join once per
    // branch); small buckets are one chunk-pair. Survivors are
    // parquet-backed state with ONE consumer (the size join): no
    // reason to materialize a copy.
    val histDropsF = submit("fold:s4-near") {
      val survivors = scoped("survivors", survivorsSchema(cfg))
        .dropDuplicates(cfg.idCol)
      val hBuckets = scoped("postings", postingsSchema(cfg))
        .select(id.as("__hid"), col("sh")).distinct()
        .join(bBuckets.select(col("sh")), Seq("sh"), "left_semi")
        .groupBy(col("sh"))
        .agg(cappedCollectList(col("__hid"), cfg.jaccardDfCap).as("hdocs"))
      pin(bBuckets.join(hBuckets, Seq("sh"))
        .select(chunksOf(col("bdocs")).as("__bc"), chunksOf(col("hdocs")).as("__hc"))
        .select(explode(col("__bc")).as("__ci"), col("__hc"))
        .select(col("__ci"), explode(col("__hc")).as("__cj"))
        .repartition(parts)
        .select(explode(col("__ci")).as("a"), col("__cj"))
        .select(col("a"), explode(col("__cj")).as("__hid"))
        .groupBy(col(s"a.${cfg.idCol}").as(cfg.idCol), col("__hid"),
          col("a.__n_sh").as("__n_sh"))
        .agg(count(lit(1)).as("shared"))
        .join(survivors.select(id.as("__hid"), col("__n_sh").as("__hn")),
          Seq("__hid"))
        .filter(jac(col("shared"), col("__n_sh"), col("__hn"))
          >= cfg.jaccardMinJaccard)
        .select(id).distinct()) }
    // within-batch edges: the standalone canonical rule on the batch's
    // own pair graph (quality = length, ties min id)
    val nonCanon = labeled("fold:canonical") {
      val batchPairs = Dedup.bucketSelfPairCounts(
          bBuckets.filter(size(col("bdocs")) > 1), "bdocs", cfg.idCol, "__n_sh",
          chunk)
        .groupBy(col(s"x.${cfg.idCol}").as("id1"), col(s"y.${cfg.idCol}").as("id2"),
          col("x.__n_sh").as("n1"), col("y.__n_sh").as("n2"))
        .agg(count(lit(1)).as("shared"))
        .filter(jac(col("shared"), col("n1"), col("n2"))
          >= cfg.jaccardMinJaccard)
      Dedup.canonicalKeepList(batchPairs,
          s3.select(id, length(col(cfg.textCol)).cast("long").as("__q")),
          cfg.idCol, "__q")
        .filter(!col("is_canonical"))
        .select(col("doc_id").as(cfg.idCol)) }
    val s4 = labeled("fold:s4-near") {
      pin(s3.join(histDropsF.get(), Seq(cfg.idCol), "left_anti")
        .join(nonCanon, Seq(cfg.idCol), "left_anti")) }
    val retained = labeled("fold:s5-decontam") {
      pin(s4.join(contamF.get(), Seq(cfg.idCol), "left_anti")) }

    // State deltas: each starts as soon as its input exists — fps once
    // gated is checkpointed, shdf once batch-df is, survivors and
    // postings here — and each first waits for the append-only guard,
    // so nothing is written before the refusal point. The overlap is
    // safe because the four deltas land in four INDEPENDENT
    // directories with no cross-order contract: a replay after any
    // partial append reads state scoped < batchId, recomputes identical
    // stamped rows, and external readers dedup on the stamps — so it
    // does not matter which deltas a failed fold left behind. A read of
    // this fold may list a directory while a delta is being appended to
    // it (s3's fps read, the bucket build's shdf read); whether it sees
    // the delta's files or not, its `< batchId` scope drops their rows,
    // and each file appears whole (committed by rename). Every write
    // reads the stage checkpoints, so these are block-scan + append
    // jobs, never chain recomputations. The funnel still commits LAST —
    // it is the fold's completion record, written only after every
    // delta has landed.
    val stamped = lit(batchId).as("__batch_id")
    val survivorsW = append("survivors") {
      retained.select(id, col(cfg.strataCol).cast(StringType).as(cfg.strataCol),
          col(cfg.textCol), col("__n_tokens"))
        .join(batchSizes, Seq(cfg.idCol), "left_outer")
        .select(id, col(cfg.strataCol), col(cfg.textCol), col("__n_tokens"),
          coalesce(col("__n_sh"), lit(0L)).as("__n_sh"), stamped) }
    val postingsW = append("postings") {
      batchSh.join(retained.select(id), Seq(cfg.idCol), "left_semi")
        .select(id, col("sh")).distinct()
        .withColumn("__batch_id", lit(batchId)) }
    // Funnel counts for THIS batch (additive across batches by
    // stage): ONE union-aggregate over the checkpointed stage frames —
    // the three per-frame count jobs this replaced each paid a full
    // driver round-trip for a one-row answer (guide §1.2) — running
    // beside the writes.
    val statsF = submit("fold:stats") {
      s3.select(lit(3).as("__stage"), col("__n_tokens"))
        .unionByName(s4.select(lit(4).as("__stage"), col("__n_tokens")))
        .unionByName(retained.select(lit(5).as("__stage"), col("__n_tokens")))
        .groupBy(col("__stage"))
        .agg(count(lit(1)).as("d"),
          coalesce(sum(col("__n_tokens")), lit(0L)).as("t"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap }
    // get() rethrows a task's failure (wrapped): a failed delta write
    // must fail the fold BEFORE the funnel commit below — exactly the
    // partial-append state the replay contract recovers from.
    Seq(fpsW, shdfW, survivorsW, postingsW).foreach(_.get())
    val statByStage = statsF.get()
    val g = gF.get()
    def lng(i: Int): Long = if (g.isNullAt(i)) 0L else g.getLong(i)
    def stat(stage: Int): (Long, Long) =
      statByStage.getOrElse(stage, (0L, 0L))
    val (d3, t3) = stat(3)
    val (d4, t4) = stat(4)
    val (d5, t5) = stat(5)
    val rows = Seq(
      Row(0, "total", lng(0), lng(1), batchId),
      Row(1, "c4_gate", lng(2), lng(3), batchId),
      Row(2, "gopher_gate", lng(4), lng(5), batchId),
      Row(3, "dedup_exact", d3, t3, batchId),
      Row(4, "dedup_near", d4, t4, batchId),
      Row(5, "decontaminate", d5, t5, batchId))
    val funnel = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), incFunnelSchema)
    labeled("fold:write-funnel") {
      funnel.write.mode("append").parquet(subPath(statePath, "funnel")) }
    funnel
    } finally {
      // releaseLocalCheckpoint, not just unpersist: these are local
      // checkpoints, whose blocks the plain unpersist leaves pinned for
      // the application's life (see GraftBridge.releaseLocalCheckpoint).
      pinned.forEach(GraftBridge.releaseLocalCheckpoint(_))
    }
  }

  /** The retained corpus pool under `statePath` (replay-deduped):
    * (idCol, strataCol, textCol, n_tokens). */
  def readRetained(spark: SparkSession, statePath: String,
                   cfg: Config): DataFrame =
    readState(spark, statePath, "survivors",
        survivorsSchema(cfg))
      .dropDuplicates(cfg.idCol)
      .select(col(cfg.idCol), col(cfg.strataCol), col(cfg.textCol),
        col("__n_tokens").as("n_tokens"))

  /** Per-batch funnel history (the MetricsStore shape: append-only,
    * batch-keyed): (batch_id, stage_ord, stage, n_docs, n_tokens). */
  def incrementalFunnel(spark: SparkSession, statePath: String): DataFrame =
    readState(spark, statePath, "funnel", incFunnelSchema)
      .dropDuplicates("__batch_id", "stage_ord")
      .select(col("__batch_id").as("batch_id"), col("stage_ord"),
        col("stage"), col("n_docs"), col("n_tokens"))

  /** Cumulative funnel over every folded batch — shaped like
    * [[run]]'s stages 0–5 (counts additive by stage; retentions vs
    * cumulative stage 0). */
  def cumulativeFunnel(spark: SparkSession, statePath: String): DataFrame = {
    val perStage = incrementalFunnel(spark, statePath)
      .groupBy(col("stage_ord"), col("stage"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
    val tot = perStage.filter(col("stage_ord") === 0)
      .select(col("n_docs").as("__d0"), col("n_tokens").as("__t0"))
    perStage.crossJoin(broadcast(tot))
      .select(col("stage_ord"), col("stage"), col("n_docs"), col("n_tokens"),
        when(col("__d0") > 0, col("n_docs").cast("double") / col("__d0").cast("double"))
          .otherwise(0.0).as("doc_retention"),
        when(col("__t0") > 0, col("n_tokens").cast("double") / col("__t0").cast("double"))
          .otherwise(0.0).as("token_retention"))
  }

  /** Cut a training round from the maintained pool: mixture rebalance +
    * packing over the retained survivors — the round-scoped decisions
    * the per-batch fold deliberately leaves out (rebalance thresholds
    * shift as mass accrues; re-deciding them per batch would unship
    * history). Given equal pools this is bit-identical to the full
    * chain's stage 6 (the mixture is deterministic in its input). */
  def cutRound(spark: SparkSession, statePath: String,
               cfg: Config): (DataFrame, DataFrame, DataFrame) = {
    val pool = readRetained(spark, statePath, cfg).localCheckpoint()
    val mixed = Sampling.mixtureRebalance(
        pool.select(col(cfg.idCol), col(cfg.strataCol), col("n_tokens")),
        cfg.idCol, cfg.strataCol, col("n_tokens"), cfg.mixTargets, cfg.salt)
      .localCheckpoint()
    // mixed is eagerly materialized, so the pool's checkpoint blocks
    // can release NOW (plain unpersist would leave them pinned — the
    // localCheckpoint leak, see GraftBridge.releaseLocalCheckpoint).
    // `mixed` itself stays checkpointed: all three returned frames
    // read it; a caller done with them releases it the same way.
    org.apache.spark.sql.GraftBridge.releaseLocalCheckpoint(pool)
    val packed = Packing.sequenceOffsets(
      mixed.select(col(cfg.idCol), col("n_tokens")),
      cfg.idCol, "n_tokens", cfg.packMaxTokens)
    val stats = Packing.packStats(
      mixed.select(col(cfg.idCol), col("n_tokens")),
      cfg.idCol, "n_tokens", cfg.packMaxTokens)
    (mixed, packed, stats)
  }

  /** The maintained loop WIRED as a streaming consumer (the reference's
    * operating shape: ingest → fold → maintained state): each
    * micro-batch of corpus rows (idCol, strataCol, textCol) folds
    * through [[foldBatch]] under the micro-batch id — monotone by the
    * checkpoint contract, so the fold's append-only id rule holds for
    * free — and the five state directories accrue under `statePath`
    * exactly as in batch use ([[readRetained]] / [[incrementalFunnel]] /
    * [[cutRound]] read either). At-least-once → effectively-once is
    * foldBatch's own replay contract: a replayed micro-batch re-reads
    * state scoped `< batchId` and recomputes identical stamped rows.
    *
    * Maintenance rides the loop with the COMPACT-BEFORE-FOLD schedule:
    * every `compactEvery` micro-batches, the shdf census (the one
    * additive census here) compacts at the HEAD of the batch, and only
    * when every delta present is from a batch `< batchId` — so the
    * summary never folds the current (possibly replayed, possibly
    * partially-appended) batch, and [[foldBatch]]'s frontier refusal is
    * unreachable. The funnel/fps/postings/survivors directories are
    * never compacted (per-batch history / per-doc set state — see the
    * fold-state notes above). Counter semantics match
    * [[graft.streaming.EventStream.AutoCompact]]: in-memory per started
    * query, re-arming from zero after a driver restart. Returns the
    * started query; callers own its lifecycle. */
  def streamCuration(corpus: DataFrame, statePath: String,
                     checkpointPath: String, bench: DataFrame, cfg: Config,
                     compactEvery: Int = 32): org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery >= 1, s"compactEvery must be >= 1, got $compactEvery")
    var sinceCompaction = 0
    corpus.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        sinceCompaction += 1
        if (sinceCompaction >= compactEvery) {
          val m = readState(spark, statePath, "shdf", shdfSchema)
            .agg(max(col("__batch_id"))).head()
          if (!m.isNullAt(0) && m.getLong(0) < batchId) {
            graft.streaming.EventStream.compactCensusState(spark,
              subPath(statePath, "shdf"), Seq("sh"), Seq("n"))
            sinceCompaction = 0
          }
        }
        foldBatch(spark, statePath, batch.toDF(), bench, cfg, batchId)
        ()
      }
      .start()
  }

  // ---- final-survivor temp tables (cache-seam mode) -----------------
  // Per-process root + counter, the NearDupPipeline path convention:
  // two JVMs curating concurrently never collide, and a process-wide
  // counter keeps every run on a fresh path. Files are deleted when the
  // owning session's application ends.
  private val pathSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private val livePaths =
    scala.collection.mutable.Map.empty[org.apache.spark.SparkContext,
      scala.collection.mutable.Buffer[String]]

  /** A fresh per-process state/table directory, deleted when the
    * session's application ends — the query surface's home for
    * single-run incremental folds. */
  private[graft] def tempStatePath(spark: SparkSession): String =
    tempTableDir(spark)

  private def tempTableDir(spark: SparkSession): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_curation_" + ProcessHandle.current().pid() + "_" +
        pathSeq.incrementAndGet()).getPath
    val sc = spark.sparkContext
    livePaths.synchronized {
      if (!livePaths.contains(sc)) {
        livePaths.update(sc, scala.collection.mutable.Buffer.empty)
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            livePaths.synchronized {
              livePaths.remove(sc).toSeq.flatten
                .foreach(d => deleteRecursively(new java.io.File(d)))
            }
        })
      }
      livePaths(sc) += p
    }
    p
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }

  // ---- cross-query memo ---------------------------------------------
  // The NearDupPipeline `_build` economy applied to the whole chain:
  // five/two consumers of one expensive composed artifact must not each
  // re-run it. The memo'd Result is clearCache-immune by construction
  // (funnel driver-backed, everything else parquet-rooted), and its
  // stage caches are released eagerly inside the build. Staleness
  // contract as everywhere: per (session, corpusKey, cfg), does NOT
  // watch the data — new round over changed data calls invalidate/
  // invalidateAll first (the bench does so at every pass boundary).
  private val memo = new KeyedMemo[(SparkSession, String, Config), Result]

  /** The chain's Result for (`corpusKey`, `cfg`), built at most once
    * per session: first caller runs the chain (and releases its stage
    * caches — the returned frames don't need them); later callers get
    * the same Result. Per-key double-checked ([[KeyedMemo]]): two
    * concurrent first callers on the SAME key build once, while a
    * first caller for a DIFFERENT (session, corpus, cfg) key builds
    * in parallel instead of queueing behind this chain's six stages. */
  def memoized(spark: SparkSession, corpusKey: String, corpus: => DataFrame,
               bench: => DataFrame, cfg: Config): Result =
    memo.getOrBuild((spark, corpusKey, cfg)) {
      val r = run(spark, corpus, bench, cfg)
      r.unpersist()
      r
    }

  /** Drop every memo owned by `s` — pass-boundary hook for the bench.
    * Backing temp tables stay until application end (a consumer may
    * hold a returned frame); they are id-scale files. */
  def invalidateAll(s: SparkSession): Unit =
    memo.invalidateIf { case (sess, _, _) => sess eq s }
}
