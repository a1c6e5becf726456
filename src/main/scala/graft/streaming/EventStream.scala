package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.sources.Tables

/** Structured Streaming twins of the batch event operators (SURVEY.md §2
  * #34): watermarked tumbling-window aggregation, list-state gap
  * sessionization via flatMapGroupsWithState, watermarked dedup (by id
  * and by content fingerprint), stream-static enrichment, and
  * incremental delta staging.
  *
  * Designed for an unbounded 100 TB/day firehose: every stateful
  * operator's state is bounded by the watermark — window panes close,
  * dedup keys expire, and each user's open-session list flushes as the
  * watermark passes its horizons — nothing accumulates without bound.
  */
object EventStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)

  /** One open session range; start/last keep the original
    * micros-precision timestamps, gap math uses epoch millis (matching
    * the batch twin's unix_millis truncation). */
  final case class SessionRange(start: java.sql.Timestamp,
                                last: java.sql.Timestamp,
                                nEvents: Long, valueMilli: Long)

  /** Per-user state: the next session ordinal to assign at flush time,
    * plus ALL open sessions (sorted by start, pairwise separated by more
    * than the gap). The list is bounded by the watermark: a session whose
    * horizon (last + gap) the watermark has passed flushes and leaves. */
  final case class MultiSessionState(nextId: Long, open: List[SessionRange])

  final case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                              session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, value_milli: Long)

  /** Hourly tumbling-window counts/sums per event type; late data beyond
    * the watermark is dropped, bounding state. Mirrors q_event_window_agg
    * — with one deliberate divergence: the milli conversion is try_cast,
    * because under Spark's ANSI default a single NaN/±Inf/overflow value
    * would throw CAST_OVERFLOW in the micro-batch, and a streaming query
    * replays the same batch from its checkpoint forever (a permanent
    * poison pill, where the batch job fails once, visibly). try_cast
    * turns such a value into a NULL the sum skips; finite in-range
    * values hash-match the batch twin exactly. */
  def windowAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("try_cast(round(value * 1000) AS BIGINT)")).as("value_milli"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("value_milli"), col("min_value"), col("max_value"))

  /** Stream-static enrichment: join the event stream against a (small)
    * static dimension with an explicit broadcast — per micro-batch, the
    * dimension never shuffles and the stream stays partition-local. */
  def enrich(events: DataFrame, dim: DataFrame, on: Seq[String]): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), on, "left_outer")

  /** The reference's incremental operating loop, streaming-native: each
    * micro-batch of sparse updates runs the full merge pipeline against
    * the current DW table (rank-dedup is the caller's upstream concern;
    * here: merge + changed-only gate, graft.operators.MergePipeline
    * .sparseDwMerge) and APPENDS the changed rows to a delta-stage
    * directory — exactly the reference's `INSERT OVERWRITE INTO
    * delta_stage_X` model (script_converter_tool.py rules 1/5/28), where
    * a downstream warehouse proc applies the staged deltas. Append-only
    * parquet keeps the sink transactional without table-format machinery;
    * dedup across re-delivered batches is the staged proc's job, as in
    * the reference. Returns the started query; callers own its lifecycle. */
  def stageDeltas(sparse: DataFrame, dw: DataFrame, pk: String,
                  stagePath: String, checkpointPath: String,
                  preferDw: Seq[String] = Nil): StreamingQuery =
    eachBatch(sparse, checkpointPath) { (batch, batchId) =>
      graft.operators.MergePipeline.sparseDwMerge(batch, dw, pk, preferDw)
        .withColumn("__batch_id", lit(batchId))
        .write.mode("append").parquet(stagePath)
    }

  /** Runs `append` on every micro-batch of `rows` with the batch id.
    * Returns the started query; callers own its lifecycle. */
  private def eachBatch(rows: DataFrame, checkpointPath: String)(
      append: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        append(batch.toDF(), batchId)
      }
      .start()

  /** [[maintainCensusState]]'s in-loop compaction schedule: fold the
    * directory every `everyBatches` appended deltas. */
  final case class AutoCompact(everyBatches: Int = 32) {
    require(everyBatches >= 1, s"everyBatches must be >= 1, got $everyBatches")
  }

  /** The ONE maintenance shape every additive census monitor shares:
    * per micro-batch, collapse the batch to its model-scale census rows
    * via `build` (an additive monoid over `census.keys` — counts,
    * checksums, histogram cells), stamp the micro-batch id, append to
    * `statePath`. [[readCensusState]] folds the deltas into current
    * state, equal to a batch recompute over everything ever ingested —
    * the firehose is never re-scanned.
    *
    * At-least-once → effectively-once: a replayed batch appends
    * IDENTICAL (__batch_id, census-key) rows; the read side's
    * dropDuplicates keys on them before the fold. Returns the started
    * query; callers own its lifecycle. Each monitor declares its
    * [[Census]] next to its `*State` builder, so maintaining it is this
    * function with that census and builder, and reading it is
    * [[readCensusState]] then the operator's `*FromCounts`/`*FromState`
    * finisher. Set-monoid censuses (already idempotent under union)
    * skip the stamp and this function ([[maintainNoveltyState]]).
    *
    * `autoCompact` wires the maintenance valve INTO the loop: every
    * `everyBatches` appended deltas the writer folds the directory via
    * [[compactCensusState]] — so no maintenance owner has to remember
    * the compaction schedule and the read cost is bounded by
    * construction at O(census + everyBatches deltas). A fixed delta
    * count (not a deltas/census ratio) is deliberate: it bounds the
    * read amplification directly and costs no extra census count per
    * batch. Safe inside foreachBatch because compaction is an APPEND
    * of the folded summary (atomic one-file commit), never a directory
    * swap — concurrent readers see either the old state or the new,
    * both correct. The batch counter is in-memory per started query:
    * after a driver restart compaction re-arms from zero (at worst one
    * interval later than it would have), never double-folds. */
  def maintainCensusState(rows: DataFrame, statePath: String,
                          checkpointPath: String, census: Census,
                          build: DataFrame => DataFrame,
                          autoCompact: Option[AutoCompact] = None): StreamingQuery = {
    // Driver-side (foreachBatch bodies run on the driver); one counter
    // per started query, so two maintainers on different paths never
    // share a schedule.
    var sinceCompaction = 0
    eachBatch(rows, checkpointPath) { (batch, batchId) =>
      build(batch).withColumn("__batch_id", lit(batchId))
        .write.mode("append").parquet(statePath)
      autoCompact.foreach { ac =>
        sinceCompaction += 1
        if (sinceCompaction >= ac.everyBatches) {
          compactCensusState(batch.sparkSession, statePath, census)
          sinceCompaction = 0
        }
      }
    }
  }

  /** Current state from a [[maintainCensusState]] directory holding an
    * ADDITIVE census: replay-dedup on (__batch_id, keys), then per-key
    * sums of the census values. Scan is O(batches × census) summary rows
    * between compactions; [[compactCensusState]] rewrites the fold so
    * the steady-state read cost is O(census) + deltas-since-compaction.
    *
    * Compaction awareness: a compacted directory carries summary rows
    * stamped `__compacted_through` = W (every batch id ≤ W is already
    * folded into them). The read keeps the LATEST summary plus only
    * deltas with `__batch_id` > W — so a pre-compaction batch REPLAYED
    * after compaction (its rows arrive with their original id ≤ W)
    * folds zero extra times, preserving the at-least-once →
    * effectively-once contract across the rewrite. Uncompacted
    * directories (no such column) read exactly as before; mergeSchema
    * reconciles the delta rows appended after a compaction, which lack
    * the stamp column. */
  def readCensusState(spark: SparkSession, statePath: String,
                      census: Census): DataFrame = {
    val raw = spark.read.option("mergeSchema", "true").parquet(statePath)
    val scoped =
      if (!raw.columns.contains("__compacted_through")) raw
      else {
        val wRow = raw.agg(max(col("__compacted_through"))).head()
        if (wRow.isNullAt(0)) raw.drop("__compacted_through")
        else {
          val w = wRow.getLong(0)
          raw.filter(col("__compacted_through") === w ||
              (col("__compacted_through").isNull && col("__batch_id") > w))
            .drop("__compacted_through")
        }
      }
    scoped
      .dropDuplicates("__batch_id" +: census.keys)
      .groupBy(census.keys.map(col): _*)
      .agg(sum(census.values.head).as(census.values.head),
        census.values.tail.map(c => sum(c).as(c)): _*)
  }


  /** Fold a [[maintainCensusState]] delta directory down to its summary —
    * the maintenance valve that keeps [[readCensusState]]'s scan at
    * O(census) instead of O(batches × census) as ingest batches
    * accumulate. The folded summary is stamped `__batch_id` =
    * `__compacted_through` = W (the highest batch id folded) and
    * APPENDED to the directory as ONE file (`coalesce(1)` — the commit
    * is a single atomic rename, and a census is model-scale by the
    * family's contract, so one file is the right physical shape
    * anyway); superseded files are then garbage-collected as a separate
    * optional step ([[gcCensusState]]). Returns W.
    *
    * Why append-first instead of a staged directory swap (the previous
    * design): [[readCensusState]] already scopes every read to the
    * LATEST summary plus newer deltas, so the appended summary is
    * read-correct the instant it commits — there is NO window where the
    * state directory doesn't exist (a swap's rename gap failed
    * concurrent readers), and a concurrent foreachBatch append can
    * never recreate the destination mid-swap and have the rename nest
    * the tmp directory inside it. Quiescence is NOT required; the
    * at-worst outcome of racing writers/readers is reading the
    * pre-compaction state, which folds to the same census.
    *
    * Correctness across the rewrite: fold-after ≡ fold-before by
    * construction (the summary IS the fold, and [[readCensusState]]
    * drops any delta with id ≤ W — including a replayed pre-compaction
    * batch — while folding post-compaction deltas on top). Micro-batch
    * ids from a streaming checkpoint are monotonic, so a FRESH batch
    * can never arrive with an id ≤ W; only replays can, and those are
    * exactly the rows that must be ignored. Compaction composes: a
    * later compaction folds the previous summary with newer deltas into
    * a higher-W summary; re-compacting with no new deltas is a no-op
    * (the W summary already exists — nothing is appended twice).
    *
    * Scheduling: pass [[AutoCompact]] to [[maintainCensusState]] for
    * the in-loop policy, or run this from the maintenance owner on its
    * own schedule. Set-monoid directories ([[maintainNoveltyState]])
    * don't need this machinery: their compaction is a plain
    * `.distinct()` rewrite, idempotent under replay by definition. */
  def compactCensusState(spark: SparkSession, statePath: String,
                         census: Census, gc: Boolean = true): Long = {
    val raw = spark.read.option("mergeSchema", "true").parquet(statePath)
    val hasStamp = raw.columns.contains("__compacted_through")
    val wRow = raw.agg(
      max(col("__batch_id")),
      if (hasStamp) max(col("__compacted_through"))
      else max(lit(null).cast("long"))).head()
    require(!wRow.isNullAt(0), s"cannot compact empty census state at $statePath")
    val w = wRow.getLong(0).max(if (wRow.isNullAt(1)) Long.MinValue else wRow.getLong(1))
    val alreadyThrough = !wRow.isNullAt(1) && wRow.getLong(1) == w
    if (!alreadyThrough) {
      val folded = readCensusState(spark, statePath, census)
        .withColumn("__batch_id", lit(w))
        .withColumn("__compacted_through", lit(w))
      folded.coalesce(1).write.mode("append").parquet(statePath)
    }
    if (gc) { gcCensusState(spark, statePath); () }
    w
  }

  /** Garbage-collect files a compaction superseded: every file whose
    * rows are ALL folded into the latest summary (newest `__batch_id`
    * ≤ W and not itself part of the W summary) is deleted — old delta
    * files, old summaries, and post-compaction REPLAYS of
    * pre-compaction batches (whose rows [[readCensusState]] already
    * ignores). One summary-scale pass groups rows by
    * `input_file_name`; deletion is best-effort per file. CONCURRENT
    * READER CAVEAT: the rows a gc removes are semantically dead (the
    * summary supersedes them), but a CROSS-PROCESS reader whose file
    * listing predates the gc still FAILS with FileNotFoundException
    * mid-scan unless it sets `spark.sql.files.ignoreMissingFiles` —
    * Spark does not re-list on miss. Same-process readers planning
    * after the gc are unaffected. So while [[compactCensusState]]'s
    * summary append is safe against any reader at any instant, the gc
    * step is NOT: defer it to a quiet window, or require
    * ignoreMissingFiles of external readers (then the lost rows are
    * exactly the superseded ones and every fold is still correct).
    * No-op on never-compacted directories. Returns the number of
    * files removed. Separable from [[compactCensusState]] so an
    * object-store deployment can defer it to a quiet window while the
    * summary append stays hot-path. */
  def gcCensusState(spark: SparkSession, statePath: String): Int = {
    val raw = spark.read.option("mergeSchema", "true").parquet(statePath)
    if (!raw.columns.contains("__compacted_through")) return 0
    val wRow = raw.agg(max(col("__compacted_through"))).head()
    if (wRow.isNullAt(0)) return 0
    val w = wRow.getLong(0)
    val perFile = raw
      .groupBy(input_file_name().as("__file"))
      .agg(max(col("__batch_id")).as("__max_b"),
        max(col("__compacted_through")).as("__max_c"))
      .collect()
    val dead = perFile.filter { r =>
      !r.isNullAt(1) && r.getLong(1) <= w &&
        (r.isNullAt(2) || r.getLong(2) < w)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    var removed = 0
    dead.foreach { r =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(0)))
      val fs = p.getFileSystem(conf)
      if (fs.delete(p, false)) removed += 1
    }
    removed
  }


  /** Continuous partition-checksum maintenance — the streaming half of
    * TableDiff's incremental validation loop: each micro-batch's side
    * summary (graft.TableDiff.sideChecksums — O(#partitions) rows, the
    * batch never leaves its executors unaggregated) APPENDS to a
    * summary-delta directory tagged with the batch id. Because the
    * checksum is a monoid, the current summary is just the fold of the
    * deltas ([[readChecksums]]), equal to a full recompute over
    * everything ever ingested — the 100 TB table itself is never
    * re-scanned. Returns the started query; callers own its lifecycle. */
  def maintainChecksums(rows: DataFrame, partCol: String, pks: Seq[String],
                        summaryPath: String, checkpointPath: String,
                        exclude: Seq[String] = Nil,
                        hashCols: Seq[String] = Nil): StreamingQuery = {
    // The checksum term is POSITIONAL over its hash columns. For a
    // single maintained side that's self-consistent; but two summaries
    // compared via checksumStatus must hash in the SAME column order
    // (the batch partitionChecksum passes the left side's order to
    // both), so pin the ordering ONCE here rather than deriving it per
    // batch from each stream's own schema.
    val pinned =
      if (hashCols.nonEmpty) hashCols
      else pks ++ graft.TableDiff.compareCols(rows, pks :+ partCol, exclude)
    maintainCensusState(rows, summaryPath, checkpointPath,
      graft.TableDiff.checksumCensus,
      b => graft.TableDiff.sideChecksumsOver(b, partCol, pinned))
  }

  /** Current summary from a [[maintainChecksums]] delta directory: drop
    * re-delivered batch duplicates (a batch replayed after a failure
    * appends IDENTICAL (batch, partition) rows — at-least-once made
    * effectively-once by keying on the batch id), then fold. The scan is
    * O(batches × partitions) summary rows — compact by rewriting the
    * fold result when that grows. Feed two maintained summaries to
    * graft.TableDiff.checksumStatus for the drift verdicts — BOTH
    * streams must have pinned the same `hashCols` order in
    * [[maintainChecksums]] (the term is positional; schema-order-derived
    * columns from differently-ordered sides would read as data_drift). */
  def readChecksums(spark: SparkSession, summaryPath: String): DataFrame = {
    val folded = readCensusState(spark, summaryPath, graft.TableDiff.checksumCensus)
    // Pin the checksum's width: the batch summary carries decimal(38,0)
    // and checksumStatus compares positionally-typed columns.
    folded.withColumn("checksum", col("checksum").cast("decimal(38,0)"))
  }

  /** Streaming maintenance for the source-novelty/overlap census
    * ([[graft.operators.Vocab.sourceNovelty]] /
    * [[graft.operators.Vocab.sourceOverlap]]): appends each batch's
    * DISTINCT (source, shingle-key) pairs. The monoid is set UNION —
    * idempotent, so replayed batches need no batch-id dedup at all;
    * the read side just re-distincts, and compaction is a plain
    * `.distinct()` rewrite. */
  def maintainNoveltyState(docs: DataFrame, textCol: String, sourceCol: String,
                           statePath: String, checkpointPath: String,
                           n: Int = 3): StreamingQuery =
    eachBatch(docs, checkpointPath) { (batch, _) =>
      graft.operators.Vocab.sourceNoveltyState(batch, textCol, sourceCol, n)
        .write.mode("append").parquet(statePath)
    }

  /** Current novelty census from a [[maintainNoveltyState]] directory —
    * feed to [[graft.operators.Vocab.noveltyFromState]] or
    * [[graft.operators.Vocab.overlapFromState]]. */
  def readNoveltyState(spark: SparkSession, statePath: String): DataFrame =
    Tables.parquet(spark, statePath).distinct()

  /** Streaming maintenance for the Markov transition census
    * ([[graft.operators.Eval.transitionMatrix]]): each micro-batch
    * appends its (from_state, to_state, n) deltas — intra-batch
    * transitions plus the per-user boundary transition stitched from the
    * carried last event — and the updated per-user carry. Two state
    * kinds under one root: `statePath/transitions` (additive monoid,
    * batch-id deduped on read like every census) and
    * `statePath/carry` (latest-per-key, resolved by batch id).
    *
    * Contract ([[graft.operators.Eval.transitionStep]]): batches arrive
    * in event-time order per user. State is transition-dimension +
    * one-row-per-active-user — never event-count scale. */
  def maintainTransitionState(events: DataFrame, keyCol: String,
                              tsCol: String, idCol: String, stateCol: String,
                              statePath: String, checkpointPath: String): StreamingQuery =
    eachBatch(events, checkpointPath) { (batch, batchId) =>
      val carry = readTransitionCarry(batch.sparkSession, statePath)
      val (deltas, newCarry) = graft.operators.Eval.transitionStep(
        batch, carry, keyCol, tsCol, idCol, stateCol)
      deltas.withColumn("__batch_id", lit(batchId))
        .write.mode("append").parquet(s"$statePath/transitions")
      newCarry.withColumn("__batch_id", lit(batchId))
        .write.mode("append").parquet(s"$statePath/carry")
    }

  /** Latest-per-key carry from a [[maintainTransitionState]] directory
    * (empty frame before the first batch commits — typed to the event
    * census's (long key, string state) shape, the one this maintenance
    * serves). A replayed batch appends identical (__batch_id, key) rows;
    * max-batch-per-key picks a deterministic winner either way. */
  def readTransitionCarry(spark: SparkSession, statePath: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$statePath/carry")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("key",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("last_ts",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("last_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("last_state",
            org.apache.spark.sql.types.StringType))))
    } else {
      val all = Tables.parquet(spark, s"$statePath/carry")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("__batch_id").desc)
      all.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("key"), col("last_ts"), col("last_id"), col("last_state"))
    }
  }

  /** Current transition matrix from a [[maintainTransitionState]]
    * directory — the [[graft.operators.Eval.transitionMatrix]] output
    * contract, from folded deltas (replay-deduped on batch id). */
  def readTransitionState(spark: SparkSession, statePath: String): DataFrame =
    graft.operators.Eval.transitionsFromCounts(
      Tables.parquet(spark, s"$statePath/transitions")
        .dropDuplicates("__batch_id", "from_state", "to_state"))

  /** Streaming exact dedup on event_id: state is bounded by the watermark
    * (duplicates arriving later than `watermark` after the original are
    * not suppressed — the at-least-once ingestion contract). */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup for ingest pipelines: drops any document
    * whose canonical-text fingerprint ([[graft.operators.TextAnalysis
    * .docFingerprint]]) was already seen within the watermark — the
    * streaming twin of Dedup.exactGroups' duplicate detection. State is
    * one 128-bit hash per distinct doc inside the watermark window; the
    * text itself never enters state. NULL-text rows (upstream parse
    * failures) are routed AROUND the stateful operator entirely — a
    * shared null key would silently discard every such row after the
    * first (data loss, not dedup), and a synthetic unique key would bloat
    * the state store with never-matching entries for the whole window. */
  def dedupStreamByContent(docs: DataFrame, tsCol: String, textCol: String,
                           watermark: String = "2 hours"): DataFrame = {
    require(!docs.columns.contains("__fp"),
      "dedupStreamByContent uses __fp internally; rename the input's __fp column")
    val withTs = docs.withColumn(tsCol, col(tsCol).cast("timestamp"))
    val deduped = withTs.filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .withColumn("__fp", graft.operators.TextAnalysis.docFingerprint(col(textCol)))
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
    deduped.unionByName(withTs.filter(col(textCol).isNull))
  }

  /** Streaming ingest gate — the streaming twin of
    * [[graft.operators.Dedup.incrementalNew]]: content-dedup the document
    * stream within the watermark (first arrival per fingerprint wins),
    * then drop any doc whose fingerprint the HISTORICAL corpus already
    * holds. Unlike [[dedupStreamByContent]], null-text rows are dropped,
    * not routed around: this gate admits documents INTO a corpus, and an
    * unfingerprintable document is not ingestable content (the batch
    * operator makes the same call).
    *
    * The historical side joins as stream-static. Structured Streaming has
    * no stream-static LEFT ANTI, so the gate is the equivalent left-outer
    * + null-marker filter — same plan shape, supported form. No broadcast
    * hint: at scale the historical fingerprint table is corpus-sized; the
    * per-micro-batch join strategy (or a bucketed static side) decides.
    * State: one 128-bit fp per in-window doc, exactly dedupStreamByContent;
    * the static side holds no state at all. */
  def ingestGate(docs: DataFrame, seenFps: DataFrame, tsCol: String,
                 textCol: String, watermark: String = "2 hours"): DataFrame = {
    // A caller __fp would be silently replaced; a caller __seen would make
    // the post-join filter ambiguous. Refuse, like rankDedup/saltedJoin.
    require(!docs.columns.contains("__fp") && !docs.columns.contains("__seen"),
      "ingestGate uses __fp/__seen internally; rename those input columns")
    val seen = seenFps.select(col("fp").as("__fp")).withColumn("__seen", lit(1))
    docs.withColumn(tsCol, col(tsCol).cast("timestamp"))
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .withColumn("__fp", graft.operators.TextAnalysis.docFingerprint(col(textCol)))
      .dropDuplicatesWithinWatermark("__fp")
      .join(seen, Seq("__fp"), "left_outer")
      .filter(col("__seen").isNull)
      .drop("__fp", "__seen")
  }

  /** One right-side (state-change) record retained for as-of matching. */
  final case class RightRec(ts: java.sql.Timestamp, event_id: Long, value: Double)

  /** Shared (ts, event_id) ordering for retained rights — one definition
    * for both as-of enrich directions so the tie contract can't diverge. */
  private def rightOrd(a: RightRec, b: RightRec): Boolean = {
    val c = a.ts.compareTo(b.ts); c < 0 || (c == 0 && a.event_id < b.event_id)
  }

  /** Per-key as-of state: retained rights (sorted by (ts, event_id)) and
    * left rows buffered until the watermark proves no earlier right can
    * still arrive. */
  final case class AsOfState(rights: List[RightRec], lefts: List[Event])

  final case class AsOfOut(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                           value: Double,
                           asof_ts: Option[java.sql.Timestamp],
                           asof_event_id: Option[Long],
                           asof_value: Option[Double])

  /** Streaming as-of enrich — the streaming twin of
    * [[graft.operators.Joins.asOfJoin]]: every `leftType` event emits with
    * the newest `rightType` event at-or-before its timestamp for the same
    * user (ties inclusive, max event_id among equal times — identical to
    * the batch operator, and the spec proves it).
    *
    * Why lefts BUFFER until the watermark passes their timestamp: an
    * as-of answer is only final once no earlier-timestamped right can
    * still arrive, and that is exactly what the watermark certifies —
    * emitting on arrival would bind late-but-within-watermark rights to
    * nothing (a batch/stream divergence the whole design exists to
    * avoid). Output therefore trails by the watermark, like every
    * append-mode stateful operator.
    *
    * State per key is bounded on the LEFT side by the watermark (buffered
    * lefts flush as it advances) and on the RIGHT side by compaction to
    * the newest right at-or-before the watermark plus the in-flight ones
    * — the "current dimension state" plus its pending updates, at most
    * watermark-horizon rights. A key's current right survives
    * indefinitely (that IS as-of dimension semantics: the newest state
    * change stays relevant forever); pipelines with unbounded hot-key
    * churn but finite key relevance should wrap this with a TTL policy.
    *
    * `maxPendingLefts` is the HARD per-key cap on buffered lefts — the
    * backstop for a pathological hot key whose event rate ×
    * watermark-lateness outruns memory (the watermark bounds state in
    * TIME, not in rows). When it binds, the OLDEST pending lefts flush
    * early with their best-known match — the documented shedding trade:
    * a shed row can miss only a right arriving later-but-within-
    * watermark for its timestamp, and the oldest rows have the least
    * such exposure (they were closest to flushing anyway). Sized so the
    * default never binds under sane rates; parity with the batch
    * operator is exact whenever it does not bind. */
  def asOfEnrich(events: Dataset[Event], leftType: String, rightType: String,
                 watermark: String = "2 hours",
                 maxPendingLefts: Int = 1 << 20): Dataset[AsOfOut] = {
    require(maxPendingLefts > 0, "maxPendingLefts must be positive")
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == leftType || e.event_type == rightType)
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[AsOfState]) =>
          val st = state.getOption.getOrElse(AsOfState(Nil, Nil))
          var rights = st.rights
          var lefts = st.lefts
          if (!state.hasTimedOut) {
            val (r, l) = it.toSeq.partition(_.event_type == rightType)
            rights = (rights ++ r.map(e => RightRec(e.ts, e.event_id, e.value)))
              .sortWith(rightOrd)
            lefts = lefts ++ l
          }
          val wm = state.getCurrentWatermarkMs()
          // Flush lefts STRICTLY below the watermark: any future right has
          // ts ≥ watermark, so only a boundary tie could still arrive —
          // strictness keeps the inclusive-tie contract exact.
          val (ready, pendAll) = lefts.partition(_.ts.getTime < wm)
          // Shedding path (see scaladoc): oldest over-cap lefts flush NOW
          // with their best-known match instead of growing state.
          val (shed, pend) =
            if (pendAll.size <= maxPendingLefts) (Nil, pendAll)
            else pendAll.sortBy(e => (e.ts.getTime, e.event_id))
              .splitAt(pendAll.size - maxPendingLefts)
          val done = ready ++ shed
          val out = done.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val m = rights.filter(_.ts.compareTo(e.ts) <= 0).lastOption
            AsOfOut(e.event_id, e.ts, userId, e.value,
              m.map(_.ts), m.map(_.event_id), m.map(_.value))
          }
          // Compact rights: remaining/future lefts have ts ≥ watermark, so
          // among rights below it only the NEWEST can ever answer again.
          val (old, recent) = rights.partition(_.ts.getTime < wm)
          val kept = old.lastOption.toList ++ recent
          if (pend.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AsOfState(kept, pend))
            // Wake when the watermark passes the earliest pending left;
            // rights-only state needs no wakeup (it flushes nothing).
            if (pend.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(wm + 1, pend.map(_.ts.getTime).min + 1))
          }
          out.iterator
      }
  }

  final case class FwdOut(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                          value: Double,
                          next_ts: Option[java.sql.Timestamp],
                          next_event_id: Option[Long],
                          next_value: Option[Double])

  /** Streaming FORWARD as-of enrich — the streaming twin of
    * [[graft.operators.Joins.asOfJoinForward]] under a bounded
    * attribution horizon ("which purchase follows this view within N
    * hours"): every `leftType` event emits with the EARLIEST `rightType`
    * event in `[t, t + horizonMs]` for the same user (inclusive at both
    * ends; max event_id among equal times — the batch tie contract).
    *
    * The horizon is what makes the forward direction streamable: with no
    * bound a left could wait forever for a right that never comes. A
    * left finalizes when the watermark strictly passes its best
    * candidate's time (no earlier-in-window right can still arrive —
    * and no equal-time higher-id one either, both would need ts < wm),
    * or strictly passes t + horizon with no candidate (emits a
    * null-match). State per key: pending lefts (bounded by
    * horizon + watermark lateness) and rights compacted to those at-or-
    * after min(earliest pending left, watermark) — everything older can
    * answer no pending or future left.
    *
    * `maxPendingLefts` is the same hard hot-key backstop as
    * [[asOfEnrich]]'s: beyond it the OLDEST pending lefts flush early
    * with their best-known candidate (which a later right inside their
    * window could still have displaced — the documented shedding trade);
    * exact batch parity holds whenever the cap does not bind. */
  def forwardEnrich(events: Dataset[Event], leftType: String, rightType: String,
                    horizonMs: Long,
                    watermark: String = "2 hours",
                    maxPendingLefts: Int = 1 << 20): Dataset[FwdOut] = {
    import events.sparkSession.implicits._
    require(horizonMs > 0, "horizonMs must be positive")
    require(maxPendingLefts > 0, "maxPendingLefts must be positive")
    events
      .filter(e => e.event_type == leftType || e.event_type == rightType)
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, FwdOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[AsOfState]) =>
          val st = state.getOption.getOrElse(AsOfState(Nil, Nil))
          var rights = st.rights
          var lefts = st.lefts
          if (!state.hasTimedOut) {
            val (r, l) = it.toSeq.partition(_.event_type == rightType)
            rights = (rights ++ r.map(e => RightRec(e.ts, e.event_id, e.value)))
              .sortWith(rightOrd)
            lefts = lefts ++ l
          }
          val wm = state.getCurrentWatermarkMs()
          // Best candidate: earliest right in [t, t+horizon]; among the
          // equal-earliest, the max event_id (rights are (ts, id)-sorted,
          // so the last of the first ts group).
          def best(e: Event): Option[RightRec] = {
            val inWin = rights.filter(r => r.ts.compareTo(e.ts) >= 0 &&
              r.ts.getTime <= e.ts.getTime + horizonMs)
            inWin.headOption.map(h => inWin.takeWhile(_.ts == h.ts).last)
          }
          val (ready, pendAll) = lefts.partition { e =>
            val b = best(e)
            b.exists(_.ts.getTime < wm) || e.ts.getTime + horizonMs < wm
          }
          // Hot-key backstop (see scaladoc): oldest over-cap lefts emit
          // their best-known candidate UNFILTERED by the watermark —
          // finality is exactly what shedding gives up.
          val (shed, pend) =
            if (pendAll.size <= maxPendingLefts) (Nil, pendAll)
            else pendAll.sortBy(e => (e.ts.getTime, e.event_id))
              .splitAt(pendAll.size - maxPendingLefts)
          val out = (ready.map(e => (e, true)) ++ shed.map(e => (e, false)))
            .sortBy { case (e, _) => (e.ts.getTime, e.event_id) }
            .map { case (e, fin) =>
              val m = if (fin) best(e).filter(_.ts.getTime < wm) else best(e)
              FwdOut(e.event_id, e.ts, userId, e.value,
                m.map(_.ts), m.map(_.event_id), m.map(_.value))
            }
          // Rights older than every pending left AND the watermark answer
          // nothing again (future lefts have ts >= wm).
          val floor = (pend.map(_.ts.getTime) :+ wm).min
          val kept = rights.filter(_.ts.getTime >= floor)
          if (pend.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AsOfState(kept, pend))
            val wake =
              if (pend.nonEmpty)
                // Finalize the earliest pending left: past its
                // candidate's ts, or past its horizon end.
                pend.map(e =>
                  best(e).map(_.ts.getTime).getOrElse(e.ts.getTime + horizonMs) + 1).min
              else
                // Rights-only state: once the watermark passes the last
                // right it can match no future left (future lefts have
                // ts ≥ wm) — wake then so compaction clears the key
                // instead of leaking churned keys' state forever.
                kept.map(_.ts.getTime).max + 1
            state.setTimeoutTimestamp(math.max(wm + 1, wake))
          }
          out.iterator
      }
  }

  /** value × 1000 with Spark SQL `round(...)` HALF_UP semantics on the
    * finite range — `math.round` differs on NEGATIVE halves
    * (floor(x+0.5) = −2 where SQL HALF_UP = −3 at −2.5) — and GRACEFUL
    * non-finite handling: `BigDecimal.valueOf(NaN/Infinity)` THROWS,
    * and under Spark's ANSI default the batch round→cast ALSO throws on
    * NaN/±Inf/overflow — acceptable for a batch job that fails once and
    * visibly, fatal for a streaming query that would replay the same
    * poisoned micro-batch from its checkpoint forever. So the streaming
    * side maps NaN→0 and saturates ±Inf/overflow to the Long extremes
    * and keeps running; on finite in-range values (everything a spec or
    * oracle compares) it is bit-identical to the batch expression.
    * Shared by every typed streaming twin that must hash-match a batch
    * integral-milli sum. */
  private def sqlRoundMillis(value: Double): Long = {
    val x = value * 1000
    if (x.isNaN) 0L
    else if (x >= Long.MaxValue.toDouble) Long.MaxValue
    else if (x <= Long.MinValue.toDouble) Long.MinValue
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
  }

  /** Per-key rolling state: the retained event records (sorted by
    * (ts, event_id)) and the watermark below which rows were already
    * emitted — retained rows double as emission queue AND trailing-frame
    * history, so the marker is what prevents re-emission. */
  final case class RollState(recs: List[RightRec], emittedBelow: Long)

  final case class RollOut(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                           value: Double, n_span: Long, value_milli_span: Long)

  /** Streaming trailing-window features — the streaming twin of
    * [[graft.operators.Windows.rollingTrailing]] (and of the batch
    * queries q_rolling_window / q_rolling_salted): every event emits with
    * the count and integral-milli sum of the SAME user's events in the
    * half-open frame (t − span, t] — equal-timestamp peers included,
    * exactly the RANGE-frame contract.
    *
    * Why rows BUFFER until the watermark strictly passes their
    * timestamp: the trailing aggregate is only final once no event ≤ t
    * can still arrive, which is what the watermark certifies — emitting
    * on arrival would undercount late-but-within-watermark peers (the
    * batch/stream divergence these twins exist to avoid). Output trails
    * by the watermark, like every append-mode stateful operator here.
    *
    * State per key is the span + watermark horizon IN TIME (rows older
    * than watermark − span can sit in no future frame and evict; an
    * idle key self-cleans via an event-time wakeup at last + span), and
    * the per-flush aggregates are computed over the time-sorted retained
    * array with prefix sums + binary-searched frame bounds — O(log n)
    * per emitted row, no per-row frame re-aggregation (the naive range
    * frame's O(n·f) hot-key pathology, measured 18-26× at sf0.1 in
    * SKEW_BENCH.json, is exactly what this avoids).
    *
    * `maxRetained` is the HARD per-key row cap — the backstop for a
    * pathological hot key whose event rate × (span + lateness) outruns
    * memory. When it binds the OLDEST retained rows drop first (they
    * leave the span soonest); a dropped row that was still awaiting
    * emission flushes IMMEDIATELY with its best-known frame, so no row
    * is ever lost, and subsequent frames can UNDERCOUNT at their
    * trailing edge — the documented shedding trade; parity with the
    * batch operator is exact whenever the cap does not bind. */
  def rollingEnrich(events: Dataset[Event], spanMs: Long,
                    watermark: String = "2 hours",
                    maxRetained: Int = 1 << 20): Dataset[RollOut] = {
    require(spanMs > 0, "spanMs must be positive")
    require(maxRetained > 0, "maxRetained must be positive")
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RollState, RollOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[RollState]) =>
          val st = state.getOption.getOrElse(RollState(Nil, Long.MinValue))
          var recs = st.recs
          if (!state.hasTimedOut) {
            recs = (recs ++ it.map(e => RightRec(e.ts, e.event_id, e.value)))
              .sortWith(rightOrd)
          }
          val wm = state.getCurrentWatermarkMs()
          // Emit rows the watermark has STRICTLY passed and the previous
          // flushes have not (emitted rows stay retained as history for
          // later frames — emittedBelow is the don't-repeat marker).
          val ready = recs.filter(r =>
            r.ts.getTime < wm && r.ts.getTime >= st.emittedBelow)
          // Evict history no future frame can reach: future rows have
          // ts ≥ wm, their frames open at > ts − span ≥ wm − span.
          val keptAll = recs.filter(_.ts.getTime > wm - spanMs)
          // Hot-key backstop (see scaladoc): newest-first survival, and
          // any dropped row still awaiting emission flushes NOW with its
          // best-known frame instead of vanishing.
          val (dropped, kept) =
            if (keptAll.size <= maxRetained) (Nil, keptAll)
            else keptAll.splitAt(keptAll.size - maxRetained)
          val shed = dropped.filter(r =>
            r.ts.getTime >= wm && r.ts.getTime >= st.emittedBelow)
          // The sorted-array + prefix-sum machinery is only worth
          // building when something actually emits — a no-emit trigger
          // on a near-cap hot key must not allocate O(state) arrays.
          val out = if (ready.isEmpty && shed.isEmpty) Nil else {
            val arr = recs.toArray
            val times = arr.map(_.ts.getTime)
            val pref = new Array[Long](arr.length + 1)
            var i = 0
            while (i < arr.length) {
              pref(i + 1) = pref(i) + sqlRoundMillis(arr(i).value); i += 1
            }
            // First index with time > t (times are sorted ascending).
            def ub(t: Long): Int = {
              var lo = 0; var hi = times.length
              while (lo < hi) {
                val m = (lo + hi) >>> 1
                if (times(m) <= t) lo = m + 1 else hi = m
              }
              lo
            }
            (ready ++ shed).map { e =>
              val t = e.ts.getTime
              val hiI = ub(t); val loI = ub(t - spanMs)
              RollOut(e.event_id, e.ts, userId, e.value,
                (hiI - loI).toLong, pref(hiI) - pref(loI))
            }
          }
          if (kept.isEmpty) state.remove()
          else {
            state.update(RollState(kept, math.max(st.emittedBelow, wm)))
            val pendMin = kept.collectFirst {
              case r if r.ts.getTime >= wm => r.ts.getTime
            }
            // Wake to flush the earliest pending row, or — history-only
            // state — when the last row leaves the span horizon so the
            // key's state clears instead of leaking forever.
            val wake = pendMin.map(_ + 1)
              .getOrElse(kept.last.ts.getTime + spanMs + 1)
            state.setTimeoutTimestamp(math.max(wm + 1, wake))
          }
          out.sortBy(o => (o.ts.getTime, o.event_id)).iterator
      }
  }

  /** Stateful 30-min-gap sessionization, LIST-STATE form: each user holds
    * ALL currently-open sessions (sorted, pairwise separated by more than
    * the gap), so a late-but-within-watermark event lands in exactly the
    * session it belongs to — including merging two sessions it bridges —
    * and the streamed output matches the batch twin q_sessionize EXACTLY
    * on every closed session.
    *
    * A session closes ONLY via event-time semantics: once the watermark
    * passes its horizon (last + gap) no on-time event can extend or
    * bridge it, so it flushes with the next chronological session_id and
    * leaves state. (Closing eagerly when a newer event opens the next
    * session — the classic single-session shortcut — is wrong under late
    * data: a late event can still bridge the "closed" session.) Sessions
    * therefore emit with the watermark's latency, and the emitted rows
    * are a chronological PREFIX of the batch twin's sessions for each
    * user's continuous activity span.
    *
    * Scale: state per user = open sessions within the watermark horizon —
    * at most ceil(watermark/gap)+1 ranges of 4 fields — and a flushed-out
    * user costs nothing (state removed). The one deliberate divergence
    * from batch numbering: a user returning after a FULL flush restarts
    * at session_id 1 (the alternative is an immortal per-user counter —
    * exactly the unbounded state the flush exists to free), so
    * (user_id, session_start) is the durable unique session key across
    * activity spans. NOTE: within-batch events are sorted per user
    * in-memory; at scale the trigger interval bounds that batch size. */
  def sessionize(events: Dataset[Event], gapMs: Long = 1800000L,
                 watermark: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[MultiSessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[MultiSessionState]) =>
          val st = state.getOption.getOrElse(MultiSessionState(1L, Nil))
          var open = st.open

          // Absorb events: each event merges every session within gap of
          // it (at most two — sessions are pairwise > gap apart, so an
          // event can bridge only adjacent ones) or opens a new session
          // in sorted position.
          if (!state.hasTimedOut) {
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val t = e.ts.getTime
              val vm = sqlRoundMillis(e.value)
              val (before, rest) = open.span(s => s.last.getTime + gapMs < t)
              val (touching, after) = rest.span(s => s.start.getTime - gapMs <= t)
              // Gap math is epoch-millis (matching the batch twin's
              // unix_millis), but session bounds keep FULL timestamp
              // precision: min/max via compareTo, so same-millisecond
              // events with different micros still match batch min(ts)/
              // max(ts) exactly.
              val merged =
                if (touching.isEmpty) SessionRange(e.ts, e.ts, 1L, vm)
                else SessionRange(
                  if (e.ts.compareTo(touching.head.start) < 0) e.ts
                  else touching.head.start,
                  if (e.ts.compareTo(touching.last.last) > 0) e.ts
                  else touching.last.last,
                  touching.map(_.nEvents).sum + 1L,
                  touching.map(_.valueMilli).sum + vm)
              open = before ++ (merged :: after)
            }
          }

          // Flush every session whose horizon the watermark has passed —
          // they are a prefix of the sorted list, numbered chronologically.
          val wmMs = state.getCurrentWatermarkMs()
          val (closed, live) = open.span(s => s.last.getTime + gapMs < wmMs)
          val out = closed.zipWithIndex.map { case (s, i) =>
            SessionOut(userId, st.nextId + i, s.nEvents, s.start, s.last, s.valueMilli)
          }
          if (live.isEmpty) state.remove()
          else {
            state.update(MultiSessionState(st.nextId + closed.size, live))
            state.setTimeoutTimestamp(
              math.max(live.head.last.getTime + gapMs, wmMs + 1))
          }
          out.iterator
      }
  }
}
