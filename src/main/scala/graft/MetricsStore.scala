package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent validation history — the durable half of the reference's
  * architecture: its `dw_data_metrics` is a PERSISTED warehouse table
  * written once per validation round and queried across rounds
  * (db-setup.sql:63-76 inserts rows with a ROW_CREATED stamp;
  * snowflake_tool.py:23-39 only ever SELECTs from it). The in-session
  * memo ([[graft.queries.CoreQueries.metricsTable]]) serves one round;
  * this store survives driver restarts and answers the question the memo
  * can't: "is this table drifting more than last round?"
  *
  * Layout: parquet partitioned by `round_id`, append-only — each round's
  * write is one new directory, a round read prunes to one partition, and
  * no round ever rewrites another's files (concurrent validators on
  * different rounds can't clobber each other). Rows carry a
  * `row_created` stamp like the reference's column; it is excluded from
  * the drift queries so results stay deterministic.
  *
  * Scale: metrics rows are O(#tables) per round and checksum summaries
  * O(#partitions) per table — METADATA-scale both; the store stays tiny
  * forever relative to the warehouse it describes, and every query below
  * is a join between two partition-pruned reads of it.
  */
object MetricsStore {

  /** Append one validation round's metrics rows (the
    * [[TableDiff.metrics]] shape: one row per table pair) under
    * `round_id = roundId`. Refuses to overwrite an existing round —
    * append-only is the contract that makes history trustworthy. */
  def appendMetrics(metrics: DataFrame, path: String, roundId: Long): Unit =
    appendRound(metrics, path, roundId)

  /** Append one round's per-partition checksum summary (the
    * [[TableDiff.sideChecksums]] shape) for `table`. */
  def appendChecksums(summary: DataFrame, path: String, roundId: Long,
                      table: String): Unit =
    appendRound(summary.withColumn("table_name", lit(table)), path, roundId)

  private def appendRound(df: DataFrame, path: String, roundId: Long): Unit = {
    require(!rounds(df.sparkSession, path).contains(roundId),
      s"round $roundId already present in $path — history is append-only " +
        "(pick the next round id; rewriting a recorded round would forge it)")
    df.withColumn("round_id", lit(roundId))
      .withColumn("row_created", current_timestamp())
      .write.mode("append").partitionBy("round_id").parquet(path)
  }

  /** The full history (all rounds). A filter on `round_id` prunes to one
    * partition directory — the read path every query below uses. */
  def read(spark: SparkSession, path: String): DataFrame =
    graft.sources.Tables.parquet(spark, path)

  /** One round's rows, partition-pruned. */
  def readRound(spark: SparkSession, path: String, roundId: Long): DataFrame =
    read(spark, path).filter(col("round_id") === roundId).drop("round_id")

  /** Recorded round ids, ascending. Listing-scale metadata: reads the
    * partition values, not the data files. */
  def rounds(spark: SparkSession, path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("round_id="))
      .map(_.stripPrefix("round_id=").toLong).sorted
  }

  /** Latest recorded round id, if any. */
  def latestRound(spark: SparkSession, path: String): Option[Long] =
    rounds(spark, path).lastOption

  /** Round-over-round METRICS drift — the query a restarted validator
    * runs first: per table, the three discrepancy-class counts in the
    * previous and current rounds, the total-discrepancy delta, and a
    * trend in {improved, regressed, flat, appeared, disappeared}
    * (appeared/disappeared = the table pair entered/left the validation
    * set between rounds; their counts read 0 on the absent side).
    * Deterministic (integer counts only — no timestamps), so an engine
    * port hash-matches. */
  def metricsDrift(spark: SparkSession, path: String,
                   prevRound: Long, currRound: Long): DataFrame = {
    val cnt = Seq("total_record_count_hive", "total_record_count_sf",
      "hive_only_count", "sf_only_count", "data_discrepancy_count")
    def side(r: Long, tag: String) = {
      val d = readRound(spark, path, r)
      d.select(col("table_name") +:
        cnt.map(c => col(c).as(s"${tag}_$c")) :+
        lit(true).as(s"in_$tag"): _*)
    }
    val p = side(prevRound, "prev")
    val c = side(currRound, "curr")
    val joined = p.join(c, Seq("table_name"), "full_outer")
    val cols = col("table_name") +: cnt.flatMap(cn => Seq(
      coalesce(col(s"prev_$cn"), lit(0L)).as(s"prev_$cn"),
      coalesce(col(s"curr_$cn"), lit(0L)).as(s"curr_$cn")))
    val disc = Seq("hive_only_count", "sf_only_count", "data_discrepancy_count")
    def tot(tag: String) = disc.map(cn => col(s"${tag}_$cn")).reduce(_ + _)
    // appeared/disappeared judge PRESENCE in the round (the in_prev /
    // in_curr flags the full-outer join nulls out on the absent side) —
    // a record-count proxy would misread a legitimately-empty-but-
    // validated pair (0 rows both sides) as absent.
    joined.select(cols :+ col("in_prev") :+ col("in_curr"): _*)
      .withColumn("delta_discrepancies", tot("curr") - tot("prev"))
      .withColumn("trend",
        when(col("in_prev").isNull && col("in_curr").isNotNull, lit("appeared"))
          .when(col("in_curr").isNull && col("in_prev").isNotNull, lit("disappeared"))
          .when(col("delta_discrepancies") < 0L, lit("improved"))
          .when(col("delta_discrepancies") > 0L, lit("regressed"))
          .otherwise(lit("flat")))
      .drop("in_prev", "in_curr")
  }

  /** Round-over-round CHECKSUM drift for one table: which partitions
    * changed between two recorded rounds, without touching the warehouse
    * (both sides are stored summaries). status ∈ {unchanged, changed,
    * added, removed} per partition — the triage list feeding
    * [[TableDiff.targetedDiff]] scoped to "what moved since last
    * round". */
  def checksumDrift(spark: SparkSession, path: String, table: String,
                    prevRound: Long, currRound: Long): DataFrame = {
    def side(r: Long, tag: String) =
      readRound(spark, path, r)
        .filter(col("table_name") === table)
        .select(col("partition").as(s"${tag}_partition"),
          col("n").as(s"${tag}_n"), col("checksum").as(s"${tag}_checksum"))
    val p = side(prevRound, "prev")
    val c = side(currRound, "curr")
    p.join(c, col("prev_partition") <=> col("curr_partition"), "full_outer")
      .select(
        coalesce(col("prev_partition"), col("curr_partition")).as("partition"),
        coalesce(col("prev_n"), lit(0L)).as("prev_n"),
        coalesce(col("curr_n"), lit(0L)).as("curr_n"),
        col("prev_checksum"), col("curr_checksum"))
      .withColumn("status",
        when(col("prev_n") === 0L && col("curr_n") > 0L, lit("added"))
          .when(col("curr_n") === 0L && col("prev_n") > 0L, lit("removed"))
          .when(col("prev_n") =!= col("curr_n") ||
            !(col("prev_checksum") <=> col("curr_checksum")), lit("changed"))
          .otherwise(lit("unchanged")))
  }
}
