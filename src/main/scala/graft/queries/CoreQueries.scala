package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fixtures, TableDiff}
import graft.operators.MergePipeline
import graft.sources.Tables

/** Queries #1-#13 of SURVEY.md §2 — the reference's discrepancy-validation
  * surface — plus their DuckDB oracle SQL. Every query ends in a
  * deterministic unique-key ORDER BY so the driver's hash compare is
  * order-stable.
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  private val ordersCompareCols =
    Seq("o_custkey", "o_orderstatus", "o_totalprice_cents", "o_orderdate", "o_orderpriority")
  private val customerCompareCols =
    Seq("c_name", "c_nationkey", "c_acctbal_cents", "c_mktsegment")

  // ---- SQL fragments -----------------------------------------------------

  /** DuckDB mirror of TableDiff.diff's mismatch predicate: fingerprint
    * inequality ⟺ any compare column IS DISTINCT FROM its twin (fixture
    * columns are integral/string/timestamp, so rendering is injective). */
  private def distinctAny(cols: Seq[String], l: String = "h", r: String = "s"): String =
    cols.map(c => s"$l.$c IS DISTINCT FROM $r.$c").mkString("(", " OR ", ")")

  private def diffCte(name: String, hive: String, sf: String, pk: String,
                      cols: Seq[String]): String =
    s"""$name AS (
       |  SELECT coalesce(h.$pk, s.$pk) AS pk,
       |         h.$pk IS NOT NULL AS in_left,
       |         s.$pk IS NOT NULL AS in_right,
       |         (h.$pk IS NOT NULL AND s.$pk IS NOT NULL AND
       |          ${distinctAny(cols)}) AS mism
       |  FROM $hive h FULL OUTER JOIN $sf s ON h.$pk = s.$pk)""".stripMargin

  private def metricsSelect(tableName: String, diffName: String,
                            hiveTbl: String, sfTbl: String): String =
    s"""SELECT '$tableName' AS table_name,
       |  (SELECT count(*) FROM $hiveTbl) AS total_record_count_hive,
       |  (SELECT count(*) FROM $sfTbl) AS total_record_count_sf,
       |  count(*) FILTER (WHERE in_left AND NOT in_right) AS hive_only_count,
       |  count(*) FILTER (WHERE in_right AND NOT in_left) AS sf_only_count,
       |  count(*) FILTER (WHERE mism) AS data_discrepancy_count,
       |  coalesce(array_to_string(list_slice(list_sort(list(pk) FILTER (WHERE in_left AND NOT in_right)), 1, 100), ','), '') AS hive_only_pk_values,
       |  coalesce(array_to_string(list_slice(list_sort(list(pk) FILTER (WHERE in_right AND NOT in_left)), 1, 100), ','), '') AS sf_only_pk_values,
       |  coalesce(array_to_string(list_slice(list_sort(list(pk) FILTER (WHERE mism)), 1, 100), ','), '') AS data_discrepancy_pk_values
       |FROM $diffName""".stripMargin

  /** region vs region: the discrepancy-free control pair. */
  private val regionPairSql =
    """hive_region AS (SELECT r_regionkey, r_name FROM region),
      |sf_region AS (SELECT r_regionkey, r_name FROM region)""".stripMargin

  private val metricsUnionSql: String =
    s"""${Fixtures.Sql.bothPairs},
       |$regionPairSql,
       |${diffCte("d_orders", "hive_orders", "sf_orders", "o_orderkey", ordersCompareCols)},
       |${diffCte("d_customer", "hive_customer", "sf_customer", "c_custkey", customerCompareCols)},
       |${diffCte("d_region", "hive_region", "sf_region", "r_regionkey", Seq("r_name"))},
       |m AS (
       |${metricsSelect("orders", "d_orders", "hive_orders", "sf_orders")}
       |UNION ALL
       |${metricsSelect("customer", "d_customer", "hive_customer", "sf_customer")}
       |UNION ALL
       |${metricsSelect("region", "d_region", "hive_region", "sf_region")}
       |)""".stripMargin

  // ---- Spark side --------------------------------------------------------

  /** The five frames the fixture-pair metrics diff. */
  private def metricsInputs(s: SparkSession, dir: String): Seq[DataFrame] =
    Seq(Fixtures.hiveOrders(s, dir), Fixtures.sfOrders(s, dir),
      Fixtures.hiveCustomer(s, dir), Fixtures.sfCustomer(s, dir),
      Tables.load(s, dir, "region"))

  /** Metrics frame over all fixture pairs (union of one row per table). */
  def metricsUnion(s: SparkSession, dir: String): DataFrame =
    metricsUnionOf(metricsInputs(s, dir))

  private def metricsUnionOf(inputs: Seq[DataFrame]): DataFrame = {
    val Seq(hiveOrders, sfOrders, hiveCustomer, sfCustomer, region) = inputs
    TableDiff.metrics(hiveOrders, sfOrders, "orders", "o_orderkey")
      .unionByName(TableDiff.metrics(hiveCustomer, sfCustomer, "customer", "c_custkey"))
      .unionByName(TableDiff.metrics(region, region, "region", "r_regionkey"))
  }

  private val metricsMemo = graft.SessionMemo[Unit, DataFrame]()

  /** The materialized `dw_data_metrics` table: each diff runs ONCE per
    * session and input files, and the resulting metrics rows —
    * O(#tables), each O(sampleCap) — are kept as a LocalRelation that
    * downstream consumers (q_metrics_filter, q_discrepancy_lookup) read
    * without re-scanning the warehouse. This is the reference's actual architecture: its metrics
    * live in a persistent `dw_data_metrics` table written once per
    * validation round, and every tool QUERIES that table
    * (snowflake_tool.py:23-39) rather than re-diffing the warehouse —
    * recomputing three full-outer diffs per metrics lookup is exactly the
    * 100 TB mistake the persistent table exists to avoid. The memo keys
    * on the five diffed frames, not on their metrics union, whose
    * `udaf` makes its plan differ per construction; changed files under
    * `dir` rebuild it, as the reference re-writes dw_data_metrics per
    * round. */
  def metricsTable(s: SparkSession, dir: String): DataFrame = {
    val inputs = metricsInputs(s, dir)
    metricsMemo(inputs, ()) {
      val u = metricsUnionOf(inputs)
      s.createDataFrame(java.util.Arrays.asList(u.collect(): _*), u.schema)
    }
  }

  val queries: Map[String, Q] = Map(
    // Persistent validation HISTORY (the reference's dw_data_metrics is
    // a persisted table queried across rounds — db-setup.sql:63-76):
    // two deterministic rounds appended to a parquet store, then the
    // round-over-round drift report read back FROM DISK. Round 1 = the
    // standard fixture pairs (discrepancies present); round 2 = orders
    // fixed (both sides identical), customer dropped from the
    // validation set, nation newly added — exercising improved / flat /
    // disappeared / appeared in one report.
    "q_metrics_history" -> ((s, dir) => {
      import graft.MetricsStore
      // A fresh store per call, so verify/bench runs reproduce.
      val store = graft.SessionMemo.tempDir(s, "graft_metrics_store")
      val region = Tables.load(s, dir, "region")
      val nation = Tables.load(s, dir, "nation")
      MetricsStore.appendMetrics(metricsUnion(s, dir), store, roundId = 1L)
      val fixedOrders = Fixtures.hiveOrders(s, dir)
      MetricsStore.appendMetrics(
        TableDiff.metrics(fixedOrders, fixedOrders, "orders", "o_orderkey")
          .unionByName(TableDiff.metrics(region, region, "region", "r_regionkey"))
          .unionByName(TableDiff.metrics(nation, nation, "nation", "n_nationkey")),
        store, roundId = 2L)
      MetricsStore.metricsDrift(s, store, prevRound = 1L, currRound = 2L)
        .orderBy(col("table_name"))
    }),

    "q_pk_diff_left_only" -> ((s, dir) =>
      Fixtures.hiveOrders(s, dir).join(Fixtures.sfOrders(s, dir),
          Seq("o_orderkey"), "left_anti")
        .select(col("o_orderkey")).orderBy(col("o_orderkey"))),

    "q_pk_diff_right_only" -> ((s, dir) =>
      Fixtures.sfOrders(s, dir).join(Fixtures.hiveOrders(s, dir),
          Seq("o_orderkey"), "left_anti")
        .select(col("o_orderkey")).orderBy(col("o_orderkey"))),

    "q_data_metrics" -> ((s, dir) =>
      TableDiff.metrics(Fixtures.hiveOrders(s, dir), Fixtures.sfOrders(s, dir),
        "orders", "o_orderkey")),

    // Both metrics consumers read the materialized metricsTable (one diff
    // per table pair per round, reference-style) instead of re-diffing.
    "q_metrics_filter" -> ((s, dir) =>
      metricsTable(s, dir)
        .filter((col("total_record_count_hive") > 0 || col("total_record_count_sf") > 0) &&
          (col("hive_only_count") > 0 || col("sf_only_count") > 0 ||
            col("data_discrepancy_count") > 0))
        .orderBy(col("hive_only_pk_values"), col("sf_only_pk_values"),
          col("data_discrepancy_pk_values"), col("table_name"))),

    "q_discrepancy_lookup" -> ((s, dir) =>
      metricsTable(s, dir)
        .filter(upper(trim(col("table_name"))) === upper(trim(lit(" Orders "))))
        .select(col("table_name"), col("data_discrepancy_pk_values"))),

    "q_mismatch_matrix" -> ((s, dir) =>
      TableDiff.mismatchMatrix(Fixtures.hiveOrders(s, dir),
          Fixtures.sfOrders(s, dir), "o_orderkey")
        .orderBy(col("id"), col("column_name"))),

    // The reference's 3-id probe call shape: the id filter pushes to both
    // scans, so this reads row groups, not tables.
    "q_mismatch_probe" -> ((s, dir) =>
      TableDiff.mismatchProbe(Fixtures.hiveOrders(s, dir),
          Fixtures.sfOrders(s, dir), "o_orderkey", Seq(89L, 178L, 267L))
        .orderBy(col("id"), col("column_name"))),

    "q_mismatch_rollup" -> ((s, dir) =>
      TableDiff.mismatchRollup(
        TableDiff.mismatchMatrix(Fixtures.hiveOrders(s, dir),
          Fixtures.sfOrders(s, dir), "o_orderkey"))
        .orderBy(col("column_name"))),

    // Deliberately uses the reference's PLAIN md5-concat fingerprint
    // (HiveFunctions.rowHash) so its cross-engine portability is what the
    // oracle checks; the engine's internal mismatch hash is the injective
    // xxhash64 rowFingerprint.
    "q_row_hash_diff" -> ((s, dir) => {
      import graft.functions.HiveFunctions.rowHash
      val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice_cents",
        "o_orderpriority")
      def hashed(df: DataFrame, hashName: String) =
        df.select(col("o_orderkey"), rowHash(cols.map(col)).as(hashName))
      hashed(Fixtures.hiveOrders(s, dir), "hive_hash")
        .join(hashed(Fixtures.sfOrders(s, dir), "sf_hash"), Seq("o_orderkey"))
        .filter(col("hive_hash") =!= col("sf_hash"))
        .select(col("o_orderkey").as("id"), col("hive_hash"), col("sf_hash"))
        .orderBy(col("id"))
    }),

    "q_rank_dedup" -> ((s, dir) =>
      MergePipeline.rankDedup(Tables.load(s, dir, "events"),
          keys = Seq(col("user_id")),
          ord = Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))),

    // Composite rank as a STRUCT, not a packed long: unix_millis*1e6 +
    // event_id aliases across millisecond buckets once event_ids reach
    // 1e6 (any real event corpus), silently picking a non-latest row.
    "q_argmax_merge" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      MergePipeline.argmaxMerge(e, col("user_id"),
          struct(col("ts"), col("event_id")), Seq("event_type", "value"))
        .orderBy(col("user_id"))
    }),

    "q_sparse_dw_merge" -> ((s, dir) => {
      val orders = Fixtures.hiveOrders(s, dir)
      val sp0 = MergePipeline.argmaxMerge(
          orders.select(col("o_custkey").as("c_custkey"),
            col("o_orderkey"), col("o_totalprice_cents")),
          col("c_custkey"), col("o_orderkey"), Seq("o_totalprice_cents"))
        .withColumnRenamed("o_totalprice_cents", "c_acctbal_cents")
      val sp = sp0.unionByName(
        sp0.filter(col("c_custkey") % 50 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("c_acctbal_cents")))
      MergePipeline.sparseDwMerge(sp, Fixtures.hiveCustomer(s, dir), "c_custkey")
        .orderBy(col("c_custkey"))
    }),

    "q_union_precedence" -> ((s, dir) => {
      val o = Fixtures.hiveOrders(s, dir)
      val b1 = o.filter(col("o_orderstatus") === "F")
        .withColumn("for_ordering", lit(2))
      val b2 = o.filter(col("o_orderstatus") =!= "F")
        .withColumn("for_ordering", lit(1))
      MergePipeline.rankDedup(b1.unionByName(b2),
          keys = Seq(col("o_custkey")),
          ord = Seq(col("for_ordering").desc, col("o_orderdate").desc,
            col("o_orderkey").desc))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("for_ordering"))
        .orderBy(col("o_custkey"))
    }),

    // Composite-PK diff: lineitem's natural (orderkey, linenumber) key.
    "q_composite_key_metrics" -> ((s, dir) =>
      TableDiff.metricsMulti(Fixtures.hiveLineitem(s, dir),
        Fixtures.sfLineitem(s, dir), "lineitem",
        Seq("l_orderkey", "l_linenumber"))),

    // Schema-driven audit-column exclusion (the reference's
    // IGNORE_EXCLUDED_COL operating mode): both sides carry audit columns
    // that DIFFER on every row (Batch, RowModified); the catalog marks
    // them excluded, so the metrics must equal the plain q_data_metrics
    // row — the oracle is exactly that, so any exclusion regression trips
    // the hash compare.
    "q_excluded_col_metrics" -> ((s, dir) => {
      import graft.script.{ColumnMeta, SchemaCatalog}
      val cat = SchemaCatalog.inMemory(
        "orders" -> Seq(
          ColumnMeta("o_orderkey", 1, primaryKey = true),
          ColumnMeta("o_custkey", 1, primaryKey = false),
          ColumnMeta("o_orderstatus", 2, primaryKey = false),
          ColumnMeta("o_totalprice_cents", 1, primaryKey = false),
          ColumnMeta("o_orderdate", 2, primaryKey = false),
          ColumnMeta("o_orderpriority", 2, primaryKey = false),
          ColumnMeta("Batch", 1, primaryKey = false),
          ColumnMeta("RowModified", 2, primaryKey = false, primaryTimestamp = true)))
      def withAudit(df: DataFrame, batch: Long, rm: String) =
        df.withColumn("Batch", lit(batch)).withColumn("RowModified", lit(rm))
      TableDiff.metricsForTable(
        withAudit(Fixtures.hiveOrders(s, dir), 1L, "2020-01-01 00:00:00"),
        withAudit(Fixtures.sfOrders(s, dir), 2L, "2021-06-06 12:00:00"),
        "orders", cat)
    }),

    // ---- Incremental-validation triage (TableDiff scaladoc: the 100 TB
    // path). The partition column is the order DATE rendered as a string
    // (engine-portable; daily partitions are the classic warehouse
    // layout). The raw timestamp is excluded from hashing/compare in
    // favor of its string rendering, so no engine's timestamp-to-string
    // quirks enter the checksum.
    "q_partition_checksum" -> ((s, dir) =>
      TableDiff.partitionChecksum(
          withPart(Fixtures.hiveOrders(s, dir)),
          withPart(Fixtures.sfOrders(s, dir)),
          "o_part", Seq("o_orderkey"), exclude = Seq("o_orderdate"))
        // Checksums ship as DIGIT STRINGS: DuckDB's pandas bridge reads
        // DECIMAL(38,0) back as float64, which is lossy past 2^53 — the
        // decimal-to-string rendering is exact and identical in both
        // engines, so the hash compare checks the full 60-bit sums.
        .withColumn("hive_checksum", col("hive_checksum").cast("string"))
        .withColumn("sf_checksum", col("sf_checksum").cast("string"))
        .orderBy(col("partition"))),

    // Checksum triage → row diff over ONLY the flagged partitions: the
    // IN-list of suspect dates is literal, so a partition-pruned layout
    // reads only drifted files (PartitionDiffSpec proves the pruning on
    // a partitioned parquet copy).
    "q_targeted_diff" -> ((s, dir) =>
      TableDiff.targetedDiff(
          withPart(Fixtures.hiveOrders(s, dir)),
          withPart(Fixtures.sfOrders(s, dir)),
          "o_part", Seq("o_orderkey"), exclude = Seq("o_orderdate"))
        .orderBy(col("pk"))),

    // Schema-drift gate (metadata-only, no job): rows-only — DuckDB's
    // type vocabulary can't mirror Catalyst simpleString, so the
    // verdicts are pinned in PartitionDiffSpec instead. Fixture: one
    // re-typed column + one sf-only audit column.
    "q_schema_drift" -> ((s, dir) =>
      TableDiff.schemaDrift(
        Fixtures.hiveOrders(s, dir),
        Fixtures.sfOrders(s, dir)
          .withColumn("o_custkey", col("o_custkey").cast("int"))
          .withColumn("audit_ts", lit("2024-01-01")))),

    // Integrity constraints over a corpus with injected violations:
    // pk uniqueness/non-null in one aggregate, FK coverage via one
    // anti-join count per declared FK.
    "q_constraint_check" -> ((s, dir) =>
      graft.operators.Monitoring.constraintReport(
          constraintCorpus(s, dir), Seq("o_orderkey"),
          fks = Seq(("fk_orders_customer", "o_custkey",
            Tables.load(s, dir, "customer"), "c_custkey")))
        .orderBy(col("constraint"))),

    // Per-column profile compare: null/distinct counts + native-typed
    // min/max per column on both sides with drift flags — the per-column
    // health row after the count compare.
    "q_profile_compare" -> ((s, dir) =>
      graft.operators.Monitoring.profileCompare(
          Fixtures.hiveOrders(s, dir), Fixtures.sfOrders(s, dir),
          Seq("o_custkey", "o_orderstatus", "o_totalprice_cents", "o_orderpriority"))
        .orderBy(col("column"))),

    // PSI distribution drift on the price column: the profile compare
    // sees null/range/distinct drift but not a SHAPE change inside the
    // same range; PSI bins by the reference side's deciles (model-scale
    // collected cuts, zero-shuffle when-chain assignment) and scores
    // Σ (p−q)·ln(p/q) per bucket with an ordered bounded cum-sum.
    "q_psi_drift" -> ((s, dir) =>
      graft.operators.Monitoring.distributionDrift(
          Fixtures.hiveOrders(s, dir), Fixtures.sfOrders(s, dir),
          "o_totalprice_cents")
        .orderBy(col("bucket"))),

    // PSI on the 100 TB path: approx_percentile (KLL-family sketch,
    // O(accuracy) state per executor) supplies the reference cut points
    // instead of the exact percentile whose buffer grows with distinct
    // values — the q_profile_compare → q_profile_sketch pairing applied
    // to drift. Rows-only (no SQL-portable KLL twin); accuracy vs the
    // exact variant is pinned in MonitoringSpec and exported per-round
    // via VerifyExtras.
    "q_psi_drift_sketch" -> ((s, dir) =>
      graft.operators.Monitoring.distributionDriftSketch(
          Fixtures.hiveOrders(s, dir), Fixtures.sfOrders(s, dir),
          "o_totalprice_cents")
        .orderBy(col("bucket"))),

    // The same per-column health row on the 100 TB path: HLL++ distinct
    // estimates instead of the exact multi-distinct (whose Expand
    // multiplies the scan width per profiled column — the q_profile_
    // compare sf10 tail). Rows-only: HLL estimates aren't SQL-portable;
    // estimate accuracy vs the exact profile is pinned in MonitoringSpec
    // and exported per-round via VerifyExtras.
    "q_profile_sketch" -> ((s, dir) =>
      graft.operators.Monitoring.profileCompareSketch(
          Fixtures.hiveOrders(s, dir), Fixtures.sfOrders(s, dir),
          Seq("o_custkey", "o_orderstatus", "o_totalprice_cents", "o_orderpriority"))
        .orderBy(col("column"))),

    // Consistent by-key 1/4 sample of both sides, diffed exactly: scaled
    // counts are unbiased estimates of the full diff's counts from a
    // quarter-size shuffle (the cheap "how bad is it" probe before
    // committing to the full join).
    "q_sampled_diff" -> ((s, dir) =>
      TableDiff.sampledDiffEstimate(Fixtures.hiveOrders(s, dir),
        Fixtures.sfOrders(s, dir), Seq("o_orderkey"))),

    "q_count_compare" -> ((s, dir) => {
      val h = Fixtures.hiveOrders(s, dir).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("hive_n"))
      val f = Fixtures.sfOrders(s, dir).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("sf_n"))
      h.join(f, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          coalesce(col("hive_n"), lit(0L)).as("hive_n"),
          coalesce(col("sf_n"), lit(0L)).as("sf_n"),
          (coalesce(col("hive_n"), lit(0L)) - coalesce(col("sf_n"), lit(0L))).as("diff"),
          (coalesce(col("hive_n"), lit(0L)) === coalesce(col("sf_n"), lit(0L))).as("is_match"))
        .orderBy(col("o_orderstatus"))
    })
  )

  /** Constraint-violating corpus: hiveOrders with deterministic dup-pk
    * (%500 re-appended), null-pk (%997 with the key nulled), and broken
    * FK (%701 with custkey shifted out of customer, under fresh pks)
    * injections. Same derivation in the oracle SQL. */
  private def constraintCorpus(s: SparkSession, dir: String): DataFrame = {
    val h = Fixtures.hiveOrders(s, dir)
    val rest = Seq("o_custkey", "o_orderstatus", "o_totalprice_cents",
      "o_orderdate", "o_orderpriority").map(col)
    h.unionByName(h.filter(col("o_orderkey") % 500 === 0))
      .unionByName(h.filter(col("o_orderkey") % 997 === 0)
        .select(lit(null).cast("long").as("o_orderkey") +: rest: _*))
      .unionByName(h.filter(col("o_orderkey") % 701 === 0)
        .select((col("o_orderkey") + 300000000L).as("o_orderkey") +:
          (col("o_custkey") + 90000000L).as("o_custkey") +: rest.tail: _*))
  }

  /** Daily-partition column for the triage queries: the order date as a
    * portable string. */
  private def withPart(df: DataFrame): DataFrame =
    df.withColumn("o_part", date_format(col("o_orderdate"), "yyyy-MM-dd"))

  // ---- Oracle SQL --------------------------------------------------------

  /** DuckDB mirror of [[TableDiff.checksumTerm]] over unqualified column
    * names: first 15 md5 hex chars of the injective row rendering, parsed
    * as a 60-bit integer via the '0x' string cast. */
  private def checksumTermSql(cols: Seq[String]): String = {
    val parts = cols.map(c => s"coalesce(md5(CAST($c AS VARCHAR)), 'N')")
      .mkString(", ")
    s"CAST('0x' || substring(md5(concat_ws('|', $parts)), 1, 15) AS BIGINT)"
  }

  /** Hash columns of the partition-checksum queries: pk + compare columns
    * minus the raw timestamp (see the Spark side). */
  private val partHashCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice_cents",
      "o_orderpriority")

  /** Per-side partition summary + the joined status CTE, shared by the
    * checksum and targeted-diff oracles. */
  private val partSummarySql: String = {
    def side(name: String, tbl: String) =
      s"""$name AS (
         |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS p, count(*) AS c,
         |         CAST(sum(${checksumTermSql(partHashCols)}) AS DECIMAL(38,0)) AS ck
         |  FROM $tbl GROUP BY 1)""".stripMargin
    s"""${side("hsum", "hive_orders")},
       |${side("ssum", "sf_orders")},
       |psum AS (
       |  SELECT coalesce(hsum.p, ssum.p) AS p,
       |         coalesce(hsum.c, 0) AS hive_count,
       |         coalesce(ssum.c, 0) AS sf_count,
       |         CAST(coalesce(hsum.ck, 0) AS DECIMAL(38,0)) AS hive_checksum,
       |         CAST(coalesce(ssum.ck, 0) AS DECIMAL(38,0)) AS sf_checksum,
       |         CASE WHEN coalesce(ssum.c, 0) = 0 THEN 'sf_missing'
       |              WHEN coalesce(hsum.c, 0) = 0 THEN 'hive_missing'
       |              WHEN hsum.c <> ssum.c THEN 'count_drift'
       |              WHEN hsum.ck <> ssum.ck THEN 'data_drift'
       |              ELSE 'ok' END AS status
       |  FROM hsum FULL OUTER JOIN ssum ON hsum.p = ssum.p)""".stripMargin
  }

  private val matrixCellsSql: String = {
    val cells = ordersCompareCols.map { c =>
      s"""SELECT id, '$c' AS column_name,
         |  coalesce(CAST(h_$c AS VARCHAR), 'NULL') AS hive,
         |  coalesce(CAST(s_$c AS VARCHAR), 'NULL') AS snowflake,
         |  h_$c IS DISTINCT FROM s_$c AS differs
         |FROM mm""".stripMargin
    }.mkString("\nUNION ALL\n")
    val proj = ordersCompareCols.map(c => s"h.$c AS h_$c, s.$c AS s_$c").mkString(", ")
    s"""mm AS (
       |  SELECT h.o_orderkey AS id, $proj
       |  FROM hive_orders h JOIN sf_orders s ON h.o_orderkey = s.o_orderkey
       |  WHERE ${distinctAny(ordersCompareCols)}),
       |cells AS (
       |$cells
       |)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // Round 1 = the metrics union (m); round 2 = orders fixed (both
    // sides the hive frame → zero discrepancies), region re-validated,
    // nation appeared, customer dropped. Counts only — ROW_CREATED
    // stamps are excluded from drift by design.
    "q_metrics_history" -> {
      val cnt = Seq("total_record_count_hive", "total_record_count_sf",
        "hive_only_count", "sf_only_count", "data_discrepancy_count")
      val coalesced = cnt.flatMap(c => Seq(
        s"CAST(coalesce(p.$c, 0) AS BIGINT) AS prev_$c",
        s"CAST(coalesce(c.$c, 0) AS BIGINT) AS curr_$c")).mkString(",\n    ")
      s"""$metricsUnionSql,
         |curr AS (
         |  SELECT 'orders' AS table_name,
         |    (SELECT count(*) FROM hive_orders) AS total_record_count_hive,
         |    (SELECT count(*) FROM hive_orders) AS total_record_count_sf,
         |    0 AS hive_only_count, 0 AS sf_only_count, 0 AS data_discrepancy_count
         |  UNION ALL
         |  SELECT 'region', (SELECT count(*) FROM region),
         |    (SELECT count(*) FROM region), 0, 0, 0
         |  UNION ALL
         |  SELECT 'nation', (SELECT count(*) FROM nation),
         |    (SELECT count(*) FROM nation), 0, 0, 0),
         |j AS (
         |  SELECT coalesce(p.table_name, c.table_name) AS table_name,
         |    $coalesced,
         |    p.table_name IS NOT NULL AS in_prev,
         |    c.table_name IS NOT NULL AS in_curr
         |  FROM m p FULL OUTER JOIN curr c ON p.table_name = c.table_name),
         |d AS (
         |  SELECT *,
         |    CAST((curr_hive_only_count + curr_sf_only_count + curr_data_discrepancy_count)
         |       - (prev_hive_only_count + prev_sf_only_count + prev_data_discrepancy_count)
         |      AS BIGINT) AS delta_discrepancies
         |  FROM j)
         |SELECT * EXCLUDE (in_prev, in_curr),
         |  CASE
         |    WHEN NOT in_prev AND in_curr THEN 'appeared'
         |    WHEN NOT in_curr AND in_prev THEN 'disappeared'
         |    WHEN delta_discrepancies < 0 THEN 'improved'
         |    WHEN delta_discrepancies > 0 THEN 'regressed'
         |    ELSE 'flat' END AS trend
         |FROM d
         |ORDER BY table_name""".stripMargin
    },

    "q_pk_diff_left_only" ->
      s"""${Fixtures.Sql.ordersPair}
         |SELECT h.o_orderkey FROM hive_orders h
         |WHERE NOT EXISTS (SELECT 1 FROM sf_orders s WHERE s.o_orderkey = h.o_orderkey)
         |ORDER BY h.o_orderkey""".stripMargin,

    "q_pk_diff_right_only" ->
      s"""${Fixtures.Sql.ordersPair}
         |SELECT s.o_orderkey FROM sf_orders s
         |WHERE NOT EXISTS (SELECT 1 FROM hive_orders h WHERE h.o_orderkey = s.o_orderkey)
         |ORDER BY s.o_orderkey""".stripMargin,

    "q_data_metrics" ->
      s"""${Fixtures.Sql.ordersPair},
         |${diffCte("d_orders", "hive_orders", "sf_orders", "o_orderkey", ordersCompareCols)}
         |${metricsSelect("orders", "d_orders", "hive_orders", "sf_orders")}""".stripMargin,

    "q_metrics_filter" ->
      s"""$metricsUnionSql
         |SELECT * FROM m
         |WHERE (total_record_count_hive > 0 OR total_record_count_sf > 0)
         |  AND (hive_only_count > 0 OR sf_only_count > 0 OR data_discrepancy_count > 0)
         |ORDER BY hive_only_pk_values, sf_only_pk_values, data_discrepancy_pk_values, table_name""".stripMargin,

    "q_discrepancy_lookup" ->
      s"""$metricsUnionSql
         |SELECT table_name, data_discrepancy_pk_values FROM m
         |WHERE upper(trim(table_name)) = upper(trim(' Orders '))""".stripMargin,

    "q_mismatch_matrix" ->
      s"""${Fixtures.Sql.ordersPair},
         |$matrixCellsSql
         |SELECT id, column_name, hive, snowflake FROM cells
         |WHERE differs ORDER BY id, column_name""".stripMargin,

    "q_mismatch_probe" ->
      s"""${Fixtures.Sql.ordersPair},
         |$matrixCellsSql
         |SELECT id, column_name, hive, snowflake FROM cells
         |WHERE differs AND id IN (89, 178, 267)
         |ORDER BY id, column_name""".stripMargin,

    "q_mismatch_rollup" ->
      s"""${Fixtures.Sql.ordersPair},
         |$matrixCellsSql
         |SELECT column_name,
         |  array_to_string(list_slice(list_sort(list(DISTINCT hive)), 1, 1000), ',') AS hive,
         |  array_to_string(list_slice(list_sort(list(DISTINCT snowflake)), 1, 1000), ',') AS snowflake,
         |  array_to_string(list_slice(list_sort(list(DISTINCT id)), 1, 1000), ',') AS ids,
         |  count(*) AS n_cells
         |FROM cells WHERE differs
         |GROUP BY column_name ORDER BY column_name""".stripMargin,

    "q_row_hash_diff" -> {
      def h(side: String) =
        s"""md5(concat_ws('|',
           |  coalesce(CAST($side.o_custkey AS VARCHAR), 'NULL'),
           |  coalesce($side.o_orderstatus, 'NULL'),
           |  coalesce(CAST($side.o_totalprice_cents AS VARCHAR), 'NULL'),
           |  coalesce($side.o_orderpriority, 'NULL')))""".stripMargin
      s"""${Fixtures.Sql.ordersPair},
         |hx AS (
         |  SELECT h.o_orderkey AS id, ${h("h")} AS hive_hash, ${h("s")} AS sf_hash
         |  FROM hive_orders h JOIN sf_orders s ON h.o_orderkey = s.o_orderkey)
         |SELECT id, hive_hash, sf_hash FROM hx
         |WHERE hive_hash <> sf_hash ORDER BY id""".stripMargin
    },

    "q_rank_dedup" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // DuckDB max_by has no struct rank; (ts, event_id) is a TOTAL order
    // (event_id unique), so the per-column argmax equals the latest row —
    // expressible as a window top-1.
    "q_argmax_merge" ->
      """SELECT user_id, event_type, value FROM (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_sparse_dw_merge" ->
      s"""${Fixtures.Sql.ordersPair},
         |${Fixtures.Sql.hiveCustomer},
         |sp0 AS (
         |  SELECT o_custkey AS c_custkey,
         |         max_by(o_totalprice_cents, o_orderkey) AS c_acctbal_cents
         |  FROM hive_orders GROUP BY o_custkey),
         |sp AS (
         |  SELECT * FROM sp0
         |  UNION ALL
         |  SELECT c_custkey + 1000000, c_acctbal_cents FROM sp0
         |  WHERE c_custkey % 50 = 0)
         |SELECT sp.c_custkey, d.c_name, d.c_nationkey,
         |       sp.c_acctbal_cents AS c_acctbal_cents, d.c_mktsegment
         |FROM sp LEFT JOIN hive_customer d ON sp.c_custkey = d.c_custkey
         |WHERE sp.c_acctbal_cents IS DISTINCT FROM d.c_acctbal_cents
         |ORDER BY sp.c_custkey""".stripMargin,

    "q_union_precedence" ->
      s"""${Fixtures.Sql.ordersPair},
         |b AS (
         |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
         |         2 AS for_ordering
         |  FROM hive_orders WHERE o_orderstatus = 'F'
         |  UNION ALL
         |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
         |         1 AS for_ordering
         |  FROM hive_orders WHERE o_orderstatus <> 'F')
         |SELECT o_custkey, o_orderkey, o_orderstatus, for_ordering FROM (
         |  SELECT *, row_number() OVER (PARTITION BY o_custkey
         |    ORDER BY for_ordering DESC, o_orderdate DESC, o_orderkey DESC) AS rn
         |  FROM b) t
         |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q_composite_key_metrics" ->
      s"""${Fixtures.Sql.lineitemPair},
         |d AS (
         |  SELECT coalesce(CAST(h.l_orderkey AS VARCHAR) || ':' || CAST(h.l_linenumber AS VARCHAR),
         |                  CAST(s.l_orderkey AS VARCHAR) || ':' || CAST(s.l_linenumber AS VARCHAR)) AS pk,
         |         h.l_orderkey IS NOT NULL AS in_left,
         |         s.l_orderkey IS NOT NULL AS in_right,
         |         (h.l_orderkey IS NOT NULL AND s.l_orderkey IS NOT NULL AND (
         |            h.l_quantity IS DISTINCT FROM s.l_quantity OR
         |            h.l_price_cents IS DISTINCT FROM s.l_price_cents OR
         |            h.l_returnflag IS DISTINCT FROM s.l_returnflag)) AS mism
         |  FROM hive_lineitem h FULL OUTER JOIN sf_lineitem s
         |    ON h.l_orderkey = s.l_orderkey AND h.l_linenumber = s.l_linenumber)
         |${metricsSelect("lineitem", "d", "hive_lineitem", "sf_lineitem")}""".stripMargin,

    // Audit columns are excluded by the schema catalog, so the oracle is
    // the PLAIN orders metrics row: if exclusion breaks, every matched row
    // becomes a discrepancy and the hash compare fails loudly.
    "q_excluded_col_metrics" ->
      s"""${Fixtures.Sql.ordersPair},
         |${diffCte("d_orders", "hive_orders", "sf_orders", "o_orderkey", ordersCompareCols)}
         |${metricsSelect("orders", "d_orders", "hive_orders", "sf_orders")}""".stripMargin,

    "q_partition_checksum" ->
      s"""${Fixtures.Sql.ordersPair},
         |$partSummarySql
         |SELECT p AS "partition", hive_count, sf_count,
         |       CAST(hive_checksum AS VARCHAR) AS hive_checksum,
         |       CAST(sf_checksum AS VARCHAR) AS sf_checksum, status
         |FROM psum ORDER BY p""".stripMargin,

    "q_targeted_diff" -> {
      val partCompare = Seq("o_custkey", "o_orderstatus",
        "o_totalprice_cents", "o_orderpriority", "o_part")
      def filteredSide(name: String, tbl: String) =
        s"""$name AS (
           |  SELECT *, strftime(o_orderdate, '%Y-%m-%d') AS o_part
           |  FROM $tbl
           |  WHERE strftime(o_orderdate, '%Y-%m-%d') IN
           |        (SELECT p FROM psum WHERE status <> 'ok'))""".stripMargin
      s"""${Fixtures.Sql.ordersPair},
         |$partSummarySql,
         |${filteredSide("hf", "hive_orders")},
         |${filteredSide("sf", "sf_orders")},
         |d AS (
         |  SELECT coalesce(h.o_orderkey, s.o_orderkey) AS pk,
         |         coalesce(h.o_part, s.o_part) AS "partition",
         |         CASE WHEN s.o_orderkey IS NULL THEN 'hive_only'
         |              WHEN h.o_orderkey IS NULL THEN 'sf_only'
         |              WHEN ${distinctAny(partCompare)} THEN 'mismatch'
         |         END AS status
         |  FROM hf h FULL OUTER JOIN sf s ON h.o_orderkey = s.o_orderkey)
         |SELECT pk, "partition", status FROM d
         |WHERE status IS NOT NULL ORDER BY pk""".stripMargin
    },

    "q_constraint_check" ->
      s"""${Fixtures.Sql.ordersPair},
         |cc AS (
         |  SELECT * FROM hive_orders
         |  UNION ALL SELECT * FROM hive_orders WHERE o_orderkey % 500 = 0
         |  UNION ALL SELECT NULL, o_custkey, o_orderstatus, o_totalprice_cents,
         |                   o_orderdate, o_orderpriority
         |            FROM hive_orders WHERE o_orderkey % 997 = 0
         |  UNION ALL SELECT o_orderkey + 300000000, o_custkey + 90000000,
         |                   o_orderstatus, o_totalprice_cents, o_orderdate,
         |                   o_orderpriority
         |            FROM hive_orders WHERE o_orderkey % 701 = 0)
         |SELECT "constraint", violations, violations = 0 AS pass FROM (
         |  SELECT 'pk_not_null' AS "constraint",
         |         (SELECT count(*) FILTER (WHERE o_orderkey IS NULL) FROM cc) AS violations
         |  UNION ALL
         |  SELECT 'pk_unique',
         |         (SELECT count(*) - count(DISTINCT o_orderkey) FROM cc
         |          WHERE o_orderkey IS NOT NULL)
         |  UNION ALL
         |  SELECT 'fk_orders_customer',
         |         (SELECT count(*) FROM cc
         |          WHERE o_custkey IS NOT NULL
         |            AND o_custkey NOT IN (SELECT c_custkey FROM customer
         |                                  WHERE c_custkey IS NOT NULL))) t
         |ORDER BY "constraint"""".stripMargin,

    "q_profile_compare" -> {
      val profCols =
        Seq("o_custkey", "o_orderstatus", "o_totalprice_cents", "o_orderpriority")
      def side(tbl: String) = (c: String) =>
        s"""(SELECT count(*) FILTER (WHERE $c IS NULL) AS nn,
           |  count(DISTINCT $c) AS nd,
           |  CAST(min($c) AS VARCHAR) AS mn, CAST(max($c) AS VARCHAR) AS mx
           |  FROM $tbl)""".stripMargin
      val rows = profCols.map { c =>
        s"""SELECT '$c' AS "column",
           |  h.nn AS hive_nulls, h.nd AS hive_distinct,
           |  h.mn AS hive_min, h.mx AS hive_max,
           |  s.nn AS sf_nulls, s.nd AS sf_distinct,
           |  s.mn AS sf_min, s.mx AS sf_max,
           |  h.nn <> s.nn AS null_drift,
           |  h.nd <> s.nd AS distinct_drift,
           |  ((h.mn IS DISTINCT FROM s.mn) OR (h.mx IS DISTINCT FROM s.mx)) AS range_drift
           |FROM ${side("hive_orders")(c)} h, ${side("sf_orders")(c)} s""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""${Fixtures.Sql.ordersPair}
         |$rows
         |ORDER BY "column"""".stripMargin
    },

    // Decile cuts from the reference (hive) side via quantile_cont —
    // integer cents keep every interpolated cut strictly between
    // adjacent distinct values, so the two engines' ulp-level
    // interpolation-form difference cannot flip a bucket (see
    // Monitoring.distributionDrift's scaladoc).
    "q_psi_drift" ->
      s"""${Fixtures.Sql.ordersPair},
         |lv AS (SELECT CAST(o_totalprice_cents AS DOUBLE) AS v
         |       FROM hive_orders WHERE o_totalprice_cents IS NOT NULL),
         |rv AS (SELECT CAST(o_totalprice_cents AS DOUBLE) AS v
         |       FROM sf_orders WHERE o_totalprice_cents IS NOT NULL),
         |cuts AS (SELECT quantile_cont(v,
         |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS c FROM lv),
         |lcnt AS (SELECT bucket, count(*) AS n_left FROM (
         |  SELECT 1 + len(list_filter(c, x -> v > x)) AS bucket
         |  FROM lv CROSS JOIN cuts) GROUP BY 1),
         |rcnt AS (SELECT bucket, count(*) AS n_right FROM (
         |  SELECT 1 + len(list_filter(c, x -> v > x)) AS bucket
         |  FROM rv CROSS JOIN cuts) GROUP BY 1),
         |grid AS (SELECT unnest(generate_series(1, 10)) AS bucket),
         |j AS (SELECT CAST(g.bucket AS INTEGER) AS bucket,
         |        CAST(coalesce(l.n_left, 0) AS BIGINT) AS n_left,
         |        CAST(coalesce(r.n_right, 0) AS BIGINT) AS n_right
         |      FROM grid g LEFT JOIN lcnt l ON g.bucket = l.bucket
         |                  LEFT JOIN rcnt r ON g.bucket = r.bucket),
         |t AS (SELECT j.*,
         |        CAST(sum(n_left) OVER () AS BIGINT) AS tl,
         |        CAST(sum(n_right) OVER () AS BIGINT) AS tr FROM j),
         |s AS (SELECT bucket, n_left, n_right,
         |        CAST(n_left AS DOUBLE) / CAST(tl AS DOUBLE) AS p_left,
         |        CAST(n_right AS DOUBLE) / CAST(tr AS DOUBLE) AS p_right,
         |        CAST(CASE WHEN (n_left = 0) <> (n_right = 0)
         |             THEN 1 ELSE 0 END AS INTEGER) AS one_sided,
         |        CASE WHEN n_left > 0 AND n_right > 0 THEN
         |          (CAST(n_left AS DOUBLE) / CAST(tl AS DOUBLE)
         |           - CAST(n_right AS DOUBLE) / CAST(tr AS DOUBLE))
         |          * round(ln((CAST(n_left AS DOUBLE) / CAST(tl AS DOUBLE))
         |                     / (CAST(n_right AS DOUBLE) / CAST(tr AS DOUBLE))), 6)
         |        ELSE NULL END AS psi_term
         |      FROM t)
         |SELECT bucket, n_left, n_right, p_left, p_right, one_sided, psi_term,
         |  sum(psi_term) OVER (ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_psi
         |FROM s ORDER BY bucket""".stripMargin,

    "q_sampled_diff" -> {
      // thresholdHex(0.25) = "40000000"; salt "graftdiff" — must mirror
      // sampledDiffEstimate's defaults exactly.
      def keep(name: String, tbl: String) =
        s"""$name AS (
           |  SELECT * FROM $tbl
           |  WHERE substring(md5('graftdiff' || ':' || CAST(o_orderkey AS VARCHAR)), 1, 8)
           |        < '40000000')""".stripMargin
      s"""${Fixtures.Sql.ordersPair},
         |${keep("hk", "hive_orders")},
         |${keep("sk", "sf_orders")},
         |d AS (
         |  SELECT h.o_orderkey IS NOT NULL AS in_left,
         |         s.o_orderkey IS NOT NULL AS in_right,
         |         (h.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL AND
         |          ${distinctAny(ordersCompareCols)}) AS mism
         |  FROM hk h FULL OUTER JOIN sk s ON h.o_orderkey = s.o_orderkey)
         |SELECT count(*) AS sampled_keys,
         |       count(*) FILTER (WHERE in_left AND NOT in_right) AS hive_only_sampled,
         |       count(*) FILTER (WHERE in_right AND NOT in_left) AS sf_only_sampled,
         |       count(*) FILTER (WHERE mism) AS mismatch_sampled,
         |       count(*) FILTER (WHERE in_left AND NOT in_right) / 0.25 AS hive_only_est,
         |       count(*) FILTER (WHERE in_right AND NOT in_left) / 0.25 AS sf_only_est,
         |       count(*) FILTER (WHERE mism) / 0.25 AS mismatch_est
         |FROM d""".stripMargin
    },

    "q_count_compare" ->
      s"""${Fixtures.Sql.ordersPair},
         |h AS (SELECT o_orderstatus, count(*) AS hive_n FROM hive_orders GROUP BY o_orderstatus),
         |f AS (SELECT o_orderstatus, count(*) AS sf_n FROM sf_orders GROUP BY o_orderstatus)
         |SELECT coalesce(h.o_orderstatus, f.o_orderstatus) AS o_orderstatus,
         |       coalesce(h.hive_n, 0) AS hive_n,
         |       coalesce(f.sf_n, 0) AS sf_n,
         |       coalesce(h.hive_n, 0) - coalesce(f.sf_n, 0) AS diff,
         |       coalesce(h.hive_n, 0) = coalesce(f.sf_n, 0) AS is_match
         |FROM h FULL OUTER JOIN f ON h.o_orderstatus = f.o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin
  )
}
