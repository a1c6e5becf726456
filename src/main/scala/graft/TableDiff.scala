package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HiveFunctions.rowFingerprint

/** The discrepancy engine: Spark-native rebuild of the reference's
  * Snowflake-vs-Hive validation surface —
  *  - PK presence diff (reference: tools/compare_tool.py:34-42),
  *  - per-table `dw_data_metrics` rows (tools/snowflake_tool.py:23-39),
  *  - column-level mismatch matrix + roll-up (tools/data_matrix_tool.py,
  *    the COMPARE_MISMATCH_IGNORE_EXCLUDED_COL procedure at
  *    tools/snowflake_tool.py:41-52).
  *
  * Scale design: the whole diff is ONE full-outer shuffle join on the PK.
  * Row fingerprints (128-bit two-lane xxhash64, rowFingerprint — codegen'd
  * on raw column bytes, no string casts) are computed map-side before the
  * shuffle, so "is this row discrepant" is one 16-byte struct compare per
  * matched key — never a per-column compare across 100 TB.
  * The per-column matrix is only unpivoted for rows already known to
  * mismatch (a tiny subset), and PK sample arrays are capped at
  * `sampleCap`, so metrics rows stay O(1) regardless of input size
  * (the reference collects unbounded PK arrays; that pattern dies at scale).
  */
object TableDiff {

  /** Columns that participate in comparison: everything but the PK and the
    * excluded (audit) columns, in left-schema order. */
  def compareCols(df: DataFrame, pks: Seq[String], exclude: Seq[String]): Seq[String] = {
    val drop = (exclude ++ pks).map(_.toLowerCase).toSet
    df.columns.filterNot(c => drop.contains(c.toLowerCase)).toSeq
  }

  def compareCols(df: DataFrame, pk: String, exclude: Seq[String]): Seq[String] =
    compareCols(df, Seq(pk), exclude)

  /** Single sortable key representation: the raw column for simple PKs,
    * a ':'-joined string for composite PKs. (Safe only because [[diff]]
    * excludes NULL-PK rows first — concat_ws silently drops NULL
    * components, which would alias distinct partial keys.) */
  private def pkExpr(pks: Seq[String]): Column =
    if (pks.size == 1) col(pks.head)
    else concat_ws(":", pks.map(c => col(c).cast("string")): _*)

  /** Per-side prepared frame: (pk cols, fingerprint, compare columns).
    * Schema-aware fingerprint: map-bearing columns hash via their string
    * rendering (xxhash64 refuses MapType), everything else raw. */
  private def withHash(df: DataFrame, pks: Seq[String], cols: Seq[String], side: String): DataFrame =
    df.select(
      (pks.map(col) :+
        rowFingerprint(df, cols).as(s"${side}_hash")) ++:
        cols.map(c => col(c).as(s"${side}_$c")): _*)

  /** One full-outer join on the PK (single or composite) with presence +
    * fingerprint-mismatch flags. Output: `pk` (sortable key), the PK
    * columns, in_left, in_right, hash_mismatch, left_/right_ columns.
    *
    * Rows with ANY NULL key component are excluded on both sides: a NULL
    * key never matches in the join, so such a row would read as a
    * one-sided discrepancy it isn't (the warehouse PK contract is
    * non-null; the oracle's `pk IS NOT NULL` presence flags count these
    * rows nowhere, and this filter is the plan-level equivalent — it also
    * pushes to the scans). Table TOTALS in [[metricsMulti]] still count
    * every row. */
  def diff(left: DataFrame, right: DataFrame, pks: Seq[String],
           exclude: Seq[String]): DataFrame = {
    val cols = compareCols(left, pks, exclude)
    val pkNotNull = pks.map(col(_).isNotNull).reduce(_ && _)
    val l = withHash(left.filter(pkNotNull), pks, cols, "left")
    val r = withHash(right.filter(pkNotNull), pks, cols, "right")
    l.join(r, pks, "full_outer")
      .withColumn("pk", pkExpr(pks))
      .withColumn("in_left", col("left_hash").isNotNull)
      .withColumn("in_right", col("right_hash").isNotNull)
      .withColumn("hash_mismatch",
        col("in_left") && col("in_right") && col("left_hash") =!= col("right_hash"))
  }

  def diff(left: DataFrame, right: DataFrame, pk: String,
           exclude: Seq[String] = Nil): DataFrame =
    diff(left, right, Seq(pk), exclude)

  /** One `dw_data_metrics`-style row (reference: snowflake_tool.py:23-39):
    * total counts per side + sorted, capped samples of hive-only / sf-only /
    * data-discrepancy PK values (rendered as comma-joined strings so the row
    * is bounded and engine-portable). */
  def metrics(left: DataFrame, right: DataFrame, tableName: String, pk: String,
              exclude: Seq[String] = Nil, sampleCap: Int = 100): DataFrame =
    metricsMulti(left, right, tableName, Seq(pk), exclude, sampleCap)

  /** Composite-PK form of [[metrics]]. Total per-side counts come from
    * independent COUNT(*) scans like the reference's dw_data_metrics (a
    * duplicate PK on one side would otherwise fan the full-outer join out
    * and inflate the OTHER side's total). */
  def metricsMulti(left: DataFrame, right: DataFrame, tableName: String,
                   pks: Seq[String], exclude: Seq[String] = Nil,
                   sampleCap: Int = 100): DataFrame = {
    val d = diff(left, right, pks, exclude)
    // Sorted first-K sample via the bounded aggregate: the agg buffer
    // holds ≤ sampleCap keys even when millions of rows match the flag
    // (an unbounded collect_list sliced afterwards still materializes the
    // full list in one task first). Ordering follows the pk's native type
    // order, matching the oracle.
    val pkType = d.schema("pk").dataType
    def sample(flag: Column): Column =
      coalesce(
        concat_ws(",", graft.functions.BoundedMinK.minKAsStrings(
          when(flag, col("pk")), pkType, sampleCap)),
        lit(""))
    val totals = left.agg(count(lit(1)).as("total_record_count_hive"))
      .crossJoin(right.agg(count(lit(1)).as("total_record_count_sf")))
    val flags = d.agg(
      count(when(col("in_left") && !col("in_right"), 1)).as("hive_only_count"),
      count(when(col("in_right") && !col("in_left"), 1)).as("sf_only_count"),
      count(when(col("hash_mismatch"), 1)).as("data_discrepancy_count"),
      sample(col("in_left") && !col("in_right")).as("hive_only_pk_values"),
      sample(col("in_right") && !col("in_left")).as("sf_only_pk_values"),
      sample(col("hash_mismatch")).as("data_discrepancy_pk_values"))
    totals.crossJoin(flags).select(lit(tableName).as("table_name"), col("*"))
  }

  /** Column-level mismatch matrix for fingerprint-mismatched keys
    * (reference: data_matrix_tool.py:52-64): one row per (id, column) whose
    * values differ, as (id, column_name, hive, snowflake) strings.
    *
    * Unpivots via `stack` AFTER filtering to mismatched rows, so the
    * row-explosion factor (#columns) only applies to actual discrepancies.
    * `idCap` mirrors the reference's `list_ids[:3]` probe cap
    * (data_matrix_tool.py:43) — bounded work no matter how bad the drift.
    * The cap is SEMANTICS (bounded output), not an ordering: it is applied
    * as a deterministic per-hash-bucket row_number limit, which stays fully
    * parallel (a global orderBy+limit compiles to TakeOrderedAndProject and
    * merges every partition's top-idCap rows through ONE task — a serial
    * bottleneck when drift is large). The hash-bucketed cap is
    * APPROXIMATE: a row drops only when its hash bucket alone exceeds the
    * ceil(idCap/buckets) per-bucket share, so well under the cap nothing
    * drops (uniform-hash bucket loads concentrate near total/buckets),
    * and total output is bounded by idCap rounded up to bucket
    * granularity. An exact global cap would reintroduce the single-task
    * merge this design exists to avoid.
    */
  def mismatchMatrix(left: DataFrame, right: DataFrame, pk: String,
                     exclude: Seq[String] = Nil, idCap: Int = 1000000): DataFrame =
    mismatchMatrixMulti(left, right, Seq(pk), exclude, idCap)

  /** Max buckets for the deterministic cap. Actual buckets =
    * min(CapBuckets, idCap), per-bucket limit = ceil(idCap/buckets) —
    * ceil, not floor: floor quantization capped BELOW idCap (e.g.
    * idCap=1500 over 1024 buckets gave 1 row/bucket = 1024 total) and
    * dropped real rows while under the advertised cap. With ceil the
    * bound is idCap rounded up to bucket granularity (≤ idCap+buckets-1),
    * and the cap work runs min(idCap, 1024)-way parallel (probe-style
    * tiny caps serialize by construction — their output is tiny; large
    * caps never funnel through one task). */
  private val CapBuckets = 1024

  /** Composite-PK form of [[mismatchMatrix]]; `id` is the ':'-joined key. */
  def mismatchMatrixMulti(left: DataFrame, right: DataFrame, pks: Seq[String],
                          exclude: Seq[String] = Nil, idCap: Int = 1000000): DataFrame = {
    require(idCap > 0, "idCap must be positive")
    matrix(left, right, pks, exclude, Some(idCap))
  }

  /** The matrix, capped per hash bucket when `idCap` is set. */
  private def matrix(left: DataFrame, right: DataFrame, pks: Seq[String],
                     exclude: Seq[String], idCap: Option[Int]): DataFrame = {
    val cols = compareCols(left, pks, exclude)
    val d = diff(left, right, pks, exclude).filter(col("hash_mismatch"))
    // All non-PK columns excluded (e.g. a pure-key link table): no cells
    // by construction — return the empty matrix instead of generating an
    // unparseable `stack(0, )`.
    if (cols.isEmpty)
      return d.select(col("pk").as("id"), lit("").as("column_name"),
        lit("").as("hive"), lit("").as("snowflake")).limit(0)
    val capped = idCap.fold(d) { cap =>
      val buckets = math.max(1, math.min(CapBuckets, cap))
      // Long math: ceil over Int overflows for idCap near Int.MaxValue.
      val perBucket = ((cap.toLong + buckets - 1) / buckets).toInt
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__bkt")).orderBy(col("pk"))
      d.withColumn("__bkt", pmod(xxhash64(col("pk").cast("string")), lit(buckets.toLong)))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= perBucket)
        .drop("__bkt", "__rn")
    }
    // Names are spliced into stack() SQL: escape quote chars so an exotic
    // (or hostile) source column name can't break or alter the expression.
    val stackArgs = cols.map { c =>
      val lbl = c.replace("'", "''")
      val id = c.replace("`", "``")
      s"'$lbl', CAST(`left_$id` AS STRING), CAST(`right_$id` AS STRING)"
    }.mkString(", ")
    capped
      .select(col("pk").as("id"),
        expr(s"stack(${cols.size}, $stackArgs) AS (column_name, hive, snowflake)"))
      .filter(not(col("hive") <=> col("snowflake")))
      .select(col("id"), col("column_name"),
        coalesce(col("hive"), lit("NULL")).as("hive"),
        coalesce(col("snowflake"), lit("NULL")).as("snowflake"))
  }

  /** Per-ID mismatch probe — the reference's actual mismatch-proc call
    * shape (`getMismatchQuery(table, id_val)`, snowflake_tool.py:41-52,
    * invoked for ≤ 3 probe ids at data_matrix_tool.py:43). The id filter
    * is applied BEFORE the join, so it pushes down to both parquet scans:
    * probing a handful of keys reads a handful of row groups, not the
    * table — a full diff for a 3-id probe would be a 100 TB-scale mistake. */
  def mismatchProbe(left: DataFrame, right: DataFrame, pk: String,
                    ids: Seq[Any], exclude: Seq[String] = Nil): DataFrame = {
    require(ids.nonEmpty, "ids must be non-empty")
    // Seq[Any]: ids must match the pk's type (string pks take string ids)
    // — a numeric literal against a string pk would coerce the COLUMN and
    // defeat the scan pushdown this probe exists for.
    val keep = col(pk).isin(ids: _*)
    // The probe input is already bounded by the id filter, so it takes
    // the UNCAPPED matrix: no per-bucket row_number window (a shuffle
    // plus a sort per probe), and no approximate cap — with per-bucket
    // limits, two probe ids colliding into one bucket could drop one.
    matrix(left.filter(keep), right.filter(keep), Seq(pk), exclude, None)
  }

  /** Catalog-driven [[metricsMulti]]: primary keys AND audit-column
    * exclusions come from schema metadata — the reference's operating mode
    * (its mismatch proc ignores warehouse-configured excluded columns,
    * snowflake_tool.py:41-52) rather than caller-supplied lists. */
  def metricsForTable(left: DataFrame, right: DataFrame, tableName: String,
                      catalog: graft.script.SchemaCatalog,
                      sampleCap: Int = 100): DataFrame =
    metricsMulti(left, right, tableName, catalog.primaryKeys(tableName),
      catalog.excludedColumns(tableName), sampleCap)

  /** Catalog-driven [[mismatchMatrixMulti]] (see [[metricsForTable]]). */
  def mismatchMatrixForTable(left: DataFrame, right: DataFrame, tableName: String,
                             catalog: graft.script.SchemaCatalog,
                             idCap: Int = 1000000): DataFrame =
    mismatchMatrixMulti(left, right, catalog.primaryKeys(tableName),
      catalog.excludedColumns(tableName), idCap)

  // ---- Incremental / partition-scoped validation (the 100 TB path) ------
  //
  // A full-outer diff join is the right tool ONCE a table pair is known to
  // drift, but running it per validation round over every table is the
  // wrong first move at warehouse scale: the join shuffles BOTH full
  // tables on the PK every time, even when 99.9% of partitions are
  // byte-identical. The reference's operating loop (validate every table
  // pair each round, snowflake_tool.py:23-39) needs a cheap triage pass:
  //  1. [[partitionChecksum]] — per-partition row counts + order-
  //     independent checksums, a pure map-side partial aggregate per side
  //     (NO join of row data, shuffle payload = O(#partitions) rows).
  //  2. [[targetedDiff]] — the full row-level diff restricted to the
  //     partitions the checksum pass flagged; the partition predicate is
  //     an IN-list of literals, so on a partition-pruned layout the join
  //     reads ONLY the drifted partitions' files.
  // [[sampledDiffEstimate]] is the orthogonal triage: a consistent
  // BY-KEY sample of both sides diffed exactly — unbiased discrepancy-
  // rate estimates from a join whose shuffle is frac · |table|.

  /** Engine-portable per-row checksum term: the first 15 hex chars
    * (60 bits) of the injective md5 row rendering
    * ([[graft.functions.HiveFunctions.rowHashSafe]]) as a non-negative
    * BIGINT-ranged DECIMAL. 15 hex chars keep every term < 2^60, so
    * DECIMAL(38,0) group sums are exact for up to ~10^18 rows per
    * partition, and the same value is computable in any SQL engine that
    * has md5 + hex→int (DuckDB: `CAST('0x' || substring(md5(..),1,15) AS
    * BIGINT)`; Spark: `conv(..,16,10)`). */
  def checksumTerm(cols: Seq[Column]): Column =
    conv(substring(graft.functions.HiveFunctions.rowHashSafe(cols), 1, 15),
      16, 10).cast("decimal(38,0)")

  /** Production-lane checksum term: the low 60 bits of the two-lane
    * xxhash64 row fingerprint's first lane, folded with the second so
    * both lanes contribute. Whole-stage-codegen'd raw-byte hashing — no
    * md5, no string casts — ~5× cheaper per row than [[checksumTerm]] at
    * the same 60-bit sum-collision regime. NOT portable across engines:
    * use it when both sides are computed by THIS engine (the production
    * triage loop); use [[checksumTerm]] when an external SQL engine must
    * reproduce the sums (cross-engine verification). Same non-negative
    * [0, 2^60) range, so the two lanes are drop-in interchangeable. */
  def checksumTermFast(df: DataFrame, cols: Seq[String]): Column = {
    val fp = graft.functions.HiveFunctions.rowFingerprint(df, cols)
    (fp.getField("h1").bitwiseXOR(shiftright(fp.getField("h2"), 7))
      .bitwiseAND(lit((1L << 60) - 1))).cast("decimal(38,0)")
  }

  /** One side's per-partition summary: (partition, n, checksum). The
    * checksum is a SUM of per-row terms — commutative AND associative,
    * so the value is independent of row order, partitioning, and merge
    * order (Spark's partial aggregation combines freely), and summaries
    * of disjoint row sets ADD ([[mergeChecksums]]): the production loop
    * maintains this table incrementally per ingest batch instead of
    * re-scanning 100 TB per validation round. */
  def sideChecksums(df: DataFrame, partCol: String, pks: Seq[String],
                    exclude: Seq[String] = Nil,
                    portable: Boolean = true): DataFrame =
    sideChecksumsOver(df, partCol,
      pks ++ compareCols(df, pks :+ partCol, exclude), portable)

  /** [[sideChecksums]] with the hash-column ORDER fixed by the caller:
    * the per-row term hashes columns positionally, so the two sides of a
    * compare must use the SAME ordering even when their schemas list the
    * columns differently ([[partitionChecksum]] passes the left side's
    * order to both). */
  def sideChecksumsOver(df: DataFrame, partCol: String,
                        hashCols: Seq[String],
                        portable: Boolean = true): DataFrame = {
    val term =
      if (portable) checksumTerm(hashCols.map(col))
      else checksumTermFast(df, hashCols)
    df.groupBy(col(partCol).as("partition"))
      .agg(count(lit(1)).as("n"),
        sum(term).cast("decimal(38,0)").as("checksum"))
  }

  /** Fold a new batch's [[sideChecksums]] into a running summary: counts
    * and checksum sums add per partition (null-safe partition equality,
    * so a NULL-partition bucket accumulates too). Appends only — a
    * DELETE would subtract its rows' terms, which callers model by
    * merging a summary built with negated terms. Associative and
    * commutative, so any batch grouping/order yields the summary a full
    * recompute would (spec-proven). */
  def mergeChecksums(acc: DataFrame, delta: DataFrame): DataFrame =
    acc.alias("a").join(delta.alias("d"),
        col("a.partition") <=> col("d.partition"), "full_outer")
      .select(
        coalesce(col("a.partition"), col("d.partition")).as("partition"),
        (coalesce(col("a.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
        (coalesce(col("a.checksum"), lit(0).cast("decimal(38,0)")) +
          coalesce(col("d.checksum"), lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("checksum"))

  /** Join two side summaries into the per-partition status frame (the
    * second half of [[partitionChecksum]]; exposed so incrementally
    * maintained summaries get the same verdicts). */
  def checksumStatus(hiveSummary: DataFrame, sfSummary: DataFrame): DataFrame = {
    val l = hiveSummary.select(col("partition").as("hive_partition"),
      col("n").as("hive_count"), col("checksum").as("hive_checksum"))
    val r = sfSummary.select(col("partition").as("sf_partition"),
      col("n").as("sf_count"), col("checksum").as("sf_checksum"))
    l.join(r, l("hive_partition") <=> r("sf_partition"), "full_outer")
      .select(
        coalesce(col("hive_partition"), col("sf_partition")).as("partition"),
        coalesce(col("hive_count"), lit(0L)).as("hive_count"),
        coalesce(col("sf_count"), lit(0L)).as("sf_count"),
        coalesce(col("hive_checksum"), lit(0).cast("decimal(38,0)")).as("hive_checksum"),
        coalesce(col("sf_checksum"), lit(0).cast("decimal(38,0)")).as("sf_checksum"))
      .withColumn("status",
        // Both-empty summary rows arise legitimately under the
        // delete-via-negated-terms merge pattern (a partition fully
        // deleted on both sides nets to n=0) — that is agreement, not a
        // missing side.
        when(col("hive_count") === 0L && col("sf_count") === 0L, lit("ok"))
          .when(col("sf_count") === 0L, lit("sf_missing"))
          .when(col("hive_count") === 0L, lit("hive_missing"))
          .when(col("hive_count") =!= col("sf_count"), lit("count_drift"))
          .when(col("hive_checksum") =!= col("sf_checksum"), lit("data_drift"))
          .otherwise(lit("ok")))
  }

  /** Per-partition triage compare: partition, per-side counts/checksums
    * and a status in {ok, count_drift, data_drift, hive_missing,
    * sf_missing}. Each side is ONE map-side partial aggregate over its
    * scan (count + sum per partition value); only O(#partitions) summary
    * rows ever shuffle, and the summary join is two tiny frames. A
    * checksum hashes pks + compare columns per row, so any cell mutation
    * flips it (counts catch add/drop; an equal-count add+drop pair flips
    * the sum); a drifted partition escapes only on a 60-bit sum collision
    * (~2^-60 odds per partition on non-adversarial data).
    *
    * NULL partition values group under NULL on each side and pair up via
    * null-safe join equality — a warehouse whose partition column has
    * NULLs still triages those rows (as one "NULL partition" bucket)
    * instead of misreporting them one-sided. */
  def partitionChecksum(left: DataFrame, right: DataFrame, partCol: String,
                        pks: Seq[String], exclude: Seq[String] = Nil,
                        portable: Boolean = true): DataFrame = {
    require(!(exclude.map(_.toLowerCase).contains(partCol.toLowerCase)),
      s"partition column $partCol must not be excluded")
    // Drifted column SETS make the checksums structurally incomparable
    // (every partition "data_drift") — fail loudly and point at the real
    // gate. A mere ORDER difference between the schemas is fine: both
    // sides hash in the LEFT side's column order (the term is
    // positional).
    val hashCols = pks ++ compareCols(left, pks :+ partCol, exclude)
    val rc = compareCols(right, pks :+ partCol, exclude)
    require(hashCols.map(_.toLowerCase).toSet ==
        (pks.map(_.toLowerCase) ++ rc.map(_.toLowerCase)).toSet,
      s"compare-column drift between sides ($hashCols vs $rc): run schemaDrift first")
    checksumStatus(
      sideChecksumsOver(left, partCol, hashCols, portable),
      sideChecksumsOver(right, partCol, hashCols, portable))
  }

  /** Row-level diff restricted to the partitions [[partitionChecksum]]
    * flagged: (pk, partition, status) for every discrepant row, status in
    * {hive_only, sf_only, mismatch}. The suspect-partition list is
    * METADATA-scale (bounded by the table's partition count, not its
    * rows) — it is collected to the driver and applied as literal IN
    * predicates on both sides BEFORE the join, so a partition-pruned
    * layout reads only the drifted partitions' files and the diff join
    * shuffles only their rows. `maxSuspects` guards the collect: a table
    * where MOST partitions drifted should run the plain full [[diff]]
    * instead of a degenerate IN-list of thousands of literals. */
  def targetedDiff(left: DataFrame, right: DataFrame, partCol: String,
                   pks: Seq[String], exclude: Seq[String] = Nil,
                   maxSuspects: Int = 10000, portable: Boolean = true): DataFrame = {
    require(!(exclude.map(_.toLowerCase).contains(partCol.toLowerCase)),
      s"partition column $partCol must not be excluded (the output carries it)")
    val summary = partitionChecksum(left, right, partCol, pks, exclude, portable)
    val suspects = summary.filter(col("status") =!= "ok")
      .select(col("partition")).collect().map(_.get(0)).toSeq
    require(suspects.length <= maxSuspects,
      s"${suspects.length} suspect partitions exceed maxSuspects=$maxSuspects: " +
        "most of the table drifted; run the full diff instead of a targeted one")
    val filtered =
      if (suspects.isEmpty) diff(left, right, pks, exclude).limit(0)
      else {
        // A drifted NULL-partition bucket must stay reachable: isin()
        // never matches NULL (SQL three-valued logic), so the NULL
        // suspect becomes an explicit isNull disjunct.
        val nonNull = suspects.filter(_ != null)
        val keepNonNull =
          if (nonNull.isEmpty) lit(false) else col(partCol).isin(nonNull: _*)
        val keep =
          if (suspects.contains(null)) keepNonNull || col(partCol).isNull
          else keepNonNull
        diff(left.filter(keep), right.filter(keep), pks, exclude)
      }
    // partCol survives the diff either as a compare column (left_/right_
    // prefixed) or — when it is itself part of the pk (daily partition
    // inside a composite key) — as the pk's own output column.
    val partOut =
      if (pks.exists(_.equalsIgnoreCase(partCol))) col(partCol)
      else coalesce(col(s"left_$partCol"), col(s"right_$partCol"))
    filtered
      .filter(!col("in_left") || !col("in_right") || col("hash_mismatch"))
      .select(col("pk"),
        partOut.as("partition"),
        when(col("in_left") && !col("in_right"), lit("hive_only"))
          .when(col("in_right") && !col("in_left"), lit("sf_only"))
          .otherwise(lit("mismatch")).as("status"))
  }

  /** Schema drift between warehouse sides — the gate a migration
    * validator runs BEFORE any data diff (a dropped or re-typed column
    * fails here in milliseconds instead of surfacing as a million-row
    * "discrepancy" after a 100 TB join; the reference models this same
    * metadata in its schema catalog). Pure metadata: no job runs, the
    * result is a LocalRelation built from the two schemas.
    *
    * Column names compare case-insensitively (warehouse convention);
    * the reported spelling is the side that has the column (left wins
    * when both do). Types compare by Catalyst `simpleString` — so
    * decimal(10,2) vs decimal(12,2) IS drift, as it should be.
    * Output: (column, hive_type, sf_type, status) with status in
    * {ok, type_drift, hive_only, sf_only}, left-schema order first then
    * right-only columns in right-schema order. */
  def schemaDrift(left: DataFrame, right: DataFrame): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    schemaDriftRows(left.schema, right.schema)
      .toDF("column", "hive_type", "sf_type", "status")
  }

  /** [[schemaDrift]]'s rows (column, hive_type, sf_type, status), built
    * on the driver from the two schemas: deciding drift needs no job. */
  private[graft] def schemaDriftRows(left: org.apache.spark.sql.types.StructType,
      right: org.apache.spark.sql.types.StructType): Seq[(String, String, String, String)] = {
    val rTypes = right.fields
      .map(f => f.name.toLowerCase -> f.dataType.simpleString).toMap
    val lNames = left.fieldNames.map(_.toLowerCase).toSet
    val fromLeft = left.fields.map { f =>
      val rt = rTypes.get(f.name.toLowerCase)
      val lt = f.dataType.simpleString
      val status = rt match {
        case None => "hive_only"
        case Some(t) if t == lt => "ok"
        case Some(_) => "type_drift"
      }
      (f.name, lt, rt.orNull, status)
    }
    val fromRight = right.fields
      .filterNot(f => lNames.contains(f.name.toLowerCase))
      .map(f => (f.name, null: String, f.dataType.simpleString, "sf_only"))
    (fromLeft ++ fromRight).toSeq
  }

  /** Discrepancy-rate estimate from a consistent BY-KEY sample: both
    * sides keep exactly the pks whose salted md5 rank falls below `frac`
    * (graft.operators.Sampling's portable rank), so a key is in-sample on
    * BOTH sides or NEITHER — one-sided and mismatched keys survive
    * sampling with probability exactly `frac`, making the scaled counts
    * unbiased estimates of the full diff's counts. The diff join then
    * shuffles only frac · |table| rows. Use a power-of-two fraction
    * (default 1/4): the /frac scale-up is then an exact IEEE double op,
    * reproducible bit-for-bit in any engine.
    *
    * One summary row: sampled key/status counts + scaled estimates. */
  def sampledDiffEstimate(left: DataFrame, right: DataFrame, pks: Seq[String],
                          exclude: Seq[String] = Nil, frac: Double = 0.25,
                          salt: String = "graftdiff"): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac out of (0,1]: $frac")
    import graft.operators.Sampling
    def keep(df: DataFrame): DataFrame = {
      // NULL-keyed rows rank NULL and never pass — the same exclusion
      // [[diff]] itself applies.
      df.filter(Sampling.hashRankHex(pkExpr(pks), salt) <
        lit(Sampling.thresholdHex(frac)))
    }
    diff(keep(left), keep(right), pks, exclude).agg(
      count(lit(1)).as("sampled_keys"),
      count(when(col("in_left") && !col("in_right"), 1)).as("hive_only_sampled"),
      count(when(col("in_right") && !col("in_left"), 1)).as("sf_only_sampled"),
      count(when(col("hash_mismatch"), 1)).as("mismatch_sampled"),
      (count(when(col("in_left") && !col("in_right"), 1)) / lit(frac)).as("hive_only_est"),
      (count(when(col("in_right") && !col("in_left"), 1)) / lit(frac)).as("sf_only_est"),
      (count(when(col("hash_mismatch"), 1)) / lit(frac)).as("mismatch_est"))
  }

  /** Roll the matrix up by column (reference: data_matrix_tool.py:69-86):
    * sorted distinct hive/snowflake values + contributing ids, comma-joined.
    * The id and value lists are capped at `listCap` via the bounded
    * distinct-first-K aggregate (buffer ≤ listCap — a column discrepant on
    * millions of rows never materializes them all); `n_cells` stays
    * exact. */
  def mismatchRollup(matrix: DataFrame, listCap: Int = 1000): DataFrame = {
    import graft.functions.BoundedMinK.{minKAsStrings, minKStrings}
    // ids keep the id column's native type order (matching the oracle's
    // list_sort); hive/snowflake cells are strings by construction.
    val ids = minKAsStrings(col("id"), matrix.schema("id").dataType,
      listCap, distinct = true)
    matrix.groupBy(col("column_name")).agg(
      concat_ws(",", minKStrings(col("hive"), listCap, distinct = true)).as("hive"),
      concat_ws(",", minKStrings(col("snowflake"), listCap, distinct = true)).as("snowflake"),
      concat_ws(",", ids).as("ids"),
      count(lit(1)).as("n_cells"))
  }
}
