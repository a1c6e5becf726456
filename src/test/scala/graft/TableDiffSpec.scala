package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class TableDiffSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def left = Seq(
    (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, null.asInstanceOf[String], 40L)
  ).toDF("id", "s", "v")

  private def right = Seq(
    (1L, "a", 10L),            // identical
    (2L, "B", 20L),            // s differs
    (4L, "d", 40L),            // null vs value
    (5L, "e", 50L)             // right-only
  ).toDF("id", "s", "v")

  test("diff flags presence and fingerprint mismatch, null-aware") {
    val d = TableDiff.diff(left, right, "id").orderBy("pk")
    val rows = d.select("pk", "in_left", "in_right", "hash_mismatch").collect()
    assert(rows.map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toSeq ==
      Seq((1L, true, true, false), (2L, true, true, true), (3L, true, false, false),
        (4L, true, true, true), (5L, false, true, false)))
  }

  test("excluded columns don't affect the fingerprint") {
    val d = TableDiff.diff(left, right, "id", exclude = Seq("s"))
      .filter($"hash_mismatch").select("pk").as[Long].collect()
    assert(d.isEmpty) // only v remains and v always matches
  }

  test("diff works on map-typed columns (xxhash64 refuses maps; string fallback)") {
    val l = Seq((1L, Map("a" -> 1), "x"), (2L, Map("b" -> 2), "y"))
      .toDF("id", "m", "s")
    val r = Seq((1L, Map("a" -> 1), "x"), (2L, Map("b" -> 99), "y"))
      .toDF("id", "m", "s")
    val d = TableDiff.diff(l, r, "id").orderBy("pk")
      .select("pk", "hash_mismatch").as[(Long, Boolean)].collect().toSeq
    assert(d == Seq((1L, false), (2L, true)))
  }

  test("metrics row counts and capped samples") {
    val m = TableDiff.metrics(left, right, "t", "id", sampleCap = 1).collect().head
    assert(m.getAs[Long]("total_record_count_hive") == 4)
    assert(m.getAs[Long]("total_record_count_sf") == 4)
    assert(m.getAs[Long]("hive_only_count") == 1)
    assert(m.getAs[Long]("sf_only_count") == 1)
    assert(m.getAs[Long]("data_discrepancy_count") == 2)
    assert(m.getAs[String]("data_discrepancy_pk_values") == "2") // capped at 1
    assert(m.getAs[String]("hive_only_pk_values") == "3")
  }

  test("mismatch matrix yields only differing cells with NULL sentinel") {
    val mm = TableDiff.mismatchMatrix(left, right, "id").orderBy("id", "column_name")
    val rows = mm.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      (2L, "s", "b", "B"),
      (4L, "s", "NULL", "d")))
  }

  test("fingerprint is injective: '|'-bearing and literal-'NULL' values don't alias") {
    val l = Seq((1L, "a|b", "c"), (2L, "NULL", "x")).toDF("id", "s", "t")
    val r = Seq((1L, "a", "b|c"), (2L, null.asInstanceOf[String], "x")).toDF("id", "s", "t")
    val d = TableDiff.diff(l, r, "id").orderBy("pk")
      .select("pk", "hash_mismatch").collect()
    assert(d.map(x => (x.getLong(0), x.getBoolean(1))).toSeq ==
      Seq((1L, true), (2L, true)))
  }

  test("metrics totals are per-table counts, immune to duplicate-PK fanout") {
    val l = Seq((1L, "a"), (1L, "a2"), (2L, "b")).toDF("id", "v") // dup pk=1
    val r = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val m = TableDiff.metrics(l, r, "t", "id").collect().head
    assert(m.getAs[Long]("total_record_count_hive") == 3)
    assert(m.getAs[Long]("total_record_count_sf") == 2)
  }

  test("catalog-driven exclusions: audit noise is ignored, pks come from metadata") {
    import graft.script.{ColumnMeta, SchemaCatalog}
    val cat = SchemaCatalog.inMemory("t" -> Seq(
      ColumnMeta("id", 1, primaryKey = true),
      ColumnMeta("s", 2, primaryKey = false),
      ColumnMeta("v", 1, primaryKey = false),
      ColumnMeta("Batch", 1, primaryKey = false),
      ColumnMeta("LastTouched", 2, primaryKey = false, primaryTimestamp = true)))
    assert(cat.excludedColumns("t") == Seq("Batch", "LastTouched"))
    import org.apache.spark.sql.functions.lit
    val l = left.withColumn("Batch", lit(1L)).withColumn("LastTouched", lit("x"))
    val r = right.withColumn("Batch", lit(2L)).withColumn("LastTouched", lit("y"))
    // Same discrepancy counts as the audit-free diff: only 's' differs.
    val m = TableDiff.metricsForTable(l, r, "t", cat).collect().head
    assert(m.getAs[Long]("data_discrepancy_count") == 2)
    val matrix = TableDiff.mismatchMatrixForTable(l, r, "t", cat).collect()
    assert(matrix.map(_.getAs[String]("column_name")).toSet == Set("s"))
    // Without the catalog exclusions the audit noise WOULD be discrepant.
    val noisy = TableDiff.metrics(l, r, "t", "id").collect().head
    assert(noisy.getAs[Long]("data_discrepancy_count") == 3) // every matched row
  }

  test("mismatchMatrix cap never plans a global ordered merge") {
    val plan = TableDiff.mismatchMatrix(left, right, "id", idCap = 100)
      .queryExecution.executedPlan.toString
    // The idCap is a per-hash-bucket limit: a TakeOrderedAndProject (from
    // orderBy+limit) would merge every partition's top-idCap rows through
    // one task at scale.
    assert(!plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // The capped subset is deterministic across runs (hash-bucketed
    // row_number over the unique pk, no partition-order dependence).
    val a = TableDiff.mismatchMatrix(left, right, "id", idCap = 1)
      .collect().map(_.toString).sorted.toSeq
    val b = TableDiff.mismatchMatrix(left, right, "id", idCap = 1)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
    // And small caps honor the contract: at most idCap distinct ids
    // (buckets adapt down, they don't inflate the cap to 1024).
    assert(TableDiff.mismatchMatrix(left, right, "id", idCap = 1)
      .select("id").distinct().count() <= 1)
  }

  test("mismatchProbe pushes the id filter into both parquet scans") {
    val plan = TableDiff.mismatchProbe(
        Fixtures.hiveOrders(spark, TestSpark.Sf0001),
        Fixtures.sfOrders(spark, TestSpark.Sf0001),
        "o_orderkey", Seq(89L, 178L, 267L))
      .queryExecution.executedPlan.toString
    // Probing 3 ids must read row groups, not the table: the In filter
    // reaches the parquet source on every scan.
    assert("In\\(o_orderkey".r.findAllIn(plan).length >= 2, plan.take(3000))
    val rows = TableDiff.mismatchProbe(
        Fixtures.hiveOrders(spark, TestSpark.Sf0001),
        Fixtures.sfOrders(spark, TestSpark.Sf0001),
        "o_orderkey", Seq(89L, 178L, 267L)).collect()
    // %89 rows carry the price bump: each probed id mismatches on price.
    assert(rows.map(_.getAs[Long]("id")).toSet == Set(89L, 178L, 267L))
    assert(rows.forall(_.getAs[String]("column_name") == "o_totalprice_cents"))
  }

  test("rollup groups by column with sorted distinct values") {
    val roll = TableDiff.mismatchRollup(TableDiff.mismatchMatrix(left, right, "id")).collect()
    assert(roll.length == 1)
    val r = roll.head
    assert(r.getAs[String]("column_name") == "s")
    assert(r.getAs[String]("hive") == "NULL,b")
    assert(r.getAs[String]("snowflake") == "B,d")
    assert(r.getAs[String]("ids") == "2,4")
    assert(r.getAs[Long]("n_cells") == 2)
  }

  test("metricsTable materializes the diff once; consumers read a LocalRelation") {
    import graft.queries.CoreQueries
    val t = CoreQueries.metricsTable(spark, TestSpark.Sf0001)
    // the materialized table re-scans nothing: no file scans, no joins
    val plan = t.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan.take(500))
    assert(!plan.contains("FileScan") && !plan.contains("Join"), plan.take(500))
    // identical rows to a fresh recomputation
    val fresh = CoreQueries.metricsUnion(spark, TestSpark.Sf0001)
      .collect().map(_.toString).sorted.toSeq
    assert(t.collect().map(_.toString).sorted.toSeq == fresh)
    // memoized per (session, dir): second call returns the same frame
    assert(CoreQueries.metricsTable(spark, TestSpark.Sf0001) eq t)
    // a new validation round invalidates the memo and re-materializes
    CoreQueries.invalidateMetricsTable(spark, TestSpark.Sf0001)
    val t2 = CoreQueries.metricsTable(spark, TestSpark.Sf0001)
    assert(!(t2 eq t))
    assert(t2.collect().map(_.toString).sorted.toSeq == fresh)
  }

  test("NULL-PK rows are excluded from presence flags, not miscounted one-sided") {
    val l = Seq((Some(1L), "a"), (None, "ghost")).toDF("id", "s")
    val r = Seq((Some(1L), "a")).toDF("id", "s")
    // a NULL key never matches in the join — unfiltered it would read as
    // a hive-only discrepancy it isn't (and diverge from the oracle's
    // `pk IS NOT NULL` presence flags)
    assert(TableDiff.diff(l, r, "id").count() == 1)
    val m = TableDiff.metrics(l, r, "t", "id").collect().head
    assert(m.getAs[Long]("total_record_count_hive") == 2L) // totals: every row
    assert(m.getAs[Long]("hive_only_count") == 0L)
    assert(m.getAs[String]("hive_only_pk_values") == "")
  }

  test("empty compare-column set yields an empty matrix, not a stack() parse error") {
    val l = Seq((1L, "x")).toDF("id", "aud")
    val r = Seq((1L, "y")).toDF("id", "aud")
    val m = TableDiff.mismatchMatrix(l, r, "id", exclude = Seq("aud"))
    assert(m.columns.toSeq == Seq("id", "column_name", "hive", "snowflake"))
    assert(m.collect().isEmpty)
  }

  test("quote-bearing column names survive the stack() splice") {
    val l = Seq((1L, "a")).toDF("id", "o'q")
    val r = Seq((1L, "b")).toDF("id", "o'q")
    val m = TableDiff.mismatchMatrix(l, r, "id").collect()
    assert(m.length == 1 && m.head.getString(1) == "o'q")
    assert(m.head.getString(2) == "a" && m.head.getString(3) == "b")
  }

  test("matrix cap is ceil-quantized: colliding keys survive idCap just above the bucket count") {
    import org.apache.spark.sql.functions._
    // find two keys sharing a 1024-bucket (the cap's hash space)
    val buckets = spark.range(1, 400)
      .select($"id", pmod(xxhash64($"id".cast("string")), lit(1024L)).as("b"))
      .as[(Long, Long)].collect()
    val (k1, k2) = {
      val byB = buckets.groupBy(_._2).values.find(_.length >= 2).get
      (byB(0)._1, byB(1)._1)
    }
    val l = Seq((k1, "a"), (k2, "a")).toDF("id", "s")
    val r = Seq((k1, "b"), (k2, "b")).toDF("id", "s")
    // idCap=1025 over 1024 buckets: floor quantization gave 1 row/bucket
    // and silently dropped one of the colliding keys while under the cap
    val ids = TableDiff.mismatchMatrix(l, r, "id", idCap = 1025)
      .select($"id").as[Long].collect().toSet
    assert(ids == Set(k1, k2))
  }

  test("mismatchProbe is the capped matrix filtered to its ids, planned without a Window") {
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val ids = Seq(2L, 4L, 5L)
    val probe = TableDiff.mismatchProbe(left, right, "id", ids)
    val want = sorted(TableDiff.mismatchMatrix(left, right, "id").filter($"id".isin(ids: _*)))
    assert(want.nonEmpty && sorted(probe) == want)
    val (h, f) = (Fixtures.hiveOrders(spark, TestSpark.Sf0001),
      Fixtures.sfOrders(spark, TestSpark.Sf0001))
    val oIds = Seq(89L, 131L, 178L, 262L, 267L)
    val oProbe = TableDiff.mismatchProbe(h, f, "o_orderkey", oIds)
    assert(sorted(oProbe) == sorted(TableDiff.mismatchMatrix(h, f, "o_orderkey")
      .filter($"id".isin(oIds: _*))))
    // The cap is a per-bucket row_number window; the probe needs none.
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    assert(plan(TableDiff.mismatchMatrix(left, right, "id")).contains("Window"))
    Seq(probe, oProbe).foreach(p => assert(!plan(p).contains("Window"), plan(p)))
  }
}

