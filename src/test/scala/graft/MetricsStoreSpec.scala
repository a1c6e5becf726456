package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MetricsStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpStore(): String = {
    val d = TestSpark.tempDir("graft_store_spec").toFile
    d.delete()
    d.getPath
  }

  test("metrics history: rounds append, prune, survive a session restart, " +
      "and feed the drift report") {
    val store = tmpStore()
    val r1 = TableDiff.metrics(Fixtures.hiveOrders(spark, TestSpark.Sf0001),
      Fixtures.sfOrders(spark, TestSpark.Sf0001), "orders", "o_orderkey")
    MetricsStore.appendMetrics(r1, store, roundId = 1L)
    val fixed = Fixtures.hiveOrders(spark, TestSpark.Sf0001)
    MetricsStore.appendMetrics(
      TableDiff.metrics(fixed, fixed, "orders", "o_orderkey"), store, 2L)
    assert(MetricsStore.rounds(spark, store) == Seq(1L, 2L))
    assert(MetricsStore.latestRound(spark, store).contains(2L))
    // History is append-only: re-recording round 2 is refused.
    intercept[IllegalArgumentException](
      MetricsStore.appendMetrics(r1, store, 2L))
    // A RESTARTED session (fresh session state — no temp views, no
    // cache, nothing in-memory from the writer) reads the prior rounds
    // straight off the store: the durability claim the in-session memo
    // can't make.
    val s2 = spark.newSession()
    val round1 = MetricsStore.readRound(s2, store, 1L)
    assert(round1.count() == 1L)
    val row = round1.head()
    assert(row.getAs[String]("table_name") == "orders")
    assert(row.getAs[Long]("data_discrepancy_count") > 0L)
    // row_created is stamped (reference ROW_CREATED parity).
    assert(round1.schema.fieldNames.contains("row_created"))
    // Drift report: orders' discrepancies went to zero → improved.
    val drift = MetricsStore.metricsDrift(s2, store, 1L, 2L).collect()
    assert(drift.length == 1)
    assert(drift.head.getAs[String]("trend") == "improved")
    assert(drift.head.getAs[Long]("delta_discrepancies") < 0L)
    assert(drift.head.getAs[Long]("curr_hive_only_count") == 0L)
  }

  test("metricsDrift trends: appeared / disappeared / regressed / flat") {
    val store = tmpStore()
    def mrow(t: String, h: Long, s: Long, ho: Long, so: Long, d: Long) =
      (t, h, s, ho, so, d, "", "", "")
    val cols = Seq("table_name", "total_record_count_hive",
      "total_record_count_sf", "hive_only_count", "sf_only_count",
      "data_discrepancy_count", "hive_only_pk_values", "sf_only_pk_values",
      "data_discrepancy_pk_values")
    val prev = Seq(
      mrow("gone", 10L, 10L, 1L, 0L, 0L),
      mrow("worse", 10L, 10L, 0L, 0L, 1L),
      mrow("same", 10L, 10L, 0L, 0L, 2L),
      // Validated while genuinely EMPTY (0 rows both sides): presence
      // in the round, not record counts, decides appeared/disappeared.
      mrow("empty_then_full", 0L, 0L, 0L, 0L, 0L)).toDF(cols: _*)
    val curr = Seq(
      mrow("worse", 10L, 10L, 2L, 1L, 1L),
      mrow("same", 10L, 10L, 1L, 1L, 0L),
      mrow("fresh", 5L, 5L, 0L, 0L, 0L),
      mrow("empty_then_full", 8L, 8L, 0L, 0L, 0L),
      mrow("now_empty", 0L, 0L, 0L, 0L, 0L)).toDF(cols: _*)
    MetricsStore.appendMetrics(prev, store, 1L)
    MetricsStore.appendMetrics(curr, store, 2L)
    val trends = MetricsStore.metricsDrift(spark, store, 1L, 2L)
      .select("table_name", "trend").as[(String, String)].collect().toMap
    assert(trends == Map("gone" -> "disappeared", "worse" -> "regressed",
      "same" -> "flat", "fresh" -> "appeared",
      // both validated in both rounds regardless of emptiness
      "empty_then_full" -> "flat", "now_empty" -> "appeared"))
  }

  test("checksum history: per-partition round-over-round drift without " +
      "touching the warehouse") {
    val store = tmpStore()
    val base = Fixtures.hiveOrders(spark, TestSpark.Sf0001)
      .withColumn("part", date_format(col("o_orderdate"), "yyyy-MM"))
    val r1 = TableDiff.sideChecksums(base, "part", Seq("o_orderkey"),
      exclude = Seq("o_orderdate"))
    MetricsStore.appendChecksums(r1, store, 1L, table = "orders")
    // Round 2: one partition's data mutates, the rest stay put.
    val parts = r1.select("partition").as[String].collect().sorted
    val mutated = base.withColumn("o_orderpriority",
      when(col("part") === parts.head && col("o_orderkey") % 7 === 0,
        lit("9-MUTATED")).otherwise(col("o_orderpriority")))
    MetricsStore.appendChecksums(
      TableDiff.sideChecksums(mutated, "part", Seq("o_orderkey"),
        exclude = Seq("o_orderdate")), store, 2L, table = "orders")
    val drift = MetricsStore.checksumDrift(spark, store, "orders", 1L, 2L)
      .select("partition", "status").as[(String, String)].collect().toMap
    assert(drift(parts.head) == "changed")
    assert(parts.tail.forall(p => drift(p) == "unchanged"))
    // Counts equal + checksums equal everywhere else, so the drifted
    // set is exactly the mutated partition — the targetedDiff feed.
    assert(drift.values.count(_ == "changed") == 1)
  }
}
