package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory each
  * entry maps to. */
object SparkEntry {

  /** Flagship: the discrepancy engine's dw_data_metrics row for the orders
    * fixture pair on sf=0.001 (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    TableDiff.metrics(Fixtures.hiveOrders(spark, dir),
      Fixtures.sfOrders(spark, dir), "orders", "o_orderkey")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ FunctionQueries.queries ++ TextQueries.queries ++
      SimilarityQueries.queries ++ EventQueries.queries ++
      MultimodalQueries.queries ++ AnalyticsQueries.queries

  /** Queries named in SPARK_GRAFT_SKIP (comma list), which the mains
    * leave out — large-sf runs skip the quadratic-by-contract exact
    * baselines. */
  def skipped: Set[String] =
    sys.env.get("SPARK_GRAFT_SKIP").map(_.split(",").toSet).getOrElse(Set.empty)

  /** The queries a main runs: every one, or only those named in
    * SPARK_GRAFT_ONLY (comma list) for targeted iteration, minus
    * [[skipped]]. */
  def selected: Map[String, (SparkSession, String) => DataFrame] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val skip = skipped
    queries.filter { case (n, _) => only.forall(_.contains(n)) && !skip(n) }
  }

  /** DuckDB-equivalent SQL per query key; keys absent here get the driver's
    * weaker rows-only check (non-SQL-expressible operators). */
  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ FunctionQueries.oracleSql ++ TextQueries.oracleSql ++
      SimilarityQueries.oracleSql ++ EventQueries.oracleSql ++
      MultimodalQueries.oracleSql ++ AnalyticsQueries.oracleSql
}
