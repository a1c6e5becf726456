package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Bucketed co-located join: both sides bucketed on the join key →
  * SortMergeJoin with NO Exchange on either side. The pre-shuffled layout
  * you'd use for 100 TB fact tables joined repeatedly on the same key.
  */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed tables join without a shuffle") {
    // Explicit per-table paths: the (static) warehouse dir is never used
    // for data; only the derby metastore lands in cwd (gitignored).
    val wh = TestSpark.tempDir("graft-wh").toString
    val o = Tables.load(spark, TestSpark.Sf0001, "orders")
      .select($"o_orderkey", $"o_custkey")
    val li = Tables.load(spark, TestSpark.Sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/b_orders").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/b_lineitem").saveAsTable("b_lineitem")

    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"),
        $"l_orderkey" === $"o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() == li.join(o, $"l_orderkey" === $"o_orderkey").count())
  }
}
