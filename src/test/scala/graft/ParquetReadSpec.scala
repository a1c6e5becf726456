package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** [[Tables.parquet]] reads the schema Spark's own inference would give,
  * from the same footer, on the driver: same schema (nullability, field
  * order, partition columns), same rows, no Spark job, Spark's errors. */
class ParquetReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def assertSameRead(path: String): Unit = {
    val inferred = spark.read.parquet(path)
    val read = Tables.parquet(spark, path)
    assert(read.schema == inferred.schema, path)
    assert(read.schema.map(_.nullable) == inferred.schema.map(_.nullable), path)
    assert(read.collect().map(_.toString).sorted.toSeq ==
      inferred.collect().map(_.toString).sorted.toSeq, path)
  }

  test("schema equals spark.read.parquet's for every warehouse table") {
    Tables.All.foreach(n => assertSameRead(s"${TestSpark.Sf0001}/$n.parquet"))
  }

  test("an events table with TIMESTAMP(NANOS) reads as nanos-as-long, and load converts it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val dir = tmp("graft-read-nanos")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { required int64 event_id; " +
        "optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet")).withType(schema).build()
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000999L).foreach {
      case (id, ts) =>
        w.write(new SimpleGroupFactory(schema).newGroup().append("event_id", id)
          .append("ts", ts))
    } finally w.close()
    assertSameRead(s"$dir/events.parquet")
    assert(Tables.parquet(spark, s"$dir/events.parquet").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(loaded.select(unix_micros(col("ts"))).as[Long].collect().toSeq ==
      Seq(1700000000123456L, 1700000001000000L))
  }

  test("a partitioned MetricsStore history reads with its partition column, as Spark infers it") {
    val path = tmp("graft-read-ms") + "/history"
    val m = Seq(("t1", 1L, 2L), ("t2", 0L, 0L)).toDF("table_name", "hive_only_count", "sf_only_count")
    MetricsStore.appendMetrics(m, path, 1L)
    MetricsStore.appendMetrics(m.withColumn("sf_only_count", lit(5L)), path, 2L)
    assertSameRead(path)
    assert(MetricsStore.read(spark, path).schema == spark.read.parquet(path).schema)
    assert(MetricsStore.read(spark, path).columns.last == "round_id")
    assert(MetricsStore.rounds(spark, path) == Seq(1L, 2L))
  }

  test("_SUCCESS, hidden files and files of another schema: the same footer Spark picks") {
    val path = tmp("graft-read-dir") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(2).write.parquet(path)
    // a file of another schema: which schema wins depends on path order,
    // and both reads must pick the same file
    Seq((3.0, true)).toDF("x", "flag").write.mode("append").parquet(path)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path, ".hidden"), "junk")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path, "_ignored"), "junk")
    assert(new java.io.File(path, "_SUCCESS").exists())
    assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema)
    assert(Tables.parquet(spark, path).columns.toSeq == spark.read.parquet(path).columns.toSeq)
    // a data column named like a partition column: Spark types it from
    // the directory names
    val part = tmp("graft-read-part") + "/t"
    Seq((1L, "7")).toDF("id", "k").write.parquet(s"$part/k=7")
    assert(Tables.parquet(spark, part).schema == spark.read.parquet(part).schema)
  }

  test("a load starts no Spark job") {
    val ms = tmp("graft-read-jobs") + "/history"
    MetricsStore.appendMetrics(Seq(("t1", 1L)).toDF("table_name", "n"), ms, 1L)
    val jobs = JobLog.startedBy(spark) {
      Tables.All.foreach(Tables.load(spark, TestSpark.Sf0001, _))
      MetricsStore.read(spark, ms)
      MetricsStore.readRound(spark, ms, 1L)
    }
    assert(jobs.isEmpty, s"jobs started by loads: $jobs")
  }

  test("an empty or missing path raises Spark's own error") {
    def message(read: => DataFrame): String =
      intercept[AnalysisException](read).getMessage
    val empty = tmp("graft-read-empty")
    assert(message(Tables.parquet(spark, empty)) == message(spark.read.parquet(empty)))
    val missing = empty + "/nope"
    assert(message(Tables.parquet(spark, missing)) == message(spark.read.parquet(missing)))
  }

  test("a file replaced between two loads is read fresh") {
    val path = tmp("graft-read-replace") + "/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq == Seq("id", "s"))
    Seq((2.5, true, 7)).toDF("x", "flag", "k").write.mode("overwrite").parquet(path)
    val again = Tables.parquet(spark, path)
    assert(again.schema == spark.read.parquet(path).schema)
    assert(again.columns.toSeq == Seq("x", "flag", "k"))
    assert(again.collect().map(_.toString).toSeq == Seq("[2.5,true,7]"))
  }
}
