package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches
import graft.sources.{Sinks, Tables}

class SketchesAndSinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sketch profile: HLL within 5% of exact, quantiles ordered and in range") {
    val e = Tables.load(spark, TestSpark.Sf0001, "events")
    val prof = Sketches.profile(e, Seq($"event_type"), $"value", $"user_id")
      .collect()
    val exact = e.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("d")).as[(String, Long)].collect().toMap
    assert(prof.nonEmpty)
    prof.foreach { r =>
      val et = r.getAs[String]("event_type")
      val approx = r.getAs[Long]("approx_distinct").toDouble
      assert(math.abs(approx - exact(et)) / exact(et) <= 0.05,
        s"$et HLL off: $approx vs ${exact(et)}")
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p95"))
      assert(r.getAs[Double]("p50") >= r.getAs[Double]("min_v"))
      assert(r.getAs[Double]("p95") <= r.getAs[Double]("max_v"))
    }
    // both quantiles come from ONE deduplicated sketch (per-quantile
    // calls each built and merged their own QuantileSummaries buffer)
    val plan = Sketches.profile(e, Seq($"event_type"), $"value", $"user_id")
      .queryExecution.executedPlan.toString
    assert("percentile_approx".r.findAllIn(plan).length
      <= "approx_count_distinct".r.findAllIn(plan).length,
      s"expected a single deduplicated percentile sketch:\n${plan.take(2000)}")
  }

  test("partitioned sink prunes partitions on read") {
    val dir = TestSpark.tempDir("graft-sink").toString
    val e = Tables.load(spark, TestSpark.Sf0001, "events")
    Sinks.writePartitioned(e, dir, Seq("event_type"))
    val back = spark.read.parquet(dir).filter($"event_type" === "click")
    assert(back.count() == e.filter($"event_type" === "click").count())
    val plan = back.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedFilters: [IsNotNull(event_type)") ||
      plan.contains("PartitionFilters"))
  }

  test("sorted sink round-trips with identical data") {
    val dir = TestSpark.tempDir("graft-sort").toString
    val e = Tables.load(spark, TestSpark.Sf0001, "events")
    Sinks.writeSorted(e, dir, Seq("ts"), files = 2)
    assert(spark.read.parquet(dir).count() == e.count())
  }

  test("CSV and JSONL sources round-trip orders with an explicit schema") {
    val orders = Tables.load(spark, TestSpark.Sf0001, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    val csvDir = TestSpark.tempDir("graft-csv").toString
    val jsonDir = TestSpark.tempDir("graft-json").toString
    orders.write.mode("overwrite").option("header", "true").csv(csvDir)
    orders.write.mode("overwrite").json(jsonDir)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, String, Double)].collect().toSet
    val fromCsv = Tables.loadCsv(spark, csvDir, orders.schema)
    val fromJson = Tables.loadJsonl(spark, jsonDir, orders.schema)
    assert(fromCsv.schema == orders.schema) // explicit schema, no inference drift
    assert(key(fromCsv) == key(orders))
    assert(key(fromJson) == key(orders))
  }

  test("CSV report sink writes one bounded headered file") {
    val dir = TestSpark.tempDir("graft-report").toString
    val m = TableDiff.metrics(Fixtures.hiveOrders(spark, TestSpark.Sf0001),
      Fixtures.sfOrders(spark, TestSpark.Sf0001), "orders", "o_orderkey")
    Sinks.writeCsvReport(m, dir)
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == 1)
    assert(back.columns.toSet == m.columns.toSet)
  }

  test("preview returns n rows; previewCsv renders the reference's headered-CSV shape") {
    import graft.sources.Tables
    val p = Tables.preview(spark, TestSpark.Sf0001, "region", 3)
    assert(p.count() == 3)
    assert(p.columns.sameElements(Tables.load(spark, TestSpark.Sf0001, "region").columns))
    // the limit plans as a CollectLimit/LocalLimit over the scan — no
    // shuffle, no full-table pass
    val plan = p.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(500))
    val csv = Tables.previewCsv(spark, TestSpark.Sf0001, "region", 3)
    val lines = csv.split("\n")
    assert(lines.length == 4) // header + 3 rows
    assert(lines.head == p.columns.mkString(","))
    // quoting: cells with commas/quotes are escaped CSV-style
    assert(!lines.exists(_.isEmpty))
  }

  test("writeSorted with a file count gives files DISJOINT sort-key ranges") {
    import graft.sources.Sinks
    val dir = TestSpark.tempDir("graft-sorted").toString
    val df = spark.range(0, 10000).toDF("k")
      .withColumn("v", col("k") * 2)
    Sinks.writeSorted(df, dir, Seq("k"), files = 4)
    // per-file [min,max] of the sort key must not overlap — round-robin
    // repartition gave every file the full range, defeating min/max
    // pruning across files
    val spans = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .map { f =>
        val one = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col("k")), max(col("k"))).head()
        (one.getLong(0), one.getLong(1))
      }.sortBy(_._1)
    assert(spans.length > 1)
    spans.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, spans.mkString(","))
      case _ =>
    }
    intercept[IllegalArgumentException](Sinks.writeSorted(df, dir, Seq.empty))
  }

  test("loadJsonlQuarantine: good rows pass, malformed lines land in quarantine") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = TestSpark.tempDir("jsonlq")
    val data = dir.resolve("in.jsonl")
    java.nio.file.Files.writeString(data,
      """{"id": 1, "name": "a"}
        |{"id": 2, "name": "b"}
        |{not json at all
        |{"id": 3, "name": "c"}
        |{"id": "not-a-number and unclosed
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val qdir = dir.resolve("quarantine").toString
    val good = Tables.loadJsonlQuarantine(spark, data.toString, schema, qdir)
    assert(good.orderBy($"id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!good.columns.contains("_corrupt_record"))
    val quarantined = spark.read.text(qdir).collect().map(_.getString(0)).toSet
    assert(quarantined == Set("{not json at all",
      "{\"id\": \"not-a-number and unclosed"))
    intercept[IllegalArgumentException](Tables.loadJsonlQuarantine(spark,
      data.toString, schema.add("_corrupt_record", StringType), qdir))
    // An ingest LOOP shares one quarantine dir: a second file's bad rows
    // must APPEND — overwrite would destroy the first file's triage set.
    val data2 = dir.resolve("in2.jsonl")
    java.nio.file.Files.writeString(data2,
      "{\"id\": 9, \"name\": \"z\"}\n{second bad line\n")
    Tables.loadJsonlQuarantine(spark, data2.toString, schema, qdir).count()
    val afterLoop = spark.read.text(qdir).collect().map(_.getString(0)).toSet
    assert(afterLoop == quarantined + "{second bad line")
    spark.catalog.clearCache()
  }

  test("ORC round-trip: partitioned layout prunes, filters push to the ORC scan") {
    val dir = TestSpark.tempDir("orcsink").toString
    val df = Fixtures.hiveOrders(spark, TestSpark.Sf0001)
      .withColumn("o_status_part", col("o_orderstatus"))
    Sinks.writeOrc(df, dir, partitionCols = Seq("o_status_part"))
    val back = Tables.loadOrc(spark, dir)
    // Values survive the round-trip (modulo column order).
    assert(back.count() == df.count())
    val filtered = back.filter(col("o_status_part") === "F" &&
      col("o_totalprice_cents") > 10000000L)
    val expected = df.filter(col("o_status_part") === "F" &&
      col("o_totalprice_cents") > 10000000L).count()
    assert(filtered.count() == expected)
    val plan = filtered.queryExecution.executedPlan.toString
    // Directory pruning on the partition column...
    assert(plan.contains("PartitionFilters: ["), plan.take(2000))
    assert("PartitionFilters: \\[[^\\]]*o_status_part".r.findFirstIn(plan).nonEmpty,
      plan.take(2000))
    // ...and row-group predicate pushdown on the data column.
    assert("PushedFilters: \\[[^\\]]*o_totalprice_cents".r.findFirstIn(plan).nonEmpty,
      plan.take(2000))
  }

  test("previewCsv renders nested columns as JSON, not Row.toString") {
    import graft.sources.Tables
    val csv = Tables.previewCsv(spark, TestSpark.Sf0001, "embeddings", 3)
    assert(!csv.contains("WrappedArray"), csv.take(300))
    // the embedding array cell is a quoted JSON array (contains commas)
    val firstDataLine = csv.split("\n")(1)
    assert(firstDataLine.contains("\"["), firstDataLine.take(200))
  }
}
