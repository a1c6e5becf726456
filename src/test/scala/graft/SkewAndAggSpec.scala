package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CollectMaxOne
import graft.operators.Skew
import graft.sources.Tables
import graft.streaming.EventStream

class SkewAndAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("typed CollectMaxOne matches the declarative collectMaxOne") {
    val data = Seq(("k", "old", 1L), ("k", "new", 5L), ("k", null.asInstanceOf[String], 9L),
      ("t", "x", 3L), ("t", "y", 3L))
    val typed = data.toDS()
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(CollectMaxOne.forString)
      .collect().toMap
    assert(typed == Map("k" -> "new", "t" -> "y"))
  }

  test("CollectMaxOne survives rank ties on null values (no NPE)") {
    // Two null-valued rows per key: both rank 0 (the null sentinel), so
    // buffers tie on rank with null values — the tiebreak must not NPE,
    // and a non-null value at the same rank must win over null.
    val data = Seq(
      // a: two null values, both sentinel rank 0 → null/null rank tie.
      ("a", null.asInstanceOf[String], 7L), ("a", null.asInstanceOf[String], 9L),
      // b: null (rank 0) ties with a genuine rank-0 non-null → mixed tie.
      ("b", null.asInstanceOf[String], 2L), ("b", "v", 0L),
      // c: non-null rank 1 simply outranks the null sentinel.
      ("c", null.asInstanceOf[String], 1L), ("c", "w", 1L))
    val typed = data.toDS()
      .repartition(4) // force cross-partition merges
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(CollectMaxOne.forString)
      .collect().toMap
    assert(typed("a") == null) // tie of nulls stays null, no NPE
    assert(typed("b") == "v")  // non-null beats null at equal rank
    assert(typed("c") == "w")  // rank 1 beats sentinel rank 0
  }

  test("typed CollectMaxOne breaks value ties in CODE-POINT order like the untyped twin") {
    // U+FFFF (one code unit 0xFFFF) vs U+10000 (surrogate pair, lead
    // 0xD800): UTF-16 code-unit order says U+FFFF is larger; Spark's
    // max(struct) compares UTF8String bytes — code-point order — and
    // picks U+10000. Both paths must pick the same winner.
    val hi = "𐀀" // U+10000
    val lo = "￿"       // U+FFFF
    val data = Seq(("k", lo, 5L), ("k", hi, 5L))
    val typed = data.toDS().groupByKey(_._1).mapValues(r => (r._2, r._3))
      .agg(CollectMaxOne.forString).collect().toMap
    val untyped = data.toDF("k", "v", "r").groupBy($"k")
      .agg(graft.functions.HiveFunctions.collectMaxOne($"v", $"r").as("v"))
      .as[(String, String)].collect().toMap
    assert(typed("k") == hi && untyped("k") == hi)
  }

  test("keySkewReport refuses key columns that collide with its outputs") {
    val df = Seq((1L, 2L)).toDF("n", "total")
    intercept[IllegalArgumentException](Skew.keySkewReport(df, Seq("n")))
    intercept[IllegalArgumentException](Skew.keySkewReport(df, Seq("total")))
  }

  test("saltedJoin equals the plain join") {
    val events = Tables.load(spark, TestSpark.Sf0001, "events")
      .select($"event_id", $"user_id", $"value")
    val dim = events.groupBy($"user_id").agg(count(lit(1)).as("n_events"))
    val plain = events.join(dim, Seq("user_id"))
      .select($"event_id", $"n_events").as[(Long, Long)].collect().toSet
    val salted = Skew.saltedJoin(events, dim, "user_id", salts = 7,
        saltSrc = $"event_id")
      .select($"event_id", $"n_events").as[(Long, Long)].collect().toSet
    assert(salted == plain)
  }

  test("streaming content dedup drops same-text docs within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val t0 = 3000000000000L
    val q = EventStream.dedupStreamByContent(
        src.toDS().toDF("doc_id", "ts", "text"), "ts", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("cdedup_out").start()
    try {
      src.addData(
        (1L, ts(t0), "Same  Text"), // canonical form equals doc 2's
        (2L, ts(t0 + 1000), "same text"),
        (3L, ts(t0 + 2000), "different text"),
        // Null texts (parse failures) must BYPASS dedup — distinct rows,
        // not duplicates of each other.
        (4L, ts(t0 + 3000), null.asInstanceOf[String]),
        (5L, ts(t0 + 4000), null.asInstanceOf[String]))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("cdedup_out").select($"doc_id").as[Long].collect().toSet
    assert(ids.size == 4)                  // one of {1,2} plus 3, 4, 5
    assert(Set(3L, 4L, 5L).subsetOf(ids))
    assert((ids -- Set(3L, 4L, 5L)).subsetOf(Set(1L, 2L)))
  }

  test("streaming ingestGate drops historical and in-stream duplicate content") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.TextAnalysis
    val seen = Seq("already ingested doc").toDF("text")
      .select(TextAnalysis.docFingerprint($"text").as("fp"))
    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val t0 = 3000000000000L
    val q = EventStream.ingestGate(
        src.toDS().toDF("doc_id", "ts", "text"), seen, "ts", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("gate_out").start()
    try {
      src.addData(
        (1L, ts(t0), "Already  Ingested doc"),     // canonical fp in history
        (2L, ts(t0 + 1000), "brand new content"),  // admitted
        (3L, ts(t0 + 2000), "brand  NEW content"), // in-stream dup of 2
        (4L, ts(t0 + 3000), null.asInstanceOf[String])) // unfingerprintable
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("gate_out").select($"doc_id").as[Long].collect().toSet
    assert(ids.size == 1 && ids.subsetOf(Set(2L, 3L)))
  }

  test("sessionize survives NaN/Infinite event values like the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[EventStream.Event]
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val t0 = 3100000000000L
    val q = EventStream.sessionize(src.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("nan_sess").start()
    try {
      // one NaN and one +Inf value inside the session: BigDecimal.valueOf
      // would throw and poison-pill the query; batch semantics are NaN->0,
      // +Inf->Long.MaxValue (sum then wraps like the batch sum would)
      src.addData(
        EventStream.Event(1L, ts(t0), 9L, "click", Double.NaN),
        EventStream.Event(2L, ts(t0 + 1000), 9L, "click", 2.0))
      q.processAllAvailable()
      // advance the watermark far enough to flush the session
      src.addData(EventStream.Event(3L, ts(t0 + 6L * 3600 * 1000), 9L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("nan_sess").as[EventStream.SessionOut].collect()
      assert(rows.exists(r => r.user_id == 9L && r.n_events == 2L &&
        r.value_milli == 2000L)) // NaN contributed 0, exactly like batch
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    val dir = TestSpark.tempDir("graft-dup").toString
    val e = Tables.load(spark, TestSpark.Sf0001, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
    e.unionByName(e).write.mode("overwrite").parquet(dir) // every event twice
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStream.dedupStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("dedup_out")
    assert(got.count() == e.count())
    assert(got.select("event_id").distinct().count() == got.count())
  }
}
