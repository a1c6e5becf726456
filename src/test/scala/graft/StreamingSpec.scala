package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.EventQueries
import graft.sources.Tables
import graft.operators.{Eval, Monitoring, Similarity, TextAnalysis, Vocab}
import graft.streaming.{Census, EventStream}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Current dup-rate census folded from a maintained directory. */
  private def dupRates(dir: String) =
    EventStream.readCensusState(spark, dir, Monitoring.dupRateCensus)

  /** Stage sf0.001 events (micros ts) to a temp dir so readStream gets a
    * clean schema, then drive the stream synchronously. */
  private lazy val stagedDir: String = {
    val dir = TestSpark.tempDir("graft-stream").toString
    Tables.load(spark, TestSpark.Sf0001, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming windowAgg over a bounded stream equals the batch twin") {
    val schema = spark.read.parquet(stagedDir).schema
    val stream = spark.readStream.schema(schema).parquet(stagedDir)
    val q = EventStream.windowAgg(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try { q.processAllAvailable() } finally q.stop()

    val streamed = spark.table("win_out")
      .orderBy("hour_start", "event_type")
      .as[(java.sql.Timestamp, String, Long, Long, Double, Double)].collect().toSeq
    val batch = EventQueries.queries("q_event_window_agg")(spark, TestSpark.Sf0001)
      .as[(java.sql.Timestamp, String, Long, Long, Double, Double)].collect().toSeq
    assert(streamed == batch)
  }

  test("stream-static enrichment joins every event to its user dimension") {
    val schema = spark.read.parquet(stagedDir).schema
    val stream = spark.readStream.schema(schema).parquet(stagedDir)
    val dim = Tables.load(spark, TestSpark.Sf0001, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("n_total"))
    val q = EventStream.enrich(stream, dim, Seq("user_id"))
      .writeStream.outputMode("append").format("memory").queryName("enrich_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = spark.table("enrich_out")
    assert(out.count() == spark.read.parquet(stagedDir).count())
    assert(out.filter($"n_total".isNull).count() == 0)
  }

  test("stateful sessionize over a bounded stream equals the batch twin") {
    val schema = spark.read.parquet(stagedDir).schema
    val stream = spark.readStream.schema(schema).parquet(stagedDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStream.Event]
    val q = EventStream.sessionize(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try { q.processAllAvailable() } finally q.stop()

    // Sessions emit ONLY once the final watermark (maxTs - 2h) passes
    // their gap horizon (session_end + gap): the streamed rows are the
    // exact chronological PREFIX of the batch twin's sessions — same
    // session_ids, same bounds, same aggregates.
    val gapMs = 1800000L
    val wmMs = Tables.load(spark, TestSpark.Sf0001, "events")
      .agg(max(unix_millis(col("ts").cast("timestamp")))).as[Long].head() -
      2L * 3600 * 1000
    val batch = EventQueries.queries("q_sessionize")(spark, TestSpark.Sf0001)
      .filter(unix_millis($"session_end") + gapMs < wmMs)
      .select($"user_id", $"session_id", $"n_events", $"session_start",
        $"session_end", $"value_milli")
      .orderBy($"user_id", $"session_id")
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSeq
    val streamed = spark.table("sess_out")
      .orderBy($"user_id", $"session_id")
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSeq
    assert(streamed == batch)
  }

  test("stageDeltas: streamed micro-batch merges equal the batch merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dw = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "name", "v")
    val src = MemoryStream[(Long, String, Long)]
    val stage = TestSpark.tempDir("graft-stage").toString
    val ckpt = TestSpark.tempDir("graft-ckpt").toString
    val q = EventStream.stageDeltas(
      src.toDS().toDF("id", "name", "v"), dw, "id", stage, ckpt)
    try {
      src.addData((1L, "a", 10L))   // unchanged vs DW → filtered out
      src.addData((2L, "B", 20L))   // changed → staged
      src.addData((4L, "d", 40L))   // new key → staged
      q.processAllAvailable()
    } finally q.stop()
    val staged = spark.read.parquet(stage)
      .select($"id", $"name", $"v").as[(Long, String, Long)].collect().toSet
    // Equal to the batch pipeline over the same sparse set.
    val sparse = Seq((1L, "a", 10L), (2L, "B", 20L), (4L, "d", 40L))
      .toDF("id", "name", "v")
    val batch = graft.operators.MergePipeline.sparseDwMerge(sparse, dw, "id")
      .as[(Long, String, Long)].collect().toSet
    assert(staged == batch)
    assert(staged == Set((2L, "B", 20L), (4L, "d", 40L)))
  }

  test("maintainChecksums: streamed summary equals a full recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String, Long)]
    val sumDir = TestSpark.tempDir("graft-cksum").toString
    val ckpt = TestSpark.tempDir("graft-cksum-ck").toString
    val q = EventStream.maintainChecksums(
      src.toDS().toDF("id", "part", "v"), "part", Seq("id"), sumDir, ckpt)
    val all = Seq(
      (1L, "p1", 10L), (2L, "p1", 20L), (3L, "p2", 30L),
      (4L, "p2", 40L), (5L, "p3", 50L))
    try {
      src.addData(all(0), all(1)); q.processAllAvailable()
      src.addData(all(2)); q.processAllAvailable()
      src.addData(all(3), all(4)); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"partition", $"n", $"checksum".cast("string"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .sortBy(_._1).toSeq
    val maintained = rows(EventStream.readChecksums(spark, sumDir))
    val recomputed = rows(graft.TableDiff.sideChecksums(
      all.toDF("id", "part", "v"), "part", Seq("id")))
    assert(maintained == recomputed)
    // A replayed batch appends identical (batch, partition) rows; the
    // read-side dedup must keep the fold unchanged.
    val existing = spark.read.parquet(sumDir)
    existing.filter($"__batch_id" === 0L).write.mode("append").parquet(sumDir)
    assert(rows(EventStream.readChecksums(spark, sumDir)) == recomputed)
  }

  test("a cross-batch late event joins its session without regressing the bounds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[EventStream.Event]
    val q = EventStream.sessionize(src.toDS(), watermark = "2 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("late_out").start()
    try {
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      val t0 = 2000000000000L
      // Batch 1: session last = t0 + 10min.
      src.addData(EventStream.Event(1L, ts(t0 + 600000L), 42L, "click", 1.0))
      q.processAllAvailable()
      // Batch 2: a LATE event at t0 (within the 2h watermark). The session
      // must absorb it with start ← t0 while last stays t0+10min — if last
      // regressed to t0, the timeout horizon would be t0+30min and the
      // flush below would split the session.
      src.addData(EventStream.Event(2L, ts(t0), 42L, "click", 2.0))
      q.processAllAvailable()
      // Batch 3: an out-of-band late event a full hour BEFORE the session
      // start (older than start - gap, still within the watermark): the
      // list state holds it as its OWN open session, ordered before the
      // live one — exactly what the batch twin computes.
      src.addData(EventStream.Event(4L, ts(t0 - 3600000L), 42L, "click", 4.0))
      q.processAllAvailable()
      // Advance the watermark far enough to flush user 42.
      src.addData(EventStream.Event(3L, ts(t0 + 6L * 3600 * 1000), 7L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("late_out").as[EventStream.SessionOut].collect()
        .filter(_.user_id == 42L)
      assert(rows.length == 2)
      val orphan = rows.find(_.session_id == 1L).get // chronologically first
      assert(orphan.n_events == 1L && orphan.session_start.getTime == t0 - 3600000L)
      val main = rows.find(_.session_id == 2L).get
      assert(main.n_events == 2L) // ONE session, not split
      assert(main.session_start.getTime == t0)
      assert(main.session_end.getTime == t0 + 600000L)
    } finally q.stop()
  }

  test("a late event bridges two open sessions into one (batch-equivalent merge)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[EventStream.Event]
    val q = EventStream.sessionize(src.toDS(), watermark = "4 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("bridge_out").start()
    try {
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      val t0 = 4000000000000L
      // Two sessions 50 min apart (> 30 min gap): [t0] and [t0+50min].
      src.addData(EventStream.Event(1L, ts(t0), 42L, "click", 1.0),
        EventStream.Event(2L, ts(t0 + 50L * 60000), 42L, "click", 2.0))
      q.processAllAvailable()
      // A late event at t0+25min is within the gap of BOTH → they merge
      // into one session, exactly as the batch twin would compute.
      src.addData(EventStream.Event(3L, ts(t0 + 25L * 60000), 42L, "click", 4.0))
      q.processAllAvailable()
      // Flush via watermark.
      src.addData(EventStream.Event(9L, ts(t0 + 12L * 3600 * 1000), 7L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("bridge_out").as[EventStream.SessionOut].collect()
        .filter(_.user_id == 42L)
      assert(rows.length == 1)
      assert(rows.head.session_id == 1L && rows.head.n_events == 3L)
      assert(rows.head.session_start.getTime == t0)
      assert(rows.head.session_end.getTime == t0 + 50L * 60000)
      assert(rows.head.value_milli == 7000L)
    } finally q.stop()
  }

  test("a silent user's session flushes on event-time timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[EventStream.Event]
    val q = EventStream.sessionize(src.toDS(), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("flush_out").start()
    try {
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      val t0 = 1000000000000L
      src.addData(EventStream.Event(1L, ts(t0), 42L, "click", 1.0),
        EventStream.Event(2L, ts(t0 + 60000L), 42L, "click", 2.0))
      q.processAllAvailable()
      // User 42's session is open; nothing emitted yet.
      assert(spark.table("flush_out").count() == 0)
      // A different user 3h later advances the watermark past 42's gap
      // horizon (last + 30min): the session must flush WITHOUT any new
      // event from user 42, and its state is dropped.
      src.addData(EventStream.Event(3L, ts(t0 + 3L * 3600 * 1000), 7L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("flush_out").as[EventStream.SessionOut].collect()
      assert(rows.exists(r => r.user_id == 42L && r.n_events == 2L &&
        r.value_milli == 3000L))
      // User 7's own session is younger than the horizon: still open.
      assert(!rows.exists(_.user_id == 7L))
    } finally q.stop()
  }

  test("forwardEnrich: late earlier rights displace, horizon expiry emits null, batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val t0 = 2000000000000L
    val hour = 3600000L
    val src = MemoryStream[EventStream.Event]
    val q = EventStream.forwardEnrich(src.toDS(), "view", "purchase",
        horizonMs = 4 * hour, watermark = "2 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("fwd_out").start()
    val all = scala.collection.mutable.ArrayBuffer.empty[EventStream.Event]
    def add(e: EventStream.Event*): Unit = { all ++= e; src.addData(e: _*); q.processAllAvailable() }
    try {
      // Batch 1: view 1 at t0, a purchase tie pair at t0+2h (ids 103<105
      // — max id must win), view 4 whose 4h window [t0+3h, t0+7h] will
      // hold NO purchase. Watermark after this trigger: t0+3h − 2h =
      // t0+1h — nothing finalizes (view 1's candidate sits at t0+2h).
      add(EventStream.Event(1L, ts(t0), 42L, "view", 1.0),
        EventStream.Event(103L, ts(t0 + 2 * hour), 42L, "purchase", 9.0),
        EventStream.Event(105L, ts(t0 + 2 * hour), 42L, "purchase", 8.0),
        EventStream.Event(4L, ts(t0 + 3 * hour), 42L, "view", 4.0))
      assert(spark.table("fwd_out").count() == 0) // nothing final yet
      // Batch 2: a late-but-within-watermark purchase at t0+1.5h (the
      // watermark sits at t0+1h; a row AT the boundary is dropped by the
      // stateful input filter) — EARLIER than the tie pair; view 1 must
      // bind to IT, not the pair (only possible because lefts wait for
      // the watermark, not for the first match seen).
      add(EventStream.Event(100L, ts(t0 + hour + 1800000L), 42L, "purchase", 7.0),
        EventStream.Event(2L, ts(t0 + 2 * hour), 42L, "view", 2.0)) // equal-ts: inclusive
      // Batch 3: far-future event advances the watermark past everything.
      add(EventStream.Event(999L, ts(t0 + 80 * hour), 7L, "view", 0.0))
      val got = spark.table("fwd_out").as[EventStream.FwdOut].collect()
        .map(o => o.event_id -> ((o.next_event_id, o.next_value))).toMap
      assert(got(1L) == (Some(100L), Some(7.0))) // late EARLIER right wins
      assert(got(2L) == (Some(105L), Some(8.0))) // inclusive tie, max id
      assert(got(4L) == (None, None))            // horizon expired → null
      // Batch parity for every emitted view: asOfJoinForward with the
      // horizon applied as a post-filter (all matches here are in-window).
      val df = all.toSeq.toDF()
      val views = df.filter($"event_type" === "view" && $"event_id" =!= 999L)
        .select($"event_id", $"user_id", $"ts", $"value")
      val purchases = df.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id", $"value")
      val batch = graft.operators.Joins.asOfJoinForward(views, purchases,
          "user_id", "ts", payload = Seq("event_id", "value"),
          tieBreak = Some("event_id"))
        .select($"event_id", $"next_event_id", $"next_value")
        .collect()
        .map(r => r.getLong(0) ->
          (Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("windowAgg survives NaN/Infinity poison events (try_cast) instead " +
      "of replaying a failed micro-batch forever") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val t0 = 2000000000000L
    val src = MemoryStream[EventStream.Event]
    val q = EventStream.windowAgg(src.toDS().toDF())
      .writeStream.outputMode("complete").format("memory")
      .queryName("win_poison").start()
    try {
      src.addData(
        EventStream.Event(1L, ts(t0), 1L, "view", 1.0),
        EventStream.Event(2L, ts(t0 + 1000L), 1L, "view", Double.NaN),
        EventStream.Event(3L, ts(t0 + 2000L), 1L, "view", Double.PositiveInfinity))
      q.processAllAvailable() // would throw CAST_OVERFLOW without try_cast
      val row = spark.table("win_poison").collect().head
      assert(row.getAs[Long]("n_events") == 3L)
      assert(row.getAs[Long]("value_milli") == 1000L) // poison values skipped
    } finally q.stop()
  }

  test("rollingEnrich: trailing frames equal the batch twin — late " +
      "in-watermark peers included, equal-ts peer groups exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val t0 = 2000000000000L
    val span = 3600000L // 1 hour
    val src = MemoryStream[EventStream.Event]
    val q = EventStream.rollingEnrich(src.toDS(), spanMs = span,
        watermark = "2 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("roll_out").start()
    val all = scala.collection.mutable.ArrayBuffer.empty[EventStream.Event]
    def add(e: EventStream.Event*): Unit = { all ++= e; src.addData(e: _*); q.processAllAvailable() }
    try {
      // Batch 1: an equal-ts peer pair (ids 1, 2 at t0 — the range frame
      // includes BOTH for both) and a row 10 min later.
      add(EventStream.Event(1L, ts(t0), 42L, "view", 1.0),
        EventStream.Event(2L, ts(t0), 42L, "view", 2.0),
        EventStream.Event(3L, ts(t0 + 600000L), 42L, "view", 3.0))
      assert(spark.table("roll_out").count() == 0) // buffered, not emitted
      // Batch 2: a LATE row BETWEEN earlier rows (within watermark) that
      // must appear in id 3's frame — only possible because rows buffer
      // until the watermark finalizes their frame — plus a row 90 min in
      // whose frame everything at t0..t0+10min has already expired. The
      // late row's value is a NEGATIVE HALF (−0.0025 → −2.5 milli): SQL
      // round() gives −3 where math.round gives −2, so parity here pins
      // the shared sqlRoundMillis conversion.
      add(EventStream.Event(4L, ts(t0 + 300000L), 42L, "view", -0.0025),
        EventStream.Event(5L, ts(t0 + 5400000L), 42L, "view", 5.0))
      // Batch 3: far-future event advances the watermark past everything.
      add(EventStream.Event(999L, ts(t0 + 12L * 3600 * 1000), 7L, "view", 0.0))
      val got = spark.table("roll_out").as[EventStream.RollOut].collect()
        .map(o => o.event_id -> ((o.n_span, o.value_milli_span))).toMap
      assert(got == Map(
        1L -> ((2L, 3000L)), 2L -> ((2L, 3000L)), // mutual equal-ts peers
        4L -> ((3L, 2997L)),                      // late row sees 1, 2 (−3)
        3L -> ((4L, 5997L)),                      // ...and 3 sees the late 4
        5L -> ((1L, 5000L))))                     // everything else expired
      // Exact batch parity via the hot-key-safe batch operator.
      val df = all.toSeq.toDF()
        .select($"event_id", $"user_id", $"ts", $"value")
      val batch = graft.operators.Windows.rollingTrailing(df,
          key = "user_id", ts = "ts", tie = "event_id",
          sumExpr = round($"value" * 1000).cast("long"),
          spanMillis = span, bucketWidthMillis = 600000L,
          cntAlias = "n_span", sumAlias = "value_milli_span")
        .select($"event_id", $"n_span", $"value_milli_span")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == got.keys.map(k => k -> batch(k)).toMap)
    } finally q.stop()
  }

  test("rollingEnrich: maxRetained sheds the OLDEST rows — pending " +
      "dropped rows still emit (best-known frame), later frames undercount") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val t0 = 2000000000000L
    val src = MemoryStream[EventStream.Event]
    val q = EventStream.rollingEnrich(src.toDS(), spanMs = 3600000L,
        watermark = "2 hours", maxRetained = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("roll_shed").start()
    def add(e: EventStream.Event*): Unit = { src.addData(e: _*); q.processAllAvailable() }
    try {
      // 4 rows inside the watermark horizon (none ready to flush).
      // Cap=2 → ids 1, 2 drop from state but EMIT now with the frames
      // known at shed time (computed over all four rows — exact here).
      add(EventStream.Event(1L, ts(t0), 42L, "view", 1.0),
        EventStream.Event(2L, ts(t0 + 60000L), 42L, "view", 2.0),
        EventStream.Event(3L, ts(t0 + 120000L), 42L, "view", 3.0),
        EventStream.Event(4L, ts(t0 + 180000L), 42L, "view", 4.0))
      val first = spark.table("roll_shed").as[EventStream.RollOut].collect()
        .map(o => o.event_id -> ((o.n_span, o.value_milli_span))).toMap
      assert(first == Map(1L -> ((1L, 1000L)), 2L -> ((2L, 3000L))))
      // Watermark passes everything → kept rows flush, with frames over
      // the SURVIVING history only: the shed rows are gone, so ids 3, 4
      // UNDERCOUNT (true frames would be n=3 and n=4) — the documented
      // shedding trade.
      add(EventStream.Event(999L, ts(t0 + 12L * 3600 * 1000), 7L, "view", 0.0))
      val got = spark.table("roll_shed").as[EventStream.RollOut].collect()
        .map(o => o.event_id -> ((o.n_span, o.value_milli_span))).toMap
      assert(got == Map(1L -> ((1L, 1000L)), 2L -> ((2L, 3000L)),
        3L -> ((1L, 3000L)), 4L -> ((2L, 7000L))))
    } finally q.stop()
  }

  test("asOfEnrich: maxPendingLefts sheds the OLDEST lefts early with " +
      "their best-known match; untouched keys stay exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val t0 = 2000000000000L
    val src = MemoryStream[EventStream.Event]
    val q = EventStream.asOfEnrich(src.toDS(), "view", "purchase",
        watermark = "2 hours", maxPendingLefts = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_shed").start()
    def add(e: EventStream.Event*): Unit = { src.addData(e: _*); q.processAllAvailable() }
    try {
      // 4 views for hot user 42 inside the watermark horizon (none ready
      // to flush), one purchase before them all. Cap=2 → the 2 OLDEST
      // views (1, 2) shed immediately, carrying the best-known purchase;
      // views 3, 4 stay buffered.
      add(EventStream.Event(100L, ts(t0), 42L, "purchase", 7.0),
        EventStream.Event(1L, ts(t0 + 60000L), 42L, "view", 1.0),
        EventStream.Event(2L, ts(t0 + 120000L), 42L, "view", 2.0),
        EventStream.Event(3L, ts(t0 + 180000L), 42L, "view", 3.0),
        EventStream.Event(4L, ts(t0 + 240000L), 42L, "view", 4.0))
      val first = spark.table("asof_shed").as[EventStream.AsOfOut].collect()
      assert(first.map(_.event_id).toSet == Set(1L, 2L))
      assert(first.forall(_.asof_event_id.contains(100L)))
      // Watermark passes everything → the kept views flush exactly.
      add(EventStream.Event(999L, ts(t0 + 12L * 3600 * 1000), 7L, "view", 0.0))
      val all = spark.table("asof_shed").as[EventStream.AsOfOut].collect()
      assert(all.map(_.event_id).toSet == Set(1L, 2L, 3L, 4L))
      assert(all.forall(_.asof_event_id.contains(100L)))
    } finally q.stop()
  }

  test("asOfEnrich: late rights bind, inclusive max-id ties, exact batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val t0 = 2000000000000L
    val src = MemoryStream[EventStream.Event]
    val q = EventStream.asOfEnrich(src.toDS(), "view", "purchase",
        watermark = "2 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_out").start()
    val all = scala.collection.mutable.ArrayBuffer.empty[EventStream.Event]
    def add(e: EventStream.Event*): Unit = { all ++= e; src.addData(e: _*); q.processAllAvailable() }
    try {
      // Batch 1: a view with NO purchase yet, plus a purchase tie pair
      // (equal ts, ids 103 < 105 — max id must win later).
      add(EventStream.Event(1L, ts(t0 + 600000L), 42L, "view", 1.0),
        EventStream.Event(103L, ts(t0 + 900000L), 42L, "purchase", 9.0),
        EventStream.Event(105L, ts(t0 + 900000L), 42L, "purchase", 8.0))
      assert(spark.table("asof_out").count() == 0) // buffered, not emitted
      // Batch 2: a LATE purchase BEFORE view 1's ts (within watermark) —
      // view 1 must bind to it, which is only possible because lefts
      // buffer; plus views after the tie pair and at the exact tie ts.
      add(EventStream.Event(100L, ts(t0), 42L, "purchase", 7.0),
        EventStream.Event(2L, ts(t0 + 1200000L), 42L, "view", 2.0),
        EventStream.Event(3L, ts(t0 + 900000L), 42L, "view", 3.0))
      // Batch 3: far-future event advances the watermark past everything.
      add(EventStream.Event(999L, ts(t0 + 12L * 3600 * 1000), 7L, "view", 0.0))
      val got = spark.table("asof_out").as[EventStream.AsOfOut].collect()
        .map(o => o.event_id -> ((o.asof_event_id, o.asof_value))).toMap
      assert(got(1L) == (Some(100L), Some(7.0))) // bound to the LATE purchase
      assert(got(2L) == (Some(105L), Some(8.0))) // max id at the tie ts
      assert(got(3L) == (Some(105L), Some(8.0))) // inclusive at equal ts
      // Exact batch parity over every emitted view (all views with ts
      // below the final watermark).
      val df = all.toSeq.toDF()
      val views = df.filter($"event_type" === "view" && $"event_id" =!= 999L)
        .select($"event_id", $"user_id", $"ts", $"value")
      val purchases = df.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id", $"value")
      val batch = graft.operators.Joins.asOfJoin(views, purchases, "user_id",
          "ts", payload = Seq("event_id", "value"),
          tieBreak = Some("event_id"), prefix = "asof_")
        .select($"event_id", $"asof_event_id", $"asof_value")
        .collect()
        .map(r => r.getLong(0) ->
          (Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("maintainDupRateState: streamed monitor equals batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String, String)]
    val stateDir = TestSpark.tempDir("graft-dup").toString
    val ckpt = TestSpark.tempDir("graft-dup-ck").toString
    val fp = graft.operators.TextAnalysis.docFingerprint(col("text"))
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("doc_id", "text", "source"), stateDir, ckpt,
      Monitoring.dupRateCensus, b => Monitoring.dupRateState(b, "source", fp))
    // the cross-source duplicate pair (docs 1 and 4) is SPLIT across
    // batches — the case a per-batch census gets wrong
    val all = Seq(
      (1L, "same text", "a"), (2L, "other a", "a"),
      (3L, "only b", "b"), (4L, "same text", "b"), (5L, "more b", "b"))
    try {
      src.addData(all(0), all(1)); q.processAllAvailable()
      src.addData(all(2)); q.processAllAvailable()
      src.addData(all(3), all(4)); q.processAllAvailable()
    } finally q.stop()
    def report(state: org.apache.spark.sql.DataFrame) =
      graft.operators.Monitoring.dupRateFromState(state)
        .orderBy($"source").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val maintained = report(dupRates(stateDir))
    val recomputed = report(graft.operators.Monitoring.dupRateState(
      all.toDF("doc_id", "text", "source"), "source", fp))
    assert(maintained == recomputed)
    assert(maintained.find(_._1 == "a").get._3 == 1L) // doc 1 flagged dup
    // replayed batch: identical (__batch_id, source, fp, n) rows fold once
    val existing = spark.read.parquet(stateDir)
    existing.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(report(dupRates(stateDir)) == recomputed)
  }

  test("maintainTransitionState: streamed matrix equals batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val stateDir = TestSpark.tempDir("graft-trans").toString
    val ckpt = TestSpark.tempDir("graft-trans-ck").toString
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val q = EventStream.maintainTransitionState(
      src.toDS().toDF("user_id", "ts", "event_id", "event_type"),
      "user_id", "ts", "event_id", "event_type", stateDir, ckpt)
    // user 1's a->b->a run is SPLIT across batches — the boundary
    // transition only the carried last-event state can produce.
    val all = Seq(
      (1L, t(1000L), 1L, "a"), (1L, t(2000L), 2L, "b"),
      (2L, t(1000L), 3L, "a"),
      (1L, t(3000L), 4L, "a"), (2L, t(2000L), 5L, "a"))
    try {
      src.addData(all(0), all(1), all(2)); q.processAllAvailable()
      src.addData(all(3), all(4)); q.processAllAvailable()
    } finally q.stop()
    def report(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"from_state", $"to_state").collect()
        .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"),
          r.getAs[Long]("prob_ppm"))).toSeq
    val maintained = report(EventStream.readTransitionState(spark, stateDir))
    val recomputed = report(graft.operators.Eval.transitionMatrix(
      all.toDF("user_id", "ts", "event_id", "event_type"),
      "user_id", "ts", "event_id", "event_type"))
    assert(maintained == recomputed)
    // the split run's boundary transition (b->a) and same-state run (a->a)
    assert(maintained.exists(r => r._1 == "b" && r._2 == "a" && r._3 == 1L))
    assert(maintained.exists(r => r._1 == "a" && r._2 == "a" && r._3 == 1L))
    // replayed batch: identical (__batch_id, from, to, n) rows fold once
    val tr = spark.read.parquet(s"$stateDir/transitions")
    tr.filter($"__batch_id" === 0L).write.mode("append")
      .parquet(s"$stateDir/transitions")
    assert(report(EventStream.readTransitionState(spark, stateDir)) == recomputed)
  }

  test("maintainAucState: streamed AUC equals batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, Double, Int)]
    val stateDir = TestSpark.tempDir("graft-auc").toString
    val ckpt = TestSpark.tempDir("graft-auc-ck").toString
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("grp", "score", "pos"), stateDir, ckpt, Eval.aucCensus,
      b => Eval.aucHistogram(b, "grp", "score", $"pos" === 1))
    // group t's tied positive/negative pair is SPLIT across batches — the
    // tie correction only a folded histogram gets right.
    val all = Seq(
      ("g", 3.0, 1), ("g", 1.0, 0), ("t", 2.0, 1),
      ("g", 4.0, 1), ("g", 2.0, 0), ("t", 2.0, 0), ("t", 5.0, 1), ("t", 3.0, 0))
    try {
      src.addData(all.take(3): _*); q.processAllAvailable()
      src.addData(all.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    def report(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"grp").collect()
        .map(r => (r.getString(0), r.getAs[Long]("n_pos"),
          r.getAs[Long]("n_neg"), r.getAs[Long]("auc_ppm"))).toSeq
    val maintained = report(Eval.aucFromHistogram(
      EventStream.readCensusState(spark, stateDir, Eval.aucCensus)))
    val recomputed = report(graft.operators.Eval.aucByGroup(
      all.toDF("grp", "score", "pos"), "grp", "score", $"pos" === 1))
    assert(maintained == recomputed)
    assert(maintained == Seq(("g", 2L, 2L, 1000000L), ("t", 2L, 2L, 625000L)))
    // replayed batch: identical (__batch_id, grp, score_milli) cells fold once
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(report(Eval.aucFromHistogram(
      EventStream.readCensusState(spark, stateDir, Eval.aucCensus))) == recomputed)
  }

  test("maintainCountState: streamed volume monitors equal batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val stateDir = TestSpark.tempDir("graft-cnt").toString
    val ckpt = TestSpark.tempDir("graft-cnt-ck").toString
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("event_type", "d"), stateDir, ckpt,
      Monitoring.countCensus(Seq("event_type")),
      b => Monitoring.countState(b, Seq("event_type"), $"d"))
    // (a, d2) is SPLIT across batches — its count must ADD across the
    // fold (3 = 2 + 1), the property that makes the state a monoid and
    // not a latest-wins snapshot. Group a's d3 spike (6 events vs med 3)
    // is the anomaly the MAD gate must flag off folded state.
    val all = Seq(
      ("a", "d1"), ("a", "d1"), ("a", "d1"),
      ("a", "d2"), ("a", "d2"),
      ("b", "d1"), ("b", "d2")) ++ Seq(
      ("a", "d2"),
      ("a", "d3"), ("a", "d3"), ("a", "d3"), ("a", "d3"), ("a", "d3"), ("a", "d3"),
      ("b", "d3"))
    try {
      src.addData(all.take(7): _*); q.processAllAvailable()
      src.addData(all.drop(7): _*); q.processAllAvailable()
    } finally q.stop()
    val batchDf = all.toDF("event_type", "d")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"event_type", $"day").collect().map(_.toSeq).toSeq
    def counts() = EventStream.readCensusState(spark, stateDir,
      Monitoring.countCensus(Seq("event_type")))
    val anomalyMaintained = rows(
      Monitoring.countAnomalyFromCounts(counts(), Seq("event_type")))
    assert(anomalyMaintained == rows(
      graft.operators.Monitoring.countAnomaly(batchDf, Seq("event_type"), $"d")))
    // the split (a, d2) group folded to 3; the d3 spike flags
    assert(anomalyMaintained.exists(r =>
      r(0) == "a" && r(1) == "d2" && r(2) == 3L))
    assert(anomalyMaintained.exists(r =>
      r(0) == "a" && r(1) == "d3" && r.last == 1))
    val driftMaintained = rows(
      Monitoring.countDriftFromCounts(counts(), Seq("event_type")))
    assert(driftMaintained == rows(
      graft.operators.Monitoring.countDrift(batchDf, Seq("event_type"), $"d")))
    // replayed batch: identical (__batch_id, dims, day, n) rows fold once
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(rows(Monitoring.countAnomalyFromCounts(counts(), Seq("event_type"))) ==
      anomalyMaintained)
  }

  test("maintainPsiState: streamed PSI off pinned cuts equals batch sketch variant; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Reference (left) and current (right) value feeds with a genuine
    // shape change: the right side's mass shifts upward.
    val leftVals = (1 to 200).map(_.toDouble)
    val rightVals = (1 to 200).map(i => i.toDouble + (if (i > 100) 400.0 else 0.0))
    val leftDf = leftVals.toDF("v")
    val rightDf = rightVals.toDF("v")
    val cuts = graft.operators.Monitoring.psiCuts(leftDf, "v", nBuckets = 10)
    def maintain(vals: Seq[Double], tag: String): String = {
      val src = MemoryStream[Double]
      val stateDir = TestSpark.tempDir(s"graft-psi-$tag").toString
      val ckpt = TestSpark.tempDir(s"graft-psi-$tag-ck").toString
      val q = EventStream.maintainCensusState(
        src.toDS().toDF("v"), stateDir, ckpt, Monitoring.psiCensus,
        b => Monitoring.psiBucketState(b, "v", cuts))
      try {
        // split mid-bucket so at least one bucket's count must ADD
        // across the fold rather than arrive whole in one batch
        src.addData(vals.take(vals.length / 3): _*); q.processAllAvailable()
        src.addData(vals.drop(vals.length / 3): _*); q.processAllAvailable()
      } finally q.stop()
      stateDir
    }
    val lDir = maintain(leftVals, "l")
    val rDir = maintain(rightVals, "r")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"bucket").collect().map(_.toSeq).toSeq
    val maintained = rows(Monitoring.psiFromStates(
      EventStream.readCensusState(spark, lDir, Monitoring.psiCensus),
      EventStream.readCensusState(spark, rDir, Monitoring.psiCensus)))
    // Same pinned cuts + same data => bit-identical to the batch sketch
    // variant (which re-fits cuts from the same left side at the same
    // accuracy).
    val batch = rows(graft.operators.Monitoring
      .distributionDriftSketch(leftDf, rightDf, "v"))
    assert(maintained == batch)
    // the shifted right mass must register: some bucket is one-sided or
    // the total PSI is positive
    assert(maintained.exists(r => r(5) == 1) ||
      maintained.last.last.asInstanceOf[Double] > 0.0)
    // replayed batch: identical (__batch_id, bucket, n) rows fold once
    val st = spark.read.parquet(rDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(rDir)
    assert(rows(Monitoring.psiFromStates(
      EventStream.readCensusState(spark, lDir, Monitoring.psiCensus),
      EventStream.readCensusState(spark, rDir, Monitoring.psiCensus))) == maintained)
  }

  test("maintainLangPurityState: streamed purity equals batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val stateDir = TestSpark.tempDir("graft-lp").toString
    val ckpt = TestSpark.tempDir("graft-lp-ck").toString
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("source", "lang"), stateDir, ckpt, Vocab.langPurityCensus,
      b => Vocab.langPurityState(b, "source", "lang"))
    // (web, en) is SPLIT across batches — its count must ADD across the
    // fold (3 = 2 + 1), so the maintained entropy/top-share read a
    // genuine cross-batch census, not a latest-wins snapshot.
    val all = Seq(
      ("web", "en"), ("web", "en"), ("web", "fr"),
      ("wiki", "en"), ("wiki", "en")) ++ Seq(
      ("web", "en"), ("web", "de"),
      ("wiki", "en"))
    try {
      src.addData(all.take(5): _*); q.processAllAvailable()
      src.addData(all.drop(5): _*); q.processAllAvailable()
    } finally q.stop()
    def report(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"source").collect().map(_.toSeq).toSeq
    val maintained = report(Vocab.langPurityFromCounts(
      EventStream.readCensusState(spark, stateDir, Vocab.langPurityCensus)))
    val recomputed = report(graft.operators.Vocab.langPurity(
      all.toDF("source", "lang"), "source", "lang"))
    assert(maintained == recomputed)
    // wiki is pure (entropy 0, share 1); web's top lang folded to 3/5
    assert(maintained.exists(r => r(0) == "wiki" && r(4) == 1.0 &&
      r(5) == 0.0))
    assert(maintained.exists(r => r(0) == "web" && r(3) == "en" &&
      r(4) == 0.6))
    // replayed batch: identical (__batch_id, source, lang) cells fold once
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(report(Vocab.langPurityFromCounts(
      EventStream.readCensusState(spark, stateDir, Vocab.langPurityCensus))) == maintained)
  }

  test("maintainDivergenceState: streamed JS equals batch recompute under the pinned vocab; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val stateDir = TestSpark.tempDir("graft-sd").toString
    val ckpt = TestSpark.tempDir("graft-sd-ck").toString
    // web's (web, 'the')/(web, 'data') cells are SPLIT across batches —
    // their counts must ADD across the fold for the JS read to match a
    // batch recompute.
    val all = Seq(
      ("web", "the data table the data"),
      ("wiki", "the query plan the query"),
      ("logs", "zz9 qq8 zz9 xx7 xx7")) ++ Seq(
      ("web", "the data query plan"),
      ("logs", "zz9 qq8"))
    val fullDf = all.zipWithIndex
      .map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    // the pinned model: vocab fit ONCE over the reference corpus
    val vocab = graft.operators.Vocab.vocabTopK(fullDf, "doc_id", "text", 4)
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("source", "text"), stateDir, ckpt, Vocab.divergenceCensus,
      b => Vocab.divergenceState(b, "source", "text", vocab))
    try {
      src.addData(all.take(3): _*); q.processAllAvailable()
      src.addData(all.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    def report(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"source_a", $"source_b").collect().map(_.toSeq).toSeq
    val maintained = report(Vocab.sourceDivergenceFromCounts(
      EventStream.readCensusState(spark, stateDir, Vocab.divergenceCensus)))
    // same pinned vocab + same data => equal to the one-shot batch
    // operator (which fits its vocab from the same full corpus at k=4)
    val recomputed = report(graft.operators.Vocab.sourceDivergence(
      fullDf, "doc_id", "text", "source", k = 4))
    assert(maintained == recomputed)
    // the shared-vocabulary pair reads closer than the disjoint one
    def js(a: String, b: String) = maintained
      .find(r => r(0) == a && r(1) == b).get.last.asInstanceOf[Double]
    assert(js("web", "wiki") < js("logs", "web"))
    assert(js("web", "wiki") < js("logs", "wiki"))
    // replayed batch: identical (__batch_id, source, bucket) cells fold once
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(report(Vocab.sourceDivergenceFromCounts(
      EventStream.readCensusState(spark, stateDir, Vocab.divergenceCensus))) == maintained)
  }

  test("maintainC4RateState: streamed C4 pass rate equals batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val stateDir = TestSpark.tempDir("graft-c4r").toString
    val ckpt = TestSpark.tempDir("graft-c4r-ck").toString
    val passPage = (1 to 5).map(i => s"good sentence number $i.").mkString("\n")
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("source", "text"), stateDir, ckpt,
      TextAnalysis.passRateCensus, b => TextAnalysis.c4RateState(b, "source", "text"))
    // web's pass/fail docs SPLIT across batches -> rate must fold 1/2
    val all = Seq(
      ("web", passPage),
      ("wiki", passPage)) ++ Seq(
      ("web", "too short."),
      ("wiki", passPage + "\nlorem ipsum dolor."))
    try {
      src.addData(all.take(2): _*); q.processAllAvailable()
      src.addData(all.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def report(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"source").collect().map(_.toSeq).toSeq
    val maintained = report(TextAnalysis.c4RateFromCounts(
      EventStream.readCensusState(spark, stateDir, TextAnalysis.passRateCensus)))
    val recomputed = report(graft.operators.TextAnalysis.c4Rate(
      all.toDF("source", "text"), "source", "text"))
    assert(maintained == recomputed)
    assert(maintained.find(_.head == "web").get(3) == 0.5)
    assert(maintained.find(_.head == "wiki").get(3) == 0.5)
    // replayed batch: identical (__batch_id, source) cells fold once
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(report(TextAnalysis.c4RateFromCounts(
      EventStream.readCensusState(spark, stateDir, TextAnalysis.passRateCensus))) == maintained)
  }

  test("maintainSilhouetteState: streamed cluster quality equals batch recompute under pinned centroids; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Array[Float])]
    val stateDir = TestSpark.tempDir("graft-sil").toString
    val ckpt = TestSpark.tempDir("graft-sil-ck").toString
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    // cell 0's members are SPLIT across batches (incl. the equidistant
    // probe) — its sums must ADD across the fold for the mean to read
    // the cross-batch census.
    val all = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (100L, Array(0.0f, 1.0f))) ++ Seq(
      (2L, Array(1.0f, 0.0f)), (200L, Array(1.0f, 1.0f)),
      (101L, Array(0.0f, 1.0f)))
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("vec_id", "embedding"), stateDir, ckpt,
      Similarity.silhouetteCensus,
      b => Similarity.silhouetteState(b, cents, "vec_id", "embedding"))
    try {
      src.addData(all.take(3): _*); q.processAllAvailable()
      src.addData(all.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    def report(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"cell").collect().map(_.toSeq).toSeq
    val maintained = report(Similarity.silhouetteFromCounts(
      EventStream.readCensusState(spark, stateDir, Similarity.silhouetteCensus)))
    val recomputed = report(graft.operators.Similarity.clusterSilhouette(
      all.toDF("vec_id", "embedding"), centroids = cents))
    assert(maintained == recomputed)
    // cell 0 folded: three s=1 members + the s=0 diagonal -> mean 0.75
    assert(maintained.find(_.head == 0).get(4) == 0.75)
    assert(maintained.find(_.head == 1).get(4) == 1.0)
    // replayed batch: identical (__batch_id, cell) census rows fold once
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(report(Similarity.silhouetteFromCounts(
      EventStream.readCensusState(spark, stateDir, Similarity.silhouetteCensus))) == maintained)
  }

  test("maintainPiiRateState: streamed leak rates equal batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val stateDir = TestSpark.tempDir("graft-pii").toString
    val ckpt = TestSpark.tempDir("graft-pii-ck").toString
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("source", "text"), stateDir, ckpt,
      TextAnalysis.piiRateCensus, b => TextAnalysis.piiRateState(b, "source", "text"))
    // web's dirty docs are SPLIT across batches (1 + 1) — n_dirty must
    // ADD across the fold for the rate to read 2/3.
    val all = Seq(
      ("web", "reach me at a@b.com and c@d.org"),
      ("wiki", "clean text only")) ++ Seq(
      ("web", "call 555-123-4567"),
      ("web", "nothing here"),
      ("wiki", "still clean"))
    try {
      src.addData(all.take(2): _*); q.processAllAvailable()
      src.addData(all.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def report(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"source").collect().map(_.toSeq).toSeq
    val maintained = report(TextAnalysis.piiRateFromCounts(
      EventStream.readCensusState(spark, stateDir, TextAnalysis.piiRateCensus)))
    val recomputed = report(graft.operators.TextAnalysis.piiRate(
      all.toDF("source", "text"), "source", "text"))
    assert(maintained == recomputed)
    // web: 3 docs, 2 emails, 1 phone, 2 dirty -> rate 2/3; wiki clean
    val web = maintained.find(_.head == "web").get
    assert(web(1) == 3L && web(2) == 2L && web(3) == 1L && web(4) == 2L)
    assert(web(5) == 2.0 / 3.0)
    val wiki = maintained.find(_.head == "wiki").get
    assert(wiki(4) == 0L && wiki(5) == 0.0)
    // replayed batch: identical (__batch_id, source) cells fold once
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(report(TextAnalysis.piiRateFromCounts(
      EventStream.readCensusState(spark, stateDir, TextAnalysis.piiRateCensus))) == maintained)
    // the monitor read is compaction-invariant: rewrite the fold, same report
    EventStream.compactCensusState(spark, stateDir, TextAnalysis.piiRateCensus)
    assert(report(TextAnalysis.piiRateFromCounts(
      EventStream.readCensusState(spark, stateDir, TextAnalysis.piiRateCensus))) == maintained)
  }

  test("compactCensusState: fold invariant under compaction, pre-compaction replays, and new deltas") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String, String)]
    val stateDir = TestSpark.tempDir("graft-compact").toString
    val ckpt = TestSpark.tempDir("graft-compact-ck").toString
    val fp = graft.operators.TextAnalysis.docFingerprint(col("text"))
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("doc_id", "text", "source"), stateDir, ckpt,
      Monitoring.dupRateCensus, b => Monitoring.dupRateState(b, "source", fp))
    // (7, "other a", "a") repeats batch 0's (a, fp) cell in batch 2, so
    // the fold genuinely MERGES delta rows — compaction must shrink the
    // stored row count, not merely rewrite it
    val all = Seq(
      (1L, "same text", "a"), (2L, "other a", "a"),
      (3L, "only b", "b"), (4L, "same text", "b"), (5L, "more b", "b"),
      (7L, "other a", "a"))
    try {
      src.addData(all(0), all(1)); q.processAllAvailable()
      src.addData(all(2)); q.processAllAvailable()
      src.addData(all(3), all(4), all(5)); q.processAllAvailable()
    } finally q.stop()
    def report(state: org.apache.spark.sql.DataFrame) =
      graft.operators.Monitoring.dupRateFromState(state)
        .orderBy($"source").collect().map(_.toSeq).toSeq
    def stateRows() = spark.read.option("mergeSchema", "true").parquet(stateDir)
    val before = report(dupRates(stateDir))
    val preCompactScan = stateRows().count()

    // fold-after ≡ fold-before; W = highest batch id folded (ids 0..2)
    val w = EventStream.compactCensusState(spark, stateDir, Monitoring.dupRateCensus)
    assert(w == 2L)
    assert(report(dupRates(stateDir)) == before)
    // the scan actually shrank to one summary batch of census rows
    assert(stateRows().count() < preCompactScan)
    assert(stateRows().select("__batch_id").distinct().count() == 1)

    // a PRE-compaction batch replayed AFTER compaction (original id 0
    // ≤ W, exactly what a recovering foreachBatch would append) is
    // already folded — the read must ignore it, not double-count
    graft.operators.Monitoring.dupRateState(
        Seq(all(0), all(1)).toDF("doc_id", "text", "source"), "source", fp)
      .withColumn("__batch_id", lit(0L))
      .write.mode("append").parquet(stateDir)
    assert(report(dupRates(stateDir)) == before)

    // a FRESH post-compaction batch (monotonic id W+1) folds on top
    val extra = Seq((6L, "same text", "a"))
    graft.operators.Monitoring.dupRateState(
        extra.toDF("doc_id", "text", "source"), "source", fp)
      .withColumn("__batch_id", lit(w + 1))
      .write.mode("append").parquet(stateDir)
    val recomputedAll = report(graft.operators.Monitoring.dupRateState(
      (all ++ extra).toDF("doc_id", "text", "source"), "source", fp))
    assert(report(dupRates(stateDir)) == recomputedAll)

    // compaction composes: summary + newer delta fold into a higher-W summary
    val w2 = EventStream.compactCensusState(spark, stateDir, Monitoring.dupRateCensus)
    assert(w2 == w + 1)
    assert(report(dupRates(stateDir)) == recomputedAll)
    assert(stateRows().select("__batch_id").distinct().count() == 1)
  }

  test("maintainCensusState autoCompact: compaction fires mid-stream; folds identical before/after; gc bounds the file count") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String, String)]
    val stateDir = TestSpark.tempDir("graft-autoc").toString
    val ckpt = TestSpark.tempDir("graft-autoc-ck").toString
    val fp = graft.operators.TextAnalysis.docFingerprint(col("text"))
    // everyBatches = 2: the policy must fire INSIDE the stream, twice
    // over four batches, with no maintenance owner in sight.
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("doc_id", "text", "source"), stateDir, ckpt,
      Monitoring.dupRateCensus,
      b => graft.operators.Monitoring.dupRateState(b, "source", fp),
      autoCompact = Some(EventStream.AutoCompact(everyBatches = 2)))
    val batches = Seq(
      Seq((1L, "same text", "a"), (2L, "other a", "a")),
      Seq((3L, "only b", "b"), (4L, "same text", "b")),
      Seq((5L, "more b", "b"), (6L, "same text", "a")),
      Seq((7L, "other a", "a")))
    def report() =
      graft.operators.Monitoring.dupRateFromState(dupRates(stateDir))
        .orderBy($"source").collect().map(_.toSeq).toSeq
    def recompute(upTo: Int) =
      graft.operators.Monitoring.dupRateFromState(
          graft.operators.Monitoring.dupRateState(
            batches.take(upTo).flatten.toDF("doc_id", "text", "source"),
            "source", fp))
        .orderBy($"source").collect().map(_.toSeq).toSeq
    try {
      src.addData(batches(0): _*); q.processAllAvailable()
      src.addData(batches(1): _*); q.processAllAvailable()
      // after batch 1 (the 2nd append) the policy fired: the directory
      // holds a W=1 summary and the read folds to the same census
      val st2 = spark.read.option("mergeSchema", "true").parquet(stateDir)
      assert(st2.columns.contains("__compacted_through"),
        "autoCompact did not fire after everyBatches appends")
      val w2 = st2.agg(max($"__compacted_through")).head().getLong(0)
      assert(w2 == 1L)
      assert(report() == recompute(2))
      src.addData(batches(2): _*); q.processAllAvailable()
      // batch 2 is a fresh delta on top of the summary — still correct
      assert(report() == recompute(3))
      src.addData(batches(3): _*); q.processAllAvailable()
      // 2nd firing: compacted through batch 3, gc'd down to one summary
      val st4 = spark.read.option("mergeSchema", "true").parquet(stateDir)
      assert(st4.agg(max($"__compacted_through")).head().getLong(0) == 3L)
      assert(st4.select("__batch_id").distinct().count() == 1)
      assert(report() == recompute(4))
    } finally q.stop()
    // the read cost is bounded by construction: after gc only the
    // summary file(s) remain (no delta since the last firing)
    val files = new java.io.File(stateDir).listFiles
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length == 1, s"expected 1 summary file, got ${files.length}")
  }

  test("compactCensusState: append-first summary is read-correct with no directory swap; re-compaction without new deltas is a no-op") {
    // Build a small uncompacted directory by hand (batch-stamped deltas)
    val stateDir = TestSpark.tempDir("graft-appf").toString
    val census = Census(Seq("k"), Seq("n"))
    Seq(("a", 1L), ("b", 2L)).toDF("k", "n")
      .withColumn("__batch_id", lit(0L)).write.mode("append").parquet(stateDir)
    Seq(("a", 3L)).toDF("k", "n")
      .withColumn("__batch_id", lit(1L)).write.mode("append").parquet(stateDir)
    def fold() = EventStream.readCensusState(spark, stateDir, census)
      .orderBy($"k").collect().map(_.toSeq).toSeq
    val before = fold()
    // gc=false: the summary is appended but superseded deltas remain —
    // the read must ALREADY be correct (the summary wins by stamp), so
    // a reader racing the later gc step never sees a gap
    val w = EventStream.compactCensusState(spark, stateDir, census, gc = false)
    assert(w == 1L)
    assert(fold() == before)
    val nFilesPreGc = new java.io.File(stateDir).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(nFilesPreGc >= 3, "superseded deltas should still be present pre-gc")
    // second compaction with no new deltas: nothing new appended
    val w2 = EventStream.compactCensusState(spark, stateDir, census, gc = false)
    assert(w2 == 1L)
    assert(new java.io.File(stateDir).listFiles
      .count(_.getName.endsWith(".parquet")) == nFilesPreGc)
    // explicit gc: deltas + nothing else removed; fold unchanged
    val removed = EventStream.gcCensusState(spark, stateDir)
    assert(removed >= 2)
    assert(fold() == before)
    assert(new java.io.File(stateDir).listFiles
      .count(_.getName.endsWith(".parquet")) == 1)
    // gc on a never-compacted directory is a no-op
    val plainDir = TestSpark.tempDir("graft-appf2").toString
    Seq(("a", 1L)).toDF("k", "n")
      .withColumn("__batch_id", lit(0L)).write.mode("append").parquet(plainDir)
    assert(EventStream.gcCensusState(spark, plainDir) == 0)
  }

  test("compactCensusState: an append racing the compaction is never lost or nested — at every interleaving point") {
    // The swap design's two failure modes were (1) a reader hitting the
    // rename gap and (2) a concurrent foreachBatch append recreating
    // the destination mid-swap, nesting the tmp dir inside it. The
    // append-first design has NO such window; this pins the concrete
    // interleaving: a fresh delta lands BETWEEN the summary append and
    // the gc (exactly where a concurrent maintainer would put it).
    val stateDir = TestSpark.tempDir("graft-race").toString
    val census = Census(Seq("k"), Seq("n"))
    def delta(bid: Long, rows: (String, Long)*): Unit =
      rows.toSeq.toDF("k", "n").withColumn("__batch_id", lit(bid))
        .write.mode("append").parquet(stateDir)
    def fold() = EventStream.readCensusState(spark, stateDir, census)
      .orderBy($"k").collect().map(_.toSeq).toSeq
    delta(0L, "a" -> 1L, "b" -> 2L)
    delta(1L, "a" -> 3L)
    // summary appended (W=1), superseded deltas still on disk...
    assert(EventStream.compactCensusState(spark, stateDir, census,
      gc = false) == 1L)
    // ...and the racing append (monotonic id 2) lands before the gc
    delta(2L, "b" -> 5L, "c" -> 7L)
    assert(fold() == Seq(Seq("a", 4L), Seq("b", 7L), Seq("c", 7L)))
    // gc removes ONLY the superseded pre-summary files: the racer's
    // rows and the summary survive, the fold is unchanged, and the
    // directory never held a nested tmp dir (flat parquet files only)
    val removed = EventStream.gcCensusState(spark, stateDir)
    assert(removed >= 2)
    assert(fold() == Seq(Seq("a", 4L), Seq("b", 7L), Seq("c", 7L)))
    assert(new java.io.File(stateDir).listFiles.forall(!_.isDirectory))
    // the next compaction folds the racer into a higher-W summary
    assert(EventStream.compactCensusState(spark, stateDir, census) == 2L)
    assert(fold() == Seq(Seq("a", 4L), Seq("b", 7L), Seq("c", 7L)))
  }

  test("maintainDoremiState: weights off folded census equal the one-shot operator; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val stateDir = TestSpark.tempDir("graft-dw").toString
    val ckpt = TestSpark.tempDir("graft-dw-ck").toString
    // struct's token/bigram mass is SPLIT across batches — its census
    // sums must ADD across the fold for the MW chain to see the same
    // excess loss as the one-shot fit.
    val all = Seq(
      ("struct", "a b a b a b a b a b"),
      ("flat", "x x x x x x x x x x")) ++ Seq(
      ("struct", "a b a b a b a b"),
      ("flat", "x x x x x x x x"))
    val fullDf = all.toDF("source", "text")
    // pinned model: prices fit ONCE over the reference corpus
    val (uniP, biP) = graft.operators.Vocab.doremiPrices(fullDf, "text")
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("source", "text"), stateDir, ckpt, Vocab.doremiCensus,
      b => Vocab.doremiLmState(b, "source", "text", uniP, biP))
    try {
      src.addData(all.take(2): _*); q.processAllAvailable()
      src.addData(all.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def report(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"domain").collect().map(_.toSeq).toSeq
    val maintained = report(Vocab.doremiFromCensus(
      EventStream.readCensusState(spark, stateDir, Vocab.doremiCensus)))
    // same pinned prices + same data => equal to the one-shot operator
    // (whose internal fit runs over the same full corpus)
    val recomputed = report(graft.operators.Vocab.doremiWeights(
      fullDf, "text", "source"))
    assert(maintained == recomputed)
    // the learnable-structure domain carries the higher weight
    val byDomain = maintained.map(r => r.head -> r).toMap
    assert(byDomain("struct")(5).asInstanceOf[Double] >
      byDomain("flat")(5).asInstanceOf[Double])
    // replayed batch: identical (__batch_id, domain) census rows fold once
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(report(Vocab.doremiFromCensus(
      EventStream.readCensusState(spark, stateDir, Vocab.doremiCensus))) == maintained)
  }

  test("maintainGopherRateState: streamed pass rate equals batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val stateDir = TestSpark.tempDir("graft-gr").toString
    val ckpt = TestSpark.tempDir("graft-gr-ck").toString
    val stops = Seq("the", "a")
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("source", "text"), stateDir, ckpt,
      TextAnalysis.passRateCensus,
      b => TextAnalysis.gopherRateState(b, "source", "text", stops))
    // One passing doc (50+ alpha words incl. both stops), one failing
    // (too short). "web" is SPLIT across batches — its counts must ADD
    // (2 docs, 1 pass) across the fold, not latest-wins.
    val passDoc = (("the a " + Seq.tabulate(60)(i => s"word$i").mkString(" ")))
    val failDoc = "too short"
    val all = Seq(("web", passDoc), ("wiki", failDoc)) ++
      Seq(("web", failDoc), ("wiki", passDoc))
    try {
      src.addData(all.take(2): _*); q.processAllAvailable()
      src.addData(all.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def report(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"source").collect().map(_.toSeq).toSeq
    val maintained = report(TextAnalysis.gopherRateFromCounts(
      EventStream.readCensusState(spark, stateDir, TextAnalysis.passRateCensus)))
    val recomputed = report(graft.operators.TextAnalysis.gopherRate(
      all.toDF("source", "text"), "source", "text", stops))
    assert(maintained == recomputed)
    assert(maintained.exists(r => r(0) == "web" && r(1) == 2L && r(2) == 1L &&
      r(3) == 0.5))
    // replayed batch: identical (__batch_id, source) cells fold once
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(report(TextAnalysis.gopherRateFromCounts(
      EventStream.readCensusState(spark, stateDir, TextAnalysis.passRateCensus))) == maintained)
  }

  test("maintainAssocState: streamed chi2/V equals batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val stateDir = TestSpark.tempDir("graft-assoc").toString
    val ckpt = TestSpark.tempDir("graft-assoc-ck").toString
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("source", "lang"), stateDir, ckpt, Eval.assocCensus,
      b => Eval.assocState(b, "source", "lang"))
    // (web, en) is SPLIT across batches — its observed count must ADD
    // across the fold (3 = 2 + 1) before margins/expected are derived;
    // (wiki, fr) is a zero cell only the densified grid sees.
    val all = Seq(
      ("web", "en"), ("web", "en"), ("web", "fr"),
      ("wiki", "en"), ("wiki", "en")) ++ Seq(
      ("web", "en"), ("web", "de"),
      ("wiki", "en"), ("wiki", "de"))
    try {
      src.addData(all.take(5): _*); q.processAllAvailable()
      src.addData(all.drop(5): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"a", $"b").collect().map(_.toSeq).toSeq
    val corpus = all.toDF("source", "lang")
    val maintained = cells(Eval.chiSquareCellsFromCounts(
      EventStream.readCensusState(spark, stateDir, Eval.assocCensus)))
    assert(maintained ==
      cells(graft.operators.Eval.chiSquareCells(corpus, "source", "lang")))
    // zero cell present in the densified grid
    assert(maintained.exists(r => r(0) == "wiki" && r(1) == "fr" &&
      r(2) == 0L))
    val v = Eval.cramersVFromCounts(
      EventStream.readCensusState(spark, stateDir, Eval.assocCensus)).collect().map(_.toSeq).toSeq
    assert(v == graft.operators.Eval.cramersV(corpus, "source", "lang")
      .collect().map(_.toSeq).toSeq)
    // replayed batch: identical (__batch_id, a, b) cells fold once
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(cells(Eval.chiSquareCellsFromCounts(
      EventStream.readCensusState(spark, stateDir, Eval.assocCensus))) == maintained)
  }

  test("maintainHhiState: streamed concentration equals batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val stateDir = TestSpark.tempDir("graft-hhi").toString
    val ckpt = TestSpark.tempDir("graft-hhi-ck").toString
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("lang", "source"), stateDir, ckpt, Eval.hhiCensus,
      b => Eval.hhiState(b, "lang", "source"))
    // (en, web) is SPLIT across batches: its share must fold to 3/4
    // (HHI = (3² + 1²)/4² = 625000 ppm), not a per-batch snapshot.
    val all = Seq(
      ("en", "web"), ("en", "web"), ("fr", "wiki")) ++ Seq(
      ("en", "web"), ("en", "wiki"))
    try {
      src.addData(all.take(3): _*); q.processAllAvailable()
      src.addData(all.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"grp").collect().map(_.toSeq).toSeq
    val maintained = rows(Eval.hhiFromCounts(
      EventStream.readCensusState(spark, stateDir, Eval.hhiCensus)))
    assert(maintained == rows(graft.operators.Eval.hhiConcentration(
      all.toDF("lang", "source"), "lang", "source")))
    assert(maintained.exists(r => r(0) == "en" && r(3) == 625000L))
    assert(maintained.exists(r => r(0) == "fr" && r(3) == 1000000L))
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(rows(Eval.hhiFromCounts(
      EventStream.readCensusState(spark, stateDir, Eval.hhiCensus))) == maintained)
  }

  test("maintainKsState: streamed KS drift equals batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, Double)]
    val stateDir = TestSpark.tempDir("graft-ks").toString
    val ckpt = TestSpark.tempDir("graft-ks-ck").toString
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("grp", "v"), stateDir, ckpt, Eval.ksCensus,
      b => Eval.ksState(b, "grp", "v"))
    // (base, 1.0) mass is SPLIT across batches: the baseline CDF at
    // v_milli=1000 must fold both counts or the sup distance shifts.
    val all = Seq(
      ("base", 1.0), ("base", 2.0), ("base", 3.0),
      ("cand", 1.0), ("cand", 4.0)) ++ Seq(
      ("base", 1.0), ("base", 4.0),
      ("cand", 4.0), ("cand", 4.0))
    try {
      src.addData(all.take(5): _*); q.processAllAvailable()
      src.addData(all.drop(5): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"grp").collect().map(_.toSeq).toSeq
    val maintained = rows(Eval.ksFromCounts(
      EventStream.readCensusState(spark, stateDir, Eval.ksCensus), "base"))
    assert(maintained == rows(graft.operators.Eval.ksAgainstBaseline(
      all.toDF("grp", "v"), "grp", "v", "base")))
    // cand CDF(3.0) = 1/4 vs base 4/5 → sup = |1·5 − 4·4|·1e6/20 = 550000
    assert(maintained == Seq(Seq("cand", 4L, 5L, 550000L)))
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(rows(Eval.ksFromCounts(
      EventStream.readCensusState(spark, stateDir, Eval.ksCensus), "base")) == maintained)
  }

  test("maintainFertilityState: streamed tokenizer-efficiency equals batch recompute; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, String, String)]
    val stateDir = TestSpark.tempDir("graft-fert").toString
    val ckpt = TestSpark.tempDir("graft-fert-ck").toString
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("source", "lang", "text"), stateDir, ckpt,
      Vocab.fertilityCensus, b => Vocab.fertilityState(b, "text", "source", "lang"))
    // (a, en) token/char mass is SPLIT across batches: chars-per-token
    // must fold 4 chars / 3 ws tokens = 1333, not a per-batch snapshot.
    val all = Seq(
      ("a", "en", "x y"), ("b", "fr", "q r s")) ++ Seq(
      ("a", "en", "z"), ("b", "fr", "t u"))
    try {
      src.addData(all.take(2): _*); q.processAllAvailable()
      src.addData(all.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"source", $"lang").collect().map(_.toSeq).toSeq
    val maintained = rows(Vocab.fertilityFromCounts(
      EventStream.readCensusState(spark, stateDir, Vocab.fertilityCensus)))
    assert(maintained == rows(graft.operators.Vocab.tokenFertility(
      all.toDF("source", "lang", "text"), "text", "source", "lang")))
    assert(maintained.exists(r => r(0) == "a" && r(6) == 1333L))
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(rows(Vocab.fertilityFromCounts(
      EventStream.readCensusState(spark, stateDir, Vocab.fertilityCensus))) == maintained)
  }

  test("maintainDsirCensus: scoring off the folded model equals the one-pass fit; replays dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val stateDir = TestSpark.tempDir("graft-dsir").toString
    val ckpt = TestSpark.tempDir("graft-dsir-ck").toString
    val q = EventStream.maintainCensusState(
      src.toDS().toDF("doc_id", "text"), stateDir, ckpt, Vocab.dsirModelCensus,
      b => Vocab.dsirCensus(b, "doc_id", "text", isTarget = $"doc_id" % 7 === 0))
    // target bucket mass is SPLIT across batches (doc 0 in batch 1,
    // doc 7 in batch 2): the folded model's add-1 prices must see the
    // cross-batch totals, not a snapshot.
    val all = Seq(
      (0L, "zq zq wx wx zq"), (1L, "zq wx zq"), (2L, "mm nn mm nn mm")) ++ Seq(
      (7L, "zq wx zq wx"), (3L, "nn mm nn"), (5L, "zq zq wx wx zq wx zq"))
    try {
      src.addData(all.take(3): _*); q.processAllAvailable()
      src.addData(all.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    val corpus = all.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"doc_id").collect().map(_.toSeq).toSeq
    val maintained = rows(Vocab.dsirWeightsFromCensus(corpus, "doc_id", "text",
      EventStream.readCensusState(spark, stateDir, Vocab.dsirModelCensus)))
    val recomputed = rows(graft.operators.Vocab.dsirWeights(corpus,
      "doc_id", "text", isTarget = $"doc_id" % 7 === 0))
    assert(maintained == recomputed)
    // replayed batch: identical (__batch_id, bucket) cells fold once
    val st = spark.read.parquet(stateDir)
    st.filter($"__batch_id" === 0L).write.mode("append").parquet(stateDir)
    assert(rows(Vocab.dsirWeightsFromCensus(corpus, "doc_id", "text",
      EventStream.readCensusState(spark, stateDir, Vocab.dsirModelCensus))) == maintained)
  }

  test("maintainNoveltyState: streamed census equals batch novelty and overlap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String, String)]
    val stateDir = TestSpark.tempDir("graft-nov").toString
    val ckpt = TestSpark.tempDir("graft-nov-ck").toString
    val q = EventStream.maintainNoveltyState(
      src.toDS().toDF("doc_id", "text", "source"), "text", "source",
      stateDir, ckpt)
    val all = Seq(
      (1L, "one two three four", "a"),
      (2L, "one two three", "b"),   // shares a shingle with a, cross-batch
      (3L, "five six seven", "b"))
    try {
      src.addData(all(0)); q.processAllAvailable()
      src.addData(all(1), all(2)); q.processAllAvailable()
      // replay batch 0's rows verbatim: set union is idempotent
      src.addData(all(0)); q.processAllAvailable()
    } finally q.stop()
    val state = EventStream.readNoveltyState(spark, stateDir)
    val batchDocs = all.toDF("doc_id", "text", "source")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(graft.operators.Vocab.noveltyFromState(state).orderBy($"source")) ==
      rows(graft.operators.Vocab.sourceNovelty(batchDocs, "text", "source")
        .orderBy($"source")))
    assert(rows(graft.operators.Vocab.overlapFromState(state)
        .orderBy($"source_a", $"source_b")) ==
      rows(graft.operators.Vocab.sourceOverlap(batchDocs, "text", "source")
        .orderBy($"source_a", $"source_b")))
  }
}
