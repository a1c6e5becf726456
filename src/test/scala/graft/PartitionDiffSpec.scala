package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental-validation triage family (TableDiff.partitionChecksum /
  * targetedDiff / sampledDiffEstimate): status semantics, order
  * independence of the checksum, targeted ≡ full-diff-restricted, disk
  * partition pruning, and sample-estimate consistency. */
class PartitionDiffSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // Six partitions exercising every status:
  //  p1 clean, p2 cell mutated (same count), p3 row dropped on sf,
  //  p4 absent on sf, p5 absent on hive, p6 same COUNT but a different
  //  pk (add+drop — only the checksum can catch it).
  private def hive = Seq(
    (1L, "p1", 10L), (2L, "p1", 20L),
    (3L, "p2", 30L), (4L, "p2", 40L),
    (5L, "p3", 50L), (6L, "p3", 60L),
    (7L, "p4", 70L),
    (9L, "p6", 90L)
  ).toDF("id", "part", "v")

  private def sf = Seq(
    (1L, "p1", 10L), (2L, "p1", 20L),
    (3L, "p2", 31L), (4L, "p2", 40L),
    (5L, "p3", 50L),
    (8L, "p5", 80L),
    (10L, "p6", 90L)
  ).toDF("id", "part", "v")

  test("partitionChecksum assigns every status correctly") {
    val got = TableDiff.partitionChecksum(hive, sf, "part", Seq("id"))
      .select("partition", "hive_count", "sf_count", "status")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      ("p1", 2L, 2L, "ok"),
      ("p2", 2L, 2L, "data_drift"),
      ("p3", 2L, 1L, "count_drift"),
      ("p4", 1L, 0L, "sf_missing"),
      ("p5", 0L, 1L, "hive_missing"),
      ("p6", 1L, 1L, "data_drift"))) // same count, pk swapped: sum differs
  }

  test("checksum is independent of row order and partitioning") {
    val base = TableDiff.partitionChecksum(hive, sf, "part", Seq("id"))
      .select("partition", "hive_checksum", "sf_checksum")
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getDecimal(2)))
      .sortBy(_._1).toSeq
    val shuffled = TableDiff.partitionChecksum(
        hive.repartition(7, col("v")).sortWithinPartitions(col("v").desc),
        sf.repartition(3), "part", Seq("id"))
      .select("partition", "hive_checksum", "sf_checksum")
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getDecimal(2)))
      .sortBy(_._1).toSeq
    assert(base == shuffled)
  }

  test("checksumTerm stays in [0, 2^60) — exact DECIMAL(38,0) sums for 10^18 rows") {
    val terms = hive.select(TableDiff.checksumTerm(Seq(col("id"), col("v"))).as("t"))
      .collect().map(_.getDecimal(0))
    assert(terms.forall(t => t.signum() >= 0 &&
      t.compareTo(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(60))) < 0))
  }

  test("targetedDiff equals the full diff's discrepant rows") {
    val targeted = TableDiff.targetedDiff(hive, sf, "part", Seq("id"))
      .select("pk", "partition", "status")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val full = TableDiff.diff(hive, sf, "id")
      .filter(!col("in_left") || !col("in_right") || col("hash_mismatch"))
      .join(hive.select(col("id").as("pk"), col("part"))
          .unionByName(sf.select(col("id").as("pk"), col("part"))).distinct(),
        Seq("pk"))
      .select(col("pk"),
        col("part"),
        when(col("in_left") && !col("in_right"), "hive_only")
          .when(col("in_right") && !col("in_left"), "sf_only")
          .otherwise("mismatch").as("status"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(targeted == full)
    assert(targeted == Set(
      (3L, "p2", "mismatch"), (6L, "p3", "hive_only"), (7L, "p4", "hive_only"),
      (8L, "p5", "sf_only"), (9L, "p6", "hive_only"), (10L, "p6", "sf_only")))
  }

  test("targetedDiff on identical sides is empty (no suspect partitions)") {
    assert(TableDiff.targetedDiff(hive, hive, "part", Seq("id")).count() == 0L)
  }

  test("targetedDiff prunes partitions on a partitioned parquet layout") {
    val dir = TestSpark.tempDir("pdiff").toString
    hive.write.partitionBy("part").parquet(s"$dir/hive")
    sf.write.partitionBy("part").parquet(s"$dir/sf")
    val l = spark.read.parquet(s"$dir/hive")
    val r = spark.read.parquet(s"$dir/sf")
    val td = TableDiff.targetedDiff(l, r, "part", Seq("id"))
    val rows = td.select("pk", "status").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSet
    assert(rows == Set((3L, "mismatch"), (6L, "hive_only"), (7L, "hive_only"),
      (8L, "sf_only"), (9L, "hive_only"), (10L, "sf_only")))
    // The suspect IN-list must reach the scans as PARTITION filters —
    // file-level pruning, the whole point of the triage at 100 TB. The
    // clean partition p1 must not appear in any scan's partition filter
    // region of the executed plan.
    val plan = td.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*part#[^\\]]*IN \\([^)]*\\)[^\\]]*\\]".r
    val filters = pf.findAllIn(plan).toList
    assert(filters.nonEmpty, s"no partition IN-filter in plan:\n$plan")
    assert(filters.forall(f => !f.contains("p1")),
      s"clean partition p1 not pruned:\n${filters.mkString("\n")}")
  }

  test("incremental checksum maintenance: batch-folded summaries equal the recompute") {
    val whole = Fixtures.hiveOrders(spark, TestSpark.Sf0001)
      .withColumn("part", date_format(col("o_orderdate"), "yyyy-MM"))
    val full = TableDiff.sideChecksums(whole, "part", Seq("o_orderkey"),
        exclude = Seq("o_orderdate"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
      .sortBy(_._1).toSeq
    // Three arbitrary disjoint batches (uneven, one empty-ish), folded in
    // a different order than the data: the monoid must not care.
    val batches = Seq(
      whole.filter(col("o_orderkey") % 3 === 2),
      whole.filter(col("o_orderkey") % 3 === 0),
      whole.filter(col("o_orderkey") % 3 === 1))
    val folded = batches
      .map(b => TableDiff.sideChecksums(b, "part", Seq("o_orderkey"),
        exclude = Seq("o_orderdate")))
      .reduce(TableDiff.mergeChecksums)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
      .sortBy(_._1).toSeq
    assert(folded == full)
    // And the maintained summaries feed the same status logic.
    val status = TableDiff.checksumStatus(
        batches.map(b => TableDiff.sideChecksums(b, "part", Seq("o_orderkey"),
          exclude = Seq("o_orderdate"))).reduce(TableDiff.mergeChecksums),
        TableDiff.sideChecksums(whole, "part", Seq("o_orderkey"),
          exclude = Seq("o_orderdate")))
      .select("status").distinct().collect().map(_.getString(0)).toSeq
    assert(status == Seq("ok"))
  }

  test("checksumStatus: a partition deleted on BOTH sides (n=0 after a " +
      "negated-terms merge) is ok, not sf_missing") {
    import spark.implicits._
    // Summaries fold to zero on both sides for partition "gone" — the
    // delete-via-negated-terms pattern; only "live" still has rows.
    val zero = java.math.BigDecimal.ZERO
    def sum(rows: Seq[(String, Long, java.math.BigDecimal)]) =
      rows.toDF("partition", "n", "checksum")
        .select(col("partition"), col("n"),
          col("checksum").cast("decimal(38,0)").as("checksum"))
    val h = sum(Seq(("gone", 0L, zero), ("live", 3L, java.math.BigDecimal.valueOf(77))))
    val s = sum(Seq(("gone", 0L, zero), ("live", 3L, java.math.BigDecimal.valueOf(77))))
    val st = TableDiff.checksumStatus(h, s)
      .collect().map(r => r.getAs[String]("partition") -> r.getAs[String]("status")).toMap
    assert(st == Map("gone" -> "ok", "live" -> "ok"))
    // One-sided emptiness still reports the missing side.
    val s2 = sum(Seq(("gone", 2L, java.math.BigDecimal.valueOf(5))))
    val st2 = TableDiff.checksumStatus(h.filter(col("partition") === "gone"), s2)
      .collect().map(r => r.getAs[String]("status")).toSeq
    assert(st2 == Seq("hive_missing"))
  }

  test("randomized: fold == recompute and statuses survive repartitioning") {
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 500).map { i =>
        (i.toLong, s"p${rnd.nextInt(9)}", rnd.nextLong(),
          rnd.alphanumeric.take(rnd.nextInt(12)).mkString)
      }
      val df = rows.toDF("id", "part", "v", "s")
      val full = TableDiff.sideChecksums(df, "part", Seq("id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
        .sortBy(_._1).toSeq
      // Random 3-way split, folded in shuffled order.
      val assign = rows.map(_ => rnd.nextInt(3))
      val batches = rnd.shuffle(List(0, 1, 2)).map { b =>
        rows.zip(assign).collect { case (r, a) if a == b => r }.toDF("id", "part", "v", "s")
      }
      val folded = batches.map(TableDiff.sideChecksums(_, "part", Seq("id")))
        .reduce(TableDiff.mergeChecksums)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
        .sortBy(_._1).toSeq
      assert(folded == full, s"seed=$seed")
      // Repartitioned input: identical summary (order independence).
      val reparted = TableDiff.sideChecksums(
          df.repartition(11, col("v")).sortWithinPartitions(col("s")),
          "part", Seq("id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
        .sortBy(_._1).toSeq
      assert(reparted == full, s"seed=$seed")
    }
  }

  test("partitionChecksum tolerates column-ORDER differences between sides") {
    // Same columns, different schema order: both sides must hash in the
    // left side's order, so identical data reads as all-ok.
    val reordered = hive.select(col("v"), col("part"), col("id"))
    val statuses = TableDiff.partitionChecksum(hive, reordered, "part", Seq("id"))
      .select("status").distinct().collect().map(_.getString(0)).toSeq
    assert(statuses == Seq("ok"))
    intercept[IllegalArgumentException](
      TableDiff.partitionChecksum(hive, sf, "part", Seq("id"),
        exclude = Seq("part")))
    intercept[IllegalArgumentException](
      TableDiff.targetedDiff(hive, sf, "part", Seq("id"), exclude = Seq("part")))
  }

  test("partitionChecksum refuses drifted compare columns; schemaDrift reports them") {
    val extra = sf.withColumn("audit_ts", lit("2024-01-01"))
    intercept[IllegalArgumentException](
      TableDiff.partitionChecksum(hive, extra, "part", Seq("id")))
    val drift = TableDiff.schemaDrift(
        hive.withColumn("only_left", lit(1)),
        extra.withColumn("v", col("v").cast("int")))
      .collect().map(r => (r.getString(0), r.getString(3))).toSeq
    assert(drift == Seq(
      ("id", "ok"), ("part", "ok"), ("v", "type_drift"),
      ("only_left", "hive_only"), ("audit_ts", "sf_only")))
    val types = TableDiff.schemaDrift(hive, extra)
      .filter(col("column") === "v").collect().head
    assert(types.getString(1) == "bigint" && types.getString(2) == "bigint")
  }

  test("targetedDiff reaches a drifted NULL-partition bucket") {
    val l = Seq((1L, Some("p1"), 10L), (2L, None: Option[String], 20L))
      .toDF("id", "part", "v")
    val r = Seq((1L, Some("p1"), 10L), (2L, None: Option[String], 99L))
      .toDF("id", "part", "v")
    // Triage flags the NULL bucket...
    val drifted = TableDiff.partitionChecksum(l, r, "part", Seq("id"))
      .filter(col("status") =!= "ok").select("partition").collect()
    assert(drifted.map(_.getString(0)).toSeq == Seq(null))
    // ...and the targeted diff must FIND its row (isin(null) never
    // matches — the null suspect needs the isNull disjunct).
    val rows = TableDiff.targetedDiff(l, r, "part", Seq("id"))
      .select("pk", "status").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(rows == Seq((2L, "mismatch")))
  }

  test("targetedDiff works when the partition column is part of the composite pk") {
    val l = Seq(("d1", 1L, 10L), ("d1", 2L, 20L), ("d2", 3L, 30L))
      .toDF("day", "seq", "v")
    val r = Seq(("d1", 1L, 10L), ("d1", 2L, 21L), ("d2", 3L, 30L))
      .toDF("day", "seq", "v")
    val rows = TableDiff.targetedDiff(l, r, "day", Seq("day", "seq"))
      .select("pk", "partition", "status").collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2))).toSeq
    assert(rows == Seq(("d1:2", "d1", "mismatch")))
  }

  test("sampledDiffEstimate at frac=1 reproduces the full diff's counts") {
    val row = TableDiff.sampledDiffEstimate(hive, sf, Seq("id"), frac = 1.0)
      .collect().head
    assert(row.getAs[Long]("hive_only_sampled") == 3L) // 6, 7, 9
    assert(row.getAs[Long]("sf_only_sampled") == 2L)   // 8, 10
    assert(row.getAs[Long]("mismatch_sampled") == 1L)  // 3
    assert(row.getAs[Double]("mismatch_est") == 1.0)
  }

  test("sampledDiffEstimate equals the full diff restricted to sampled keys") {
    import graft.operators.Sampling
    val frac = 0.25
    val l = Fixtures.hiveOrders(spark, TestSpark.Sf0001)
    val r = Fixtures.sfOrders(spark, TestSpark.Sf0001)
    val row = TableDiff.sampledDiffEstimate(l, r, Seq("o_orderkey"), frac = frac)
      .collect().head
    // Independent path: full diff, THEN restrict to the sampled ranks —
    // by-key consistency means both orders of (sample, diff) agree.
    val keep = Sampling.hashRankHex(col("pk").cast("string"), "graftdiff") <
      lit(Sampling.thresholdHex(frac))
    val full = TableDiff.diff(l, r, "o_orderkey").filter(keep)
    val exp = full.agg(
      count(when(col("in_left") && !col("in_right"), 1)),
      count(when(col("in_right") && !col("in_left"), 1)),
      count(when(col("hash_mismatch"), 1))).collect().head
    assert(row.getAs[Long]("hive_only_sampled") == exp.getLong(0))
    assert(row.getAs[Long]("sf_only_sampled") == exp.getLong(1))
    assert(row.getAs[Long]("mismatch_sampled") == exp.getLong(2))
    assert(row.getAs[Double]("hive_only_est") == exp.getLong(0) / frac)
    // Scaled estimates should be in the neighborhood of the true counts
    // (exactly 1/frac of an unbiased per-key Bernoulli sample).
    val trueMism = TableDiff.diff(l, r, "o_orderkey")
      .filter(col("hash_mismatch")).count()
    assert(math.abs(row.getAs[Double]("mismatch_est") - trueMism) <=
      4 * math.sqrt(trueMism / frac) + 8)
  }
}
