package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** PageRank over pair tables — SURVEY.md §2 graph-analytics row. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank: one hand-computed star iteration; hubs outrank leaves") {
    // Star a(1)-b(2), a-c(3), a-d(4): N=4, deg(a)=3, leaves deg 1.
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id1", "id2")
    val r1 = Graph.pageRank(pairs, iterations = 1).orderBy($"id").collect()
    val byId = r1.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // r(a) = 0.15/4 + 0.85 * (3 * round(0.25/1, 12))          = 0.675
    // r(leaf) = 0.15/4 + 0.85 * round(0.25/3, 12)             ≈ 0.108333333333
    assert(math.abs(byId(1L) - 0.675) < 1e-9, s"center ${byId(1L)}")
    assert(math.abs(byId(2L) - 0.108333333333) < 1e-9, s"leaf ${byId(2L)}")
    assert(byId(2L) == byId(3L) && byId(3L) == byId(4L))
  }

  test("pageRank: rank mass is conserved (no dangling nodes in a pair graph)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("id1", "id2")
    val out = Graph.pageRank(pairs, iterations = 3).collect()
    assert(out.length == 4)
    val total = out.map(_.getDouble(1)).sum
    // exact would be 1.0; the 12-decimal freezes perturb at ~1e-11
    assert(math.abs(total - 1.0) < 1e-8, s"mass $total")
    // guards
    intercept[IllegalArgumentException](Graph.pageRank(pairs, iterations = 0))
    intercept[IllegalArgumentException](Graph.pageRank(pairs, damping = 1.0))
  }

  test("pageRank: 25 iterations stay bounded (checkpoint seam) and equal the unseamed chain") {
    // The depth guard (checkpointEvery) must be value-invisible: a 25-round
    // run with the default seam every 8 rounds equals one with the seam
    // effectively off (checkpointEvery = 1000 keeps the whole chain lazy) —
    // and both complete without the analyzer blowup the guard exists to
    // prevent. Rank mass stays conserved after 25 damped rounds.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (5L, 6L))
      .toDF("id1", "id2")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val seamed = Graph.pageRank(pairs, iterations = 25)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val unseamed = Graph.pageRank(pairs, iterations = 25, checkpointEvery = 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(seamed == unseamed, "checkpoint seam changed rank values")
    assert(math.abs(seamed.values.sum - 1.0) < 1e-8, s"mass ${seamed.values.sum}")
    // The seams' pins and the returned ranks are cache-manager persists.
    spark.catalog.clearCache()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    intercept[IllegalArgumentException](
      Graph.pageRank(pairs, checkpointEvery = 0))
  }

  test("TopKNeighbors: equals window top-k under every partitioning (merge-truncate exactness)") {
    import graft.functions.TopKNeighbors.topKNeighbors
    // Scored candidate rows with DUPLICATES (same (id, neighbor, cos)
    // arriving through several LSH bands) — the aggregate must
    // de-duplicate and return the exact window top-3.
    val rnd = new scala.util.Random(42)
    val rows = (1 to 400).map { _ =>
      val id = rnd.nextInt(12).toLong
      val nb = rnd.nextInt(50).toLong + 100
      // cos is a pure function of (id, nb): duplicates carry identical bits
      val cos = ((id * 31 + nb) % 97).toDouble / 97.0
      (id, nb, cos)
    }.filter { case (id, nb, _) => id != nb }
    for (parts <- Seq(1, 3, 7)) {
      val df = rows.toDF("id", "neighbor_id", "cos_sim").repartition(parts)
      val agg = df.groupBy($"id")
        .agg(topKNeighbors($"neighbor_id", $"cos_sim", 3).as("nb"))
        .select($"id", posexplode($"nb"))
        .select($"id", ($"pos" + 1).cast("int").as("rank"),
          $"col._1".as("neighbor_id"), $"col._2".as("cos_sim"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"id").orderBy($"cos_sim".desc, $"neighbor_id")
      val win = df.dropDuplicates("id", "neighbor_id")
        .withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
      assert(agg == win, s"parts=$parts")
    }
  }

  test("TopKNeighbors: same neighbor under perturbed scores appears once, best kept") {
    import graft.functions.TopKNeighbors.topKNeighbors
    // The guard's case: duplicates arrive with NON-bit-identical scores
    // (per-orientation arithmetic / post-rounding) — weaker input than
    // the LSH call sites produce; each neighbor must still appear at
    // most once, at its best score. Exercised under multi-partition
    // merge so replacement happens in both reduce() and merge().
    val rows = Seq(
      (1L, 100L, 0.90), (1L, 100L, 0.9000000001), (1L, 100L, 0.89),
      (1L, 101L, 0.95), (1L, 101L, 0.94),
      (1L, 102L, 0.50), (1L, 103L, 0.40), (1L, 104L, 0.30))
    for (parts <- Seq(1, 4)) {
      val out = rows.toDF("id", "neighbor_id", "cos_sim").repartition(parts)
        .groupBy($"id")
        .agg(topKNeighbors($"neighbor_id", $"cos_sim", 3).as("nb"))
        .select(explode($"nb").as("e"))
        .select($"e._1".as("n"), $"e._2".as("c"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(out.map(_._1) == Seq(101L, 100L, 102L), s"parts=$parts: $out")
      assert(out.map(_._2) == Seq(0.95, 0.9000000001, 0.50), s"parts=$parts")
    }
  }

  test("degreeHistogram: hand-computed histogram; multi-edge pairs count a neighbor once") {
    // 1-2, 1-3, 1-4, 2-3: deg 1->3, 2->2, 3->2, 4->1
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("id1", "id2")
    val h = Graph.degreeHistogram(pairs).orderBy($"degree").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(h == Seq(1L -> 1L, 2L -> 2L, 3L -> 1L), h)
    // a duplicated pair row (band-collision style) must not double the edge
    val multi = Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("id1", "id2")
    val m = Graph.degreeHistogram(multi).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(m == Seq(1L -> 2L), m)
  }

  test("degreeHistogram: plan is census arithmetic — no window, no cartesian") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val plan = Graph.degreeHistogram(pairs).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Cartesian"), plan.take(2000))
  }

  test("pageRank: disconnected components rank independently; plan has no window") {
    val pairs = Seq((1L, 2L), (10L, 11L), (10L, 12L)).toDF("id1", "id2")
    val out = Graph.pageRank(pairs, iterations = 2)
    val rows = out.collect()
    assert(rows.length == 5)
    // the 2-clique's members tie exactly; the star center exceeds them
    val byId = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId(1L) == byId(2L))
    assert(byId(10L) > byId(11L))
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
  }
}
