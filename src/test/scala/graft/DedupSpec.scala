package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.queries.TextQueries
import graft.sources.Tables

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus = TextQueries.dupCorpus(spark, TestSpark.Sf0001).cache()

  test("shingles: docs shorter than n tokens yield empty sets, not a crash") {
    val tiny = Seq((1L, "one two"), (2L, ""), (3L, "a b c d")).toDF("doc_id", "text")
    val out = tiny.select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
      .orderBy($"doc_id").collect()
    assert(out(0).getSeq[String](1).isEmpty)
    assert(out(1).getSeq[String](1).isEmpty)
    assert(out(2).getSeq[String](1) == Seq("a b c", "b c d"))
    // and the jaccard pipeline tolerates such docs end-to-end
    assert(Dedup.ngramJaccardPairs(tiny, "doc_id", "text").count() == 0)
  }

  test("exactGroups finds exactly the injected %7 copies") {
    val g = Dedup.exactGroups(corpus, "doc_id", "text")
    val rows = g.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("group_size") == 2))
    // every group is {id, id+100000}
    assert(rows.forall { r =>
      val ids = r.getAs[String]("member_ids").split(",").map(_.toLong)
      ids(0) % 7 == 0 && ids(1) == ids(0) + 100000
    })
  }

  test("incrementalNew admits only new, batch-canonical fingerprints") {
    import graft.operators.TextAnalysis
    val seen = Seq("alpha beta", "gone doc").toDF("text")
      .select(TextAnalysis.docFingerprint($"text").as("fp"))
    val batch = Seq(
      (10L, "alpha beta"),              // already ingested -> dropped
      (11L, "fresh content"),           // new -> kept
      (12L, "fresh content"),           // batch duplicate -> collapsed into 11
      (13L, null.asInstanceOf[String])  // null text -> routed around state
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNew(batch, seen, "doc_id", "text").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(11L))
    // endpoint: every even-id RAW document is historical, so none returns
    val q = TextQueries.queries("q_dedup_incremental")(spark, TestSpark.Sf0001)
      .collect().map(_.getAs[Long]("id"))
    assert(q.nonEmpty)
    assert(!q.exists(id => id < 100000 && id % 2 == 0))
    // tail-marker variants (+200000) carry NEW text -> present
    assert(q.exists(_ >= 200000))
  }

  test("incrementalNewBloom == incrementalNew: well-sized, undersized " +
      "(false-positive-heavy), and EMPTY-seen blooms all stay exact") {
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val seen = docs.filter($"doc_id" % 2 === 0)
      .select(TextAnalysis.docFingerprint($"text").as("fp"))
    val batch = docs.limit(300)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().sorted.toSeq
    val exact = ids(Dedup.incrementalNew(batch, seen, "doc_id", "text"))
    // Well-sized bloom: most rows skip the seen join, result identical.
    assert(ids(Dedup.incrementalNewBloom(batch, seen, "doc_id", "text",
      expectedItems = 1000L, fpp = 0.01)) == exact)
    // Grossly undersized bloom (8 expected items for ~250 fps): nearly
    // every row false-positives into the verify join — still exact,
    // because the bloom has no false NEGATIVES and hits re-check.
    assert(ids(Dedup.incrementalNewBloom(batch, seen, "doc_id", "text",
      expectedItems = 8L, fpp = 0.5)) == exact)
    // Empty seen side: bloom_filter_agg returns a null filter; the gate
    // must pass everything (first-batch ingest), not drop everything.
    val emptySeen = seen.filter(lit(false))
    assert(ids(Dedup.incrementalNewBloom(batch, emptySeen, "doc_id", "text")) ==
      ids(Dedup.incrementalNew(batch, emptySeen, "doc_id", "text")))
  }

  test("ngramJaccard finds exact copies at J=1 and tail-variants above 0.5") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5, 10000)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Double]("jaccard")))
    // a < 100000 keeps copy-of-copy pairs (ids divisible by both 7 and 11,
    // e.g. 100231↔200231) out of the exact-copy bucket.
    val exact = pairs.filter { case (a, b, _) => a < 100000 && b == a + 100000 }
    val tails = pairs.filter { case (a, b, _) => a < 100000 && b == a + 200000 }
    assert(exact.nonEmpty && exact.forall(_._3 == 1.0))
    assert(tails.nonEmpty && tails.forall(t => t._3 > 0.5 && t._3 < 1.0))
  }

  test("thresholdCurve: per-cut counts match direct filters; zero cuts kept; monotone") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5, 10000)
      .cache()
    val cuts = Seq(0.5, 0.7, 0.9, 1.0)
    val curve = Dedup.thresholdCurve(pairs, cuts)
      .orderBy($"threshold").collect()
    assert(curve.map(_.getAs[Double]("threshold")).toSeq == cuts)
    // each point equals the direct filter's pair/doc counts
    cuts.zip(curve).foreach { case (t, row) =>
      val hit = pairs.filter($"jaccard" >= t)
      assert(row.getAs[Long]("n_pairs") == hit.count())
      val docs = hit.select($"id1").union(hit.select($"id2"))
        .distinct().count()
      assert(row.getAs[Long]("n_docs") == docs)
    }
    // monotone: loosening the cut can only add pairs and docs
    val np = curve.map(_.getAs[Long]("n_pairs"))
    val nd = curve.map(_.getAs[Long]("n_docs"))
    assert(np.sliding(2).forall { case Array(a, b) => a >= b })
    assert(nd.sliding(2).forall { case Array(a, b) => a >= b })
    // the corpus has exact copies (J=1) and tail variants (0.5<J<1):
    // the 1.0 point is populated but strictly below the 0.5 point
    assert(np.last > 0 && np.last < np.head)
    // a cut nothing clears still lands on the curve as zeros
    val above = Dedup.thresholdCurve(
      pairs.filter($"jaccard" < 1.0), Seq(0.5, 1.0))
      .orderBy($"threshold").collect()
    assert(above(1).getAs[Long]("n_pairs") == 0L &&
      above(1).getAs[Long]("n_docs") == 0L)
    // guards: empty, duplicate, below-floor threshold lists
    intercept[IllegalArgumentException](Dedup.thresholdCurve(pairs, Nil))
    intercept[IllegalArgumentException](
      Dedup.thresholdCurve(pairs, Seq(0.6, 0.6)))
    intercept[IllegalArgumentException](
      Dedup.thresholdCurve(pairs, Seq(0.4)))
    pairs.unpersist()
    ()
  }

  test("minhash LSH recalls most true near-dup pairs") {
    val truth = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.7, 10000)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val cand = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 16, 4, 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    val recall = truth.count(cand.contains).toDouble / truth.size
    assert(recall >= 0.9, s"LSH recall $recall over ${truth.size} true pairs")
  }

  test("LSH/SimHash bucket cap drops degenerate buckets, keeps real near-dups") {
    // 30 identical boilerplate docs form one degenerate bucket per band
    // (size 30 > cap 10): with no cap that is 435 pairs × 4 bands of
    // explode; with the cap they are dropped wholesale. A genuinely
    // near-duplicate pair (distinct text, one token changed) lives in
    // buckets of size 2 and must survive.
    val boiler = (0L until 30L).map(i => (i,
      "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"))
    val near = Seq(
      (1000L, "the quick brown fox jumps over the lazy dog while the spark engine " +
        "shuffles partitions across executors and joins the buckets deterministically"),
      (1001L, "the quick brown fox jumps over the lazy dog while the spark engine " +
        "shuffles partitions across executors and joins the buckets efficiently"))
    // SimHash needs near-IDENTICAL docs (one token in 23 flips > 3 of 64
    // bits): an exact-duplicate pair checks its cap-survival path.
    val dup = Seq(
      (2000L, "completely separate prose about columnar storage and vectorized reads"),
      (2001L, "completely separate prose about columnar storage and vectorized reads"))
    val df = (boiler ++ near ++ dup).toDF("doc_id", "text")
    // 8 bands × 2 rows: per-band collision ≈ J², so a J≈0.9 pair agrees on
    // ≥1 band with near-certainty (4×4 banding left this exact pair with
    // zero matching bands on this hash draw).
    val lsh = Dedup.minhashLshPairs(df, "doc_id", "text", bands = 8, bucketCap = 10)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(!lsh.exists { case (a, b) => a < 30 && b < 30 })
    assert(lsh.contains((1000L, 1001L)))
    val sim = Dedup.simhashPairs(df, "doc_id", "text", bucketCap = 10)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(!sim.exists { case (a, b) => a < 30 && b < 30 })
    assert(sim.contains((2000L, 2001L)))
  }

  test("cappedCollectList: buffer never exceeds cap+1 under update or merge") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    val agg = graft.functions.CappedCollectList(
      BoundReference(0, LongType, nullable = true), cap = 5)
    // A df≫cap key: 100 updates must stall the buffer at cap+1 = 6.
    var buf = agg.createAggregationBuffer()
    (1L to 100L).foreach { i =>
      buf = agg.update(buf, InternalRow(i))
      assert(buf.length <= 6, s"buffer grew to ${buf.length}")
    }
    assert(buf.length == 6) // poison marker: strictly above the size<=cap filter
    // Merge of two full partials stays capped as well.
    var other = agg.createAggregationBuffer()
    (101L to 200L).foreach(i => other = agg.update(other, InternalRow(i)))
    assert(agg.merge(buf, other).length == 6)
    // Under-cap groups collect completely across merges (no truncation).
    var a = agg.createAggregationBuffer()
    var b = agg.createAggregationBuffer()
    (1L to 2L).foreach(i => a = agg.update(a, InternalRow(i)))
    (3L to 4L).foreach(i => b = agg.update(b, InternalRow(i)))
    assert(agg.merge(a, b).toSeq.asInstanceOf[Seq[Long]].sorted == Seq(1L, 2L, 3L, 4L))
  }

  test("capped bucket build: under-cap buckets identical to collect_list, over-cap dropped") {
    import graft.functions.CappedCollectList.cappedCollectList
    // One mega-key (60 rows), several normal keys (2-4 rows), cap 10.
    val rows = (0 until 60).map(i => ("mega", i.toLong)) ++
      (0 until 9).flatMap(k => (0 until 2 + k % 3).map(i => (s"k$k", (100 * k + i).toLong)))
    val df = rows.toDF("key", "id")
    val capped = df.groupBy($"key").agg(cappedCollectList($"id", 10).as("ids"))
      .filter(size($"ids") > 1 && size($"ids") <= 10)
      .select($"key", array_sort($"ids").as("ids"))
    val plain = df.groupBy($"key").agg(collect_list($"id").as("ids"))
      .filter(size($"ids") > 1 && size($"ids") <= 10)
      .select($"key", array_sort($"ids").as("ids"))
    val c = capped.collect().map(r => (r.getString(0), r.getSeq[Long](1))).toMap
    val p = plain.collect().map(r => (r.getString(0), r.getSeq[Long](1))).toMap
    assert(c == p)
    assert(!c.contains("mega"))
    assert(c.size == 9)
  }

  test("minhashLshPairs: signature rides in the posting struct — plan has <=2 shuffles, no join") {
    // (The shared fixture's .cache() may substitute an InMemoryTableScan
    // for the corpus scan via CacheManager plan-matching — harmless here:
    // the assertions are about shuffles and joins above the scan.)
    val plan = Dedup.minhashLshPairs(TextQueries.dupCorpus(spark, TestSpark.Sf0001),
        "doc_id", "text", 3, 16, 4, 0.5)
      .queryExecution.executedPlan.toString
    val exchanges = """Exchange hashpartitioning""".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected <=2 shuffles, got $exchanges:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"signature verification must be join-free:\n${plan.take(3000)}")
  }

  test("native MinHash/SimHash expressions match their declarative twins bit-for-bit") {
    import graft.operators.TextAnalysis
    val docs = corpus.limit(60).cache()
    // MinHash twin: explode + groupBy min of xxhash64(lit(i), sh)
    val sh = docs.select($"doc_id".as("id"), explode(Dedup.shingles($"text", 3)).as("sh"))
    val aggs = (0 until 16).map(i => min(xxhash64(lit(i), col("sh"))).as(s"mh_$i"))
    val expectedMh = sh.groupBy("id").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    val gotMh = Dedup.minhashSignature(docs, "doc_id", "text", 3, 16).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    assert(expectedMh.nonEmpty && gotMh == expectedMh)
    // SimHash twin: explode + groupBy 64 bit-sums + pack
    val tok = docs.select($"doc_id".as("id"),
        explode(TextAnalysis.tokens(TextAnalysis.normalized($"text"))).as("w"))
      .withColumn("h", xxhash64($"w"))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright($"h", i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$i"))
    val packed = (0 until 64).map(i =>
      when(col(s"b_$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    val expectedSim = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select($"id", packed.as("simhash")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotSim = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expectedSim.nonEmpty && gotSim == expectedSim)
    docs.unpersist()
  }

  test("simhash: identical docs collide at hamming 0; pairs are symmetric-free") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Int]("hamming")))
    val exactCopies = pairs.filter { case (a, b, _) => a < 100000 && b == a + 100000 }
    assert(exactCopies.nonEmpty && exactCopies.forall(_._3 == 0))
    assert(pairs.forall { case (a, b, _) => a < b })
  }

  // ---- connected components: the driver path against the label loop ----

  /** Both paths of connectedComponents on the same pairs, the driver
    * union-find and the distributed loop, give the same schema and rows;
    * returns the rows. */
  private def assertSamePaths(pairs: org.apache.spark.sql.DataFrame, clue: String) = {
    val local = Dedup.localLabels(Dedup.closedEdges(pairs), Dedup.MaxLocalEdges).get
    val loop = Dedup.labelLoop(Dedup.closedEdges(pairs), maxIter = 20)
    assert(local.schema == loop.schema, clue)
    val rows = local.collect().toSet
    try assert(rows == loop.collect().toSet, clue) finally loop.unpersist()
    rows
  }

  test("connectedComponents: driver union-find and label loop agree, rows and schema") {
    // Random graphs of ~200 vertices under shuffled ids: 40 blocks of
    // 2-8 vertices with as many random pairs each (self-loops and
    // duplicates included), so the loop converges in a few rounds.
    (0 until 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val perm = rnd.shuffle((0 until 400).toVector)
      val pairs = Iterator.iterate(0)(_ + 8).takeWhile(_ < 320).flatMap { base =>
        val k = 2 + rnd.nextInt(7)
        Seq.fill(k)((perm(base + rnd.nextInt(k)).toLong, perm(base + rnd.nextInt(k)).toLong))
      }.toSeq
      assertSamePaths(pairs.toDF("id1", "id2"), s"random seed $seed")
    }
    val selfLoops = assertSamePaths(Seq((3L, 3L), (7L, 7L)).toDF("id1", "id2"), "self-loops")
    assert(selfLoops.map(r => (r.getLong(0), r.getLong(1))) == Set((3L, 3L), (7L, 7L)))
    assert(assertSamePaths(Seq.empty[(Long, Long)].toDF("id1", "id2"), "empty").isEmpty)
    val dupRev = assertSamePaths(
      Seq((2L, 1L), (1L, 2L), (2L, 1L), (3L, 2L), (9L, 8L), (8L, 9L)).toDF("id1", "id2"),
      "duplicated and reversed pairs")
    assert(dupRev.map(r => (r.getLong(0), r.getLong(1))) ==
      Set((1L, 1L), (2L, 1L), (3L, 1L), (8L, 8L), (9L, 8L)))
    // A NULL id is labeled with the smallest component among its
    // partners and merges none of them.
    val withNull = assertSamePaths(Seq((Option(1L), Option(2L)), (Option(2L), None),
        (Option(5L), None), (Option(6L), Option(7L)), (None, None)).toDF("id1", "id2"),
      "null id")
    assert(withNull.map(r => (Option(r.get(0)), r.getLong(1))) == Set(
      (Some(1L), 1L), (Some(2L), 1L), (Some(5L), 5L), (Some(6L), 6L),
      (Some(7L), 6L), (None, 1L)))
    val ints = assertSamePaths(Seq((4, 2), (2, 9), (11, 10)).toDF("id1", "id2"), "int ids")
    assert(ints.map(r => (r.getInt(0), r.getInt(1))) ==
      Set((2, 2), (4, 2), (9, 2), (10, 10), (11, 10)))
  }

  test("connectedComponents: a 40-vertex chain is one component; the loop alone throws") {
    // Diameter 39: the public entry needs no rounds under the bound,
    // while the loop would need 40. (The loop is held to 10 rounds here:
    // each round's rendered plan nests the last one's twice, so 20
    // rounds exhaust the heap before the bound's throw is reached.)
    val chain = (0 until 39).map(i => (i.toLong, i + 1L)).toDF("id1", "id2")
    val got = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(got.length == 40 && got.forall(_._2 == 0L))
    intercept[IllegalStateException](Dedup.labelLoop(Dedup.closedEdges(chain), maxIter = 10))
  }

  test("connectedComponents gate: the bound counts undirected rows; other id types fall through") {
    // (1,2),(2,3) collect 5 rows: three self-loops and two edges.
    val edges = Dedup.closedEdges(Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"))
    assert(Dedup.localLabels(edges, 5).nonEmpty)
    assert(Dedup.localLabels(edges, 4).isEmpty)
    assert(Dedup.localLabels(Dedup.closedEdges(
      Seq((1.0, 2.0)).toDF("id1", "id2")), Dedup.MaxLocalEdges).isEmpty)
  }

  test("connectedComponents under the bound: at most 3 jobs, no cached block left, " +
      "labels equal to the loop's") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (20L, 20L))
      .toDF("id1", "id2")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var labels = Set.empty[org.apache.spark.sql.Row]
    val jobs = JobLog.startedBy(spark) {
      labels = Dedup.connectedComponents(pairs).collect().toSet
    }
    assert(jobs.size <= 3, s"jobs: $jobs")
    assert(sc.getPersistentRDDs.keySet == before)
    val loop = Dedup.labelLoop(Dedup.closedEdges(pairs), maxIter = 20)
    try assert(labels == loop.collect().toSet) finally loop.unpersist()
  }

  test("incrementalClusters equals a full recompute over old ∪ new pairs") {
    // Old pairs: {1,2,3} and {10,11}; singleton-free labeling.
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(oldPairs)
    // New batch: extends {1,2,3} with 4, BRIDGES the two old components
    // via (3,10), and opens a fresh component {20,21}.
    val newPairs = Seq((3L, 4L), (3L, 10L), (20L, 21L)).toDF("id1", "id2")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = norm(Dedup.incrementalClusters(labels, newPairs))
    val full = norm(Dedup.connectedComponents(oldPairs.unionByName(newPairs)))
    assert(inc == full)
    assert(inc == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 1L), (11L, 1L), (20L, 20L), (21L, 20L)))
    // An untouched component keeps its canonical label.
    val inc2 = norm(Dedup.incrementalClusters(labels,
      Seq((20L, 21L)).toDF("id1", "id2")))
    assert(inc2 == Set((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)))
  }

  test("dropCommonLines strikes corpus-common lines, keeps order, drops empty docs") {
    val docs = Seq(
      (1L, "BANNER\nalpha one\nFOOTER"),
      (2L, "BANNER\nbeta two"),
      (3L, "gamma three\nFOOTER"),
      (4L, "BANNER\nFOOTER"),          // nothing survives → doc dropped
      (5L, "delta five")
    ).toDF("doc_id", "text")
    val out = Dedup.dropCommonLines(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, "alpha one"),
      (2L, 2L, 1L, "beta two"),
      (3L, 2L, 1L, "gamma three"),
      (5L, 1L, 1L, "delta five")))
  }

  test("dropCommonLines: minDf is DOCUMENT frequency, not occurrence count") {
    // "dup" occurs twice in ONE doc and nowhere else → document
    // frequency 1 → KEPT (within-doc repetition is the within-doc
    // pass's business, not corpus boilerplate; counting occurrences
    // would strike it corpus-wide and over-delete vs CCNet semantics).
    val docs = Seq(
      (1L, "dup\nkeep\ndup"),
      (2L, "shared\nother"),
      (3L, "shared\nthird")).toDF("doc_id", "text")
    val out = Dedup.dropCommonLines(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    // "shared" lives in docs 2 and 3 → df=2 → struck; order preserved.
    assert(out.toSeq == Seq(
      (1L, 3L, "dup\nkeep\ndup"), (2L, 1L, "other"), (3L, 1L, "third")))
    // minDf=3 spares the 2-doc line too.
    val relaxed = Dedup.dropCommonLines(docs, "doc_id", "text", minDf = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(3)))
    assert(relaxed.toSeq == Seq(
      (1L, "dup\nkeep\ndup"), (2L, "shared\nother"), (3L, "shared\nthird")))
    intercept[IllegalArgumentException](
      Dedup.dropCommonLines(docs, "doc_id", "text", minDf = 1))
  }

  test("dropCommonLines ignores NULL-text rows") {
    val docs = Seq((1L, Some("a\nb")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
    val out = Dedup.dropCommonLines(docs, "doc_id", "text")
      .collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L))
  }

  test("editDistancePairs: blocked pairs within threshold; block boundary respected") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over it"),
      (2L, "the quick brown fox jumps over it"),      // exact copy -> dist 0
      (3L, "the quick brown fox jumps over me"),      // 2-char edit
      (4L, "the quick brown cat sat on the mat on the mat on the mat on " +
        "the mat on the mat zzzz yyy xxx qqq ppp"),   // same block, > maxDist
      (5L, "a different start entirely fox jumps"),   // different block
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(docs, "doc_id", "text",
      prefixLen = 16, maxDist = 10)
      .orderBy($"id1", $"id2").collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs == Seq((1L, 2L, 0L), (1L, 3L, 2L), (2L, 3L, 2L)))
    intercept[IllegalArgumentException](
      Dedup.editDistancePairs(docs, "doc_id", "text", prefixLen = 0))
  }

  test("containmentPairs: near-superset found where Jaccard misses; contained side reported") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),                                          // short doc
      (2L, base + " lambda mu nu xi omicron pi rho sigma " +
        "tau upsilon phi chi psi omega one two three four five six"), // superset
      (3L, "totally different content with other words entirely here")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, minContainment = 0.9).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getAs[Long]("id1"), r.getAs[Long]("id2")) == (1L, 2L))
    assert(r.getAs[Double]("containment") == 1.0) // all of doc 1's shingles
    assert(r.getAs[Long]("contained_id") == 1L)
    // Jaccard at the same threshold misses this pair (union is large)
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, minJaccard = 0.9).collect()
    assert(j.isEmpty)
  }

  test("sourceNovelty: unique vs shared shingles per source; all-null source absent") {
    val docs = Seq(
      (1L, "one two three four five", "a"),   // 3 shingles, all unique to a
      (2L, "one two three four five", "b"),   // same 3 shingles -> shared
      (3L, "six seven eight nine ten", "b"),  // 3 more, unique to b
      (4L, null.asInstanceOf[String], "c")
    ).toDF("doc_id", "text", "source")
    val out = graft.operators.Vocab.sourceNovelty(docs, "text", "source")
      .orderBy($"source").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b")) // c absent
    assert(out(0).getAs[Long]("n_shingles") == 3L)
    assert(out(0).getAs[Long]("n_unique") == 0L) // a's shingles all in b
    assert(out(0).getAs[Double]("novelty") == 0.0)
    assert(out(1).getAs[Long]("n_shingles") == 6L)
    assert(out(1).getAs[Long]("n_unique") == 3L)
    assert(out(1).getAs[Double]("novelty") == 0.5)
  }

  test("dupRateBySource: corpus-wide fingerprint census; per-source rates") {
    val docs = Seq(
      (1L, "same opening words here", "a"),
      (2L, "same opening words here tail differs", "a"),  // same 5-prefix? 4 tokens vs 5 -> check
      (3L, "unique text one", "a"),
      (4L, "same opening words here", "b"),               // mirrors a's content
      (5L, "another unique text", "b")
    ).toDF("doc_id", "text", "source")
    val out = graft.operators.Monitoring.dupRateBySource(docs, "source",
      graft.operators.TextAnalysis.docFingerprint(col("text")))
      .orderBy($"source").collect()
    // exact fingerprints: docs 1 and 4 duplicate ACROSS sources
    assert(out(0).getAs[Long]("n_docs") == 3L)
    assert(out(0).getAs[Long]("n_dup_docs") == 1L) // doc 1 (dup with 4)
    assert(out(1).getAs[Long]("n_dup_docs") == 1L) // doc 4
    assert(out(0).getAs[Double]("dup_rate") == 1.0 / 3.0)
  }

  test("crossSourceDupMatrix: exact pair counts per cell; srcCap valve; null sources out") {
    import graft.operators.Monitoring
    // fp layout (by identical text): X on a(×2)+b(×1), Y on b(×2),
    // Z on a(×1)+c(×1)+null-source(×1)
    val docs = Seq(
      (1L, "xx common text", "a"), (2L, "xx common text", "a"),
      (3L, "xx common text", "b"),
      (4L, "yy b only text", "b"), (5L, "yy b only text", "b"),
      (6L, "zz pair text here", "a"), (7L, "zz pair text here", "c"),
      (8L, "zz pair text here", null.asInstanceOf[String])
    ).toDF("doc_id", "text", "source")
    val fp = md5($"text")
    val out = Monitoring.crossSourceDupMatrix(docs, "source", fp)
      .orderBy($"source_a", $"source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // cells: (a,a): X C(2,2)=1 pair; (a,b): X 2·1=2; (a,c): Z 1·1=1;
    // (b,b): Y C(2,2)=1. Null-source doc 8 contributes nowhere.
    assert(out.toSeq == Seq(
      ("a", "a", 1L, 1L), ("a", "b", 1L, 2L), ("a", "c", 1L, 1L),
      ("b", "b", 1L, 1L)))
    // state-read parity: matrix off folded state == direct
    val b1 = docs.filter($"doc_id" <= 4)
    val b2 = docs.filter($"doc_id" > 4)
    val folded = Monitoring.mergeDupRateState(
      Monitoring.dupRateState(b1, "source", fp),
      Monitoring.dupRateState(b2, "source", fp))
    assert(Monitoring.crossSourceMatrixFromState(folded)
      .orderBy($"source_a", $"source_b").collect().map(_.toString).toSeq ==
      out.map(t => s"[${t._1},${t._2},${t._3},${t._4}]").toSeq)
    // srcCap valve: X spreads over 2 sources; cap 2 keeps it, a spread
    // over 3 sources (Z + giving doc 8 a name) would drop at cap 2
    val named = docs.na.fill("d", Seq("source"))
    val capped = Monitoring.crossSourceDupMatrix(named, "source", fp, srcCap = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!capped.contains(("a", "c")) && !capped.contains(("c", "d")),
      "3-source fingerprint must be valved out at srcCap=2")
    assert(capped.contains(("a", "b"))) // 2-source fp survives
    intercept[IllegalArgumentException](
      Monitoring.crossSourceDupMatrix(docs, "source", fp, srcCap = 1))
  }

  test("langPurity: dominant lang, tie to min, entropy 0 on pure sources") {
    import graft.operators.Vocab
    val docs = Seq(
      (1L, "en", "pure"), (2L, "en", "pure"), (3L, "en", "pure"),
      (4L, "en", "tied"), (5L, "de", "tied"),
      (6L, "en", "mix"), (7L, "en", "mix"), (8L, "fr", "mix"), (9L, "zh", "mix")
    ).toDF("doc_id", "lang", "source")
    val out = Vocab.langPurity(docs, "source", "lang")
      .orderBy($"source").collect()
      .map(r => r.getString(0) -> r).toMap
    val p = out("pure")
    assert(p.getAs[Long]("n_docs") == 3L && p.getAs[Long]("n_langs") == 1L)
    assert(p.getAs[String]("top_lang") == "en" &&
      p.getAs[Double]("top_share") == 1.0)
    assert(p.getAs[Double]("lang_entropy") == 0.0,
      "single-language source must score exactly 0 (the frozen-ln identity)")
    val t = out("tied")
    assert(t.getAs[String]("top_lang") == "de", "tie breaks to min lang")
    assert(t.getAs[Double]("top_share") == 0.5)
    val m = out("mix")
    assert(m.getAs[Long]("n_langs") == 3L && m.getAs[String]("top_lang") == "en")
    // H = ln(4) - (2·ln2 + 1·ln1 + 1·ln1)/4 under 6dp-frozen ln
    val ln = (x: Double) => BigDecimal(math.round(math.log(x) * 1e6), 6)
    val exp = ((BigDecimal(4) * ln(4.0) - BigDecimal(2) * ln(2.0)) / 4).toDouble
    assert(m.getAs[Double]("lang_entropy") == exp)

    // NULL-lang group: counted in n_langs/entropy, DEMOTED on dominance
    // ties (SQL min(lang) skips nulls — both engines must elect the
    // named language), dominant only when it strictly wins.
    val withNull = Seq(
      (1L, "en", "tiednull"), (2L, null.asInstanceOf[String], "tiednull"),
      (3L, null.asInstanceOf[String], "nullwins"),
      (4L, null.asInstanceOf[String], "nullwins"), (5L, "fr", "nullwins")
    ).toDF("doc_id", "lang", "source")
    val nOut = Vocab.langPurity(withNull, "source", "lang")
      .collect().map(r => r.getString(0) -> r).toMap
    val tn = nOut("tiednull")
    assert(tn.getAs[Long]("n_langs") == 2L)
    assert(tn.getAs[String]("top_lang") == "en", "tie must elect the named lang")
    val nw = nOut("nullwins")
    assert(nw.getAs[String]("top_lang") == null,
      "a strictly dominant null-lang group IS the dominant category")
    assert(nw.getAs[Double]("top_share") == 2.0 / 3.0)
  }

  test("incremental dup-rate / novelty state: fold over batches ≡ full recompute") {
    import graft.operators.{Monitoring, TextAnalysis, Vocab}
    val docs = Seq(
      (1L, "same opening words here", "a"),
      (2L, "same opening words here tail differs", "a"),
      (3L, "unique text one two three", "a"),
      (4L, "same opening words here", "b"),
      (5L, "another unique text four five", "b"),
      (6L, "one two three four five six", "c")
    ).toDF("doc_id", "text", "source")
    // Disjoint batch split that separates the cross-source duplicate
    // pair (docs 1 and 4) across batches — the case a per-batch-only
    // census gets WRONG and the folded state must get right.
    val b1 = docs.filter($"doc_id" <= 3)
    val b2 = docs.filter($"doc_id" > 3)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    val fp = TextAnalysis.docFingerprint(col("text"))
    val foldedDup = Monitoring.mergeDupRateState(
      Monitoring.dupRateState(b1, "source", fp),
      Monitoring.dupRateState(b2, "source", fp))
    assert(canon(Monitoring.dupRateFromState(foldedDup)) ==
      canon(Monitoring.dupRateBySource(docs, "source", fp)))
    // merge order/grouping must not matter (associative + commutative)
    val foldedRev = Monitoring.mergeDupRateState(
      Monitoring.dupRateState(b2, "source", fp),
      Monitoring.dupRateState(b1, "source", fp))
    assert(canon(Monitoring.dupRateFromState(foldedRev)) ==
      canon(Monitoring.dupRateFromState(foldedDup)))

    val foldedNov = Vocab.mergeNoveltyState(
      Vocab.sourceNoveltyState(b1, "text", "source"),
      Vocab.sourceNoveltyState(b2, "text", "source"))
    assert(canon(Vocab.noveltyFromState(foldedNov)) ==
      canon(Vocab.sourceNovelty(docs, "text", "source")))
    // idempotent: re-ingesting a batch cannot inflate any count
    val refold = Vocab.mergeNoveltyState(foldedNov,
      Vocab.sourceNoveltyState(b1, "text", "source"))
    assert(canon(Vocab.noveltyFromState(refold)) ==
      canon(Vocab.noveltyFromState(foldedNov)))
  }

  test("canonicalKeepList: best-quality member per component; ties break to min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 4L), (99L, 100L))
      .toDF("doc_id", "quality")
    val out = Dedup.canonicalKeepList(pairs, docs, "doc_id", "quality")
      .orderBy($"doc_id").collect()
    // doc 99 is in no pair -> absent; component {1,2,3} canonical = 2
    // (quality 9, tie with 3 -> min id); component {10,11} canonical = 10
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 10L, 11L))
    val canon = out.filter(_.getBoolean(3)).map(_.getLong(0)).toSeq
    assert(canon == Seq(2L, 10L))
    // exactly one canonical per component
    val comps = out.groupBy(_.getLong(1))
    comps.foreach { case (c, rs) =>
      assert(rs.count(_.getBoolean(3)) == 1, s"component $c")
    }
  }

  test("canonicalKeepList: missing-doc ids keep NULL-quality rows; no negate overflow") {
    // id 3 is clustered but absent from docs: the contract keeps its
    // row (NULL quality, never canonical while scored members exist);
    // component {10, 11} has NO scored member -> min id elected.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val docs = Seq((1L, 5L), (2L, 9L)).toDF("doc_id", "quality")
    val out = Dedup.canonicalKeepList(pairs, docs, "doc_id", "quality")
      .orderBy($"doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 10L, 11L))
    assert(out.filter(_.getBoolean(3)).map(_.getLong(0)).toSeq ==
      Seq(2L, 10L))
    val r3 = out.find(_.getLong(0) == 3L).get
    assert(r3.isNullAt(2) && !r3.getBoolean(3))
    // Long.MinValue tie-break: the old -id struct ordering overflowed
    // here (−Long.MinValue == Long.MinValue); min(id) cannot.
    val minEdge = Dedup.canonicalKeepList(
      Seq((Long.MinValue, 7L)).toDF("id1", "id2"),
      Seq((Long.MinValue, 1L), (7L, 1L)).toDF("doc_id", "quality"),
      "doc_id", "quality").orderBy($"doc_id").collect()
    assert(minEdge.filter(_.getBoolean(3)).map(_.getLong(0)).toSeq ==
      Seq(Long.MinValue)) // tie at quality 1 -> true min id, no negate overflow
  }
}
