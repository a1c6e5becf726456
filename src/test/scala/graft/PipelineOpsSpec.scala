package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Packing, Relevance, Sampling, Vocab}

/** Sampling/split, vocabulary, and decontamination — the round-4
  * training-pipeline operators (SURVEY §2 #58-#60). */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- deterministic split ----------------------------------------------

  test("thresholdHex quantizes fractions to 8 hex digits, endpoints exact") {
    assert(Sampling.thresholdHex(0.0) == "00000000")
    // STRING-greater than every hex rank ("100000000" would sort below
    // ranks starting a-f and silently drop them)
    assert(Sampling.thresholdHex(1.0) == "g0000000")
    assert(Sampling.thresholdHex(0.5) == "80000000")
    intercept[IllegalArgumentException](Sampling.thresholdHex(1.5))
    // behavioral endpoint check: frac=1.0 keeps EVERY row, 0.0 none
    val ids = (1L to 200L).toDF("id")
    assert(Sampling.hashSample(ids, "id", 1.0).count() == 200L)
    assert(Sampling.hashSample(ids, "id", 0.0).count() == 0L)
  }

  test("hashRankHex matches an independent md5 (the portability contract)") {
    val got = Seq(7L, 42L, 99L).toDF("id")
      .select($"id", Sampling.hashRankHex($"id", "graft").as("r"))
      .orderBy($"id").as[(Long, String)].collect()
    def ref(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft:$id".getBytes("UTF-8"))
      d.take(4).map(b => f"${b & 0xff}%02x").mkString
    }
    got.foreach { case (id, r) => assert(r == ref(id), s"id $id") }
  }

  test("deterministicSplit: total cover, rerun-stable, fractions in band") {
    val ids = (1L to 10000L).toDF("id")
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val a = Sampling.deterministicSplit(ids, "id", splits)
      .groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(a.values.sum == 10000L)
    assert(math.abs(a("train") - 8000L) < 300, s"train=${a("train")}")
    assert(math.abs(a("valid") - 1000L) < 150, s"valid=${a("valid")}")
    assert(math.abs(a("test") - 1000L) < 150, s"test=${a("test")}")
    // rerun and repartition change nothing (no RNG state anywhere)
    val b = Sampling.deterministicSplit(ids.repartition(7), "id", splits)
      .groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(a == b)
    intercept[IllegalArgumentException](
      Sampling.splitColumn($"id", Seq("a" -> 0.5, "b" -> 0.2)))
    // NULL ids are excluded, never silently assigned to the last split
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(java.lang.Long.valueOf(1L)),
        org.apache.spark.sql.Row(null.asInstanceOf[java.lang.Long]))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true))))
    assert(Sampling.deterministicSplit(withNull, "id", splits).count() == 1L)
  }

  test("hashSample fractions are nested: f=0.2 sample ⊆ f=0.5 sample") {
    val ids = (1L to 5000L).toDF("id")
    val s02 = Sampling.hashSample(ids, "id", 0.2).as[Long].collect().toSet
    val s05 = Sampling.hashSample(ids, "id", 0.5).as[Long].collect().toSet
    assert(s02.subsetOf(s05))
    assert(math.abs(s02.size - 1000) < 120 && math.abs(s05.size - 2500) < 160)
    // different salt → a different (but still deterministic) subset
    val alt = Sampling.hashSample(ids, "id", 0.2, salt = "other").as[Long].collect().toSet
    assert(alt != s02)
  }

  test("stratifiedSample: per-stratum fractions, default keeps everything") {
    val df = (1L to 4000L).toDF("id")
      .withColumn("lang", when($"id" % 2 === 0, "en").otherwise(
        when($"id" % 3 === 0, "fr").otherwise("zh")))
    val out = Sampling.stratifiedSample(df, "id", "lang", Map("en" -> 0.5))
    val counts = out.groupBy($"lang").count().as[(String, Long)].collect().toMap
    val full = df.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(counts("fr") == full("fr") && counts("zh") == full("zh"))
    assert(math.abs(counts("en") - full("en") / 2.0) < full("en") * 0.08)
    // kept en rows are the en rows of the plain 0.5 hashSample (same rank)
    val en = out.filter($"lang" === "en").select($"id").as[Long].collect().toSet
    val plain = Sampling.hashSample(df.filter($"lang" === "en"), "id", 0.5)
      .select($"id").as[Long].collect().toSet
    assert(en == plain)
    // a NULL stratum falls to the default fraction (keep all)
    val withNull = df.withColumn("lang",
      when($"id" <= 100, lit(null).cast("string")).otherwise($"lang"))
    val n = Sampling.stratifiedSample(withNull, "id", "lang", Map("en" -> 0.0))
      .filter($"lang".isNull).count()
    assert(n == 100L)
  }

  // ---- BM25 --------------------------------------------------------------

  test("bm25: hand-computed scores, tf saturation, rare-term weighting") {
    val df = Seq(
      (1L, "data data data x y z"),   // tf(data)=3, dl=6
      (2L, "data x y z w q"),         // tf(data)=1, dl=6
      (3L, "fast x y z w q"),         // the rare term
      (4L, "x y z w q r")             // no match
    ).toDF("doc_id", "text")
    val out = Relevance.bm25(df, "doc_id", "text", Seq("data", "fast"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(!out.contains(4L))
    // exact recomputation with the same double arithmetic
    val (k1, b) = (1.2, 0.75)
    val n = 4.0; val avgdl = 24.0 / 4.0
    def contrib(tf: Double, dfT: Double, dl: Double) =
      ((n - dfT + 0.5) / (dfT + 0.5)) * (tf * (k1 + 1.0)) /
        (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    assert(out(1L)._1 == contrib(3.0, 2.0, 6.0))
    assert(out(2L)._1 == contrib(1.0, 2.0, 6.0))
    assert(out(3L)._1 == contrib(1.0, 1.0, 6.0))
    assert(out(1L)._2 == 1L && out(3L)._2 == 1L)
    // tf saturation: 3 occurrences beat 1, by less than 3x
    assert(out(1L)._1 > out(2L)._1 && out(1L)._1 < 3.0 * out(2L)._1)
    // rarer term (df=1) outscores the common one (df=2) at equal tf/dl
    assert(out(3L)._1 > out(2L)._1)
  }

  test("bm25: terms canonicalize like tokens; null-text docs excluded from scalars") {
    val df = Seq(
      (1L, "data data data x y z"),
      (2L, "data x y z w q"),
      (3L, "fast x y z w q"),
      (4L, "x y z w q r"),
      (5L, null.asInstanceOf[String]), // fetch-failed doc
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // Uppercase caller terms must match the lowercased token stream and
    // score identically to canonical terms; null-text rows must not
    // inflate n_docs or deflate avgdl (scores equal the 4-doc corpus).
    val canonical = Relevance.bm25(df.filter($"doc_id" <= 4L), "doc_id",
        "text", Seq("data", "fast"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cased = Relevance.bm25(df, "doc_id", "text", Seq("Data", "FAST"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cased == canonical)
    // A term that canonicalizes to several tokens can never match — loud
    // rejection, not silent zeros; same for post-canonical duplicates.
    intercept[IllegalArgumentException](
      Relevance.bm25(df, "doc_id", "text", Seq("two words")))
    intercept[IllegalArgumentException](
      Relevance.bm25(df, "doc_id", "text", Seq("data", "DATA")))
  }

  // ---- vocabulary --------------------------------------------------------

  test("tokenStats/vocabTopK: handcrafted counts, null/empty routed out") {
    val df = Seq(
      (1L, "a b a"), (2L, "b c"), (3L, null.asInstanceOf[String]), (4L, "")
    ).toDF("doc_id", "text")
    val stats = Vocab.tokenStats(df, "doc_id", "text")
      .orderBy($"token").as[(String, Long, Long)].collect().toSeq
    assert(stats == Seq(("a", 2L, 1L), ("b", 2L, 2L), ("c", 1L, 1L)))
    // top-2 cut is deterministic: (n desc, token) puts a before b, drops c
    val top = Vocab.vocabTopK(df, "doc_id", "text", 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(top == Seq(("a", 2L, 1L), ("b", 2L, 2L)))
  }

  test("docSurprisal: hand-computed decimal-frozen surprisal, null/empty docs absent") {
    val df = Seq(
      (1L, "a a b"), (2L, "b c"), (3L, null.asInstanceOf[String]), (4L, "")
    ).toDF("doc_id", "text")
    // vocab: a:2 b:2 c:1, total 5. Per-token surprisal frozen at 6dp.
    val sA = BigDecimal(math.log(5.0 / 2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val sC = BigDecimal(math.log(5.0 / 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val out = Vocab.docSurprisal(df, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Double)].collect().toSeq
    val avg1 = (sA * 3).toDouble / 3.0        // a,a,b — all surprisal sA
    val avg2 = (sA + sC).toDouble / 2.0       // b,c
    assert(out == Seq((1L, 3L, avg1), (2L, 2L, avg2)))
    // rare-token doc is more surprising than the common-token doc
    assert(avg2 > avg1)
  }

  test("tfidfTopTerms: hand-computed ratio-idf scores, rank cut, ties by term") {
    val df = Seq(
      (1L, "a a b x"), (2L, "a c x"), (3L, "x y"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // N=3 docs with tokens; df: a=2 b=1 c=1 x=3 y=1.
    def idf(dfT: Long) = (3.0 + 1.0) / (dfT.toDouble + 1.0)
    def score(tf: Long, dfT: Long) = tf.toDouble * idf(dfT)
    val out = Relevance.tfidfTopTerms(df, "doc_id", "text", topN = 3)
      .as[(Long, Int, String, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    // doc1: a 2·(4/3)≈2.67 > b 2.0 > x 1.0
    assert(out(1L) == Seq(
      (1L, 1, "a", 2L, 2L, score(2, 2)),
      (1L, 2, "b", 1L, 1L, score(1, 1)),
      (1L, 3, "x", 1L, 3L, score(1, 3))))
    // doc2: c 2.0 > a 4/3 > x 1.0; doc3: y 2.0 > x 1.0 (only 2 terms)
    assert(out(2L).map(t => (t._3, t._6)) ==
      Seq(("c", score(1, 1)), ("a", score(1, 2)), ("x", score(1, 3))))
    assert(out(3L).map(_._3) == Seq("y", "x"))
    // equal-score tie breaks by term string: b and c both score 2.0 in a
    // doc containing both once
    val tie = Relevance.tfidfTopTerms(
      Seq((1L, "b c"), (2L, "q r"), (3L, "q r")).toDF("doc_id", "text"),
      "doc_id", "text", topN = 2)
      .filter($"doc_id" === 1L).orderBy($"rank")
      .as[(Long, Int, String, Long, Long, Double)].collect()
    assert(tie.map(_._3).toSeq == Seq("b", "c"))
  }

  test("mixtureReport: counts/token shares per group, fracs sum to 1") {
    val df = Seq(
      ("a", "en", "w x y"), ("a", "en", "z"), ("a", "fr", "u v"),
      ("b", "en", "p q r s")
    ).toDF("source", "lang", "text")
    val out = Vocab.mixtureReport(df, "text", Seq("source", "lang"))
      .orderBy($"source", $"lang")
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("a", "en", 2L, 4L, 0.4), ("a", "fr", 1L, 2L, 0.2),
      ("b", "en", 1L, 4L, 0.4)))
    assert(math.abs(out.map(_._5).sum - 1.0) < 1e-12)
  }

  // ---- sequence packing --------------------------------------------------

  test("packStats: census equals hand-derivation from the offsets frame") {
    val docs = (1L to 200L).toDF("id")
      .withColumn("n", pmod(xxhash64($"id"), lit(40L)))
    val off = Packing.sequenceOffsets(docs, "id", "n", maxTokens = 64)
      .select($"n", $"seq_first", $"seq_last").collect()
    val stats = Packing.packStats(docs, "id", "n", maxTokens = 64)
      .head()
    val total = off.map(_.getAs[Long]("n")).sum
    val crossing = off.count(r =>
      r.getAs[Long]("seq_last") > r.getAs[Long]("seq_first"))
    assert(stats.getAs[Long]("n_docs") == off.length.toLong)
    assert(stats.getAs[Long]("total_tokens") == total)
    assert(stats.getAs[Long]("n_seqs") == (total - 1) / 64 + 1)
    assert(stats.getAs[Long]("n_crossing") == crossing.toLong)
    assert(stats.getAs[Double]("crossing_frac") ==
      crossing.toDouble / off.length)
    // larger blocks => no more sequences, and here strictly fewer
    val big = Packing.packStats(docs, "id", "n", maxTokens = 512).head()
    assert(big.getAs[Long]("n_seqs") < stats.getAs[Long]("n_seqs"))
    // degenerate: no rows -> zero census, no divide crash
    val empty = Packing.packStats(docs.filter(lit(false)), "id", "n", 64)
      .head()
    assert(empty.getAs[Long]("n_docs") == 0L &&
      empty.getAs[Long]("n_seqs") == 0L)
  }

  test("sequenceOffsets: two-phase prefix sum == single global window, exactly") {
    import org.apache.spark.sql.expressions.Window
    val docs = (1L to 500L).toDF("id")
      .withColumn("n", pmod(xxhash64($"id"), lit(100L)))
    val out = Packing.sequenceOffsets(docs, "id", "n", maxTokens = 64)
      .select($"id", $"token_offset").as[(Long, Long)].collect().toMap
    val w = Window.orderBy($"rank_hex", $"id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = docs
      .withColumn("rank_hex", Sampling.hashRankHex($"id", "pack"))
      .withColumn("token_offset", sum($"n").over(w) - $"n")
      .select($"id", $"token_offset").as[(Long, Long)].collect().toMap
    assert(out == ref)
    // conservation: offsets tile the token stream with no gap or overlap
    val total = docs.agg(sum($"n")).as[Long].head()
    assert(out.map { case (id, _) => id }.size == 500)
    val withN = docs.select($"id", $"n").as[(Long, Long)].collect().toMap
    assert(out.map { case (id, off) => off + withN(id) }.max == total)
  }

  test("sequenceOffsets: block spans, zero-token docs, null exclusion, guards") {
    // force a known order: ids chosen so we only assert structural facts
    val docs = Seq((1L, Some(25L)), (2L, Some(5L)), (3L, Some(0L)),
      (4L, None)).toDF("id", "n")
    val out = Packing.sequenceOffsets(docs, "id", "n", maxTokens = 10)
      .select($"id", $"n", $"token_offset", $"seq_first", $"seq_last")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(!out.contains(4L)) // unknown length cannot be placed
    out.values.foreach { case (_, n, off, sf, sl) =>
      assert(sf == off / 10)
      assert(sl == (off + math.max(n, 1) - 1) / 10)
      assert(sl >= sf)
      if (n == 25L) assert(sl - sf >= 2) // a 25-token doc spans ≥3 blocks of 10
      if (n == 0L) assert(sl == sf)      // zero-token doc sits in its start block
    }
    intercept[IllegalArgumentException](
      Packing.sequenceOffsets(docs.withColumnRenamed("n", "__cum"), "id", "__cum", 10))
    intercept[IllegalArgumentException](
      Packing.sequenceOffsets(docs, "id", "n", 0))
    // Output-name collisions refuse instead of silently overwriting.
    intercept[IllegalArgumentException](
      Packing.sequenceOffsets(docs.withColumn("token_offset", lit(0L)),
        "id", "n", 10))
  }

  test("sequenceOffsets: NULL-id docs are excluded, not silently dropped " +
      "after shifting every offset") {
    val base = Seq((1L, 10L), (2L, 10L), (3L, 10L)).toDF("id", "n")
    val withNull = Seq((Option(1L), 10L), (Option(2L), 10L),
      (Option(3L), 10L), (Option.empty[Long], 1000L)).toDF("id", "n")
    def offs(df: org.apache.spark.sql.DataFrame) =
      Packing.sequenceOffsets(df, "id", "n", maxTokens = 64)
        .select($"id", $"token_offset").as[(Long, Long)].collect().toMap
    // A null-id doc can't be addressed by the loader; its 1000 tokens
    // must not shift anyone (pre-fix they shifted every bucket after
    // the null rank while the row itself vanished in the equi-join).
    assert(offs(withNull) == offs(base))
  }

  // ---- dedup clusters ----------------------------------------------------

  test("connectedComponents/dedupClusters: transitive merge, separate clusters") {
    // A~B, B~C (A!~C directly) must land in ONE cluster; (10,11) separate.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val clusters = Dedup.dedupClusters(pairs)
      .orderBy($"component").as[(Long, Long, String)].collect().toSeq
    assert(clusters == Seq((1L, 3L, "1,2,3"), (10L, 2L, "10,11")))
    // empty pair set: no clusters, no crash
    assert(Dedup.dedupClusters(pairs.limit(0)).count() == 0L)
  }

  test("mixtureRebalance: binding stratum whole, others exactly hashSample'd") {
    // a: 100 docs × 1 token, b: 300 docs × 1 token; targets 50/50 →
    // budget = min(100/0.5, 300/0.5) = 200 → frac_a = 1 (kept whole),
    // frac_b = 0.5·200/300 = 1/3.
    val df = ((1 to 100).map(i => (i.toLong, "a", 1L)) ++
              (101 to 400).map(i => (i.toLong, "b", 1L)))
      .toDF("id", "s", "tok")
    val out = Sampling.mixtureRebalance(df, "id", "s", col("tok"),
        Seq("a" -> 0.5, "b" -> 0.5))
      .as[(Long, String, Long)].collect()
    assert(out.count(_._2 == "a") == 100, "binding stratum must be kept whole")
    // The b-side keep set must EQUAL hashSample at 1/3 — same salted
    // rank, and 0.5·200/300 rounds to the same double as 1.0/3.0, so the
    // in-engine threshold matches thresholdHex bit-for-bit.
    val bExpected = Sampling.hashSample(df.filter($"s" === "b"), "id", 1.0 / 3.0)
      .as[(Long, String, Long)].collect().toSet
    assert(out.filter(_._2 == "b").toSet == bExpected)
  }

  test("mixtureRebalance: non-target/null strata dropped, absent target empties, bad weights refused") {
    val df = Seq((1L, "a", 5L), (2L, "b", 5L), (3L, "c", 5L),
        (4L, null.asInstanceOf[String], 5L))
      .toDF("id", "s", "tok")
    val kept = Sampling.mixtureRebalance(df, "id", "s", col("tok"),
        Seq("a" -> 0.5, "b" -> 0.5))
      .as[(Long, String, Long)].collect()
    // both strata bind at equal counts → fracs are 1 → a,b whole; c/null gone
    assert(kept.map(_._1).sorted.toSeq == Seq(1L, 2L))
    // a target stratum absent from the data → budget 0 → empty corpus,
    // never a silently renormalized mixture
    assert(Sampling.mixtureRebalance(df, "id", "s", col("tok"),
      Seq("a" -> 0.5, "zz" -> 0.5)).count() == 0L)
    intercept[IllegalArgumentException](Sampling.mixtureRebalance(
      df, "id", "s", col("tok"), Seq("a" -> 0.6, "b" -> 0.6)))
    intercept[IllegalArgumentException](Sampling.mixtureRebalance(
      df, "id", "s", col("tok"), Seq("a" -> 1.0, "a" -> 0.0)))
    intercept[IllegalArgumentException](Sampling.mixtureRebalance(
      df, "id", "s", col("tok"), Nil))
  }

  test("connectedComponents equals union-find on random graphs") {
    def unionFind(vertices: Set[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(vertices.map(v => v -> v).toSeq: _*)
      def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      vertices.map(v => v -> find(v)).toMap
    }
    (0 until 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val edges = (0 until 25 + rnd.nextInt(20)).map(_ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
      val got = Dedup.connectedComponents(edges.toDF("id1", "id2"))
        .as[(Long, Long)].collect().toMap
      val verts = edges.flatMap(e => Seq(e._1, e._2)).toSet
      assert(got == unionFind(verts, edges), s"seed $seed")
    }
  }

  test("connectedComponents throws instead of under-merging when maxIter binds") {
    // a path 1-2-3-4-5 needs several propagation rounds; maxIter=1 cannot
    // reach the fixed point and must THROW, never return a wrong answer
    // (the label loop: under the bound the public entry needs no rounds)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id1", "id2")
    intercept[IllegalStateException](
      Dedup.labelLoop(Dedup.closedEdges(path), maxIter = 1))
    val ok = Dedup.labelLoop(Dedup.closedEdges(path), maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(ok.values.toSet == Set(1L))
  }

  // ---- decontamination ---------------------------------------------------

  test("contaminationPairs finds the leaked copy, excludes self, caps boilerplate") {
    val bench = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (20L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),   // the bench doc itself
      (99L, "alpha beta gamma delta epsilon zeta"),   // leaked exact copy
      (98L, "alpha beta gamma delta unrelated tail"), // partial (2/4 shingles)
      (97L, "completely different text with no overlap at all")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(corpus, bench, "doc_id", "text",
        n = 3, minOverlap = 0.5)
      .orderBy($"doc_id").collect()
    // only the exact copy crosses 0.5 (98's overlap = 2/4 = 0.5 ≥ 0.5 too)
    val byDoc = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(byDoc.keySet == Set(98L, 99L))
    assert(byDoc(99L) == ((10L, 4L, 4L, 1.0)))
    assert(byDoc(98L) == ((10L, 2L, 4L, 0.5)))
    // self row (10, 10) must be absent even though it matches perfectly
    assert(!out.exists(r => r.getLong(0) == 10L))

    // benchDfCap: a shingle present in BOTH bench docs is boilerplate at
    // cap=1 — a corpus doc made only of it no longer matches anything
    val bench2 = Seq(
      (1L, "choose the best answer alpha"),
      (2L, "choose the best answer beta")
    ).toDF("doc_id", "text")
    val corpus2 = Seq((5L, "choose the best answer")).toDF("doc_id", "text")
    val capped = Dedup.contaminationPairs(corpus2, bench2, "doc_id", "text",
      n = 3, minOverlap = 0.1, benchDfCap = 1)
    assert(capped.count() == 0)
    val uncapped = Dedup.contaminationPairs(corpus2, bench2, "doc_id", "text",
      n = 3, minOverlap = 0.1, benchDfCap = 100)
    assert(uncapped.count() == 2)
  }

  // ---- weighted systematic sample ---------------------------------------

  /** Exact BigInt reference for the k-point systematic draw in the salted
    * order — the single-stream formulation the distributed operator must
    * reproduce bit-for-bit. */
  private def naiveWs(rows: Seq[(Long, Long)], k: Long,
                      salt: String = "wsample"): Map[Long, (Long, Long)] = {
    def rank(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"$salt:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
    }
    val ordered = rows.filter(_._2 > 0).sortBy { case (id, _) => (rank(id), id) }
    val total = BigInt(ordered.map(_._2).sum)
    def ceilDiv(a: BigInt): BigInt = (a * k + total - 1) / total
    var cum = BigInt(0)
    ordered.flatMap { case (id, w) =>
      val lo = cum; cum += w
      val n = (ceilDiv(cum) - ceilDiv(lo)).toLong
      if (n > 0) Some(id -> (lo.toLong, n)) else None
    }.toMap
  }

  test("weightedSystematicSample: copies sum to k, heavy rows guaranteed, bounds hold") {
    val rng = new scala.util.Random(7)
    val rows = (1L to 400L).map(i => (i, 1L + rng.nextInt(50).toLong))
    val df = rows.toDF("id", "w").repartition(7)
    val k = 60L
    val out = Sampling.weightedSystematicSample(df, "id", "w", k)
      .select($"id", $"stream_offset", $"n_copies")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val total = rows.map(_._2).sum.toDouble
    assert(out.map(_._3).sum == k, "copies must sum to exactly k")
    // every row with w > W/k is guaranteed present
    val sampled = out.map(_._1).toSet
    rows.filter(_._2 > total / k).foreach { case (id, w) =>
      assert(sampled.contains(id), s"heavy row $id (w=$w) must be sampled") }
    // n_copies within [floor(w·k/W), ceil(w·k/W)]
    val wById = rows.toMap
    out.foreach { case (id, _, n) =>
      val exact = wById(id) * k / total
      assert(n >= math.floor(exact).toLong && n <= math.ceil(exact).toLong,
        s"row $id copies $n outside [floor,ceil] of $exact")
    }
    // bit-equal to the exact single-stream reference
    assert(out.map(t => t._1 -> (t._2, t._3)).toMap == naiveWs(rows, k))
    // partitioning cannot move the draw
    val out2 = Sampling.weightedSystematicSample(df.repartition(31), "id", "w", k)
      .select($"id", $"stream_offset", $"n_copies")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out2 == out.map(t => t._1 -> (t._2, t._3)).toMap)
  }

  test("weightedSystematicSample: k > W upsamples (epochs), still sums to k") {
    val rows = Seq((1L, 3L), (2L, 1L), (3L, 6L))
    val out = Sampling.weightedSystematicSample(rows.toDF("id", "w"), "id", "w", 25L)
      .select($"id", $"n_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.values.sum == 25L)
    assert(out.keySet == Set(1L, 2L, 3L), "k > W must include every row")
    assert(out == naiveWs(rows, 25L).map { case (id, (_, n)) => id -> n })
  }

  test("weightedSystematicSample: null/zero weights and null ids excluded") {
    val df = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(5L)),
      (java.lang.Long.valueOf(2L), null.asInstanceOf[java.lang.Long]),
      (java.lang.Long.valueOf(3L), java.lang.Long.valueOf(0L)),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(9L))
    ).toDF("id", "w")
    val out = Sampling.weightedSystematicSample(df, "id", "w", 4L)
      .select($"id", $"n_copies").collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L))
    assert(out.map(_.getLong(1)).sum == 4L)
    intercept[IllegalArgumentException](
      Sampling.weightedSystematicSample(df.withColumnRenamed("w", "n_copies"),
        "id", "n_copies", 4L))
  }

  // ---- group quantile rank ----------------------------------------------

  test("groupQuantileRank equals the naive cume_dist window, ties included") {
    val rng = new scala.util.Random(11)
    val rows = (1L to 600L).map { i =>
      // coarse grid forces plenty of ties; three skewed groups
      (i, s"g${i % 3}", math.floor(rng.nextDouble() * 40) / 40.0)
    }
    val df = rows.toDF("id", "g", "score").repartition(9)
    val got = Sampling.groupQuantileRank(df, "score", Seq("g"), 0.0, 1.0)
      .select($"id", $"pctl").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"score")
    val naive = df.withColumn("pctl", cume_dist().over(w))
      .select($"id", $"pctl").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == naive, "distributed cume_dist must equal the window form bit-for-bit")
  }

  test("groupQuantileRank: degenerate one-value group, out-of-range clamping, exclusions") {
    // all-equal scores → every row is its own peer group's last: pctl 1.0
    val flat = (1L to 50L).map(i => (i, "g", 0.25)).toDF("id", "g", "score")
    val out = Sampling.groupQuantileRank(flat, "score", Seq("g"), 0.0, 1.0)
    assert(out.select($"pctl").as[Double].collect().forall(_ == 1.0))
    // out-of-range scores clamp into end buckets but stay correctly ranked
    val wide = Seq((1L, "g", -5.0), (2L, "g", 0.5), (3L, "g", 99.0), (4L, "g", -7.0))
      .toDF("id", "g", "score")
    val got = Sampling.groupQuantileRank(wide, "score", Seq("g"), 0.0, 1.0)
      .select($"id", $"pctl").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == Map(1L -> 0.5, 2L -> 0.75, 3L -> 1.0, 4L -> 0.25))
    // NaN / null scores and null groups are excluded
    val dirty = Seq(
      (1L, "g", 0.5), (2L, "g", Double.NaN),
      (3L, null.asInstanceOf[String], 0.9)
    ).toDF("id", "g", "score")
    val kept = Sampling.groupQuantileRank(dirty, "score", Seq("g"), 0.0, 1.0)
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  // ---- bigram surprisal -------------------------------------------------

  test("docBigramSurprisal: hand-computed conditional costs; short/null docs absent") {
    val df = Seq(
      (1L, "a b a b"), (2L, "b a c"), (3L, "z"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // bigram TFs: doc1 (a,b):2 (b,a):1; doc2 (b,a):1 (a,c):1.
    // pair totals: (a,b):2 (b,a):2 (a,c):1; left marginals a·=3, b·=2.
    def f(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val sAB = f(math.log(3.0 / 2.0)); val sBA = f(math.log(2.0 / 2.0))
    val sAC = f(math.log(3.0 / 1.0))
    val out = Vocab.docBigramSurprisal(df, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Double)].collect().toSeq
    val avg1 = (sAB * 2 + sBA).toDouble / 3.0
    val avg2 = (sBA + sAC).toDouble / 2.0
    assert(out == Seq((1L, 3L, avg1), (2L, 2L, avg2)))
    // the doc with the rare transition (a→c) is the more surprising one
    assert(avg2 > avg1)
  }

  test("docBigramSurprisal: scrambled common tokens cost more than their ordered source") {
    // Ten copies of the same ordered sentence anchor the bigram LM; one
    // doc uses the same TOKENS in scrambled order. Unigram surprisal
    // cannot tell them apart (same token multiset); the bigram filter
    // must price the scramble strictly higher.
    val ordered = "the cat sat on the mat"
    val docs = (1L to 10L).map(i => (i, ordered)) :+ (11L, "mat the on sat cat the")
    val out = Vocab.docBigramSurprisal(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select($"doc_id", $"avg_surprisal").as[(Long, Double)].collect().toMap
    assert(out(11L) > out(1L))
    // sanity: the unigram filter indeed ties the two
    val uni = Vocab.docSurprisal(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select($"doc_id", $"avg_surprisal").as[(Long, Double)].collect().toMap
    assert(uni(11L) == uni(1L))
  }

  // ---- bounded per-group exemplars --------------------------------------

  test("groupExemplars: equals the per-group sort's first k, rn dense from 1") {
    val df = (1L to 97L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val out = Sampling.groupExemplars(df, "id", "grp", k = 5)
      .orderBy($"grp", $"rn").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // reference: full sort per group on the same rank string
    def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (1L to 97L).map { i =>
      (s"g${i % 3}", s"${hex(s"graft:$i")}:${hex(s"graft2:$i")}:$i", i)
    }.groupBy(_._1).toSeq.flatMap { case (g, rows) =>
      rows.sortBy(_._2).take(5).zipWithIndex.map { case ((_, _, id), p) =>
        (g, p + 1, id) }
    }.sortBy(x => (x._1, x._2))
    assert(out.toSeq == expected)
  }

  test("groupExemplars: small groups yield all rows; negative ids decode; guards") {
    val df = Seq((-5L, "a"), (-6L, "a"), (7L, "b")).toDF("id", "grp")
    val out = Sampling.groupExemplars(df, "id", "grp", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(out == Set(("a", -5L), ("a", -6L), ("b", 7L)))
    intercept[IllegalArgumentException](Sampling.groupExemplars(df, "id", "grp", 0))
    intercept[IllegalArgumentException](Sampling.groupExemplars(df, "id", "id", 1))
  }

  test("groupExemplars: string ids containing the rank delimiter decode whole") {
    val df = Seq(("a:b:c", "g"), ("plain", "g")).toDF("id", "grp")
    val ids = Sampling.groupExemplars(df, "id", "grp", k = 5)
      .collect().map(_.getString(2)).toSet
    assert(ids == Set("a:b:c", "plain"))
  }

  // ---- winsorize ---------------------------------------------------------

  test("winsorize: hand-computed cuts, clamp, clipped flags; nulls dropped") {
    // values 1..10 with lo=0.25/hi=0.75 -> cuts at 3.25 and 7.75
    // (linear interpolation: 0.25*(10-1)=2.25 -> 1-based rank 3.25)
    val rows = (1 to 10).map(i => (i.toLong, Some(i.toDouble))) :+
      (99L, None: Option[Double])
    val df = rows.toDF("event_id", "value")
    val out = Sampling.winsorize(df, "event_id", "value", lo = 0.25, hi = 0.75)
      .orderBy($"id").collect()
    assert(out.length == 10, "null value row must be dropped")
    val byId = out.map(r => r.getLong(0) ->
      (r.getDouble(2), r.getInt(3))).toMap
    assert(byId(1L) == (3.25, -1) && byId(3L) == (3.25, -1))
    assert(byId(4L) == (4.0, 0) && byId(7L) == (7.0, 0))
    assert(byId(8L) == (7.75, 1) && byId(10L) == (7.75, 1))
    intercept[IllegalArgumentException](
      Sampling.winsorize(df, "event_id", "value", lo = 0.5, hi = 0.5))
  }

  test("winsorizeSketch: same contract, near-total agreement with exact cuts") {
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "events")
    val exact = Sampling.winsorize(e, "event_id", "value")
    val sk = Sampling.winsorizeSketch(e, "event_id", "value")
    assert(exact.schema == sk.schema)
    val j = exact.select($"id", $"value_w".as("we"))
      .join(sk.select($"id", $"value_w".as("ws")), Seq("id"))
    val n = j.count()
    val agree = j.filter($"we" === $"ws").count()
    assert(n > 0 && n == exact.count())
    assert(agree.toDouble / n >= 0.9, s"agreement ${agree.toDouble / n}")
  }

  // ---- token-coverage curve ---------------------------------------------

  test("tokenCoverageCurve: hand counts; cuts beyond the vocab report full coverage") {
    // occurrences: a=4, b=2, c=1 -> total 7; top-1 covers 4, top-2 covers 6
    val docs = Seq((1L, "a a b"), (2L, "a a b c")).toDF("doc_id", "text")
    val out = Vocab.tokenCoverageCurve(docs, "doc_id", "text",
        cuts = Seq(1, 2, 100))
      .orderBy($"vocab_size").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 100))
    assert(out.map(_.getLong(1)).toSeq == Seq(4L, 6L, 7L))
    assert(out.forall(_.getLong(2) == 7L))
    assert(out.map(_.getDouble(3)).toSeq == Seq(4.0 / 7, 6.0 / 7, 1.0))
    // deterministic tie handling: equal-count tokens cut by token order
    val ties = Seq((1L, "x y")).toDF("doc_id", "text")
    val t1 = Vocab.tokenCoverageCurve(ties, "doc_id", "text", cuts = Seq(1))
      .collect().head
    assert(t1.getLong(1) == 1L && t1.getLong(2) == 2L)
    // empty corpus -> empty frame with the contract schema
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = Vocab.tokenCoverageCurve(empty, "doc_id", "text")
    assert(e.columns.toSeq == Seq("vocab_size", "covered_occurrences",
      "total_occurrences", "coverage"))
    assert(e.count() == 0)
    intercept[IllegalArgumentException](
      Vocab.tokenCoverageCurve(docs, "doc_id", "text", cuts = Seq.empty))
  }

  // ---- robust (median/MAD) outliers ---------------------------------------

  test("robustOutliers: hand-computed z, per-group isolation, null drop") {
    // grp a: values 1..7 plus one 1000 -> med 4.5, MAD interp over
    // |x-4.5| = {3.5,2.5,1.5,.5,.5,1.5,2.5,995.5} sorted -> p50 = 2.0;
    // z(1000) = .6745*995.5/2 = 335.7 -> outlier; z(7) = .6745*2.5/2
    // = 0.843 -> not.
    val df = ((1 to 7).map(i => ("a", i.toLong, i.toDouble)) ++
      Seq(("a", 8L, 1000.0), ("b", 9L, 1000.0), ("b", 10L, 1001.0),
        ("b", 11L, 1002.0), ("c", 12L, Double.NaN))
      ).toDF("event_type", "event_id", "value")
      .filter(!isnan($"value"))
    val out = Sampling.robustOutliers(df, "event_type", "event_id", "value")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("robust_z"), r.getAs[Int]("is_outlier"))).toMap
    assert(out(8L)._2 == 1)
    assert(math.abs(out(8L)._1 - 0.6745 * 995.5 / 2.0) < 1e-9)
    assert(out(7L)._2 == 0)
    // group b: 1000 is MEDIAN-ordinary within its own group -> no flag
    assert(out(10L)._2 == 0)
    assert((1 to 7).forall(i => out(i.toLong)._2 == 0))
  }

  test("robustOutliers: zero-MAD group degrades to value != median") {
    val df = Seq(("g", 1L, 5.0), ("g", 2L, 5.0), ("g", 3L, 5.0),
      ("g", 4L, 9.0)).toDF("event_type", "event_id", "value")
    val out = Sampling.robustOutliers(df, "event_type", "event_id", "value")
      .collect().map(r => r.getAs[Long]("id") ->
        (Option(r.get(r.fieldIndex("robust_z"))), r.getAs[Int]("is_outlier")))
      .toMap
    assert(out(1L) == (None, 0))
    assert(out(4L) == (None, 1))
  }

  test("robustOutliersSketch: same contract, near-total flag agreement") {
    val df = (1 to 2000).map(i =>
      ("t", i.toLong, if (i % 500 == 0) 1e6 + i else i.toDouble / 7.0))
      .toDF("event_type", "event_id", "value")
    val ex = Sampling.robustOutliers(df, "event_type", "event_id", "value")
      .select($"id", $"is_outlier".as("fe"))
    val sk = Sampling.robustOutliersSketch(df, "event_type", "event_id",
        "value")
      .select($"id", $"is_outlier".as("fs"))
    val j = ex.join(sk, Seq("id")).collect()
    val agree = j.count(r => r.getAs[Int]("fe") == r.getAs[Int]("fs"))
    assert(agree.toDouble / j.length >= 0.99)
    // the planted spikes flag in both
    val sks = sk.collect().map(r => r.getAs[Long]("id") ->
      r.getAs[Int]("fs")).toMap
    assert(Seq(500L, 1000L, 1500L, 2000L).forall(sks(_) == 1))
  }
}
