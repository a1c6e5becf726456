package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Packing, Sampling, TextAnalysis => TA}
import graft.queries.TextQueries

/** CurationRound is a COMPOSITION, not a reimplementation: every stage
  * must equal the standalone operator applied to the previous stage's
  * survivors. This spec runs the manual chain (exactGroups verdicts,
  * ngramJaccardPairs + canonicalKeepList, contaminationPairs,
  * mixtureRebalance, sequenceOffsets — the exact standalone calls) and
  * equates survivor id sets, funnel counts, and the packed artifact. */
class CurationRoundSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ids(df: DataFrame, c: String = "doc_id"): Set[Long] =
    df.select(col(c).cast("long")).as[Long].collect().toSet

  test("curation chain equals the manual composition of its standalone stages") {
    val cfg = TextQueries.curationConfig
    val corpus = TextQueries.curationCorpus(spark, TestSpark.Sf0001)
    val bench = TextQueries.benchCorpus(spark, TestSpark.Sf0001)
    val r = CurationRound.run(spark, corpus, bench, cfg)
    val funnel = r.funnel.orderBy($"stage_ord").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getDouble(5)))

    // --- the manual chain, stage by stage, via the standalone operators
    val nTok = TA.wsTokenCount($"text").cast("long")
    val g1 = corpus.filter(TA.c4Signals($"text", cfg.c4MinSentences).pass)
      .localCheckpoint()
    // localCheckpoint truncates each manual stage's lineage — without
    // it the composed plan string alone OOMs the test JVM
    val g2 = g1.filter(TA.gopherSignals($"text", cfg.gopherStops).pass)
      .localCheckpoint()

    // exact dedup via the STANDALONE exactGroups verdicts: drop every
    // group member except the canonical id
    val groups = Dedup.exactGroups(g2, "doc_id", "text")
    val drops3 = groups
      .select(col("canonical_id"), explode(split(col("member_ids"), ",")).as("mid"))
      .select(col("canonical_id"), col("mid").cast("long").as("doc_id"))
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"))
    val s3 = g2.join(drops3, Seq("doc_id"), "left_anti").localCheckpoint()

    val pairs = Dedup.ngramJaccardPairs(s3, "doc_id", "text",
      cfg.jaccardN, cfg.jaccardMinJaccard, cfg.jaccardDfCap)
    val verdicts = Dedup.canonicalKeepList(pairs,
      s3.select(col("doc_id"), length(col("text")).cast("long").as("q")),
      "doc_id", "q")
    val s4 = s3.join(verdicts.filter(!col("is_canonical")).select(col("doc_id")),
      Seq("doc_id"), "left_anti").localCheckpoint()

    val contam = Dedup.contaminationPairs(s4, bench, "doc_id", "text",
      cfg.contamN, cfg.contamMinOverlap, cfg.contamBenchDfCap)
    val s5 = s4.join(contam.select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti").localCheckpoint()

    val s6 = Sampling.mixtureRebalance(
      s5.select(col("doc_id"), col("lang"), nTok.as("n_tokens")),
      "doc_id", "lang", col("n_tokens"), cfg.mixTargets, cfg.salt)
      .localCheckpoint()

    // --- survivor sets equal at the composition's seams
    assert(ids(r.curated) == ids(s6))
    // --- funnel counts equal the manual chain's counts, stage by stage
    def cnt(df: DataFrame): (Long, Long) = {
      val x = df.select(count(lit(1)), sum(nTok)).head()
      (x.getLong(0), x.getLong(1))
    }
    val manual = Seq(
      (0, "total", cnt(corpus)), (1, "c4_gate", cnt(g1)),
      (2, "gopher_gate", cnt(g2)), (3, "dedup_exact", cnt(s3)),
      (4, "dedup_near", cnt(s4)), (5, "decontaminate", cnt(s5)),
      (6, "mixture", {
        val x = s6.agg(count(lit(1)), sum(col("n_tokens"))).head()
        (x.getLong(0), x.getLong(1))
      }))
    manual.zip(funnel).foreach { case ((o, n, (d, t)), f) =>
      assert(f._1 == o && f._2 == n, s"stage $o name")
      assert(f._3 == d, s"stage $n n_docs: funnel ${f._3} vs manual $d")
      assert(f._4 == t, s"stage $n n_tokens: funnel ${f._4} vs manual $t")
      assert(f._5 == d.toDouble / manual.head._3._1.toDouble)
      assert(f._6 == t.toDouble / manual.head._3._2.toDouble)
    }
    // the fixture makes every stage BITE (strictly fewer docs each time)
    val docs = funnel.map(_._3)
    assert(docs.sliding(2).forall(p => p(1) < p(0)),
      s"every stage must drop something: ${docs.toSeq}")

    // --- packed artifact equals the standalone packing over s6
    val manualPacked = Packing.sequenceOffsets(
        s6.select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", cfg.packMaxTokens)
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(r.packed.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      == manualPacked.toSeq)
    val st = r.packStats.head()
    assert(st.getAs[Long]("n_docs") == funnel.last._3)
    assert(st.getAs[Long]("total_tokens") == funnel.last._4)
    r.unpersist()
  }

  test("unpersist is safe by construction: every returned frame consumable after release + clearCache") {
    val cfg = TextQueries.curationConfig
    val corpus = TextQueries.curationCorpus(spark, TestSpark.Sf0001)
    val bench = TextQueries.benchCorpus(spark, TestSpark.Sf0001)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val r = CurationRound.run(spark, corpus, bench, cfg)
    val funnelBefore = r.funnel.orderBy($"stage_ord").collect().map(_.toSeq).toSeq
    val curatedBefore = ids(r.curated)
    // release the stage caches FIRST, then consume everything — the
    // old design raised block-not-found on curated/packed here
    r.unpersist()
    spark.catalog.clearCache() // the bench harness's between-queries move
    // ...and the release is REAL: a stage block that outlived the round
    // (the measured ~50 GB/sweep behind the sf10 span-build inflation)
    // would show here, so unpersist must leave ZERO new persistent RDDs
    // behind.
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore).isEmpty,
      "run + unpersist leaked checkpoint RDD blocks")
    assert(r.funnel.orderBy($"stage_ord").collect().map(_.toSeq).toSeq
      == funnelBefore)
    assert(ids(r.curated) == curatedBefore)
    assert(r.packed.count() > 0)
    val st = r.packStats.head()
    assert(st.getAs[Long]("n_docs") == curatedBefore.size)
    // double unpersist is harmless
    r.unpersist()

    // and via the MEMO path q_curation_round/q_curation_pack consume
    // (memoized unpersists inside the build — the returned frames must
    // still serve every consumer, across cache drops)
    SessionMemo.invalidateAll(spark)
    val m = CurationRound.memoized(
      TextQueries.curationCorpus(spark, TestSpark.Sf0001),
      TextQueries.benchCorpus(spark, TestSpark.Sf0001), cfg)
    m.unpersist() // a second consumer-side release on top of the build's
    spark.catalog.clearCache()
    assert(m.funnel.orderBy($"stage_ord").collect().map(_.toSeq).toSeq
      == funnelBefore)
    assert(ids(m.curated) == curatedBefore)
    assert(m.packed.count() > 0)
    assert(m.packStats.head().getAs[Long]("n_docs") == curatedBefore.size)
    SessionMemo.invalidateAll(spark)
  }

  test("memoized builds the chain once per (session, corpus); invalidateAll forces a rebuild") {
    SessionMemo.invalidateAll(spark)
    val cfg = TextQueries.curationConfig
    def corpus = TextQueries.curationCorpus(spark, TestSpark.Sf0001)
    val bench = TextQueries.benchCorpus(spark, TestSpark.Sf0001)
    val r1 = CurationRound.memoized(corpus, bench, cfg)
    val r2 = CurationRound.memoized(corpus, bench, cfg)
    assert(r2 eq r1, "second call must serve the memo, not re-run the chain")
    // memo'd frames survive cache drops (parquet/driver-rooted)
    spark.catalog.clearCache()
    assert(r1.funnel.count() == 7)
    assert(r1.packStats.head().getAs[Long]("n_docs") == ids(r1.curated).size)
    SessionMemo.invalidateAll(spark)
    val r3 = CurationRound.memoized(corpus, bench, cfg)
    assert(!(r3 eq r1))
    assert(ids(r3.curated) == ids(r1.curated))
    SessionMemo.invalidateAll(spark)
  }

  test("curation funnel on an empty corpus reports zeros, not NaNs") {
    val cfg = TextQueries.curationConfig
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    val bench = Seq((1L, "bench text only")).toDF("doc_id", "text")
    val r = CurationRound.run(spark, empty, bench, cfg)
    val f = r.funnel.orderBy($"stage_ord").collect()
    assert(f.length == 7)
    assert(f.forall(x => x.getLong(2) == 0L && x.getLong(3) == 0L))
    assert(f.forall(x => x.getDouble(4) == 0.0 && x.getDouble(5) == 0.0))
    r.unpersist()
  }
}
