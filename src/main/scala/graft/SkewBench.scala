package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Joins, Sampling, TextAnalysis}
import graft.sources.Tables

/** Adversarial-distribution stress bench: the same operator shapes the
  * headline bench times, run over a UNIFORM input and over a deterministic
  * worst-case skew of the same size — a Zipf-headed event stream (one user
  * absorbs ~30% of all events) and a boilerplate-heavy corpus (a shared
  * banner paragraph on 90% of documents, the stop-shingle / common-line
  * regime dedup caps were built for).
  *
  * At warehouse scale these are the distributions that kill naive plans:
  * a hot key funnels an entire window/join through one task; a universal
  * shingle turns banded LSH buckets into the cross-product of the corpus.
  * The bounded/salted paths (CappedCollectList posting caps, df-cap
  * valves, asOfJoinSalted's bucket-stitched window) exist precisely so a
  * skewed input degrades smoothly — this main MEASURES that, per pair,
  * as `skew_over_uniform` wall-clock ratios.
  *
  * Output: one JSON object (stdout + SPARK_GRAFT_SKEW_OUT file, default
  * SKEW_BENCH.json) — per pair {uniform_sec, skew_sec, ratio}, plus the
  * skew shape stats (hot-key share, banner share) so the artifact is
  * self-describing.
  */
object SkewBench {

  /** Hot user 0 absorbs ~30% of all events (Zipf head); remaining rows
    * keep their original uniform user. Same row count, same columns. */
  def zipfEvents(e: DataFrame): DataFrame =
    e.withColumn("user_id",
      when(col("event_id") % 10 < 3, lit(0L)).otherwise(col("user_id")))

  /** Shared banner paragraph prepended to 90% of documents — every banner
    * line is a corpus-wide common line and every banner shingle a
    * stop-shingle. */
  val Banner: String =
    "this website uses cookies to improve your browsing experience\n" +
      "all rights reserved copyright notice terms of service apply\n" +
      "subscribe to our newsletter for the latest updates and offers"

  def boilerDocs(d: DataFrame): DataFrame =
    d.withColumn("text",
      when(col("doc_id") % 10 =!= 0, concat(lit(Banner + "\n"), col("text")))
        .otherwise(col("text")))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = GraftSession.forMain()

    val events = Tables.load(spark, sfDir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))

    // ---- operator shapes (identical to the SparkEntry headline queries,
    // parameterized by input frame) ----
    def asof(e: DataFrame): DataFrame = {
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      Joins.asOfJoin(views, purchases, "user_id", "ts",
        payload = Seq("event_id", "value"), tieBreak = Some("event_id"),
        prefix = "purchase_")
    }
    def asofSalted(e: DataFrame): DataFrame = {
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      Joins.asOfJoinSalted(views, purchases, "user_id", "ts",
        payload = Seq("event_id", "value"),
        bucket = Joins.millisBucket(3600000L),
        tieBreak = Some("event_id"), prefix = "purchase_")
    }
    def sessionize(e: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val flagged = e
        .withColumn("prev_ms", unix_millis(lag(col("ts"), 1).over(w)))
        .withColumn("new_session",
          when(col("prev_ms").isNull ||
            unix_millis(col("ts")) - col("prev_ms") > 1800000L, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      flagged.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
    }
    def rolling(e: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_millis(col("ts"))).rangeBetween(-604799999L, 0)
      e.select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_7d"),
        sum(round(col("value") * 1000).cast("long")).over(w).as("value_milli_7d"))
    }
    // The df-cap valve must be CORPUS-PROPORTIONAL to bind: q_dedup's
    // fixed 10000 never triggers at bench sf, so a 90%-df banner shingle
    // would generate C(0.9n, 2) candidate pairs — the exact quadratic
    // blow-up the valve exists to prevent. 10% of the corpus is the
    // operating-scale setting (a shingle in >10% of documents carries no
    // dedup signal); both arms use the same cap for a fair ratio.
    val nDocs = docs.count()
    val dfCap = math.max(50L, nDocs / 10L).toInt
    // The hot-key-safe rolling form (same output contract as rolling):
    // cum-diff over (key, day-bucket) prefix sums + salted as-of lookup.
    def rollingCumdiff(e: DataFrame): DataFrame =
      graft.operators.Windows.rollingTrailing(
        e.select(col("event_id"), col("user_id"), col("ts"), col("value")),
        key = "user_id", ts = "ts", tie = "event_id",
        sumExpr = round(col("value") * 1000).cast("long"),
        spanMillis = 604800000L, bucketWidthMillis = 86400000L,
        cntAlias = "n_7d", sumAlias = "value_milli_7d")
    def minhash(d: DataFrame): DataFrame =
      Dedup.minhashLshPairs(d, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, minEstJaccard = 0.5)
    def jaccard(d: DataFrame): DataFrame =
      Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 3, minJaccard = 0.5, dfCap = dfCap)
    def simhash(d: DataFrame): DataFrame =
      Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3)
    def lineDedup(d: DataFrame): DataFrame =
      Dedup.dropCommonLines(d.select(col("doc_id"),
        col("text").as("lined_text")), "doc_id", "lined_text")
    // q_span_dedup shape: the banner's 6-token spans appear in 90% of
    // docs — the duplicated-span census's worst case (its (span, doc)
    // collapse + two-counter buffers exist for exactly this regime).
    def spanDedup(d: DataFrame): DataFrame =
      Dedup.duplicatedSpans(d, "doc_id", "text", k = 6)
    // q_weighted_sample shape over token mass. Skew arm: every 10th doc
    // carries 1000x weight (a few docs absorb ~99% of the token stream)
    // — stresses the DECIMAL prefix-sum + epoch-upsampling path, which
    // must stay flat because the per-row work is rank arithmetic, never
    // a per-heavy-doc loop.
    val tokDocs = docs.select(col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tokens"))
    val zipfTok = tokDocs.withColumn("n_tokens",
      when(col("doc_id") % 10 === 0, col("n_tokens") * 1000L)
        .otherwise(col("n_tokens")))
    def wsample(d: DataFrame): DataFrame =
      Sampling.weightedSystematicSample(d, "doc_id", "n_tokens", k = 200)
    // q_quantile_norm shape. Skew arm: one source absorbs 90% of docs —
    // the hot GROUP that funnels a naive per-group sort window through
    // one task; the two-phase bucketed form's cost is per-(group,
    // bucket), so it must degrade smoothly.
    val docsFull = Tables.load(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
    val qualDocs = docsFull.select(col("doc_id"), col("source"),
      TextAnalysis.qualityScore(col("text"), Seq("the", "a")).as("quality"))
    val hotSrcDocs = qualDocs.withColumn("source",
      when(col("doc_id") % 10 =!= 0, lit("hot_source")).otherwise(col("source")))
    def qnorm(d: DataFrame): DataFrame =
      Sampling.groupQuantileRank(d, "quality", Seq("source"),
        minScore = 0.0, maxScore = 1.0)

    // q_span_strike shape: the removal pass on the same banner corpus —
    // on top of the census cost, every banner doc's covered-position
    // stream and rebuild join carry ~its whole token count, the
    // operator's worst case (90% of docs lose their banner spans).
    def spanStrike(d: DataFrame): DataFrame =
      Dedup.strikeDuplicatedSpans(d, "doc_id", "text", k = 6)
    // q_group_sample shape. Skew arm: one group holds 90% of the corpus
    // — the regime where a window row_number would sort the mega-group
    // in one task; the BoundedMinK buffer stays ≤ k per group and
    // map-side combines, so cost must track the scan, not the group.
    def gsample(d: DataFrame): DataFrame =
      Sampling.groupExemplars(d, "doc_id", "source", k = 5)

    // q_dedup_editdist shape. Skew arm: the banner PREFIX puts 90% of
    // the corpus into ONE block — the regime the CappedCollectList
    // valve exists for (the overfull block is dropped, never exploded
    // into C(0.9n, 2) levenshtein calls).
    def editdist(d: DataFrame): DataFrame =
      Dedup.editDistancePairs(d, "doc_id", "text", prefixLen = 16, maxDist = 10)
    // q_pmi_terms shape. Skew arm: ONE injected dictionary-dump doc of
    // 20k distinct rare tokens (every token df=1 — under any dfCap) —
    // without the per-doc valve its join group alone fans to C(20k,2) ≈
    // 2×10⁸ pairs; docCap=2000 bounds it at C(2000,2) ≈ 2×10⁶, so the
    // skew arm must cost a bounded constant over uniform, not minutes.
    val dumpText = (0 until 20000).map(i => f"zzdump$i%05d").mkString(" ")
    val dumpDocs = docs.unionByName(
      spark.range(1).select(lit(-1L).as("doc_id"), lit(dumpText).as("text")))
    def pmi(d: DataFrame): DataFrame =
      graft.operators.Vocab.pmiPairs(d, "doc_id", "text")
    // q_pagerank / q_dedup_canonical shapes over SYNTHETIC edge tables
    // (running them over the jaccard pipeline would measure candidate
    // generation, not the graph op's own skew response). Uniform arm: a
    // perfect matching — n/2 two-node components, every degree 1. Skew
    // arm: one star — a single hub of degree n−1 and ONE corpus-sized
    // component (the mega-cluster regime: the hub's inbound-share
    // aggregate must distribute, and canonical's per-component window
    // gets one corpus-sized partition to rank).
    val nIds = nDocs
    val matching = spark.range(nIds / 2)
      .select((col("id") * 2).as("id1"), (col("id") * 2 + 1).as("id2"))
    val star = spark.range(1L, nIds)
      .select(lit(0L).as("id1"), col("id").as("id2"))
    val qdocs = spark.range(nIds)
      .select(col("id").as("doc_id"), (col("id") % 997L).as("quality"))
    def prank(p: DataFrame): DataFrame =
      graft.operators.Graph.pageRank(p, iterations = 3)
    def canon(p: DataFrame): DataFrame =
      Dedup.canonicalKeepList(p, qdocs, "doc_id", "quality")

    val pairs: Seq[(String, DataFrame => DataFrame, DataFrame, DataFrame)] = Seq(
      ("asof_join", asof, events, zipfEvents(events)),
      ("asof_join_salted", asofSalted, events, zipfEvents(events)),
      ("sessionize", sessionize, events, zipfEvents(events)),
      ("rolling_window", rolling, events, zipfEvents(events)),
      ("rolling_window_cumdiff", rollingCumdiff, events, zipfEvents(events)),
      ("minhash_lsh", minhash, docs, boilerDocs(docs)),
      ("ngram_jaccard", jaccard, docs, boilerDocs(docs)),
      ("simhash", simhash, docs, boilerDocs(docs)),
      ("line_dedup", lineDedup, docs, boilerDocs(docs)),
      ("span_dedup", spanDedup, docs, boilerDocs(docs)),
      ("span_strike", spanStrike, docs, boilerDocs(docs)),
      ("group_sample", gsample, docsFull, hotSrcDocs.drop("quality")),
      ("weighted_sample", wsample, tokDocs, zipfTok),
      ("quantile_norm", qnorm, qualDocs, hotSrcDocs),
      ("dedup_editdist", editdist, docs, boilerDocs(docs)),
      ("pmi_pairs", pmi, docs, dumpDocs),
      ("pagerank", prank, matching, star),
      ("dedup_canonical", canon, matching, star))

    def time(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      dt
    }

    // warmup pass then interleaved timed passes (Bench methodology)
    pairs.foreach { case (_, fn, u, z) => time(fn(u)); time(fn(z)) }
    val samples = (1 to runs).map { _ =>
      pairs.map { case (name, fn, u, z) => name -> (time(fn(u)), time(fn(z))) }.toMap
    }

    val hotShare = {
      val total = events.count().toDouble
      zipfEvents(events).filter(col("user_id") === 0L).count() / total
    }
    // Locale-pinned: the f"" interpolator honours the JVM default locale,
    // and a comma-decimal locale would corrupt the JSON artifact.
    def f(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val rows = pairs.map { case (name, _, _, _) =>
      val u = median(samples.map(_(name)._1))
      val z = median(samples.map(_(name)._2))
      s""""$name":{"uniform_sec":${f(u)},"skew_sec":${f(z)},"ratio":${f(z / u)}}"""
    }
    val json = s"""{"sf":"${JsonUtil.esc(sfDir)}","hot_user_share":${f(hotShare)},""" +
      s""""banner_doc_share":0.9,"pairs":{${rows.mkString(",")}}}"""
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SKEW_OUT", "SKEW_BENCH.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[skewbench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
  }
}
