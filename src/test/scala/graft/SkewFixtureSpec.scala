package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The boilerplate / hot-key regimes of the skew stress measurements
  * (SKEW_BENCH.json), pinned as behavior: the df-cap valve must
  * neutralize a corpus-wide banner (no quadratic candidate generation,
  * no banner-manufactured pairs) while true duplicates still surface. */
class SkewFixtureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Shared banner paragraph: every banner line is a corpus-wide common
    * line and every banner shingle a stop-shingle. */
  private val Banner: String =
    "this website uses cookies to improve your browsing experience\n" +
      "all rights reserved copyright notice terms of service apply\n" +
      "subscribe to our newsletter for the latest updates and offers"

  /** Hot user 0 absorbs ~30% of all events (Zipf head); remaining rows
    * keep their original uniform user. Same row count, same columns. */
  private def zipfEvents(e: org.apache.spark.sql.DataFrame) =
    e.withColumn("user_id",
      when(col("event_id") % 10 < 3, lit(0L)).otherwise(col("user_id")))

  // 30 docs, every one carrying the shared banner; contents pairwise
  // disjoint except docs 1 and 2, which share identical long content.
  private def corpus = {
    val content = (0 until 30).map { i =>
      val words = (0 until 60).map(j => s"w${i}x$j").mkString(" ")
      (i.toLong, s"${Banner}\n$words")
    }
    // doc 100 duplicates doc 1's content exactly (banner included)
    (content :+ (100L, content(1)._2)).toDF("doc_id", "text")
  }

  test("df-cap valve: banner shingles generate no pairs, true dups still found") {
    // cap below the banner's df (31) but above any content shingle's (2)
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 3, minJaccard = 0.5, dfCap = 10).collect()
    // exactly the one true duplicate pair — the 30 banner-only-overlap
    // docs share ~27 banner shingles each but produce NOTHING
    assert(pairs.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
      === Set((1L, 100L)))
    // and the capped Jaccard stays conservative: shared counts only
    // retained shingles, sizes stay full
    assert(pairs.head.getAs[Double]("jaccard") >= 0.5 &&
      pairs.head.getAs[Double]("jaccard") <= 1.0)
  }

  test("uncapped, the same corpus is quadratic in the banner cohort") {
    // sanity check that the fixture is genuinely adversarial: without the
    // valve binding, every banner co-occurrence becomes a candidate pair
    // (they die at the Jaccard threshold, but only after C(31,2)
    // verifications — the cost the valve removes)
    val buckets = corpus.select(explode(
        Dedup.shingles(col("text"), 3)).as("sh"))
      .groupBy("sh").count().filter(col("count") > 10).count()
    assert(buckets >= 20) // the banner contributes 20+ stop-shingles
  }

  test("minhash-LSH on the banner corpus stays bounded and finds the dup") {
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, minEstJaccard = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 100L)))
    // banner-only overlap must not band-collide into accepted pairs:
    // est Jaccard for disjoint-content docs is ~27/93 << 0.5
    assert(!pairs.exists { case (a, b) => (a, b) != ((1L, 100L)) })
  }

  test("dropCommonLines strikes the banner everywhere, content survives") {
    val out = Dedup.dropCommonLines(
      corpus.select(col("doc_id"), col("text").as("lined_text")),
      "doc_id", "lined_text", minDf = 5)
    val texts = out.select("text_out").as[String].collect()
    assert(texts.nonEmpty)
    val bannerFirst = Banner.split("\n").head
    assert(!texts.exists(_.contains(bannerFirst)))
    assert(texts.exists(_.contains("w5x7"))) // content lines intact
  }

  test("zipfEvents: same rows, hot user absorbs the configured share") {
    val e = Seq.tabulate(1000)(i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L),
        (i % 50).toLong + 1L, if (i % 4 == 0) "purchase" else "view", i * 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val z = zipfEvents(e)
    assert(z.count() === 1000L)
    val hot = z.filter(col("user_id") === 0L).count()
    assert(hot === 300L) // event_id % 10 < 3
    // salted as-of on the zipf stream == unsalted (the JoinsSpec contract,
    // re-pinned on this fixture's exact shape)
    val views = z.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purch = z.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val plain = graft.operators.Joins.asOfJoin(views, purch, "user_id", "ts",
      payload = Seq("event_id", "value"), tieBreak = Some("event_id"),
      prefix = "p_").orderBy("event_id").collect()
    val salted = graft.operators.Joins.asOfJoinSalted(views, purch, "user_id", "ts",
      payload = Seq("event_id", "value"),
      bucket = graft.operators.Joins.millisBucket(60000L),
      tieBreak = Some("event_id"), prefix = "p_").orderBy("event_id").collect()
    assert(plain.toSeq === salted.toSeq)
  }
}
