package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Vocab

/** PMI collocations, vocabulary coverage, and source overlap —
  * SURVEY.md §2 corpus-statistics rows. */
class VocabStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pmiPairs: hand-computed PMI, ordering, and the minCount prune") {
    val docs = Seq(
      (1L, "x y"), (2L, "x y"), (3L, "x z"), (4L, "w q")
    ).toDF("doc_id", "text")
    val out = Vocab.pmiPairs(docs, "doc_id", "text",
      dfCap = 100, minCount = 1, topN = 10).collect()
    val byPair = out.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getDouble(5))).toMap
    // N=4; (q,w): ln(4*1/(1*1)) = ln 4; (x,y): ln(4*2/(3*2)) = ln(4/3)
    assert(math.abs(byPair(("q", "w"))._2 - 1.386294) < 1e-9)
    assert(byPair(("x", "y"))._1 == 2L)
    assert(math.abs(byPair(("x", "y"))._2 - 0.287682) < 1e-9)
    assert(math.abs(byPair(("x", "z"))._2 - 0.287682) < 1e-9)
    // ordering: pmi desc, then token1/token2 on the exact tie
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("q", "w"), ("x", "y"), ("x", "z")))
    // minCount prunes the singletons
    val pruned = Vocab.pmiPairs(docs, "doc_id", "text",
      dfCap = 100, minCount = 2, topN = 10).collect()
    assert(pruned.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("x", "y")))
  }

  test("pmiPairs: dfCap valves stop-tokens out of pair generation, not out of N") {
    val docs = Seq(
      (1L, "the x y"), (2L, "the x y"), (3L, "the z"), (4L, "the w")
    ).toDF("doc_id", "text")
    // df(the)=4 > cap 3 -> no pair involving "the"; N stays 4
    val out = Vocab.pmiPairs(docs, "doc_id", "text",
      dfCap = 3, minCount = 1, topN = 10).collect()
    assert(out.forall(r => r.getString(0) != "the" && r.getString(1) != "the"))
    val xy = out.find(r => (r.getString(0), r.getString(1)) == ("x", "y")).get
    assert(math.abs(xy.getDouble(5) - math.log(4.0 * 2 / (2 * 2))) < 1e-6)
  }

  test("vocabCoverage: OOV occurrences against the deterministic top-k cut") {
    val docs = Seq(
      (1L, "a a a b", "s1"),   // a: 5 occ total, b: 2, c: 1
      (2L, "a a b c", "s2")
    ).toDF("doc_id", "text", "source")
    // k=1 keeps only "a" (5 occurrences)
    val out = Vocab.vocabCoverage(docs, "doc_id", "text", "source", k = 1)
      .orderBy($"source").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("s1", "s2"))
    assert(out(0).getAs[Long]("n_tokens") == 4L)
    assert(out(0).getAs[Long]("n_oov") == 1L)    // the lone b
    assert(out(0).getAs[Double]("oov_rate") == 0.25)
    assert(out(1).getAs[Long]("n_oov") == 2L)    // b + c
    assert(out(1).getAs[Double]("oov_rate") == 0.5)
    // k larger than the vocabulary: zero OOV everywhere
    val full = Vocab.vocabCoverage(docs, "doc_id", "text", "source", k = 10)
      .collect()
    assert(full.forall(_.getAs[Long]("n_oov") == 0L))
  }

  test("sourceOverlap: hand jaccard; empty intersections absent; null source dropped") {
    val docs = Seq(
      (1L, "one two three four", "a"),  // shingles {one two three, two three four}
      (2L, "one two three", "b"),       // {one two three}
      (3L, "five six seven", "c"),      // disjoint from a and b
      (4L, "one two three", null.asInstanceOf[String])
    ).toDF("doc_id", "text", "source")
    val out = Vocab.sourceOverlap(docs, "text", "source", n = 3)
      .orderBy($"source_a", $"source_b").collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "b"))) // c shares nothing; null source never appears
    val r = out.head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 1L)
    assert(r.getAs[Long]("n_shared") == 1L)
    assert(r.getAs[Double]("jaccard") == 0.5)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("featureHash: buckets/signs match a test-side md5 recomputation; tf sums") {
    val docs = Seq((1L, "x x y"), (2L, "y")).toDF("doc_id", "text")
    def bucket(tok: String): Long =
      java.lang.Long.parseLong(md5hex(tok).substring(0, 8), 16) % 64
    def sign(tok: String): Long =
      if ("01234567".contains(md5hex(tok).charAt(8))) 1L else -1L
    val out = graft.operators.Vocab.featureHash(docs, "doc_id", "text", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = Map(
      (1L, bucket("x")) -> 2 * sign("x"),
      (1L, bucket("y")) -> sign("y"),
      (2L, bucket("y")) -> sign("y"))
    assert(out == expected, s"got $out vs $expected " +
      s"(bx=${bucket("x")} by=${bucket("y")})")
  }

  test("featureHash: colliding tokens with opposite signs cancel to a kept zero row") {
    // synthetic single-bucket hash: numBuckets=1 forces the collision;
    // find two short tokens with opposite signs
    val toks = ('a' to 'z').map(_.toString)
    def sgn(t: String): Long =
      if ("01234567".contains(md5hex(t).charAt(8))) 1L else -1L
    val pos = toks.find(sgn(_) == 1L).get
    val neg = toks.find(sgn(_) == -1L).get
    val docs = Seq((1L, s"$pos $neg")).toDF("doc_id", "text")
    val out = graft.operators.Vocab.featureHash(docs, "doc_id", "text", 1)
      .collect()
    assert(out.length == 1 && out.head.getLong(2) == 0L,
      s"cancelled bucket must remain as a zero row: ${out.toSeq}")
  }

  test("surprisalBands: bands partition the corpus and order by surprisal") {
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val out = graft.operators.Vocab.surprisalBands(docs, "doc_id", "text")
      .collect()
    val n = graft.operators.Vocab.docSurprisal(docs, "doc_id", "text").count()
    assert(out.length == n)
    val byBand = out.groupBy(_.getString(3))
      .view.mapValues(_.map(_.getDouble(2))).toMap
    assert(byBand.keySet.subsetOf(Set("low", "mid", "high")))
    assert(byBand.contains("mid") && byBand("mid").nonEmpty)
    for (l <- byBand.get("low"); m <- byBand.get("mid"))
      assert(l.max < m.min, "low band must sit strictly below mid")
    for (m <- byBand.get("mid"); h <- byBand.get("high"))
      assert(m.max < h.min, "mid band must sit strictly below high")
    // quartile cuts put roughly a quarter in each tail
    assert(byBand("low").length <= n / 2 && byBand("high").length <= n / 2)
  }

  test("pmiPairs: docCap valves a degenerate dictionary-dump doc to its rarest tokens") {
    // doc 1 is the web-corpus pathology the dfCap valve alone misses: a
    // dump of many distinct RARE tokens (all n_docs = 1, under any
    // dfCap) that would fan one join group quadratically.
    val dump = (0 until 10).map(i => f"t$i%02d").mkString(" ")
    val docs = Seq((1L, dump), (2L, "x y"), (3L, "x y")).toDF("doc_id", "text")
    val out = Vocab.pmiPairs(docs, "doc_id", "text",
        dfCap = 100, minCount = 1, topN = 100, docCap = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // rank (n_docs ASC, token ASC) keeps t00,t01,t02 of the dump ->
    // C(3,2)=3 dump pairs; the under-cap docs are untouched
    assert(out == Set(("t00", "t01"), ("t00", "t02"), ("t01", "t02"),
      ("x", "y")), s"got $out")
    // default docCap leaves a small doc's pair set complete: C(10,2)+1
    assert(Vocab.pmiPairs(docs, "doc_id", "text",
      dfCap = 100, minCount = 1, topN = 100).count() == 46L)
    intercept[IllegalArgumentException](
      Vocab.pmiPairs(docs, "doc_id", "text", docCap = 0))
  }

  test("surprisalBandsSketch: same contract, near-total agreement with exact cuts") {
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val e = Vocab.surprisalBands(docs, "doc_id", "text")
    val s = Vocab.surprisalBandsSketch(docs, "doc_id", "text")
    assert(e.schema == s.schema)
    val joined = e.select($"doc_id", $"band".as("be"))
      .join(s.select($"doc_id", $"band".as("bs")), Seq("doc_id"))
    val n = joined.count()
    val agree = joined.filter($"be" === $"bs").count()
    assert(n > 0 && e.count() == n, "sketch twin must cover every doc")
    assert(agree.toDouble / n >= 0.9, s"agreement ${agree.toDouble / n}")
  }

  test("sourceOverlapMinHash: estimates track exact jaccard; fold equals recompute") {
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    def keyed(rows: Seq[org.apache.spark.sql.Row]): Map[(String, String), Double] =
      rows.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val exact = keyed(Vocab.sourceOverlap(docs, "text", "source")
      .select($"source_a", $"source_b", $"jaccard").collect().toSeq)
    val est = keyed(Vocab.sourceOverlapMinHash(docs, "text", "source")
      .select($"source_a", $"source_b", $"jaccard_est").collect().toSeq)
    val worst = (exact.keySet ++ est.keySet)
      .map(k => math.abs(exact.getOrElse(k, 0.0) - est.getOrElse(k, 0.0)))
      .maxOption.getOrElse(0.0)
    assert(worst <= 0.2, s"worst abs error $worst (exact=$exact est=$est)")
    // signature state is a fold-able monoid like the state it derives from
    val folded = Vocab.mergeNoveltyState(
      Vocab.sourceNoveltyState(docs.filter($"doc_id" % 2 === 0), "text", "source"),
      Vocab.sourceNoveltyState(docs.filter($"doc_id" % 2 === 1), "text", "source"))
    val fromState = Vocab.overlapMinHashFromState(folded)
      .orderBy($"source_a", $"source_b").collect().toSeq
    val direct = Vocab.sourceOverlapMinHash(docs, "text", "source")
      .orderBy($"source_a", $"source_b").collect().toSeq
    assert(fromState == direct)
    intercept[IllegalArgumentException](
      Vocab.overlapMinHashFromState(folded, numHashes = 0))
  }

  test("overlapMinHashFromState leaves no persisted block behind") {
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val est = Vocab.overlapMinHashFromState(
      Vocab.sourceNoveltyState(docs, "text", "source"))
    assert(est.collect().nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the signature frame must not stay cached after the call")
  }

  test("sourceOverlap: overlapFromState over folded batches equals full recompute") {
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val b1 = docs.filter($"doc_id" % 2 === 0)
    val b2 = docs.filter($"doc_id" % 2 === 1)
    val folded = Vocab.mergeNoveltyState(
      Vocab.sourceNoveltyState(b1, "text", "source"),
      Vocab.sourceNoveltyState(b2, "text", "source"))
    val fromState = Vocab.overlapFromState(folded)
      .orderBy($"source_a", $"source_b").collect().toSeq
    val direct = Vocab.sourceOverlap(docs, "text", "source")
      .orderBy($"source_a", $"source_b").collect().toSeq
    assert(fromState == direct)
  }

  test("sourceDivergence: identical -> 0, disjoint -> ln 2, mixed in between") {
    val docs = Seq(
      (1L, "alpha beta alpha", "s1"), (2L, "alpha beta alpha", "s2"), // identical dist
      (3L, "gamma delta gamma delta", "s3"),                          // disjoint vs s1
      (4L, "alpha gamma", "s4")                                       // half-shared
    ).toDF("doc_id", "text", "source")
    val out = Vocab.sourceDivergence(docs, "doc_id", "text", "source", k = 50)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("js_nats")).toMap
    assert(math.abs(out(("s1", "s2"))) < 1e-9)
    // fully disjoint: every bucket one-sided -> JS = ln 2 (frozen at 6)
    assert(math.abs(out(("s1", "s3")) - 0.693147) < 1e-6)
    assert(out(("s1", "s4")) > 0.0 && out(("s1", "s4")) < 0.693147)
    // symmetric fan: all source pairs present (4 choose 2)
    assert(out.size == 6)
  }

  test("sourceDivergence: token mass outside top-k folds into one OOV bucket") {
    // k=1 keeps only "x" (the most frequent); the rare tails of both
    // sources collapse into the SAME oov bucket, so two sources whose
    // tails differ but have equal mass there diverge by zero.
    val docs = Seq(
      (1L, "x x rare1", "a"), (2L, "x x rare2", "b")
    ).toDF("doc_id", "text", "source")
    val out = Vocab.sourceDivergence(docs, "doc_id", "text", "source", k = 1)
      .head()
    assert(math.abs(out.getAs[Double]("js_nats")) < 1e-9)
  }

  test("zipfFit: exact power law fits slope -1; thin sources drop") {
    // f(rank) = 12 / rank over 4 ranks: ln f = ln 12 - ln rank
    val text = Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")
    val docs = Seq(
      (1L, text.mkString(" "), "zipfy"),
      (2L, "one two", "thin")                    // 2 points -> dropped
    ).toDF("doc_id", "text", "source")
    val out = Vocab.zipfFit(docs, "doc_id", "text", "source", points = 100)
      .collect()
    assert(out.map(_.getString(0)).toSeq == Seq("zipfy"))
    assert(out.head.getAs[Long]("n_points") == 4L)
    assert(math.abs(out.head.getAs[Double]("zipf_slope") + 1.0) < 1e-4)
  }

  test("zipfFit: rank ties break on token string; points cap honored") {
    // 5 tokens tied at the same count: rank order = token order; cap at 3
    val docs = Seq((1L, "e d c b a", "s")).toDF("doc_id", "text", "source")
    val out = Vocab.zipfFit(docs, "doc_id", "text", "source", points = 3)
      .head()
    // all counts equal -> y constant -> slope exactly 0
    assert(out.getAs[Long]("n_points") == 3L)
    assert(out.getAs[Double]("zipf_slope") == 0.0)
  }

  test("temperatureMix: alpha<1 flattens the head; shares sum to 1; zero-token stratum") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p", "big"),   // 16 tokens
      (2L, "a b c d e f g h i j k l m n o p", "big"),   // big = 32
      (3L, "a b c d", "small"),                          // small = 4
      (4L, "", "empty")                                  // 0-token stratum
    ).toDF("doc_id", "text", "lang")
    // wsTokenCount("") may count 1 for the empty string? use a space-free
    // marker: the empty stratum's mass must be whatever the report says —
    // assert relative properties, not absolute masses.
    val out = Vocab.temperatureMix(docs, "text", Seq("lang"), alpha = 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("token_frac"), r.getAs[Double]("q_share"),
          Option(r.getAs[Any]("boost")).map(_.asInstanceOf[Double]))).toMap
    val shareSum = out.values.map(_._2).sum
    assert(math.abs(shareSum - 1.0) < 1e-9, s"q shares must sum to 1, got $shareSum")
    // flattening: the dominant stratum is down-weighted, the scarce one up
    assert(out("big")._2 < out("big")._1)
    assert(out("small")._2 > out("small")._1)
    assert(out("big")._3.get < 1.0 && out("small")._3.get > 1.0)
    // alpha = 1 ~ proportional: q within quantization of p, boost ~ 1
    Vocab.temperatureMix(docs, "text", Seq("lang"), alpha = 1.0)
      .collect().foreach { r =>
        val (p, q) = (r.getAs[Double]("token_frac"), r.getAs[Double]("q_share"))
        if (p > 0) assert(math.abs(q - p) < 1e-5)
      }
  }

  test("dsirWeights: target-like docs score above target-unlike; zero-token docs absent") {
    // Target (ids % 7 == 0) speaks one token language, the rest of the
    // pool another; a raw doc written in the target's language must
    // out-score every raw doc written in the pool's own.
    val docs = Seq(
      (0L, "zq zq wx wx zq"),       // target
      (7L, "zq wx zq wx"),          // target
      (1L, "zq wx zq"),             // raw, target-like -> high weight
      (2L, "mm nn mm nn mm"),       // raw, pool-typical -> low weight
      (3L, "nn mm nn"),             // raw, pool-typical
      (4L, "   ")                   // zero tokens -> absent
    ).toDF("doc_id", "text")
    val out = Vocab.dsirWeights(docs, "doc_id", "text",
      isTarget = $"doc_id" % 7 === 0, numBuckets = 64)
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_logweight"))).toMap
    assert(!rows.contains(4L), "zero-token doc must be absent")
    assert(rows(1L)._1 == 3L)
    // per-token average debiases length: target-like beats pool-typical
    assert(rows(1L)._2 > rows(2L)._2 && rows(1L)._2 > rows(3L)._2)
    // target docs themselves score high (they ARE the target language)
    assert(rows(0L)._2 > rows(2L)._2)
    // logweight is the per-token average times n_tokens (one division)
    rows.values.foreach { case (n, avg) => assert(!avg.isNaN && n > 0) }
  }

  test("docKnBigramSurprisal: hand-computed interpolated KN prices") {
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = Vocab.docKnBigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_surprisal"))).toMap
    // pairs: (a,b)=2 (b,a)=1 (a,c)=1; c(a)=3 f(a)=2; c(b)=1 f(b)=1;
    // cont: a,b,c each 1; T=3; D=0.75
    // P(b|a) = 1.25/3 + (1.5/3)(1/3) = 0.5833…  -> s 0.538997
    // P(a|b) = 0.25/1 + (0.75/1)(1/3) = 0.5     -> s 0.693147
    // P(c|a) = 0.25/3 + (1.5/3)(1/3) = 0.25     -> s 1.386294
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2 - (2 * 0.538997 + 0.693147) / 3.0) < 1e-9)
    assert(out(2L)._1 == 1L)
    assert(math.abs(out(2L)._2 - 1.386294) < 1e-9)
    // the smoother's point: the one-context boilerplate pair (a,b) is
    // NOT priced as fluently as its MLE 2/3 would suggest
    assert(out(1L)._2 > -math.log(2.0 / 3.0) - 1e-9)
  }

  test("tokenFertility: exact census ratios; fold equals recompute") {
    val docs = Seq(
      ("a", "en", "x y"), ("a", "en", "z"), ("b", "fr", "q r s"),
      ("b", null, "skip"), (null, "en", "skip")
    ).toDF("source", "lang", "text")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"source", $"lang").collect().map(_.toSeq).toSeq
    val out = key(Vocab.tokenFertility(docs, "text", "source", "lang"))
    // a/en: 2 docs, ws 3, chars 4 -> floor(4000/3)=1333; lex==ws -> 1e6
    assert(out.head == Seq("a", "en", 2L, 3L, 3L, 4L, 1333L, 1333L, 1000000L))
    // b/fr: ws 3, chars 5 -> floor(5000/3)=1666
    assert(out(1) == Seq("b", "fr", 1L, 3L, 3L, 5L, 1666L, 1666L, 1000000L))
    assert(out.size == 2, "null source/lang rows excluded")
    // additive census: a split fold feeds the report unchanged
    val c1 = Vocab.fertilityState(docs.limit(2), "text", "source", "lang")
    val c2 = Vocab.fertilityState(docs.offset(2), "text", "source", "lang")
    assert(key(Vocab.fertilityFromCounts(c1.unionByName(c2))) == out)
  }

  test("typeTokenRatio: exact TTR and hapax share per source") {
    val docs = Seq(
      ("a", "x y x"), ("a", "y z"), ("b", "w w w w")
    ).toDF("source", "text")
    val out = Vocab.typeTokenRatio(docs, "text", "source")
      .orderBy($"source").collect().map(_.toSeq).toSeq
    // a: types {x:2,y:2,z:1} -> 3 types / 5 tokens, 1 hapax
    assert(out.head == Seq("a", 3L, 5L, 1L, 600000L, 333333L))
    // b: one type, 4 tokens, no hapax
    assert(out(1) == Seq("b", 1L, 4L, 0L, 250000L, 0L))
  }

  test("curriculum: easy docs land in epoch 0, hard in the last; window parity") {
    import org.apache.spark.sql.functions._
    // 8 docs of strictly increasing rarity: doc i repeats a common
    // filler then adds i distinct rare tokens — avg surprisal rises
    // with i, so percentile order is the id order.
    val docs = (1 to 8).map { i =>
      val rare = (1 to i).map(j => s"rare${i}_$j").mkString(" ")
      (i.toLong, ("common " * 10).trim + " " + rare)
    }.toDF("doc_id", "text")
    val out = Vocab.curriculum(docs, "doc_id", "text", epochs = 4)
      .orderBy($"doc_id").collect()
    assert(out.length == 8)
    // pctl strictly increasing with doc_id (strictly increasing scores)
    val ps = out.map(_.getAs[Double]("pctl"))
    assert(ps.sliding(2).forall { case Array(a, b) => a < b })
    // exact cume_dist values: k/8 for the k-th ranked doc
    assert(ps.zipWithIndex.forall { case (p, i) => p == (i + 1).toDouble / 8 })
    // epoch bands: 2 docs per quartile (cume_dist is right-closed, so
    // the 0.25-percentile row closes epoch 0)
    val es = out.map(_.getAs[Long]("epoch"))
    assert(es.toSeq == Seq(0L, 0L, 1L, 1L, 2L, 2L, 3L, 3L))
    // parity with the naive global window (the oracle form)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"avg_surprisal")
    val naive = Vocab.docSurprisal(docs, "doc_id", "text")
      .withColumn("pctl", cume_dist().over(w))
      .orderBy($"doc_id").collect().map(_.getAs[Double]("pctl"))
    assert(ps.toSeq == naive.toSeq)
    // deterministic order key: pure function of the id
    val again = Vocab.curriculum(docs, "doc_id", "text", epochs = 4)
      .orderBy($"doc_id").collect().map(_.getAs[String]("order_key"))
    assert(again.toSeq == out.map(_.getAs[String]("order_key")).toSeq)
  }

  // "struct" carries learnable order (a b a b … — bigrams nearly
  // deterministic, unigrams ~ln 2/token), "flat" carries none (x x x …
  // — both models price it ~0), so excess(struct) > excess(flat) and
  // DoReMi must up-weight struct.
  private def doremiDocs = Seq(
    (1L, "struct", "a b a b a b a b a b"),
    (2L, "struct", "a b a b a b a b"),
    (3L, "flat", "x x x x x x x x x x"),
    (4L, "flat", "x x x x x x x x")
  ).toDF("doc_id", "source", "text")

  test("doremiWeights: up-weights the high-excess domain; weights sum to 1; boost consistent") {
    val out = Vocab.doremiWeights(doremiDocs, "text", "source")
      .orderBy($"domain").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("flat", "struct"))
    val flat = out(0); val struct = out(1)
    assert(struct.getAs[Double]("excess_loss") >
      flat.getAs[Double]("excess_loss"))
    assert(struct.getAs[Double]("weight") > flat.getAs[Double]("weight"))
    val ws = out.map(_.getAs[Double]("weight"))
    assert(math.abs(ws.sum - 1.0) < 1e-9)
    assert(ws.forall(_ > 0.0))
    // smoothing floor: every weight >= c/K (the uniform mix-in)
    assert(ws.forall(_ >= 0.001 / 2))
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("boost") -
        r.getAs[Double]("weight") / r.getAs[Double]("token_frac")) < 1e-12)
    }
  }

  test("doremiWeights: symmetric domains tie exactly; more steps diverge further; partitioning-invariant") {
    // identical text => identical excess => exactly equal weights
    val sym = Seq((1L, "d1", "a b c a b"), (2L, "d2", "a b c a b"))
      .toDF("doc_id", "source", "text")
    val w2 = Vocab.doremiWeights(sym, "text", "source")
      .orderBy($"domain").collect().map(_.getAs[Double]("weight"))
    assert(w2(0) == w2(1))
    // static lambda: each extra MW step pushes more mass to struct
    def structW(steps: Int) =
      Vocab.doremiWeights(doremiDocs, "text", "source", steps = steps)
        .filter($"domain" === "struct").head().getAs[Double]("weight")
    assert(structW(8) > structW(2))
    // hash-stable: a different partitioning yields bit-identical doubles
    val a = Vocab.doremiWeights(doremiDocs, "text", "source")
      .orderBy($"domain").collect().map(_.toSeq)
    val b = Vocab.doremiWeights(doremiDocs.repartition(7), "text", "source")
      .orderBy($"domain").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // guards
    intercept[IllegalArgumentException](
      Vocab.doremiWeights(doremiDocs, "text", "source", steps = 0))
    intercept[IllegalArgumentException](
      Vocab.doremiWeights(doremiDocs, "text", "source", eta = 0.0))
    intercept[IllegalArgumentException](
      Vocab.doremiWeights(doremiDocs, "text", "source", smoothing = 1.0))
  }

  test("doremiMix: one-plan composition equals the Seq-API rebalance on collected weights; binding domain kept whole") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Sampling, TextAnalysis}
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val out = Vocab.doremiMix(docs, "doc_id", "text", "source")
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(out.nonEmpty)
    // the From-variant with learned weights ≡ the validated Seq API fed
    // the same weights driver-side
    val w = Vocab.doremiWeights(docs, "text", "source")
      .select($"domain", $"weight").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
    val base = docs.select($"doc_id", $"source",
      TextAnalysis.wsTokenCount($"text").cast("long").as("n_tokens"))
    val viaSeq = Sampling.mixtureRebalance(base, "doc_id", "source",
        $"n_tokens", w)
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(out == viaSeq)
    // the binding domain (min tokens/weight) is kept WHOLE
    val toks = base.groupBy($"source").agg(sum($"n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val binding = w.minBy { case (s, wt) => toks(s).toDouble / wt }._1
    val inCnt = base.filter($"source" === binding).count()
    val outCnt = out.count(_(1) == binding)
    assert(outCnt == inCnt)
    // and at least one other domain actually downsampled
    assert(out.size < base.count())
    // guard: the From-variant rejects a malformed target frame
    intercept[IllegalArgumentException](
      Sampling.mixtureRebalanceFrom(base, "doc_id", "source", $"n_tokens",
        docs.select($"source", $"doc_id")))
    ()
  }
}
