package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine of known vectors") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
                 (Array(1.0f, 1.0f), Array(1.0f, 1.0f)),
                 (Array(1.0f, 0.0f), Array(-1.0f, 0.0f)))
      .toDF("a", "b")
      .select(Similarity.cosine(Similarity.asDouble($"a"), Similarity.asDouble($"b")).as("c"))
    val out = df.as[Double].collect()
    assert(math.abs(out(0)) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
    assert(math.abs(out(2) + 1.0) < 1e-12)
  }

  test("bruteForceTopK returns k ranked neighbors per probe, self excluded") {
    val v = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val probes = v.filter($"vec_id" % 100 === 0)
    val out = Similarity.bruteForceTopK(probes, v, k = 5).cache()
    val nProbes = probes.count()
    assert(out.count() == nProbes * 5)
    assert(out.filter($"vec_id" === $"query_id").count() == 0)
    // ranks are 1..5 and cos_sim non-increasing within each probe
    val byQ = out.orderBy($"query_id", $"rank")
      .as[(Long, Int, Long, Double)].collect().groupBy(_._1)
    byQ.values.foreach { rows =>
      assert(rows.map(_._2).toSeq == (1 to 5))
      assert(rows.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("LSH ANN: valid ranks, candidate dedup across bands, nonzero recall") {
    val v = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val probes = v.filter($"vec_id" % 100 === 0)
    val out = Similarity.lshTopK(probes, v, k = 5)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("rank") <= 5))
    // a (query, candidate) pair sharing buckets in several bands must
    // appear once, so ranks are unique per probe
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("vec_id")).distinct.length == rs.length)
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
    }
    // multi-probe candidates overlap the true top-k on random-ish data
    // (bare 4×4 banding measured ~0.24 recall; margin-ordered multi-probe
    // has to clear a retrieval-grade floor)
    val exact = Similarity.bruteForceTopK(probes, v, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.5, s"multi-probe LSH recall $recall")
  }

  test("IVF ANN: valid ranks, self excluded, decent recall vs brute force") {
    val v = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val probes = v.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(probes, v, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(probes, v, k = 5, nCentroids = 16, nProbe = 6)
      .collect()
    assert(ivf.nonEmpty)
    assert(ivf.forall(r => r.getAs[Long]("vec_id") != r.getAs[Long]("query_id")))
    val got = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    // nProbe=6 (the q_ann_ivf config): sampled centroids need a wider
    // probe than fitted cells — measured 0.68 at sf0.01. Floor 0.5:
    // strictly above the old nProbe=4 config's measured 0.40, so the
    // exact regression this pins cannot pass on the >= boundary.
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  /** Synthetic blob corpus: `perBlob` noisy copies of each of nBlobs
    * near-orthogonal base directions in 8-dim — data with real cluster
    * structure, unlike the random fixture embeddings. */
  private def blobCorpus(nBlobs: Int, perBlob: Int, noise: Double, seed: Int = 11) = {
    val rnd = new scala.util.Random(seed)
    val dims = 8
    val rows = for {
      b <- 0 until nBlobs
      i <- 0 until perBlob
    } yield {
      val v = Array.tabulate(dims)(d =>
        (if (d == b) 1.0 else 0.0) + noise * rnd.nextGaussian())
      ((b * perBlob + i).toLong, v.map(_.toFloat))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("kmeansFit init-shortfall: a sample too thin to seed k falls back to the full corpus") {
    // Adversarial ids: n=400 with maxFitRows=16 gives stride 25, and the
    // ids are chosen so only 3 of 400 satisfy the modulus draw — the
    // sample cannot seed k=8 centroids, so the fit must retrain on the
    // full corpus (stride-1 semantics) instead of silently fitting 3.
    val base = blobCorpus(nBlobs = 4, perBlob = 100, noise = 0.08)
    val stride = 25L
    val pool = spark.range(0, 20000)
      .select($"id", pmod(xxhash64($"id".cast("string")), lit(stride)).as("h"))
    val eligible = pool.filter($"h" === 0).select($"id").as[Long].head(3)
    val filler = pool.filter($"h" =!= 0).select($"id").as[Long].head(397)
    val newIds = (eligible ++ filler).toIndexedSeq
    val vecs = base.orderBy($"vec_id")
      .select(Similarity.asDouble($"embedding")).as[Seq[Double]].collect()
    val remapped = vecs.zipWithIndex
      .map { case (v, i) => (newIds(i), v.map(_.toFloat).toArray) }
      .toSeq.toDF("vec_id", "embedding")
    // Sanity: the modulus sample really is 3 rows (< k).
    assert(remapped.filter(
      pmod(xxhash64($"vec_id".cast("string")), lit(stride)) === 0).count() == 3L)
    val capped = Similarity.kmeansFit(remapped, k = 8, maxIter = 10, maxFitRows = 16)
    assert(capped.length == 8, s"fallback must still deliver k centroids, got ${capped.length}")
    // The fallback trains on the maxFitRows MIN-HASH rows (still
    // bounded — NOT a silent full-corpus retrain): it must equal the
    // uncapped fit over exactly that 16-row subset, up to float-sum
    // ulps.
    val minHash16 = remapped.orderBy(xxhash64($"vec_id".cast("string"))).limit(16)
    val direct = Similarity.kmeansFit(minHash16, k = 8, maxIter = 10)
    assert(capped.length == direct.length && capped.zip(direct).forall {
      case (a, b) => a.zip(b).forall { case (p, q) => math.abs(p - q) <= 1e-12 } })
  }

  test("kmeansFit recovers blob directions and never worsens the init objective") {
    val df = blobCorpus(nBlobs = 4, perBlob = 50, noise = 0.08)
    val fit = Similarity.kmeansFit(df, k = 8, maxIter = 10)
    assert(fit.length == 8)
    assert(fit.forall(c => math.abs(c.map(x => x * x).sum - 1.0) < 1e-9),
      "centroids must be unit-norm")
    // Every blob direction has a fitted centroid nearly on top of it.
    (0 until 4).foreach { b =>
      val best = fit.map(c => c(b) / math.sqrt(c.map(x => x * x).sum)).max
      assert(best > 0.9, s"blob $b best centroid cosine $best")
    }
    // Lloyd's objective (avg cosine to the assigned cell) never drops
    // below its value at the init sample — the monotonicity invariant.
    def objective(cents: Seq[Seq[Double]]): Double = {
      val data = df.select(Similarity.asDouble($"embedding")).as[Seq[Double]].collect()
      data.map { v =>
        val nv = math.sqrt(v.map(x => x * x).sum)
        cents.map(c => v.zip(c).map { case (a, b) => a * b }.sum / nv).max
      }.sum / data.length
    }
    // Init = the same deterministic hash-ordered sample kmeansFit starts
    // from (k rows, unit-normalized driver-side).
    val init = df.orderBy(xxhash64($"vec_id".cast("string"))).limit(8)
      .select(Similarity.asDouble($"embedding")).as[Seq[Double]].collect()
      .map { v => val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq }.toSeq
    assert(objective(fit) >= objective(init) - 1e-9)
  }

  test("kmeansFit maxFitRows: capped fit == uncapped fit over the same modulus sample") {
    val df = blobCorpus(nBlobs = 4, perBlob = 100, noise = 0.08)
    // n=400, cap=100 -> stride 4: the training set is the hash-modulus
    // quarter of the corpus. The capped fit must equal running the
    // UNCAPPED fit directly on that subset (same init order, same Lloyd
    // rounds over the same rows) — the sample is a pure pre-filter.
    val capped = Similarity.kmeansFit(df, k = 8, maxIter = 10, maxFitRows = 100)
    val subset = df.filter(
      pmod(xxhash64($"vec_id".cast("string")), lit(4L)) === 0)
    val direct = Similarity.kmeansFit(subset, k = 8, maxIter = 10)
    // Component-wise tolerance, not ==: the two fits build different
    // physical plans over the same rows, and cross-partition float
    // summation makes fitted components reproducible only up to ulps
    // (the module contract) — bit-exact equality could flake under a
    // different partition count.
    def centsClose(a: Seq[Seq[Double]], b: Seq[Seq[Double]], tol: Double = 1e-12): Boolean =
      a.length == b.length && a.zip(b).forall { case (x, y) =>
        x.length == y.length &&
          x.zip(y).forall { case (p, q) => math.abs(p - q) <= tol } }
    assert(centsClose(capped, direct), "modulus sample must be a pure pre-filter")
    // And a quarter-sample of 4 well-separated blobs still recovers all
    // blob directions — the reason sample-fitting is sound at scale.
    (0 until 4).foreach { b =>
      val best = capped.map(c => c(b)).max
      assert(best > 0.9, s"blob $b best capped-fit centroid component $best")
    }
    // cap >= n: stride 1, bit-identical to the unbounded fit.
    val full = Similarity.kmeansFit(df, k = 8, maxIter = 10)
    assert(centsClose(Similarity.kmeansFit(df, k = 8, maxIter = 10, maxFitRows = 400), full))
    intercept[IllegalArgumentException] {
      Similarity.kmeansFit(df, k = 8, maxFitRows = 4)
    }
  }

  test("kmeansFitMemo: the key covers the vector column — another column under the same corpusKey gets its own centroids") {
    SessionMemo.invalidateAll(spark)
    val df = blobCorpus(nBlobs = 4, perBlob = 50, noise = 0.08)
      .withColumn("flipped", transform($"embedding", x => -x))
    def close(a: Seq[Seq[Double]], b: Seq[Seq[Double]]): Boolean =
      a.length == b.length && a.zip(b).forall { case (x, y) =>
        x.zip(y).forall { case (p, q) => math.abs(p - q) <= 1e-12 } }
    try {
      val (n, plain) = Similarity.kmeansFitMemo(df)
      val (_, flipped) = Similarity.kmeansFitMemo(df,
        vecCol = "flipped")
      val direct = Similarity.kmeansFit(df, k = Similarity.cellsFor(n),
        maxIter = 5, vecCol = "flipped")
      assert(close(flipped, direct), "the flipped column must train its own model")
      assert(!close(flipped, plain))
      // the first column's entry is still served from the memo
      assert(Similarity.kmeansFitMemo(df)._2 eq plain)
    } finally SessionMemo.invalidateAll(spark)
  }

  test("fitted-centroid IVF: high recall on clustered data, edge cases guarded") {
    val df = blobCorpus(nBlobs = 4, perBlob = 50, noise = 0.08)
    val probes = df.filter($"vec_id" % 20 === 0)
    val exact = Similarity.bruteForceTopK(probes, df, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val cents = Similarity.kmeansFit(df, k = 8, maxIter = 10)
    val fit = Similarity.ivfTopK(probes, df, k = 5, nProbe = 2, centroids = cents)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(fit.contains).toDouble / exact.size
    // On blobby data a trained cell model keeps neighbors together:
    // near-perfect recall at nProbe=2 of 8 cells.
    assert(recall >= 0.8, s"fitted-IVF recall $recall")
    // Degenerate models: zero/NaN centroids are dropped; < 2 survivors
    // falls back to exact search (same rule as a degenerate corpus).
    val junk = Seq(Seq.fill(8)(0.0), Seq(Double.NaN) ++ Seq.fill(7)(0.0), cents.head)
    val fb = Similarity.ivfTopK(probes, df, k = 5, centroids = junk)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(fb == exact, "one surviving centroid must mean exact fallback")
    // k larger than the corpus: returns what exists, no crash.
    val tiny = df.limit(3)
    assert(Similarity.kmeansFit(tiny, k = 8, maxIter = 2).length == 3)
  }

  test("IVF centroid assignment is a projection: only the top-k window remains") {
    val v = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val probes = v.filter($"vec_id" % 100 === 0)
    val plan = Similarity.ivfTopK(probes, v, k = 5).queryExecution
      .executedPlan.toString
    // The corpus-side nearest-centroid argmax must NOT plan as a window
    // (the old form shuffled corpus×nCentroids rows through a row_number
    // window); the only Window left is scoreAndTopK's per-probe top-k.
    // \b excludes WindowGroupLimit (the pushed partial top-k, which is fine).
    assert("""\bWindow\b""".r.findAllIn(plan).length == 1, plan.take(2000))
  }

  test("IVF degrades to exact search on degenerate (0/1-vector) corpora") {
    val v = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val probes = v.filter($"vec_id" % 100 === 0)
    val one = v.filter($"vec_id" === 1)
    // 1-vector corpus: every probe (≠ id 1) gets exactly that neighbor.
    val rows = Similarity.ivfTopK(probes, one, k = 5).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("vec_id") == 1L))
    // Empty corpus: empty result, no crash.
    assert(Similarity.ivfTopK(probes, v.filter($"vec_id" < 0), k = 5).count() == 0)
  }

  test("native LSH bucket expression matches the declarative fold bit-for-bit") {
    val v = Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select($"vec_id", Similarity.asDouble($"embedding").as("dv"))
    val checked = v.select($"vec_id",
        graft.functions.LshBucketExpr.lshBucket($"dv", 0, 8).as("native0"),
        SimilarityTwins.lshBucketDeclarative($"dv", 0, 8).as("decl0"),
        graft.functions.LshBucketExpr.lshBucket($"dv", 12, 4).as("native12"),
        SimilarityTwins.lshBucketDeclarative($"dv", 12, 4).as("decl12"))
      .filter($"native0" =!= $"decl0" || $"native12" =!= $"decl12")
    assert(checked.count() == 0)
    // null-bearing vectors land in bucket 0 under both formulations
    val nulled = spark.sql("SELECT array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)) AS dv")
    val r = nulled.select(
      graft.functions.LshBucketExpr.lshBucket($"dv", 0, 8).as("n"),
      SimilarityTwins.lshBucketDeclarative($"dv", 0, 8).as("d")).collect().head
    assert(r.getInt(0) == 0 && r.getInt(1) == 0)
  }

  test("native cell assignment matches the declarative greatest-of-structs form bit-for-bit") {
    import graft.functions.{CellAssignExpr, CellModel, CellTopExpr}
    val v = Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select($"vec_id", Similarity.asDouble($"embedding").as("dv"))
      .withColumn("n", Similarity.dot($"dv", $"dv"))
      .filter($"n" > 0)
    // Centroids from the corpus itself, plus an exact DUPLICATE centroid
    // (indices 0 and 1 identical) so the smallest-index tie-break is
    // actually exercised: every row's best-cell sim ties between 0 and 1.
    val base = v.orderBy($"vec_id").limit(7).select($"dv", $"n")
      .collect().map(r => r.getSeq[Double](0).toSeq -> r.getDouble(1)).toSeq
    val centRows = base.head +: base
    val model = CellModel(centRows)
    val mismatch = v.select(
        CellAssignExpr.cellAssign($"dv", $"n", model).as("native"),
        SimilarityTwins.bestCellDeclarative($"dv", $"n", centRows).as("decl"),
        CellTopExpr.cellTop($"dv", $"n", model, 4).as("nativeTop"),
        SimilarityTwins.topCellsDeclarative($"dv", $"n", centRows, 4).as("declTop"))
      .filter($"native" =!= $"decl" || $"nativeTop" =!= $"declTop")
    assert(mismatch.count() == 0)
    // The duplicate-centroid tie resolves to index 0 whenever cell 0/1 wins.
    val best = v.select(CellAssignExpr.cellAssign($"dv", $"n", model).as("c"))
      .as[Int].collect()
    assert(!best.contains(1) && best.contains(0))
    // nProbe beyond k truncates to k distinct cells, ordered sim-desc.
    val topAll = v.limit(1).select(
      CellTopExpr.cellTop($"dv", $"n", model, 100).as("t")).as[Seq[Int]].collect().head
    assert(topAll.length == centRows.length && topAll.distinct.length == topAll.length)
  }

  test("LSH-blocked near-dup pairs: full recall on injected duplicates, no false positives") {
    val dup = graft.queries.SimilarityQueries.dupEmbCorpus(spark, TestSpark.Sf0001)
    val truth = Similarity.cosineNearDupPairs(
        dup.withColumn("__all", lit(1)), "__all", 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosineNearDupPairsLsh(dup, minCos = 0.9)
    val got = lsh.select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.9, s"LSH-blocked recall $recall over ${truth.size} true pairs")
    // candidates verify with EXACT cosine at the same boundary, so the
    // result can under- but never over-approximate the truth
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth).take(5)}")
    // plan shape: bucket build + pair distinct, join-free
    val plan = lsh.queryExecution.executedPlan.toString
    assert("""Exchange hashpartitioning""".r.findAllIn(plan).length <= 2, plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("label-blocked near-dup pairs stay within block and above threshold") {
    val v = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val out = Similarity.cosineNearDupPairs(v, "label", 0.3)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("cos_sim") >= 0.3))
    assert(rows.forall(r => r.getAs[Long]("id1") < r.getAs[Long]("id2")))
  }

  test("zero-norm and NaN vectors are excluded wherever cosine is undefined") {
    // cos(zero, x) = 0/0 = NaN, and Spark orders NaN ABOVE every number:
    // unguarded, vec 3 would pass `NaN >= minCos` into near-dup pairs and
    // rank FIRST in every probe's top-k.
    val base = Seq(
      (1L, Array(1.0f, 0.0f), "a"),
      (2L, Array(0.9f, 0.1f), "a"),
      (3L, Array(0.0f, 0.0f), "a"),      // zero vector
      (4L, Array(Float.NaN, 1.0f), "a")  // NaN component
    ).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.cosineNearDupPairs(base, "label", 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs.forall(!_.getAs[Double]("cos_sim").isNaN))
    val lsh = Similarity.cosineNearDupPairsLsh(base, minCos = 0.5,
      bands = 2, planesPerBand = 2, bucketCap = 10).collect()
    assert(lsh.forall(r => Set(1L, 2L)(r.getAs[Long]("id1")) &&
      Set(1L, 2L)(r.getAs[Long]("id2"))))
    val ann = Similarity.bruteForceTopK(base, base, k = 3).collect()
    assert(ann.nonEmpty)
    assert(ann.forall(r => r.getAs[Long]("vec_id") != 3L && r.getAs[Long]("vec_id") != 4L))
    assert(ann.forall(r => r.getAs[Long]("query_id") != 3L && r.getAs[Long]("query_id") != 4L))
    assert(ann.forall(!_.getAs[Double]("cos_sim").isNaN))
  }

  test("dot/cosine read float[] columns correctly (implicit array<double> cast)") {
    // DotProductExpr reads 8-byte doubles out of ArrayData: an uncast
    // float[] column (the embeddings table's type!) would misread under
    // codegen. The Column wrappers now cast like the SQL registration.
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val r = df.select(
      Similarity.dot($"a", $"b").as("d"),
      Similarity.cosine($"a", $"b").as("c")).head()
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 11.0 / math.sqrt(5.0 * 25.0)) < 1e-12)
    // LSH bucket on raw float vectors equals the double-cast declarative twin
    val v = Tables.load(spark, TestSpark.Sf0001, "embeddings").limit(20)
    val cmp = v.select(
      graft.functions.LshBucketExpr.lshBucket($"embedding", 0, 4).as("native"),
      SimilarityTwins.lshBucketDeclarative(
        Similarity.asDouble($"embedding"), 0, 4).as("twin")).collect()
    assert(cmp.nonEmpty && cmp.forall(r => r.getInt(0) == r.getInt(1)))
  }

  test("semDedup: injected exact copies drop, canonical minimum kept once per component") {
    val dup = graft.queries.SimilarityQueries.dupEmbCorpus(spark, TestSpark.Sf0001)
    val out = Similarity.semDedup(dup, minCos = 0.9, k = 16).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    // Every surviving input vector gets exactly one row.
    assert(rows.length == rows.map(_.getAs[Long]("id")).distinct.length)
    // An exact copy has the IDENTICAL vector as its source, so its argmax
    // cell matches deterministically: every +100000 injection must be a
    // drop whose component is the (smaller) source id.
    val exactCopies = rows.filter(_.getAs[Long]("id") >= 100000L)
      .filter(_.getAs[Long]("id") < 200000L)
    assert(exactCopies.nonEmpty)
    exactCopies.foreach { r =>
      assert(!r.getAs[Boolean]("keep"), s"copy ${r.getAs[Long]("id")} kept")
      assert(r.getAs[Long]("component") == r.getAs[Long]("id") - 100000L)
    }
    // Component invariant: exactly one keeper per component, and it is
    // the component's minimum member (which labels the component).
    rows.groupBy(_.getAs[Long]("component")).foreach { case (comp, members) =>
      val keepers = members.filter(_.getAs[Boolean]("keep"))
      assert(keepers.length == 1, s"component $comp has ${keepers.length} keepers")
      assert(keepers.head.getAs[Long]("id") == comp)
      assert(members.map(_.getAs[Long]("id")).min == comp)
    }
    // Perturbed injections (+200000, cos≈0.999) can straddle a cell
    // boundary only at an argmax tie — recall stays near-total.
    val perturbed = rows.filter(_.getAs[Long]("id") >= 200000L)
    assert(perturbed.nonEmpty)
    val droppedFrac = perturbed.count(!_.getAs[Boolean]("keep")).toDouble / perturbed.length
    assert(droppedFrac >= 0.9, s"perturbed-copy drop fraction $droppedFrac")
    out.unpersist()
  }

  test("semDedup edge cases: undefined norms excluded, tiny corpus single-cell exact") {
    val base = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.99f, 0.02f)),   // cos vs 1 ≈ 0.9998 — duplicate
      (3L, Array(0.0f, 1.0f)),     // orthogonal — singleton
      (4L, Array(0.0f, 0.0f)),     // zero vector: excluded
      (5L, Array(Float.NaN, 1.0f)) // NaN: excluded
    ).toDF("vec_id", "embedding")
    // 3 usable rows < k: kmeansFit returns < 2 centroids is impossible
    // here (3 survivors), but cells are tiny — correctness must not
    // depend on the cell count, so run both a fitted and a forced
    // single-cell pass and demand the same verdicts.
    val fitted = Similarity.semDedup(base, minCos = 0.9, k = 2, maxIter = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("component"), r.getAs[Boolean]("keep"))).toMap
    val single = Similarity.semDedup(base.limit(1), minCos = 0.9, k = 2)
      .collect()
    assert(single.length == 1 && single.head.getAs[Boolean]("keep"))
    assert(!fitted.contains(4L) && !fitted.contains(5L), "undefined norms must be excluded")
    assert(fitted(3L) == (3L, true), "orthogonal vector is its own keeper")
    // 1 and 2 are duplicates IF they share a cell (near-identical
    // directions do unless k-means splits them — with k=2 over {dir-x
    // ×2, dir-y} the x-blob shares a cell); verify the verdict pair is
    // consistent either way: same component ⇒ 2 dropped, else both kept.
    if (fitted(2L)._1 == 1L) assert(fitted(2L)._2 == false && fitted(1L) == (1L, true))
    else assert(fitted(1L)._2 && fitted(2L)._2)
    // Empty corpus: empty output, no crash.
    assert(Similarity.semDedup(base.filter($"vec_id" < 0), minCos = 0.9, k = 2)
      .count() == 0)
  }

  test("planesFor grows with the corpus but clamps at LshBucketExpr's 30-bit ceiling") {
    assert(Similarity.planesFor(100) >= 2)
    assert(Similarity.planesFor(1L << 20) < Similarity.planesFor(1L << 40))
    assert(Similarity.planesFor(Long.MaxValue) == 30)
  }

  test("lshParamsFor: 6-band Pareto default; plane cap pins coverage at scale") {
    // small corpora keep the historical 4-plane floor
    assert(Similarity.lshParamsFor(1600) == ((6, 4, 5)))
    // sf1-scale sits AT the cap already (planesFor(50k, 512) = 7)
    assert(Similarity.lshParamsFor(50000) == ((6, 7, 8)))
    // beyond ~65k the cap binds: planes stay 7 however large the corpus,
    // so coverage bands·nProbe/2^planes stays 37.5% instead of collapsing
    // (the sf10 0.45-recall lesson; bands=6 is the LSH_LAB_SF10
    // t2048_6bands Pareto winner — recall 0.836 at 5.63 s vs the
    // 4-band cap's 0.709 at 8.02 s)
    assert(Similarity.lshParamsFor(200000) == ((6, 7, 8)))
    assert(Similarity.lshParamsFor(1L << 40) == ((6, 7, 8)))
    val (b, p, np) = Similarity.lshParamsFor(1L << 40)
    assert(b * np.toDouble / (1 << p) >= 0.25)
  }

  test("knnGraphLsh: directed edges, dense ranks, near-dup edges recovered") {
    val dup = graft.queries.SimilarityQueries.dupEmbCorpus(spark, TestSpark.Sf0001)
    val g = Similarity.knnGraphLsh(dup, k = 3).cache()
    val rows = g.collect()
    assert(rows.nonEmpty)
    // per-vector ranks are dense from 1 and ≤ k; no self edges
    val byId = rows.groupBy(_.getLong(0))
    byId.foreach { case (id, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length),
        s"ranks not dense for $id")
      assert(rs.length <= 3)
      assert(rs.forall(_.getLong(2) != id), s"self edge for $id")
    }
    // every injected exact copy (cos 1.0 with its source) must place its
    // twin at rank 1 in BOTH directions — identical vectors share every
    // band's bucket, so a miss means the graph build itself is broken.
    val copies = dup.filter($"vec_id" >= 100000L && $"vec_id" < 200000L)
      .select($"vec_id").as[Long].collect()
    val top1 = rows.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hit = copies.count { c =>
      top1.get(c).contains(c - 100000L) && top1.get(c - 100000L).contains(c) }
    assert(hit.toDouble / copies.length >= 0.95,
      s"exact-copy rank-1 recovery ${hit.toDouble / copies.length}")
    // edge recall vs the brute-force graph (weakly-similar neighbors —
    // the banding curve's hard case; bands=8 holds a usable floor)
    val truth = Similarity.bruteForceTopK(dup, dup, k = 3)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = truth.count(got.contains).toDouble / truth.length
    assert(recall >= 0.3, s"knn-graph edge recall $recall")
    g.unpersist()
    // guards
    intercept[IllegalArgumentException](Similarity.knnGraphLsh(dup, k = 0))
  }

  test("knnGraphLsh: plan is the bucket self-join shape — no join operator, bounded window") {
    val v = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val g = Similarity.knnGraphLsh(v, k = 3, bands = 2, planesPerBand = 4)
    val plan = g.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(2000))
    // no TakeOrderedAndProject and no Window: the top-k is the bounded
    // TopKNeighbors merge aggregate, never a global or per-id sort
    assert(!plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("labelCoherence: hand-computed quantized cosines; degenerate members dropped") {
    val docs = Seq(
      (1L, Array(1.0f, 0.0f), Some(0)),
      (2L, Array(0.0f, 1.0f), Some(0)), // S = (1000, 1000); cos = 1/sqrt(2)
      (3L, Array(3.0f, 4.0f), Some(1)), // singleton: cos = 1 exactly
      (4L, Array(0.0f, 0.0f), Some(2)), // zero norm: dropped -> label absent
      (5L, Array(1.0f, 1.0f), None: Option[Int]) // null label
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCoherence(docs).orderBy($"label").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(0, 1))
    val l0 = out(0)
    assert(l0.getAs[Long]("n_members") == 2L)
    // round(1/sqrt(2), 6) = 0.707107 — frozen, both members identical
    assert(l0.getAs[Double]("avg_cos") == 0.707107)
    assert(l0.getAs[Double]("min_cos") == 0.707107)
    assert(out(1).getAs[Double]("avg_cos") == 1.0)
    assert(out(1).getAs[Double]("min_cos") == 1.0)
  }

  test("ivfPqTopK: valid ranks, self excluded, usable recall vs brute force") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val probes = emb.filter($"vec_id" % 100 === 0)
    val out = Similarity.ivfPqTopK(probes, emb, k = 5, nCentroids = 16,
      nProbe = 6)
    val rows = out.collect()
    // dense ranks 1..≤5 per probe, self never returned
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length).toSeq, s"q=$q")
      assert(rs.forall(_.getLong(2) != q), s"self match for $q")
    }
    // quantized scores stay cosines
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0001))
    val truth = Similarity.bruteForceTopK(probes, emb, k = 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = truth.count(got.contains).toDouble / truth.length
    assert(recall >= 0.4, s"ivfpq recall $recall")
    // degenerate corpora fall back to exact search
    val tiny = emb.limit(3)
    val fb = Similarity.ivfPqTopK(tiny, tiny, k = 2, nCentroids = 16, nProbe = 2)
    val ex = Similarity.bruteForceTopK(tiny, tiny, k = 2)
    assert(fb.collect().map(_.toSeq).toSet == ex.collect().map(_.toSeq).toSet)
    intercept[IllegalArgumentException](
      Similarity.ivfPqTopK(probes, emb, k = 0))
  }

  test("ivfPqTopK: codes are m small ids — the scored side carries no vectors") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val probes = emb.filter($"vec_id" % 100 === 0)
    val plan = Similarity.ivfPqTopK(probes, emb, k = 5).queryExecution
      .executedPlan.toString
    // the probed-cell join must be broadcast (probe side is tiny) and
    // no Cartesian anywhere
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      plan.take(2000))
    assert(!plan.contains("Cartesian"), plan.take(2000))
    // the ADC shortlist is the bounded TopKNeighbors aggregate, not a
    // per-probe sort of every in-cell candidate: the ONLY Window left is
    // the final rank assignment over ≤ refine·k already-pruned rows.
    // \b excludes WindowGroupLimit (a pushed partial top-k, fine).
    assert("""\bWindow\b""".r.findAllIn(plan).length == 1, plan.take(2000))
  }

  test("randomProjection: empty and all-null inputs yield an empty frame, not a crash") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = Similarity.randomProjection(empty)
    assert(e.columns.toSeq == Seq("vec_id", "out_dim", "value_milli"))
    assert(e.count() == 0)
    val nulls = Seq((1L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    assert(Similarity.randomProjection(nulls).count() == 0)
  }

  test("randomProjection: values match a test-side md5-sign recomputation") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def sgn(i: Int, j: Int): Long =
      if ("01234567".contains(md5hex(s"$j:$i").charAt(0))) 1L else -1L
    val docs = Seq(
      (1L, Array(0.5f, -0.25f)),     // q = (500, -250)
      (2L, Array(1.0f, 2.0f))        // q = (1000, 2000)
    ).toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(docs, outDims = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val qs = Map(1L -> Seq(500L, -250L), 2L -> Seq(1000L, 2000L))
    for (id <- Seq(1L, 2L); j <- 0 until 3) {
      val exp = qs(id).zipWithIndex.map { case (q, i) => q * sgn(i, j) }.sum
      assert(out((id, j.toLong)) == exp, s"id=$id j=$j")
    }
    assert(out.size == 6)
  }

  test("embeddingDrift: hand-computed centroid cosines; one-sided and zero-norm labels dropped") {
    val old = Seq(
      (1L, Array(1.0f, 0.0f), Some(0)),  // label 0 old centroid ~ (2000, 0)
      (2L, Array(1.0f, 0.0f), Some(0)),
      (3L, Array(0.0f, 1.0f), Some(1)),  // label 1 old centroid (0, 1000)
      (4L, Array(1.0f, 1.0f), Some(2)),  // label 2: absent on new side
      (5L, Array(0.5f, 0.5f), None: Option[Int])
    ).toDF("vec_id", "embedding", "label")
    val nw = Seq(
      (11L, Array(1.0f, 0.0f), Some(0)),     // identical direction: cos 1
      (12L, Array(1.0f, 0.0f), Some(0)),
      (13L, Array(1.0f, 0.0f), Some(0)),
      (14L, Array(1.0f, 0.0f), Some(1)),     // orthogonal to old: cos 0
      (15L, Array(0.0004f, 0.0f), Some(3))   // quantizes to zero: dropped
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingDrift(old, nw).orderBy($"label").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(0, 1))
    val l0 = out(0)
    assert(l0.getAs[Long]("n_old") == 2L && l0.getAs[Long]("n_new") == 3L)
    assert(l0.getAs[Double]("centroid_cos") == 1.0)
    assert(out(1).getAs[Double]("centroid_cos") == 0.0)
  }

  test("clusterCapSample: cap enforced per cell, coverage total, window-form equality") {
    // Two far-apart clusters under FIXED centroids: 30 vectors on the
    // x-axis (ids 0..29), 3 on the y-axis (ids 100..102). cap=5 must
    // keep exactly 5 of the dense cell and all 3 of the sparse one.
    val dense = (0 until 30).map(i => (i.toLong, Array(1.0f, 0.0f, 0.001f * i)))
    val sparse = (0 until 3).map(i => (100L + i, Array(0.0f, 1.0f, 0.001f * i)))
    val df = (dense ++ sparse).toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    val out = Similarity.clusterCapSample(df, cap = 5, centroids = cents)
      .collect()
    assert(out.length == 8, "sum of min(cap, cell_n)")
    val byCell = out.groupBy(_.getAs[Int]("cell"))
    assert(byCell.size == 2, "both cells covered")
    byCell.foreach { case (_, rows) =>
      val n = rows.head.getAs[Long]("cell_n")
      assert(rows.length == math.min(5L, n).toInt)
      assert(rows.map(_.getAs[Int]("rn")).sorted.toSeq == (1 to rows.length))
    }
    // the sparse cell keeps every member
    val sparseKept = out.filter(_.getAs[Long]("cell_n") == 3L)
      .map(_.getAs[Long]("id")).sorted.toSeq
    assert(sparseKept == Seq(100L, 101L, 102L))
    // window-form equality on the dense cell: the kept 5 are the 5
    // smallest salted-md5 ranks over ALL 30 dense ids (the
    // groupExemplars rank recomputed independently here)
    val rank = concat(
      md5(concat(lit("graft:"), $"id".cast("string"))), lit(":"),
      md5(concat(lit("graft2:"), $"id".cast("string"))), lit(":"),
      $"id".cast("string"))
    val expected = dense.map(_._1).toDF("id")
      .select($"id", rank.as("rk")).orderBy($"rk").limit(5)
      .select($"id").as[Long].collect().toSet
    val denseKept = out.filter(_.getAs[Long]("cell_n") == 30L)
      .map(_.getAs[Long]("id")).toSet
    assert(denseKept == expected, "bounded draw ≡ full window sort")
    // determinism: a second run is row-identical
    val again = Similarity.clusterCapSample(df, cap = 5, centroids = cents)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rn"))).toSet
    assert(again == out.map(r => (r.getAs[Long]("id"), r.getAs[Int]("rn"))).toSet)
    // degenerate corpus (< 2 usable centroids): one cell, cap still binds
    val one = Similarity.clusterCapSample(df, cap = 4,
      centroids = Seq(Seq(1.0, 0.0, 0.0)))
    assert(one.count() == 4 &&
      one.select("cell").distinct().as[Int].collect().toSeq == Seq(0))
  }

  test("pcaFit: recovers the dominant axis; spectrum ordered; deterministic") {
    // Variance 100× along u = (3,4)/5, small along the orthogonal v.
    // Deterministic "noise" from index arithmetic — no RNG in tests.
    val u = Array(0.6, 0.8); val w = Array(-0.8, 0.6)
    val vecs = (0 until 400).map { i =>
      val a = (i % 21 - 10).toDouble      // spread -10..10 along u
      val b = ((i * 7) % 5 - 2).toDouble * 0.1 // -0.2..0.2 along w
      (i.toLong, Array((a * u(0) + b * w(0)).toFloat,
        (a * u(1) + b * w(1)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val (evs, vals, mu) = Similarity.pcaFit(df, outDims = 2)
    assert(evs.length == 2 && vals.length == 2)
    assert(vals.head >= vals(1), "spectrum ordered desc")
    val cosTop = math.abs(evs.head(0) * u(0) + evs.head(1) * u(1))
    assert(cosTop > 0.999, s"top axis recovered, got $cosTop")
    // sign convention: largest-|entry| component positive
    assert(evs.forall(v => v(v.indices.maxBy(i => math.abs(v(i)))) > 0))
    // orthonormal
    val dot01 = evs(0).zip(evs(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot01) < 1e-9)
    assert(math.abs(evs.head.map(x => x * x).sum - 1.0) < 1e-9)
    // deterministic refit
    val (evs2, vals2, mu2) = Similarity.pcaFit(df, outDims = 2)
    assert(evs2 == evs && vals2 == vals && mu2 == mu)
  }

  test("projectPca: values match a local exact recomputation; null vectors drop") {
    val vecs = Seq((1L, Array(1.5f, -0.25f)), (2L, Array(0.0f, 2.0f)),
      (3L, null.asInstanceOf[Array[Float]]))
    val df = vecs.toDF("vec_id", "embedding")
    val evs = Seq(Seq(0.6, 0.8), Seq(-0.8, 0.6))
    val mu = Seq(100L, 50L) // milli units
    val out = Similarity.projectPca(df, evs, mu)
      .orderBy($"vec_id", $"out_dim").collect()
    assert(out.length == 4, "null embedding drops")
    // local recomputation: q = round(x*1000); w = round(ev*1e6);
    // value = sum((q - mu) * w)
    def expect(x: Array[Float], j: Int): Long =
      x.indices.map { i =>
        (math.round(x(i).toDouble * 1000) - mu(i)) * math.round(evs(j)(i) * 1e6)
      }.sum
    assert(out(0).getAs[Long]("value_q") == expect(Array(1.5f, -0.25f), 0))
    assert(out(1).getAs[Long]("value_q") == expect(Array(1.5f, -0.25f), 1))
    assert(out(2).getAs[Long]("value_q") == expect(Array(0.0f, 2.0f), 0))
    assert(out(3).getAs[Long]("value_q") == expect(Array(0.0f, 2.0f), 1))
  }

  test("pcaSpectrum: shares sum to 1, cum monotone, dominant axis dominates") {
    val u = Array(0.6, 0.8); val w = Array(-0.8, 0.6)
    val vecs = (0 until 200).map { i =>
      val a = (i % 21 - 10).toDouble
      val b = ((i * 7) % 5 - 2).toDouble * 0.1
      (i.toLong, Array((a * u(0) + b * w(0)).toFloat,
        (a * u(1) + b * w(1)).toFloat))
    }
    val out = Similarity.pcaSpectrum(vecs.toDF("vec_id", "embedding"))
      .orderBy($"component").collect()
    assert(out.length == 2)
    val shares = out.map(_.getAs[Double]("var_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-12)
    assert(shares(0) > 0.99, s"dominant axis captures ~all variance: ${shares.toSeq}")
    val cums = out.map(_.getAs[Double]("cum_share"))
    assert(cums.sliding(2).forall { case Array(a, b) => b >= a })
    assert(math.abs(cums.last - 1.0) < 1e-12)
    // empty input: empty spectrum, not a crash
    assert(Similarity.pcaSpectrum(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")).count() == 0L)
  }

  test("jacobiEigen: hand-computed symmetric spectrum") {
    // [[2,1],[1,2]] has eigenvalues 3 (along (1,1)) and 1 (along (1,-1)).
    val (vals, v) = Similarity.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val pairs = vals.zipWithIndex.sortBy(-_._1)
    assert(math.abs(pairs(0)._1 - 3.0) < 1e-12 && math.abs(pairs(1)._1 - 1.0) < 1e-12)
    val top = Array(v(0)(pairs(0)._2), v(1)(pairs(0)._2))
    assert(math.abs(math.abs(top(0)) - math.sqrt(0.5)) < 1e-9 &&
      math.abs(top(0) - top(1)) < 1e-9)
  }

  test("dimTruncationRecall: signal-bearing prefixes keep recall, noise prefixes lose it; full width is exact") {
    // Signal lives in dims 1-2; dims 3-4 are constant noise -> the d=2
    // prefix preserves the exact ranking, so recall@k = 1 there AND at
    // full width.
    val sig = (0 until 12).map { i =>
      (i.toLong, Array(math.cos(i * 0.5).toFloat, math.sin(i * 0.5).toFloat, 1.0f, 1.0f))
    }.toDF("vec_id", "embedding")
    val probes = sig.filter($"vec_id" < 2)
    val out = Similarity.dimTruncationRecall(probes, sig, dims = Seq(2, 4), k = 3)
      .orderBy($"dims").collect()
    assert(out.map(_.getAs[Int]("dims")).toSeq == Seq(2, 4))
    assert(out.forall(_.getAs[Long]("full_pairs") == 6L)) // 2 probes x k=3
    assert(out(1).getAs[Double]("recall") == 1.0, "full width reproduces itself")
    assert(out(0).getAs[Double]("recall") == 1.0, "constant tail dims don't reorder")
    // Signal ONLY in dims 3-4: the d=2 prefix is constant across rows ->
    // ranking degenerates to tie-break order, recall drops below 1.
    val tail = (0 until 12).map { i =>
      (i.toLong, Array(1.0f, 1.0f, math.cos(i * 0.5).toFloat, math.sin(i * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val out2 = Similarity.dimTruncationRecall(tail.filter($"vec_id" < 2), tail,
        dims = Seq(2, 4), k = 3)
      .orderBy($"dims").collect()
    assert(out2(1).getAs[Double]("recall") == 1.0)
    assert(out2(0).getAs[Double]("recall") < 1.0, "signal is invisible at d=2")
    // guards
    intercept[IllegalArgumentException](
      Similarity.dimTruncationRecall(probes, sig, dims = Nil))
    intercept[IllegalArgumentException](
      Similarity.dimTruncationRecall(probes, sig, dims = Seq(2, 2)))
    ()
  }

  test("clusterSilhouette: separated clusters near 1, equidistant point 0, hand-checked means") {
    // Two orthogonal tight clusters + one exactly-equidistant probe.
    val a = (0 until 4).map(i => (i.toLong, Array(1.0f, 0.0f)))
    val b = (0 until 4).map(i => (100L + i, Array(0.0f, 1.0f)))
    val mid = Seq((200L, Array(1.0f, 1.0f)))
    val df = (a ++ b ++ mid).toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val out = Similarity.clusterSilhouette(df, centroids = cents)
      .orderBy($"cell").collect()
    assert(out.length == 2)
    // on-axis members: a = 0, b = 1, s = 1; the diagonal probe lands in
    // cell 0 (tie -> smallest index) with a = b -> s = 0
    val c0 = out(0); val c1 = out(1)
    assert(c0.getAs[Long]("n") == 5L && c1.getAs[Long]("n") == 4L)
    assert(c1.getAs[Double]("silhouette") == 1.0)
    assert(c1.getAs[Double]("mean_a") == 0.0 && c1.getAs[Double]("mean_b") == 1.0)
    // cell 0: four s=1 rows and one s=0 row -> mean 4_000_000/5e6 = 0.8
    assert(c0.getAs[Double]("silhouette") == 0.8)
    // micro-quantized means are partitioning-invariant
    val again = Similarity.clusterSilhouette(df.repartition(7), centroids = cents)
      .orderBy($"cell").collect().map(_.toSeq).toSeq
    assert(again == out.map(_.toSeq).toSeq)
    // b >= a under argmax assignment -> s in [0, 1] on a noisier fixture
    val noisy = (0 until 50).map(i =>
      (i.toLong, Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat)))
      .toDF("vec_id", "embedding")
    val ns = Similarity.clusterSilhouette(noisy,
      centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.5)))
      .collect()
    assert(ns.map(_.getAs[Long]("n")).sum == 50L)
    ns.foreach { r =>
      val s = r.getAs[Double]("silhouette")
      assert(s >= 0.0 && s <= 1.0, s"silhouette out of range: $s")
      assert(r.getAs[Double]("mean_b") >= r.getAs[Double]("mean_a"))
    }
    // guard: fewer than 2 usable centroids
    intercept[IllegalArgumentException](
      Similarity.clusterSilhouette(df, centroids = Seq(Seq(1.0, 0.0))))
    ()
  }

  test("clusterCapSample: plan is one bounded aggregate + broadcast census join") {
    val df = (0 until 50).map(i => (i.toLong, Array(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.clusterCapSample(df, cap = 3,
      centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"cell census must broadcast:\n$plan")
    assert(!plan.contains("Window"), s"no window funnel:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-scale shuffle join:\n$plan")
  }

  test("labelCoherence: quantization is the contract — sub-half-milli components vanish") {
    // 0.0004 quantizes to 0 -> the member's norm is zero -> dropped,
    // and the label with one surviving member reports exactly 1.0
    val docs = Seq(
      (1L, Array(0.0004f, 0.0004f), 7),
      (2L, Array(0.5f, 0.5f), 7)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCoherence(docs).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_members") == 1L)
    assert(out.head.getAs[Double]("avg_cos") == 1.0)
  }
}
