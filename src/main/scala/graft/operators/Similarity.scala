package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.streaming.Census

/** Embedding similarity search (SURVEY.md §2 #24-#26): brute-force cosine
  * top-k as the exact baseline, random-hyperplane LSH bucketing as the
  * scale path, and cosine near-duplicate pairs with label blocking.
  *
  * The hot dot product is a native codegen'd Catalyst expression
  * ([[graft.functions.DotProductExpr]]) with left-to-right accumulation, so
  * results are deterministic and engine-portable. The probe side of every
  * search is broadcast: at 100 TB the candidate corpus streams through one
  * scan and never shuffles.
  */
object Similarity {

  /** Elementwise widen to double — keeps all arithmetic in one type. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Left-to-right dot product — native codegen'd expression (the
    * zip_with/aggregate higher-order fold evaluates interpreted and was the
    * benchmark bottleneck; same accumulation order, bit-identical result). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dotProduct(a, b)

  /** cos(a,b) = a·b / sqrt((a·a)(b·b)) — single-sqrt form so the oracle
    * can reproduce it bit-for-bit. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Drop rows whose self-norm makes cosine undefined: zero vectors (and
    * any NaN component) score NaN against EVERYTHING, and Spark orders NaN
    * above every number — unguarded, one zero vector ranks first in every
    * probe's top-k and `NaN >= minCos` admits spurious "near-duplicate"
    * pairs. Zero/NaN-norm rows have no defined cosine neighbors, so
    * excluding them is the only correct reading. (Same guard ivfTopK
    * applies to its centroid sample.) */
  private def droppingUndefinedNorms(df: DataFrame, normCol: String): DataFrame =
    df.filter(col(normCol) > 0 && !isnan(col(normCol)))

  /** Scoring half of every ANN variant: drop self-matches, score with one
    * dot product over precomputed norms, and — critically for scale —
    * PROJECT AWAY THE VECTORS in the same map-side stage. Every shuffle
    * downstream of this point (candidate dedup, the per-probe top-k
    * window) moves (query_id, vec_id, cos_sim) rows of a few dozen bytes
    * instead of rows dragging two 64-dim vectors (~1 KB): at sf10 the LSH
    * variant's ~25M candidate rows were two ~25 GB exchanges before this
    * split, ~1 GB after. */
  private def scorePairs(pairs: DataFrame): DataFrame =
    pairs
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (dot(col("qv"), col("cv")) / sqrt(col("qn") * col("cn"))).as("cos_sim"))

  /** Ranking half: per-probe top-k over already-narrow scored rows. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  private def scoreAndTopK(pairs: DataFrame, k: Int): DataFrame =
    topK(scorePairs(pairs), k)

  /** Exact top-k by cosine for each probe vector. `probes` is expected to
    * be small (it is broadcast); `corpus` can be arbitrarily large — the
    * cross join is a broadcast-nested-loop over one corpus scan, and the
    * per-probe top-k is a window over probe-partitioned rows. */
  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Self-norms are precomputed per side (same doubles the oracle's inline
    // dot(v,v) produces), so each pair costs one dot product, not three.
    val p = broadcast(droppingUndefinedNorms(
      probes.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
        .withColumn("qn", dot(col("qv"), col("qv"))), "qn"))
    val c = droppingUndefinedNorms(
      corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("cv"))
        .withColumn("cn", dot(col("cv"), col("cv"))), "cn")
    scoreAndTopK(c.crossJoin(p), k)
  }

  /** MATRYOSHKA / PREFIX-TRUNCATION robustness read (Kusupati et al.
    * 2022's MRL evaluation, run against a frozen embedding table): for
    * each prefix width d, recall@k of the exact top-k computed on the
    * FIRST d components against the full-width exact top-k — the curve
    * that decides how many dimensions this embedding space actually
    * needs before committing to a projection / PQ budget (a flat curve
    * at d « D means storage and ANN cost can shrink d/D-fold; MRL-style
    * spaces are trained to make exactly this curve flat).
    *
    * Exactness (oracle hash-compares the output): both rankings use the
    * [[bruteForceTopK]] machinery — cosines are deterministic double
    * chains, ranks break ties by (cos desc, vec_id) — so the joined hit
    * count is exact; recall is ONE IEEE division of exact longs.
    * Truncated rows whose prefix has zero/NaN norm drop exactly like
    * the full-width operator drops undefined norms (mirrored in SQL).
    *
    * Scale shape: probes broadcast; each width is one corpus scan ×
    * broadcast-nested-loop (the q_ann_topk contract — quadratic in
    * probes×corpus BY DESIGN as the exact baseline; at 100 TB this runs
    * on a probe sample, like every exact-truth check here); hit
    * counting joins k·|probes| rows per width. The full top-k is
    * computed once and reused across widths. */
  def dimTruncationRecall(probes: DataFrame, corpus: DataFrame,
                          dims: Seq[Int], k: Int = 5,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), "dims must be >= 1")
    require(dims.distinct.length == dims.length, "dims must be distinct")
    val full = bruteForceTopK(probes, corpus, k, idCol, vecCol)
      .select(col("query_id"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = full.count()
      // |dims| summary longs come back to the driver so the persisted
      // full top-k can be released HERE instead of leaking into the
      // caller's session; an empty probe set (total = 0) reports recall
      // 0.0 rather than 0/0 = NaN.
      val hitsByDim = dims.sorted.map { d =>
        val tp = probes.withColumn(vecCol, slice(col(vecCol), 1, d))
        val tc = corpus.withColumn(vecCol, slice(col(vecCol), 1, d))
        bruteForceTopK(tp, tc, k, idCol, vecCol)
          .select(col("query_id"), col("vec_id"))
          .join(full, Seq("query_id", "vec_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(d).as("dims"), col("hits"))
      }.reduce(_ unionByName _)
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      val spark = probes.sparkSession
      import spark.implicits._
      hitsByDim.toSeq.toDF("dims", "hits")
        .withColumn("full_pairs", lit(total))
        .withColumn("recall",
          if (total > 0) col("hits").cast("double") / lit(total.toDouble)
          else lit(0.0))
    } finally { full.unpersist(); () }
  }

  /** Deterministic pseudo-random hyperplane component for plane p, dim i:
    * a fixed hash mapped into [-0.5, 0.5). */
  private[graft] def planeComponent(p: Int, i: Column): Column =
    (pmod(xxhash64(lit(p), i), lit(1000L)).cast("double") / 1000.0) - 0.5

  /** Random-hyperplane LSH bucket signature (one int, `count` bits) over
    * plane indices [from, from+count): bit j is the sign of
    * Σ_i v[i] * h(from+j, i). The offset lets multi-band callers draw
    * DISJOINT hyperplane sets per band. Native codegen'd expression
    * ([[graft.functions.LshBucketExpr]]), spec-proven bit-identical to
    * the higher-order twin the specs keep (`SimilarityTwins`). */
  private def lshBucketRange(v: Column, from: Int, count: Int): Column =
    graft.functions.LshBucketExpr.lshBucket(v, from, count)

  /** Random-hyperplane LSH bucket signature (one int, `planes` bits): bit p
    * is the sign of Σ_i v[i] * h(p,i). */
  def lshBucket(v: Column, planes: Int): Column = lshBucketRange(v, 0, planes)

  /** Per-band MULTI-PROBE bucket list for one probe vector: its own
    * bucket first, then the buckets reached by flipping the `nProbe−1`
    * LOWEST-MARGIN hyperplane signs (smallest |projection| — the planes
    * the vector most nearly straddles, where its true neighbors most
    * likely landed on the other side). This is the standard multi-probe
    * LSH recall lever: more candidates per probe WITHOUT rebucketing the
    * corpus. Declarative higher-order form — it runs only on the
    * broadcast-scale probe side, never on the corpus. */
  private def multiProbeBuckets(v: Column, from: Int, count: Int,
                                nProbe: Int): Column = {
    val projs = (0 until count).map { j =>
      aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x * planeComponent(from + j, i)),
        lit(0.0), (acc, x) => acc + x)
    }
    val base = projs.zipWithIndex.map { case (p, j) =>
      when(p > 0, shiftleft(lit(1), j)).otherwise(0)
    }.reduce((a, b) => a.bitwiseOR(b))
    // (|margin|, plane) structs sort margin-ascending; 2^j via exact
    // small-integer pow (shiftleft needs a literal shift amount).
    val ordered = array_sort(array(projs.zipWithIndex.map { case (p, j) =>
      struct(abs(p).as("m"), lit(j).as("j"))
    }: _*))
    val flips = transform(slice(ordered, 1, nProbe - 1),
      s => base.bitwiseXOR(pow(lit(2.0), s.getField("j")).cast("int")))
    concat(array(base), flips)
  }

  /** ANN via multi-band hyperplane LSH with MULTI-PROBE: `bands`
    * independent bucketings (disjoint plane sets); each probe vector
    * probes its own bucket per band PLUS the `nProbe−1` lowest-margin
    * single-bit-flip buckets; a corpus vector is a candidate if it lands
    * in ANY probed bucket of any band; candidates dedup before exact
    * cosine + top-k. Multi-band and multi-probe are the two standard
    * recall levers — a single bucketing at fine granularity has recall ≈
    * the bucket fraction on weakly-correlated corpora (a one-bucketing
    * draft measured recall 0.0 at 2^8 buckets over 500 vectors; bare
    * multi-band at 4×4 measured 0.24 on the near-random embeddings
    * fixture, multi-probe at nProbe=4 lifts it past 0.8 at ~3× the
    * candidate volume).
    *
    * Scale shape: probes broadcast (×bands×nProbe rows — still
    * model-scale), the corpus streams through one scan producing `bands`
    * bucket keys per row — the broadcast-hash join never shuffles the
    * corpus; only candidate pairs (bucket-local, dedup'd) reach the
    * shuffle for the per-probe top-k. */
  def lshTopK(probes: DataFrame, corpus: DataFrame, k: Int,
              bands: Int = 4, planesPerBand: Int = 4, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nProbe >= 1 && nProbe <= planesPerBand + 1,
      s"nProbe must be in [1, planesPerBand+1], got $nProbe")
    val p = broadcast(droppingUndefinedNorms(
        probes.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
          .withColumn("qn", dot(col("qv"), col("qv"))), "qn")
      .select(col("*"), posexplode(array((0 until bands).map(b =>
        multiProbeBuckets(col("qv"), b * planesPerBand, planesPerBand, nProbe)): _*)))
      .withColumnRenamed("pos", "band")
      .select(col("query_id"), col("qv"), col("qn"), col("band"),
        explode(col("col")).as("bucket")))
    val c = droppingUndefinedNorms(
        corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("cv"))
          .withColumn("cn", dot(col("cv"), col("cv"))), "cn")
      .select(col("*"), posexplode(array((0 until bands).map(b =>
        lshBucketRange(col("cv"), b * planesPerBand, planesPerBand)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // Score BEFORE the candidate dedup: cos_sim is a deterministic
    // function of the (query, vector) pair, so dropDuplicates over scored
    // rows is set-identical to scoring after dedup — but the dedup
    // exchange now carries ~24-byte rows instead of both vectors.
    val cand = scorePairs(c.join(p, Seq("band", "bucket")))
      .dropDuplicates("query_id", "vec_id")
    topK(cand, k)
  }

  /** IVF-style ANN: deterministic coarse centroids (a hash-ordered
    * TakeOrdered sample — at scale you'd plug in k-means iterations
    * producing the same collected model), nearest-centroid assignment of
    * the corpus, then exact cosine only against the probe's `nProbe`
    * nearest centroid cells. Unlike hyperplane LSH, cell population adapts
    * to the data distribution.
    *
    * Scale design: centroids are parameter-bounded MODEL data (nCentroids
    * rows), collected driver-side exactly like a fitted k-means model and
    * shipped as ONE reference object inside the native
    * [[graft.functions.CellAssignExpr]], so corpus assignment is a pure
    * codegen'd argmax PROJECTION on the corpus scan — zero shuffle, zero
    * join, and generated code that is O(1) in nCentroids (an earlier form
    * inlined one `greatest`-of-structs branch per cell, which capped
    * usable nlist at ~256; before that, a cross-join + window shuffled
    * corpus×nCentroids rows — a 100 TB bottleneck for per-row
    * arithmetic). nlist is bounded only by the k×d model size and the
    * k×d per-row assignment cost now.
    */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding",
              centroids: Seq[Seq[Double]] = Nil): DataFrame = {
    val c = droppingUndefinedNorms(
      corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("cv"))
        .withColumn("cn", dot(col("cv"), col("cv"))), "cn")
    // Cell model: either caller-supplied FITTED centroids (see
    // [[kmeansFit]] — zero/NaN-norm entries dropped, same guard as the
    // sample path) or a deterministic pseudo-random sample: top-n by id
    // hash is a distributed TakeOrdered (no global sort), tiny by
    // construction. Null/zero-norm vectors are already excluded
    // corpus-wide above (a null centroid would NPE on the driver; a
    // zero-norm one scores NaN against every row — NaN is Spark's
    // ordering MAX, so greatest() would funnel the whole corpus into
    // that single cell). Centroid identity is the ARRAY INDEX, not the
    // source id — works for any id type and makes the tie-break
    // (smallest index) type-agnostic.
    val centRows: Seq[(Seq[Double], Double)] =
      if (centroids.nonEmpty)
        centroids.map(v => v -> v.map(x => x * x).sum)
          .filter { case (_, n) => n > 0 && !n.isNaN }
      else c
        .orderBy(xxhash64(col("vec_id").cast("string"))).limit(nCentroids)
        .select(col("cv"), col("cn")).collect()
        .toSeq.map(r => r.getSeq[Double](0).toSeq -> r.getDouble(1))
    // Degenerate corpus (< 2 centroids): cells are meaningless — exact
    // search is the cheap, correct path.
    if (centRows.length < 2)
      return bruteForceTopK(probes, corpus, k, idCol, vecCol)
    val model = graft.functions.CellModel(centRows)
    // Corpus: single nearest cell via the native CellAssignExpr — a
    // codegen'd map-side projection whose generated code is O(1) in the
    // cell count (the model rides as one reference object; the previous
    // greatest-of-structs form emitted one dot call per cell into the
    // generated source, which is why cellsFor clamped at 256 cells).
    val assigned = c.withColumn("centroid_id",
      graft.functions.CellAssignExpr.cellAssign(col("cv"), col("cn"), model))
    // Probes (broadcast-scale): top-nProbe cells, still a projection.
    val p = droppingUndefinedNorms(
      probes.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
        .withColumn("qn", dot(col("qv"), col("qv"))), "qn")
    val probeCells = broadcast(
      p.withColumn("centroid_id", explode(
        graft.functions.CellTopExpr.cellTop(col("qv"), col("qn"), model, nProbe))))
    scoreAndTopK(assigned.join(probeCells, Seq("centroid_id")), k)
  }

  /** Spherical k-means (Lloyd's) over the embedding column: returns `k`
    * unit-norm centroid DIRECTIONS for [[ivfTopK]]'s `centroids`
    * parameter. Cosine is scale-free, so the fit clusters unit vectors:
    * assignment is a max-dot argmax and the per-cell optimum is the mean
    * direction renormalized — the textbook spherical k-means update.
    *
    * Scale design (the reason this is a from-scratch loop and not a
    * collect): each iteration is ONE pass over the persisted unit-vector
    * projection — cell assignment is the same codegen'd
    * greatest-of-structs PROJECTION ivfTopK uses (centroids inlined as
    * literals, zero shuffle, zero join), and the update aggregates
    * (count, Σ component_0..d-1) per cell with map-side partial
    * aggregation, so the shuffle carries ≤ partitions × k × d partial
    * values — model-sized, independent of corpus row count. Only the
    * k×(d+1) aggregate rows ever reach the driver. At stride 1 (n ≤
    * maxFitRows) the init is the same hash-ordered deterministic sample
    * as ivfTopK's fallback, so fit-vs-sample comparisons hold the seed
    * fixed; at stride > 1 the init is the k min-hash rows OF THE MODULUS
    * SAMPLE (still deterministic, but a different draw than the
    * full-corpus sample).
    *
    * Empty cells keep their previous centroid (no respawn heuristic —
    * deterministic and the standard IVF practice). Stops after `maxIter`
    * rounds or when every centroid moves less than `tol` in cosine
    * distance (1 − cos(old, new)). Cross-partition float summation makes
    * the fitted components reproducible only up to ulps — fine for a
    * MODEL (assignment margins dwarf ulps); anything hash-compared
    * cross-engine must not embed them, which is why the fitted-IVF query
    * is rows-only.
    *
    * `maxFitRows` bounds the TRAINING SET, not the corpus: with cell
    * count k ∝ n (the [[cellsFor]] contract) a full-corpus fit costs
    * n×k×d per Lloyd round — O(n²d/targetCell), the term that made the
    * fitted family the sf10 bench's heavy tail. Training on a bounded
    * deterministic sample is the standard IVF practice (FAISS trains
    * coarse quantizers on ~256 points per centroid); the sample is a
    * modulus filter on the id hash (`xxhash64(id) mod stride == 0`) —
    * fully distributed, no TakeOrdered funnel, and stride 1 (n ≤
    * maxFitRows) is EXACTLY the previous behavior. Assignment of the
    * full corpus stays exact and happens once, outside the fit. */
  def kmeansFit(corpus: DataFrame, k: Int, maxIter: Int = 10, tol: Double = 1e-6,
                idCol: String = "vec_id", vecCol: String = "embedding",
                maxFitRows: Int = 1 << 16): Seq[Seq[Double]] = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(maxIter >= 1, s"maxIter >= 1, got $maxIter")
    // 2×k, not k: the expected modulus-sample size is only n/stride ∈
    // (maxFitRows/2, maxFitRows], so a cap of exactly k could draw fewer
    // than k training rows and silently deliver fewer than k centroids.
    // The init-shortfall fallback below catches the residual variance.
    require(maxFitRows >= 2 * k,
      s"maxFitRows ($maxFitRows) must be >= 2*k (k=$k)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val c = droppingUndefinedNorms(
      corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("cv"))
        .withColumn("cn", dot(col("cv"), col("cv"))), "cn")
    val uFull = c.select(col("vec_id"),
        transform(col("cv"), x => x / sqrt(col("cn"))).as("uv"))
    // One count job to size the stride; the expected sample n/stride lands
    // in (maxFitRows/2, maxFitRows]. Hash-modulus keeps the sample a
    // deterministic function of the ids alone (partitioning-independent).
    val n = uFull.count()
    val stride = math.max(1L, math.ceil(n.toDouble / maxFitRows).toLong)
    var u = (if (stride == 1L) uFull
             else uFull.filter(
               pmod(xxhash64(col("vec_id").cast("string")), lit(stride)) === 0))
      .persist(lvl)
    def collectInit(d: DataFrame): IndexedSeq[IndexedSeq[Double]] = d
      .orderBy(xxhash64(col("vec_id").cast("string"))).limit(k)
      .select(col("uv")).collect()
      .map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    try {
      var cents = collectInit(u)
      // Modulus-sample variance guard: the expected sample size is in
      // (maxFitRows/2, maxFitRows] but the draw is binomial (and an
      // adversarial id set can starve it entirely) — if it cannot even
      // seed k centroids, retrain on the maxFitRows MIN-HASH rows of
      // the corpus instead. That draw is deterministic, guaranteed
      // min(n, maxFitRows) ≥ 2k rows, and STILL bounded by maxFitRows
      // — a full-corpus retrain here would silently reinstate the
      // O(n²d/targetCell) Lloyd cost this parameter exists to cap.
      if (stride > 1L && cents.length < k) {
        u.unpersist()
        u = uFull.orderBy(xxhash64(col("vec_id").cast("string")))
          .limit(maxFitRows).persist(lvl)
        cents = collectInit(u)
      }
      if (cents.length < 2) return cents.map(_.toSeq)
      val dim = cents.head.length
      var moved = Double.MaxValue
      var iter = 0
      while (iter < maxIter && moved > tol) {
        // Native CellAssignExpr argmax (ties to the smallest index). Unit
        // vectors make dot ≡ cosine; unit model norms make the shared
        // dot/sqrt(n·cn) formula collapse to dot/1.0, which is bit-exact
        // dot — identical to the plain-dot declarative form.
        val model = graft.functions.CellModel(
          cents.map(_.toArray).toArray, Array.fill(cents.length)(1.0))
        val cellCol = graft.functions.CellAssignExpr.cellAssign(
          col("uv"), lit(1.0), model)
        val sums = (0 until dim).map(i => sum(col("uv").getItem(i)).as(s"s$i"))
        val rows = u.withColumn("__cell", cellCol)
          .groupBy(col("__cell")).agg(count(lit(1)).as("n"), sums: _*)
          .collect()
        val next = cents.toArray
        moved = 0.0
        rows.foreach { r =>
          val j = r.getInt(0)
          val s = (0 until dim).map(i => r.getDouble(2 + i))
          val nrm = math.sqrt(s.map(x => x * x).sum)
          // A zero/NaN mean direction (perfectly cancelling cell) keeps
          // the old centroid, like an empty cell.
          if (nrm > 0 && !nrm.isNaN) {
            val cand = s.map(_ / nrm)
            val cos = cand.zip(cents(j)).map { case (a, b) => a * b }.sum
            moved = math.max(moved, 1.0 - cos)
            next(j) = cand
          }
        }
        cents = next.toIndexedSeq
        iter += 1
      }
      cents.map(_.toSeq)
    } finally { u.unpersist(); () }
  }

  // ---- cross-query fit memo -----------------------------------------
  // q_ann_ivf_fit, q_cluster_cap_sample and q_silhouette each train the
  // SAME (embeddings corpus, cellsFor(n), maxIter = 5) spherical k-means
  // model — three identical Lloyd fits per sweep (~1 s each at sf0.1,
  // the whole fitted family's fixed cost at sf10). The NearDupPipeline
  // `_build` economy applied to a driver-side model artifact (the
  // Unigram.fitMemo shape): the model is bounded (k×d doubles) and the
  // memo also carries the corpus count so callers don't re-run the
  // sizing count job. semDedup does NOT share this memo — it fits over
  // its own injected-duplicate corpus, a different training set. The
  // bench prices the fit as its own `_kmeans_fit_build` row.
  private val kmeansMemo =
    graft.SessionMemo[(String, String, Int), (Long, Seq[Seq[Double]])]()

  /** The fitted (corpus count, centroids) for (`df`, params), trained
    * at most once per session ([[graft.SessionMemo]]):
    * k = [[cellsFor]](count(df)). */
  def kmeansFitMemo(df: DataFrame, maxIter: Int = 5,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): (Long, Seq[Seq[Double]]) =
    kmeansMemo(Seq(df), (idCol, vecCol, maxIter)) {
      val n = df.count()
      (n, kmeansFit(df, k = cellsFor(n), maxIter = maxIter,
        idCol = idCol, vecCol = vecCol))
    }

  /** Bits per band for [[cosineNearDupPairsLsh]], derived from the corpus
    * size so expected bucket population stays ~`targetBucket` as the
    * corpus grows — the property a FIXED block cardinality lacks (fixed
    * blocks grow linearly with the corpus and the per-block pair space
    * quadratically). */
  /** q_ann_lsh's scale rule — (bands, planesPerBand, nProbe) for a
    * corpus of `n` vectors. Planes grow with the corpus toward a
    * 512-target bucket like every banding operator here, but CAP at
    * `maxPlanes` = 7: [[lshTopK]]'s multi-probe is 1-bit (≤ planes+1
    * probes, budget-capped at `maxProbe` = 8), so on the noise-floor
    * retrieval contract recall tracks the COVERAGE fraction
    * bands·nProbe/2^planes — at 9+ planes the ≤8-probe budget covers
    * ~3% of the corpus and recall collapses with it (LSH_LAB_SF10:
    * 0.45 wired-uncapped vs 0.71 at the cap, identical wall — the
    * per-probe candidate mass bands·nProbe·n/2^planes is linear in n
    * either way, the [[ivfPqParamsFor]] coverage discipline applied
    * to hyperplane banding; the bucket²-blowup concern that forces
    * corpus-proportional planes in the near-dup SELF-joins does not
    * apply to the probe-side broadcast join). `bands` = 6 is the
    * lab-measured Pareto point at the cap: more independent bands buy
    * recall FASTER than more probes of the same bands — LSH_LAB_SF10
    * `t2048_6bands` (6 bands × 7 planes, nProbe 8) measures recall
    * 0.836 at wall 5.63 s vs 0.709 / 8.02 s for the r13-wired 4-band
    * config, strictly dominating it (the dedup union across bands
    * shares the one corpus scan, so band count prices sub-linearly in
    * wall while buckets stay independent Bernoulli draws — coverage
    * 6·8/2^7 = 37.5%, matching ivfPqParamsFor). The max(4, ·) plane
    * floor keeps small-corpus bucket sizes as before; the cap binds
    * only above ~65k vectors, where sf1's planesFor already sits AT 7. */
  def lshParamsFor(n: Long, targetBucket: Int = 512, maxPlanes: Int = 7,
                   bands: Int = 6, maxProbe: Int = 8): (Int, Int, Int) = {
    val planes = math.min(maxPlanes,
      math.max(4, planesFor(n, targetBucket)))
    (bands, planes, math.min(planes + 1, maxProbe))
  }

  def planesFor(n: Long, targetBucket: Int = 64): Int =
    // Clamped to LshBucketExpr's 30-bit signature ceiling — beyond that
    // the operator runs with larger-than-target buckets (still bounded by
    // bucketCap) rather than throwing after the count job.
    math.min(30, math.max(2, math.ceil(
      math.log(math.max(n.toDouble / targetBucket, 2.0)) / math.log(2.0)).toInt))

  /** Cosine near-duplicate pairs with CORPUS-PROPORTIONAL blocking:
    * `bands` independent hyperplane-LSH bucketings (disjoint plane sets),
    * exact cosine only inside a bucket, union over bands. Two shuffles
    * (bucket build + pair distinct), no joins — the posting struct carries
    * the vector, mirroring the SimHash shape.
    *
    * Bucket count per band is 2^planesPerBand with planesPerBand derived
    * from the corpus count (one cheap count job) unless given, so buckets
    * hold ~`targetBucket` vectors regardless of corpus size: per-bucket
    * pair work stays O(targetBucket²) and total work O(n·bands·
    * targetBucket) — linear in the corpus, where label-blocking was
    * quadratic-in-disguise. `bucketCap` (lower than the text caps: these
    * postings carry the vectors) drops degenerate buckets with a bounded
    * aggregation buffer.
    *
    * Recall is a banding curve in the true cosine: with p = 1 - θ/π per
    * plane, a pair survives ≥1 of `bands` bands w.p. 1-(1-p^planes)^bands
    * — near 1 for true near-duplicates (cos ≥ ~0.9), by design NOT for
    * weakly-similar pairs; use the exact [[cosineNearDupPairs]] for
    * low-threshold sweeps within small blocks. */
  def cosineNearDupPairsLsh(df: DataFrame, minCos: Double,
                            bands: Int = 8, planesPerBand: Int = 0,
                            bucketCap: Int = 256, targetBucket: Int = 64,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.CappedCollectList.cappedCollectList
    val ppb = if (planesPerBand > 0) planesPerBand
              else planesFor(df.count(), targetBucket)
    val v = droppingUndefinedNorms(
      df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
        .withColumn("n", dot(col("v"), col("v"))), "n")
    val exploded = v
      .select(col("id"), col("v"), col("n"),
        posexplode(array((0 until bands).map(b =>
          lshBucketRange(col("v"), b * ppb, ppb)): _*)))
      .toDF("id", "v", "n", "band", "bucket")
    val buckets = exploded.groupBy(col("band"), col("bucket"))
      .agg(cappedCollectList(struct(col("id"), col("v"), col("n")), bucketCap).as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= bucketCap)
    buckets
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("__cos", dot(col("a.v"), col("b.v")) / sqrt(col("a.n") * col("b.n")))
      // filter on the UNROUNDED cosine (same boundary as the exact
      // variant), round only for output
      .filter(col("__cos") >= minCos)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        round(col("__cos"), 4).as("cos_sim"))
      .distinct()
  }

  /** k-NEAREST-NEIGHBOR GRAPH over the whole corpus — every vector's
    * top-k cosine neighbors, the structure semantic-clustering /
    * graph-dedup / label-propagation pipelines build first. The ANN
    * family's [[lshTopK]] answers a FEW broadcast probes; here every
    * vector is a probe, so the probe side can never broadcast — the
    * right shape is [[cosineNearDupPairsLsh]]'s bucket self-join:
    * `bands` independent hyperplane bucketings (disjoint plane sets),
    * per-bucket all-pairs DIRECTED candidates, per-vector top-k.
    *
    * Scale shape: two shuffles (bucket build + bounded top-k aggregate)
    * and NO window — each unordered candidate pair is scored once, and
    * the per-vector top-k is a k-bounded merge aggregate
    * ([[graft.functions.TopKNeighbors]], map-side combinable), so the
    * post-bucket exchange carries ≤ one k-entry buffer per vector per
    * map task rather than every scored candidate. Plane count per band
    * derives from the corpus count ([[planesFor]]) so buckets hold
    * ~`targetBucket` vectors at any scale: total candidate work is
    * O(n · bands · targetBucket), linear in the corpus where a brute
    * graph is quadratic.
    *
    * Recall contract — read this before trusting the graph: recall is
    * the banding curve in the true cosine, so STRONG edges (near
    * duplicates, same-cluster members — the edges graph-dedup /
    * clustering / label-propagation actually consume) survive with
    * probability ≈ 1 at ANY corpus size, while weakly-similar edges
    * (cos ≈ 0.3 — on an unstructured corpus, noise pairs) decay as
    * planes grow with the corpus: measured 0.87 unrestricted top-3
    * edge recall at n=500 vs 0.16 at n=20k (bands=8) on near-random
    * fixtures, with strong-edge recall ≥ 0.95 at both. Every
    * sub-quadratic ANN-graph build trades exactly this; `bands` buys
    * recall linearly in cost (0.16 → 0.29 at 16 bands, n=20k). The
    * multi-probe lever doesn't compose with a self-join (probing
    * neighbor buckets needs a probe→posting JOIN — that shape is
    * [[lshTopK]], for broadcast-scale probe sets). Strong-edge
    * survival is pinned in SimilaritySpec and exported per-round via
    * VerifyExtras (`knn_graph_strong_edges`).
    *
    * Output: (id, rank, neighbor_id, cos_sim) — directed; rank 1..≤k
    * (a vector sharing no bucket with anything yields no rows). */
  def knnGraphLsh(df: DataFrame, k: Int,
                  bands: Int = 8, planesPerBand: Int = 0,
                  bucketCap: Int = 256, targetBucket: Int = 64,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.CappedCollectList.cappedCollectList
    require(k > 0, "k must be positive")
    val ppb = if (planesPerBand > 0) planesPerBand
              else planesFor(df.count(), targetBucket)
    val v = droppingUndefinedNorms(
      df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
        .withColumn("n", dot(col("v"), col("v"))), "n")
    val exploded = v
      .select(col("id"), col("v"), col("n"),
        posexplode(array((0 until bands).map(b =>
          lshBucketRange(col("v"), b * ppb, ppb)): _*)))
      .toDF("id", "v", "n", "band", "bucket")
    val buckets = exploded.groupBy(col("band"), col("bucket"))
      .agg(cappedCollectList(struct(col("id"), col("v"), col("n")), bucketCap).as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= bucketCap)
    // Each unordered pair is scored ONCE (a.id < b.id — half the dot
    // products of a directed self-join), then exploded into both
    // orientations as narrow scored rows. The per-vector top-k is a
    // bounded merge aggregate (buffer ≤ k, map-side combinable, distinct
    // by the (cos bits, neighbor) pair — identical arithmetic per shared
    // bucket makes that equal to neighbor-distinct), so the only
    // exchange after the bucket build carries ≤ one k-entry buffer per
    // vector per map task, replacing the dropDuplicates shuffle of every
    // scored candidate plus a window sort.
    import graft.functions.TopKNeighbors.topKNeighbors
    val cand = buckets
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("__cos", dot(col("a.v"), col("b.v")) / sqrt(col("a.n") * col("b.n")))
      .select(explode(array(
        struct(col("a.id").as("id"), col("b.id").as("neighbor_id"),
          col("__cos").as("cos_sim")),
        struct(col("b.id").as("id"), col("a.id").as("neighbor_id"),
          col("__cos").as("cos_sim")))).as("e"))
      .select(col("e.id").as("id"), col("e.neighbor_id").as("neighbor_id"),
        col("e.cos_sim").as("cos_sim"))
    cand.groupBy(col("id"))
      .agg(topKNeighbors(col("neighbor_id"), col("cos_sim"), k).as("__nb"))
      .select(col("id"), posexplode(col("__nb")))
      .select(col("id"), (col("pos") + 1).cast("int").as("rank"),
        col("col._1").as("neighbor_id"),
        round(col("col._2"), 4).as("cos_sim"))
  }

  /** SemDeDup-style SEMANTIC dedup: k-means cells as the blocking
    * structure, exact cosine inside each cell, connected components over
    * the above-threshold pairs, one canonical keeper (min id) per
    * component — the embedding-space analog of the text family's
    * pairs→clusters→keep-list pipeline, after the SemDeDup recipe
    * (cluster the corpus, prune within-cluster semantic duplicates;
    * arXiv:2303.09540). Two deliberate departures from the paper, both
    * for determinism: the keeper is the component's MIN id (the whole
    * dedup family's convention — the paper's "farthest from centroid"
    * heuristic depends on ulp-level fitted components), and pruning goes
    * through connected components so transitive duplicates share one
    * keeper instead of pairwise-greedy pruning whose result depends on
    * visit order.
    *
    * Scale shape: the fit is [[kmeansFit]] (one pass per Lloyd round,
    * model-sized aggregates); cell assignment is the same codegen'd
    * greatest-of-structs PROJECTION as [[ivfTopK]] — zero shuffle on the
    * corpus; the in-cell pair join shuffles the corpus ONCE on the cell
    * id. Per-cell pair work is O(cell²) BY CONTRACT — `k` must scale
    * with the corpus (k ≈ n / targetCell, the paper runs 50k clusters
    * for LAION) exactly as [[planesFor]] scales the LSH variant's
    * bucket count; this operator trades [[cosineNearDupPairsLsh]]'s
    * banding-recall curve for data-adaptive cells with NO per-pair
    * recall loss inside a cell. Cross-cell true pairs are the
    * approximation loss (near-identical vectors assign to the same
    * argmax cell except exactly at a cell boundary).
    *
    * Output: one row per surviving input vector — (id, cell,
    * component, keep); `component` is the canonical id (its own id for
    * singletons), `keep` marks the component minimum. Zero/NaN-norm
    * vectors are excluded like the rest of the family. Caller cache
    * contract: the assigned projection is persisted for its three
    * consumers; sweep callers should `clearCache()` between corpora. */
  /** Cell count for [[semDedup]], derived from corpus size so cells hold
    * ~`targetCell` vectors as the corpus grows — the k ∝ n contract that
    * keeps per-cell pair work bounded (the [[planesFor]] analog).
    *
    * The clamp history matters for the scale story: assignment used to
    * inline k×d centroid literals into generated code, which forced
    * maxCells=256 — past the clamp, cell population grew linearly with
    * the corpus again (quadratic pair work in disguise). With the
    * [[graft.functions.CellAssignExpr]] reference-object model the
    * generated code is O(1) in k, so the ceiling is now just the
    * per-row assignment cost (k×d multiply-adds) and the driver-side
    * model size (k×d doubles — 4096×64 ≈ 2 MB, broadcast like any
    * fitted model). 4096 cells × targetCell 1000 covers a ~4M-vector
    * corpus at contract; beyond that, raise maxCells explicitly (cost
    * grows linearly) or shard the corpus. */
  def cellsFor(n: Long, targetCell: Int = 1000, maxCells: Int = 4096): Int =
    math.min(maxCells,
      math.max(16, math.ceil(n.toDouble / targetCell).toInt)).toInt

  /** Scale-proportional IVF-PQ configuration (nCentroids, nProbe, refine)
    * for a corpus of `n` vectors: cells follow [[cellsFor]] (per-cell
    * population ~targetCell at any scale) and nProbe scales WITH the cell
    * count so the coverage fraction nProbe/nCells — the recall lever on a
    * noise-floor corpus, where recall tracks how much of the corpus a
    * probe scans — holds ≈ `coverage` instead of collapsing as cells
    * grow. refine stays fixed: the exact-rescore budget refine·k per
    * probe is what recovers ADC-ranking loss, and quantization error is
    * scale-independent (codebooks see the same per-subspace geometry at
    * any n).
    *
    * Why this is the 100 TB shape: per-probe ADC work is
    * coverage·n·O(m) — the same as the FIXED 16/6 config's — but the
    * probed-cell JOIN now fans each corpus row out to ~coverage·nCells
    * ≈ 75 probe cells of ~targetCell rows instead of 6 monolithic cells
    * of n/16 rows, so candidate generation partitions evenly (no
    * 12.5%-of-corpus skew cells) and per-task state stays bounded by
    * targetCell, not by n. Measured at sf10 (200k vectors,
    * IVFPQ_LAB_SF10.json): this rule holds recall@5 at 0.48 (sf1: 0.59;
    * floor 0.4, VERIFY_EXTRAS_SF10.json) where the fixed config decays
    * to 0.41; wall is 26.8 s vs the fixed config's 20.8 s — the rule
    * buys recall and bounded per-task state for ~6 s of O(cells·d)
    * per-row assignment at equal scanned mass (0.375 both). The RETIRED
    * 60.2 s sf10 row measured the pre-native interpreted-HOF ADC, not
    * either config: the packed-code expressions are the dominant win at
    * scale. At verify scales (n ≤ 16·targetCell) the rule reproduces
    * the pinned (16, 6) config exactly, so the sf0.01 recall floors
    * measure the same operator the queries run. */
  def ivfPqParamsFor(n: Long, coverage: Double = 0.375,
                     targetCell: Int = 1000, refine: Int = 16): (Int, Int, Int) = {
    val cells = cellsFor(n, targetCell)
    val nProbe = math.max(1, math.min(cells, math.round(coverage * cells).toInt))
    (cells, nProbe, refine)
  }

  def semDedup(df: DataFrame, minCos: Double = 0.9, k: Int = 16,
               maxIter: Int = 5, idCol: String = "vec_id",
               vecCol: String = "embedding",
               centroids: Seq[Seq[Double]] = Nil, maxCcIter: Int = 20): DataFrame = {
    val v = droppingUndefinedNorms(
      df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
        .withColumn("n", dot(col("v"), col("v"))), "n")
    val centRows: Seq[(Seq[Double], Double)] =
      (if (centroids.nonEmpty) centroids
       else kmeansFit(df, k, maxIter, idCol = idCol, vecCol = vecCol))
        .map(c => c -> c.map(x => x * x).sum)
        .filter { case (_, n) => n > 0 && !n.isNaN }
    // < 2 usable centroids (degenerate/tiny corpus): one cell, exact
    // all-pairs — the ivfTopK fallback rule.
    val cellCol =
      if (centRows.length < 2) lit(0)
      else graft.functions.CellAssignExpr.cellAssign(col("v"), col("n"),
        graft.functions.CellModel(centRows))
    val assigned = v.withColumn("cell", cellCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      // filter on the UNROUNDED cosine, like the near-dup pair family
      .filter(dot(col("a.v"), col("b.v")) / sqrt(col("a.n") * col("b.n")) >= minCos)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    val cc = Dedup.connectedComponents(pairs, maxIter = maxCcIter)
    assigned.select(col("id"), col("cell"))
      .join(cc.select(col("id"), col("comp")), Seq("id"), "left_outer")
      .select(col("id"), col("cell"),
        coalesce(col("comp"), col("id")).as("component"))
      .withColumn("keep", col("component") === col("id"))
  }

  /** CLUSTER-CAPPED diversity sample — density equalization over the
    * embedding space (the DataComp/SemDeDup-family curation move:
    * over-dense semantic regions — template farms, boilerplate topics —
    * contribute at most `cap` documents, sparse regions survive intact,
    * so the selected subset's topic mix flattens toward coverage).
    *
    * Shape: k-means cells block the corpus exactly like [[semDedup]]
    * (k ∝ corpus via [[cellsFor]]; zero-shuffle greatest-of-structs
    * assignment against broadcast centroids), then each cell keeps its
    * `cap` smallest salted-md5 ranks via the bounded
    * [[Sampling.groupExemplars]] draw — ≤ cap rank strings buffered per
    * cell, map-side combinable, NO per-cell sort and no window funnel.
    * Cell sizes ride back on a broadcast join (≤ maxCells rows).
    *
    * 100 TB shape: one corpus-scale exchange (the groupBy on cell),
    * bounded per-task state (cap strings), model-scale everything else.
    * Deterministic given the centroids: the rank is a pure function of
    * the id, and ties cannot occur (md5‖md5‖id totalizes). Not
    * SQL-portable (learned centroids) — spec pins cap enforcement,
    * coverage, the per-cell window-form equality under fixed centroids,
    * and VerifyExtras pins the Σ min(cap, cell_n) exactness. */
  def clusterCapSample(df: DataFrame, cap: Int, k: Int = 16, maxIter: Int = 5,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       centroids: Seq[Seq[Double]] = Nil,
                       salt: String = "graft"): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val v = droppingUndefinedNorms(
      df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
        .withColumn("n", dot(col("v"), col("v"))), "n")
    val centRows: Seq[(Seq[Double], Double)] =
      (if (centroids.nonEmpty) centroids
       else kmeansFit(df, k, maxIter, idCol = idCol, vecCol = vecCol))
        .map(c => c -> c.map(x => x * x).sum)
        .filter { case (_, n) => n > 0 && !n.isNaN }
    val cellCol =
      if (centRows.length < 2) lit(0)
      else graft.functions.CellAssignExpr.cellAssign(col("v"), col("n"),
        graft.functions.CellModel(centRows))
    // Persisted because two lanes read it (the capped draw and the cell
    // census); left cached for the session like semDedup's assignment.
    val assigned = v.select(col("id"), cellCol.as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = Sampling.groupExemplars(assigned, "id", "cell", cap, salt)
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
    kept.join(broadcast(sizes), Seq("cell"))
      .select(col("id"), col("cell"), col("rn"), col("cell_n"))
  }

  /** SIMPLIFIED SILHOUETTE per cell (Hruschka et al. 2004's
    * centroid-based silhouette, the standard O(n·k) stand-in for
    * Rousseeuw 1987's O(n²) original): for each point, a = cosine
    * distance to its OWN centroid, b = cosine distance to the NEAREST
    * OTHER centroid, s = (b − a) / max(a, b) — the clustering-quality
    * read for the whole k-means family (semDedup cells, cluster-cap
    * cells, IVF coarse quantizers): s near 1 = tight separated regions
    * (trust the cell blocking), near 0 = cells are arbitrary tiles of a
    * noise floor (blocking still bounds work, but don't read cells as
    * topics). Under argmax assignment b ≥ a by construction, so
    * s ∈ [0, 1]; a point equidistant to two centroids scores 0 exactly.
    *
    * Determinism (rows-only — learned centroids are ulp-reproducible,
    * never hash-comparable): per-point s quantizes to MICRO integers
    * before any aggregation, so the per-cell means are exact integer
    * ratios — partitioning-invariant, like every committed diagnostic.
    * One pass, one aggregation: the two leading centroid cosines come
    * from the native [[graft.functions.CellTop2SimExpr]] (O(k·d) local
    * arithmetic per row riding whole-stage codegen — no k-way explode,
    * the CellAssignExpr economics), the census collapses map-side to
    * ≤ cells rows. 100 TB: the only exchange carries cell-dimension
    * partials.
    *
    * Output per cell: (cell, n, mean_a, mean_b, silhouette), ordered by
    * the caller; overall silhouette = Σ n·silhouette / Σ n. */
  def clusterSilhouette(df: DataFrame, k: Int = 16, maxIter: Int = 5,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        centroids: Seq[Seq[Double]] = Nil): DataFrame = {
    val cents =
      if (centroids.nonEmpty) centroids
      else kmeansFit(df, k, maxIter, idCol = idCol, vecCol = vecCol)
    silhouetteFromCounts(silhouetteState(df, cents, idCol, vecCol))
  }

  /** The (cell, n, sa, sb, ss) micro-quantized silhouette census
    * [[clusterSilhouette]] reduces to under PINNED centroids — an
    * ADDITIVE monoid (exact long counts + exact micro-integer distance
    * sums), so cluster quality can be MAINTAINED per ingest batch
    * (the psiCuts rule: the centroid model is fit once; a per-batch
    * refit would score the same vector against different cells across
    * appends and corrupt the fold). One scan + one map-side-combinable
    * aggregate to ≤ cells rows. */
  def silhouetteState(df: DataFrame, centroids: Seq[Seq[Double]],
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val v = droppingUndefinedNorms(
      df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
        .withColumn("n", dot(col("v"), col("v"))), "n")
    val centRows: Seq[(Seq[Double], Double)] = centroids
      .map(c => c -> c.map(x => x * x).sum)
      .filter { case (_, n) => n > 0 && !n.isNaN }
    require(centRows.length >= 2,
      s"silhouette needs >= 2 usable centroids, got ${centRows.length}")
    val t2 = graft.functions.CellTop2SimExpr.cellTop2Sim(col("v"), col("n"),
      graft.functions.CellModel(centRows))
    v.select(col("id"), t2.as("t"))
      .select(col("t").getItem(0).cast("int").as("cell"),
        // cosine DISTANCES: own = 1 - simBest, other = 1 - simSecond,
        // clamped at 0 — FP dot/norm chains can round a cosine a few
        // ulps ABOVE 1, and a slightly negative `a` against a tiny `b`
        // would push s = (b-a)/max(a,b) past 1.0, spuriously failing
        // the silhouette_exactness bound gate downstream.
        greatest(lit(1.0) - col("t").getItem(1), lit(0.0)).as("a"),
        greatest(lit(1.0) - col("t").getItem(2), lit(0.0)).as("b"))
      .withColumn("s",
        when(greatest(col("a"), col("b")) <= 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
      // micro-quantize BEFORE aggregating: per-cell means become exact
      // integer ratios, immune to partition-order float accumulation
      .select(col("cell"),
        round(col("a") * 1e6, 0).cast("long").as("am"),
        round(col("b") * 1e6, 0).cast("long").as("bm"),
        round(col("s") * 1e6, 0).cast("long").as("sm"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("am")).as("sa"),
        sum(col("bm")).as("sb"), sum(col("sm")).as("ss"))
  }

  /** [[silhouetteState]]'s census shape. */
  val silhouetteCensus: Census = Census(Seq("cell"), Seq("n", "sa", "sb", "ss"))

  /** [[clusterSilhouette]]'s per-cell report over an already-built
    * census — the direct entry point for counts folded from maintained
    * state ([[silhouetteCensus]] folds). Means are
    * exact integer ratios of the folded sums, so a fold and a one-pass
    * census report identically. */
  def silhouetteFromCounts(counts: DataFrame): DataFrame =
    counts.select(col("cell"), col("n"),
      (col("sa").cast("double") / (col("n").cast("double") * 1e6)).as("mean_a"),
      (col("sb").cast("double") / (col("n").cast("double") * 1e6)).as("mean_b"),
      (col("ss").cast("double") / (col("n").cast("double") * 1e6)).as("silhouette"))

  /** Cosine near-duplicate pairs, blocked on a coarse partition column
    * (cluster label / shard) so the pair space is per-block, not corpus².
    * Scale caveat: block cardinality must grow with the corpus — for
    * data-derived proportional blocking use [[cosineNearDupPairsLsh]]. */
  def cosineNearDupPairs(df: DataFrame, blockCol: String, minCos: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = droppingUndefinedNorms(
      df.select(col(blockCol).as("block"), col(idCol).as("id"),
        asDouble(col(vecCol)).as("v"))
        .withColumn("n", dot(col("v"), col("v"))), "n")
    v.as("a").join(v.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.block").as("block"),
        (dot(col("a.v"), col("b.v")) / sqrt(col("a.n") * col("b.n"))).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .select(col("id1"), col("id2"), col("block"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** IVF-PQ approximate nearest neighbors (Jégou et al. 2011, FAISS's
    * IndexIVFPQ shape, `by_residual=false` variant): the coarse IVF
    * cells bound WHERE to look, and PRODUCT QUANTIZATION bounds what a
    * corpus row COSTS — each vector is stored as `m` small codeword ids
    * packed into ONE 64-bit word (so m·ceil(log₂ ksub) ≤ 64 is a hard
    * parameter bound, validated up front; m·log₂(ksub) bits ≈ 8 bytes
    * here vs 256 bytes of floats) plus its
    * reconstruction norm, and scoring is an m-term lookup-table sum
    * (ADC — asymmetric distance computation), never a d-term dot. At
    * 100 TB THIS is the variant that fits an index in executor memory:
    * the probed-cell join moves (cell, codes, norm) rows ~30× smaller
    * than raw vectors, and the LUT (m·ksub doubles per probe) rides the
    * broadcast side.
    *
    * Codebooks train driver-side on a bounded deterministic modulus
    * sample (the kmeansFit sampling contract; FAISS trains PQ on
    * samples the same way) with plain L2 Lloyd per subspace — the model
    * is m·ksub·(d/m) doubles, pure model scale. Subspaces are
    * orthogonal coordinate blocks, so the reconstruction norm is the
    * SUM of chosen codeword norms — no decode ever happens, anywhere.
    *
    * Ranking quality comes from the REFINE step (FAISS's
    * IndexRefineFlat convention): ADC prunes each probe's cell
    * candidates to `refine`·k, and only those few rows re-join their
    * raw vectors for an exact cosine rescoring — so the quantization
    * error decides WHAT SURVIVES PRUNING, never the final order, and
    * the expensive exact math touches refine·k rows per probe instead
    * of every candidate. On a NOISE-FLOOR corpus (truth cosines near
    * the random baseline, rank gaps in the hundredths — the measured
    * sf1 fixture regime) recall tracks the coverage fraction
    * nProbe/nCentroids and the refine depth: sf1 measured 0.37 at
    * refine=4 vs 0.56 at refine=16 under (16, 6), while cellsFor-scaled
    * cells at the same nProbe CUT recall to 0.24-0.29 (coverage 6%) and
    * cost more (per-row cell assignment is O(nCentroids·d); the
    * per-candidate ADC cost is what PQ already made cheap). Clustered
    * production corpora invert this — scale cells, keep nProbe small;
    * this is a data-dependent lever, not a fixed rule. Rows-only (driver-fit codebooks are a runtime
    * model); recall vs exact brute force pinned in SimilaritySpec and
    * exported via VerifyExtras like the other ANN variants. Degenerate
    * corpora (fewer coarse cells than 2 or fewer sample rows than
    * ksub) fall back to exact search, the ivfTopK convention. Ids must
    * be integral ([[knnGraphLsh]]'s contract — the bounded shortlist
    * aggregate buffers (long, double) pairs). */
  def ivfPqTopK(probes: DataFrame, corpus: DataFrame, k: Int,
                nCentroids: Int = 16, nProbe: Int = 2,
                m: Int = 16, ksub: Int = 16, refine: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding",
                maxFitRows: Int = 1 << 14,
                centroids: Seq[Seq[Double]] = Nil): DataFrame = {
    require(k > 0 && nProbe > 0 && m > 0 && ksub > 1 && refine > 0,
      "bad IVF-PQ params")
    // Packed-code layout bound: codes ride ONE 64-bit word, so
    // m·ceil(log₂ ksub) ≤ 64. The old array<int> form accepted e.g.
    // (m=16, ksub=256); this variant rejects it up front, with the
    // params named, instead of deep in PqCodebook's require.
    val codeBits = math.max(1, 32 - Integer.numberOfLeadingZeros(ksub - 1))
    require(m * codeBits <= 64,
      s"m=$m subspaces of $codeBits-bit codes (ksub=$ksub) exceed the " +
        "packed 64-bit layout: need m*ceil(log2(ksub)) <= 64")
    val c = droppingUndefinedNorms(
      corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("cv"))
        .withColumn("cn", dot(col("cv"), col("cv"))), "cn")
    val d = c.select(size(col("cv"))).head(1).headOption.map(_.getInt(0)).getOrElse(0)
    if (d == 0) return bruteForceTopK(probes, corpus, k, idCol, vecCol)
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val dsub = d / m
    // Coarse cells: caller-supplied FITTED centroids ([[kmeansFit]] —
    // zero/NaN-norm entries dropped, the ivfTopK convention) or the
    // deterministic hash-ordered sample.
    val centRows: Seq[(Seq[Double], Double)] =
      if (centroids.nonEmpty)
        centroids.map(v => v -> v.map(x => x * x).sum)
          .filter { case (_, n) => n > 0 && !n.isNaN }
      else c
        .orderBy(xxhash64(col("vec_id").cast("string"))).limit(nCentroids)
        .select(col("cv"), col("cn")).collect()
        .toSeq.map(r => r.getSeq[Double](0).toSeq -> r.getDouble(1))
    // PQ training sample: modulus filter on the id hash (distributed,
    // no TakeOrdered funnel), collected at model scale.
    val n = c.count()
    val stride = math.max(1L, n / maxFitRows)
    val sample: Array[Array[Double]] = c
      .filter(pmod(xxhash64(col("vec_id").cast("string")), lit(stride)) === 0)
      .orderBy(xxhash64(col("vec_id").cast("string")))
      .limit(2 * maxFitRows)
      .select(col("cv")).collect().map(_.getSeq[Double](0).toArray)
    if (centRows.length < 2 || sample.length < ksub)
      return bruteForceTopK(probes, corpus, k, idCol, vecCol)
    // Driver-side L2 Lloyd per subspace: init = first ksub DISTINCT
    // subvectors in hash order (deterministic), empty cells keep their
    // codeword, fixed 10 rounds.
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      val init = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
      sub.iterator.takeWhile(_ => init.length < ksub).foreach { v =>
        if (seen.add(v.toSeq)) init += v.clone()
      }
      var cb = (init ++ Seq.fill(ksub - init.length)(init.head)).toArray
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }; s
      }
      for (_ <- 1 to 10) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val cnts = new Array[Long](ksub)
        sub.foreach { v =>
          var best = 0; var bd = d2(v, cb(0)); var ci = 1
          while (ci < ksub) {
            val dd = d2(v, cb(ci)); if (dd < bd) { bd = dd; best = ci }; ci += 1
          }
          cnts(best) += 1
          var t = 0; while (t < dsub) { sums(best)(t) += v(t); t += 1 }
        }
        cb = Array.tabulate(ksub) { ci =>
          if (cnts(ci) == 0) cb(ci)
          else Array.tabulate(dsub)(t => sums(ci)(t) / cnts(ci))
        }
      }
      cb
    }
    // Codebook as ONE reference object (the CellModel design): the
    // previous declarative encoder inlined every codeword as a typedLit
    // into m·ksub generated slice+dot calls — a ~1 MB task binary, 256
    // short-array allocations per corpus row, and the dominant FIXED
    // (volume-independent) cost of the sf10 query. Codes pack into one
    // 64-bit word (m·log₂ksub = 64 at the default 16×16), so the encoded
    // frame the ADC join streams is 4 scalars/row.
    val book = graft.functions.PqCodebook(codebooks)
    val normFlat: Seq[Double] = book.norms.toSeq
    val model = graft.functions.CellModel(centRows)
    import graft.functions.PqAdcPackedExpr.pqAdcPacked
    val encoded = c
      .withColumn("centroid_id",
        graft.functions.CellAssignExpr.cellAssign(col("cv"), col("cn"), model))
      .withColumn("codes", graft.functions.PqEncodeExpr.pqEncode(col("cv"), book))
      // orthogonal blocks: ‖x̂‖² = Σ_j ‖codeword_j‖² — the ADC lookup
      // loop with the codeword self-norm table as the LUT.
      .withColumn("rn2", pqAdcPacked(col("codes"), typedLit(normFlat), book))
      .select(col("vec_id"), col("centroid_id"), col("codes"), col("rn2"))
    // Probe side (broadcast-scale): top-nProbe cells, and SEPARATELY the
    // per-probe ADC lookup table lut[j·ksub+ci] = dot(q_j, codeword_{j,ci}).
    // The LUT must not ride the exploded (probe × cell) frame: with the
    // scale-proportional config nProbe grows with the cell count, and a
    // LUT copy per probed cell multiplies the broadcast by nProbe (at
    // sf10 that is ~75 copies of an m·ksub-double array per probe). Two
    // broadcasts instead: cell assignments (3 ints/row) and one LUT row
    // per probe.
    val p = droppingUndefinedNorms(
      probes.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
        .withColumn("qn", dot(col("qv"), col("qv"))), "qn")
    val lut = graft.functions.PqLutExpr.pqLut(col("qv"), book)
    val probeCells = broadcast(
      p.withColumn("centroid_id", explode(
          graft.functions.CellTopExpr.cellTop(col("qv"), col("qn"), model, nProbe)))
        .select(col("query_id"), col("centroid_id")))
    val probeLuts = broadcast(
      p.select(col("query_id"), col("qn"), lut.as("lut")))
    // ADC: m lookups per pair — O(m), never O(d); vectors long gone. The
    // score is the native [[graft.functions.PqAdcPackedExpr]] generated loop —
    // the interpreted aggregate/zip_with HOF pair it replaces was the
    // dominant term of the sf10 bench (two interpreted lambdas plus a
    // zipped-array allocation per candidate pair).
    // Zero PQ reconstructions (rn2 = 0: every subspace snapped to a zero
    // codeword — degenerate codebooks only) have an UNDEFINED ADC cosine,
    // not a bad one: a sentinel above any real cosine routes them through
    // the shortlist into exact rescoring (where their true cosine decides)
    // instead of silently making them unreturnable. Inline in the ONE
    // encoded scan — a separate union branch would recompute the whole
    // corpus encoding (encoded is never cached; measured 1.8× on the
    // sf0.1 bench).
    val adc = encoded.join(probeCells, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(probeLuts, Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        when(col("rn2") <= 0, lit(2.0)).otherwise(
          pqAdcPacked(col("codes"), col("lut"), book) /
          sqrt(col("qn") * col("rn2"))).as("adc_sim"))
    // Refine: only the ADC top refine·k per probe rejoin raw vectors for
    // exact rescoring — probes·refine·k rows, never the corpus. The
    // shortlist is the bounded TopKNeighbors merge aggregate (buffer ≤
    // refine·k per map task, map-side combinable; same (adc_sim DESC,
    // vec_id) contract), NOT a row_number window — a window sorts every
    // in-cell candidate per probe, the one non-bounded step this
    // operator had. (vec_id, query_id) pairs are unique here — one cell
    // per corpus vector, distinct probe cells — so the aggregate's
    // neighbor-distinct contract coincides with the window it replaces.
    import graft.functions.TopKNeighbors.topKNeighbors
    val shortlist = adc.groupBy(col("query_id"))
      .agg(topKNeighbors(col("vec_id"), col("adc_sim"), refine * k).as("__nb"))
      .select(col("query_id"), explode(col("__nb")).as("e"))
      .select(col("query_id"), col("e._1").as("vec_id"))
    val rescored = shortlist
      .join(c, Seq("vec_id"))
      .join(broadcast(p), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        (dot(col("qv"), col("cv")) / sqrt(col("qn") * col("cn"))).as("cos_sim"))
    topK(rescored, k)
  }

  /** Johnson-Lindenstrauss RANDOM PROJECTION to `outDims` dimensions —
    * the dimensionality-reduction front-end of every 100 TB embedding
    * pipeline (cheap pre-filter before exact cosine; sketching for
    * transport). The projection matrix is ±1 signs DERIVED from md5
    * (Achlioptas 2003's database-friendly variant: ±1 entries preserve
    * the JL guarantee with no stored matrix — any executor reconstructs
    * any matrix cell from (i, j) alone, so NOTHING ships to the
    * cluster). Output: (vec_id, out_dim, value_milli) rows.
    *
    * Cross-engine float discipline: components QUANTIZED once
    * (round(x·1000) decimal — the [[labelCoherence]] contract), signs
    * from the first md5 hex of "j:i" (top bit clear → +1 — the
    * TableDiff conv/CAST-0x pairing), and each projected value is an
    * EXACT integer sum — no floats anywhere, so the output hash-matches
    * any engine. Downstream consumers divide by 1000·√outDims once if
    * they want calibrated magnitudes; cosine/top-k rankings don't care
    * about the scalar.
    *
    * Scale shape: one posexplode pass; the (inDims × outDims) sign grid
    * derives from two tiny ranges and BROADCASTs; the reduction is one
    * aggregate with map-side combine. Fixed-dimension corpus by
    * contract (dims beyond the first row's width would drop at the
    * grid join). */
  def randomProjection(df: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       outDims: Int = 8): DataFrame = {
    require(outDims > 0, "outDims must be positive")
    val s = df.sparkSession
    val nonNull = df.filter(col(vecCol).isNotNull)
    // headOption, not head(): an empty / all-null-embedding input yields
    // an empty projection, not NoSuchElementException (the ivfPqTopK
    // degenerate-input convention).
    val inDims = nonNull.select(size(col(vecCol)))
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)
    if (inDims <= 0)
      return df.filter(lit(false))
        .select(col(idCol).as("vec_id"), lit(0L).as("out_dim"),
          lit(0L).as("value_milli"))
    val comps = nonNull
      .select(col(idCol).as("id"), posexplode(col(vecCol)))
      .select(col("id"), col("pos").as("i"),
        round(col("col").cast("double") * lit(1000), 0)
          .cast("decimal(9,0)").as("q"))
    val grid = s.range(inDims).toDF("i")
      .crossJoin(s.range(outDims).toDF("j"))
      .select(col("i"), col("j"),
        when(substring(md5(concat(col("j").cast("string"), lit(":"),
            col("i").cast("string"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), 1L)
          .otherwise(-1L).as("sign"))
    comps.join(broadcast(grid), Seq("i"))
      .groupBy(col("id"), col("j"))
      .agg(sum(col("q") * col("sign")).as("__v"))
      .select(col("id").as("vec_id"), col("j").as("out_dim"),
        col("__v").cast("long").as("value_milli"))
  }

  /** Deterministic PCA fit over a bounded hash-modulus sample — the
    * data-driven twin of [[randomProjection]] (PCA before PQ/ANN is the
    * standard retrieval compression move, Jégou et al. 2011 §V; random
    * signs preserve distances obliviously, PCA concentrates variance).
    * Returns (top-`outDims` eigenvectors (unit doubles), ALL eigenvalues
    * desc, milli-quantized mean) of the covariance of MILLI-QUANTIZED
    * components — quantization is part of the contract ([[labelCoherence]])
    * so the model is a pure function of the sampled ids' quantized data.
    *
    * Determinism end-to-end: the sample is the kmeansFit hash-modulus
    * draw (a function of ids alone, partitioning-independent, ≤
    * maxFitRows with the min-hash fallback); covariance accumulates in
    * fixed row-major order on the driver; the eigensolver is cyclic
    * Jacobi with a fixed sweep order; eigenvectors sort by (−λ, sweep
    * index) and fix sign so the largest-|entry| component is positive.
    * Model data on the driver is the IVF-centroid pattern: ≤ maxFitRows
    * × d doubles in, d×d out — never corpus-scale. */
  def pcaFit(corpus: DataFrame, outDims: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             maxFitRows: Int = 1 << 16): (Seq[Seq[Double]], Seq[Double], Seq[Long]) = {
    require(outDims > 0, "outDims must be positive")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        transform(asDouble(col(vecCol)),
          x => round(x * lit(1000), 0)).as("qv"))
    val n = c.count()
    if (n == 0L) return (Nil, Nil, Nil)
    val stride = math.max(1L, math.ceil(n.toDouble / maxFitRows).toLong)
    var s = (if (stride == 1L) c
             else c.filter(
               pmod(xxhash64(col("vec_id").cast("string")), lit(stride)) === 0))
      .persist(lvl)
    try {
      var rows = s.select(col("qv")).collect()
        .map(_.getSeq[Double](0).toArray)
      if (stride > 1L && rows.length < math.min(n, 256L)) {
        // Modulus-starvation fallback (the kmeansFit guard): min-hash
        // draw is deterministic and guaranteed min(n, maxFitRows) rows.
        s.unpersist()
        s = c.orderBy(xxhash64(col("vec_id").cast("string")))
          .limit(maxFitRows).persist(lvl)
        rows = s.select(col("qv")).collect().map(_.getSeq[Double](0).toArray)
      }
      val d = rows.head.length
      val q = math.min(outDims, d)
      val ns = rows.length
      val mean = new Array[Double](d)
      rows.foreach { r => var i = 0; while (i < d) { mean(i) += r(i); i += 1 } }
      var i = 0
      while (i < d) { mean(i) /= ns; i += 1 }
      val cov = Array.ofDim[Double](d, d)
      rows.foreach { r =>
        var a = 0
        while (a < d) {
          val da = r(a) - mean(a)
          var b = a
          while (b < d) { cov(a)(b) += da * (r(b) - mean(b)); b += 1 }
          a += 1
        }
      }
      i = 0
      while (i < d) {
        var j = i
        while (j < d) { cov(i)(j) /= ns; cov(j)(i) = cov(i)(j); j += 1 }
        i += 1
      }
      val (vals, vecs) = jacobiEigen(cov)
      val order = vals.indices.sortBy(k => (-vals(k), k))
      val top = order.take(q).map { k =>
        val v = vecs.map(_(k))
        // Sign convention: largest-|entry| positive (first max on ties).
        val m = v.indices.maxBy(ix => (math.abs(v(ix)), -ix))
        if (v(m) < 0) v.map(-_).toSeq else v.toSeq
      }
      (top, order.map(vals(_)), mean.map(m => math.round(m)).toSeq)
    } finally { s.unpersist(); () }
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (in-place on
    * a copy; deterministic sweep order). Returns (eigenvalues, V) with
    * columns of V the eigenvectors. O(d³) per sweep — model-scale only. */
  private[graft] def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var r = p + 1
        while (r < d) {
          val apq = a(p)(r)
          off = math.max(off, math.abs(apq))
          if (math.abs(apq) > 1e-20) {
            val theta = (a(r)(r) - a(p)(p)) / (2.0 * apq)
            // t = sgn(θ)/(|θ|+√(θ²+1)); θ = 0 (equal diagonal) takes the
            // full 45° rotation, t = 1.
            val t = if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val cth = 1.0 / math.sqrt(t * t + 1.0)
            val sth = t * cth
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(r)
              a(k)(p) = cth * akp - sth * akq
              a(k)(r) = sth * akp + cth * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(r)(k)
              a(p)(k) = cth * apk - sth * aqk
              a(r)(k) = sth * apk + cth * aqk
              val vkp = v(k)(p); val vkq = v(k)(r)
              v(k)(p) = cth * vkp - sth * vkq
              v(k)(r) = sth * vkp + cth * vkq
              k += 1
            }
          }
          r += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Explained-variance spectrum of the [[pcaFit]] model — the
    * diagnostic a practitioner reads to PICK outDims (where does
    * cum_share cross 0.9?) and to judge whether the embedding space has
    * usable low-rank structure at all (a flat spectrum says the JL
    * random projection does just as well for far less fit cost).
    * Output: (component, eigenvalue, var_share, cum_share), eigenvalues
    * in milli² units (the covariance is over milli-quantized
    * components), shares accumulated in the fixed eigenvalue-desc order
    * on the driver — deterministic like the fit itself. Model-scale:
    * d rows. */
  def pcaSpectrum(df: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  maxFitRows: Int = 1 << 16): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val (_, vals, _) = pcaFit(df, outDims = 1, idCol, vecCol, maxFitRows)
    val total = vals.sum
    val rows =
      if (vals.isEmpty || !(total > 0)) Seq.empty[(Long, Double, Double, Double)]
      else {
        val shares = vals.map(_ / total)
        val cums = shares.scanLeft(0.0)(_ + _).tail
        vals.indices.map(i => (i.toLong, vals(i), shares(i), cums(i)))
      }
    rows.toDF("component", "eigenvalue", "var_share", "cum_share")
  }

  /** PCA projection of the corpus onto a fitted model (see [[pcaFit]]):
    * centered milli-quantized components against micro-quantized
    * eigenvector weights — every product and sum is EXACT decimal
    * arithmetic (the randomProjection discipline with a data-derived
    * grid), so the output is hash-stable however the corpus partitions.
    * Output: (vec_id, out_dim, value_q) with value in milli·micro units;
    * divide by 10⁹ once downstream for calibrated magnitudes.
    *
    * Scale shape: one posexplode pass, (d × outDims) broadcast grid,
    * one map-side-combinable aggregate — identical to randomProjection's
    * plan; the model ships as grid literals, nothing corpus-scale. */
  def projectPca(df: DataFrame, eigvecs: Seq[Seq[Double]], meanMilli: Seq[Long],
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val s = df.sparkSession
    if (eigvecs.isEmpty)
      return df.filter(lit(false))
        .select(col(idCol).as("vec_id"), lit(0L).as("out_dim"),
          lit(0L).as("value_q"))
    val grid = eigvecs.zipWithIndex.flatMap { case (v, j) =>
      v.zipWithIndex.map { case (w, i) =>
        (i, j.toLong, math.round(w * 1e6), meanMilli(i))
      }
    }
    import s.implicits._
    val g = grid.toDF("i", "j", "w", "mu")
    val comps = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), posexplode(col(vecCol)))
      .select(col("id"), col("pos").as("i"),
        round(col("col").cast("double") * lit(1000), 0)
          .cast("decimal(9,0)").as("q"))
    comps.join(broadcast(g), Seq("i"))
      .groupBy(col("id"), col("j"))
      .agg(sum((col("q") - col("mu")) * col("w")).as("__v"))
      .select(col("id").as("vec_id"), col("j").as("out_dim"),
        col("__v").cast("long").as("value_q"))
  }

  /** Per-label embedding COHERENCE report — the cluster-quality readout
    * an embedding-space curator runs after any labeling/clustering pass:
    * for each label, how tightly its members hug their own centroid
    * (avg/min cosine to the label mean). A low-avg label is a grab-bag
    * (split it); a high-avg tiny label is a near-dup nest (semdedup it).
    * Output: (label, n_members, avg_cos, min_cos).
    *
    * Cross-engine float discipline (the DuckDB oracle hash-compares the
    * output — unusual for centroid math, whose float sums are partition-
    * order-dependent): components are QUANTIZED once (round(x·1000) as
    * decimal — quantization is part of the operator contract, mirrored
    * in the oracle) so the centroid accumulation is EXACT decimal
    * arithmetic, order-free. Cosine is taken against the centroid SUM
    * vector — cos(x, S/n) = cos(x, S), so no division ever enters the
    * aggregate — with ONE IEEE division+sqrt per member on bit-identical
    * decimal-cast operands, rounded once to 6 decimals and frozen; the
    * per-label average is an exact decimal sum and one final division.
    * Decimal widths are chosen for BOTH engines' multiply rule
    * (w1+w2 ≤ 38): q ≤ 9 digits, S capped at 29 for q·S, 19 for S².
    *
    * Scale shape: one posexplode pass to (label, dim) decimal sums
    * (map-side combinable, 64·labels rows); the centroid grid
    * broadcasts back; per-member reduction is one aggregate; zero-norm
    * members and labels (undefined cosine) are dropped like
    * [[droppingUndefinedNorms]] does. No pairwise work anywhere —
    * member×centroid only, linear in the corpus. */
  def labelCoherence(df: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     labelCol: String = "label"): DataFrame = {
    val comps = df.filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), col(labelCol).as("label"),
        posexplode(col(vecCol)))
      .select(col("__id"), col("label"), col("pos").as("dim"),
        round(col("col").cast("double") * lit(1000), 0)
          .cast("decimal(9,0)").as("q"))
    val cents = comps.groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).cast("decimal(29,0)").as("s"))
    val ns2 = cents.groupBy(col("label"))
      .agg(sum(col("s").cast("decimal(19,0)") * col("s").cast("decimal(19,0)"))
        .as("ns2"))
    val per = comps.join(broadcast(cents), Seq("label", "dim"))
      .groupBy(col("__id"), col("label"))
      .agg(sum(col("q") * col("s")).as("dot"),
        sum(col("q") * col("q")).as("nx2"))
      .join(broadcast(ns2), Seq("label"))
      .filter(col("nx2") > 0 && col("ns2") > 0)
      .select(col("label"),
        round(col("dot").cast("double") /
          sqrt(col("nx2").cast("double") * col("ns2").cast("double")), 6)
          .cast("decimal(18,6)").as("cosv"))
    per.groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("cosv")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_cos"),
        min(col("cosv")).cast("double").as("min_cos"))
  }

  /** EMBEDDING-SPACE DRIFT between two corpus snapshots — per label, the
    * cosine between the OLD and NEW label centroids plus both member
    * counts: the embedding-space companion of the PSI monitors (PSI
    * watches a scalar's distribution; this watches where each label's
    * mass MOVED in embedding space after a re-embed, an ingest batch, or
    * a model swap — low centroid_cos on a stable label means the new
    * data/model changed what the label looks like). Output: (label,
    * n_old, n_new, centroid_cos); labels need a nonzero quantized
    * centroid on BOTH sides (cosine undefined otherwise — the
    * droppingUndefinedNorms convention).
    *
    * Cross-engine float discipline ([[labelCoherence]]'s contract
    * verbatim): components quantized once (round(x·1000) decimal —
    * contract, mirrored in the oracle), centroid sums EXACT decimal and
    * order-free, cos(S_o/n_o, S_n/n_n) = cos(S_o, S_n) so no division
    * enters any aggregate, ONE IEEE division+sqrt per label frozen
    * round-6; products computed at DECIMAL(19,0)×DECIMAL(19,0) (the
    * ns2 width rule — ≤ 38 on both engines).
    *
    * Scale shape: one posexplode pass PER SIDE to (label, dim) decimal
    * sums (map-side combinable, dims·labels rows); everything after is
    * model-scale grid arithmetic — the dim-level full-outer join, the
    * per-label reduction, the count join all operate on dimension
    * frames, never corpus rows. */
  def embeddingDrift(oldDf: DataFrame, newDf: DataFrame,
                     labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame = {
    def comps(df: DataFrame): DataFrame =
      df.filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
        .select(col(labelCol).as("label"), posexplode(col(vecCol)))
        .select(col("label"), col("pos").as("dim"),
          round(col("col").cast("double") * lit(1000), 0)
            .cast("decimal(9,0)").as("q"))
    def cents(df: DataFrame, s: String): DataFrame =
      comps(df).groupBy(col("label"), col("dim"))
        .agg(sum(col("q")).cast("decimal(19,0)").as(s))
    def counts(df: DataFrame, n: String): DataFrame =
      df.filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
        .groupBy(col(labelCol).as("label")).agg(count(lit(1)).as(n))
    val grid = cents(oldDf, "so").join(cents(newDf, "sn"),
        Seq("label", "dim"), "full_outer")
      .select(col("label"),
        coalesce(col("so"), lit(0).cast("decimal(19,0)")).as("so"),
        coalesce(col("sn"), lit(0).cast("decimal(19,0)")).as("sn"))
    grid.groupBy(col("label"))
      .agg(sum(col("so") * col("sn")).as("dot"),
        sum(col("so") * col("so")).as("no2"),
        sum(col("sn") * col("sn")).as("nn2"))
      .filter(col("no2") > 0 && col("nn2") > 0)
      .join(counts(oldDf, "n_old"), Seq("label"))
      .join(counts(newDf, "n_new"), Seq("label"))
      .select(col("label"), col("n_old"), col("n_new"),
        round(col("dot").cast("double") /
          sqrt(col("no2").cast("double") * col("nn2").cast("double")), 6)
          .cast("decimal(18,6)").cast("double").as("centroid_cos"))
  }
}
