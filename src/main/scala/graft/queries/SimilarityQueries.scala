package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** Queries #24-#26 of SURVEY.md §2: embedding similarity search over the
  * `embeddings` table (vec_id, embedding float[64], label). */
object SimilarityQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Embedding corpus with injected near-duplicates (the [[TextQueries
    * .dupCorpus]] pattern): exact vector copies of every vec_id %7 == 0 at
    * +100000, and a perturbed copy (first component +0.05) of every
    * %11 == 0 at +200000 — cosine ≈ 0.999 against its source, so both
    * injections sit in the near-duplicate regime LSH blocking targets
    * (the base embeddings are near-orthogonal random vectors). */
  /** The suite's shared spherical-k-means cell model over the raw
    * `embeddings` table (k = cellsFor(n), maxIter = 5) — one fit per
    * session + corpus ([[graft.operators.Similarity.kmeansFitMemo]]);
    * consumed by q_ann_ivf_fit, q_cluster_cap_sample and q_silhouette,
    * which each trained the identical model independently before.
    * q_semdedup keeps its own fit (it trains over the injected-duplicate
    * corpus, a different training set). */
  private[graft] def embeddingCentroids(s: SparkSession, dir: String): Seq[Seq[Double]] =
    Similarity.kmeansFitMemo(Tables.load(s, dir, "embeddings"))._2

  def dupEmbCorpus(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val perturbed = transform(col("embedding"),
      (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x))
    v.unionByName(v.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      .unionByName(v.filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 200000L).as("vec_id"), perturbed.as("embedding")))
  }

  val queries: Map[String, Q] = Map(
    // Exact baseline: brute-force cosine top-5 for every vec_id % 100 == 0
    // probe, probes broadcast against one corpus scan.
    "q_ann_topk" -> ((s, dir) => {
      val v = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(v.filter(col("vec_id") % 100 === 0), v, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Matryoshka truncation curve: recall@5 of prefix-truncated exact
    // top-k vs the full 64-dim top-k — how many dims the space needs
    // before committing a projection/PQ budget. Same exact-baseline
    // contract (and probe set) as q_ann_topk; oracle-exact counts.
    "q_dim_truncation" -> ((s, dir) => {
      val v = Tables.load(s, dir, "embeddings")
      Similarity.dimTruncationRecall(v.filter(col("vec_id") % 100 === 0), v,
          dims = Seq(8, 16, 32, 64), k = 5)
        .orderBy(col("dims"))
    }),

    // Scale path: multi-band random-hyperplane LSH candidates, exact
    // cosine only within shared buckets. Not SQL-portable (hash-derived
    // hyperplanes) — rows-only; recall vs q_ann_topk is pinned in
    // SimilaritySpec and exported per-round via VerifyExtras.
    "q_ann_lsh" -> ((s, dir) => {
      val v = Tables.load(s, dir, "embeddings")
      // Scale rule lshParamsFor: planes grow with the corpus toward a
      // 512-target bucket but CAP at 7 — the 1-bit multi-probe budget
      // (≤ 8) can't hold recall past that — and 6 independent bands
      // pin coverage bands·nProbe/2^planes = 37.5% (the ivfPqParamsFor
      // discipline; LSH_LAB_SF10: 0.45 uncapped, 0.71 capped 4-band,
      // 0.836 at 5.63 s for the wired 6-band Pareto point).
      val (bands, planes, nProbe) = Similarity.lshParamsFor(v.count())
      Similarity.lshTopK(v.filter(col("vec_id") % 100 === 0), v, k = 5,
          bands = bands, planesPerBand = planes, nProbe = nProbe)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-style ANN: adaptive centroid cells (rows-only; recall vs the
    // exact baseline is pinned in SimilaritySpec).
    "q_ann_ivf" -> ((s, dir) => {
      val v = Tables.load(s, dir, "embeddings")
      // Cell count scales with the corpus (cellsFor) so per-cell probe
      // volume stays ~targetCell; 16 cells at verify scales, unchanged.
      // nProbe=6: sampled (unfitted) centroids make unbalanced Voronoi
      // cells, so the static path needs a wider probe than the fitted
      // variant to reach usable recall — measured 0.40 at nProbe=4 vs
      // 0.68 at nProbe=6 on the near-random verify fixture (fitted cells
      // reach 0.72 at nProbe=4). Probe cost stays model-scale: nProbe
      // candidate cells per probe regardless of corpus size.
      Similarity.ivfTopK(v.filter(col("vec_id") % 100 === 0), v, k = 5,
          nCentroids = Similarity.cellsFor(v.count()), nProbe = 6)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF with a TRAINED cell model: spherical k-means centroids instead
    // of the hash sample — cells follow the data distribution, so recall
    // at equal nProbe dominates the sampled-centroid variant. Rows-only
    // (cross-partition float sums make fitted components ulp-level
    // nondeterministic); recall vs q_ann_topk pinned in SimilaritySpec
    // and exported via VerifyExtras. The fit is SHARED with
    // q_cluster_cap_sample / q_silhouette via [[embeddingCentroids]]
    // (one model per session+corpus; the bench prices it as its own
    // `_kmeans_fit_build` row) — the q_unigram_vocab memo pattern.
    "q_ann_ivf_fit" -> ((s, dir) => {
      val v = Tables.load(s, dir, "embeddings")
      Similarity.ivfTopK(v.filter(col("vec_id") % 100 === 0), v, k = 5,
          nProbe = 4, centroids = embeddingCentroids(s, dir))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Label-blocked cosine near-duplicate pairs (exact baseline, oracle-
    // verified; the blocking column here is fixture metadata).
    "q_dedup_embedding" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(Tables.load(s, dir, "embeddings"),
          blockCol = "label", minCos = 0.3)
        .orderBy(col("id1"), col("id2"))),

    // SemDeDup-style semantic dedup: k-means cells block the corpus, exact
    // in-cell cosine pairs -> connected components -> one min-id keeper
    // per component. Rows-only (the fitted cell model is ulp-level
    // nondeterministic cross-engine); drop-set recall vs the exact
    // all-pairs truth is pinned in SimilaritySpec and exported per-round
    // via VerifyExtras.
    "q_semdedup" -> ((s, dir) => {
      val corpus = dupEmbCorpus(s, dir)
      // k scales with the corpus (cellsFor) so per-cell pair work stays
      // ~targetCell² at any sf — a fixed k would go quadratic at sf10.
      val k = Similarity.cellsFor(corpus.count())
      Similarity.semDedup(corpus, minCos = 0.9, k = k, maxIter = 5)
        .orderBy(col("id"))
    }),

    // Scale path: corpus-proportional LSH blocking over a corpus with
    // injected near-duplicate vectors. Not SQL-portable (hash-derived
    // hyperplanes) — rows-only; recall vs the exact all-pairs truth is
    // pinned in SimilaritySpec and exported per-round via VerifyExtras.
    "q_dedup_embedding_lsh" -> ((s, dir) =>
      Similarity.cosineNearDupPairsLsh(dupEmbCorpus(s, dir), minCos = 0.9)
        .orderBy(col("id1"), col("id2"))),

    // k-NN GRAPH over the whole corpus (every vector a probe — the
    // structure clustering/graph-dedup pipelines build first): LSH
    // bucket self-join, per-vector top-3 from bounded candidate sets
    // (≤ bands × bucketCap each). Operator-default granularity
    // (targetBucket=64): occupancy stays ~4× under bucketCap at every
    // sf — an earlier 512-target override aimed occupancy ABOVE the
    // cap, so at sf1 most buckets were silently dropped (recall 0.09;
    // caught by the sf1 extras run). Not SQL-portable (hash-derived
    // hyperplanes) — rows-only; the strong-edge survival contract is
    // pinned in SimilaritySpec and exported via VerifyExtras.
    "q_knn_graph" -> ((s, dir) =>
      Similarity.knnGraphLsh(Tables.load(s, dir, "embeddings"), k = 3)
        .orderBy(col("id"), col("rank"))),

    // Density-equalized diversity sample: k-means cells (∝ corpus via
    // cellsFor, the semDedup blocking) cap each semantic region's
    // contribution at 20 docs — over-dense template/boilerplate regions
    // flatten, sparse regions survive intact. The in-cell draw is the
    // salted-md5 BoundedMinK panel (no per-cell sort, no window funnel).
    // Rows-only (learned centroids aren't SQL-portable); cap/coverage/
    // fixed-centroid window equality spec-pinned, Σ min(cap, cell_n)
    // exactness exported via VerifyExtras `cluster_cap_exactness`.
    // Cell model shared with q_ann_ivf_fit / q_silhouette (the
    // `_kmeans_fit_build` memo — same (corpus, cellsFor, maxIter 5) fit
    // each of the three trained independently before).
    "q_cluster_cap_sample" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.clusterCapSample(emb, cap = 20,
          centroids = embeddingCentroids(s, dir))
        .orderBy(col("cell"), col("rn"))
    }),

    // Clustering-quality read for the whole cell family (semdedup /
    // cluster-cap / IVF): simplified silhouette per cell off the two
    // leading centroid cosines (native one-pass expression, no k-way
    // explode). Rows-only (learned centroids); micro-quantized means
    // are partitioning-invariant; separation/noise fixtures spec-pinned.
    "q_silhouette" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.clusterSilhouette(emb,
          centroids = embeddingCentroids(s, dir))
        .orderBy(col("cell"))
    }),

    // Per-label centroid coherence (avg/min member cosine to the label
    // mean) — oracle-EXACT centroid math via the quantized-decimal
    // contract (components frozen at 3 decimals; the centroid sum is
    // exact decimal arithmetic, cos(x, S/n) = cos(x, S) needs no
    // division inside the aggregate).
    "q_label_coherence" -> ((s, dir) =>
      Similarity.labelCoherence(Tables.load(s, dir, "embeddings"))
        .orderBy(col("label"))),

    // Johnson-Lindenstrauss ±1 projection to 8 dims — md5-derived sign
    // grid (nothing ships), quantized-decimal exact integer output.
    "q_random_projection" -> ((s, dir) =>
      Similarity.randomProjection(Tables.load(s, dir, "embeddings"),
          outDims = 8)
        .orderBy(col("vec_id"), col("out_dim"))),

    // Data-driven twin of the JL projection: PCA to 8 dims (fit on the
    // bounded hash-modulus sample, deterministic Jacobi eigensolver,
    // quantized-decimal exact projection). Rows-only (learned
    // eigenbasis); orthonormality + eigen-residual floors in
    // VerifyExtras, axis recovery and local recomputation spec-pinned.
    "q_pca_project" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (vecs, _, mu) = Similarity.pcaFit(emb, outDims = 8)
      Similarity.projectPca(emb, vecs, mu)
        .orderBy(col("vec_id"), col("out_dim"))
    }),

    // The spectrum diagnostic that justifies (or indicts) the projection:
    // explained-variance shares + cumulative curve per component.
    // Rows-only (learned model); ordering + share-sum pinned in spec,
    // spectrum order exported via the pca_spectrum_ordered floor.
    "q_pca_var" -> ((s, dir) =>
      Similarity.pcaSpectrum(Tables.load(s, dir, "embeddings"))
        .orderBy(col("component"))),

    // IVF-PQ: coarse cells bound WHERE to look, product-quantized codes
    // bound what a row COSTS (8 bytes vs 256; ADC lookup-table scoring —
    // the native PqAdcPackedExpr generated loop, O(m) per pair). Rows-only
    // (driver-fit codebooks are a runtime model); recall floor pinned in
    // SimilaritySpec + VerifyExtras.
    // Parameterization is the SCALE-PROPORTIONAL rule (ivfPqParamsFor):
    // cells follow cellsFor (per-cell population ~1000 at any sf) and
    // nProbe scales with the cell count so COVERAGE nProbe/nCells — the
    // recall lever on this noise-floor fixture (truth cosines 0.39-0.64,
    // rank gaps in the hundredths) — holds ≈ 37.5% instead of collapsing
    // as cells grow (cellsFor at FIXED nProbe=6 measured 0.24-0.29 at
    // sf1 and 0.27 at sf10; the rule measures 0.59 at sf1, 0.48 at sf10
    // — VERIFY_EXTRAS_SF1/SF10, IVFPQ_LAB_SF10). refine=16 (shortlist
    // 80/probe) recovers the ADC-ranking loss a 20-row shortlist left
    // behind (sf1 0.37 -> 0.56). At verify scales (n ≤ 16k) the rule
    // reproduces the pinned (16, 6) config exactly. The r10 sweep's
    // 60.2 s sf10 row measured the retired interpreted-HOF ADC, not a
    // config: the native packed-code path runs the SAME fixed config at
    // 20.8 s and the rule at 26.8 s (the O(cells·d) assignment price of
    // even cell populations). On a CLUSTERED production corpus small
    // fixed nProbe is the right lever — that path is q_ann_ivf's wiring.
    "q_ann_ivfpq" -> ((s, dir) => {
      val v = Tables.load(s, dir, "embeddings")
      val (cells, nProbe, refine) = Similarity.ivfPqParamsFor(v.count())
      Similarity.ivfPqTopK(v.filter(col("vec_id") % 100 === 0), v, k = 5,
          nCentroids = cells, nProbe = nProbe, refine = refine)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Embedding-space drift between two snapshots (deterministic
    // even/odd split standing in for old/new): per label, the cosine
    // between the OLD and NEW centroids — PSI's embedding-space
    // companion; oracle-EXACT via the labelCoherence quantized-decimal
    // contract.
    "q_embedding_drift" -> ((s, dir) => {
      val v = Tables.load(s, dir, "embeddings")
      Similarity.embeddingDrift(v.filter(col("vec_id") % 2 === 0),
          v.filter(col("vec_id") % 2 === 1))
        .orderBy(col("label"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // Same exact-ranking chain as q_ann_topk, once at full width and
    // once per prefix; truncated rows with zero-norm prefixes drop like
    // the operator's undefined-norm filter.
    "q_dim_truncation" -> {
      val dims = Seq(8, 16, 32, 64)
      val perDim = dims.map { d =>
        s"""v$d AS (SELECT vec_id, e[1:$d] AS e FROM v
           |  WHERE list_dot_product(e[1:$d], e[1:$d]) > 0),
           |p$d AS (SELECT query_id, qv[1:$d] AS qv FROM p
           |  WHERE list_dot_product(qv[1:$d], qv[1:$d]) > 0),
           |r$d AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT p$d.query_id, v$d.vec_id,
           |      row_number() OVER (PARTITION BY p$d.query_id ORDER BY
           |        list_dot_product(p$d.qv, v$d.e)
           |          / sqrt(list_dot_product(p$d.qv, p$d.qv)
           |                 * list_dot_product(v$d.e, v$d.e)) DESC,
           |        v$d.vec_id) AS rank
           |    FROM v$d CROSS JOIN p$d WHERE v$d.vec_id <> p$d.query_id)
           |  WHERE rank <= 5),
           |h$d AS (SELECT CAST(count(*) AS BIGINT) AS hits
           |        FROM r$d JOIN fullr USING (query_id, vec_id))""".stripMargin
      }.mkString(",\n")
      val sel = dims.map { d =>
        s"""SELECT $d AS dims, hits, n AS full_pairs,
           |  CAST(hits AS DOUBLE) / CAST(n AS DOUBLE) AS recall
           |FROM h$d CROSS JOIN tot""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |p AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id % 100 = 0),
         |fullr AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT p.query_id, v.vec_id,
         |      row_number() OVER (PARTITION BY p.query_id ORDER BY
         |        list_dot_product(qv, e)
         |          / sqrt(list_dot_product(qv, qv) * list_dot_product(e, e)) DESC,
         |        v.vec_id) AS rank
         |    FROM v CROSS JOIN p WHERE v.vec_id <> p.query_id)
         |  WHERE rank <= 5),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM fullr),
         |$perDim
         |SELECT * FROM (
         |$sel
         |) ORDER BY dims""".stripMargin
    },

    "q_ann_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT p.query_id, v.vec_id,
        |    list_dot_product(qv, e)
        |      / sqrt(list_dot_product(qv, qv) * list_dot_product(e, e)) AS cos_sim
        |  FROM v CROSS JOIN p WHERE v.vec_id <> p.query_id),
        |r AS (
        |  SELECT query_id, vec_id, cos_sim,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, round(cos_sim, 4) AS cos_sim
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_dedup_embedding" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2, a.label AS block,
        |  round(list_dot_product(a.e, b.e)
        |    / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 4) AS cos_sim
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.e, b.e)
        |    / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) >= 0.3
        |ORDER BY id1, id2""".stripMargin,

    // Parallel unnests in one SELECT zip positionally (DuckDB
    // semantics), so the component stream never duplicates the array
    // per dimension row — the span-strike oracle's working-set lesson.
    "q_label_coherence" ->
      """WITH comps AS (
        |  SELECT vec_id, label,
        |    unnest(generate_series(1, len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0)
        |         AS DECIMAL(9,0)) AS q
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |cents AS (SELECT label, dim, CAST(sum(q) AS DECIMAL(29,0)) AS s
        |          FROM comps GROUP BY 1, 2),
        |n2 AS (SELECT label,
        |         sum(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS ns2
        |       FROM cents GROUP BY 1),
        |per AS (
        |  SELECT c.vec_id, c.label,
        |    sum(c.q * ct.s) AS dot, sum(c.q * c.q) AS nx2
        |  FROM comps c JOIN cents ct ON c.label = ct.label AND c.dim = ct.dim
        |  GROUP BY 1, 2),
        |cosv AS (
        |  SELECT p.label,
        |    CAST(round(CAST(p.dot AS DOUBLE)
        |        / sqrt(CAST(p.nx2 AS DOUBLE) * CAST(n.ns2 AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS cosv
        |  FROM per p JOIN n2 n ON p.label = n.label
        |  WHERE p.nx2 > 0 AND n.ns2 > 0)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(cosv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_cos,
        |  CAST(min(cosv) AS DOUBLE) AS min_cos
        |FROM cosv GROUP BY 1 ORDER BY label""".stripMargin,

    // The grid bound derives from the DATA on both sides (engine: first
    // non-null row; oracle: max width) — on the fixed-dim fixtures they
    // coincide, and a variable-dim fixture would diverge LOUDLY in the
    // compare instead of silently dropping dims against a stale
    // hardcoded 64.
    "q_random_projection" ->
      """WITH comps AS (
        |  SELECT vec_id,
        |    unnest(generate_series(0, len(embedding) - 1)) AS i,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0)
        |         AS DECIMAL(9,0)) AS q
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |dims AS (SELECT max(len(embedding)) AS d FROM embeddings
        |         WHERE embedding IS NOT NULL),
        |ii AS (SELECT unnest(generate_series(0, d - 1)) AS i FROM dims),
        |jj AS (SELECT unnest(generate_series(0, 7)) AS j),
        |grid AS (
        |  SELECT ii.i, jj.j,
        |    CASE WHEN substr(md5(CAST(jj.j AS VARCHAR) || ':'
        |                         || CAST(ii.i AS VARCHAR)), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1
        |    END AS sign
        |  FROM ii CROSS JOIN jj)
        |SELECT c.vec_id, g.j AS out_dim,
        |  CAST(sum(c.q * g.sign) AS BIGINT) AS value_milli
        |FROM comps c JOIN grid g ON c.i = g.i
        |GROUP BY 1, 2 ORDER BY vec_id, out_dim""".stripMargin,

    // The labelCoherence quantized-decimal contract over two snapshot
    // sides; dims missing on one side coalesce to a 0 sum (full outer).
    "q_embedding_drift" ->
      """WITH comps AS (
        |  SELECT vec_id, label, vec_id % 2 AS side,
        |    unnest(generate_series(1, len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0)
        |         AS DECIMAL(9,0)) AS q
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |co AS (SELECT label, dim, CAST(sum(q) AS DECIMAL(19,0)) AS so
        |       FROM comps WHERE side = 0 GROUP BY 1, 2),
        |cn AS (SELECT label, dim, CAST(sum(q) AS DECIMAL(19,0)) AS sn
        |       FROM comps WHERE side = 1 GROUP BY 1, 2),
        |grid AS (
        |  SELECT coalesce(co.label, cn.label) AS label,
        |    coalesce(so, CAST(0 AS DECIMAL(19,0))) AS so,
        |    coalesce(sn, CAST(0 AS DECIMAL(19,0))) AS sn
        |  FROM co FULL OUTER JOIN cn
        |    ON co.label = cn.label AND co.dim = cn.dim),
        |red AS (
        |  SELECT label, sum(so * sn) AS dot, sum(so * so) AS no2,
        |    sum(sn * sn) AS nn2
        |  FROM grid GROUP BY 1),
        |cnts AS (
        |  SELECT label,
        |    CAST(count(*) FILTER (WHERE vec_id % 2 = 0) AS BIGINT) AS n_old,
        |    CAST(count(*) FILTER (WHERE vec_id % 2 = 1) AS BIGINT) AS n_new
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL
        |  GROUP BY 1)
        |SELECT r.label, c.n_old, c.n_new,
        |  CAST(CAST(round(CAST(r.dot AS DOUBLE)
        |      / sqrt(CAST(r.no2 AS DOUBLE) * CAST(r.nn2 AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) AS DOUBLE) AS centroid_cos
        |FROM red r JOIN cnts c ON r.label = c.label
        |WHERE r.no2 > 0 AND r.nn2 > 0
        |ORDER BY r.label""".stripMargin
  )
}
