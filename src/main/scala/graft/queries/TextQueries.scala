package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Classify, Dedup, Graph, Monitoring, NearDupPipeline, Packing, Relevance, Sampling, Unigram, Vocab, TextAnalysis => TA}
import graft.sources.Tables

/** Queries #20-#23 and #27-#30 of SURVEY.md §2: text analysis and text
  * deduplication over the `documents` table.
  *
  * The dedup corpus injects known duplicates deterministically (same
  * derivation in the oracle SQL): exact copies of every doc_id %7 == 0 at
  * +100000, and a near-copy (appended marker tail) of every %11 == 0 at
  * +200000.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  private val qualityStops = Seq("the", "a")

  /** The train/valid/test ladder q_train_test_split verifies; the oracle
    * renders its thresholds from the SAME [[Sampling.thresholdLadder]]. */
  private val splitSpec = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)

  /** BM25 query terms (same lexicon as q_keyword_search). */
  private val bm25Terms = Seq("data", "query", "fast")

  /** Mixture rebalance for q_stratified_sample: halve the dominant
    * language, keep the tail whole. */
  private val strataFracs = Map("en" -> 0.5)

  /** Target token shares for q_mix_rebalance: equal parts of four
    * languages (fr deliberately excluded — strata outside the target
    * mixture are dropped). The weights are one-Scala-literal, rendered
    * into BOTH engines from here. */
  private val mixTargets = Seq("de" -> 0.25, "en" -> 0.25, "es" -> 0.25, "zh" -> 0.25)

  /** One shape/floor tuple for the whole exact-shingle near-dup FAMILY
    * (jaccard pairs, containment pairs, clusters, canonical, pagerank):
    * the five queries below share one materialized pair table per
    * (session, corpus) through [[NearDupPipeline]] instead of re-running
    * the ~28 s (sf10) candidate pipeline each. The oracle SQL is
    * unchanged — the memo is output-identical to the direct operators
    * (NearDupPipelineSpec pins this). */
  private[graft] val nearDupParams = NearDupPipeline.Params("doc_id", "text",
    n = 3, dfCap = 10000, minJaccard = 0.5, minContainment = 0.8)

  /** Candidate cuts for the threshold tuning curve — all at/above the
    * pair table's generation floor (0.5), so every curve point counts a
    * fully-scored pair population. */
  private val dedupThresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** q_doremi_weights oracle: the q_unigram_logprob / q_bigram_logprob
    * CTE chains keyed by source, then the 5 multiplicative-weights
    * steps unrolled — refreeze the α·m product at 6 decimals, exact
    * decimal normalizer over the domain frame, smooth toward uniform.
    * Constants enter as CAST('x' AS DOUBLE) (bare decimals are DECIMAL
    * literals in DuckDB and would change the arithmetic type — the
    * q_mix_rebalance note); the IEEE chains mirror the Spark operand
    * order exactly. */
  private def doremiOracleSql: String =
    s"""WITH $doremiCtes
       |SELECT domain, n_tokens, n_bigrams, excess_loss, token_frac,
       |  alpha AS weight,
       |  CASE WHEN token_frac > CAST('0' AS DOUBLE) THEN alpha / token_frac
       |  END AS boost
       |FROM s5 ORDER BY domain""".stripMargin

  /** The CTE chain q_doremi_weights selects from, shared with the
    * q_doremi_mix composition (`s5` holds the final per-domain alpha). */
  private def doremiCtes: String = {
    val oneMinusC = "(CAST('1' AS DOUBLE) - CAST('0.001' AS DOUBLE))"
    val c = "CAST('0.001' AS DOUBLE)"
    // k-scaled freeze + zero-sum guard, mirroring doremiFromCensus:
    // p = round(k·α·m, 6) keeps 6 decimals RELATIVE to uniform, and a
    // degenerate all-zero frame keeps the previous iterate.
    val stepCtes = (1 to 5).map { i =>
      val prev = if (i == 1) "d0" else s"s${i - 1}"
      s"""s$i AS (
         |  SELECT domain, n_tokens, n_bigrams, excess_loss, m, token_frac, k,
         |    CASE WHEN CAST(sum(p) OVER () AS DOUBLE) > CAST('0' AS DOUBLE)
         |    THEN $oneMinusC * (CAST(p AS DOUBLE) / CAST(sum(p) OVER () AS DOUBLE))
         |      + $c / k
         |    ELSE alpha END AS alpha
         |  FROM (SELECT *,
         |          CAST(round(k * alpha * CAST(m AS DOUBLE), 6) AS DECIMAL(18,6))
         |            AS p
         |        FROM $prev))""".stripMargin
    }.mkString(",\n")
    s"""toks AS (
       |  SELECT source, unnest(string_split($normSql, ' ')) AS token
       |  FROM documents WHERE source IS NOT NULL),
       |tfu AS (SELECT source, token, CAST(count(*) AS BIGINT) AS tf
       |        FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
       |vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS n_t
       |          FROM tfu GROUP BY 1),
       |total AS (SELECT CAST(sum(n_t) AS BIGINT) AS total FROM vocab),
       |priced AS (
       |  SELECT token,
       |    CAST(round(ln(CAST(total AS DOUBLE) / CAST(n_t AS DOUBLE)), 6)
       |         AS DECIMAL(18,6)) AS sp
       |  FROM vocab CROSS JOIN total),
       |uni AS (
       |  SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |    sum(p.sp * tf) AS su
       |  FROM tfu JOIN priced p USING (token) GROUP BY 1),
       |barr AS (
       |  SELECT source,
       |    list_filter(string_split($normSql, ' '), t -> len(t) > 0) AS arr
       |  FROM documents WHERE source IS NOT NULL),
       |pos AS (
       |  SELECT source, arr, unnest(generate_series(1, len(arr) - 1)) AS i
       |  FROM barr WHERE len(arr) >= 2),
       |bg AS (
       |  SELECT source, arr[i] AS w1, arr[i+1] AS w2,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM pos GROUP BY 1, 2, 3),
       |pair AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS n_pair
       |         FROM bg GROUP BY 1, 2),
       |lft AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_left
       |        FROM pair GROUP BY 1),
       |pricedb AS (
       |  SELECT p.w1, p.w2,
       |    CAST(round(ln(CAST(l.n_left AS DOUBLE) / CAST(p.n_pair AS DOUBLE)), 6)
       |         AS DECIMAL(18,6)) AS sp
       |  FROM pair p JOIN lft l USING (w1)),
       |bi AS (
       |  SELECT source, CAST(sum(bg.tf) AS BIGINT) AS n_bigrams,
       |    sum(p.sp * bg.tf) AS sb
       |  FROM bg JOIN pricedb p ON bg.w1 = p.w1 AND bg.w2 = p.w2 GROUP BY 1),
       |base AS (
       |  SELECT u.source AS domain, u.n_tokens, b.n_bigrams,
       |    greatest(
       |      CAST(u.su AS DOUBLE) / CAST(u.n_tokens AS DOUBLE)
       |        - CAST(b.sb AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE),
       |      CAST('0' AS DOUBLE)) AS excess_loss
       |  FROM uni u JOIN bi b ON u.source = b.source),
       |d0 AS (
       |  SELECT domain, n_tokens, n_bigrams, excess_loss,
       |    CAST(round(exp(CAST('1' AS DOUBLE) * excess_loss), 6)
       |         AS DECIMAL(18,6)) AS m,
       |    CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)
       |      AS token_frac,
       |    CAST(count(*) OVER () AS DOUBLE) AS k,
       |    CAST('1' AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE) AS alpha
       |  FROM base),
       |$stepCtes""".stripMargin
  }

  /** q_doremi_mix oracle: the DoReMi chain's final alphas feed the
    * q_mix_rebalance budget/fraction/hex-threshold ladder verbatim
    * (counts → B = min(tok/w) → w·B/tok → floor-quantized hex → md5
    * rank filter — thresholdHexCol's exact SQL contract). */
  private def doremiMixOracleSql: String =
    s"""WITH $doremiCtes,
       |dm AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |tm AS (SELECT domain AS source, alpha AS w FROM s5),
       |cm AS (
       |  SELECT tm.source, tm.w,
       |    COALESCE(CAST(sum(dm.n_tokens) AS BIGINT), 0) AS tok
       |  FROM tm LEFT JOIN dm ON dm.source = tm.source GROUP BY tm.source, tm.w),
       |fm AS (
       |  SELECT source,
       |    CASE WHEN tok = 0 THEN 0.0
       |      ELSE w * (SELECT min(CAST(tok AS DOUBLE) / w) FROM cm)
       |        / CAST(tok AS DOUBLE) END AS frac
       |  FROM cm),
       |thr AS (
       |  SELECT source,
       |    CASE WHEN CAST(floor(frac * 4294967296.0 + 0.5) AS BIGINT) >= 4294967296
       |      THEN 'g0000000'
       |      ELSE printf('%08x', CAST(floor(frac * 4294967296.0 + 0.5) AS BIGINT))
       |    END AS thr
       |  FROM fm)
       |SELECT dm.doc_id, dm.source, dm.n_tokens
       |FROM dm JOIN thr ON dm.source = thr.source
       |WHERE substr(md5('graft:' || CAST(dm.doc_id AS VARCHAR)), 1, 8) < thr.thr
       |ORDER BY dm.doc_id""".stripMargin

  /** The published parameters q_curation_round / q_curation_pack run
    * the chain with — the standalone queries' own defaults throughout
    * (trigram Jaccard ≥ 0.5 with the 10k df-cap, contamination overlap
    * ≥ 0.5 with the 100 bench-df cap, the q_mix_rebalance targets, the
    * 2048-token pack block). */
  private[graft] def curationConfig: graft.CurationRound.Config =
    graft.CurationRound.Config(strataCol = "lang", gopherStops = gopherStops,
      mixTargets = mixTargets)

  private def nearDupJaccard(s: SparkSession, dir: String): DataFrame =
    NearDupPipeline.jaccardPairs(dupCorpus(s, dir), nearDupParams)

  /** The memo'd end-to-end curation chain for a corpus dir — shared by
    * q_curation_round (funnel) and q_curation_pack (packing census). */
  private[graft] def curationResult(s: SparkSession, dir: String): graft.CurationRound.Result =
    graft.CurationRound.memoized(curationCorpus(s, dir), benchCorpus(s, dir),
      curationConfig)

  /** The suite's shared unigram-LM tokenizer (one fit per session +
    * corpus — [[graft.operators.Unigram.fitMemo]]); consumed by
    * q_unigram_vocab and q_unigram_encode. */
  private[graft] def unigramModel(s: SparkSession, dir: String): graft.functions.UnigramModel =
    Unigram.fitMemo(Tables.load(s, dir, "documents"), "text",
      vocabSize = 200, rounds = 2, maxPieceLen = 5, seedSize = 2000)

  /** Stand-in eval suite for decontamination: the %7 documents (exactly
    * the ids dupCorpus duplicates at +100000 — known leaked rows). */
  def benchCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"))

  def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" graft dedup tail marker")).as("text")))
  }

  private val dupCorpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, concat(text, ' graft dedup tail marker')
      |  FROM documents WHERE doc_id % 11 = 0)""".stripMargin

  /** Multi-line corpus for the repetition signals: the raw single-line
    * documents get a 40-char prefix echo appended as extra lines — twice
    * for doc_id %3 == 0 (a known duplicated line), once otherwise (all
    * lines distinct). `text` keeps the original for the n-gram signals.
    * Same derivation in the oracle SQL. */
  def repCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id"), col("text"),
      when(col("doc_id") % 3 === 0,
        concat_ws("\n", col("text"),
          substring(col("text"), 1, 40), substring(col("text"), 1, 40)))
        .otherwise(concat_ws("\n", col("text"), substring(col("text"), 1, 40)))
        .as("lined_text"))

  private val repCorpusSql =
    """rep AS (
      |  SELECT doc_id, text,
      |    CASE WHEN doc_id % 3 = 0
      |      THEN concat_ws(chr(10), text, substring(text, 1, 40), substring(text, 1, 40))
      |      ELSE concat_ws(chr(10), text, substring(text, 1, 40)) END AS lined_text
      |  FROM documents)""".stripMargin

  /** Web-artifact-bearing corpus for the Gopher rule bundle: deterministic
    * bullet lines (%4), an ellipsis-terminated teaser line (%5), and a
    * symbol-noise line (%7) wrapped around the raw text — the layout
    * defects the Gopher quality rules (Rae et al. 2021 A1.1) exist to
    * catch. concat_ws skips NULL CASE arms identically in both engines;
    * NULL-text docs are excluded like lineCorpus (concat_ws would
    * otherwise admit a bullets-only document on the Spark side). */
  def gopherCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        concat_ws("\n",
          when(col("doc_id") % 4 === 0, lit("- bullet item one")),
          when(col("doc_id") % 4 === 0, lit("* bullet item two")),
          col("text"),
          when(col("doc_id") % 5 === 0, lit("to be continued...")),
          when(col("doc_id") % 7 === 0, lit("### # symbols # here #")))
          .as("gopher_text"))

  private val gopherCorpusSql =
    """gop AS (
      |  SELECT doc_id, source, concat_ws(chr(10),
      |    CASE WHEN doc_id % 4 = 0 THEN '- bullet item one' END,
      |    CASE WHEN doc_id % 4 = 0 THEN '* bullet item two' END,
      |    text,
      |    CASE WHEN doc_id % 5 = 0 THEN 'to be continued...' END,
      |    CASE WHEN doc_id % 7 = 0 THEN '### # symbols # here #' END)
      |    AS gopher_text
      |  FROM documents WHERE text IS NOT NULL)""".stripMargin

  /** Web-page-shaped corpus for the C4 rule bundle: the raw text splits
    * into up to five 50-char "sentence" lines with varied terminal
    * punctuation (so n_kept tracks document LENGTH — the ≥5-sentence
    * page rule varies), plus a punctuation-less line every doc (always
    * dropped), a javascript notice (%9 — dropped by the line rule), the
    * lorem-ipsum placeholder (%11) and a curly-brace config block (%13)
    * — the two page-level bans. concat_ws skips NULL CASE arms
    * identically in both engines. */
  def c4Corpus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        concat_ws("\n",
          concat(substring(col("text"), 1, 50), lit(" end.")),
          when(length(col("text")) >= 51,
            concat(substring(col("text"), 51, 50), lit(" tail."))),
          when(length(col("text")) >= 101,
            concat(substring(col("text"), 101, 50), lit(" more!"))),
          when(length(col("text")) >= 151,
            concat(substring(col("text"), 151, 50), lit(" fin?"))),
          when(length(col("text")) >= 201,
            concat(substring(col("text"), 201, 50), lit(" done."))),
          lit("no terminal punct line"),
          when(col("doc_id") % 9 === 0, lit("please enable javascript to view.")),
          when(col("doc_id") % 11 === 0, lit("lorem ipsum dolor sit amet.")),
          when(col("doc_id") % 13 === 0, lit("config { nested } block")))
          .as("c4_text"))

  /** CURATION-CHAIN fixture corpus (q_curation_round /
    * q_curation_pack): page-shaped multi-line text carrying the FULL
    * document (the c4Corpus line pattern plus a remainder line, so the
    * Gopher word-count band still bites like it does on raw text),
    * with the poison lines (%9 javascript, %11 lorem, %13 brace), then
    * two injection families over the lined text: exact copies of the
    * %7 docs at +100000 (the exact-dedup stage's prey; also the
    * benchmark overlap set) and near copies of the %3 docs at +200000
    * with one extra kept line (the near-dup stage's prey — longer, so
    * the quality-canonical rule keeps the COPY and hands its changed
    * id to the decontamination stage). `lang` rides through for the
    * mixture stage. */
  def curationCorpus(s: SparkSession, dir: String): DataFrame = {
    val lined = Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        concat_ws("\n",
          concat(substring(col("text"), 1, 50), lit(" end.")),
          when(length(col("text")) >= 51,
            concat(substring(col("text"), 51, 50), lit(" tail."))),
          when(length(col("text")) >= 101,
            concat(substring(col("text"), 101, 50), lit(" more!"))),
          when(length(col("text")) >= 151,
            concat(substring(col("text"), 151, 50), lit(" fin?"))),
          when(length(col("text")) >= 201,
            concat(substring(col("text"), 201, 50), lit(" done."))),
          when(length(col("text")) >= 251,
            concat(substring(col("text"), 251, 1000000), lit(" rest."))),
          lit("no terminal punct line"),
          when(col("doc_id") % 9 === 0, lit("please enable javascript to view.")),
          when(col("doc_id") % 11 === 0, lit("lorem ipsum dolor sit amet.")),
          when(col("doc_id") % 13 === 0, lit("config { nested } block")))
          .as("text"))
    lined
      .unionByName(lined.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("lang"), col("text")))
      .unionByName(lined.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("lang"),
          concat(col("text"), lit("\nthe graft curation near dup tail marker."))
            .as("text")))
  }

  private val curationCorpusSql =
    """cur AS (
      |  SELECT doc_id, lang, text FROM (
      |    SELECT doc_id, lang, concat_ws(chr(10),
      |      substring(text, 1, 50) || ' end.',
      |      CASE WHEN length(text) >= 51 THEN substring(text, 51, 50) || ' tail.' END,
      |      CASE WHEN length(text) >= 101 THEN substring(text, 101, 50) || ' more!' END,
      |      CASE WHEN length(text) >= 151 THEN substring(text, 151, 50) || ' fin?' END,
      |      CASE WHEN length(text) >= 201 THEN substring(text, 201, 50) || ' done.' END,
      |      CASE WHEN length(text) >= 251 THEN substring(text, 251, 1000000) || ' rest.' END,
      |      'no terminal punct line',
      |      CASE WHEN doc_id % 9 = 0 THEN 'please enable javascript to view.' END,
      |      CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.' END,
      |      CASE WHEN doc_id % 13 = 0 THEN 'config { nested } block' END) AS text
      |    FROM documents WHERE text IS NOT NULL) b
      |  UNION ALL
      |  SELECT doc_id + 100000, lang, text FROM (
      |    SELECT doc_id, lang, concat_ws(chr(10),
      |      substring(text, 1, 50) || ' end.',
      |      CASE WHEN length(text) >= 51 THEN substring(text, 51, 50) || ' tail.' END,
      |      CASE WHEN length(text) >= 101 THEN substring(text, 101, 50) || ' more!' END,
      |      CASE WHEN length(text) >= 151 THEN substring(text, 151, 50) || ' fin?' END,
      |      CASE WHEN length(text) >= 201 THEN substring(text, 201, 50) || ' done.' END,
      |      CASE WHEN length(text) >= 251 THEN substring(text, 251, 1000000) || ' rest.' END,
      |      'no terminal punct line',
      |      CASE WHEN doc_id % 9 = 0 THEN 'please enable javascript to view.' END,
      |      CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.' END,
      |      CASE WHEN doc_id % 13 = 0 THEN 'config { nested } block' END) AS text
      |    FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0) b7
      |  UNION ALL
      |  SELECT doc_id + 200000, lang,
      |    text || chr(10) || 'the graft curation near dup tail marker.' FROM (
      |    SELECT doc_id, lang, concat_ws(chr(10),
      |      substring(text, 1, 50) || ' end.',
      |      CASE WHEN length(text) >= 51 THEN substring(text, 51, 50) || ' tail.' END,
      |      CASE WHEN length(text) >= 101 THEN substring(text, 101, 50) || ' more!' END,
      |      CASE WHEN length(text) >= 151 THEN substring(text, 151, 50) || ' fin?' END,
      |      CASE WHEN length(text) >= 201 THEN substring(text, 201, 50) || ' done.' END,
      |      CASE WHEN length(text) >= 251 THEN substring(text, 251, 1000000) || ' rest.' END,
      |      'no terminal punct line',
      |      CASE WHEN doc_id % 9 = 0 THEN 'please enable javascript to view.' END,
      |      CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.' END,
      |      CASE WHEN doc_id % 13 = 0 THEN 'config { nested } block' END) AS text
      |    FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 0) b3)""".stripMargin

  /** The composed curation-chain CTEs (gates → exact dedup → near-dup
    * canonical → decontamination → mixture) — every fragment is the
    * SAME SQL its standalone oracle uses (gopherSigSql's feature
    * formulas, jaccardPairsCtes' pair pipeline, q_dedup_canonical's
    * recursive components, q_contamination's overlap chain,
    * q_mix_rebalance's threshold ladder), re-rooted on the previous
    * stage's survivor CTE. Requires WITH RECURSIVE at the call site.
    * Exposes: ctok (stage 0 frame), cgate (gate verdicts), cg / ce /
    * cn / cc / cm (survivors after each stage). */
  private def curationStageCtes: String = {
    val stopsSum = gopherStops.map(w =>
      s"(CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END)").mkString(" + ")
    val mixVals = mixTargets
      .map { case (l, w) => s"('$l', CAST('$w' AS DOUBLE))" }.mkString(", ")
    s"""$curationCorpusSql,
       |ctok AS (
       |  SELECT doc_id, lang, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM cur),
       |cfeat AS (
       |  SELECT *,
       |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
       |    string_split(replace(text, chr(10), ' '), ' ') AS toks,
       |    replace(text, chr(10), ' ') AS flat
       |  FROM ctok),
       |cgate AS (
       |  SELECT doc_id, lang, text, n_tokens,
       |    (len(list_filter(lines, l ->
       |       right(l, 1) IN ('.', '!', '?', '"')
       |       AND len(list_filter(string_split(l, ' '), w -> length(w) > 0)) >= 3
       |       AND NOT contains(lower(l), 'javascript'))) >= 5
       |     AND NOT contains(lower(text), 'lorem ipsum')
       |     AND NOT contains(text, '{')) AS c4_pass,
       |    (len(toks) BETWEEN 50 AND 100000
       |     AND (CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
       |          / CAST(len(toks) AS DOUBLE)) BETWEEN 3.0 AND 10.0
       |     AND (CAST(len(regexp_extract_all(flat, '[#]'))
       |          + len(regexp_extract_all(flat, '[.][.][.]')) AS DOUBLE)
       |          / CAST(len(toks) AS DOUBLE)) <= 0.1
       |     AND (CAST(len(list_filter(lines, l -> starts_with(l, '- ')
       |          OR starts_with(l, '* ') OR starts_with(l, '• '))) AS DOUBLE)
       |          / CAST(greatest(len(lines), 1) AS DOUBLE)) <= 0.9
       |     AND (CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS DOUBLE)
       |          / CAST(greatest(len(lines), 1) AS DOUBLE)) <= 0.3
       |     AND (CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
       |          AS DOUBLE)
       |          / CAST(len(toks) AS DOUBLE)) >= 0.8
       |     AND ($stopsSum) >= 2) AS gopher_pass
       |  FROM cfeat),
       |cg AS (SELECT doc_id, lang, text, n_tokens FROM cgate
       |       WHERE c4_pass AND gopher_pass),
       |cfp AS (SELECT doc_id, lang, text, n_tokens, md5($normSql) AS fp FROM cg),
       |ckeep AS (SELECT min(doc_id) AS doc_id FROM cfp GROUP BY fp),
       |ce AS (SELECT c.doc_id, c.lang, c.text, c.n_tokens
       |       FROM cfp c JOIN ckeep k USING (doc_id)),
       |ntokd AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(l[i:i+2], ' ')
       |                   for i in range(1, greatest(len(l) - 2, 0) + 1)]) AS shs
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS l FROM ce)),
       |nsh AS (SELECT doc_id AS id, unnest(shs) AS sh FROM ntokd),
       |nkeepsh AS (SELECT sh FROM nsh GROUP BY sh HAVING count(*) <= 10000),
       |nshc AS (SELECT nsh.id, nsh.sh FROM nsh JOIN nkeepsh USING (sh)),
       |nsizes AS (SELECT id, count(*) AS n_sh FROM nsh GROUP BY id),
       |npairs AS (
       |  SELECT a.id AS id1, b.id AS id2, count(*) AS shared
       |  FROM nshc a JOIN nshc b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2),
       |np AS MATERIALIZED (
       |  SELECT id1, id2 FROM (
       |    SELECT id1, id2, shared, s1.n_sh AS n1, s2.n_sh AS n2
       |    FROM npairs
       |    JOIN nsizes s1 ON npairs.id1 = s1.id
       |    JOIN nsizes s2 ON npairs.id2 = s2.id) jj
       |  WHERE CAST(shared AS DOUBLE) / CAST(n1 + n2 - shared AS DOUBLE) >= 0.5),
       |nedge AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM np
       |      UNION SELECT id2, id1 FROM np),
       |nreach AS (
       |  (SELECT src, dst FROM nedge UNION SELECT src, src FROM nedge)
       |  UNION
       |  SELECT r.src, e2.dst FROM nreach r JOIN nedge e2 ON r.dst = e2.src),
       |ncomp AS (SELECT src AS id, min(dst) AS component FROM nreach GROUP BY src),
       |nq AS (
       |  SELECT c.id, row_number() OVER (PARTITION BY c.component
       |    ORDER BY length(co.text) DESC, c.id) AS rn
       |  FROM ncomp c JOIN ce co ON c.id = co.doc_id),
       |ndrop AS (SELECT id AS doc_id FROM nq WHERE rn > 1),
       |cn AS (SELECT * FROM ce
       |       WHERE doc_id NOT IN (SELECT doc_id FROM ndrop)),
       |btokd2 AS (
       |  SELECT doc_id AS bench_id,
       |    list_distinct([array_to_string(l[i:i+2], ' ')
       |                   for i in range(1, greatest(len(l) - 2, 0) + 1)]) AS shs
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS l
       |        FROM documents WHERE doc_id % 7 = 0)),
       |bsh2 AS (SELECT bench_id, unnest(shs) AS sh FROM btokd2),
       |bsizes2 AS (SELECT bench_id, count(*) AS n_bench FROM bsh2 GROUP BY bench_id),
       |bkeep2 AS (SELECT sh FROM bsh2 GROUP BY sh HAVING count(*) <= 100),
       |bshk2 AS (SELECT bsh2.bench_id, bsh2.sh FROM bsh2 JOIN bkeep2 USING (sh)),
       |ctokd2 AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(l[i:i+2], ' ')
       |                   for i in range(1, greatest(len(l) - 2, 0) + 1)]) AS shs
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS l FROM cn)),
       |csh2 AS (SELECT doc_id, unnest(shs) AS sh FROM ctokd2),
       |cpairs AS (
       |  SELECT c.doc_id, b.bench_id, count(*) AS shared
       |  FROM csh2 c JOIN bshk2 b ON c.sh = b.sh AND c.doc_id <> b.bench_id
       |  GROUP BY 1, 2),
       |cdrop AS (
       |  SELECT DISTINCT p.doc_id FROM cpairs p JOIN bsizes2 s USING (bench_id)
       |  WHERE CAST(p.shared AS DOUBLE) / CAST(s.n_bench AS DOUBLE) >= 0.5),
       |cc AS (SELECT * FROM cn
       |       WHERE doc_id NOT IN (SELECT doc_id FROM cdrop)),
       |mt(lang, w) AS (VALUES $mixVals),
       |mc AS (
       |  SELECT mt.lang, mt.w,
       |    COALESCE(CAST(sum(cc.n_tokens) AS BIGINT), 0) AS tok
       |  FROM mt LEFT JOIN cc ON cc.lang = mt.lang GROUP BY mt.lang, mt.w),
       |mf AS (
       |  SELECT lang,
       |    CASE WHEN tok = 0 THEN 0.0
       |      ELSE w * (SELECT min(CAST(tok AS DOUBLE) / w) FROM mc)
       |        / CAST(tok AS DOUBLE) END AS frac
       |  FROM mc),
       |mthr AS (
       |  SELECT lang,
       |    CASE WHEN CAST(floor(frac * 4294967296.0 + 0.5) AS BIGINT) >= 4294967296
       |      THEN 'g0000000'
       |      ELSE printf('%08x', CAST(floor(frac * 4294967296.0 + 0.5) AS BIGINT))
       |    END AS thr
       |  FROM mf),
       |cm AS (
       |  SELECT cc.doc_id, cc.lang, cc.n_tokens
       |  FROM cc JOIN mthr ON cc.lang = mthr.lang
       |  WHERE substr(md5('graft:' || CAST(cc.doc_id AS VARCHAR)), 1, 8) < mthr.thr)""".stripMargin
  }

  /** The INCREMENTAL curation folds unrolled in SQL — one block per
    * ingest batch, each re-using the standalone stages' proven oracle
    * fragments (the cgate feature formulas, the shingle/pair pipeline,
    * the recursive component canonical, the contamination chain)
    * re-rooted on that batch, with history entering exactly as the
    * engine's maintained state does: seen-fingerprints = gated fps of
    * earlier batches, the near-dup pool = retained survivors' posting
    * index, the df valve over EXACT survivors of history + batch (the
    * engine's shdf domain — the full chain's cap domain), and history
    * edges veto the newcomer. Exposes if0/if1/if2 (per-batch funnel
    * rows).
    * Requires WITH RECURSIVE at the call site. */
  private def incCurationCtes: String = {
    val stopsSum = gopherStops.map(w =>
      s"(CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END)").mkString(" + ")
    val shListSql =
      """list_distinct([array_to_string(l[i:i+2], ' ')
        |                   for i in range(1, greatest(len(l) - 2, 0) + 1)])""".stripMargin
    val benchCtes =
      s"""ibenchd AS MATERIALIZED (
         |  SELECT doc_id AS bench_id, $shListSql AS shs
         |  FROM (SELECT doc_id, string_split($normSql, ' ') AS l
         |        FROM documents WHERE doc_id % 7 = 0)),
         |ibenchsh AS MATERIALIZED (SELECT bench_id, unnest(shs) AS sh FROM ibenchd),
         |ibenchsz AS MATERIALIZED (SELECT bench_id, count(*) AS n_bench FROM ibenchsh GROUP BY bench_id),
         |ibenchkeep AS MATERIALIZED (SELECT sh FROM ibenchsh GROUP BY sh HAVING count(*) <= 100),
         |ibenchshk AS MATERIALIZED (SELECT ibenchsh.bench_id, ibenchsh.sh FROM ibenchsh JOIN ibenchkeep USING (sh))""".stripMargin
    def batchBlock(k: Int, pred: String, prev: Seq[Int]): String = {
      val seen =
        if (prev.isEmpty)
          s"ibseen$k AS (SELECT CAST(NULL AS VARCHAR) AS fp WHERE FALSE)"
        else
          s"ibseen$k AS (SELECT DISTINCT fp FROM (${
            prev.map(j => s"SELECT fp FROM ibfp$j").mkString(" UNION ALL ")}))"
      val rpost =
        if (prev.isEmpty)
          s"irpost$k AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS VARCHAR) AS sh WHERE FALSE)"
        else
          s"irpost$k AS (${prev.map(j =>
            s"SELECT s.id, s.sh FROM ibsh$j s JOIN icc$j c ON s.id = c.doc_id")
            .mkString(" UNION ALL ")})"
      // the history df census spans prior EXACT survivors (ibsh$j),
      // not just retained docs — the engine's shdf domain
      val rdf =
        if (prev.isEmpty)
          s"irdf$k AS (SELECT CAST(NULL AS VARCHAR) AS sh, CAST(NULL AS BIGINT) AS n WHERE FALSE)"
        else
          s"irdf$k AS (SELECT sh, count(*) AS n FROM (${prev.map(j =>
            s"SELECT sh FROM ibsh$j").mkString(" UNION ALL ")}) GROUP BY sh)"
      val rsz =
        if (prev.isEmpty)
          s"irsz$k AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS n_sh WHERE FALSE)"
        else
          s"irsz$k AS (${prev.map(j =>
            s"SELECT s.id, s.n_sh FROM ibsz$j s JOIN icc$j c ON s.id = c.doc_id")
            .mkString(" UNION ALL ")})"
      s"""ib$k AS (SELECT doc_id, lang, text FROM cur WHERE $pred),
         |ibtok$k AS MATERIALIZED (
         |  SELECT doc_id, lang, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM ib$k),
         |ibfeat$k AS (
         |  SELECT *,
         |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
         |    string_split(replace(text, chr(10), ' '), ' ') AS toks,
         |    replace(text, chr(10), ' ') AS flat
         |  FROM ibtok$k),
         |ibgate$k AS MATERIALIZED (
         |  SELECT doc_id, lang, text, n_tokens,
         |    (len(list_filter(lines, l ->
         |       right(l, 1) IN ('.', '!', '?', '"')
         |       AND len(list_filter(string_split(l, ' '), w -> length(w) > 0)) >= 3
         |       AND NOT contains(lower(l), 'javascript'))) >= 5
         |     AND NOT contains(lower(text), 'lorem ipsum')
         |     AND NOT contains(text, '{')) AS c4_pass,
         |    (len(toks) BETWEEN 50 AND 100000
         |     AND (CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE)) BETWEEN 3.0 AND 10.0
         |     AND (CAST(len(regexp_extract_all(flat, '[#]'))
         |          + len(regexp_extract_all(flat, '[.][.][.]')) AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE)) <= 0.1
         |     AND (CAST(len(list_filter(lines, l -> starts_with(l, '- ')
         |          OR starts_with(l, '* ') OR starts_with(l, '• '))) AS DOUBLE)
         |          / CAST(greatest(len(lines), 1) AS DOUBLE)) <= 0.9
         |     AND (CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS DOUBLE)
         |          / CAST(greatest(len(lines), 1) AS DOUBLE)) <= 0.3
         |     AND (CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
         |          AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE)) >= 0.8
         |     AND ($stopsSum) >= 2) AS gopher_pass
         |  FROM ibfeat$k),
         |ibg$k AS MATERIALIZED (SELECT doc_id, lang, text, n_tokens FROM ibgate$k
         |          WHERE c4_pass AND gopher_pass),
         |ibfp$k AS MATERIALIZED (SELECT doc_id, lang, text, n_tokens, md5($normSql) AS fp
         |           FROM ibg$k),
         |$seen,
         |ibkeep$k AS (SELECT min(doc_id) AS doc_id FROM ibfp$k
         |             WHERE fp NOT IN (SELECT fp FROM ibseen$k) GROUP BY fp),
         |ibe$k AS MATERIALIZED (SELECT c.doc_id, c.lang, c.text, c.n_tokens
         |          FROM ibfp$k c JOIN ibkeep$k USING (doc_id)),
         |ibshd$k AS (
         |  SELECT doc_id, $shListSql AS shs
         |  FROM (SELECT doc_id, string_split($normSql, ' ') AS l FROM ibe$k)),
         |ibsh$k AS MATERIALIZED (SELECT doc_id AS id, unnest(shs) AS sh FROM ibshd$k),
         |ibsz$k AS MATERIALIZED (SELECT id, count(*) AS n_sh FROM ibsh$k GROUP BY id),
         |$rpost,
         |$rsz,
         |ibdf$k AS (SELECT sh, count(*) AS n FROM ibsh$k GROUP BY sh),
         |$rdf,
         |ikeepsh$k AS MATERIALIZED (SELECT b.sh FROM ibdf$k b LEFT JOIN irdf$k r USING (sh)
         |              WHERE b.n + COALESCE(r.n, 0) <= 10000),
         |ibp$k AS MATERIALIZED (SELECT id, sh FROM ibsh$k
         |          WHERE sh IN (SELECT sh FROM ikeepsh$k)),
         |irp$k AS MATERIALIZED (SELECT id, sh FROM irpost$k
         |          WHERE sh IN (SELECT sh FROM ikeepsh$k)),
         |ihp$k AS (SELECT b.id AS bid, r.id AS hid, count(*) AS shared
         |          FROM ibp$k b JOIN irp$k r ON b.sh = r.sh GROUP BY 1, 2),
         |ihdrop$k AS (
         |  SELECT DISTINCT p.bid AS doc_id FROM ihp$k p
         |  JOIN ibsz$k s1 ON p.bid = s1.id
         |  JOIN irsz$k s2 ON p.hid = s2.id
         |  WHERE CAST(p.shared AS DOUBLE)
         |    / CAST(s1.n_sh + s2.n_sh - p.shared AS DOUBLE) >= 0.5),
         |ibpair$k AS (SELECT a.id AS id1, b.id AS id2, count(*) AS shared
         |             FROM ibp$k a JOIN ibp$k b ON a.sh = b.sh AND a.id < b.id
         |             GROUP BY 1, 2),
         |ibjp$k AS MATERIALIZED (
         |  SELECT id1, id2 FROM ibpair$k p
         |  JOIN ibsz$k s1 ON p.id1 = s1.id
         |  JOIN ibsz$k s2 ON p.id2 = s2.id
         |  WHERE CAST(p.shared AS DOUBLE)
         |    / CAST(s1.n_sh + s2.n_sh - p.shared AS DOUBLE) >= 0.5),
         |ibedge$k AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM ibjp$k
         |                          UNION SELECT id2, id1 FROM ibjp$k),
         |ibreach$k AS (
         |  (SELECT src, dst FROM ibedge$k UNION SELECT src, src FROM ibedge$k)
         |  UNION
         |  SELECT r.src, e2.dst FROM ibreach$k r JOIN ibedge$k e2 ON r.dst = e2.src),
         |ibcomp$k AS (SELECT src AS id, min(dst) AS component FROM ibreach$k
         |             GROUP BY src),
         |ibq$k AS (
         |  SELECT c.id, row_number() OVER (PARTITION BY c.component
         |    ORDER BY length(co.text) DESC, c.id) AS rn
         |  FROM ibcomp$k c JOIN ibe$k co ON c.id = co.doc_id),
         |ibdrop$k AS (SELECT id AS doc_id FROM ibq$k WHERE rn > 1),
         |icn$k AS MATERIALIZED (SELECT * FROM ibe$k
         |          WHERE doc_id NOT IN (SELECT doc_id FROM ihdrop$k)
         |            AND doc_id NOT IN (SELECT doc_id FROM ibdrop$k)),
         |icp$k AS (
         |  SELECT c.id AS doc_id, b.bench_id, count(*) AS shared
         |  FROM (SELECT id, sh FROM ibsh$k
         |        WHERE id IN (SELECT doc_id FROM icn$k)) c
         |  JOIN ibenchshk b ON c.sh = b.sh AND c.id <> b.bench_id
         |  GROUP BY 1, 2),
         |icdrop$k AS (
         |  SELECT DISTINCT p.doc_id FROM icp$k p JOIN ibenchsz s USING (bench_id)
         |  WHERE CAST(p.shared AS DOUBLE) / CAST(s.n_bench AS DOUBLE) >= 0.5),
         |icc$k AS MATERIALIZED (SELECT * FROM icn$k
         |          WHERE doc_id NOT IN (SELECT doc_id FROM icdrop$k)),
         |if$k AS (
         |  SELECT CAST($k AS BIGINT) AS batch_id, 0 AS stage_ord,
         |    'total' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         |    COALESCE(CAST(sum(n_tokens) AS BIGINT), 0) AS n_tokens FROM ibtok$k
         |  UNION ALL SELECT CAST($k AS BIGINT), 1, 'c4_gate',
         |    CAST(count(*) AS BIGINT), COALESCE(CAST(sum(n_tokens) AS BIGINT), 0)
         |    FROM ibgate$k WHERE c4_pass
         |  UNION ALL SELECT CAST($k AS BIGINT), 2, 'gopher_gate',
         |    CAST(count(*) AS BIGINT), COALESCE(CAST(sum(n_tokens) AS BIGINT), 0)
         |    FROM ibg$k
         |  UNION ALL SELECT CAST($k AS BIGINT), 3, 'dedup_exact',
         |    CAST(count(*) AS BIGINT), COALESCE(CAST(sum(n_tokens) AS BIGINT), 0)
         |    FROM ibe$k
         |  UNION ALL SELECT CAST($k AS BIGINT), 4, 'dedup_near',
         |    CAST(count(*) AS BIGINT), COALESCE(CAST(sum(n_tokens) AS BIGINT), 0)
         |    FROM icn$k
         |  UNION ALL SELECT CAST($k AS BIGINT), 5, 'decontaminate',
         |    CAST(count(*) AS BIGINT), COALESCE(CAST(sum(n_tokens) AS BIGINT), 0)
         |    FROM icc$k)""".stripMargin
    }
    val preds = Seq(
      "doc_id % 1000000000 < 100000",
      "doc_id % 1000000000 >= 100000 AND doc_id % 1000000000 < 200000",
      "doc_id % 1000000000 >= 200000")
    s"""$curationCorpusSql,
       |$benchCtes,
       |${preds.zipWithIndex.map { case (p, k) =>
           batchBlock(k, p, 0 until k) }.mkString(",\n")}""".stripMargin
  }

  private val c4CorpusSql =
    """c4 AS (
      |  SELECT doc_id, source, concat_ws(chr(10),
      |    substring(text, 1, 50) || ' end.',
      |    CASE WHEN length(text) >= 51 THEN substring(text, 51, 50) || ' tail.' END,
      |    CASE WHEN length(text) >= 101 THEN substring(text, 101, 50) || ' more!' END,
      |    CASE WHEN length(text) >= 151 THEN substring(text, 151, 50) || ' fin?' END,
      |    CASE WHEN length(text) >= 201 THEN substring(text, 201, 50) || ' done.' END,
      |    'no terminal punct line',
      |    CASE WHEN doc_id % 9 = 0 THEN 'please enable javascript to view.' END,
      |    CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.' END,
      |    CASE WHEN doc_id % 13 = 0 THEN 'config { nested } block' END)
      |    AS c4_text
      |  FROM documents WHERE text IS NOT NULL)""".stripMargin

  /** The Gopher must-have-stopword rule's word set, re-targeted at the
    * synthetic corpus vocabulary (the canonical set is {the, be, to, of,
    * and, that, have, with}; only "the" exists here, which would pin the
    * rule permanently false). The rule itself — "at least minHits of
    * these words present" — is the paper's. */
  private val gopherStops = Seq("the", "a", "data", "table")

  /** Shared oracle CTE chain for the Gopher rule bundle: the artifact
    * corpus (`gop`), the tokenized features (`feat`), and the per-doc
    * signal columns (`sig`, source carried through for the rate census).
    * q_gopher_quality selects per-doc rows off it; q_gopher_rate
    * aggregates the verdict per source — ONE signal derivation, two
    * consumers (the langPurityState split applied to oracle SQL). */
  private def gopherSigSql: String =
    s"""$gopherCorpusSql,
       |feat AS (
       |  SELECT doc_id, source,
       |    replace(gopher_text, chr(10), ' ') AS flat,
       |    string_split(replace(gopher_text, chr(10), ' '), ' ') AS toks,
       |    list_filter(string_split(gopher_text, chr(10)),
       |                l -> trim(l) <> '') AS lines
       |  FROM gop),
       |sig AS (
       |  SELECT doc_id, source,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
       |      / CAST(len(toks) AS DOUBLE) AS mean_word_len,
       |    CAST(len(regexp_extract_all(flat, '[#]'))
       |       + len(regexp_extract_all(flat, '[.][.][.]')) AS DOUBLE)
       |      / CAST(len(toks) AS DOUBLE) AS symbol_ratio,
       |    CAST(len(list_filter(lines, l -> starts_with(l, '- ')
       |       OR starts_with(l, '* ') OR starts_with(l, '• '))) AS DOUBLE)
       |      / CAST(greatest(len(lines), 1) AS DOUBLE) AS bullet_line_frac,
       |    CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS DOUBLE)
       |      / CAST(greatest(len(lines), 1) AS DOUBLE) AS ellipsis_line_frac,
       |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
       |        AS DOUBLE)
       |      / CAST(len(toks) AS DOUBLE) AS alpha_word_frac,
       |    CAST(${gopherStops.map(w =>
              s"(CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END)")
              .mkString("\n     + ")} AS BIGINT) AS stop_hits
       |  FROM feat)""".stripMargin

  /** The rule conjunction over `sig` columns (shared by both oracles). */
  private val gopherPassSql: String =
    """n_words BETWEEN 50 AND 100000
      |   AND mean_word_len BETWEEN 3.0 AND 10.0
      |   AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9
      |   AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
      |   AND stop_hits >= 2""".stripMargin

  /** Gopher repetition thresholds (Rae et al. 2021, Table A1): top-n-gram
    * char fraction caps for n=2,3,4 and duplicate-n-gram char fraction
    * caps for n=5..10. */
  private val gopherTopThresh = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private val gopherDupThresh =
    Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** Oracle for q_gopher_repetition, generated per n-gram lane: the top
    * lanes re-derive the native expression's (count × gram chars) via a
    * full group-by + the same `ORDER BY c DESC, g ASC` tie-break; the dup
    * lanes re-derive covered-token chars via duplicated-gram start
    * positions exploded to token indices, deduplicated, and joined back
    * to token lengths. The window/explode form IS the oracle for the
    * one-pass RepSignalsExpr census. */
  private def gopherRepetitionSql: String = {
    val tops = gopherTopThresh.map(_._1)
    val dups = gopherDupThresh.map(_._1)
    val toksCte =
      """toks AS (
        |  SELECT doc_id,
        |    string_split(replace(lined_text, chr(10), ' '), ' ') AS t,
        |    greatest(length(replace(lined_text, chr(10), ' ')), 1) AS nch
        |  FROM rep)""".stripMargin
    val topCtes = tops.map { n =>
      s"""gp$n AS (
         |  SELECT doc_id, array_to_string(t[i:i+${n - 1}], ' ') AS g
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t)-$n+2)) AS i
         |        FROM toks)),
         |top$n AS (
         |  SELECT doc_id, CAST(c AS BIGINT) * length(g) AS chars
         |  FROM (SELECT doc_id, g, c,
         |          row_number() OVER (PARTITION BY doc_id
         |            ORDER BY c DESC, g ASC) AS rn
         |        FROM (SELECT doc_id, g, count(*) AS c
         |              FROM gp$n GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }
    val dupCtes = dups.map { n =>
      s"""gpp$n AS (
         |  SELECT doc_id, i, array_to_string(t[i:i+${n - 1}], ' ') AS g
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t)-$n+2)) AS i
         |        FROM toks)),
         |dupg$n AS (SELECT doc_id, g FROM gpp$n
         |           GROUP BY doc_id, g HAVING count(*) >= 2),
         |cov$n AS (SELECT DISTINCT p.doc_id, p.i + o.o AS ti
         |  FROM gpp$n p JOIN dupg$n d ON p.doc_id = d.doc_id AND p.g = d.g
         |  CROSS JOIN (SELECT unnest(range(0, $n)) AS o) o),
         |covch$n AS (SELECT c.doc_id,
         |    CAST(sum(length(t.t[c.ti])) AS BIGINT) AS ch
         |  FROM cov$n c JOIN toks t ON c.doc_id = t.doc_id GROUP BY 1)"""
        .stripMargin
    }
    val topSel = tops.map(n =>
      s"CAST(COALESCE(top$n.chars, 0) AS DOUBLE) / CAST(k.nch AS DOUBLE)" +
        s" AS top${n}gram_char_frac")
    val dupSel = dups.map(n =>
      s"CAST(COALESCE(covch$n.ch, 0) AS DOUBLE) / CAST(k.nch AS DOUBLE)" +
        s" AS dup${n}gram_char_frac")
    val joins = (tops.map(n => s"LEFT JOIN top$n ON k.doc_id = top$n.doc_id") ++
      dups.map(n => s"LEFT JOIN covch$n ON k.doc_id = covch$n.doc_id"))
      .mkString("\n")
    val pass = (gopherTopThresh.map { case (n, t) =>
      s"top${n}gram_char_frac <= $t"
    } ++ gopherDupThresh.map { case (n, t) =>
      s"dup${n}gram_char_frac <= $t"
    }).mkString(" AND ")
    s"""WITH $repCorpusSql,
       |${(toksCte +: (topCtes ++ dupCtes)).mkString(",\n")}
       |SELECT *, ($pass) AS rep_pass FROM (
       |SELECT k.doc_id,
       |  ${(topSel ++ dupSel).mkString(",\n  ")}
       |FROM toks k
       |$joins)
       |ORDER BY doc_id""".stripMargin
  }

  /** Boilerplate-bearing multi-line corpus for cross-document line dedup:
    * half the docs (%2) lead with a shared newsletter banner, every fifth
    * ends with a shared copyright footer, and the raw text is the middle
    * line. concat_ws skips the NULL CASE arms identically in both
    * engines. */
  def lineCorpus(s: SparkSession, dir: String): DataFrame =
    // NULL-text docs are excluded to mirror the oracle: concat_ws SKIPS
    // null args (never propagates), so without this filter a fetch-failed
    // doc would enter the census as a banner-plus-empty-line document on
    // the Spark side only.
    Tables.load(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"),
      concat_ws("\n",
        when(col("doc_id") % 2 === 0, lit("Subscribe to our newsletter!")),
        col("text"),
        when(col("doc_id") % 5 === 0,
          lit("(c) 2024 Example Corp. All rights reserved.")))
        .as("lined_text"))

  private val lineCorpusSql =
    """lined AS (
      |  SELECT doc_id, concat_ws(chr(10),
      |    CASE WHEN doc_id % 2 = 0 THEN 'Subscribe to our newsletter!' END,
      |    text,
      |    CASE WHEN doc_id % 5 = 0 THEN '(c) 2024 Example Corp. All rights reserved.' END)
      |    AS lined_text
      |  FROM documents WHERE text IS NOT NULL)""".stripMargin

  /** PII-bearing corpus: deterministic email (%7) and NNN-NNN-NNNN phone
    * (%13) injections appended to the raw text. Same derivation in the
    * oracle SQL. */
  def piiCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-0199"))).otherwise(lit(""))).as("text"))

  // NOTE: this snippet is interpolated into oracle strings that apply
  // .stripMargin AGAIN — no line here may start with '|' (e.g. a leading
  // '||' concat operator) or the outer strip eats a pipe.
  private val piiCorpusSql =
    """pii AS (
      |  SELECT doc_id, source,
      |    text ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0
      |         THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
      |         ELSE '' END AS text
      |  FROM documents)""".stripMargin

  /** DuckDB spelling of TextAnalysis.normalized. */
  private val normSql = "trim(regexp_replace(lower(text), ' +', ' ', 'g'))"

  /** The full BM25 top-20 oracle query (shared: q_bm25_search runs it
    * directly, q_rrf_fusion nests it as the first ranker's derived
    * table). Pre-stripped; no line starts with '|'. */
  private val bm25OracleSql: String = {
    val termList = bm25Terms.map(t => s"'$t'").mkString(", ")
    def d(x: Double) = s"CAST('$x' AS DOUBLE)"
    val (k1, b) = (1.2, 0.75)
    val contrib =
      s"(((CAST(s.n_docs AS DOUBLE) - dft.df) + ${d(0.5)}) / (dft.df + ${d(0.5)}))" +
        s" * (tf.tf * ${d(k1 + 1.0)})" +
        s" / (tf.tf + ${d(k1)} * (${d(1.0 - b)} + ((${d(b)} * CAST(tf.dl AS DOUBLE)) / s.avgdl)))"
    val pivotCols = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN token = '$t' THEN contrib END) AS c_$i"
    }.mkString(",\n       ")
    val score = bm25Terms.indices
      .map(i => s"coalesce(c_$i, ${d(0.0)})")
      .reduceLeft((a, x) => s"($a + $x)")
    s"""WITH docs AS (
       |  SELECT doc_id, len(string_split($normSql, ' ')) AS dl,
       |         string_split($normSql, ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |s AS (SELECT count(*) AS n_docs,
       |             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM docs),
       |tok AS (SELECT doc_id, dl, unnest(toks) AS token FROM docs),
       |tf AS (
       |  SELECT doc_id, dl, token, CAST(count(*) AS DOUBLE) AS tf
       |  FROM tok WHERE token IN ($termList) GROUP BY 1, 2, 3),
       |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |c AS (
       |  SELECT tf.doc_id, tf.token, $contrib AS contrib
       |  FROM tf JOIN dft USING (token) CROSS JOIN s),
       |p AS (
       |  SELECT doc_id,
       |       $pivotCols,
       |       count(*) AS n_terms_matched
       |  FROM c GROUP BY doc_id)
       |SELECT doc_id, $score AS score,
       |       CAST(n_terms_matched AS BIGINT) AS n_terms_matched
       |FROM p ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Shared CTE chain deriving the exact n-gram Jaccard pair table `j`
    * over the dup corpus — used by the pairs oracle and the clusters
    * oracle (which closes over it transitively). Pre-stripped; safe to
    * interpolate into outer stripMargin strings (no line starts with
    * '|'). */
  private val jaccardPairsCtes: String =
    s"""$dupCorpusSql,
       |tokd AS (
       |  SELECT doc_id AS id,
       |    list_distinct([array_to_string(l[i:i+2], ' ')
       |                   for i in range(1, greatest(len(l) - 2, 0) + 1)]) AS shs
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS l FROM corpus)),
       |sh AS (SELECT id, unnest(shs) AS sh FROM tokd),
       |keepsh AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 10000),
       |shc AS (SELECT sh.id, sh.sh FROM sh JOIN keepsh USING (sh)),
       |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
       |pairs AS (
       |  SELECT a.id AS id1, b.id AS id2, count(*) AS shared
       |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT id1, id2, shared, s1.n_sh AS n1, s2.n_sh AS n2,
       |    CAST(shared AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - shared AS DOUBLE) AS jaccard
       |  FROM pairs
       |  JOIN sizes s1 ON pairs.id1 = s1.id
       |  JOIN sizes s2 ON pairs.id2 = s2.id)""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_token_count" -> ((s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TA.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TA.regexTokenCount(col("text")).cast("long").as("lex_tokens"),
        length(col("text")).cast("long").as("n_chars_computed"))
        .orderBy(col("doc_id"))),

    "q_text_quality" -> ((s, dir) =>
      Tables.load(s, dir, "documents").orderBy(col("doc_id")).select(
        col("doc_id"),
        TA.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TA.stopwordCount(col("text"), qualityStops).cast("long").as("stop_cnt"),
        TA.stopwordRatio(col("text"), qualityStops).as("stop_ratio"),
        TA.vowelRatio(col("text")).as("vowel_ratio"),
        TA.qualityScore(col("text"), qualityStops).as("quality"))),

    "q_lang_id" -> ((s, dir) =>
      Tables.load(s, dir, "documents").orderBy(col("doc_id")).select(
        col("doc_id"), col("lang"),
        TA.langIdScore(col("text")).as("en_score"),
        TA.langIdPrediction(col("text")).as("pred"))),

    "q_doc_fingerprint" -> ((s, dir) =>
      Tables.load(s, dir, "documents").orderBy(col("doc_id")).select(
        col("doc_id"),
        TA.docFingerprint(col("text")).as("fp"),
        TA.prefixFingerprint(col("text"), 5).as("prefix_fp"))),

    // RAG-prep chunking (reference rag_tool.py: size 500 / overlap 50).
    "q_chunk_documents" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), posexplode(TA.chunk(col("text"), 500, 50)))
        .toDF("doc_id", "chunk_idx", "chunk")
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          length(col("chunk")).cast("long").as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Weighted TF keyword relevance, top 20 (search-tool analog).
    "q_keyword_search" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TA.keywordScore(col("text"),
            Seq("data" -> 1.0, "query" -> 1.0, "fast" -> 2.0)).as("score"))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)),

    // Gopher-style repetition signals: duplicate-line fraction over the
    // multi-line corpus, duplicate-2/3-gram fractions over the raw text.
    // One scan, zero shuffle (per-row array ops + native ShinglesExpr).
    "q_text_repetition" -> ((s, dir) =>
      repCorpus(s, dir).orderBy(col("doc_id")).select(
        col("doc_id"),
        size(TA.nonBlankLines(col("lined_text"))).cast("long").as("n_lines"),
        TA.dupLineFrac(col("lined_text")).as("dup_line_frac"),
        TA.wsTokenCount(col("text")).cast("long").as("n_tokens"),
        TA.dupNgramFrac(col("text"), 2).as("dup_2gram_frac"),
        TA.dupNgramFrac(col("text"), 3).as("dup_3gram_frac"))),

    // Token-length histogram in power-of-two buckets — the distribution
    // a packing/batching planner reads (bucket = floor(log2 n)+1 via
    // length(bin(n)), identical in both engines). One scan, one shuffle
    // of BUCKET-cardinality partials.
    "q_length_histogram" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(TA.wsTokenCount(col("text")).cast("long").as("toks"))
        .groupBy(length(bin(col("toks"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          min(col("toks")).as("min_tokens"),
          max(col("toks")).as("max_tokens"))
        .orderBy(col("bucket"))),

    // WITHIN-document line dedup over the repetition corpus (%3 docs
    // carry a duplicated line): first occurrence kept, order preserved,
    // zero shuffle.
    "q_dedup_doc_lines" -> ((s, dir) =>
      repCorpus(s, dir).select(
        col("doc_id"),
        size(split(col("lined_text"), "\n")).cast("long").as("n_lines"),
        size(array_distinct(split(col("lined_text"), "\n"))).cast("long").as("n_kept"),
        TA.dedupLinesWithin(col("lined_text")).as("text_out"))
        .orderBy(col("doc_id"))),

    // Cross-document line dedup (C4/CCNet boilerplate removal): shared
    // banner/footer lines struck from every doc, per-doc line order
    // preserved. Count shuffle rides 32-char md5 keys, never line text.
    "q_line_dedup" -> ((s, dir) =>
      Dedup.dropCommonLines(lineCorpus(s, dir), "doc_id", "lined_text")
        .orderBy(col("doc_id"))),

    // Quality-filter funnel: per-stage survivor counts for the standard
    // pre-training filter chain, one scan + one 1-row aggregate.
    "q_filter_funnel" -> ((s, dir) => {
      import graft.operators.Monitoring
      val toks = TA.wsTokenCount(col("text"))
      val wordLen = length(col("text")).cast("double") /
        greatest(toks, lit(1)).cast("double")
      Monitoring.filterFunnel(Tables.load(s, dir, "documents"), Seq(
        "has_text" -> (length(col("text")) >= 1),
        "min_tokens" -> (toks >= 20),
        "english" -> (TA.langIdScore(col("text")) >= 0.02),
        "word_len_band" -> (wordLen >= 3.0 && wordLen <= 10.0)))
        .orderBy(col("stage_ord"))
    }),

    // PII scrub pass: match counts + the redacted text's fingerprint.
    // One scan, zero shuffle (regexp_count / regexp_replace are codegen'd).
    "q_pii_scrub" -> ((s, dir) =>
      piiCorpus(s, dir).orderBy(col("doc_id")).select(
        col("doc_id"),
        TA.emailCount(col("text")).cast("long").as("n_emails"),
        TA.phoneCount(col("text")).cast("long").as("n_phones"),
        md5(TA.scrubPii(col("text"))).as("scrubbed_md5"))),

    // PII leak-rate monitor: the per-source census the scrub pass's
    // owner reads (who is leaking, how dense, how much scrub work).
    "q_pii_rate" -> ((s, dir) =>
      TA.piiRate(piiCorpus(s, dir), "source", "text")
        .orderBy(col("source"))),

    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(dupCorpus(s, dir), "doc_id", "text")
        .orderBy(col("canonical_id"))),

    // Incremental ingest gate: the dupCorpus batch arrives after every
    // even-id document was already ingested (their fingerprints form the
    // historical `seen` table) — only new-and-batch-canonical docs pass.
    "q_dedup_incremental" -> ((s, dir) => {
      val seen = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(TA.docFingerprint(col("text")).as("fp"))
      Dedup.incrementalNew(dupCorpus(s, dir), seen, "doc_id", "text")
        .orderBy(col("id"))
    }),

    // Same gate with the BLOOM pre-filter: definite-miss rows never
    // touch the seen table, probable hits verify exactly — output is
    // IDENTICAL (a bloom has no false negatives), so it shares
    // q_dedup_incremental's oracle and must hash-match it.
    "q_dedup_incremental_bloom" -> ((s, dir) => {
      val seen = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(TA.docFingerprint(col("text")).as("fp"))
      Dedup.incrementalNewBloom(dupCorpus(s, dir), seen, "doc_id", "text",
          expectedItems = 100000L, fpp = 0.01)
        .orderBy(col("id"))
    }),

    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      nearDupJaccard(s, dir)
        .orderBy(col("id1"), col("id2"))),

    // Pairs → clusters: connected components give each transitive
    // duplicate group one canonical id (the delete-list step).
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(nearDupJaccard(s, dir))
        .orderBy(col("component"))),

    // Threshold tuning curve off the SAME memoized pair table: pairs
    // fired and docs pulled into some pair, per candidate cut — the
    // read before committing a dedup threshold.
    "q_dedup_threshold_curve" -> ((s, dir) =>
      Dedup.thresholdCurve(nearDupJaccard(s, dir), dedupThresholds)
        .orderBy(col("threshold"))),

    // MinHash-LSH and SimHash aren't expressible in portable SQL —
    // rows-only here; recall/precision vs the exact Jaccard pairs is
    // pinned in DedupSpec.
    "q_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(dupCorpus(s, dir), "doc_id", "text",
          n = 3, numHashes = 16, bands = 4, minEstJaccard = 0.5)
        .orderBy(col("id1"), col("id2"))),

    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(dupCorpus(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id1"), col("id2"))),

    // Deterministic salted-hash split: pure projection, reproducible on
    // any engine with md5 (the oracle IS the reproducibility proof).
    "q_train_test_split" -> ((s, dir) =>
      Sampling.deterministicSplit(
          Tables.load(s, dir, "documents").select(col("doc_id")),
          "doc_id", splitSpec)
        .orderBy(col("doc_id"))),

    "q_vocab_topk" -> ((s, dir) =>
      Vocab.vocabTopK(Tables.load(s, dir, "documents"), "doc_id", "text",
        k = 100)),

    // Unigram LM surprisal — the perplexity quality filter's
    // deterministic core (per-token ln(total/n_t) frozen as DECIMAL at
    // vocab scale, exact decimal doc sums; see Vocab.docSurprisal).
    "q_unigram_logprob" -> ((s, dir) =>
      Vocab.docSurprisal(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Curriculum ordering: surprisal-ranked difficulty percentile →
    // 4 epoch bands (easy first) + salted within-epoch order key. The
    // percentile is the DISTRIBUTED cume_dist (groupQuantileRank's
    // value-bucketed prefix sums — no global window); the oracle runs
    // the naive global-window form the operator exists to avoid.
    "q_curriculum" -> ((s, dir) =>
      Vocab.curriculum(Tables.load(s, dir, "documents"), "doc_id", "text",
          epochs = 4)
        .orderBy(col("doc_id"))),

    // Per-doc token Shannon entropy — the within-doc diversity signal
    // (docSurprisal prices corpus rarity; this flags boilerplate /
    // keyword-stuffing lows and id-dump highs). Same DECIMAL(18,6)
    // ln-freeze + exact decimal numerator + one IEEE division, so the
    // raw doubles hash-match the oracle.
    "q_token_entropy" -> ((s, dir) =>
      Vocab.docEntropy(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Reciprocal-rank fusion of the BM25 and weighted-keyword top-20s
    // over the same lexicon — rank-only combination (no score
    // calibration), fused score a FIXED two-term expression tree of
    // IEEE ops. Each ranker is cut by TakeOrderedAndProject before the
    // single-partition row_number prices its ≤20 rows.
    "q_rrf_fusion" -> ((s, dir) => {
      val w20 = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      def ranked(r: DataFrame): DataFrame =
        r.orderBy(col("score").desc, col("doc_id")).limit(20)
          .withColumn("rank", row_number().over(w20))
          .select(col("doc_id"), col("rank"))
      val docs = Tables.load(s, dir, "documents")
      val bm = ranked(Relevance.bm25(docs, "doc_id", "text", bm25Terms))
      val kw = ranked(docs.select(col("doc_id"),
          TA.keywordScore(col("text"),
            Seq("data" -> 1.0, "query" -> 1.0, "fast" -> 2.0)).as("score"))
        .filter(col("score") > 0))
      Relevance.rrfFuse(Seq("bm25" -> bm, "kw" -> kw), "doc_id", "rank")
        .select(col("doc_id"), col("rank_bm25"), col("rank_kw"),
          col("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id"))
    }),

    // Per-doc top TF-IDF terms (smoothed ratio idf — no ln, raw doubles
    // hash-match cross-engine like q_bm25_search).
    "q_tfidf_terms" -> ((s, dir) =>
      Relevance.tfidfTopTerms(Tables.load(s, dir, "documents"), "doc_id",
          "text", topN = 3)
        .orderBy(col("doc_id"), col("rank"))),

    // Cross-doc duplicated 6-token spans — the exact-substring-dedup
    // diagnostic (within-doc repetition is q_text_repetition's business;
    // this census is distinct-doc). Span text never shuffles (128-bit
    // xxhash64 keys; the oracle's md5 twin agrees because both are
    // collision-free and only counts are compared).
    // Census + strike share ONE materialized span-census table per
    // (session, corpus) through SpanPipeline (the NearDupPipeline economy
    // applied to the Lee et al. substring family) — output-identical
    // to the direct operators, SpanPipelineSpec pins it.
    "q_span_dedup" -> ((s, dir) =>
      graft.operators.SpanPipeline.spanDedupStats(
          Tables.load(s, dir, "documents"), "doc_id", "text", k = 6)
        .orderBy(col("doc_id"))),

    // Exact substring dedup APPLIED — the census's removal half (Lee et
    // al. 2021): tokens covered by any cross-doc duplicated 6-token span
    // are struck from every doc, survivors rebuild in order, emptied
    // docs drop. Span text never shuffles (the census's 128-bit keys);
    // doc text flows through exactly one join shuffle for the rebuild.
    "q_span_strike" -> ((s, dir) =>
      graft.operators.SpanPipeline.strike(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 6)
        .orderBy(col("doc_id"))),

    // Bigram-LM surprisal — the unigram perplexity filter's next-order
    // rung: prices token ORDER (word salad scores high on common tokens
    // the unigram filter waves through). Same DECIMAL(18,6) ln-freeze +
    // exact decimal doc sums + one IEEE division, so raw doubles
    // hash-match the oracle.
    "q_bigram_logprob" -> ((s, dir) =>
      Vocab.docBigramSurprisal(Tables.load(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Interpolated Kneser–Ney bigram surprisal — the principled smoother
    // the MLE bigram filter lacks: unseen continuations back off to
    // predecessor DIVERSITY, not raw frequency, so one-context
    // boilerplate stops reading as fluent. Counts exact; P one
    // pinned-order IEEE chain per bigram TYPE; −ln frozen at 6 dp.
    "q_kn_bigram" -> ((s, dir) =>
      Vocab.docKnBigramSurprisal(Tables.load(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Tokenizer-efficiency census per (source, lang): chars-per-token
    // under both tokenization lanes + lex-per-ws fertility, each frozen
    // by one exact integer floor-division. Additive census — the
    // streaming loop maintains it (Vocab.fertilityCensus).
    "q_token_fertility" -> ((s, dir) =>
      Vocab.tokenFertility(Tables.load(s, dir, "documents"),
          "text", "source", "lang")
        .orderBy(col("source"), col("lang"))),

    // q_token_fertility with the TRAINED UNIGRAM LANE: chars-per-piece
    // and pieces-per-word under the suite's memo'd unigram-LM tokenizer
    // beside the two static lanes, per (source, lang) — the
    // tokenizer-family comparison as ONE census report. Rows-only (the
    // model is a runtime artifact); exactness is cross-checked two ways:
    // UnigramSpec proves the census lane sums equal q_unigram_encode's
    // per-doc totals, and VerifyExtras pins that equality as a floor at
    // every scale. Additive given the frozen model — maintained for
    // free (Unigram.tokenizerFertilityCensus). q_token_fertility itself
    // stays untouched (its static lanes keep their DuckDB oracle).
    "q_tokenizer_fertility" -> ((s, dir) =>
      Unigram.tokenizerFertility(Tables.load(s, dir, "documents"),
          "text", "source", "lang", unigramModel(s, dir))
        .orderBy(col("source"), col("lang"))),

    // Lexical diversity per source: type–token ratio + hapax share over
    // the normalized token census — template farms score low on both;
    // novelty asks about cross-source sharing, repetition about
    // within-doc repeats, TTR about vocabulary breadth itself.
    "q_ttr" -> ((s, dir) =>
      Vocab.typeTokenRatio(Tables.load(s, dir, "documents"),
          "text", "source")
        .orderBy(col("source"))),

    // Gopher quality-rule bundle (Rae et al. 2021 A1.1) over the
    // artifact-injected corpus: word count, mean word length,
    // symbol-to-word ratio, bullet-/ellipsis-line fractions, alpha-word
    // fraction, must-have-stopword hits, and the conjunction verdict.
    // Every signal is per-row array arithmetic riding the scan (no
    // shuffle); every fraction is ONE IEEE division of exact ints, so
    // the cross-engine hash discipline holds and the rule booleans
    // (comparisons of bit-identical doubles) agree too.
    // C4 cleaning pass (Raffel et al. 2020 §2.2): line keep-rules
    // (terminal punct + ≥3 words + no javascript) and page bans
    // (lorem ipsum, curly brace, ≥5 kept sentences); kept_md5
    // fingerprints the actual filtered page — the transform output.
    "q_c4_filter" -> ((s, dir) => {
      val c = TA.c4Signals(col("c4_text"))
      c4Corpus(s, dir).orderBy(col("doc_id")).select(
        col("doc_id"),
        c.nLines.cast("long").as("n_lines"),
        c.nKept.cast("long").as("n_kept"),
        c.keptFrac.as("kept_frac"),
        c.hasLorem.as("has_lorem"),
        c.hasBrace.as("has_brace"),
        c.pass.as("c4_pass"),
        md5(c.keptText).as("kept_md5"))
    }),

    // C4 gate health per source — the gopher-rate monitor's twin on the
    // C4 axis; additive census, maintained as TA.passRateCensus.
    "q_c4_rate" -> ((s, dir) =>
      TA.c4Rate(c4Corpus(s, dir), "source", "c4_text")
        .orderBy(col("source"))),

    "q_gopher_quality" -> ((s, dir) => {
      val g = TA.gopherSignals(col("gopher_text"), gopherStops)
      gopherCorpus(s, dir).orderBy(col("doc_id")).select(
        col("doc_id"),
        g.nWords.cast("long").as("n_words"),
        g.meanWordLen.as("mean_word_len"),
        g.symbolRatio.as("symbol_ratio"),
        g.bulletLineFrac.as("bullet_line_frac"),
        g.ellipsisLineFrac.as("ellipsis_line_frac"),
        g.alphaWordFrac.as("alpha_word_frac"),
        g.stopHits.cast("long").as("stop_hits"),
        g.pass.as("gopher_pass"))
    }),

    // Per-source quality-gate HEALTH: the Gopher verdict aggregated to a
    // (source, n_docs, n_pass, pass_rate) census — the monitor a corpus
    // operator reads round-over-round (a sagging source is rotting
    // upstream of dedup). Additive census → the streaming loop maintains
    // it (TA.passRateCensus, fold ≡ recompute spec-pinned); one
    // map-side-combinable aggregate, report over the source dimension.
    "q_gopher_rate" -> ((s, dir) =>
      TA.gopherRate(gopherCorpus(s, dir), "source", "gopher_text",
          gopherStops)
        .orderBy(col("source"))),

    // Gopher repetition signatures (Rae et al. 2021 A1.1) over the
    // prefix-echo corpus flattened to one token stream: top-{2,3,4}-gram
    // character fractions (chars of the most frequent n-gram × its
    // count) and duplicate-{5..10}-gram character fractions (chars of
    // tokens covered by ANY repeated n-gram, overlap counted once).
    // The integer census per (doc, n) comes from the native one-pass
    // RepSignalsExpr — per-document semantics stay a scan projection
    // instead of a corpus-scale n-gram explode+shuffle; fractions are
    // one IEEE division each. Thresholds are the paper's table values.
    "q_gopher_repetition" -> ((s, dir) => {
      import graft.functions.RepSignalsExpr.repSignals
      val flat = translate(col("lined_text"), "\n", " ")
      val toks = split(flat, " ")
      val nchD = greatest(length(flat), lit(1)).cast("double")
      def topFrac(n: Int) = {
        val sig = repSignals(toks, n)
        (element_at(sig, 1) * element_at(sig, 2)).cast("double") / nchD
      }
      def dupFrac(n: Int) =
        element_at(repSignals(toks, n), 3).cast("double") / nchD
      val tops = Seq(2, 3, 4).map(n => topFrac(n).as(s"top${n}gram_char_frac"))
      val dups = (5 to 10).map(n => dupFrac(n).as(s"dup${n}gram_char_frac"))
      val topThresh = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
      val dupThresh = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
        9 -> 0.11, 10 -> 0.10)
      val pass = (topThresh.map { case (n, t) => topFrac(n) <= t } ++
        dupThresh.map { case (n, t) => dupFrac(n) <= t }).reduce(_ && _)
      // Sort BEFORE the signal projection: a global orderBy above an
      // expensive scan projection makes the range partitioner's
      // sampling pass evaluate the whole projection a second time (the
      // 9 per-n repetition censuses — half this query's cost at
      // sf0.1); sorted-then-projected, the sample pass reads only
      // (doc_id, lined_text) and the signals compute once, after the
      // exchange. Same rows, same order — Catalyst has no rule that
      // reorders a Project below a Sort, and the plan dump pins it.
      repCorpus(s, dir).select(col("doc_id"), col("lined_text"))
        .orderBy(col("doc_id"))
        .select((col("doc_id") +: (tops ++ dups) :+ pass.as("rep_pass")): _*)
    }),

    // Bounded per-source exemplar panel: the k=5 smallest salted-md5
    // ranks per source via the BoundedMinK aggregate — ≤ k rank strings
    // buffered per group, map-side combinable; no per-group sort, no
    // window funnel. The rank string totalizes the order (two
    // independent md5 lanes ‖ raw id — hex-only framing; the earlier
    // zero-padded-id middle field leaked the id's ':' into the frame
    // and was replaced), so both engines select the exact same rows.
    "q_group_sample" -> ((s, dir) =>
      Sampling.groupExemplars(Tables.load(s, dir, "documents"),
          "doc_id", "source", k = 5)
        .orderBy(col("source"), col("rn"))),

    // Heavy-hitter bigrams via the bounded-buffer SpaceSaving sketch.
    // Capacity derives from the corpus (capacityFor ≥ distinct pairs at
    // verify scales → the sketch runs in its EXACT regime and the oracle
    // hash-compares it against true counts); the approximate regime's
    // guarantees are pinned in SpaceSavingSpec on a Zipf fixture.
    "q_heavy_hitters" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Vocab.heavyHitterBigrams(d, "doc_id", "text",
        m = Vocab.capacityFor(d.count()), k = 20)
    }),

    // BPE trainer's first read: corpus-weighted adjacent character-pair
    // stats computed off the vocab-scale word-frequency table (the corpus
    // is scanned once; the pair explode never sees corpus cardinality).
    "q_bpe_pairs" -> ((s, dir) =>
      Bpe.pairStats(Tables.load(s, dir, "documents"), "text")
        .orderBy(col("n_occurrences").desc, col("left_sym"), col("right_sym"))
        .limit(50)),

    // Benchmark decontamination: the %7 documents stand in for an eval
    // suite; dupCorpus's injected copies of exactly those docs are the
    // leaked training rows the scan must find.
    "q_contamination" -> ((s, dir) =>
      Dedup.contaminationPairs(dupCorpus(s, dir), benchCorpus(s, dir),
          "doc_id", "text", n = 3, minOverlap = 0.5)
        .orderBy(col("doc_id"), col("bench_id"))),

    // BM25 relevance (ratio idf, fixed-order pivot summation — see
    // Relevance scaladoc for the cross-engine float discipline).
    "q_bm25_search" -> ((s, dir) =>
      Relevance.bm25(Tables.load(s, dir, "documents"), "doc_id", "text",
          bm25Terms)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)),

    // The mixture table a rebalance decision reads (per source × lang).
    "q_source_mix" -> ((s, dir) =>
      Vocab.mixtureReport(Tables.load(s, dir, "documents"), "text",
          Seq("source", "lang"))
        .orderBy(col("source"), col("lang"))),

    // Temperature-flattened mixture targets (p^0.5 over per-lang token
    // mass): the multilingual up-sampling recipe; boost = q/p is the
    // epoch multiplier the samplers downstream consume.
    "q_temperature_mix" -> ((s, dir) =>
      Vocab.temperatureMix(Tables.load(s, dir, "documents"), "text",
          Seq("lang"), alpha = 0.5)
        .orderBy(col("lang"))),

    // DoReMi domain reweighting (Xie et al. 2023): multiplicative-weights
    // ascent on per-source excess loss (unigram − bigram surprisal), the
    // learned counterpart of the temperature heuristic above.
    "q_doremi_weights" -> ((s, dir) =>
      Vocab.doremiWeights(Tables.load(s, dir, "documents"), "text", "source")
        .orderBy(col("domain"))),

    // DoReMi end-to-end: the learned weights feed the rebalance in ONE
    // plan (mixtureRebalanceFrom) — the reshaped corpus itself.
    "q_doremi_mix" -> ((s, dir) =>
      Vocab.doremiMix(Tables.load(s, dir, "documents"), "doc_id", "text",
          "source")
        .orderBy(col("doc_id"))),

    // Per-stratum deterministic sampling (mixture rebalance by lang).
    "q_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(
          Tables.load(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang", strataFracs)
        .orderBy(col("doc_id"))),

    // Data-driven mixture rebalance: keep fractions computed IN-ENGINE
    // from per-language token counts so the corpus lands on the target
    // token shares at the largest achievable size (the scarce language
    // binds and is kept whole).
    "q_mix_rebalance" -> ((s, dir) =>
      Sampling.mixtureRebalance(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              TA.wsTokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", "lang", col("n_tokens"), mixTargets)
        .orderBy(col("doc_id"))),

    // Sequence packing: global token offsets in the deterministic
    // shuffled concat order, 2048-token blocks.
    // Weighted SYSTEMATIC sample: docs drawn by token mass over the
    // deterministic salted stream; Σ n_copies = k exactly, docs heavier
    // than W/k guaranteed in, n_copies > 1 = epoch weighting. The
    // ceil-division arithmetic is all-integer (DECIMAL(38,0) in Spark,
    // floor-division in the oracle) so the row set hash-matches.
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSystematicSample(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"),
              TA.wsTokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", k = 200)
        .select(col("doc_id"), col("n_tokens"), col("stream_offset"),
          col("n_copies"))
        .orderBy(col("doc_id"))),

    // Within-source quantile calibration of the quality score: cume_dist
    // computed via the distributed two-phase form (no per-group sort
    // funnel — see groupQuantileRank), oracle is the naive SQL window.
    "q_quantile_norm" -> ((s, dir) =>
      Sampling.groupQuantileRank(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("source"),
              TA.qualityScore(col("text"), qualityStops).as("quality")),
          "quality", Seq("source"), minScore = 0.0, maxScore = 1.0)
        .select(col("doc_id"), col("source"), col("quality"), col("pctl"))
        .orderBy(col("doc_id"))),

    "q_pack_sequences" -> ((s, dir) =>
      Packing.sequenceOffsets(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"),
              TA.wsTokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", maxTokens = 2048)
        .select(col("doc_id"), col("n_tokens"), col("rank_hex"),
          col("token_offset"), col("seq_first"), col("seq_last"))
        .orderBy(col("doc_id"))),

    // Packing efficiency census: sequences filled + boundary-straddling
    // docs (the cross-document attention-mask cost of a block size).
    "q_pack_stats" -> ((s, dir) =>
      Packing.packStats(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            TA.wsTokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", maxTokens = 2048)),

    // The curation chain END-TO-END (graft.CurationRound): C4+Gopher
    // gates → exact dedup → near-dup canonical → decontamination →
    // mixture rebalance, one funnel row per stage. Counts are exact
    // longs (retentions one IEEE division each), so the COMPOSITION
    // itself is oracle-verified — the SQL twin chains the standalone
    // stages' own oracle fragments. The chain is built at most once per
    // (session, corpus) via CurationRound.memoized — the NearDupPipeline
    // `_build` economy: this query reads the funnel, q_curation_pack the
    // packing census, and the bench prices the build as its own
    // `_curation_chain_build` row. Stage caches release inside the
    // build; the memo'd Result is clearCache-immune by construction.
    "q_curation_round" -> ((s, dir) =>
      curationResult(s, dir).funnel.orderBy(col("stage_ord"))),

    // The packing census over the SAME composed survivor set — the
    // chain's final artifact priced (q_pack_stats on the curated docs).
    // Reads the memo'd chain; no second end-to-end run, no leaked
    // stage caches.
    "q_curation_pack" -> ((s, dir) => curationResult(s, dir).packStats),

    // The curation chain as a MAINTAINED LOOP (CurationRound.foldBatch):
    // the corpus's three provenance branches (base / +100k exact copies
    // / +200k near-dup tails, keyed mod the ScaleUp stride) ingest as
    // three monotone batches against accumulated state — fingerprint
    // gate vs history, posting-index near-dup with the pool df valve,
    // stateless decontamination — and the output is the per-batch
    // funnel history (the MetricsStore shape). History-wins semantics
    // are the loop's CONTRACT (shipped data never unships); the oracle
    // unrolls the same three folds in SQL from the standalone stages'
    // proven fragments, so the incremental COMPOSITION itself is
    // hash-verified. Fold ≡ full-recompute equivalence under monotone
    // ids + history dominance is CurationIncrementalSpec's business.
    "q_curation_incremental" -> ((s, dir) => {
      val cc = curationCorpus(s, dir)
      val bench = benchCorpus(s, dir)
      val statePath = graft.SessionMemo.tempDir(s, "graft_curation")
      val m = col("doc_id") % 1000000000L
      Seq(m < 100000L, m >= 100000L && m < 200000L, m >= 200000L)
        .zipWithIndex.foreach { case (p, i) =>
          graft.CurationRound.foldBatch(s, statePath, cc.filter(p),
            bench, curationConfig, i.toLong)
        }
      graft.CurationRound.incrementalFunnel(s, statePath)
        .orderBy(col("batch_id"), col("stage_ord"))
    }),

    // Flesch reading-ease under exact integer counts (sentence runs,
    // ws-split words, vowel-group syllable proxy) — the score is a fixed
    // IEEE dependency tree, oracle-exact (see fleschScore scaladoc).
    "q_readability" -> ((s, dir) =>
      Tables.load(s, dir, "documents").orderBy(col("doc_id")).select(
        col("doc_id"),
        TA.sentenceCount(col("text")).cast("long").as("n_sents"),
        TA.wsTokenCount(col("text")).cast("long").as("n_words"),
        TA.syllableProxy(col("text")).cast("long").as("n_syll"),
        TA.fleschScore(col("text")).as("flesch"))),

    // Character-level near-dup: prefix-blocked banded Levenshtein pairs
    // (the blocking is the operator's CONTRACT, mirrored in the oracle).
    "q_dedup_editdist" -> ((s, dir) =>
      Dedup.editDistancePairs(dupCorpus(s, dir), "doc_id", "text",
          prefixLen = 16, maxDist = 30)
        .orderBy(col("id1"), col("id2"))),

    // Near-dup clusters resolved to a KEEP/DROP decision: canonical =
    // highest-quality member (quality = char length here; ties -> min
    // id) per connected component of the exact-Jaccard pair graph.
    "q_dedup_canonical" -> ((s, dir) =>
      Dedup.canonicalKeepList(
          nearDupJaccard(s, dir),
          dupCorpus(s, dir).select(col("doc_id"),
            length(col("text")).cast("long").as("quality")),
          "doc_id", "quality")
        .orderBy(col("doc_id"))),

    // PageRank (3 fixed power iterations, d=0.85) over the exact-Jaccard
    // near-dup graph — ranks the hubs of boilerplate clusters. The
    // decimal-freeze discipline makes raw doubles oracle-exact.
    "q_pagerank" -> ((s, dir) =>
      Graph.pageRank(nearDupJaccard(s, dir), iterations = 3, damping = 0.85)
        .orderBy(col("id"))),

    // Corpus encoding stats under the engine-trained BPE merge table —
    // rows-only (the rules are a runtime artifact no static SQL can
    // reproduce); invariants and hand-parity pinned in BpeSpec.
    "q_bpe_encode" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Bpe.encodeStats(d, "doc_id", "text",
          Bpe.fit(d, "text", numMerges = 30))
        .orderBy(col("doc_id"))
    }),

    // Unigram-LM tokenizer trainer (Kudo 2018) — the OTHER production
    // tokenizer family next to BPE: substring seed → hard-EM Viterbi
    // rounds → prune to the target vocabulary. Frozen micro log-probs +
    // exact-integer Viterbi make the committed vocab bit-reproducible
    // (rows-only — fit is not SQL-expressible; UnigramSpec pins
    // hand-computed paths, the tie-break, and a hand-computed fit).
    // The fit is SHARED with q_unigram_encode via Unigram.fitMemo (one
    // model per session+corpus; the bench prices it as its own
    // `_unigram_fit_build` row) — memoizing a bit-reproducible model
    // changes no output.
    "q_unigram_vocab" -> ((s, dir) =>
      Unigram.vocabTable(s, unigramModel(s, dir)).orderBy(col("rank"))),

    // The q_bpe_encode twin under the trained unigram vocabulary — the
    // two families price the same corpus on the same columns, so
    // q_token_fertility-style comparisons read straight across; the
    // corpus-level compression and the fertility ratio vs the BPE lane
    // are floor-pinned in VerifyExtras. Same memo'd fit as
    // q_unigram_vocab.
    "q_unigram_encode" -> ((s, dir) =>
      Unigram.encodeStats(Tables.load(s, dir, "documents"), "doc_id",
          "text", unigramModel(s, dir))
        .orderBy(col("doc_id"))),

    // Asymmetric near-SUPERSET detection: shingle containment of the
    // smaller doc in the larger (a doc quoted whole inside an
    // aggregator page has low Jaccard but containment ~1).
    "q_dedup_containment" -> ((s, dir) =>
      NearDupPipeline.containmentPairs(dupCorpus(s, dir), nearDupParams)
        .orderBy(col("id1"), col("id2"))),

    // Per-source shingle novelty — the mixture curator's "is this
    // source new content or a mirror" signal.
    "q_ngram_novelty" -> ((s, dir) =>
      Vocab.sourceNovelty(Tables.load(s, dir, "documents"), "text",
          "source", n = 3)
        .orderBy(col("source"))),

    // Per-source duplication-rate health at prefix-fingerprint
    // granularity (template/boilerplate families sharing an opening).
    "q_dup_rate_by_source" -> ((s, dir) =>
      Monitoring.dupRateBySource(
          Tables.load(s, dir, "documents").filter(col("text").isNotNull),
          "source", TA.prefixFingerprint(col("text"), 5))
        .orderBy(col("source"))),

    // The dup-rate monitor's pairwise refinement: WHICH sources mirror
    // which — doc-pair counts per (source, source) cell off the same
    // (source, fp) count state, no doc-pair row ever materialized;
    // template fingerprints spread over > srcCap sources are valved out
    // (mirrored in the oracle).
    "q_mirror_matrix" -> ((s, dir) =>
      Monitoring.crossSourceDupMatrix(
          Tables.load(s, dir, "documents").filter(col("text").isNotNull),
          "source", TA.prefixFingerprint(col("text"), 5))
        .orderBy(col("source_a"), col("source_b"))),

    // Per-source language purity: dominant language + share + Shannon
    // entropy of the source's language mix (docEntropy's frozen-ln
    // discipline at (source, lang) scale) — read next to novelty and
    // dup-rate when deciding a source's place in the mixture.
    "q_lang_purity" -> ((s, dir) =>
      Vocab.langPurity(Tables.load(s, dir, "documents"), "source", "lang")
        .orderBy(col("source"))),

    // Collocation mining: top within-doc co-occurrence pairs by PMI
    // (document-presence counts, stop-token df-cap valve, frozen-ln
    // decimal — the vocabulary curator's multi-word-term shortlist).
    "q_pmi_terms" -> ((s, dir) =>
      Vocab.pmiPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        dfCap = 10000, minCount = 5, topN = 50)),

    // Tokenizer-coverage report: per-source OOV occurrence rate against
    // the deterministic top-20 corpus vocabulary cut.
    "q_vocab_coverage" -> ((s, dir) =>
      Vocab.vocabCoverage(Tables.load(s, dir, "documents"), "doc_id",
          "text", "source", k = 20)
        .orderBy(col("source"))),

    // Multinomial Naive Bayes self-classification confusion matrix over
    // the language label — the source-separability diagnostic; the
    // closed-form fit + frozen-ln decimal scoring make the matrix
    // oracle-exact (no iterative-training nondeterminism).
    "q_nb_confusion" -> ((s, dir) =>
      Classify.naiveBayesConfusion(Tables.load(s, dir, "documents"),
          "doc_id", "text", "lang")
        .orderBy(col("label"), col("predicted"))),

    // Pairwise source-level shingle-set Jaccard off the novelty state
    // monoid — WHICH sources overlap, corpus-level (the doc-level twin
    // is q_mirror_matrix).
    "q_source_overlap" -> ((s, dir) =>
      Vocab.sourceOverlap(Tables.load(s, dir, "documents"), "text",
          "source", n = 3)
        .orderBy(col("source_a"), col("source_b"))),

    // Degree histogram of the exact-Jaccard near-dup graph — census
    // arithmetic over the family's memoized pair table (the shape
    // diagnostic read before q_pagerank's ranking).
    "q_graph_degree" -> ((s, dir) =>
      Graph.degreeHistogram(nearDupJaccard(s, dir))
        .orderBy(col("degree"))),

    // Hashing-trick sparse feature vectors — vocabulary-free
    // featurization (md5-derived bucket + sign, exact integer sums).
    "q_feature_hash" -> ((s, dir) =>
      Vocab.featureHash(Tables.load(s, dir, "documents"), "doc_id", "text",
          numBuckets = 64)
        .orderBy(col("id"), col("bucket"))),

    // DSIR importance log-weights: how much more likely each document's
    // hashed-unigram bag is under the TARGET distribution (the %7 docs —
    // the contamination convention's eval-suite proxy) than under the
    // raw pool's own — the published data-selection score (Xie et al.
    // 2023); sampling ∝ exp(logweight) is q_weighted_sample downstream.
    "q_dsir_weights" -> ((s, dir) =>
      Vocab.dsirWeights(Tables.load(s, dir, "documents"), "doc_id", "text",
          isTarget = col("doc_id") % 7 === 0, numBuckets = 64)
        .orderBy(col("doc_id"))),

    // DSIR model divergence: KL(target||raw) / KL(raw||target) /
    // Jeffreys over the SAME smoothed bucket models the weights price
    // with — the "is selection worth running" scalar (Xie et al. frame
    // selection value as closing this gap). One-row report; exact
    // decimal sums over the densified 64-bucket support.
    "q_dsir_kl" -> ((s, dir) =>
      Vocab.dsirKl(Tables.load(s, dir, "documents"), "doc_id", "text",
        isTarget = col("doc_id") % 7 === 0, numBuckets = 64)),

    // DSIR with the paper-faithful hashed unigram+bigram feature space:
    // bigram buckets price token ORDER (scrambled target-vocab text
    // separates where the unigram lane ties — spec-pinned in DsirSpec);
    // n_tokens here counts FEATURES (2T−1 per T-token doc).
    "q_dsir_weights_bigram" -> ((s, dir) =>
      Vocab.dsirWeights(Tables.load(s, dir, "documents"), "doc_id", "text",
          isTarget = col("doc_id") % 7 === 0, numBuckets = 64, ngrams = 2)
        .orderBy(col("doc_id"))),

    // DSIR selection END-TO-END: importance resampling of k=200 doc
    // slots ∝ exp(logweight) — dsirWeights composed with the PPS
    // systematic sampler through the exp-lattice integer importance
    // (the artifact a pretraining pipeline consumes; n_copies > 1 =
    // heavy doc drawn multiply, Σ n_copies = 200 exactly).
    "q_dsir_select" -> ((s, dir) =>
      Vocab.dsirSelect(Tables.load(s, dir, "documents"), "doc_id", "text",
          isTarget = col("doc_id") % 7 === 0, k = 200, numBuckets = 64)
        .orderBy(col("doc_id"))),

    // CCNet-style perplexity band-pass assignment: low/mid/high by the
    // corpus's own P25/P75 surprisal cuts.
    "q_perplexity_bands" -> ((s, dir) =>
      Vocab.surprisalBands(Tables.load(s, dir, "documents"), "doc_id",
          "text")
        .orderBy(col("doc_id"))),

    // The band-pass's 100 TB twin: approx_percentile cuts (KLL sketch,
    // O(accuracy) state vs the exact percentile's per-distinct-value
    // buffer). Rows-only — DuckDB has no KLL twin to reproduce the
    // cuts; band agreement vs the exact variant is floored in
    // VerifyExtras and pinned in VocabSpec.
    "q_perplexity_bands_sketch" -> ((s, dir) =>
      Vocab.surprisalBandsSketch(Tables.load(s, dir, "documents"), "doc_id",
          "text")
        .orderBy(col("doc_id"))),

    // sourceOverlap's extreme-cardinality fallback: pairwise Jaccard
    // ESTIMATED from bounded per-source MinHash signatures (128 lanes)
    // instead of the shingle-level intersection join. Rows-only (the
    // estimate is sampling-dependent); mean-abs-error vs the exact
    // overlap is floored in VerifyExtras and pinned in VocabSpec.
    "q_source_overlap_minhash" -> ((s, dir) =>
      Vocab.sourceOverlapMinHash(Tables.load(s, dir, "documents"), "text",
          "source", n = 3)
        .orderBy(col("source_a"), col("source_b"))),

    // Token-coverage curve: what fraction of corpus occurrences each
    // candidate vocab budget covers under the deterministic vocabTopK
    // cut — the sizing read before freezing a tokenizer vocabulary
    // (q_vocab_coverage sweeps sources under ONE cut; this sweeps cuts).
    "q_token_coverage" -> ((s, dir) =>
      Vocab.tokenCoverageCurve(Tables.load(s, dir, "documents"), "doc_id",
          "text")
        .orderBy(col("vocab_size"))),

    // Chi-square contingency detail between source and language — the
    // corpus-composition association monitor (is language mix independent
    // of source?). One corpus-scale groupBy collapses to |src|×|lang|
    // cells; margins broadcast; expected counts and per-cell chi terms
    // are EXACT integer micro-units ((o·1e6 − eµ)²/eµ in DECIMAL(38,0))
    // — no float is computed, let alone summed.
    "q_chi2_assoc" -> ((s, dir) =>
      graft.operators.Eval.chiSquareCells(
          Tables.load(s, dir, "documents"), "source", "lang")
        .orderBy(col("a"), col("b"))),

    // The one-row rollup: chi2 as the exact sum of frozen per-cell
    // terms, Cramér's V from that via a single double sqrt chain frozen
    // to ppm (IEEE-identical in both engines on identical inputs).
    "q_cramers_v" -> ((s, dir) =>
      graft.operators.Eval.cramersV(
          Tables.load(s, dir, "documents"), "source", "lang")),

    // Two-sample KS drift of each source's doc-length distribution vs
    // the src0 baseline: corpus collapses to (source, length) counts,
    // CDFs are prefix sums over the distinct-length GRID (a dimension),
    // the sup distance is an exact integer cross-multiplication — the
    // distribution-shift gate a training-mix change runs per source.
    "q_ks_drift" -> ((s, dir) =>
      graft.operators.Eval.ksAgainstBaseline(
          Tables.load(s, dir, "documents"), "source", "n_chars", "src0")
        .withColumnRenamed("grp", "source")
        .orderBy(col("source"))),

    // Herfindahl concentration of sources within each language: how
    // dominated each language's corpus slice is by few sources (the
    // diversity guard before a mix freeze). Exact: HHI·1e6 =
    // Σcnt²·1e6 / total² in DECIMAL(38,0).
    "q_hhi_concentration" -> ((s, dir) =>
      graft.operators.Eval.hhiConcentration(
          Tables.load(s, dir, "documents"), "lang", "source")
        .withColumnRenamed("grp", "lang")
        .orderBy(col("lang"))),

    // Pairwise Jensen–Shannon divergence between per-source unigram
    // distributions over a shared top-500 vocab + OOV bucket — do two
    // sources SPEAK the same distribution (q_source_overlap asks if they
    // share literal content)? Frozen-ln terms × exact counts, one double
    // chain per pair at the end; everything after the (source, token)
    // collapse is dimension-scale.
    "q_source_divergence" -> ((s, dir) =>
      Vocab.sourceDivergence(Tables.load(s, dir, "documents"), "doc_id",
          "text", "source", k = 500)
        .orderBy(col("source_a"), col("source_b"))),

    // Per-source Zipf slope (OLS of frozen ln freq on frozen ln rank over
    // the top-100 tokens): flags unnaturally flat (id dumps) or steep
    // (boilerplate) sources before they pollute a mix; natural text ≈ −1.
    "q_zipf_fit" -> ((s, dir) =>
      Vocab.zipfFit(Tables.load(s, dir, "documents"), "doc_id", "text",
          "source", points = 100)
        .orderBy(col("source")))
  )

  val oracleSql: Map[String, String] = Map(
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS lex_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_computed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(toks AS BIGINT) AS ws_tokens,
        |  CAST(stop_cnt AS BIGINT) AS stop_cnt,
        |  CAST(stop_cnt AS DOUBLE) / CAST(toks AS DOUBLE) AS stop_ratio,
        |  CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)
        |    / CAST(greatest(length(text), 1) AS DOUBLE) AS vowel_ratio,
        |  (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |   + least((CAST(stop_cnt AS DOUBLE) / CAST(toks AS DOUBLE)) * 10.0, 1.0)
        |   + CASE WHEN (CAST(length(text) AS DOUBLE) / CAST(greatest(toks, 1) AS DOUBLE)) >= 3.0
        |           AND (CAST(length(text) AS DOUBLE) / CAST(greatest(toks, 1) AS DOUBLE)) <= 10.0
        |          THEN 1.0 ELSE 0.5 END) / 3.0 AS quality
        |FROM (
        |  SELECT doc_id, text,
        |    len(string_split(text, ' ')) AS toks,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS stop_cnt
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS en_score,
        |  CASE WHEN CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.02
        |    THEN 'en' ELSE 'und' END AS pred
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_doc_fingerprint" ->
      s"""SELECT doc_id,
         |  md5($normSql) AS fp,
         |  md5(array_to_string(list_slice(string_split($normSql, ' '), 1, 5), ' ')) AS prefix_fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_chunk_documents" ->
      """SELECT doc_id,
        |  CAST(i - 1 AS BIGINT) AS chunk_idx,
        |  CAST(length(substring(text, (i - 1) * 450 + 1, 500)) AS BIGINT) AS chunk_len,
        |  md5(substring(text, (i - 1) * 450 + 1, 500)) AS chunk_md5
        |FROM (
        |  SELECT doc_id, text, unnest(range(1, CAST(floor((length(text) - 1) / 450) AS BIGINT) + 2)) AS i
        |  FROM documents) t
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_keyword_search" ->
      """SELECT doc_id, score FROM (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t = 'data')) AS DOUBLE) * 1.0
        |    + CAST(len(list_filter(string_split(text, ' '), t -> t = 'query')) AS DOUBLE) * 1.0
        |    + CAST(len(list_filter(string_split(text, ' '), t -> t = 'fast')) AS DOUBLE) * 2.0 AS score
        |  FROM documents) t
        |WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_text_repetition" ->
      s"""WITH $repCorpusSql,
         |feat AS (
         |  SELECT doc_id,
         |    list_filter(string_split(lined_text, chr(10)), l -> trim(l) <> '') AS lines,
         |    string_split(text, ' ') AS toks
         |  FROM rep)
         |SELECT doc_id,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CASE WHEN len(lines) > 0
         |    THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / CAST(len(lines) AS DOUBLE)
         |    ELSE 0.0 END AS dup_line_frac,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CASE WHEN greatest(len(toks) - 1, 0) > 0
         |    THEN 1.0 - CAST(len(list_distinct([array_to_string(toks[i:i+1], ' ')
         |           for i in range(1, greatest(len(toks) - 1, 0) + 1)])) AS DOUBLE)
         |         / CAST(greatest(len(toks) - 1, 0) AS DOUBLE)
         |    ELSE 0.0 END AS dup_2gram_frac,
         |  CASE WHEN greatest(len(toks) - 2, 0) > 0
         |    THEN 1.0 - CAST(len(list_distinct([array_to_string(toks[i:i+2], ' ')
         |           for i in range(1, greatest(len(toks) - 2, 0) + 1)])) AS DOUBLE)
         |         / CAST(greatest(len(toks) - 2, 0) AS DOUBLE)
         |    ELSE 0.0 END AS dup_3gram_frac
         |FROM feat ORDER BY doc_id""".stripMargin,

    "q_length_histogram" ->
      """WITH t AS (SELECT len(string_split(text, ' ')) AS toks FROM documents)
        |SELECT CAST(length(bin(toks)) AS BIGINT) AS bucket,
        |       count(*) AS n_docs,
        |       CAST(sum(toks) AS BIGINT) AS total_tokens,
        |       CAST(min(toks) AS BIGINT) AS min_tokens,
        |       CAST(max(toks) AS BIGINT) AS max_tokens
        |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_dedup_doc_lines" ->
      s"""WITH $repCorpusSql,
         |ls AS (SELECT doc_id, string_split(lined_text, chr(10)) AS arr FROM rep)
         |SELECT doc_id,
         |  CAST(len(arr) AS BIGINT) AS n_lines,
         |  CAST(len(list_distinct(arr)) AS BIGINT) AS n_kept,
         |  array_to_string(
         |    [x[1] FOR x IN list_zip(arr, generate_series(1, len(arr)))
         |     IF list_position(arr, x[1]) = x[2]], chr(10)) AS text_out
         |FROM ls ORDER BY doc_id""".stripMargin,

    "q_line_dedup" ->
      s"""WITH $lineCorpusSql,
         |ls AS (SELECT doc_id, string_split(lined_text, chr(10)) AS arr FROM lined),
         |pos AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS ord FROM ls),
         |lines AS (SELECT doc_id, ord, arr[ord] AS line FROM pos),
         |common AS (SELECT line FROM lines
         |           GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
         |kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM common)),
         |outd AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |         array_to_string(list(line ORDER BY ord), chr(10)) AS text_out
         |  FROM kept GROUP BY doc_id)
         |SELECT o.doc_id, CAST(len(l.arr) AS BIGINT) AS n_lines, o.n_kept, o.text_out
         |FROM outd o JOIN ls l USING (doc_id)
         |ORDER BY o.doc_id""".stripMargin,

    "q_filter_funnel" -> {
      val enScore =
        """CAST(len(list_filter(string_split(text, ' '),
          |        t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
          |    / CAST(len(string_split(text, ' ')) AS DOUBLE)""".stripMargin
      s"""WITH f AS (
         |  SELECT length(text) >= 1 AS c1,
         |         len(string_split(text, ' ')) >= 20 AS c2,
         |         $enScore >= 0.02 AS c3,
         |         CAST(length(text) AS DOUBLE)
         |           / CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE)
         |           BETWEEN 3.0 AND 10.0 AS c4
         |  FROM documents),
         |agg AS (
         |  SELECT count(*) AS total,
         |         count(*) FILTER (WHERE c1) AS s1,
         |         count(*) FILTER (WHERE c1 AND c2) AS s2,
         |         count(*) FILTER (WHERE c1 AND c2 AND c3) AS s3,
         |         count(*) FILTER (WHERE c1 AND c2 AND c3 AND c4) AS s4
         |  FROM f)
         |SELECT stage_ord, stage, n_pass, n_pass / (SELECT total FROM agg) AS retention
         |FROM (
         |  SELECT 0 AS stage_ord, 'total' AS stage, total AS n_pass FROM agg
         |  UNION ALL SELECT 1, 'has_text', s1 FROM agg
         |  UNION ALL SELECT 2, 'min_tokens', s2 FROM agg
         |  UNION ALL SELECT 3, 'english', s3 FROM agg
         |  UNION ALL SELECT 4, 'word_len_band', s4 FROM agg) t
         |ORDER BY stage_ord""".stripMargin
    },

    "q_pii_scrub" ->
      s"""WITH $piiCorpusSql
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TA.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TA.PhoneRe}')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(
         |        regexp_replace(text, '${TA.EmailRe}', '<EMAIL>', 'g'),
         |        '${TA.PhoneRe}', '<PHONE>', 'g')) AS scrubbed_md5
         |FROM pii ORDER BY doc_id""".stripMargin,

    "q_pii_rate" ->
      s"""WITH $piiCorpusSql,
         |c AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text, '${TA.EmailRe}')) AS BIGINT) AS e,
         |    CAST(len(regexp_extract_all(text, '${TA.PhoneRe}')) AS BIGINT) AS p
         |  FROM pii WHERE source IS NOT NULL AND text IS NOT NULL)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(e) AS BIGINT) AS n_emails,
         |  CAST(sum(p) AS BIGINT) AS n_phones,
         |  CAST(sum(CASE WHEN e > 0 OR p > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dirty,
         |  CAST(sum(CASE WHEN e > 0 OR p > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS dirty_rate
         |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "q_dedup_exact" ->
      s"""WITH $dupCorpusSql,
         |g AS (
         |  SELECT md5($normSql) AS fp,
         |    min(doc_id) AS canonical_id,
         |    array_to_string(list_slice(list_sort(list(doc_id)), 1, 100), ',') AS member_ids,
         |    count(*) AS group_size
         |  FROM corpus GROUP BY 1)
         |SELECT canonical_id, fp, member_ids, group_size FROM g
         |WHERE group_size > 1 ORDER BY canonical_id""".stripMargin,

    "q_dedup_incremental" ->
      s"""WITH $dupCorpusSql,
         |seen AS (
         |  SELECT DISTINCT md5($normSql) AS fp FROM documents WHERE doc_id % 2 = 0),
         |batch AS (
         |  SELECT md5($normSql) AS fp, min(doc_id) AS id
         |  FROM corpus WHERE md5($normSql) IS NOT NULL GROUP BY 1)
         |SELECT id, fp FROM batch b
         |WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = b.fp)
         |ORDER BY id""".stripMargin,

    // The bloom gate is exact by construction — same oracle, must
    // hash-match the ungated form.
    "q_dedup_incremental_bloom" ->
      s"""WITH $dupCorpusSql,
         |seen AS (
         |  SELECT DISTINCT md5($normSql) AS fp FROM documents WHERE doc_id % 2 = 0),
         |batch AS (
         |  SELECT md5($normSql) AS fp, min(doc_id) AS id
         |  FROM corpus WHERE md5($normSql) IS NOT NULL GROUP BY 1)
         |SELECT id, fp FROM batch b
         |WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = b.fp)
         |ORDER BY id""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      s"""WITH $jaccardPairsCtes
         |SELECT id1, id2, shared, n1, n2, jaccard FROM j
         |WHERE jaccard >= 0.5 ORDER BY id1, id2""".stripMargin,

    // Same pair CTEs; thresholds CAST to DOUBLE so the curve column
    // type (and the >= comparisons) match the Spark frame exactly.
    "q_dedup_threshold_curve" -> {
      val tList = dedupThresholds
        .map(t => s"CAST('$t' AS DOUBLE)").mkString(", ")
      s"""WITH $jaccardPairsCtes,
         |th AS (SELECT unnest([$tList]) AS threshold),
         |hit AS (
         |  SELECT t.threshold, j.id1, j.id2
         |  FROM j JOIN th t ON j.jaccard >= t.threshold),
         |np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM hit GROUP BY 1),
         |nd AS (SELECT threshold, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
         |       FROM (SELECT threshold, id1 AS doc FROM hit
         |             UNION ALL SELECT threshold, id2 FROM hit)
         |       GROUP BY 1)
         |SELECT t.threshold,
         |  coalesce(np.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
         |  coalesce(nd.n_docs, CAST(0 AS BIGINT)) AS n_docs
         |FROM th t LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
         |ORDER BY threshold""".stripMargin
    },

    // Components via transitive closure (WITH RECURSIVE): fine at oracle
    // scale, and exactly the fixed point min-label propagation reaches.
    "q_dedup_clusters" ->
      // p/e MATERIALIZED: inside WITH RECURSIVE, DuckDB re-evaluates
      // plain CTEs per fixed-point iteration — at sf10 that re-runs the
      // 200M-candidate pair pipeline every round and spills past the
      // disk (measured). Materializing pins the SMALL pair/edge tables
      // once; the recursion then joins only those.
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |p AS MATERIALIZED (SELECT id1, id2 FROM j WHERE jaccard >= 0.5),
         |e AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM p
         |      UNION SELECT id2, id1 FROM p),
         |reach AS (
         |  (SELECT src, dst FROM e UNION SELECT src, src FROM e)
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src)
         |SELECT component, CAST(count(*) AS BIGINT) AS n_members,
         |  array_to_string(list_slice(list_sort(list(id)), 1, 100), ',') AS member_ids
         |FROM comp GROUP BY component ORDER BY component""".stripMargin,

    "q_train_test_split" -> {
      // Thresholds render from the SAME ladder the Spark operator uses —
      // the oracle match IS the cross-engine reproducibility proof.
      val rExpr = "substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8)"
      val cases = Sampling.thresholdLadder(splitSpec)
        .map { case (name, hex) => s"WHEN $rExpr < '$hex' THEN '$name'" }
        .mkString(" ")
      s"""SELECT doc_id, $rExpr AS rank_hex,
         |  CASE $cases ELSE '${splitSpec.last._1}' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q_span_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split($normSql, ' '), t -> len(t) > 0) AS arr
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 5)) AS i
         |  FROM toks WHERE len(arr) >= 6),
         |grams AS (
         |  SELECT doc_id, md5(array_to_string(arr[i:i+5], ' ')) AS g FROM pos),
         |pairs AS (SELECT g, doc_id, count(*) AS n_pos FROM grams GROUP BY 1, 2),
         |census AS (SELECT g, count(*) AS gram_docs FROM pairs GROUP BY 1),
         |per AS (
         |  SELECT doc_id, CAST(sum(n_pos) AS BIGINT) AS n_spans,
         |    CAST(sum(CASE WHEN gram_docs >= 2 THEN n_pos ELSE 0 END) AS BIGINT)
         |      AS n_dup_spans
         |  FROM pairs JOIN census USING (g) GROUP BY 1)
         |SELECT doc_id, n_spans, n_dup_spans,
         |  CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE) AS dup_fraction
         |FROM per ORDER BY doc_id""".stripMargin,

    // Same span pipeline as q_span_dedup's oracle through the census,
    // then covered positions → anti-join → ordered rebuild. The md5
    // gram key is the engine-side xxhash64 struct's collision-free twin
    // (only coverage/counts compare, never the key).
    // Position CTEs deliberately do NOT carry `arr` per row: a
    // per-position row duplicating the doc's whole token array
    // multiplied DuckDB's working set by average doc length and
    // bad_alloc'd the sf10 sweep — grams come from one comprehension
    // over arr per DOC, and the rebuild re-joins toks (one arr per doc)
    // only after kept positions have collapsed per doc.
    "q_span_strike" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split($normSql, ' '), t -> len(t) > 0) AS arr
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, u['i'] AS i, u['g'] AS g FROM (
         |    SELECT doc_id,
         |      unnest([{'i': i, 'g': md5(array_to_string(arr[i:i+5], ' '))}
         |              for i in generate_series(1, len(arr) - 5)]) AS u
         |    FROM toks WHERE len(arr) >= 6)),
         |census AS (
         |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS gd
         |                 FROM grams GROUP BY 1) WHERE gd >= 2),
         |covered AS (
         |  SELECT DISTINCT doc_id, p FROM (
         |    SELECT doc_id, unnest(generate_series(i, i + 5)) AS p
         |    FROM grams JOIN census USING (g))),
         |allpos AS (
         |  SELECT doc_id, unnest(generate_series(1, len(arr))) AS p
         |  FROM toks WHERE len(arr) > 0),
         |keptpos AS (
         |  SELECT a.doc_id, a.p FROM allpos a
         |  LEFT JOIN covered c ON a.doc_id = c.doc_id AND a.p = c.p
         |  WHERE c.p IS NULL),
         |per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    list(p ORDER BY p) AS ps
         |  FROM keptpos GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.arr) AS BIGINT) AS n_tokens,
         |  per.n_kept,
         |  array_to_string([t.arr[p] for p in per.ps], ' ') AS text_out
         |FROM toks t JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_bigram_logprob" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split($normSql, ' '), t -> len(t) > 0) AS arr
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 1)) AS i
         |  FROM toks WHERE len(arr) >= 2),
         |bg AS (
         |  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM pos GROUP BY 1, 2, 3),
         |pair AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS n_pair
         |         FROM bg GROUP BY 1, 2),
         |lft AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_left
         |        FROM pair GROUP BY 1),
         |priced AS (
         |  SELECT p.w1, p.w2,
         |    CAST(round(ln(CAST(l.n_left AS DOUBLE) / CAST(p.n_pair AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS surprisal
         |  FROM pair p JOIN lft l USING (w1))
         |SELECT bg.doc_id, CAST(sum(bg.tf) AS BIGINT) AS n_bigrams,
         |  CAST(sum(p.surprisal * bg.tf) AS DOUBLE)
         |    / CAST(CAST(sum(bg.tf) AS BIGINT) AS DOUBLE) AS avg_surprisal
         |FROM bg JOIN priced p ON bg.w1 = p.w1 AND bg.w2 = p.w2
         |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,

    // Same CTE chain as q_bigram_logprob plus the KN censuses (fanout,
    // continuation counts, type total); the P chain's parenthesization
    // mirrors the Spark expression operand-for-operand.
    "q_kn_bigram" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split($normSql, ' '), t -> len(t) > 0) AS arr
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 1)) AS i
         |  FROM toks WHERE len(arr) >= 2),
         |bg AS (
         |  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM pos GROUP BY 1, 2, 3),
         |pair AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS n_pair
         |         FROM bg GROUP BY 1, 2),
         |lft AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_left,
         |               CAST(count(*) AS BIGINT) AS fanout
         |        FROM pair GROUP BY 1),
         |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_cont
         |         FROM pair GROUP BY 1),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM pair),
         |priced AS (
         |  SELECT p.w1, p.w2,
         |    CAST(round(-ln(
         |      (CAST(p.n_pair AS DOUBLE) - 0.75) / CAST(l.n_left AS DOUBLE)
         |      + (0.75 * CAST(l.fanout AS DOUBLE) / CAST(l.n_left AS DOUBLE))
         |      * (CAST(c.n_cont AS DOUBLE) / CAST(t.n_types AS DOUBLE))), 6)
         |         AS DECIMAL(18,6)) AS surprisal
         |  FROM pair p JOIN lft l USING (w1) JOIN cont c USING (w2)
         |  CROSS JOIN tt t)
         |SELECT bg.doc_id, CAST(sum(bg.tf) AS BIGINT) AS n_bigrams,
         |  CAST(sum(p.surprisal * bg.tf) AS DOUBLE)
         |    / CAST(CAST(sum(bg.tf) AS BIGINT) AS DOUBLE) AS avg_surprisal
         |FROM bg JOIN priced p ON bg.w1 = p.w1 AND bg.w2 = p.w2
         |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,

    "q_token_fertility" ->
      """WITH c AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |    CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
        |      AS BIGINT) AS lex_tokens,
        |    CAST(sum(length(text)) AS BIGINT) AS n_chars
        |  FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL AND text IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT source, lang, n_docs, ws_tokens, lex_tokens, n_chars,
        |  CASE WHEN ws_tokens > 0 THEN CAST(CAST(n_chars AS HUGEINT) * 1000
        |    // ws_tokens AS BIGINT) END AS chars_per_ws_token_milli,
        |  CASE WHEN lex_tokens > 0 THEN CAST(CAST(n_chars AS HUGEINT) * 1000
        |    // lex_tokens AS BIGINT) END AS chars_per_lex_token_milli,
        |  CASE WHEN ws_tokens > 0 THEN CAST(CAST(lex_tokens AS HUGEINT) * 1000000
        |    // ws_tokens AS BIGINT) END AS lex_per_ws_ppm
        |FROM c ORDER BY source, lang""".stripMargin,

    "q_ttr" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents WHERE source IS NOT NULL),
         |tc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
         |       FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
         |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
         |             CAST(sum(n) AS BIGINT) AS n_tokens,
         |             CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |               AS n_hapax
         |      FROM tc GROUP BY 1)
         |SELECT source, n_types, n_tokens, n_hapax,
         |  CAST(CAST(n_types AS HUGEINT) * 1000000 // n_tokens AS BIGINT)
         |    AS ttr_ppm,
         |  CAST(CAST(n_hapax AS HUGEINT) * 1000000 // n_types AS BIGINT)
         |    AS hapax_ppm
         |FROM s ORDER BY source""".stripMargin,

    "q_gopher_quality" ->
      s"""WITH $gopherSigSql
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
         |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stop_hits,
         |  ($gopherPassSql) AS gopher_pass
         |FROM sig ORDER BY doc_id""".stripMargin,

    "q_c4_filter" ->
      s"""WITH $c4CorpusSql,
         |f AS (
         |  SELECT doc_id, c4_text,
         |    list_filter(string_split(c4_text, chr(10)),
         |                l -> trim(l) <> '') AS lines
         |  FROM c4),
         |k AS (
         |  SELECT doc_id, c4_text, lines,
         |    list_filter(lines, l ->
         |      right(l, 1) IN ('.', '!', '?', '"')
         |      AND len(list_filter(string_split(l, ' '),
         |                          w -> length(w) > 0)) >= 3
         |      AND NOT contains(lower(l), 'javascript')) AS kept
         |  FROM f)
         |SELECT doc_id,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  CAST(len(kept) AS DOUBLE)
         |    / CAST(greatest(len(lines), 1) AS DOUBLE) AS kept_frac,
         |  contains(lower(c4_text), 'lorem ipsum') AS has_lorem,
         |  contains(c4_text, '{') AS has_brace,
         |  (len(kept) >= 5
         |   AND NOT contains(lower(c4_text), 'lorem ipsum')
         |   AND NOT contains(c4_text, '{')) AS c4_pass,
         |  md5(array_to_string(kept, chr(10))) AS kept_md5
         |FROM k ORDER BY doc_id""".stripMargin,

    "q_c4_rate" ->
      s"""WITH $c4CorpusSql,
         |f AS (
         |  SELECT doc_id, source, c4_text,
         |    list_filter(string_split(c4_text, chr(10)),
         |                l -> trim(l) <> '') AS lines
         |  FROM c4 WHERE source IS NOT NULL AND c4_text IS NOT NULL),
         |k AS (
         |  SELECT source,
         |    (len(list_filter(lines, l ->
         |       right(l, 1) IN ('.', '!', '?', '"')
         |       AND len(list_filter(string_split(l, ' '),
         |                           w -> length(w) > 0)) >= 3
         |       AND NOT contains(lower(l), 'javascript'))) >= 5
         |     AND NOT contains(lower(c4_text), 'lorem ipsum')
         |     AND NOT contains(c4_text, '{')) AS p
         |  FROM f)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS pass_rate
         |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "q_gopher_rate" ->
      s"""WITH $gopherSigSql,
         |v AS (SELECT source, ($gopherPassSql) AS p FROM sig
         |      WHERE source IS NOT NULL)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS pass_rate
         |FROM v GROUP BY source ORDER BY source""".stripMargin,

    "q_gopher_repetition" -> gopherRepetitionSql,

    // The window form IS the oracle — the engine's bounded-buffer
    // BoundedMinK draw must equal the full per-group sort's first 5.
    "q_group_sample" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |    md5('graft:' || CAST(doc_id AS VARCHAR)) || ':' ||
        |      md5('graft2:' || CAST(doc_id AS VARCHAR)) || ':' ||
        |      CAST(doc_id AS VARCHAR) AS rk
        |  FROM documents WHERE doc_id IS NOT NULL),
        |w AS (
        |  SELECT source, doc_id, rk,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY rk)
        |      AS INTEGER) AS rn
        |  FROM r)
        |SELECT source, rn, doc_id FROM w WHERE rn <= 5
        |ORDER BY source, rn""".stripMargin,

    // Exact-regime oracle: capacityFor ≥ distinct bigrams at verify
    // scales, so the sketch's counts ARE the true counts and max_err 0.
    "q_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT list_filter(string_split($normSql, ' '), t -> len(t) > 0)
         |    AS arr
         |  FROM documents),
         |pos AS (
         |  SELECT arr, unnest(generate_series(1, len(arr) - 1)) AS i
         |  FROM toks WHERE len(arr) >= 2),
         |g AS (SELECT array_to_string(arr[i:i+1], ' ') AS pair FROM pos),
         |c AS (SELECT pair, count(*) AS est_count FROM g GROUP BY 1)
         |SELECT pair, CAST(est_count AS BIGINT) AS est_count,
         |  CAST(0 AS BIGINT) AS max_err
         |FROM c ORDER BY est_count DESC, pair LIMIT 20""".stripMargin,

    "q_vocab_topk" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |t AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         |s AS (SELECT token, count(*) AS n_occurrences,
         |             count(DISTINCT doc_id) AS n_docs
         |      FROM t GROUP BY token)
         |SELECT token, CAST(n_occurrences AS BIGINT) AS n_occurrences,
         |       CAST(n_docs AS BIGINT) AS n_docs
         |FROM s ORDER BY n_occurrences DESC, token LIMIT 100""".stripMargin,

    "q_unigram_logprob" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks WHERE length(token) > 0 GROUP BY doc_id, token),
         |vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS n_t
         |          FROM tf GROUP BY token),
         |total AS (SELECT CAST(sum(n_t) AS BIGINT) AS total FROM vocab),
         |priced AS (
         |  SELECT token,
         |    CAST(round(ln(CAST(total AS DOUBLE) / CAST(n_t AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS surprisal
         |  FROM vocab CROSS JOIN total)
         |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         |  CAST(sum(p.surprisal * tf.tf) AS DOUBLE)
         |    / CAST(CAST(sum(tf.tf) AS BIGINT) AS DOUBLE) AS avg_surprisal
         |FROM tf JOIN priced p USING (token)
         |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin,

    // The global-window cume_dist IS the oracle for the distributed
    // quantile machine (groupQuantileRank, spec-proven equal).
    "q_curriculum" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks WHERE length(token) > 0 GROUP BY doc_id, token),
         |vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS n_t
         |          FROM tf GROUP BY token),
         |total AS (SELECT CAST(sum(n_t) AS BIGINT) AS total FROM vocab),
         |priced AS (
         |  SELECT token,
         |    CAST(round(ln(CAST(total AS DOUBLE) / CAST(n_t AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS surprisal
         |  FROM vocab CROSS JOIN total),
         |surp AS (
         |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         |    CAST(sum(p.surprisal * tf.tf) AS DOUBLE)
         |      / CAST(CAST(sum(tf.tf) AS BIGINT) AS DOUBLE) AS avg_surprisal
         |  FROM tf JOIN priced p USING (token)
         |  GROUP BY tf.doc_id),
         |pc AS (
         |  SELECT doc_id, n_tokens, avg_surprisal,
         |    cume_dist() OVER (ORDER BY avg_surprisal) AS pctl
         |  FROM surp)
         |SELECT doc_id, n_tokens, avg_surprisal, pctl,
         |  CAST(greatest(ceil(pctl * 4) - 1, 0) AS BIGINT) AS epoch,
         |  md5('curr:' || CAST(doc_id AS VARCHAR)) AS order_key
         |FROM pc ORDER BY doc_id""".stripMargin,

    "q_tfidf_terms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks WHERE length(token) > 0 GROUP BY doc_id, token),
         |dfs AS (SELECT token, CAST(count(*) AS BIGINT) AS df_docs
         |        FROM tf GROUP BY token),
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, dfs.df_docs,
         |    CAST(tf.tf AS DOUBLE) *
         |      ((CAST(n.n_docs AS DOUBLE) + 1.0) /
         |       (CAST(dfs.df_docs AS DOUBLE) + 1.0)) AS score
         |  FROM tf JOIN dfs USING (token) CROSS JOIN n),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, token) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, token AS term, tf, df_docs, score
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_token_entropy" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks WHERE length(token) > 0 GROUP BY doc_id, token),
         |d AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_distinct,
         |    sum(tf * CAST(round(ln(CAST(tf AS DOUBLE)), 6)
         |              AS DECIMAL(18,6))) AS s
         |  FROM tf GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_distinct,
         |  CAST(n_tokens * CAST(round(ln(CAST(n_tokens AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) - s AS DOUBLE)
         |    / CAST(n_tokens AS DOUBLE) AS entropy
         |FROM d ORDER BY doc_id""".stripMargin,

    "q_bpe_pairs" ->
      s"""WITH toks AS (
         |  SELECT unnest(string_split($normSql, ' ')) AS token
         |  FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT token, count(*) AS n FROM toks
         |      WHERE length(token) > 0 GROUP BY token),
         |pos AS (SELECT token, n,
         |          unnest(generate_series(1, length(token) - 1)) AS i
         |        FROM w WHERE length(token) >= 2),
         |p AS (SELECT substring(token, i, 1) AS left_sym,
         |        substring(token, i + 1, 1) AS right_sym, n, token FROM pos)
         |SELECT left_sym, right_sym, CAST(sum(n) AS BIGINT) AS n_occurrences,
         |       CAST(count(DISTINCT token) AS BIGINT) AS n_token_types
         |FROM p GROUP BY left_sym, right_sym
         |ORDER BY n_occurrences DESC, left_sym, right_sym LIMIT 50""".stripMargin,

    "q_contamination" ->
      s"""WITH $dupCorpusSql,
         |ctokd AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(l[i:i+2], ' ')
         |                   for i in range(1, greatest(len(l) - 2, 0) + 1)]) AS shs
         |  FROM (SELECT doc_id, string_split($normSql, ' ') AS l FROM corpus)),
         |csh AS (SELECT doc_id, unnest(shs) AS sh FROM ctokd),
         |btokd AS (
         |  SELECT doc_id AS bench_id,
         |    list_distinct([array_to_string(l[i:i+2], ' ')
         |                   for i in range(1, greatest(len(l) - 2, 0) + 1)]) AS shs
         |  FROM (SELECT doc_id, string_split($normSql, ' ') AS l
         |        FROM documents WHERE doc_id % 7 = 0)),
         |bsh AS (SELECT bench_id, unnest(shs) AS sh FROM btokd),
         |bsizes AS (SELECT bench_id, count(*) AS n_bench FROM bsh GROUP BY bench_id),
         |bkeep AS (SELECT sh FROM bsh GROUP BY sh HAVING count(*) <= 100),
         |bshk AS (SELECT bsh.bench_id, bsh.sh FROM bsh JOIN bkeep USING (sh)),
         |pairs AS (
         |  SELECT c.doc_id, b.bench_id, count(*) AS shared
         |  FROM csh c JOIN bshk b ON c.sh = b.sh AND c.doc_id <> b.bench_id
         |  GROUP BY 1, 2),
         |o AS (
         |  SELECT p.doc_id, p.bench_id, p.shared, s.n_bench,
         |    CAST(p.shared AS DOUBLE) / CAST(s.n_bench AS DOUBLE) AS overlap
         |  FROM pairs p JOIN bsizes s USING (bench_id))
         |SELECT doc_id, bench_id, shared, n_bench, overlap FROM o
         |WHERE overlap >= 0.5 ORDER BY doc_id, bench_id""".stripMargin,

    // Mirrors Relevance.bm25's expression SHAPE token for token: ratio
    // idf, explicit parenthesization, non-exact double literals carried
    // through CAST('…' AS DOUBLE) string parses (nearest-double both
    // engines), per-term pivot cells summed in fixed terms order.
    "q_bm25_search" -> bm25OracleSql,

    // Both rankers nest as derived tables (DuckDB allows WITH inside a
    // subquery); ranks are row_number over the SAME (score desc,
    // doc_id) order the rankers themselves are cut by, and the fused
    // score repeats the Spark side's fixed two-term expression.
    "q_rrf_fusion" ->
      s"""WITH ra AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY score DESC, doc_id) AS BIGINT) AS rank_bm25
         |  FROM ($bm25OracleSql) bm),
         |rb AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY score DESC, doc_id) AS BIGINT) AS rank_kw
         |  FROM (
         |    SELECT doc_id, score FROM (
         |      SELECT doc_id,
         |        CAST(len(list_filter(string_split(text, ' '), t -> t = 'data')) AS DOUBLE) * 1.0
         |        + CAST(len(list_filter(string_split(text, ' '), t -> t = 'query')) AS DOUBLE) * 1.0
         |        + CAST(len(list_filter(string_split(text, ' '), t -> t = 'fast')) AS DOUBLE) * 2.0 AS score
         |      FROM documents) t
         |    WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20) kw)
         |SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         |  ra.rank_bm25, rb.rank_kw,
         |  (coalesce(1.0 / (60.0 + CAST(ra.rank_bm25 AS DOUBLE)), 0.0)
         |   + coalesce(1.0 / (60.0 + CAST(rb.rank_kw AS DOUBLE)), 0.0)) AS rrf_score
         |FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
         |ORDER BY rrf_score DESC, doc_id""".stripMargin,

    "q_source_mix" ->
      """WITH g AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, lang, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)
        |    AS token_frac
        |FROM g ORDER BY source, lang""".stripMargin,

    // p^alpha freezes once at 6 decimals (model-scale transcendental,
    // the ln discipline); q_share/boost are IEEE chains of exact
    // decimals cast to double.
    "q_temperature_mix" ->
      """WITH g AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |p AS (
        |  SELECT lang, n_docs, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)
        |      AS token_frac
        |  FROM g),
        |a AS (
        |  SELECT *, CAST(round(pow(token_frac, 0.5), 6) AS DECIMAL(18,6)) AS pa
        |  FROM p)
        |SELECT lang, n_docs, n_tokens, token_frac,
        |  CAST(pa AS DOUBLE) / CAST(sum(pa) OVER () AS DOUBLE) AS q_share,
        |  CASE WHEN token_frac > 0 THEN
        |    (CAST(pa AS DOUBLE) / CAST(sum(pa) OVER () AS DOUBLE)) / token_frac
        |  END AS boost
        |FROM a ORDER BY lang""".stripMargin,

    // Mirrors doremiWeights CTE-for-column: both LM lanes are the
    // q_unigram_logprob / q_bigram_logprob chains keyed by source; the
    // 5 MW steps unroll (same refreeze → exact-decimal normalizer →
    // smooth chain, constants via CAST('x' AS DOUBLE) so DuckDB's
    // decimal literals never enter the arithmetic).
    "q_doremi_weights" -> doremiOracleSql,

    "q_doremi_mix" -> doremiMixOracleSql,

    "q_stratified_sample" -> {
      val rExpr = "substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8)"
      val cases = strataFracs.toSeq.sortBy(_._1)
        .map { case (k, f) => s"WHEN lang = '$k' THEN '${Sampling.thresholdHex(f)}'" }
        .mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         |WHERE $rExpr < CASE $cases ELSE '${Sampling.thresholdHex(1.0)}' END
         |ORDER BY doc_id""".stripMargin
    },

    // The oracle reproduces the WHOLE in-engine pipeline — counts →
    // budget → fraction → quantized hex threshold → rank filter — from
    // the same add/mul/div/floor primitives; weights round-trip through
    // Double.toString (CAST('0.25' AS DOUBLE) — a bare 0.25 literal is
    // DECIMAL in DuckDB and would change the arithmetic type).
    "q_mix_rebalance" -> {
      val vals = mixTargets
        .map { case (s, w) => s"('$s', CAST('$w' AS DOUBLE))" }.mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |t(lang, w) AS (VALUES $vals),
         |c AS (
         |  SELECT t.lang, t.w,
         |    COALESCE(CAST(sum(d.n_tokens) AS BIGINT), 0) AS tok
         |  FROM t LEFT JOIN d ON d.lang = t.lang GROUP BY t.lang, t.w),
         |f AS (
         |  SELECT lang,
         |    CASE WHEN tok = 0 THEN 0.0
         |      ELSE w * (SELECT min(CAST(tok AS DOUBLE) / w) FROM c)
         |        / CAST(tok AS DOUBLE) END AS frac
         |  FROM c),
         |thr AS (
         |  SELECT lang,
         |    CASE WHEN CAST(floor(frac * 4294967296.0 + 0.5) AS BIGINT) >= 4294967296
         |      THEN 'g0000000'
         |      ELSE printf('%08x', CAST(floor(frac * 4294967296.0 + 0.5) AS BIGINT))
         |    END AS thr
         |  FROM f)
         |SELECT d.doc_id, d.lang, d.n_tokens
         |FROM d JOIN thr ON d.lang = thr.lang
         |WHERE substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr
         |ORDER BY d.doc_id""".stripMargin
    },

    // The single global window cumsum: the distributed two-phase prefix
    // sum must equal it bit-for-bit (same total order: bucket prefix
    // ordering is rank-prefix ordering).
    "q_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS r
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY r, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
        |  FROM t),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS w FROM t),
        |s AS (
        |  SELECT doc_id, n_tokens, hi - n_tokens AS stream_offset,
        |    ((hi * 200 + w - 1) // w)
        |      - (((hi - n_tokens) * 200 + w - 1) // w) AS n_copies
        |  FROM c, tot)
        |SELECT doc_id, n_tokens, CAST(stream_offset AS BIGINT) AS stream_offset,
        |  CAST(n_copies AS BIGINT) AS n_copies
        |FROM s WHERE n_copies > 0 ORDER BY doc_id""".stripMargin,

    "q_quantile_norm" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |     + least((CAST(stop_cnt AS DOUBLE) / CAST(toks AS DOUBLE)) * 10.0, 1.0)
        |     + CASE WHEN (CAST(length(text) AS DOUBLE) / CAST(greatest(toks, 1) AS DOUBLE)) >= 3.0
        |             AND (CAST(length(text) AS DOUBLE) / CAST(greatest(toks, 1) AS DOUBLE)) <= 10.0
        |            THEN 1.0 ELSE 0.5 END) / 3.0 AS quality
        |  FROM (
        |    SELECT doc_id, source, text,
        |      len(string_split(text, ' ')) AS toks,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS stop_cnt
        |    FROM documents WHERE text IS NOT NULL) t)
        |SELECT doc_id, source, quality,
        |  cume_dist() OVER (PARTITION BY source ORDER BY quality) AS pctl
        |FROM q ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8) AS rank_hex
        |  FROM documents
        |  WHERE text IS NOT NULL),
        |c AS (
        |  SELECT *,
        |    CAST(sum(n_tokens) OVER (ORDER BY rank_hex, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS token_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, rank_hex, token_offset,
        |  CAST(floor(CAST(token_offset AS DOUBLE) / 2048) AS BIGINT) AS seq_first,
        |  CAST(floor(CAST(token_offset + greatest(n_tokens, 1) - 1 AS DOUBLE) / 2048)
        |    AS BIGINT) AS seq_last
        |FROM c ORDER BY doc_id""".stripMargin,

    // The composed curation funnel: every stage CTE is the standalone
    // oracle fragment re-rooted on the previous stage's survivors, so
    // DuckDB re-derives the ENTIRE chain independently. COALESCE mirrors
    // the Spark side's 0-for-empty token sums.
    "q_curation_round" ->
      s"""WITH RECURSIVE $curationStageCtes
         |SELECT stage_ord, stage, n_docs, n_tokens,
         |  CAST(n_docs AS DOUBLE)
         |    / CAST((SELECT count(*) FROM ctok) AS DOUBLE) AS doc_retention,
         |  CAST(n_tokens AS DOUBLE)
         |    / CAST((SELECT sum(n_tokens) FROM ctok) AS DOUBLE) AS token_retention
         |FROM (
         |  SELECT 0 AS stage_ord, 'total' AS stage,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    COALESCE(CAST(sum(n_tokens) AS BIGINT), 0) AS n_tokens FROM ctok
         |  UNION ALL SELECT 1, 'c4_gate', CAST(count(*) AS BIGINT),
         |    COALESCE(CAST(sum(n_tokens) AS BIGINT), 0) FROM cgate WHERE c4_pass
         |  UNION ALL SELECT 2, 'gopher_gate', CAST(count(*) AS BIGINT),
         |    COALESCE(CAST(sum(n_tokens) AS BIGINT), 0) FROM cg
         |  UNION ALL SELECT 3, 'dedup_exact', CAST(count(*) AS BIGINT),
         |    COALESCE(CAST(sum(n_tokens) AS BIGINT), 0) FROM ce
         |  UNION ALL SELECT 4, 'dedup_near', CAST(count(*) AS BIGINT),
         |    COALESCE(CAST(sum(n_tokens) AS BIGINT), 0) FROM cn
         |  UNION ALL SELECT 5, 'decontaminate', CAST(count(*) AS BIGINT),
         |    COALESCE(CAST(sum(n_tokens) AS BIGINT), 0) FROM cc
         |  UNION ALL SELECT 6, 'mixture', CAST(count(*) AS BIGINT),
         |    COALESCE(CAST(sum(n_tokens) AS BIGINT), 0) FROM cm) f
         |ORDER BY stage_ord""".stripMargin,

    // The three incremental folds unrolled: per-batch funnels off the
    // standalone stages' fragments with history as maintained state.
    "q_curation_incremental" ->
      s"""WITH RECURSIVE $incCurationCtes
         |SELECT batch_id, stage_ord, stage, n_docs, n_tokens
         |FROM (SELECT * FROM if0 UNION ALL SELECT * FROM if1
         |      UNION ALL SELECT * FROM if2) f
         |ORDER BY batch_id, stage_ord""".stripMargin,

    // q_pack_stats' t/c chain re-rooted on the curation survivors (cm).
    "q_curation_pack" ->
      s"""WITH RECURSIVE $curationStageCtes,
         |pt AS (
         |  SELECT doc_id, n_tokens,
         |    substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8) AS rank_hex
         |  FROM cm),
         |pc AS (
         |  SELECT *,
         |    CAST(sum(n_tokens) OVER (ORDER BY rank_hex, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS token_offset
         |  FROM pt),
         |ps AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |    CAST(sum(CASE WHEN
         |        floor(CAST(token_offset + greatest(n_tokens, 1) - 1 AS DOUBLE) / 2048)
         |        > floor(CAST(token_offset AS DOUBLE) / 2048)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
         |  FROM pc)
         |SELECT n_docs, total_tokens,
         |  CASE WHEN coalesce(total_tokens, 0) > 0
         |    THEN CAST((total_tokens - 1) // 2048 + 1 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS n_seqs,
         |  n_crossing,
         |  CAST(n_crossing AS DOUBLE) / CAST(n_docs AS DOUBLE) AS crossing_frac
         |FROM ps""".stripMargin,

    // Same t/c chain as q_pack_sequences, collapsed to the census row.
    "q_pack_stats" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8) AS rank_hex
        |  FROM documents
        |  WHERE text IS NOT NULL),
        |c AS (
        |  SELECT *,
        |    CAST(sum(n_tokens) OVER (ORDER BY rank_hex, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS token_offset
        |  FROM t),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    CAST(sum(CASE WHEN
        |        floor(CAST(token_offset + greatest(n_tokens, 1) - 1 AS DOUBLE) / 2048)
        |        > floor(CAST(token_offset AS DOUBLE) / 2048)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
        |  FROM c)
        |SELECT n_docs, total_tokens,
        |  CASE WHEN coalesce(total_tokens, 0) > 0
        |    THEN CAST((total_tokens - 1) // 2048 + 1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS n_seqs,
        |  n_crossing,
        |  CAST(n_crossing AS DOUBLE) / CAST(n_docs AS DOUBLE) AS crossing_frac
        |FROM s""".stripMargin,

    // The SAME expression shape as fleschScore (left-assoc subtraction,
    // one division per ratio, constants cast from strings) so the raw
    // doubles hash-match.
    "q_readability" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents0,
        |    len(string_split(text, ' ')) AS n_words0,
        |    len(regexp_extract_all(lower(text), '[aeiou]+')) AS n_syll0
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(n_sents0 AS BIGINT) AS n_sents,
        |  CAST(n_words0 AS BIGINT) AS n_words,
        |  CAST(n_syll0 AS BIGINT) AS n_syll,
        |  CAST('206.835' AS DOUBLE)
        |    - CAST('1.015' AS DOUBLE)
        |      * (CAST(n_words0 AS DOUBLE) / CAST(n_sents0 AS DOUBLE))
        |    - CAST('84.6' AS DOUBLE)
        |      * (CAST(n_syll0 AS DOUBLE) / CAST(n_words0 AS DOUBLE)) AS flesch
        |FROM t ORDER BY doc_id""".stripMargin,

    // Prefix block + full Levenshtein — the engine's banded threshold
    // variant filters identically (dist <= 30 reports, above drops),
    // and the bucketCap valve is MIRRORED like the Jaccard oracle's
    // df-cap (keepk ≡ blocks ≤ 256 docs): an overfull boilerplate
    // block is dropped by BOTH engines, so the contract stays
    // oracle-checked in the capped regime too.
    "q_dedup_editdist" ->
      s"""WITH $dupCorpusSql,
         |d AS (
         |  SELECT doc_id AS id, $normSql AS s FROM corpus
         |  WHERE text IS NOT NULL),
         |k AS (SELECT id, s, substr(s, 1, 16) AS k FROM d),
         |keepk AS (SELECT k FROM k GROUP BY k HAVING count(*) <= 256),
         |kc AS (SELECT k.id, k.s, k.k FROM k JOIN keepk USING (k)),
         |pr AS (
         |  SELECT a.id AS id1, b.id AS id2, levenshtein(a.s, b.s) AS dist
         |  FROM kc a JOIN kc b ON a.k = b.k AND a.id < b.id)
         |SELECT id1, id2, CAST(dist AS BIGINT) AS dist
         |FROM pr WHERE dist <= 30 ORDER BY id1, id2""".stripMargin,

    "q_dedup_canonical" ->
      // p/e MATERIALIZED: inside WITH RECURSIVE, DuckDB re-evaluates
      // plain CTEs per fixed-point iteration — at sf10 that re-runs the
      // 200M-candidate pair pipeline every round and spills past the
      // disk (measured). Materializing pins the SMALL pair/edge tables
      // once; the recursion then joins only those.
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |p AS MATERIALIZED (SELECT id1, id2 FROM j WHERE jaccard >= 0.5),
         |e AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM p
         |      UNION SELECT id2, id1 FROM p),
         |reach AS (
         |  (SELECT src, dst FROM e UNION SELECT src, src FROM e)
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src),
         |q AS (
         |  SELECT c.id, c.component,
         |    CAST(length(co.text) AS BIGINT) AS quality,
         |    row_number() OVER (PARTITION BY c.component
         |      ORDER BY length(co.text) DESC, c.id) AS rn
         |  FROM comp c JOIN corpus co ON c.id = co.doc_id)
         |SELECT id AS doc_id, component, quality, rn = 1 AS is_canonical
         |FROM q ORDER BY doc_id""".stripMargin,

    // Three unrolled power iterations with the engine's decimal-freeze
    // discipline: every division rounds once to 12 decimals and freezes
    // as DECIMAL(30,12); inbound sums are exact decimal; the damped
    // update is one IEEE multiply-add on bit-identical operands. The
    // teleport constant renders from the SAME Scala double (1.0 - 0.85)
    // the engine uses, so even its representation error matches.
    "q_pagerank" -> {
      val tele = s"CAST('${1.0 - 0.85}' AS DOUBLE)"
      val damp = s"CAST('0.85' AS DOUBLE)"
      def iter(prev: String, cur: String) =
        s"""s$cur AS (
           |  SELECT e.dst,
           |    sum(CAST(round(CAST(r.rank AS DOUBLE) / CAST(d.deg AS DOUBLE), 12)
           |        AS DECIMAL(30,12))) AS in_sum
           |  FROM e JOIN $prev r ON e.src = r.id JOIN deg d ON e.src = d.src
           |  GROUP BY e.dst),
           |$cur AS (
           |  SELECT deg.src AS id,
           |    CAST(round($tele / CAST(nn.n AS DOUBLE)
           |        + $damp * CAST(coalesce(s$cur.in_sum, 0) AS DOUBLE), 12)
           |      AS DECIMAL(30,12)) AS rank
           |  FROM deg CROSS JOIN nn LEFT JOIN s$cur ON deg.src = s$cur.dst)"""
      s"""WITH $jaccardPairsCtes,
         |p AS (SELECT id1, id2 FROM j WHERE jaccard >= 0.5),
         |e AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM p
         |      UNION ALL SELECT id2, id1 FROM p),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (
         |  SELECT src AS id,
         |    CAST(round(1.0 / CAST(nn.n AS DOUBLE), 12) AS DECIMAL(30,12)) AS rank
         |  FROM deg CROSS JOIN nn),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT id, CAST(rank AS DOUBLE) AS rank FROM r3 ORDER BY id""".stripMargin
    },

    "q_dedup_containment" ->
      s"""WITH $jaccardPairsCtes
         |SELECT id1, id2, shared, n1, n2,
         |  CAST(shared AS DOUBLE) / CAST(least(n1, n2) AS DOUBLE) AS containment,
         |  CASE WHEN n1 <= n2 THEN id1 ELSE id2 END AS contained_id
         |FROM j
         |WHERE CAST(shared AS DOUBLE) / CAST(least(n1, n2) AS DOUBLE) >= 0.8
         |ORDER BY id1, id2""".stripMargin,

    "q_ngram_novelty" ->
      s"""WITH tokd AS (
         |  SELECT source,
         |    list_distinct([array_to_string(l[i:i+2], ' ')
         |                   for i in range(1, greatest(len(l) - 2, 0) + 1)]) AS shs
         |  FROM (SELECT source, string_split($normSql, ' ') AS l FROM documents)),
         |sh0 AS (SELECT source, unnest(shs) AS sh FROM tokd),
         |sh AS (SELECT DISTINCT source, sh FROM sh0),
         |cs AS (SELECT sh, count(*) AS ns FROM sh GROUP BY sh)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS novelty
         |FROM sh JOIN cs USING (sh)
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_dup_rate_by_source" ->
      s"""WITH d AS (
         |  SELECT source,
         |    md5(array_to_string(list_slice(string_split($normSql, ' '), 1, 5), ' ')) AS fp
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT fp, count(*) AS n_fp FROM d GROUP BY fp)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_fp >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  CAST(sum(CASE WHEN n_fp >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS dup_rate
         |FROM d JOIN c USING (fp)
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_mirror_matrix" ->
      s"""WITH d AS (
         |  SELECT source,
         |    md5(array_to_string(list_slice(string_split($normSql, ' '), 1, 5), ' ')) AS fp
         |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
         |st AS (SELECT source, fp, CAST(count(*) AS BIGINT) AS n
         |       FROM d GROUP BY 1, 2),
         |keep AS (SELECT fp FROM st GROUP BY fp HAVING count(*) <= 1000),
         |cs AS (SELECT st.source, st.fp, st.n FROM st JOIN keep USING (fp)),
         |cx AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(count(*) AS BIGINT) AS n_shared_fps,
         |    CAST(sum(a.n * b.n) AS BIGINT) AS n_pairs
         |  FROM cs a JOIN cs b ON a.fp = b.fp AND a.source < b.source
         |  GROUP BY 1, 2),
         |dg AS (
         |  SELECT source AS source_a, source AS source_b,
         |    CAST(count(*) AS BIGINT) AS n_shared_fps,
         |    CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_pairs
         |  FROM cs WHERE n >= 2 GROUP BY 1, 2)
         |SELECT * FROM cx UNION ALL SELECT * FROM dg
         |ORDER BY source_a, source_b""".stripMargin,

    "q_lang_purity" ->
      """WITH c AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |t AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_langs, max(n) AS mx,
        |    sum(n * CAST(round(ln(CAST(n AS DOUBLE)), 6)
        |              AS DECIMAL(18,6))) AS s
        |  FROM c GROUP BY 1),
        |tp AS (
        |  SELECT c.source, min(c.lang) AS top_lang
        |  FROM c JOIN t ON c.source IS NOT DISTINCT FROM t.source
        |             AND c.n = t.mx GROUP BY 1)
        |SELECT t.source, n_docs, n_langs, top_lang,
        |  CAST(mx AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_share,
        |  CAST(n_docs * CAST(round(ln(CAST(n_docs AS DOUBLE)), 6)
        |         AS DECIMAL(18,6)) - s AS DOUBLE)
        |    / CAST(n_docs AS DOUBLE) AS lang_entropy
        |FROM t JOIN tp ON t.source IS NOT DISTINCT FROM tp.source
        |ORDER BY t.source""".stripMargin,

    "q_pmi_terms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |p AS (SELECT DISTINCT doc_id, token FROM toks WHERE length(token) > 0),
         |dfs AS (SELECT token, CAST(count(*) AS BIGINT) AS n_docs
         |        FROM p GROUP BY 1),
         |total AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM p),
         |capped0 AS (
         |  SELECT p.doc_id, p.token, dfs.n_docs
         |  FROM p JOIN dfs USING (token) WHERE dfs.n_docs <= 10000),
         |capped AS (
         |  SELECT doc_id, token, n_docs FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY n_docs, token) AS rk
         |    FROM capped0) WHERE rk <= 2000),
         |pairs AS (
         |  SELECT a.token AS token1, b.token AS token2,
         |    CAST(count(*) AS BIGINT) AS n_pair,
         |    min(a.n_docs) AS n1, min(b.n_docs) AS n2
         |  FROM capped a JOIN capped b
         |    ON a.doc_id = b.doc_id AND a.token < b.token
         |  GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT token1, token2, n_pair, n1, n2,
         |  CAST(CAST(round(ln(CAST(total.n AS DOUBLE) * CAST(n_pair AS DOUBLE)
         |        / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))), 6)
         |       AS DECIMAL(18,6)) AS DOUBLE) AS pmi
         |FROM pairs CROSS JOIN total
         |ORDER BY pmi DESC, token1, token2 LIMIT 50""".stripMargin,

    "q_vocab_coverage" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |t AS (SELECT source, token FROM toks WHERE length(token) > 0),
         |st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
         |       FROM t GROUP BY 1, 2),
         |vocab AS (
         |  SELECT token FROM (
         |    SELECT token, sum(n) AS n_occ FROM st GROUP BY 1
         |    ORDER BY n_occ DESC, token LIMIT 20))
         |SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.token IS NULL THEN n ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(sum(CASE WHEN v.token IS NULL THEN n ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(n) AS DOUBLE) AS oov_rate
         |FROM st LEFT JOIN vocab v ON st.token = v.token
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_nb_confusion" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
         |docs AS (SELECT doc_id, lang AS label FROM documents
         |         WHERE lang IS NOT NULL),
         |ltf AS (SELECT tf.doc_id, tf.token, tf.tf, d.label
         |        FROM tf JOIN docs d USING (doc_id)),
         |cs AS (SELECT label, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_c,
         |              CAST(sum(tf) AS BIGINT) AS tok_c
         |       FROM ltf GROUP BY 1),
         |vocab AS (SELECT DISTINCT token FROM tf),
         |vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM ltf),
         |priors AS (
         |  SELECT label,
         |    CAST(round(ln(CAST(n_docs_c AS DOUBLE) / CAST(nd.n AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS prior
         |  FROM cs CROSS JOIN nd),
         |obs AS (SELECT token, label, CAST(sum(tf) AS BIGINT) AS n_tc
         |        FROM ltf GROUP BY 1, 2),
         |grid AS (
         |  SELECT v.token, cs.label,
         |    CAST(round(ln(CAST(coalesce(o.n_tc, 0) + 1 AS DOUBLE)
         |          / CAST(cs.tok_c + vs.v AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS w
         |  FROM vocab v CROSS JOIN cs CROSS JOIN vs
         |  LEFT JOIN obs o ON o.token = v.token AND o.label = cs.label),
         |ev AS (SELECT tf.doc_id, g.label, sum(g.w * tf.tf) AS ev
         |       FROM tf JOIN grid g USING (token) GROUP BY 1, 2),
         |scores AS (SELECT ev.doc_id, ev.label, ev.ev + p.prior AS score
         |           FROM ev JOIN priors p USING (label)),
         |best AS (SELECT doc_id, max(score) AS best FROM scores GROUP BY 1),
         |pred AS (
         |  SELECT s.doc_id, min(s.label) AS predicted
         |  FROM scores s JOIN best b
         |    ON s.doc_id = b.doc_id AND s.score = b.best
         |  GROUP BY 1)
         |SELECT d.label, p.predicted, CAST(count(*) AS BIGINT) AS n_docs
         |FROM pred p JOIN docs d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_source_overlap" ->
      s"""WITH tokd AS (
         |  SELECT source,
         |    list_distinct([array_to_string(l[i:i+2], ' ')
         |                   for i in range(1, greatest(len(l) - 2, 0) + 1)]) AS shs
         |  FROM (SELECT source, string_split($normSql, ' ') AS l
         |        FROM documents WHERE source IS NOT NULL)),
         |sh0 AS (SELECT source, unnest(shs) AS sh FROM tokd),
         |sh AS (SELECT DISTINCT source, sh FROM sh0),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh
         |          FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, sa.n_sh AS n_a, sb.n_sh AS n_b, n_shared,
         |  CAST(n_shared AS DOUBLE)
         |    / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes sa ON inter.source_a = sa.source
         |JOIN sizes sb ON inter.source_b = sb.source
         |ORDER BY source_a, source_b""".stripMargin,

    "q_graph_degree" ->
      s"""WITH $jaccardPairsCtes,
         |p AS (SELECT id1, id2 FROM j WHERE jaccard >= 0.5),
         |e AS (SELECT id1 AS src, id2 AS dst FROM p
         |      UNION SELECT id2, id1 FROM p),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
         |        FROM e GROUP BY 1)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM deg GROUP BY 1 ORDER BY degree""".stripMargin,

    "q_feature_hash" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |t AS (
         |  SELECT id,
         |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS bucket,
         |    CASE WHEN substr(md5(token), 9, 1)
         |         IN ('0','1','2','3','4','5','6','7')
         |         THEN 1 ELSE -1 END AS sign
         |  FROM toks WHERE length(token) > 0)
         |SELECT id, bucket, CAST(sum(sign) AS BIGINT) AS weight
         |FROM t GROUP BY 1, 2 ORDER BY id, bucket""".stripMargin,

    "q_dsir_weights" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS bucket,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
         |census AS (
         |  SELECT bucket, CAST(sum(tf) AS BIGINT) AS n_raw,
         |    CAST(sum(CASE WHEN doc_id % 7 = 0 THEN tf ELSE 0 END) AS BIGINT) AS n_tgt
         |  FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS rt,
         |               CAST(sum(n_tgt) AS BIGINT) AS tt FROM census),
         |priced AS (
         |  SELECT bucket,
         |    CAST(round(ln(CAST(n_tgt + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS tp,
         |    CAST(round(ln(CAST(n_raw + 1 AS DOUBLE) / CAST(rt + 64 AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS rp
         |  FROM census CROSS JOIN tot)
         |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         |  CAST(sum(p.tp * tf.tf) - sum(p.rp * tf.tf) AS DOUBLE) AS logweight,
         |  CAST(sum(p.tp * tf.tf) - sum(p.rp * tf.tf) AS DOUBLE)
         |    / CAST(CAST(sum(tf.tf) AS BIGINT) AS DOUBLE) AS avg_logweight
         |FROM tf JOIN priced p USING (bucket)
         |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin,

    "q_dsir_kl" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS bucket,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
         |census AS (
         |  SELECT bucket, CAST(sum(tf) AS BIGINT) AS n_raw,
         |    CAST(sum(CASE WHEN doc_id % 7 = 0 THEN tf ELSE 0 END) AS BIGINT) AS n_tgt
         |  FROM tf GROUP BY 1),
         |dense AS (
         |  SELECT r.bucket, COALESCE(c.n_raw, 0) AS n_raw,
         |    COALESCE(c.n_tgt, 0) AS n_tgt
         |  FROM (SELECT unnest(range(0, 64)) AS bucket) r
         |  LEFT JOIN census c ON r.bucket = c.bucket),
         |tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS rt,
         |               CAST(sum(n_tgt) AS BIGINT) AS tt FROM dense),
         |priced AS (
         |  SELECT n_raw, n_tgt, tt, rt,
         |    CAST(round(ln(CAST(n_tgt + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS tp,
         |    CAST(round(ln(CAST(n_raw + 1 AS DOUBLE) / CAST(rt + 64 AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS rp
         |  FROM dense CROSS JOIN tot)
         |SELECT *, kl_tgt_raw + kl_raw_tgt AS jeffreys FROM (
         |  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |    CAST(max(tt) AS BIGINT) AS n_tgt_total,
         |    CAST(max(rt) AS BIGINT) AS n_raw_total,
         |    CAST(sum((n_tgt + 1) * (tp - rp)) AS DOUBLE)
         |      / CAST(max(tt) + 64 AS DOUBLE) AS kl_tgt_raw,
         |    CAST(sum((n_raw + 1) * (rp - tp)) AS DOUBLE)
         |      / CAST(max(rt) + 64 AS DOUBLE) AS kl_raw_tgt
         |  FROM priced)""".stripMargin,

    // Bigram lane: parallel unnests zip positionally in DuckDB (the
    // q_label_coherence pattern) and the shorter slice pads with NULL,
    // so the pair stream is linear — never array-per-position.
    "q_dsir_weights_bigram" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split($normSql, ' '), t -> length(t) > 0) AS a
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, unnest(a) AS feat FROM toks
         |  UNION ALL
         |  SELECT doc_id, w1 || ' ' || w2 AS feat FROM (
         |    SELECT doc_id, unnest(a) AS w1, unnest(a[2:]) AS w2 FROM toks) z
         |  WHERE w2 IS NOT NULL),
         |tf AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT) % 64 AS bucket,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM feats GROUP BY 1, 2),
         |census AS (
         |  SELECT bucket, CAST(sum(tf) AS BIGINT) AS n_raw,
         |    CAST(sum(CASE WHEN doc_id % 7 = 0 THEN tf ELSE 0 END) AS BIGINT) AS n_tgt
         |  FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS rt,
         |               CAST(sum(n_tgt) AS BIGINT) AS tt FROM census),
         |priced AS (
         |  SELECT bucket,
         |    CAST(round(ln(CAST(n_tgt + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS tp,
         |    CAST(round(ln(CAST(n_raw + 1 AS DOUBLE) / CAST(rt + 64 AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS rp
         |  FROM census CROSS JOIN tot)
         |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         |  CAST(sum(p.tp * tf.tf) - sum(p.rp * tf.tf) AS DOUBLE) AS logweight,
         |  CAST(sum(p.tp * tf.tf) - sum(p.rp * tf.tf) AS DOUBLE)
         |    / CAST(CAST(sum(tf.tf) AS BIGINT) AS DOUBLE) AS avg_logweight
         |FROM tf JOIN priced p USING (bucket)
         |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin,

    // The q_dsir_weights chain feeding the q_weighted_sample sampler
    // body: importance = round(exp(lattice(logweight))·1e6) — the
    // lattice argument (round(logweight·8) clamped to ±96, /8) is
    // binary-exact on both engines, and every one of the 193 lattice
    // constants' scaled exp sits ≥1e-4 from a rounding boundary
    // (DsirSpec), so the BIGINT importance is cross-engine identical;
    // the sampler is the proven all-integer floor-division form.
    "q_dsir_select" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS bucket,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
         |census AS (
         |  SELECT bucket, CAST(sum(tf) AS BIGINT) AS n_raw,
         |    CAST(sum(CASE WHEN doc_id % 7 = 0 THEN tf ELSE 0 END) AS BIGINT) AS n_tgt
         |  FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS rt,
         |               CAST(sum(n_tgt) AS BIGINT) AS tt FROM census),
         |priced AS (
         |  SELECT bucket,
         |    CAST(round(ln(CAST(n_tgt + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS tp,
         |    CAST(round(ln(CAST(n_raw + 1 AS DOUBLE) / CAST(rt + 64 AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS rp
         |  FROM census CROSS JOIN tot),
         |w AS (
         |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         |    CAST(sum(p.tp * tf.tf) - sum(p.rp * tf.tf) AS DOUBLE) AS logweight
         |  FROM tf JOIN priced p USING (bucket) GROUP BY tf.doc_id),
         |imp AS (
         |  SELECT doc_id, n_tokens, logweight,
         |    CAST(round(exp(least(greatest(round(logweight * 8, 0),
         |        -96), 96) / 8) * 1000000.0, 0) AS BIGINT) AS importance,
         |    substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8) AS r
         |  FROM w),
         |c AS (
         |  SELECT doc_id, n_tokens, logweight, importance,
         |    CAST(sum(importance) OVER (ORDER BY r, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
         |  FROM imp),
         |tw AS (SELECT CAST(sum(importance) AS BIGINT) AS wt FROM imp),
         |s AS (
         |  SELECT doc_id, n_tokens, logweight, importance,
         |    hi - importance AS stream_offset,
         |    ((hi * 200 + wt - 1) // wt)
         |      - (((hi - importance) * 200 + wt - 1) // wt) AS n_copies
         |  FROM c, tw)
         |SELECT doc_id, n_tokens, logweight, importance,
         |  CAST(stream_offset AS BIGINT) AS stream_offset,
         |  CAST(n_copies AS BIGINT) AS n_copies
         |FROM s WHERE n_copies > 0 ORDER BY doc_id""".stripMargin,

    "q_perplexity_bands" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks WHERE length(token) > 0 GROUP BY doc_id, token),
         |vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS n_t
         |          FROM tf GROUP BY token),
         |total AS (SELECT CAST(sum(n_t) AS BIGINT) AS total FROM vocab),
         |priced AS (
         |  SELECT token,
         |    CAST(round(ln(CAST(total AS DOUBLE) / CAST(n_t AS DOUBLE)), 6)
         |         AS DECIMAL(18,6)) AS surprisal
         |  FROM vocab CROSS JOIN total),
         |s AS (
         |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         |    CAST(sum(p.surprisal * tf.tf) AS DOUBLE)
         |      / CAST(CAST(sum(tf.tf) AS BIGINT) AS DOUBLE) AS avg_surprisal
         |  FROM tf JOIN priced p USING (token) GROUP BY tf.doc_id),
         |cuts AS (
         |  SELECT quantile_cont(avg_surprisal, 0.25) AS lo,
         |         quantile_cont(avg_surprisal, 0.75) AS hi
         |  FROM s)
         |SELECT doc_id, n_tokens, avg_surprisal,
         |  CASE WHEN avg_surprisal < lo THEN 'low'
         |       WHEN avg_surprisal > hi THEN 'high'
         |       ELSE 'mid' END AS band
         |FROM s CROSS JOIN cuts ORDER BY doc_id""".stripMargin,

    "q_token_coverage" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occ
         |          FROM toks WHERE length(token) > 0 GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_occ) AS BIGINT) AS total FROM vocab),
         |top AS (
         |  SELECT n_occ, CAST(row_number() OVER (ORDER BY n_occ DESC, token)
         |                     AS BIGINT) AS rk
         |  FROM vocab ORDER BY n_occ DESC, token LIMIT 1000),
         |cuts(vocab_size) AS (VALUES (10), (100), (1000))
         |SELECT CAST(vocab_size AS INTEGER) AS vocab_size,
         |  CAST(sum(n_occ) AS BIGINT) AS covered_occurrences,
         |  tot.total AS total_occurrences,
         |  CAST(sum(n_occ) AS DOUBLE) / CAST(tot.total AS DOUBLE) AS coverage
         |FROM top JOIN cuts ON top.rk <= cuts.vocab_size CROSS JOIN tot
         |GROUP BY vocab_size, tot.total ORDER BY vocab_size""".stripMargin,

    // HUGEINT + `//` mirrors Spark's DECIMAL(38,0) + floor() exactly
    // (all quantities non-negative).
    "q_chi2_assoc" ->
      """WITH obs AS (
        |  SELECT source AS a, lang AS b, count(*) AS observed
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |cells AS (
        |  SELECT x.a, y.b, COALESCE(o.observed, 0) AS observed
        |  FROM (SELECT DISTINCT a FROM obs) x
        |  CROSS JOIN (SELECT DISTINCT b FROM obs) y
        |  LEFT JOIN obs o ON o.a = x.a AND o.b = y.b),
        |rt AS (SELECT a, CAST(sum(observed) AS BIGINT) AS row_total
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT b, CAST(sum(observed) AS BIGINT) AS col_total
        |       FROM cells GROUP BY 1),
        |g AS (SELECT CAST(sum(observed) AS BIGINT) AS grand_total FROM cells),
        |e AS (
        |  SELECT c.a, c.b, c.observed, rt.row_total, ct.col_total,
        |    g.grand_total,
        |    CAST(CAST(rt.row_total AS HUGEINT) * ct.col_total * 1000000
        |      // g.grand_total AS BIGINT) AS expected_micro
        |  FROM cells c JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN g)
        |SELECT a, b, observed, row_total, col_total, grand_total,
        |  expected_micro,
        |  CASE WHEN expected_micro = 0 THEN NULL ELSE
        |    CAST((CAST(observed AS HUGEINT) * 1000000 - expected_micro)
        |      * (CAST(observed AS HUGEINT) * 1000000 - expected_micro)
        |      // expected_micro AS BIGINT) END AS term_micro
        |FROM e ORDER BY a, b""".stripMargin,

    "q_cramers_v" ->
      """WITH obs AS (
        |  SELECT source AS a, lang AS b, count(*) AS observed
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |cells AS (
        |  SELECT x.a, y.b, COALESCE(o.observed, 0) AS observed
        |  FROM (SELECT DISTINCT a FROM obs) x
        |  CROSS JOIN (SELECT DISTINCT b FROM obs) y
        |  LEFT JOIN obs o ON o.a = x.a AND o.b = y.b),
        |rt AS (SELECT a, CAST(sum(observed) AS BIGINT) AS row_total
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT b, CAST(sum(observed) AS BIGINT) AS col_total
        |       FROM cells GROUP BY 1),
        |g AS (SELECT CAST(sum(observed) AS BIGINT) AS grand_total FROM cells),
        |terms AS (
        |  SELECT c.a, c.b, g.grand_total,
        |    CAST(CAST(rt.row_total AS HUGEINT) * ct.col_total * 1000000
        |      // g.grand_total AS BIGINT) AS expected_micro,
        |    c.observed
        |  FROM cells c JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN g),
        |frozen AS (
        |  SELECT a, b, grand_total,
        |    CASE WHEN expected_micro = 0 THEN NULL ELSE
        |      CAST((CAST(observed AS HUGEINT) * 1000000 - expected_micro)
        |        * (CAST(observed AS HUGEINT) * 1000000 - expected_micro)
        |        // expected_micro AS BIGINT) END AS term_micro
        |  FROM terms)
        |SELECT CAST(count(DISTINCT a) AS BIGINT) AS card_a,
        |  CAST(count(DISTINCT b) AS BIGINT) AS card_b,
        |  max(grand_total) AS n,
        |  CAST(sum(term_micro) AS BIGINT) AS chi2_micro,
        |  CAST(round(sqrt(CAST(sum(term_micro) AS DOUBLE) / 1e6 /
        |    (CAST(max(grand_total) AS DOUBLE) *
        |     (CAST(least(count(DISTINCT a), count(DISTINCT b)) AS DOUBLE)
        |      - 1.0))) * 1e6) AS BIGINT) AS cramers_v_ppm
        |FROM frozen""".stripMargin,

    "q_ks_drift" ->
      """WITH c AS (
        |  SELECT source AS grp, CAST(round(n_chars * 1000) AS BIGINT)
        |      AS v_milli, count(*) AS cnt
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT v_milli FROM c),
        |grps AS (SELECT DISTINCT grp FROM c WHERE grp <> 'src0'),
        |gdense AS (
        |  SELECT g.grp, v.v_milli, COALESCE(c.cnt, 0) AS cnt
        |  FROM grps g CROSS JOIN grid v
        |  LEFT JOIN c ON c.grp = g.grp AND c.v_milli = v.v_milli),
        |gcdf AS (
        |  SELECT grp, v_milli,
        |    CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY v_milli)
        |      AS BIGINT) AS cum_g,
        |    CAST(sum(cnt) OVER (PARTITION BY grp) AS BIGINT) AS tot_g
        |  FROM gdense),
        |bdense AS (
        |  SELECT v.v_milli, COALESCE(b.cnt, 0) AS cnt
        |  FROM grid v LEFT JOIN (
        |    SELECT v_milli, CAST(sum(cnt) AS BIGINT) AS cnt
        |    FROM c WHERE grp = 'src0' GROUP BY 1) b USING (v_milli)),
        |bcdf AS (
        |  SELECT v_milli,
        |    CAST(sum(cnt) OVER (ORDER BY v_milli) AS BIGINT) AS cum_b,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS tot_b
        |  FROM bdense)
        |SELECT grp AS source, max(tot_g) AS n_group,
        |  max(tot_b) AS n_baseline,
        |  max(CAST(abs(CAST(cum_g AS HUGEINT) * tot_b
        |    - CAST(cum_b AS HUGEINT) * tot_g) * 1000000
        |    // (CAST(tot_g AS HUGEINT) * tot_b) AS BIGINT)) AS ks_ppm
        |FROM gcdf JOIN bcdf USING (v_milli)
        |WHERE tot_g > 0 AND tot_b > 0
        |GROUP BY grp ORDER BY source""".stripMargin,

    "q_hhi_concentration" ->
      """WITH p AS (
        |  SELECT lang, source, count(*) AS cnt
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(count(DISTINCT source) AS BIGINT) AS n_parts,
        |  CAST(sum(cnt) AS BIGINT) AS total,
        |  CAST(sum(CAST(cnt AS HUGEINT) * cnt) * 1000000
        |    // (CAST(sum(cnt) AS HUGEINT) * sum(cnt)) AS BIGINT) AS hhi_ppm
        |FROM p GROUP BY 1 ORDER BY lang""".stripMargin,

    "q_source_divergence" ->
      s"""WITH tok2 AS (
         |  SELECT source, token FROM (
         |    SELECT source, unnest(string_split($normSql, ' ')) AS token
         |    FROM documents WHERE source IS NOT NULL) t
         |  WHERE length(token) > 0),
         |gl AS (SELECT token, count(*) AS cnt FROM tok2 GROUP BY 1),
         |vocab AS (SELECT token FROM gl ORDER BY cnt DESC, token LIMIT 500),
         |bc AS (
         |  SELECT source,
         |    CASE WHEN v.token IS NOT NULL THEN t.token ELSE ' oov' END
         |      AS bucket,
         |    count(*) AS n
         |  FROM tok2 t LEFT JOIN vocab v USING (token) GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS total
         |        FROM bc GROUP BY 1),
         |pairs AS (
         |  SELECT ta.source AS source_a, tb.source AS source_b,
         |    ta.total AS ta, tb.total AS tb
         |  FROM tot ta JOIN tot tb ON ta.source < tb.source),
         |sides AS (
         |  SELECT p.source_a, p.source_b, p.ta, p.tb, bc.bucket
         |  FROM pairs p JOIN bc ON bc.source = p.source_a
         |  UNION
         |  SELECT p.source_a, p.source_b, p.ta, p.tb, bc.bucket
         |  FROM pairs p JOIN bc ON bc.source = p.source_b),
         |g AS (
         |  SELECT s.source_a, s.source_b, s.ta, s.tb,
         |    COALESCE(ba.n, 0) AS na, COALESCE(bb.n, 0) AS nb
         |  FROM sides s
         |  LEFT JOIN bc ba ON ba.source = s.source_a AND ba.bucket = s.bucket
         |  LEFT JOIN bc bb ON bb.source = s.source_b AND bb.bucket = s.bucket),
         |terms AS (
         |  SELECT source_a, source_b, ta, tb, na, nb,
         |    CASE WHEN na = 0 THEN CAST(0 AS DECIMAL(18,6)) ELSE
         |      CAST(round(ln(CAST(na AS DOUBLE) * CAST(tb AS DOUBLE) * 2.0
         |        / (CAST(na AS DOUBLE) * CAST(tb AS DOUBLE)
         |           + CAST(nb AS DOUBLE) * CAST(ta AS DOUBLE))), 6)
         |        AS DECIMAL(18,6)) END AS la,
         |    CASE WHEN nb = 0 THEN CAST(0 AS DECIMAL(18,6)) ELSE
         |      CAST(round(ln(CAST(nb AS DOUBLE) * CAST(ta AS DOUBLE) * 2.0
         |        / (CAST(na AS DOUBLE) * CAST(tb AS DOUBLE)
         |           + CAST(nb AS DOUBLE) * CAST(ta AS DOUBLE))), 6)
         |        AS DECIMAL(18,6)) END AS lb
         |  FROM g)
         |SELECT source_a, source_b, max(ta) AS n_tokens_a,
         |  max(tb) AS n_tokens_b,
         |  CAST(sum(la * na) AS DOUBLE) / (CAST(max(ta) AS DOUBLE) * 2.0)
         |  + CAST(sum(lb * nb) AS DOUBLE) / (CAST(max(tb) AS DOUBLE) * 2.0)
         |    AS js_nats
         |FROM terms GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    "q_zipf_fit" ->
      s"""WITH tok2 AS (
         |  SELECT source, token FROM (
         |    SELECT source, unnest(string_split($normSql, ' ')) AS token
         |    FROM documents WHERE source IS NOT NULL) t
         |  WHERE length(token) > 0),
         |c AS (SELECT source, token, count(*) AS n FROM tok2 GROUP BY 1, 2),
         |r AS (
         |  SELECT source, n, row_number() OVER (PARTITION BY source
         |    ORDER BY n DESC, token) AS rank
         |  FROM c),
         |pts AS (
         |  SELECT source,
         |    CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(10,6)) AS x,
         |    CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(10,6)) AS y
         |  FROM r WHERE rank <= 100),
         |agg AS (
         |  SELECT source, CAST(count(*) AS DECIMAL(6,0)) AS np,
         |    CAST(sum(x) AS DECIMAL(12,6)) AS sx,
         |    CAST(sum(y) AS DECIMAL(12,6)) AS sy,
         |    CAST(sum(x * y) AS DECIMAL(24,12)) AS sxy,
         |    CAST(sum(x * x) AS DECIMAL(24,12)) AS sxx
         |  FROM pts GROUP BY 1)
         |SELECT source, CAST(np AS BIGINT) AS n_points,
         |  CAST(np * sxy - sx * sy AS DOUBLE)
         |    / CAST(np * sxx - sx * sx AS DOUBLE) AS zipf_slope
         |FROM agg WHERE np >= 3 ORDER BY source""".stripMargin
  )
}
