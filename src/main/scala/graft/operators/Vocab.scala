package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.Census

/** Corpus-level token statistics: the vocabulary/frequency pass every
  * tokenizer-training and TF-IDF pipeline starts from.
  *
  * Scale shape: explode → hash-partitioned counts with map-side partial
  * aggregation (the per-partition combine collapses each partition's
  * token stream to its local (token, doc) counts before any shuffle, so
  * shuffle volume is O(distinct pairs per partition), not O(corpus
  * tokens)).
  * Top-K lands in TakeOrderedAndProject: each partition keeps K rows and
  * one task merges P·K — correct for tokenizer-sized K (tens of
  * thousands), never a corpus-sized funnel.
  */
object Vocab {

  /** (token, n_occurrences, n_docs) over the whitespace-normalized corpus.
    * Count both total occurrences (vocabulary weighting) and per-doc
    * presence (document frequency — the IDF denominator) in ONE pass:
    * dup-free token lists per doc would need a second explode. */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__doc"),
        explode(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      // two-level aggregate: (token, doc) partials first, then token —
      // count_distinct(doc) in one level would keep a per-token doc SET
      // in the aggregation buffer (unbounded for stop-words at corpus
      // scale); this way every buffer is a pair of counters.
      .groupBy(col("token"), col("__doc"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("token"))
      .agg(sum(col("__n")).as("n_occurrences"),
        count(lit(1)).as("n_docs"))

  /** Top-K vocabulary by total occurrences (ties broken by token string so
    * the cut is deterministic across partitionings and engines). */
  def vocabTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    tokenStats(df, idCol, textCol)
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)
  }

  /** TOKEN-COVERAGE CURVE — for each candidate vocabulary size k, what
    * fraction of the corpus's token OCCURRENCES the top-k tokens cover:
    * the sizing curve a tokenizer/vocab trainer reads before freezing a
    * budget (where does coverage flatten?), [[vocabCoverage]]'s
    * corpus-level companion (that reports per-source OOV under ONE cut;
    * this sweeps the cut). The cut is [[vocabTopK]]'s deterministic
    * (occurrences desc, token) order, so every point on the curve is the
    * coverage that EXACT frozen vocab would achieve. Output:
    * (vocab_size, covered_occurrences, total_occurrences, coverage) with
    * one IEEE division per cut; cuts larger than the vocabulary report
    * full-vocabulary coverage.
    *
    * Scale shape: the corpus collapses to vocab-scale token stats
    * map-side (two derivations of it: the total aggregate and the top-K
    * TakeOrderedAndProject — persist the stats frame at 100 TB if two
    * passes matter); everything after is MODEL-scale — the top-max(cuts)
    * rows join a cuts-dimension frame and collapse to one row per cut.
    * The rank window orders max(cuts) rows, never the vocabulary. */
  def tokenCoverageCurve(df: DataFrame, idCol: String, textCol: String,
                         cuts: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    require(cuts.nonEmpty && cuts.forall(_ > 0), "cuts must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val stats = tokenStats(df, idCol, textCol)
    val total = stats.agg(sum(col("n_occurrences"))).head(1).headOption
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .getOrElse(0L)
    if (total == 0L)
      return df.filter(lit(false))
        .select(lit(0).as("vocab_size"), lit(0L).as("covered_occurrences"),
          lit(0L).as("total_occurrences"), lit(0.0).as("coverage"))
    val wTop = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("token"))
    val top = stats.orderBy(col("n_occurrences").desc, col("token"))
      .limit(cuts.max)
      .withColumn("__rk", row_number().over(wTop))
    top.join(broadcast(cuts.distinct.sorted.toDF("vocab_size")),
        col("__rk") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(sum(col("n_occurrences")).as("covered_occurrences"))
      .select(col("vocab_size"), col("covered_occurrences"),
        lit(total).as("total_occurrences"),
        (col("covered_occurrences").cast("double") / lit(total.toDouble))
          .as("coverage"))
  }

  /** Per-document unigram language-model surprisal — the KenLM-style
    * perplexity quality filter (CCNet's selection signal) reduced to its
    * deterministic unigram core: each token t costs ln(total/n_t) nats
    * (its corpus self-information), and a document scores the AVERAGE
    * cost of its token stream. High-average docs are rare-token soup
    * (mojibake, id dumps), low-average docs are stopword boilerplate —
    * the two tails a perplexity band-pass filter trims.
    *
    * Cross-engine float discipline (the oracle hash-compares the
    * output): ln() differs by ulps across libms, so each DISTINCT
    * token's surprisal is rounded ONCE to 6 decimals and frozen as
    * DECIMAL(18,6) — a vocab-scale set of values where a sub-ulp libm
    * disagreement would have to land within ~1e-15 of a rounding
    * boundary to diverge. The per-doc accumulation is then an EXACT
    * decimal sum (integer-scaled, order-free — a raw double sum would
    * follow partition order), and the average is ONE IEEE division of
    * bit-identical operands.
    *
    * Scale shape: one corpus pass collapses to doc-level TF with
    * map-side combine; the vocab aggregate and the corpus total (a
    * window over VOCAB rows — the [[mixtureReport]] scalar pattern) are
    * vocab-scale; the TF↔vocab price join shuffles TF rows by token.
    * At 100 TB the TF table is the corpus's distinct (doc, token) pairs
    * — already far smaller than the token stream — and the join can
    * broadcast instead whenever the priced vocab fits. */
  def docSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("token")).agg(sum(col("tf")).as("n_t"))
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val priced = vocab
      .withColumn("__total", sum(col("n_t")).over(w))
      .withColumn("surprisal",
        round(log(col("__total").cast("double") / col("n_t").cast("double")), 6)
          .cast("decimal(18,6)"))
      .select(col("token"), col("surprisal"))
    tf.join(priced, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("surprisal") * col("tf")).as("__sum"))
      .select(col("doc_id"), col("n_tokens"),
        (col("__sum").cast("double") / col("n_tokens").cast("double"))
          .as("avg_surprisal"))
  }

  /** Per-document BIGRAM language-model surprisal — [[docSurprisal]]'s
    * next-order step (the KenLM ladder's n=2 rung): each adjacent token
    * pair (w1, w2) costs ln(n(w1·)/n(w1 w2)) nats — the conditional
    * self-information −ln p(w2|w1) under the corpus bigram MLE — and a
    * document scores the AVERAGE over its bigram stream. The unigram
    * filter prices token RARITY; this prices token ORDER: word salad
    * built from common tokens (scrambled text, keyword stuffing) scores
    * high where the unigram filter waves it through, and boilerplate
    * scores near zero (its bigrams are corpus-frequent in exactly that
    * order). Documents with fewer than 2 tokens have no bigrams and are
    * absent from the output.
    *
    * Cross-engine float discipline (the oracle hash-compares raw
    * doubles): identical to [[docSurprisal]] — each DISTINCT bigram's
    * cost is rounded once to 6 decimals and frozen as DECIMAL(18,6) at
    * vocab scale, per-doc accumulation is an exact order-free decimal
    * sum, the average is one IEEE division of bit-identical operands.
    *
    * Scale shape: one corpus pass collapses to per-doc bigram TF with
    * map-side combine; the pair table (distinct corpus bigrams) and its
    * left-marginal are vocab-scale aggregates of it; the price join
    * shuffles TF rows by bigram. The bigram vocab is larger than the
    * unigram one but still far below the token stream — and the
    * conditional denominator n(w1·) is the PAIR table's own marginal
    * (one more vocab-scale aggregate), never a second corpus pass. */
  def docBigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val arr = org.apache.spark.sql.functions.filter(
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))),
      t => length(t) > 0)
    // Neither the output nor the pricing needs the token STRINGS — only
    // bigram identity and counts — so tokens hash to 64-bit lanes once
    // per doc and every downstream key is a pair of longs ((h1, h2) is
    // effectively a 128-bit bigram key; a count-merging collision needs
    // two distinct tokens to collide at 64 bits first, ~vocab²/2⁶⁵).
    // Narrow fixed-width keys shrink both shuffle bytes and aggregate
    // comparisons; map-side partial aggregation stays (pre-partitioning
    // on the bigram key was tried — exchange reuse saved nothing at
    // local[32] and it forfeits the partial combine).
    val bg = df.select(col(idCol).as("doc_id"), arr.as("__a"))
      .filter(size(col("__a")) >= 2)
      .select(col("doc_id"), transform(col("__a"), t => xxhash64(t)).as("__h"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__h")) - 1),
        i => struct(element_at(col("__h"), i).as("w1"),
          element_at(col("__h"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    val pair = bg.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("n_pair"))
    val left = pair.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_left"))
    val priced = pair.join(left, Seq("w1"))
      .select(col("w1"), col("w2"),
        round(log(col("n_left").cast("double") / col("n_pair").cast("double")), 6)
          .cast("decimal(18,6)").as("surprisal"))
    bg.join(priced, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("surprisal") * col("tf")).as("__sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("__sum").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_surprisal"))
  }

  /** Per-source n-gram NOVELTY — the "is this source worth ingesting"
    * signal a mixture curator reads: of a source's distinct token
    * shingles, the fraction found in NO other source. Low novelty marks
    * a mirror/aggregator of corpus content; high novelty marks genuinely
    * new text (or noise — read it with the quality signals).
    *
    * Scale shape: the corpus collapses to DISTINCT (source, shingle-key)
    * pairs map-side-combinably (shingle text never shuffles — keys are
    * two independent xxhash64 lanes, 128 bits, because here a collision
    * MERGES two shingles in the census and biases counts, unlike the
    * candidate-generation uses where it only creates a verified-away
    * false candidate); the shingle census and the join back are
    * shingle-vocabulary-scale. Output: (source, n_shingles, n_unique,
    * novelty) with one IEEE division. */
  def sourceNovelty(df: DataFrame, textCol: String, sourceCol: String,
                    n: Int = 3): DataFrame =
    noveltyFromState(sourceNoveltyState(df, textCol, sourceCol, n))

  /** Incremental state for [[sourceNovelty]]: the DISTINCT
    * (source, shingle-key) pairs of a batch. The monitor's monoid is
    * set UNION (distinct-ness makes the fold idempotent — re-ingesting
    * a batch cannot inflate any count, the property the bloom-gated
    * dedup state shares), so the production loop maintains this table
    * per ingest batch; state is shingle-vocabulary-scale × sources,
    * never corpus-scale, and shingle text never enters it (two xxhash64
    * lanes, 128 bits — at census granularity a collision MERGES
    * shingles and biases counts, hence both lanes). */
  def sourceNoveltyState(df: DataFrame, textCol: String, sourceCol: String,
                         n: Int = 3): DataFrame =
    df.select(col(sourceCol).as("source"),
        explode(Dedup.shingles(col(textCol), n)).as("raw"))
      .select(col("source"),
        struct(xxhash64(col("raw")), xxhash64(lit(1), col("raw"))).as("sh"))
      .distinct()

  /** Fold a new batch's [[sourceNoveltyState]] into a running state:
    * set union — one distinct over the concatenation, associative,
    * commutative, idempotent (spec-proven fold ≡ full recompute). */
  def mergeNoveltyState(acc: DataFrame, delta: DataFrame): DataFrame =
    acc.unionByName(delta).distinct()

  /** Read the novelty report off maintained state — output-identical to
    * [[sourceNovelty]] on the union of the folded batches; everything
    * here is state-scale (the census and one bounded per-source
    * aggregate). */
  def noveltyFromState(state: DataFrame): DataFrame = {
    val census = state.groupBy(col("sh")).agg(count(lit(1)).as("n_sources"))
    state.join(census, Seq("sh"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_sources") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("source"), col("n_shingles"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
  }

  /** Per-document token Shannon entropy (nats) — the within-doc
    * diversity quality signal, complementing [[docSurprisal]] (which
    * prices tokens by CORPUS rarity): low entropy flags repetitive
    * boilerplate / keyword-stuffing (few tokens dominate), maximal
    * entropy (= ln n_tokens) flags id dumps where every token is
    * unique. H = ln(total) − (Σ tf·ln tf)/total over the doc's own
    * token distribution — the algebraic form whose inputs survive the
    * cross-engine float discipline:
    *
    * ln() differs by ulps across libms, so ln(tf) and ln(total) are
    * rounded ONCE to 6 decimals and frozen as DECIMAL(18,6) (the
    * [[docSurprisal]] freeze — a libm disagreement would have to land
    * within ~1e-15 of a rounding boundary to diverge). The numerator
    * total·ln(total)₆ − Σ tf·ln(tf)₆ is then EXACT decimal arithmetic
    * (order-free), and the entropy is ONE IEEE division of
    * bit-identical operands — raw doubles hash-match cross-engine.
    *
    * Scale shape: one corpus pass to doc-level TF with map-side
    * combine (the [[tokenStats]] first level); everything after is one
    * per-doc aggregation — no vocab join, no second pass. Docs with an
    * EMPTY token stream (null text upstream, all-whitespace) have no
    * TF rows and are absent from the output; a doc of one repeated
    * token has H = 0 exactly (ln cancels — the decimal freeze keeps
    * this identity, a raw-double pipeline would leak ulps). */
  def docEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dec = "decimal(18,6)"
    def ln6(c: org.apache.spark.sql.Column) =
      round(log(c.cast("double")), 6).cast(dec)
    val tf = df.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * ln6(col("tf"))).as("__s"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        ((col("n_tokens") * ln6(col("n_tokens")) - col("__s")).cast("double") /
          col("n_tokens").cast("double")).as("entropy"))
  }

  /** Per-source LANGUAGE PURITY — the mixture curator's "is this source
    * one language or a crawl-bucket grab bag" signal, read next to
    * [[sourceNovelty]] and the dup-rate monitors when deciding a
    * source's place in the training mixture: dominant language + its
    * share, and the Shannon entropy (nats) of the source's language
    * distribution over docs (0 = pure; ln n_langs = uniform mix).
    *
    * Same cross-engine float discipline as [[docEntropy]]: H =
    * ln(total)₆ − (Σ n_l·ln(n_l)₆)/total with ln frozen once at 6
    * decimals as DECIMAL(18,6), the numerator exact decimal arithmetic
    * (order-free), one IEEE division at the end; top_share is one IEEE
    * division of exact longs. Dominant-language ties break to the
    * lexicographically smallest language via min_by over (−count,
    * lang-is-null, lang) — counts are positive longs so the negation
    * cannot overflow, and the explicit is-null lane DEMOTES a NULL
    * lang group on ties (struct ordering would otherwise sort the
    * null field FIRST and elect it, where SQL `min(lang)` skips nulls
    * — the lane keeps both engines on "named lang wins ties; top_lang
    * is NULL only when the null group strictly dominates"). NULL langs
    * still count as a real category in n_langs and the entropy.
    *
    * Scale shape: one (source, lang) count aggregate — map-side
    * combinable, output bounded by sources × languages — then one
    * bounded per-source aggregate. No doc-scale join anywhere. */
  def langPurity(df: DataFrame, sourceCol: String,
                 langCol: String): DataFrame =
    langPurityFromCounts(langPurityState(df, sourceCol, langCol))

  /** The (source, lang, n) count table [[langPurity]] folds over — an
    * ADDITIVE monoid (counts of disjoint batches add per cell), so the
    * production loop can maintain it per ingest batch
    * ([[langPurityCensus]]) and read the purity report off folded state
    * without replaying documents — the
    * [[graft.operators.Monitoring.countState]] precedent applied to
    * the mixture-curation monitor. */
  def langPurityState(df: DataFrame, sourceCol: String,
                      langCol: String): DataFrame =
    df.select(col(sourceCol).as("source"), col(langCol).as("lang"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))

  /** [[langPurityState]]'s census shape. */
  val langPurityCensus: Census = Census(Seq("source", "lang"), Seq("n"))

  /** [[langPurity]]'s report off an existing (source, lang, n) count
    * table ([[langPurityState]] or a fold of maintained state) — the
    * entropy/top-share math always ran over census rows, so folded
    * state feeds it unchanged. */
  def langPurityFromCounts(counts: DataFrame): DataFrame = {
    val dec = "decimal(18,6)"
    def ln6(c: org.apache.spark.sql.Column) =
      round(log(c.cast("double")), 6).cast(dec)
    counts.groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        min_by(col("lang"),
          struct(-col("n"), col("lang").isNull, col("lang"))).as("top_lang"),
        max(col("n")).as("__top_n"),
        sum(col("n") * ln6(col("n"))).as("__s"))
      .select(col("source"), col("n_docs"), col("n_langs"), col("top_lang"),
        (col("__top_n").cast("double") / col("n_docs").cast("double"))
          .as("top_share"),
        ((col("n_docs") * ln6(col("n_docs")) - col("__s")).cast("double") /
          col("n_docs").cast("double")).as("lang_entropy"))
  }

  /** SpaceSaving capacity for a corpus of `n` docs: the `planesFor`/
    * `cellsFor` analog — sized so the sketch runs EXACT (capacity ≥
    * distinct keys) at verify scales, where the oracle can hash-compare
    * it against true counts, while staying a bounded buffer. At
    * production scale the caller fixes the capacity to its memory budget
    * instead and accepts the SpaceSaving ε = N/m error contract
    * ([[graft.functions.SpaceSavingAgg]]). */
  def capacityFor(n: Long, perDoc: Int = 4, floor: Int = 4096,
                  cap: Int = 1 << 20): Int =
    math.min(cap.toLong, math.max(floor.toLong, n / perDoc)).toInt

  /** Top-K heavy-hitter TOKEN PAIRS (bigrams) via the bounded-buffer
    * SpaceSaving aggregate — the scale path for "what co-occurrences
    * dominate the corpus" where the exact pair table is the key-space
    * blowup ([[tokenStats]] squared). One corpus pass feeds per-partition
    * m-entry buffers; partials merge to a single model-scale summary row
    * (m entries, like the IVF centroid collect), exploded and cut to K
    * by (count desc, pair asc). */
  def heavyHitterBigrams(df: DataFrame, idCol: String, textCol: String,
                         m: Int, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = filter(
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))),
      t => length(t) > 0)
    val grams = df
      .select(toks.as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__toks")) - 1),
        i => concat_ws(" ", slice(col("__toks"), i, lit(2))))).as("pair"))
    grams
      .agg(graft.functions.SpaceSaving.spaceSaving(col("pair"), m).as("__hh"))
      .select(explode(col("__hh")).as("h"))
      .select(col("h.item").as("pair"), col("h.est_count"), col("h.max_err"))
      .orderBy(col("est_count").desc, col("pair"))
      .limit(k)
  }

  /** Corpus mixture report: per `dims` group (source, lang, …) the doc
    * count, token count, and share of corpus tokens — the table a
    * mixture-rebalance decision reads. One scan + one aggregation
    * shuffle; the corpus total comes from an unpartitioned window over
    * the GROUP rows (mixture dims are low-cardinality by definition —
    * bounded model data, not a corpus funnel), and it sums LONGS, so the
    * total is exact regardless of frame order. */
  def mixtureReport(df: DataFrame, textCol: String, dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "at least one mixture dimension")
    require(!df.columns.contains("__tok"), "column __tok collides")
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    df.select(dims.map(col) :+
        TextAnalysis.wsTokenCount(col(textCol)).cast("long").as("__tok"): _*)
      .groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"))
      .withColumn("token_frac",
        col("n_tokens").cast("double") / sum(col("n_tokens")).over(w).cast("double"))
  }

  /** TEMPERATURE-FLATTENED mixture shares (Conneau & Lample 2019 — the
    * multilingual-pretraining sampling recipe, also mBART/mT5's): given
    * the per-stratum token masses of [[mixtureReport]], the target
    * share is q_i ∝ p_i^alpha with alpha = 1/T ∈ (0, 1] — alpha = 1 is
    * proportional sampling, smaller alpha flattens the head so
    * low-resource strata (languages, sources) are up-sampled without
    * ever being swamped. Output per stratum: the report's n_docs /
    * n_tokens / token_frac plus `q_share` (the temperature target) and
    * `boost` = q/p — the epoch multiplier a sampler applies (> 1 =
    * up-sample; feed ∝ q_share token budgets to [[Sampling
    * .mixtureRebalance]] or boost-scaled weights to the PPS sampler).
    *
    * Cross-engine float discipline: p = n/N is one IEEE division of
    * exact longs (bit-identical); p^alpha is transcendental but
    * MODEL-scale — one value per stratum, the vocab-ln precedent — so
    * it freezes once at 6 decimals as DECIMAL(18,6); the normalizer is
    * an exact decimal sum over the bounded stratum frame; q_share and
    * boost are IEEE chains of bit-identical operands. Zero-token
    * strata hold p = 0 → q = 0 exactly (0^alpha = 0 for alpha > 0 on
    * both engines) with NULL boost (0/0 has no epoch reading).
    *
    * Scale shape: [[mixtureReport]]'s one aggregation; everything
    * after runs on the bounded stratum frame (unpartitioned windows
    * over model data, the source_mix pattern). */
  def temperatureMix(df: DataFrame, textCol: String, dims: Seq[String],
                     alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    mixtureReport(df, textCol, dims)
      .withColumn("__pa",
        round(pow(col("token_frac"), lit(alpha)), 6).cast("decimal(18,6)"))
      .withColumn("q_share",
        col("__pa").cast("double") / sum(col("__pa")).over(w).cast("double"))
      .withColumn("boost",
        when(col("token_frac") > 0.0, col("q_share") / col("token_frac")))
      .drop("__pa")
  }

  /** DoReMi domain reweighting (Xie et al. 2023, "DoReMi: Optimizing
    * Data Mixtures Speeds Up Language Model Pretraining") — the third
    * leg of the mixture family next to [[temperatureMix]] (heuristic
    * flattening) and [[dsirWeights]] (per-document selection): learn
    * PER-DOMAIN mixture weights by exponentiated-gradient ascent on the
    * domains' EXCESS LOSS, up-weighting the domains where a stronger
    * model still has the most to gain.
    *
    * The paper's excess loss is proxy-minus-reference model loss,
    * re-estimated as the proxy trains; inside a batch engine the
    * deterministic stand-in is the corpus's own LM ladder — excess_i =
    * max(0, avg unigram surprisal − avg bigram surprisal) per domain in
    * nats/position: how much knowing one token of context improves
    * prediction on that domain, i.e. how much learnable structure the
    * domain carries beyond token frequencies (id dumps and boilerplate
    * score near zero from opposite ends; natural prose scores high).
    * λ is therefore STATIC across the `steps` multiplicative-weights
    * iterations — each step applies the paper's update
    * α ← normalize(α · exp(η·λ)), then smooths α ← (1−c)·α + c·u —
    * which is the documented simplification: re-estimating λ per step
    * is the proxy TRAINING loop, outside engine scope (a maintained
    * census under pinned prices is the streaming completion).
    *
    * Cross-engine float discipline (the oracle hash-compares doubles):
    * both per-domain averages divide EXACT decimal sums (the frozen
    * DECIMAL(18,6) token/bigram prices of [[docSurprisal]] /
    * [[docBigramSurprisal]], weighted by exact long counts) by exact
    * longs — one IEEE division each; exp(η·λ) is the one transcendental
    * and is MODEL-scale (one value per domain), so it freezes once at 6
    * decimals as DECIMAL(18,6) (the [[temperatureMix]] p^α precedent).
    * Each MW step's unnormalized α·m product re-freezes at 6 decimals
    * BEFORE the normalizer sum — the operands are bit-identical doubles
    * on both engines by then, so the round is deterministic, and the
    * normalizer becomes an exact order-free decimal sum over the
    * bounded domain frame instead of an order-dependent double sum.
    * The smoothing chain (1−c)·(p/S) + c/K is IEEE on bit-identical
    * operands in pinned operand order.
    *
    * Scale shape: ONE corpus token pass per LM rung, each collapsing
    * map-side to (domain, token[pair]) counts — the corpus never
    * shuffles as rows; prices are vocab-scale aggregates of those
    * censuses (the [[docSurprisal]] shapes keyed by domain instead of
    * doc); everything after the two domain collapses runs on the
    * ≤ domains-row frame via unpartitioned windows (model data, the
    * temperatureMix pattern — `steps` chained windows over a handful of
    * rows). At 100 TB: two token-stream scans, two vocab-scale
    * exchanges, zero corpus-scale joins.
    *
    * Output per domain: n_tokens / n_bigrams (exact), excess_loss
    * (nats/position, double), token_frac (baseline share), weight (the
    * DoReMi mixture weight, Σ=1 up to IEEE), boost = weight/token_frac
    * (the epoch multiplier downstream samplers consume, NULL on a
    * zero-token domain — the temperatureMix convention). */
  def doremiWeights(df: DataFrame, textCol: String, domainCol: String,
                    eta: Double = 1.0, smoothing: Double = 1e-3,
                    steps: Int = 5): DataFrame = {
    // One-shot path: build each lane's (domain, gram) count table ONCE
    // and PERSIST it — prices and the census are both aggregates of it,
    // and without the pin lineage re-runs the corpus token explode per
    // consumer (5 corpus scans at 100 TB; the sourceDivergence
    // 28-scans lesson). The frames are (domains × vocab)-scale, far
    // below the corpus. The maintained path ([[doremiPrices]] +
    // [[doremiLmState]]) keeps separate fits by design — prices are
    // pinned there, never rebuilt per batch.
    val dec = "decimal(18,6)"
    val w = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val toks = TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))
    val scored = df.filter(col(domainCol).isNotNull)
    val tfu = scored
      .select(col(domainCol).as("domain"), explode(toks).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("domain"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persist(lvl)
    val uniPrices = tfu.groupBy(col("token")).agg(sum(col("tf")).as("n_t"))
      .withColumn("__total", sum(col("n_t")).over(w))
      .withColumn("surprisal",
        round(log(col("__total").cast("double") / col("n_t").cast("double")), 6)
          .cast(dec))
      .select(col("token"), col("surprisal"))
    val uni = tfu.join(uniPrices, Seq("token"))
      .groupBy(col("domain"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("surprisal") * col("tf")).as("su"))
    val arr = filter(toks, t => length(t) > 0)
    val bg = scored
      .select(col(domainCol).as("domain"), arr.as("__a"))
      .filter(size(col("__a")) >= 2)
      .select(col("domain"), explode(transform(
        sequence(lit(1), size(col("__a")) - 1),
        i => struct(element_at(col("__a"), i).as("w1"),
          element_at(col("__a"), i + 1).as("w2")))).as("p"))
      .groupBy(col("domain"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("tf"))
      .persist(lvl)
    val pair = bg.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("n_pair"))
    val lft = pair.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_left"))
    val biPrices = pair.join(lft, Seq("w1"))
      .withColumn("surprisal",
        round(log(col("n_left").cast("double") / col("n_pair").cast("double")), 6)
          .cast(dec))
      .select(col("w1"), col("w2"), col("surprisal"))
    val bi = bg.join(biPrices, Seq("w1", "w2"))
      .groupBy(col("domain"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("surprisal") * col("tf")).as("sb"))
    val census = uni.join(bi, Seq("domain"), "full_outer")
      .select(col("domain"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("su"), lit(0).cast(dec)).as("su"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sb"), lit(0).cast(dec)).as("sb"))
    doremiFromCensus(census, eta, smoothing, steps)
  }

  /** The two frozen LM price tables [[doremiWeights]] scores with —
    * (token, surprisal) unigram self-information and (w1, w2, surprisal)
    * conditional bigram MLE, both round-6 DECIMAL(18,6) (the
    * [[docSurprisal]] / [[docBigramSurprisal]] freeze). Split out as the
    * PINNED MODEL for maintained excess-loss state (the psiCuts rule):
    * fit ONCE over a reference corpus, then every batch scores against
    * the same vocab-scale tables — per-batch refits would price the
    * same token differently across appends, making folded sums
    * incomparable. Vocab-scale frames; broadcast when they fit. */
  def doremiPrices(df: DataFrame, textCol: String): (DataFrame, DataFrame) = {
    val dec = "decimal(18,6)"
    val w = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    val toks = TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))
    val tu = df.select(explode(toks).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("n_t"))
    val uni = tu
      .withColumn("__total", sum(col("n_t")).over(w))
      .withColumn("surprisal",
        round(log(col("__total").cast("double") / col("n_t").cast("double")), 6)
          .cast(dec))
      .select(col("token"), col("surprisal"))
    val arr = filter(toks, t => length(t) > 0)
    val pair = df.select(arr.as("__a"))
      .filter(size(col("__a")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__a")) - 1),
        i => struct(element_at(col("__a"), i).as("w1"),
          element_at(col("__a"), i + 1).as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val lft = pair.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_left"))
    val bi = pair.join(lft, Seq("w1"))
      .withColumn("surprisal",
        round(log(col("n_left").cast("double") / col("n_pair").cast("double")), 6)
          .cast(dec))
      .select(col("w1"), col("w2"), col("surprisal"))
    (uni, bi)
  }

  /** The (domain, n_tokens, su, n_bigrams, sb) LM-cost census
    * [[doremiWeights]] reduces to under pinned prices — an ADDITIVE
    * monoid (exact long counts + exact decimal cost sums), so the
    * excess-loss monitor rides the generic streaming census maintainer:
    * per-batch censuses folded by domain-wise sums equal the one-pass
    * census exactly. NULL domains are excluded (unattributable rows
    * can't move a domain weight); tokens/bigrams ABSENT from the pinned
    * price tables drop from the sums (the pinned-model OOV contract —
    * maintenance-time novel vocabulary is invisible to a frozen price,
    * exactly like a PSI bucket fit can't see a new mode; refit to see
    * it). Lanes are zero-filled (full outer), never dropped: a batch
    * whose domain has unigram mass but no bigrams still banks the
    * unigram lane. The price tables are the PINNED model
    * ([[doremiPrices]], fit once over a reference corpus, the psiCuts
    * rule): pass the SAME two frames to every maintained batch — a
    * per-batch refit would cost the same token differently across
    * appends and corrupt the fold. */
  def doremiLmState(df: DataFrame, domainCol: String, textCol: String,
                    uniPrices: DataFrame, biPrices: DataFrame): DataFrame = {
    val dec = "decimal(18,6)"
    val toks = TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))
    val scored = df.filter(col(domainCol).isNotNull)
    val tfu = scored
      .select(col(domainCol).as("domain"), explode(toks).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("domain"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val uni = tfu.join(uniPrices, Seq("token"))
      .groupBy(col("domain"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("surprisal") * col("tf")).as("su"))
    val arr = filter(toks, t => length(t) > 0)
    val bg = scored
      .select(col(domainCol).as("domain"), arr.as("__a"))
      .filter(size(col("__a")) >= 2)
      .select(col("domain"), explode(transform(
        sequence(lit(1), size(col("__a")) - 1),
        i => struct(element_at(col("__a"), i).as("w1"),
          element_at(col("__a"), i + 1).as("w2")))).as("p"))
      .groupBy(col("domain"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("tf"))
    val bi = bg.join(biPrices, Seq("w1", "w2"))
      .groupBy(col("domain"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("surprisal") * col("tf")).as("sb"))
    uni.join(bi, Seq("domain"), "full_outer")
      .select(col("domain"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("su"), lit(0).cast(dec)).as("su"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sb"), lit(0).cast(dec)).as("sb"))
  }

  /** [[doremiLmState]]'s census shape. */
  val doremiCensus: Census =
    Census(Seq("domain"), Seq("n_tokens", "su", "n_bigrams", "sb"))

  /** [[doremiWeights]]'s multiplicative-weights chain over an
    * already-built LM-cost census — the direct entry point for counts
    * folded from maintained state ([[doremiCensus]]). Domains missing
    * either lane (no priced tokens or no priced bigrams) have no
    * excess-loss reading and are excluded, matching the one-shot
    * operator's inner lane join. All the float discipline lives in the
    * parent's scaladoc; the census is exact, so a fold and a one-pass
    * census run the SAME arithmetic here on the SAME values. */
  def doremiFromCensus(census: DataFrame, eta: Double = 1.0,
                       smoothing: Double = 1e-3, steps: Int = 5): DataFrame = {
    require(eta > 0, s"eta must be positive, got $eta")
    require(smoothing >= 0 && smoothing < 1,
      s"smoothing must be in [0, 1), got $smoothing")
    require(steps >= 1 && steps <= 64, s"steps must be in [1, 64], got $steps")
    val dec = "decimal(18,6)"
    val w = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    val lam = greatest(
      col("su").cast("double") / col("n_tokens").cast("double") -
        col("sb").cast("double") / col("n_bigrams").cast("double"),
      lit(0.0))
    val base = census
      .filter(col("n_tokens") > 0L && col("n_bigrams") > 0L)
      .withColumn("excess_loss", lam)
      .withColumn("__m", round(exp(lit(eta) * col("excess_loss")), 6).cast(dec))
      .withColumn("token_frac",
        col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(w).cast("double"))
      .withColumn("__k", count(lit(1)).over(w).cast("double"))
      .withColumn("__alpha", lit(1.0) / col("__k"))
    // steps MW iterations over the bounded domain frame: refreeze the
    // unnormalized product, exact-decimal normalizer, smooth toward u.
    // The freeze is k-SCALED — round(k·α·m, 6), i.e. 6 decimals
    // RELATIVE to the uniform weight 1/k — so high-cardinality domain
    // frames (α ~ 1/k small in absolute terms) don't quantize live
    // weights to exactly 0; only domains below 1e-6 of uniform flush,
    // and smoothing floors those anyway. k is a constant within the
    // frame, so scaling every term leaves the normalized ratio's
    // INTENT unchanged (the frozen decimals differ — the oracle twin
    // runs the identical k-scaled chain). If a degenerate census still
    // freezes every product to 0 (all m underflow), the step KEEPS the
    // previous iterate instead of dividing 0/0 into NaN weights.
    val stepped = (1 to steps).foldLeft(base) { (f, _) =>
      f.withColumn("__p",
          round(col("__k") * col("__alpha") * col("__m").cast("double"), 6).cast(dec))
        .withColumn("__s", sum(col("__p")).over(w).cast("double"))
        .withColumn("__alpha",
          when(col("__s") > 0.0,
            lit(1.0 - smoothing) *
              (col("__p").cast("double") / col("__s")) +
              lit(smoothing) / col("__k"))
            .otherwise(col("__alpha")))
        .drop("__p").drop("__s")
    }
    stepped.select(col("domain"), col("n_tokens"), col("n_bigrams"),
      col("excess_loss"), col("token_frac"),
      col("__alpha").as("weight"),
      when(col("token_frac") > 0.0, col("__alpha") / col("token_frac"))
        .as("boost"))
  }

  /** DoReMi END-TO-END: [[doremiWeights]] composed with
    * [[Sampling.mixtureRebalanceFrom]] — the learned domain weights
    * actually reshape the corpus (the artifact a pretraining pipeline
    * consumes; the q_dsir_select role for the domain-level recipe).
    * The weight frame flows straight into the rebalance as the target
    * table — ONE plan, no driver-side collect: budget B = min over
    * domains of tokens/weight, keep fraction w·B/tokens (the
    * highest-boost domain binds and is kept whole; everything else
    * downsamples to land the corpus ON the learned mixture at the
    * largest achievable size). Keep decisions ride the salted-md5 rank,
    * so rebalanced subsets nest across reruns and compose with splits.
    *
    * Exactness: the weights are hash-exact (see [[doremiWeights]]), the
    * rebalance arithmetic is [[Sampling.mixtureRebalance]]'s
    * add/mul/div/floor chain — a SQL twin reproduces the row set
    * bit-for-bit. DoReMi weights satisfy the rebalance contract by
    * construction (smoothing floors every weight above zero; the
    * normalizer pins Σ = 1).
    *
    * Scale shape: the weights' two corpus token passes + the rebalance's
    * one column-pruned count scan; the threshold table is
    * domain-dimension and broadcasts back onto the scan — the corpus
    * never shuffles as rows anywhere in the composition. */
  def doremiMix(df: DataFrame, idCol: String, textCol: String,
                domainCol: String, eta: Double = 1.0,
                smoothing: Double = 1e-3, steps: Int = 5,
                salt: String = "graft"): DataFrame = {
    val tgt = doremiWeights(df, textCol, domainCol, eta, smoothing, steps)
      .select(col("domain").as(domainCol), col("weight").as("__w"))
    Sampling.mixtureRebalanceFrom(
      df.select(col(idCol), col(domainCol),
        TextAnalysis.wsTokenCount(col(textCol)).cast("long").as("n_tokens")),
      idCol, domainCol, col("n_tokens"), tgt, salt)
  }

  /** Top-N within-document token CO-OCCURRENCE pairs by pointwise mutual
    * information — the collocation/phrase-mining signal (Church & Hanks
    * 1990) a vocabulary curator reads to find multi-word terms worth
    * promoting to single tokens, and a contamination analyst reads to
    * spot templated co-occurrence. Counts are document-presence based:
    * n_x = docs containing x, n_xy = docs containing BOTH, and
    * PMI = ln(N·n_xy / (n_x·n_y)) over the N docs with any token.
    *
    * Cross-engine float discipline (the oracle hash-compares the
    * output): the single ln per DISTINCT pair is rounded once to 6
    * decimals and frozen as DECIMAL(18,6) — the [[docSurprisal]]
    * freeze; everything else is integer arithmetic, and the top-N cut
    * orders by (pmi, token1, token2) so ties are deterministic.
    *
    * Scale shape: the corpus collapses to distinct (doc, token)
    * presence map-side; TWO valves bound the per-doc self-join, both
    * part of the operator's contract and mirrored in the oracle (the
    * Jaccard family's stop-shingle-valve economics). `dfCap` drops
    * corpus-frequent stop-tokens BEFORE pair generation (a token in
    * every doc would fan the join to corpus²); `docCap` bounds the
    * DEGENERATE DOCUMENT — a dictionary dump or id list with 100k
    * distinct RARE tokens would fan one join group to ~5×10⁹ pairs
    * with dfCap alone — by keeping each doc's `docCap`
    * rarest-then-lexicographic tokens (rank by (n_docs ASC, token):
    * rare tokens carry the PMI signal; the rank is deterministic
    * across engines, and the rank window keys __doc — the same key as
    * the pair join, so the exchange is reused, and its sort is per-doc
    * TOKEN-scale, never pair-scale). `minCount` prunes noise pairs
    * after counting. Per-doc work is thus ≤ min(docCap, capped
    * distinct tokens)², never corpus-quadratic. The top-N lands in
    * TakeOrderedAndProject. */
  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
               dfCap: Int = 10000, minCount: Int = 5, topN: Int = 50,
               docCap: Int = 2000): DataFrame = {
    require(dfCap > 0 && minCount > 0 && topN > 0 && docCap > 0,
      "dfCap, minCount, topN and docCap must be positive")
    val presence = df.select(col(idCol).as("__doc"),
        explode(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    val dfs = presence.groupBy(col("token")).agg(count(lit(1)).as("n_docs"))
    // N = docs with >= 1 token, BEFORE the cap: the cap prunes pair
    // CANDIDATES, not the universe the probabilities live in.
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__doc")).orderBy(col("n_docs"), col("token"))
    val capped = presence.join(dfs.filter(col("n_docs") <= dfCap), Seq("token"))
      .withColumn("__rk", row_number().over(wDoc))
      .filter(col("__rk") <= docCap).drop("__rk")
    val pairs = capped.select(col("__doc"), col("token").as("token1"),
        col("n_docs").as("n1"))
      .join(capped.select(col("__doc"), col("token").as("token2"),
        col("n_docs").as("n2")), Seq("__doc"))
      .filter(col("token1") < col("token2"))
      .groupBy(col("token1"), col("token2"))
      // n1/n2 are constant within their pair group — min() just carries
      // them through the aggregate without a second join back to dfs.
      .agg(count(lit(1)).as("n_pair"), min(col("n1")).as("n1"),
        min(col("n2")).as("n2"))
      .filter(col("n_pair") >= minCount)
    val total = presence.agg(count_distinct(col("__doc"))).head().getLong(0)
    pairs.select(col("token1"), col("token2"), col("n_pair"), col("n1"), col("n2"),
        // frozen decimal for the cut, rendered as double in the output
        // (the pageRank convention — exact decimal → one exact cast).
        round(log(lit(total.toDouble) * col("n_pair").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double"))), 6)
          .cast("decimal(18,6)").cast("double").as("pmi"))
      .orderBy(col("pmi").desc, col("token1"), col("token2"))
      .limit(topN)
  }

  /** Per-source out-of-vocabulary rate against the top-`k` corpus
    * vocabulary — the tokenizer-coverage report a BPE/vocab trainer
    * reads before freezing a vocabulary: which sources' token streams
    * would fragment into unknowns. The vocabulary cut is
    * [[vocabTopK]]'s (occurrences desc, token — deterministic across
    * engines); `oov_rate` = OOV occurrences / total occurrences per
    * source, one IEEE division of exact longs.
    *
    * Scale shape: one corpus pass collapses to (source, token) counts
    * map-side; the vocab is k rows — the membership join broadcasts at
    * any corpus size. Sources with zero non-empty tokens are absent. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    sourceCol: String, k: Int): DataFrame = {
    val st = df.select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
    val vocab = vocabTopK(df, idCol, textCol, k)
      .select(col("token"), lit(true).as("__in_vocab"))
    st.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, col("n")).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  /** HASHING-TRICK document feature vectors (Weinberger et al. 2009 —
    * HashingTF's deterministic core): each token hashes to one of
    * `numBuckets` buckets with a ±1 sign, and a document's sparse
    * vector is the signed token-count sum per bucket — the vocabulary-
    * free featurization that feeds linear classifiers and ANN without
    * ever building (or shipping) a vocab table. Output: (id, bucket,
    * weight) sparse rows; zero-weight buckets (sign cancellation) are
    * kept — their presence distinguishes "tokens cancelled" from
    * "no tokens hashed here" downstream.
    *
    * Cross-engine determinism is free: bucket and sign derive from the
    * token's md5 (first 8 hex chars → integer % buckets; 9th hex's top
    * bit → sign — the [[graft.TableDiff]] conv/CAST-0x pairing), and the
    * weight is an exact integer sum. No floats anywhere.
    *
    * Scale shape: one corpus pass, map-side combinable into at most
    * numBuckets rows per doc — no vocab pass, no join, nothing
    * corpus-global. The entire operator is a single aggregate. */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
                  numBuckets: Int = 64): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("id"),
        (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
          % numBuckets).as("bucket"),
        when(substring(md5(col("token")), 9, 1).isin(
          "0", "1", "2", "3", "4", "5", "6", "7"), 1L).otherwise(-1L).as("__sign"))
      .groupBy(col("id"), col("bucket"))
      .agg(sum(col("__sign")).as("weight"))
  }

  /** DSIR importance log-weights (Xie et al. 2023 — Data Selection via
    * Importance Resampling): score every raw-pool document by how much
    * more likely its hashed-unigram bag is under the TARGET
    * distribution than under the raw pool's own — the published recipe
    * for selecting pretraining data that "looks like" a trusted target
    * corpus. Both distributions are add-1-smoothed bucket unigram
    * models over [[featureHash]]'s md5 buckets (hashing collapses the
    * open vocabulary to `numBuckets` — DSIR's hashed n-gram trick, so
    * the model is bucket-scale however large the corpus); a document's
    * log-weight is Σ_tokens [ln p̂_target(b) − ln p̂_raw(b)], reported
    * as the total and the per-token average (length-debiased for
    * thresholding). Sampling proportional to exp(logweight) is
    * [[graft.operators.Sampling]]'s weighted-sample job downstream.
    *
    * Cross-engine float discipline (the [[docSurprisal]] pairing): each
    * bucket's TWO log-prices are rounded once to 6 decimals and frozen
    * as DECIMAL(18,6) at bucket scale; per-doc accumulation is two
    * exact order-free decimal sums (each the unigram-proven
    * decimal×long shape — a single subtracted price would widen the
    * decimal lattice differently across engines); logweight is ONE
    * decimal subtraction cast to double, the average one IEEE division
    * of bit-identical operands.
    *
    * Scale shape: one corpus pass collapses to per-doc (bucket, tf)
    * rows with map-side combine; the two censuses are ONE bucket-scale
    * aggregate of it (raw counts + target counts via a conditional
    * sum); prices broadcast back onto the TF rows. Docs with zero
    * tokens are absent (nothing to weight); target docs score like any
    * other raw-pool member, as in the paper.
    *
    * `ngrams`: the paper's feature space is hashed unigrams AND
    * bigrams — `ngrams = 2` adds a bigram lane (adjacent-token pairs
    * space-joined, hashed into the SAME bucket space; the feature
    * stream is the union, so `n_tokens` reports the FEATURE count,
    * 2T−1 for a T-token doc). Bigrams price token ORDER: scrambled
    * target-vocabulary text ties the unigram model but separates under
    * bigram buckets (spec-pinned). The bucket model stays ≤ numBuckets
    * rows either way, and the stream merely doubles — same shape. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, numBuckets: Int = 64,
                  ngrams: Int = 1): DataFrame = {
    // Empty tokens are dropped BEFORE pairing (filter inside the array,
    // the docBigramSurprisal discipline): post-explode filtering would
    // make "a  b" yield no bigram while "a b" yields one. One TF frame
    // feeds both the census and the scoring join — the one-pass fit.
    val tf = dsirTf(df, idCol, textCol, isTarget, numBuckets, ngrams)
    val census = tf.groupBy(col("bucket"))
      .agg(sum(col("tf")).as("n_raw"),
        sum(when(col("__tgt"), col("tf")).otherwise(0L)).as("n_tgt"))
    scoreDsirTf(tf, dsirPrices(census, numBuckets))
  }

  /** The (bucket, n_raw, n_tgt) feature census [[dsirWeights]] prices
    * from — an ADDITIVE monoid (both counts of disjoint batches add per
    * bucket), so the production loop can maintain the DSIR model per
    * ingest batch ([[dsirModelCensus]]) and score any batch against the
    * FROZEN folded model via [[dsirWeightsFromCensus]] — the
    * [[langPurityState]] pattern applied to the selection family.
    * `numBuckets` and `ngrams` must match between maintenance and read
    * (the psiCuts pinning rule). ≤ numBuckets rows at any corpus size. */
  def dsirCensus(df: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, numBuckets: Int = 64,
                 ngrams: Int = 1): DataFrame =
    dsirTf(df, idCol, textCol, isTarget, numBuckets, ngrams)
      .groupBy(col("bucket"))
      .agg(sum(col("tf")).as("n_raw"),
        sum(when(col("__tgt"), col("tf")).otherwise(0L)).as("n_tgt"))

  /** [[dsirCensus]]'s census shape. */
  val dsirModelCensus: Census = Census(Seq("bucket"), Seq("n_raw", "n_tgt"))

  /** [[dsirWeights]] under a PRE-BUILT census ([[dsirCensus]] or a fold
    * of maintained state): scores `df`'s documents against the frozen
    * bucket model — the streaming-selection read path, where new
    * documents price map-side against ≤ numBuckets broadcast rows and
    * the historical corpus is never rescanned. Equal to [[dsirWeights]]
    * when the census was built over the same documents (spec-pinned);
    * `numBuckets` and `ngrams` must match the fit (same reason
    * [[graft.operators.Monitoring.psiCuts]] pins its cuts). */
  def dsirWeightsFromCensus(df: DataFrame, idCol: String, textCol: String,
                            census: DataFrame, numBuckets: Int = 64,
                            ngrams: Int = 1): DataFrame =
    scoreDsirTf(dsirTf(df, idCol, textCol, lit(false), numBuckets, ngrams),
      dsirPrices(census, numBuckets))

  /** Per-doc (bucket, tf) feature counts — [[dsirWeights]]'s one corpus
    * collapse, shared by the fit and the frozen-model scoring path. */
  private def dsirTf(df: DataFrame, idCol: String, textCol: String,
                     isTarget: Column, numBuckets: Int,
                     ngrams: Int): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    require(ngrams == 1 || ngrams == 2, s"ngrams must be 1 or 2, got $ngrams")
    val arr = org.apache.spark.sql.functions.filter(
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))),
      t => length(t) > 0)
    val base = df.select(col(idCol).as("doc_id"), isTarget.as("__tgt"),
      arr.as("__a"))
    val uni = base.select(col("doc_id"), col("__tgt"),
      explode(col("__a")).as("feat"))
    val feats =
      if (ngrams == 1) uni
      else uni.unionByName(base.filter(size(col("__a")) >= 2)
        .select(col("doc_id"), col("__tgt"), explode(transform(
          sequence(lit(1), size(col("__a")) - 1),
          i => concat(element_at(col("__a"), i), lit(" "),
            element_at(col("__a"), i + 1)))).as("feat")))
    feats
      .select(col("doc_id"), col("__tgt"),
        (conv(substring(md5(col("feat")), 1, 8), 16, 10).cast("long")
          % numBuckets).as("bucket"))
      .groupBy(col("doc_id"), col("__tgt"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** The two frozen DECIMAL(18,6) log-prices per bucket off a (bucket,
    * n_raw, n_tgt) census — the dsirWeights float discipline, shared by
    * the one-pass fit and the frozen-model path. */
  /** DSIR model DIVERGENCE diagnostic (Xie et al. 2023 report selection
    * value via the KL gap the resampling closes): KL(target‖raw),
    * KL(raw‖target), and their Jeffreys sum over the SAME add-1-smoothed
    * hashed-bucket models [[dsirWeights]] prices with — the scalar that
    * says how far the target domain sits from the corpus before any
    * selection happens (≈0 → DSIR can't help; large → importance
    * weights carry real signal).
    *
    * Float discipline: the support densifies to ALL `numBuckets` buckets
    * (zero-count rows smooth to 1/(total+B) like any unseen bucket), the
    * ln prices are the SAME DECIMAL(18,6)-frozen tp/rp lattice the
    * weights use, and each KL is one exact decimal sum —
    * Σ (n+1)·(ln p − ln q) — divided ONCE by its exact denominator
    * (total+B), so the doubles hash-match cross-engine with no
    * order-dependent float accumulation. Model-scale end-to-end: the
    * census is ≤ numBuckets rows. */
  def dsirDivergence(census: DataFrame, numBuckets: Int = 64): DataFrame = {
    val dec = "decimal(18,6)"
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val dense = census.sparkSession.range(numBuckets).toDF("bucket")
      .join(census, Seq("bucket"), "left_outer")
      .select(col("bucket"),
        coalesce(col("n_raw"), lit(0L)).as("n_raw"),
        coalesce(col("n_tgt"), lit(0L)).as("n_tgt"))
    val priced = dense
      .withColumn("__rt", sum(col("n_raw")).over(w))
      .withColumn("__tt", sum(col("n_tgt")).over(w))
      .select(col("n_raw"), col("n_tgt"), col("__rt"), col("__tt"),
        round(log((col("n_tgt") + 1L).cast("double") /
          (col("__tt") + numBuckets).cast("double")), 6).cast(dec).as("tp"),
        round(log((col("n_raw") + 1L).cast("double") /
          (col("__rt") + numBuckets).cast("double")), 6).cast(dec).as("rp"))
    priced.agg(
        count(lit(1)).as("n_buckets"),
        max(col("__tt")).as("n_tgt_total"),
        max(col("__rt")).as("n_raw_total"),
        sum((col("n_tgt") + 1L) * (col("tp") - col("rp"))).as("__klt"),
        sum((col("n_raw") + 1L) * (col("rp") - col("tp"))).as("__klr"))
      .select(col("n_buckets"), col("n_tgt_total"), col("n_raw_total"),
        (col("__klt").cast("double") /
          (col("n_tgt_total") + numBuckets).cast("double")).as("kl_tgt_raw"),
        (col("__klr").cast("double") /
          (col("n_raw_total") + numBuckets).cast("double")).as("kl_raw_tgt"))
      .withColumn("jeffreys", col("kl_tgt_raw") + col("kl_raw_tgt"))
  }

  /** One-shot form: census + divergence. */
  def dsirKl(df: DataFrame, idCol: String, textCol: String, isTarget: Column,
             numBuckets: Int = 64, ngrams: Int = 1): DataFrame =
    dsirDivergence(dsirCensus(df, idCol, textCol, isTarget, numBuckets,
      ngrams), numBuckets)

  private def dsirPrices(census: DataFrame, numBuckets: Int): DataFrame = {
    val dec = "decimal(18,6)"
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    census
      .withColumn("__rt", sum(col("n_raw")).over(w))
      .withColumn("__tt", sum(col("n_tgt")).over(w))
      .select(col("bucket"),
        round(log((col("n_tgt") + 1L).cast("double") /
          (col("__tt") + numBuckets).cast("double")), 6).cast(dec).as("tp"),
        round(log((col("n_raw") + 1L).cast("double") /
          (col("__rt") + numBuckets).cast("double")), 6).cast(dec).as("rp"))
  }

  /** The dsirWeights scoring tail: price each doc's TF rows and collapse
    * to (doc_id, n_tokens, logweight, avg_logweight). */
  private def scoreDsirTf(tf: DataFrame, priced: DataFrame): DataFrame =
    tf.join(priced, Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tp") * col("tf")).as("__t"),
        sum(col("rp") * col("tf")).as("__r"))
      .select(col("doc_id"), col("n_tokens"),
        (col("__t") - col("__r")).cast("double").as("logweight"),
        ((col("__t") - col("__r")).cast("double") /
          col("n_tokens").cast("double")).as("avg_logweight"))

  /** DSIR SELECTION end-to-end (the resampling step of Xie et al. 2023,
    * composed from [[dsirWeights]] and [[Sampling
    * .weightedSystematicSample]]): draw `k` document slots from the raw
    * pool with probability proportional to exp(logweight) — the
    * importance-resampled subset a pretraining pipeline actually
    * consumes. Heavy documents (importance above W/k of the total mass)
    * are guaranteed in with `n_copies` > 1 (resampling WITH replacement,
    * as in the paper); Σ n_copies = k exactly.
    *
    * Cross-engine float discipline — exp() is transcendental and libm
    * implementations differ by ulps, so a per-doc exp would break
    * hash parity; instead the log-weight snaps to the 1/`steps` LOG
    * LATTICE first: q = clamp(round(logweight·steps), ±clip·steps) is
    * an exact integer (logweight is a decimal-subtraction double, and
    * `steps` is required to be a power of two so ·steps and /steps are
    * binary-exact), which leaves exp() evaluated only on the FIXED set
    * of 2·clip·steps+1 rational lattice points. importance =
    * round(exp(q/steps)·1e6) is then provably stable: every lattice
    * constant's scaled value sits ≥ 1e-4 (and ≥ 1000 ulps) from a
    * rounding boundary — spec-pinned in DsirSpec, so a 1-ulp libm
    * disagreement cannot flip any integer weight, and the sampler's
    * all-integer ceil-division does the rest. Clipping at exp(±clip)
    * is the standard importance-weight clamp (it also bounds the
    * integer lattice: exp(12)·1e6 ≈ 1.6e11 « 2^63).
    *
    * Scale shape: [[dsirWeights]]'s (one corpus collapse + ≤64-row
    * census + broadcast-back prices), then the sampler's two-phase
    * distributed prefix sum over doc-level rows (256 rank buckets, one
    * model-scale offset frame broadcast back) — nothing corpus-global,
    * no per-doc transcendental risk, no driver-side data.
    *
    * Output: (doc_id, n_tokens, logweight, importance, stream_offset,
    * n_copies) for the selected docs only. */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, k: Long, numBuckets: Int = 64,
                 ngrams: Int = 1, clip: Double = 12.0, steps: Int = 8,
                 salt: String = "dsir"): DataFrame = {
    require(steps > 0 && (steps & (steps - 1)) == 0,
      s"steps must be a positive power of two (lattice exactness), got $steps")
    require(clip > 0 && (clip * steps) == math.floor(clip * steps),
      s"clip*steps must be integral, got $clip*$steps")
    val w = dsirWeights(df, idCol, textCol, isTarget, numBuckets, ngrams)
    val qLat = least(greatest(round(col("logweight") * steps, 0),
      lit(-clip * steps)), lit(clip * steps))
    val weighted = w.select(col("doc_id"), col("n_tokens"), col("logweight"),
      round(exp(qLat / steps) * lit(1e6), 0).cast("long").as("importance"))
    Sampling.weightedSystematicSample(weighted, "doc_id", "importance", k,
        salt)
      .select(col("doc_id"), col("n_tokens"), col("logweight"),
        col("importance"), col("stream_offset"), col("n_copies"))
  }

  /** CCNet-style PERPLEXITY BAND-PASS assignment: classify every
    * document low/mid/high by its [[docSurprisal]] average against the
    * corpus's own `lo`/`hi` percentile cuts — the head/middle/tail
    * split a perplexity-filtered pipeline trains on (keep the middle,
    * inspect the tails). Cuts use exact `percentile` (linear
    * interpolation — DuckDB quantile_cont's twin, the
    * q_group_percentiles pairing); band comparisons are strict on
    * bit-identical doubles (avg_surprisal is one IEEE division of
    * frozen decimals), so the assignment is oracle-exact.
    *
    * Scale shape: the surprisal pass is [[docSurprisal]]'s; the cuts
    * are ONE two-value aggregate over doc-level rows broadcast back as
    * a scalar (the mixtureReport pattern). The exact percentile's
    * buffer is per-distinct-value state over doc-count-scale input —
    * fine at verify scale, unbounded on a 100 TB high-cardinality
    * surprisal column. [[surprisalBandsSketch]] is the 100 TB twin
    * (approx_percentile cuts, exactly the
    * [[Monitoring.distributionDrift]] → [[Monitoring.distributionDriftSketch]]
    * pairing); band semantics are identical, only the cut estimator
    * differs. */
  def surprisalBands(df: DataFrame, idCol: String, textCol: String,
                     lo: Double = 0.25, hi: Double = 0.75): DataFrame = {
    require(lo > 0 && hi < 1 && lo < hi, s"need 0 < lo < hi < 1, got $lo/$hi")
    val s = docSurprisal(df, idCol, textCol)
    bandsFromCuts(s, s.agg(
      expr(s"percentile(avg_surprisal, $lo)").as("__lo"),
      expr(s"percentile(avg_surprisal, $hi)").as("__hi")))
  }

  /** [[surprisalBands]]'s 100 TB twin: identical output contract and
    * band semantics, but the percentile cuts come from
    * `approx_percentile` — the mergeable KLL-family sketch whose state
    * is O(accuracy) PER EXECUTOR regardless of doc count, where the
    * exact `percentile` buffers every distinct avg_surprisal value (one
    * per doc in the worst case — the [[Monitoring.distributionDriftSketch]]
    * caveat verbatim). Rank error ≤ 1/accuracy, so a document can flip
    * band only if its avg_surprisal sits within that rank band of a
    * cut; VerifyExtras pins band agreement vs the exact variant per
    * round (floor 0.9), VocabSpec pins it in-suite. Rows-only in the
    * oracle: DuckDB has no KLL twin to reproduce the cuts. */
  def surprisalBandsSketch(df: DataFrame, idCol: String, textCol: String,
                           lo: Double = 0.25, hi: Double = 0.75,
                           accuracy: Int = 10000): DataFrame = {
    require(lo > 0 && hi < 1 && lo < hi, s"need 0 < lo < hi < 1, got $lo/$hi")
    require(accuracy >= 100, s"accuracy must be >= 100, got $accuracy")
    val s = docSurprisal(df, idCol, textCol)
    bandsFromCuts(s, s.agg(
      percentile_approx(col("avg_surprisal"), lit(lo), lit(accuracy)).as("__lo"),
      percentile_approx(col("avg_surprisal"), lit(hi), lit(accuracy)).as("__hi")))
  }

  /** Shared band-pass body: classify each doc against the given 1-row
    * (__lo, __hi) cut frame (the two public variants differ ONLY in how
    * the cuts were estimated — the [[Monitoring]] driftFromCuts shape). */
  private def bandsFromCuts(s: DataFrame, cuts: DataFrame): DataFrame =
    s.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_tokens"), col("avg_surprisal"),
        when(col("avg_surprisal") < col("__lo"), "low")
          .when(col("avg_surprisal") > col("__hi"), "high")
          .otherwise("mid").as("band"))

  /** Pairwise SOURCE-level shingle-set Jaccard — [[sourceNovelty]]'s
    * pairwise refinement (novelty says "how much of X is unique";
    * this says "which OTHER source X overlaps, and how much"), the
    * corpus-level companion of [[Monitoring.crossSourceDupMatrix]]'s
    * doc-level mirror counts. For sources a < b (lexicographic):
    * n_shared = |shingles(a) ∩ shingles(b)|, jaccard = shared /
    * (n_a + n_b − shared) — one IEEE division of exact longs. Source
    * pairs with an EMPTY intersection are absent (the inner-join
    * convention — a zero row carries no curation signal and would make
    * the output sources², not overlaps).
    *
    * Scale shape: built on the [[sourceNoveltyState]] monoid (distinct
    * (source, 128-bit shingle-key) pairs — maintainable incrementally,
    * so the production loop answers this from folded state without a
    * corpus re-scan). The intersection self-join fans each shingle by
    * its source count — sources are a DIMENSION (like the mixture
    * dims), so the fan-out is dim², never corpus-scale; at a
    * thousands-of-sources extreme, [[sourceOverlapMinHash]] is the
    * implemented fallback (bounded per-source signature state, no
    * shingle-level intersection join). */
  def sourceOverlap(df: DataFrame, textCol: String, sourceCol: String,
                    n: Int = 3): DataFrame =
    overlapFromState(sourceNoveltyState(df, textCol, sourceCol, n))

  /** [[sourceOverlap]] off maintained [[sourceNoveltyState]] — the
    * incremental read path ([[noveltyFromState]] convention). */
  def overlapFromState(state: DataFrame): DataFrame = {
    val s = state.filter(col("source").isNotNull)
    val sizes = s.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val inter = s.select(col("source").as("source_a"), col("sh"))
      .join(s.select(col("source").as("source_b"), col("sh")), Seq("sh"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("source").as("source_a"), col("n_sh").as("n_a")),
        Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n_sh").as("n_b")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"))
  }

  /** [[sourceOverlap]]'s extreme-cardinality fallback: pairwise
    * source Jaccard ESTIMATED from one-permutation-per-lane MinHash
    * signatures (Broder 1997) instead of the exact shingle-level
    * intersection join. Per source, lane h keeps min over the source's
    * shingles of xxhash64(h, shingle-key) — `numHashes` longs of state,
    * BOUNDED regardless of shingle vocabulary (the exact variant's
    * intersection join fans every shingle by its source count — fine
    * when sources are a dimension, corpus-shaped pain at
    * thousands-of-sources × billions of shingles). The estimate is the
    * fraction of agreeing lanes: E[agree] = J exactly, σ =
    * √(J(1−J)/numHashes) ≈ 0.04 at 128 lanes. Pairs estimating 0 (no
    * agreeing lane) are absent — the exact variant's empty-intersection
    * convention. Output: (source_a, source_b, jaccard_est); rows-only
    * in the oracle (the estimate is sampling-dependent by nature) with
    * a VerifyExtras mean-abs-error floor vs [[sourceOverlap]], and
    * VocabSpec pins the error in-suite.
    *
    * Scale shape: ONE aggregate over the novelty-state monoid collapses
    * each source to its signature map-side (each lane's min is
    * associative/commutative — the signature itself is a fold-able
    * monoid, so the production loop can maintain it incrementally like
    * the state it derives from); the pairwise compare is a
    * dimension-scale broadcast self-join over numHashes-length arrays. */
  def sourceOverlapMinHash(df: DataFrame, textCol: String, sourceCol: String,
                           n: Int = 3, numHashes: Int = 128): DataFrame =
    // RAW (source, shingle-key) occurrences, NOT sourceNoveltyState's
    // distinct set: every signature lane is a MIN, and min over the
    // occurrence multiset equals min over the distinct set — so the
    // state builder's corpus-scale distinct exchange (plus the second
    // exchange its groupBy(source) then pays) is pure overhead on this
    // path. The signature aggregate collapses map-side to ≤ sources ×
    // (numHashes+1) values per partition, so the ONLY exchange left is
    // dimension-scale (guide §2.3/§2.4: aggregate before you shuffle —
    // measured at sf0.1: 2.35 → ~1.5 s). Reading off MAINTAINED state
    // ([[overlapMinHashFromState]]) is unchanged — folded state is
    // already distinct, and either input yields identical signatures.
    overlapMinHashFromState(
      df.select(col(sourceCol).as("source"),
          explode(Dedup.shingles(col(textCol), n)).as("raw"))
        .select(col("source"),
          struct(xxhash64(col("raw")), xxhash64(lit(1), col("raw"))).as("sh")),
      numHashes)

  /** [[sourceOverlapMinHash]] off maintained [[sourceNoveltyState]] —
    * the incremental read path ([[overlapFromState]] convention). */
  def overlapMinHashFromState(state: DataFrame, numHashes: Int = 128): DataFrame = {
    require(numHashes > 0 && numHashes <= 4096,
      s"numHashes must be in [1, 4096], got $numHashes")
    // COLLECTED into a local relation: the pairwise self-join below
    // references the signature frame twice (probe side + broadcast
    // side), and a lazy reference re-runs the whole corpus-scan +
    // per-lane hashing aggregate per side — the query's dominant job,
    // paid double (the r17 plan dump showed two full aggregate
    // subtrees). The frame is dimension-scale (sources × numHashes
    // longs — a bounded model artifact), so one collect runs the
    // aggregate once and leaves no cached block behind.
    // Lane hashing stays one XxHash64 EXPRESSION PER LANE, by
    // measurement: a fused native all-lanes-in-one-call expression
    // (array of 128 longs per row, aggregate mins via element_at) was
    // built, proven bit-identical, and benched SLOWER (3.24 s vs
    // 2.54 s at sf0.1) — the per-row array allocation costs more than
    // the 128 allocation-free codegen'd hash expressions it replaced;
    // reverted (guide §1.1: measure, keep the empirical winner).
    val sigPlan = state.filter(col("source").isNotNull)
      .groupBy(col("source"))
      .agg(array((0 until numHashes).map(h =>
        min(xxhash64(lit(h), col("sh")))): _*).as("sig"))
    val sig = state.sparkSession.createDataFrame(
      java.util.Arrays.asList(sigPlan.collect(): _*), sigPlan.schema)
    val a = sig.select(col("source").as("source_a"), col("sig").as("sig_a"))
    val b = sig.select(col("source").as("source_b"), col("sig").as("sig_b"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).cast("double") /
          lit(numHashes.toDouble)).as("jaccard_est"))
      .filter(col("jaccard_est") > 0)
  }

  /** Pairwise JENSEN–SHANNON divergence between per-source unigram
    * distributions over a shared top-k vocabulary + one OOV bucket —
    * [[sourceOverlap]]'s DISTRIBUTIONAL companion (overlap asks "do
    * these sources share literal content?"; this asks "do they speak
    * the same token distribution?" — the mix-design read before
    * weighting sources in a training blend).
    *
    * Exactness: for sources a, b and bucket t with counts na, nb and
    * totals Ta, Tb, the JS term pₐ·ln(pₐ/m) rewrites to (na/Ta)·Lₐ with
    * Lₐ = ln(2·na·Tb / (na·Tb + nb·Ta)) — the ln's argument is ONE
    * IEEE division of exact integer products, the ln is frozen once at
    * 6 decimals as DECIMAL(18,6) (the [[unigramModel]] discipline), the
    * na·Lₐ products and their sums are exact decimals, and the two
    * final /2T divisions + one addition happen in a single per-row
    * double chain (never summed across rows). js_nats ∈ [0, ln 2].
    * Zero-count buckets contribute zero from their side (p·ln p → 0).
    *
    * Scale shape: ONE corpus pass collapses to (source, token) counts
    * map-side; the k-row vocabulary broadcasts (deterministic
    * [[vocabTopK]] cut); everything after is dimension-scale —
    * (sources × (k+1)) bucket counts, a (k+1)-grid inner join per
    * source pair, sources² output rows. */
  def sourceDivergence(df: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, k: Int = 500): DataFrame = {
    require(k > 0, "k must be positive")
    val vocab = vocabTopK(df, idCol, textCol, k)
    sourceDivergenceFromCounts(
      divergenceState(df, sourceCol, textCol, vocab))
  }

  /** The (source, bucket, n) unigram census [[sourceDivergence]] scores —
    * an ADDITIVE count monoid over a PINNED bucket vocabulary, split out
    * (the [[langPurityState]] pattern) so the JS monitor can ride the
    * generic streaming census maintainer: per-batch censuses folded by
    * (source, bucket) sum equal the one-pass census exactly. `vocab`
    * must be fit ONCE and pinned (a (token) frame — [[vocabTopK]]'s
    * cut, or any fixed token list): per-batch vocab drift would bucket
    * the same token differently across appends, making folded counts
    * incomparable — the psiCuts rule applied to a token grid. */
  def divergenceState(df: DataFrame, sourceCol: String, textCol: String,
                      vocab: DataFrame): DataFrame =
    df.select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))))
          .as("token"))
      .filter(length(col("token")) > 0 && col("source").isNotNull)
      .join(broadcast(vocab.select(col("token"), lit(1).as("__in_vocab"))),
        Seq("token"), "left")
      .select(col("source"),
        when(col("__in_vocab").isNotNull, col("token")).otherwise(lit(" oov"))
          .as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** [[divergenceState]]'s census shape. */
  val divergenceCensus: Census = Census(Seq("source", "bucket"), Seq("n"))

  /** [[sourceDivergence]]'s pairwise-JS report over an already-built
    * (source, bucket, n) census — the direct entry point for counts
    * folded from maintained state ([[divergenceCensus]]). Exactness is
    * the parent's: the census is exact counts and all the ln/divide
    * discipline lives here. */
  def sourceDivergenceFromCounts(counts: DataFrame): DataFrame = {
    // The census is read by both pair sides, the totals and the two
    // absent-bucket anti probes — PERSIST it (sources×(k+1) rows;
    // lineage would otherwise re-run the upstream per reference — the
    // first cut of this plan scanned parquet 28 times). Per-source
    // totals ride a window over the same persisted frame.
    val bucketCounts = counts
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sided = bucketCounts
      .withColumn("total",
        sum(col("n")).over(Window.partitionBy(col("source"))))
    val totals = sided.select(col("source"), col("total")).distinct()
    val a = sided.select(col("source").as("source_a"), col("bucket"),
      col("n").as("na"), col("total").as("ta"))
    val b = sided.select(col("source").as("source_b"), col("bucket"),
      col("n").as("nb"), col("total").as("tb"))
    // Full outer per pair via union-of-sides: a bucket absent on one
    // side still contributes the PRESENT side's p·ln(2p/(p+0)) = p·ln 2.
    // Realized as one inner join on the shared grid plus each side's
    // anti rows folded with nb = 0 (resp. na = 0).
    val dec = "decimal(18,6)"
    def lnFrozen(c: Column): Column = round(log(c), 6).cast(dec)
    val joined = a.join(b,
      a("bucket") === b("bucket") && col("source_a") < col("source_b"),
      "inner")
      .select(col("source_a"), col("source_b"),
        col("na"), col("ta"), col("nb"), col("tb"))
    // Absent-side rows: pair each side's buckets with the OTHER source's
    // total where the other side lacks the bucket. Build from the pair
    // grid of totals (dimension²) anti-joined on the shared buckets.
    val pairTotals = totals.select(col("source").as("source_a"),
        col("total").as("ta"))
      .join(broadcast(totals.select(col("source").as("source_b"),
        col("total").as("tb"))), col("source_a") < col("source_b"))
    val aOnly = a.join(broadcast(pairTotals.drop("ta")), Seq("source_a"))
      .join(b.select(col("source_b"), col("bucket"), lit(1).as("__hit")),
        Seq("source_b", "bucket"), "left")
      .filter(col("__hit").isNull)
      .select(col("source_a"), col("source_b"), col("na"), col("ta"),
        lit(0L).as("nb"), col("tb"))
    val bOnly = b.join(broadcast(pairTotals.drop("tb")), Seq("source_b"))
      .join(a.select(col("source_a"), col("bucket"), lit(1).as("__hit")),
        Seq("source_a", "bucket"), "left")
      .filter(col("__hit").isNull)
      .select(col("source_a"), col("source_b"), lit(0L).as("na"),
        col("ta"), col("nb"), col("tb"))
    val all = joined.unionByName(aOnly).unionByName(bOnly)
    // ln argument as ONE double chain of exact-long casts (cross
    // products in doubles — both engines round each step identically;
    // a decimal division here would drag in engine-specific result
    // scales). The frozen ln then multiplies the exact LONG count — the
    // docSurprisal `surprisal · tf` discipline.
    val crossA = col("na").cast("double") * col("tb").cast("double")
    val crossB = col("nb").cast("double") * col("ta").cast("double")
    val la = when(col("na") === 0L, lit(0).cast(dec))
      .otherwise(lnFrozen(crossA * 2.0 / (crossA + crossB)))
    val lb = when(col("nb") === 0L, lit(0).cast(dec))
      .otherwise(lnFrozen(crossB * 2.0 / (crossA + crossB)))
    all
      .groupBy(col("source_a"), col("source_b"))
      .agg(max(col("ta")).as("ta"), max(col("tb")).as("tb"),
        sum(la * col("na")).as("sa"),
        sum(lb * col("nb")).as("sb"))
      .select(col("source_a"), col("source_b"),
        col("ta").as("n_tokens_a"), col("tb").as("n_tokens_b"),
        (col("sa").cast("double") / (col("ta").cast("double") * 2.0) +
          col("sb").cast("double") / (col("tb").cast("double") * 2.0))
          .as("js_nats"))
  }

  /** Per-source ZIPF-LAW slope fit: OLS of ln(frequency) on ln(rank)
    * over each source's top-`points` tokens — the power-law read that
    * flags a source whose token distribution is unnaturally flat (id
    * dumps, logs) or steep (boilerplate) before it pollutes a mix.
    * Natural text fits slope ≈ −1 (Zipf 1949).
    *
    * Exactness: x = ln(rank)₆ and y = ln(n)₆ freeze once as
    * DECIMAL(18,6); Σx, Σy, Σxy, Σx² are exact decimal sums;
    * slope = (R·Σxy − Σx·Σy) / (R·Σx² − (Σx)²) evaluates numerator and
    * denominator as exact decimals and divides ONCE per source in
    * doubles. Sources with < 3 ranked points are dropped (a 2-point
    * "fit" is noise).
    *
    * Scale shape: the corpus collapses to (source, token) counts
    * map-side; the rank window orders each source's VOCABULARY (not its
    * rows), and `minCount` is the valve that bounds that dimension on a
    * 100 TB corpus (tokens below it can't reach any top-`points` cut
    * that matters: with points=100 the 100th token of any real source
    * clears any sane floor). */
  def zipfFit(df: DataFrame, idCol: String, textCol: String,
              sourceCol: String, points: Int = 100,
              minCount: Long = 1L): DataFrame = {
    require(points >= 3, "points must be >= 3")
    val counts = df
      .select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))))
          .as("token"))
      .filter(length(col("token")) > 0 && col("source").isNotNull)
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("token"))
    // Declared decimal widths stay TIGHT: Spark sizes a decimal
    // product's scale from the declared types, and two wide operands
    // (e.g. (38,6)²) crush the result scale to fit precision 38 —
    // silent rounding. ln values fit (10,6) (|ln| < 40 for any count
    // below e⁴⁰); every product/sum below then fits its declared type
    // with scale 12 intact.
    val ranked = counts
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= points)
      .withColumn("x",
        round(log(col("rank").cast("double")), 6).cast("decimal(10,6)"))
      .withColumn("y",
        round(log(col("n").cast("double")), 6).cast("decimal(10,6)"))
    ranked
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("decimal(6,0)").as("n_points"),
        sum(col("x")).cast("decimal(12,6)").as("sx"),
        sum(col("y")).cast("decimal(12,6)").as("sy"),
        sum(col("x") * col("y")).cast("decimal(24,12)").as("sxy"),
        sum(col("x") * col("x")).cast("decimal(24,12)").as("sxx"))
      .filter(col("n_points") >= 3)
      .select(col("source"), col("n_points").cast("long").as("n_points"),
        ((col("n_points") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n_points") * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("zipf_slope"))
  }

  /** Tokenizer-efficiency (fertility) report per (source, lang): how
    * many characters one token spans under each tokenization lane — the
    * compression metric a tokenizer evaluation reads per language slice
    * (a lane whose chars-per-token collapses on some language is
    * over-segmenting it). Ratios frozen by one exact integer
    * floor-division each (milli chars/token; ppm lex-per-ws tokens).
    * One corpus-scale map-side-combinable groupBy; the report runs over
    * the (source, lang) dimension. */
  def tokenFertility(df: DataFrame, textCol: String, sourceCol: String,
                     langCol: String): DataFrame =
    fertilityFromCounts(fertilityState(df, textCol, sourceCol, langCol))

  /** The (source, lang, n_docs, ws_tokens, lex_tokens, n_chars) census
    * [[fertilityFromCounts]] scores — an ADDITIVE MONOID, so the
    * streaming loop maintains it per micro-batch ([[fertilityCensus]])
    * and reads current tokenizer efficiency without replaying
    * documents. */
  def fertilityState(df: DataFrame, textCol: String, sourceCol: String,
                     langCol: String): DataFrame =
    df.filter(col(sourceCol).isNotNull && col(langCol).isNotNull &&
        col(textCol).isNotNull)
      .select(col(sourceCol).as("source"), col(langCol).as("lang"),
        TextAnalysis.wsTokenCount(col(textCol)).cast("long").as("__ws"),
        TextAnalysis.regexTokenCount(col(textCol)).cast("long").as("__lex"),
        length(col(textCol)).cast("long").as("__chars"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ws")).as("ws_tokens"),
        sum(col("__lex")).as("lex_tokens"),
        sum(col("__chars")).as("n_chars"))

  /** [[fertilityState]]'s census shape. */
  val fertilityCensus: Census = Census(Seq("source", "lang"),
    Seq("n_docs", "ws_tokens", "lex_tokens", "n_chars"))

  /** Fertility report from a [[fertilityState]] census (possibly folded
    * across micro-batches — cells re-summed first so a fold is safe). */
  def fertilityFromCounts(census: DataFrame): DataFrame = {
    def ratioMilli(num: Column, den: Column) =
      when(den > 0,
        floor(num.cast("decimal(38,0)") * 1000 / den).cast("long"))
        .otherwise(lit(null).cast("long"))
    census.groupBy(col("source"), col("lang"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("ws_tokens")).cast("long").as("ws_tokens"),
        sum(col("lex_tokens")).cast("long").as("lex_tokens"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      .select(col("source"), col("lang"), col("n_docs"), col("ws_tokens"),
        col("lex_tokens"), col("n_chars"),
        ratioMilli(col("n_chars"), col("ws_tokens"))
          .as("chars_per_ws_token_milli"),
        ratioMilli(col("n_chars"), col("lex_tokens"))
          .as("chars_per_lex_token_milli"),
        when(col("ws_tokens") > 0,
          floor(col("lex_tokens").cast("decimal(38,0)") * 1000000 /
            col("ws_tokens")).cast("long"))
          .otherwise(lit(null).cast("long")).as("lex_per_ws_ppm"))
  }

  /** CURRICULUM ordering (Bengio et al. 2009 applied to corpus
    * difficulty): docs rank by unigram surprisal ([[docSurprisal]] — the
    * perplexity-filter signal reused as the difficulty proxy), the
    * corpus-wide percentile buckets them into `epochs` difficulty bands
    * (epoch 0 = easiest quartile first), and a salted-md5 key totalizes
    * the within-epoch order so any engine shuffles each band
    * identically. Output: (doc_id, n_tokens, avg_surprisal, pctl, epoch,
    * order_key) — a trainer consumes ORDER BY (epoch, order_key).
    *
    * The percentile is [[Sampling.groupQuantileRank]]'s distributed
    * cume_dist (value-bucketed parallel prefix sums — no global-window
    * funnel; the naive `cume_dist() OVER (ORDER BY score)` drags the
    * whole corpus through ONE task and is exactly what the oracle runs
    * instead). epoch = ceil(pctl·epochs) − 1 on the exact k/n division
    * — cume_dist is RIGHT-closed (the k-th of n rows scores k/n, so a
    * quartile BOUNDARY row belongs to the band it closes; a floor form
    * would push every boundary row one band up) — bit-identical
    * cross-engine. */
  def curriculum(df: DataFrame, idCol: String, textCol: String,
                 epochs: Int = 4, salt: String = "curr"): DataFrame = {
    require(epochs >= 2, s"epochs must be >= 2, got $epochs")
    val s = docSurprisal(df, idCol, textCol)
    // maxScore 64 clamps nothing real: avg surprisal is bounded by
    // ln(corpus tokens) ≈ 32 nats at 1e14 tokens; clamping is
    // order-preserving in groupQuantileRank regardless.
    val ranked = Sampling.groupQuantileRank(
      s.withColumn("__corpus", lit("all")), "avg_surprisal",
      Seq("__corpus"), minScore = 0.0, maxScore = 64.0)
    ranked.select(col("doc_id"), col("n_tokens"), col("avg_surprisal"),
      col("pctl"),
      greatest(ceil(col("pctl") * epochs) - 1, lit(0)).cast("long")
        .as("epoch"),
      md5(concat(lit(salt + ":"), col("doc_id").cast("string")))
        .as("order_key"))
  }

  /** LEXICAL DIVERSITY per source — type–token ratio + hapax share over
    * the normalized token census; template farms score low on both.
    * Complements sourceNovelty (CROSS-source sharing) and
    * q_text_repetition (which asks about WITHIN-doc repeats). Both
    * ratios frozen to ppm by exact integer floor-division.
    *
    * Scale shape: one corpus-scale explode collapses map-side-combinably
    * to (source, token) counts; the report is two dimension-scale
    * aggregates over that census. Token strings shuffle once (the
    * [[tokenStats]] contract — identity must survive for distinctness;
    * a 64-bit hash lane would merge colliding types). */
  def typeTokenRatio(df: DataFrame, textCol: String,
                     sourceCol: String): DataFrame =
    df.filter(col(sourceCol).isNotNull)
      .select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))))
          .as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("n")).cast("long").as("n_tokens"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_tokens"), col("n_hapax"),
        floor(col("n_types").cast("decimal(38,0)") * 1000000 /
          col("n_tokens")).cast("long").as("ttr_ppm"),
        floor(col("n_hapax").cast("decimal(38,0)") * 1000000 /
          col("n_types")).cast("long").as("hapax_ppm"))

  /** Interpolated Kneser–Ney bigram surprisal per document — the
    * principled LM-quality filter (Kneser & Ney 1995; Chen & Goodman
    * 1999's interpolated form), upgrading [[docBigramSurprisal]]'s MLE:
    * unseen-in-context continuations back off to how PROMISCUOUS a word
    * is (how many distinct predecessors it follows), not how frequent,
    * so boilerplate that always repeats one context stops looking
    * "fluent". Fixed discount D = 0.75 (the standard choice; c ≥ 1
    * keeps c − D > 0, no max() needed):
    *
    *   P(w2|w1) = (c(w1,w2) − D)/c(w1)
    *            + (D·N1+(w1,·)/c(w1)) · (N1+(·,w2)/N1+(·,·))
    *
    * Cross-engine discipline: every count is an exact integer; P is one
    * pinned-order IEEE double chain over those integers evaluated once
    * per bigram TYPE (vocab scale, never per doc row); the surprisal
    * −ln P freezes at 6 decimals as DECIMAL(18,6) (the docSurprisal
    * convention) and doc sums are exact decimal.
    *
    * Scale shape: [[docBigramSurprisal]]'s — tokens hash to 64-bit
    * lanes per doc, one corpus-scale (doc, w1, w2) collapse; the pair
    * table persists because FOUR model-scale derivations read it
    * (left-context totals + fanout, continuation counts, the type
    * total, the priced join) and lineage would re-run the corpus
    * collapse per reference; the type total broadcasts. */
  def docKnBigramSurprisal(df: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val arr = org.apache.spark.sql.functions.filter(
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))),
      t => length(t) > 0)
    val bg = df.select(col(idCol).as("doc_id"), arr.as("__a"))
      .filter(size(col("__a")) >= 2)
      .select(col("doc_id"), transform(col("__a"), t => xxhash64(t)).as("__h"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__h")) - 1),
        i => struct(element_at(col("__h"), i).as("w1"),
          element_at(col("__h"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    val pair = bg.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("n_pair"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = pair.groupBy(col("w1"))
      .agg(sum(col("n_pair")).as("n_left"), count(lit(1)).as("fanout"))
    val cont = pair.groupBy(col("w2")).agg(count(lit(1)).as("n_cont"))
    val types = pair.agg(count(lit(1)).as("n_types"))
    // One pinned-order chain: ((c−D)/c1) + ((D·f1/c1) · (c2/T)). The
    // oracle SQL writes the same parenthesization over the same exact
    // integers — left-associative · and / match in both engines.
    val p = (col("n_pair").cast("double") - lit(0.75d)) /
      col("n_left").cast("double") +
      (lit(0.75d) * col("fanout").cast("double") /
        col("n_left").cast("double")) *
      (col("n_cont").cast("double") / col("n_types").cast("double"))
    val priced = pair.join(left, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"),
        round(-log(p), 6).cast("decimal(18,6)").as("surprisal"))
    bg.join(priced, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("surprisal") * col("tf")).as("__sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("__sum").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_surprisal"))
  }
}
