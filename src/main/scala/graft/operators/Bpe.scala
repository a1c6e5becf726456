package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary statistics and training (SURVEY.md §2
  * #93): the adjacent-symbol-pair frequency table a BPE tokenizer trainer
  * reads at every merge step, and the iterative merge loop itself.
  *
  * Scale design — the reason this is tractable at 100 TB: BPE statistics
  * are functions of the WORD-FREQUENCY table, not the corpus (a word
  * contributes its pair positions × its corpus count). So the corpus is
  * touched exactly ONCE — one token explode + one hash aggregate down to
  * (token, n) vocab-scale rows — and everything after (pair counting,
  * every one of the `numMerges` fit iterations) runs over that table,
  * whose size is the vocabulary's, independent of corpus row count. This
  * is the same collapse the standard single-node trainers (the
  * sentencepiece/GPT-2 lineage) rely on, done as one Spark aggregation.
  *
  * Tokenization matches [[TextAnalysis.tokens]] over
  * [[TextAnalysis.normalized]] text (the whole text family's contract);
  * symbols start as single CHARACTERS of each token — the standard
  * character-level init. Merges never cross token boundaries.
  */
object Bpe {

  import TextAnalysis.{normalized, tokens}

  /** (token, n) corpus word-frequency table — the single corpus-scale
    * pass. Null texts drop at the scan; empty tokens (double spaces are
    * already collapsed by normalization) are excluded. */
  def wordFreq(df: DataFrame, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(explode(tokens(normalized(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))

  /** Character-level adjacent pair stats over the corpus — the table the
    * FIRST merge decision reads, and a vocabulary diagnostic in its own
    * right (which character bigrams dominate the corpus): one row per
    * (left_sym, right_sym) with the total adjacent-occurrence count
    * (weighted by word frequency) and the number of distinct token types
    * containing the pair. Tokens shorter than 2 characters have no pairs.
    *
    * Plan shape: the corpus-scale word-frequency aggregate, then a
    * vocab-scale position explode + one more hash aggregate — the pair
    * explode never sees corpus cardinality. */
  def pairStats(df: DataFrame, textCol: String): DataFrame = {
    val pairsCol = transform(sequence(lit(1), length(col("token")) - 1),
      i => struct(col("token").substr(i, lit(1)).as("left_sym"),
        col("token").substr(i + 1, lit(1)).as("right_sym")))
    wordFreq(df, textCol)
      .filter(length(col("token")) >= 2)
      .select(col("token"), col("n"), explode(pairsCol).as("p"))
      .groupBy(col("p.left_sym").as("left_sym"), col("p.right_sym").as("right_sym"))
      .agg(sum(col("n")).cast("long").as("n_occurrences"),
        count_distinct(col("token")).as("n_token_types"))
  }

  /** Adjacent (l, r) symbol pairs of a symbol array (callers guard
    * size ≥ 2 — `sequence(0, -1)` would step DOWNWARD, not come out
    * empty). */
  private def adjacentPairs(syms: Column): Column =
    transform(sequence(lit(0), size(syms) - 2),
      i => struct(element_at(syms, i + 1).as("l"),
        element_at(syms, i + 2).as("r")))

  /** One merge rule applied greedily LEFT-TO-RIGHT, non-overlapping — the
    * standard BPE application order ("aaaa" under (a,a) → [aa, aa], never
    * [a, aa, a]): a fold whose accumulator is the merged prefix; the
    * just-merged symbol `l+r` differs from `l`, so an overlapping second
    * merge can't fire. The empty-accumulator branch comes FIRST so the
    * last-element probe never indexes an empty array (ANSI would throw). */
  private[graft] def mergeAdjacent(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) === 0, array(s))
          .when(element_at(acc, -1) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(s))))

  /** Train `numMerges` BPE merge rules over the corpus: each round counts
    * adjacent symbol pairs across the (persisted, vocab-scale) word table
    * — weighted by word frequency, ties broken deterministically by
    * (count desc, left, right) — merges the winner everywhere, and
    * records the rule. Stops early when no pair occurs at least
    * `minPairCount` times (every word fully merged, or the tail is
    * noise). Returns the rules in application order.
    *
    * Each iteration is a vocab-scale explode + aggregate + top-1
    * TakeOrdered (driver sees ONE row per round) and a vocab-scale
    * re-projection under the fold above — corpus row count never appears
    * after the initial word-frequency pass. Each round's word table is
    * pinned ([[org.apache.spark.sql.GraftBridge.pin]]: a cache-manager
    * persist read through a one-leaf plan), and its predecessor is
    * released as soon as it has materialized, like
    * [[Dedup.connectedComponents]]' label loop. The leaf truncates the
    * plan: without it round k's logical plan nests k mergeAdjacent HOF
    * lambdas and the optimizer's walk over that nest grows
    * super-linearly (measured OOM near 20 rounds on a 31-word
    * vocabulary). A lost block recomputes through lineage, and
    * `spark.catalog.clearCache()` frees whatever a failed fit left. */
  def fit(df: DataFrame, textCol: String, numMerges: Int,
          minPairCount: Long = 2L): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    var (words, held) = GraftBridge.pin(wordFreq(df, textCol)
      .select(split(col("token"), "").as("syms"), col("n")))
    // The previous round's table, released once `words` has materialized.
    var prevHeld: DataFrame = null
    val rules = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    // (Measured, not kept: scoping AQE off for the merge rounds halved
    // the fit's JOB count — each AQE query stage is its own job — but
    // wall-clock came out flat-to-worse back-to-back (5.6 s vs 5.2 s at
    // sf0.1): the per-stage scheduling it saves is already hidden by
    // the driver's round loop, and AQE's coalescing keeps the tiny
    // per-round reduce stages at sane task counts.)
    try {
      while (rules.length < numMerges && !done) {
        // A pin adds no job: `words` materializes inside this
        // collect's pair-count job.
        val top = words.filter(size(col("syms")) >= 2)
          .select(col("n"), explode(adjacentPairs(col("syms"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("n")).cast("long").as("cnt"))
          .filter(col("cnt") >= minPairCount)
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (prevHeld ne null) { prevHeld.unpersist(); prevHeld = null }
        if (top.isEmpty) done = true
        else {
          val (l, r) = (top.head.getString(0), top.head.getString(1))
          rules += ((l, r))
          val (next, nextHeld) = GraftBridge.pin(
            words.select(mergeAdjacent(col("syms"), l, r).as("syms"), col("n")))
          prevHeld = held
          words = next
          held = nextHeld
        }
      }
      rules.toSeq
    } finally {
      if (prevHeld ne null) prevHeld.unpersist()
      held.unpersist()
      ()
    }
  }

  /** Segment one token column under `rules` (applied in training order) —
    * the application half of the tokenizer: a per-row projection chaining
    * one [[mergeAdjacent]] fold per rule, no shuffle. */
  def segment(token: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(split(token, "")) { case (syms, (l, r)) =>
      mergeAdjacent(syms, l, r)
    }

  /** Corpus ENCODING statistics under trained merge rules — the
    * application half at scale: per document, how many BPE tokens the
    * tokenizer yields and the chars-per-token compression the vocabulary
    * achieves (the metric BPE training optimizes, tracked per-document
    * to catch sources a vocabulary serves poorly).
    *
    * Scale shape: the chained [[segment]] fold is paid ONCE PER DISTINCT
    * WORD, never per corpus occurrence — the corpus collapses to
    * (doc, word, tf) with map-side combine, the distinct-word table
    * (vocab-scale) encodes in one projection, and the priced vocabulary
    * joins back by word (AQE broadcasts it; at 100 TB this is exactly
    * the docSurprisal price-join shape). Sums are exact longs; the
    * ratio is one IEEE division. Output: (doc_id, n_words,
    * n_chars_tok, n_bpe_tokens, chars_per_token). */
  def encodeStats(df: DataFrame, idCol: String, textCol: String,
                  rules: Seq[(String, String)]): DataFrame = {
    val toks = org.apache.spark.sql.functions.filter(
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))),
      t => length(t) > 0)
    val tf = df.select(col(idCol).as("doc_id"), explode(toks).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    // Native rule-table loop ([[graft.functions.BpeSegmentCountExpr]]),
    // result-identical to size(segment(w, rules)) — the fold form nests
    // one HOF lambda per rule and OOMs the optimizer past ~20 rules.
    val enc = tf.select(col("w")).distinct()
      .select(col("w"),
        graft.functions.BpeSegmentCountExpr.segmentCount(col("w"), rules)
          .cast("long").as("n_sym"),
        length(col("w")).cast("long").as("n_ch"))
    tf.join(enc, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_words"),
        sum(col("tf") * col("n_ch")).as("n_chars_tok"),
        sum(col("tf") * col("n_sym")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars_tok"),
        col("n_bpe_tokens"),
        (col("n_chars_tok").cast("double") / col("n_bpe_tokens").cast("double"))
          .as("chars_per_token"))
  }
}
