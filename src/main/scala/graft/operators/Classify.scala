package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed text classification — the quality/source-routing model a
  * training-data pipeline fits over its own corpus (fastText-style
  * source classifiers, CCNet's quality buckets). The deterministic
  * member of that family is multinomial Naive Bayes with Laplace
  * smoothing: the model IS a closed-form aggregate of corpus counts (no
  * iterative fit, no learning-rate nondeterminism), so both the fit and
  * the scoring are exactly reproducible cross-engine — the property the
  * DuckDB oracle verifies end-to-end.
  *
  * Reference scope note: the reference routes documents by source
  * heuristics only; the classifier is part of the mandated
  * training-data-pipeline extension surface.
  */
object Classify {

  /** Most labels [[naiveBayesConfusion]] accepts: the class-pivoted
    * model carries two columns and one aggregate per label, so a label
    * column past a few hundred values (an id mistaken for a label)
    * would blow up the plan and its codegen. */
  val MaxLabels = 256

  /** Multinomial Naive Bayes self-classification CONFUSION MATRIX:
    * fit per-class token multinomials over (textCol, labelCol), score
    * every document against every class, and report (label, predicted,
    * n_docs) — the source-separability diagnostic (a diagonal-heavy
    * matrix says sources have distinct vocabularies; heavy off-diagonal
    * cells say two sources are stylistically interchangeable — the
    * mixture curator's cue to merge or re-weight them).
    *
    * Model: ln p(c) = ln(docs_c/N) and, per (token, class),
    * ln p(t|c) = ln((n_{t,c}+1)/(tok_c+V)) with V = corpus vocabulary
    * size (Laplace smoothing over the FULL vocabulary — unseen
    * (token, class) cells price at ln(1/(tok_c+V))). A document scores
    * score(d,c) = ln p(c) + Σ_t tf(d,t)·ln p(t|c); predicted = argmax,
    * ties to the lexicographically smallest class.
    *
    * Cross-engine float discipline (the oracle hash-compares the
    * matrix): every ln is rounded ONCE to 6 decimals and frozen as
    * DECIMAL(18,6) at MODEL scale (vocab × classes cells + one prior
    * per class); per-doc accumulation is EXACT decimal arithmetic
    * (order-free), so scores are bit-identical cross-engine and the
    * argmax + tie-break are exact decimal/string comparisons — the
    * matrix matches exactly, not approximately.
    *
    * Scale shape: one corpus pass to doc-level TF with map-side
    * combine; the model is CLASS-PIVOTED — one vocab-scale row per
    * token carrying every class's frozen weight as a column (the class
    * list itself is a bounded driver collect, like kmeansFit's
    * centroids), so scoring joins TF to the pivot on token WITHOUT the
    * ×classes row fan-out the (token, class) grid form paid, and the
    * per-doc evidence aggregate ships each TF row once with L decimal
    * partials (map-side combinable). The argmax is per-row arithmetic
    * (array_max over (score, −class-index) structs — exact decimal
    * compare, ties to the smallest label), replacing the grid form's
    * max-aggregate + equality-join + min-aggregate round trips. Tokens
    * seen only in unlabeled docs count toward V but carry no pivot row
    * (they cannot appear in a scored doc's TF). Docs with no tokens
    * have no TF rows and are absent (no prior-only row: a tokenless
    * doc carries no evidence, and every class would tie). */
  def naiveBayesConfusion(df: DataFrame, idCol: String, textCol: String,
                          labelCol: String): DataFrame = {
    val dec = "decimal(18,6)"
    val spark = df.sparkSession
    val docs = df.select(col(idCol).as("__doc"), col(labelCol).as("label"))
      .filter(col("label").isNotNull)
    // NOT persisted, by measurement: three actions read it (the
    // class-stats collect, the vocabulary count, the scoring job), but
    // caching the (doc, token, tf) frame benched 2.83 s vs 2.68 s
    // uncached at sf0.1 (3-pass medians) — the materialization + storage of a
    // corpus-token-scale frame costs more than two extra well-pruned
    // tokenize passes (guide §5: cache only when recompute beats the
    // memory pressure).
    val tf = df.select(col(idCol).as("__doc"),
        explode(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("__doc"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val labeledTf = tf.join(docs, Seq("__doc"))
    // Class stats COLLECT to the driver — the classifier's class
    // dimension (at most MaxLabels labels, and the collect stops one
    // past it; the bounded fitted-model collect pattern, like
    // kmeansFit's centroids), Spark-sorted so the tie-break below uses
    // Spark's own label ordering. nDocs needs no extra job: the
    // rollup's grand-total row (the null label — labels are non-null
    // here) counts the distinct labeled docs, so a doc id filed under
    // two labels counts once.
    val (totals, classRows) = labeledTf.rollup(col("label"))
      .agg(count_distinct(col("__doc")).as("n_docs_c"),
        sum(col("tf")).as("tok_c"))
      .orderBy(col("label"))
      .limit(MaxLabels + 2)
      .collect()
      .partition(_.isNullAt(0))
    val classes = classRows.map(r => (r.get(0), r.getLong(1), r.getLong(2)))
    if (classes.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("label",
            df.schema(labelCol).dataType),
          org.apache.spark.sql.types.StructField("predicted",
            df.schema(labelCol).dataType),
          org.apache.spark.sql.types.StructField("n_docs",
            org.apache.spark.sql.types.LongType, nullable = false))))
    require(classes.length <= MaxLabels,
      s"label column $labelCol has more than $MaxLabels distinct labels")
    val nDocs = totals.head.getLong(1)
    // Vocabulary size over ALL docs' tokens (unlabeled docs count
    // toward V — the smoothing denominator — even though they are
    // never scored).
    val vocabSize = tf.select(col("token")).distinct().count()
    // CLASS-PIVOTED model: one row per token carrying every class's
    // frozen ln-weight as its own column — w_c = round₆(ln((n_tc+1) /
    // (tok_c+V))) exactly as the (token, class) grid form computed it
    // (tok_c/V now literal scalars; the ln/round still evaluate in
    // Catalyst, so the freeze semantics are bit-identical). Tokens
    // seen ONLY in unlabeled docs are absent: they can never appear in
    // a labeled doc's tf rows, so their grid rows were dead weight.
    // This pivot is what lets the scoring exchange below carry each tf
    // row ONCE with L decimal partials instead of fanning every row ×L
    // through a vocab-scale join (guide §2.3: shuffle fewer bytes;
    // §2.4: the grid join's exchanges disappear outright).
    val nAgg = classes.zipWithIndex.map { case ((c, _, _), i) =>
      sum(when(col("label") === lit(c), col("tf"))).as(s"__n$i") }
    val pivoted = labeledTf.groupBy(col("token"))
      .agg(nAgg.head, nAgg.tail: _*)
      .select(col("token") +: classes.zipWithIndex.map { case ((_, _, tokC), i) =>
        round(log((coalesce(col(s"__n$i"), lit(0L)) + lit(1L)).cast("double") /
          lit((tokC + vocabSize).toDouble)), 6).cast(dec).as(s"__w$i")
      }: _*)
    // Score every labeled doc against every class in ONE map-side-
    // combinable aggregate: ev_c = Σ tf·w_c over the doc's tokens —
    // the same decimal addends, same order-free exact sum as the grid
    // form's per-(doc, class) groups. The true label rides the group
    // key (functionally dependent on __doc).
    val scored = labeledTf.join(pivoted, Seq("token"))
      .groupBy(col("__doc"), col("label"))
      .agg(sum(col("__w0") * col("tf")).as("__ev0"),
        classes.indices.tail.map(i =>
          sum(col(s"__w$i") * col("tf")).as(s"__ev$i")): _*)
    // Per-row argmax with the deterministic tie-break: score_c = ev_c +
    // prior_c (the prior frozen through the same Catalyst round∘ln, on
    // now-foldable literal ratios — constant-folded with identical
    // semantics). array_max over (score, −index) structs compares the
    // exact decimals first and, on ties, picks the largest −index =
    // the SMALLEST class index = the Spark-smallest label (classes are
    // Spark-sorted) — the grid form's max-then-min-label rule without
    // its two extra aggregate-join round trips.
    val candidates = array(classes.indices.map { i =>
      val (_, nDocsC, _) = classes(i)
      struct(
        (col(s"__ev$i") +
          round(log(lit(nDocsC.toDouble) / lit(nDocs.toDouble)), 6).cast(dec))
          .as("s"),
        lit(-i).as("ni"))
    }: _*)
    val labelsArr = array(classes.map(c => lit(c._1)): _*)
    val predicted = element_at(labelsArr,
      -array_max(candidates).getField("ni") + 1)
    scored.select(col("label"), predicted.as("predicted"))
      .groupBy(col("label"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }
}
