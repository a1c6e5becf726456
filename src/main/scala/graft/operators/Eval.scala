package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.Census

/** Classifier-evaluation and distribution-association statistics for the
  * training-data pipeline: histogram rank-sum AUC, binned calibration,
  * chi-square / Cramér's V association, two-sample KS drift, event
  * transition matrices, and HHI concentration.
  *
  * Shared design rule (the repo's cross-engine hash-match discipline):
  * every ratio the oracle must reproduce is frozen to fixed-point integer
  * units (ppm / milli) via EXACT integer arithmetic — products and
  * cumulative counts stay in BIGINT/DECIMAL(38,0), division happens once
  * per output row as an integer floor-division both engines define
  * identically. No double is ever summed across rows.
  *
  * Scale rule: every window in this file orders a bounded DIMENSION
  * (quantized score buckets, distinct quantized values, contingency
  * cells), never the corpus. The corpus-scale work is always one
  * map-side-combinable groupBy that collapses rows to that dimension
  * first, so a 100 TB input reaches the window as at most a few million
  * histogram rows.
  */
object Eval {

  /** Exact ROC AUC per group from a quantized score histogram.
    *
    * Mann-Whitney formulation with tie correction: with positives P and
    * negatives N,  AUC = [Σ_s pos_s · (2·cumNeg_<s + neg_s)] / (2·P·N),
    * where cumNeg_<s counts negatives with a strictly smaller score and
    * ties contribute half. Scores are quantized to milli units up front
    * (CAST(round(score·1000))), which is the operator's contract — the
    * oracle quantizes identically, and at 100 TB the quantization is what
    * bounds the histogram dimension (≤ #distinct millis) that the
    * per-group cumulative window then orders. The numerator stays in
    * DECIMAL(38,0) (pos·cumNeg products overflow BIGINT once both counts
    * pass ~3e9); the single division happens once per group as a
    * floor-division to ppm.
    *
    * Plan shape: one map-side-combinable groupBy (group, score_milli) →
    * per-group prefix sum over the score dimension → one-row-per-group
    * aggregate. No corpus-scale window, no join.
    */
  def aucByGroup(df: DataFrame, groupCol: String, scoreCol: String,
                 positiveCol: Column): DataFrame =
    aucFromHistogram(aucHistogram(df, groupCol, scoreCol, positiveCol))

  /** The (grp, score_milli, pos, neg) histogram [[aucFromHistogram]]
    * scores — an ADDITIVE MONOID (counts sum cell-wise, [[aucCensus]]),
    * so the streaming loop maintains it per micro-batch and reads the
    * current AUC without replaying scores. */
  def aucHistogram(df: DataFrame, groupCol: String, scoreCol: String,
                   positiveCol: Column): DataFrame =
    df.filter(col(scoreCol).isNotNull && positiveCol.isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(scoreCol) * 1000).cast("long").as("score_milli"),
        positiveCol.cast("int").as("is_pos"))
      .groupBy(col("grp"), col("score_milli"))
      .agg(sum(col("is_pos")).cast("long").as("pos"),
        sum(lit(1) - col("is_pos")).cast("long").as("neg"))

  /** [[aucHistogram]]'s census shape. */
  val aucCensus: Census = Census(Seq("grp", "score_milli"), Seq("pos", "neg"))

  /** Exact tie-corrected AUC from an [[aucHistogram]] (possibly folded
    * across micro-batches — cells re-summed first so a fold is safe). */
  def aucFromHistogram(histogram: DataFrame): DataFrame = {
    val hist = histogram.groupBy(col("grp"), col("score_milli"))
      .agg(sum(col("pos")).cast("long").as("pos"),
        sum(col("neg")).cast("long").as("neg"))
    val wCum = Window.partitionBy(col("grp")).orderBy(col("score_milli"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cum_neg_below",
        coalesce(sum(col("neg")).over(wCum), lit(0L)))
      // pos·(2·cumNeg + neg) in DECIMAL(38,0): exact at any corpus size.
      .withColumn("term",
        (col("pos").cast("decimal(38,0)") *
          (col("cum_neg_below") * 2 + col("neg")).cast("decimal(38,0)")))
      .groupBy(col("grp"))
      .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        sum(col("term")).cast("decimal(38,0)").as("auc_num"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("grp").as("grp"), col("n_pos"), col("n_neg"),
        // floor((1e6 · num) / (2·P·N)) — both engines' integer division.
        floor(col("auc_num") * lit(1000000) /
          (col("n_pos").cast("decimal(38,0)") * col("n_neg") * 2))
          .cast("long").as("auc_ppm"))
  }

  /** Binned calibration curve (reliability diagram): normalize the score
    * to [0,1] by the corpus's own min/max (scalar aggregate broadcast —
    * the winsorize pattern), cut into `nBins` fixed-width bins, and emit
    * per-bin support, positive rate (ppm, exact integer division) and
    * mean score (milli). Two passes over the data, both fully map-side
    * combinable; the bin dimension is `nBins`. Degenerate corpus
    * (min == max) collapses to bin 0 rather than dividing by zero.
    */
  def calibrationBins(df: DataFrame, scoreCol: String, positiveCol: Column,
                      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 10000, s"nBins in [2,10000], got $nBins")
    val rows = df.filter(col(scoreCol).isNotNull && positiveCol.isNotNull)
      .select(round(col(scoreCol) * 1000).cast("long").as("score_milli"),
        positiveCol.cast("int").as("is_pos"))
    val mm = rows.agg(min(col("score_milli")).as("lo"),
      max(col("score_milli")).as("hi"))
    rows.crossJoin(broadcast(mm))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(floor((col("score_milli") - col("lo")).cast("decimal(38,0)") *
            nBins / (col("hi") - col("lo"))).cast("long"), lit(nBins - 1L))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("is_pos")).cast("long").as("n_pos"),
        sum(col("score_milli")).cast("long").as("sum_score_milli"))
      .select(col("bin"), col("n"), col("n_pos"),
        floor(col("n_pos").cast("decimal(38,0)") * 1000000 / col("n"))
          .cast("long").as("pos_rate_ppm"),
        floor(col("sum_score_milli").cast("decimal(38,0)") * 1000 / col("n"))
          .cast("long").as("mean_score_micro"))
  }

  /** Pearson chi-square association between two categorical columns, with
    * per-cell detail. Emits one row per observed (a, b) cell: observed
    * count, margins, expected count in micro units (exact integer
    * floor-division of rt·ct·1e6 / n — never a float), and the cell's
    * chi-square term frozen to micro units. The caller sums `term_micro`
    * and derives Cramér's V; [[cramersV]] does both.
    *
    * The chi term never touches a float: with eµ = floor(rt·ct·1e6/n),
    * term·1e6 = (o·1e6 − eµ)² / eµ in exact DECIMAL(38,0) arithmetic
    * ((o·1e6)² ≤ 1e36 fits), floored once. A cell whose expected count
    * rounds to zero micro-units yields a NULL term rather than a
    * division error. Contingency cells are a dimension (|A|·|B|);
    * margins broadcast.
    */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String): DataFrame =
    chiSquareCellsFromCounts(assocState(df, aCol, bCol))

  /** The (a, b, n) contingency census [[chiSquareCellsFromCounts]]
    * scores — an ADDITIVE MONOID (cell counts sum, [[assocCensus]]), so
    * the streaming loop maintains it per micro-batch and reads the
    * current association without replaying the corpus. One corpus-scale
    * map-side-combinable groupBy; output is the |A|·|B| dimension. */
  def assocState(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n"))

  /** [[assocState]]'s census shape. */
  val assocCensus: Census = Census(Seq("a", "b"), Seq("n"))

  /** Per-cell chi-square detail from an [[assocState]] census (possibly
    * folded across micro-batches — cells are re-summed first so a fold
    * is safe). All the expected/term arithmetic of [[chiSquareCells]];
    * the corpus never appears, only the cell dimension. */
  def chiSquareCellsFromCounts(counts: DataFrame): DataFrame = {
    // ONE pass over the census, persisted: every downstream derivation
    // (grid distincts, margins) reads the dimension-scale cell frame —
    // without the persist, Catalyst lineage re-runs the census's corpus
    // groupBy once per reference (12 parquet scans in the first cut of
    // this plan).
    val observed = counts.groupBy(col("a"), col("b"))
      .agg(sum(col("n")).cast("long").as("observed"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Densify to the FULL |A|×|B| grid: a zero cell still contributes
    // (0 − e)²/e to chi-square — dropping unobserved combinations
    // understates the statistic (V of a deterministic 2×2 would read
    // 0.707, not 1). Both factors are dimension-scale distincts.
    val cells = observed.select(col("a")).distinct()
      .crossJoin(observed.select(col("b")).distinct())
      .join(observed, Seq("a", "b"), "left")
      .na.fill(0L, Seq("observed"))
    // Margins as WINDOWS over the cell dimension — no join, no re-scan.
    val rt = sum(col("observed")).over(Window.partitionBy(col("a")))
    val ct = sum(col("observed")).over(Window.partitionBy(col("b")))
    val n = sum(col("observed")).over(Window.rowsBetween(Long.MinValue,
      Long.MaxValue))
    val devMicro = col("observed").cast("decimal(38,0)") * 1000000 -
      col("expected_micro")
    cells
      .withColumn("row_total", rt)
      .withColumn("col_total", ct)
      .withColumn("grand_total", n)
      .withColumn("expected_micro",
        floor(col("row_total").cast("decimal(38,0)") * col("col_total") *
          1000000 / col("grand_total")).cast("long"))
      .withColumn("term_micro",
        when(col("expected_micro") === 0L, lit(null).cast("long"))
          .otherwise(floor(devMicro * devMicro / col("expected_micro"))
            .cast("long")))
      .select(col("a"), col("b"), col("observed"), col("row_total"),
        col("col_total"), col("grand_total"), col("expected_micro"),
        col("term_micro"))
  }

  /** Global chi-square + Cramér's V from [[chiSquareCells]]: exact BIGINT
    * sum of the frozen per-cell terms, V = sqrt(χ² / (n·(min(r,c)−1)))
    * frozen to ppm. One row. */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame =
    cramersVFromCounts(assocState(df, aCol, bCol))

  /** [[cramersV]] from an [[assocState]] census — the read side of the
    * maintained association monitor. */
  def cramersVFromCounts(counts: DataFrame): DataFrame = {
    chiSquareCellsFromCounts(counts)
      .agg(countDistinct(col("a")).as("card_a"),
        countDistinct(col("b")).as("card_b"),
        max(col("grand_total")).as("n"),
        sum(col("term_micro")).as("chi2_micro"))
      .select(col("card_a"), col("card_b"), col("n"), col("chi2_micro"),
        round(sqrt(col("chi2_micro").cast("double") / 1e6 /
          (col("n").cast("double") *
            (least(col("card_a"), col("card_b")).cast("double") - 1.0))) * 1e6)
          .cast("long").as("cramers_v_ppm"))
  }

  /** Two-sample Kolmogorov–Smirnov distance of each group's value
    * distribution against a baseline group, over the QUANTIZED value
    * dimension (the operator's contract: values are compared at milli
    * resolution, which is also what bounds the grid at 100 TB).
    *
    * Shape: one corpus-scale groupBy collapses rows to (group, v_milli)
    * counts; the full v_milli grid (distinct values across all groups —
    * a dimension) is joined per group so both CDFs are evaluated at
    * every jump point; per-group prefix sums give the CDF; the sup
    * distance is computed per grid point as an exact integer —
    * |cumG·totB − cumB·totG|·1e6 / (totG·totB) in DECIMAL(38,0) — and
    * maxed. No corpus-scale window: the windows order the value grid.
    */
  def ksAgainstBaseline(df: DataFrame, groupCol: String, valueCol: String,
                        baseline: String): DataFrame =
    ksFromCounts(ksState(df, groupCol, valueCol), baseline)

  /** The (grp, v_milli, n) quantized-value census [[ksFromCounts]]
    * scores — an ADDITIVE MONOID ([[ksCensus]]), so the streaming loop
    * maintains it per micro-batch and reads the current KS drift without
    * replaying values. Quantization to milli is the operator's contract
    * AND what bounds the grid; unlike PSI the grid needs no pinned cuts,
    * so cells from any batch are comparable by construction and the
    * read side evaluates both CDFs on the union grid. */
  def ksState(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(valueCol) * 1000).cast("long").as("v_milli"))
      .groupBy(col("grp"), col("v_milli")).agg(count(lit(1)).as("n"))

  /** [[ksState]]'s census shape. */
  val ksCensus: Census = Census(Seq("grp", "v_milli"), Seq("n"))

  /** KS sup-distance per group vs `baseline` from a [[ksState]] census
    * (possibly folded — cells re-summed first so a fold is safe). */
  def ksFromCounts(census: DataFrame, baseline: String): DataFrame = {
    // ONE pass over the census, persisted: grid, group list, both CDF
    // sides and the baseline all read this dimension-scale frame
    // (lineage would otherwise re-run the census's corpus groupBy per
    // reference — 5 scans).
    val counts = census.groupBy(col("grp"), col("v_milli"))
      .agg(sum(col("n")).cast("long").as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grid = counts.select(col("v_milli")).distinct()
    val groups = counts.select(col("grp")).distinct()
      .filter(col("grp") =!= baseline)
    val wCum = Window.partitionBy(col("grp")).orderBy(col("v_milli"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // Dense (group × grid) frame with zero-filled counts, then CDF. Both
    // factors of the cross join are dimensions (distinct groups ×
    // distinct quantized values), never the corpus.
    val gSide = counts.filter(col("grp") =!= baseline)
      .join(groups.crossJoin(grid), Seq("grp", "v_milli"), "right")
      .na.fill(0L, Seq("cnt"))
      .withColumn("cum_g", sum(col("cnt")).over(wCum))
      .withColumn("tot_g",
        sum(col("cnt")).over(Window.partitionBy(col("grp"))))
      .drop("cnt")
    // Baseline CDF on the same grid (single logical group).
    val bCounts = counts.filter(col("grp") === baseline)
      .groupBy(col("v_milli")).agg(sum(col("cnt")).as("cnt"))
      .join(grid, Seq("v_milli"), "right").na.fill(0L, Seq("cnt"))
    val wB = Window.orderBy(col("v_milli"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val bSide = bCounts
      .withColumn("cum_b", sum(col("cnt")).over(wB))
      .withColumn("tot_b",
        sum(col("cnt")).over(Window.rowsBetween(Long.MinValue, Long.MaxValue)))
      .drop("cnt")
    gSide.join(bSide, Seq("v_milli"))
      .filter(col("tot_g") > 0 && col("tot_b") > 0)
      .withColumn("diff_ppm",
        floor(abs(col("cum_g").cast("decimal(38,0)") * col("tot_b") -
          col("cum_b").cast("decimal(38,0)") * col("tot_g")) * 1000000 /
          (col("tot_g").cast("decimal(38,0)") * col("tot_b")))
          .cast("long"))
      .groupBy(col("grp"))
      .agg(max(col("tot_g")).as("n_group"), max(col("tot_b")).as("n_baseline"),
        max(col("diff_ppm")).as("ks_ppm"))
  }

  /** First-order Markov transition matrix over per-key ordered event
    * sequences: lag(1) within (key ORDER BY ts, id) pairs consecutive
    * events — ONE key shuffle, the sessionize shape, per-key state is the
    * single previous row — then counts collapse to the (from, to)
    * dimension and each row's probability is one exact integer division
    * to ppm of its from-state total. */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
                       idCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val pairs = df
      .select(col(keyCol), col(tsCol), col(idCol), col(stateCol).as("to_state"))
      .withColumn("from_state", lag(col("to_state"), 1).over(w))
      .filter(col("from_state").isNotNull)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
    transitionsFromCounts(pairs)
  }

  /** Normalize raw (from_state, to_state, n) transition counts to the
    * [[transitionMatrix]] output contract — the read side of the
    * incremental/streaming maintenance path (counts are an additive
    * monoid, so batch deltas just sum). */
  def transitionsFromCounts(counts: DataFrame): DataFrame = {
    val pairs = counts.groupBy(col("from_state"), col("to_state"))
      .agg(sum(col("n")).cast("long").as("n"))
    // From-state totals as a window over the (from, to) DIMENSION — a
    // groupBy+join would re-derive the pair aggregate from its corpus
    // lineage a second time.
    pairs
      .withColumn("from_total",
        sum(col("n")).over(Window.partitionBy(col("from_state"))))
      .select(col("from_state"), col("to_state"), col("n"), col("from_total"),
        floor(col("n").cast("decimal(38,0)") * 1000000 / col("from_total"))
          .cast("long").as("prob_ppm"))
  }

  /** One incremental step of the transition census: transitions WITHIN
    * this batch plus the per-key BOUNDARY transition stitched from
    * `carry` (each key's last event of the previous batches), and the
    * updated carry for keys present in this batch.
    *
    * Contract: batches arrive in event-time order PER KEY (the same
    * ordered-replay assumption the checksum/census maintenance ops
    * document) — a late event older than its key's carried last event
    * would pair out of order. Delta counts are the additive monoid
    * [[transitionsFromCounts]] folds; the carry is latest-per-key
    * (resolved by batch id on the read side). Per-batch cost is the
    * batch's own key shuffle — the history is never re-scanned.
    *
    * @return (deltas (from_state, to_state, n), newCarry (key, last_ts,
    *         last_id, last_state) for keys present in the batch) */
  def transitionStep(batch: DataFrame, carry: DataFrame, keyCol: String,
                     tsCol: String, idCol: String,
                     stateCol: String): (DataFrame, DataFrame) = {
    val ranked = batch
      .select(col(keyCol).as("key"), col(tsCol).as("ts"), col(idCol).as("id"),
        col(stateCol).as("to_state"))
      .withColumn("from_state",
        lag(col("to_state"), 1).over(Window.partitionBy(col("key"))
          .orderBy(col("ts"), col("id"))))
      .withColumn("rn", row_number().over(Window.partitionBy(col("key"))
        .orderBy(col("ts"), col("id"))))
      .withColumn("rn_desc", row_number().over(Window.partitionBy(col("key"))
        .orderBy(col("ts").desc, col("id").desc)))
    val intra = ranked.filter(col("from_state").isNotNull)
      .select(col("from_state"), col("to_state"))
    // Boundary: the batch's first event per key continues the carried run
    // (its own lag is null — drop it before the join or the carried
    // from_state is ambiguous).
    val boundary = ranked.filter(col("rn") === 1).drop("from_state")
      .join(carry.select(col("key"), col("last_state").as("from_state")),
        Seq("key"))
      .select(col("from_state"), col("to_state"))
    val deltas = intra.unionByName(boundary)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
    val newCarry = ranked.filter(col("rn_desc") === 1)
      .select(col("key"), col("ts").as("last_ts"), col("id").as("last_id"),
        col("to_state").as("last_state"))
    (deltas, newCarry)
  }

  /** Herfindahl–Hirschman concentration of `partCol` within each
    * `groupCol`: HHI = Σ share² = Σ cnt² / total², frozen to ppm by one
    * integer division of DECIMAL(38,0) products (cnt² overflows BIGINT
    * once a part passes ~3e9 rows — decimal from the start). Two
    * dimension-scale aggregates after one corpus-scale groupBy. */
  def hhiConcentration(df: DataFrame, groupCol: String,
                       partCol: String): DataFrame =
    hhiFromCounts(hhiState(df, groupCol, partCol))

  /** The (grp, part, n) share census [[hhiFromCounts]] scores — an
    * ADDITIVE MONOID ([[hhiCensus]]), so the streaming loop maintains it
    * per micro-batch and reads the current concentration without
    * replaying the corpus. */
  def hhiState(df: DataFrame, groupCol: String, partCol: String): DataFrame =
    df.filter(col(groupCol).isNotNull && col(partCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(partCol).as("part"))
      .agg(count(lit(1)).as("n"))

  /** [[hhiState]]'s census shape. */
  val hhiCensus: Census = Census(Seq("grp", "part"), Seq("n"))

  /** HHI per group from a [[hhiState]] census (possibly folded — cells
    * re-summed first so a fold is safe). */
  def hhiFromCounts(census: DataFrame): DataFrame = {
    census.groupBy(col("grp"), col("part"))
      .agg(sum(col("n")).cast("long").as("cnt"))
      .groupBy(col("grp"))
      .agg(countDistinct(col("part")).as("n_parts"),
        sum(col("cnt")).as("total"),
        sum(col("cnt").cast("decimal(38,0)") * col("cnt"))
          .cast("decimal(38,0)").as("sum_sq"))
      .select(col("grp"), col("n_parts"), col("total"),
        floor(col("sum_sq") * 1000000 /
          (col("total").cast("decimal(38,0)") * col("total")))
          .cast("long").as("hhi_ppm"))
  }
}
