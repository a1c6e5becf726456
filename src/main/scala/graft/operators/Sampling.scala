package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and train/valid/test splitting for training-data
  * pipelines.
  *
  * Assignment is a pure per-row projection over a salted content hash —
  * no shuffle, no RNG state, no `rand()` (whose per-task seeding makes
  * reruns and engine ports disagree). The same (salt, id) lands in the
  * same split on every run, on every engine with an md5 function, and
  * after any repartitioning — the property training pipelines need so a
  * re-run of a 100 TB split job is a no-op diff, and eval rows can be
  * PROVEN disjoint from train rows years later from the id alone.
  *
  * The rank is the first 8 hex chars of `md5(salt ':' id)` compared as a
  * STRING against quantized thresholds (frac · 2^32 rendered as 8 hex
  * digits): lowercase-hex string order equals numeric order, so the
  * split is exactly reproducible in any SQL engine without hex→int
  * casts (which are not portable). Quantization error is ≤ 2^-32 per
  * boundary.
  */
object Sampling {

  /** 8-hex-char uniform rank in [0, 2^32) for (salt, id) — the portable
    * random variate every operator here derives from. Use integral or
    * string ids: the hash keys on the STRING RENDERING, and float/
    * timestamp renderings differ across engines (Spark "1.0E10" vs SQL
    * "10000000000"), which would silently break cross-engine parity. */
  def hashRankHex(id: Column, salt: String): Column =
    substring(md5(concat(lit(salt), lit(":"), id.cast("string"))), 1, 8)

  /** `frac` as the 8-hex-digit threshold hashRankHex is compared to. */
  private[graft] def thresholdHex(frac: Double): String = {
    require(frac >= 0.0 && frac <= 1.0, s"fraction out of [0,1]: $frac")
    // 2^32 exactly. frac=1.0 must be a STRING upper bound for every hex
    // rank: 'g' > 'f' ≥ any rank char, so "g0000000" keeps everything.
    // (A numeric-looking "100000000" would NOT: '1' < 'a' in string
    // order, so ranks starting a-f would wrongly drop.)
    val q = math.round(frac * 4294967296.0)
    if (q >= 4294967296L) "g0000000" else f"$q%08x"
  }

  /** [[thresholdHex]] as a COLUMN over a fraction computed in-engine —
    * for data-dependent fractions (see [[mixtureRebalance]]) that a SQL
    * twin must reproduce without Scala in the loop. floor(x + 0.5) is
    * math.round's exact contract, spelled out because SQL round()
    * half-rounding conventions differ across engines while floor does
    * not; the ≥ 2^32 guard is the same string-endpoint rule ("g0000000")
    * thresholdHex applies — lpad would TRUNCATE a 9-digit hex back into
    * range and silently drop ~60% of rows. Fractions > 1 (e.g. by a
    * float ulp on the binding stratum, where w·B/t reassociates t/w·w)
    * land in the guard and keep everything, which is the intent. */
  private[graft] def thresholdHexCol(frac: Column): Column = {
    val q = floor(frac * lit(4294967296.0) + lit(0.5)).cast("long")
    when(q >= 4294967296L, lit("g0000000"))
      .otherwise(lpad(lower(hex(q)), 8, "0"))
  }

  /** Rebalance the corpus to target per-stratum token SHARES at the
    * largest achievable size: budget B = min over targets of
    * tokens_s / w_s, keep fraction frac_s = w_s · B / tokens_s (exactly
    * 1 for the binding stratum — the scarce stratum is kept whole and
    * everything else downsamples to match, the standard pre-training
    * mixture construction). Rows are kept via the same salted rank as
    * [[hashSample]]/[[stratifiedSample]], so rebalanced subsets nest
    * across reruns and compose with splits.
    *
    * Strata outside `targets` (including NULL) are DROPPED — they have
    * target share zero. A target stratum with no tokens makes the
    * mixture unachievable at any size: B = 0 and the result is empty
    * (strict by design — silently renormalizing over the remaining
    * strata would ship a corpus with the wrong mixture).
    *
    * Scale shape: one column-pruned scan aggregates per-stratum token
    * counts (map-side partials; ≤ |strata| rows out), the budget is an
    * unpartitioned window over those MODEL-SIZED rows, and the keep
    * filter is a broadcast join of the tiny per-stratum threshold table
    * back onto the corpus scan — the corpus itself never shuffles.
    * Everything (counts → budget → fraction → quantized hex threshold →
    * md5 rank compare) is computed IN-ENGINE from add/mul/div and
    * floor — IEEE correctly-rounded everywhere — so a SQL twin
    * reproduces the row set bit-for-bit. */
  def mixtureRebalance(df: DataFrame, idCol: String, strataCol: String,
                       tokensCol: Column, targets: Seq[(String, Double)],
                       salt: String = "graft"): DataFrame = {
    require(targets.nonEmpty, "at least one target stratum")
    require(targets.map(_._1).distinct.length == targets.length,
      s"duplicate target stratum in ${targets.map(_._1)}")
    targets.foreach { case (s, w) =>
      require(w > 0, s"target weight for '$s' must be > 0, got $w") }
    val wsum = targets.map(_._2).sum
    require(math.abs(wsum - 1.0) < 1e-9, s"target weights must sum to 1, got $wsum")
    Seq("__w", "__t", "__b", "__thr").foreach(c =>
      require(!df.columns.contains(c), s"column $c collides with a rebalance internal"))
    val spark = df.sparkSession
    import spark.implicits._
    mixtureRebalanceFrom(df, idCol, strataCol, tokensCol,
      targets.toDF(strataCol, "__w"), salt)
  }

  /** [[mixtureRebalance]] with the target table supplied as a FRAME
    * ((strataCol, __w) rows) instead of a driver-side Seq — the
    * composition entry point for IN-ENGINE learned targets (DoReMi
    * weights, temperature shares), keeping the whole pipeline one plan
    * with no collect. The Seq API's validation (positive weights,
    * Σ = 1) is the CALLER's contract here: learned-weight producers
    * guarantee it by construction (smoothing floors every DoReMi weight
    * above zero and the normalizer pins the sum). */
  def mixtureRebalanceFrom(df: DataFrame, idCol: String, strataCol: String,
                           tokensCol: Column, targets: DataFrame,
                           salt: String = "graft"): DataFrame = {
    Seq("__w", "__t", "__b", "__thr").foreach(c =>
      require(!df.columns.contains(c), s"column $c collides with a rebalance internal"))
    require(targets.columns.toSet == Set(strataCol, "__w"),
      s"targets must be exactly ($strataCol, __w), got ${targets.columns.toSeq}")
    // LEFT join from targets: a target stratum absent from the corpus
    // must still contribute tokens=0 to the budget min (see scaladoc).
    val counts = targets
      .join(df.groupBy(col(strataCol))
          .agg(sum(tokensCol.cast("long")).as("__t")),
        Seq(strataCol), "left")
      .withColumn("__t", coalesce(col("__t"), lit(0L)))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val thresholds = counts
      .withColumn("__b", min(col("__t").cast("double") / col("__w")).over(wAll))
      // Zero-token stratum: keep fraction 0 by definition (and ANSI mode
      // would throw on the 0-divisor double division; B is already 0 so
      // the whole result is empty either way).
      .withColumn("__thr", thresholdHexCol(when(col("__t") === 0L, lit(0.0))
        .otherwise(col("__w") * col("__b") / col("__t").cast("double"))))
      .select(col(strataCol), col("__thr"))
    df.join(broadcast(thresholds), Seq(strataCol))
      .filter(hashRankHex(col(idCol), salt) < col("__thr"))
      .select(df.columns.map(col): _*)
  }

  /** Deterministic `frac` sample: keep rows whose rank falls below the
    * threshold. Composable: samples at f1 < f2 with the same salt are
    * NESTED (the f1 sample is a subset of the f2 sample), so growing a
    * training subset never resamples what's already processed. */
  def hashSample(df: DataFrame, idCol: String, frac: Double,
                 salt: String = "graft"): DataFrame =
    df.filter(hashRankHex(col(idCol), salt) < lit(thresholdHex(frac)))

  /** Stratified deterministic sample: per-stratum keep fractions (e.g.
    * downsample the dominant language while keeping the tail whole — the
    * standard pre-training mixture rebalance). Strata not in `fracs`
    * (including NULL) use `defaultFrac`. Same rank as [[hashSample]], so
    * per-stratum nesting holds and the whole pass is a shuffle-free
    * filter over the scan. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       fracs: Map[String, Double], defaultFrac: Double = 1.0,
                       salt: String = "graft"): DataFrame = {
    val thr = fracs.toSeq.sortBy(_._1)
      .foldRight(lit(thresholdHex(defaultFrac)): Column) {
        case ((stratum, f), acc) =>
          when(col(strataCol) === stratum, lit(thresholdHex(f))).otherwise(acc)
      }
    df.filter(hashRankHex(col(idCol), salt) < thr)
  }

  /** Bounded per-group EXEMPLAR sample: the `k` rows with the smallest
    * salted-md5 ranks in each group — the fixed-size "show me k docs per
    * source" draw (debug panels, eval sheets, per-stratum spot checks),
    * complementing [[stratifiedSample]]'s fraction-based thinning (a
    * fraction of a mega-group is still mega; an exemplar panel is k rows
    * whatever the group holds). Deterministic and engine-portable: the
    * rank string is `md5(salt:id)` extended by a SECOND independent md5
    * lane and the raw id, so ordering is total (no ties to break) and
    * any md5-capable engine selects the exact same rows.
    *
    * Scale shape: ONE aggregation whose per-group buffer is bounded at
    * k rank strings ([[graft.functions.BoundedMinK]] — sorted capped
    * insert, map-side combinable), then a model-scale explode. The
    * window alternative — row_number over (group, rank) — sorts every
    * group's FULL row set to keep k; this never holds more than k.
    * Output: (groupCol, rn, idCol), rn = 1..≤k in rank order. */
  def groupExemplars(df: DataFrame, idCol: String, groupCol: String,
                     k: Int, salt: String = "graft"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(idCol != groupCol, "id and group columns must differ")
    // Three ':'-joined fields: the md5 rank orders; a SECOND independent
    // md5 totalizes the order under an (astronomically unlikely) first-
    // lane collision; the RAW id decodes back from field 3 (split with
    // limit, so ids containing ':' keep their own colons). Both framing
    // fields are hex-only — an earlier zero-PADDED-id tie-break leaked
    // the id's own ':' into the middle field and mis-framed the decode.
    val idStr = col(idCol).cast("string")
    val rank = concat(md5(concat(lit(salt), lit(":"), idStr)),
      lit(":"), md5(concat(lit(salt), lit("2:"), idStr)), lit(":"), idStr)
    df.filter(col(idCol).isNotNull)
      .select(col(groupCol), rank.as("__r"))
      .groupBy(col(groupCol))
      .agg(graft.functions.BoundedMinK.minKStrings(col("__r"), k).as("__rs"))
      .select(col(groupCol), posexplode(col("__rs")).as(Seq("__p", "__r")))
      .select(col(groupCol), (col("__p") + 1).as("rn"),
        // limit=3: the raw-id field must keep ITS OWN colons (a string
        // id "a:b" would otherwise decode as "a")
        element_at(split(col("__r"), ":", 3), 3)
          .cast(df.schema(idCol).dataType).as(idCol))
  }

  /** The (name, upper-threshold-hex) ladder shared by [[splitColumn]] and
    * any SQL mirror of it (e.g. the verification oracle): ONE place
    * renders the cumulative bounds, so an engine port can't drift by a
    * floating-point ulp in the cumulative sum. Excludes the last split,
    * which is the CASE's ELSE arm. */
  private[graft] def thresholdLadder(splits: Seq[(String, Double)]): Seq[(String, String)] = {
    require(splits.nonEmpty, "at least one split")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    splits.init.zip(cum.init).map { case ((name, _), upper) =>
      name -> thresholdHex(upper)
    }
  }

  /** Split assignment column: fractions in declaration order, remainder
    * to the last split. `splits` like Seq("train" -> 0.8, "valid" -> 0.1,
    * "test" -> 0.1) (fractions must sum to ~1; the last split is the
    * unconditional remainder so rounding never leaves a row unassigned). */
  def splitColumn(id: Column, splits: Seq[(String, Double)],
                  salt: String = "graft"): Column = {
    val r = hashRankHex(id, salt)
    val cases = thresholdLadder(splits).foldLeft(Option.empty[Column]) {
      case (acc, (name, upperHex)) =>
        val cond = r < lit(upperHex)
        Some(acc.fold(when(cond, name))(_.when(cond, name)))
    }
    cases.fold(lit(splits.last._1))(_.otherwise(splits.last._1))
  }

  private val WsReserved = Seq("__rank", "__bkt", "__cum", "__tot", "__off",
    "__w_total", "stream_offset", "n_copies")

  /** Weighted SYSTEMATIC sample (probability-proportional-to-size, Madow
    * 1949): draw `k` selection points evenly spaced over the cumulative
    * weight stream `[0, W)` — point j sits at j·W/k — and give each row
    * `n_copies` = points falling inside its weight interval. The stream
    * order is the salted md5 rank (see [[hashRankHex]]), so the draw is a
    * pure function of (salt, ids, weights): reproducible across reruns,
    * engines, and partitionings, like every sampler here. This is the
    * mixture-construction primitive the plain [[hashSample]] can't
    * express: rows are drawn by TOKEN mass, not row count, every row with
    * weight > W/k is GUARANTEED in (deterministic inclusion of heavy
    * docs), n_copies > 1 means the doc repeats in the sampled stream
    * (epoch weighting), and Σ n_copies = k exactly — the sample hits the
    * token budget on the nose, no variance.
    *
    * Exactness: n_copies = ceil(hi·k/W) − ceil(lo·k/W) computed in
    * DECIMAL(38,0) ceil-division (ceil(a/b) = floor((a+b−1)/b), floor via
    * subtract-pmod so no rounded decimal division ever feeds a floor —
    * a scale-6 quotient HALF_UP-rounds values within 5e-7 of an integer
    * UP across it, which a double or naive decimal divide would turn
    * into an off-by-one copy). hi·k at 100 TB (2.5e13 tokens × 1e6
    * points ≈ 2.5e19) overflows LONG; decimal(38,0) has 19 digits of
    * headroom. Any SQL engine reproduces with integer floor-division.
    *
    * Scale shape: the cumulative stream is the [[Packing]] two-phase
    * distributed prefix sum (256 rank-prefix buckets, per-bucket windows,
    * one 256-row offset frame broadcast back) — no global-window funnel;
    * W rides the same model-sized frame. Rows with NULL id, NULL weight,
    * or weight ≤ 0 are excluded (a zero-weight row has an empty interval
    * and can never be drawn; NULLs would shift every successor — the
    * [[Packing.sequenceOffsets]] rationale). */
  def weightedSystematicSample(df: DataFrame, idCol: String,
                               weightCol: String, k: Long,
                               salt: String = "wsample"): DataFrame = {
    require(k > 0, "k must be positive")
    val clash = df.columns.filter(WsReserved.contains)
    require(clash.isEmpty, s"column(s) ${clash.mkString(",")} collide with " +
      s"weightedSystematicSample temp/output columns")
    val w = col(weightCol).cast("long")
    val r = df.filter(col(idCol).isNotNull && w.isNotNull && w > 0)
      .withColumn("__rank", hashRankHex(col(idCol), salt))
      .withColumn("__bkt", substring(col("__rank"), 1, 2))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bkt")).orderBy(col("__rank"), col(idCol))
      .rowsBetween(Long.MinValue, 0)
    val wBuckets = org.apache.spark.sql.expressions.Window
      .orderBy(col("__bkt")).rowsBetween(Long.MinValue, -1)
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val offsets = r.groupBy(col("__bkt")).agg(sum(w).as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(wBuckets), lit(0L)))
      .withColumn("__w_total", sum(col("__tot")).over(wAll))
      .select(col("__bkt"), col("__off"), col("__w_total"))
    val dec = "decimal(38,0)"
    // #points j∈[0,k) with j·W/k < c, i.e. ceil(c·k/W), all-integer.
    def pointsBelow(c: Column, tot: Column): Column = {
      val x = c.cast(dec) * lit(k) + tot.cast(dec) - lit(1)
      ((x - pmod(x, tot.cast(dec))) / tot.cast(dec)).cast("long")
    }
    r.withColumn("__cum", sum(w).over(wLocal))
      .join(broadcast(offsets), Seq("__bkt"))
      .withColumn("stream_offset", col("__off") + col("__cum") - w)
      .withColumn("n_copies",
        pointsBelow(col("stream_offset") + w, col("__w_total")) -
          pointsBelow(col("stream_offset"), col("__w_total")))
      .filter(col("n_copies") > 0)
      .drop("__rank", "__bkt", "__cum", "__off", "__w_total")
  }

  private val QrReserved = Seq("__score", "__bkt", "__cnt", "__lcum",
    "__tot", "__off", "__n")

  /** Per-group quantile rank (SQL `cume_dist`: rows-with-score-≤-mine /
    * group size) WITHOUT the per-group sort funnel: raw quality scores
    * are not comparable across sources — each source has its own score
    * distribution — so "keep the best 30% of every source" must
    * threshold the within-group QUANTILE, not the raw score. The naive
    * form (`cume_dist().over(partitionBy(group).orderBy(score))`) drags
    * a whole group through ONE task — the hot-key funnel, since real
    * corpora have a dominant source.
    *
    * Distributed form (the [[Packing]] prefix-sum discipline, adapted to
    * VALUE-ordered buckets because quantiles need a monotone order, not
    * a hash order):
    *  1. collapse rows to distinct (group, score) counts — map-side
    *     combinable, and ties collapse so peers share one row;
    *  2. quantize score into `buckets` monotone ranges of
    *     [minScore, maxScore] (out-of-range clamps to the end buckets —
    *     still order-preserving); per-(group, bucket) prefix counts run
    *     in parallel windows;
    *  3. per-(group, bucket) totals → running offsets + group size via
    *     windows over the #groups×buckets model-scale frame;
    *  4. price each distinct score: pctl = (offset + local cum) / n —
    *     one IEEE division of exact longs, bit-identical on any engine —
    *     and join back to rows on (group, score).
    * Spec-proven equal to the naive window form. Worst case is a
    * DEGENERATE score distribution (all mass in one bucket): the funnel
    * is then the group's distinct-score cardinality in that bucket —
    * still never the row count, which the collapse already absorbed.
    *
    * Rows with NULL/NaN scores or NULL group keys are EXCLUDED (NaN
    * would rank above every real score in Spark but below none in
    * standard SQL; a NULL group is dropped by the equi-join back). */
  def groupQuantileRank(df: DataFrame, scoreCol: String, byCols: Seq[String],
                        minScore: Double, maxScore: Double,
                        buckets: Int = 256,
                        outCol: String = "pctl"): DataFrame = {
    require(byCols.nonEmpty, "at least one group column")
    require(maxScore > minScore, "maxScore must exceed minScore")
    require(buckets >= 2, "need at least 2 buckets")
    val clash = df.columns.filter((QrReserved :+ outCol).contains)
    require(clash.isEmpty, s"column(s) ${clash.mkString(",")} collide with " +
      s"groupQuantileRank temp/output columns")
    val W = org.apache.spark.sql.expressions.Window
    val by = byCols.map(col)
    val s = col(scoreCol).cast("double")
    val rows = df
      .filter(s.isNotNull && !isnan(s) && byCols.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__score", s)
      .withColumn("__bkt", least(greatest(
          floor((col("__score") - minScore) / (maxScore - minScore) * buckets),
          lit(0.0)), lit((buckets - 1).toDouble)).cast("int"))
    val dist = rows.groupBy(by :+ col("__bkt") :+ col("__score"): _*)
      .agg(count(lit(1)).as("__cnt"))
    val wLocal = W.partitionBy(by :+ col("__bkt"): _*).orderBy(col("__score"))
      .rowsBetween(Long.MinValue, 0)
    val wOff = W.partitionBy(by: _*).orderBy(col("__bkt"))
      .rowsBetween(Long.MinValue, -1)
    val wN = W.partitionBy(by: _*).rowsBetween(Long.MinValue, Long.MaxValue)
    val offs = dist.groupBy(by :+ col("__bkt"): _*).agg(sum(col("__cnt")).as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__tot")).over(wN))
      .select(by :+ col("__bkt") :+ col("__off") :+ col("__n"): _*)
    val priced = dist
      .withColumn("__lcum", sum(col("__cnt")).over(wLocal))
      .join(offs, byCols :+ "__bkt")
      .withColumn(outCol,
        (col("__off") + col("__lcum")).cast("double") / col("__n").cast("double"))
      .select(by :+ col("__score") :+ col(outCol): _*)
    rows.join(priced, byCols :+ "__score")
      .drop("__score", "__bkt")
  }

  /** The full train/valid/test assignment frame: id, rank_hex, split.
    * NULL ids are EXCLUDED, not assigned: their rank is null, so every
    * threshold compare is null and the CASE would fall through to the
    * LAST split — silently polluting the eval set with exactly the rows
    * whose identity is unknown. (hashSample/stratifiedSample already
    * drop them: a null rank never passes the filter.) */
  def deterministicSplit(df: DataFrame, idCol: String,
                         splits: Seq[(String, Double)],
                         salt: String = "graft"): DataFrame =
    df.filter(col(idCol).isNotNull)
      .withColumn("rank_hex", hashRankHex(col(idCol), salt))
      .withColumn("split", splitColumn(col(idCol), splits, salt))

  /** WINSORIZE a numeric column at the data's own [lo, hi] percentile
    * cuts — the robust outlier clamp a feature pipeline applies before
    * scaling/normalizing (a fat-tailed metric would otherwise let a few
    * rows set the scale). Output keeps every non-null-value row:
    * (id, value, value_w, clipped) with value_w = clamp(value, lo_cut,
    * hi_cut) and clipped ∈ {−1, 0, +1} marking which tail was cut —
    * downstream keeps value_w and can audit tail mass by summing
    * |clipped| per side.
    *
    * Oracle-exact: `percentile` shares DuckDB quantile_cont's linear
    * interpolation (the q_group_percentiles parity), and the clamp is
    * least/greatest COMPARISONS on bit-identical doubles — no new float
    * arithmetic anywhere.
    *
    * Scale shape: cuts are ONE two-value aggregate broadcast back as a
    * scalar (the mixtureReport pattern); the clamp is a pure projection.
    * The exact percentile buffers per-distinct-value state —
    * [[winsorizeSketch]] is the 100 TB twin (the surprisalBands →
    * surprisalBandsSketch pairing, same rank-error contract). */
  def winsorize(df: DataFrame, idCol: String, valueCol: String,
                lo: Double = 0.01, hi: Double = 0.99): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got $lo/$hi")
    val v = df.filter(col(valueCol).isNotNull)
    winsorizeFromCuts(v, idCol, valueCol, v.agg(
      percentile(col(valueCol).cast("double"), lit(lo)).as("__lo"),
      percentile(col(valueCol).cast("double"), lit(hi)).as("__hi")))
  }

  /** [[winsorize]]'s 100 TB twin: identical output contract, cuts from
    * `approx_percentile` (mergeable KLL sketch, O(accuracy) state per
    * executor vs the exact percentile's per-distinct-value buffer).
    * Rank error ≤ 1/accuracy: only rows within that rank band of a cut
    * can clamp differently. Rows-only in the oracle (DuckDB has no KLL
    * twin); VerifyExtras floors agreement vs the exact variant. */
  def winsorizeSketch(df: DataFrame, idCol: String, valueCol: String,
                      lo: Double = 0.01, hi: Double = 0.99,
                      accuracy: Int = 10000): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got $lo/$hi")
    require(accuracy >= 100, s"accuracy must be >= 100, got $accuracy")
    val v = df.filter(col(valueCol).isNotNull)
    winsorizeFromCuts(v, idCol, valueCol, v.agg(
      percentile_approx(col(valueCol).cast("double"), lit(lo), lit(accuracy))
        .as("__lo"),
      percentile_approx(col(valueCol).cast("double"), lit(hi), lit(accuracy))
        .as("__hi")))
  }

  /** Shared clamp body: the two public variants differ ONLY in how the
    * 1-row (__lo, __hi) cut frame was estimated. */
  private def winsorizeFromCuts(v: DataFrame, idCol: String, valueCol: String,
                                cuts: DataFrame): DataFrame =
    v.crossJoin(broadcast(cuts))
      .select(col(idCol).as("id"), col(valueCol).as("value"),
        least(greatest(col(valueCol).cast("double"), col("__lo")), col("__hi"))
          .as("value_w"),
        when(col(valueCol) < col("__lo"), -1)
          .when(col(valueCol) > col("__hi"), 1).otherwise(0).as("clipped"))

  /** Per-group ROBUST OUTLIERS via median/MAD (the modified z-score of
    * Iglewicz & Hoaglin): z = 0.6745·(x − median)/MAD, flag |z| > cut —
    * the outlier gate that, unlike mean/stddev, a few extreme values
    * cannot drag toward themselves. [[winsorize]] clips at global
    * percentile cuts; this FLAGS per-group, so a value ordinary in one
    * group is still caught where it is extreme.
    *
    * Two exact per-group `percentile` aggregates (the median, then the
    * MAD over |x − median|), both sharing quantile_cont's interpolation
    * (the q_group_percentiles parity) so med/MAD/z hash-match the
    * oracle; z is one IEEE chain per row on bit-identical doubles. A
    * zero-MAD group (over half its mass at the median) yields NULL z,
    * and its outlier flag degrades to value ≠ median.
    *
    * The exact percentile buffers each group's distinct values — the
    * verify-scale twin by the repo's convention; [[robustOutliersSketch]]
    * is the 100 TB path. Group cut frames broadcast. */
  def robustOutliers(df: DataFrame, groupCol: String, idCol: String,
                     valueCol: String, zCut: Double = 3.5): DataFrame =
    robustFromEstimator(df, groupCol, idCol, valueCol, zCut,
      (c, p) => percentile(c, lit(p)))

  /** [[robustOutliers]]' 100 TB twin: identical contract, med/MAD from
    * `approx_percentile` (mergeable KLL sketch, O(accuracy) state per
    * executor vs the exact percentile's per-distinct-value buffer —
    * the winsorize/PSI pairing). Only rows whose |z| sits within the
    * cuts' rank-error band of the threshold can flag differently.
    * Rows-only in the oracle; VerifyExtras floors flag agreement vs the
    * exact variant. */
  def robustOutliersSketch(df: DataFrame, groupCol: String, idCol: String,
                           valueCol: String, zCut: Double = 3.5,
                           accuracy: Int = 10000): DataFrame = {
    require(accuracy >= 100, s"accuracy must be >= 100, got $accuracy")
    robustFromEstimator(df, groupCol, idCol, valueCol, zCut,
      (c, p) => percentile_approx(c, lit(p), lit(accuracy)))
  }

  /** Shared body: the two public variants differ ONLY in the quantile
    * estimator the two per-group cut passes use. */
  private def robustFromEstimator(df: DataFrame, groupCol: String,
                                  idCol: String, valueCol: String,
                                  zCut: Double,
                                  q: (Column, Double) => Column): DataFrame = {
    require(zCut > 0, s"zCut must be positive, got $zCut")
    val v = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"), col(idCol).as("id"),
        col(valueCol).cast("double").as("value"))
    val med = v.groupBy(col("grp")).agg(q(col("value"), 0.5).as("med"))
    val withMed = v.join(broadcast(med), Seq("grp"))
    val mad = withMed.groupBy(col("grp"))
      .agg(q(abs(col("value") - col("med")), 0.5).as("mad"))
    val z = lit(0.6745) * (col("value") - col("med")) / col("mad")
    withMed.join(broadcast(mad), Seq("grp"))
      .select(col("grp"), col("id"), col("value"), col("med"), col("mad"),
        when(col("mad") === 0.0, lit(null).cast("double"))
          .otherwise(z).as("robust_z"),
        when(col("mad") === 0.0, (col("value") =!= col("med")).cast("int"))
          .otherwise((abs(z) > zCut).cast("int")).as("is_outlier"))
  }
}
