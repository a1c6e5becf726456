package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.Census

/** Volume-drift monitoring: the first alarm a warehouse-parity pipeline
  * watches (the reference triages per-table discrepancy metrics; a feed
  * that silently drops or doubles shows up as a period-over-period count
  * cliff long before any row-level diff is worth running).
  */
object Monitoring {

  /** Cumulative quality-filter funnel: how many rows survive each stage
    * of a filter chain, in ONE pass. Stage `i`'s count applies stages
    * `1..i` ANDed in declaration order — the report a pipeline owner
    * reads to see which filter is eating the corpus before committing a
    * 100 TB run to it.
    *
    * Scale shape: every stage is a conditional count inside a single
    * global aggregate over one scan — no per-stage jobs, no shuffle
    * beyond the 1-row final merge (map-side partials carry
    * #stages+1 longs). The per-stage rows are unpivoted from that one
    * row; `retention` = n_pass/total is a single long/long → double
    * division, IEEE-identical in any engine. A NULL-valued condition
    * counts as false (SQL FILTER semantics).
    * Output: (stage_ord, stage, n_pass, retention). */
  def filterFunnel(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "at least one funnel stage")
    require(stages.map(_._1).distinct.length == stages.length,
      s"duplicate stage name in ${stages.map(_._1)}")
    require(stages.forall(s => s._1.matches("[A-Za-z0-9_]+")),
      "stage names must be [A-Za-z0-9_]+ (they are spliced into stack())")
    val cum = stages.scanLeft(lit(true): Column)((acc, s) => acc && s._2).tail
    val aggs = count(lit(1)).as("__total") +:
      cum.zip(stages).map { case (c, (n, _)) => count(when(c, 1)).as(s"__s_$n") }
    val stackArgs = (Seq("0", "'total'", "__total") +:
      stages.zipWithIndex.map { case ((n, _), i) =>
        Seq(s"${i + 1}", s"'$n'", s"__s_$n") }).map(_.mkString(", ")).mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("__total"),
        expr(s"stack(${stages.size + 1}, $stackArgs) AS (stage_ord, stage, n_pass)"))
      .select(col("stage_ord"), col("stage"), col("n_pass"),
        (col("n_pass") / col("__total")).as("retention"))
  }

  /** Data-quality constraint report — the integrity half of warehouse
    * validation (parity says both sides agree; constraints say the data
    * itself is well-formed). Three standard checks as (constraint,
    * violations, pass) rows:
    *  - `pk_not_null`: rows with any NULL key component;
    *  - `pk_unique`: rows beyond the first per key (count − distinct,
    *    over non-null keys — the nullable check is the line above);
    *  - `fk_<child>_<parent>` per declared FK: non-null child keys with
    *    no parent (LEFT ANTI count; the join broadcasts when the parent
    *    is dimension-sized, and NULL FKs are the not-null check's
    *    business, not a referential violation — SQL convention).
    * Key checks are ONE aggregate over one scan; each FK is one anti
    * join producing a single count. */
  def constraintReport(df: DataFrame, pks: Seq[String],
                       fks: Seq[(String, String, DataFrame, String)] = Nil): DataFrame = {
    require(pks.nonEmpty, "at least one pk column")
    val spark = df.sparkSession
    import spark.implicits._
    val pkNull = pks.map(col(_).isNull).reduce(_ || _)
    // Multi-column count_distinct, NOT a ':'-joined string: composite
    // keys whose parts contain the delimiter would alias ("x:1","y") ==
    // ("x","1:y") and fake a uniqueness violation. count_distinct skips
    // rows with any NULL component — exactly the rows pk_not_null owns.
    val keyAgg = df.agg(
      count(when(pkNull, 1)).as("n_null"),
      count(when(!pkNull, 1)).as("n"),
      count_distinct(col(pks.head), pks.tail.map(col): _*).as("nd")).head()
    val keyRows = Seq(
      ("pk_not_null", keyAgg.getLong(0)),
      ("pk_unique", keyAgg.getLong(1) - keyAgg.getLong(2)))
    val fkRows = fks.map { case (name, childKey, parent, parentKey) =>
      // Renamed probe/build keys: unqualified col(childKey)===col(parentKey)
      // is AMBIGUOUS whenever both sides name the FK column identically
      // (the common warehouse convention).
      val v = df.select(col(childKey).as("__ck")).filter(col("__ck").isNotNull)
        .join(parent.select(col(parentKey).as("__pk")).filter(col("__pk").isNotNull),
          col("__ck") === col("__pk"), "left_anti")
        .count()
      (name, v)
    }
    (keyRows ++ fkRows).toDF("constraint", "violations")
      .withColumn("pass", col("violations") === 0L)
  }

  /** Shared profile builder: one aggregation pass producing
    * (column, n_nulls, n_distinct, min_s, max_s) rows in the given
    * column order, parameterized by the distinct aggregate (exact
    * count_distinct vs HLL++ approx) so the exact and sketch paths
    * cannot diverge in shape. */
  private def profileWith(df: DataFrame, cols: Seq[String],
                          distinctAgg: Column => Column): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    require(cols.forall(c => c.matches("[A-Za-z0-9_]+")),
      "column names must be [A-Za-z0-9_]+ (they are spliced into stack())")
    val aggs = cols.flatMap { c =>
      Seq(count(when(col(c).isNull, 1)).as(s"__nn_$c"),
        distinctAgg(col(c)).as(s"__nd_$c"),
        // min/max on the NATIVE type, rendered after: a lexicographic
        // min over string casts would rank "10" below "9".
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val stackArgs = cols.zipWithIndex.map { case (c, i) =>
      s"$i, '$c', __nn_$c, __nd_$c, __mn_$c, __mx_$c"
    }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, $stackArgs) AS " +
        "(ord, column, n_nulls, n_distinct, min_s, max_s)"))
      .drop("ord")
  }

  /** Shared compare scaffold over per-side profiles: hive_/sf_ renames,
    * the equi-join on column, and the exact null/range drift flags;
    * `distinctDrift` supplies the (exact or tolerance-gated) distinct
    * comparison. */
  private def compareProfiles(l0: DataFrame, r0: DataFrame,
      distinctDrift: (Column, Column) => Column): DataFrame = {
    val l = l0.select(col("column"), col("n_nulls").as("hive_nulls"),
      col("n_distinct").as("hive_distinct"),
      col("min_s").as("hive_min"), col("max_s").as("hive_max"))
    val r = r0.select(col("column"), col("n_nulls").as("sf_nulls"),
      col("n_distinct").as("sf_distinct"),
      col("min_s").as("sf_min"), col("max_s").as("sf_max"))
    l.join(r, Seq("column"))
      .withColumn("null_drift", col("hive_nulls") =!= col("sf_nulls"))
      .withColumn("distinct_drift",
        distinctDrift(col("hive_distinct"), col("sf_distinct")))
      .withColumn("range_drift",
        !(col("hive_min") <=> col("sf_min")) || !(col("hive_max") <=> col("sf_max")))
  }

  /** Per-column profile: null count, exact distinct count, min/max (as
    * strings — type-uniform across the unpivot) for each column, in ONE
    * aggregation pass (Spark plans the multi-distinct via a single
    * expand; at 100 TB swap the exact distinct for the HLL sketch —
    * q_sketch_profile — this is the verify-scale/profiling-dimension
    * form). Output: (column, n_nulls, n_distinct, min_s, max_s) in the
    * given column order. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileWith(df, cols, count_distinct(_))

  /** [[columnProfile]]'s 100 TB form: the exact multi-distinct (one
    * Expand branch per profiled column — a 4× scan-width blow-up at 4
    * columns, the q_profile_compare sf10 tail) swaps for HLL++
    * `approx_count_distinct`, a plain single-pass aggregate: no Expand,
    * one scan at native width, mergeable partials. Null counts and
    * native-typed min/max stay exact — only the distinct count is an
    * estimate (rsd default 0.05; deterministic for a given value set,
    * order-insensitive register max-merge). */
  def columnProfileSketch(df: DataFrame, cols: Seq[String],
                          rsd: Double = 0.05): DataFrame =
    profileWith(df, cols, approx_count_distinct(_, rsd))

  /** [[profileCompare]] over sketched profiles — the scale path for the
    * per-column health row. null_drift and range_drift stay exact
    * (their inputs are exact); distinct_drift compares ESTIMATES, so it
    * fires on relative divergence beyond `distinctTol` instead of bare
    * inequality — two sides holding different same-cardinality value
    * sets legitimately produce slightly different register sets, and a
    * bare != would flag sketch noise as drift. The tol should sit a
    * bit above the sketch rsd (estimates of the SAME value set are
    * identical; of equal-cardinality different sets, within ~rsd each
    * of truth). Rows-only by nature: HLL register layouts aren't
    * SQL-portable — accuracy vs the exact profile is pinned in
    * MonitoringSpec and exported per-round via VerifyExtras. */
  def profileCompareSketch(left: DataFrame, right: DataFrame,
                           cols: Seq[String], rsd: Double = 0.05,
                           distinctTol: Double = 0.15): DataFrame =
    compareProfiles(
      columnProfileSketch(left, cols, rsd), columnProfileSketch(right, cols, rsd),
      (a, b) => abs(a - b).cast("double") >
        lit(distinctTol) * greatest(a, b).cast("double"))

  /** Column-profile COMPARE across warehouse sides — the reference's
    * count-compare deepened to per-column health: null counts, distinct
    * counts, and min/max per column on both sides, with drift flags. A
    * column whose null count jumps or whose min/max window shifts is
    * drifting even when row counts match — this is the profiling row a
    * migration validator reads per table after the count compare.
    * Output: one row per column with hive_/sf_ stats, null_drift and
    * range_drift flags.
    *
    * distinct counts can diverge while nulls and min/max all match
    * (values shuffled inside the same range) — distinct_drift is a
    * separate exact flag so a downstream filter on the drift flags
    * can't miss it. */
  def profileCompare(left: DataFrame, right: DataFrame,
                     cols: Seq[String]): DataFrame =
    compareProfiles(columnProfile(left, cols), columnProfile(right, cols),
      (a, b) => a =!= b)

  /** Per-(dims, period) row counts with the previous period's count, the
    * count ratio, and a drift flag when volume more than `factor`-folds
    * up or down.
    *
    * Scale shape: one aggregation shuffle collapses the corpus to
    * (dims, period) group rows — bounded model data (dim cardinality ×
    * periods), so the lag window runs over group rows, never corpus
    * rows. The drift flag compares integers (`n` vs `factor·prev`) and
    * is engine-exact; `ratio` is a single long/long division — IEEE
    * correctly-rounded, portable — and NULL for each group's first
    * period (no prior to compare against, which is not the same claim
    * as "no drift").
    */
  def countDrift(df: DataFrame, dims: Seq[String], period: Column,
                 factor: Int = 2): DataFrame =
    countDriftFromCounts(countState(df, dims, period), dims, factor)

  /** The (dims, day, n) periodic-count table both count monitors fold
    * over — an ADDITIVE monoid (counts of disjoint batches add per key),
    * so the production loop can maintain it per ingest batch
    * ([[countCensus]]) and read the monitors off folded state without
    * replaying events — the [[dupRateState]] precedent applied to the
    * volume monitors. */
  def countState(df: DataFrame, dims: Seq[String], period: Column): DataFrame = {
    requireNoOutputCollision(dims)
    df.groupBy(dims.map(col) :+ period.as("day"): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** [[countState]]'s census shape: keys `dims :+ "day"`, value `n`. */
  def countCensus(dims: Seq[String]): Census = Census(dims :+ "day", Seq("n"))

  /** A dim named like one of the monitors' output columns would be
    * silently overwritten by the report's withColumns — repeated in the
    * FromCounts variants too, which are documented direct entry points
    * for externally-built count tables and so can't rely on
    * [[countState]] having screened the names. */
  private def requireNoOutputCollision(dims: Seq[String]): Unit = {
    require(dims.nonEmpty, "at least one grouping dimension")
    Seq("day", "n", "prev_n", "ratio", "is_drift", "med", "mad",
        "deviation", "is_anomaly").foreach(c =>
      require(!dims.contains(c), s"dimension '$c' collides with an output column"))
  }

  /** [[countDrift]]'s report off an existing (dims, day, n) count table
    * ([[countState]] or a fold of maintained state). */
  def countDriftFromCounts(daily: DataFrame, dims: Seq[String],
                           factor: Int = 2): DataFrame = {
    requireNoOutputCollision(dims)
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val w = Window.partitionBy(dims.map(col): _*).orderBy(col("day"))
    daily
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .withColumn("ratio",
        when(col("prev_n").isNull, lit(null).cast("double"))
          .otherwise(col("n").cast("double") / col("prev_n").cast("double")))
      .withColumn("is_drift",
        (col("prev_n").isNotNull &&
          (col("n") > col("prev_n") * factor || col("n") * factor < col("prev_n")))
          .cast("int"))
  }

  /** Population Stability Index (PSI) distribution drift between two
    * sides of a numeric column — the standard drift score model/feature
    * monitoring uses where [[profileCompare]]'s min/max/null checks
    * can't see a SHAPE change (same range, different mass): bin by the
    * LEFT (reference) side's `nBuckets` quantile cut points, count both
    * sides into those bins, and score Σ (p_i − q_i)·ln(p_i/q_i). Common
    * reading: < 0.1 stable, 0.1-0.25 moderate, > 0.25 major drift.
    *
    * Output is PER-BUCKET rows (bucket, n_left, n_right, p_left,
    * p_right, one_sided, psi_term, cum_psi) — the last bucket's
    * `cum_psi` is the total PSI over two-sided buckets. A bucket
    * populated on exactly one side makes the ln term undefined; rather
    * than ε-smoothing (a magic constant that silently dominates the
    * score), such buckets flag `one_sided` = 1 and contribute NULL to
    * the sum — a one-sided bucket IS categorical drift and should alarm
    * on its own flag.
    *
    * Cross-engine float discipline: bucket counts are exact longs;
    * shares are long/long IEEE divisions; ln(p/q) is rounded once to 6
    * decimals (the docSurprisal freeze); `cum_psi` accumulates over an
    * ORDERED bounded window (nBuckets rows), so the addition sequence
    * is fixed on every engine. The discipline additionally requires an
    * INTEGER-VALUED column (the cents pattern): quantile cuts are
    * interpolated doubles whose two textbook forms differ by ulps, and
    * only integer data keeps every cut strictly between adjacent
    * distinct values where a sub-ulp wobble cannot flip a bucket.
    *
    * Scale shape: cut points are one exact-percentile aggregate over
    * the reference side collected driver-side as MODEL data (nBuckets−1
    * doubles, the IVF-centroid pattern — at 100 TB swap in
    * approx_percentile, same shape); bucket assignment is a pure
    * codegen'd when-chain projection — zero shuffle on either scan;
    * each side then collapses to ≤ nBuckets count rows. Everything
    * after the two count aggregates is model-scale. Throws on an
    * empty/all-null reference side (nothing to define bins with). */
  def distributionDrift(left: DataFrame, right: DataFrame, valueCol: String,
                        nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1024,
      s"nBuckets must be in [2, 1024], got $nBuckets")
    val pcts = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cutRow = left.filter(col(valueCol).isNotNull)
      .agg(percentile(col(valueCol).cast("double"),
        typedLit(pcts)).as("c")).head()
    require(!cutRow.isNullAt(0),
      s"reference side has no non-null '$valueCol' rows to bin by")
    driftFromCuts(left, right, valueCol, cutRow.getSeq[Double](0), nBuckets)
  }

  /** [[distributionDrift]]'s 100 TB twin: identical output contract and
    * downstream math, but the reference-side cut points come from
    * `approx_percentile` — the mergeable KLL-family sketch whose state
    * is O(accuracy) PER EXECUTOR regardless of data volume, where the
    * exact `percentile` aggregate buffers every distinct value with its
    * count (fine on integer cents at bench scale; unbounded on a
    * 100 TB high-cardinality column — the one scale caveat the exact
    * variant's scaladoc carried). Rank error is ≤ 1/accuracy, so a cut
    * can shift a value across a bucket boundary only within that rank
    * band — per-bucket shares move by O(1/accuracy) and the PSI total
    * with them; VerifyExtras pins accuracy vs the exact variant per
    * round (floor 0.9), MonitoringSpec pins it in-suite. Rows-only in
    * the oracle: DuckDB has no KLL twin to reproduce the cuts. */
  def distributionDriftSketch(left: DataFrame, right: DataFrame,
                              valueCol: String, nBuckets: Int = 10,
                              accuracy: Int = 10000): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1024,
      s"nBuckets must be in [2, 1024], got $nBuckets")
    val pcts = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cutRow = left.filter(col(valueCol).isNotNull)
      .agg(percentile_approx(col(valueCol).cast("double"),
        typedLit(pcts), lit(accuracy)).as("c")).head()
    require(!cutRow.isNullAt(0),
      s"reference side has no non-null '$valueCol' rows to bin by")
    driftFromCuts(left, right, valueCol, cutRow.getSeq[Double](0), nBuckets)
  }

  /** Reference-side PSI cut points as a REUSABLE MODEL (nBuckets − 1
    * doubles): fit once on a reference snapshot via the mergeable
    * KLL-family sketch, then PIN for every maintained batch — cuts that
    * drifted per batch would make folded bucket counts incomparable, the
    * same reason a fitted IVF model is frozen across queries. Feed to
    * [[psiBucketState]]. */
  def psiCuts(reference: DataFrame, valueCol: String, nBuckets: Int = 10,
              accuracy: Int = 10000): Seq[Double] = {
    require(nBuckets >= 2 && nBuckets <= 1024,
      s"nBuckets must be in [2, 1024], got $nBuckets")
    val pcts = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cutRow = reference.filter(col(valueCol).isNotNull)
      .agg(percentile_approx(col(valueCol).cast("double"),
        typedLit(pcts), lit(accuracy)).as("c")).head()
    require(!cutRow.isNullAt(0),
      s"reference side has no non-null '$valueCol' rows to bin by")
    cutRow.getSeq[Double](0)
  }

  private def bucketOf(c: Column, cuts: Seq[Double]): Column =
    cuts.foldLeft(lit(1))((acc, cut) =>
      acc + when(c > lit(cut), 1).otherwise(0))

  /** One side's (bucket, n) counts under PINNED cuts — the additive
    * monoid the PSI report folds (counts of disjoint batches add per
    * bucket, [[psiCensus]]), mirroring [[countState]] for the volume
    * monitors. Maintain one state directory per side (the frozen
    * reference side can be a single batch), every batch bucketed by the
    * same [[psiCuts]]. The bucket assignment is a zero-shuffle
    * when-chain projection; the frame collapses to ≤ nBuckets rows
    * map-side. */
  def psiBucketState(df: DataFrame, valueCol: String,
                     cuts: Seq[Double]): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(bucketOf(col(valueCol).cast("double"), cuts).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  /** [[psiBucketState]]'s census shape. */
  val psiCensus: Census = Census(Seq("bucket"), Seq("n"))

  /** PSI report off two folded (bucket, n) states — the
    * [[distributionDrift]] output contract from maintained state
    * ([[psiCensus]] folds); equal to the batch
    * sketch variant when both states were bucketed by the same pinned
    * [[psiCuts]] over the same data.
    *
    * `nBuckets` must match the bucket count the cuts were FIT with:
    * the scorer grids range(1..nBuckets) and left-joins the states, so
    * state rows above nBuckets would silently drop from the report.
    * Guarded by a require on the states' max bucket — the states are
    * model-scale (≤ nBuckets rows each), so the check is one cheap
    * driver action, and a cuts/nBuckets mismatch fails loudly instead
    * of reporting a wrong PSI. */
  def psiFromStates(leftState: DataFrame, rightState: DataFrame,
                    nBuckets: Int = 10): DataFrame = {
    def maxBucket(st: DataFrame): Int = {
      val r = st.agg(max(col("bucket"))).head()
      if (r.isNullAt(0)) 1 else r.getInt(0)
    }
    val seen = math.max(maxBucket(leftState), maxBucket(rightState))
    require(seen <= nBuckets,
      s"state holds bucket $seen but nBuckets=$nBuckets — the states were " +
        "folded under cuts fit with more buckets; pass the fit-time nBuckets")
    scoreBuckets(leftState.sparkSession,
      leftState.select(col("bucket"), col("n").as("n_left")),
      rightState.select(col("bucket"), col("n").as("n_right")), nBuckets)
  }

  /** Shared PSI body: bin both sides by the given reference cut points,
    * score per-bucket terms and the ordered cumulative sum (scaladoc on
    * [[distributionDrift]]; the two public variants differ ONLY in how
    * `cuts` was estimated). */
  private def driftFromCuts(left: DataFrame, right: DataFrame,
                            valueCol: String, cuts: Seq[Double],
                            nBuckets: Int): DataFrame = {
    def side(df: DataFrame, cnt: String): DataFrame =
      psiBucketState(df, valueCol, cuts).withColumnRenamed("n", cnt)
    scoreBuckets(left.sparkSession,
      side(left, "n_left"), side(right, "n_right"), nBuckets)
  }

  /** The PSI scorer over two (bucket, count) frames — shared by the
    * batch variants (counts straight off the scans) and the maintained
    * read path (counts folded from state). */
  private def scoreBuckets(spark: org.apache.spark.sql.SparkSession,
                           leftCounts: DataFrame, rightCounts: DataFrame,
                           nBuckets: Int): DataFrame = {
    val buckets = spark.range(1, nBuckets + 1)
      .select(col("id").cast("int").as("bucket"))
    val joined = buckets
      .join(leftCounts, Seq("bucket"), "left")
      .join(rightCounts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_left", "n_right"))
    val wAll = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    val wCum = Window.orderBy(col("bucket")).rowsBetween(Long.MinValue, 0)
    // NULL shares (not 0/0 = NaN) when a side is entirely empty — the
    // reference side can't be (guarded above), an empty RIGHT side
    // makes every populated bucket one_sided with NULL p_right.
    def share(cnt: String): Column = {
      val tot = sum(col(cnt)).over(wAll)
      when(tot === 0L, lit(null).cast("double"))
        .otherwise(col(cnt).cast("double") / tot.cast("double"))
    }
    joined
      .withColumn("p_left", share("n_left"))
      .withColumn("p_right", share("n_right"))
      .withColumn("one_sided",
        ((col("n_left") === 0) =!= (col("n_right") === 0)).cast("int"))
      .withColumn("psi_term",
        when(col("n_left") > 0 && col("n_right") > 0,
          (col("p_left") - col("p_right")) *
            round(log(col("p_left") / col("p_right")), 6))
          .otherwise(lit(null).cast("double")))
      .withColumn("cum_psi", sum(col("psi_term")).over(wCum))
      .select(col("bucket"), col("n_left"), col("n_right"), col("p_left"),
        col("p_right"), col("one_sided"), col("psi_term"), col("cum_psi"))
  }

  /** Robust per-group anomaly flags over periodic counts —
    * [[countDrift]]'s distributional upgrade. The lag-ratio monitor
    * compares each period only to its PREDECESSOR, so a spike that
    * persists flags once and then becomes the new baseline, and one
    * global `factor` is wrong across groups with different volatility.
    * This flags each period whose count deviates from its group's
    * MEDIAN by more than `nMads` × MAD (median absolute deviation) —
    * the standard robust outlier rule: median and MAD barely move when
    * the outliers themselves enter the frame, where a mean/stddev
    * z-score drags its own baseline toward the spike it should flag.
    * A group whose MAD is 0 (over half its periods share one count)
    * degrades to flagging ANY deviating period; exactly-constant
    * groups stay quiet (strict `>` on a 0 deviation).
    *
    * Cross-engine float discipline: counts are longs; median and MAD
    * come from the linear-interpolation percentile both engines define
    * identically over the same values (the q_group_percentiles
    * discipline), and the deviation is one IEEE subtraction of those
    * bit-identical doubles — raw doubles hash-match the oracle.
    *
    * Scale shape: the event stream collapses to (dims, period) count
    * rows in ONE aggregation; medians are two more aggregations over
    * GROUP rows (bounded by dim cardinality × periods, never the event
    * count — the exact-percentile buffer is O(periods-per-group)),
    * joined back model-scale. */
  def countAnomaly(df: DataFrame, dims: Seq[String], period: Column,
                   nMads: Double = 3.0): DataFrame =
    countAnomalyFromCounts(countState(df, dims, period), dims, nMads)

  /** [[countAnomaly]]'s report off an existing (dims, day, n) count table
    * ([[countState]] or a fold of maintained state) — the med/MAD math
    * runs over GROUP rows either way, so reading the monitor from
    * incrementally-maintained counts is the identical plan minus the
    * event-corpus aggregation. */
  def countAnomalyFromCounts(daily: DataFrame, dims: Seq[String],
                             nMads: Double = 3.0): DataFrame = {
    requireNoOutputCollision(dims)
    require(nMads > 0, s"nMads must be positive, got $nMads")
    // NULL-SAFE dim joins: groupBy keeps a NULL-dim group, and a plain
    // equi-join would then silently drop its rows between the aggregate
    // and the report (null = null is never true) — the monitor would go
    // blind on exactly the "events with no type" feed worth watching.
    // The aggregate side's keys are RENAMED before joining (both frames
    // descend from `daily`, so dataset-qualified columns hit Spark's
    // ambiguous-self-join detection).
    dims.foreach(d => require(!d.startsWith("__k_"),
      s"dimension '$d' collides with the internal join-key prefix"))
    def joinBack(base: DataFrame, aggd: DataFrame): DataFrame = {
      val renamed = aggd.select(aggd.columns.map(c =>
        if (dims.contains(c)) col(c).as(s"__k_$c") else col(c)): _*)
      base.join(renamed, dims.map(d => col(d) <=> col(s"__k_$d")).reduce(_ && _))
        .drop(dims.map(d => s"__k_$d"): _*)
    }
    val meds = daily.groupBy(dims.map(col): _*)
      .agg(percentile(col("n"), lit(0.5)).as("med"))
    val withDev = joinBack(daily, meds)
      .withColumn("deviation", abs(col("n").cast("double") - col("med")))
    val mads = withDev.groupBy(dims.map(col): _*)
      .agg(percentile(col("deviation"), lit(0.5)).as("mad"))
    joinBack(withDev, mads)
      .withColumn("is_anomaly",
        (col("deviation") > col("mad") * nMads).cast("int"))
      .select((dims.map(col) ++ Seq(col("day"), col("n"), col("med"),
        col("mad"), col("deviation"), col("is_anomaly"))): _*)
  }

  /** Per-source DUPLICATION-RATE health: for each source, the fraction
    * of its documents whose `fingerprint` occurs on 2+ documents
    * CORPUS-WIDE (not just within the source — a source mirroring
    * another source's content is precisely what the curator needs to
    * see). The caller chooses the fingerprint granularity: the exact
    * md5 doc fingerprint flags byte-duplicates, the prefix fingerprint
    * flags template/boilerplate families sharing an opening.
    *
    * Scale shape: documents collapse to (source, fp) rows map-side;
    * the fp census and the join back shuffle fingerprints + counts
    * only (never text); one bounded per-source aggregate. Output:
    * (source, n_docs, n_dup_docs, dup_rate) with one IEEE division. */
  def dupRateBySource(df: DataFrame, sourceCol: String,
                      fingerprint: Column): DataFrame =
    dupRateFromState(dupRateState(df, sourceCol, fingerprint))

  /** Incremental state for [[dupRateBySource]]: per-(source, fp) doc
    * counts — the monoid the monitor folds over, exactly like checksum
    * maintenance ([[graft.TableDiff.sideChecksums]]): counts of
    * disjoint batches ADD per key, so the production loop maintains
    * this table per ingest batch and never re-scans the corpus to
    * answer "how duplicated is each source today". State size is
    * bounded by the distinct (source, fingerprint) vocabulary, not the
    * doc count. */
  def dupRateState(df: DataFrame, sourceCol: String,
                   fingerprint: Column): DataFrame =
    df.select(col(sourceCol).as("source"), fingerprint.as("fp"))
      .filter(col("fp").isNotNull)
      .groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("n"))

  /** [[dupRateState]]'s census shape. */
  val dupRateCensus: Census = Census(Seq("source", "fp"), Seq("n"))

  /** Fold a new batch's [[dupRateState]] into a running state: counts
    * add per (source, fp), null-safe on source (a NULL-source bucket
    * accumulates like any other — the [[graft.TableDiff
    * .mergeChecksums]] convention). Associative and commutative:
    * any batch grouping yields the state a full recompute would
    * (spec-proven). */
  def mergeDupRateState(acc: DataFrame, delta: DataFrame): DataFrame =
    acc.alias("a").join(delta.alias("d"),
        col("a.source") <=> col("d.source") && col("a.fp") <=> col("d.fp"),
        "full_outer")
      .select(
        coalesce(col("a.source"), col("d.source")).as("source"),
        coalesce(col("a.fp"), col("d.fp")).as("fp"),
        (coalesce(col("a.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"))

  /** Cross-source duplication MATRIX — [[dupRateBySource]]'s pairwise
    * refinement, answering the curator's follow-up question: not "how
    * duplicated is source X" but "WHICH sources mirror which". For
    * every fingerprint the census sees on 2+ docs, doc PAIRS sharing it
    * are attributed to their (source, source) cell: the diagonal counts
    * within-source template reuse (C(n,2) per fingerprint), off-diagonal
    * cells count cross-source mirroring (n_a·n_b), reported with the
    * number of distinct shared fingerprints per cell. Sources order
    * lexicographically within a cell (source_a ≤ source_b); NULL
    * sources are excluded from the MATRIX (no name to report a mirror
    * against — [[dupRateBySource]] still counts them).
    *
    * Scale shape: pair counts come from the per-(source, fp) COUNT
    * state ([[dupRateState]] — the same monoid the incremental monitor
    * folds), so no doc-pair row ever materializes: the join is at
    * census scale and each cell's count is exact integer arithmetic on
    * state rows. The one quadratic hazard — a boilerplate fingerprint
    * present in THOUSANDS of sources fanning the census join — is
    * valved by `srcCap`: fingerprints on more sources than the cap are
    * dropped from the matrix (they say "everyone shares this template",
    * not "A mirrors B" — the stop-shingle df-cap convention, mirrored
    * in the oracle). */
  def crossSourceDupMatrix(df: DataFrame, sourceCol: String,
                           fingerprint: Column,
                           srcCap: Int = 1000): DataFrame =
    crossSourceMatrixFromState(
      dupRateState(df, sourceCol, fingerprint), srcCap)

  /** [[crossSourceDupMatrix]] off maintained [[dupRateState]] — the
    * incremental read path, like [[dupRateFromState]]. */
  def crossSourceMatrixFromState(state: DataFrame, srcCap: Int = 1000): DataFrame = {
    require(srcCap >= 2, s"srcCap must be >= 2, got $srcCap")
    val s = state.filter(col("source").isNotNull)
    val spread = s.groupBy(col("fp"))
      .agg(count(lit(1)).as("__n_src"))
      .filter(col("__n_src") <= srcCap)
    val capped = s.join(spread, Seq("fp")).select(col("source"), col("fp"), col("n"))
    val cross = capped.select(col("source").as("source_a"), col("fp"),
        col("n").as("__na"))
      .join(capped.select(col("source").as("source_b"), col("fp"),
        col("n").as("__nb")), Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_fps"),
        sum(col("__na") * col("__nb")).as("n_pairs"))
    val diag = capped.filter(col("n") >= 2)
      .groupBy(col("source").as("source_a"))
      // DIV (integer division): n·(n−1) is even so the halving is
      // exact; the `/` operator would run it in doubles and lose
      // exactness past 2^53 pair counts.
      .agg(count(lit(1)).as("n_shared_fps"),
        sum(expr("n * (n - 1) DIV 2")).as("n_pairs"))
      .select(col("source_a"), col("source_a").as("source_b"),
        col("n_shared_fps"), col("n_pairs"))
    cross.select(col("source_a"), col("source_b"), col("n_shared_fps"),
        col("n_pairs"))
      .unionByName(diag)
  }

  /** Read the monitor row off maintained state — output-identical to
    * [[dupRateBySource]] on the union of the folded batches. The
    * fingerprint census (n_fp ≥ 2 ⇔ duplicated corpus-wide) comes from
    * summing state counts across sources; per-source doc and dup-doc
    * counts weight each state row by its count. Everything is
    * state-scale — no document is touched. */
  def dupRateFromState(state: DataFrame): DataFrame = {
    val census = state.groupBy(col("fp")).agg(sum(col("n")).as("n_fp"))
    state.join(census, Seq("fp"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        sum(when(col("n_fp") >= 2, col("n")).otherwise(0L)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        (col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"))
  }
}
