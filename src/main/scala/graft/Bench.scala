package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** A cross-query memo the suite shares: the build that fills it (timed
    * as its own `_…_build` row, so a chunked sweep cannot pin the build
    * cost on whichever family query runs first) and the queries that
    * reuse it. Every memo drops through [[SessionMemo.invalidateAll]]. */
  final case class SharedBuild(name: String, family: Set[String],
                               build: (SparkSession, String) => Any)

  val sharedBuilds: Seq[SharedBuild] = {
    import graft.queries.{CoreQueries, SimilarityQueries, TextQueries}
    Seq(
      SharedBuild("_neardup_pairs_build", Set("q_dedup_ngram_jaccard",
          "q_dedup_clusters", "q_dedup_canonical", "q_dedup_containment",
          "q_pagerank", "q_graph_degree", "q_dedup_threshold_curve"),
        (s, dir) => graft.operators.NearDupPipeline.pairsTable(
          TextQueries.dupCorpus(s, dir), TextQueries.nearDupParams)),
      SharedBuild("_span_census_build", Set("q_span_dedup", "q_span_strike"),
        (s, dir) => graft.operators.SpanPipeline.censusTable(
          graft.sources.Tables.load(s, dir, "documents"), "doc_id", "text", k = 6)),
      SharedBuild("_curation_chain_build", Set("q_curation_round", "q_curation_pack"),
        TextQueries.curationResult),
      SharedBuild("_unigram_fit_build", Set("q_unigram_vocab", "q_unigram_encode",
          "q_tokenizer_fertility"),
        TextQueries.unigramModel),
      SharedBuild("_kmeans_fit_build", Set("q_ann_ivf_fit", "q_cluster_cap_sample",
          "q_silhouette"),
        SimilarityQueries.embeddingCentroids),
      SharedBuild("_metrics_table_build", Set("q_metrics_filter",
          "q_discrepancy_lookup"),
        CoreQueries.metricsTable))
  }

  /** Median of the timed samples — robust to a single GC pause / JIT blip
    * in a way neither mean nor min is (min hides a genuinely bimodal
    * query; mean lets one outlier dominate). Even count → mean of the two
    * middle samples. */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Timed samples per query (median reported). BENCH_r02 showed 3-9x
    // cross-JVM noise on single-sample timings: one warmup of only the
    // FIRST query let a cold/contended JVM inflate whichever queries ran
    // early. Now EVERY query gets one untimed warmup (absorbs codegen +
    // page-cache first-run cost, measured at 4-6s) and the reported number
    // is the median of `runs` steady-state executions.
    // max(1): a zero/negative override would crash median() on an empty
    // sample AFTER burning the warmup sweep.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = GraftSession.forMain()
    // Skipped names are recorded in the JSON's "skipped" field so a
    // selective bench is visible in the artifact, never silent.
    val skip = SparkEntry.skipped
    val selected = SparkEntry.selected

    // noop sink: fully materializes every output column (count() lets
    // Catalyst prune unreferenced projections, faking scan-heavy timings)
    // without any write-path cost. clearCache after every execution:
    // dedup/similarity queries persist intermediates, and accumulated
    // cache pinning skewed later queries by up to 10x on earlier runs —
    // it also means every timed sample rebuilds its own intermediates
    // rather than reading a predecessor's cache.
    // Returns None on failure: a failed query's near-zero time-to-throw
    // must NOT enter the median — a broken build would bench FASTER than
    // a working one, with exit 0 and no marker in the parsed output.
    def timed(name: String, body: () => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { body(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (ok) Some(dt) else None
    }
    def execute(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] =
      timed(name, () => fn(spark, sfDir).write.format("noop").mode("overwrite").save())

    // INTERLEAVED passes: one untimed warmup pass over every query, then
    // `runs` full timed passes, median per query ACROSS passes. The r2/r3
    // driver runs showed contention arriving in sustained multi-minute
    // bursts: with per-query back-to-back samples, a burst inflates all
    // of one query's samples (the median keeps the inflation); with
    // pass-interleaved samples, a burst inflates one PASS and the
    // cross-pass median rejects it. Same total work either way.
    val order = selected.toSeq.sortBy(_._1)
    // Shared-pipeline builds are timed as their OWN rows ("_…_build"),
    // not folded into whichever family query runs first: the r10 sf10
    // sweep (chunked via SPARK_GRAFT_ONLY) re-attributed the near-dup
    // pair build to q_pagerank because its chunk lacked the pairs query —
    // an explicit build row makes attribution stable under ANY chunking
    // or ordering. Family queries then report their post-build cost (the
    // pipeline-user reality), and the pass total still contains the
    // build exactly once. Memos are invalidated at every PASS boundary
    // (not per query): within a pass the family reuses the one
    // materialized table — the economy this design exists to measure —
    // while across passes each timed build sample rebuilds it.
    val names = order.map(_._1).toSet
    val builds = sharedBuilds.filter(_.family.exists(names))
    def pass(): Map[String, Option[Double]] = {
      SessionMemo.invalidateAll(spark)
      val buildResults = builds.map(b => b.name -> timed(b.name, () => b.build(spark, sfDir)))
      // A failed build contaminates its family THIS PASS: each family
      // query would silently rebuild the memo inside its own timing, so
      // its sample would be build-inclusive while other passes' samples
      // are post-build — a blended median reported as normal. Drop the
      // pass's family samples instead; the short sample count surfaces
      // the query in "errors" (and the raw "samples" arrays show which
      // pass is missing), never as a silently mixed median.
      val contaminated: Set[String] = builds.zip(buildResults).collect {
        case (b, (_, None)) => b.family
      }.flatten.toSet
      val queryResults = order.map { case (name, fn) =>
        if (contaminated.contains(name)) {
          System.err.println(s"[bench] $name dropped this pass: family build failed")
          name -> None
        } else name -> execute(name, fn)
      }
      (buildResults ++ queryResults).toMap
    }
    pass() // warmup
    val passes = (1 to runs).map(_ => pass())
    val allNames = builds.map(_.name) ++ order.map(_._1)
    val perQuerySamples = allNames.map { name =>
      name -> passes.flatMap(_(name))
    }
    val results = perQuerySamples.map { case (name, samples) =>
      if (samples.length == runs) {
        val med = median(samples)
        System.err.println(f"[bench] $name%-28s median=$med%7.2fs samples=${samples.map(s => f"$s%.2f").mkString(",")}")
        name -> Some(med)
      } else name -> None
    }
    val ok = results.collect { case (k, Some(v)) => k -> v }
    val failed = results.collect { case (k, None) => k }.toSeq.sorted
    // Same escaping contract as Verify's oracle_sql.json writer: an
    // unescaped quote/backslash in sfDir would invalidate the JSON line
    // and zero the round's bench result at the driver's parse.
    def j(s: String): String = JsonUtil.esc(s)
    val qs = ok.map { case (k, v) => s"\"${j(k)}\":" + v }.mkString("{", ",", "}")
    val errs =
      if (failed.isEmpty) ""
      else s""","errors":${failed.map(f => "\"" + j(f) + "\"").mkString("[", ",", "]")}"""
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
    val skipped =
      if (skip.isEmpty) ""
      else s""","skipped":${skip.toSeq.sorted.map(s => "\"" + j(s) + "\"").mkString("[", ",", "]")}"""
    // Per-query raw samples + pass count ride the artifact so a uniform
    // sweep-contention drift (every sample of a pass inflated) is
    // distinguishable at a glance from a real per-query regression —
    // the r10 sweep ran ~12% hotter than r9 on identical shared code and
    // the medians alone could not show why.
    val samplesJson = perQuerySamples.map { case (k, v) =>
      s"\"${j(k)}\":" + v.map(s => f"$s%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$errs$skipped,"passes":$runs,"samples":$samplesJson,"sf":"${j(sfDir)}"}"""
    println(json)
    // ALSO write the full JSON to a file: the driver captures stdout with
    // a bounded tail, and BENCH_r04's embedded result was truncated
    // mid-JSON (only 63/78 per-query times survived in the artifact). The
    // file is the machine-readable record; stdout stays the contract.
    // Named PER SCALE (bench_results_sf0.1.json / _sf10.json …) so a
    // consumer never silently compares sweeps across scale factors — the
    // r10 artifact reused one filename for an sf10 and then an sf0.1
    // sweep under the same schema.
    val sfTag = new java.io.File(sfDir).getName
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_results_$sfTag.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full JSON written to $outPath")
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
    // No nonzero exit: the JSON line above is the contract and has
    // already been emitted with the explicit "errors" marker.
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED queries: ${failed.mkString(", ")}")
  }
}
