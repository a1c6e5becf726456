package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Family-level SPAN CENSUS, materialized once per corpus and shared by
  * the exact-substring pair of queries ([[Dedup.duplicatedSpans]] — the
  * census report — and [[Dedup.strikeDuplicatedSpans]] — the removal
  * pass): the [[NearDupPipeline]] economy applied to the Lee et al.
  * 2021 pipeline. Both queries walk the same token-hash → k-slice span
  * stream and the same distinct-doc census; at sf10 that shared core is
  * ~25 s re-spent by the strike on top of its own rebuild work.
  *
  * The materialized table is ONE ROW PER DOCUMENT with ≥ k tokens:
  * (doc_id, n_spans, dup_starts) where n_spans = token count − k + 1
  * (every span position — the identity duplicatedSpans' sum over the
  * (span, doc) pairs reduces to) and dup_starts = the sorted start
  * positions whose k-token span occurs in ≥ minDocs DISTINCT documents.
  * Everything both consumers need, and nothing corpus-positional: the
  * stats query reads counts off it; the strike joins it back to one
  * fresh token scan and rebuilds. Same parquet-not-persist reasoning
  * and [[graft.SessionMemo]] key as [[NearDupPipeline]].
  */
object SpanPipeline {

  import TextAnalysis.{normalized, tokens}

  private val memo =
    graft.SessionMemo[(String, String, Int, Int), String](graft.SessionMemo.delete)

  /** Dup-key broadcast ceiling for the semi join (rows): 16-byte struct
    * keys land ~100 B/row in a HashedRelation, so 8M keys ≈ 0.8 GB —
    * inside a healthy executor broadcast budget, and well above the
    * sf10 corpus's dup-key count (the dup tail is ~9% of span
    * POSITIONS at every scale — PLAN_AUDIT round-13 A/B — and distinct
    * keys are fewer still), so the gate binds only on degenerate
    * boilerplate corpora, which keep the fallback shuffle path. */
  private val BroadcastKeyCap = 8L * 1000 * 1000

  private def build(df: DataFrame, path: String, idCol: String,
                    textCol: String, k: Int, minDocs: Int): Unit = {
    val toksExpr = filter(tokens(normalized(col(textCol))), t => length(t) > 0)
    // The build has THREE consumers of the tokenized corpus (dup-key
    // census, dup-start collection, n_spans) — persist the per-doc
    // token frame once so the scan + regex tokenization runs once, the
    // same two-consumer persist [[Dedup.strikeDuplicatedSpans]] uses
    // (the span-position stream re-derives from it with cheap hashing,
    // not a re-tokenize). Unpersisted before returning: the memo's
    // parquet is the durable artifact, nothing may stay pinned.
    val base = df.select(col(idCol).as("doc_id"), toksExpr.as("__toks"))
      .filter(size(col("__toks")) >= k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // (doc_id, i, g): the census's two-lane token-hash-then-slice
      // keys — construction identical to strikeDuplicatedSpans' starts
      // frame (see its comments for lane order and hash-once).
      val st = base
        .select(col("doc_id"), transform(col("__toks"), t => xxhash64(t)).as("__th"))
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("__th")) - k + 1),
          i => {
            val s = slice(col("__th"), i, lit(k))
            struct(i.as("i"), struct(xxhash64(s), xxhash64(lit(1), s)).as("g"))
          })).as("x"))
        .select(col("doc_id"), col("x.i").as("i"), col("x.g").as("g"))
      // The duplicated-key set is the census's ~9% tail (sf0.01: 2195
      // dup positions over 24 665 — most spans are unique), so it is
      // MODEL-scale where the span stream is corpus-scale. Persist it
      // (its lineage is the full distinct+census exchange — the join
      // must not recompute that) and, when small, BROADCAST it into the
      // semi join: the corpus-scale st stream then never shuffles for
      // the dup-start collection — only the ~9% matching rows exchange
      // into the per-doc groupBy. The count gate keeps the fallback
      // shuffle path for a corpus whose dup-key set outgrows a sane
      // broadcast (degenerate boilerplate corpora).
      val dupKeys = st.select(col("g"), col("doc_id")).distinct()
        .groupBy(col("g")).agg(count(lit(1)).as("gram_docs"))
        .filter(col("gram_docs") >= minDocs)
        .select(col("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val keysSide =
          if (dupKeys.count() <= BroadcastKeyCap) broadcast(dupKeys)
          else dupKeys
        val dupStarts = st.join(keysSide, Seq("g"), "left_semi")
          .groupBy(col("doc_id"))
          // sort_array: collect_list order is run-dependent; the artifact
          // on disk should not be.
          .agg(sort_array(collect_list(col("i"))).as("dup_starts"))
        base
          .select(col("doc_id"),
            (size(col("__toks")) - k + 1).cast("long").as("n_spans"))
          .join(dupStarts, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_spans"),
            coalesce(col("dup_starts"),
              array().cast("array<int>")).as("dup_starts"))
          .write.mode("overwrite").parquet(path)
      } finally { dupKeys.unpersist(); () }
    } finally { base.unpersist(); () }
  }

  /** The materialized census table for (`df`, shape): one row per doc
    * with ≥ k tokens — (doc_id, n_spans, dup_starts). */
  def censusTable(df: DataFrame, idCol: String,
                  textCol: String, k: Int, minDocs: Int = 2): DataFrame = {
    require(k > 0, "span length must be positive")
    require(minDocs >= 2, "minDocs below 2 marks every span duplicated")
    val s = df.sparkSession
    val path = memo(Seq(df), (idCol, textCol, k, minDocs)) {
      val path = graft.SessionMemo.tempDir(s, "graft_spancensus")
      build(df, path, idCol, textCol, k, minDocs)
      path
    }
    graft.sources.Tables.parquet(s, path)
  }

  /** Census report off the shared table — output-identical to
    * [[Dedup.duplicatedSpans]] (spec-pinned): n_dup_spans is the
    * duplicated-start count, the same quantity the direct operator
    * sums over its (span, doc) pairs. */
  def spanDedupStats(df: DataFrame, idCol: String, textCol: String,
                     k: Int, minDocs: Int = 2): DataFrame =
    censusTable(df, idCol, textCol, k, minDocs)
      .select(col("doc_id"), col("n_spans"),
        size(col("dup_starts")).cast("long").as("n_dup_spans"),
        (size(col("dup_starts")).cast("double") /
          col("n_spans").cast("double")).as("dup_fraction"))

  /** Removal pass off the shared table — output-identical to
    * [[Dedup.strikeDuplicatedSpans]] (spec-pinned): one fresh token
    * scan joins the per-doc duplicated starts; covered positions and
    * the ordered rebuild are the same per-row projections. The ~25 s
    * (sf10) span-stream + census work never re-runs. */
  def strike(df: DataFrame, idCol: String, textCol: String, k: Int,
             minDocs: Int = 2): DataFrame = {
    val table = censusTable(df, idCol, textCol, k, minDocs)
      .select(col("doc_id"), col("dup_starts"))
    val toks = filter(tokens(normalized(col(textCol))), t => length(t) > 0)
    val covered = flatten(transform(
      coalesce(col("dup_starts"), lit(Array.emptyIntArray)),
      s => sequence(s, s + (k - 1))))
    df.select(col(idCol).as("doc_id"), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .join(table, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        array_except(sequence(lit(1), size(col("__toks"))), covered).as("__kp"),
        col("__toks"))
      .filter(size(col("__kp")) > 0)
      .select(col("doc_id"), col("n_tokens"),
        size(col("__kp")).cast("long").as("n_kept"),
        array_join(transform(col("__kp"), p => element_at(col("__toks"), p)), " ")
          .as("text_out"))
  }
}
