package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * fresh token scan and rebuilds. Same parquet-not-persist reasoning,
  * staleness contract, eviction hook, and pass-boundary bench
  * invalidation as [[NearDupPipeline]] (see its scaladoc — kept
  * deliberately parallel rather than abstracted so each family's shape
  * stays readable).
  */
object SpanPipeline {

  import TextAnalysis.{normalized, tokens}

  private final case class Entry(path: String)
  private type Key = (SparkSession, String, String, String, Int, Int)
  private val cache = scala.collection.mutable.Map.empty[Key, Entry]

  private val evictionHooked =
    scala.collection.mutable.Set.empty[org.apache.spark.SparkContext]

  private def hookEviction(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (evictionHooked.add(sc)) {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          cache.synchronized {
            // Files too, not just map entries (NearDupPipeline's
            // reasoning: per-(pid, counter) paths are never reused).
            val dead = cache.collect {
              case ((sess, _, _, _, _, _), e) if sess.sparkContext eq sc => e
            }.toSeq
            cache.filterInPlace { case ((sess, _, _, _, _, _), _) =>
              sess.sparkContext ne sc }
            evictionHooked.remove(sc)
            dead.foreach(e => deleteRecursively(new java.io.File(e.path)))
          }
      })
    }
  }

  /** Dup-key broadcast ceiling for the semi join (rows): 16-byte struct
    * keys land ~100 B/row in a HashedRelation, so 8M keys ≈ 0.8 GB —
    * inside a healthy executor broadcast budget, and well above the
    * sf10 corpus's dup-key count (the dup tail is ~9% of span
    * POSITIONS at every scale — PLAN_AUDIT round-13 A/B — and distinct
    * keys are fewer still), so the gate binds only on degenerate
    * boilerplate corpora, which keep the fallback shuffle path. */
  private val BroadcastKeyCap = 8L * 1000 * 1000

  /** Key hash + process-wide counter: distinct keys with colliding
    * 32-bit hashCodes must not share a path (NearDupPipeline.tableDir's
    * reasoning). */
  private val pathSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private def tableDir(key: Key): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spancensus_" + ProcessHandle.current().pid() + "_" +
        Integer.toHexString((key._2, key._3, key._4, key._5, key._6).hashCode) +
        "_" + pathSeq.incrementAndGet())
      .getPath

  private def build(df: DataFrame, key: Key): Entry = {
    val (_, _, idCol, textCol, k, minDocs) = key
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
        val path = tableDir(key)
        base
          .select(col("doc_id"),
            (size(col("__toks")) - k + 1).cast("long").as("n_spans"))
          .join(dupStarts, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_spans"),
            coalesce(col("dup_starts"),
              array().cast("array<int>")).as("dup_starts"))
          .write.mode("overwrite").parquet(path)
        Entry(path)
      } finally { dupKeys.unpersist(); () }
    } finally { base.unpersist(); () }
  }

  /** The materialized census table for (`corpusKey`, shape): one row
    * per doc with ≥ k tokens — (doc_id, n_spans, dup_starts). */
  def censusTable(df: DataFrame, corpusKey: String, idCol: String,
                  textCol: String, k: Int, minDocs: Int = 2): DataFrame = {
    require(k > 0, "span length must be positive")
    require(minDocs >= 2, "minDocs below 2 marks every span duplicated")
    val s = df.sparkSession
    val key: Key = (s, corpusKey, idCol, textCol, k, minDocs)
    val entry = cache.synchronized {
      hookEviction(s)
      cache.getOrElseUpdate(key, build(df, key))
    }
    graft.sources.Tables.parquet(s, entry.path)
  }

  /** Census report off the shared table — output-identical to
    * [[Dedup.duplicatedSpans]] (spec-pinned): n_dup_spans is the
    * duplicated-start count, the same quantity the direct operator
    * sums over its (span, doc) pairs. */
  def spanDedupStats(df: DataFrame, corpusKey: String, idCol: String,
                     textCol: String, k: Int, minDocs: Int = 2): DataFrame =
    censusTable(df, corpusKey, idCol, textCol, k, minDocs)
      .select(col("doc_id"), col("n_spans"),
        size(col("dup_starts")).cast("long").as("n_dup_spans"),
        (size(col("dup_starts")).cast("double") /
          col("n_spans").cast("double")).as("dup_fraction"))

  /** Removal pass off the shared table — output-identical to
    * [[Dedup.strikeDuplicatedSpans]] (spec-pinned): one fresh token
    * scan joins the per-doc duplicated starts; covered positions and
    * the ordered rebuild are the same per-row projections. The ~25 s
    * (sf10) span-stream + census work never re-runs. */
  def strike(df: DataFrame, corpusKey: String, idCol: String,
             textCol: String, k: Int, minDocs: Int = 2): DataFrame = {
    val table = censusTable(df, corpusKey, idCol, textCol, k, minDocs)
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

  /** Drop the memo for one (session, corpusKey) — the per-round
    * staleness hook (the metricsTable contract). */
  def invalidate(s: SparkSession, corpusKey: String): Unit =
    cache.synchronized {
      val dead = cache.keys.filter(k => (k._1 eq s) && k._2 == corpusKey).toSeq
      dead.foreach { k =>
        cache.remove(k).foreach(e => deleteRecursively(new java.io.File(e.path)))
      }
    }

  /** Drop every memo owned by `s` — the bench's pass-boundary hook. */
  def invalidateAll(s: SparkSession): Unit =
    cache.synchronized {
      val dead = cache.keys.filter(_._1 eq s).toSeq
      dead.foreach { k =>
        cache.remove(k).foreach(e => deleteRecursively(new java.io.File(e.path)))
      }
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }
}
