package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType,
  ShortType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Deduplication operators for training-data pipelines (SURVEY.md §2
  * #20-#23): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: nothing here is O(n²) over the corpus. Exact dedup is one
  * hash-shuffle. Near-dup candidate generation always goes through an
  * inverted index (shingle → doc list) or LSH buckets with a
  * document-frequency cap, so the pair space is bounded per bucket and the
  * expensive exact similarity only runs on candidates. Every posting
  * bucket is built with [[graft.functions.CappedCollectList]], so the
  * aggregation BUFFER is bounded at cap+1 entries too — a degenerate key
  * (stop-shingle, boilerplate band) can't OOM an executor mid-aggregate
  * on its way to being filtered out.
  */
object Dedup {

  import TextAnalysis.{normalized, tokens}
  import graft.functions.CappedCollectList.cappedCollectList

  /** Token n-gram shingles (distinct), e.g. n=3 word shingles. Documents
    * shorter than n tokens yield an empty set. One codegen'd pass
    * ([[graft.functions.ShinglesExpr]]) — the declarative
    * transform+slice+concat_ws form evaluated an interpreted lambda per
    * shingle and fell out of whole-stage codegen. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.ShinglesExpr.wordShingles(tokens(normalized(text)), n)

  /** C4/CCNet-style cross-document LINE dedup — the boilerplate-removal
    * pass of a web-corpus pipeline: any line occurring `minDf`+ times
    * ACROSS the corpus (nav bars, cookie banners, copyright footers) is
    * struck from every document; documents keep their surviving lines in
    * original order, and documents left with zero lines are dropped
    * (the standard C4 behavior).
    *
    * `minDf` is TRUE document frequency — distinct documents containing
    * the line (the CCNet convention) — not occurrence count: a line
    * repeated minDf+ times INSIDE one document is that document's own
    * repetition (the within-doc pass's business), not corpus
    * boilerplate, and striking it corpus-wide would over-delete.
    *
    * Scale shape: the duplicate-line census groups on `md5(line)` — a
    * fixed 32-char key, so the count shuffle carries hashes + partial
    * doc-id sets collapsed map-side via partial count_distinct, never
    * the (arbitrarily long) line bodies. The strike-out is a LEFT ANTI join against the common-hash
    * set — boilerplate is heavy-hitter-shaped, so that set is tiny
    * relative to the corpus and AQE broadcasts it in practice; the
    * rebuild shuffles each document's kept lines once on the doc id, and
    * the per-doc buffer is bounded by that document's own line count.
    * Output: (idCol, n_lines, n_kept, text_out). */
  def dropCommonLines(docs: DataFrame, idCol: String, textCol: String,
                      minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (got $minDf): 1 would drop every line")
    val split0 = split(col(textCol), "\n")
    val lines = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), size(split0).cast("long").as("n_lines"),
        posexplode(split0).as(Seq("pos", "line")))
      // One shared projection defines lh for both consumers. The SOURCE
      // is still read twice (census branch + probe branch — separate
      // plan subtrees): deliberate, because the alternative single-pass
      // form (a count window over lh) would shuffle every line BODY on
      // lh, while the census branch here shuffles only 32-char hashes +
      // partial counts and the re-read is a cheap columnar scan with
      // column pruning.
      .withColumn("lh", md5(col("line")))
    val common = lines
      .groupBy(col("lh")).agg(count_distinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("lh").as("common_lh"))
    lines
      .join(common, col("lh") === col("common_lh"), "left_anti")
      .drop("lh")
      .groupBy(col(idCol))
      .agg(first(col("n_lines")).as("n_lines"),
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("text_out"))
  }

  /** Exact duplicate groups by canonical-text hash: one row per duplicated
    * fingerprint with the surviving (min) id, the sorted member ids capped
    * at `memberCap` (a web corpus reliably has mega-groups — empty docs,
    * boilerplate — and an unbounded id list would make those rows
    * arbitrarily large; `group_size` stays exact), and the group size.
    * One shuffle on the 128-bit hash — never on the text itself, so
    * 100 TB of documents shuffles only ids+hashes. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String,
                  memberCap: Int = 100): DataFrame = {
    // Bounded-buffer first-K members (≤ memberCap held at any point — a
    // mega-group can't OOM the aggregate; the one exception is decimal
    // ids, which fall back to a post-agg slice inside minKAsStrings);
    // ids keep native-type order.
    val members = graft.functions.BoundedMinK.minKAsStrings(
      col("id"), df.schema(idCol).dataType, memberCap)
    df.select(col(idCol).as("id"),
        TextAnalysis.docFingerprint(col(textCol)).as("fp"))
      // Null texts (parse failures) share a null fingerprint; grouping
      // them would report DISTINCT documents as one duplicate group and
      // a canonical-id consumer would drop all but one — data loss, not
      // dedup (same contract as EventStream.dedupStreamByContent).
      .filter(col("fp").isNotNull)
      .groupBy(col("fp"))
      .agg(min(col("id")).as("canonical_id"),
        concat_ws(",", members).as("member_ids"),
        count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)
      .select(col("canonical_id"), col("fp"), col("member_ids"), col("group_size"))
  }

  /** Incremental ingest gate: the documents of `newDf` that are (a) the
    * canonical (min-id) representative of their in-batch fingerprint
    * group and (b) not already present in `seenFps` — the standard
    * "don't re-ingest what the corpus already holds" pass an append-only
    * training pipeline runs per batch.
    *
    * Scale shape: the batch shuffles once on the 128-bit fingerprint
    * (ids + hashes only, never text) for the in-batch canonicalization,
    * then LEFT ANTI joins the historical fingerprint table on the same
    * key. Both sides can be arbitrarily large — the anti join is a plain
    * shuffled hash join on fp (AQE broadcasts a small `seenFps`), and at
    * 100 TB the historical side is exactly the fingerprint column you
    * would keep bucketed on fp so the join co-locates without a shuffle.
    * Null-fingerprint rows (null text) are routed around like
    * [[exactGroups]]. `seenFps` needs a `fp` column; duplicates in it are
    * fine (anti-join semantics). */
  def incrementalNew(newDf: DataFrame, seenFps: DataFrame,
                     idCol: String, textCol: String): DataFrame =
    newDf.select(col(idCol).as("id"),
        TextAnalysis.docFingerprint(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull)
      .groupBy(col("fp")).agg(min(col("id")).as("id"))
      .join(seenFps.select(col("fp")), Seq("fp"), "left_anti")
      .select(col("id"), col("fp"))

  /** [[incrementalNew]] with a BLOOM-FILTER pre-gate on the historical
    * side — the standard 100 TB trick for "most batch rows are new":
    * definite-miss rows (the overwhelming majority at typical dup rates)
    * never touch the `seenFps` table at all, and only PROBABLE hits
    * (true dups + an `fpp` sliver of false positives) reach the exact
    * anti-join, so the expensive verification join's probe side shrinks
    * from |batch| to ~dupRate·|batch|. The result is spec-proven (and
    * oracle-verified) IDENTICAL to [[incrementalNew]]: a Bloom filter
    * has NO false negatives, so every row it passes unverified is
    * genuinely unseen, and every row it flags is re-checked exactly.
    *
    * The filter itself is ONE map-side-combinable aggregate over the
    * seen fingerprints (Spark's native `BloomFilterAggregate` — the
    * expression behind its runtime join filters; numBits sized from
    * `fpp` by the textbook m = −n·ln(p)/ln²2), collected to the driver
    * as a MODEL-SCALE artifact (numBits/8 bytes — the same bounded
    * collect as the IVF centroid model) and inlined as a literal into
    * the codegen'd `might_contain` gate. Bit-OR makes the filter a
    * MONOID: a production deployment appends per-batch blooms and folds
    * them exactly like
    * [[graft.streaming.EventStream.maintainChecksums]] folds checksum
    * summaries, so steady-state gating needs no `seenFps` scan at all —
    * only confirmed-hit verification does. An EMPTY seen side yields a
    * null bloom: the gate degrades to the plain exact operator
    * (first-batch ingest passes everything; verified by spec).
    *
    * Spark caps the aggregate at 4M expected items / 67M bits per
    * filter by default — beyond that, shard the seen side and OR the
    * verdicts (or raise the caps); the gate stays correct under ANY
    * undersizing, it just verifies more rows exactly. */
  def incrementalNewBloom(newDf: DataFrame, seenFps: DataFrame,
                          idCol: String, textCol: String,
                          expectedItems: Long = 1000000L,
                          fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val numBits = math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val bfRow = seenFps.select(col("fp"))
      .agg(GraftBridge.column(new BloomFilterAggregate(
          GraftBridge.expression(xxhash64(col("fp"))),
          Literal(expectedItems), Literal(numBits))
        .toAggregateExpression()).as("__bf"))
      .head()
    if (bfRow.isNullAt(0)) return incrementalNew(newDf, seenFps, idCol, textCol)
    val mightContain = GraftBridge.column(BloomFilterMightContain(
      Literal(bfRow.getAs[Array[Byte]](0), BinaryType),
      GraftBridge.expression(xxhash64(col("fp")))))
    // Gate AFTER the in-batch canonicalization: the bloom verdict is a
    // function of fp alone, so testing the aggregated (fp, min-id) rows
    // is output-identical while scanning and fingerprinting the batch
    // ONCE, shuffling once (the two branches' identical aggregates share
    // the exchange), and evaluating might_contain once per DISTINCT fp
    // instead of once per raw row.
    val canon = newDf.select(col(idCol).as("id"),
        TextAnalysis.docFingerprint(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull)
      .groupBy(col("fp")).agg(min(col("id")).as("id"))
      .withColumn("__maybe", mightContain)
    val misses = canon.filter(!col("__maybe"))
    val hits = canon.filter(col("__maybe"))
      .join(seenFps.select(col("fp")), Seq("fp"), "left_anti")
    misses.unionByName(hits).select(col("id"), col("fp"))
  }

  /** Exact n-gram Jaccard near-duplicate pairs via an inverted posting
    * list: shingles shuffle as 64-bit xxhash64 keys (never as multi-word
    * strings), per-shingle posting buckets double-explode into
    * shared-shingle pairs, and one codegen'd hash aggregate counts |A∩B|
    * per pair; then J = |A∩B| / (|A|+|B|-|A∩B|).
    *
    * `dfCap` drops degenerate stop-shingle buckets (df > cap) via a size
    * filter on the posting buckets — a safety valve that bounds per-key
    * fan-out on adversarial corpora and never binds at sane settings. (A PPJoin-style
    * prefix filter was measured here and LOST: on near-uniform shingle
    * distributions the candidate set stays quadratic, and the extra
    * verify joins cost more than the streaming count aggregate.)
    */
  /** Shared exact shingle-overlap pair core of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: (id1, id2, shared, n1, n2) per candidate pair,
    * id1 < id2.
    *
    * The doc's shingle-set size rides WITH every posting row (it's just
    * size(array) in the same projection that explodes the array), so |A|
    * and |B| are already in the bucket structs when pairs form — the
    * minhash/simhash "signature rides in the posting struct" shape. The
    * alternative (a groupBy(id) sizes table joined back per pair side)
    * costs one corpus shuffle + TWO corpus-cardinality joins + a persist
    * to share the shingle pass between consumers; this form has ONE
    * consumer, so nothing re-computes and nothing pins the cache.
    *
    * Pair generation via bucket arrays + double explode: one shuffle to
    * build posting buckets (the stop-shingle df cap is just a filter on
    * bucket size — no separate df aggregate or anti join), then the
    * per-bucket cross product streams straight into the codegen'd
    * pair-count aggregate — no join machinery on the fan-out path at all.
    * The bucket build itself is buffer-bounded: cappedCollectList stops
    * accumulating at dfCap+1 ids, so a Zipf-head stop-shingle never
    * materializes its full posting list inside the aggregate before the
    * size filter drops it (over-cap keys surface as exactly dfCap+1
    * elements — above the filter, identical output). */
  private[operators] def shinglePairCounts(df: DataFrame, idCol: String, textCol: String,
                                n: Int, dfCap: Int): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        shingles(col(textCol), n).as("arr"))
      .select(col("id"), size(col("arr")).as("n_sh"), explode(col("arr")).as("raw"))
      .select(struct(col("id"), col("n_sh")).as("doc"), xxhash64(col("raw")).as("sh"))
    val buckets = sh.groupBy(col("sh"))
      .agg(cappedCollectList(col("doc"), dfCap).as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= dfCap)
    // (id, n_sh) is functionally dependent on id, so grouping by the four
    // columns equals grouping by the pair — no join back for sizes.
    bucketSelfPairCounts(buckets, "docs", "id", "n_sh")
      .groupBy(col("x.id").as("id1"), col("y.id").as("id2"),
        col("x.n_sh").as("n1"), col("y.n_sh").as("n2"))
      .agg(count(lit(1)).as("shared"))
  }

  /** Per-bucket UNORDERED pair fan-out with HOT-BUCKET CHUNK SPLITTING
    * (guide §2.5 — "split a single enormous key"): both explodes of the
    * plain bucket-array form run inside the bucket's OWN task, so one
    * degenerate under-cap key (a boilerplate shingle df-thousands of
    * documents share, a mirrored prefix block) serializes its quadratic
    * pair space on a single core — measured at sf0.1, the curation
    * corpus's shared layout lines put ~12M pairs through one task.
    * Buckets larger than `chunk` split into `chunk`-sized slices; each
    * (slice i, slice j ≥ i) pair becomes its own row, ROUND-ROBIN
    * repartitioned across the session's shuffle partitions, so a hot
    * bucket's pair space parallelizes ~(k²/2)-ways. The repartition is
    * UNCONDITIONAL, so the WHOLE bucket table re-shuffles once: a small
    * (≤`chunk`) bucket crosses the exchange as one self slice-pair row
    * (~1× its posting mass, j-side NULL — see below), a hot bucket as
    * ≈ (k+1)/2 × its posting mass (at dfCap 10000 and chunk 256, ≤ 41
    * slices, bounded by the valve). The justification is measured, not
    * structural: at sf0.1 the one extra exchange of the full posting
    * mass costs less than the serialized hot-bucket explode it replaces
    * (fold canonical phase 5.8 s → 3.0 s; chain build 14 → 8 s), and a
    * hot/cold two-branch split that WOULD spare small buckets the
    * exchange was measured and lost (each branch re-evaluates the
    * unpersisted upstream once). At scales where small buckets dominate
    * the posting mass and no hot bucket exists, the exchange is pure
    * overhead — bounded by one shuffle of (id, n_sh) rows, the same
    * order as the aggregate exchange that follows.
    *
    * Emits one (x, y) struct row per unordered in-bucket pair with
    * x.`idField` < y.`idField` — exactly the plain form's pair multiset
    * (self slice-pairs keep the upper triangle; cross slice-pairs are
    * enumerated once and normalized by id) — for the caller to
    * aggregate. Chunk order inside a bucket is whatever the capped
    * collect produced; normalization makes the output independent of
    * it. Chunking is UNCONDITIONAL (a ≤`chunk` bucket is one self
    * slice-pair row): a hot/cold filter split was measured and lost —
    * the two branches re-evaluate the whole unpersisted upstream
    * (shingle + bucket aggregate) once each, which cost more than the
    * one extra exchange of chunk rows this form pays. Self slice-pairs
    * carry NULL for the j-side (the explode reuses the i-side), so a
    * 1-chunk bucket ships its members once, not twice. */
  private[graft] def bucketSelfPairCounts(buckets: DataFrame, docsCol: String,
                                          idField: String, nField: String,
                                          chunk: Int = 256): DataFrame = {
    val docs = col(docsCol)
    def aId = col(s"a.$idField")
    def bId = col(s"b.$idField")
    val parts = buckets.sparkSession.sessionState.conf.numShufflePartitions
    buckets
      .select(transform(
        sequence(lit(0), ((size(docs) - lit(1)) / lit(chunk)).cast("int")),
        i => slice(docs, i * chunk + 1, lit(chunk))).as("__chunks"))
      .select(posexplode(col("__chunks")).as(Seq("__i", "__ci")), col("__chunks"))
      // __j == 0 ⇔ the self slice-pair; its __cj ships NULL and the
      // pair explode falls back to __ci (halves small-bucket shuffle).
      .select(col("__ci"),
        posexplode(slice(col("__chunks"), col("__i") + lit(1),
          size(col("__chunks")) - col("__i"))).as(Seq("__j", "__cj")))
      .select(col("__ci"), col("__j"),
        when(col("__j") > 0, col("__cj")).as("__cj"))
      .repartition(parts)
      .select(col("__j"), explode(col("__ci")).as("a"),
        coalesce(col("__cj"), col("__ci")).as("__cj"))
      .select(col("a"), explode(col("__cj")).as("b"), col("__j"))
      .filter(col("__j") > 0 || aId < bId)
      .select(when(aId < bId, col("a")).otherwise(col("b")).as("x"),
        when(aId < bId, col("b")).otherwise(col("a")).as("y"))
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJaccard: Double = 0.5,
                        dfCap: Int = 10000): DataFrame =
    shinglePairCounts(df, idCol, textCol, n, dfCap)
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("n1") + col("n2") - col("shared")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("shared"), col("n1"), col("n2"), col("jaccard"))

  /** Near-dup THRESHOLD TUNING CURVE — the diagnostic a dedup operator
    * reads before committing to a similarity cut: for each candidate
    * threshold, how many pairs fire and how many distinct documents get
    * pulled into SOME pair (the upper bound on removals under any
    * keep-one policy; the gap between curve points is the marginal blast
    * radius of loosening the cut). Computed off an already-scored pair
    * table (`pairs`: id1/id2/`scoreCol` — [[ngramJaccardPairs]] or the
    * [[NearDupPipeline]] memo), so the corpus-scale candidate pipeline
    * runs ONCE for the whole curve, not once per threshold.
    *
    * Exactness: the score is the same engine-identical double both
    * sides computed (one IEEE division of exact longs), thresholds are
    * literals — `>=` decides identically across engines; everything
    * else is exact counting. Thresholds below the pair table's
    * generation floor would silently undercount (pairs under the floor
    * were never scored) — guarded by `minScore`.
    *
    * Scale shape: the pair table is valve-bounded (df-cap + posting
    * caps), orders of magnitude below the corpus; the broadcast
    * thresholds join fans each pair to its ≤ |thresholds| qualifying
    * rows and both aggregates shuffle pair-scale rows by threshold
    * (≤ |thresholds| groups). Nothing corpus-scale, no re-scoring. */
  def thresholdCurve(pairs: DataFrame, thresholds: Seq[Double],
                     minScore: Double = 0.5,
                     scoreCol: String = "jaccard"): DataFrame = {
    require(thresholds.nonEmpty, "at least one threshold")
    require(thresholds.distinct.length == thresholds.length,
      "thresholds must be distinct")
    require(thresholds.forall(t => t >= minScore && t <= 1.0),
      s"thresholds must lie in [minScore=$minScore, 1.0]")
    val spark = pairs.sparkSession
    import spark.implicits._
    val th = thresholds.sorted.toDF("threshold")
    val hit = pairs.join(broadcast(th), col(scoreCol) >= col("threshold"))
    val np = hit.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    val nd = hit.select(col("threshold"),
        explode(array(col("id1"), col("id2"))).as("__doc"))
      .groupBy(col("threshold"))
      .agg(count_distinct(col("__doc")).as("n_docs"))
    // Thresholds no pair clears still belong on the curve (n = 0).
    th.join(np, Seq("threshold"), "left")
      .join(nd, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Exact shingle CONTAINMENT pairs — the asymmetric complement of
    * Jaccard for near-SUPERSET detection (Broder's resemblance vs
    * containment split): a short document quoted whole inside a long
    * aggregator page has low Jaccard (the union is large) but
    * containment ≈ 1 for the short side. Score = shared / min(|A|, |B|)
    * — the containment of the SMALLER document in the larger — with the
    * contained side reported explicitly. Same posting-bucket pipeline
    * and df-cap valve as [[ngramJaccardPairs]] (one corpus shuffle,
    * bounded buckets, no join on the fan-out path).
    * Output: (id1, id2, shared, n1, n2, containment, contained_id) —
    * contained_id is the smaller-set side (ties → id1, the
    * deterministic convention). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minContainment: Double = 0.8,
                       dfCap: Int = 10000): DataFrame =
    shinglePairCounts(df, idCol, textCol, n, dfCap)
      .withColumn("containment",
        col("shared").cast("double") / least(col("n1"), col("n2")).cast("double"))
      .filter(col("containment") >= minContainment)
      .withColumn("contained_id",
        when(col("n1") <= col("n2"), col("id1")).otherwise(col("id2")))
      .select(col("id1"), col("id2"), col("shared"), col("n1"), col("n2"),
        col("containment"), col("contained_id"))

  /** (id, sig: array<long>) MinHash signatures as a per-row PROJECTION —
    * zero shuffle (the explode + groupBy(id) alternative re-shuffles the
    * whole corpus just to regroup rows that were already doc-local), and
    * one codegen'd pass over the shingles for all components
    * ([[graft.functions.MinHashSigExpr]]) rather than numHashes
    * interpreted higher-order folds.
    *
    * Deliberately UNFILTERED: docs with no shingles get an EMPTY sig. A
    * `size > 0` pre-filter here would be pushed through the projection by
    * substitution and evaluate the whole shingle pipeline twice per row
    * (measured in the plan); instead [[minhashLshPairs]] lets empty-sig
    * docs band into a constant per-band bucket whose pairs estimate to 0
    * and never reach the output (null-text rows drop at the scan via the
    * text IS NOT NULL pushdown). */
  private def minhashSigArr(df: DataFrame, idCol: String, textCol: String,
                            n: Int, numHashes: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.MinHashSigExpr.minhashSig(
          shingles(col(textCol), n), numHashes).as("sig"))

  /** MinHash signature columns mh_0..mh_{numHashes-1}: for each seed, min
    * over the doc's shingles of xxhash64(seed, shingle). Docs with no
    * shingles are excluded (the explode+groupBy contract) — via the CHEAP
    * equivalent precondition `size(tokens) >= n` placed BELOW the sig
    * projection: a `size(sig) > 0` filter above it would be pushed through
    * by substitution and evaluate the whole shingle+MinHash pipeline twice
    * per row (the exact double-evaluation minhashSigArr's doc describes).
    * The token count re-tokenizes once, but never re-hashes. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       n: Int, numHashes: Int): DataFrame =
    df.filter(col(textCol).isNotNull &&
        size(tokens(normalized(col(textCol)))) >= n)
      .select(col(idCol).as("id"),
        graft.functions.MinHashSigExpr.minhashSig(
          shingles(col(textCol), n), numHashes).as("sig"))
      .select(col("id") +:
        (0 until numHashes).map(i => element_at(col("sig"), i + 1).as(s"mh_$i")): _*)

  /** MinHash+LSH candidate pairs: band the signature (`bands` bands of
    * `numHashes/bands` rows), build posting buckets per (band, bandHash),
    * dedup pairs, and attach the estimated Jaccard (fraction of agreeing
    * minhash components). The shuffle key is (band, bandHash) — at 100 TB
    * each bucket holds only near-colliding docs, never the corpus — and
    * `bucketCap` bounds the per-bucket pair explode exactly like the
    * Jaccard path's dfCap: a degenerate bucket (empty/boilerplate docs all
    * sharing a band hash) is dropped instead of going O(bucket²), and the
    * capped collect bounds the bucket-build BUFFER at bucketCap+1 entries
    * too.
    *
    * The full signature (numHashes longs) rides inside the posting struct
    * — the simhashPairs shape — so est_jaccard needs no join back to a
    * signature table: the whole operator is TWO shuffles (bucket build +
    * pair distinct), no persist, no corpus-cardinality joins. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      minEstJaccard: Double = 0.5, bucketCap: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sig = minhashSigArr(df, idCol, textCol, n, numHashes)
    // Band hashes take the same component VALUES the mh_i-column form fed
    // to xxhash64, so buckets are identical to the columnar formulation.
    val bandCols = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => element_at(col("sig"), i + 1))
      xxhash64((lit(b) +: cols): _*).as(s"band_$b")
    }
    val banded = sig.select(col("id") +: col("sig") +: bandCols: _*)
    val exploded = banded
      .select(col("id"), col("sig"),
        posexplode(array((0 until bands).map(b => col(s"band_$b")): _*)))
      .toDF("id", "sig", "band", "bucket")
    val buckets = exploded.groupBy(col("band"), col("bucket"))
      .agg(cappedCollectList(struct(col("id"), col("sig")), bucketCap).as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= bucketCap)
    // est_jaccard from the structs' signatures (codegen'd element_at
    // compares); a pair colliding in several bands collapses in the
    // distinct — signatures are functionally dependent on the ids, so
    // distinct over (id1, id2, est) equals distinct over the pair.
    val est = (0 until numHashes)
      .map(i => when(element_at(col("a.sig"), i + 1) === element_at(col("b.sig"), i + 1), 1)
        .otherwise(0))
      .reduce(_ + _).cast("double") / lit(numHashes.toDouble)
    buckets
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      // the size guard drops empty-sig (shingle-less) docs — placed HERE,
      // above the aggregate barrier, so it can't be pushed into a second
      // evaluation of the shingle pipeline; for any minEstJaccard > 0
      // such pairs would die on the est filter anyway (est = 0)
      .filter(col("a.id") < col("b.id") &&
        size(col("a.sig")) > 0 && size(col("b.sig")) > 0)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minOverlap` of a benchmark document's n-gram shingles — the
    * eval-leakage scan every serious pre-training pipeline runs before
    * shipping a corpus (a training doc that contains an eval question
    * inflates the benchmark score without the model learning anything).
    *
    * Scale shape: the asymmetry is the whole design. The benchmark side
    * (eval suites — thousands to ~10^5 docs) shingles, df-caps, and
    * denormalizes its per-doc shingle count into a small table, built
    * once per bench ([[benchTable]]), that is BROADCAST; the 100 TB
    * corpus side then never shuffles its shingles at all — the map-side
    * hash join + partial-aggregated count per (doc, bench) pair is the
    * only data motion, and output is bounded by corpus-shingle-rows ×
    * benchDfCap.
    *
    * `benchDfCap` drops shingles appearing in more than that many
    * BENCHMARK docs (boilerplate instructions like "choose the best
    * answer") — computed on the tiny bench side, so the valve costs
    * nothing. Overlap denominates by the benchmark doc's FULL distinct
    * shingle count (pre-cap), so capping can only lower a score, never
    * invent contamination. Production decontamination uses long shingles
    * (n = 8..13 words), where boilerplate collisions vanish and the cap
    * never binds; tests use n = 3 to exercise it.
    *
    * Rows where the corpus id equals the bench id are excluded (the
    * benchmark drawn from the corpus itself would otherwise "contaminate"
    * itself). Output: (doc_id, bench_id, shared, n_bench, overlap). */
  def contaminationPairs(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3, minOverlap: Double = 0.5,
                         benchDfCap: Int = 100): DataFrame =
    shingleRows(corpus, idCol, textCol, n, "doc_id")
      .join(broadcast(benchTable(bench, idCol, textCol, n, benchDfCap)), Seq("sh"))
      .filter(col("doc_id") =!= col("bench_id"))
      // shingles are distinct per doc on BOTH sides, so the per-pair row
      // count IS |A ∩ B|; n_bench rides in the broadcast struct so no
      // join back to the bench side is needed.
      .groupBy(col("doc_id"), col("bench_id"), col("n_bench"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("overlap",
        col("shared").cast("double") / col("n_bench").cast("double"))
      .filter(col("overlap") >= minOverlap)
      .select(col("doc_id"), col("bench_id"), col("shared"),
        col("n_bench"), col("overlap"))

  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
                          n: Int, as: String) =
    df.select(col(idCol).as(as), explode(shingles(col(textCol), n)).as("raw"))
      .select(col(as), xxhash64(col("raw")).as("sh"))

  private val benchTables =
    graft.SessionMemo[(String, String, Int, Int), String](graft.SessionMemo.delete)

  /** The bench side of [[contaminationPairs]], (sh, bench_id, n_bench):
    * every bench shingle row whose bench df is at most `benchDfCap`,
    * with its document's full shingle count. Built once per (`bench`,
    * columns, `n`, `benchDfCap`) as a [[graft.SessionMemo]] family and
    * written to parquet under [[graft.SessionMemo.tempDir]] (the
    * [[NearDupPipeline]] convention): a fold or chain that probes the
    * same bench re-reads the file instead of re-shingling the bench, and
    * no cached block outlives the call. */
  private def benchTable(bench: DataFrame, idCol: String, textCol: String,
                         n: Int, benchDfCap: Int): DataFrame = {
    val s = bench.sparkSession
    val path = benchTables(Seq(bench), (idCol, textCol, n, benchDfCap)) {
      val path = graft.SessionMemo.tempDir(s, "graft_bench_shingles")
      val bsh = shingleRows(bench, idCol, textCol, n, "bench_id")
      val bSizes = bsh.groupBy(col("bench_id")).agg(count(lit(1)).as("n_bench"))
      val bKeep = bsh.groupBy(col("sh")).agg(count(lit(1)).as("__bdf"))
        .filter(col("__bdf") <= benchDfCap).select(col("sh"))
      bsh.join(bKeep, Seq("sh")).join(bSizes, Seq("bench_id"))
        .select(col("sh"), col("bench_id"), col("n_bench"))
        .write.mode("overwrite").parquet(path)
      path
    }
    // The schema the build wrote, declared (no footer read). A parquet
    // read makes every column nullable; the build's non-nullable ones
    // (the count, and the bench id when its source column is) get their
    // nullability back, so the probe's output schema is the one a build
    // without the file would give.
    import org.apache.spark.sql.GraftBridge.{column, expression}
    def notNull(c: Column) =
      column(org.apache.spark.sql.catalyst.expressions.KnownNotNull(expression(c)))
    val idField = bench.schema(idCol)
    s.read.schema(StructType(Seq(StructField("sh", LongType),
        StructField("bench_id", idField.dataType),
        StructField("n_bench", LongType))))
      .parquet(path)
      .select(col("sh"),
        (if (idField.nullable) col("bench_id") else notNull(col("bench_id"))).as("bench_id"),
        notNull(col("n_bench")).as("n_bench"))
  }

  /** Connected components over an undirected near-dup pair graph —
    * the step that turns pairwise candidates into DELETE LISTS: every
    * doc in a component keeps/loses against one canonical representative
    * (the component's min id), and transitive duplicates (A~B, B~C but
    * A!~C under the threshold) still land in one cluster. Output:
    * (id, comp) for every vertex in `pairs` (singletons are their own
    * trivial cluster by definition).
    *
    * Two paths behind one gate: the closed edge set ([[closedEdges]])
    * is persisted, then ONE collect pulls at most [[MaxLocalEdges]] + 1
    * of its undirected rows (src ≤ dst, self-loops included).
    *  - At or under the bound, with integral ids (byte, short, int,
    *    long), a driver union-find labels each vertex with its
    *    component's min id, returned as a local relation. The call runs
    *    3 Spark jobs (edge shuffle, cache build, collect) where the loop
    *    runs 17 on a 5-pair graph, and `maxIter` does not bind.
    *  - Over the bound, or with any other id type, [[labelLoop]] runs
    *    over the persisted edges: diameter rounds of distributed
    *    min-label propagation, THROWING when `maxIter` rounds do not
    *    converge. Its labels are persisted (see there).
    * Both paths return the same rows under the same schema, NULL ids
    * included: a NULL id is labeled with the smallest component among
    * its partners and joins none of them (an equi-join never matches
    * NULL). */
  def connectedComponents(pairs: DataFrame, id1: String = "id1",
                          id2: String = "id2", maxIter: Int = 20): DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    val edges = closedEdges(pairs, id1, id2).persist(StorageLevel.MEMORY_AND_DISK)
    val local = try localLabels(edges, MaxLocalEdges)
      catch { case e: Throwable => edges.unpersist(); throw e }
    local match {
      case Some(labels) => edges.unpersist(); labels
      case None => labelLoop(edges, maxIter)
    }
  }

  /** Most undirected edge rows [[connectedComponents]] solves on the
    * driver; E pairs over V vertices make at most E + V rows, and V
    * never exceeds the row count. Driver heap, measured on JDK 17: a
    * collected row (two boxed longs) retains ~102 B, an output vertex
    * ~117 B in the local relation, the union-find 12 B per vertex — so
    * ~0.25 GB at the bound (0.79M rows solved in 2.8 s on 4 cores), an
    * eighth of the smallest driver heap the harnesses here give (2 GB).
    * A constant: past it the loop's rounds are no longer all fixed cost. */
  private[graft] val MaxLocalEdges: Int = 1 << 20

  /** Both edge directions PLUS self-loops from ONE evaluation of
    * `pairs` (explode of a four-struct array): a union of selects would
    * run the whole upstream candidate pipeline once per branch. The
    * self-loops make the loop's round a single closed-neighborhood min,
    * and give the driver path every vertex as a (v, v) row. */
  private[graft] def closedEdges(pairs: DataFrame, id1: String = "id1",
                                 id2: String = "id2"): DataFrame =
    pairs
      .select(explode(array(
        struct(col(id1).as("src"), col(id2).as("dst")),
        struct(col(id2).as("src"), col(id1).as("dst")),
        struct(col(id1).as("src"), col(id1).as("dst")),
        struct(col(id2).as("src"), col(id2).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()

  /** The driver path of [[connectedComponents]]: None, with `edges`
    * untouched, when the ids are not integral or `edges` holds more
    * than `maxEdges` undirected rows; else the labels as a local
    * relation with [[labelLoop]]'s exact schema. */
  private[graft] def localLabels(edges: DataFrame, maxEdges: Int): Option[DataFrame] = {
    require(maxEdges >= 0 && maxEdges < Int.MaxValue, "maxEdges out of range")
    val idField = edges.schema("src")
    Map[DataType, Long => Any](ByteType -> (_.toByte), ShortType -> (_.toShort),
        IntegerType -> (_.toInt), LongType -> (v => v)).get(idField.dataType)
      .flatMap { box =>
        // Each undirected edge and self-loop once, plus (v, NULL) per
        // vertex paired with a NULL id: NULL drops out of `src <= dst`,
        // and the coalesce keeps the NULL-dst rows alone.
        val rows = edges.filter(coalesce(col("src") <= col("dst"), col("dst").isNull))
          .select(col("src").cast("long"), col("dst").cast("long"))
          .limit(maxEdges + 1).collect()
        Option.when(rows.length <= maxEdges) {
          val verts = rows.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted.distinct
          def at(r: Row, i: Int) = java.util.Arrays.binarySearch(verts, r.getLong(i))
          // `verts` is sorted, so each set's root index is its min id.
          val uf = new MinUnionFind(verts.length)
          for (r <- rows if !r.isNullAt(0) && !r.isNullAt(1)) uf.union(at(r, 0), at(r, 1))
          val nullRoots = rows.collect { case r if !r.isNullAt(0) && r.isNullAt(1) => uf.find(at(r, 0)) }
          val out = verts.indices.map(i => Row(box(verts(i)), box(verts(uf.find(i))))) ++
            Option.when(nullRoots.nonEmpty)(Row(null, box(verts(nullRoots.min))))
          edges.sparkSession.createDataFrame(out.asJava, StructType(Seq(
            StructField("id", idField.dataType, idField.nullable),
            StructField("comp", idField.dataType, nullable = true))))
        }
      }
  }

  /** Disjoint sets over 0 until `n` (path halving); a union keeps the
    * smaller root, so every set's root is its smallest index. */
  private[graft] final class MinUnionFind(n: Int) {
    private val parent = Array.range(0, n)
    @scala.annotation.tailrec def find(i: Int): Int =
      if (parent(i) == i) i else { parent(i) = parent(parent(i)); find(parent(i)) }
    def union(a: Int, b: Int): Unit = {
      val (x, y) = (find(a), find(b))
      parent(math.max(x, y)) = math.min(x, y)
    }
  }

  /** The distributed path of [[connectedComponents]] over `edges` as
    * [[closedEdges]] builds them (unpersisted on return). The labels
    * come back persisted through the cache manager, so `unpersist()`
    * or `spark.catalog.clearCache()` frees them.
    *
    * Algorithm: min-label propagation. Every vertex starts labeled with
    * its own id; each round takes the min of its label and its
    * neighbors' labels; converged when nothing changes. Rounds needed =
    * graph diameter — near-dup clusters are dense and tiny (copies of
    * one document), so 2-4 rounds in practice; `maxIter` guards
    * adversarial chains and THROWS rather than return a silently
    * under-merged clustering. Convergence is detected by the SUM of all
    * labels (labels only ever decrease, so an unchanged sum ⟺ a fixed
    * point) — one cheap aggregate per round, no self-join diffing. The
    * sum is computed in DECIMAL(38,0): corpus-scale id sums overflow a
    * long, and a wrapped sum could fake convergence. Consecutive-round
    * comparison means detecting a fixed point takes a MINIMUM of TWO
    * rounds — even an already-converged input (e.g. self-loop-only
    * pairs) needs one round to move and one to confirm, so callers must
    * pass `maxIter` ≥ diameter + 1 and at least 2; maxIter = 1 throws
    * on every input.
    *
    * Scale: each round is ONE join + one aggregate on (edge, label)
    * rows, partitioned by vertex — the standard iterative-join CC (the
    * large-star/small-star variant saves rounds on high-diameter web
    * graphs; dedup graphs aren't that). The edge set carries SELF-LOOPS
    * so a round is `min over the closed neighborhood` in a single
    * aggregate instead of joining the label table twice. Each round
    * reads the last one's persisted labels through a plan leaf
    * (`GraftBridge.planLeaf`), which cuts the plan: joined directly, a
    * persisted round's executed plan nests the previous round's cached
    * plan under both AQE's final and initial plans, so the rendered
    * plan doubled per round and a 40-vertex chain at 20 rounds ran a
    * 4 GB driver out of heap in `explainString` before the `maxIter`
    * throw. A round's labels are unpersisted once the next round's
    * have materialized.
    *
    * Ids must be NUMERIC: convergence is detected by the label SUM,
    * whose proof needs the min-label updates to decrease it
    * monotonically (equal sum ⟺ no label moved — no collision is
    * possible under monotonicity, where a hash-sum could false-
    * converge). Non-numeric ids fail loudly at the decimal cast (ANSI),
    * never silently misorder; hash string ids to longs first (the
    * span-census discipline) to cluster them. */
  private[graft] def labelLoop(edges: DataFrame, maxIter: Int): DataFrame = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).persist(lvl)
    // Option: an empty pair set sums to SQL NULL — equal Nones then read
    // as the (vacuously correct) fixed point instead of an NPE.
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0))
    // Sums are compared between CONSECUTIVE rounds (no pre-loop job
    // for the identity labeling's sum). Outer Option = "no round yet";
    // inner Option = the empty-graph NULL sum.
    var prevSum: Option[Option[java.math.BigDecimal]] = None
    var iter = 0
    var converged = false
    try {
      while (!converged && iter < maxIter) {
        // Self-loops put each vertex's own label in its neighborhood, so
        // this min IS least(own label, neighbors' min) — `labels` is
        // referenced exactly once per round (see scaladoc), through a
        // plan leaf over its cached rows.
        val next = edges
          .join(org.apache.spark.sql.GraftBridge.planLeaf(labels)
            .select(col("id").as("dst"), col("comp").as("__nc")), Seq("dst"))
          .groupBy(col("src").as("id")).agg(min(col("__nc")).as("comp"))
          .persist(lvl)
        val s = try labelSum(next) catch { case e: Throwable => next.unpersist(); throw e }
        labels.unpersist()
        labels = next
        converged = prevSum.contains(s)
        prevSum = Some(s)
        iter += 1
      }
    } catch { case e: Throwable => labels.unpersist(); throw e }
    finally edges.unpersist()
    if (!converged) {
      labels.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "graph diameter exceeds the bound; raise maxIter")
    }
    labels
  }

  /** Cluster summary over near-dup pairs: one row per component with the
    * canonical (min) id, exact member count, and a sorted member sample
    * capped at `memberCap` via the bounded aggregate (mega-cluster rows
    * stay bounded, like [[exactGroups]]). */
  def dedupClusters(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
                    memberCap: Int = 100, maxIter: Int = 20): DataFrame = {
    val cc = connectedComponents(pairs, id1, id2, maxIter)
    val members = graft.functions.BoundedMinK.minKAsStrings(
      col("id"), cc.schema("id").dataType, memberCap)
    cc.groupBy(col("comp").as("component"))
      .agg(count(lit(1)).as("n_members"),
        concat_ws(",", members).as("member_ids"))
      .select(col("component"), col("n_members"), col("member_ids"))
  }

  /** Canonical KEEP/DROP list over near-dup clusters — the decision the
    * cluster report feeds: every clustered document gets its component
    * and a flag marking the one member the pipeline keeps. The canonical
    * is the member with the highest `qualityCol` (ties → min id) — the
    * "keep the best page of the mirror set" rule near-dup pipelines
    * apply, where [[dedupClusters]]' min-id convention is merely a
    * deterministic label. Documents in no pair are absent (they keep
    * themselves by definition; emitting n_docs rows to say so would
    * dwarf the answer at corpus scale).
    *
    * Scale shape: CC over the pairs ([[connectedComponents]] — one
    * bounded collect and a driver union-find up to [[MaxLocalEdges]],
    * whose labels arrive as a local relation; diameter rounds of
    * node-scale joins past it), one LEFT join to bring the quality
    * column (clustered ids only — far below the corpus; a clustered id
    * missing from `docs` keeps its row with NULL quality rather than
    * silently vanishing from the keep-list), and the canonical chosen
    * by two bounded AGGREGATES joined back — max quality per component,
    * then min id among the members at that quality (null-safe match, so
    * an all-null-quality component still elects its min id). Aggregates
    * are map-side combinable with O(1) buffers and impose no ordering
    * assumption on the id TYPE (a numeric-negation tie-break would
    * break on string ids and overflow Long.MinValue), where a
    * per-component row_number window would sort a corpus-sized
    * mirror-farm component in ONE task. A member with NULL quality in a
    * component that has scored members can never be canonical — the
    * "keep the best page" rule has scores to compare there. Output:
    * (doc_id, component, quality, is_canonical). */
  def canonicalKeepList(pairs: DataFrame, docs: DataFrame, idCol: String,
                        qualityCol: String, id1: String = "id1",
                        id2: String = "id2", maxIter: Int = 20): DataFrame = {
    val cc = connectedComponents(pairs, id1, id2, maxIter)
    val q = cc.join(
      docs.select(col(idCol).as("id"), col(qualityCol).as("quality")),
      Seq("id"), "left")
    val best = q.groupBy(col("comp"))
      .agg(max(col("quality")).as("__q")) // null iff every member is
    val canon = q.join(best, Seq("comp"))
      .filter(col("quality") <=> col("__q"))
      .groupBy(col("comp")).agg(min(col("id")).as("__canon"))
    q.join(canon, Seq("comp"))
      .select(col("id").as("doc_id"), col("comp").as("component"),
        col("quality"), (col("id") === col("__canon")).as("is_canonical"))
  }

  /** [[canonicalKeepList]]'s verdict computed on the driver, for long
    * ids and long quality: the ids of `pairs`' graph that are NOT their
    * component's canonical. `quality` gives each id's quality values,
    * one per `docs` row (None for a NULL); an id absent from it has one
    * NULL, as the keep-list's left join gives it. The canonical is the
    * min id among the members holding the component's max quality, or
    * among all members when every quality is NULL. Components come from
    * the [[MinUnionFind]] that [[localLabels]] uses. */
  private[graft] def localNonCanonical(pairs: Iterable[(Long, Long)],
                                       quality: Map[Long, Seq[Option[Long]]]): Set[Long] = {
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).toArray.sorted.distinct
    def at(v: Long) = java.util.Arrays.binarySearch(verts, v)
    val uf = new MinUnionFind(verts.length)
    pairs.foreach(p => uf.union(at(p._1), at(p._2)))
    verts.indices.groupBy(uf.find).valuesIterator.flatMap { members =>
      val rows = members.map(verts).flatMap(v => quality.getOrElse(v, Seq(None)).map(v -> _))
      val best = rows.flatMap(_._2).maxOption
      val canon = rows.collect { case (v, q) if q == best => v }.min
      members.map(verts).filter(_ != canon)
    }.toSet
  }

  /** Bucketed EDIT-DISTANCE near-dup pairs — the character-level
    * complement of the token-set (Jaccard) and bit-level (SimHash)
    * near-dup detectors: catches small in-place edits (typo fixes,
    * template fills) that token shingles over-penalize. Semantics are
    * the BLOCKED contract, stated plainly: candidate pairs are documents
    * sharing the first `prefixLen` characters of their normalized text,
    * and a pair reports iff levenshtein(norm_a, norm_b) ≤ `maxDist`.
    * The prefix block is part of the operator's definition (and of its
    * oracle), not an approximation bolted on after — an UNBLOCKED edit
    * distance join is Θ(n²) string comparisons and exists in no
    * production pipeline.
    *
    * Scale shape: one shuffle groups ids+normalized text by prefix
    * block; in-block pairs are bounded by [[graft.functions
    * .CappedCollectList]] (cap `bucketCap`, the LSH valve — an overfull
    * block is dropped, never exploded), and the verify step uses
    * Spark's BANDED three-arg levenshtein — O(len·maxDist) per pair,
    * not O(len²), bailing out at the threshold.
    * Output: (id1, id2, dist), id1 < id2. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        prefixLen: Int = 16, maxDist: Int = 30,
                        bucketCap: Int = 256): DataFrame = {
    require(prefixLen > 0, "prefixLen must be positive")
    require(maxDist >= 0, "maxDist must be non-negative")
    val d = df.select(col(idCol).as("id"),
        TextAnalysis.normalized(col(textCol)).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("k", substring(col("s"), 1, prefixLen))
    val buckets = d.groupBy(col("k"))
      .agg(cappedCollectList(struct(col("id"), col("s")), bucketCap).as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= bucketCap)
    buckets
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("dist", levenshtein(col("a.s"), col("b.s"), maxDist))
      .filter(col("dist") >= 0) // banded levenshtein returns -1 above maxDist
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("dist").cast("long").as("dist"))
  }

  /** Incremental cluster maintenance: fold a NEW batch's candidate
    * pairs into an EXISTING (id, comp) labeling without reprocessing the
    * old pairs — the ingest-loop form of [[connectedComponents]] (a
    * daily batch must not re-run candidate generation over the whole
    * corpus). Correctness: a labeling is a connectivity-preserving
    * contraction of its pair graph (every member connects to its
    * component root), so CC over {label edges} ∪ {new pairs} has exactly
    * the components of CC over {old pairs} ∪ {new pairs}. The label
    * edges are star graphs (diameter ≤ 2), so on the loop path (past
    * [[MaxLocalEdges]]) convergence stays at the NEW pairs' diameter —
    * the work of a round is proportional to the labeling plus the
    * delta, never the historical pair set.
    * Canonical ids stay min-ids, so an untouched component keeps its
    * label and only components the delta bridges relabel. */
  def incrementalClusters(labels: DataFrame, newPairs: DataFrame,
                          id1: String = "id1", id2: String = "id2",
                          maxIter: Int = 20): DataFrame = {
    val labelEdges = labels.select(col("id").as(id1), col("comp").as(id2))
    connectedComponents(labelEdges.unionByName(
      newPairs.select(col(id1), col(id2))), id1, id2, maxIter)
  }

  /** 64-bit SimHash per document: bit i of the hash is the sign of
    * Σ_tokens (±1 depending on bit i of xxhash64(token)). Computed as a
    * per-row codegen'd PROJECTION over the token array
    * ([[graft.functions.SimHash64Expr]]) — the explode + groupBy(id) +
    * 64-sum formulation it replaces re-shuffled the whole corpus to
    * regroup doc-local rows. Token-less docs are excluded, matching the
    * explode form (which produced no rows for them). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // text IS NOT NULL ≡ the explode form's implicit doc filter (split
    // of a non-null string is never empty), and it pushes into the scan
    // instead of re-evaluating the tokenizer in a substituted predicate.
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.SimHash64Expr.simhash64(
          tokens(normalized(col(textCol)))).as("simhash"))

  /** SimHash near-dup pairs: candidates from matching 16-bit band prefixes
    * (a hamming distance ≤ 3 pair must agree on ≥1 of 4 bands), verified
    * with an exact popcount of the XOR. Capped posting buckets per
    * (band, prefix) — same dfCap-style bound as the LSH/Jaccard paths, so
    * a degenerate prefix bucket never explodes O(bucket²). The signature
    * (one long) rides inside the posting struct, so verification needs no
    * join at all. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bucketCap: Int = 1000): DataFrame = {
    val banded = simhash(df, idCol, textCol).select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .toDF("id", "simhash", "band", "bucket")
    val buckets = banded.groupBy(col("band"), col("bucket"))
      .agg(cappedCollectList(struct(col("id"), col("simhash")), bucketCap).as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= bucketCap)
    buckets
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.simhash").as("sh1"), col("b.simhash").as("sh2")).distinct()
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Cross-document duplicated-SPAN report — the diagnostic core of
    * exact substring deduplication (the Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better" pass), at k-token
    * granularity: for every doc with ≥ k tokens, how many of its k-token
    * spans also occur in at least `minDocs − 1` OTHER documents. A high
    * fraction marks boilerplate/templated text that document-level
    * near-dup misses (the duplicated region hides inside otherwise
    * distinct pages); within-document repetition is q_text_repetition's
    * business and deliberately does NOT count here (df is distinct-doc).
    *
    * Scale shape: spans are hashed to fixed 128-bit keys map-side — a
    * struct of two seed-independent xxhash64 longs (the output is
    * per-doc COUNTS over span equality, so any collision-free key is
    * semantically identical to hashing the text itself; two 64-bit
    * lanes put the corpus-wide collision odds at ~n²/2¹²⁹ where one
    * 64-bit lane would already court a hash-parity break at ~10⁸
    * distinct spans — and 16 bytes of longs beat both the 32-char md5
    * hex AND md5's per-span crypto cost, which was the query's sf10
    * bottleneck). Span TEXT never shuffles — the line-dedup census
    * discipline. The (span, doc) collapse runs FIRST so the df census
    * and the fraction join see distinct pairs, never the positional
    * stream; both aggregates are two-counter buffers. Three bounded
    * shuffles: (span, doc) collapse → span census → census join back
    * to pairs.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int, minDocs: Int = 2): DataFrame = {
    require(k > 0, "span length must be positive")
    require(minDocs >= 2, "minDocs below 2 marks every span duplicated")
    val toks = filter(tokens(normalized(col(textCol))), t => length(t) > 0)
    val pairs = df
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
      .filter(size(col("__toks")) >= k)
      // Tokens hash to longs ONCE per doc; span keys then hash k-long
      // slices instead of re-walking k variable-length strings per span
      // — an O(n·k) → O(n + n·k/8)-ish CPU cut on the census's hottest
      // loop. xxhash64 chains per-element hashes, so slices of the
      // hashed stream keep the structural no-collision property
      // (["ab","c"] vs ["a","bc"] differ already at the token-hash
      // layer). The salt lane puts the salt FIRST: multi-arg xxhash64
      // chains with the running hash as seed, so xxhash64(s, 1) would
      // be a pure function of xxhash64(s) (lane-1 collisions would
      // imply lane-2 collisions, reducing the SLICE layer to 64 bits);
      // xxhash64(1, s) re-hashes the slice under a different seed, so
      // slice-layer collisions need both lanes to collide (~128-bit
      // bound there). The TOKEN layer stays the binding bound: both
      // lanes consume the same per-token hashes, so two distinct
      // tokens colliding at 64 bits collapses both lanes at once —
      // span-key strength is min(V²/2⁶⁵ over corpus vocabulary, the
      // 128-bit slice bound), like the Vocab bigram lanes. Acceptable
      // for a census (a collision biases one count); hash raw token
      // strings in one lane if a future caller needs true 128-bit
      // independence at 100 TB vocabularies.
      .select(col("doc_id"), transform(col("__toks"), t => xxhash64(t)).as("__th"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__th")) - k + 1),
        i => {
          val s = slice(col("__th"), i, lit(k))
          struct(xxhash64(s), xxhash64(lit(1), s))
        })).as("g"))
      // ONE exchange for the whole census: hash partitioning on g alone
      // satisfies the (g, doc_id) grouping, the g census, AND the join
      // back — without this the span stream shuffles twice (once keyed
      // (g, doc_id), once re-keyed g for the join). Partial map-side
      // aggregation only collapsed in-doc repeats (spans are mostly
      // unique), so pre-partitioning costs nothing it was saving.
      .repartition(col("g"))
      .groupBy(col("g"), col("doc_id"))
      .agg(count(lit(1)).as("n_pos"))
    val census = pairs.groupBy(col("g"))
      .agg(count(lit(1)).as("gram_docs"))
    pairs.join(census, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_pos")).as("n_spans"),
        sum(when(col("gram_docs") >= minDocs, col("n_pos")).otherwise(0L))
          .as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
          .as("dup_fraction"))
  }

  /** Exact substring deduplication APPLIED — [[duplicatedSpans]] is the
    * census, this is the removal pass (the Lee et al. 2021 pipeline's
    * second half): every token covered by a k-token span that occurs in
    * ≥ `minDocs` distinct documents is struck from every document; the
    * survivors rebuild in original order, and documents left with zero
    * tokens are dropped (the [[dropCommonLines]] convention). Token
    * position p is covered iff ANY duplicated span starts in
    * [p−k+1, p] — overlapping duplicated spans merge into one struck
    * region, exactly the reference algorithm's behavior.
    *
    * Scale shape: the span census is [[duplicatedSpans]]' — spans
    * travel as 128-bit xxhash64 struct keys, span TEXT never shuffles,
    * df is distinct-doc. After the census, only the DUPLICATED START
    * positions shuffle: per doc they collapse to one int array bounded
    * by that document's own span count, and everything downstream is a
    * map-side projection after a single doc-keyed join — covered
    * positions materialize per-row as `flatten(transform(ss, s →
    * sequence(s, s+k−1)))` and the kept stream is `array_except(
    * sequence(1, n), covered)`, a hash-set difference that is
    * O(n + |ss|·k) per document. Document text flows through exactly
    * one join shuffle; the corpus-wide position stream never shuffles
    * at all. (Two rejected alternatives: probing a covered-set array
    * per token with `array_contains` is O(tokens × covered) per
    * document — quadratic on a fully-boilerplate page; exploding the
    * full position stream and anti-joining covered positions is linear
    * but shuffles every token position in the corpus twice, which was
    * this query's sf10 bottleneck.)
    *
    * Output: (doc_id, n_tokens, n_kept, text_out) — text_out is the
    * kept tokens of the NORMALIZED token stream space-joined (the
    * census tokenization; original whitespace/casing is not
    * reconstructible from struck spans and no published implementation
    * tries). */
  def strikeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            k: Int, minDocs: Int = 2): DataFrame = {
    require(k > 0, "span length must be positive")
    require(minDocs >= 2, "minDocs below 2 strikes every span")
    val toks = filter(tokens(normalized(col(textCol))), t => length(t) > 0)
    // Two consumers (span starts, rebuild join) each re-run the scan +
    // regex tokenization without this; persist once with disk spill
    // (the semDedup cache contract — sweep callers
    // clearCache() between corpora).
    val base = df
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val starts = base
      .filter(size(col("__toks")) >= k)
      // Token-hash-then-slice span keys, same two-lane construction as
      // duplicatedSpans (salt-first second lane — see the census
      // scaladoc for why the order matters, and for the O(n·k) string
      // re-walk the per-token hash pass removes).
      .select(col("doc_id"), transform(col("__toks"), t => xxhash64(t)).as("__th"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__th")) - k + 1),
        i => {
          val s = slice(col("__th"), i, lit(k))
          struct(i.as("i"), struct(xxhash64(s), xxhash64(lit(1), s)).as("g"))
        })).as("x"))
      .select(col("doc_id"), col("x.i").as("i"), col("x.g").as("g"))
    // Distinct-doc census (within-doc repetition alone must not strike —
    // the duplicatedSpans contract), kept as the duplicated-key set.
    // Measured note: pre-partitioning this distinct on g alone (the
    // duplicatedSpans single-exchange trick) was TRIED and is ~10%
    // slower here — the (g, doc_id) key spreads hot boilerplate spans
    // across docs, while g-only partitioning piles every copy of a hot
    // span onto one task before the distinct can shrink it.
    val dupKeys = starts.select(col("g"), col("doc_id")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("gram_docs"))
      .filter(col("gram_docs") >= minDocs)
      .select(col("g"))
    // Only the duplicated START positions shuffle — one int array per
    // doc, bounded by its own span count. No ×k position explosion, no
    // corpus-wide position stream.
    val dupStarts = starts.join(dupKeys, Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("i")).as("__ss"))
    // Left join: docs with no duplicated span keep every token; kept
    // positions are a per-row hash-set difference (array_except keeps
    // the ascending order of its left operand, so no sort is needed,
    // and duplicate covered entries from overlapping spans are free).
    val covered = flatten(transform(coalesce(col("__ss"), lit(Array.emptyIntArray)),
      s => sequence(s, s + (k - 1))))
    base.join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        array_except(sequence(lit(1), size(col("__toks"))), covered).as("__kp"),
        col("__toks"))
      // Fully-covered documents have no kept positions and are dropped,
      // like dropCommonLines drops emptied documents.
      .filter(size(col("__kp")) > 0)
      .select(col("doc_id"), col("n_tokens"),
        size(col("__kp")).cast("long").as("n_kept"),
        array_join(transform(col("__kp"), p => element_at(col("__toks"), p)), " ")
          .as("text_out"))
  }
}
