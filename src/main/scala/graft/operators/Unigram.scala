package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{UnigramModel, UnigramSegmentExpr}
import graft.streaming.Census

/** Unigram-LM tokenizer training (Kudo 2018 — the OTHER production
  * tokenizer family next to [[Bpe]]; sentencepiece's default): seed a
  * large candidate-piece vocabulary from corpus substrings, then
  * alternate Viterbi re-segmentation (E) with count re-estimation and
  * pruning (M) until the vocabulary reaches its target size.
  *
  * Scale design — the [[Bpe.fit]] collapse: every statistic is a
  * function of the (token, n) WORD-FREQUENCY table, so the corpus is
  * touched exactly once; seeding explodes substrings of DISTINCT words
  * (vocab-scale × maxPieceLen² rows, never corpus-scale), and each EM
  * round is one vocab-scale segment-explode + hash aggregate. The
  * model itself (≤ seed size (piece, count) rows) is the only thing
  * collected — the IVF-centroid bounded-model-data contract.
  *
  * Determinism (the engine's frozen-arithmetic discipline applied to a
  * tokenizer): counts are exact longs; piece log-probabilities freeze
  * as MICRO-quantized longs via StrictMath.log (bit-identical on every
  * JVM); the Viterbi decoder sums those longs exactly
  * ([[UnigramSegmentExpr]]), with the longest-piece-wins tie-break —
  * so fit → segment → encode reproduces bit-for-bit across runs,
  * partitionings, and machines. Hard-EM (1-best counts) replaces the
  * paper's forward–backward expectations — the standard fast variant;
  * the fixed-point it converges to is spec-pinned, not paper-identical.
  *
  * Pruning, stated plainly: ALL single code points ever seeded are
  * kept for coverage (zero-count singles keep the UNK floor score);
  * multi-character pieces rank by (count desc, piece asc) and each
  * round keeps the top 75% until the FINAL round cuts to exactly
  * `vocabSize − |singles|` (or everything that survived `minCount`,
  * whichever is smaller). */
object Unigram {

  /** Substring-candidate seed counts over the word-frequency table:
    * every code-point window of length 1..maxPieceLen of every distinct
    * word, weighted by the word's corpus count. Spark `substring` is
    * code-point based, matching the decoder's boundaries. */
  def seedCounts(words: DataFrame, maxPieceLen: Int): DataFrame = {
    val L = length(col("token"))
    val windows = flatten(transform(sequence(lit(1), L),
      i => transform(sequence(lit(0), least(lit(maxPieceLen - 1), L - i)),
        k => col("token").substr(i, k + lit(1)))))
    words.select(col("n"), explode(windows).as("piece"))
      .groupBy(col("piece")).agg(sum(col("n")).cast("long").as("cnt"))
  }

  private[graft] def isSingle(p: String): Boolean =
    p.codePointCount(0, p.length) == 1

  /** [[fit]]'s seed vocabulary selection: (singles — every seeded code
    * point, the coverage set kept for life; multiTop — the seedSize
    * most frequent multi-code-point substrings at or above minCount,
    * ties broken by piece). Spark's `length` counts CODE POINTS
    * (UTF8String.numChars), so `=== 1` matches isSingle exactly and
    * bounds the singles collect to the alphabet — a `<= 2` pre-filter
    * would also collect every character BIGRAM in the corpus
    * (O(alphabet²) rows on a CJK-like corpus) only to discard them
    * driver-side. isSingle stays as a belt-and-braces guard on the
    * contract. */
  private[graft] def seedVocab(words: DataFrame, maxPieceLen: Int,
                               seedSize: Int, minCount: Long):
      (Array[(String, Long)], Array[(String, Long)]) = {
    val seed = seedCounts(words, maxPieceLen)
    val singles = seed.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter { case (p, _) => isSingle(p) }
    val multiTop = seed.filter(length(col("piece")) >= 2)
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("piece"))
      .limit(seedSize).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .filter { case (p, _) => !isSingle(p) }
    (singles, multiTop)
  }

  /** Train: returns the frozen model. `df` → corpus; tokenization is
    * [[TextAnalysis.tokens]] over [[TextAnalysis.normalized]] text (the
    * text family's contract, same as BPE).
    *
    * Hard-EM (1-best counts) maximizes exactly the Viterbi likelihood
    * the encoder uses. UNIGRAM_LAB.json records the measured trade
    * against forward–backward soft EM: identical encoding on the lab
    * corpus, LL/word −4.26 hard vs −4.41 soft. */
  def fit(df: DataFrame, textCol: String, vocabSize: Int = 400,
          rounds: Int = 3, maxPieceLen: Int = 6, seedSize: Int = 4000,
          minCount: Long = 2L, unkMicro: Long = -100000000L): UnigramModel = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(seedSize >= vocabSize,
      s"seedSize ($seedSize) must be >= vocabSize ($vocabSize)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val words = Bpe.wordFreq(df, textCol).persist(lvl)
    try {
      val (singles, multiTop) =
        seedVocab(words, maxPieceLen, seedSize, minCount)
      def freeze(counts: Seq[(String, Long)]): UnigramModel = {
        val total = counts.map(_._2).sum.max(1L)
        UnigramModel(counts.map { case (p, c) =>
          val micro =
            if (c <= 0) unkMicro
            else math.round(StrictMath.log(c.toDouble / total.toDouble) * 1e6)
          (p, micro)
        }, unkMicro)
      }
      var model = freeze((singles ++ multiTop).distinct)
      val singleSet = singles.map(_._1).toSet
      var r = 1
      while (r <= rounds) {
        // E over the word table (vocab-scale): 1-best piece counts,
        // exact longs under aggregation.
        val counts =
          words.select(col("n"),
              explode(UnigramSegmentExpr.segment(col("token"), model)).as("piece"))
            .groupBy(col("piece")).agg(sum(col("n")).cast("long").as("cnt"))
            .collect().map(x => (x.getString(0), x.getLong(1))).toMap
        // M + prune on the driver (model-scale)
        val multis = model.pieces.iterator.filter(p => !isSingle(p))
          .map(p => (p, counts.getOrElse(p, 0L)))
          .filter { case (_, c) => c >= minCount }
          .toSeq.sortBy { case (p, c) => (-c, p) }
        val targetMulti =
          if (r == rounds) math.max(0, vocabSize - singleSet.size)
          else math.max(math.max(0, vocabSize - singleSet.size),
            multis.length * 3 / 4)
        val keptMulti = multis.take(targetMulti)
        val keptSingles = singleSet.toSeq.sorted
          .map(p => (p, counts.getOrElse(p, 0L)))
        model = freeze(keptSingles ++ keptMulti)
        r += 1
      }
      model
    } finally { words.unpersist(); () }
  }

  // ---- cross-query fit memo -----------------------------------------
  // q_unigram_vocab, q_unigram_encode (and any other consumer of the
  // same trained tokenizer) must not each re-run the EM fit — the
  // NearDupPipeline `_build` economy applied to a driver-side model
  // artifact. The model is bounded (≤ seedSize (piece, micro) pairs) and
  // bit-reproducible, so memoizing it changes no output anywhere.
  private val memo =
    graft.SessionMemo[(String, Int, Int, Int, Int, Long, Long), UnigramModel]()

  /** The trained model for (`df`, params), fit at most once per session
    * ([[graft.SessionMemo]]); later callers get the identical frozen
    * model. */
  def fitMemo(df: DataFrame, textCol: String,
              vocabSize: Int = 400, rounds: Int = 3, maxPieceLen: Int = 6,
              seedSize: Int = 4000, minCount: Long = 2L,
              unkMicro: Long = -100000000L): UnigramModel =
    memo(Seq(df), (textCol, vocabSize, rounds,
        maxPieceLen, seedSize, minCount, unkMicro))(
      fit(df, textCol, vocabSize, rounds, maxPieceLen, seedSize,
        minCount, unkMicro))

  /** The trained vocabulary as a frame: (rank, piece, cnt-frozen
    * micro log-prob) ordered by score desc then piece — the committed,
    * reproducible artifact (rows-only query surface). */
  def vocabTable(spark: SparkSession, model: UnigramModel): DataFrame = {
    import spark.implicits._
    model.pieces.zip(model.scoresMicro).toSeq
      .sortBy { case (p, m) => (-m, p) }
      .zipWithIndex
      .map { case ((p, m), i) => (i + 1L, p, m) }
      .toDF("rank", "piece", "score_micro")
  }

  /** Tokenizer-efficiency census per (source, lang) with the TRAINED
    * UNIGRAM LANE beside the two static lanes — the
    * [[Vocab.fertilityState]] shape extended so the tokenizer-family
    * comparison (chars-per-ws-token vs chars-per-lex-token vs
    * chars-per-unigram-piece, plus pieces-per-word fertility) reads per
    * language slice off ONE report. ADDITIVE MONOID given the frozen
    * model (piece counts are deterministic per word), so the streaming
    * loop maintains it like every other census
    * ([[tokenizerFertilityCensus]]). The model is FROZEN: the caller
    * trains (or loads) it once and every micro-batch prices against the
    * same piece table, so the fold equals a batch recompute. Retraining
    * the tokenizer means a new census directory, exactly like changing
    * `ngrams` on the DSIR census.
    *
    * Scale shape: the base lanes ride the scan (one map-side-combinable
    * groupBy); the unigram lane explodes tokens to a (source, lang,
    * word, tf) census and pays the Viterbi decode once per DISTINCT
    * word, broadcast-joining the price back (the [[encodeStats]] /
    * docSurprisal shape) — the decode cost is vocabulary-scale, never
    * corpus-scale. Census cells: (source, lang, n_docs, ws_tokens,
    * lex_tokens, n_chars, uni_words, uni_chars, uni_pieces). */
  def fertilityCensus(df: DataFrame, textCol: String, sourceCol: String,
                      langCol: String, model: UnigramModel): DataFrame = {
    val base = Vocab.fertilityState(df, textCol, sourceCol, langCol)
    val toks = filter(
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))),
      t => length(t) > 0)
    val tf = df.filter(col(sourceCol).isNotNull && col(langCol).isNotNull &&
        col(textCol).isNotNull)
      .select(col(sourceCol).as("source"), col(langCol).as("lang"),
        explode(toks).as("w"))
      .groupBy(col("source"), col("lang"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val priced = tf.select(col("w")).distinct()
      .select(col("w"),
        UnigramSegmentExpr.segmentCountCol(col("w"), model)
          .cast("long").as("__n_sym"),
        length(col("w")).cast("long").as("__n_ch"))
    val uni = tf.join(priced, Seq("w"))
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("tf")).cast("long").as("uni_words"),
        sum(col("tf") * col("__n_ch")).cast("long").as("uni_chars"),
        sum(col("tf") * col("__n_sym")).cast("long").as("uni_pieces"))
    base.join(uni, Seq("source", "lang"), "left_outer")
      .select(col("source"), col("lang"), col("n_docs"), col("ws_tokens"),
        col("lex_tokens"), col("n_chars"),
        coalesce(col("uni_words"), lit(0L)).as("uni_words"),
        coalesce(col("uni_chars"), lit(0L)).as("uni_chars"),
        coalesce(col("uni_pieces"), lit(0L)).as("uni_pieces"))
  }

  /** [[fertilityCensus]]'s census shape: [[Vocab.fertilityCensus]] plus
    * the unigram lane. */
  val tokenizerFertilityCensus: Census = Vocab.fertilityCensus.copy(values =
    Vocab.fertilityCensus.values ++ Seq("uni_words", "uni_chars", "uni_pieces"))

  /** Fertility report from a [[fertilityCensus]] (possibly folded
    * across micro-batches — cells re-summed first so a fold is safe):
    * the [[Vocab.fertilityFromCounts]] ratios plus the unigram lane's
    * chars-per-piece and pieces-per-word, each frozen by one exact
    * integer floor-division (milli; ppm for the fertilities). */
  def fertilityFromCensus(census: DataFrame): DataFrame = {
    def ratioMilli(num: Column, den: Column): Column =
      when(den > 0,
        floor(num.cast("decimal(38,0)") * 1000 / den).cast("long"))
        .otherwise(lit(null).cast("long"))
    def ratioPpm(num: Column, den: Column): Column =
      when(den > 0,
        floor(num.cast("decimal(38,0)") * 1000000 / den).cast("long"))
        .otherwise(lit(null).cast("long"))
    census.groupBy(col("source"), col("lang"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("ws_tokens")).cast("long").as("ws_tokens"),
        sum(col("lex_tokens")).cast("long").as("lex_tokens"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        sum(col("uni_words")).cast("long").as("uni_words"),
        sum(col("uni_chars")).cast("long").as("uni_chars"),
        sum(col("uni_pieces")).cast("long").as("uni_pieces"))
      .select(col("source"), col("lang"), col("n_docs"), col("ws_tokens"),
        col("lex_tokens"), col("n_chars"), col("uni_words"),
        col("uni_chars"), col("uni_pieces"),
        ratioMilli(col("n_chars"), col("ws_tokens"))
          .as("chars_per_ws_token_milli"),
        ratioMilli(col("n_chars"), col("lex_tokens"))
          .as("chars_per_lex_token_milli"),
        ratioPpm(col("lex_tokens"), col("ws_tokens")).as("lex_per_ws_ppm"),
        ratioMilli(col("uni_chars"), col("uni_pieces"))
          .as("chars_per_piece_milli"),
        ratioPpm(col("uni_pieces"), col("uni_words"))
          .as("pieces_per_word_ppm"))
  }

  /** [[fertilityFromCensus]] ∘ [[fertilityCensus]] — the one-shot
    * tokenizer-fertility report (the q_token_fertility twin with the
    * trained lane). */
  def tokenizerFertility(df: DataFrame, textCol: String, sourceCol: String,
                         langCol: String, model: UnigramModel): DataFrame =
    fertilityFromCensus(fertilityCensus(df, textCol, sourceCol, langCol, model))

  /** Corpus ENCODING statistics under a trained model — the
    * [[Bpe.encodeStats]] twin, so the two tokenizer families price the
    * same corpus on the same columns: (doc_id, n_words, n_chars_tok,
    * n_pieces, chars_per_token). The chained decode is paid once per
    * DISTINCT word, never per occurrence (the docSurprisal price-join
    * shape). */
  def encodeStats(df: DataFrame, idCol: String, textCol: String,
                  model: UnigramModel): DataFrame = {
    val toks = filter(
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))),
      t => length(t) > 0)
    val tf = df.select(col(idCol).as("doc_id"), explode(toks).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val enc = tf.select(col("w")).distinct()
      .select(col("w"),
        UnigramSegmentExpr.segmentCountCol(col("w"), model)
          .cast("long").as("n_sym"),
        length(col("w")).cast("long").as("n_ch"))
    tf.join(enc, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_words"),
        sum(col("tf") * col("n_ch")).as("n_chars_tok"),
        sum(col("tf") * col("n_sym")).as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_chars_tok"),
        col("n_pieces"),
        (col("n_chars_tok").cast("double") / col("n_pieces").cast("double"))
          .as("chars_per_token"))
  }
}
