package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.streaming.Census

/** Text-analysis operators for training-data pipelines (SURVEY.md §2
  * #27-#30): language-ID heuristic, quality scoring, token counting,
  * document fingerprinting. All pure `Column` combinators over codegen'd
  * built-ins — each query is one parquet scan with no shuffle at all, so
  * they stream at I/O speed over 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens (the corpus is single-space normalized). */
  def tokens(text: Column): Column = split(text, " ")

  /** `size(split(text, " "))` without materializing the token array —
    * one codegen'd byte walk ([[graft.functions.TokenCountExprs]]). */
  def wsTokenCount(text: Column): Column =
    graft.functions.TokenCountExprs.wsFieldCountCol(text)

  /** BPE-ish lexer token count: runs of letters, runs of digits, or single
    * other non-space chars — the pre-tokenization split BPE vocabularies
    * are trained over. Native one-pass counter, result-identical to
    * `regexp_count(text, "[a-z]+|[0-9]+|[^a-z0-9 ]")` without the regex
    * engine ([[graft.functions.TokenCountExprs]]). */
  def regexTokenCount(text: Column): Column =
    graft.functions.TokenCountExprs.lexTokenCountCol(text)

  /** Sentence count for readability scoring: terminal-punctuation runs
    * ([.!?]+), floored at 1 so sentence-less text scores as one long
    * sentence instead of dividing by zero. */
  def sentenceCount(text: Column): Column =
    greatest(regexp_count(text, lit("[.!?]+")), lit(1))

  /** Syllable proxy for readability scoring: vowel GROUPS per text
    * (maximal [aeiou]+ runs over the lowercased text) — the standard
    * cheap stand-in where a hyphenation dictionary is overkill. */
  def syllableProxy(text: Column): Column =
    regexp_count(lower(text), lit("[aeiou]+"))

  /** Flesch reading-ease under the proxies above:
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    * All three counts are exact integers, so the score is a fixed
    * dependency tree of IEEE operations on bit-identical operands —
    * deterministic cross-engine as long as the oracle writes the SAME
    * expression shape (left-to-right subtraction, each ratio one
    * division). */
  def fleschScore(text: Column): Column = {
    val words = wsTokenCount(text).cast("double")
    lit(206.835) -
      lit(1.015) * (words / sentenceCount(text).cast("double")) -
      lit(84.6) * (syllableProxy(text).cast("double") / words)
  }

  def stopwordCount(text: Column, stops: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(stops.map(s => s: Any): _*)))

  def stopwordRatio(text: Column, stops: Seq[String]): Column =
    stopwordCount(text, stops).cast("double") / wsTokenCount(text).cast("double")

  /** Vowel density — a cheap character-distribution feature. */
  def vowelRatio(text: Column): Column =
    regexp_count(text, lit("[aeiou]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Heuristic quality score in [0,1]: length saturation + stopword
    * presence + mean-token-length sanity band, equally weighted. */
  def qualityScore(text: Column, stops: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val stopScore = least(stopwordRatio(text, stops) * 10.0, lit(1.0))
    val meanTok = length(text).cast("double") / greatest(wsTokenCount(text), lit(1)).cast("double")
    val tokScore = when(meanTok >= 3.0 && meanTok <= 10.0, 1.0).otherwise(0.5)
    (lenScore + stopScore + tokScore) / 3.0
  }

  /** Stopword-marker language ID: score = English-marker hit ratio;
    * classify en / und on a threshold. Deterministic and engine-portable;
    * a production lexicon just widens `stops`. */
  def langIdScore(text: Column): Column =
    stopwordRatio(text, Seq("the", "a", "of", "and", "is"))

  def langIdPrediction(text: Column, threshold: Double = 0.02): Column =
    when(langIdScore(text) >= threshold, "en").otherwise("und")

  /** Single-space-collapsed, lower-cased, trimmed canonical form. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), " +", " "))

  /** Whole-document fingerprint over the canonical form. */
  def docFingerprint(text: Column): Column = md5(normalized(text))

  /** Prefix-shingle fingerprint: hash of the first `n` tokens — a cheap
    * "rolling" handle for clustering truncated/extended variants. */
  def prefixFingerprint(text: Column, n: Int = 5): Column =
    md5(concat_ws(" ", slice(tokens(normalized(text)), 1, n)))

  /** Overlapping character chunks for RAG/embedding pipelines — the
    * reference chunks its corpus at size 500 / overlap 50 before embedding
    * (reference: tools/rag_tool.py:38). Chunk i covers
    * [i·(size-overlap), i·(size-overlap)+size); the last start is always
    * < length. Declarative (sequence+transform) → chunking 100 TB is a
    * shuffle-free scan. */
  def chunk(text: Column, size: Int = 500, overlap: Int = 50): Column = {
    require(size > overlap, "size must exceed overlap")
    val stride = size - overlap
    // Empty/null text → no chunks (unguarded, sequence(0, -1) would
    // descend and emit two spurious empty chunks).
    when(length(text) >= 1,
      transform(
        sequence(lit(0), floor((length(text) - 1) / stride).cast("long")),
        i => text.substr((i * stride + 1).cast("int"), lit(size))))
      .otherwise(array().cast("array<string>"))
  }

  /** Term-frequency keyword relevance: Σ weight(term) · tf(term) over
    * whitespace tokens (the deterministic core of the reference's search
    * tooling). */
  def keywordScore(text: Column, weightedTerms: Seq[(String, Double)]): Column = {
    require(weightedTerms.nonEmpty,
      "keywordScore needs at least one weighted term")
    weightedTerms.map { case (term, w) =>
      size(filter(tokens(text), t => t === term)).cast("double") * w
    }.reduce(_ + _)
  }

  // --- repetition signals (Gopher-style quality rules) -------------------

  /** Non-blank lines of a (possibly multi-line) document. */
  def nonBlankLines(text: Column): Column =
    filter(split(text, "\n"), l => trim(l) =!= lit(""))

  /** WITHIN-document line dedup: keep each line's FIRST occurrence,
    * preserving order (the C4 in-page pass — repeated nav blocks and
    * chorus-style boilerplate inside one document; the cross-corpus
    * twin is [[Dedup.dropCommonLines]]). A pure per-row array pipeline:
    * filter-with-index keeps line i iff its first position is i — no
    * shuffle, rides the scan. */
  def dedupLinesWithin(text: Column): Column = {
    val lines = split(text, "\n")
    array_join(
      filter(lines, (l, i) => array_position(lines, l) === (i + lit(1))),
      "\n")
  }

  /** Duplicate-line fraction: 1 − distinct/total over non-blank lines
    * (0 for line-less docs) — the Gopher "duplicate line fraction" rule.
    * Per-row array ops, no shuffle. */
  def dupLineFrac(text: Column): Column = {
    val ls = nonBlankLines(text)
    when(size(ls) > 0,
      lit(1.0) - size(array_distinct(ls)).cast("double") / size(ls).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Duplicate word-n-gram fraction: 1 − distinct n-grams / total n-grams
    * over whitespace tokens (0 when the doc has fewer than n tokens) —
    * the Gopher "duplicate n-gram fraction" family. Distinct n-grams come
    * from the native one-pass [[graft.functions.ShinglesExpr]] (codegen'd;
    * total n-gram count is just arithmetic on the token count). */
  def dupNgramFrac(text: Column, n: Int): Column = {
    require(n > 0, "n must be positive")
    val toks = tokens(text)
    val total = greatest(size(toks) - (n - 1), lit(0))
    when(total > 0,
      lit(1.0) - size(graft.functions.ShinglesExpr.wordShingles(toks, n)).cast("double") /
        total.cast("double"))
      .otherwise(lit(0.0))
  }

  // --- PII scrubbing ------------------------------------------------------

  /** Email matcher. Deliberately backslash-free (char classes only) so the
    * exact same pattern string runs identically under Java regex (Spark)
    * and RE2 (DuckDB oracle) and survives JSON transport unescaped.
    * Case-insensitivity is spelled as explicit A-Z ranges rather than a
    * (?i) flag or \\w class for the same portability reason — scrubPii runs
    * on RAW text, so 'User@Example.COM' must redact without a lowercase
    * precondition. */
  val EmailRe: String = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"

  /** NNN-NNN-NNNN phone matcher (same backslash-free portability rule). */
  val PhoneRe: String = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailRe))

  def phoneCount(text: Column): Column = regexp_count(text, lit(PhoneRe))

  /** Redact emails then phones with typed placeholders — the standard
    * pre-training scrub pass. Global replace on both engines (Spark
    * regexp_replace is global; the oracle passes the 'g' flag). */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, lit(EmailRe), lit("<EMAIL>")),
      lit(PhoneRe), lit("<PHONE>"))

  /** Additive (source, n_docs, n_emails, n_phones, n_dirty) PII census —
    * the leak-rate monitor's state: total match counts per matcher plus
    * the count of documents carrying ANY match (the scrub workload).
    * All per-row regexp counting rides the scan (codegen'd, zero
    * shuffle); the aggregate is map-side combinable to sources × 1
    * rows. The monitor family's shared convention (gopher/c4/pii):
    * NULL sources are excluded (unattributable rows can't page a
    * source owner) AND NULL texts are excluded (a scoreless doc in
    * n_docs would dilute every rate without representing scrub work). */
  def piiRateState(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val e = emailCount(col(textCol)).cast("long")
    val p = phoneCount(col(textCol)).cast("long")
    df.filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .select(col(sourceCol).as("source"), e.as("__e"), p.as("__p"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__e")).as("n_emails"),
        sum(col("__p")).as("n_phones"),
        sum(when(col("__e") > 0L || col("__p") > 0L, 1L).otherwise(0L))
          .as("n_dirty"))
  }

  /** [[piiRateState]]'s census shape. */
  val piiRateCensus: Census =
    Census(Seq("source"), Seq("n_docs", "n_emails", "n_phones", "n_dirty"))

  /** The PII leak-rate report over an already-built census — the direct
    * entry point for counts folded from maintained state
    * ([[piiRateCensus]] folds). dirty_rate is ONE
    * IEEE division of exact longs, so the report is oracle-exact. */
  def piiRateFromCounts(counts: DataFrame): DataFrame =
    counts.select(col("source"), col("n_docs"), col("n_emails"),
      col("n_phones"), col("n_dirty"),
      (col("n_dirty").cast("double") / col("n_docs").cast("double"))
        .as("dirty_rate"))

  /** Per-source PII LEAK RATE — the scrub-pipeline health monitor
    * ([[scrubPii]]'s upstream read): which sources are leaking
    * emails/phones, at what per-doc density, and how much of the corpus
    * the scrub pass will touch. A source whose dirty_rate climbs
    * round-over-round is rotting upstream of redaction — the same
    * census-monitor role as [[gopherRateFromCounts]], on the PII axis. */
  def piiRate(df: DataFrame, sourceCol: String, textCol: String): DataFrame =
    piiRateFromCounts(piiRateState(df, sourceCol, textCol))

  // --- C4 cleaning-rule bundle (Raffel et al. 2020 §2.2) -------------------

  /** The C4 line/page signals for a multi-line text column — the OTHER
    * canonical web-cleaning recipe next to the Gopher bundle: a line is
    * KEPT iff it ends in terminal punctuation (. ! ? "), carries at
    * least 3 words, and does not mention javascript; the page VERDICT
    * additionally requires ≥ `minSentences` kept lines and bans the
    * lorem-ipsum placeholder and curly braces anywhere on the page
    * (the paper's code-artifact tells). `keptText` is the actual
    * transform output (the filtered page) — its fingerprint is the
    * strongest oracle signal. Every rule is per-row array/string
    * arithmetic riding the scan; the fraction is ONE IEEE division of
    * exact ints. */
  final case class C4Signals(nLines: Column, nKept: Column, keptFrac: Column,
                             hasLorem: Column, hasBrace: Column,
                             pass: Column, keptText: Column)

  def c4Signals(text: Column, minSentences: Int = 5): C4Signals = {
    val lines = nonBlankLines(text)
    val kept = filter(lines, l =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(filter(split(l, " "), w => length(w) > 0)) >= 3 &&
        !lower(l).contains("javascript"))
    val nLines = size(lines)
    val nKept = size(kept)
    val keptFrac = nKept.cast("double") /
      greatest(nLines, lit(1)).cast("double")
    val hasLorem = lower(text).contains("lorem ipsum")
    val hasBrace = text.contains("{")
    val pass = nKept >= minSentences && !hasLorem && !hasBrace
    C4Signals(nLines, nKept, keptFrac, hasLorem, hasBrace, pass,
      concat_ws("\n", kept))
  }

  // --- Gopher quality-rule bundle (Rae et al. 2021 A1.1) -------------------

  /** The Gopher quality signals for a (possibly multi-line) text column —
    * the per-doc columns q_gopher_quality reports and the pass-rate
    * census folds. Every signal is per-row array arithmetic (no shuffle);
    * every fraction ONE IEEE division of exact ints, so rule booleans
    * (comparisons of bit-identical doubles) agree cross-engine. */
  final case class GopherSignals(nWords: Column, meanWordLen: Column,
                                 symbolRatio: Column, bulletLineFrac: Column,
                                 ellipsisLineFrac: Column, alphaWordFrac: Column,
                                 stopHits: Column, pass: Column)

  def gopherSignals(text: Column, stops: Seq[String]): GopherSignals = {
    val flat = translate(text, "\n", " ")
    val toks = split(flat, " ")
    val nWords = size(toks)
    val nWordsD = nWords.cast("double")
    val sumChars = aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long"))
    val lines = nonBlankLines(text)
    val nLinesD = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
      .cast("double") / nLinesD
    val ellipsisFrac = size(filter(lines, l => l.endsWith("...")))
      .cast("double") / nLinesD
    val alphaFrac = size(filter(toks, t =>
      regexp_count(t, lit("[a-zA-Z]")) > 0)).cast("double") / nWordsD
    val meanLen = sumChars.cast("double") / nWordsD
    val symRatio = (regexp_count(flat, lit("[#]")) +
      regexp_count(flat, lit("[.][.][.]"))).cast("double") / nWordsD
    val stopHits = stops.map(w =>
      when(array_contains(toks, w), 1).otherwise(0)).reduce(_ + _)
    val pass = nWords.between(50, 100000) && meanLen.between(3.0, 10.0) &&
      symRatio <= 0.1 && bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
      alphaFrac >= 0.8 && stopHits >= 2
    GopherSignals(nWords, meanLen, symRatio, bulletFrac, ellipsisFrac,
      alphaFrac, stopHits, pass)
  }

  /** Additive (source, n_docs, n_pass) census of the Gopher verdict —
    * the quality-gate health monitor's state ([[gopherRateFromCounts]]
    * reports off it; the streaming loop maintains it as a
    * [[passRateCensus]]). Sources × 1 rows, never doc scale.
    * NULL source/text rows drop under the monitor family's shared
    * convention (see [[piiRateState]]). */
  def gopherRateState(df: DataFrame, sourceCol: String, textCol: String,
                      stops: Seq[String]): DataFrame = {
    val pass = gopherSignals(col(textCol), stops).pass
    df.filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(pass, 1L).otherwise(0L)).as("n_pass"))
  }

  /** The census shape of both quality-gate verdict states,
    * [[gopherRateState]] and [[c4RateState]]. */
  val passRateCensus: Census = Census(Seq("source"), Seq("n_docs", "n_pass"))

  /** Per-source quality-gate pass rate off an existing (source, n_docs,
    * n_pass) count table ([[gopherRateState]] or a fold of maintained
    * state) — one IEEE division of exact longs per source. A source
    * whose rate sags round-over-round is rotting upstream of dedup. */
  def gopherRateFromCounts(counts: DataFrame): DataFrame =
    counts.select(col("source"), col("n_docs"), col("n_pass"),
      (col("n_pass").cast("double") / col("n_docs").cast("double"))
        .as("pass_rate"))

  /** One-shot batch form: census + report. */
  def gopherRate(df: DataFrame, sourceCol: String, textCol: String,
                 stops: Seq[String]): DataFrame =
    gopherRateFromCounts(gopherRateState(df, sourceCol, textCol, stops))

  /** Additive (source, n_docs, n_pass) census of the C4 verdict — the
    * [[gopherRateState]] shape on the C4 axis, so the second published
    * quality gate is maintainable the same way. NULL source/text rows
    * drop under the monitor family's shared convention (see
    * [[piiRateState]]). */
  def c4RateState(df: DataFrame, sourceCol: String, textCol: String,
                  minSentences: Int = 5): DataFrame = {
    val pass = c4Signals(col(textCol), minSentences).pass
    df.filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(pass, 1L).otherwise(0L)).as("n_pass"))
  }

  /** Per-source C4 pass rate off an existing count table — one IEEE
    * division of exact longs per source. */
  def c4RateFromCounts(counts: DataFrame): DataFrame =
    counts.select(col("source"), col("n_docs"), col("n_pass"),
      (col("n_pass").cast("double") / col("n_docs").cast("double"))
        .as("pass_rate"))

  /** One-shot batch form: census + report. */
  def c4Rate(df: DataFrame, sourceCol: String, textCol: String,
             minSentences: Int = 5): DataFrame =
    c4RateFromCounts(c4RateState(df, sourceCol, textCol, minSentences))
}
