package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{UnigramModel, UnigramSegmentExpr}
import graft.operators.{Bpe, Unigram}
import graft.sources.Tables

class UnigramSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def m(pieces: (String, Long)*): UnigramModel =
    UnigramModel(pieces.toSeq)

  test("Viterbi decoder: hand-computed best paths, exact integer scoring") {
    // "abab": one "ab" piece (-1.0) beats two singles (-0.9 each)
    val m1 = m("ab" -> -1000000L, "a" -> -900000L, "b" -> -900000L)
    assert(UnigramSegmentExpr.segmentPieces("abab", m1).toSeq == Seq("ab", "ab"))
    // flip the prices: singles win
    val m2 = m("ab" -> -2000000L, "a" -> -900000L, "b" -> -900000L)
    assert(UnigramSegmentExpr.segmentPieces("ab", m2).toSeq == Seq("a", "b"))
    // mixed: best path uses both piece lengths
    val m3 = m("abc" -> -1000000L, "ab" -> -800000L, "c" -> -500000L,
      "a" -> -900000L, "b" -> -900000L)
    // "abc" one piece: -1.0; "ab"+"c": -1.3; "a"+"b"+"c": -2.3 → one piece
    assert(UnigramSegmentExpr.segmentPieces("abc", m3).toSeq == Seq("abc"))
  }

  test("Viterbi tie-break: equal totals go to the longest piece") {
    // "aa" as one piece: -1.0; as two "a": 2 × -0.5 = -1.0 — equal,
    // longest wins (the sentencepiece convention, spec-pinned)
    val tie = m("aa" -> -1000000L, "a" -> -500000L)
    assert(UnigramSegmentExpr.segmentPieces("aa", tie).toSeq == Seq("aa"))
  }

  test("Viterbi coverage: unknown characters price at the UNK floor; astral chars stay whole") {
    val mm = m("ab" -> -1000000L, "a" -> -900000L, "b" -> -900000L)
    // 'z' is not in the vocabulary — it segments as an UNK single
    assert(UnigramSegmentExpr.segmentPieces("azb", mm).toSeq == Seq("a", "z", "b"))
    // astral (surrogate-pair) code point is ONE unk piece, never split
    val astral = new String(Character.toChars(0x1F600))
    assert(UnigramSegmentExpr.segmentPieces(astral + "a", mm).toSeq
      == Seq(astral, "a"))
    // empty string → one empty piece (split(token, "") parity)
    assert(UnigramSegmentExpr.segmentPieces("", mm).toSeq == Seq(""))
  }

  test("expression twin: segment column equals the shared core; count matches size") {
    val mm = m("ab" -> -1000000L, "a" -> -900000L, "b" -> -900000L)
    val df = Seq("abab", "ba", "azb").toDF("w")
    val rows = df.select(
      UnigramSegmentExpr.segment(col("w"), mm).as("p"),
      UnigramSegmentExpr.segmentCountCol(col("w"), mm).as("c")).collect()
    rows.zip(Seq("abab", "ba", "azb")).foreach { case (r, w) =>
      val expect = UnigramSegmentExpr.segmentPieces(w, mm).toSeq
      assert(r.getSeq[String](0) == expect)
      assert(r.getInt(1) == expect.length)
    }
  }

  test("fit: hand-computed vocabulary on a controlled corpus") {
    // corpus: "ababab" ×3, "cd" ×2 — after normalization, words are
    // {ababab: 3, cd: 2}. With maxPieceLen=2 the dominant multi-char
    // seeds are "ab" (count 3 words × 3 windows... weighted 3·3=9
    // starts per word? windows of len 2 at positions 1..5: ab,ba,ab,
    // ba,ab → ab:9, ba:6 across the corpus) and "cd": 2.
    val docs = Seq("ababab", "ababab", "ababab", "cd", "cd").toDF("text")
    val model = Unigram.fit(docs, "text", vocabSize = 6, rounds = 2,
      maxPieceLen = 2, seedSize = 8, minCount = 2L)
    val vocab = model.pieces.toSet
    // singles always survive; "ab" must be in (it wins every Viterbi
    // pass over "ababab"); "ba" must be OUT (after "ab" wins, no
    // segmentation ever produces "ba", so its count hits 0 < minCount)
    assert(Set("a", "b", "c", "d", "ab", "cd").subsetOf(vocab))
    assert(!vocab.contains("ba"))
    val seg = UnigramSegmentExpr.segmentPieces("ababab", model).toSeq
    assert(seg == Seq("ab", "ab", "ab"))
    assert(UnigramSegmentExpr.segmentPieces("cd", model).toSeq == Seq("cd"))
  }

  test("fit is deterministic: same corpus, same frozen model") {
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents").limit(100)
    val a = Unigram.fit(docs, "text", vocabSize = 50, rounds = 2,
      maxPieceLen = 4, seedSize = 500)
    val b = Unigram.fit(docs, "text", vocabSize = 50, rounds = 2,
      maxPieceLen = 4, seedSize = 500)
    assert(a.pieces.toSeq == b.pieces.toSeq)
    assert(a.scoresMicro.toSeq == b.scoresMicro.toSeq)
  }

  test("fitMemo: one fit per (session, corpus, params); invalidateAll forces a refit; model identical to a direct fit") {
    SessionMemo.invalidateAll(spark)
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents").limit(100)
    val direct = Unigram.fit(docs, "text", vocabSize = 50, rounds = 2,
      maxPieceLen = 4, seedSize = 500)
    val m1 = Unigram.fitMemo(docs, "text", vocabSize = 50,
      rounds = 2, maxPieceLen = 4, seedSize = 500)
    val m2 = Unigram.fitMemo(docs, "text", vocabSize = 50,
      rounds = 2, maxPieceLen = 4, seedSize = 500)
    assert(m2 eq m1, "second call must serve the memo, not refit")
    // memoizing a bit-reproducible model changes no output
    assert(m1.pieces.toSeq == direct.pieces.toSeq)
    assert(m1.scoresMicro.toSeq == direct.scoresMicro.toSeq)
    // different params → different memo entry, not a collision
    val m3 = Unigram.fitMemo(docs, "text", vocabSize = 40,
      rounds = 2, maxPieceLen = 4, seedSize = 500)
    assert(!(m3 eq m1) && m3.pieces.length != m1.pieces.length)
    SessionMemo.invalidateAll(spark)
    val m4 = Unigram.fitMemo(docs, "text", vocabSize = 50,
      rounds = 2, maxPieceLen = 4, seedSize = 500)
    assert(!(m4 eq m1) && m4.pieces.toSeq == m1.pieces.toSeq)
    SessionMemo.invalidateAll(spark)
  }

  test("tokenizerFertility: unigram lane totals equal the per-doc encode; null dims route around; ratios are exact floors") {
    val docs = Seq(
      (1L, "web", "en", "the cat sat on the mat"),
      (2L, "web", "en", "the cat sat"),
      (3L, "web", "de", "der hund lief"),
      (4L, null, "en", "dropped by null source"),
      (5L, "web", "en", null))
      .toDF("doc_id", "source", "lang", "text")
    val model = Unigram.fit(docs.filter($"text".isNotNull), "text",
      vocabSize = 30, rounds = 1, maxPieceLen = 3, seedSize = 100)
    val rep = Unigram.tokenizerFertility(docs, "text", "source", "lang", model)
      .orderBy($"source", $"lang").collect()
    assert(rep.length == 2) // (web,de) and (web,en); null dims dropped
    val en = rep.find(r => r.getString(1) == "en").get
    assert(en.getAs[Long]("n_docs") == 2L)
    // the lane totals equal the per-doc encode over the same slice
    val enc = Unigram.encodeStats(
        docs.filter($"source".isNotNull && $"lang".isNotNull && $"text".isNotNull)
          .filter($"lang" === "en"),
        "doc_id", "text", model)
      .agg(sum($"n_words"), sum($"n_chars_tok"), sum($"n_pieces")).head()
    assert(en.getAs[Long]("uni_words") == enc.getLong(0))
    assert(en.getAs[Long]("uni_chars") == enc.getLong(1))
    assert(en.getAs[Long]("uni_pieces") == enc.getLong(2))
    // ratio freeze: one exact integer floor-division each
    assert(en.getAs[Long]("chars_per_piece_milli")
      == en.getAs[Long]("uni_chars") * 1000L / en.getAs[Long]("uni_pieces"))
    assert(en.getAs[Long]("pieces_per_word_ppm")
      == en.getAs[Long]("uni_pieces") * 1000000L / en.getAs[Long]("uni_words"))
    // census additivity: cells folded across two halves re-sum to the
    // one-shot report (the maintained-state contract)
    val c1 = Unigram.fertilityCensus(docs.filter($"doc_id" <= 2), "text",
      "source", "lang", model)
    val c2 = Unigram.fertilityCensus(docs.filter($"doc_id" > 2), "text",
      "source", "lang", model)
    val folded = Unigram.fertilityFromCensus(c1.unionByName(c2))
      .orderBy($"source", $"lang").collect().map(_.toSeq).toSeq
    assert(folded == rep.map(_.toSeq).toSeq)
  }

  test("maintainTokenizerFertilityState: streamed fold equals the batch report; unigram lane rides the census") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = Seq(
      (1L, "web", "en", "the cat sat on the mat"),
      (2L, "web", "en", "the cat sat"),
      (3L, "wiki", "de", "der hund lief heute"))
    val model = Unigram.fit(all.toDF("doc_id", "source", "lang", "text"),
      "text", vocabSize = 30, rounds = 1, maxPieceLen = 3, seedSize = 100)
    val src = MemoryStream[(Long, String, String, String)]
    val stateDir = TestSpark.tempDir("graft-tokf").toString
    val ckpt = TestSpark.tempDir("graft-tokf-ck").toString
    val q = graft.streaming.EventStream.maintainCensusState(
      src.toDS().toDF("doc_id", "source", "lang", "text"), stateDir, ckpt,
      Unigram.tokenizerFertilityCensus,
      b => Unigram.fertilityCensus(b, "text", "source", "lang", model))
    try {
      src.addData(all.take(2): _*); q.processAllAvailable()
      src.addData(all.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val maintained = Unigram.fertilityFromCensus(graft.streaming.EventStream
        .readCensusState(spark, stateDir, Unigram.tokenizerFertilityCensus))
      .orderBy($"source", $"lang").collect().map(_.toSeq).toSeq
    val recomputed = Unigram.tokenizerFertility(
        all.toDF("doc_id", "source", "lang", "text"),
        "text", "source", "lang", model)
      .orderBy($"source", $"lang").collect().map(_.toSeq).toSeq
    assert(maintained == recomputed)
  }

  test("encodeStats: compression beats character-level; fertility comparable to BPE") {
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val model = Unigram.fit(docs, "text", vocabSize = 200, rounds = 2,
      maxPieceLen = 5, seedSize = 2000)
    val uni = Unigram.encodeStats(docs, "doc_id", "text", model)
      .agg(sum("n_chars_tok"), sum("n_pieces")).head()
    val (uc, up) = (uni.getLong(0), uni.getLong(1))
    // multi-char pieces fire: strictly better than 1 char/token
    assert(uc.toDouble / up.toDouble > 1.02, s"chars/piece ${uc.toDouble / up}")
    // the q_token_fertility-style comparison row vs the BPE lane: a
    // 200-piece unigram vocabulary must not be drastically MORE fertile
    // than the 30-merge BPE baseline on the same corpus
    val bpe = Bpe.encodeStats(docs, "doc_id", "text",
        Bpe.fit(docs, "text", numMerges = 30))
      .agg(sum("n_bpe_tokens")).head().getLong(0)
    val ratio = bpe.toDouble / up.toDouble
    assert(ratio >= 0.8, s"unigram fertility ratio vs BPE: $ratio")
    // per-doc frame shape matches the BPE twin (same comparison columns)
    val cols = Unigram.encodeStats(docs.limit(5), "doc_id", "text", model).columns.toSeq
    assert(cols == Seq("doc_id", "n_words", "n_chars_tok", "n_pieces",
      "chars_per_token"))
  }
}
