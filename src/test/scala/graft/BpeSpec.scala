package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pairStats counts corpus-weighted adjacent pairs and token types") {
    // "aaab" appears 3x (one doc has it twice), "ab" 2x; the tail doc is
    // null text (must drop, not crash).
    val df = Seq(
      (1L, "aaab ab"),
      (2L, "aaab  aaab"), // double space: normalization collapses it
      (3L, "ab"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val rows = Bpe.pairStats(df, "text").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // (a,a): 2 positions in "aaab" x3 occurrences = 6, in 1 token type.
    assert(rows(("a", "a")) == (6L, 1L))
    // (a,b): 1 position in "aaab" x3 + 1 in "ab" x2 = 5, 2 token types.
    assert(rows(("a", "b")) == (5L, 2L))
    assert(rows.size == 2)
  }

  test("mergeAdjacent is greedy left-to-right, non-overlapping") {
    val df = Seq("aaaa", "aaa", "ab", "a", "").toDF("t")
    val out = df.select(Bpe.mergeAdjacent(split($"t", ""), "a", "a").as("m"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("aa", "aa"))
    assert(out(1) == Seq("aa", "a"))
    assert(out(2) == Seq("a", "b"))
    assert(out(3) == Seq("a"))
    assert(out(4) == Seq(""))  // split("") of "" yields one empty symbol
  }

  test("fit learns deterministic merges; segment applies them in order") {
    // Hand-computed: pair counts start (a,a)=6, (a,b)=5 -> merge (a,a).
    // Then "aaab"=[aa,a,b] x3, "ab"=[a,b] x2: (aa,a)=3, (a,b)=5 -> merge
    // (a,b). Then "aaab"=[aa,ab] x3, "ab"=[ab] x2: (aa,ab)=3 -> merge.
    val df = Seq((1L, "aaab ab"), (2L, "aaab aaab"), (3L, "ab"))
      .toDF("doc_id", "text")
    val rules = Bpe.fit(df, "text", numMerges = 5)
    assert(rules == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    // Early stop: only 3 learnable merges exist at minPairCount=2.
    val seg = Seq("aaab", "ab", "aab", "ba").toDF("t")
      .select(Bpe.segment($"t", rules).as("s")).as[Seq[String]].collect()
    assert(seg(0) == Seq("aaab"))      // full merge chain
    assert(seg(1) == Seq("ab"))
    assert(seg(2) == Seq("aa", "b"))   // (a,a) then no (a,b) adjacency left
    assert(seg(3) == Seq("b", "a"))    // no rule fires
  }

  test("fit releases every checkpoint block: no persisted-RDD growth across fits") {
    val sc = spark.sparkContext
    val df = Seq((1L, "aaab ab"), (2L, "aaab aaab"), (3L, "ab"))
      .toDF("doc_id", "text")
    Bpe.fit(df, "text", numMerges = 5) // settle lazy one-time persists
    val before = sc.getPersistentRDDs.keySet
    // 8 jobs; the lazy localCheckpoint rounds this loop used before
    // its tables were pinned started 9. A pin adds no job.
    val jobs = JobLog.startedBy(spark) { Bpe.fit(df, "text", numMerges = 5) }
    assert(jobs.size <= 9, s"${jobs.size} jobs")
    // A round that did not release its predecessor would LEAK one
    // vocab-scale block set per merge round — growth here is the
    // regression signal.
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"fit leaked checkpoint RDDs: ${sc.getPersistentRDDs.keySet -- before}")
  }

  test("fit on degenerate corpora: empty, all single-char tokens") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Bpe.fit(empty, "text", numMerges = 3).isEmpty)
    val single = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    assert(Bpe.fit(single, "text", numMerges = 3).isEmpty)
  }

  test("segmentCount: native loop equals size(segment) under any rule chain") {
    // Rules engineered for the edge shapes: repeated-symbol greed (a,a),
    // merged-symbol-as-left chaining (aa,b), and a rule that never fires.
    val rules = Seq(("a", "a"), ("a", "b"), ("aa", "ab"), ("x", "y"))
    // The astral fixtures pin CODE-POINT splitting: split(token, "")
    // keeps a surrogate pair whole, so "𝄞" is ONE symbol (a UTF-16
    // code-unit walk would count two and break n_bpe <= n_chars).
    val toks = Seq("aaab", "ab", "aab", "ba", "aaaa", "aaaaa", "abab",
      "xyxy", "a", "b", "zzz", "axbya", "𝄞", "a𝄞b",
      "héλλo")
    val df = toks.toDF("t").select(
      graft.functions.BpeSegmentCountExpr.segmentCount($"t", rules).as("native"),
      size(Bpe.segment($"t", rules)).as("decl"), $"t")
    df.collect().foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"mismatch on '${r.getString(2)}'")
    }
    // null token propagates null
    val n = Seq(null.asInstanceOf[String]).toDF("t")
      .select(graft.functions.BpeSegmentCountExpr.segmentCount($"t", rules)).head()
    assert(n.isNullAt(0))
  }

  test("encodeStats: per-word pricing equals direct per-doc segmentation; invariants") {
    val df = Seq((1L, "aaab ab ab"), (2L, "aaab aaab ba"), (3L, "ab"))
      .toDF("doc_id", "text")
    val rules = Bpe.fit(df, "text", numMerges = 5)
    val out = Bpe.encodeStats(df, "doc_id", "text", rules)
      .orderBy($"doc_id").collect()
    assert(out.length == 3)
    // doc 1: "aaab"->1 sym, "ab"->1, "ab"->1 => 3 bpe tokens, 8 chars
    assert(out(0).getAs[Long]("n_words") == 3L)
    assert(out(0).getAs[Long]("n_chars_tok") == 8L)
    assert(out(0).getAs[Long]("n_bpe_tokens") == 3L)
    assert(out(0).getAs[Double]("chars_per_token") == 8.0 / 3.0)
    // doc 2: aaab aaab ba -> 1 + 1 + 2 ("ba" unmergeable) = 4
    assert(out(1).getAs[Long]("n_bpe_tokens") == 4L)
    // invariants everywhere: n_words <= n_bpe_tokens <= n_chars_tok
    out.foreach { r =>
      assert(r.getAs[Long]("n_words") <= r.getAs[Long]("n_bpe_tokens"))
      assert(r.getAs[Long]("n_bpe_tokens") <= r.getAs[Long]("n_chars_tok"))
    }
    // zero rules: every char is a token
    val zero = Bpe.encodeStats(df, "doc_id", "text", Nil).orderBy($"doc_id").collect()
    zero.foreach { r =>
      assert(r.getAs[Long]("n_bpe_tokens") == r.getAs[Long]("n_chars_tok"))
    }
  }
}
