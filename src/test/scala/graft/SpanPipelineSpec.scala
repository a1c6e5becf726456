package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, SpanPipeline}
import graft.sources.Tables

class SpanPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("memoized census/strike are output-identical to the direct operators") {
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    SessionMemo.invalidateAll(spark)

    val memoStats = SpanPipeline.spanDedupStats(docs, "span-spec", "doc_id", "text", k = 6)
    val dirStats = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 6)
    assert(memoStats.schema == dirStats.schema)
    assert(rowsOf(memoStats) == rowsOf(dirStats))
    assert(memoStats.count() > 0)

    val memoStrike = SpanPipeline.strike(docs, "span-spec", "doc_id", "text", k = 6)
    val dirStrike = Dedup.strikeDuplicatedSpans(docs, "doc_id", "text", k = 6)
    assert(memoStrike.schema == dirStrike.schema)
    assert(rowsOf(memoStrike) == rowsOf(dirStrike))
    SessionMemo.invalidateAll(spark)
  }

  test("memo staleness contract: stale until invalidated, keys isolated") {
    val a = Seq(
      (1L, "one two three four five six seven"),
      (2L, "one two three four five six eight"), // shares the 6-span at pos 1
      (3L, "totally different words appear in this one")).toDF("doc_id", "text")
    val b = Seq((9L, "nine distinct words that never repeat anywhere at all"))
      .toDF("doc_id", "text")
    SessionMemo.invalidate(spark, "span-memo")
    val fromA = rowsOf(SpanPipeline.spanDedupStats(a, "span-memo", "doc_id", "text", 6))
    assert(fromA.nonEmpty)
    // same key + different data = stale by contract
    assert(rowsOf(SpanPipeline.spanDedupStats(b, "span-memo", "doc_id", "text", 6)) == fromA)
    SessionMemo.invalidate(spark, "span-memo")
    val fromB = rowsOf(SpanPipeline.spanDedupStats(b, "span-memo", "doc_id", "text", 6))
    assert(fromB != fromA)
    // other keys untouched by the rebuild
    assert(rowsOf(SpanPipeline.spanDedupStats(a, "span-other", "doc_id", "text", 6)) == fromA)
    SessionMemo.invalidateAll(spark)
  }

  test("strike keeps sub-k and no-dup docs whole; fully-struck docs drop") {
    // doc 1/2 duplicate their whole 6-token text -> fully struck; doc 3
    // short (< k tokens) keeps everything; doc 4 unique keeps everything.
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "tiny doc"), (4L, "u v w x y z q")).toDF("doc_id", "text")
    SessionMemo.invalidate(spark, "strike-edge")
    val out = SpanPipeline.strike(docs, "strike-edge", "doc_id", "text", 6)
      .orderBy($"doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(3L, 4L))
    assert(out(0).getAs[String]("text_out") == "tiny doc")
    assert(out(1).getAs[Long]("n_kept") == 7L)
    SessionMemo.invalidateAll(spark)
  }
}
