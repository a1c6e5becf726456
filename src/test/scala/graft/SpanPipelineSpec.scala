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

    val memoStats = SpanPipeline.spanDedupStats(docs, "doc_id", "text", k = 6)
    val dirStats = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 6)
    assert(memoStats.schema == dirStats.schema)
    assert(rowsOf(memoStats) == rowsOf(dirStats))
    assert(memoStats.count() > 0)

    val memoStrike = SpanPipeline.strike(docs, "doc_id", "text", k = 6)
    val dirStrike = Dedup.strikeDuplicatedSpans(docs, "doc_id", "text", k = 6)
    assert(memoStrike.schema == dirStrike.schema)
    assert(rowsOf(memoStrike) == rowsOf(dirStrike))
    SessionMemo.invalidateAll(spark)
  }

  test("a frame over other data gets its own census; each frame's census is served again") {
    val a = Seq(
      (1L, "one two three four five six seven"),
      (2L, "one two three four five six eight"), // shares the 6-span at pos 1
      (3L, "totally different words appear in this one")).toDF("doc_id", "text")
    val b = Seq((9L, "nine distinct words that never repeat anywhere at all"))
      .toDF("doc_id", "text")
    def census(df: org.apache.spark.sql.DataFrame) =
      SpanPipeline.censusTable(df, "doc_id", "text", 6).inputFiles.toSeq
    SessionMemo.invalidateAll(spark)
    val fromA = rowsOf(SpanPipeline.spanDedupStats(a, "doc_id", "text", 6))
    assert(fromA.nonEmpty)
    // different data = a fresh build
    val fromB = rowsOf(SpanPipeline.spanDedupStats(b, "doc_id", "text", 6))
    assert(fromB != fromA)
    assert(census(b) != census(a))
    // the first frame's entry is untouched by the second build
    assert(rowsOf(SpanPipeline.spanDedupStats(a, "doc_id", "text", 6)) == fromA)
    SessionMemo.invalidateAll(spark)
  }

  test("strike keeps sub-k and no-dup docs whole; fully-struck docs drop") {
    // doc 1/2 duplicate their whole 6-token text -> fully struck; doc 3
    // short (< k tokens) keeps everything; doc 4 unique keeps everything.
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "tiny doc"), (4L, "u v w x y z q")).toDF("doc_id", "text")
    SessionMemo.invalidateAll(spark)
    val out = SpanPipeline.strike(docs, "doc_id", "text", 6)
      .orderBy($"doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(3L, 4L))
    assert(out(0).getAs[String]("text_out") == "tiny doc")
    assert(out(1).getAs[Long]("n_kept") == 7L)
    SessionMemo.invalidateAll(spark)
  }
}
