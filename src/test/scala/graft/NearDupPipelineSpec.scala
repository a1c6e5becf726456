package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, NearDupPipeline}
import graft.queries.TextQueries

class NearDupPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val p = NearDupPipeline.Params("doc_id", "text",
    n = 3, dfCap = 10000, minJaccard = 0.5, minContainment = 0.8)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("memoized jaccard/containment pairs are output-identical to the direct operators") {
    val corpus = TextQueries.dupCorpus(spark, TestSpark.Sf0001)
    SessionMemo.invalidateAll(spark)

    val memoJ = NearDupPipeline.jaccardPairs(corpus, p)
    val dirJ = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5, 10000)
    assert(memoJ.schema == dirJ.schema) // same columns, order, types
    assert(rowsOf(memoJ) == rowsOf(dirJ))

    val memoC = NearDupPipeline.containmentPairs(corpus, p)
    val dirC = Dedup.containmentPairs(corpus, "doc_id", "text", 3, 0.8, 10000)
    assert(memoC.schema == dirC.schema)
    assert(rowsOf(memoC) == rowsOf(dirC))
    SessionMemo.invalidateAll(spark)
  }

  test("a frame over other data gets its own table; each frame's table is served again") {
    val a = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words entirely here now")).toDF("doc_id", "text")
    def b = Seq(
      (1L, "one two three four five six"),
      (9L, "unrelated content in the second corpus")).toDF("doc_id", "text")
    SessionMemo.invalidateAll(spark)

    val tableA = NearDupPipeline.pairsTable(a, p).inputFiles.toSeq
    val fromA = rowsOf(NearDupPipeline.jaccardPairs(a, p))
    assert(fromA.nonEmpty) // 1-2 duplicate pair present
    // Different data: a fresh build, never the first frame's table.
    val fromB = rowsOf(NearDupPipeline.jaccardPairs(b, p))
    assert(fromB.isEmpty)
    // An independently built equal frame is served b's table, and a's
    // table is still a's: entries are isolated.
    assert(NearDupPipeline.pairsTable(b, p).inputFiles.toSeq != tableA)
    assert(NearDupPipeline.pairsTable(a, p).inputFiles.toSeq == tableA)
    assert(rowsOf(NearDupPipeline.jaccardPairs(a, p)) == fromA)
    SessionMemo.invalidateAll(spark)
  }

  test("a request below the stored floors rebuilds instead of silently narrowing") {
    // docs 1-2: 8 shingles each, 5 shared ("a b c".."e f g") →
    // jaccard 5/11 ≈ 0.4545 (in [0.4, 0.5)), containment 5/8 = 0.625
    // (< 0.8) — below BOTH family floors, above both lowered ones.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g x y z"),
      (3L, "q r s t u v w")).toDF("doc_id", "text")
    SessionMemo.invalidateAll(spark)
    // Build at the family floors: the 0.43 pair is BELOW them and not in
    // the materialized table.
    assert(NearDupPipeline.jaccardPairs(docs, p).count() == 0)
    // Lower-floor request: must rebuild and surface the pair, matching
    // the direct operator at that floor.
    val low = p.copy(minJaccard = 0.4, minContainment = 0.4)
    assert(rowsOf(NearDupPipeline.jaccardPairs(docs, low)) ==
      rowsOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4, 10000)))
    // And the rebuilt (lower-floored) table still serves the original
    // higher floor correctly — filter, not a narrower table.
    assert(NearDupPipeline.jaccardPairs(docs, p).count() == 0)
    SessionMemo.invalidateAll(spark)
  }
}
