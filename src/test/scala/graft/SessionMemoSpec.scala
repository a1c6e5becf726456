package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{NearDupPipeline, Similarity, SpanPipeline, Unigram}
import graft.queries.{CoreQueries, TextQueries}
import graft.sources.Tables

class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("one invalidate drops a corpus key's entries in every family; other keys survive") {
    SessionMemo.invalidateAll(spark)
    val k = TestSpark.Sf0001 // metricsTable keys on its warehouse dir
    val other = "other-corpus"
    val p = NearDupPipeline.Params("doc_id", "text")
    val dupA = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val dupB = Seq((7L, "one two three four five six"),
      (8L, "seven eight nine ten eleven twelve")).toDF("doc_id", "text")
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents").limit(100)
    val vecs = Tables.load(spark, TestSpark.Sf0001, "embeddings").limit(64)
    val cfg = TextQueries.curationConfig
    val curCorpus = TextQueries.curationCorpus(spark, TestSpark.Sf0001).limit(50)
    val bench = TextQueries.benchCorpus(spark, TestSpark.Sf0001)
    var curationBuilds = 0
    def curation(key: String) = CurationRound.memoized(spark, key,
      { curationBuilds += 1; curCorpus }, bench, cfg)
    def unigram(key: String) = Unigram.fitMemo(docs, key, "text",
      vocabSize = 40, rounds = 1, maxPieceLen = 4, seedSize = 300)
    def spans(df: org.apache.spark.sql.DataFrame, key: String) =
      rowsOf(SpanPipeline.spanDedupStats(df, key, "doc_id", "text", 6))

    try {
      // Fill every family under both keys.
      val pairsK = NearDupPipeline.pairsTable(dupA, k, p)
      val pairFiles = pairsK.inputFiles
      val jacA = rowsOf(NearDupPipeline.jaccardPairs(dupA, k, p))
      assert(jacA.nonEmpty && pairFiles.nonEmpty)
      assert(rowsOf(NearDupPipeline.jaccardPairs(dupA, other, p)) == jacA)
      val spanA = spans(dupA, k)
      assert(spanA.nonEmpty && spans(dupA, other) == spanA)
      val metrics = CoreQueries.metricsTable(spark, k)
      val curK = curation(k)
      val curOther = curation(other)
      val uniK = unigram(k)
      val uniOther = unigram(other)
      val kmK = Similarity.kmeansFitMemo(vecs, k)
      val kmOther = Similarity.kmeansFitMemo(vecs, other)
      assert(curationBuilds == 2)

      SessionMemo.invalidate(spark, k)

      // Every family rebuilds under k: the file-backed tables over the
      // new data (their old files are deleted), the rest as new values.
      assert(pairFiles.forall(f => !new java.io.File(new java.net.URI(f)).exists),
        "the dropped pair table's files must be deleted")
      assert(rowsOf(NearDupPipeline.jaccardPairs(dupB, k, p)).isEmpty)
      assert(spans(dupB, k) != spanA)
      assert(!(CoreQueries.metricsTable(spark, k) eq metrics))
      assert(!(curation(k) eq curK) && curationBuilds == 3)
      assert(!(unigram(k) eq uniK))
      assert(!(Similarity.kmeansFitMemo(vecs, k) eq kmK))

      // ...while every family still serves the other key's entry, stale
      // data and all.
      assert(rowsOf(NearDupPipeline.jaccardPairs(dupB, other, p)) == jacA)
      assert(spans(dupB, other) == spanA)
      assert((curation(other) eq curOther) && curationBuilds == 3)
      assert(unigram(other) eq uniOther)
      assert(Similarity.kmeansFitMemo(vecs, other) eq kmOther)
    } finally SessionMemo.invalidateAll(spark)
  }

  test("tempDir paths are fresh per call and not yet created") {
    val a = SessionMemo.tempDir(spark, "graft_memo_spec")
    val b = SessionMemo.tempDir(spark, "graft_memo_spec")
    assert(a != b)
    assert(!new java.io.File(a).exists && !new java.io.File(b).exists)
  }
}
