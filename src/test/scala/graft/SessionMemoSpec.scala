package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{NearDupPipeline, Similarity, SpanPipeline}
import graft.queries.{CoreQueries, SimilarityQueries, TextQueries}
import graft.sources.Tables

class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** One value per family, each built exactly as the queries and the
    * bench's shared builds build it; the file-backed tables as their
    * file lists. */
  private def families(dir: String): Seq[(String, AnyRef)] = Seq(
    "pairs" -> NearDupPipeline.pairsTable(TextQueries.dupCorpus(spark, dir),
      TextQueries.nearDupParams).inputFiles.toSeq,
    "spans" -> SpanPipeline.censusTable(Tables.load(spark, dir, "documents"),
      "doc_id", "text", k = 6).inputFiles.toSeq,
    "curation" -> TextQueries.curationResult(spark, dir),
    "unigram" -> TextQueries.unigramModel(spark, dir),
    "kmeans" -> SimilarityQueries.embeddingCentroids(spark, dir),
    "metrics" -> CoreQueries.metricsTable(spark, dir))

  private def sameBuild(a: AnyRef, b: AnyRef): Boolean = (a, b) match {
    case (x: Seq[_], y: Seq[_]) => x == y // file lists: the same table
    case _ => a eq b
  }

  test("hit guard: independently built inputs share one build per family") {
    SessionMemo.invalidateAll(spark)
    try {
      val first = families(TestSpark.Sf0001)
      val second = families(TestSpark.Sf0001)
      first.zip(second).foreach { case ((name, a), (_, b)) =>
        assert(sameBuild(a, b), s"$name built twice for equal inputs")
      }
    } finally SessionMemo.invalidateAll(spark)
  }

  test("every family rebuilds after its files change, with no invalidate call") {
    SessionMemo.invalidateAll(spark)
    val dir = TestSpark.fixtureCopy()
    try {
      val before = families(dir)
      val pairFiles = before.head._2.asInstanceOf[Seq[String]]
      assert(pairFiles.nonEmpty)
      // documents: a new file moved over the old path; embeddings and
      // orders: the same file rewritten in place, at a new length.
      val lengthOf = (n: String) => new java.io.File(s"$dir/$n.parquet").length
      val oldLengths = Seq("embeddings", "orders").map(lengthOf)
      TestSpark.rewriteTable(dir, "documents", inPlace = false)(
        _.filter(col("doc_id") % 2 === 0))
      TestSpark.rewriteTable(dir, "embeddings", inPlace = true)(
        _.filter(col("vec_id") % 2 === 0))
      TestSpark.rewriteTable(dir, "orders", inPlace = true)(
        _.filter(col("o_orderkey") % 3 =!= 0))
      assert(Seq("embeddings", "orders").map(lengthOf).zip(oldLengths)
        .forall { case (n, o) => n != o })

      val after = families(dir)
      before.zip(after).foreach { case ((name, a), (_, b)) =>
        assert(!sameBuild(a, b), s"$name served a build over replaced files")
      }
      assert(pairFiles.forall(f => !new java.io.File(new java.net.URI(f)).exists),
        "the superseded pair table's files must be deleted")
      // the fresh builds read the new files
      assert(rowsOf(CoreQueries.metricsTable(spark, dir)) ==
        rowsOf(CoreQueries.metricsUnion(spark, dir)))
      assert(SpanPipeline.censusTable(Tables.load(spark, dir, "documents"),
        "doc_id", "text", k = 6).filter(col("doc_id") % 2 =!= 0).isEmpty)
      // and are served again until the files change once more
      families(dir).zip(after).foreach { case ((name, a), (_, b)) =>
        assert(sameBuild(a, b), s"$name rebuilt over unchanged files")
      }
    } finally SessionMemo.invalidateAll(spark)
  }

  test("kmeansFitMemo: another frame with the same columns gets its own fit") {
    SessionMemo.invalidateAll(spark)
    val vecs = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val even = vecs.filter(col("vec_id") % 2 === 0)
    val odd = vecs.filter(col("vec_id") % 2 === 1)
    def close(a: Seq[Seq[Double]], b: Seq[Seq[Double]]): Boolean =
      a.length == b.length && a.zip(b).forall { case (x, y) =>
        x.zip(y).forall { case (p, q) => math.abs(p - q) <= 1e-12 } }
    try {
      val (nEven, fitEven) = Similarity.kmeansFitMemo(even)
      val (nOdd, fitOdd) = Similarity.kmeansFitMemo(odd)
      assert(!close(fitOdd, fitEven))
      assert(close(fitEven, Similarity.kmeansFit(even, k = Similarity.cellsFor(nEven), maxIter = 5)))
      assert(close(fitOdd, Similarity.kmeansFit(odd, k = Similarity.cellsFor(nOdd), maxIter = 5)))
      assert(Similarity.kmeansFitMemo(vecs.filter(col("vec_id") % 2 === 0))._2 eq fitEven)
    } finally SessionMemo.invalidateAll(spark)
  }

  test("tempDir paths are fresh per call and not yet created") {
    val a = SessionMemo.tempDir(spark, "graft_memo_spec")
    val b = SessionMemo.tempDir(spark, "graft_memo_spec")
    assert(a != b)
    assert(!new java.io.File(a).exists && !new java.io.File(b).exists)
  }
}
