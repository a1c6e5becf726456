package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Classify

/** Multinomial Naive Bayes confusion matrix — SURVEY.md §2 classifier row. */
class ClassifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def matrix(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  test("naiveBayesConfusion: disjoint vocabularies classify diagonally") {
    val docs = Seq(
      (1L, "x x", "a"), (2L, "x y", "a"),
      (3L, "z z", "b"), (4L, "z z z", "b")
    ).toDF("doc_id", "text", "lab")
    val m = matrix(Classify.naiveBayesConfusion(docs, "doc_id", "text", "lab")
      .orderBy($"label", $"predicted").collect())
    assert(m == Map(("a", "a") -> 2L, ("b", "b") -> 2L), m)
  }

  test("naiveBayesConfusion: exact score ties break to the smallest class") {
    // identical class corpora -> every class scores every doc equally
    // (the decimal freeze keeps the tie EXACT, not ulp-close)
    val docs = Seq(
      (1L, "x y", "a"), (2L, "x y", "b"),
      (3L, "x y", "c"), (4L, "x y", "a"), (5L, "x y", "b"), (6L, "x y", "c")
    ).toDF("doc_id", "text", "lab")
    // priors differ only via doc counts: a=2, b=2, c=2 -> full tie
    val m = matrix(Classify.naiveBayesConfusion(docs, "doc_id", "text", "lab")
      .collect())
    assert(m == Map(("a", "a") -> 2L, ("b", "a") -> 2L, ("c", "a") -> 2L), m)
  }

  test("naiveBayesConfusion: prior dominates when evidence ties; empty/null docs absent") {
    val docs = Seq(
      (1L, "x", "big"), (2L, "x", "big"), (3L, "x", "big"),
      (4L, "x", "small"),
      (5L, "", "small"),                      // tokenless: absent
      (6L, null.asInstanceOf[String], "big")  // null text: absent
    ).toDF("doc_id", "text", "lab")
    val out = Classify.naiveBayesConfusion(docs, "doc_id", "text", "lab")
      .collect()
    val m = matrix(out)
    // token evidence is identical across classes ("x" only), Laplace
    // denominators equal (tok_c+V: big 3+1, small 1+1 differ — compute:
    // w(x|big)=ln(4/4)=0, w(x|small)=ln(2/2)=0; priors ln(3/4) > ln(1/4)
    // -> everything routes to "big".
    assert(m == Map(("big", "big") -> 3L, ("small", "big") -> 1L), m)
    assert(m.values.sum == 4L) // docs 5 and 6 absent
  }

  test("naiveBayesConfusion: a doc id filed under two labels counts once in the priors") {
    // Doc 1 carries label a and label b: 7 distinct labeled docs, not
    // the 8 the per-class counts sum to. Every prior is ln(n_c/N)
    // frozen at 6 decimals, so N reaches the argmax only through that
    // rounding — and here it moves one a-doc's a-vs-b comparison.
    val docs = Seq(
      (1L, "z y", "a"), (2L, "x y", "a"), (3L, "x z y", "b"), (4L, "y", "a"),
      (5L, "y x x z", "b"), (6L, "z x", "b"), (7L, "z y x", "b"), (1L, "y", "b")
    ).toDF("doc_id", "text", "lab")
    val m = matrix(Classify.naiveBayesConfusion(docs, "doc_id", "text", "lab")
      .collect())
    assert(m == Map(("a", "a") -> 1L, ("a", "b") -> 2L, ("b", "a") -> 1L,
      ("b", "b") -> 4L), m)
  }

  test("naiveBayesConfusion: more labels than MaxLabels fail, naming the label column") {
    val docs = (0 to Classify.MaxLabels).map(i => (i.toLong, "x y", s"l$i"))
      .toDF("doc_id", "text", "source_tag")
    val e = intercept[IllegalArgumentException](
      Classify.naiveBayesConfusion(docs, "doc_id", "text", "source_tag"))
    assert(e.getMessage.contains("source_tag"), e.getMessage)
  }

  test("naiveBayesConfusion: matrix counts sum to the scored-doc count at fixture scale") {
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val out = Classify.naiveBayesConfusion(docs, "doc_id", "text", "lang")
      .collect()
    val total = out.map(_.getLong(2)).sum
    val scored = docs.filter($"lang".isNotNull && $"text".isNotNull &&
      org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.trim($"text")) > 0).count()
    assert(total == scored, s"matrix mass $total vs scored $scored")
  }
}
