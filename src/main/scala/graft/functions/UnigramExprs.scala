package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Trained unigram-LM piece vocabulary as ONE expression reference
  * object (the [[BpeRules]] / CellModel pattern): the piece table lives
  * outside the generated code, so expression-tree size is O(1) in the
  * vocabulary size.
  *
  * Scores are MICRO-QUANTIZED log-probabilities (ln(p)·1e6 rounded to
  * long): the Viterbi DP below sums them as exact integers, so the
  * best-path decision is deterministic across partitions, JVMs, and
  * re-runs — no float accumulation order anywhere in the decoder (the
  * engine's frozen-decimal discipline applied to a tokenizer).
  * `unkMicro` prices characters absent from the vocabulary (a large
  * negative constant, worse than any real piece, so known pieces are
  * always preferred but unknown text still segments). */
final case class UnigramModel(pieces: Array[String], scoresMicro: Array[Long],
                              unkMicro: Long, maxPieceLen: Int)
    extends Serializable {
  require(pieces.length == scoresMicro.length, "piece arrays must align")
  require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
  // java.lang.Long values so a missing key reads as null — a
  // HashMap[String, scala.Long] would unbox null to 0L and silently
  // price unknown pieces as ln(p)=0 (probability 1), the worst score
  // inversion possible.
  @transient lazy val table: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.put(pieces(i), scoresMicro(i)); i += 1 }
    m
  }
}

object UnigramModel {
  def apply(scored: Seq[(String, Long)], unkMicro: Long = -100000000L): UnigramModel = {
    val maxLen =
      if (scored.isEmpty) 1
      else scored.map(p => p._1.codePointCount(0, p._1.length)).max.max(1)
    UnigramModel(scored.map(_._1).toArray, scored.map(_._2).toArray,
      unkMicro, maxLen)
  }
}

/** Viterbi 1-BEST segmentation of one token under a [[UnigramModel]] —
  * the array of pieces whose micro-score sum is maximal. DP over
  * CODE-POINT boundaries (split(token, "") parity — surrogate pairs
  * stay whole). Deterministic tie-break, stated plainly: when two paths
  * reach a boundary with equal total score, the one whose LAST piece is
  * longer wins (equivalently: candidate start positions are scanned
  * left-to-right and a strictly-greater total is required to replace) —
  * so greedy-longest wins among equals, the sentencepiece convention.
  * Empty token → single empty piece (split parity). */
case class UnigramSegmentExpr(child: Expression, model: UnigramModel)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_segment"

  override def nullSafeEval(s: Any): Any =
    UnigramSegmentExpr.segment(s.asInstanceOf[UTF8String], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("unigramModel", model, classOf[UnigramModel].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UnigramSegmentExpr.segment($c, $m)")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramSegmentExpr =
    copy(child = newChild)
}

object UnigramSegmentExpr {

  def segment(token: UTF8String, model: UnigramModel): GenericArrayData =
    new GenericArrayData(
      segmentPieces(token.toString, model).map(UTF8String.fromString))

  /** Shared DP core (interpreted, generated, and count paths). */
  def segmentPieces(s: String, model: UnigramModel): Array[String] = {
    if (s.isEmpty) return Array("")
    // code-point boundary offsets: bounds(0)=0 .. bounds(n)=s.length
    val n = s.codePointCount(0, s.length)
    val bounds = new Array[Int](n + 1)
    var i = 0
    var ci = 0
    while (i < s.length) {
      bounds(ci) = i; ci += 1; i += Character.charCount(s.codePointAt(i))
    }
    bounds(n) = s.length
    val NEG = Long.MinValue / 4
    val best = Array.fill(n + 1)(NEG)
    val back = new Array[Int](n + 1)
    best(0) = 0L
    var e = 1
    while (e <= n) {
      // scan starts left-to-right; strict > required to replace, so the
      // LONGEST piece among equal totals wins (see scaladoc)
      var b = math.max(0, e - model.maxPieceLen)
      while (b < e) {
        if (best(b) > NEG) {
          val piece = s.substring(bounds(b), bounds(e))
          val sc = model.table.get(piece) match {
            case null => if (e - b == 1) model.unkMicro else NEG
            case v => v.longValue()
          }
          if (sc > NEG) {
            val tot = best(b) + sc
            if (tot > best(e)) { best(e) = tot; back(e) = b }
          }
        }
        b += 1
      }
      e += 1
    }
    // walk back
    var cnt = 0
    var p = n
    while (p > 0) { cnt += 1; p = back(p) }
    val out = new Array[String](cnt)
    p = n
    var k = cnt - 1
    while (p > 0) {
      out(k) = s.substring(bounds(back(p)), bounds(p)); k -= 1; p = back(p)
    }
    out
  }

  /** Piece count of the 1-best segmentation — the encode-stats hot path
    * (no piece array materialized). */
  def segmentCount(s: UTF8String, model: UnigramModel): Int =
    segmentPieces(s.toString, model).length

  def segment(c: Column, model: UnigramModel): Column =
    GraftBridge.column(UnigramSegmentExpr(GraftBridge.expression(c), model))

  def segmentCountCol(c: Column, model: UnigramModel): Column =
    GraftBridge.column(UnigramSegmentCountExpr(GraftBridge.expression(c), model))
}

/** `size(segment(...))` without materializing the piece array. */
case class UnigramSegmentCountExpr(child: Expression, model: UnigramModel)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "unigram_segment_count"

  override def nullSafeEval(s: Any): Any =
    UnigramSegmentExpr.segmentCount(s.asInstanceOf[UTF8String], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("unigramModel", model, classOf[UnigramModel].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UnigramSegmentExpr.segmentCount($c, $m)")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramSegmentCountExpr =
    copy(child = newChild)
}
