package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Similarity.{dot, planeComponent}

/** Declarative twins of `Similarity`'s native expressions: the parity
  * oracles `SimilaritySpec` proves them bit-identical against
  * (interpreted higher-order forms; nothing in the library calls them). */
object SimilarityTwins {

  /** Zip_with/aggregate formulation of [[graft.functions.LshBucketExpr]]:
    * bit j is the sign of Σ_i v[i] * h(from+j, i). */
  def lshBucketDeclarative(v: Column, from: Int, count: Int): Column =
    (0 until count).map { j =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x * planeComponent(from + j, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1), j)).otherwise(0)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Greatest-of-structs twin of [[graft.functions.CellAssignExpr]] (one
    * dot call + struct per cell). Ties break to the smallest index via
    * the (sim, -idx) struct max. */
  def bestCellDeclarative(vec: Column, norm: Column,
      centRows: Seq[(Seq[Double], Double)]): Column =
    -(greatest(centRows.zipWithIndex.map { case ((cvec, cn), idx) =>
      struct((dot(vec, typedLit(cvec)) / sqrt(norm * lit(cn))).as("sim"),
        lit(-idx).as("negid"))
    }: _*).getField("negid"))

  /** Twin of [[graft.functions.CellTopExpr]]: top-nProbe cell ids
    * ordered (sim desc, index asc) via sort-and-reverse over the
    * per-cell score structs. */
  def topCellsDeclarative(vec: Column, norm: Column,
      centRows: Seq[(Seq[Double], Double)], nProbe: Int): Column =
    transform(
      slice(reverse(array_sort(array(centRows.zipWithIndex.map {
        case ((cvec, cn), idx) =>
          struct((dot(vec, typedLit(cvec)) / sqrt(norm * lit(cn))).as("sim"),
            lit(-idx).as("negid"))
      }: _*))), 1, nProbe),
      s => -s.getField("negid"))
}
