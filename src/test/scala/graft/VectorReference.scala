package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Similarity.{PqCodes, PqSubDim, PqSubs, cellScoresDecCol, fdot}

/** The IVF and PQ assignments as plain column expressions — the reference
  * forms that [[graft.functions.IvfAssignCell]] and
  * [[graft.functions.PqAssignCodes]] are held equal to (ExtensionsSpec),
  * on data shapes and on error paths. */
object VectorReference {

  /** Per-vector centroid dot scores (codegen'd native dot per centroid),
    * the `fscores` column [[hybridCellCol]] reads. */
  def cellScoresCol(centroids: Array[Array[Double]]): Column =
    array(centroids.toIndexedSeq.map(c => fdot(col("embedding"), typedlit(c))): _*)

  /** Nearest-centroid id (0-based, first-index tie-break) with the q34b
    * hybrid trick lifted from sign to argmax: the double scores in
    * `fscores` decide whenever the top-2 gap is wider than 1e-6, and only
    * near-tied rows fall back to the exact-decimal scores the oracle
    * computes. */
  def hybridCellCol(centroids: Array[Array[Double]]): Column = {
    val f = col("fscores")
    val top = element_at(array_sort(f), -1)
    val gap = top - element_at(array_sort(f), -2)
    val dsc = cellScoresDecCol(centroids)
    when(gap > 1e-6, (array_position(f, top) - 1).cast("int"))
      .otherwise((array_position(dsc, array_max(dsc)) - 1).cast("int"))
  }

  /** Squared L2 distance between subvector `s` of `embedding` and a
    * LITERAL codeword, as a Spark SQL string: each term is the double
    * product (x−u)² cast to DECIMAL(18,12), summed exactly in decimals,
    * rounded once, cast double. */
  private def pqDistSql(s: Int, u: Array[Double]): String = {
    val terms = (0 until PqSubDim).map { i =>
      val x = s"CAST(element_at(embedding, ${s * PqSubDim + i + 1}) AS DOUBLE)"
      val c = u(i).toString
      s"CAST((($x) - ($c)) * (($x) - ($c)) AS DECIMAL(18,12))"
    }
    s"CAST(ROUND(${terms.mkString(" + ")}, 12) AS DOUBLE)"
  }

  /** Per-subspace code assignment columns for the given codebooks: argmin
    * over the [[PqCodes]] decimal-exact distances, FIRST index on ties
    * (the oracle's `ORDER BY dist ASC, code ASC`). */
  def pqCodeCols(cbs: Array[Array[Array[Double]]]): Seq[Column] =
    (0 until PqSubs).map { s =>
      val dists = array((0 until PqCodes).map(j => expr(pqDistSql(s, cbs(s)(j)))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
}
