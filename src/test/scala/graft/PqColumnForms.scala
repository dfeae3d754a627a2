package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** The column forms that `VectorExprs.PqEncodeCodes` and `PqLutExpr`
  * replaced: the readable references the native expressions must stay
  * bit-identical to (argmin = first position of the exact minimum,
  * zip_with null padding). */
object PqColumnForms {

  /** (id, codes): per subspace, the index of the nearest codeword. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val sub = codebooks(0)(0).length
    val codes = array(codebooks.indices.map { s =>
      val subv = slice(col(vecCol), s * sub + 1, sub)
      val dists = array(codebooks(s).map(cw =>
        VectorFns.sqDist(subv, typedLit(cw.toSeq))): _*)
      // first position of the exact minimum = argmin with lowest-index ties
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
    corpus.select(col(idCol).as("id"), codes.as("codes"))
  }

  /** The m×k subspace distances from `vec` to every codeword. */
  def pqLut(vec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val sub = codebooks(0)(0).length
    array(codebooks.indices.map { s =>
      val subv = slice(vec, s * sub + 1, sub)
      array(codebooks(s).map(cw =>
        VectorFns.sqDist(subv, typedLit(cw.toSeq))): _*)
    }: _*)
  }
}
