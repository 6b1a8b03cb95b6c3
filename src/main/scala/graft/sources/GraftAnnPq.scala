package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, element_at, slice}

import graft.operators.KMeansCodebook

/** Shared plumbing for the PQ-CODED materialized ANN index
  * (`build_ann_index(..., pq_m, pq_ks)`): one place computes the
  * stored `code_0..code_{m-1}` columns so build and `refresh_ann`
  * can never encode differently (the codes are only comparable to the
  * serve path's ADC tables if every writer used the same persisted
  * books, the same cid sort and the same MIPS argmax).
  */
private[graft] object GraftAnnPq {

  /** The persisted (s, cid, cvec) sub-books of `<index>_pq`,
    * reassembled into the one-row subspace-indexed `pq` form.
    */
  def loadPqRow(
      spark: SparkSession, catName: String, ns: String, index: String): DataFrame =
    KMeansCodebook.packSubspaces(spark.table(GraftMvOps.fqn(catName, ns, s"${index}_pq")))

  /** `df` + the m stored-code columns, encoded against the PERSISTED
    * sub-books (broadcast one-row cross join — map-side only; the
    * embedding column never crosses an exchange).
    */
  def withCodes(
      spark: SparkSession, df: DataFrame, catName: String, ns: String,
      index: String, m: Int, sub: Int): DataFrame = {
    val withPq = df.crossJoin(broadcast(loadPqRow(spark, catName, ns, index)))
    val codes: Seq[Column] = (0 until m).map { i =>
      KMeansCodebook.mipsCode(
        slice(col("embedding"), i * sub + 1, sub),
        element_at(col("pq"), i + 1)).as(s"code_$i")
    }
    withPq.select(df.columns.map(col).toIndexedSeq ++ codes: _*)
  }
}
