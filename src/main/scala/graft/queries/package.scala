package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.TopK

/** The fixed-point grids, fixture constants and query-vector lookup the
  * query modules share. Both engines must scale, floor and cast with the
  * same constants, so each is defined once here.
  */
package object queries {

  /** Dimension of the `embeddings` fixture's vectors. */
  private[queries] val Dim = 64
  /** 2^52: exact power-of-two scale for float-origin values (any |x| >=
    * 2^-29 scales to an exact integer; fixture min |x| ~ 8e-6). */
  private[queries] val S52 = "4503599627370496.0"
  private[queries] val S52d = 4503599627370496.0
  /** 2^45: scale for squared-term quantization (terms < 4, 32k-row sums
    * stay far inside BIGINT). */
  private[queries] val S45 = "35184372088832.0"
  private[queries] val S45d = 35184372088832.0
  /** 2^20: the ln-quantization grid (products stay in BIGINT). */
  private[queries] val Q20 = 1048576L
  /** Internal type of exact money sums; outputs are cast to DOUBLE. */
  private[queries] val Dec = "decimal(18,4)"

  /** The query vector of the single-query retrieval queries: vector 0's
    * `embCol`, or None when `emb` has no vector 0 — the oracles' `q`
    * CTE is then empty. One `take(1)` job. */
  private[queries] def queryVector(emb: DataFrame,
      embCol: String = "embedding"): Option[Seq[Double]] =
    emb.filter(col("vec_id") === 0).select(embCol).take(1).headOption
      .map(_.getSeq[Double](0))

  /** [[TopK.nearest]] to the query vector `q`. With no query vector it
    * has the same columns and no rows, as the oracles' join with an
    * empty `q`: the placeholder vector meets no row, since `limit(0)`
    * plans an empty relation. */
  private[queries] def nearestTo(db: DataFrame, embCol: String, idCol: String,
      q: Option[Seq[Double]], k: Int): DataFrame = q match {
    case Some(v) => TopK.nearest(db, embCol, idCol, v, k)
    case None => TopK.nearest(db.limit(0), embCol, idCol, Seq(0.0), k)
  }
}
