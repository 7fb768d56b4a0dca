package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<double>` columns.
  *
  * Mirrors the reference's cosine kernels (`vector-db.c:179-219` AVX,
  * `vector-db.c:223-269` Kahan scalar): dist = 1 - a.b / (|a||b|).
  * Built on Spark higher-order functions (`zip_with` + `aggregate`) so the
  * whole computation stays inside Catalyst; a codegen `Expression` variant
  * lives in [[CosineDistance]] for the hot path.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ over two equal-length array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Euclidean norm √(Σ aᵢ²). */
  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity a·b / (‖a‖·‖b‖) — codegen expression (see
    * [[CosineDistance]]); bit-identical to [[cosineSimilarityHof]].
    */
  def cosineSimilarity(a: Column, b: Column): Column =
    CosineDistance.similarity(a, b)

  /** Cosine distance 1 − similarity, the reference's pluggable metric
    * (`vector-db.h:16-18`). Range [0, 2]. Codegen expression.
    */
  def cosineDistance(a: Column, b: Column): Column =
    CosineDistance.distance(a, b)

  /** Higher-order-function formulations (CodegenFallback — slower, kept
    * as the reference semantics cross-check for the codegen expression).
    */
  def cosineSimilarityHof(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))

  def cosineDistanceHof(a: Column, b: Column): Column =
    lit(1.0) - cosineSimilarityHof(a, b)

  /** A Scala-side cosine distance with Kahan-compensated accumulation,
    * matching the reference's scalar fallback (`vector-db.c:223-269`).
    * Used only as a high-precision oracle in tests, never in plans.
    */
  def cosineDistanceKahan(a: Array[Double], b: Array[Double]): Double = {
    var sAB, cAB, sAA, cAA, sBB, cBB = 0.0
    var i = 0
    while (i < a.length) {
      val yab = a(i) * b(i) - cAB; val tab = sAB + yab; cAB = (tab - sAB) - yab; sAB = tab
      val yaa = a(i) * a(i) - cAA; val taa = sAA + yaa; cAA = (taa - sAA) - yaa; sAA = taa
      val ybb = b(i) * b(i) - cBB; val tbb = sBB + ybb; cBB = (tbb - sBB) - ybb; sBB = tbb
      i += 1
    }
    1.0 - sAB / (math.sqrt(sAA) * math.sqrt(sBB))
  }

  /** Pack the sign bits of the first `bits` dimensions into one BIGINT:
    * bit i set iff v[i] > 0. Closes the reference's `BINARY_VECTOR` stub
    * (`vector-db.h:1`, no distance ever implemented for it) with an
    * integer-exact representation both Spark and the DuckDB oracle agree on.
    * `bits` must be ≤ 62: the fold computes acc*2+bit and DuckDB's BIGINT
    * arithmetic is overflow-checked, so the sign bit must stay clear.
    * Codegen expression ([[PackSignBitsExpr]]); bit-identical to
    * [[packSignBitsHof]].
    */
  def packSignBits(v: Column, bits: Int = 32): Column =
    PackSignBitsExpr.column(v, bits)

  /** Higher-order-function formulation (CodegenFallback — kept as the
    * semantics cross-check for the codegen expression, like
    * [[cosineSimilarityHof]]).
    */
  def packSignBitsHof(v: Column, bits: Int = 32): Column =
    aggregate(reverse(slice(v, 1, bits)), lit(0L),
      (acc, x) => acc * 2 + when(x > 0.0d, lit(1L)).otherwise(lit(0L)))

  /** Hamming distance between two bit-packed BIGINT columns, as long. */
  def hammingBits(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  // ---- DuckDB oracle fragments -----------------------------------------
  // Spark's `aggregate(zip_with(a,b,*), 0.0, +)` is a strict sequential
  // left fold; these fragments express the *same op order* in DuckDB, so
  // cosine values are bit-identical across engines and results need no
  // rounding (cross-engine `round()` itself disagrees on tie digits).

  /** Sequential-fold dot product over two DOUBLE[] expressions. */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (acc, v) -> acc + v)"

  /** Cosine similarity with the exact op order of [[cosineSimilarity]]. */
  def cosSimSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** Cosine distance with the exact op order of [[cosineDistance]]. */
  def cosDistSql(a: String, b: String): String =
    s"(1 - ${cosSimSql(a, b)})"

  /** DuckDB fragment mirroring [[packSignBits]] over a float/double list
    * expression (`x > 0` on the raw float matches the double cast's sign
    * exactly).
    */
  def packSignBitsSql(v: String, bits: Int = 32): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_reverse($v[1:$bits]), " +
      "x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)), " +
      "(acc, b) -> acc * 2 + b)"
}
