package graft

/** The fixed-point grids and fixture constants the query modules share.
  * Both engines must scale, floor and cast with the same constants, so
  * each is defined once here.
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
}
