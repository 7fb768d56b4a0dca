package graft

import org.apache.spark.sql.functions._

/** Invariants of the twenty-sixth batch (hash-width audit). */
class CurationSpec26 extends SparkSpec {

  private val Mod = 1000000007L
  private def poly(s: String, mul: Long): Long =
    s.foldLeft(0L)((h, c) => (h * mul + c) % Mod)

  test("hash_collisions: exact recompute; the 37-hash is not affine in the 31-hash") {
    val row = graft.queries.DedupQueries.hashCollisions.fn(spark, sf0001).head()
    val sh = Tables(spark, sf0001, "documents")
      .select(col("text")).collect().map(_.getString(0))
      .flatMap(t => t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")))
      .distinct
    val h1 = sh.map(poly(_, 31))
    val h2 = sh.map(poly(_, 37))
    assert(row.getLong(0) == sh.length.toLong)
    assert(row.getLong(1) == (sh.length - h1.distinct.length).toLong)
    assert(row.getLong(2) == sh.length.toLong * sh.length / 2000000014L)
    assert(row.getLong(3) == (sh.length - h1.zip(h2).distinct.length).toLong)
    // the anti-affine property the 37 multiplier exists for: same-LENGTH
    // strings do not produce correlated pairs — check rank of the pair
    // mapping on a fixed-length sample (affine h2 = a*h1+b would make
    // all (h1, h2) of one length collinear mod p)
    val fixed = sh.filter(_.length == sh.map(_.length).groupBy(identity)
      .maxBy(_._2.size)._1).take(50)
    if (fixed.length >= 3) {
      val pts = fixed.map(s => (BigInt(poly(s, 31)), BigInt(poly(s, 37))))
      val p = BigInt(Mod)
      val (x0, y0) = pts(0); val (x1, y1) = pts(1)
      val collinear = pts.drop(2).forall { case (x, y) =>
        ((y - y0) * (x1 - x0) - (y1 - y0) * (x - x0)).mod(p) == 0
      }
      assert(!collinear, "37-hash is affinely predictable from the 31-hash")
    }
  }
}
