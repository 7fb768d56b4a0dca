package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Expression,
  InterpretedOrdering, JoinedRow, Literal, SortOrder}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.functions.CosineDistance
import graft.functions.VectorFunctions._

/** Brute-force exact k-NN: the reference's core query operator
  * (`create_closest_distances`, `vector-db.c:148-177`): distance of the
  * query vector against every row, sort ascending, take k.
  *
  * Two forms with one result:
  *  - [[nearest]] is the lazy DataFrame. The query vector is a literal,
  *    the distance a scalar expression, and `orderBy(...).limit(k)`
  *    plans `TakeOrderedAndProject`: a per-partition bounded queue
  *    merged on the driver, no global shuffle. Registry plans compose
  *    it.
  *  - [[nearestRows]] is the eager form a RAG turn runs. It is one Spark
  *    job over the Dataset's own memoized RDD (`queryExecution.toRdd`),
  *    so a Dataset that is scanned turn after turn is analysed,
  *    optimized and planned once, and no turn plans, generates code or
  *    opens a SQL execution. Each task keeps a k-slot buffer and the
  *    driver merges the ≤ k·partitions survivors.
  *
  * Deviations from the reference, both deliberate:
  *  - ties broken deterministically on `idCol` (C qsort is unstable,
  *    `vector-db.c:20-29`);
  *  - n < k returns n rows instead of hard-exiting (`vector-db.c:160-163`).
  */
object TopK {

  /** Literal column for a query vector. */
  def vecLit(q: Seq[Double]): Column = array(q.map(lit): _*)

  /** Nearest k rows of `db` to query vector `q` by cosine distance.
    * Output: all columns of `db` plus `dist`.
    */
  def nearest(db: DataFrame, embCol: String, idCol: String,
              q: Seq[Double], k: Int): DataFrame =
    db.withColumn("dist", cosineDistance(col(embCol), vecLit(q)))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)

  /** [[nearest]]`(db, embCol, idCol, q, k).collect()`, row for row, run
    * as one Spark job over `db.queryExecution.toRdd`.
    *
    * Each task evaluates the engine's own [[CosineDistance]] expression
    * (its interpreted path, bit-identical to the generated one) bound to
    * the embedding's ordinal, and copies a row only when it enters the
    * task's k-slot buffer. Order is `nearest`'s: `dist` ascending with
    * NULL first, NaN greatest and `-0.0 == 0.0` (Spark's double order),
    * then `idCol` ascending with NULL first under Catalyst's
    * `InterpretedOrdering`, so any id type orders as in SQL.
    *
    * The RDD is memoized per Dataset: persist `db` before its first
    * call, or every call scans what `db` read when the RDD was made.
    */
  def nearestRows(db: DataFrame, embCol: String, idCol: String,
                  q: Seq[Double], k: Int): Array[Row] = {
    require(k >= 0, s"k must be >= 0, got $k")
    if (k == 0) return Array.empty
    val schema = db.schema
    val emb = schema(embCol)
    val dist = CosineDistance(
      BoundReference(schema.fieldIndex(embCol), emb.dataType, emb.nullable),
      Literal(ArrayData.toArrayData(q.toArray), ArrayType(DoubleType, containsNull = false)))
    val id = schema(idCol)
    val order = new HitOrder(new InterpretedOrdering(Seq(SortOrder(
      BoundReference(schema.fieldIndex(idCol), id.dataType, id.nullable), Ascending))))
    val sc = db.sparkSession.sparkContext
    val hits = sc.runJob(db.queryExecution.toRdd, new NearestKernel(dist, order, k)).flatten
    java.util.Arrays.sort(hits, order)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema.add("dist", DoubleType))
    hits.take(k).map { h =>
      toRow(new JoinedRow(h.row, InternalRow(if (h.isNull) null else h.dist))).asInstanceOf[Row]
    }
  }

  /** A row that entered a task's buffer, with its distance. The distance
    * travels as its raw bits: Java serialization would canonicalize a NaN.
    */
  private final case class Hit(distBits: Long, isNull: Boolean, row: InternalRow) {
    def dist: Double = java.lang.Double.longBitsToDouble(distBits)
  }

  /** `nearest`'s (dist, id) order over hits and not-yet-copied rows. */
  private final class HitOrder(idOrder: InterpretedOrdering)
      extends java.util.Comparator[Hit] with Serializable {
    def compare(d: Double, isNull: Boolean, row: InternalRow, h: Hit): Int = {
      val c =
        if (isNull || h.isNull) java.lang.Boolean.compare(!isNull, !h.isNull)
        else SQLOrderingUtil.compareDoubles(d, h.dist)
      if (c != 0) c else idOrder.compare(row, h.row)
    }
    override def compare(a: Hit, b: Hit): Int = compare(a.dist, a.isNull, a.row, b)
  }

  /** One task's scan: the partition's k nearest rows, in order. A named
    * class rather than a lambda, so `runJob`'s closure cleaner has
    * nothing to inspect.
    */
  private final class NearestKernel(dist: Expression, order: HitOrder, k: Int)
      extends ((TaskContext, Iterator[InternalRow]) => Array[Hit]) with Serializable {
    override def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[Hit] = {
      val buf = new Array[Hit](k)
      var n = 0
      while (rows.hasNext) {
        val row = rows.next()
        val v = dist.eval(row)
        val isNull = v == null
        val d = if (isNull) 0.0 else v.asInstanceOf[Double]
        if (n < k || order.compare(d, isNull, row, buf(k - 1)) < 0) {
          // insert before every hit it orders strictly before; the worst
          // hit falls off the end of a full buffer
          var i = math.min(n, k - 1)
          while (i > 0 && order.compare(d, isNull, row, buf(i - 1)) < 0) {
            buf(i) = buf(i - 1)
            i -= 1
          }
          buf(i) = Hit(java.lang.Double.doubleToRawLongBits(d), isNull, row.copy())
          if (n < k) n += 1
        }
      }
      java.util.Arrays.copyOf(buf, n)
    }
  }
}
