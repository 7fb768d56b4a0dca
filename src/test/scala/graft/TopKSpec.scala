package graft

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType,
  StringType, StructType}
import graft.operators.TopK

/** `TopK.nearestRows`, the eager top-k a RAG turn runs, returns exactly
  * the rows of `TopK.nearest(...).collect()` in the same order, on
  * seeded random indexes built to hit every ordering edge: exact ties,
  * NULL and zero embeddings (NULL and NaN distances), mismatched dims, a
  * NULL id, empty partitions, an empty index, and Long, Int and String
  * ids.
  */
class TopKSpec extends SparkSpec {
  private val Dim = 4

  private def schema(idType: DataType): StructType = new StructType()
    .add("id", idType).add("text", StringType)
    .add("embedding", ArrayType(DoubleType, containsNull = false))

  /** `rows` dealt at random over `parts` partitions, some left empty. */
  private def index(rows: Seq[Row], idType: DataType, parts: Int, rnd: Random): DataFrame = {
    val dealt = rows.groupBy(_ => rnd.nextInt(parts)).withDefaultValue(Seq.empty)
    val byPart = (0 until parts).map(dealt)
    val rdd = spark.sparkContext.parallelize(0 until parts, parts).flatMap(byPart)
    spark.createDataFrame(rdd, schema(idType))
  }

  /** A vector with exact ties likely: components from a small grid. */
  private def vec(rnd: Random, dim: Int): Seq[Double] =
    if (rnd.nextBoolean()) Seq.fill(dim)((rnd.nextInt(5) - 2).toDouble)
    else Seq.fill(dim)(rnd.nextGaussian())

  private def embedding(rnd: Random): Seq[Double] = rnd.nextInt(10) match {
    case 0 => null
    case 1 => Seq.fill(Dim)(0.0)
    case 2 => vec(rnd, Dim + rnd.nextInt(3) * 2 - 2) // Dim - 2, Dim or Dim + 2
    case _ => vec(rnd, Dim)
  }

  private def id(idType: DataType, i: Int): Any = idType match {
    case LongType => i.toLong * 7919 - 50000
    case IntegerType => i * 31 - 300
    case StringType => s"id$i" // "id10" < "id9": string order, not numeric
  }

  /** The row with `dist` as its raw bits, so NaN, -0.0 and NULL compare exactly. */
  private def bits(r: Row): Seq[Any] =
    r.toSeq.init :+ (if (r.isNullAt(r.length - 1)) null
      else java.lang.Double.doubleToRawLongBits(r.getDouble(r.length - 1)))

  private def assertSame(db: DataFrame, q: Seq[Double], k: Int, clue: String): Unit = {
    val got = TopK.nearestRows(db, "embedding", "id", q, k)
    val want = TopK.nearest(db, "embedding", "id", q, k).collect()
    assert(got.map(bits).toSeq == want.map(bits).toSeq, clue)
    assert(got.headOption.forall(_.schema.fieldNames.toSeq == want.head.schema.fieldNames.toSeq), clue)
  }

  test("nearestRows equals nearest(...).collect() on seeded random indexes") {
    val rnd = new Random(20261019L)
    for (trial <- 0 until 60) {
      val idType = Seq(LongType, IntegerType, StringType)(trial % 3)
      val n = if (trial % 10 == 9) 0 else rnd.nextInt(40)
      val nullId = n > 0 && rnd.nextBoolean()
      val rows = (0 until n).map { i =>
        Row(if (nullId && i == 0) null else id(idType, i), s"t$i", embedding(rnd))
      }
      val parts = 1 + rnd.nextInt(7)
      val db = index(rows, idType, parts, rnd)
      val q = rnd.nextInt(6) match {
        case 0 => Seq.fill(Dim)(0.0) // every distance NaN or NULL
        case 1 if n > 0 => Option(rows(rnd.nextInt(n)).getSeq[Double](2)).getOrElse(vec(rnd, Dim))
        case _ => vec(rnd, Dim)
      }
      for (k <- Seq(0, 1, 5, n + 3))
        assertSame(db, q, k, s"trial $trial: $n ${idType.simpleString} ids in $parts parts, k=$k, q=$q")
    }
  }

  test("exact ties over partitions break on the id, NULL id first") {
    val rnd = new Random(7L)
    val e = Seq(1.0, 2.0, 0.0, -1.0)
    for (idType <- Seq(LongType, IntegerType, StringType); parts <- 1 to 7) {
      // twelve copies of one vector: every distance is the same double
      val rows = Row(null, "null id", e) +: (0 until 11).map(i => Row(id(idType, i), s"t$i", e))
      val db = index(rnd.shuffle(rows), idType, parts, rnd)
      for (k <- Seq(1, 5, 12, 20)) {
        assertSame(db, e, k, s"${idType.simpleString} ids in $parts parts, k=$k")
        val got = TopK.nearestRows(db, "embedding", "id", e, k)
        assert(got.head.isNullAt(0), s"NULL id first, ${idType.simpleString}")
      }
    }
  }

  test("an index with no partitions and k = 0 return no rows") {
    val empty = spark.createDataFrame(java.util.List.of[Row](), schema(LongType))
    assert(TopK.nearestRows(empty, "embedding", "id", Seq.fill(Dim)(1.0), 5).isEmpty)
    val one = spark.createDataFrame(java.util.List.of(Row(1L, "a", Seq.fill(Dim)(1.0))), schema(LongType))
    assert(TopK.nearestRows(one, "embedding", "id", Seq.fill(Dim)(1.0), 0).isEmpty)
    assertSame(one, Seq.fill(Dim)(1.0), 1, "one row")
  }
}
