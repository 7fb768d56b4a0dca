package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types._

/** Registry-wide output-shape guard: the driver's oracle harness hashes
  * results through pandas, which cannot sort/factorize nested cells
  * (array/map/struct become numpy ndarrays → `unhashable type`). Every
  * gate query must therefore emit only atomic columns, and DECIMAL /
  * uncast sums are banned from output schemas (the driver's hash is
  * stricter than value equality — see MEMORY: oracle-bit-exact-patterns).
  * This spec analyzes (not runs) every registry entry, so a regression
  * in output shape breaks `sbt test` before it ever reaches the driver.
  */
class RegistrySchemaSpec extends SparkSpec {

  private def atomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _: DecimalType                            => false
    case _                                         => true
  }

  test("every registry query output schema is atomic (pandas-hashable, no DECIMAL)") {
    val bad = SparkEntry.registry.flatMap { q =>
      val schema = q.fn(spark, sf0001).schema
      schema.fields.collect {
        case f if !atomic(f.dataType) => s"${q.name}.${f.name}: ${f.dataType.sql}"
      }
    }
    assert(bad.isEmpty, s"non-atomic output columns (driver harness cannot hash these):\n  ${bad.mkString("\n  ")}")
  }

  /** Fixture-drift canary: the driver regenerates the parquet fixtures
    * between rounds and has already changed `events.ts`'s physical
    * encoding twice (TIMESTAMP(NANOS) → `timestamp[us]` no-tz). Engine
    * accessors must normalize whatever lands on disk to the logical
    * types every consumer assumes. When the next drift happens, THIS
    * named test must fail — not 8 scattered downstream specs.
    */
  test("fixture-drift canary: accessor-normalized core column types are stable") {
    assert(Tables.events(spark, sf0001).schema("ts").dataType == TimestampType,
      "events.ts must normalize to TIMESTAMP (watermarks/unix_micros require it)")
    val ev = Tables.events(spark, sf0001).schema
    assert(ev("event_id").dataType == LongType && ev("user_id").dataType == LongType &&
      ev("event_type").dataType == StringType && ev("value").dataType == DoubleType,
      s"events core columns drifted: $ev")
    val docs = Tables(spark, sf0001, "documents").schema
    assert(docs("doc_id").dataType == LongType && docs("text").dataType == StringType,
      s"documents core columns drifted: $docs")
    val emb = Tables.embeddings(spark, sf0001).schema
    assert(emb("embedding").dataType == ArrayType(DoubleType, containsNull = true) ||
      emb("embedding").dataType == ArrayType(DoubleType, containsNull = false),
      s"embeddings.embedding must normalize to array<double>: ${emb("embedding").dataType}")
    // date-ish columns: every current consumer compares against date
    // literals, which works for DATE / TIMESTAMP / TIMESTAMP_NTZ but not
    // for e.g. epoch longs or strings — pin the family, not one member
    val dateish: Set[DataType] = Set(DateType, TimestampType, TimestampNTZType)
    val li = Tables(spark, sf0001, "lineitem").schema
    assert(li("l_quantity").dataType == DoubleType,
      s"lineitem.l_quantity drifted: ${li("l_quantity").dataType}")
    assert(dateish(li("l_shipdate").dataType),
      s"lineitem.l_shipdate drifted: ${li("l_shipdate").dataType}")
    val ord = Tables(spark, sf0001, "orders").schema
    assert(dateish(ord("o_orderdate").dataType),
      s"orders.o_orderdate drifted: ${ord("o_orderdate").dataType}")
  }

  test("every oracle-gated query has distinct, non-empty column names") {
    val bad = SparkEntry.registry.flatMap { q =>
      val names = q.fn(spark, sf0001).schema.fieldNames.toSeq
      val dups = names.groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }
      if (dups.nonEmpty || names.exists(_.isEmpty)) Some(s"${q.name}: $names") else None
    }
    assert(bad.isEmpty, s"duplicate/empty column names: ${bad.mkString("; ")}")
  }

  test("registry names are unique") {
    val dups = SparkEntry.registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicated registry names (the name map keeps only one): ${dups.mkString(", ")}")
  }

  /** The committed name list pins the registry, so moving a module or
    * dropping one from `SparkEntry` cannot lose a query unnoticed. */
  test("sorted registry names equal src/test/resources/registry-names.txt") {
    val pinned = Files.readAllLines(Paths.get("src/test/resources/registry-names.txt")).asScala
      .filter(_.nonEmpty).toSeq
    val names = SparkEntry.registry.map(_.name).sorted
    if (names != pinned)
      fail(s"missing: ${pinned.diff(names).mkString(", ")}; unexpected: ${names.diff(pinned).mkString(", ")}")
  }

  test("no query module under queries/ is named by a batch number") {
    val walk = Files.list(Paths.get("src/main/scala/graft/queries"))
    val files = try walk.iterator().asScala.map(_.getFileName.toString).toList finally walk.close()
    val batch = files.filter(f => f.matches(".*\\d+\\.scala") || f == "CurationQueries.scala")
    assert(files.nonEmpty && batch.isEmpty, s"batch-numbered query files: ${batch.mkString(", ")}")
  }
}
