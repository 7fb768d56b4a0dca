package graft

import org.apache.spark.sql.functions._
import graft.operators.CorpusMerge

/** Copy-on-write corpus MERGE (round 16). Value parity vs DuckDB is the
  * driver's `q_corpus_merge` oracle gate; here the PHYSICAL contract:
  * untouched buckets are byte-identical (never rewritten), the base
  * scan is partition-pruned, the MERGE matrix lands, and a fully-
  * tombstoned bucket actually disappears.
  */
class CorpusMergeSpec extends SparkSpec {
  import spark.implicits._

  private val N = 8

  private def fileState(dir: String): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .filter(f => f.getName.endsWith(".parquet") || f.getName.startsWith("part-"))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md = java.security.MessageDigest.getInstance("MD5")
        f.getAbsolutePath.stripPrefix(dir) -> md.digest(bytes).map("%02x".format(_)).mkString
      }.toMap
  }

  private def writeFixture(): (String, Map[Long, Long]) = {
    val dir = java.nio.file.Files.createTempDirectory("cow-merge").toString + "/corpus"
    val base = (0L until 40L).map(k => (k, s"text-$k", 0L)).toDF("k", "text", "version")
    CorpusMerge.writeBase(base, "k", dir, N)
    val buckets = spark.range(0, 40).select(col("id"),
        CorpusMerge.bucketOf(col("id"), N).as("b"))
      .as[(Long, Long)].collect().toMap
    (dir, buckets)
  }

  test("MERGE matrix: insert, replace, stale-skip, tombstone — and Θ(delta) touched receipt") {
    val (dir, buckets) = writeFixture()
    val delta = Seq(
      (3L, "text-3-rev", 1L, false),   // replace (newer version)
      (7L, "SHOULD-NOT-LAND", -1L, false), // stale update -> base retained
      (11L, "", 1L, true),             // tombstone -> delete
      (100L, "text-100", 1L, false)    // new key -> insert
    ).toDF("k", "text", "version", "deleted")
    val touched = CorpusMerge.merge(spark, dir, delta, "k", nBuckets = N)
    val expectedTouched = Seq(3L, 7L, 11L, 100L)
      .map(k => spark.range(k, k + 1).select(CorpusMerge.bucketOf(col("id"), N))
        .head().getLong(0)).distinct.sorted
    assert(touched == expectedTouched, s"touched receipt: $touched vs $expectedTouched")
    val got = spark.read.parquet(dir).select("k", "text", "version")
      .as[(Long, String, Long)].collect().map { case (k, t, v) => k -> ((t, v)) }.toMap
    assert(got(3L) == ("text-3-rev", 1L), "newer delta must replace")
    assert(got(7L) == ("text-7", 0L), "stale delta must be skipped")
    assert(!got.contains(11L), "winning tombstone must delete")
    assert(got(100L) == ("text-100", 1L), "new key must insert")
    assert(got.size == 40 - 1 + 1)
  }

  test("untouched buckets are the SAME files — byte-identical, never rewritten") {
    val (dir, buckets) = writeFixture()
    val before = fileState(dir)
    val delta = Seq((3L, "text-3-rev", 1L, false)).toDF("k", "text", "version", "deleted")
    val touched = CorpusMerge.merge(spark, dir, delta, "k", nBuckets = N)
    assert(touched == Seq(buckets(3L)))
    val after = fileState(dir)
    val untouchedPrefixes = (0L until N.toLong).filterNot(touched.contains)
      .map(b => s"/bucket=$b/")
    for (p <- untouchedPrefixes) {
      val b4 = before.filter(_._1.startsWith(p))
      val aft = after.filter(_._1.startsWith(p))
      assert(b4.nonEmpty || aft.isEmpty)
      assert(b4 == aft, s"untouched bucket $p changed: $b4 vs $aft")
    }
    // ...and the touched bucket WAS rewritten (fresh file names)
    val tp = s"/bucket=${buckets(3L)}/"
    assert(before.filter(_._1.startsWith(tp)).keySet
      .intersect(after.filter(_._1.startsWith(tp)).keySet).isEmpty,
      "the touched bucket must be copy-on-write replaced")
  }

  test("base scan is partition-pruned to the touched buckets (PartitionFilters)") {
    val (dir, _) = writeFixture()
    val plan = CorpusMerge.prunedBase(spark, dir, Seq(2L, 5L)).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = "PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\]".r
    assert(pf.findFirstIn(plan).isDefined, s"expected a partition filter on bucket:\n$plan")
    assert(CorpusMerge.prunedBase(spark, dir, Seq(2L, 5L))
      .select(CorpusMerge.bucketOf(col("k"), N)).distinct()
      .as[Long].collect().toSet == Set(2L, 5L))
  }

  test("a fully-tombstoned bucket disappears instead of leaving stale files") {
    val (dir, buckets) = writeFixture()
    // tombstone EVERY key of one bucket -> merged output has no rows
    // for it; dynamic overwrite alone would leave the old files standing
    val doomedBucket = buckets(0L)
    val doomedKeys = buckets.collect { case (k, b) if b == doomedBucket => k }.toSeq
    val delta = doomedKeys.map(k => (k, "", 1L, true)).toDF("k", "text", "version", "deleted")
    CorpusMerge.merge(spark, dir, delta, "k", nBuckets = N)
    assert(!new java.io.File(dir, s"bucket=$doomedBucket").exists(),
      "a bucket whose every key was deleted must be removed")
    val left = spark.read.parquet(dir).select("k").as[Long].collect().toSet
    assert(doomedKeys.forall(!left.contains(_)) && left.size == 40 - doomedKeys.size)
  }

  test("a delta with two rows for one key is refused (MERGE precondition)") {
    val (dir, _) = writeFixture()
    val delta = Seq((3L, "a", 1L, false), (3L, "b", 2L, false))
      .toDF("k", "text", "version", "deleted")
    val e = intercept[IllegalArgumentException](
      CorpusMerge.merge(spark, dir, delta, "k", nBuckets = N))
    assert(e.getMessage.contains("multiple rows"))
  }

  test("a missing surviving-bucket observation fails closed instead of deleting buckets") {
    intercept[IllegalStateException](CorpusMerge.survivingBuckets(Map.empty))
    intercept[IllegalStateException](CorpusMerge.survivingBuckets(Map("buckets" -> null)))
    // an observed empty set is real: every touched bucket was tombstoned
    assert(CorpusMerge.survivingBuckets(Map("buckets" -> Seq.empty[Long])) == Set.empty[Long])
    assert(CorpusMerge.survivingBuckets(Map("buckets" -> Seq(2L, 5L))) == Set(2L, 5L))
  }
}
