package graft

import org.apache.spark.sql.functions._
import graft.operators.IvfIndex

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*) = xs.toSeq

  private lazy val emb = Seq(
    (0L, vec(1.0, 0.0)), (1L, vec(0.0, 1.0)),           // seeds -> clusters 0, 1
    (2L, vec(0.9, 0.1)), (3L, vec(0.8, 0.0)),           // near cluster 0
    (4L, vec(0.1, 0.9)), (5L, vec(0.0, 0.8))            // near cluster 1
  ).toDF("vec_id", "embedding")

  private lazy val seeds = emb.filter(col("vec_id") < 2)
    .select(col("vec_id").as("cluster"), col("embedding").as("cv"))

  test("assign routes every vector to its nearest seed, ties to lower id") {
    val a = IvfIndex.assign(emb, seeds).orderBy("vec_id")
      .as[(Long, Long)].collect().toSeq
    assert(a == Seq((0L, 0L), (1L, 1L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L)))
  }

  test("probe scan PRUNES at the partition level (PartitionFilters, not post-scan)") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    IvfIndex.build(emb, seeds, dir)
    // one directory per cluster on disk
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("cluster="))
    assert(parts.sorted.toSeq == Seq("cluster=0", "cluster=1"))
    val probe = IvfIndex.probe(spark, dir, Seq(1L))
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = "PartitionFilters: \\[[^\\]]*cluster[^\\]]*= 1[^\\]]*\\]".r
    assert(pf.findFirstIn(plan).isDefined,
      s"expected a literal partition filter on cluster=1:\n$plan")
    // and the filter actually restricts rows read
    assert(probe.select("vec_id").as[Long].collect().sorted.toSeq == Seq(1L, 4L, 5L))
  }

  test("publishVersion refuses a precomputed assignment that misses a vec_id") {
    val root = java.nio.file.Files.createTempDirectory("ivfasg").toString
    val partial = IvfIndex.assign(emb, seeds).filter(col("vec_id") =!= 4L).localCheckpoint()
    val e = intercept[IllegalArgumentException](
      IvfIndex.publishVersion(emb, seeds, root, "v1", Some(partial)))
    assert(e.getMessage.contains("1 vec_id"))
    assert(!new java.io.File(root, "MANIFEST").exists())
    // a re-run with a complete one overwrites the partial version
    IvfIndex.publishVersion(emb, seeds, root, "v1", Some(IvfIndex.assign(emb, seeds).localCheckpoint()))
    assert(spark.read.parquet(s"$root/v1/index").count() == 6L)
  }

  test("pruneVersions keeps current + previous; an in-flight read on the previous pointer survives") {
    val root = java.nio.file.Files.createTempDirectory("ivfprune").toString
    for (v <- Seq("v1", "v2", "v3")) {
      IvfIndex.publishVersion(emb, seeds, root, v)
      // force a strict mtime order regardless of fs timestamp granularity
      new java.io.File(root, v).setLastModified(1700000000000L +
        v.drop(1).toLong * 60000L)
    }
    assert(IvfIndex.currentVersion(spark, root) == "v3")
    // a reader planned against the PREVIOUS pointer before the prune
    val inflight = IvfIndex.probe(spark, s"$root/v2/index", Seq(0L, 1L))
    val doomed = IvfIndex.pruneVersions(spark, root, keep = 2)
    assert(doomed == Seq("v1"), s"expected only v1 pruned, got $doomed")
    val left = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName)
    assert(left.sorted.toSeq == Seq("v2", "v3"))
    // the in-flight plan still reads intact files
    assert(inflight.count() == 6L)
    assert(IvfIndex.currentVersion(spark, root) == "v3")
  }

  test("pruneVersions never deletes the MANIFEST target, even when it is the oldest") {
    val root = java.nio.file.Files.createTempDirectory("ivfprune2").toString
    for (v <- Seq("v1", "v2", "v3")) {
      IvfIndex.publishVersion(emb, seeds, root, v)
      new java.io.File(root, v).setLastModified(1700000000000L +
        v.drop(1).toLong * 60000L)
    }
    assert(IvfIndex.prevVersion(spark, root).contains("v2"))
    IvfIndex.publishManifest(spark, root, "v1") // roll BACK the pointer
    // the rollback's own swap records the outgoing pointer — serving
    // HISTORY, which diverges from mtime order exactly here
    assert(IvfIndex.prevVersion(spark, root).contains("v3"))
    val doomed = IvfIndex.pruneVersions(spark, root, keep = 1)
    // v3 survives as the previously-SERVED version (MANIFEST.prev — an
    // in-flight reader may still be bound to it), v1 as the pointer
    // target; only v2, adjacent in mtime but not in pointer history,
    // is prunable (round-15 ADVICE: retention follows pointer history)
    assert(doomed == Seq("v2"), s"expected only v2 pruned, got $doomed")
    assert(IvfIndex.probe(spark, s"$root/v1/index", Seq(0L)).count() > 0)
    assert(IvfIndex.probe(spark, s"$root/v3/index", Seq(0L)).count() > 0,
      "the previously-served version must survive the prune")
  }

  test("drift trigger: i.i.d. appends stay under threshold, a drifted mode crosses it, retrain resets") {
    val root = java.nio.file.Files.createTempDirectory("ivfdrift").toString
    IvfIndex.publishVersion(emb, seeds, root, "v1")
    // build_hist froze the build-time routing: 3 vectors per cluster
    val bh = spark.read.parquet(s"$root/v1/build_hist")
      .as[(Long, Long)].collect().toMap
    assert(bh == Map(0L -> 3L, 1L -> 3L))
    assert(IvfIndex.driftStat(spark, root) == 0.0, "no appends yet")
    // i.i.d.-shaped append: same vectors under fresh ids routes 3/3 —
    // the append distribution equals the build distribution exactly
    IvfIndex.appendVectors(
      emb.select(col("vec_id") + 100 as "vec_id", col("embedding")), root)
    assert(IvfIndex.driftStat(spark, root) == 0.0)
    assert(!IvfIndex.needsCompaction(spark, root))
    // drifted mode: batches of 3 vectors all nearest cluster 1 — after
    // three, the cumulative append distribution is (3, 12)/15 = (0.2,
    // 0.8) vs build (0.5, 0.5): TV = 0.3, past the 0.25 threshold
    for (_ <- 1 to 3)
      IvfIndex.appendVectors(
        emb.filter(col("vec_id") >= 3)
          .select(col("vec_id") + 200 as "vec_id",
            array(lit(0.0), lit(1.0)).as("embedding")), root)
    assert(IvfIndex.driftStat(spark, root) > 0.25,
      s"drifted appends must cross: ${IvfIndex.driftStat(spark, root)}")
    assert(IvfIndex.needsCompaction(spark, root))
    // the rule's action: retrain + swap — the fresh version has no
    // appends yet, so the stat resets and the trigger re-arms
    IvfIndex.publishVersion(emb, seeds, root, "v2")
    assert(IvfIndex.driftStat(spark, root) == 0.0)
    assert(!IvfIndex.needsCompaction(spark, root))
  }

  test("appendVectors raises on the lost-update race (pointer moved mid-append)") {
    val root = java.nio.file.Files.createTempDirectory("ivfappend").toString
    IvfIndex.publishVersion(emb, seeds, root, "v1")
    // a UDF inside the appended frame flips the MANIFEST while the
    // append job is running — the post-write re-check must throw so
    // the caller re-appends into the new version
    // write through raw java.nio AND drop the Hadoop checksum shadow —
    // LocalFileSystem would otherwise fail the re-read with a
    // ChecksumException instead of reaching the lost-update check
    val manifest = java.nio.file.Paths.get(root, "MANIFEST")
    val crc = java.nio.file.Paths.get(root, ".MANIFEST.crc")
    val flip = udf { (id: Long) =>
      java.nio.file.Files.write(manifest, "v2".getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(crc); id
    }
    val sneaky = emb.select(flip(col("vec_id")).as("vec_id"), col("embedding"))
    val e = intercept[IllegalStateException](IvfIndex.appendVectors(sneaky, root))
    assert(e.getMessage.contains("lost-update"))
    // the happy path still appends and reports the version it used
    java.nio.file.Files.write(manifest, "v1".getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(crc)
    val before = spark.read.parquet(s"$root/v1/index").count()
    assert(IvfIndex.appendVectors(
      emb.select(col("vec_id") + 100 as "vec_id", col("embedding")), root) == "v1")
    assert(spark.read.parquet(s"$root/v1/index").count() == before + 6)
  }

  test("nprobe artifact serve equals the in-session nprobe probe row-for-row") {
    // round 13 (verdict item 6): the persisted-centroid serve path at
    // nprobe=2 — save→load→widened probe must be bit-identical to the
    // in-session q_ivf_nprobe (both also share one DuckDB oracle, so
    // the driver's hash gate re-proves this at sf0.01)
    val a = graft.queries.AnnQueries.ivfNprobe.fn(spark, sf0001)
    val b = graft.queries.AnnQueries2.ivfNprobeArtifact.fn(spark, sf0001)
    assert(a.collect().toSeq == b.collect().toSeq)
    assert(graft.queries.AnnQueries2.ivfNprobeArtifact.oracle ==
      graft.queries.AnnQueries.ivfNprobe.oracle,
      "artifact twin must reuse the in-session oracle verbatim")
  }
}
