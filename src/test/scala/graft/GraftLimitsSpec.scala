package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bounded-literal contract is ENFORCED, not just documented
  * (round-13 item 4): a corpus-derived vocabulary or weight frame fed
  * to a closure-literal path must fail fast at plan construction with
  * the measured rationale, instead of shipping a Heaps-growing map in
  * every task closure (priced at decade slope 4.98 by the round-12
  * linear-vocab probe).
  */
class GraftLimitsSpec extends AnyFunSuite {

  test("tokenizer-bounded vocab passes through unchanged") {
    val v = Map("a" -> 1L, "b" -> 2L)
    assert(GraftLimits.requireBoundedVocab(v, "spec") eq v)
  }

  test("corpus-sized vocab fails fast with the measured rationale") {
    val big = (0 to GraftLimits.MaxLiteralVocab).map(i => s"tok$i" -> i.toLong).toMap
    val e = intercept[IllegalArgumentException] {
      GraftLimits.requireBoundedVocab(big, "spec")
    }
    assert(e.getMessage.contains("4.98"), "message must cite the priced slope")
    assert(e.getMessage.contains("saveVocabFrame"), "message must name the cure")
  }

  test("count form gates BEFORE the driver materialization") {
    GraftLimits.requireBoundedVocabCount(GraftLimits.MaxLiteralVocab.toLong, "spec")
    val e = intercept[IllegalArgumentException] {
      GraftLimits.requireBoundedVocabCount(GraftLimits.MaxLiteralVocab + 1L, "spec")
    }
    assert(e.getMessage.contains("refusing to collect"),
      "message must state the collect is being refused, not just the literal")
    assert(e.getMessage.contains("4.98") && e.getMessage.contains("saveVocabFrame"))
  }

  test("feature-grid weight vector passes; corpus-sized frame fails") {
    val w = Seq(1L, 2L, 3L)
    assert(GraftLimits.requireBoundedWeights(w, "spec") eq w)
    val e = intercept[IllegalArgumentException] {
      GraftLimits.requireBoundedWeights(
        Seq.fill(GraftLimits.MaxLiteralWeights + 1)(0L), "spec")
    }
    assert(e.getMessage.contains("joined table"))
  }

  test("streaming entry points route through the guard") {
    // the guard must sit ON the stream constructors, not only exist:
    // an oversized vocab must abort packedBlocks/encodedDocs before any
    // plan is built (no Spark session needed — failure is driver-side)
    val big = (0 to GraftLimits.MaxLiteralVocab).map(i => s"tok$i" -> i.toLong).toMap
    intercept[IllegalArgumentException] {
      graft.streaming.TokenizerStreams.encodedDocs(null, Seq.empty, big)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.PackerStreams.packedBlocks(null, Seq.empty, big)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.QualityStreams.scoredDocs(null,
        Seq.fill(GraftLimits.MaxLiteralWeights + 1)(0L))
    }
  }
}

/** Session-backed half of the bounded-literal contract: the
  * stream-static dim guard reads Catalyst plan statistics, so it needs
  * a session (but never runs a job — the check is plan-time).
  */
class GraftLimitsSparkSpec extends SparkSpec {
  test("artifact-sized dim passes; estimated fact-scaled dim fails fast") {
    import spark.implicits._
    val small = Seq(("click", 1L), ("view", 2L)).toDF("event_type", "wt")
    assert(GraftLimits.requireBoundedDim(small, "spec").columns.sameElements(
      Array("event_type", "wt")))
    // a self-crossjoined parquet scan estimates quadratic — far past the
    // 1 GiB cap without materializing anything
    val events = spark.read.parquet(s"$sf0001/events.parquet")
    val e2 = events.select(org.apache.spark.sql.functions.col("event_type").as("e2"))
    val e3 = events.select(org.apache.spark.sql.functions.col("event_type").as("e3"))
    val huge = events.crossJoin(e2).crossJoin(e3)
    val e = intercept[IllegalArgumentException] {
      GraftLimits.requireBoundedDim(huge, "spec")
    }
    assert(e.getMessage.contains("pre-bucketed store"))
  }

  test("tokenizerArtifacts refuses a corpus-derived vocabulary before collecting it") {
    // round-13 watch item: the Θ(vocab) driver collect used to happen
    // BEFORE any guard fired (the map-form guard sat at the stream
    // constructor, after the allocation). A corpus whose post-merge
    // vocabulary exceeds the literal cap must now fail at the
    // distributed count, with the refusal message — not OOM the driver
    // and not fail only downstream.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("vocab-guard").toString
    val n = GraftLimits.MaxLiteralVocab + 2048
    spark.range(n)
      .select((col("id") / 100).cast("long").as("doc_id"),
        concat(lit("tok"), col("id")).as("tok"))
      .groupBy("doc_id").agg(concat_ws(" ", collect_list(col("tok"))).as("text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.queries.TokenizerQueries.tokenizerArtifacts(spark, dir)
    }
    assert(e.getMessage.contains("refusing to collect"),
      s"guard must fire at the count, got: ${e.getMessage}")
  }
}
