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

  test("feature-grid weight vector passes; corpus-sized frame fails") {
    val w = Seq(1L, 2L, 3L)
    assert(GraftLimits.requireBoundedWeights(w, "spec") eq w)
    val e = intercept[IllegalArgumentException] {
      GraftLimits.requireBoundedWeights(
        Seq.fill(GraftLimits.MaxLiteralWeights + 1)(0L), "spec")
    }
    assert(e.getMessage.contains("joined table"))
  }

  test("the weights literal routes through the guard") {
    // the guard must sit ON the literal builder the scorers call, not
    // only exist: an oversized weight vector aborts before any plan is
    // built (no Spark session needed — failure is driver-side)
    val e = intercept[IllegalArgumentException] {
      graft.queries.QualityQueries.weightsLit(
        Seq.fill(GraftLimits.MaxLiteralWeights + 1)(0L), "spec")
    }
    assert(e.getMessage.contains("spec: literal weight vector"), "message must name the caller")
  }
}

/** Session-backed half of the bounded-literal contract: the dim guard
  * reads Catalyst plan statistics (a plan-time check, never a job), so
  * it needs a session.
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
}
