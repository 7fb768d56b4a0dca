package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The registry runner's guarantee: a query that throws is loud in the
  * artifacts, and a name that is not in the registry is refused before
  * anything runs. Verify writes a failed query to errors.json (instead
  * of silently shrinking the driver's ledger) and Bench lists it under
  * "failed" with no time booked (instead of booking time-to-exception
  * as an 8-13x "speedup"). Failures are driven by pointing the harness
  * at a nonexistent fixture dir, which fails every query at the read —
  * the same failure class as a fixture's schema drifting under a query.
  */
class HarnessSpec extends SparkSpec {

  test("Verify records a failing query in errors.json, not silence") {
    val out = Files.createTempDirectory("verify-failtest").toString
    Verify.run(spark, "/nonexistent_fixture_dir", out, Some(Set("q1_pricing", "q_chunk")))
    val errs = Files.readString(java.nio.file.Paths.get(s"$out/errors.json"))
    assert(errs.contains("\"q1_pricing\"") && errs.contains("\"q_chunk\""),
      s"failing queries missing from errors.json: $errs")
    // and no result parquet appeared for them
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/q1_pricing/_SUCCESS")))
  }

  test("Verify writes an empty errors.json when every query succeeds") {
    val out = Files.createTempDirectory("verify-oktest").toString
    Verify.run(spark, sf0001, out, Some(Set("q1_pricing")))
    val errs = Files.readString(java.nio.file.Paths.get(s"$out/errors.json"))
    assert(errs.trim == "{}", s"unexpected errors on a green run: $errs")
    assert(Files.exists(java.nio.file.Paths.get(s"$out/q1_pricing/_SUCCESS")))
  }

  test("Verify refuses an unknown query name and writes nothing") {
    val out = Files.createTempDirectory("verify-typotest").resolve("out")
    val e = intercept[IllegalArgumentException] {
      Verify.run(spark, sf0001, out.toString, Some(Set("q1_pricng")))
    }
    assert(e.getMessage.contains("q1_pricng"), e.getMessage)
    assert(!Files.exists(out), "a refused run must leave no artifact behind")
  }

  test("select lists every unknown name, and no names selects the whole registry") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Seq("q_chunk", "q_zz_missing", "q1_pricng"))
    }
    assert(e.getMessage.contains("q1_pricng, q_zz_missing"), e.getMessage)
    assert(SparkEntry.select(Seq("q_chunk", "q1_pricing")).map(_.name) ==
      Seq("q1_pricing", "q_chunk"))
    assert(SparkEntry.select(Nil).map(_.name) == SparkEntry.registry.map(_.name).sorted)
  }

  test("Bench lists a failing query under failed and books no time for it") {
    val (json, summary) =
      Bench.run(spark, "/nonexistent_fixture_dir", Some(Set("q1_pricing", "q_chunk")))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def failed(line: String): Set[String] =
      mapper.readTree(line).get("failed").elements().asScala.map(_.asText).toSet
    val full = mapper.readTree(json)
    assert(failed(json) == Set("q1_pricing", "q_chunk"), json)
    for (key <- Seq("queries", "spread", "canary"))
      assert(full.get(key).size == 0, s"$key books a failed query: $json")
    assert(full.get("value").asDouble == 0.0, json)
    val last = mapper.readTree(summary)
    assert(failed(summary) == Set("q1_pricing", "q_chunk"), summary)
    assert(last.get("queries").size == 0 && last.get("canary").size == 0 &&
      last.get("n_queries").asInt == 0, summary)
  }
}
