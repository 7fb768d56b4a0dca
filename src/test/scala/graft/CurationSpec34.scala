package graft

import org.apache.spark.sql.functions._

/** Batch-36 checks: the k-anonymity audit against a direct recount
  * (both flag values must occur on the fixture, and the threshold edge
  * must be exact), and the DP count release's mechanism — released =
  * exact + keyed noise, geometric trailing-ones magnitude, and
  * rerun-determinism (same key → same draw, the anti-averaging
  * property the keyed mechanism exists for).
  */
class CurationSpec34 extends SparkSpec {

  test("k-anon audit: flags equal a direct recount and both flags occur") {
    // sf0.01 — the oracle's SF, where QI group sizes straddle k=10
    // (5–21); at sf0.001 every group is tiny and only suppress=1 occurs
    val dir = "/root/testdata/sf0.01"
    val got = queries.LinkageQueries.kanonAudit.fn(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = Tables(spark, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment").count()
      .collect().map { r =>
        val c = r.getLong(2)
        (r.getInt(0), r.getString(1), c, if (c < 10) 1L else 0L)
      }
    assert(got.toSet == want.toSet)
    assert(got.exists(_._4 == 1L) && got.exists(_._4 == 0L),
      "fixture must exercise both suppress flags")
    got.foreach { g => assert((g._4 == 1L) == (g._3 < 10), s"threshold edge wrong: $g") }
  }

  test("dp counts: released = exact + keyed geometric noise, deterministic across runs") {
    def run() = queries.LinkageQueries.dpCounts.fn(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val a = run()
    val exact = Tables.events(spark, sf0001).groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    a.foreach { case (t, released, noise) =>
      assert(released == exact(t) + noise, s"release identity broken for $t")
      assert(math.abs(noise) <= 20, s"geometric magnitude out of range for $t: $noise")
    }
    // rerun-determinism: the keyed mechanism must return the SAME draw
    // (noise averaging across repeated releases would break the privacy
    // accounting a keyed draw is chosen to avoid)
    assert(a.sameElements(run()))
    assert(a.exists(_._3 != 0L), "fixture must draw at least one nonzero noise")
  }
}
