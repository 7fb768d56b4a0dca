package graft

/** Invariants of the twenty-seventh batch (winnow tuner). */
class CurationSpec27 extends SparkSpec {

  test("winnow_tuning: density decreases in w and tracks 2/(w+1) from above") {
    val rows = graft.queries.DedupQueries.winnowTuning.fn(spark, sf0001)
      .orderBy("w").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(2L, 4L, 8L, 16L))
    for ((w, g, _, theory) <- rows) {
      assert(g == w + 2, "guarantee length is w+n-1")
      assert(theory == 20000 / (w + 1))
    }
    // density strictly decreases with w
    assert(rows.map(_._3).sliding(2).forall(p => p(0) > p(1)), "density not monotone")
    // realized density sits AT or ABOVE theory (distinct-collapse on a
    // finite alphabet raises it slightly; never below half of theory)
    for ((w, _, d, t) <- rows)
      assert(d >= t / 2 && d <= t * 2, s"w=$w density $d vs theory $t")
  }
}
