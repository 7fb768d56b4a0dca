package graft

import org.apache.spark.sql.functions._

/** Invariants of the twenty-third batch. */
class CurationSpec23 extends SparkSpec {

  test("rule_attribution: consistency with q_gopher_rules' own verdicts") {
    val rows = graft.queries.QualityQueries.ruleAttribution.fn(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("words", "mwl", "stopwords", "short_frac"))
    val gopher = graft.queries.QualityQueries.gopherRules.fn(spark, sf0001).collect()
    val nDocs = gopher.length.toLong
    val nKept = gopher.count(_.getLong(5) == 1L).toLong
    // sole blockers are disjoint across rules and all sit outside the
    // kept set: kept + sum(sole) <= total
    val soleSum = rows.values.map(_._2).sum
    assert(nKept + soleSum <= nDocs)
    // every rule's sole count is bounded by its failure count
    for ((rule, (f, s)) <- rows) assert(s <= f, s"$rule sole > fail")
    // per-rule failure counts recomputed from gopher's emitted inputs
    val f1 = gopher.count(r => !(r.getLong(1) >= 25 && r.getLong(1) <= 80)).toLong
    val f2 = gopher.count(r => !(r.getLong(2) >= 420 && r.getLong(2) <= 560)).toLong
    val f3 = gopher.count(r => !(r.getLong(3) >= 2)).toLong
    val f4 = gopher.count(r => !(r.getLong(4) <= 6)).toLong
    assert(rows("words")._1 == f1 && rows("mwl")._1 == f2 &&
      rows("stopwords")._1 == f3 && rows("short_frac")._1 == f4)
  }

  test("markup_strip: strip is exactly inverse to the injection") {
    val rows = graft.queries.QualityQueries.markupStrip.fn(spark, sf0001).collect()
    val ids = Tables(spark, sf0001, "documents").select("doc_id")
      .collect().map(_.getLong(0))
    val marked = ids.count(_ % 6 == 0).toLong
    assert(rows.map(_.getLong(1)).sum == marked, "docs_marked")
    // 6 tags (<div>, <p>, </p>, <a>, </a>, </div>) and 1 link per marked doc
    assert(rows.map(_.getLong(2)).sum == marked * 6, "n_tags")
    assert(rows.map(_.getLong(3)).sum == marked, "n_links")
    // stripping recovers the original text BODY plus the bare 'link'
    // anchor text: removed chars = injected tag chars exactly
    val tagChars = """<div class="x"><p>""".length + "</p>".length +
      """<a href="https://example.com/a">""".length + "</a></div>".length
    assert(rows.map(_.getLong(4)).sum == marked * tagChars, "chars_removed")
  }
}
