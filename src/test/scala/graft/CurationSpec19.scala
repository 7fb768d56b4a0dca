package graft

import org.apache.spark.sql.functions._

/** Invariants of the nineteenth batch (PII scan + redaction). */
class CurationSpec19 extends SparkSpec {

  test("pii_scan: every injected residue class is detected, nothing else fires") {
    val rows = graft.queries.LinkageQueries.piiScan.fn(spark, sf0001).collect()
    val ids = Tables(spark, sf0001, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    // the synthetic corpus carries no organic PII, so hit totals must
    // EQUAL the injected counts per residue class
    assert(rows.map(_.getLong(4)).sum == ids.count(_ % 7 == 0).toLong, "email hits")
    assert(rows.map(_.getLong(5)).sum == ids.count(_ % 11 == 0).toLong, "ip hits")
    assert(rows.map(_.getLong(6)).sum == ids.count(_ % 13 == 0).toLong, "key hits")
    val flagged = rows.map(_.getLong(2)).sum
    val expect = ids.count(i => i % 7 == 0 || i % 11 == 0 || i % 13 == 0).toLong
    assert(flagged == expect, s"flagged $flagged != $expect")
  }

  test("redact: scan of the redacted corpus is clean; hits gone, tags present") {
    val redRows = graft.queries.LinkageQueries.redact.fn(spark, sf0001).collect()
    val ids = Tables(spark, sf0001, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val expectChanged = ids.count(i => i % 7 == 0 || i % 11 == 0 || i % 13 == 0).toLong
    assert(redRows.map(_.getLong(1)).sum == expectChanged, "docs_changed")
    // redaction removes net characters (every injected span is longer
    // than its tag)
    assert(redRows.map(_.getLong(2)).sum > 0, "chars_removed must be positive")
    // idempotence/integrity: recomputing yields identical xor hashes
    val again = graft.queries.LinkageQueries.redact.fn(spark, sf0001).collect()
    assert(redRows.map(r => (r.getString(0), r.getLong(3))).toSet ==
      again.map(r => (r.getString(0), r.getLong(3))).toSet,
      "redaction is not deterministic")
  }
}
