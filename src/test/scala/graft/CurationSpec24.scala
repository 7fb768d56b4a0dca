package graft

import org.apache.spark.sql.functions._

/** Invariants of the twenty-fourth batch (FK audit). */
class CurationSpec24 extends SparkSpec {

  test("fk_audit: exact recompute of orphan and fan-out accounting") {
    val rows = graft.queries.RelationalQueries.fkAudit.fn(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet == Set("lineitem->orders", "orders->customer", "customer->nation"))
    val li = Tables(spark, sf0001, "lineitem").select("l_orderkey")
      .collect().map(_.getLong(0))
    val ok = Tables(spark, sf0001, "orders").select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    val (n, k, o, mx, avg) = rows("lineitem->orders")
    assert(n == li.length.toLong)
    assert(k == li.distinct.length.toLong)
    assert(o == li.count(x => !ok.contains(x)).toLong)
    val fan = li.filter(ok.contains).groupBy(identity).map(_._2.length.toLong)
    assert(mx == fan.max)
    assert(avg == fan.sum * 100 / fan.size)
    // TPC-H-shaped fixtures hold referential integrity: zero orphans
    // everywhere (the audit exists for the day that stops being true)
    assert(rows.values.forall(_._3 == 0L))
  }
}
