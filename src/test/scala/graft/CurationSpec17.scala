package graft

import org.apache.spark.sql.functions._

/** Invariants of the seventeenth batch beyond the oracle gate. */
class CurationSpec17 extends SparkSpec {

  /** Reference Holt fold (alpha=0.3, beta=0.1, Q20), Java-truncating
    * division — the single definition batch, stream and oracle share.
    */
  def holtRef(cs: Seq[Long]): Seq[(Long, Long)] = {
    val Q = 1048576L
    var l = cs.head * Q; var b = 0L
    (l, b) +: cs.tail.map { c =>
      val lnew = (3 * c * Q + 7 * (l + b)) / 10
      b = (lnew - l + 9 * b) / 10
      l = lnew
      (l, b)
    }
  }

  test("holt: exact Scala recompute per event_type") {
    val rows = graft.queries.EventQueries.holt.fn(spark, sf0001)
      .orderBy("event_type").collect()
    assert(rows.nonEmpty)
    val series = Tables.events(spark, sf0001)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2.getTime).map(_._3).toSeq).toMap
    for (r <- rows) {
      val cs = series(r.getString(0))
      val (l, b) = holtRef(cs).last
      assert(r.getLong(1) == cs.length.toLong, s"n_hours ${r.getString(0)}")
      assert(r.getLong(2) == cs.last, s"last_cnt ${r.getString(0)}")
      assert(r.getLong(3) == l && r.getLong(4) == b, s"fold ${r.getString(0)}")
      assert(r.getLong(5) == l + 3 * b)
    }
  }

  test("prefix_dup: every derived truncation with >= 16 source tokens is caught") {
    val row = graft.queries.DedupQueries.prefixDup.fn(spark, sf0001).head()
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // truncations whose halves still have >= 8 tokens enter the blocked
    // join; each must pair with its own source at minimum
    val eligible = docs.filter { case (id, t) =>
      id % 9 == 0 && (t.split(" ", -1).length + 1) / 2 >= 8
    }
    assert(row.getLong(0) >= eligible.length.toLong, "n_pairs under-counts truncations")
    assert(row.getLong(1) >= eligible.length.toLong, "n_prefix_docs")
    // a half-truncation keeps roughly half the chars: the mean prefix
    // share must sit in a sane band (not 0, not ~1)
    assert(row.getLong(3) > 2000 && row.getLong(3) < 8000,
      s"avg_prefix_bp ${row.getLong(3)}")
  }
}
