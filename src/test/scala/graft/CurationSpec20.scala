package graft

import org.apache.spark.sql.functions._

/** Invariants of the twentieth batch (MMR selection). */
class CurationSpec20 extends SparkSpec {

  test("mmr_select: exact greedy recompute from raw embeddings; diversity binds") {
    val picked = graft.queries.MixingQueries.mmrSelect.fn(spark, sf0001)
      .orderBy("step").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(picked.length == 5 && picked.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // independent recompute straight from the parquet floats
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Any](1).toArray.map(x => math.floor(x.toString.toDouble * 1048576.0).toLong)))
    val q = vecs.find(_._1 == 0L).get._2
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.foldLeft(0L)((s, i) => s + a(i) * b(i))
    val cand = vecs.filter(_._1 != 0L)
      .map { case (id, e) => (id, e, dot(e, q)) }
      .sortBy(t => (-t._3, t._1)).take(16)
    var sel = Vector.empty[(Long, Array[Long])]
    for (_ <- 1 to 5) {
      val best = cand.filter(c => !sel.exists(_._1 == c._1)).map { c =>
        val ms = if (sel.isEmpty) 0L else sel.map(s => dot(c._2, s._2)).max
        (2 * c._3 - ms, c._1, c._2)
      }.minBy(t => (-t._1, t._2))
      sel = sel :+ ((best._2, best._3))
    }
    assert(picked.map(_._2).toSeq == sel.map(_._1), "greedy trace diverges")
    // diversity must actually bind on this fixture: the MMR set is not
    // simply the relevance top-5 in order
    val top5 = cand.take(5).map(_._1).toSeq
    assert(picked.map(_._2).toSeq != top5,
      "MMR degenerated to pure relevance — the penalty term is dead")
  }
}
