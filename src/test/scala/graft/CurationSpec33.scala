package graft

import org.apache.spark.sql.functions._

/** Batch-35 checks: the skyline selector against an in-test brute-force
  * dominance oracle, record-linkage blocking against an all-pairs
  * replay, SCD2 interval invariants + as-of reconstruction, and the
  * encoding audit against INJECTED positives (the fixture is clean
  * ASCII, so the registry oracle only pins the zero case).
  */
class CurationSpec33 extends SparkSpec {

  test("skyline equals the brute-force dominance set and keeps exact ties") {
    val d = queries.MixingQueries.skylineSelect.fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent brute force over the same (n_tok, q_bp) projection
    val all = Tables(spark, sf0001, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 10000" +
          " DIV size(split(text, ' '))").as("q_bp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = all.filter { case (_, t, q) =>
      !all.exists { case (_, t2, q2) => q2 >= q && t2 <= t && (q2 > q || t2 < t) }
    }
    assert(d.sortBy(_._1).sameElements(expected.sortBy(_._1)))
    assert(d.nonEmpty)
    // exact (n_tok, q_bp) ties all survive together: every kept point's
    // duplicates are also kept (no strict dominator can separate them)
    val kept = d.map(x => (x._2, x._3)).toSet
    val dupMates = all.filter(x => kept.contains((x._2, x._3)))
    assert(dupMates.map(_._1).toSet == d.map(_._1).toSet)
  }

  test("record linkage equals the unblocked all-pairs replay restricted to blocks") {
    val got = queries.LinkageQueries.recordLinkage.fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(p => (p._1, p._2))
    val c = Tables(spark, sf0001, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100).as("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3),
        r.getLong(4)))
    def sameBlock(x: (Long, String, Int, String, Long),
                  y: (Long, String, Int, String, Long)): Boolean =
      x._3 == y._3 && x._4 == y._4 && x._2.take(14) == y._2.take(14)
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1) {
        j => if (i == 0) j else if (j == 0) i else 0 })
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val expected = (for {
      x <- c; y <- c
      if x._1 < y._1 && sameBlock(x, y) && lev(x._2, y._2) <= 2
    } yield (x._1, y._1, lev(x._2, y._2).toLong, math.abs(x._5 - y._5)))
      .sortBy(p => (p._1, p._2))
    assert(got.sameElements(expected))
    assert(got.nonEmpty, "fixture must produce candidate pairs")
    // blocking really excludes: some cross-block pair within distance 2
    // exists that the blocked join must NOT emit (the documented recall
    // tradeoff of single-pass blocking)
    val crossBlock = (for {
      x <- c; y <- c
      if x._1 < y._1 && !sameBlock(x, y) && lev(x._2, y._2) <= 2
    } yield (x._1, y._1)).toSet
    assert(crossBlock.nonEmpty && !got.exists(p => crossBlock.contains((p._1, p._2))))
  }

  test("linkage clusters: pairs share an entity, entity is the min member, endpoints only") {
    import spark.implicits._
    val pairs = queries.LinkageQueries.recordLinkage.fn(spark, sf0001)
      .select("key_a", "key_b").as[(Long, Long)].collect()
    val comp = queries.LinkageQueries.linkageClusters.fn(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across entities") }
    comp.groupBy(_._2).foreach { case (c, members) =>
      assert(c == members.keys.min, s"entity $c is not its min member") }
    assert(comp.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet,
      "components must cover exactly the linked endpoints")
  }

  test("scd2 intervals are contiguous, change-only, and reconstruct as-of state") {
    val rows = queries.RelationalQueries.scd2History.fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MaxValue else r.getLong(3), r.getLong(4)))
    val byUser = rows.groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    byUser.foreach { case (u, ivs) =>
      // exactly one open-ended current row, and it is the last interval
      assert(ivs.count(_._5 == 1L) == 1, s"user $u current-row count")
      assert(ivs.last._4 == Long.MaxValue && ivs.last._5 == 1L)
      // contiguity: each valid_to equals the next valid_from
      ivs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 == b._3, s"user $u gap: ${a._4} vs ${b._3}")
          assert(a._2 != b._2, s"user $u consecutive intervals share state ${a._2}")
        case _ =>
      }
    }
    // as-of reconstruction: picking any probe instant, the covering
    // interval's state equals the latest raw event at or before it
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val someUsers = byUser.keys.toSeq.sorted.take(5)
    someUsers.foreach { u =>
      val evs = ev.filter(_._1 == u).sortBy(e => (e._2, e._3))
      val probe = evs(evs.length / 2)._2 // an instant with events on both sides
      val truth = evs.filter(_._2 <= probe).last._4
      val cover = byUser(u).filter(iv => iv._3 <= probe && probe < iv._4)
      assert(cover.length == 1 && cover.head._2 == truth, s"as-of mismatch for user $u")
    }
  }

  test("encoding audit detects injected non-ASCII and control characters") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_encaudit").toString
    Seq(
      (1L, "clean ascii text here", "en", "sA", 21L),
      (2L, "café au lait mojibake", "en", "sA", 20L),
      (3L, "binary\u0001control\u0007bytes", "en", "sB", 20L),
      (4L, "plain words only", "en", "sB", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = queries.QualityQueries.encodingAudit.fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq ==
      Seq(("sA", 2L, 1L, 0L), ("sB", 2L, 0L, 1L)))
    // and the fixture corpus is clean: zero anomalies, nonzero docs
    val fix = queries.QualityQueries.encodingAudit.fn(spark, sf0001)
      .agg(sum("n_docs"), sum("n_nonascii"), sum("n_ctrl")).collect()(0)
    assert(fix.getLong(0) > 0 && fix.getLong(1) == 0 && fix.getLong(2) == 0)
  }

  test("waterfill: level solve invariants on the fixture and on a skewed corpus") {
    def check(dir: String): Unit = {
      val rows = queries.MixingQueries.mixWaterfill.fn(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val nS = rows.length
      val total = rows.map(_._2).sum
      val budget = total / 2
      val alloc = rows.map(_._3).sum
      // budget exhausted up to the floor loss (< one token per source)
      assert(alloc <= budget && budget - alloc < nS,
        s"alloc $alloc vs budget $budget over $nS sources")
      // capped sources give everything they have; uncapped share ONE level
      rows.filter(_._4 == 1L).foreach { r => assert(r._3 == r._2, s"capped $r") }
      val levels = rows.filter(_._4 == 0L).map(_._3).distinct
      assert(levels.length == 1, s"uncapped levels not uniform: ${levels.toSeq}")
      // the water level sits at or above every capped source's supply
      // and at or below every uncapped source's supply
      val level = levels.head
      rows.foreach { r =>
        if (r._4 == 1L) assert(r._2 <= level) else assert(r._2 >= level)
      }
    }
    check(sf0001) // balanced fixture: nobody capped, pure uniform split
    // skewed corpus: two starving sources MUST cap, surplus re-spreads
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_waterfill").toString
    val docs = (1 to 40).map(i => (i.toLong, ("w " * 200).trim, "en", "big", 400L)) ++
      Seq((101L, "a b", "en", "tiny1", 3L), (102L, "c d e", "en", "tiny2", 5L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    check(dir)
    val skew = queries.MixingQueries.mixWaterfill.fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(skew("tiny1") == 1L && skew("tiny2") == 1L && skew("big") == 0L)
  }
}
