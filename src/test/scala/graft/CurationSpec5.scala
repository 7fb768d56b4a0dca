package graft

import org.apache.spark.sql.functions._

/** Invariants of the fifth curation batch beyond the oracle gate:
  * brute-force recounts and analytic sanity bounds.
  */
class CurationSpec5 extends SparkSpec {

  test("retention: cohort sizes partition the user base; retained <= cohort size") {
    val rows = graft.queries.EventQueries.retention.fn(spark, sf0001).collect()
    val nUsers = Tables.events(spark, sf0001).select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == nUsers)
    for (r <- rows) {
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= r.getLong(1))
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 10000)
    }
  }

  test("retention: d1 figure matches a brute-force recount") {
    val rows = graft.queries.EventQueries.retention.fn(spark, sf0001).collect()
    val ud = Tables.events(spark, sf0001)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val byUser = ud.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val d1 = byUser.toSeq.map { case (u, ds) => (ds.min, ds.contains(ds.min.plusDays(1))) }
      .groupBy(_._1).view.mapValues(_.count(_._2).toLong).toMap
    for (r <- rows)
      assert(r.getLong(2) == d1.getOrElse(r.getDate(0).toLocalDate, 0L),
        s"cohort ${r.getDate(0)}")
  }

  test("zipf fit: slope is negative and matches a driver-side OLS recount") {
    val row = graft.queries.TextStatsQueries.zipfFit.fn(spark, sf0001).collect().head
    val (n, slope, icept) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
    assert(slope < 0, s"zipf slope $slope")
    val counts = Tables(spark, sf0001, "documents").select("text").collect()
      .flatMap(_.getString(0).split(" ")).groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (t, c) => (-c, t) }
    assert(n == counts.length)
    val q = counts.zipWithIndex.map { case ((_, c), i) =>
      (math.floor(math.log(i + 1.0) * 1048576).toLong,
        math.floor(math.log(c.toDouble) * 1048576).toLong)
    }
    val (sx, sy) = (q.map(_._1).sum.toDouble, q.map(_._2).sum.toDouble)
    val sxy = q.map(p => p._1 * p._2).sum.toDouble
    val sxx = q.map(p => p._1 * p._1).sum.toDouble
    val nn = q.length.toDouble
    val expSlope = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
    assert(math.abs(slope - expSlope) < 1e-12, s"$slope vs $expSlope")
    assert(math.abs(icept - (sy - expSlope * sx) / nn / 1048576.0) < 1e-12)
  }

  test("quality logreg: keep iff learned logit >= 0; logit matches the feature recount") {
    // final-step learned weights from the training trajectory
    val steps = graft.queries.QualityQueries.qualityTrain.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lastStep = steps.map(_._1).max
    val w = steps.filter(_._1 == lastStep).sortBy(_._2).map(_._3)
    assert(w.length == 68 && w.exists(_ != 0L), "trained weights must be non-trivial")
    val out = graft.queries.QualityQueries.qualityLogreg.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    def polyHash(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    var kept = 0
    for (r <- Tables(spark, sf0001, "documents").select("doc_id", "text").collect()) {
      val toks = r.getString(1).split(" ", -1)
      val nt = toks.length.toLong
      val buckets = new Array[Long](64)
      toks.foreach(t => buckets((polyHash(t) % 64).toInt) += 1)
      val f = buckets.map(_ * 10000 / nt) ++ Array(
        math.min(nt, 100) * 100,
        toks.distinct.length.toLong * 10000 / nt,
        toks.count(t => t == "a" || t == "the").toLong * 10000 / nt,
        10000L)
      val logit = f.zip(w).map { case (x, wj) => x * wj }.sum / 10000L
      val (gotLogit, gotKeep) = out(r.getLong(0))
      assert(gotLogit == logit, s"doc ${r.getLong(0)}")
      assert(gotKeep == (logit >= 0))
      if (gotKeep) kept += 1
    }
    // the learned head must actually separate: both classes present
    assert(kept > 0 && kept < out.size, s"degenerate split: $kept of ${out.size}")
  }

  test("temperature mix: flattening moves every share toward the mean") {
    val rows = graft.queries.MixingQueries.temperatureMix.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val meanBp = 10000L / rows.length
    for ((src, _, shareBp, tempBp) <- rows) {
      // sqrt-temperature compresses the distribution: anything above the
      // mean share must not move further from it, and vice versa (integer
      // floors allow 1 bp of slack on each comparison)
      if (shareBp > meanBp) assert(tempBp <= shareBp + 1, src)
      if (shareBp < meanBp) assert(tempBp + 1 >= shareBp, src)
    }
    assert(math.abs(rows.map(_._4).sum - 10000L) <= rows.length) // floors undershoot
  }

  test("pipeline funnel: monotone non-increasing stage counts, raw totals exact") {
    val rows = graft.queries.QualityQueries.pipelineFunnel.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq ==
      Seq("00_raw", "10_quality", "20_exact_dedup", "30_train_split", "40_decontam"))
    val docs = Tables(spark, sf0001, "documents").select("text").collect()
    assert(rows.head._2 == docs.length)
    assert(rows.head._3 == docs.map(_.getString(0).split(" ").length.toLong).sum)
    for (Array((sa, da, ta), (sb, db, tb)) <- rows.sliding(2)) {
      assert(db <= da, s"$sb docs grew vs $sa")
      assert(tb <= ta, s"$sb tokens grew vs $sa")
    }
  }

  test("dau/wau: dau <= wau; first observed day has dau == wau") {
    val rows = graft.queries.EventQueries.dauStickiness.fn(spark, sf0001).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1.toEpochDay)
    assert(rows.nonEmpty)
    for ((d, dau, wau, bp) <- rows) {
      assert(dau <= wau, s"$d dau > wau")
      assert(bp == dau * 10000 / wau, s"$d bp")
    }
    // the earliest day's window contains only itself
    assert(rows.head._2 == rows.head._3, "first day dau != wau")
  }

  test("semdedup recall: within-cluster pairs are a subset; bp consistent") {
    val Array(row) = graft.queries.NearDupQueries.semdedupRecall.fn(spark, sf0001).collect()
    val (n, within, bp) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(n > 0, "no ground-truth pairs at sf0.001")
    assert(within <= n)
    assert(bp == within * 10000 / n)
  }

  test("mad outliers: medians match a driver-side sort recount; fence respected") {
    val out = graft.queries.EventQueries.madOutliers.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    val ev = Tables.events(spark, sf0001)
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    for ((t, rows) <- ev.groupBy(_._1)) {
      val sorted = rows.sortBy(r => (r._3, r._2))
      val med = sorted((sorted.length + 1) / 2 - 1)._3
      val devs = rows.map(r => (math.abs(r._3 - med), r._2)).sortBy(identity)
      val mad = devs((devs.length + 1) / 2 - 1)._1
      val nOut = rows.count(r => math.abs(r._3 - med) > 3 * 1.4826 * mad).toLong
      val (n, gMed, gMad, gOut) = out(t)
      assert(n == rows.length && gMed == med && gMad == mad && gOut == nOut, s"type $t")
    }
  }

  test("source overlap: symmetric rollup of the verified LSH pairs") {
    val pairs = {
      val hs = graft.operators.Dedup.shingleHashTable(
        Tables(spark, sf0001, "documents"), "doc_id", "text", 3)
      val sig = graft.operators.Dedup.minhashSignatures(hs, "doc_id")
      graft.operators.Dedup.jaccardForPairs(
          graft.operators.Dedup.lshCandidates(sig, "doc_id"), hs, "doc_id")
        .filter(col("jaccard") >= 0.2).select("ida", "idb").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val src = Tables(spark, sf0001, "documents").select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = pairs.map { case (a, b) =>
      val (sa, sb) = (src(a), src(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = graft.queries.DecontamQueries.sourceOverlap.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    assert(got.values.sum == pairs.length.toLong)
  }

  test("embed outliers: fence is the exact p95 order statistic; counts match") {
    val out = graft.queries.AnnQueries.embedOutliers.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val emb = Tables.embeddings(spark, sf0001).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def qL2(a: Array[Double], b: Array[Double]): Long =
      a.zip(b).map { case (x, y) => math.floor((x - y) * (x - y) * 35184372088832.0).toLong }.sum
    val seeds = (0L until 8L).map(c => c -> emb(c))
    val asg = emb.toSeq.map { case (id, v) =>
      val (d2, c) = seeds.map { case (c, cv) => (qL2(v, cv), c) }.min
      (c, id, d2)
    }
    for ((c, members) <- asg.groupBy(_._1)) {
      val sorted = members.sortBy(m => (m._3, m._2))
      val fence = sorted((sorted.length * 95 + 99) / 100 - 1)._3
      val nOut = members.count(_._3 > fence).toLong
      val (n, gFence, gOut) = out(c)
      assert(n == members.length && gFence == fence && gOut == nOut, s"cluster $c")
    }
  }
}
