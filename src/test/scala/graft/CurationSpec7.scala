package graft

import org.apache.spark.sql.functions._

/** Invariants of the seventh batch beyond the oracle gate: analytic
  * bounds the quantized metrics must respect by construction.
  */
class CurationSpec7 extends SparkSpec {

  test("tfidf_neardup: pairs ordered, cosine grid bounded, shared terms positive") {
    val rows = graft.queries.NearDupQueries.tfidfNeardup.fn(spark, sf0001).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (a, b, dot, shared) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(a < b, "pair not canonically ordered")
      assert(shared >= 1)
      // dot_q ~ cosine * 2^20; cosine <= 1 with floor-quantization slack
      // (each |wq| <= 1024 but floors are downward, so the true bound is
      // the un-floored norm product): allow 1% headroom over 2^20
      assert(dot >= 524288L && dot <= (1048576L * 101) / 100, s"dot_q $dot out of range")
    }
  }

  test("tfidf_neardup: dot_q approximates the true capped-vocab tf-idf cosine") {
    // independent cross-check with NO quantization grid: recompute the
    // capped-vocabulary tf-idf cosine of the best-scoring pair from raw
    // doubles and require the quantized metric to agree to ~1%. This
    // pins dot_q to the actual cosine definition, not just to itself.
    val top = graft.queries.NearDupQueries.tfidfNeardup.fn(spark, sf0001)
      .orderBy(col("dot_q").desc, col("doc_a").asc, col("doc_b").asc).limit(1)
      .collect().head
    val (da, db, dotQ) = (top.getLong(0), top.getLong(1), top.getLong(2))
    val docs = Tables(spark, sf0001, "documents")
    val tk = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val nd = docs.count().toDouble
    val dfm = tk.distinct().groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 64))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def vec(id: Long): Map[String, Double] =
      tk.filter(col("doc_id") === id).groupBy("tok").agg(count(lit(1)).as("tf"))
        .collect()
        .flatMap(r => dfm.get(r.getString(0))
          .map(df => r.getString(0) -> r.getLong(1) * math.log(nd / df)))
        .toMap
    val (va, vb) = (vec(da), vec(db))
    def norm(v: Map[String, Double]) = math.sqrt(v.values.map(x => x * x).sum)
    val cos = va.keySet.intersect(vb.keySet).toSeq
      .map(t => va(t) * vb(t)).sum / (norm(va) * norm(vb))
    val cosQ = dotQ.toDouble / 1048576.0
    assert(math.abs(cos - cosQ) < 0.01, s"quantized cosine $cosQ vs true $cos")
  }

  test("quality_calibration: sources partition the corpus; nearest-rank bounds hold") {
    val rows = graft.queries.QualityQueries.qualityCalibration.fn(spark, sf0001).collect()
    val nDocs = Tables(spark, sf0001, "documents").count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    for (r <- rows) {
      val (n, tg, tl, kg, kl) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(tg >= 0 && tg <= 10000 && tl >= 0 && tl <= 10000)
      assert(kg >= 0 && kg <= n && kl >= 0 && kl <= n)
      // nearest-rank p10 keeps at least n - ceil(n/10) + 1 docs locally
      assert(kl >= n - (n + 9) / 10 + 1, s"local keep $kl too small for n=$n")
    }
  }

  test("quality_calibration: local calibration equalizes keep rates vs global") {
    val rows = graft.queries.QualityQueries.qualityCalibration.fn(spark, sf0001).collect()
    // local keep rate is ~90% for EVERY source by construction; global
    // keep rate varies with the source's score distribution. The spread
    // (max - min keep rate in basis points) must shrink under local
    // thresholds — that is the entire point of the query.
    def spreadBp(keep: Array[(Long, Long)]): Long = {
      val rates = keep.map { case (k, n) => k * 10000 / n }
      rates.max - rates.min
    }
    val global = spreadBp(rows.map(r => (r.getLong(4), r.getLong(1))))
    val local = spreadBp(rows.map(r => (r.getLong(5), r.getLong(1))))
    assert(local <= global, s"local spread $local > global spread $global")
  }

  test("matryoshka_recall: all prefixes reported, bounded, full-dim row exact") {
    val rows = graft.queries.VectorQueries.matryoshkaRecall.fn(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(8L, 16L, 32L, 64L))
    for (r <- rows) assert(r.getLong(1) >= 0 && r.getLong(1) <= 10)
    // dims=64 truncation is no truncation: recall must be exactly k.
    // (No monotonicity assertion across 8/16/32 — these embeddings are
    // NOT matryoshka-trained, and the fixture's measured curve is
    // non-monotone; reporting that honestly is the query's job.)
    val byDim = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDim(64L) == 10L)
  }

  test("dim_corr: bounded correlations, canonical pair order, top pair verified") {
    val rows = graft.queries.VectorQueries.dimCorr.fn(spark, sf0001).collect()
    assert(rows.length == 20)
    for (r <- rows) {
      assert(r.getLong(0) >= 1 && r.getLong(0) < r.getLong(1) && r.getLong(1) <= 64)
      // |corr| <= 1 with one grid step of floor slack
      assert(math.abs(r.getLong(2)) <= 1048576L + 1)
    }
    // independent double-precision recompute of the top pair's Pearson r
    val top = rows.head
    val (ia, ib) = (top.getLong(0).toInt, top.getLong(1).toInt)
    val xs = Tables(spark, sf0001, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble))
    val (a, b) = (xs.map(_(ia - 1)), xs.map(_(ib - 1)))
    val n = a.length.toDouble
    def m(v: Array[Double]) = v.sum / n
    val (ma, mb) = (m(a), m(b))
    val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
    val r = cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum
      * b.map(y => (y - mb) * (y - mb)).sum)
    assert(math.abs(top.getLong(2) / 1048576.0 - r) < 0.01,
      s"quantized corr ${top.getLong(2) / 1048576.0} vs recomputed $r")
  }

  test("epoch_plan: budget conservation and sqrt-temperature upweighting") {
    val rows = graft.queries.MixingQueries.epochPlan.fn(spark, sf0001).collect()
    val allocs = rows.map(_.getLong(2))
    assert(allocs.forall(_ > 0))
    // floors only lose < 1 token per source
    assert(allocs.sum <= 1000000L && allocs.sum >= 1000000L - rows.length)
    // sqrt temperature: the smallest source gets the highest repeat
    // factor, the largest the lowest
    val byTokens = rows.sortBy(_.getLong(1))
    assert(byTokens.head.getLong(3) == rows.map(_.getLong(3)).max)
    assert(byTokens.last.getLong(3) == rows.map(_.getLong(3)).min)
  }

  test("semdedup_prune: clusters partition the corpus; drops consistent with the pair stream") {
    val prune = graft.queries.NearDupQueries.semDedupPrune.fn(spark, sf0001).collect()
    val emb = Tables(spark, sf0001, "embeddings")
    assert(prune.map(_.getLong(1)).sum == emb.count(), "members must partition the corpus")
    for (r <- prune) {
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1), "dropped + kept = members")
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 10000)
    }
    // total dropped = distinct idb in the mine step's verified pairs
    val pairs = graft.queries.NearDupQueries.semDedup.fn(spark, sf0001)
    val expectDropped = pairs.select("idb").distinct().count()
    assert(prune.map(_.getLong(2)).sum == expectDropped)
  }

  test("autocorr: bounded correlation, pair count one less than day count") {
    val r = graft.queries.EventQueries.autocorr.fn(spark, sf0001).collect().head
    val (nDays, nPairs, ac) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nDays >= 2)
    // contiguous daily fixture: exactly n_days - 1 consecutive pairs
    assert(nPairs == nDays - 1)
    assert(math.abs(ac) <= 1048576L + 1)
  }

  test("media_batches: items and bytes conserved, batch counts cover the payload") {
    val rows = graft.queries.MultimodalQueries.mediaBatches.fn(spark, sf0001).collect()
    val docs = Tables(spark, sf0001, "documents")
    assert(rows.map(_.getLong(1)).sum == docs.count())
    val totBytes = docs.select(sum(octet_length(col("text").cast("binary")).cast("long")))
      .head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == totBytes)
    for (r <- rows) {
      val (bytes, batches) = (r.getLong(2), r.getLong(3))
      assert(batches * 65536 >= bytes && (batches - 1) * 65536 < bytes)
    }
  }

  test("changepoint: argmax of the exact integer CUSUM objective, recomputed independently") {
    val r = graft.queries.EventQueries.changepoint.fn(spark, sf0001).collect().head
    val (splitDay, nDays, dev, preMean, postMean) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    // independent recompute from raw daily counts (days-sized collect)
    val daily = graft.Tables.events(spark, sf0001)
      .groupBy(expr("unix_timestamp(date_trunc('day', ts)) DIV 86400").as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(nDays == daily.length)
    val tot = daily.map(_._2).sum
    val cums = daily.scanLeft(0L)(_ + _._2).tail
    val objs = daily.indices.dropRight(1).map { i =>
      (daily(i)._1, math.abs(nDays * cums(i) - (i + 1) * tot), i + 1, cums(i))
    }
    val best = objs.maxBy(o => (o._2, -o._1))
    assert(splitDay == best._1 && dev == best._2)
    assert(preMean == best._4 / best._3)
    assert(postMean == (tot - best._4) / (nDays - best._3))
  }

  test("interarrival: gap count conservation, bucket bounds, user subadditivity") {
    val rows = graft.queries.EventQueries.interarrival.fn(spark, sf0001).collect()
    val ev = Tables(spark, sf0001, "events")
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    // each user contributes (its event count - 1) gaps
    assert(rows.map(_.getLong(1)).sum == nEvents - nUsers)
    for (r <- rows) {
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 1440)
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1), "users per bucket within gap count")
    }
  }

  test("knn_hubness: node conservation and edge-mass identity with the knn graph") {
    val rows = graft.queries.NearDupQueries.knnHubness.fn(spark, sf0001).collect()
    val emb = Tables(spark, sf0001, "embeddings")
    assert(rows.map(_.getLong(1)).sum == emb.count(), "histogram partitions the vector set")
    val edgeMass = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    val graphEdges = graft.queries.NearDupQueries.knnGraph.fn(spark, sf0001).count()
    assert(edgeMass == graphEdges, "sum(indeg * n_nodes) = total graph edges")
    assert(rows.exists(_.getLong(0) == 0L) || edgeMass >= emb.count(),
      "antihubs visible unless every node is referenced")
  }

  test("embed_drift: halves partition each label, non-negative drift") {
    val rows = graft.queries.AnnQueries.embedDrift.fn(spark, sf0001).collect()
    val emb = Tables(spark, sf0001, "embeddings")
    val byLabel = emb.groupBy("label").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(rows.length == byLabel.size, "one row per label")
    for (r <- rows) {
      assert(r.getLong(1) + r.getLong(2) == byLabel(r.getInt(0).toLong),
        "n_a + n_b = label population")
      assert(r.getDouble(3) >= 0.0)
      // drift between halves of ONE distribution must stay below the
      // cluster scale: bounded by 4 (cosine-normalized coords in [-1,1])
      assert(r.getDouble(3) < 4.0 * 64)
    }
  }

  test("psi: independent Scala recompute of the quantized bucket terms") {
    val r = graft.queries.EventQueries.psi.fn(spark, sf0001).collect().head
    val (nA, nB, psiQ) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val ev = graft.Tables.events(spark, sf0001).filter(col("value").isNotNull)
    assert(nA + nB == ev.count(), "periods partition the events")
    // recompute from raw (period, bucket) counts with the same formula
    val d = ev.select(expr("unix_timestamp(date_trunc('day', ts)) DIV 86400").as("day"), col("value"))
    val mid = d.agg(expr("(min(day) + max(day) + 1) DIV 2").as("m")).head().getLong(0)
    val counts = d.select(when(col("day") < mid, 0L).otherwise(1L).as("p"),
        least(greatest(floor(col("value") / 25).cast("long"), lit(0L)), lit(19L)).as("b"))
      .groupBy("p", "b").agg(count(lit(1)).as("c"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val expected = (0L until 20L).map { b =>
      val pa = (counts.getOrElse((0L, b), 0L) + 1).toDouble / (nA + 20)
      val pb = (counts.getOrElse((1L, b), 0L) + 1).toDouble / (nB + 20)
      math.floor((pa - pb) * math.log(pa / pb) * 1099511627776.0).toLong
    }.sum
    assert(psiQ == expected, s"psi_q40 $psiQ != recomputed $expected")
    assert(psiQ >= 0, "PSI is a sum of non-negative terms")
  }

  test("event_itemsets: pair bounds against type vocabulary and session counts") {
    val rows = graft.queries.EventQueries.eventItemsets.fn(spark, sf0001).collect()
    val ev = graft.Tables.events(spark, sf0001)
    val nTypes = ev.select("event_type").distinct().count()
    assert(rows.length <= nTypes * (nTypes - 1) / 2, "pair space is vocabulary-bounded")
    assert(rows.nonEmpty)
    val nSessions = rows.head.getLong(3)
    for (r <- rows) {
      assert(r.getString(0) < r.getString(1), "pairs canonically ordered")
      assert(r.getLong(2) >= 1 && r.getLong(2) <= nSessions, "support within session count")
      assert(r.getLong(3) == nSessions, "n_sessions constant")
      assert(r.getLong(4) >= 0)
    }
    // session count agrees with q_sessionize's per-user totals
    val totalSessions = graft.queries.EventQueries.sessionize.fn(spark, sf0001)
      .agg(sum(col("n_sessions"))).head().getLong(0)
    assert(nSessions == totalSessions)
  }

  test("bigram_ppl: only test-split docs scored, positive nll, bigram counts exact") {
    val rows = graft.queries.TextStatsQueries.bigramPpl.fn(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val docs = Tables(spark, sf0001, "documents")
    val testDocs = docs
      .select(col("doc_id"), (graft.functions.TextFunctions.polyHash(col("text")) % 100).as("b"),
        size(split(col("text"), " ")).as("ntok"))
      .filter(col("b") >= 90 && col("ntok") >= 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(rows.length == testDocs.size, "every test doc with >=2 tokens scored")
    for (r <- rows) {
      assert(testDocs.contains(r.getLong(0)), "scored doc must be in the test split")
      assert(r.getLong(1) == testDocs(r.getLong(0)) - 1, "n_bigrams = tokens - 1")
      assert(r.getLong(2) > 0, "smoothed probabilities are < 1, so nll > 0")
    }
  }

  test("burst_hours: contiguous ranks, descending exact integral ratios") {
    val rows = graft.queries.EventQueries.burstHours.fn(spark, sf0001)
      .orderBy("rank").collect()
    assert(rows.nonEmpty && rows.length <= 5)
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    for (r <- rows) {
      assert(r.getLong(1) % 3600 == 0, "hour_ts on hour boundaries")
      assert(r.getLong(4) == r.getLong(2) * 24 * 1048576 / r.getLong(3),
        "ratio_q20 is the exact integral quotient")
    }
    assert(rows.map(_.getLong(4)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      "ratios descend with rank")
  }

  test("neardup_sweep: full threshold grid, monotone pair and drop counts") {
    val rows = graft.queries.NearDupQueries.neardupSweep.fn(spark, sf0001)
      .orderBy("thr").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(40L, 50L, 60L, 70L, 80L, 90L))
    for (r <- rows) assert(r.getLong(2) <= r.getLong(1), "dropped docs <= surviving pairs")
    for (c <- Seq(1, 2))
      assert(rows.map(_.getLong(c)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        "counts are non-increasing in the threshold")
    // thr=40 matches the scaled near-dup pair stream's total
    val total = graft.queries.NearDupQueries.embedNearDupScaled.fn(spark, sf0001).count()
    assert(rows.head.getLong(1) == total)
  }

  test("pagerank: independent Scala recompute of the 3-iteration integer ranks") {
    val rows = graft.queries.NearDupQueries.pagerank.fn(spark, sf0001)
      .orderBy("rank").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    assert(rows.map(_.getLong(3)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    // rebuild the graph from the scaled pair stream and iterate in Scala
    val prs = graft.queries.NearDupQueries.embedNearDupScaled.fn(spark, sf0001)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = prs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var pr = deg.keys.map(_ -> 1048576L).toMap
    for (_ <- 1 to 3)
      pr = edges.groupBy(_._2).view.mapValues { in =>
        157286L + in.map { case (src, _) => pr(src) * 85 / (100 * deg(src)) }.sum
      }.toMap
    val expect = pr.toSeq.sortBy { case (id, p) => (-p, id) }.take(20)
    assert(rows.map(r => (r.getLong(1), r.getLong(3))).toSeq == expect,
      "top-20 (vec_id, pr_q20) must match the Scala power iteration")
    for (r <- rows) assert(r.getLong(2) == deg(r.getLong(1)), "degree column")
  }

  /** The three rounds run inside one job over a src-partitioned
    * adjacency; the rest is candidate generation and the caller's
    * evaluation of the 20-row answer. Three DataFrame rounds ran 17.
    */
  test("pagerank: a warm evaluation at sf0.001 runs at most 8 jobs") {
    def evaluate(): Unit = SparkEntry.evaluate(SparkEntry.queries("q_pagerank")(spark, sf0001))
    evaluate()
    val counter = new JobCounter("pagerank-shape")
    spark.sparkContext.addSparkListener(counter)
    try {
      drainListenerBus()
      spark.sparkContext.setJobGroup("pagerank-shape", "q_pagerank")
      try evaluate()
      finally spark.sparkContext.clearJobGroup()
      drainListenerBus()
      assert(counter.jobs <= 8, s"${counter.jobs} jobs")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("pagerank: empty and one-row embeddings give no rows, four BIGINT columns") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    for (n <- Seq(0, 1)) {
      val dir = java.nio.file.Files.createTempDirectory(s"pagerank-$n").toString
      emb.limit(n).write.parquet(s"$dir/embeddings.parquet")
      val out = graft.queries.NearDupQueries.pagerank.fn(spark, dir)
      assert(out.schema.map(f => f.name -> f.dataType.sql) ==
        Seq("rank", "vec_id", "degree", "pr_q20").map(_ -> "BIGINT"))
      assert(out.collect().isEmpty, s"$n embeddings")
    }
  }

  test("weighted_sample: keys recomputed exactly; selection is the global min-key set") {
    val rows = graft.queries.MixingQueries.weightedSample.fn(spark, sf0001)
      .orderBy("rank").collect()
    assert(rows.length == 100)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 100L).toSeq)
    assert(rows.map(_.getLong(3)).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    // recompute every doc's key in Scala (hash grid from the engine, ln local)
    val all = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), greatest(col("n_chars"), lit(1L)).as("w"),
        (graft.functions.TextFunctions.polyHash(concat(col("text"), lit("samp")))
          % 1048576 + 1).as("uq"))
      .collect().map { r =>
        val key = math.floor(-math.log(r.getLong(2) / 1048577.0) * 1099511627776.0
          / r.getLong(1).toDouble).toLong
        (r.getLong(0), r.getLong(1), key)
      }
    val expect = all.sortBy { case (id, _, k) => (k, id) }.take(100)
    assert(rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq == expect.toSeq,
      "the sample must be exactly the 100 globally smallest keys")
  }

  test("cluster_separation: every label present, positive distances, spread conservation") {
    val rows = graft.queries.AnnQueries.clusterSeparation.fn(spark, sf0001).collect()
    val emb = Tables(spark, sf0001, "embeddings")
    val nLabels = emb.select("label").distinct().count()
    assert(rows.length == nLabels)
    assert(rows.map(_.getLong(1)).sum == emb.count(), "members must partition the corpus")
    for (r <- rows) {
      assert(r.getInt(0) != r.getInt(2), "nearest label must differ")
      assert(r.getLong(3) > 0, "centroid pair distance must be positive")
      assert(r.getLong(4) > 0, "db ratio must be positive")
    }
    // nearest-other is symmetric-bounded: the minimum pair distance is
    // attained by both endpoints of the closest pair
    val minD = rows.map(_.getLong(3)).min
    assert(rows.count(_.getLong(3) == minD) >= 2)
  }
}
