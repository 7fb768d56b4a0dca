package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val batchEvents = {
    // events fixture re-encoded to µs timestamps for the streaming source
    val dir = Files.createTempDirectory("events-stream").toString
    Tables.events(spark, sf0001).write.mode("overwrite").parquet(dir)
    (dir, spark.read.parquet(dir).schema)
  }

  test("streaming hourly counts match the batch aggregation") {
    val (dir, schema) = batchEvents
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.outputMode("complete").format("memory").queryName("hourly").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT hour_start, event_type, n FROM hourly")
      val batch = Tables.events(spark, sf0001)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("hour_start"), col("event_type"), col("n"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("streaming dedup within watermark drops duplicate event_ids") {
    val (dir, schema) = batchEvents
    // duplicate the source: every event appears twice across two files
    val dupdir = java.nio.file.Files.createTempDirectory("events-dup").toString
    spark.read.parquet(dir).write.mode("overwrite").parquet(dupdir)
    spark.read.parquet(dir).write.mode("append").parquet(dupdir)
    val stream = spark.readStream.schema(schema).parquet(dupdir)
    val q = EventStreams.dedupedEvents(stream)
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT count(DISTINCT event_id) c, count(*) n FROM dedup").head()
      assert(n.getLong(0) == n.getLong(1), "dedup output contains duplicates")
      assert(n.getLong(1) == Tables.events(spark, sf0001).count())
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch twin across time-sliced triggers") {
    val (dir, schema) = batchEvents
    // slice the source in two time halves as separate files and feed ONE
    // file per trigger, so matches must span micro-batches through the
    // dual-watermark join state (a single-batch run would never exercise
    // the buffered side)
    val sliced = java.nio.file.Files.createTempDirectory("events-sliced").toString
    val ev = spark.read.parquet(dir)
    // slice AT a known matching pair's click time, so at least one
    // click(slice 0) -> purchase(slice 1) match is forced to span
    // micro-batches through the buffered join state
    val midRow = graft.queries.EventQueries2.intervalJoin.fn(spark, sf0001)
      .filter(col("gap_us") > 0)
      .join(Tables.events(spark, sf0001)
        .select(col("event_id").as("click_id"), col("ts")), "click_id")
      .orderBy(col("gap_us").desc, col("click_id")).limit(1)
      .select(col("ts"), unix_micros(col("ts")).as("us")).head()
    val (mid, midUs) = (midRow.getTimestamp(0), midRow.getLong(1))
    ev.filter(col("ts") <= mid).coalesce(1).write.parquet(s"$sliced/s=0")
    ev.filter(col("ts") > mid).coalesce(1).write.parquet(s"$sliced/s=1")
    def side(df: org.apache.spark.sql.DataFrame, t: String, tsName: String, idName: String) =
      df.filter(col("event_type") === t)
        .select(col("user_id"), col("ts").as(tsName), col("event_id").as(idName))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$sliced/*")
    val joined = EventStreams.intervalJoins(
      side(src, "click", "cts", "click_id"),
      side(src, "purchase", "pts", "purchase_id"))
    val sq = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssjoin").start()
    try {
      sq.processAllAvailable()
      assert(sq.recentProgress.count(_.numInputRows > 0) >= 2,
        "source was not consumed across multiple triggers")
      val streamed = spark.sql("SELECT user_id, click_id, purchase_id, gap_us FROM ssjoin")
      // the batch twin is the REGISTRY query — the oracle-checked
      // q_interval_join is what the stream must reproduce exactly
      val batch = graft.queries.EventQueries2.intervalJoin.fn(spark, sf0001)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
      // and pairs genuinely straddle the slice boundary (the state the
      // dual watermark exists to hold)
      val straddleCount = graft.queries.EventQueries2.intervalJoin.fn(spark, sf0001)
        .join(Tables.events(spark, sf0001).select(col("event_id").as("click_id"),
          unix_micros(col("ts")).as("cus")), "click_id")
        .filter((col("cus") <= midUs && col("cus") + col("gap_us") > midUs) ||
          (col("cus") > midUs && col("cus") + col("gap_us") <= midUs))
        .count()
      assert(straddleCount > 0, "no pair spans the micro-batch boundary")
    } finally sq.stop()
  }

  test("left-outer stream-stream interval join: inner rows exact, null rows are the evicted unmatched clicks") {
    val (dir, schema) = batchEvents
    val sliced = java.nio.file.Files.createTempDirectory("events-lo-sliced").toString
    val ev = spark.read.parquet(dir)
    // half-split by time so both join sides buffer state across triggers
    val mm = ev.agg(unix_micros(min(col("ts"))).as("a"),
      unix_micros(max(col("ts"))).as("b")).head()
    val midUs = (mm.getLong(0) + mm.getLong(1)) / 2
    ev.filter(unix_micros(col("ts")) <= midUs).coalesce(1).write.parquet(s"$sliced/s=0")
    ev.filter(unix_micros(col("ts")) > midUs).coalesce(1).write.parquet(s"$sliced/s=1")
    def side(df: org.apache.spark.sql.DataFrame, t: String, tsName: String, idName: String) =
      df.filter(col("event_type") === t)
        .select(col("user_id"), col("ts").as(tsName), col("event_id").as(idName))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$sliced/*")
    val joined = EventStreams.intervalJoinsLeftOuter(
      side(src, "click", "cts", "click_id"),
      side(src, "purchase", "pts", "purchase_id"))
    val sq = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssljoin").start()
    try {
      sq.processAllAvailable()
      val out = spark.sql("SELECT user_id, click_id, purchase_id, gap_us FROM ssljoin")
      // matched rows must be the inner join, row-for-row (the registry
      // q_interval_join is the oracle-checked truth)
      val inner = out.filter(col("purchase_id").isNotNull)
      val batchInner = graft.queries.EventQueries2.intervalJoin.fn(spark, sf0001)
      assert(inner.count() == batchInner.count())
      assert(inner.exceptAll(batchInner).isEmpty && batchInner.exceptAll(inner).isEmpty)
      // null-padded rows: every one must be a genuinely unmatched click
      // (q_interval_unmatched is the batch anti-join twin), and every
      // click whose eviction point lies safely behind the final
      // watermark must have emitted exactly its one outer row
      val nulls = out.filter(col("purchase_id").isNull).select("click_id")
      val um = graft.queries.EventQueries2.intervalUnmatched.fn(spark, sf0001)
      assert(nulls.count() > 0, "no outer row emitted — state eviction never fired")
      assert(nulls.count() == nulls.distinct().count(), "an outer row emitted twice")
      assert(nulls.exceptAll(um.select("click_id")).isEmpty,
        "stream emitted a null row for a click the batch twin matched")
      // final global watermark = min(max cts, max pts) − 2 h delay; a
      // click is definitely evicted once cts + 1 h (join range) clears
      // it, with a 10-minute safety margin against boundary semantics
      val ev0 = Tables.events(spark, sf0001)
      def maxTs(t: String): Long = ev0.filter(col("event_type") === t)
        .agg(unix_micros(max(col("ts")))).head().getLong(0)
      val wmUs = math.min(maxTs("click"), maxTs("purchase")) - 2L * 3600000000L
      val definite = um.filter(col("cus") + 3600000000L < wmUs - 600000000L)
      assert(definite.count() > 0, "fixture has no safely-evictable unmatched click")
      assert(definite.select("click_id").join(nulls, Seq("click_id"), "left_anti").isEmpty,
        "an evictable unmatched click never emitted its outer row")
    } finally sq.stop()
  }

  test("stream-static enrichment: every event joins the broadcast dim, no state") {
    val (dir, schema) = batchEvents
    val dim = Tables.events(spark, sf0001)
      .select(col("event_type")).distinct()
      .withColumn("type_len", length(col("event_type")).cast("long"))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.enriched(stream, dim)
      .select(col("event_id"), col("event_type"), col("type_len"))
      .writeStream.outputMode("append").format("memory").queryName("enrich").start()
    try {
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM enrich")
      // inner join loses nothing (dim covers every type) and adds the dim column
      assert(out.count() == Tables.events(spark, sf0001).count())
      assert(out.filter(col("type_len") =!= length(col("event_type"))).count() == 0)
    } finally q.stop()
  }

  test("mapGroupsWithState running totals accumulate per user") {
    val (dir, schema) = batchEvents
    val stream = spark.readStream.schema(schema).parquet(dir)
      .selectExpr("user_id", "event_type", "value").as[EventStreams.UserEvent]
    val q = EventStreams.runningTotals(stream)
      .writeStream.outputMode("update").format("memory").queryName("running").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, n_events FROM running")
        .as[(Long, Long)].collect().toMap
      val want = Tables.events(spark, sf0001).groupBy("user_id").count()
        .as[(Long, Long)].collect().toMap
      assert(got == want)
    } finally q.stop()
  }

  test("checkpoint recovery: restart resumes from the offset log, no reprocessing") {
    // production posture at scale: a stream MUST survive restarts via the
    // checkpoint's offset/commit log — restart picks up only new files
    val srcDir = Files.createTempDirectory("ckpt-src").toString
    val ckptDir = Files.createTempDirectory("ckpt-log").toString
    val outDir = Files.createTempDirectory("ckpt-out").toString
    val e = Tables.events(spark, sf0001).select("event_id", "user_id")
    e.limit(100).write.mode("overwrite").parquet(s"$srcDir/batch1")
    val schema = spark.read.parquet(s"$srcDir/batch1").schema
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "64")
      .parquet(s"$srcDir/*")
      .writeStream.option("checkpointLocation", ckptDir)
      .format("parquet").option("path", outDir)
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst == 100)
    // new data lands while the stream is DOWN; restart from the same
    // checkpoint must emit only the new batch (offset log, not rescan)
    e.limit(150).write.mode("overwrite").parquet(s"$srcDir/batch2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(outDir).count() == afterFirst + 150)
  }

  test("streaming near-dup: later micro-batches pair with standing bucket anchors") {
    import graft.streaming.DedupStreams
    val srcDir = Files.createTempDirectory("neardup-stream").toString
    val orig = Tables(spark, sf0001, "documents").select("doc_id", "text")
    orig.coalesce(1).write.mode("append").parquet(srcDir)
    Thread.sleep(1100) // distinct file mtimes → deterministic batch order
    // exact copies under new ids arrive LATER: identical signatures land
    // in the originals' buckets, whose anchors are already in state
    orig.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = orig.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = DedupStreams.nearDupCandidates(stream)
      .writeStream.outputMode("append").format("memory").queryName("neardup").start()
    try {
      q.processAllAvailable()
      val pairs = spark.sql("SELECT DISTINCT doc_id, anchor_id FROM neardup")
        .as[(Long, Long)].collect().toMap
      // every copy is flagged; each anchors to a batch-1 doc (usually its
      // original, but an original that shares a bucket anchors there too)
      val nDocs = orig.count()
      val copies = pairs.keys.filter(_ >= 10000L)
      assert(copies.size == nDocs, s"${copies.size} of $nDocs copies flagged")
      assert(copies.forall(c => pairs(c) < 10000L))
    } finally q.stop()
  }

  test("streaming image near-dup: real codec in-stream, in-state hamming verify") {
    import graft.streaming.DedupStreams
    import graft.multimodal.Perceptual
    val srcDir = Files.createTempDirectory("phash-stream").toString
    val base = "spark table scan merge join filter agg window sort " * 6
    val far = "completely different media payload rendered here " * 6
    // batch 1: two unrelated originals anchor their buckets
    Seq((1L, Perceptual.textToPng(base)), (2L, Perceptual.textToPng(far)))
      .toDF("media_id", "bytes").coalesce(1).write.mode("append").parquet(srcDir)
    Thread.sleep(1100) // distinct file mtimes → deterministic batch order
    // batch 2: a one-character near-dup of base (hamming <= 3 by the
    // locality of the pixel layout) plus another unrelated image
    val nearPng = Perceptual.textToPng(base.updated(5, 'Q'))
    require(java.lang.Long.bitCount(
      Perceptual.textDhash(base) ^ Perceptual.dhash(Perceptual.blockSums(nearPng))) <= 3)
    Seq((3L, nearPng), (4L, Perceptual.textToPng("a third unrelated corpus " * 9)))
      .toDF("media_id", "bytes").coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("media_id LONG, bytes BINARY")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = DedupStreams.imageNearDups(stream)
      .writeStream.outputMode("append").format("memory").queryName("phashdup").start()
    try {
      q.processAllAvailable()
      val dups = spark.sql("SELECT DISTINCT media_id, anchor_id, hamming FROM phashdup")
        .as[(Long, Long, Int)].collect().toSet
      assert(dups.map(d => (d._1, d._2)) == Set((3L, 1L)),
        s"only the near-dup should pair with its anchor, got $dups")
      assert(dups.forall(_._3 <= 3))
    } finally q.stop()
  }

  test("streaming drift monitor: event-time-timeout PSI matches the batch formula") {
    val (dir, schema) = batchEvents
    val ev = Tables.events(spark, sf0001)
    // baseline = the whole fixture's bucket histogram (a "trusted period")
    val baseCounts = ev
      .select(least(greatest(floor(col("value") / 25).cast("int"), lit(0)), lit(19)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val baseline = (0 until 20).map(b => baseCounts.getOrElse(b, 0L))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.driftScores(stream, baseline)
      .writeStream.outputMode("append").format("memory").queryName("drift").start()
    try {
      q.processAllAvailable()
      val scores = spark.sql("SELECT hour_ts, n_events, psi_q40 FROM drift")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // hours whose end precedes the final watermark (max ts - 2h) emit
      assert(scores.nonEmpty, "no hours finalized — event-time timeout never fired")
      // per emitted hour, recompute the PSI from batch counts
      val perHour = ev
        .select(unix_timestamp(date_trunc("hour", col("ts"))).as("h"),
          least(greatest(floor(col("value") / 25).cast("int"), lit(0)), lit(19)).as("b"))
        .groupBy("h", "b").agg(count(lit(1)).as("c"))
        .collect().groupBy(_.getLong(0))
      val bTot = baseline.sum
      for ((h, (nEvents, psiQ)) <- scores) {
        val counts = (0 until 20).map { b =>
          perHour(h).find(_.getInt(1) == b).map(_.getLong(2)).getOrElse(0L)
        }
        assert(counts.sum == nEvents, s"hour $h event count")
        val expected = (0 until 20).foldLeft(0L) { (acc, b) =>
          val pw = (counts(b) + 1).toDouble / (nEvents + 20)
          val pb = (baseline(b) + 1).toDouble / (bTot + 20)
          acc + math.floor((pw - pb) * math.log(pw / pb) * 1099511627776.0).toLong
        }
        assert(psiQ == expected, s"hour $h psi_q40 $psiQ != $expected")
        assert(psiQ >= 0)
      }
      // every emitted hour is fully before the final watermark; the tail
      // hours within the 2h lateness horizon must still be open
      val maxHour = perHour.keys.max
      assert(!scores.contains(maxHour), "the last hour cannot have finalized")
    } finally q.stop()
  }

  test("streaming Misra-Gries heavy hitters: MG bounds hold per shard") {
    val (dir, schema) = batchEvents
    val stream = spark.readStream.schema(schema).parquet(dir)
    val k = 8
    val q = EventStreams.heavyHitters(stream, k)
      .writeStream.outputMode("update").format("memory").queryName("hh").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT shard, user_id, cnt_lb FROM hh").collect()
      assert(rows.nonEmpty)
      val exact = Tables.events(spark, sf0001)
        .groupBy(pmod(col("user_id"), lit(32)).cast("int").as("shard"), col("user_id"))
        .agg(count(lit(1)).as("c")).collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      val shardN = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      // the parquet source delivers the fixture as ONE micro-batch, so
      // the memory table holds exactly the final per-shard summaries
      val perShard = rows.groupBy(_.getInt(0))
      for ((s, rs) <- perShard) assert(rs.length <= k, s"shard $s summary over k")
      for (r <- rows) {
        val key = (r.getInt(0), r.getLong(1))
        val (t, n) = (exact(key), shardN(key._1))
        assert(r.getLong(2) <= t, s"MG estimate above true count for $key")
        assert(r.getLong(2) >= t - n / (k + 1), s"MG estimate below bound for $key")
      }
      // guarantee: every item with true shard frequency > n/(k+1) survives
      val got = rows.map(r => (r.getInt(0), r.getLong(1))).toSet
      for (((s, u), t) <- exact if t > shardN(s).toDouble / (k + 1))
        assert(got.contains((s, u)), s"heavy item ($s, $u) missing from summary")
    } finally q.stop()
  }

  test("streaming HLL: final registers equal the batch registers (max-merge order-independence)") {
    val (dir, schema) = batchEvents
    // write the fixture as MANY small files so the stream really runs
    // multi-batch: order-independence is the property under test
    val manydir = Files.createTempDirectory("events-hll").toString
    spark.read.parquet(dir).repartition(8).write.mode("overwrite").parquet(manydir)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(manydir)
    val q = graft.streaming.SketchStreams.hllRegisters(stream)
      .writeStream.outputMode("update").format("memory").queryName("hllreg").start()
    try {
      q.processAllAvailable()
      // registers only grow, so the max over all Update emissions IS the
      // final snapshot
      val streamed = spark.sql(
        "SELECT event_type, idx, max(m) AS m FROM hllreg GROUP BY 1, 2")
      val batch = graft.streaming.SketchStreams
        .hllPrep(Tables.events(spark, sf0001))
        .groupBy("event_type", "idx").agg(max("rho").as("m"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "streaming HLL registers differ from the one-pass batch registers")
    } finally q.stop()
  }

  test("streaming session windows equal the batch sessions closed by the watermark") {
    val (dir, schema) = batchEvents
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.sessions(stream)
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT user_id, session_start, n_events FROM sess")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
      assert(streamed.nonEmpty, "no sessions closed")
      // batch twin with session END retained for the watermark split
      val batch = Tables.events(spark, sf0001)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("s"), col("sw.end").as("e"),
          col("n_events"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3)))
      val wm = Tables.events(spark, sf0001).agg(max("ts")).head()
        .getTimestamp(0).getTime - 2 * 3600 * 1000
      val closed = batch.filter(_._3 <= wm).map(t => (t._1, t._2, t._4)).toSet
      assert(streamed == closed,
        s"streamed ${streamed.size} sessions != batch-closed ${closed.size}")
      // and sessions past the watermark frontier are still open
      assert(batch.exists(_._3 > wm))
    } finally q.stop()
  }

  test("streaming orphan monitor: anti-join counts match the batch audit") {
    val (dir, schema) = batchEvents
    // dimension = users with even ids: odd-id events are orphans
    val dim = Tables.events(spark, sf0001)
      .select("user_id").distinct().filter(pmod(col("user_id"), lit(2L)) === 0)
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.orphanMonitor(stream, dim)
      .writeStream.outputMode("complete").format("memory").queryName("orphans").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT hour_start, n_orphans FROM orphans")
      val batch = Tables.events(spark, sf0001)
        .filter(pmod(col("user_id"), lit(2L)) =!= 0)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_orphans"))
        .select(col("w.start").as("hour_start"), col("n_orphans"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "streamed orphan counts differ from the batch anti-join")
      assert(streamed.agg(sum("n_orphans")).head().getLong(0) > 0,
        "the odd-id dimension gap must produce orphans")
    } finally q.stop()
  }

  test("streaming holt levels equal the batch fold over every closed hour") {
    val (dir, schema) = batchEvents
    // a sequential fold is only stream-computable when arrival respects
    // the lateness horizon, so feed TIME-ORDERED chunks (a random file
    // split would deliver a whole month "late" past the watermark and
    // the operator would rightly drop it): 6 ascending time slices,
    // distinct mtimes, one file per trigger => hours close across
    // several watermark advances and must fold in event-time order
    val manydir = Files.createTempDirectory("events-holt").toString
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val chunked = spark.read.parquet(dir)
      .withColumn("rn", row_number().over(w))
    val nEv = chunked.count()
    for (i <- 0 until 6) {
      chunked.filter(col("rn") > i * nEv / 6 && col("rn") <= (i + 1) * nEv / 6)
        .drop("rn").coalesce(1).write.mode("append").parquet(manydir)
      Thread.sleep(1100)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(manydir)
    val q = EventStreams.holtLevels(stream)
      .writeStream.outputMode("append").format("memory").queryName("holtlv").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT event_type, hour_ts, n, level_q20, trend_q20 FROM holtlv")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(streamed.nonEmpty, "no hours closed — event-time timeout never fired")
      val series = Tables.events(spark, sf0001)
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("hour", col("ts"))).as("h"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(t => (t._2, t._3)).toSeq).toMap
      val Q = 1048576L
      // the hour holding the global max event time ends beyond the final
      // watermark (max ts - 2h), so it must still be open for its type
      val (lastType, lastHour) = series.toSeq
        .map { case (t, hs) => (t, hs.last._1) }.maxBy(_._2)
      assert(!streamed.contains((lastType, lastHour)),
        "the hour at the watermark frontier cannot have closed")
      for ((etype, hs) <- series) {
        val closed = hs.filter { case (h, _) => streamed.contains((etype, h)) }
        assert(closed.nonEmpty, s"$etype emitted nothing")
        // hours close in watermark order: the closed set is a time PREFIX
        assert(closed == hs.take(closed.length), s"$etype closed set not a prefix")
        var l = closed.head._2 * Q; var b = 0L
        assert(streamed((etype, closed.head._1)) == ((closed.head._2, l, b)))
        for ((h, c) <- closed.tail) {
          val lnew = (3 * c * Q + 7 * (l + b)) / 10
          b = (lnew - l + 9 * b) / 10
          l = lnew
          assert(streamed((etype, h)) == ((c, l, b)), s"$etype hour $h")
        }
      }
    } finally q.stop()
  }

  test("streaming index maintenance: docs stream -> chunk+embed -> .vdb parts") {
    // the reference's build pipeline (R1->R2->R3->R4) as a stream: each
    // micro-batch of documents is chunked, mock-embedded, and APPENDED to
    // one .vdb directory index via foreachBatch + the .vdb source —
    // continuous index maintenance, with the batch reader seeing every part
    val srcDir = Files.createTempDirectory("docs-stream").toString
    val idxDir = Files.createTempDirectory("vdb-stream").toString
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text").limit(20)
    docs.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = graft.pipelines.IndexBuild
      .build(stream, "doc_id", "text", 64, graft.pipelines.MockEmbedder)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(col("chunk").as("text"), col("embedding"))
          .write.format("graft.sources.VdbDataSource").mode("append").save(idxDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.format("graft.sources.VdbDataSource").load(idxDir)
    val want = graft.pipelines.IndexBuild
      .build(spark.read.parquet(srcDir), "doc_id", "text", 64, graft.pipelines.MockEmbedder)
    assert(back.count() == want.count())
    // identical chunk text + vector sets
    val b = back.select(col("text"), col("embedding")).exceptAll(
      want.select(col("chunk"), col("embedding")))
    assert(b.isEmpty)
  }

  test("streaming quality scorer: batch-learned weights, streamed scores equal batch exactly") {
    // the deployment shape of the learned filter: train in batch,
    // score the crawl stream map-side with the weights as literals —
    // no join, no state, append mode; streamed == q_quality_logreg
    val srcDir = Files.createTempDirectory("qdocs-stream").toString
    Tables(spark, sf0001, "documents").select("doc_id", "text")
      .write.mode("overwrite").parquet(srcDir)
    val w = graft.queries.CurationQueries33.learnedWeights(
      graft.queries.CurationQueries33.featuresOf(
        Tables(spark, sf0001, "documents")))
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = graft.streaming.QualityStreams.scoredDocs(stream, w.toSeq)
      .writeStream.outputMode("append").format("memory").queryName("qscore").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql("SELECT * FROM qscore")
    val want = graft.SparkEntry.queries("q_quality_logreg")(spark, sf0001)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming BPE tokenizer: batch-learned merges+vocab, streamed ids equal batch exactly") {
    // the tokenize-as-you-crawl deployment shape: merge table + vocab
    // are batch artifacts entering the stream as literals; the fold is
    // map-only HOFs over each row's own token array (no explode, no
    // state), so streamed per-doc token ids == q_bpe_encode row-for-row
    val srcDir = Files.createTempDirectory("bpedocs-stream").toString
    Tables(spark, sf0001, "documents").select("doc_id", "text")
      .write.mode("overwrite").parquet(srcDir)
    val (merges, vocab) =
      graft.queries.TextStatsQueries.tokenizerArtifacts(spark, sf0001)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = graft.streaming.TokenizerStreams.encodedDocs(stream, merges, vocab)
      .writeStream.outputMode("append").format("memory").queryName("bpetok").start()
    try q.processAllAvailable() finally q.stop()
    // n_unk (round-13 ADVICE: UNK adds 0 to both checksums, so misses
    // need an in-band counter) is streaming-only; the batch columns
    // must still pin row-for-row, and the training corpus has no OOV
    val got = spark.sql(
      "SELECT doc_id, n_tok, id_sum, id_posw, chars_per_tok_q FROM bpetok")
    val want = SparkEntry.queries("q_bpe_encode")(spark, sf0001)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(spark.sql("SELECT * FROM bpetok WHERE n_unk <> 0").count() == 0,
      "training corpus cannot contain OOV tokens")
    // and on OOV-bearing input the counter counts exactly the misses
    // (the projection is mode-agnostic, so a batch frame exercises it)
    val oov = graft.streaming.TokenizerStreams.encodedDocs(
      Seq((1L, "zzzunseen zzzunseen")).toDF("doc_id", "text"), merges, vocab)
      .select("n_tok", "n_unk").as[(Long, Long)].head()
    assert(oov._2 > 0 && oov._2 <= oov._1,
      s"expected UNK-mapped tokens to be counted, got $oov")
  }

  test("streaming decontam: crawl stream vs standing index equals the batch evidence") {
    // crawl-time benchmark decontamination: the protected split's
    // df-capped fingerprint index is built in batch; the incoming
    // stream is checked via a stateless stream-static left-semi join.
    // Streamed evidence rows == the batch twin over the same index.
    val srcDir = Files.createTempDirectory("decontam-stream").toString
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text")
    // the "crawl" is the train-side stream; the protected split is the
    // test fifth (the q_winnow_decontam split convention)
    val crawl = docs.filter(col("doc_id") % 5 =!= 0)
    crawl.write.mode("overwrite").parquet(srcDir)
    val index = graft.streaming.DecontamStreams
      .protectedIndex(docs, col("doc_id") % 5 === 0)
      .localCheckpoint() // standing artifact: fixed at build time
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = graft.streaming.DecontamStreams.contamHits(stream, index)
      .writeStream.outputMode("append").format("memory").queryName("contam").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql("SELECT * FROM contam")
    val want = graft.streaming.DecontamStreams.contamHits(crawl, index)
    assert(got.count() == want.count() && want.count() > 0,
      "fixture must produce contamination evidence")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming sequence packer: full blocks equal q_seq_pack_bpe, state carries partials") {
    // the one pipeline stage whose streaming form needs keyed state: a
    // block can end mid-document, so the partial block carries across
    // micro-batches (seven longs per shard). Feed the corpus as four
    // doc_id-range chunks with increasing mtimes (maxFilesPerTrigger=1
    // => four micro-batches in doc_id order — the packer's arrival-order
    // contract); streamed FULL blocks must equal the batch packer's
    // full blocks exactly, and the trailing partials must stay unsent.
    val srcDir = Files.createTempDirectory("pack-stream").toString
    val docs = Tables(spark, sf0001, "documents")
      .select("lang", "doc_id", "text")
    val ids = docs.select("doc_id").orderBy("doc_id").as[Long].collect()
    val cuts = (1 to 3).map(i => ids(i * ids.length / 4))
    val ranges = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      val f = new java.io.File(srcDir, s"chunk$i")
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(f.toString)
      // distinct, increasing mtimes: the file source processes oldest
      // first, making arrival order = doc_id-chunk order
      for (p <- f.listFiles()) p.setLastModified(1700000000000L + i * 60000L)
      f.setLastModified(1700000000000L + i * 60000L)
    }
    val (merges, vocab) =
      graft.queries.TextStatsQueries.tokenizerArtifacts(spark, sf0001)
    val schema = docs.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q = graft.streaming.PackerStreams.packedBlocks(stream, merges, vocab)
      .toDF()
      .writeStream.outputMode("append").format("memory").queryName("packed").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql("SELECT * FROM packed")
    val batch = SparkEntry.queries("q_seq_pack_bpe")(spark, sf0001)
    val want = batch.filter(col("n_tok") === 256)
    assert(got.count() == want.count() && want.count() > 0,
      "fixture must produce full blocks across micro-batch boundaries")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed full blocks must equal the batch packer bit-for-bit")
    // the carried partials are exactly the batch's per-shard tails
    assert(batch.filter(col("n_tok") =!= 256).count() > 0,
      "fixture must leave a partial block in carry-over state")
  }

  test("streaming ANN serve: per-batch nprobe probe equals the batch replay, pruned scan") {
    // the reference's interactive query loop as a stream (round 13):
    // query vectors arrive, each micro-batch routes them to their
    // nprobe nearest clusters and probes ONLY those partitions of the
    // prebuilt index. Streamed top-k must equal a per-query driver
    // replay of the batch nprobe machinery (q_ivf_nprobe's shape with
    // self-match exclusion), and the per-batch plan must prune at the
    // partition level, not post-scan.
    import graft.operators.IvfIndex
    val base = Files.createTempDirectory("ann-serve").toString
    val emb = Tables.embeddings(spark, sf0001).select(col("vec_id"), col("embedding"))
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cluster"), col("embedding").as("cv"))
      .localCheckpoint() // k-row codebook, fixed for the whole test
    IvfIndex.build(emb, seeds, s"$base/idx")
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qv"))
    // batch replay: the q_ivf_nprobe machinery per query, driver loop
    val want = queries.collect().flatMap { r =>
      val qid = r.getLong(0); val qv = r.getSeq[Double](1)
      val probed = IvfIndex.nearestClusters(seeds, qv, 2)
      val qlit = array(qv.map(lit): _*)
      IvfIndex.probe(spark, s"$base/idx", probed)
        .filter(col("vec_id") =!= qid)
        .select(col("vec_id").as("nid"),
          graft.functions.VectorFunctions.cosineDistance(col("embedding"), qlit).as("dist"))
        .orderBy(col("dist").asc, col("nid").asc).limit(5)
        .collect().zipWithIndex
        .map { case (n, i) => (qid, (i + 1).toLong, n.getLong(0), n.getDouble(1)) }
    }.toSet
    // the pure per-batch function: exact equality with the replay
    val got = graft.streaming.AnnStreams
      .servedTopK(queries, seeds, s"$base/idx", 5, 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == want, s"served top-k diverges from the batch replay")
    // partition pruning: the probe scan must carry a literal filter on
    // the partition column (planning-time file pruning). AQE off for
    // the static-plan traversal (AdaptiveSparkPlanExec hides subtrees).
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try graft.streaming.AnnStreams
      .servedTopK(queries, seeds, s"$base/idx", 5, 2)
      .queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val scan = plan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.mkString(",").contains("idx") => s }
    assert(scan.nonEmpty, "expected the index scan in the per-batch plan")
    assert(scan.get.partitionFilters.nonEmpty,
      s"index scan reads all partitions:\n${scan.get}")
    // end-to-end through foreachBatch: two micro-batches, exactly-once
    // into the parquet sink, same total result
    val srcDir = s"$base/qsrc"
    val q01 = queries.filter(col("qid") < 2)
    val q23 = queries.filter(col("qid") >= 2)
    q01.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c0")
    q23.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c1")
    new java.io.File(s"$srcDir/c0").listFiles().foreach(_.setLastModified(1700000000000L))
    new java.io.File(s"$srcDir/c1").listFiles().foreach(_.setLastModified(1700000060000L))
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val sq = graft.streaming.AnnStreams.serve(stream, seeds, s"$base/idx",
      5, 2, s"$base/out", s"$base/ckpt")
    try sq.processAllAvailable() finally sq.stop()
    val streamed = spark.read.parquet(s"$base/out")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(streamed == want, "foreachBatch serve diverges from the batch replay")
  }

  test("ANN serve rotation: manifest swap between micro-batches, per-version batch replays") {
    // round-13 verdict item 4: the serving stream must pick up a
    // rebuilt index WITHOUT restarting — each trigger re-reads the
    // MANIFEST pointer. v1 indexes the full embedding table; v2 is a
    // "compaction" that drops the odd vec_ids, so post-swap results
    // PROVABLY differ (no odd neighbor can appear). Batch 1 is served
    // before the swap, batch 2 after; each must equal servedTopK
    // replayed against its own version, and carry that version's name.
    import graft.operators.IvfIndex
    import graft.streaming.AnnStreams
    val root = Files.createTempDirectory("ann-rotate").toString
    val emb = Tables.embeddings(spark, sf0001).select(col("vec_id"), col("embedding"))
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cluster"), col("embedding").as("cv"))
      .localCheckpoint()
    val embV2 = emb.filter(col("vec_id") % 2 === 0).localCheckpoint()
    IvfIndex.publishVersion(emb, seeds, root, "v1")
    assert(IvfIndex.currentVersion(spark, root) == "v1")
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qv"))
      .localCheckpoint()
    val q01 = queries.filter(col("qid") < 2)
    val q23 = queries.filter(col("qid") >= 2)
    val srcDir = s"$root/qsrc"
    q01.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c0")
    new java.io.File(s"$srcDir/c0").listFiles().foreach(_.setLastModified(1700000000000L))
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    def replay(qs: org.apache.spark.sql.DataFrame, ver: String) =
      AnnStreams.servedTopK(qs, spark.read.parquet(s"$root/$ver/centroids"),
          s"$root/$ver/index", 5, 2)
        .as[(Long, Long, Long, Double)].collect().toSet
    // batch-3 queries: the q23 vectors under fresh qids, so the
    // post-append serving rows are distinguishable in the shared sink
    val q23b = q23.select((col("qid") + 100L).as("qid"), col("qv")).localCheckpoint()
    val sq = AnnStreams.serveRotating(stream, root, 5, 2, s"$root/out", s"$root/ckpt")
    var rep2pre: Set[(Long, Long, Long, Double)] = null
    try {
      sq.processAllAvailable() // batch 1: q01 under v1
      // rebuild + atomic swap while the stream is RUNNING
      IvfIndex.publishVersion(embV2, seeds, root, "v2")
      assert(IvfIndex.currentVersion(spark, root) == "v2")
      q23.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c1")
      new java.io.File(s"$srcDir/c1").listFiles().foreach(_.setLastModified(1700000060000L))
      sq.processAllAvailable() // batch 2: q23 under v2
      rep2pre = replay(q23, "v2") // v2 replay BEFORE the hot-add lands
      // hot-add WITHOUT a swap: exact duplicates of the q23 queries
      // under fresh ids, appended into v2 with v2's own codebook — the
      // next trigger must find them (file listing per scan, no restart)
      val added = q23.select((col("qid") + 90000L).as("vec_id"), col("qv").as("embedding"))
      assert(IvfIndex.appendVectors(added, root) == "v2")
      q23b.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c2")
      new java.io.File(s"$srcDir/c2").listFiles().foreach(_.setLastModified(1700000120000L))
      sq.processAllAvailable() // batch 3: same vectors, post-append
    } finally sq.stop()
    val out = spark.read.parquet(s"$root/out")
    val got1 = out.filter(col("qid") < 2)
    val got2 = out.filter(col("qid") >= 2 && col("qid") < 100)
    val got3 = out.filter(col("qid") >= 100)
    // every pre-swap row carries v1, every post-swap row v2
    assert(got1.select("index_version").distinct().as[String].collect().toSeq == Seq("v1"),
      "pre-swap results must be attributed to v1")
    assert(got2.select("index_version").distinct().as[String].collect().toSeq == Seq("v2"),
      "post-swap results must be attributed to v2")
    def strip(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "nid", "dist").as[(Long, Long, Long, Double)].collect().toSet
    assert(strip(got1) == replay(q01, "v1"),
      "pre-swap batch must equal the v1 replay")
    assert(strip(got2) == rep2pre,
      "post-swap batch must equal the pre-append v2 replay")
    // the swap was LOAD-BEARING: v1 serves odd neighbors for these
    // queries (fixture property), v2 cannot contain any
    val v1OddForQ23 = replay(q23, "v1").exists { case (_, _, nid, _) => nid % 2 != 0 }
    assert(v1OddForQ23, "fixture must give v1 at least one odd neighbor for q23")
    assert(strip(got2).forall { case (_, _, nid, _) => nid % 2 == 0 },
      "post-swap results must come from the compacted v2 index only")
    // the hot-add was picked up WITHOUT swap or restart: batch 3 equals
    // the post-append replay, still attributed to v2, and every query's
    // rank-1 neighbor is its appended exact duplicate at distance 0
    assert(got3.select("index_version").distinct().as[String].collect().toSeq == Seq("v2"),
      "post-append results must still be attributed to v2")
    assert(strip(got3) == replay(q23b, "v2"),
      "post-append batch must equal the post-append v2 replay")
    // each query's appended exact duplicate is served at ~distance 0
    // (qid 102's ORIGINAL — vec_id 2, even, still in v2 — legitimately
    // ties at 0 and wins the nid tie-break; qid 103's original was odd
    // and compacted away, so its appended copy must be rank-1)
    val hits3 = got3.select("qid", "nid", "dist", "rank")
      .as[(Long, Long, Double, Long)].collect()
    Seq(102L, 103L).foreach { qid =>
      val dup = hits3.filter(h => h._1 == qid && h._2 == 90000L + (qid - 100L))
      assert(dup.length == 1 && math.abs(dup.head._3) < 1e-12,
        s"appended duplicate for qid $qid must serve at ~distance 0: ${hits3.toSeq}")
    }
    assert(hits3.exists(h => h._1 == 103L && h._2 == 90003L && h._4 == 1L),
      "qid 103's appended copy must be rank-1 (its original was compacted away)")
  }

  test("packer flush sentinel: trailing partials emit, total output equals batch exactly") {
    // round-13 ADVICE: Append+NoTimeout never emits the carried partial,
    // so full batch parity was unreachable from stream output alone. A
    // per-shard FlushDoc sentinel row (doc_id = Long.MaxValue, sorts
    // after all real docs) drains the carry — after it, streamed output
    // must equal q_seq_pack_bpe INCLUDING its partial (n_tok < 256) rows.
    val srcDir = Files.createTempDirectory("pack-flush").toString
    val docs = Tables(spark, sf0001, "documents")
      .select("lang", "doc_id", "text")
    val mid = docs.select("doc_id").orderBy("doc_id").as[Long].collect()
      .apply(docs.count().toInt / 2)
    val chunks = Seq(
      docs.filter(col("doc_id") < mid),
      docs.filter(col("doc_id") >= mid),
      docs.select("lang").distinct()
        .select(col("lang"), lit(graft.streaming.PackerStreams.FlushDoc).as("doc_id"),
          lit("").as("text")))
    chunks.zipWithIndex.foreach { case (c, i) =>
      val f = new java.io.File(srcDir, s"chunk$i")
      c.coalesce(1).write.mode("overwrite").parquet(f.toString)
      for (p <- f.listFiles()) p.setLastModified(1700000000000L + i * 60000L)
      f.setLastModified(1700000000000L + i * 60000L)
    }
    val (merges, vocab) =
      graft.queries.TextStatsQueries.tokenizerArtifacts(spark, sf0001)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q = graft.streaming.PackerStreams.packedBlocks(stream, merges, vocab)
      .toDF()
      .writeStream.outputMode("append").format("memory").queryName("packflush").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql("SELECT * FROM packflush")
    val want = SparkEntry.queries("q_seq_pack_bpe")(spark, sf0001)
    assert(want.filter(col("n_tok") =!= 256).count() > 0,
      "fixture must have partial blocks for the sentinel to flush")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "flushed stream output must equal the batch packer INCLUDING partials")
  }

  test("packer kill-and-recover: restart from checkpoint reproduces the batch packer") {
    // Round-13 verdict item 2: the 7-long PackState is DESIGNED to
    // recover from the state store — prove it. Same 4-chunk fixture as
    // the parity test, but the query is STOPPED after the first two
    // micro-batches (mid-corpus, partial blocks in state), chunks 3-4
    // land while it is down, and a fresh query object restarts from the
    // same checkpointLocation. If the carried partials did not survive
    // the restart, every post-restart block's bin index, doc span and
    // both checksums would shift — so full-block equality with the
    // one-shot batch packer (`q_seq_pack_bpe`) over the whole corpus is
    // exactly the recovery proof. (Reference restart contract:
    // vector-db.c:81-146 re-reads the durable index at startup.)
    // File sink (exactly-once commit log), not the memory sink — the
    // memory sink does not support recovery.
    val srcDir = Files.createTempDirectory("pack-recover-src").toString
    val ckptDir = Files.createTempDirectory("pack-recover-ckpt").toString
    val outDir = Files.createTempDirectory("pack-recover-out").toString
    val docs = Tables(spark, sf0001, "documents")
      .select("lang", "doc_id", "text")
    val ids = docs.select("doc_id").orderBy("doc_id").as[Long].collect()
    val cuts = (1 to 3).map(i => ids(i * ids.length / 4))
    val ranges = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
    def writeChunk(i: Int): Unit = {
      val (lo, hi) = ranges(i)
      val f = new java.io.File(srcDir, s"chunk$i")
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(f.toString)
      for (p <- f.listFiles()) p.setLastModified(1700000000000L + i * 60000L)
      f.setLastModified(1700000000000L + i * 60000L)
    }
    val (merges, vocab) =
      graft.queries.TextStatsQueries.tokenizerArtifacts(spark, sf0001)
    val schema = docs.schema
    def start() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
      graft.streaming.PackerStreams.packedBlocks(stream, merges, vocab)
        .toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .format("parquet").option("path", outDir)
        .start()
    }
    writeChunk(0); writeChunk(1)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // the "kill" after batch 2 of 4
    val beforeRestart = spark.read.parquet(outDir).count()
    writeChunk(2); writeChunk(3) // lands while the stream is DOWN
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir)
    val want = SparkEntry.queries("q_seq_pack_bpe")(spark, sf0001)
      .filter(col("n_tok") === 256)
    assert(got.count() > beforeRestart,
      "fixture must emit full blocks on BOTH sides of the restart")
    assert(got.count() == want.count() && want.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "post-restart blocks diverge from the batch packer: PackState did not recover")
  }

  test("dedup kill-and-recover: bucket anchors survive restart, late copies still pair") {
    // Second stateful family under restart (verdict item 2): the
    // near-dup stream's standing bucket anchors. Originals arrive,
    // the query stops, exact copies under new ids arrive while it is
    // down — after restart from the same checkpoint every copy must
    // pair with a PRE-RESTART anchor, which only happens if the anchor
    // state store was recovered (a fresh state would make the copies
    // their own anchors and flag nothing).
    import graft.streaming.DedupStreams
    val srcDir = Files.createTempDirectory("neardup-recover-src").toString
    val ckptDir = Files.createTempDirectory("neardup-recover-ckpt").toString
    val outDir = Files.createTempDirectory("neardup-recover-out").toString
    val orig = Tables(spark, sf0001, "documents").select("doc_id", "text")
    orig.coalesce(1).write.mode("append").parquet(srcDir)
    val schema = orig.schema
    def start() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      DedupStreams.nearDupCandidates(stream).toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir)
        .format("parquet").option("path", outDir)
        .start()
    }
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    Thread.sleep(1100) // distinct file mtimes → deterministic batch order
    orig.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val pairs = spark.read.parquet(outDir)
      .select("doc_id", "anchor_id").distinct()
      .as[(Long, Long)].collect().toMap
    val nDocs = orig.count()
    val copies = pairs.keys.filter(_ >= 10000L)
    assert(copies.size == nDocs,
      s"${copies.size} of $nDocs late copies flagged after restart")
    assert(copies.forall(c => pairs(c) < 10000L),
      "a late copy anchored to another copy: pre-restart anchors were lost")
  }

  test("end-to-end pipeline: quality -> exact dedup -> tokenize -> pack, each stage killed once") {
    // Round-13 verdict item 7: every stream is pinned against its
    // batch twin individually — this chains them into ONE pipeline.
    // Stage 1 (stateless quality gate + stateful exact-dedup keeper)
    // streams the corpus in four doc_id-ranged chunks and lands
    // survivors in a bronze dir via foreachBatch (per-batch subdirs +
    // explicit mtimes => deterministic stage-2 arrival order); stage 2
    // (map-side tokenize + stateful PackState fold) streams the bronze
    // dir into packed context blocks. BOTH stages are stopped
    // mid-corpus and restarted from their checkpoints — so the final
    // equality proves recovery of both state stores, not just each in
    // isolation. The pin is an INDEPENDENT batch composition: the
    // funnel's s1+s2 stages (q_pipeline_funnel exprs), the same
    // tokenizer artifacts, and the window-based packing shape of
    // q_seq_pack_bpe — a different mechanism (window vs stateful fold)
    // computing the same blocks.
    import graft.streaming.{DedupStreams, PackerStreams}
    val base = Files.createTempDirectory("pipe-e2e").toString
    val docs = Tables(spark, sf0001, "documents").select("lang", "doc_id", "text")
    val ids = docs.select("doc_id").orderBy("doc_id").as[Long].collect()
    val cuts = (1 to 3).map(i => ids(i * ids.length / 4))
    val ranges = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
    def writeChunk(i: Int): Unit = {
      val (lo, hi) = ranges(i)
      val f = new java.io.File(s"$base/src", s"chunk$i")
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(f.toString)
      for (p <- f.listFiles()) p.setLastModified(1700000000000L + i * 60000L)
      f.setLastModified(1700000000000L + i * 60000L)
    }
    val (merges, vocab) =
      graft.queries.TextStatsQueries.tokenizerArtifacts(spark, sf0001)
    // ---- stage 1: quality gate + exact dedup -> bronze ----
    val toks = split(col("text"), " ")
    def qualityGate(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("nt", size(toks).cast("long"))
      .withColumn("uniq_bp",
        floor(size(array_distinct(toks)) * 10000.0 / col("nt")).cast("long"))
      .withColumn("stop_bp",
        floor(size(filter(toks, t => t === "a" || t === "the")) * 10000.0 / col("nt"))
          .cast("long"))
      .filter(col("nt") >= 20 && col("uniq_bp") >= 4000 && col("stop_bp") <= 1000)
      .select("lang", "doc_id", "text")
    def startStage1() = {
      val in = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/src/*")
      DedupStreams.exactDedupDocs(qualityGate(in)).toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt1")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
          val dir = new java.io.File(s"$base/bronze", s"batch_$bid")
          b.coalesce(1).write.mode("overwrite").parquet(dir.toString)
          for (p <- dir.listFiles()) p.setLastModified(1800000000000L + bid * 60000L)
          dir.setLastModified(1800000000000L + bid * 60000L)
          ()
        }.start()
    }
    writeChunk(0); writeChunk(1)
    val s1a = startStage1()
    try s1a.processAllAvailable() finally s1a.stop() // stage-1 "kill" mid-corpus
    writeChunk(2); writeChunk(3) // lands while stage 1 is DOWN
    val s1b = startStage1()
    try s1b.processAllAvailable() finally s1b.stop()
    val bronzeDirs = new java.io.File(s"$base/bronze").listFiles().sortBy(_.getName)
    assert(bronzeDirs.length == 4, s"expected 4 bronze batches, got ${bronzeDirs.length}")
    // ---- stage 2: tokenize + pack from bronze, killed after 2 batches ----
    // hide the post-restart half so the first run genuinely stops with
    // partial blocks in state (dir renames preserve mtimes)
    for (d <- bronzeDirs.drop(2))
      assert(d.renameTo(new java.io.File(s"$base/staged_${d.getName}")))
    val bronzeSchema = spark.read.parquet(bronzeDirs.head.toString).schema
    def startStage2() = {
      val in = spark.readStream.schema(bronzeSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/bronze/*")
      PackerStreams.packedBlocks(in, merges, vocab).toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt2")
        .format("parquet").option("path", s"$base/packed")
        .start()
    }
    val s2a = startStage2()
    try s2a.processAllAvailable() finally s2a.stop() // stage-2 "kill"
    val midBlocks = spark.read.parquet(s"$base/packed").count()
    for (d <- bronzeDirs.drop(2))
      assert(new java.io.File(s"$base/staged_${d.getName}")
        .renameTo(new java.io.File(s"$base/bronze", d.getName)))
    val s2b = startStage2()
    try s2b.processAllAvailable() finally s2b.stop()
    val got = spark.read.parquet(s"$base/packed")
    assert(got.count() > midBlocks,
      "fixture must emit full blocks on BOTH sides of the stage-2 restart")
    // ---- the independent batch composition ----
    val s1 = qualityGate(docs)
    val keep = s1.select(col("doc_id"),
        graft.operators.Dedup.contentKey(col("text")).as("ck"))
      .groupBy("ck").agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s2 = s1.join(keep, "doc_id")
    assert(s2.count() > 0 && s2.count() < docs.count(),
      "fixture must lose docs to the quality gate or dedup stage")
    val vlit = typedLit(vocab)
    val encT = merges.foldLeft(graft.functions.TextFunctions.tokens(col("text"))) {
      case (c, (l, r)) => graft.functions.HashExpressions.bpeMergeFast(c, l, r)
    }
    val enc = s2.select(col("lang"), col("doc_id"),
        transform(encT, t => coalesce(element_at(vlit, t), lit(0L))).as("tids"))
      .filter(size(col("tids")) >= 1)
      .withColumn("nt", size(col("tids")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    val ctx = graft.queries.TextStatsQueries2.CtxLen
    val want = enc
      .withColumn("cum0", sum("nt").over(w) - col("nt"))
      .select(col("lang"), col("doc_id"), col("cum0"),
        posexplode(col("tids")).as(Seq("p0", "id")))
      .select(col("lang"), col("doc_id"), (col("cum0") + col("p0")).as("gpos"), col("id"))
      .groupBy(col("lang"), expr(s"gpos DIV $ctx").as("bin"))
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        sum("id").cast("long").as("id_sum"),
        sum((col("gpos") % ctx + 1) * col("id")).cast("long").as("id_oxw"))
      .filter(col("n_tok") === ctx)
    assert(want.count() > 0, "fixture must produce full blocks through the funnel")
    assert(got.count() == want.count(),
      s"block counts diverge: streamed ${got.count()} vs batch ${want.count()}")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "end-to-end streamed blocks diverge from the batch pipeline composition")
  }

  test("streaming shard manifest: latest snapshots equal the batch manifest") {
    // many small files + maxFilesPerTrigger=2 => the xor fold really runs
    // across micro-batches; the property under test is that ANY batching
    // of an exactly-once stream yields the batch manifest
    val srcDir = Files.createTempDirectory("docs-manifest").toString
    Tables(spark, sf0001, "documents").select("doc_id", "text")
      .repartition(8).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(srcDir)
    val q = graft.streaming.ManifestStreams.shardManifest(stream)
      .writeStream.outputMode("update").format("memory").queryName("manifest").start()
    try {
      q.processAllAvailable()
      // seq is the per-shard update counter: max seq = final snapshot
      val latest = spark.sql(
        """SELECT shard, n_docs, n_tokens, xor_hash, min_id, max_id FROM (
          |  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY seq DESC) AS rn
          |  FROM manifest) WHERE rn = 1""".stripMargin)
      val batch = graft.queries.CurationQueries15.shardManifest.fn(spark, sf0001)
      assert(latest.count() == 16)
      assert(latest.exceptAll(batch).isEmpty && batch.exceptAll(latest).isEmpty,
        "streaming manifest snapshots differ from the one-pass batch manifest")
    } finally q.stop()
  }

  test("streaming linkage: pairs emit on second-member arrival, equal batch across a restart") {
    import graft.streaming.LinkageStreams
    val srcDir = Files.createTempDirectory("link-src").toString
    val ckpt = Files.createTempDirectory("link-ckpt").toString
    val outDir = Files.createTempDirectory("link-out").toString
    val c = Tables(spark, sf0001, "customer").select(col("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_mktsegment"), floor(col("c_acctbal") * 100).as("bal_cents"))
    val rows = c.collect()
    val n = rows.length
    def writeChunk(part: Array[org.apache.spark.sql.Row]): Unit = {
      spark.createDataFrame(spark.sparkContext.parallelize(part.toSeq, 1), c.schema)
        .coalesce(1).write.mode("append").parquet(srcDir)
      Thread.sleep(1100)
    }
    writeChunk(rows.slice(0, n / 3))
    writeChunk(rows.slice(n / 3, 2 * n / 3))
    def start() = {
      val stream = spark.readStream.schema(c.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .as[LinkageStreams.CustRecord]
      LinkageStreams.linkagePairs(stream)
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).outputMode("append").start()
    }
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val mid = spark.read.parquet(outDir).count()
    writeChunk(rows.slice(2 * n / 3, n))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir)
      .as[(Long, Long, Long, Long)].collect().sorted
    val batch = graft.queries.CurationQueries35.recordLinkage.fn(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().sorted
    assert(got.length == batch.length && got.sameElements(batch),
      s"streamed pairs (${got.length}) diverge from batch (${batch.length})")
    assert(mid > 0 && got.length > mid, "pairs must emit on both sides of the restart")
    // recovered-state witness: a pair whose FIRST member arrived before
    // the restart and whose second arrived after — only recovered block
    // members can produce it
    val pre = rows.slice(0, 2 * n / 3).map(_.getLong(0)).toSet
    val post = rows.slice(2 * n / 3, n).map(_.getLong(0)).toSet
    assert(got.exists(p => (pre(p._1) && post(p._2)) || (pre(p._2) && post(p._1))),
      "no pair spans the restart boundary — recovery untested")
  }

  test("streaming linkage: a replayed record neither self-pairs nor doubles later pairs") {
    // ADVICE r14: a duplicate arrival of the same c_custkey used to
    // match its own standing copy — a (k,k) pair at distance 0,
    // breaking the batch contract key_a < key_b — and re-entered block
    // state, doubling every later pair. Replay is the at-least-once
    // delivery norm, so the skip is contract, not nicety.
    import graft.streaming.LinkageStreams
    val srcDir = Files.createTempDirectory("link-replay-src").toString
    val a = LinkageStreams.CustRecord(1L, "Customer#00000A001", 7, "BUILDING", 100L)
    val b = LinkageStreams.CustRecord(2L, "Customer#00000A002", 7, "BUILDING", 250L)
    def put(recs: LinkageStreams.CustRecord*): Unit = {
      recs.toDS().toDF().coalesce(1).write.mode("append").parquet(srcDir)
      Thread.sleep(1100)
    }
    put(a)
    put(b)       // completes the block: pair (1,2) emits
    put(a)       // REPLAY of key 1: must be a no-op
    put(b.copy(c_custkey = 3L, c_name = "Customer#00000A003", bal_cents = 400L))
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .as[LinkageStreams.CustRecord]
    val q = LinkageStreams.linkagePairs(stream)
      .writeStream.outputMode("append").format("memory").queryName("linkreplay").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT key_a, key_b, name_dist FROM linkreplay")
        .as[(Long, Long, Long)].collect().sorted.toSeq
      // had the replay re-entered state, (1,3)/(2,3) would appear twice
      // and a (1,1) self-pair would precede them
      assert(got == Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)),
        s"replay broke pair semantics: $got")
    } finally q.stop()
  }

  test("streaming SCD2: closed intervals equal the batch history across a restart") {
    val srcDir = Files.createTempDirectory("scd2-src").toString
    val ckpt = Files.createTempDirectory("scd2-ckpt").toString
    val outDir = Files.createTempDirectory("scd2-out").toString
    val ev = Tables.events(spark, sf0001).select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"), col("event_type"))
    // arrival contract: chunks land in (ts, event_id) order across triggers
    val ordered = ev.orderBy("ts_us", "event_id").collect()
    val n = ordered.length
    def writeChunk(rows: Array[org.apache.spark.sql.Row]): Unit = {
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), ev.schema)
        .coalesce(1).write.mode("append").parquet(srcDir)
      Thread.sleep(1100) // distinct mtimes => deterministic batch order
    }
    writeChunk(ordered.slice(0, n / 3))
    writeChunk(ordered.slice(n / 3, 2 * n / 3))
    def start() = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .as[EventStreams.Scd2Event]
      EventStreams.scd2Intervals(stream)
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).outputMode("append").start()
    }
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val mid = spark.read.parquet(outDir).count()
    // the third chunk lands while the stream is DOWN; the restarted query
    // must recover every user's OPEN interval from the state store
    writeChunk(ordered.slice(2 * n / 3, n))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir)
      .select("user_id", "event_type", "valid_from_us", "valid_to_us")
      .as[(Long, String, Long, Long)].collect().sorted
    val batch = graft.queries.CurationQueries35.scd2History.fn(spark, sf0001)
      .filter(col("is_current") === 0)
      .select(col("user_id"), col("event_type"), col("valid_from_us"), col("valid_to_us"))
      .as[(Long, String, Long, Long)].collect().sorted
    assert(got.length == batch.length && got.sameElements(batch),
      s"streamed closed intervals (${got.length}) diverge from batch (${batch.length})")
    assert(mid > 0 && got.length > mid, "intervals must close on both sides of the restart")
    // recovered-state witness: an interval OPENED before the restart and
    // CLOSED after it — only a recovered open-interval state can emit it
    val boundaryTs = ordered(2 * n / 3 - 1).getLong(1)
    assert(got.exists(iv => iv._3 <= boundaryTs && iv._4 > boundaryTs),
      "no interval spans the restart boundary — recovery untested")
  }

  test("exact-dedup TTL: idle keys drop from state and an expired key re-admits its copy") {
    // the round-14 verdict's missing item 1: every ledger-class stream
    // documents ProcessingTimeTimeout as its production state bound but
    // no spec ever exercised the timeout leg or pinned the contract
    // change. This drives it on a real clock: (a) state rows actually
    // drop after the TTL, (b) a duplicate arriving AFTER its key expired
    // is re-admitted — output becomes "distinct within a TTL window",
    // not globally distinct. TTL = 10s so batch latency can never
    // expire a key before its in-TTL duplicate arrives. One CONTINUOUS
    // throttled query, condition-polled: with ProcessingTimeTimeout the
    // engine keeps running (empty) batches to serve future timeouts —
    // processAllAvailable/AvailableNow never settle BY DESIGN, and
    // those empty timeout batches are exactly the mechanism that drops
    // idle keys, so the test drives the query the way production does.
    import graft.streaming.DedupStreams
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("dedup-ttl").toString
    def put(n: Int, rows: (String, Long, String)*): Unit =
      rows.toDF("lang", "doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/src/c$n")
    put(0, ("en", 1L, "alpha text"), ("en", 2L, "beta text"))
    val schema = spark.read.parquet(s"$base/src/c0").schema
    val in = spark.readStream.schema(schema).parquet(s"$base/src/*")
    val q = DedupStreams.exactDedupDocs(in, idleTtl = Some("10 seconds")).toDF()
      .writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet").option("path", s"$base/out").start()
    def emitted(): Seq[Long] =
      try spark.read.parquet(s"$base/out").select("doc_id").as[Long].collect().sorted.toSeq
      catch { case _: Exception => Nil } // sink not materialized yet
    def waitUntil(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
      while (!cond) {
        assert(System.nanoTime < deadline, s"timed out waiting for: $what")
        Thread.sleep(250)
      }
    }
    try {
      waitUntil("first batch emits both keys")(emitted() == Seq(1L, 2L))
      val mark = q.lastProgress.batchId
      put(1, ("en", 3L, "alpha text")) // duplicate INSIDE the TTL
      waitUntil("duplicate batch consumed")(
        q.recentProgress.exists(p => p.batchId > mark && p.numInputRows > 0))
      assert(emitted() == Seq(1L, 2L), "an in-TTL duplicate must be dropped")
      Thread.sleep(12000) // idle past the TTL for every standing key
      put(2, ("en", 5L, "gamma text"))
      // (a) state actually drops: the two expired ledger rows are gone,
      // only the fresh key's row stands
      waitUntil("expired keys leave the state store")(
        q.recentProgress.lastOption.flatMap(_.stateOperators.headOption)
          .exists(_.numRowsTotal == 1L))
      put(3, ("en", 6L, "beta text")) // duplicate of an EXPIRED key
      // (b) the contract change, pinned: the expired key re-admits
      waitUntil("post-expiry duplicate re-admitted")(
        emitted() == Seq(1L, 2L, 5L, 6L))
    } finally q.stop()
  }

  test("drift-triggered compaction: stale codebook misses the drifted mode; needsCompaction fires; rebuild restores serving recall") {
    // round-15 verdict item 1, the serving half: the drift stat is not
    // just arithmetic (IvfIndexSpec) — it triggers exactly when probe
    // RECALL is at risk. A drifted ingest mode lands near a stale cell
    // boundary: appends route to cluster 1, a query from the same mode
    // routes to cluster 0, so nprobe=1 serving MISSES the appended
    // near-duplicates entirely. driftStat crosses, the operator
    // retrains + swaps (the enforced rule's action), and the SAME
    // query served post-swap finds its near-duplicates at ~0 distance
    // — without restarting the serving stream.
    import graft.operators.IvfIndex
    import graft.streaming.AnnStreams
    val root = Files.createTempDirectory("ann-drift").toString
    val emb = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.9, 0.1)), (3L, Seq(0.8, 0.0)),
      (4L, Seq(0.1, 0.9)), (5L, Seq(0.0, 0.8))
    ).toDF("vec_id", "embedding")
    val seeds = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("cluster"), col("embedding").as("cv"))
    IvfIndex.publishVersion(emb, seeds, root, "v1")
    // the drifted mode: (0.5, 0.52) sits just past the v1 cell boundary
    // -> all 6 appends route to cluster 1 (d2 0.4804 < 0.5204)
    val drifted = (200L to 205L).map(i => (i, Seq(0.5, 0.52)))
      .toDF("vec_id", "embedding")
    assert(IvfIndex.appendVectors(drifted, root) == "v1")
    // a query from the same mode, just INSIDE the boundary: routes to
    // cluster 0 (d2 0.4804 vs 0.5204 mirrored) — the stale-recall trap
    val queries = Seq((50L, Seq(0.5, 0.48))).toDF("qid", "qv")
    val srcDir = s"$root/qsrc"
    queries.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/c0")
    new java.io.File(s"$srcDir/c0").listFiles().foreach(_.setLastModified(1700000000000L))
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val sq = AnnStreams.serveRotating(stream, root, 3, 1, s"$root/out", s"$root/ckpt")
    try {
      sq.processAllAvailable() // batch 1: served under the stale v1
      // the operational loop the receipt derived: appends (0,6) vs
      // build (3,3) -> TV = 0.5 exactly; the trigger fires
      assert(IvfIndex.driftStat(spark, root) == 0.5)
      assert(IvfIndex.needsCompaction(spark, root))
      // the rule's action: retrain WITH the appends, a cell for the new
      // mode, atomic swap — the stream keeps running
      val seeds2 = seeds.unionByName(
        Seq((2L, Seq(0.5, 0.5))).toDF("cluster", "cv"))
      IvfIndex.publishVersion(emb.unionByName(drifted), seeds2, root, "v2")
      assert(!IvfIndex.needsCompaction(spark, root), "retrain must re-arm the trigger")
      queries.select((col("qid") + 100L).as("qid"), col("qv")).coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/c1")
      new java.io.File(s"$srcDir/c1").listFiles().foreach(_.setLastModified(1700000060000L))
      sq.processAllAvailable() // batch 2: same query vector under v2
    } finally sq.stop()
    val out = spark.read.parquet(s"$root/out")
    val pre = out.filter(col("qid") === 50L)
      .select("nid", "dist", "rank", "index_version")
      .as[(Long, Double, Long, String)].collect().sortBy(_._3)
    val post = out.filter(col("qid") === 150L)
      .select("nid", "dist", "rank", "index_version")
      .as[(Long, Double, Long, String)].collect().sortBy(_._3)
    // stale serve: v1, probes the query's own cell — ZERO of the 6
    // appended near-duplicates are reachable, rank-1 is a far base
    // vector (the 25-55-point recall loss of the probe, in miniature)
    assert(pre.nonEmpty && pre.forall(_._4 == "v1"))
    assert(pre.forall(_._1 < 200L), s"stale codebook must miss the drifted mode: ${pre.toSeq}")
    assert(pre.head._2 > 0.1, s"stale rank-1 is a far neighbor: ${pre.head}")
    // post-rebuild serve: v2, the new cell owns the mode — rank-1 is an
    // appended near-duplicate at ~0 distance. Recall recovered, live.
    assert(post.nonEmpty && post.forall(_._4 == "v2"))
    assert(post.head._1 >= 200L && post.head._2 < 0.01,
      s"rebuild must restore serving recall: ${post.toSeq}")
  }

  test("LSH anchor TTL: idle buckets drop from state and an expired bucket re-anchors") {
    // round-15 verdict item 2: the band-bucket anchor ledger is the
    // LARGEST content-identity ledger (Θ(occupied buckets), 4 band
    // keys per distinct doc) — apply the proven TTL harness to it and
    // pin ITS contract change: after a bucket expires, the next
    // occupant becomes the NEW anchor and emits nothing, so candidate
    // pairs exist only against a TTL-fresh anchor. Same continuous-
    // trigger + condition-polling shape as the exact-dedup TTL test
    // (ProcessingTimeTimeout streams never settle by design).
    import graft.streaming.DedupStreams
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("lsh-ttl").toString
    val text = "alpha beta gamma delta epsilon zeta"
    def put(n: Int, rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/src/c$n")
    put(0, (1L, text))
    val schema = spark.read.parquet(s"$base/src/c0").schema
    val in = spark.readStream.schema(schema).parquet(s"$base/src/*")
    val q = DedupStreams.nearDupCandidates(in, idleTtl = Some("10 seconds")).toDF()
      .writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet").option("path", s"$base/out").start()
    def pairs(): Set[(Long, Long)] =
      try spark.read.parquet(s"$base/out").select("doc_id", "anchor_id")
        .distinct().as[(Long, Long)].collect().toSet
      catch { case _: Exception => Set.empty }
    def stateRows(): Long =
      q.recentProgress.lastOption.flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(-1L)
    def waitUntil(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
      while (!cond) {
        assert(System.nanoTime < deadline, s"timed out waiting for: $what")
        Thread.sleep(250)
      }
    }
    try {
      // doc 1 anchors its 4 band buckets (identical text → all bands
      // collide, the deterministic full-collision fixture)
      waitUntil("anchor's 4 buckets materialize in state")(stateRows() == 4L)
      put(1, (2L, text)) // same text INSIDE the TTL
      waitUntil("in-TTL duplicate emits candidates against the anchor")(
        pairs() == Set((2L, 1L)))
      Thread.sleep(12000) // idle past the TTL for every standing bucket
      // (a) state actually drops: all 4 anchor rows are gone
      waitUntil("expired buckets leave the state store")(stateRows() == 0L)
      put(2, (3L, text)) // same text, bucket EXPIRED
      // (b) the contract change, pinned: doc 3 re-anchors — no pair
      // against the all-time first occupant — and the buckets restand
      waitUntil("expired bucket re-anchors silently")(stateRows() == 4L)
      assert(pairs() == Set((2L, 1L)),
        "a post-expiry occupant must re-anchor, not pair with the expired anchor")
      put(3, (4L, text)) // inside the NEW anchor's TTL window
      waitUntil("candidates emit against the fresh anchor")(
        pairs() == Set((2L, 1L), (4L, 3L)))
    } finally q.stop()
  }

  test("exact-dedup TTL x checkpoint: state and timers survive restart; downtime expiry drops on resume") {
    // round-15 verdict item 7: the TTL test proves expiry on a live
    // stream; this proves the CHECKPOINT contract — (a) ledger state
    // recovers across a restart (an in-TTL duplicate arriving after
    // the restart is still dropped), (b) timeout TIMERS recover too:
    // a restarted query runs no batch until input arrives, so keys whose
    // TTL lapsed while the stream was DOWN are dropped by the first
    // post-restart batch, and the copy that triggers it re-admits.
    import graft.streaming.DedupStreams
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("dedup-ttl-restart").toString
    def put(n: Int, rows: (String, Long, String)*): Unit =
      rows.toDF("lang", "doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/src/c$n")
    def start() = DedupStreams.exactDedupDocs(
        spark.readStream.schema(
          org.apache.spark.sql.types.StructType.fromDDL(
            "lang string, doc_id bigint, text string"))
          .parquet(s"$base/src/*"),
        idleTtl = Some("15 seconds")).toDF()
      .writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet").option("path", s"$base/out").start()
    def emitted(): Seq[Long] =
      try spark.read.parquet(s"$base/out").select("doc_id").as[Long].collect().sorted.toSeq
      catch { case _: Exception => Nil }
    def waitUntil(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
      while (!cond) {
        assert(System.nanoTime < deadline, s"timed out waiting for: $what")
        Thread.sleep(250)
      }
    }
    put(0, ("en", 1L, "alpha text"), ("en", 2L, "beta text"))
    val q1 = start()
    try waitUntil("first run emits both keys")(emitted() == Seq(1L, 2L))
    finally q1.stop()
    // restart immediately: the ledger must come back from the state
    // store, not from reprocessing (the offset log skips c0)
    val q2 = start()
    try {
      val mark2 = Option(q2.lastProgress).map(_.batchId).getOrElse(-1L)
      put(1, ("en", 3L, "alpha text")) // in-TTL duplicate, post-restart
      waitUntil("post-restart duplicate batch consumed")(
        q2.recentProgress.exists(p => p.batchId > mark2 && p.numInputRows > 0))
      assert(emitted() == Seq(1L, 2L),
        "recovered ledger must still drop an in-TTL duplicate")
    } finally q2.stop()
    // both keys' timers lapse while the stream is DOWN (alpha's clock
    // was refreshed by doc 3 moments ago; 17s > 15s TTL covers both)
    Thread.sleep(17000)
    val q3 = start()
    try {
      put(2, ("en", 6L, "beta text")) // copy of a downtime-expired key
      // (b) timers recovered: the first post-restart batch expires the
      // ledger rows that timed out during downtime; only the re-admitted
      // key stands
      waitUntil("downtime-expired keys leave the state store")(
        q3.recentProgress.lastOption.flatMap(_.stateOperators.headOption)
          .exists(_.numRowsTotal == 1L))
      waitUntil("downtime-expired key re-admits its copy")(
        emitted() == Seq(1L, 2L, 6L))
    } finally q3.stop()
  }
}
