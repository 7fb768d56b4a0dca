package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ONLY: comma-separated query subset — the
    // creep-decomposition knob (benching HEAD over an OLDER query set
    // isolates registry-size JVM pressure from per-query cost
    // accretion; see PLANS.md)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    val spark = GraftSession()
    val (json, summary) = run(spark, sfDir, only)
    println(json)
    // a bounded stdout tail can truncate the per-query map — persist the
    // full line as an artifact
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json"))
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    println(summary)
    spark.stop()
  }

  /** The bench itself, session-agnostic — `main` wraps it with its own
    * session; HarnessSpec drives it on the shared test session to pin
    * the failure contract. Returns the full JSON line (bench.json) and
    * the compact summary line.
    */
  def run(spark: SparkSession, sfDir: String,
          only: Option[Set[String]]): (String, String) = {
    val qs = SparkEntry.select(only.getOrElse(Set.empty))
    only.foreach(o => System.err.println(
      s"[bench] SPARK_GRAFT_BENCH_ONLY active: ${o.size} of ${SparkEntry.registry.size} queries"))
    // untimed warmup: absorbs one-time JVM/codegen/classloader costs (a
    // cold first query otherwise books ~5 s that no steady-state run pays).
    // Three plan families, not one: a vector scan alone leaves hash-agg /
    // window / sort-merge codegen cold, and the alphabetically-first timed
    // queries (q1/q3/q5) would book that residual warmup as their own cost
    Seq("q_topk_cosine", "q1_pricing", "q_window_rank").foreach { n =>
      try SparkEntry.evaluate(SparkEntry.queries(n)(spark, sfDir))
      catch { case _: Throwable => () }
    }
    // two timed passes, per-query MIN: machine-load contention swings a
    // single-pass total 2-3x on a shared box; the min of two runs is the
    // steady-state number the engine actually delivers.
    // A query that throws must NOT book its time-to-exception as a timing
    // (an analysis-broken query would print as a fake 8-13x
    // "speedup") — failed queries go to a "failed" list and are
    // excluded from the per-query map and the total.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def pass(): Map[String, Double] = {
      val times = Map.newBuilder[String, Double]
      failed ++= SparkEntry.runEach(qs, "bench") { q =>
        val t0 = System.nanoTime()
        SparkEntry.evaluate(q.fn(spark, sfDir))
        times += q.name -> (System.nanoTime() - t0) / 1e9
      }.keys
      times.result()
    }
    val (pass1, pass2) = (pass(), pass())
    val names = qs.map(_.name).filterNot(failed)
    val results = names.map(n => n -> math.min(pass1(n), pass2(n)))
    // per-query run-to-run spread (|p1 - p2|): two same-HEAD r9 runs
    // differed by up to 30% on single queries, which is bigger than
    // most real regressions — recording the spread next to the min
    // turns round-over-round diffs into signal (a delta smaller than
    // the query's own spread is noise by definition)
    val spreads = names.map(n => n -> math.abs(pass1(n) - pass2(n)))
    // JSON-encode keys: a query name containing a quote/backslash/control
    // char must not produce an invalid artifact
    import graft.pipelines.HttpEmbedder.jsonStr
    // CANARY: a pinned 10-query subset recorded verbatim in every bench
    // artifact, so any two benches are box-paired by construction — the
    // per-query drift rule (min-of-both-new vs max-of-both-old, +30% AND
    // +0.3s) reads these without archaeology. The r15 frozen-binary A/B
    // proved totals track ambient box drift (×1.2 on identical code);
    // only box-paired per-query ratios carry signal. Ten families:
    // scan/agg, join+topk, multi-join, vector kernel, window, generator,
    // LSH shuffle, as-of join, iterative graph, robust-stats — plus the
    // two historical judge watch queries (q_pagerank, q_mad_outliers).
    // Membership is FIXED: changing it breaks pairing with every prior
    // artifact, so additions need a new name, not an edit.
    val canary = Seq("q1_pricing", "q3_top_orders", "q5_region_revenue",
      "q_topk_cosine", "q_window_rank", "q_chunk", "q_minhash_lsh_pairs",
      "q_asof_join", "q_pagerank", "q_mad_outliers")
    val resultMap = results.toMap
    val qsJson = results.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val canaryJson = canary.flatMap(n => resultMap.get(n).map(v => jsonStr(n) + ":" + v))
      .mkString("{", ",", "}")
    val sp = spreads.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.toSeq.map(jsonStr).mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsJson,"spread":$sp,"canary":$canaryJson,"failed":$failedJson,"sf":${jsonStr(sfDir)}}"""
    // the LAST stdout line is a compact, self-contained summary that fits
    // inside a bounded stdout tail (a map cut mid-line parses as nothing):
    // total + the 25 slowest queries + failures, pointing at bench.json
    // for the full map
    def r3(v: Double): String = (math.rint(v * 1000) / 1000).toString
    val topJson = results.sortBy(-_._2).take(25)
      .map { case (k, v) => jsonStr(k) + ":" + r3(v) }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$topJson,"canary":$canaryJson,"failed":$failedJson,"n_queries":${results.size},"sf":${jsonStr(sfDir)},"full":"bench.json"}"""
    (json, summary)
  }
}
