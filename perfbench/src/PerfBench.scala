package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.{Chunker, Prompt, TopK}
import graft.pipelines.{Completion, IndexBuild, MockEmbedder, Rag}

/** Benchmark runner: runs workloads against inputs generated by
  * `perfbench/gen.py` and writes each one's figures as a JSON object.
  *
  * {{{
  * PerfBench <workload,...> <dataRoot> <workRoot> <seconds> <trace 0|1> <seed> <smoke 0|1> <launchEpochMs>
  * }}}
  *
  * Workload `w` reads `<dataRoot>/w`, works in `<workRoot>/w` and writes
  * `<workRoot>/w.json`. A smoke run sets up once and skips the warm-ups.
  *
  * Untraced, it times set-up and operations only. Traced, every other op
  * is traced: it runs under its own Spark job group, a [[SparkProbe]]
  * books Spark's work to it, and its layer calls are recorded as spans.
  * The difference between traced and untraced ops is the tracing overhead.
  */
object PerfBench {
  val ChunkLen = 64
  val K = 5
  val SessionTurns = 10
  val SetupReps = 3
  val WarmTurns = 40
  val WarmBuilds = 5
  // registry queries of one curation pass: the job-heavy q_longest_repeat,
  // the iterative q_pagerank, the shuffle-heavy q_containment and
  // q_rag_prompt, the registry's form of a RAG turn
  val Queries = Seq("q_pagerank", "q_rag_prompt", "q_longest_repeat", "q_containment")

  final case class Op(wallMs: Double, startMs: Long, endMs: Long,
                      compiles: Long, compileNs: Long, failed: Boolean)

  /** Shared state of one run. */
  final class Run(val spark: SparkSession, val workload: String, val data: String,
                  val work: String, val seconds: Double, val tracing: Boolean, val seed: Long,
                  val smoke: Boolean) {
    def reps: Int = if (smoke) 1 else SetupReps
    def warm(n: Int): Int = if (smoke) 0 else n
    val tracer = new Tracer
    var probe: Option[SparkProbe] = None
    val metrics = mutable.LinkedHashMap[String, Double]()
    val checks = mutable.ArrayBuffer[String]()
    var checkFailures = 0
    def sc = spark.sparkContext

    def check(ok: Boolean, what: => String): Unit =
      if (!ok) { checkFailures += 1; checks += what }

    /** `body`, recorded as a span when `traced`. */
    def span[T](traced: Boolean, name: String, op: Int)(body: => T): T =
      if (traced) tracer.span(name, op)(body) else body

    /** Run `body` as op `id`, under job group `group` when traced. */
    def op(id: Int, group: String)(body: => Unit): Op = {
      if (probe.isDefined) sc.setJobGroup(group, group)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n0 = CodeGenerator.compileTime
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val failed = try { body; false } catch {
        case e: Exception => System.err.println(s"[perfbench] op $id failed: $e"); true
      }
      val t1 = System.nanoTime()
      val s1 = System.currentTimeMillis()
      if (probe.isDefined) sc.clearJobGroup()
      Op((t1 - t0) / 1e6, s0, s1, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        CodeGenerator.compileTime - n0, failed)
    }

    /** Ops while the next one, as long as the last, ends within
      * `seconds`; at least `min`. `next(i)` runs op i.
      */
    def loop(min: Int)(next: Int => Op): Seq[Op] = {
      val out = mutable.ArrayBuffer[Op]()
      val t0 = System.nanoTime()
      do out += next(out.size)
      while (out.size < min || (System.nanoTime() - t0) / 1e9 + out.last.wallMs / 1000 < seconds)
      log(f"${out.size} ops in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      out.toSeq
    }

    /** Records the set-up time, the median of the repeated set-ups plus
      * the one warm-up that follows them, then the heap left in use.
      */
    def setup(reps: Seq[Double], warmUp: Double = 0.0): Unit = {
      log(s"set-up ${reps.map(x => f"$x%.2f").mkString(" ")} s, warm-up ${f"$warmUp%.2f"} s")
      metrics("setup.median_s") = median(reps) + warmUp
      // Spark's ContextCleaner frees blocks of unreachable RDDs (such as
      // local checkpoints) only after a GC has enqueued them
      val rt = Runtime.getRuntime
      for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
      metrics("heap_used_mb") = (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }

    /** The measured ops, at least `min`. Untraced: `plain` ops for the
      * whole run. Traced: `plain` and `traced` ops alternate under a [[SparkProbe]],
      * at least one of each, so both see the same warm-up and load;
      * `layers` gets the traced (op, id) pairs once every listener event
      * has arrived.
      */
    def measure(plain: Int => Op, traced: Int => Op, min: Int = 1)(
        layers: Seq[(Op, Int)] => Unit): Seq[Op] =
      if (!tracing) loop(min)(plain)
      else {
        probe = Some(new SparkProbe(sc))
        sc.addSparkListener(probe.get)
        val all = loop(math.max(2, min))(i => if (i % 2 == 1) traced(i) else plain(i)).zipWithIndex
        probe.get.drain()
        val (ops, base) = all.partition(_._2 % 2 == 1)
        layers(ops)
        val a = median(base.map(_._1.wallMs))
        val b = median(ops.map(_._1.wallMs))
        metrics("trace.overhead_ms") = b - a
        metrics("trace.overhead_share") = (b - a) / a
        ops.map(_._1)
      }
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else {
      val r = p / 100 * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def dirBytes(dir: String): (Long, Int) = {
    val fs = Option(new File(dir).listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    (fs.map(_.length).sum, fs.length)
  }

  def rm(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(c => rm(c.getPath)))
    f.delete()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def corpus(r: Run): DataFrame = r.spark.read.parquet(s"${r.data}/corpus.parquet").select("doc_id", "text")

  // ---- per-op Spark layer figures (traced ops only) - --------------------

  def merged(r: Run, groups: Seq[String]): GroupStats = {
    val m = new GroupStats
    groups.map(r.probe.get.stats).foreach { s =>
      m.jobs += s.jobs; m.stages += s.stages; m.tasks += s.tasks
      m.runMs += s.runMs; m.cpuNs += s.cpuNs; m.gcMs += s.gcMs
      m.shuffleWrite += s.shuffleWrite; m.shuffleRead += s.shuffleRead; m.spill += s.spill
      m.inputBytes += s.inputBytes; m.outputBytes += s.outputBytes
      m.planMs += s.planMs; m.taskIntervals ++= s.taskIntervals
    }
    m
  }

  /** Median-per-op Spark figures of traced ops; `groups(i)` are op i's job groups. */
  def sparkLayers(r: Run, ops: Seq[(Op, Seq[String])]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val rows = ops.map { case (o, gs) => (o, merged(r, gs)) }
    def med(f: ((Op, GroupStats)) => Double): Double = median(rows.map(f))
    val mb = 1024.0 * 1024.0
    r.metrics ++= Seq(
      "spark.catalyst.plan_ms" -> med(_._2.planMs),
      "spark.codegen.compiles" -> med(_._1.compiles.toDouble),
      "spark.codegen.compile_ms" -> med(_._1.compileNs / 1e6),
      "spark.scheduler.jobs" -> med(_._2.jobs.toDouble),
      "spark.scheduler.stages" -> med(_._2.stages.toDouble),
      "spark.scheduler.tasks" -> med(_._2.tasks.toDouble),
      "spark.scheduler.wait_ms" -> med { case (o, s) => s.idleMs(o.startMs, o.endMs) },
      "spark.executor.run_ms" -> med(_._2.runMs.toDouble),
      "spark.executor.cpu_ms" -> med(_._2.cpuNs / 1e6),
      "spark.executor.gc_ms" -> med(_._2.gcMs.toDouble),
      "spark.executor.busy_share" -> med { case (o, s) => s.runMs / (cores * o.wallMs) },
      "spark.shuffle.write_mb" -> med(_._2.shuffleWrite / mb),
      "spark.shuffle.read_mb" -> med(_._2.shuffleRead / mb),
      "spark.shuffle.spill_mb" -> med(_._2.spill / mb),
      "spark.io.input_mb" -> med(_._2.inputBytes / mb),
      "spark.io.output_mb" -> med(_._2.outputBytes / mb))
  }

  /** Median over ops of each named span's self time. */
  def spanMs(r: Run, name: String, ops: Seq[Int]): Double = {
    val self = r.tracer.selfMs
    val byOp = r.tracer.spans.filter(_.name == name).groupBy(_.op)
    median(ops.map(o => byOp.getOrElse(o, Nil).map(s => self(s.id)).sum))
  }

  // ---- rag_turns ---------------------------------------------------------

  final case class Turn(query: String, answer: String)

  def readScript(path: String): IndexedSeq[Turn] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    val re = """\{"query": "([^"]*)", "answer": "([^"]*)"\}""".r
    re.findAllMatchIn(txt).map(m => Turn(m.group(1), m.group(2))).toIndexedSeq
  }

  /** Cosine distance computed outside the engine. */
  def cosDist(a: Array[Double], b: Array[Double]): Double = {
    var ab, aa, bb = 0.0
    var i = 0
    while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
    1.0 - ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** The prompt's k contexts must be a top-k of the collected index by
    * (distance, id), up to ties within 1e-9, in non-decreasing distance.
    */
  def checkPrompt(r: Run, prompt: String, index: Array[(Long, String, Array[Double])],
                  qv: Array[Double], conversation: String, query: String): Unit = {
    val tail = Prompt.conversationWithUserTurn(conversation, query)
    if (!prompt.startsWith(Prompt.SystemMsgStart) || !prompt.endsWith(tail)) {
      r.check(false, s"rag prompt frame wrong for query '$query'"); return
    }
    val body = prompt.substring(Prompt.SystemMsgStart.length, prompt.length - tail.length)
    val ctxs = body.split("Context \\d+:\n", -1).drop(1).map(_.stripSuffix(Prompt.ContextSep)).toSeq
    val eps = 1e-9
    val dists = index.map { case (id, t, e) => (cosDist(e, qv), id, t) }.sortBy(x => (x._1, x._2))
    val dk = dists(math.min(K, dists.length) - 1)._1
    val byText = dists.filter(_._1 <= dk + eps).groupBy(_._3).map { case (t, xs) => t -> xs.map(_._1).min }
    val must = dists.takeWhile(_._1 < dk - eps).map(_._3)
    val ctxDist = ctxs.map(byText.get)
    val ok = ctxs.size == math.min(K, dists.length) && ctxDist.forall(_.isDefined) &&
      must.diff(ctxs).isEmpty &&
      ctxDist.flatten.sliding(2).forall(p => p.size < 2 || p(0) <= p(1) + eps)
    r.check(ok, s"rag contexts are not a top-$K for query '$query': ${ctxs.mkString(" | ")}")
  }

  def ragTurns(r: Run, script: IndexedSeq[Turn]): Seq[Op] = {
    val spark = r.spark
    var idx: DataFrame = null
    var next = 0 // next script turn
    def turnText(i: Int) = script(i % script.size)
    val setups = (0 until r.reps).map { rep =>
      if (idx != null) idx.unpersist(blocking = true)
      val t0 = System.nanoTime()
      val dir = s"${r.work}/index-$rep"
      IndexBuild.run(corpus(r), "doc_id", "text", ChunkLen, MockEmbedder, dir)
      // loaded exactly as `graft.Main rag-repl` loads it
      idx = spark.read.parquet(dir)
        .selectExpr("doc_id * 1000 + chunk_idx AS chunk_id", "chunk", "embedding")
        .persist()
      idx.count()
      (System.nanoTime() - t0) / 1e9
    }
    // turns keep getting faster for tens of turns as the JIT compiles the
    // planner and the code generator
    val t0 = System.nanoTime()
    for (_ <- 0 until r.warm(WarmTurns)) {
      val t = turnText(next); next += 1
      Rag.answer(spark, idx, "chunk_id", "chunk", "embedding", MockEmbedder, t.query, "", K).head()
    }
    r.setup(setups, (System.nanoTime() - t0) / 1e9)
    val index = idx.collect().map(row =>
      (row.getLong(0), row.getString(1), row.getSeq[Double](2).toArray))
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

    var conversation = ""
    def turn(i: Int, traced: Boolean): Op = {
      if (i % SessionTurns == 0) conversation = ""
      val t = turnText(next); next += 1
      var prompt = ""
      val o = r.op(i, s"turn-$i") {
        r.span(traced, "turn", i) {
          val df = r.span(traced, "pipelines.answer_build", i) {
            Rag.answer(spark, idx, "chunk_id", "chunk", "embedding", MockEmbedder, t.query, conversation, K)
          }
          prompt = r.span(traced, "pipelines.answer_exec", i)(df.head().getString(0))
        }
      }
      // layer calls timed one by one after the turn, never inside it: the
      // turn's scan, gather and fold share one Spark job
      if (!o.failed && (traced || i % 4 == 0)) {
        if (traced) spark.sparkContext.setJobGroup(s"layers-$i", "layers")
        val qv = r.span(traced, "pipelines.embed_query", i)(Rag.embedQuery(spark, MockEmbedder, t.query)).toArray
        if (traced) {
          val rows = r.tracer.span("operators.topk", i)(TopK.nearest(idx, "embedding", "chunk_id", qv.toSeq, K).collect())
          val topk = spark.createDataFrame(rows.toSeq.asJava, idx.schema.add("dist", "double"))
          val folded = r.tracer.span("operators.prompt_fold", i) {
            Prompt.assembleByOrder(topk, Seq(col("dist"), col("chunk_id")), "chunk", conversation, t.query)
              .head().getString(0)
          }
          r.check(folded == prompt, s"separate top-k + fold differs from the turn's prompt for '${t.query}'")
          spark.sparkContext.clearJobGroup()
        }
        checkPrompt(r, prompt, index, qv, conversation, t.query)
      }
      conversation = Completion.addLlmResponse(Prompt.conversationWithUserTurn(conversation, t.query), t.answer)
      o
    }

    r.measure(turn(_, traced = false), turn(_, traced = true)) { ops =>
      val ids = ops.map(_._2)
      sparkLayers(r, ops.map { case (o, i) => (o, Seq(s"turn-$i")) })
      val self = r.tracer.selfMs
      val turnSpans = r.tracer.spans.filter(_.name == "turn").map(s => s.id -> s).toMap
      val accounted = ops.map { case (o, i) =>
        r.tracer.spans.filter(s => s.op == i && turnSpans.contains(s.parent)).map(s => self(s.id)).sum / o.wallMs
      }
      r.metrics ++= Seq(
        "pipelines.embed_query_ms" -> spanMs(r, "pipelines.embed_query", ids),
        "pipelines.answer_build_ms" -> spanMs(r, "pipelines.answer_build", ids),
        "pipelines.answer_exec_ms" -> spanMs(r, "pipelines.answer_exec", ids),
        "operators.topk_ms" -> spanMs(r, "operators.topk", ids),
        "operators.prompt_fold_ms" -> spanMs(r, "operators.prompt_fold", ids),
        "operators.rows_scanned_per_result" -> index.length.toDouble / K,
        "storage.index_cache_mb" -> cacheMb,
        "trace.turn_span_share" -> median(accounted))
    }
  }

  // ---- index_build -------------------------------------------------------

  def indexBuild(r: Run): Seq[Op] = {
    val spark = r.spark
    val setups = (0 until r.reps).map { rep =>
      val t0 = System.nanoTime()
      IndexBuild.run(corpus(r), "doc_id", "text", ChunkLen, MockEmbedder, s"${r.work}/setup-$rep")
      val s = (System.nanoTime() - t0) / 1e9
      rm(s"${r.work}/setup-$rep")
      s
    }
    val t0 = System.nanoTime()
    for (i <- 0 until r.warm(WarmBuilds)) {
      IndexBuild.run(corpus(r), "doc_id", "text", ChunkLen, MockEmbedder, s"${r.work}/warm-$i")
      rm(s"${r.work}/warm-$i")
    }
    r.setup(setups, (System.nanoTime() - t0) / 1e9)
    val docs = corpus(r).collect().map(row => (row.getLong(0), row.getString(1)))
    val textBytes = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
    val expectedRows = docs.map(d => Chunker.chunkText(d._2, ChunkLen).size.toLong).sum

    var checked = false
    def build(i: Int, traced: Boolean): Op = {
      val dir = s"${r.work}/build-$i"
      val o = r.op(i, s"build-$i") {
        r.span(traced, "sources.index_run", i)(
          IndexBuild.run(corpus(r), "doc_id", "text", ChunkLen, MockEmbedder, dir))
      }
      if (!o.failed && !checked) { checked = true; checkIndex(r, dir, docs, expectedRows) }
      if (traced && !o.failed) {
        spark.sparkContext.setJobGroup(s"layers-$i", "layers")
        r.tracer.span("operators.chunk", i)(noop(Chunker.chunk(corpus(r), "text", ChunkLen)))
        r.tracer.span("pipelines.build", i)(noop(IndexBuild.build(corpus(r), "doc_id", "text", ChunkLen, MockEmbedder)))
        spark.sparkContext.clearJobGroup()
        val (bytes, files) = dirBytes(dir)
        r.metrics("sources.files_written") = files
        r.metrics("sources.index_bytes_per_text_byte") = bytes.toDouble / textBytes
      }
      rm(dir)
      o
    }

    r.measure(build(_, traced = false), build(_, traced = true)) { ops =>
      val ids = ops.map(_._2)
      sparkLayers(r, ops.map { case (o, i) => (o, Seq(s"build-$i")) })
      val runMs = ids.map(i => spanMs(r, "sources.index_run", Seq(i)))
      val chunkMs = ids.map(i => spanMs(r, "operators.chunk", Seq(i)))
      val buildMs = ids.map(i => spanMs(r, "pipelines.build", Seq(i)))
      r.metrics ++= Seq(
        "operators.chunk_ms" -> median(chunkMs),
        "operators.chunks_per_doc" -> expectedRows.toDouble / docs.length,
        "pipelines.embed_ms" -> median(buildMs.zip(chunkMs).map { case (b, c) => b - c }),
        "sources.write_ms" -> median(runMs.zip(buildMs).map { case (a, b) => a - b }),
        "pipelines.build_text_mb_per_s" -> textBytes / (1024.0 * 1024.0) / (median(runMs) / 1000))
    }
  }

  /** Row count, embedding shape and the chunk-concatenation invariant
    * (concat(chunks) == text[0, len-1) for texts longer than ChunkLen).
    */
  def checkIndex(r: Run, dir: String, docs: Array[(Long, String)], expectedRows: Long): Unit = {
    val idx = r.spark.read.parquet(dir)
    val rows = idx.count()
    r.check(rows == expectedRows, s"index has $rows rows, expected $expectedRows")
    val bad = idx.filter(col("embedding").isNull || size(col("embedding")) =!= MockEmbedder.dim ||
      exists(col("embedding"), _.isNull)).count()
    r.check(bad == 0, s"$bad index rows lack a ${MockEmbedder.dim}-dim non-null embedding")
    val rnd = new scala.util.Random(r.seed)
    val sample = rnd.shuffle(docs.toSeq).take(50).toMap
    val got = idx.filter(col("doc_id").isin(sample.keys.toSeq: _*))
      .select("doc_id", "chunk_idx", "chunk").collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.sortBy(_.getInt(1)).map(_.getString(2)).mkString }
    for ((d, text) <- sample if text.length > ChunkLen)
      r.check(got.get(d).contains(text.substring(0, text.length - 1)),
        s"doc $d: concatenated chunks differ from text[0, len-1)")
  }

  // ---- curation_batch ----------------------------------------------------

  def curationBatch(r: Run): Seq[Op] = {
    val spark = r.spark
    val reg = SparkEntry.queries
    def pass(i: Int, traced: Boolean): Op = {
      val order = new scala.util.Random(r.seed * 1000003L + i).shuffle(Queries)
      r.op(i, s"pass-$i") {
        for (q <- order) {
          if (traced) spark.sparkContext.setJobGroup(s"pass-$i/$q", q)
          r.span(traced, s"queries.$q", i)(noop(reg(q)(spark, r.data)))
        }
      }
    }
    // set-up is the cold pass, which a JVM has only once, then one warm
    // pass; the first warm pass still pays JIT compilation. The cold pass
    // writes each query's result, for the DuckDB oracle, instead of
    // discarding it.
    val verify = s"${r.work}/verify"
    val t0 = System.nanoTime()
    for (q <- Queries) reg(q)(spark, r.data).write.mode("overwrite").parquet(s"$verify/$q")
    val t1 = System.nanoTime()
    for (i <- 0 until r.warm(1)) pass(-1 - i, traced = false)
    r.setup(Seq((t1 - t0) / 1e9), (System.nanoTime() - t1) / 1e9)
    val oracle = SparkEntry.oracleSql.map { case (q, sql) => q -> listPositionFix(sql) }
    Files.writeString(Paths.get(s"$verify/oracle_sql.json"),
      Queries.map(q => s"${str(q)}: ${str(oracle(q))}").mkString("{", ",\n", "}"))

    // a pass can outlast half the run; its median is of at least two
    r.measure(pass(_, traced = false), pass(_, traced = true), min = 2) { ids =>
      sparkLayers(r, ids.map { case (o, i) => (o, Queries.map(q => s"pass-$i/$q")) })
      for (q <- Queries) {
        val st = ids.map { case (_, i) => r.probe.get.stats(s"pass-$i/$q") }
        r.metrics(s"queries.$q.wall_s") = spanMs(r, s"queries.$q", ids.map(_._2)) / 1000
        r.metrics(s"queries.$q.jobs") = median(st.map(_.jobs.toDouble))
        r.metrics(s"queries.$q.shuffle_mb") = median(st.map(s => (s.shuffleWrite + s.shuffleRead) / (1024.0 * 1024.0)))
      }
    }
  }

  /** DuckDB 1.x `list_position` returns 0, not NULL, when the element is
    * absent, so the q_longest_repeat oracle's `coalesce(list_position(..)
    * - 1, least(len(st), len(nx)))` scores two identical adjacent suffixes
    * (a text that occurs twice as a whole document tail) as LCP -1 instead
    * of their length. Mapping 0 to NULL restores the intended fallback;
    * SQL without that exact shape is returned unchanged.
    */
  def listPositionFix(sql: String): String = {
    val (open, close) = ("coalesce(list_position(", ", false) - 1,")
    if (sql.contains(open) && sql.contains(close))
      sql.replace(open, "coalesce(nullif(list_position(").replace(close, ", false), 0) - 1,")
    else sql
  }

  // ---- common ------------------------------------------------------------

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Writes `<work>/<workload>.json` (and, traced, `<workload>-spans.json`). */
  def runOne(spark: SparkSession, r: Run, startS: Double): Unit = {
    val ops = r.workload match {
      case "rag_turns" => ragTurns(r, readScript(s"${r.data}/script.json"))
      case "index_build" => indexBuild(r)
      case "curation_batch" => curationBatch(r)
      case w => sys.error(s"unknown workload $w")
    }
    val ok = ops.filterNot(_.failed).map(_.wallMs)
    r.metrics("start_s") = startS
    r.metrics("op_p50_ms") = median(ok)
    r.metrics("op_p75_ms") = percentile(ok, 75)
    val fields = Seq(
      "attempted" -> ops.size.toString,
      "failed_ops" -> ops.count(_.failed).toString,
      "queries" -> Queries.size.toString,
      "check_failures" -> r.checkFailures.toString,
      "checks" -> r.checks.take(20).map(str).mkString("[", ",", "]"),
      "op_ms" -> ok.map(num).mkString("[", ",", "]"),
      "spark_version" -> str(spark.version),
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)),
      "metrics" -> r.metrics.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}"))
    val root = new File(r.work).getParent
    Files.writeString(Paths.get(s"$root/${r.workload}.json"),
      fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",\n", "}\n"))
    if (r.tracing) Files.writeString(Paths.get(s"$root/${r.workload}-spans.json"), r.tracer.json)
  }

  def main(args: Array[String]): Unit = {
    val Array(workloads, dataRoot, workRoot, seconds, trace, seed, smoke, launchMs) = args
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workRoot/spark-local")
      .config("spark.sql.warehouse.dir", s"$workRoot/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startS = (System.currentTimeMillis() - launchMs.toLong) / 1000.0
    log(f"session up after $startS%.2f s")
    for (w <- workloads.split(",")) {
      new File(s"$workRoot/$w").mkdirs()
      runOne(spark, new Run(spark, w, s"$dataRoot/$w", s"$workRoot/$w", seconds.toDouble,
        trace == "1", seed.toLong, smoke == "1"), startS)
    }
    spark.stop()
  }
}
