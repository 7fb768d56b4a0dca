package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructType}
import graft.operators.{Prompt, TopK}
import graft.pipelines.{IndexBuild, MockEmbedder, Rag}

/** The REPL turn on a persisted index, and the index build that feeds
  * it. Correctness of a turn against its operators run one by one, plus
  * deterministic counts (jobs, codegen compiles, part files) that wall
  * time cannot show reliably.
  */
class RagTurnSpec extends SparkSpec {
  private val ChunkLen = 100
  private val K = 5

  private def docs: DataFrame =
    spark.read.parquet(s"$sf0001/documents.parquet").select("doc_id", "text")

  private lazy val indexDir: String = {
    val dir = Files.createTempDirectory("rag-turn").toString + "/idx"
    IndexBuild.run(docs, "doc_id", "text", ChunkLen, MockEmbedder, dir)
    dir
  }

  /** Built with `IndexBuild.run` and loaded as `Main rag-repl` loads it. */
  private lazy val index: DataFrame = {
    val idx = spark.read.parquet(indexDir)
      .selectExpr("doc_id * 1000 + chunk_idx AS chunk_id", "chunk", "embedding")
      .persist()
    idx.count()
    idx
  }

  private def turn(query: String, conversation: String): String =
    turn(index, query, conversation)

  private def turn(idx: DataFrame, query: String, conversation: String = ""): String =
    Rag.answer(spark, idx, "chunk_id", "chunk", "embedding", MockEmbedder,
      query, conversation, K).head().getString(0)

  /** The turn's prompt the distributed way: the query embedded by
    * `MockEmbedder.embed`'s column, `TopK.nearest` collected, and
    * `Prompt.assembleByOrder` run over the collected rows.
    */
  private def operatorsPrompt(idx: DataFrame, query: String, conversation: String, k: Int): String = {
    import spark.implicits._
    val qv = MockEmbedder.embed(Seq(query).toDF("q"), "q", "e").head().getSeq[Double](1)
    val rows = TopK.nearest(idx, "embedding", "chunk_id", qv, k).collect()
    assert(rows.length == math.min(k, idx.count()))
    val topk = spark.createDataFrame(rows.toSeq.asJava, idx.schema.add("dist", "double"))
    Prompt.assembleByOrder(topk, Seq(col("dist"), col("chunk_id")), "chunk",
      conversation, query).head().getString(0)
  }

  test("each turn's prompt equals TopK.nearest + assembleByOrder on collected rows") {
    val turns = Seq(
      ("key agg row scan", ""),
      ("parquet footer statistics", Prompt.conversationWithUserTurn("", "key agg row scan") + "an answer"))
    val prompts = turns.map { case (query, conversation) =>
      val prompt = turn(query, conversation)
      assert(prompt == operatorsPrompt(index, query, conversation, K),
        s"turn '$query' differs from its operators run one by one")
      prompt
    }
    assert(prompts.distinct.size == 2)
  }

  test("edge index: NULL chunk, NULL and zero embeddings, k past the row count, empty index") {
    val schema = new StructType().add("chunk_id", LongType, nullable = false)
      .add("chunk", StringType).add("embedding", ArrayType(DoubleType, containsNull = false))
    def e(t: String) = MockEmbedder.embedText(t)
    val rows = Seq(
      Row(1L, "alpha", e("alpha")), Row(2L, null, e("beta")), Row(3L, "gamma", null),
      Row(4L, "zero", Seq.fill(MockEmbedder.dim)(0.0)), Row(5L, "delta", e("delta")),
      Row(6L, "alpha again", e("alpha")))
    val edge = spark.createDataFrame(rows.asJava, schema)
    val empty = spark.createDataFrame(java.util.List.of[Row](), schema)
    val conversation = Prompt.conversationWithUserTurn("", "earlier") + "an answer"
    for ((idx, name) <- Seq(edge -> "edge", empty -> "empty"); k <- Seq(3, 10);
         query <- Seq("alpha", "beta")) {
      val prompt = Rag.answer(spark, idx, "chunk_id", "chunk", "embedding", MockEmbedder,
        query, conversation, k).head().getString(0)
      assert(prompt == operatorsPrompt(idx, query, conversation, k), s"$name index, k=$k, '$query'")
    }
    // k past the row count: every row keeps a label, the NULL chunk adds no text
    val all = Rag.answer(spark, edge, "chunk_id", "chunk", "embedding", MockEmbedder,
      "beta", "", 10).head().getString(0)
    assert((1 to rows.size).count(i => all.contains(s"Context $i:\n")) == rows.size - 1)
    assert(Rag.answer(spark, empty, "chunk_id", "chunk", "embedding", MockEmbedder,
      "beta", "", 10).head().getString(0) ==
      Prompt.SystemMsgStart + Prompt.conversationWithUserTurn("", "beta"))
  }

  test("MockEmbedder.embedText equals embed's column bit for bit") {
    import spark.implicits._
    val texts = docs.select("text").as[String].collect().toSeq ++
      Seq("", " ", "naïve café — 東京 \uD83D\uDE00", "xyz0123456789" * 770)
    assert(texts.last.length > 10000)
    val planned = MockEmbedder.embed(texts.toDF("t"), "t", "e").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    def bits(v: Seq[Double]) = v.map(java.lang.Double.doubleToRawLongBits)
    for (t <- texts)
      assert(bits(MockEmbedder.embedText(t)) == bits(planned(t)), s"text '${t.take(40)}'")
  }

  test("a warm turn runs 1 job of 1 stage and compiles no code") {
    turn("warm the planner and the code cache", "")
    val counter = new JobCounter("rag-turn-spec")
    spark.sparkContext.addSparkListener(counter)
    try {
      drainListenerBus()
      counter.sqlExecutions = 0
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      spark.sparkContext.setJobGroup("rag-turn-spec", "warm turn")
      val answer = try Rag.answer(spark, index, "chunk_id", "chunk", "embedding", MockEmbedder,
        "a different query vector", "", K)
      finally spark.sparkContext.clearJobGroup()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      drainListenerBus()
      assert(counter.jobs == 1, s"${counter.jobs} jobs")
      assert(counter.stages == 1, s"${counter.stages} stages")
      assert(compiles == 0, s"$compiles codegen compiles")
      // no Catalyst execution: the scan is a job over the index's own RDD
      assert(counter.sqlExecutions == 0, s"${counter.sqlExecutions} SQL executions")
      assert(answer.head().getString(0).startsWith(Prompt.SystemMsgStart))
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("a turn on an index persisted before its first turn scans the cached relation") {
    def scansCache(idx: DataFrame) = idx.queryExecution.executedPlan.collectFirst {
      case s: InMemoryTableScanExec => s
    }.isDefined
    // a plan with no subtree of the shared index's plan, so neither cache
    // stands in for the other
    def fresh(): DataFrame = spark.read.parquet(indexDir).where("chunk_idx >= 0")
      .selectExpr("doc_id * 1000 + chunk_idx AS chunk_id", "chunk", "embedding")
    val persisted = fresh().persist()
    try {
      turn(persisted, "cached scan")
      assert(scansCache(persisted))
    } finally persisted.unpersist(blocking = true)
    // the RDD a turn scans is fixed at the first turn: persisting later
    // leaves every turn reading parquet
    val late = fresh()
    try {
      turn(late, "source scan")
      late.persist()
      assert(turn(late, "source scan") == turn(index, "source scan"))
      assert(!scansCache(late))
    } finally late.unpersist(blocking = true)
  }

  test("IndexBuild.run spreads a one-row-group corpus over defaultParallelism files with build's rows") {
    val n = spark.sparkContext.defaultParallelism
    // the fixture is one pyarrow row group, so it reads as one partition
    assert(docs.rdd.getNumPartitions == 1)
    assert(docs.count() >= n)
    val dir = Files.createTempDirectory("index-run").toString + "/idx"
    IndexBuild.run(docs, "doc_id", "text", ChunkLen, MockEmbedder, dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == n, parts.map(_.getName).mkString(", "))
    parts.foreach(p => assert(spark.read.parquet(p.getPath).count() > 0, s"${p.getName} is empty"))

    def rows(df: DataFrame) = df.select("doc_id", "chunk_idx", "chunk", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getSeq[Double](3)))
    val written = rows(spark.read.parquet(dir))
    val built = rows(IndexBuild.build(docs, "doc_id", "text", ChunkLen, MockEmbedder))
    assert(written.length == built.length)
    assert(written.toSet == built.toSet)

    // FIXTURES §3.5: concat(chunks) == text[0, len-1) for texts > ChunkLen
    val chunks = written.groupBy(_._1).map { case (d, rs) => d -> rs.sortBy(_._2).map(_._3).mkString }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    for ((d, text) <- texts if text.length > ChunkLen)
      assert(chunks(d) == text.substring(0, text.length - 1), s"doc $d")
  }

  test("IndexBuild.run does not shuffle an input already spread over defaultParallelism partitions") {
    val n = spark.sparkContext.defaultParallelism
    val wide = spark.createDataFrame(spark.sparkContext.parallelize(docs.collect().toSeq, n + 1),
      docs.schema)
    val inParts = wide.rdd.getNumPartitions
    assert(inParts == n + 1)
    val dir = Files.createTempDirectory("index-run-wide").toString + "/idx"
    val counter = new JobCounter("index-run-wide")
    spark.sparkContext.addSparkListener(counter)
    try {
      spark.sparkContext.setJobGroup("index-run-wide", "wide build")
      try IndexBuild.run(wide, "doc_id", "text", ChunkLen, MockEmbedder, dir)
      finally spark.sparkContext.clearJobGroup()
      drainListenerBus()
      assert(counter.jobs > 0)
      assert(counter.stages == counter.jobs, s"${counter.stages} stages in ${counter.jobs} jobs")
    } finally spark.sparkContext.removeSparkListener(counter)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == inParts)
    assert(spark.read.parquet(dir).count() ==
      IndexBuild.build(docs, "doc_id", "text", ChunkLen, MockEmbedder).count())
  }
}
