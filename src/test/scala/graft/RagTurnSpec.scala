package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
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

  /** Built with `IndexBuild.run` and loaded as `Main rag-repl` loads it. */
  private lazy val index: DataFrame = {
    val dir = Files.createTempDirectory("rag-turn").toString + "/idx"
    IndexBuild.run(docs, "doc_id", "text", ChunkLen, MockEmbedder, dir)
    val idx = spark.read.parquet(dir)
      .selectExpr("doc_id * 1000 + chunk_idx AS chunk_id", "chunk", "embedding")
      .persist()
    idx.count()
    idx
  }

  private def turn(query: String, conversation: String): String =
    Rag.answer(spark, index, "chunk_id", "chunk", "embedding", MockEmbedder,
      query, conversation, K).head().getString(0)

  /** Jobs started under `group`, counted once the listener bus drains. */
  private final class JobCounter(group: String) extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
        jobs += 1; stages += e.stageInfos.size
      }
  }

  private def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  test("each turn's prompt equals TopK.nearest + assembleByOrder on collected rows") {
    val turns = Seq(
      ("key agg row scan", ""),
      ("parquet footer statistics", Prompt.conversationWithUserTurn("", "key agg row scan") + "an answer"))
    val prompts = turns.map { case (query, conversation) =>
      val prompt = turn(query, conversation)
      val qv = Rag.embedQuery(spark, MockEmbedder, query)
      val rows = TopK.nearest(index, "embedding", "chunk_id", qv, K).collect()
      assert(rows.length == K)
      val topk = spark.createDataFrame(rows.toSeq.asJava, index.schema.add("dist", "double"))
      val expected = Prompt.assembleByOrder(topk, Seq(col("dist"), col("chunk_id")), "chunk",
        conversation, query).head().getString(0)
      assert(prompt == expected, s"turn '$query' differs from its operators run one by one")
      prompt
    }
    assert(prompts.distinct.size == 2)
  }

  test("a warm turn runs 1 job of 2 stages and compiles no code") {
    turn("warm the planner and the code cache", "")
    val counter = new JobCounter("rag-turn-spec")
    spark.sparkContext.addSparkListener(counter)
    try {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      spark.sparkContext.setJobGroup("rag-turn-spec", "warm turn")
      try turn("a different query vector", "")
      finally spark.sparkContext.clearJobGroup()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      drainListenerBus()
      assert(counter.jobs == 1, s"${counter.jobs} jobs")
      assert(counter.stages == 2, s"${counter.stages} stages")
      assert(compiles == 0, s"$compiles codegen compiles")
    } finally spark.sparkContext.removeSparkListener(counter)
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
