package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Chunker

/** The reference's batch half (`build-vector-db-from-server.c:9-78`):
  * read → chunk → embed → write, as one declarative pipeline.
  *
  * Spark-first shape: chunking explodes inside the scan stage, embedding
  * is either pure expressions (mock) or a per-partition HTTP client
  * (`mapPartitions`), and the sink is parquet — the reference's
  * strictly-sequential one-request-in-flight loop becomes the
  * per-partition parallel region.
  *
  * [[build]] never shuffles: it keeps the input's partitioning and row
  * order, which the `.vdb` writer relies on. The
  * CPU/HTTP-bound chunk and embed stage is only as wide as the input's
  * partitions, and a corpus file with a single row group reads as one:
  * one task would chunk, embed (one HTTP request in flight) and write
  * the whole index as a single file. So when the input has fewer
  * partitions than cores, [[run]] moves the raw text once,
  * hash-partitioned on the id, ahead of that stage (before chunking and
  * embedding add rows and vectors to it); an input already as wide as
  * the cluster is not shuffled.
  */
object IndexBuild {

  /** docs(idCol, textCol) → (idCol, chunk_idx, chunk, embedding). */
  def build(docs: DataFrame, idCol: String, textCol: String,
            chunkLen: Int, embedder: Embedder): DataFrame = {
    val chunks = Chunker.chunk(docs.select(col(idCol), col(textCol)), textCol, chunkLen)
    embedder.embed(chunks, "chunk", "embedding")
  }

  /** Build and persist the index as parquet. An input with fewer
    * partitions than `defaultParallelism` is first spread over that many
    * by `idCol`, so chunk, embed and write run on every core and the
    * index lands as one file per core; a reader that persists it caches
    * evenly filled partitions. A wider input is built as it is.
    */
  def run(docs: DataFrame, idCol: String, textCol: String,
          chunkLen: Int, embedder: Embedder, outPath: String): Unit = {
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (docs.rdd.getNumPartitions < cores) docs.repartition(cores, col(idCol)) else docs
    build(spread, idCol, textCol, chunkLen, embedder)
      .write.mode("overwrite").parquet(outPath)
  }
}
