package graft

import org.apache.spark.sql.SparkSession
import graft.pipelines.{Completion, Embedder, HttpEmbedder, IndexBuild, MockEmbedder, Rag}
import graft.sources.Vdb

/** CLI mirroring the reference's four binaries (`makefile:14-17`):
  *
  * {{{
  * graft.Main build-index <in.parquet|textfile> <out> <chunkLen> [host port]
  *   ≙ bin/build-vector-db-from-server (argv: build-vector-db-from-server.c:31-39)
  * graft.Main rag <index> <k> <query...> [host port]
  *   ≙ bin/rag-with-vdb-cos-client (one turn; REPL loop is stdin-driven)
  * graft.Main conversation [host port]
  *   ≙ bin/rag-conversation (REPL, no retrieval; makefile:42-47)
  * graft.Main embed <text> [host port]
  *   ≙ bin/embedding-from-server-cli (prints one vector, %10.8f per line,
  *     embedding-from-server-cli.c:11-15)
  * }}}
  *
  * Without host/port the deterministic mock embedder runs (CI has no
  * egress); with them, the llama.cpp HTTP embedder.
  */
object Main {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def embedderOf(rest: List[String]): Embedder = rest match {
    case host :: port :: _ => new HttpEmbedder(host, port.toInt)
    case _ => MockEmbedder
  }

  /** Streamed `/completion` call: tee each token to stdout as it arrives
    * (the reference's `write_function_callback_stream_llm` tee,
    * `curl_helpers.c:28-67`) and return the accumulated answer for the
    * conversation thread (A2).
    */
  private def streamedCompletion(host: String, port: Int, prompt: String,
                                 nPredict: Int): String = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(s"http://$host:$port/completion"))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
        Completion.requestJson(prompt, nPredict, stream = true))).build()
    import scala.jdk.CollectionConverters._
    val lines = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofLines()).body()
    val answer = Completion.accumulateStream(lines.iterator().asScala,
      t => { print(t); Console.flush() })
    println()
    answer
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "build-index" :: in :: out :: chunkLen :: rest =>
      val spark = session()
      val docs =
        if (in.endsWith(".parquet")) spark.read.parquet(in).selectExpr("doc_id", "text")
        else spark.read.format("binaryFile").load(in)
          .selectExpr("monotonically_increasing_id() AS doc_id",
            "CAST(content AS STRING) AS text")
      // the .vdb file keeps document order, so it builds without the
      // shuffle that spreads a parquet index over every core
      if (out.endsWith(".vdb"))
        Vdb.writeSingle(IndexBuild.build(docs, "doc_id", "text", chunkLen.toInt, embedderOf(rest)),
          "chunk", "embedding", out)
      else IndexBuild.run(docs, "doc_id", "text", chunkLen.toInt, embedderOf(rest), out)
      spark.stop()

    case "rag" :: index :: k :: query :: rest =>
      val spark = session()
      val idx =
        (if (index.endsWith(".vdb") || new java.io.File(index).isDirectory &&
          new java.io.File(index).list().exists(_.endsWith(".vdb")))
          Vdb.readDir(spark, index).selectExpr("monotonically_increasing_id() AS chunk_id",
            "text AS chunk", "embedding")
        else spark.read.parquet(index)
          .selectExpr("doc_id * 1000 + chunk_idx AS chunk_id", "chunk", "embedding"))
          .persist()
      val prompt = Rag.answer(spark, idx, "chunk_id", "chunk", "embedding",
        embedderOf(rest), query, "", k.toInt)
      println(prompt.head().getString(0))
      spark.stop()

    case "rag-repl" :: index :: k :: rest =>
      // the reference REPL (multirag.c:394-456): conversation threads
      // through turns; without an LLM server the assembled prompt is
      // echoed (and recorded as the "answer") so the loop is testable
      val spark = session()
      val idx = spark.read.parquet(index)
        .selectExpr("doc_id * 1000 + chunk_idx AS chunk_id", "chunk", "embedding")
        .persist()
      idx.count() // warm the cache once, like the reference's startup read
      var conversation = ""
      val stdin = scala.io.Source.stdin.getLines()
      print("> "); Console.flush()
      while (stdin.hasNext) {
        val line = stdin.next()
        // one transient embed/completion failure must not kill the REPL or
        // lose the accumulated conversation: report, keep state, next turn
        if (line.nonEmpty) try {
          val prompt = Rag.answer(spark, idx, "chunk_id", "chunk", "embedding",
            embedderOf(rest), line, conversation, k.toInt).head().getString(0)
          val answer = rest match {
            // streamed, token-by-token to stdout (S2 tee parity);
            // optional trailing n_tokens like the reference argv
            case host :: port :: n :: Nil =>
              streamedCompletion(host, port.toInt, prompt, n.toInt)
            case host :: port :: Nil =>
              streamedCompletion(host, port.toInt, prompt, -1)
            case _ => println(prompt); prompt
          }
          conversation = Completion.addLlmResponse(
            graft.operators.Prompt.conversationWithUserTurn(conversation, line), answer)
        } catch {
          case scala.util.control.NonFatal(e) =>
            Console.err.println(s"[graft] turn failed: ${e.getMessage}; conversation unchanged")
        }
        print("> "); Console.flush()
      }
      spark.stop()

    case "conversation" :: rest =>
      // ≙ bin/rag-conversation (makefile:42-47): the REPL with NO
      // retrieval — multirag.c compiled without _RAG_WITH_COS_SERVER.
      // The prompt grows by machine response + user turn each round
      // (update_conversation_only_prompt, multirag.c:191-233). No index,
      // no Spark session. argv mirrors the reference's `host port
      // n_tokens` (README: `rag-conversation 127.0.0.1 8080 -1`,
      // -1 = unlimited). Without host/port the assembled prompt is
      // echoed (and recorded as the answer) so the loop is testable.
      var prompt = ""
      var response: Option[String] = None
      val stdin = scala.io.Source.stdin.getLines()
      print("> "); Console.flush()
      while (stdin.hasNext) {
        val line = stdin.next()
        // state (prompt, response) commits only after a successful turn —
        // a transient HTTP failure leaves the conversation unchanged
        if (line.nonEmpty) try {
          val newPrompt = graft.operators.Prompt.updateConversationOnlyPrompt(line, response, prompt)
          val answer = rest match {
            case host :: port :: n :: Nil => streamedCompletion(host, port.toInt, newPrompt, n.toInt)
            case host :: port :: Nil => streamedCompletion(host, port.toInt, newPrompt, -1)
            case _ => println(newPrompt); newPrompt
          }
          prompt = newPrompt
          response = Some(answer)
        } catch {
          case scala.util.control.NonFatal(e) =>
            Console.err.println(s"[graft] turn failed: ${e.getMessage}; conversation unchanged")
        }
        print("> "); Console.flush()
      }

    case "embed" :: text :: rest =>
      val spark = session()
      Rag.embedQuery(spark, embedderOf(rest), text)
        .foreach(x => println(f"$x%10.8f"))
      spark.stop()

    case other =>
      System.err.println(
        s"""usage: build-index <in> <out> <chunkLen> [host port]
           |       rag <index> <k> <query> [host port]
           |       rag-repl <index> <k> [host port [nPredict]]
           |       conversation [host port [nPredict]]
           |       embed <text> [host port]
           |got: ${other.mkString(" ")}""".stripMargin)
      sys.exit(2)
  }
}
