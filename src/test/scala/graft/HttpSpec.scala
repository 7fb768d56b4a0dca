package graft

import java.net.InetSocketAddress
import java.time.Duration
import java.util.concurrent.{CountDownLatch, Executors}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.functions._
import graft.pipelines.{Completion, Http, HttpEmbedder, IndexBuild, Rag}

/** Loopback integration test for the two live-egress paths the sandbox
  * can't otherwise exercise: `HttpEmbedder`'s per-partition socket loop
  * and the streamed `/completion` consumption (S1/S2). A JDK
  * `HttpServer` on 127.0.0.1 serves the reference's exact JSON shapes —
  * `[{"embedding": [[...]]}]` (embedding-from-server.c:66-88) and
  * `data: `-prefixed stream chunks (curl_helpers.c:44) — so the real
  * request build → socket → response parse round-trip runs, no egress.
  */
class HttpSpec extends SparkSpec {

  /** Deterministic fake embedding the test can recompute: dim d of a
    * content string = ((len * (d + 3)) % 97) / 97 - 0.5.
    */
  private def fakeEmbed(content: String): Seq[Double] =
    (0 until 4).map(d => ((content.length * (d + 3)) % 97) / 97.0 - 0.5)

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), "UTF-8")

  /** Pull the `content` / `prompt` string value out of a request body
    * using the same parser the client uses for responses (round-trip
    * symmetric with HttpEmbedder.jsonStr).
    */
  private def strField(body: String, key: String): String =
    Completion.extractContent(body.replace("\"" + key + "\"", "\"content\"")).get

  private def withServer(test: (String, Int) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/embedding", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val content = strField(readBody(ex), "content")
        val vec = fakeEmbed(content).mkString("[", ", ", "]")
        val resp = s"""[{"embedding": [$vec]}]""".getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp)
        ex.close()
      }
    })
    server.createContext("/completion", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        readBody(ex) // prompt unused; the stream is fixed
        ex.getResponseHeaders.add("Content-Type", "text/event-stream")
        ex.sendResponseHeaders(200, 0) // chunked
        val os = ex.getResponseBody
        // three tokens, a keep-alive blank line, and a contentless chunk
        for (c <- Seq("""data: {"content":"Stream"}""", "",
                      """data: {"content":"ed "}""",
                      """data: {"stop":true}""",
                      """data: {"content":"answer."}""")) {
          os.write((c + "\n").getBytes("UTF-8")); os.flush()
        }
        ex.close()
      }
    })
    server.start()
    try test("127.0.0.1", server.getAddress.getPort)
    finally server.stop(0)
  }

  test("HttpEmbedder round-trips real sockets per partition") {
    withServer { (host, port) =>
      import spark.implicits._
      val df = Seq((1L, "alpha beta"), (2L, "a much longer piece of text here"))
        .toDF("doc_id", "text").repartition(2)
      val out = new HttpEmbedder(host, port, dim = 4)
        .embed(df, "text", "emb")
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
      assert(out(1L) == fakeEmbed("alpha beta"))
      assert(out(2L) == fakeEmbed("a much longer piece of text here"))
      // the driver's one-request path parses the same reply
      assert(new HttpEmbedder(host, port, dim = 4).embedText("alpha beta") == fakeEmbed("alpha beta"))
    }
  }

  test("build-index + RAG turn + streamed completion against a live server") {
    withServer { (host, port) =>
      import spark.implicits._
      val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
                     (2L, "pack my box with five dozen liquor jugs"))
        .toDF("doc_id", "text")
      val embedder = new HttpEmbedder(host, port, dim = 4)
      val idx = IndexBuild.build(docs, "doc_id", "text", 20, embedder)
        .selectExpr("doc_id * 1000 + chunk_idx AS chunk_id", "chunk", "embedding")
      val prompt = Rag.answer(spark, idx, "chunk_id", "chunk", "embedding",
        embedder, "fox?", "", 2).head().getString(0)
      assert(prompt.contains("fox?"))
      assert(prompt.contains("Context 1:"))

      // the same streamed-completion consumption Main.streamedCompletion runs
      val tokens = scala.collection.mutable.ArrayBuffer.empty[String]
      val answer = complete(s"http://$host:$port/completion", prompt, tokens += _)
      assert(answer == "Streamed answer.")
      assert(tokens.toSeq == Seq("Stream", "ed ", "answer."))
    }
  }

  /** Main.streamedCompletion's consumption of a `/completion` stream. */
  private def complete(url: String, prompt: String, onToken: String => Unit,
                       headersTimeout: Duration = Http.HeadersTimeout): String = {
    import scala.jdk.CollectionConverters._
    val lines = Http.postJson(Http.client(), url,
      Completion.requestJson(prompt, -1, stream = true),
      java.net.http.HttpResponse.BodyHandlers.ofLines(), headersTimeout)
    try Completion.accumulateStream(lines.iterator().asScala, onToken) finally lines.close()
  }

  /** A loopback server whose one `path` runs `respond`; each exchange
    * runs on its own thread, and `release` is counted down before the
    * server stops, so a handler that waits on it ends with the test. */
  private def withStub(path: String)(respond: (HttpExchange, CountDownLatch) => Unit)(
      test: String => Unit): Unit = {
    val release = new CountDownLatch(1)
    val pool = Executors.newCachedThreadPool()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(pool)
    server.createContext(path, new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex, release)
    })
    server.start()
    try test(s"http://127.0.0.1:${server.getAddress.getPort}$path")
    finally { release.countDown(); server.stop(0); pool.shutdown() }
  }

  test("a never-answering embed server fails the call in bounded time") {
    withStub("/embedding") { (ex, release) =>
      readBody(ex)
      release.await() // accepts the request, never sends headers
      ex.close()
    } { url =>
      val t0 = System.nanoTime()
      val e = intercept[java.io.IOException] {
        HttpEmbedder.request(Http.client(), url, "alpha", Duration.ofMillis(500))
      }
      val s = (System.nanoTime() - t0) / 1e9
      assert(s < 10, s"the call waited $s s")
      assert(e.getMessage.contains(url) && e.getMessage.contains("no response headers"),
        e.getMessage)
    }
  }

  test("a non-2xx embed reply fails with the URL and the status") {
    withStub("/embedding") { (ex, _) =>
      readBody(ex)
      ex.sendResponseHeaders(503, -1)
      ex.close()
    } { url =>
      val e = intercept[java.io.IOException](HttpEmbedder.request(Http.client(), url, "alpha"))
      assert(e.getMessage.contains(url) && e.getMessage.contains("503"), e.getMessage)
    }
  }

  test("a streamed completion that outlasts the headers timeout is not cut") {
    withStub("/completion") { (ex, _) =>
      readBody(ex)
      ex.sendResponseHeaders(200, 0) // headers at once, then a slow body
      val os = ex.getResponseBody
      for (t <- Seq("Slow", "ly ", "streamed.")) {
        Thread.sleep(400)
        os.write(s"""data: {"content":"$t"}""".getBytes("UTF-8") ++ "\n".getBytes("UTF-8"))
        os.flush()
      }
      ex.close()
    } { url =>
      val t0 = System.nanoTime()
      val answer = complete(url, "q", _ => (), Duration.ofMillis(300))
      assert((System.nanoTime() - t0) / 1e6 > 1000, "the body must take longer than the timeout")
      assert(answer == "Slowly streamed.")
    }
  }
}
