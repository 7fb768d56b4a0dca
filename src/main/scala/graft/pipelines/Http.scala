package graft.pipelines

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, HttpConnectTimeoutException, HttpRequest, HttpResponse,
  HttpTimeoutException}
import java.time.Duration

/** The engine's one HTTP call: a JSON POST to a llama.cpp server
  * (`/embedding`, `/completion`) that cannot hang for ever. The
  * connection must open within [[ConnectTimeout]] and the response
  * headers must arrive within the headers timeout; the body then
  * streams for as long as the server sends it, so a long streamed
  * completion is not cut. A non-2xx status, a timeout or an I/O error
  * fails with an `IOException` that names the URL.
  */
object Http {

  val ConnectTimeout: Duration = Duration.ofSeconds(10)

  /** Time to the response headers: covers the server's work before its
    * first byte, such as evaluating a long prompt on a CPU server. */
  val HeadersTimeout: Duration = Duration.ofSeconds(300)

  /** A client whose connections open within [[ConnectTimeout]]. */
  def client(): HttpClient = HttpClient.newBuilder().connectTimeout(ConnectTimeout).build()

  /** POST `json` to `url` on `client` and return the body of its 2xx
    * response, read by `body`. */
  def postJson[T](client: HttpClient, url: String, json: String,
                  body: HttpResponse.BodyHandler[T],
                  headersTimeout: Duration = HeadersTimeout): T = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(headersTimeout)
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json)).build()
    val resp = try client.send(req, body) catch {
      case e: HttpConnectTimeoutException =>
        throw new IOException(s"POST $url: no connection within ${ConnectTimeout.toMillis} ms", e)
      case e: HttpTimeoutException =>
        throw new IOException(
          s"POST $url: no response headers within ${headersTimeout.toMillis} ms", e)
      case e: IOException => throw new IOException(s"POST $url: $e", e)
    }
    if (resp.statusCode / 100 != 2) {
      resp.body match { case c: AutoCloseable => c.close(); case _ => }
      throw new IOException(s"POST $url: HTTP status ${resp.statusCode}")
    }
    resp.body
  }
}
