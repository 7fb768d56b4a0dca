package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.polyHash

/** Embedding provider for the index-build pipeline — the reference's R3
  * (`get_embedding_from_server`, `embedding-from-server.c:106-171`),
  * abstracted so tests and CI (zero egress) run on a deterministic mock.
  */
trait Embedder {
  /** Adds `outCol: array<double>` computed from `textCol`. */
  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame
  def dim: Int
}

/** Deterministic hash-based embedder, pure Catalyst expressions (no UDF,
  * fully codegen'd, and exactly reproducible in the DuckDB oracle):
  * dim d of text t = ((polyHash(t) * (2d+3) + 17d) mod 1000003) / 1000003 - 0.5.
  */
object MockEmbedder extends Embedder {
  val dim = 8
  val P = 1000003L

  def dimCol(h: Column, d: Int): Column =
    pmod(h * (2 * d + 3) + 17L * d, lit(P)).cast("double") / P.toDouble - 0.5

  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val h = polyHash(col(textCol))
    df.withColumn(outCol, array((0 until dim).map(d => dimCol(h, d)): _*))
  }

  /** The same per-dimension value as a DuckDB fragment over `hExpr`. */
  def dimSql(hExpr: String, d: Int): String =
    s"(CAST((($hExpr * ${2 * d + 3} + ${17L * d}) % $P) AS DOUBLE) / $P.0 - 0.5)"
}

/** HTTP embedder for a llama.cpp `/embedding` server. One HTTP client per
  * partition (never per-row), request/response JSON shapes per the
  * reference (`embedding-from-server.c:15-38`, response parsed at
  * `:40-104`: outer array → first object → `embedding` → first row).
  * Untestable in CI (zero egress) — exercised only via its pure parser.
  */
class HttpEmbedder(host: String, port: Int, val dim: Int = 768) extends Embedder {
  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val url = s"http://$host:$port/embedding"
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = df.schema.add(outCol, ArrayType(DoubleType, containsNull = false))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(textCol)
    val out = df.mapPartitions { rows =>
      val client = java.net.http.HttpClient.newHttpClient()
      rows.map { r =>
        val body = s"""{"content": ${HttpEmbedder.jsonStr(r.getString(idx))}}"""
        val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
        val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).body()
        Row.fromSeq(r.toSeq :+ HttpEmbedder.parseEmbedding(resp))
      }
    }(enc)
    out
  }
}

object HttpEmbedder {
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Parse `[{"embedding": [[...]]}]` — the reference's J1 path
    * `$[0].embedding[0]` — with a typed error instead of a hard exit.
    * Minimal recursive-descent, no external JSON dep.
    */
  def parseEmbedding(json: String): Seq[Double] = {
    val key = "\"embedding\""
    val at = json.indexOf(key)
    require(at >= 0, s"no 'embedding' field in response: ${json.take(120)}")
    val open = json.indexOf('[', at + key.length)
    val inner = json.indexOf('[', open + 1)
    val close = json.indexOf(']', inner + 1)
    require(open >= 0 && inner >= 0 && close > inner, "malformed embedding array")
    json.substring(inner + 1, close).split(',').iterator
      .map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq
  }
}
