package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextFunctions.polyHash

/** Embedding provider — the reference's R3 (`get_embedding_from_server`,
  * `embedding-from-server.c:106-171`), abstracted so tests and CI (zero
  * egress) run on a deterministic mock. [[embed]] is the index build's
  * distributed column; [[embedText]] embeds one text on the driver, as
  * the reference's client embeds a REPL query, and runs no Spark job.
  * Both give the same vector for the same text.
  */
trait Embedder {
  /** Adds `outCol: array<double>` computed from `textCol`. */
  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame
  /** The vector [[embed]] gives `text`, computed on the driver. */
  def embedText(text: String): Seq[Double]
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

  /** [[embed]]'s output expression, analyzed once over an empty
    * one-string relation in the active session and bound to its column:
    * the same expression tree the index build runs, evaluated per text.
    */
  private lazy val bound: Expression = {
    val spark = SparkSession.active
    val in = spark.createDataFrame(java.util.List.of[Row](), new StructType().add("t", StringType))
    val plan = embed(in, "t", "e").queryExecution.analyzed.asInstanceOf[Project]
    val e = plan.projectList.last match { case a: Alias => a.child; case other => other }
    BindReferences.bindReference(e, plan.child.output)
  }

  def embedText(text: String): Seq[Double] =
    bound.eval(InternalRow(UTF8String.fromString(text))).asInstanceOf[ArrayData]
      .toDoubleArray().toSeq

  /** The same per-dimension value as a DuckDB fragment over `hExpr`. */
  def dimSql(hExpr: String, d: Int): String =
    s"(CAST((($hExpr * ${2 * d + 3} + ${17L * d}) % $P) AS DOUBLE) / $P.0 - 0.5)"
}

/** HTTP embedder for a llama.cpp `/embedding` server. One HTTP client per
  * partition (never per-row), request/response JSON shapes per the
  * reference (`embedding-from-server.c:15-38`, response parsed at
  * `:40-104`: outer array → first object → `embedding` → first row).
  * [[embedText]] sends the same request once from the driver.
  */
class HttpEmbedder(host: String, port: Int, val dim: Int = 768) extends Embedder {
  private val url = s"http://$host:$port/embedding"

  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val url = this.url // the closure captures the string, not the embedder
    val schema = df.schema.add(outCol, ArrayType(DoubleType, containsNull = false))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(textCol)
    df.mapPartitions { rows =>
      val client = Http.client()
      rows.map(r => Row.fromSeq(r.toSeq :+ HttpEmbedder.request(client, url, r.getString(idx))))
    }(enc)
  }

  def embedText(text: String): Seq[Double] =
    HttpEmbedder.request(Http.client(), url, text)
}

object HttpEmbedder {
  /** One `/embedding` POST of `text` to `url` on `client`, parsed
    * ([[Http.postJson]]: bounded waits, a non-2xx status fails). */
  def request(client: java.net.http.HttpClient, url: String, text: String,
              headersTimeout: java.time.Duration = Http.HeadersTimeout): Seq[Double] =
    parseEmbedding(Http.postJson(client, url, s"""{"content": ${jsonStr(text)}}""",
      java.net.http.HttpResponse.BodyHandlers.ofString(), headersTimeout))

  /** `s` as a JSON string literal: quote, backslash and every control
    * char (< 0x20) escaped. The one JSON string encoder of the engine's
    * requests and artifacts. */
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
