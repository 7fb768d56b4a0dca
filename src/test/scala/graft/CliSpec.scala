package graft

import java.nio.file.Files
import scala.sys.process.{Process, ProcessIO}

/** End-to-end CLI smoke tests for the reference-binary analogs
  * (`graft.Main`). Each case runs in its OWN JVM: Main creates and
  * stops its own SparkSession, which must never touch this suite's
  * shared one. Offline mock-embedder paths only (no egress in CI);
  * the HTTP transports are unit-tested separately.
  */
class CliSpec extends SparkSpec {

  private val javaBin = s"${sys.props("java.home")}/bin/java"
  private val addOpens = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  /** Run `graft.Main args...` with `input` on stdin; (exit, stdout). */
  private def runMain(input: String, args: String*): (Int, String) = {
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx4g",
      "-cp", sys.props("java.class.path"), "graft.Main") ++ args
    val out = new StringBuilder
    val io = new ProcessIO(
      in => { in.write(input.getBytes("UTF-8")); in.close() },
      o => { out ++= scala.io.Source.fromInputStream(o).mkString; o.close() },
      e => { scala.io.Source.fromInputStream(e).mkString; e.close() })
    val p = Process(cmd, None, "SPARK_GRAFT_CPUS" -> "2").run(io)
    (p.exitValue(), out.toString)
  }

  test("CLI: conversation REPL threads turns offline (no Spark, no server)") {
    val (code, out) = runMain("first turn here\nsecond turn now\n", "conversation")
    assert(code == 0, out)
    // offline mode echoes the assembled prompt; turn 2's prompt must
    // carry turn 1's text AND its recorded answer (the echoed prompt)
    assert(out.contains(graft.operators.Prompt.SingleSystemMsg.take(40)))
    val turn2 = out.indexOf("second turn now")
    assert(turn2 >= 0)
    assert(out.lastIndexOf("first turn here", turn2) > out.indexOf("first turn here"),
      "turn 1 text not threaded into turn 2's prompt")
  }

  test("CLI: build-index then rag answer a query offline (mock embedder)") {
    val idx = Files.createTempDirectory("cli-idx").toString + "/idx.parquet"
    val (c1, _) = runMain("",
      "build-index", s"$sf0001/documents.parquet", idx, "100")
    assert(c1 == 0)
    assert(spark.read.parquet(idx).count() > 0)
    val (c2, out2) = runMain("", "rag", idx, "3", "key agg row scan")
    assert(c2 == 0, out2)
    // the printed RAG prompt embeds retrieved chunks and the question
    assert(out2.contains("Context 1:"))
    assert(out2.contains("key agg row scan"))
  }

  test("CLI: rag over a .vdb index prints the same prompt as over parquet") {
    val dir = Files.createTempDirectory("cli-vdb").toString
    val docs = s"$sf0001/documents.parquet"
    val prompts = for (idx <- Seq(s"$dir/idx.parquet", s"$dir/x.vdb")) yield {
      val (c1, _) = runMain("", "build-index", docs, idx, "100")
      assert(c1 == 0, idx)
      val (c2, out) = runMain("", "rag", idx, "3", "key agg row scan")
      assert(c2 == 0, out)
      out
    }
    assert(prompts(0).contains("Context 1:"))
    assert(prompts(1) == prompts(0))
  }
}
