package graft.functions

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Real embedding provider over an external process — the deployment
  * counterpart of the reference's llama.cpp wiring
  * (`/root/reference/pkg/localllm/`: the server spawns a local model
  * process and speaks a line protocol to it; `pkg/embed/embed.go` is the
  * interface seam). The sandbox has no model binary, so the PROTOCOL and
  * process lifecycle are the real artifact; the spec drives it with a
  * deterministic stand-in command.
  *
  * Line protocol (newline-delimited, UTF-8):
  *   → one JSON string per request (the text, JSON-escaped)
  *   ← one JSON array of `dim` numbers
  *
  * Lifecycle: ONE process per (command, JVM) — executors each lazily
  * spawn their own on first use and reuse it for every row they embed
  * (requests are serialized per process; embedding batches amortize the
  * spawn). `embedCol` is a Scala UDF by necessity: an external codec
  * cannot be codegen'd, exactly like the multimodal decode path — keep it
  * off hot analytic paths and behind the embed queue, where the model
  * call dominates anyway.
  */
final class ProcessEmbedder(command: Seq[String], val dim: Int)
    extends Embedder with Serializable {

  override def provider: String = "process"
  override def model: String = command.headOption.getOrElse("process")

  def embed(text: String): Seq[Double] = ProcessEmbedder.request(command, text, dim)

  def embedCol(spark: SparkSession, c: Column): Column = {
    val cmd = command
    val d = dim
    val f = udf((s: String) =>
      if (s == null) null else ProcessEmbedder.request(cmd, s, d))
    f(c)
  }
}

object ProcessEmbedder {

  private final class Proc(command: Seq[String]) {
    val p: Process = new ProcessBuilder(command: _*)
      .redirectErrorStream(false).start()
    val in = new BufferedWriter(new OutputStreamWriter(
      p.getOutputStream, StandardCharsets.UTF_8))
    val out = new BufferedReader(new InputStreamReader(
      p.getInputStream, StandardCharsets.UTF_8))
  }

  private val procs = TrieMap.empty[Seq[String], Proc]

  private def procFor(command: Seq[String]): Proc =
    procs.getOrElseUpdate(command, new Proc(command))

  /** Kill the per-JVM process for `command` (tests; redeploys). */
  def shutdown(command: Seq[String]): Unit =
    procs.remove(command).foreach(_.p.destroy())

  def request(command: Seq[String], text: String, dim: Int): Seq[Double] = {
    val proc = procFor(command)
    // serialize per process: one in-flight request per pipe
    proc.synchronized {
      proc.in.write(JsonImpls.quote(text))
      proc.in.newLine()
      proc.in.flush()
      val line = proc.out.readLine()
      require(line != null, s"embedder process ${command.head} closed its pipe")
      val vec = parseArray(line)
      require(vec.length == dim,
        s"embedder returned ${vec.length} dims, expected $dim")
      vec
    }
  }

  private def parseArray(line: String): Seq[Double] = {
    val t = line.trim
    require(t.startsWith("[") && t.endsWith("]"), s"expected JSON array, got: $t")
    val inner = t.substring(1, t.length - 1).trim
    if (inner.isEmpty) Seq.empty
    else inner.split(",").toSeq.map(_.trim.toDouble)
  }
}
