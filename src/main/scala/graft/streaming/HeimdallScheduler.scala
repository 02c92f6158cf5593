package graft.streaming

import java.io.OutputStream
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.concurrent.TrieMap

import com.sun.net.httpserver.HttpExchange

import graft.graph.GraphStore
import graft.functions.JsonImpls.{quote => jstr}

/** Heimdall — the scheduled cognitive-guardian subsystem
  * (`/root/reference/pkg/heimdall/`): periodic analysis tasks over the
  * live store (anomaly detection / runtime diagnosis / memory curation,
  * `types.go:174-179` feature flags with per-task intervals), a "Bifrost"
  * SSE bridge that fans analysis notifications out to connected clients
  * (`bifrost.go:15-174`), an OpenAI-shaped chat endpoint
  * (`handler.go:207`), and Prometheus counters on the shared /metrics
  * exposition.
  *
  * The model boundary is the [[HeimdallScheduler.Analyst]] seam — the
  * reference calls a local GGUF SLM through llama.cpp
  * (`scheduler.go:36-145`); that toolchain (and any model file) is not
  * available in this build environment, so the default analyst is a
  * DISCLOSED deterministic stand-in that summarizes the task's measured
  * inputs verbatim. Swapping in a real provider is one class, exactly
  * like the HttpEmbedder/ProcessEmbedder seams.
  *
  * Task bodies are intentionally cheap on the driver: they read counts /
  * JVM gauges (all Spark-side aggregation), never collect unbounded rows.
  *
  * HTTP surface (handler.go:57-68), mounted by [[graft.GraftServer]] on the
  * shared listener:
  *   - GET  /api/bifrost/status            → status + stats JSON
  *   - GET  /api/bifrost/events            → SSE stream (register client)
  *   - POST /api/bifrost/chat/completions  → one-shot chat (non-stream)
  */
object HeimdallScheduler {

  /** The LLM boundary (`scheduler.go:180` Manager.Generate). */
  trait Analyst {
    def analyze(task: String, context: String): String
  }

  /** Disclosed deterministic stand-in: echoes a structured summary of the
    * measured context (no model in this environment — see class docs).
    */
  object DeterministicAnalyst extends Analyst {
    def analyze(task: String, context: String): String =
      s"[$task] $context"
  }

  /** Prometheus counters, readable by RestApi's /metrics exposition even
    * when no scheduler is running (values stay 0).
    */
  val taskRuns = new AtomicLong
  val taskErrors = new AtomicLong
  val notifications = new AtomicLong
  val connectedClients = new AtomicLong

  final case class TaskResult(task: String, level: String, title: String,
      content: String)
}

final class HeimdallScheduler(store: GraphStore,
    intervalMs: Long = 5 * 60 * 1000L,
    anomalyDetection: Boolean = true,
    runtimeDiagnosis: Boolean = true,
    memoryCuration: Boolean = false,
    analyst: HeimdallScheduler.Analyst = HeimdallScheduler.DeterministicAnalyst,
    model: String = "deterministic-standin") {
  import HeimdallScheduler._

  // ------------------------------------------------ Bifrost registry ----

  /** id → SSE output stream (bifrost.go:17 clients map). */
  private val clients = TrieMap.empty[String, OutputStream]
  private val idCounter = new AtomicLong
  private val running = new AtomicBoolean(false)
  @volatile private var ticker: Thread = _

  def connectionCount: Int = clients.size
  def isConnected: Boolean = clients.nonEmpty

  private def sseWrite(out: OutputStream, json: String): Boolean =
    try {
      out.write(s"data: $json\n\n".getBytes(StandardCharsets.UTF_8))
      out.flush(); true
    } catch { case _: java.io.IOException => false }

  /** Broadcast to every connected client, dropping dead connections
    * (bifrost.go:147-174 — a write failure unregisters nobody there; here
    * the JDK stream throws, which is our disconnect signal).
    */
  private def broadcastJson(json: String): Unit = {
    clients.foreach { case (id, out) =>
      if (!sseWrite(out, json)) {
        clients.remove(id)
        connectedClients.set(clients.size.toLong)
      }
    }
  }

  /** bifrost.go:86-94 SendNotification — type ∈ info/warning/error/success. */
  def sendNotification(level: String, title: String, content: String): Unit = {
    notifications.incrementAndGet()
    broadcastJson(s"""{"type":"notification","timestamp":${System.currentTimeMillis() / 1000},"level":${jstr(level)},"title":${jstr(title)},"content":${jstr(content)}}""")
  }

  /** bifrost.go:76-82 SendMessage. */
  def sendMessage(msg: String): Unit = {
    notifications.incrementAndGet()
    broadcastJson(s"""{"type":"message","timestamp":${System.currentTimeMillis() / 1000},"content":${jstr(msg)}}""")
  }

  // ------------------------------------------------ scheduled tasks ----

  /** Task registry: name → measured context string. Bodies are count-only
    * reads of the live snapshot, never row materialization.
    */
  private def taskBodies: Seq[(String, () => String)] = {
    val b = Seq.newBuilder[(String, () => String)]
    if (anomalyDetection) b += "anomaly_detection" -> (() => {
      val g = store.snapshot
      val nodes = g.nodes.count()
      val edges = g.edges.count()
      val orphan = // edge endpoints with no node — the structural anomaly
        g.edges.select("src").union(g.edges.select("dst")).distinct()
          .join(g.nodes.select("id"),
            org.apache.spark.sql.functions.col("src") ===
              org.apache.spark.sql.functions.col("id"), "left_anti").count()
      s"nodes=$nodes edges=$edges dangling_endpoints=$orphan"
    })
    if (runtimeDiagnosis) b += "runtime_diagnosis" -> (() => {
      val rt = Runtime.getRuntime
      val usedMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      s"heap_used_mb=$usedMb processors=${rt.availableProcessors()} version=${store.version}"
    })
    if (memoryCuration) b += "memory_curation" -> (() => {
      val embedded = store.nodeEmbeddings.select("entity_id").distinct().count()
      val total = store.snapshot.nodes.count()
      s"embedded=$embedded total=$total unembedded=${total - embedded}"
    })
    b.result()
  }

  /** Run one task now — the manual trigger and the spec seam. The result
    * also broadcasts as a Bifrost notification (the reference's analysis
    * jobs notify connected clients the same way).
    */
  def runTaskNow(name: String): TaskResult = {
    val body = taskBodies.collectFirst { case (n, f) if n == name => f }
      .getOrElse(throw new IllegalArgumentException(s"unknown task $name"))
    try {
      val analysis = analyst.analyze(name, body())
      taskRuns.incrementAndGet()
      val r = TaskResult(name, "info", s"heimdall:$name", analysis)
      sendNotification(r.level, r.title, r.content)
      r
    } catch {
      case e: Exception =>
        taskErrors.incrementAndGet()
        val r = TaskResult(name, "error", s"heimdall:$name",
          Option(e.getMessage).getOrElse(e.toString))
        sendNotification(r.level, r.title, r.content)
        r
    }
  }

  def start(): HeimdallScheduler = {
    if (running.compareAndSet(false, true)) {
      ticker = new Thread(() => {
        while (running.get()) {
          try Thread.sleep(intervalMs)
          catch { case _: InterruptedException => }
          if (running.get())
            taskBodies.foreach { case (name, _) => runTaskNow(name) }
        }
      }, "heimdall-scheduler")
      ticker.setDaemon(true)
      ticker.start()
    }
    this
  }

  def stop(): Unit = {
    if (running.compareAndSet(true, false)) Option(ticker).foreach(_.interrupt())
    clients.keys.foreach(clients.remove)
    connectedClients.set(0)
  }

  // ------------------------------------------------ HTTP surface ----

  /** Serve the /api/bifrost routes on a shared listener (handler.go:57-68). */
  def handleExchange(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    try path match {
      case "/api/bifrost/status" => handleStatus(ex)
      case "/api/bifrost/events" => handleEvents(ex)
      case "/api/bifrost/chat/completions" => handleChat(ex)
      case _ => respond(ex, 404, """{"error":"not found"}""")
    } catch {
      case _: java.io.IOException => // client went away mid-stream
      case e: Exception =>
        try respond(ex, 500, s"""{"error":${jstr(
          Option(e.getMessage).getOrElse(e.toString))}}""")
        catch { case _: Exception => () }
    }
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** handler.go:72-101 status shape. */
  private def handleStatus(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") {
      respond(ex, 405, """{"error":"method not allowed"}"""); return
    }
    respond(ex, 200,
      s"""{"status":"ok","model":${jstr(model)},"heimdall":{"enabled":true,"stats":{"request_count":${taskRuns.get},"error_count":${taskErrors.get}}},"bifrost":{"enabled":true,"connection_count":${clients.size}}}""")
  }

  /** handler.go:108-155 SSE handshake: headers, register, "connected"
    * greeting carrying the client_id, then the stream stays open until
    * the client closes (writes fail → unregistered in broadcast).
    */
  private def handleEvents(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") {
      respond(ex, 405, """{"error":"method not allowed"}"""); return
    }
    val id = s"bifrost-${System.nanoTime()}-${idCounter.incrementAndGet()}"
    ex.getResponseHeaders.set("Content-Type", "text/event-stream")
    ex.getResponseHeaders.set("Cache-Control", "no-cache")
    ex.getResponseHeaders.set("Connection", "keep-alive")
    ex.sendResponseHeaders(200, 0L) // chunked — stream stays open
    val out = ex.getResponseBody
    sseWrite(out,
      s"""{"type":"connected","timestamp":${System.currentTimeMillis() / 1000},"content":"Connected to Bifrost","data":{"client_id":${jstr(id)}}}""")
    clients(id) = out
    connectedClients.set(clients.size.toLong)
    // intentionally NOT closing the exchange: the stream belongs to the
    // registry now; broadcast failures retire it
  }

  /** handler.go:207 chat completions (non-streaming): prompt → analyst →
    * OpenAI-shaped response envelope.
    */
  private def handleChat(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405, """{"error":"method not allowed"}"""); return
    }
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    // last "content" field = the user message (single-turn floor)
    val content = """"content"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      .findAllMatchIn(body).map(_.group(1)).toSeq.lastOption.getOrElse("")
    val answer = analyst.analyze("chat", content)
    taskRuns.incrementAndGet()
    respond(ex, 200,
      s"""{"id":"chatcmpl-${System.nanoTime()}","model":${jstr(model)},"created":${System.currentTimeMillis() / 1000},"choices":[{"index":0,"message":{"role":"assistant","content":${jstr(answer)}},"finish_reason":"stop"}]}""")
  }
}
