package graft.functions

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

import graft.functions.{JsonImpls => J}

/** HTTP embedding providers — behavioral spec
  * `/root/reference/pkg/embed/embed.go`:
  *
  *   - `ollama` (embed.go:342-465): POST `{apiUrl}{apiPath}` with
  *     `{"model","prompt"}` per text → `{"embedding":[…]}`; batches are
  *     one request per text (the reference's current behavior).
  *   - `openai` (embed.go:640-800): POST with `{"model","input":[…]}`
  *     and `Authorization: Bearer`, one TRUE batch request →
  *     `{"data":[{"embedding","index"}…]}` re-ordered by index.
  *
  * Lifecycle mirrors [[ProcessEmbedder]]: one shared JDK HttpClient per
  * JVM; executors embed their own partitions, so bulk embedding fans
  * out across the cluster while each row's call stays local to its
  * task. `embedCol` is a Scala UDF by necessity (an external HTTP call
  * cannot be codegen'd) — keep it behind the embed queue, where the
  * model call dominates.
  */
final case class HttpEmbedderConfig(provider: String, apiUrl: String,
    apiPath: String, model: String, apiKey: String = "",
    timeoutMs: Long = 30000) {
  require(provider == "ollama" || provider == "openai" || provider == "llamacpp",
    s"unknown embedding provider: $provider")
}

final class HttpEmbedder(config: HttpEmbedderConfig, val dim: Int)
    extends Embedder with Serializable {

  override def provider: String = config.provider
  override def model: String = config.model

  def embed(text: String): Seq[Double] =
    HttpEmbedder.request(config, Seq(text), dim).head

  def embedCol(spark: SparkSession, c: Column): Column = {
    val cfg = config
    val d = dim
    val f = udf((s: String) =>
      if (s == null) null else HttpEmbedder.request(cfg, Seq(s), d).head)
    f(c)
  }
}

object HttpEmbedder {

  // one client per JVM (driver and each executor)
  @transient private lazy val http = HttpClient.newHttpClient()

  private def post(cfg: HttpEmbedderConfig, body: String): String = {
    val b = HttpRequest.newBuilder(URI.create(cfg.apiUrl + cfg.apiPath))
      .header("Content-Type", "application/json")
      .timeout(java.time.Duration.ofMillis(cfg.timeoutMs))
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
    if (cfg.apiKey.nonEmpty) b.header("Authorization", s"Bearer ${cfg.apiKey}")
    val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200,
      s"${cfg.provider} returned ${resp.statusCode()}: ${resp.body()}")
    resp.body()
  }

  private def vecOf(n: com.fasterxml.jackson.databind.JsonNode,
      dim: Int, what: String): Seq[Double] = {
    require(n != null && n.isArray, s"$what: embedding missing")
    val v = (0 until n.size()).map(i => n.get(i).asDouble())
    require(v.length == dim, s"$what returned ${v.length} dims, expected $dim")
    v
  }

  def request(cfg: HttpEmbedderConfig, texts: Seq[String],
      dim: Int): Seq[Seq[Double]] = cfg.provider match {
    case "ollama" => // one request per text (embed.go:446-457)
      texts.map { t =>
        val body = s"""{"model":${J.quote(cfg.model)},"prompt":${J.quote(t)}}"""
        val n = J.parse(post(cfg, body)).getOrElse(
          throw new IllegalStateException("ollama: unparseable response"))
        vecOf(n.get("embedding"), dim, "ollama")
      }
    case "openai" => // one true batch request (embed.go:724-800)
      val body = s"""{"model":${J.quote(cfg.model)},"input":[${
        texts.map(J.quote).mkString(",")}]}"""
      val n = J.parse(post(cfg, body)).getOrElse(
        throw new IllegalStateException("openai: unparseable response"))
      val data = n.get("data")
      require(data != null && data.isArray && data.size() == texts.length,
        s"openai returned ${if (data == null) 0 else data.size()} rows for ${texts.length} inputs")
      // re-order by the index field — the API may answer out of order
      val byIdx = (0 until data.size()).map { i =>
        val row = data.get(i)
        row.get("index").asInt() -> vecOf(row.get("embedding"), dim, "openai")
      }.toMap
      texts.indices.map(byIdx)
    case "llamacpp" =>
      // llama.cpp's own HTTP server (`llama-server --embedding`), the
      // self-hosted analog of the reference's in-process GGUF embedding
      // (`pkg/localllm/llama.go`): POST {apiUrl}{apiPath} with
      // `{"content": ...}` per text; the response is either
      // `{"embedding":[...]}` or the list form
      // `[{"embedding":[[...]]}]` (newer servers batch by rows)
      texts.map { t =>
        val body = s"""{"content":${J.quote(t)}}"""
        val n = J.parse(post(cfg, body)).getOrElse(
          throw new IllegalStateException("llamacpp: unparseable response"))
        val node =
          if (n.isArray && n.size() > 0) n.get(0).get("embedding") match {
            case e if e != null && e.isArray && e.size() > 0 && e.get(0).isArray =>
              e.get(0) // [[...]] row-batched form
            case e => e
          }
          else n.get("embedding")
        vecOf(node, dim, "llamacpp")
      }
  }
}

/** LRU cache over any [[Embedder]] — the reference's CachedEmbedder
  * (`pkg/embed/cached_embedder.go`): keyed by FNV-1a of the text,
  * bounded size, hit/miss stats. Each JVM keeps its own cache (driver
  * and executors), so distributed embedding still dedups within a task's
  * lifetime without any shuffle.
  */
final class CachedEmbedder(base: Embedder, maxSize: Int)
    extends Embedder with Serializable {
  require(maxSize > 0, "cache size must be positive")

  val dim: Int = base.dim
  override def provider: String = base.provider
  override def model: String = base.model

  // per-JVM state (rebuilt empty after deserialization on executors)
  @transient private lazy val cache =
    new java.util.LinkedHashMap[Long, Seq[Double]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Seq[Double]]): Boolean =
        size() > maxSize
    }
  @transient private lazy val hitCount = new java.util.concurrent.atomic.AtomicLong
  @transient private lazy val missCount = new java.util.concurrent.atomic.AtomicLong

  private def key(text: String): Long = {
    // FNV-1a over UTF-8 (cached_embedder.go:34)
    var h = -3750763034362895579L
    text.getBytes(StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xffL); h *= 1099511628211L
    }
    h
  }

  def embed(text: String): Seq[Double] = {
    val k = key(text)
    val cached = cache.synchronized(Option(cache.get(k)))
    cached match {
      case Some(v) => hitCount.incrementAndGet(); v
      case None =>
        missCount.incrementAndGet()
        val v = base.embed(text)
        cache.synchronized(cache.put(k, v))
        v
    }
  }

  def embedCol(spark: SparkSession, c: Column): Column = {
    val self = this
    val f = udf((s: String) => if (s == null) null else self.embed(s))
    f(c)
  }

  /** (hits, misses, currentSize) — this JVM's view. */
  def stats: (Long, Long, Int) =
    (hitCount.get, missCount.get, cache.synchronized(cache.size()))
}
