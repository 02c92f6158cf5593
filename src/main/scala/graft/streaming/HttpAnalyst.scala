package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import graft.functions.{JsonImpls => J}

/** HTTP chat-completion analyst for the Heimdall scheduler — the
  * real-model twin of the disclosed deterministic stand-in, on the same
  * [[HeimdallScheduler.Analyst]] seam.
  *
  * Behavioral spec: the reference drives a local SLM through llama.cpp
  * for its analysis tasks (`/root/reference/pkg/heimdall/scheduler.go:180`
  * Manager.Generate; surfaced over an OpenAI-shaped chat endpoint,
  * `pkg/heimdall/handler.go:207`). llama.cpp's own `llama-server` (and
  * any OpenAI-compatible host) speaks the `/v1/chat/completions` wire
  * form, so this provider posts
  * `{"model","messages":[{role,content}…],"temperature","max_tokens"}`
  * and reads `choices[0].message.content` — the same self-hosted analog
  * the llamacpp branch of [[graft.functions.HttpEmbedder]] is for
  * embeddings.
  *
  * Failure contract: Heimdall analysis is advisory — a provider outage
  * must never take the scheduled tasks down with it. Any transport or
  * shape failure degrades to the deterministic stand-in's summary of the
  * measured context (disclosed, same text the zero-egress default
  * emits), mirroring the rerank provider's pass-through discipline
  * (`pkg/search/rerank.go:152-156`).
  */
final case class HttpAnalystConfig(apiUrl: String,
    apiPath: String = "/v1/chat/completions", model: String = "default",
    apiKey: String = "", systemPrompt: String =
      "You are Heimdall, a database guardian. Analyze the measured " +
        "context and answer concisely.",
    temperature: Double = 0.2, maxTokens: Int = 512, timeoutMs: Long = 30000)

final class HttpAnalyst(config: HttpAnalystConfig)
    extends HeimdallScheduler.Analyst {

  def analyze(task: String, context: String): String =
    try {
      val body =
        s"""{"model":${J.quote(config.model)},"messages":[{"role":"system","content":${
          J.quote(config.systemPrompt)}},{"role":"user","content":${
          J.quote(s"[$task] $context")}}],"temperature":${
          config.temperature},"max_tokens":${config.maxTokens}}"""
      val b = HttpRequest.newBuilder(URI.create(config.apiUrl + config.apiPath))
        .header("Content-Type", "application/json")
        .timeout(java.time.Duration.ofMillis(config.timeoutMs))
        .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      if (config.apiKey.nonEmpty)
        b.header("Authorization", s"Bearer ${config.apiKey}")
      val resp = HttpAnalyst.http.send(b.build(),
        HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"analyst provider returned ${resp.statusCode()}")
      val n = J.parse(resp.body()).getOrElse(
        throw new IllegalStateException("analyst: unparseable response"))
      val content = Option(n.get("choices"))
        .filter(c => c.isArray && c.size() > 0)
        .map(_.get(0))
        .flatMap(c => Option(c.get("message")))
        .flatMap(m => Option(m.get("content")))
        .map(_.asText())
      content.filter(_.nonEmpty).getOrElse(
        throw new IllegalStateException("analyst: empty choices"))
    } catch {
      case _: Exception =>
        HeimdallScheduler.DeterministicAnalyst.analyze(task, context)
    }
}

object HttpAnalyst {
  // one client per JVM — the analyst runs on the driver only
  private lazy val http = HttpClient.newHttpClient()
}
