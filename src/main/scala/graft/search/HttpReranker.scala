package graft.search

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{JsonImpls => J}

/** Cross-encoder rerank over a real model-serving HTTP API — the
  * reference's `callRerankAPI` (`/root/reference/pkg/search/rerank.go:
  * 206-301`), same wire discipline as [[graft.functions.HttpEmbedder]]:
  *
  *   - request: ONE batched Cohere-shaped POST
  *     `{"query", "documents":[…], "model", "top_n"}` with optional
  *     `Authorization: Bearer` (rerank.go:218-237);
  *   - response: any of the three formats the reference accepts —
  *     Cohere `{"results":[{"index","relevance_score"}]}`, HuggingFace
  *     TEI `{"scores":[…]}`, or simple `{"rankings":[{"index","score"}]}`
  *     (rerank.go:251-266);
  *   - failure → pass-through, never an error surfaced to the search
  *     (rerank.go:152-156 falls back to the bi-encoder ranking).
  *
  * Scale shape: rerank candidates are topK-bounded (≤100, rerank.go:143)
  * BEFORE this runs, so the driver-side collect here is the same bounded
  * batch the reference ships over the wire — the expensive part is the
  * model call, not the rows. Install with `Rerank.set(new
  * HttpReranker(cfg).encoder)`; the zero-egress default stays the
  * disclosed lexical stub.
  */
final case class HttpRerankerConfig(apiUrl: String, model: String = "",
    apiKey: String = "", timeoutMs: Long = 30000)

final class HttpReranker(config: HttpRerankerConfig) {

  /** One batched scoring call: documents in candidate order → one score
    * per document (rerank.go:206). Throws on any HTTP/parse failure; the
    * encoder catches and falls back.
    */
  def score(query: String, documents: Seq[String]): Seq[Double] = {
    val body =
      s"""{"query":${J.quote(query)},"documents":[${documents.map(J.quote).mkString(",")}],""" +
        s""""model":${J.quote(config.model)},"top_n":${documents.size}}"""
    val b = HttpRequest.newBuilder(URI.create(config.apiUrl))
      .header("Content-Type", "application/json")
      .timeout(java.time.Duration.ofMillis(config.timeoutMs))
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
    if (config.apiKey.nonEmpty)
      b.header("Authorization", s"Bearer ${config.apiKey}")
    val resp = HttpReranker.http.send(b.build(),
      HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200,
      s"rerank API returned status ${resp.statusCode()}")
    val root = J.parse(resp.body()).getOrElse(
      sys.error("rerank API returned unparseable JSON"))
    val out = Array.fill(documents.size)(0.0)
    val results = root.get("results")
    val scores = root.get("scores")
    val rankings = root.get("rankings")
    if (results != null && results.isArray && results.size() > 0) {
      (0 until results.size()).foreach { i =>
        val r = results.get(i)
        val idx = r.get("index").asInt()
        if (idx < out.length) out(idx) = r.get("relevance_score").asDouble()
      }
    } else if (scores != null && scores.isArray && scores.size() > 0) {
      (0 until math.min(scores.size(), out.length)).foreach { i =>
        out(i) = scores.get(i).asDouble()
      }
    } else if (rankings != null && rankings.isArray && rankings.size() > 0) {
      (0 until rankings.size()).foreach { i =>
        val r = rankings.get(i)
        val idx = r.get("index").asInt()
        if (idx < out.length) out(idx) = r.get("score").asDouble()
      }
    } else sys.error("unable to parse rerank response")
    out.toSeq
  }

  /** GET `{apiUrl minus /rerank}/health` (rerank.go:305-330). */
  def isAvailable: Boolean =
    try {
      val url = config.apiUrl.stripSuffix("/rerank") + "/health"
      val resp = HttpReranker.http.send(
        HttpRequest.newBuilder(URI.create(url))
          .timeout(java.time.Duration.ofMillis(5000)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      resp.statusCode() == 200
    } catch { case _: Exception => false }

  /** The [[Rerank.Encoder]] seam: candidates (already topK-bounded and
    * original_rank-ordered) score in one API batch; any failure degrades
    * to cross = bi (pass-through, rerank.go:152-156).
    */
  def encoder: Rerank.Encoder = (df: DataFrame, query: String) => {
    try {
      // inside the try: a Spark failure collecting candidates (missing
      // column, cancelled job) must degrade to pass-through like any
      // provider failure, not abort the search (rerank.go:152-156)
      val ordered: Array[Row] =
        df.select("id", "content").orderBy(col("original_rank")).collect()
      val scores = score(query, ordered.map(r => String.valueOf(r.get(1))).toSeq)
      val lookup = ordered.map(r => String.valueOf(r.get(0))).zip(scores).toMap
      val spark = df.sparkSession
      val scoreDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          lookup.toSeq.map { case (id, s) => Row(id, s) }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("cross_score",
            org.apache.spark.sql.types.DoubleType))))
      df.join(broadcast(scoreDf), Seq("id"), "left_outer")
        .na.fill(0.0, Seq("cross_score"))
    } catch {
      case _: Exception => df.withColumn("cross_score", col("bi_score"))
    }
  }
}

object HttpReranker {
  // one client per JVM, like HttpEmbedder
  private lazy val http = HttpClient.newHttpClient()
}
