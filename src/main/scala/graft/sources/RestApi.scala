package graft.sources

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.HttpExchange

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.cypher.SearchCallProcs
import graft.functions.{Embedder, VectorFns}
import graft.graph.GraphStore
import graft.operators.Privacy
import graft.functions.JsonImpls.quote

/** The reference server's plain-REST surface, served beside the
  * transaction API on the same JDK HttpServer (route table:
  * `/root/reference/pkg/server/server_router.go:100-170`):
  *
  *  - discovery `GET /` + `GET /health` (unauthenticated,
  *    `server_public.go:13-51`), `GET /status` + Prometheus
  *    `GET /metrics` (read, `server_public.go:53-200`);
  *  - the native NornicDB API: `POST /nornicdb/search` (hybrid RRF via
  *    the shared [[SearchCallProcs.searchTextDetailed]] engine),
  *    `POST /nornicdb/similar` (embedding cosine top-k),
  *    `GET /nornicdb/decay`, the embed worker trio
  *    `/nornicdb/embed/{trigger,stats,clear}` and
  *    `POST /nornicdb/search/rebuild` (`server_nornicdb.go`);
  *  - GDPR: `POST /gdpr/export` + `POST /gdpr/delete` over the
  *    [[Privacy]] operators (`server_gdpr.go`);
  *  - admin: `/admin/{stats,config,backup}` (`server_admin.go`);
  *  - auth self-service: `/auth/{me,password,profile,logout,config}`
  *    (`server_auth.go:79-547`).
  *
  * Every query executes on Spark; the handlers only parse the small JSON
  * request bodies and assemble bounded (top-k / count-sized) responses —
  * the same serving-layer-collect shape as the other front ends.
  * Permission gates follow the reference router exactly (read / write /
  * admin / delete per route, 401 unauthenticated / 403 forbidden).
  */
final class RestApi(store: GraphStore,
    rbac: Option[ServerAuth.Rbac],
    authenticator: Option[Authenticator],
    advertisedBoltPort: Int = 7687,
    advertisedHttpPort: () => Int = () => 7474,
    oauth: Option[OAuthClient] = None,
    isDevelopment: Boolean = true) {

  import ServerAuth.{Permission, Role}

  // ---- request stats (the reference middleware's counters, Stats()) ----
  private val startNanos = System.nanoTime()
  private val requests = new AtomicLong
  private val errors = new AtomicLong
  private val active = new AtomicLong

  /** Wrap a handler with the middleware counters (requests/active; any
    * 4xx/5xx response or uncaught throw counts as an error). Uncaught
    * handler failures answer a 500 JSON error instead of letting the
    * JDK dispatcher drop the connection (the reference middleware's
    * recover path).
    */
  def counted(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler = { ex =>
    requests.incrementAndGet()
    active.incrementAndGet()
    // shared request-validation middleware runs before every handler
    // (security/middleware.go:44 ValidateRequest wraps all routes)
    try RequestValidation.guard(RequestValidation.JsonTypes, isDevelopment)(f)(ex)
    catch {
      case e: Exception =>
        // best effort: headers may already be sent mid-stream (the 500
        // respond() counts the error; the fallback close counts it here)
        try respond(ex, 500, s"""{"error":${jstr(
          Option(e.getMessage).getOrElse(e.toString))}}""")
        catch { case _: Exception =>
          errors.incrementAndGet()
          try ex.close() catch { case _: Exception => () }
        }
    }
    finally active.decrementAndGet()
  }

  private def uptimeSecs: Double = (System.nanoTime() - startNanos) / 1e9

  // ============================================ shared request helpers ==

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def strField(b: String, k: String): Option[String] =
    ("\"" + k + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
      .findFirstMatchIn(b).map(m => unescape(m.group(1)))

  private def longField(b: String, k: String): Option[Long] =
    ("\"" + k + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(b)
      .map(_.group(1).toLong)

  private def boolField(b: String, k: String): Option[Boolean] =
    ("\"" + k + "\"\\s*:\\s*(true|false)").r.findFirstMatchIn(b)
      .map(_.group(1).toBoolean)

  private def strListField(b: String, k: String): Seq[String] =
    ("\"" + k + "\"\\s*:\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(b).toSeq
      .flatMap(m => "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(m.group(1))
        .map(mm => unescape(mm.group(1))))

  private def mapField(b: String, k: String): Map[String, String] =
    ("\"" + k + "\"\\s*:\\s*\\{([^{}]*)\\}").r.findFirstMatchIn(b).toSeq
      .flatMap { m =>
        """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
          .findAllMatchIn(m.group(1))
          .map(mm => unescape(mm.group(1)) -> unescape(mm.group(2)))
      }.toMap

  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def jstr(s: String): String = quote(Option(s).getOrElse(""))

  /** Property values round-trip as their JSON form when they parse as a
    * scalar (the reference's map[string]interface{} properties).
    */
  private def jsonValue(s: String): String =
    if (s == null) "null"
    else if (s == "true" || s == "false" || s == "null") s
    else if (s.matches("-?\\d{1,18}") || s.matches("-?\\d+\\.\\d+([eE][+-]?\\d+)?")) s
    else jstr(s)

  private def respond(ex: HttpExchange, status: Int, b: String,
      contentType: String = "application/json"): Unit = {
    if (status >= 400) errors.incrementAndGet()
    val bytes = b.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, if (bytes.length == 0) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def err(ex: HttpExchange, status: Int, msg: String): Unit =
    respond(ex, status, s"""{"error":${jstr(msg)}}""")

  /** The reference's withAuth middleware: resolve role, 401 when
    * unauthenticated, 403 when the role lacks the route's permission.
    */
  private def withAuth(ex: HttpExchange, perm: Permission)(
      f: Role => Unit): Unit =
    ServerAuth.roleOf(ex, rbac) match {
      case None => err(ex, 401, "unauthorized")
      case Some(role) =>
        if (!ServerAuth.can(role, perm))
          err(ex, 403, s"permission denied: ${perm.name} required")
        else f(role)
    }

  private def spark = store.snapshot.nodes.sparkSession

  // =========================================== discovery & health =======

  /** `GET /` — Neo4j-compatible discovery (server_public.go:13-41). The
    * "/" context is the JDK server's fallback: any path no other context
    * claims lands here, so non-root paths 404 like the reference.
    */
  def handleDiscovery(ex: HttpExchange): Unit = {
    if (ex.getRequestURI.getPath != "/") {
      respond(ex, 404,
        """{"errors":[{"code":"Neo.ClientError.Request.Invalid","message":"not found"}]}""")
      return
    }
    val port = advertisedHttpPort()
    respond(ex, 200,
      s"""{"bolt_direct":"bolt://localhost:$advertisedBoltPort","bolt_routing":"neo4j://localhost:$advertisedBoltPort","transaction":"http://localhost:$port/db/{databaseName}/tx","neo4j_version":"5.0.0","neo4j_edition":"community","default_database":"neo4j"}""")
  }

  /** `GET /health` — unauthenticated, minimal (server_public.go:44-51).
    * JDK contexts are raw string prefixes, so `/healthz` etc. must 404
    * like the reference router.
    */
  def handleHealth(ex: HttpExchange): Unit =
    if (!ex.getRequestURI.getPath.matches("/(mcp/)?health"))
      err(ex, 404, s"not found: ${ex.getRequestURI.getPath}")
    else respond(ex, 200, """{"status":"healthy"}""")

  /** `GET /status` — authenticated operational summary
    * (server_public.go:53-117).
    */
  def handleStatus(ex: HttpExchange): Unit = withAuth(ex, Permission.Read) { _ =>
    if (ex.getRequestURI.getPath != "/status") {
      err(ex, 404, s"not found: ${ex.getRequestURI.getPath}"); return
    }
    val (nodes, edges, embedded) =
      (store.nodeCount, store.edgeCount, store.embeddedNodeCount())
    respond(ex, 200,
      s"""{"status":"running","server":{"uptime_seconds":$uptimeSecs,"requests":${requests.get},"errors":${errors.get},"active":${active.get}},"database":{"nodes":$nodes,"edges":$edges,"databases":1},"embeddings":{"enabled":true,"status":"idle","processed":$embedded,"failed":0}}""")
  }

  /** `GET /metrics` — Prometheus text exposition
    * (server_public.go:141-200): same metric names as the reference so an
    * existing scrape config works unchanged.
    */
  def handleMetrics(ex: HttpExchange): Unit = withAuth(ex, Permission.Read) { _ =>
    if (ex.getRequestURI.getPath != "/metrics") {
      err(ex, 404, s"not found: ${ex.getRequestURI.getPath}"); return
    }
    val (nodes, edges, embedded) =
      (store.nodeCount, store.edgeCount, store.embeddedNodeCount())
    val sb = new StringBuilder
    def metric(name: String, help: String, typ: String, value: String): Unit = {
      sb.append(s"# HELP $name $help\n# TYPE $name $typ\n$name $value\n")
    }
    metric("nornicdb_uptime_seconds", "Server uptime in seconds", "gauge",
      f"$uptimeSecs%.2f")
    metric("nornicdb_requests_total", "Total HTTP requests", "counter",
      requests.get.toString)
    metric("nornicdb_errors_total", "Total request errors", "counter",
      errors.get.toString)
    metric("nornicdb_active_requests", "Currently active requests", "gauge",
      active.get.toString)
    metric("nornicdb_nodes_total", "Total nodes in database", "gauge",
      nodes.toString)
    metric("nornicdb_edges_total", "Total edges in database", "gauge",
      edges.toString)
    metric("nornicdb_embeddings_processed", "Total embeddings processed",
      "counter", embedded.toString)
    metric("nornicdb_embedding_worker_running",
      "Whether embed worker is active", "gauge",
      if (regenRunning) "1" else "0")
    // Heimdall cognitive-guardian counters (pkg/heimdall/metrics.go's
    // collector, exposed Prometheus-style on the shared exposition);
    // zero when no scheduler is running
    locally {
      import graft.streaming.{HeimdallScheduler => H}
      metric("nornicdb_heimdall_task_runs_total",
        "Heimdall analysis task runs", "counter", H.taskRuns.get.toString)
      metric("nornicdb_heimdall_task_errors_total",
        "Heimdall analysis task errors", "counter", H.taskErrors.get.toString)
      metric("nornicdb_bifrost_notifications_total",
        "Bifrost notifications broadcast", "counter",
        H.notifications.get.toString)
      metric("nornicdb_bifrost_connected_clients",
        "Bifrost SSE clients connected", "gauge",
        H.connectedClients.get.toString)
    }
    respond(ex, 200, sb.toString, "text/plain; version=0.0.4")
  }

  // ================================================== /nornicdb/* =======

  /** Route the `/nornicdb/...` family (server_router.go:137-147). */
  def handleNornicdb(ex: HttpExchange): Unit =
    ex.getRequestURI.getPath match {
      case "/nornicdb/search" => withAuth(ex, Permission.Read)(_ => search(ex))
      case "/nornicdb/similar" => withAuth(ex, Permission.Read)(_ => similar(ex))
      case "/nornicdb/decay" => withAuth(ex, Permission.Read)(_ => decayInfo(ex))
      case "/nornicdb/embed/trigger" =>
        withAuth(ex, Permission.Write)(_ => embedTrigger(ex))
      case "/nornicdb/embed/stats" =>
        withAuth(ex, Permission.Read)(_ => embedStats(ex))
      case "/nornicdb/embed/clear" =>
        withAuth(ex, Permission.Admin)(_ => embedClear(ex))
      case "/nornicdb/search/rebuild" =>
        withAuth(ex, Permission.Write)(_ => searchRebuild(ex))
      case other => err(ex, 404, s"not found: $other")
    }

  /** Render a hit row whose columns are
    * (node, labels, properties, score[, rrf_score, vector_rank,
    * bm25_rank]) as the reference's SearchResult JSON
    * (db_admin.go:807-815; rrf fields are omitempty).
    */
  private def hitJson(r: Row, withRrf: Boolean): String = {
    val labels = Option(r.getAs[scala.collection.Seq[String]]("labels"))
      .getOrElse(scala.collection.Seq.empty[String])
    val props = Option(r.getAs[scala.collection.Map[String, String]]("properties"))
      .getOrElse(scala.collection.Map.empty[String, String])
    val node = s"""{"id":${jstr(r.getAs[String]("node"))},"labels":[${
      labels.map(jstr).mkString(",")}],"properties":{${
      props.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${jstr(k)}:${jsonValue(v)}" }.mkString(",")}}}"""
    val score = r.getAs[Double]("score")
    val rrf = if (!withRrf) "" else {
      val rrfScore = r.getAs[Double]("rrf_score")
      val vr = r.getAs[Int]("vector_rank")
      val br = r.getAs[Int]("bm25_rank")
      (if (rrfScore != 0.0) s""","rrf_score":$rrfScore""" else "") +
        (if (vr != 0) s""","vector_rank":$vr""" else "") +
        (if (br != 0) s""","bm25_rank":$br""" else "")
    }
    s"""{"node":$node,"score":$score$rrf}"""
  }

  /** `POST /nornicdb/search` (server_nornicdb.go:236-336): body
    * {query, labels?, limit?} → hybrid search through the same engine the
    * native gRPC service uses; the response is the bare SearchResult
    * array.
    */
  private def search(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST required"); return }
    val b = body(ex)
    val query = strField(b, "query").getOrElse("")
    val limit = longField(b, "limit").map(_.toInt).filter(_ > 0).getOrElse(10)
    val labels = strListField(b, "labels")
    val (hits, _, _, _) =
      SearchCallProcs.searchTextDetailed(store, query, limit, labels)
    val rows = hits.limit(limit).collect()
    respond(ex, 200, s"[${rows.map(hitJson(_, withRrf = true)).mkString(",")}]")
  }

  /** `POST /nornicdb/similar` (server_nornicdb.go:336-430): body
    * {node_id, limit?} → cosine top-k over the store's node embeddings,
    * excluding the target. The scan is one distributed filter+top-k —
    * the Spark form of the reference's StreamNodesWithFallback loop.
    */
  private def similar(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST required"); return }
    val b = body(ex)
    val nodeId = strField(b, "node_id").getOrElse("")
    val limit = longField(b, "limit").map(_.toInt).filter(_ > 0).getOrElse(10)
    val g = store.snapshot
    if (g.nodes.filter(col("id") === nodeId).limit(1).count() == 0) {
      err(ex, 404, s"Node '$nodeId' not found"); return
    }
    val embs = store.nodeEmbeddings.filter(col("name") === "embedding")
    val target = embs.filter(col("entity_id") === nodeId)
      .select("embedding").collect().headOption // 1-row dict probe
      .map(_.getAs[scala.collection.Seq[Double]](0))
    target match {
      case None | Some(null) => err(ex, 400, "Node has no embedding")
      case Some(t) =>
        val tLit = array(t.map(lit(_)).toSeq: _*)
        val scored = embs.filter(col("entity_id") =!= nodeId)
          .select(col("entity_id").as("node"),
            VectorFns.cosineCol(col("embedding"), tLit).as("score"))
          .join(g.nodes.select(col("id").as("node"), col("labels"),
            col("properties")), Seq("node"))
          .orderBy(col("score").desc, col("node").asc)
          .limit(limit)
        val rows = scored.collect()
        respond(ex, 200,
          s"[${rows.map(hitJson(_, withRrf = false)).mkString(",")}]")
    }
  }

  /** `GET /nornicdb/decay` (server_nornicdb.go:24-38): the decay
    * manager's configuration — the reference's defaults
    * (db.go:950-957: weights 0.4/0.3/0.3, threshold 0.05, hourly
    * recalc). Batch decay scoring itself is the q_fn_decay_score
    * surface.
    */
  private def decayInfo(ex: HttpExchange): Unit =
    respond(ex, 200,
      """{"enabled":true,"archiveThreshold":0.05,"interval":"1h0m0s","weights":{"recency":0.4,"frequency":0.3,"importance":0.3}}""")

  private def embeddedCount(): Long = store.embeddedNodeCount()

  /** Embed the nodes that lack a vector (regenerate=false) or every node
    * (regenerate=true) through the Embedder seam's distributed column
    * form — the same engine as the GraphQL triggerEmbedding mutation.
    * Returns (total, embedded-after).
    */
  private def embedMissing(regenerate: Boolean): (Long, Long) = {
    val g = store.snapshot
    val embedded = store.nodeEmbeddings.filter(col("name") === "embedding")
      .select(col("entity_id").as("id")).distinct()
    val targets =
      if (regenerate) g.nodes
      else g.nodes.join(embedded, Seq("id"), "left_anti")
    val emb = Embedder.current
    // the reference's auto-embed text: content/text/title/name/description
    // (ExtractEmbeddableText, auto_embed.go:365)
    val rows = targets
      .withColumn("embedding", emb.embedCol(spark,
        SearchCallProcs.embeddableTextCol(targets)))
      .select(col("id").as("entity_id"), lit("embedding").as("name"),
        col("embedding"))
    if (!rows.isEmpty) store.setNodeVectorProperties(rows)
    (store.nodeCount, embeddedCount())
  }

  /** `POST /nornicdb/embed/trigger[?regenerate=true]`
    * (server_nornicdb.go:43-125): regenerate clears + re-embeds in the
    * background and answers 202 immediately; the plain trigger runs
    * synchronously and reports stats.
    */
  private def embedTrigger(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405,
        """{"errors":[{"code":"Neo.ClientError.Request.Invalid","message":"POST required"}]}""")
      return
    }
    val regenerate = Option(ex.getRequestURI.getRawQuery)
      .exists(_.split('&').contains("regenerate=true"))
    if (regenerate) {
      // compare-and-set so two concurrent regenerations can't interleave
      // clearNodeEmbeddings + embedMissing (the reference reports
      // already_active instead, server_nornicdb.go:43-125)
      if (!regenFlag.compareAndSet(false, true)) {
        respond(ex, 202,
          """{"accepted":false,"regenerate":true,"already_active":true,"message":"Regeneration already in progress. Check /nornicdb/embed/stats for progress."}""")
        return
      }
      respond(ex, 202,
        """{"accepted":true,"regenerate":true,"message":"Regeneration started - clearing embeddings and regenerating in background. Check /nornicdb/embed/stats for progress."}""")
      regenError = None
      val t = new Thread(() => {
        try { store.clearNodeEmbeddings(); embedMissing(regenerate = true) }
        catch { case e: Exception =>
          // the 202 already went out — stats must surface the failure
          regenError = Some(Option(e.getMessage).getOrElse(e.toString))
        }
        finally regenFlag.set(false)
      }, "embed-regenerate")
      t.setDaemon(true)
      t.start()
    } else {
      val (total, embedded) = embedMissing(regenerate = false)
      respond(ex, 200,
        s"""{"triggered":true,"regenerate":false,"already_active":false,"message":"Embedding worker triggered - processing nodes in background","stats":{"processed":$embedded,"failed":0,"pending":${total - embedded},"running":false}}""")
    }
  }

  private val regenFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def regenRunning: Boolean = regenFlag.get()
  @volatile private var regenError: Option[String] = None

  /** `GET /nornicdb/embed/stats` (server_nornicdb.go:126-157): the
    * INSTALLED embedder's provider/model (the seam is pluggable —
    * hash-projection is only the default) plus background-regeneration
    * state, including a failure that happened after the 202 went out.
    */
  private def embedStats(ex: HttpExchange): Unit = {
    val total = embeddedCount()
    val e = Embedder.current
    val failed = if (regenError.isDefined) 1 else 0
    val errField = regenError.map(m => s""","last_error":${jstr(m)}""").getOrElse("")
    respond(ex, 200,
      s"""{"enabled":true,"stats":{"processed":$total,"failed":$failed,"running":$regenRunning$errField},"total_embeddings":$total,"configured_model":${jstr(e.model)},"configured_dimensions":${e.dim},"configured_provider":${jstr(e.provider)},"vector_index_dimensions":${e.dim}}""")
  }

  /** `POST|DELETE /nornicdb/embed/clear` (server_nornicdb.go:158-177) —
    * admin-only wholesale clear, reporting how many nodes lost vectors.
    */
  private def embedClear(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST" && ex.getRequestMethod != "DELETE") {
      respond(ex, 405,
        """{"errors":[{"code":"Neo.ClientError.Request.Invalid","message":"POST or DELETE required"}]}""")
      return
    }
    val cleared = store.clearNodeEmbeddings()
    respond(ex, 200,
      s"""{"success":true,"cleared":$cleared,"message":"Cleared embeddings from $cleared nodes - use /nornicdb/embed/trigger to regenerate"}""")
  }

  /** `POST /nornicdb/search/rebuild` (server_nornicdb.go:179-234). The
    * engine's indexes are thunks over the current snapshot — nothing is
    * stale — so this acknowledges like the reference does post-rebuild.
    */
  private def searchRebuild(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405,
        """{"errors":[{"code":"Neo.ClientError.Request.Invalid","message":"POST required"}]}""")
      return
    }
    val db = strField(body(ex), "database").filter(_.nonEmpty).getOrElse("neo4j")
    respond(ex, 200,
      s"""{"success":true,"database":${jstr(db)},"message":"Search indexes rebuilt for database '$db'"}""")
  }

  // ======================================================= /gdpr/* ======

  def handleGdpr(ex: HttpExchange): Unit =
    ex.getRequestURI.getPath match {
      case "/gdpr/export" => withAuth(ex, Permission.Read)(r => gdprExport(ex, r))
      case "/gdpr/delete" => withAuth(ex, Permission.Delete)(r => gdprDelete(ex, r))
      case other => err(ex, 404, s"not found: $other")
    }

  /** Non-admin JWT users may only touch their own data
    * (server_gdpr.go:31-35,79-83); token/static credentials carry no
    * subject and skip the check like the reference's nil claims.
    */
  private def selfOrAdmin(ex: HttpExchange, role: Role, userId: String,
      action: String): Boolean =
    ServerAuth.subjectOf(ex, rbac) match {
      case Some(sub) if sub != userId && !ServerAuth.can(role, Permission.Admin) =>
        err(ex, 403, s"can only $action own data"); false
      case _ => true
    }

  /** `POST /gdpr/export` (server_gdpr.go:14-55): Art. 20 export of every
    * owned node as a json or csv attachment.
    */
  private def gdprExport(ex: HttpExchange, role: Role): Unit = {
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST required"); return }
    val b = body(ex)
    val userId = strField(b, "user_id").getOrElse("")
    val format = strField(b, "format").getOrElse("json")
    if (!selfOrAdmin(ex, role, userId, "export")) return
    val rows = Privacy.exportUserData(store, userId)
      .orderBy("id").collect()
    def labelsOf(r: Row) =
      Option(r.getAs[scala.collection.Seq[String]]("labels"))
        .getOrElse(scala.collection.Seq.empty[String])
    def propsOf(r: Row) =
      Option(r.getAs[scala.collection.Map[String, String]]("properties"))
        .getOrElse(scala.collection.Map.empty[String, String])
    if (format == "csv") {
      def csv(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""
      val sb = new StringBuilder("id,labels,properties\n")
      rows.foreach { r =>
        sb.append(csv(r.getAs[String]("id"))).append(',')
          .append(csv(labelsOf(r).mkString(";"))).append(',')
          .append(csv(propsOf(r).toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString(";")))
          .append('\n')
      }
      ex.getResponseHeaders.set("Content-Disposition",
        "attachment; filename=user_data.csv")
      respond(ex, 200, sb.toString, "text/csv")
    } else {
      val items = rows.map { r =>
        s"""{"id":${jstr(r.getAs[String]("id"))},"labels":[${
          labelsOf(r).map(jstr).mkString(",")}],"properties":{${
          propsOf(r).toSeq.sortBy(_._1).map { case (k, v) =>
            s"${jstr(k)}:${jsonValue(v)}" }.mkString(",")}}}"""
      }
      ex.getResponseHeaders.set("Content-Disposition",
        "attachment; filename=user_data.json")
      respond(ex, 200, s"[${items.mkString(",")}]")
    }
  }

  /** `POST /gdpr/delete` (server_gdpr.go:56-120): Art. 17 — hard delete
    * or pseudonymization; explicit confirm required.
    */
  private def gdprDelete(ex: HttpExchange, role: Role): Unit = {
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST required"); return }
    val b = body(ex)
    val userId = strField(b, "user_id").getOrElse("")
    val anonymize = boolField(b, "anonymize").getOrElse(false)
    if (!boolField(b, "confirm").getOrElse(false)) {
      err(ex, 400, "confirmation required"); return
    }
    if (!selfOrAdmin(ex, role, userId, "delete")) return
    val action =
      if (anonymize) { Privacy.anonymizeUserData(store, userId); "anonymized" }
      else { Privacy.deleteUserData(store, userId); "deleted" }
    respond(ex, 200,
      s"""{"status":"$action","user_id":${jstr(userId)}}""")
  }

  // ====================================================== /admin/* ======

  def handleAdmin(ex: HttpExchange): Unit = withAuth(ex, Permission.Admin) { _ =>
    ex.getRequestURI.getPath match {
      case "/admin/stats" => adminStats(ex)
      case "/admin/config" => adminConfig(ex)
      case "/admin/backup" => adminBackup(ex)
      case "/admin/gpu/status" => gpuStatus(ex)
      case "/admin/gpu/enable" | "/admin/gpu/disable" | "/admin/gpu/test" =>
        gpuControl(ex)
      case other => err(ex, 404, s"not found: $other")
    }
  }

  /** `/admin/gpu/status|enable|disable|test` (server_gpu.go:14-61):
    * this engine's acceleration
    * layer is Tungsten whole-stage codegen, not a discrete GPU, so it
    * reports exactly what the reference reports with no GPU manager
    * initialized — status 200 available:false, control 503.
    */
  private def gpuStatus(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") { err(ex, 405, "GET required"); return }
    respond(ex, 200,
      """{"available":false,"enabled":false,"message":"GPU manager not initialized"}""")
  }

  private def gpuControl(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST required"); return }
    err(ex, 503, "GPU manager not initialized")
  }

  /** `GET /admin/stats` (server_admin.go:12-63): server counters +
    * per-database node/edge counts + process memory (the JVM analog of
    * the reference's runtime columns).
    */
  private def adminStats(ex: HttpExchange): Unit = {
    val (nodes, edges) = (store.nodeCount, store.edgeCount)
    val rt = Runtime.getRuntime
    val allocMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    respond(ex, 200,
      s"""{"server":{"uptime_seconds":$uptimeSecs,"requests":${requests.get},"errors":${errors.get},"active":${active.get}},"database":{"node_count":$nodes,"edge_count":$edges,"databases":1,"per_database":{"neo4j":{"node_count":$nodes,"edge_count":$edges}}},"memory":{"alloc_mb":$allocMb,"threads":${Thread.activeCount()}}}""")
  }

  /** `GET /admin/config` (server_admin.go:64-76) — safe config only. */
  private def adminConfig(ex: HttpExchange): Unit =
    respond(ex, 200,
      s"""{"address":"0.0.0.0","port":${advertisedHttpPort()},"cors_enabled":false,"compression":false,"tls_enabled":false}""")

  /** `POST /admin/backup` (server_admin.go:77-103): full snapshot commit
    * to the requested path via [[GraphStore.persist]] (partitioned
    * Parquet through the cluster writers).
    */
  private def adminBackup(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST required"); return }
    val path = strField(body(ex), "path").getOrElse("")
    if (path.isEmpty) { err(ex, 400, "invalid request body"); return }
    try {
      store.persist(path)
      respond(ex, 200,
        s"""{"status":"backup complete","path":${jstr(path)}}""")
    } catch {
      case e: Exception =>
        err(ex, 500, Option(e.getMessage).getOrElse(e.toString))
    }
  }

  // ============================================ auth self-service =======

  /** `/auth/{me,password,profile,logout,config}`
    * (server_auth.go:79-547 + router 67,116-119). Returns true when the
    * path belonged to this family (HttpTxServer falls through to its own
    * /auth handlers otherwise).
    */
  def handleAuthSelf(ex: HttpExchange): Boolean = {
    ex.getRequestURI.getPath match {
      case "/auth/config" => authConfig(ex); true
      case "/auth/logout" => authLogout(ex); true
      case "/auth/me" => withAuth(ex, Permission.Read)(_ => authMe(ex)); true
      case "/auth/password" =>
        withAuth(ex, Permission.Read)(_ => authPassword(ex)); true
      case "/auth/profile" =>
        withAuth(ex, Permission.Read)(_ => authProfile(ex)); true
      case "/auth/oauth/redirect" => oauthRedirect(ex); true
      case "/auth/oauth/callback" => oauthCallback(ex); true
      case _ => false
    }
  }

  /** `GET /auth/oauth/redirect` (server_auth.go:282-303): 302 to the
    * provider's authorize URL with a stored CSRF state; the reference's
    * nil-manager refusal when no issuer is configured.
    */
  private def oauthRedirect(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") { err(ex, 405, "method not allowed"); return }
    oauth match {
      case None => err(ex, 400, "OAuth not configured")
      case Some(o) =>
        val (_, url) = o.generateAuthUrl()
        ex.getResponseHeaders.set("Location", url)
        respond(ex, 302, "")
    }
  }

  /** `GET /auth/oauth/callback` (server_auth.go:307-366): code+state →
    * token exchange + userinfo + find-or-create account, then the
    * browser cookie and a redirect to the UI root.
    */
  private def oauthCallback(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") { err(ex, 405, "method not allowed"); return }
    val o = oauth.getOrElse { err(ex, 400, "OAuth not configured"); return }
    val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split('&').toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap
    params.get("error") match {
      case Some(e) =>
        err(ex, 400, s"OAuth error: $e - ${params.getOrElse("error_description", "")}")
        return
      case None => ()
    }
    val code = params.getOrElse("code", "")
    val state = params.getOrElse("state", "")
    if (code.isEmpty) { err(ex, 400, "missing authorization code"); return }
    if (state.isEmpty) { err(ex, 400, "missing state parameter"); return }
    o.handleCallback(code, state) match {
      case Left(msg) => err(ex, 400, msg)
      case Right((_, jwt)) =>
        ex.getResponseHeaders.add("Set-Cookie",
          s"nornicdb_token=$jwt; Path=/; HttpOnly; SameSite=Lax; Max-Age=${86400 * 7}")
        ex.getResponseHeaders.set("Location", "/")
        respond(ex, 302, "")
    }
  }

  /** `GET /auth/config` — unauthenticated UI bootstrap
    * (server_auth.go:215-254): no OAuth issuer is configured in this
    * engine, so the provider list is empty.
    */
  private def authConfig(ex: HttpExchange): Unit =
    respond(ex, 200,
      s"""{"devLoginEnabled":true,"securityEnabled":${authenticator.isDefined},"oauthProviders":[${
        if (oauth.isDefined) "\"oauth\"" else ""}]}""")

  /** `POST /auth/logout` (server_auth.go:79-97) — clears the browser
    * cookie credential source.
    */
  private def authLogout(ex: HttpExchange): Unit = {
    ex.getResponseHeaders.add("Set-Cookie",
      "nornicdb_token=; Path=/; HttpOnly; Max-Age=0")
    respond(ex, 200, """{"status":"logged out"}""")
  }

  private def rolesJson(roles: Seq[Role]): String =
    s"[${roles.map(r => jstr(r.name)).mkString(",")}]"

  /** `GET /auth/me` (server_auth.go:368-443). */
  private def authMe(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") { err(ex, 405, "method not allowed"); return }
    authenticator match {
      case None =>
        respond(ex, 200,
          """{"id":"anonymous","username":"anonymous","roles":["admin"],"enabled":true}""")
      case Some(auth) =>
        ServerAuth.subjectOf(ex, rbac) match {
          case None => err(ex, 401, "no user context")
          case Some(sub) => auth.getUser(sub) match {
            case None => err(ex, 404, "user not found")
            case Some(u) =>
              val meta = u.metadata.toSeq.sortBy(_._1)
                .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")
              val method = u.metadata.getOrElse("auth_method", "password")
              respond(ex, 200,
                s"""{"id":${jstr(u.username)},"username":${jstr(u.username)},"email":${jstr(u.email)},"roles":${rolesJson(u.roles)},"disabled":${u.disabled},"metadata":{$meta},"auth_method":${jstr(method)}}""")
          }
        }
    }
  }

  /** `POST /auth/password` (server_auth.go:444-497) — change own
    * password; wrong old password is 401.
    */
  private def authPassword(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST required"); return }
    val auth = authenticator.getOrElse {
      err(ex, 503, "authentication not configured"); return
    }
    ServerAuth.subjectOf(ex, rbac) match {
      case None => err(ex, 401, "not authenticated")
      case Some(sub) =>
        val b = body(ex)
        auth.changePassword(sub, strField(b, "old_password").getOrElse(""),
          strField(b, "new_password").getOrElse("")) match {
          case Right(_) => respond(ex, 200, """{"status":"password changed"}""")
          case Left(auth.InvalidCredentials) =>
            err(ex, 401, "old password incorrect")
          case Left(e) => err(ex, 400, e.message)
        }
    }
  }

  /** `PUT /auth/profile` (server_auth.go:499-547) — own email/metadata. */
  private def authProfile(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "PUT") { err(ex, 405, "PUT required"); return }
    val auth = authenticator.getOrElse {
      err(ex, 503, "authentication not configured"); return
    }
    ServerAuth.subjectOf(ex, rbac) match {
      case None => err(ex, 401, "not authenticated")
      case Some(sub) =>
        val b = body(ex)
        if (auth.updateProfile(sub, strField(b, "email"), mapField(b, "metadata")))
          respond(ex, 200, """{"status":"profile updated"}""")
        else err(ex, 404, "user not found")
    }
  }
}
