package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Embedder
import graft.graph.GraphStore
import graft.functions.JsonImpls.{quote => jstr}

/** Thin MCP (Model Context Protocol) endpoint — the memory-graph tool
  * surface (behavioral spec `/root/reference/pkg/mcp/server.go:41-42,
  * 167-196,281-343` and `tools.go:17-356`): JSON-RPC 2.0 over HTTP with
  * `initialize`, `tools/list`, and `tools/call`, plus the REST aliases
  * `/mcp/tools/list` and `/mcp/tools/call`.
  *
  * Tools implemented (the knowledge-graph core four):
  *   - `store(content, type, title, tags)` → node with a deterministic
  *     content-hash id; the content embeds through the pluggable
  *     [[Embedder]] seam into the store's named-embedding table
  *     (server.go:460-530; ids here are FNV-based, not wall-clock, so
  *     snapshot replay stays deterministic).
  *   - `recall(id | type, tags, limit)` → filtered node listing
  *     (server.go:532).
  *   - `discover(query, limit)` → cosine top-k over stored content
  *     embeddings (server.go:613).
  *   - `link(from, to, type)` → relationship (server.go:711).
  *
  * Tool-call results follow the MCP content shape
  * `{"content":[{"type":"text","text":<json>}], "isError":…}`
  * (server.go:395-405).
  *
  * Task tools (server.go:784-1022, tools.go:277-345):
  *   - `task(id?, title, description, status, priority, depends_on,
  *     assign, complete, delete)` — Task nodes with a status lifecycle.
  *     An id without a status auto-toggles pending→active→completed;
  *     `complete:true` is shorthand for status=completed; `delete:true`
  *     removes the task. `depends_on` creates DEPENDS_ON edges.
  *   - `tasks(status, priority, assigned_to, unblocked_only, limit)` —
  *     filtered listing + stats; `unblocked_only` excludes tasks with an
  *     incomplete dependency (the reference's NOT EXISTS over DEPENDS_ON,
  *     server.go:963-969 — here an anti-join, so it stays distributed).
  *
  * RBAC (mcp/auth.go:104-141): viewers may recall/discover/tasks; store/
  * link/task need write. A bare `token` is an admin credential.
  */
final class McpServer(store: GraphStore, port: Int = 0,
    token: Option[String] = None,
    rbac: Option[ServerAuth.Rbac] = None,
    isDevelopment: Boolean = true) {

  private val effectiveRbac: Option[ServerAuth.Rbac] =
    rbac.orElse(ServerAuth.Rbac.legacy(token))

  // lazy: when this instance is only mounted on another listener
  // (HttpTxServer's /mcp routes, server_router.go:178-201) no socket
  // binds here
  private lazy val server = HttpServer.create(new InetSocketAddress(port), 0)

  def boundPort: Int = server.getAddress.getPort

  /** Serve one exchange — the mount point for the main HTTP server's
    * `/mcp` routes (the reference registers MCP on port 7474 beside the
    * transaction API, server_router.go:178-201). Same per-tool RBAC.
    */
  def handleExchange(ex: HttpExchange): Unit = handle(ex)

  def start(): McpServer = {
    server.createContext("/mcp", (ex: HttpExchange) =>
      RequestValidation.guard(RequestValidation.JsonTypes, isDevelopment)(handle)(ex))
    server.setExecutor(null)
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)

  private def spark = store.snapshot.nodes.sparkSession

  val toolNames = Seq("store", "recall", "discover", "link", "task", "tasks")

  /** ToolPermissions (mcp/auth.go:133-141) folded onto the core roles:
    * mutating tools need write, listings read.
    */
  private val toolPerms: Map[String, ServerAuth.Permission] = Map(
    "store" -> ServerAuth.Permission.Write,
    "link" -> ServerAuth.Permission.Write,
    "task" -> ServerAuth.Permission.Write,
    "recall" -> ServerAuth.Permission.Read,
    "discover" -> ServerAuth.Permission.Read,
    "tasks" -> ServerAuth.Permission.Read)

  // ======================================================== dispatch =====

  private def handle(ex: HttpExchange): Unit = {
    try {
      val role = ServerAuth.roleOf(ex, effectiveRbac) match {
        case Some(r) => r
        case None =>
          respond(ex, 401,
            """{"jsonrpc":"2.0","id":null,"error":{"code":-32001,"message":"unauthorized: bearer token required"}}""")
          return
      }
      // the reference registers all /mcp endpoints behind
      // withAuth(PermRead) minimum (server_router.go:178-201): a
      // no-access credential must not even enumerate the tool catalog
      if (!ServerAuth.can(role, ServerAuth.Permission.Read)) {
        respond(ex, 403,
          """{"jsonrpc":"2.0","id":null,"error":{"code":-32002,"message":"forbidden: read permission required"}}""")
        return
      }
      def denied(name: String): Option[String] = {
        val needed = toolPerms.getOrElse(name, ServerAuth.Permission.Write)
        if (ServerAuth.can(role, needed)) None
        else Some(s"forbidden: $name requires ${needed.name} permission")
      }
      val path = ex.getRequestURI.getPath
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      path match {
        case "/mcp/tools/list" =>
          respond(ex, 200, toolsJson)
        case "/mcp/tools/call" =>
          // REST alias: {"name": ..., "arguments": {...}}
          val name = strField(body, "name").getOrElse("")
          denied(name) match {
            case Some(msg) => respond(ex, 403, s"""{"error":${jstr(msg)}}""")
            case None => respond(ex, 200, callTool(name, body))
          }
        case _ => // JSON-RPC 2.0
          val id = rawField(body, "id").getOrElse("null")
          strField(body, "method") match {
            case Some("initialize") =>
              respond(ex, 200, rpcResult(id,
                s"""{"protocolVersion":"2024-11-05","serverInfo":{"name":"graft","version":"0.7"},"capabilities":{"tools":{}}}"""))
            case Some("tools/list") =>
              respond(ex, 200, rpcResult(id, toolsJson))
            case Some("tools/call") =>
              val name = strField(body, "name").getOrElse("")
              denied(name) match {
                case Some(msg) => respond(ex, 403,
                  s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32002,"message":${jstr(msg)}}}""")
                case None => respond(ex, 200, rpcResult(id, callTool(name, body)))
              }
            case Some(other) =>
              respond(ex, 200,
                s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32601,"message":${jstr(s"unknown method $other")}}}""")
            case None =>
              respond(ex, 400,
                s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32700,"message":"parse error"}}""")
          }
      }
    } catch {
      case e: Exception =>
        respond(ex, 400, s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.toString))}}""")
    }
  }

  private def rpcResult(id: String, result: String): String =
    s"""{"jsonrpc":"2.0","id":$id,"result":$result}"""

  private def toolsJson: String = {
    val tools = Seq(
      ("store", "Store knowledge as a graph node; content embeds for semantic search.",
        """{"type":"object","properties":{"content":{"type":"string"},"type":{"type":"string","default":"memory"},"title":{"type":"string"},"tags":{"type":"array","items":{"type":"string"}}},"required":["content"]}"""),
      ("recall", "Retrieve nodes by id or filter by type/tags.",
        """{"type":"object","properties":{"id":{"type":"string"},"type":{"type":"array","items":{"type":"string"}},"tags":{"type":"array","items":{"type":"string"}},"limit":{"type":"integer","default":10}}}"""),
      ("discover", "Semantic similarity search over stored content.",
        """{"type":"object","properties":{"query":{"type":"string"},"limit":{"type":"integer","default":10}},"required":["query"]}"""),
      ("link", "Create a relationship between two stored nodes.",
        """{"type":"object","properties":{"from":{"type":"string"},"to":{"type":"string"},"type":{"type":"string","default":"RELATES_TO"}},"required":["from","to"]}"""),
      ("task", "Create or manage a task (status lifecycle pending/active/completed/blocked; auto-toggle, complete and delete shorthands).",
        """{"type":"object","properties":{"id":{"type":"string"},"title":{"type":"string"},"description":{"type":"string"},"status":{"type":"string","enum":["pending","active","done","completed","blocked"]},"priority":{"type":"string","enum":["low","medium","high","critical"],"default":"medium"},"depends_on":{"type":"array","items":{"type":"string"}},"assign":{"type":"string"},"complete":{"type":"boolean"},"delete":{"type":"boolean"}},"required":[]}"""),
      ("tasks", "List or query tasks with filtering (status/priority/assignee, unblocked_only) plus stats.",
        """{"type":"object","properties":{"status":{"type":"array","items":{"type":"string"}},"priority":{"type":"array","items":{"type":"string"}},"assigned_to":{"type":"string"},"unblocked_only":{"type":"boolean","default":false},"limit":{"type":"integer","default":20,"minimum":1,"maximum":100}},"required":[]}"""))
    val objs = tools.map { case (n, d, schema) =>
      s"""{"name":"$n","description":${jstr(d)},"inputSchema":$schema}"""
    }
    s"""{"tools":[${objs.mkString(",")}]}"""
  }

  private def callTool(name: String, body: String): String =
    try graft.cypher.QueryGuard.guarded("neo4j",
        toolPerms.get(name).contains(ServerAuth.Permission.Write)) {
      val json = name match {
        case "store" => storeTool(body)
        case "recall" => recallTool(body)
        case "discover" => discoverTool(body)
        case "link" => linkTool(body)
        case "task" => taskTool(body)
        case "tasks" => tasksTool(body)
        case other => throw new IllegalArgumentException(s"unknown tool $other")
      }
      s"""{"content":[{"type":"text","text":${jstr(json)}}],"isError":false}"""
    } catch {
      case e: Exception =>
        s"""{"content":[{"type":"text","text":${jstr(
          Option(e.getMessage).getOrElse(e.toString))}}],"isError":true}"""
    }

  // ========================================================== tools ======

  private def nodeSchema: StructType = store.snapshot.nodes.schema

  private def storeTool(body: String): String = {
    val content = strField(body, "content").getOrElse(
      throw new IllegalArgumentException("content is required"))
    val nodeType = strField(body, "type").getOrElse("memory").capitalize
    val title = strField(body, "title").getOrElse(content.take(100))
    val tags = strArray(body, "tags")
    // deterministic content-hash id (no wall-clock — replay-safe)
    val key = PackStream.hashStringToInt64(content)
    val id = s"$nodeType:$key"
    val props = Map("key" -> key.toString, "title" -> title,
      "content" -> content) ++
      (if (tags.nonEmpty) Map("tags" -> tags.mkString(",")) else Map.empty)
    val base: Map[String, Any] = Map("id" -> id, "labels" -> Seq(nodeType),
      "properties" -> props)
    val row = Row.fromSeq(nodeSchema.fields.toSeq.map { f =>
      base.get(f.name).getOrElse(f.name match {
        case "key" => key
        case "name" => title
        case _ => null
      })
    })
    store.createNodes(spark.createDataFrame(
      java.util.Collections.singletonList(row), nodeSchema))
    val emb = Embedder.current.embed(content)
    store.setNodeVectorProperties(spark.createDataFrame(
      java.util.Collections.singletonList(Row(id, "content",
        emb.toArray.toSeq)),
      StructType(Seq(StructField("entity_id", StringType),
        StructField("name", StringType),
        StructField("embedding", ArrayType(DoubleType))))))
    s"""{"id":"$id","title":${jstr(title)},"embedded":true}"""
  }

  private def recallTool(body: String): String = {
    val limit = intField(body, "limit").getOrElse(10)
    val nodes = store.snapshot.nodes
    val byId = strField(body, "id")
    val types = strArray(body, "type")
    val tags = strArray(body, "tags")
    var df = nodes
    byId.foreach(i => df = df.filter(col("id") === i))
    if (types.nonEmpty)
      df = df.filter(types.map(t => array_contains(col("labels"), t.capitalize))
        .reduce(_ || _))
    // ALL specified tags must be present (server.go recall contract)
    tags.foreach { t =>
      df = df.filter(array_contains(
        split(coalesce(element_at(col("properties"), "tags"), lit("")), ","), t))
    }
    val rows = df.select(col("id"),
        coalesce(element_at(col("properties"), "title"), col("name")).as("title"))
      .orderBy("id").limit(limit).collect()
    s"""{"nodes":[${rows.map(r =>
      s"""{"id":${jstr(r.getString(0))},"title":${jstr(
        Option(r.getString(1)).getOrElse(""))}}""").mkString(",")}],"count":${rows.length}}"""
  }

  private def discoverTool(body: String): String = {
    val query = strField(body, "query").getOrElse(
      throw new IllegalArgumentException("query is required"))
    val limit = intField(body, "limit").getOrElse(10)
    val qv = Embedder.current.embed(query)
    val qe = array(qv.map(lit): _*)
    val rows = store.nodeEmbeddings.filter(col("name") === "content")
      .withColumn("score",
        aggregate(zip_with(col("embedding"), qe, (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x))
      .orderBy(col("score").desc, col("entity_id").asc)
      .limit(limit)
      .select("entity_id", "score").collect()
    s"""{"matches":[${rows.map(r =>
      s"""{"id":${jstr(r.getString(0))},"score":${r.getDouble(1)}}""").mkString(",")}]}"""
  }

  private def linkTool(body: String): String = {
    val from = strField(body, "from").getOrElse(
      throw new IllegalArgumentException("from is required"))
    val to = strField(body, "to").getOrElse(
      throw new IllegalArgumentException("to is required"))
    val relType = strField(body, "type").getOrElse("RELATES_TO")
    val es = store.snapshot.edges.schema
    val base: Map[String, Any] = Map(
      "id" -> s"$relType|$from|$to", "src" -> from, "dst" -> to,
      "rel_type" -> relType, "weight" -> 1.0,
      "properties" -> Map.empty[String, String])
    val row = Row.fromSeq(es.fields.toSeq.map(f => base.get(f.name).orNull))
    store.createEdges(spark.createDataFrame(
      java.util.Collections.singletonList(row), es))
    s"""{"from":"$from","to":"$to","type":"$relType","created":true}"""
  }

  /** `task` (server.go:784-923): create / update / auto-toggle / complete
    * / delete a Task node. Ids are title-hash deterministic (no
    * wall-clock), statuses canonicalize "done"→"completed" (the handler's
    * stored form, server.go:811).
    */
  private def taskTool(body: String): String = {
    val id = strField(body, "id")
    val title = strField(body, "title")
    val description = strField(body, "description")
    val status0 = strField(body, "status").map(canonStatus)
    val priority = strField(body, "priority")
    val assign = strField(body, "assign")
    val dependsOn = strArray(body, "depends_on")
    val complete = boolField(body, "complete").getOrElse(false)
    val del = boolField(body, "delete").getOrElse(false)

    id match {
      case Some(tid) =>
        val existing = store.snapshot.nodes.filter(col("id") === tid)
        val row = existing.select(col("id"),
          element_at(col("properties"), "status").as("status")).limit(1).collect()
        require(row.nonEmpty, s"task not found: $tid")
        if (del) {
          store.deleteNodes(existing.select("id"), detach = true)
          s"""{"id":${jstr(tid)},"deleted":true}"""
        } else {
          val current = Option(row.head.getString(1)).getOrElse("pending")
          // auto-toggle when no explicit status: pending→active→completed
          val newStatus =
            if (complete) Some("completed")
            else status0.orElse(current match {
              case "pending" | "" => Some("active")
              case "active" => Some("completed")
              case _ => None
            })
          val ids = existing.select("id")
          newStatus.foreach(s => store.setNodeProperty(ids, "status", lit(s)))
          title.foreach(t => store.setNodeProperty(ids, "title", lit(t)))
          description.foreach(d =>
            store.setNodeProperty(ids, "description", lit(d)))
          priority.foreach(p => store.setNodeProperty(ids, "priority", lit(p)))
          assign.foreach(a => store.setNodeProperty(ids, "assigned_to", lit(a)))
          s"""{"task":{"id":${jstr(tid)},"status":${jstr(
            newStatus.getOrElse(current))}}}"""
        }
      case None =>
        val t = title.getOrElse(
          throw new IllegalArgumentException("title is required for new tasks"))
        val st = if (complete) "completed" else status0.getOrElse("pending")
        val pr = priority.getOrElse("medium")
        val key = PackStream.hashStringToInt64(t)
        val tid = s"Task:$key"
        val props = Map("key" -> key.toString, "title" -> t, "status" -> st,
          "priority" -> pr) ++
          description.map("description" -> _) ++ assign.map("assigned_to" -> _)
        val base: Map[String, Any] = Map("id" -> tid,
          "labels" -> Seq("Task"), "properties" -> props)
        val row = Row.fromSeq(nodeSchema.fields.toSeq.map { f =>
          base.get(f.name).getOrElse(f.name match {
            case "key" => key
            case "name" => t
            case _ => null
          })
        })
        store.createNodes(spark.createDataFrame(
          java.util.Collections.singletonList(row), nodeSchema))
        if (dependsOn.nonEmpty) {
          val es = store.snapshot.edges.schema
          val rows = dependsOn.map { dep =>
            val b: Map[String, Any] = Map(
              "id" -> s"DEPENDS_ON|$tid|$dep", "src" -> tid, "dst" -> dep,
              "rel_type" -> "DEPENDS_ON", "weight" -> 1.0,
              "properties" -> Map.empty[String, String])
            Row.fromSeq(es.fields.toSeq.map(f => b.get(f.name).orNull))
          }
          import scala.jdk.CollectionConverters._
          store.createEdges(spark.createDataFrame(rows.asJava, es))
        }
        s"""{"task":{"id":${jstr(tid)},"title":${jstr(t)},"status":${jstr(
          st)},"priority":${jstr(pr)}},"next_action":"Task created. Consider adding dependencies or subtasks."}"""
    }
  }

  /** `tasks` (server.go:925-1022): filtered listing + stats. The
    * unblocked filter is an anti-join against DEPENDS_ON edges whose
    * target isn't completed — the distributed form of the reference's
    * NOT EXISTS subquery (server.go:963-969).
    */
  private def tasksTool(body: String): String = {
    val statuses = strArray(body, "status").map(canonStatus)
    val priorities = strArray(body, "priority")
    val assigned = strField(body, "assigned_to")
    val unblockedOnly = boolField(body, "unblocked_only").getOrElse(false)
    val limit = intField(body, "limit").getOrElse(20)
    val all = store.snapshot.nodes
      .filter(array_contains(col("labels"), "Task"))
      .select(col("id"),
        coalesce(element_at(col("properties"), "title"), col("name")).as("title"),
        coalesce(element_at(col("properties"), "status"), lit("pending")).as("status"),
        coalesce(element_at(col("properties"), "priority"), lit("medium")).as("priority"),
        element_at(col("properties"), "assigned_to").as("assigned_to"))
    var df = all
    if (statuses.nonEmpty) df = df.filter(col("status").isin(statuses: _*))
    if (priorities.nonEmpty) df = df.filter(col("priority").isin(priorities: _*))
    assigned.foreach(a => df = df.filter(col("assigned_to") === a))
    if (unblockedOnly)
      df = df.join(graft.operators.TaskOps.blockedIds(
        all.select("id", "status"),
        store.snapshot.edges.filter(col("rel_type") === "DEPENDS_ON")
          .select("src", "dst")), Seq("id"), "left_anti")
    val prioRank = when(col("priority") === "critical", 0)
      .when(col("priority") === "high", 1)
      .when(col("priority") === "medium", 2).otherwise(3)
    val rows = df.orderBy(prioRank.asc, col("id").asc).limit(limit).collect()
    val byStatus = all.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byPriority = all.groupBy("priority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def statObj(m: Map[String, Long], keys: Seq[String]): String =
      s"{${keys.map(k => s""""$k":${m.getOrElse(k, 0L)}""").mkString(",")}}"
    val taskArr = rows.map { r =>
      s"""{"id":${jstr(r.getString(0))},"title":${jstr(
        Option(r.getString(1)).getOrElse(""))},"status":${jstr(
        r.getString(2))},"priority":${jstr(r.getString(3))},"assigned_to":${
        Option(r.getString(4)).map(jstr).getOrElse("null")}}"""
    }.mkString(",")
    s"""{"tasks":[$taskArr],"stats":{"total":${byStatus.values.sum},"by_status":${
      statObj(byStatus, Seq("pending", "active", "completed", "blocked"))},"by_priority":${
      statObj(byPriority, Seq("critical", "high", "medium", "low"))}}}"""
  }

  private def canonStatus(s: String): String =
    if (s == "done") "completed" else s

  // ================================================== tiny JSON lite =====

  private def strField(body: String, key: String): Option[String] =
    ServerAuth.strField(body, key)

  private def rawField(body: String, key: String): Option[String] =
    ("\"" + key + "\"\\s*:\\s*([0-9]+|\"[^\"]*\"|null)").r
      .findFirstMatchIn(body).map(_.group(1))

  private def intField(body: String, key: String): Option[Int] =
    ("\"" + key + "\"\\s*:\\s*(-?[0-9]+)").r
      .findFirstMatchIn(body).map(_.group(1).toInt)

  private def boolField(body: String, key: String): Option[Boolean] =
    ("\"" + key + "\"\\s*:\\s*(true|false)").r
      .findFirstMatchIn(body).map(_.group(1).toBoolean)

  private def strArray(body: String, key: String): Seq[String] =
    ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
      .findFirstMatchIn(body).map(_.group(1)).toSeq
      .flatMap(inner => "\"((?:[^\"\\\\]|\\\\.)*)\"".r
        .findAllMatchIn(inner).map(_.group(1)))

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}
