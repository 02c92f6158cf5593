package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.cypher.{Cypher, CypherWrite}
import graft.graph.GraphStore
import graft.functions.JsonImpls.{quote => jstr}

/** Thin Neo4j HTTP transaction-API endpoint — the implicit-transaction
  * route a stock HTTP client uses (behavioral spec
  * `/root/reference/pkg/server/server_db.go:24,393,757`):
  *
  *   POST /db/{dbName}/tx/commit
  *   body: {"statements":[{"statement":"...", "parameters":{...}}]}
  *   → {"results":[{"columns":[…],"data":[{"row":[…]}…]}],"errors":[…]}
  *
  * Neo4j status semantics: statement errors come back 200 OK with the
  * error in the body (`server_db.go:796-800`); only malformed requests
  * get a 4xx. Statements containing write clauses route through
  * [[CypherWrite]] against the store (statement-autocommit, like the
  * Bolt loop); reads run against the current snapshot. Queries execute
  * on Spark — the endpoint only assembles the bounded JSON envelope
  * (ResultJson's contract). JDK built-in HttpServer: zero dependencies.
  */
final class HttpTxServer(store: GraphStore, port: Int = 0,
    maxRows: Int = 10000, token: Option[String] = None,
    rbac: Option[ServerAuth.Rbac] = None,
    authenticator: Option[Authenticator] = None,
    oauth: Option[OAuthClient] = None,
    tls: Option[javax.net.ssl.SSLContext] = None,
    isDevelopment: Boolean = true) {

  /** Per-statement RBAC: write statements need `write`
    * (server_db.go:654-663 → Neo.ClientError.Security.Forbidden in the
    * body). A bare `token` is an admin credential.
    */
  private val effectiveRbac: Option[ServerAuth.Rbac] =
    rbac.orElse(ServerAuth.Rbac.legacy(token))

  // with TLS material this is the HTTPS listener (the reference's
  // server.https config, nornicdb.example.yaml; same mux either way)
  private val server = tls match {
    case Some(ctx) =>
      val s = com.sun.net.httpserver.HttpsServer.create(
        new InetSocketAddress(port), 0)
      s.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(ctx))
      s
    case None => HttpServer.create(new InetSocketAddress(port), 0)
  }

  def boundPort: Int = server.getAddress.getPort

  /** The plain-REST surface sharing this listener (discovery, health,
    * status/metrics, the native /nornicdb API, GDPR, admin, auth
    * self-service) — one implementation, same RBAC.
    */
  val rest = new RestApi(store, effectiveRbac, authenticator,
    advertisedHttpPort = () => boundPort, oauth = oauth,
    isDevelopment = isDevelopment)

  /** MCP served beside the transaction API, same port, same RBAC
    * (server_router.go:178-201) — the delegate never binds its own
    * socket.
    */
  private val mcpDelegate = new McpServer(store, rbac = effectiveRbac,
    isDevelopment = isDevelopment)

  /** Extra contexts mounted before start() — the server entrypoint adds
    * /graphql here so the whole HTTP surface shares one port, like the
    * reference's single mux (server_router.go:27). Mounted handlers may
    * hold long-lived SSE streams, so their presence switches the listener
    * from accept-thread dispatch to a real worker pool.
    */
  private val extraContexts =
    scala.collection.mutable.Buffer.empty[(String, HttpExchange => Unit)]
  def mount(path: String)(h: HttpExchange => Unit): HttpTxServer = {
    extraContexts += ((path, h)); this
  }

  def start(): HttpTxServer = {
    extraContexts.foreach { case (p, h) =>
      server.createContext(p, rest.counted((ex: HttpExchange) => h(ex)))
    }
    server.createContext("/db", rest.counted((ex: HttpExchange) => handle(ex)))
    server.createContext("/auth",
      rest.counted((ex: HttpExchange) => handleAuth(ex)))
    // reference route table, server_router.go:100-170 — "/" is the JDK
    // longest-prefix fallback, so unknown paths 404 through discovery
    server.createContext("/", rest.counted(rest.handleDiscovery))
    server.createContext("/health", rest.counted(rest.handleHealth))
    server.createContext("/status", rest.counted(rest.handleStatus))
    server.createContext("/metrics", rest.counted(rest.handleMetrics))
    server.createContext("/nornicdb", rest.counted(rest.handleNornicdb))
    server.createContext("/gdpr", rest.counted(rest.handleGdpr))
    server.createContext("/admin", rest.counted(rest.handleAdmin))
    server.createContext("/mcp", rest.counted { ex =>
      if (ex.getRequestURI.getPath == "/mcp/health") rest.handleHealth(ex)
      else mcpDelegate.handleExchange(ex) // per-tool RBAC inside
    })
    if (extraContexts.nonEmpty)
      server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
        (r: Runnable) => {
          val t = new Thread(r, "http-worker"); t.setDaemon(true); t
        }))
    else
      server.setExecutor(null) // accept-thread dispatch; queries run on Spark
    server.start()
    this
  }

  /** POST /auth/token — the OAuth 2.0 password grant
    * (server_auth.go:19-77): JSON {username, password, grant_type} →
    * {access_token, token_type, expires_in}. Locked accounts get 429,
    * bad credentials 401, other grant types 400; without a configured
    * authenticator the endpoint is 503 (authentication not configured).
    */
  private def handleAuth(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath
      if (rest.handleAuthSelf(ex)) return // me/password/profile/logout/config
      if (path == "/auth/users" || path.startsWith("/auth/users/")) {
        handleUsers(ex, path)
        return
      }
      if (path == "/auth/api-token") { handleApiToken(ex); return }
      if (ex.getRequestMethod != "POST" || path != "/auth/token") {
        respond(ex, 404, """{"error":"only POST /auth/token is served"}""")
        return
      }
      authenticator match {
        case None =>
          respond(ex, 503, """{"error":"authentication not configured"}""")
        case Some(auth) =>
          val body = new String(ex.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8)
          def field(k: String): Option[String] = ServerAuth.strField(body, k)
          val grant = field("grant_type")
          if (grant.exists(_ != "password")) {
            respond(ex, 400, """{"error":"unsupported grant_type"}""")
            return
          }
          auth.authenticate(field("username").getOrElse(""),
            field("password").getOrElse("")) match {
            case Right(t) =>
              respond(ex, 200,
                s"""{"access_token":${jstr(t.accessToken)},"token_type":"${t.tokenType}","expires_in":${t.expiresIn}}""")
            case Left(auth.AccountLocked) =>
              respond(ex, 429, s"""{"error":${jstr(auth.AccountLocked.message)}}""")
            case Left(e) =>
              respond(ex, 401, s"""{"error":${jstr(e.message)}}""")
          }
      }
    } catch {
      case e: Exception =>
        respond(ex, 400, s"""{"error":${jstr(
          Option(e.getMessage).getOrElse(e.toString))}}""")
    }
  }

  def stop(): Unit = server.stop(0)

  /** Route `/db/{dbName}/...` like the reference's
    * handleDatabaseEndpoint (server_db.go:29-59,382-428):
    *
    *   GET  /db/{db}             → database info
    *   GET  /db/{db}/cluster     → cluster status (standalone)
    *   POST /db/{db}/tx          → open explicit transaction (201)
    *   POST /db/{db}/tx/commit   → implicit transaction
    *   POST /db/{db}/tx/{id}     → execute in open transaction
    *   POST /db/{db}/tx/{id}/commit → commit (+ final statements)
    *   DELETE /db/{db}/tx/{id}   → rollback (acknowledge)
    *
    * The reference's explicit-transaction model is simplified: every
    * statement executes immediately (no deferred commit,
    * server_db.go:1065-1082), so open/execute/commit share the implicit
    * executor and rollback just acknowledges — this endpoint mirrors
    * that contract exactly so stock Neo4j HTTP-API clients complete
    * their begin/run/commit dance.
    */
  private def handle(ex: HttpExchange): Unit = {
    try {
      val role = ServerAuth.roleOf(ex, effectiveRbac) match {
        case Some(r) => r
        case None =>
          respond(ex, 401,
            """{"results":[],"errors":[{"code":"Neo.ClientError.Security.Unauthorized","message":"bearer token required"}]}""")
          return
      }
      // the reference registers /db/ behind withAuth(PermRead)
      // (server_router.go:100-170): a credential that authenticates but
      // resolves to no-access must not read Cypher or database counts
      if (!ServerAuth.can(role, ServerAuth.Permission.Read)) {
        neo4jError(ex, 403, "Neo.ClientError.Security.Forbidden",
          "Read permission required")
        return
      }
      val path = ex.getRequestURI.getPath
      // the JDK context is a raw string prefix: "/database" or bare
      // "/db" also land here — only real /db/{name}/… paths are served
      if (!path.startsWith("/db/")) {
        neo4jError(ex, if (path == "/db") 400 else 404,
          "Neo.ClientError.Request.Invalid",
          if (path == "/db") "database name required" else "not found")
        return
      }
      val parts = path.stripPrefix("/db/").split("/").toSeq.filter(_.nonEmpty)
      if (parts.isEmpty) {
        neo4jError(ex, 400, "Neo.ClientError.Request.Invalid",
          "database name required")
        return
      }
      val dbName = parts.head
      val method = ex.getRequestMethod
      (parts.tail, method) match {
        case (Seq(), "GET") => databaseInfo(ex, dbName)
        case (Seq("cluster"), "GET") =>
          respond(ex, 200,
            s"""{"mode":"standalone","database":${jstr(dbName)},"status":"online"}""")
        case (Seq("tx"), "POST") => // open explicit tx (server_db.go:1084)
          val txId = System.nanoTime().toString
          val (results, errors) = runStatements(ex, role, dbName)
          val expires = java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME
            .format(java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
              .plusSeconds(30))
          respond(ex, 201,
            s"""{"results":[$results],"errors":[$errors],"commit":"http://localhost:$boundPort/db/$dbName/tx/$txId/commit","transaction":{"expires":${jstr(expires)}}}""")
        case (Seq("tx", "commit"), "POST") => // implicit tx
          val (results, errors) = runStatements(ex, role, dbName)
          respond(ex, 200, s"""{"results":[$results],"errors":[$errors]}""")
        case (Seq("tx", _), "POST") => // execute in open tx = immediate
          val (results, errors) = runStatements(ex, role, dbName)
          respond(ex, 200, s"""{"results":[$results],"errors":[$errors]}""")
        case (Seq("tx", _), "DELETE") => // rollback: acknowledge
          respond(ex, 200, """{"results":[],"errors":[]}""")
        case (Seq("tx", _, "commit"), "POST") => // commit + final statements
          val (results, errors) = runStatements(ex, role, dbName)
          respond(ex, 200,
            s"""{"results":[$results],"errors":[$errors],"lastBookmarks":["FB:nornicdb:${System.nanoTime()}"]}""")
        case (Seq("tx"), _) | (Seq("tx", "commit"), _) | (Seq("tx", _, "commit"), _) =>
          neo4jError(ex, 405, "Neo.ClientError.Request.Invalid", "POST required")
        case _ =>
          neo4jError(ex, 404, "Neo.ClientError.Request.Invalid",
            "unknown endpoint")
      }
    } catch {
      case e: Exception =>
        respond(ex, 400,
          s"""{"results":[],"errors":[{"code":"Neo.ClientError.Request.InvalidFormat","message":${jstr(
            Option(e.getMessage).getOrElse(e.toString))}}]}""")
    }
  }

  private def neo4jError(ex: HttpExchange, status: Int, code: String,
      message: String): Unit =
    respond(ex, status,
      s"""{"results":[],"errors":[{"code":"$code","message":${jstr(message)}}]}""")

  /** `GET /db/{db}` — name/status/default + counts
    * (server_db.go:326-369). This server fronts one store, so any
    * requested name reflects it; `neo4j` is the default database.
    */
  private def databaseInfo(ex: HttpExchange, dbName: String): Unit = {
    val g = store.snapshot
    respond(ex, 200,
      s"""{"name":${jstr(dbName)},"status":"online","default":${dbName == "neo4j"},"nodeCount":${g.nodes.count()},"edgeCount":${g.edges.count()}}""")
  }

  /** Parse the request body and execute each statement under the
    * caller's role — the shared executor behind the implicit and
    * explicit transaction routes. Returns (results, errors) JSON
    * fragments.
    */
  private def runStatements(ex: HttpExchange, role: ServerAuth.Role,
      dbName: String): (String, String) = {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val statements = parseStatements(body)
      val results = new StringBuilder
      val errors = new StringBuilder
      statements.foreach { case (stmt, params, includeStats) =>
        try {
          // literal-safe write sniff (shared with the Bolt loop); schema
          // DDL is admin-territory (PermSchema — editors hold only
          // read/write/create/delete, auth.go:183-188)
          val isWrite = BoltServer.isWriteStatement(stmt)
          val isDdl = HttpTxServer.ddlRe.pattern.matcher(stmt).matches()
          val missing =
            if (isDdl && !ServerAuth.can(role, ServerAuth.Permission.Schema))
              Some("Schema permission required")
            else if (isWrite && !ServerAuth.can(role, ServerAuth.Permission.Write))
              Some("Write permission required")
            else if (!ServerAuth.can(role, ServerAuth.Permission.Read))
              Some("Read permission required")
            else None
          if (missing.isDefined) {
            if (errors.nonEmpty) errors.append(",")
            errors.append(s"""{"code":"Neo.ClientError.Security.Forbidden","message":"${missing.get}"}""")
          } else {
            graft.cypher.QueryGuard.guarded(dbName, isWrite) {
              val df =
                if (isWrite)
                  CypherWrite.execute(store, stmt, params).returned
                    .getOrElse(store.snapshot.nodes.sparkSession.emptyDataFrame)
                else Cypher.run(store.snapshot, stmt, params)
              if (results.nonEmpty) results.append(",")
              results.append(ResultJson.resultObjectNeo4j(df, maxRows,
                stats = if (includeStats) Some(isWrite) else None))
            }
          }
        } catch {
          case e: graft.cypher.QueryGuard.LimitExceeded =>
            if (errors.nonEmpty) errors.append(",")
            errors.append(s"""{"code":"Neo.TransientError.General.ResourceExhausted","message":${jstr(
              Option(e.getMessage).getOrElse("query limit exceeded"))}}""")
          case e: Exception =>
            if (errors.nonEmpty) errors.append(",")
            errors.append(s"""{"code":"Neo.ClientError.Statement.SyntaxError","message":${jstr(
              Option(e.getMessage).getOrElse(e.toString))}}""")
        }
      }
      (results.toString, errors.toString)
  }

  /** POST /auth/api-token (server_auth.go:98-200): admin-only mint of a
    * stateless API token for machine clients (MCP servers). The token is
    * a signature-validated JWT carrying the requested subject and the
    * caller's role — never stored. `expires_in` accepts Nh/Nm/Nd or
    * "0"/"never" (days get the reference's special d-suffix handling).
    */
  private def handleApiToken(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405, """{"error":"POST required"}""")
      return
    }
    val auth = authenticator.getOrElse {
      respond(ex, 503, """{"error":"authentication not configured"}""")
      return
    }
    val role = ServerAuth.roleOf(ex, effectiveRbac).getOrElse {
      respond(ex, 401, """{"error":"not authenticated"}""")
      return
    }
    if (role != ServerAuth.Role.Admin) {
      respond(ex, 403, """{"error":"admin role required to generate API tokens"}""")
      return
    }
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    def field(k: String): Option[String] = ServerAuth.strField(body, k)
    val subject = field("subject").filter(_.nonEmpty).getOrElse("api-token")
    val expSecs: Either[String, Long] =
      field("expires_in").filter(e => e.nonEmpty && e != "0" && e != "never")
        .map {
          case s if s.matches("\\d+d") => Right(s.dropRight(1).toLong * 86400)
          case s if s.matches("\\d+h") => Right(s.dropRight(1).toLong * 3600)
          case s if s.matches("\\d+m") => Right(s.dropRight(1).toLong * 60)
          case s if s.matches("\\d+s") => Right(s.dropRight(1).toLong)
          case _ => Left("invalid expires_in format (use: 1h, 24h, 7d, 365d, 0 for never)")
        }.getOrElse(Right(0L))
    expSecs match {
      case Left(msg) => respond(ex, 400, s"""{"error":${jstr(msg)}}""")
      case Right(secs) =>
        val exp = if (secs > 0) System.currentTimeMillis() / 1000 + secs else 0L
        val token = auth.mintApiToken(subject, Seq(role), exp)
        respond(ex, 200,
          s"""{"token":${jstr(token)},"subject":${jstr(subject)},"token_type":"Bearer"}""")
    }
  }

  /** /auth/users CRUD (server_auth.go:549-645), gated on the
    * `user_manage` permission (admin role only — router line 127):
    * GET list, POST create {username, password, roles}, GET/PUT/DELETE
    * per user (PUT updates roles and/or disabled).
    */
  private def handleUsers(ex: HttpExchange, path: String): Unit = {
    val auth = authenticator.getOrElse {
      respond(ex, 503, """{"error":"authentication not configured"}""")
      return
    }
    val role = ServerAuth.roleOf(ex, effectiveRbac).getOrElse {
      respond(ex, 401, """{"error":"unauthorized"}""")
      return
    }
    if (!ServerAuth.can(role, ServerAuth.Permission.UserManage)) {
      respond(ex, 403, """{"error":"user_manage permission required"}""")
      return
    }
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    def field(k: String): Option[String] = ServerAuth.strField(body, k)
    def rolesField: Seq[ServerAuth.Role] =
      """"roles"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(body).toSeq
        .flatMap(m => "\"([^\"]+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)))
        .flatMap(ServerAuth.Role.parse)
    def userJson(u: auth.UserInfo): String =
      s"""{"username":${jstr(u.username)},"roles":[${u.roles.map(r =>
        jstr(r.name)).mkString(",")}],"disabled":${u.disabled}}"""
    val name = if (path == "/auth/users") None
      else Some(path.stripPrefix("/auth/users/")).filter(_.nonEmpty)
    (ex.getRequestMethod, name) match {
      case ("GET", None) =>
        respond(ex, 200, s"[${auth.listUsers().map(userJson).mkString(",")}]")
      case ("POST", None) =>
        auth.createUser(field("username").getOrElse(""),
          field("password").getOrElse(""), rolesField) match {
          case Right(_) =>
            respond(ex, 201, userJson(auth.getUser(field("username").get).get))
          case Left(e) => respond(ex, 400, s"""{"error":${jstr(e.message)}}""")
        }
      case ("GET", Some(n)) => auth.getUser(n) match {
        case Some(u) => respond(ex, 200, userJson(u))
        case None => respond(ex, 404, """{"error":"user not found"}""")
      }
      case ("PUT", Some(n)) =>
        if (auth.getUser(n).isEmpty) {
          respond(ex, 404, """{"error":"user not found"}""")
        } else {
          if (rolesField.nonEmpty) auth.setRoles(n, rolesField)
          """"disabled"\s*:\s*(true|false)""".r.findFirstMatchIn(body)
            .foreach(m => auth.setDisabled(n, m.group(1).toBoolean))
          respond(ex, 200, """{"status":"updated"}""")
        }
      case ("DELETE", Some(n)) =>
        if (auth.deleteUser(n)) respond(ex, 200, """{"status":"deleted"}""")
        else respond(ex, 404, """{"error":"user not found"}""")
      case _ =>
        respond(ex, 405, """{"error":"GET, POST, PUT, or DELETE required"}""")
    }
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Parse {"statements":[{"statement":…, "parameters":{…},
    * "includeStats":…}]} with the Jackson-backed parser — per-object
    * field binding, so one statement's parameters/includeStats can never
    * leak into its neighbor regardless of key serialization order.
    * Parameters bind the flat scalar forms the transaction API sends
    * (string/number/bool/null) — the same subset the Bolt RUN path binds.
    */
  private[sources] def parseStatements(
      body: String): Seq[(String, Map[String, Any], Boolean)] = {
    import scala.jdk.CollectionConverters._
    graft.functions.JsonImpls.parse(body).filter(_.isObject).toSeq.flatMap { root =>
      Option(root.get("statements")).filter(_.isArray).toSeq.flatMap { arr =>
        arr.elements().asScala.filter(_.isObject).flatMap { obj =>
          Option(obj.get("statement")).filter(_.isTextual).map { stmtNode =>
            val params = Option(obj.get("parameters")).filter(_.isObject)
              .map { p =>
                p.fields().asScala.map { e =>
                  val v = e.getValue
                  val any: Any =
                    if (v.isTextual) v.asText()
                    else if (v.isBoolean) v.asBoolean()
                    else if (v.isIntegralNumber) v.asLong()
                    else if (v.isNumber) v.asDouble()
                    else null
                  e.getKey -> any
                }.toMap
              }.getOrElse(Map.empty[String, Any])
            val stats = Option(obj.get("includeStats"))
              .exists(n => n.isBoolean && n.asBoolean())
            (stmtNode.asText(), params, stats)
          }
        }.toSeq
      }
    }
  }
}

object HttpTxServer {
  /** JSON response helper for handlers mounted onto this server from the
    * outside (the entrypoint's auth wrapper around /api/bifrost).
    */
  def respondStatic(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Schema DDL: index/constraint/database management statements — admin
    * territory (PermSchema, auth.go:183-188).
    */
  private[sources] val ddlRe =
    """(?is)\s*(CREATE|DROP)\s+(INDEX|CONSTRAINT|FULLTEXT|VECTOR|TEXT|DATABASE|ALIAS|COMPOSITE)\b.*""".r
}
