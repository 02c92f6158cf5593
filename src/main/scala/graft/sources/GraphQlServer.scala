package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.cypher.{Cypher, CypherWrite}
import graft.graph.GraphStore
import graft.functions.JsonImpls.quote

/** GraphQL endpoint over the engine — the reference schema's Query core
  * plus the node/relationship mutation families
  * (`/root/reference/pkg/graphql/schema/schema.graphql:816-941` Query,
  * `:984-1088` Mutation; the reference serves them via gqlgen,
  * `handler.go:35`).
  *
  * Query fields: `node(id)`, `nodes(ids)`, `allNodes(labels, limit,
  * offset)`, `nodesByLabel`, `nodeCount(label)`, `labels`,
  * `relationshipTypes`, `stats {…}`, `cypher(input: {query})`.
  * Mutations: `createNode`, `updateNode`, `deleteNode`, `mergeNode`,
  * `createRelationship`, `deleteRelationship`, `executeCypher` — routed
  * through [[CypherWrite]] / [[GraphStore]] (statement-autocommit, like
  * the Bolt loop). Bulk + maintenance mutations are disclosed out of
  * scope.
  *
  * The executor is a purpose-built recursive-descent parser supporting
  * operations (query/mutation, named or anonymous, selected via
  * `operationName`), variable definitions with defaults (`$x: Type = v`),
  * variable references in argument values, field aliases, and fragments
  * (named `fragment F on T` + spreads + inline `... on T`). Requests
  * arrive as the standard `{"query","variables","operationName"}` JSON
  * envelope (parsed with Jackson) or a raw GraphQL document. Responses
  * are standard `{"data":…}` / `{"errors":[…]}`.
  *
  * `token`: optional shared bearer token (the reference refuses
  * unauthenticated requests by default, `pkg/auth/auth.go`); when set,
  * requests without `Authorization: Bearer <token>` get 401.
  */
final class GraphQlServer(store: GraphStore, port: Int = 0,
    maxRows: Int = 1000, token: Option[String] = None,
    rbac: Option[ServerAuth.Rbac] = None,
    isDevelopment: Boolean = true) {

  /** Per-operation RBAC (auth.go:183-188): queries need read, mutations
    * write, clearAll admin. A bare `token` is an admin credential.
    */
  private val effectiveRbac: Option[ServerAuth.Rbac] =
    rbac.orElse(ServerAuth.Rbac.legacy(token))

  // lazy: when mounted on a shared listener via [[handleExchange]] (the
  // reference serves /graphql on the main HTTP mux, server_router.go:27)
  // no socket of its own is ever bound
  private lazy val server = HttpServer.create(new InetSocketAddress(port), 0)

  def boundPort: Int = server.getAddress.getPort

  /** Serve one exchange on an externally-owned listener — the server
    * entrypoint mounts this at /graphql beside the tx API, mirroring the
    * reference's single HTTP mux (server_router.go:224).
    */
  def handleExchange(ex: HttpExchange): Unit = handle(ex)

  def start(): GraphQlServer = {
    server.createContext("/graphql", (ex: HttpExchange) =>
      RequestValidation.guard(RequestValidation.JsonTypes, isDevelopment)(handle)(ex))
    // a real pool, not the dispatch thread: subscription connections are
    // long-lived SSE streams and must not block other requests
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => { val t = new Thread(r, "graphql-worker"); t.setDaemon(true); t }))
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)

  private def handle(ex: HttpExchange): Unit = {
    try {
      val role = ServerAuth.roleOf(ex, effectiveRbac) match {
        case Some(r) => r
        case None =>
          respond(ex, 401,
            """{"errors":[{"message":"unauthorized: bearer token required"}]}""")
          return
      }
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      // {"query","variables","operationName"} envelope, or a raw document
      val (doc, vars, opName) =
        graft.functions.JsonImpls.parse(body).filter(_.isObject) match {
          case Some(n) if n.has("query") =>
            val vs = Option(n.get("variables")).filterNot(_.isNull)
              .map(jsonToAny).collect { case m: Map[_, _] =>
                m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty[String, Any])
            val on = Option(n.get("operationName")).filterNot(_.isNull).map(_.asText())
            (n.get("query").asText(), vs, on)
          case _ => (body, Map.empty[String, Any], None)
        }
      // subscriptions switch the connection to an SSE stream
      val isSub =
        try new P(doc).document().ops.exists(_.kind == "subscription")
        catch { case _: Exception => false }
      if (isSub) { subscribe(ex, doc, vars, opName, role); return }
      val out =
        try Right(execute(doc, vars, opName, role))
        catch {
          case f: GraphQlServer.Forbidden => Left(f.getMessage)
          case e: Exception =>
            Right(s"""{"errors":[{"message":${jstr(Option(e.getMessage).getOrElse(e.toString))}}]}""")
        }
      out match {
        case Right(body) => respond(ex, 200, body)
        case Left(msg) =>
          respond(ex, 403, s"""{"errors":[{"message":${jstr(msg)}}]}""")
      }
    } catch {
      case e: Exception =>
        respond(ex, 400, s"""{"errors":[{"message":${jstr(
          Option(e.getMessage).getOrElse(e.toString))}}]}""")
    }
  }

  private def jsonToAny(n: com.fasterxml.jackson.databind.JsonNode): Any = {
    import scala.jdk.CollectionConverters._
    if (n.isObject)
      n.fieldNames().asScala.map(k => k -> jsonToAny(n.get(k))).toMap
    else if (n.isArray) n.elements().asScala.map(jsonToAny).toSeq
    else if (n.isTextual) n.asText()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else null
  }

  // ===================================================== mini parser =====

  /** A value containing an unresolved `$var` reference. */
  private final case class VarRef(name: String)
  /** `...Name` spread / `... on Type {}` inline fragment marker. */
  private final case class Sel(alias: Option[String], name: String,
      args: Map[String, Any], children: Seq[Sel],
      spread: Option[String] = None, inline: Option[Seq[Sel]] = None,
      directives: Seq[(String, Map[String, Any])] = Nil) {
    def outName: String = alias.getOrElse(name)
  }
  private final case class VarDef(name: String, tpe: String, default: Option[Any])
  private final case class Op(kind: String, name: Option[String],
      varDefs: Seq[VarDef], sels: Seq[Sel])
  private final case class Doc(ops: Seq[Op], fragments: Map[String, Seq[Sel]])

  private final class P(s: String) {
    private var i = 0
    def ws(): Unit = {
      while (i < s.length && (s.charAt(i).isWhitespace || s.charAt(i) == ',')) i += 1
      if (i < s.length && s.charAt(i) == '#') { // comment to EOL
        while (i < s.length && s.charAt(i) != '\n') i += 1
        ws()
      }
    }
    def atEnd: Boolean = { ws(); i >= s.length }
    def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'
    def eat(c: Char): Unit = {
      ws(); require(peek == c, s"expected '$c' at offset $i"); i += 1
    }
    def ident(): String = {
      ws()
      val start = i
      while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
      require(i > start, s"expected identifier at offset $start")
      s.substring(start, i)
    }
    /** GraphQL type reference: `Name`, `Name!`, `[Name!]!` … */
    def typeRef(): String = {
      ws()
      val start = i
      while (i < s.length && "[]!".contains(s.charAt(i)) ||
          (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_'))) i += 1
      s.substring(start, i)
    }
    def value(): Any = {
      ws()
      peek match {
        case '$' =>
          i += 1
          VarRef(ident())
        case '"' =>
          i += 1
          val b = new StringBuilder
          while (peek != '"') {
            if (peek == '\\') {
              i += 1
              s.charAt(i) match {
                case '"'  => b.append('"'); i += 1
                case '\\' => b.append('\\'); i += 1
                case '/'  => b.append('/'); i += 1
                case 'n'  => b.append('\n'); i += 1
                case 't'  => b.append('\t'); i += 1
                case 'r'  => b.append('\r'); i += 1
                case 'b'  => b.append('\b'); i += 1
                case 'f'  => b.append('\f'); i += 1
                case 'u'  =>
                  require(i + 4 < s.length, "truncated \\u escape in string literal")
                  val hex = s.substring(i + 1, i + 5)
                  b.append(Integer.parseInt(hex, 16).toChar)
                  i += 5
                case c    => throw new IllegalArgumentException(s"unknown escape \\$c in string literal")
              }
            }
            else { b.append(s.charAt(i)); i += 1 }
          }
          i += 1
          b.toString
        case '[' =>
          i += 1
          val items = Seq.newBuilder[Any]
          ws()
          while (peek != ']') { items += value(); ws() }
          i += 1
          items.result()
        case '{' =>
          i += 1
          val m = Map.newBuilder[String, Any]
          ws()
          while (peek != '}') {
            val k = ident(); eat(':'); m += (k -> value()); ws()
          }
          i += 1
          m.result()
        case c if c.isDigit || c == '-' =>
          val start = i
          var isFloat = false
          while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '-' ||
              s.charAt(i) == '.')) { if (s.charAt(i) == '.') isFloat = true; i += 1 }
          val t = s.substring(start, i)
          if (isFloat) t.toDouble else t.toLong
        case _ =>
          ident() match { // true/false/null/enum
            case "true" => true
            case "false" => false
            case "null" => null
            case e => e
          }
      }
    }
    def argList(): Map[String, Any] = {
      ws()
      if (peek != '(') return Map.empty
      i += 1
      val m = Map.newBuilder[String, Any]
      ws()
      while (peek != ')') { val k = ident(); eat(':'); m += (k -> value()); ws() }
      i += 1
      m.result()
    }
    /** `@skip(if: …)` / `@include(if: …)` chains (graphql spec §3.13). */
    def directiveList(): Seq[(String, Map[String, Any])] = {
      val out = Seq.newBuilder[(String, Map[String, Any])]
      ws()
      while (peek == '@') { i += 1; out += (ident() -> argList()); ws() }
      out.result()
    }
    def selection(): Sel = {
      ws()
      if (peek == '.') { // fragment spread or inline fragment
        eat('.'); eat('.'); eat('.')
        ws()
        if (s.startsWith("on", i) && i + 2 < s.length && !s.charAt(i + 2).isLetterOrDigit) {
          ident() // "on"
          ident() // type condition — single Node object type: not filtered
          val dirs = directiveList()
          val children = selectionSet()
          return Sel(None, "...", Map.empty, Nil, inline = Some(children),
            directives = dirs)
        }
        val name = ident()
        return Sel(None, "...", Map.empty, Nil, spread = Some(name),
          directives = directiveList())
      }
      val first = ident()
      ws()
      val (alias, name) =
        if (peek == ':') { i += 1; (Some(first), ident()) } else (None, first)
      val args = argList()
      val dirs = directiveList()
      ws()
      val children = if (peek == '{') selectionSet() else Nil
      Sel(alias, name, args, children, directives = dirs)
    }
    def selectionSet(): Seq[Sel] = {
      eat('{')
      val out = Seq.newBuilder[Sel]
      ws()
      while (peek != '}') { out += selection(); ws() }
      i += 1
      out.result()
    }
    def varDefs(): Seq[VarDef] = {
      ws()
      if (peek != '(') return Nil
      i += 1
      val out = Seq.newBuilder[VarDef]
      ws()
      while (peek != ')') {
        eat('$')
        val n = ident()
        eat(':')
        val t = typeRef()
        ws()
        val d = if (peek == '=') { i += 1; Some(value()) } else None
        out += VarDef(n, t, d)
        ws()
      }
      i += 1
      out.result()
    }
    def document(): Doc = {
      val ops = Seq.newBuilder[Op]
      val frags = Map.newBuilder[String, Seq[Sel]]
      while (!atEnd) {
        ws()
        if (peek == '{') ops += Op("query", None, Nil, selectionSet())
        else ident() match {
          case "fragment" =>
            val n = ident()
            require(ident() == "on", s"fragment $n missing type condition")
            ident() // type condition
            frags += (n -> selectionSet())
          case kw @ ("query" | "mutation" | "subscription") =>
            ws()
            val name = if (peek != '{' && peek != '(') Some(ident()) else None
            val vds = varDefs()
            ops += Op(kw, name, vds, selectionSet())
          case other =>
            throw new IllegalArgumentException(
              s"only query/mutation/subscription/fragment are served (got $other)")
        }
      }
      Doc(ops.result(), frags.result())
    }
  }

  /** Test hook: parse only (no execution) — the fuzz spec drives
    * truncated/mutated documents through the parser to pin the
    * throw-don't-hang contract.
    */
  private[graft] def parseOnly(doc: String): Int = {
    val d = new P(doc).document()
    d.ops.size + d.fragments.size
  }

  // ============================================ variables + fragments ====

  private def coerceVars(defs: Seq[VarDef], provided: Map[String, Any]): Map[String, Any] =
    defs.map { d =>
      d.name -> provided.getOrElse(d.name, d.default.getOrElse(
        throw new IllegalArgumentException(s"variable $$${d.name} not provided")))
    }.toMap

  private def substitute(v: Any, vars: Map[String, Any]): Any = v match {
    case VarRef(n) => vars.getOrElse(n,
      throw new IllegalArgumentException(s"undefined variable $$$n"))
    case xs: Seq[_] => xs.map(substitute(_, vars))
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      .map { case (k, mv) => k -> substitute(mv, vars) }
    case other => other
  }

  /** True when a selection survives its `@skip`/`@include` directives
    * (graphql spec §3.13 — the reference's gqlgen executor evaluates the
    * same pair; unknown directives are rejected, not ignored).
    */
  private def keep(dirs: Seq[(String, Map[String, Any])],
      vars: Map[String, Any]): Boolean =
    dirs.forall { case (name, args) =>
      if (name != "skip" && name != "include")
        throw new IllegalArgumentException(s"unsupported directive @$name")
      val cond = substitute(args.getOrElse("if",
        throw new IllegalArgumentException(s"@$name needs an if: argument")),
        vars) match {
        case b: Boolean => b
        case other => throw new IllegalArgumentException(
          s"@$name(if:) must be a Boolean, got $other")
      }
      if (name == "skip") !cond else cond
    }

  private def expand(sels: Seq[Sel], frags: Map[String, Seq[Sel]],
      vars: Map[String, Any], depth: Int = 0): Seq[Sel] = {
    require(depth < 16, "fragment nesting too deep (cycle?)")
    sels.filter(s => keep(s.directives, vars)).flatMap {
      case Sel(_, _, _, _, Some(name), _, _) =>
        expand(frags.getOrElse(name,
          throw new IllegalArgumentException(s"unknown fragment $name")),
          frags, vars, depth + 1)
      case Sel(_, _, _, _, _, Some(inline), _) =>
        expand(inline, frags, vars, depth + 1)
      case s => Seq(s.copy(
        args = s.args.map { case (k, v) => k -> substitute(v, vars) },
        children = expand(s.children, frags, vars, depth + 1)))
    }
  }

  // ====================================================== execution ======

  private def execute(doc: String, provided: Map[String, Any],
      opName: Option[String],
      role: ServerAuth.Role = ServerAuth.Role.Admin): String = {
    val d = new P(doc).document()
    require(d.ops.nonEmpty, "no operation in document")
    val op = opName match {
      case Some(n) => d.ops.find(_.name.contains(n)).getOrElse(
        throw new IllegalArgumentException(s"operation $n not found"))
      case None =>
        require(d.ops.size == 1, "operationName required for multi-operation documents")
        d.ops.head
    }
    val vars = coerceVars(op.varDefs, provided) ++
      provided.filterNot(kv => op.varDefs.exists(_.name == kv._1))
    val sels = expand(op.sels, d.fragments, vars)
    // RBAC (server_db.go:656 shape): reads need `read`, mutations `write`,
    // destructive maintenance (clearAll) `admin`
    import ServerAuth.{can, Permission => P}
    if (op.kind == "mutation") {
      sels.foreach { sel =>
        val needed = if (sel.name == "clearAll") P.Admin else P.Write
        if (!can(role, needed)) throw new GraphQlServer.Forbidden(
          s"forbidden: ${needed.name} permission required for ${sel.name}")
      }
    } else if (!can(role, P.Read))
      throw new GraphQlServer.Forbidden("forbidden: read permission required")
    val resolver: Sel => String =
      if (op.kind == "mutation") resolveMutation else resolve
    graft.cypher.QueryGuard.guarded("neo4j", op.kind == "mutation") {
      val fields = sels.map(sel => s""""${sel.outName}":${resolver(sel)}""")
      s"""{"data":{${fields.mkString(",")}}}"""
    }
  }

  private def spark = store.snapshot.nodes.sparkSession

  private def nodeJson(r: Row, sels: Seq[Sel]): String = {
    val wanted =
      if (sels.isEmpty) Seq(Sel(None, "id", Map.empty, Nil),
        Sel(None, "labels", Map.empty, Nil), Sel(None, "properties", Map.empty, Nil))
      else sels
    val parts = wanted.map { sel =>
      val v = sel.name match {
        case "id" => jstr(r.getAs[String]("id"))
        case "labels" =>
          s"[${r.getAs[Seq[String]]("labels").map(jstr).mkString(",")}]"
        case "properties" =>
          val m = r.getAs[Map[String, String]]("properties")
          // CypherWrite-created nodes hoist key/name/acctbal/mktsegment to
          // typed columns without echoing them in the string map — overlay
          // them so GraphQL clients see the full property set
          val hoisted = Seq("key", "name", "acctbal", "mktsegment").flatMap { h =>
            val i = r.schema.fieldNames.indexOf(h)
            if (i >= 0 && !r.isNullAt(i) && !m.contains(h))
              Some(h -> String.valueOf(r.get(i)))
            else None
          }
          s"{${(m ++ hoisted).toSeq.sortBy(_._1).map { case (k, pv) =>
            s"${jstr(k)}:${jstr(pv)}" }.mkString(",")}}"
        // Node traversal fields (docs/user-guides/graphql.md: outgoing/
        // incoming/relationships/neighbors) — bounded point expansions
        case "outgoing" => relsJson(r.getAs[String]("id"), Some(true), sel)
        case "incoming" => relsJson(r.getAs[String]("id"), Some(false), sel)
        case "relationships" =>
          val dir = sel.args.get("direction").map(_.toString.toUpperCase)
          relsJson(r.getAs[String]("id"), dir match {
            case Some("OUTGOING") => Some(true)
            case Some("INCOMING") => Some(false)
            case _ => None // BOTH
          }, sel)
        case "neighbors" => neighborsJson(r.getAs[String]("id"), sel)
        case "hasEmbedding" =>
          val id = r.getAs[String]("id")
          store.nodeEmbeddings.filter(col("entity_id") === id)
            .limit(1).count() > 0 match { case b => b.toString }
        case "embeddingDimensions" =>
          val id = r.getAs[String]("id")
          store.nodeEmbeddings.filter(col("entity_id") === id)
            .limit(1).collect().headOption
            .map(_.getAs[Seq[Double]]("embedding").size.toString).getOrElse("0")
        case "internalId" => jstr(r.getAs[String]("id"))
        case _ => "null"
      }
      s"${jstr(sel.outName)}:$v"
    }
    s"{${parts.mkString(",")}}"
  }

  /** Relationships off one node: `outgoing(types, limit)` / `incoming`.
    * Children may select id/type/startNodeId/endNodeId/properties and
    * nested startNode/endNode objects (point lookups, bounded by limit).
    */
  private def relsJson(nodeId: String, out: Option[Boolean], sel: Sel): String = {
    val g = store.snapshot
    val types = strList(sel, "types")
    val limit = math.min(intArg(sel, "limit", 25), maxRows)
    val base = out match {
      case Some(true) => g.edges.filter(col("src") === nodeId)
      case Some(false) => g.edges.filter(col("dst") === nodeId)
      case None => g.edges.filter(col("src") === nodeId || col("dst") === nodeId)
    }
    val typed = if (types.isEmpty) base else base.filter(col("rel_type").isin(types: _*))
    val rels = typed.orderBy("id").limit(limit).collect()
    val wantNodes = sel.children.exists(c => c.name == "startNode" || c.name == "endNode")
    val nodeRows: Map[String, Row] =
      if (!wantNodes || rels.isEmpty) Map.empty
      else {
        val ids = rels.flatMap(e => Seq(e.getAs[String]("src"), e.getAs[String]("dst"))).distinct
        g.nodes.filter(col("id").isin(ids.toSeq: _*)).collect()
          .map(n => n.getAs[String]("id") -> n).toMap
      }
    val items = rels.map { e =>
      val wanted = if (sel.children.isEmpty)
        Seq(Sel(None, "id", Map.empty, Nil), Sel(None, "type", Map.empty, Nil))
      else sel.children
      val parts = wanted.map { c =>
        val v = c.name match {
          case "id" => jstr(e.getAs[String]("id"))
          case "type" => jstr(e.getAs[String]("rel_type"))
          case "startNodeId" => jstr(e.getAs[String]("src"))
          case "endNodeId" => jstr(e.getAs[String]("dst"))
          case "weight" => e.getAs[Double]("weight").toString
          case "properties" =>
            val m = e.getAs[Map[String, String]]("properties")
            s"{${m.toSeq.sortBy(_._1).map { case (k, pv) =>
              s"${jstr(k)}:${jstr(pv)}" }.mkString(",")}}"
          case "startNode" => nodeRows.get(e.getAs[String]("src"))
            .map(nodeJson(_, c.children)).getOrElse("null")
          case "endNode" => nodeRows.get(e.getAs[String]("dst"))
            .map(nodeJson(_, c.children)).getOrElse("null")
          case _ => "null"
        }
        s"${jstr(c.outName)}:$v"
      }
      s"{${parts.mkString(",")}}"
    }
    s"[${items.mkString(",")}]"
  }

  /** `neighbors(direction, limit)`: adjacent nodes (BOTH by default). */
  private def neighborsJson(nodeId: String, sel: Sel): String = {
    val g = store.snapshot
    val limit = math.min(intArg(sel, "limit", 25), maxRows)
    val dir = sel.args.get("direction").map(_.toString).getOrElse("BOTH")
    val outIds = g.edges.filter(col("src") === nodeId).select(col("dst").as("nid"))
    val inIds = g.edges.filter(col("dst") === nodeId).select(col("src").as("nid"))
    val ids = dir.toUpperCase match {
      case "OUTGOING" => outIds
      case "INCOMING" => inIds
      case _ => outIds.unionByName(inIds)
    }
    val rows = g.nodes.join(ids.distinct().withColumnRenamed("nid", "id"), "id")
      .orderBy("id").limit(limit).collect()
    s"[${rows.map(nodeJson(_, sel.children)).mkString(",")}]"
  }

  private def nodesJson(df: org.apache.spark.sql.DataFrame, sel: Sel,
      limit: Int, offset: Int): String = {
    val rows = df.orderBy("id")
      .offset(offset).limit(math.min(limit, maxRows)).collect()
    s"[${rows.map(nodeJson(_, sel.children)).mkString(",")}]"
  }

  private def intArg(sel: Sel, k: String, dflt: Int): Int =
    sel.args.get(k).map(_.toString.toInt).getOrElse(dflt)
  private def strList(sel: Sel, k: String): Seq[String] =
    sel.args.get(k).toSeq.flatMap {
      case xs: Seq[_] => xs.map(_.toString)
      case one => Seq(one.toString)
    }

  // ================================================== subscriptions ======

  /** GraphQL subscriptions over SSE (`schema.graphql:1174-1208` —
    * nodeCreated/nodeUpdated/nodeDeleted + relationship twins). The
    * connection becomes a `text/event-stream`; every GraphStore commit
    * fans its change events through [[GraphStore.addChangeListener]] and
    * matching ones stream as `event:`/`data:` frames until the client
    * disconnects (detected by the keep-alive write failing). The
    * reference serves the same events over websockets via gqlgen; SSE is
    * the JDK-server transport with identical event payloads.
    */
  private def subscribe(ex: HttpExchange, doc: String,
      provided: Map[String, Any], opName: Option[String],
      role: ServerAuth.Role): Unit = {
    val parsed = new P(doc).document()
    val op = opName match {
      case Some(n) => parsed.ops.find(_.name.contains(n)).getOrElse(
        throw new IllegalArgumentException(s"operation $n not found"))
      case None => parsed.ops.head
    }
    if (!ServerAuth.can(role, ServerAuth.Permission.Read)) {
      respond(ex, 403,
        """{"errors":[{"message":"forbidden: read permission required"}]}""")
      return
    }
    val vars = coerceVars(op.varDefs, provided) ++
      provided.filterNot(kv => op.varDefs.exists(_.name == kv._1))
    val sels = expand(op.sels, parsed.fragments, vars)
    require(sels.size == 1, "exactly one subscription field per operation")
    val sel = sels.head
    if (sel.name == "searchStream") { searchStream(ex, sel); return }
    val labelArg = strList(sel, "labels")
    val typeArg = strList(sel, "types")
    val idArg = sel.args.get("id").map(_.toString)
    val kind = sel.name match {
      case "nodeCreated" => "node_created"
      case "nodeUpdated" => "node_updated"
      case "nodeDeleted" => "node_deleted"
      case "relationshipCreated" => "rel_created"
      case "relationshipUpdated" => "rel_updated"
      case "relationshipDeleted" => "rel_deleted"
      case other =>
        throw new IllegalArgumentException(s"unsupported subscription field: $other")
    }
    def matches(ev: graft.graph.GraphStore.GraphChange): Boolean =
      ev.kind == kind &&
        (labelArg.isEmpty || ev.labels.exists(labelArg.contains)) &&
        (typeArg.isEmpty || ev.relType.exists(typeArg.contains)) &&
        idArg.forall(_ == ev.id)
    def eventJson(ev: graft.graph.GraphStore.GraphChange): String =
      if (kind.endsWith("_deleted")) jstr(ev.id)
      else if (kind.startsWith("node")) {
        val wanted = if (sel.children.isEmpty) Seq("id", "labels") else sel.children.map(_.name)
        val parts = wanted.flatMap {
          case "id" => Some(s""""id":${jstr(ev.id)}""")
          case "labels" => Some(s""""labels":[${ev.labels.map(jstr).mkString(",")}]""")
          case "properties" => Some(s""""properties":{${ev.properties.toSeq.sortBy(_._1)
            .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")}}""")
          case _ => None
        }
        s"{${parts.mkString(",")}}"
      } else s"""{"id":${jstr(ev.id)},"type":${jstr(ev.relType.getOrElse(""))}}"""

    val queue = new java.util.concurrent.LinkedBlockingQueue[
      graft.graph.GraphStore.GraphChange](1024)
    val handle = store.addChangeListener(ev => if (matches(ev)) queue.offer(ev))
    try {
      ex.getResponseHeaders.set("Content-Type", "text/event-stream")
      ex.getResponseHeaders.set("Cache-Control", "no-cache")
      ex.sendResponseHeaders(200, 0)
      val out = ex.getResponseBody
      while (true) {
        val ev = queue.poll(5, java.util.concurrent.TimeUnit.SECONDS)
        if (ev == null) {
          out.write(": keep-alive\n\n".getBytes(StandardCharsets.UTF_8))
          out.flush() // throws when the client went away → loop exits
        } else {
          out.write(s"event: ${sel.outName}\ndata: ${eventJson(ev)}\n\n"
            .getBytes(StandardCharsets.UTF_8))
          out.flush()
        }
      }
    } catch {
      case _: java.io.IOException => // client disconnected
      case _: InterruptedException =>
    } finally {
      handle.close()
      try ex.close() catch { case _: Exception => }
    }
  }

  private def resolve(sel: Sel): String = {
    val g = store.snapshot
    sel.name match {
      case "node" =>
        val id = sel.args.getOrElse("id",
          throw new IllegalArgumentException("node(id:) is required")).toString
        g.nodes.filter(col("id") === id).limit(1).collect().headOption
          .map(nodeJson(_, sel.children)).getOrElse("null")
      case "nodes" =>
        val ids = strList(sel, "ids")
        if (ids.isEmpty) "[]"
        else nodesJson(g.nodes.filter(col("id").isin(ids: _*)), sel,
          maxRows, 0)
      case "allNodes" =>
        val labels = strList(sel, "labels")
        val df = if (labels.isEmpty) g.nodes
          else g.nodes.filter(labels.map(l => array_contains(col("labels"), l))
            .reduce(_ || _))
        nodesJson(df, sel, intArg(sel, "limit", 100), intArg(sel, "offset", 0))
      case "nodesByLabel" =>
        val label = sel.args.getOrElse("label",
          throw new IllegalArgumentException("nodesByLabel(label:) is required")).toString
        nodesJson(g.nodesByLabel(label), sel,
          intArg(sel, "limit", 100), intArg(sel, "offset", 0))
      case "nodeCount" =>
        val df = sel.args.get("label")
          .map(l => g.nodesByLabel(l.toString)).getOrElse(g.nodes)
        df.count().toString
      case "labels" =>
        val ls = g.nodes.select(explode(col("labels")).as("l"))
          .distinct().orderBy("l").collect().map(_.getString(0))
        s"[${ls.map(jstr).mkString(",")}]"
      case "relationshipTypes" =>
        val ts = g.edges.select("rel_type").distinct().orderBy("rel_type")
          .collect().map(_.getString(0))
        s"[${ts.map(jstr).mkString(",")}]"
      case "stats" =>
        val parts = sel.children.map { c =>
          val v = c.name match {
            case "nodeCount" => g.nodes.count().toString
            case "relationshipCount" => g.edges.count().toString
            case "embeddedNodeCount" =>
              store.nodeEmbeddings.select("entity_id").distinct().count().toString
            case "labels" =>
              val rows = g.nodes.select(explode(col("labels")).as("label"))
                .groupBy("label").count().orderBy("label").collect()
              s"[${rows.map(r =>
                s"""{"label":${jstr(r.getString(0))},"count":${r.getLong(1)}}""")
                .mkString(",")}]"
            case _ => "null"
          }
          s"${jstr(c.outName)}:$v"
        }
        s"{${parts.mkString(",")}}"
      case "cypher" => cypherField(sel, write = false)
      case "search" => searchField(sel)
      case other =>
        throw new IllegalArgumentException(s"unsupported query field: $other")
    }
  }

  /** `search(query, options: {limit, labels, method})` — the reference's
    * GraphQL search field (docs/user-guides/graphql.md; DB.Search,
    * search.go:116) over [[graft.cypher.SearchCallProcs.defaultSearch]]:
    * BM25 + Embedder-seam vector legs, RRF for HYBRID.
    */
  /** `subscription { searchStream(query, options) }`
    * (schema.graphql:1205-1208): the search runs through the shared
    * hybrid engine and each hit streams as its own SSE event — the
    * "streaming results" subscription — followed by a `complete` event.
    */
  private def searchStream(ex: HttpExchange, sel: Sel): Unit = {
    val q = sel.args.getOrElse("query",
      throw new IllegalArgumentException("searchStream(query:) is required")).toString
    val opts = sel.args.get("options") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any]
    }
    val k = opts.get("limit").map(_.toString.toInt).getOrElse(10)
    val labels = opts.get("labels") match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case Some(one) => Seq(one.toString)
      case None => Nil
    }
    val method = opts.get("method").map(_.toString).getOrElse("HYBRID")
    val hits = graft.cypher.SearchCallProcs
      .defaultSearch(store, q, math.min(k, maxRows), labels, method).collect()
    ex.getResponseHeaders.set("Content-Type", "text/event-stream")
    ex.getResponseHeaders.set("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0)
    val out = ex.getResponseBody
    try {
      hits.foreach { h =>
        val payload = s"""{"node":{"id":${jstr(h.getString(0))}},"score":${h.getDouble(1)}}"""
        out.write(s"event: ${sel.outName}\ndata: $payload\n\n"
          .getBytes(StandardCharsets.UTF_8))
        out.flush()
      }
      out.write("event: complete\ndata: {}\n\n".getBytes(StandardCharsets.UTF_8))
      out.flush()
    } catch { case _: java.io.IOException => /* client went away */ }
    finally { try ex.close() catch { case _: Exception => } }
  }

  private def searchField(sel: Sel): String = {
    val q = sel.args.getOrElse("query",
      throw new IllegalArgumentException("search(query:) is required")).toString
    val opts = sel.args.get("options") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any]
    }
    val k = opts.get("limit").map(_.toString.toInt).getOrElse(10)
    val labels = opts.get("labels") match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case Some(one) => Seq(one.toString)
      case None => Nil
    }
    val method = opts.get("method").map(_.toString).getOrElse("HYBRID")
    val t0 = System.nanoTime()
    val hits = graft.cypher.SearchCallProcs
      .defaultSearch(store, q, math.min(k, maxRows), labels, method).collect()
    val ms = (System.nanoTime() - t0) / 1e6
    val g = store.snapshot
    val ids = hits.map(_.getString(0)).toSeq
    val resultsSel = sel.children.find(_.name == "results")
    val nodeRows: Map[String, Row] =
      if (ids.isEmpty) Map.empty
      else g.nodes.filter(col("id").isin(ids: _*)).collect()
        .map(n => n.getAs[String]("id") -> n).toMap
    val results = hits.map { h =>
      val id = h.getString(0)
      val score = h.getDouble(1)
      val wanted = resultsSel.map(_.children).filter(_.nonEmpty).getOrElse(
        Seq(Sel(None, "node", Map.empty, Nil), Sel(None, "score", Map.empty, Nil)))
      val parts = wanted.map { c =>
        val v = c.name match {
          case "node" => nodeRows.get(id).map(nodeJson(_, c.children))
            .getOrElse(s"""{"id":${jstr(id)}}""")
          case "score" | "rrfScore" => score.toString
          case _ => "null"
        }
        s"${jstr(c.outName)}:$v"
      }
      s"{${parts.mkString(",")}}"
    }
    val parts = (if (sel.children.isEmpty)
      Seq(Sel(None, "results", Map.empty, Nil), Sel(None, "totalCount", Map.empty, Nil))
    else sel.children).map { c =>
      val v = c.name match {
        case "results" => s"[${results.mkString(",")}]"
        case "totalCount" => hits.length.toString
        case "executionTimeMs" => f"$ms%.1f"
        case _ => "null"
      }
      s"${jstr(c.outName)}:$v"
    }
    s"{${parts.mkString(",")}}"
  }

  // ====================================================== mutations ======

  private val identRe = "[A-Za-z_][A-Za-z0-9_]*".r

  private def inputMap(sel: Sel, k: String): Map[String, Any] =
    sel.args.get(k) match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => throw new IllegalArgumentException(s"${sel.name}($k:) object is required")
    }

  private def propsOf(m: Map[String, Any], k: String): Map[String, Any] =
    m.get(k) match {
      case Some(p: Map[_, _]) => p.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    }

  /** CREATE/MERGE pattern text with `$p<i>` parameter placeholders — the
    * values never splice into the statement (plan-time bind, like Bolt).
    */
  private def patternProps(props: Map[String, Any],
      prefix: String): (String, Map[String, Any]) = {
    val entries = props.toSeq.sortBy(_._1).zipWithIndex.map { case ((k, v), i) =>
      require(identRe.pattern.matcher(k).matches(), s"invalid property name: $k")
      (s"$k: $$$prefix$i", s"$prefix$i" -> v)
    }
    (entries.map(_._1).mkString("{", ", ", "}"), entries.map(_._2).toMap)
  }

  private def nodeById(id: String): Option[Row] =
    store.snapshot.nodes.filter(col("id") === id).limit(1).collect().headOption

  /** CREATE one node from a CreateNodeInput map; returns its id.
    * Determinism contract: created ids are Label:key — the key comes from
    * properties.key or a custom id ("Label:key"), never generated.
    */
  private def createNodeCore(in: Map[String, Any]): String = {
    val labels = in.get("labels") match {
      case Some(xs: Seq[_]) if xs.nonEmpty => xs.map(_.toString)
      case _ => throw new IllegalArgumentException("createNode needs labels")
    }
    labels.foreach(l => require(identRe.pattern.matcher(l).matches(), s"invalid label: $l"))
    val props0 = propsOf(in, "properties")
    val key = props0.get("key").map(_.toString)
      .orElse(in.get("id").map(_.toString.split(":", 2).last))
      .getOrElse(throw new IllegalArgumentException(
        "createNode requires properties.key or a custom id (deterministic ids)"))
    val props = props0 ++ Map("key" -> (try key.toLong: Any catch { case _: Exception => key }))
    val (pat, params) = patternProps(props, "p")
    CypherWrite.execute(store, s"CREATE (n:${labels.head} $pat)", params)
    s"${labels.head}:$key"
  }

  /** Render a small result object by selection (unknown fields null). */
  private def resultObj(sel: Sel, defaults: Seq[String],
      fields: Map[String, String]): String = {
    val wanted = if (sel.children.isEmpty)
      defaults.map(n => Sel(None, n, Map.empty, Nil)) else sel.children
    s"{${wanted.map(c =>
      s"${jstr(c.outName)}:${fields.getOrElse(c.name, "null")}").mkString(",")}}"
  }

  private def resolveMutation(sel: Sel): String = {
    sel.name match {
      case "createNode" =>
        val id = createNodeCore(inputMap(sel, "input"))
        nodeById(id).map(nodeJson(_, sel.children))
          .getOrElse(throw new IllegalStateException("created node not found"))
      case "updateNode" =>
        val in = inputMap(sel, "input")
        val id = in.getOrElse("id",
          throw new IllegalArgumentException("updateNode needs id")).toString
        val props = propsOf(in, "properties")
        val ids = store.snapshot.nodes.filter(col("id") === id).select("id")
        props.toSeq.sortBy(_._1).foreach { case (k, v) =>
          require(identRe.pattern.matcher(k).matches(), s"invalid property name: $k")
          store.setNodeProperty(ids, k, lit(v))
        }
        nodeById(id).map(nodeJson(_, sel.children)).getOrElse(
          throw new IllegalArgumentException(s"node $id not found"))
      case "deleteNode" =>
        val id = sel.args.getOrElse("id",
          throw new IllegalArgumentException("deleteNode(id:) is required")).toString
        val ids = store.snapshot.nodes.filter(col("id") === id).select("id")
        val stats = store.deleteNodes(ids, detach = true)
        (stats.nodesDeleted > 0).toString
      case "mergeNode" =>
        val labels = strList(sel, "labels")
        require(labels.nonEmpty, "mergeNode needs labels")
        labels.foreach(l => require(identRe.pattern.matcher(l).matches(), s"invalid label: $l"))
        val matchProps = sel.args.get("matchProperties") match {
          case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
          case _ => throw new IllegalArgumentException("mergeNode needs matchProperties")
        }
        val setProps = propsOf(sel.args, "setProperties")
        val (pat, mp) = patternProps(matchProps, "m")
        val (setCypher, sp) =
          if (setProps.isEmpty) ("", Map.empty[String, Any])
          else {
            val entries = setProps.toSeq.sortBy(_._1).zipWithIndex.map { case ((k, v), i) =>
              require(identRe.pattern.matcher(k).matches(), s"invalid property name: $k")
              (s"n.$k = $$s$i", s"s$i" -> v)
            }
            (" SET " + entries.map(_._1).mkString(", "), entries.map(_._2).toMap)
          }
        CypherWrite.execute(store, s"MERGE (n:${labels.head} $pat)$setCypher", mp ++ sp)
        val key = matchProps.getOrElse("key",
          throw new IllegalArgumentException("mergeNode matchProperties needs key")).toString
        nodeById(s"${labels.head}:$key").map(nodeJson(_, sel.children))
          .getOrElse(throw new IllegalStateException("merged node not found"))
      case "createRelationship" =>
        val in = inputMap(sel, "input")
        def req(k: String) = in.getOrElse(k,
          throw new IllegalArgumentException(s"createRelationship needs $k")).toString
        val (src, dst, tpe) = (req("startNodeId"), req("endNodeId"), req("type"))
        val props = propsOf(in, "properties")
        val relId = in.get("id").map(_.toString).getOrElse(s"$tpe:$src->$dst")
        val weight = props.get("weight").map(_.toString.toDouble).getOrElse(1.0)
        val g = store.snapshot
        val one = spark.createDataFrame(
          java.util.List.of(Row(relId, src, dst, tpe,
            props.map { case (k, v) => k -> String.valueOf(v) }, weight)),
          g.edges.select("id", "src", "dst", "rel_type", "properties", "weight").schema)
        store.createEdges(one)
        s"""{"id":${jstr(relId)},"startNodeId":${jstr(src)},"endNodeId":${jstr(dst)},"type":${jstr(tpe)}}"""
      case "deleteRelationship" =>
        val id = sel.args.getOrElse("id",
          throw new IllegalArgumentException("deleteRelationship(id:) is required")).toString
        val g = store.snapshot
        val exists = g.edges.filter(col("id") === id).limit(1).count() > 0
        if (exists) {
          val s = spark
          import s.implicits._
          store.deleteEdges(Seq(id).toDF("id")) // keyed copy-on-write delete
        }
        exists.toString
      case "executeCypher" => cypherField(sel, write = true)
      case "bulkCreateNodes" =>
        val in = inputMap(sel, "input")
        val skipDup = in.get("skipDuplicates").exists(_.toString.toBoolean)
        val nodes = in.get("nodes") match {
          case Some(xs: Seq[_]) => xs.collect { case m: Map[_, _] =>
            m.asInstanceOf[Map[String, Any]] }
          case _ => throw new IllegalArgumentException("bulkCreateNodes needs nodes")
        }
        var created = 0
        var skipped = 0
        nodes.foreach { n =>
          try { createNodeCore(n); created += 1 }
          catch {
            case e: Exception if skipDup => skipped += 1
          }
        }
        resultObj(sel, Seq("created", "skipped"),
          Map("created" -> created.toString, "skipped" -> skipped.toString))
      case "bulkDeleteNodes" =>
        val ids = strList(sel, "ids")
        require(ids.nonEmpty, "bulkDeleteNodes needs ids")
        val g = store.snapshot
        val found = g.nodes.filter(col("id").isin(ids: _*))
          .select("id").collect().map(_.getString(0)).toSet
        val stats = store.deleteNodes(
          g.nodes.filter(col("id").isin(ids: _*)).select("id"), detach = true)
        val notFound = ids.filterNot(found)
        resultObj(sel, Seq("deleted", "notFound"), Map(
          "deleted" -> stats.nodesDeleted.toString,
          "notFound" -> s"[${notFound.map(jstr).mkString(",")}]"))
      case "bulkCreateRelationships" =>
        val in = inputMap(sel, "input")
        val skipInvalid = in.get("skipInvalid").exists(_.toString.toBoolean)
        val rels = in.get("relationships") match {
          case Some(xs: Seq[_]) => xs.collect { case m: Map[_, _] =>
            m.asInstanceOf[Map[String, Any]] }
          case _ => throw new IllegalArgumentException(
            "bulkCreateRelationships needs relationships")
        }
        val g = store.snapshot
        val endpoints = rels.flatMap(r =>
          Seq(r.get("startNodeId"), r.get("endNodeId")).flatten.map(_.toString))
        val existing: Set[String] =
          if (endpoints.isEmpty) Set.empty
          else g.nodes.filter(col("id").isin(endpoints.distinct: _*))
            .select("id").collect().map(_.getString(0)).toSet
        var created = 0
        var skipped = 0
        val rows = new java.util.ArrayList[Row]()
        rels.foreach { r =>
          def req(k: String) = r.getOrElse(k, throw new IllegalArgumentException(
            s"relationship needs $k")).toString
          val (src, dst, tpe) = (req("startNodeId"), req("endNodeId"), req("type"))
          if (existing(src) && existing(dst)) {
            val props = propsOf(r, "properties")
            rows.add(Row(r.get("id").map(_.toString).getOrElse(s"$tpe:$src->$dst"),
              src, dst, tpe, props.map { case (k, v) => k -> String.valueOf(v) },
              props.get("weight").map(_.toString.toDouble).getOrElse(1.0)))
            created += 1
          } else if (skipInvalid) skipped += 1
          else throw new IllegalArgumentException(
            s"relationship endpoints not found: $src -> $dst")
        }
        if (!rows.isEmpty)
          store.createEdges(spark.createDataFrame(rows,
            g.edges.select("id", "src", "dst", "rel_type", "properties", "weight").schema))
        resultObj(sel, Seq("created", "skipped"),
          Map("created" -> created.toString, "skipped" -> skipped.toString))
      case "bulkDeleteRelationships" =>
        val ids = strList(sel, "ids")
        require(ids.nonEmpty, "bulkDeleteRelationships needs ids")
        val g = store.snapshot
        val found = g.edges.filter(col("id").isin(ids: _*))
          .select("id").collect().map(_.getString(0)).toSet
        if (found.nonEmpty) {
          val s = spark
          import s.implicits._
          store.deleteEdges(found.toSeq.toDF("id"))
        }
        resultObj(sel, Seq("deleted", "notFound"), Map(
          "deleted" -> found.size.toString,
          "notFound" -> s"[${ids.filterNot(found).map(jstr).mkString(",")}]"))
      // ---- maintenance mutations (mutation_impl.go:282-352) ----
      case "triggerEmbedding" =>
        // regenerate=true re-embeds every node (upserts overwrite, the
        // ClearAllEmbeddings+retrigger shape); default embeds only the
        // missing ones. Embedding goes through the Embedder seam's bulk
        // column form — distributed, no driver loop.
        val regen = sel.args.get("regenerate").exists(_.toString.toBoolean)
        val g = store.snapshot
        val embedded = store.nodeEmbeddings.filter(col("name") === "embedding")
          .select(col("entity_id").as("id")).distinct()
        val targets =
          if (regen) g.nodes
          else g.nodes.join(embedded, Seq("id"), "left_anti")
        val emb = graft.functions.Embedder.current
        val rows = targets
          .withColumn("embedding", emb.embedCol(spark,
            graft.cypher.SearchCallProcs.embeddableTextCol(targets)))
          .select(col("id").as("entity_id"), lit("embedding").as("name"),
            col("embedding"))
        if (!rows.isEmpty) store.setNodeVectorProperties(rows)
        val total = g.nodes.count()
        val nowEmbedded = store.nodeEmbeddings
          .filter(col("name") === "embedding").select("entity_id").distinct().count()
        resultObj(sel, Seq("pending", "embedded", "total"), Map(
          "pending" -> (total - nowEmbedded).toString,
          "embedded" -> nowEmbedded.toString, "total" -> total.toString))
      case "rebuildSearchIndex" =>
        // indexes here are thunks resolved per query against the current
        // snapshot — there is nothing stale to rebuild; acknowledge like
        // the reference does after its rebuild completes
        "true"
      case "runDecay" =>
        // no decay scheduler is wired in this engine (decay scoring is the
        // q_fn_decay_score batch surface) — the reference returns zeros
        // when decay is disabled (mutation_impl.go:325-331); same here
        resultObj(sel, Seq("nodesProcessed", "nodesDecayed", "averageDecayScore"),
          Map("nodesProcessed" -> "0", "nodesDecayed" -> "0",
            "averageDecayScore" -> "0.0"))
      case "clearAll" =>
        val phrase = sel.args.getOrElse("confirmPhrase",
          throw new IllegalArgumentException("clearAll needs confirmPhrase")).toString
        // the reference's exact guard phrase (mutation_impl.go:342)
        require(phrase == "DELETE ALL DATA", "invalid confirmation phrase")
        CypherWrite.execute(store, "MATCH (n) DETACH DELETE n")
        "true"
      case other =>
        throw new IllegalArgumentException(s"unsupported mutation field: $other")
    }
  }

  private val writeRe =
    """(?is).*\b(CREATE|MERGE|DELETE|REMOVE)\b.*|(?is).*\bSET\s.*""".r

  private def cypherField(sel: Sel, write: Boolean): String = {
    val input = sel.args.getOrElse("input",
      throw new IllegalArgumentException(s"${sel.name}(input:) is required"))
    val (query, params) = input match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        (mm.getOrElse("query", throw new IllegalArgumentException(
          s"${sel.name} input needs query")).toString,
          propsOf(mm, "parameters"))
      case s: String => (s, Map.empty[String, Any])
    }
    val df = (query, write) match {
      case (writeRe(_*), true) =>
        CypherWrite.execute(store, query, params).returned
          .getOrElse(spark.emptyDataFrame)
      case _ => Cypher.run(store.snapshot, query, params)
    }
    val cols = df.columns
    val rows = ResultJson.rowsJson(df).limit(maxRows).collect()
      .map(_.getString(0))
    s"""{"columns":[${cols.map(jstr).mkString(",")}],"rows":[${rows.mkString(",")}]}"""
  }

  // ======================================================= helpers =======

  private def jstr(s: String): String = quote(Option(s).getOrElse(""))

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}

object GraphQlServer {
  /** Authenticated but lacking the operation's permission → HTTP 403. */
  final class Forbidden(msg: String) extends RuntimeException(msg)
}
