package graft.sources

import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpExchange
import graft.functions.JsonImpls.{quote => jstr}

/** Request-validation middleware shared by every HTTP surface —
  * behavioral spec `/root/reference/pkg/security/validation.go` +
  * `middleware.go` (validated BEFORE any handler runs,
  * `middleware.go:44-88`) and the body-size bound of
  * `pkg/server/server.go:242` / `server_helpers.go:122`:
  *
  *   - every request-header value: ≤ [[MaxHeaderLength]] chars, no
  *     CR/LF/NUL (injection hardening, `validation.go:162-170`) → 400;
  *   - Authorization credential + `token`/`api_key` query params: token
  *     charset `[A-Za-z0-9-_.~+/=]`, ≤ [[MaxTokenLength]], none of the
  *     dangerous patterns (`validation.go:34-48`) → 401;
  *   - URL-shaped params (callback/redirect/redirect_uri/url/webhook):
  *     http(s) only, ≤ [[MaxUrlLength]], in production no localhost or
  *     private-range hosts (SSRF, `validation.go:51-100`) → 400;
  *   - declared Content-Length over [[MaxBodyBytes]] → 413 (the
  *     reference bounds reads with a LimitReader at 10 MB);
  *   - body-bearing method with a declared Content-Type outside the
  *     route's allowlist → 415.
  *
  * Refusals are the JSON `{"error":…}` shape the rest of this engine's
  * surfaces speak (the reference's middleware answers text/plain; shape
  * unified here, status codes preserved).
  */
object RequestValidation {

  val MaxTokenLength = 8192 // validation.go:13
  val MaxUrlLength = 2048 // validation.go:14
  val MaxHeaderLength = 4096 // validation.go:15
  val MaxBodyBytes: Long = 10L * 1024 * 1024 // server.go:370

  /** Body cap for the gRPC-Web surface: batch vector upserts routinely
    * exceed the 10 MB HTTP bound (the reference's LimitReader covers its
    * HTTP body reads, not gRPC — round-11 ADVICE), so the gRPC mounts get
    * the reference's MaxRequestSize-style larger bound.
    */
  val GrpcMaxBodyBytes: Long = 512L * 1024 * 1024

  /** The reference's NewSecurityMiddlewareWithConfig derives isDevelopment
    * from the configured environment (middleware.go): development / dev /
    * empty → dev mode; anything else (production, staging, …) enables the
    * production-only SSRF refusals in [[validateUrl]].
    */
  def isDev(environment: String): Boolean = {
    val e = Option(environment).getOrElse("").trim.toLowerCase
    e.isEmpty || e == "development" || e == "dev"
  }

  private val tokenValidChars = "^[a-zA-Z0-9\\-_.~+/=]+$".r
  private val dangerousToken =
    "(?i)[\\r\\n<>'\"&;(){}\\[\\]\\\\]|javascript:|data:|file:|vbscript:".r

  /** validation.go:34-48 — None = valid. */
  def validateToken(token: String): Option[String] =
    if (token == null || token.trim.isEmpty) Some("token must be a non-empty string")
    else if (token.length > MaxTokenLength)
      Some(s"token exceeds maximum length of $MaxTokenLength characters")
    else if (dangerousToken.findFirstIn(token).isDefined ||
      tokenValidChars.findFirstIn(token).isEmpty)
      Some("token contains invalid characters (possible injection attack)")
    else None

  /** validation.go:162-170. */
  def validateHeaderValue(value: String): Option[String] =
    if (value.length > MaxHeaderLength)
      Some(s"header value exceeds maximum length of $MaxHeaderLength characters")
    else if (value.exists(c => c == '\r' || c == '\n' || c.toInt == 0))
      Some("header value contains invalid control characters")
    else None

  private def isPrivateHost(host: String): Boolean = {
    val h = host.toLowerCase
    if (h == "localhost" || h == "[::1]" || h == "::1") true
    else try {
      val addr = java.net.InetAddress.getByName(host)
      addr.isLoopbackAddress || addr.isSiteLocalAddress ||
        addr.isLinkLocalAddress || addr.isAnyLocalAddress
    } catch { case _: Exception => false } // unresolvable: not our refusal
  }

  /** SSRF validation (validation.go:51-100): http(s) only, bounded
    * length; production additionally refuses plain http (unless allowed)
    * and localhost/private-range hosts.
    */
  def validateUrl(raw: String, isDevelopment: Boolean = true,
      allowHttp: Boolean = true): Option[String] =
    if (raw.length > MaxUrlLength)
      Some(s"URL exceeds maximum length of $MaxUrlLength characters")
    else if (raw.trim.isEmpty) Some("invalid URL format")
    else try {
      val u = java.net.URI.create(raw.trim)
      val scheme = Option(u.getScheme).map(_.toLowerCase).getOrElse("")
      if (scheme != "http" && scheme != "https")
        Some("only HTTP/HTTPS protocols are allowed")
      else if (scheme == "http" && !allowHttp && !isDevelopment)
        Some("only HTTPS URLs are allowed in production")
      else if (!isDevelopment && Option(u.getHost).exists(isPrivateHost))
        Some("private or localhost addresses are not allowed in production")
      else None
    } catch { case _: Exception => Some("invalid URL format") }

  /** Left = refusal: malformed percent-encoding must answer 400, never
    * let IllegalArgumentException escape into a 500 / dropped connection
    * (round-11 ADVICE; the JDK listener pre-rejects most malformed URIs,
    * but the middleware must not rely on every mount's transport doing so).
    */
  private[graft] def decodeQuery(raw: String): Either[String, Map[String, String]] =
    try Right(raw.split("&").iterator.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(
          java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) ->
            java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
        case _ => None
      }
    }.toMap)
    catch { case _: IllegalArgumentException => Left("invalid query string") }

  private def queryParams(ex: HttpExchange): Either[String, Map[String, String]] =
    Option(ex.getRequestURI.getRawQuery)
      .map(decodeQuery).getOrElse(Right(Map.empty))

  private val urlParams = Seq("callback", "redirect", "redirect_uri", "url", "webhook")
  private val bodyMethods = Set("POST", "PUT", "PATCH")

  /** Full pre-handler validation; Some((status, message)) = refuse. */
  def check(ex: HttpExchange, allowedTypes: Seq[String] = Nil,
      isDevelopment: Boolean = true,
      maxBody: Long = MaxBodyBytes): Option[(Int, String)] = {
    // 1. header hardening (middleware.go:46-55)
    val headers = ex.getRequestHeaders
    val it = headers.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val vs = e.getValue
      for (i <- 0 until vs.size()) {
        validateHeaderValue(vs.get(i)) match {
          case Some(msg) => return Some(400 -> s"invalid header ${e.getKey}: $msg")
          case None =>
        }
      }
    }
    // 2. Authorization credential shape (middleware.go:58-67)
    Option(headers.getFirst("Authorization")).foreach { a =>
      val parts = a.split(" ", 2)
      if (parts.length == 2) validateToken(parts(1).trim) match {
        case Some(msg) => return Some(401 -> s"invalid authorization token: $msg")
        case None =>
      }
    }
    // 3. token-shaped + URL-shaped query params (middleware.go:70-88)
    val params = queryParams(ex) match {
      case Left(msg) => return Some(400 -> msg)
      case Right(m) => m
    }
    Seq("token", "api_key").foreach { p =>
      params.get(p).filter(_.nonEmpty).foreach(validateToken(_).foreach(
        msg => return Some(401 -> s"invalid $p parameter: $msg")))
    }
    urlParams.foreach { p =>
      params.get(p).filter(_.nonEmpty).foreach(
        validateUrl(_, isDevelopment).foreach(
          msg => return Some(400 -> s"invalid $p parameter: $msg")))
    }
    // 4. declared body size (server_helpers.go:122 LimitReader bound)
    Option(headers.getFirst("Content-Length"))
      .flatMap(_.toLongOption).filter(_ > maxBody).foreach(n =>
        return Some(413 -> s"request body $n bytes exceeds limit of $maxBody"))
    // 5. content type, when the route declares an allowlist
    if (allowedTypes.nonEmpty && bodyMethods(ex.getRequestMethod))
      Option(headers.getFirst("Content-Type")).map(_.toLowerCase).foreach { ct =>
        if (!allowedTypes.exists(t => ct.startsWith(t)))
          return Some(415 -> s"unsupported content type: $ct")
      }
    None
  }

  /** Wrap a handler: refuse invalid requests before it runs. */
  def guard(allowedTypes: Seq[String] = Nil, isDevelopment: Boolean = true,
      maxBody: Long = MaxBodyBytes)(
      h: HttpExchange => Unit): HttpExchange => Unit = { ex =>
    check(ex, allowedTypes, isDevelopment, maxBody) match {
      case Some((status, msg)) =>
        // drain the request body (bounded) before refusing: the JDK
        // server otherwise resets the connection mid-request and the
        // client never sees the refusal status
        try {
          val in = ex.getRequestBody
          val buf = new Array[Byte](65536)
          var drained = 0L
          var n = in.read(buf)
          while (n >= 0 && drained <= maxBody + buf.length) {
            drained += n; n = in.read(buf)
          }
        } catch { case _: Exception => () }
        val bytes = s"""{"error":${jstr(msg)}}""".getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      case None => h(ex)
    }
  }

  /** JSON-speaking routes' Content-Type allowlist. */
  val JsonTypes: Seq[String] =
    Seq("application/json", "application/graphql", "text/plain",
      "application/x-www-form-urlencoded")

  /** gRPC-Web routes' allowlist. */
  val GrpcTypes: Seq[String] =
    Seq("application/grpc", "application/json")
}
