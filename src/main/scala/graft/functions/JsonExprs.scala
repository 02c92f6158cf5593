package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** JVM replays of the reference's JSON manipulation functions
  * (`/root/reference/apoc/json/json.go`). Rendering mirrors Go's
  * `encoding/json.Marshal`: object keys SORTED alphabetically, compact
  * separators, integral floats printed without a decimal point ("2.0" in →
  * "2" out, because Go unmarshals every number to float64 and re-marshals
  * shortest-form). Strings use Jackson escaping (Go additionally escapes
  * `<>&` as <…; not replayed — disclosed).
  *
  * These run as native Catalyst expressions (CodegenFallback — tree
  * manipulation, not hot-loop arithmetic); pure builtins cover the rest of
  * the family (parse/compact/type/values via VariantType in Planner).
  */
object JsonImpls {
  private val mapper = new ObjectMapper()

  def parse(s: String): Option[JsonNode] =
    try Some(mapper.readTree(s)) catch { case _: Exception => None }

  /** Go-style compact rendering: sorted keys, shortest numbers. */
  def renderGo(n: JsonNode): String = {
    val sb = new StringBuilder
    render(n, sb)
    sb.toString
  }

  private def renderNumber(n: JsonNode): String =
    if (n.isIntegralNumber) n.asLong().toString
    else {
      val d = n.asDouble()
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    }

  private def render(n: JsonNode, sb: StringBuilder): Unit = n match {
    case o: ObjectNode =>
      sb.append('{')
      val keys = o.fieldNames().asScala.toSeq.sorted
      var first = true
      keys.foreach { k =>
        if (!first) sb.append(',')
        first = false
        sb.append(quote(k)).append(':')
        render(o.get(k), sb)
      }
      sb.append('}')
    case a: ArrayNode =>
      sb.append('[')
      var first = true
      a.elements().asScala.foreach { e =>
        if (!first) sb.append(',')
        first = false
        render(e, sb)
      }
      sb.append(']')
    case _ if n.isTextual => sb.append(quote(n.asText()))
    case _ if n.isNumber => sb.append(renderNumber(n))
    case _ if n.isBoolean => sb.append(n.asBoolean().toString)
    case _ => sb.append("null")
  }

  /** JSON string literal for `s`: quote, backslash and every control
    * character escaped. The one JSON string escaper of the engine. */
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Go MarshalIndent(data, "", "  "): 2-space indent, `"key": value`. */
  def renderPretty(n: JsonNode): String = {
    val sb = new StringBuilder
    pretty(n, sb, 0)
    sb.toString
  }

  private def pretty(n: JsonNode, sb: StringBuilder, depth: Int): Unit = n match {
    case o: ObjectNode if o.size() > 0 =>
      sb.append("{\n")
      val keys = o.fieldNames().asScala.toSeq.sorted
      val pad = "  " * (depth + 1)
      var first = true
      keys.foreach { k =>
        if (!first) sb.append(",\n")
        first = false
        sb.append(pad).append(quote(k)).append(": ")
        pretty(o.get(k), sb, depth + 1)
      }
      sb.append('\n').append("  " * depth).append('}')
    case o: ObjectNode => sb.append("{}")
    case a: ArrayNode if a.size() > 0 =>
      sb.append("[\n")
      val pad = "  " * (depth + 1)
      var first = true
      a.elements().asScala.foreach { e =>
        if (!first) sb.append(",\n")
        first = false
        sb.append(pad)
        pretty(e, sb, depth + 1)
      }
      sb.append('\n').append("  " * depth).append(']')
    case a: ArrayNode => sb.append("[]")
    case _ if n.isTextual => sb.append(quote(n.asText()))
    case _ if n.isNumber => sb.append(renderNumber(n))
    case _ if n.isBoolean => sb.append(n.asBoolean().toString)
    case _ => sb.append("null")
  }

  /** flattenHelper (json.go:405): nested OBJECTS become dotted keys;
    * arrays and scalars are leaf values.
    */
  def flatten(n: JsonNode): JsonNode = {
    val out = mapper.createObjectNode()
    def walk(v: JsonNode, prefix: String): Unit = v match {
      case o: ObjectNode =>
        o.fields().asScala.foreach { e =>
          val key = if (prefix.isEmpty) e.getKey else s"$prefix.${e.getKey}"
          e.getValue match {
            case nested: ObjectNode => walk(nested, key)
            case leaf => out.set[com.fasterxml.jackson.databind.JsonNode](key, leaf)
          }
        }
      case other => if (prefix.nonEmpty) out.set[com.fasterxml.jackson.databind.JsonNode](prefix, other)
    }
    walk(n, "")
    out
  }

  /** Unflatten (json.go:256): split keys on '.', rebuild nesting. */
  def unflatten(n: JsonNode): JsonNode = n match {
    case o: ObjectNode =>
      val out = mapper.createObjectNode()
      o.fields().asScala.foreach { e =>
        val parts = e.getKey.split("\\.")
        var cur = out
        parts.dropRight(1).foreach { p =>
          cur = cur.get(p) match {
            case existing: ObjectNode => existing
            case _ =>
              val child = mapper.createObjectNode()
              cur.set[com.fasterxml.jackson.databind.JsonNode](p, child)
              child
          }
        }
        cur.set[com.fasterxml.jackson.databind.JsonNode](parts.last, e.getValue)
      }
      out
    case other => other
  }

  private def parsePath(path: String): Seq[String] = {
    val p = path.stripPrefix("$.").stripPrefix("$")
    if (p.isEmpty) Nil else p.split("\\.").toSeq
  }

  /** setPath (json.go:372): objects only, auto-creating intermediates. */
  def set(n: JsonNode, path: String, value: JsonNode): JsonNode = {
    val parts = parsePath(path)
    if (parts.isEmpty) return n
    n match {
      case o: ObjectNode =>
        var cur = o
        parts.dropRight(1).foreach { p =>
          cur = cur.get(p) match {
            case existing: ObjectNode => existing
            case _ =>
              val child = mapper.createObjectNode()
              cur.set[com.fasterxml.jackson.databind.JsonNode](p, child)
              child
          }
        }
        cur.set[com.fasterxml.jackson.databind.JsonNode](parts.last, value)
        n
      case other => other
    }
  }

  /** deletePath (json.go:389): no-op when intermediates are missing. */
  def delete(n: JsonNode, path: String): JsonNode = {
    val parts = parsePath(path)
    if (parts.isEmpty) return n
    n match {
      case o: ObjectNode =>
        var cur: ObjectNode = o
        var ok = true
        parts.dropRight(1).foreach { p =>
          if (ok) cur.get(p) match {
            case nested: ObjectNode => cur = nested
            case _ => ok = false
          }
        }
        if (ok) cur.remove(parts.last)
        n
      case other => other
    }
  }

  def sparkValueToNode(v: Any): JsonNode = v match {
    case null => mapper.nullNode()
    case s: UTF8String =>
      val str = s.toString
      parse(str).filter(n => n.isObject || n.isArray).getOrElse(
        mapper.getNodeFactory.textNode(str))
    case b: Boolean => mapper.getNodeFactory.booleanNode(b)
    case i: Int => mapper.getNodeFactory.numberNode(i.toLong)
    case l: Long => mapper.getNodeFactory.numberNode(l)
    case d: Double => mapper.getNodeFactory.numberNode(d)
    case f: Float => mapper.getNodeFactory.numberNode(f.toDouble)
    case other => mapper.getNodeFactory.textNode(other.toString)
  }
}

/** 1-arg JSON op: op ∈ pretty | flatten | unflatten. Invalid JSON passes
  * through unchanged (reference behavior).
  */
case class JsonUnaryExpr(child: Expression, op: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val out = JsonImpls.parse(s) match {
      case None => s
      case Some(n) => op match {
        case "pretty" => JsonImpls.renderPretty(n)
        case "flatten" => JsonImpls.renderGo(JsonImpls.flatten(n))
        case _ => JsonImpls.renderGo(JsonImpls.unflatten(n))
      }
    }
    UTF8String.fromString(out)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** apoc.json.set(json, '$.a.b', value). */
case class JsonSetExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(j: Any, p: Any, v: Any): Any = {
    val s = j.asInstanceOf[UTF8String].toString
    val out = JsonImpls.parse(s) match {
      case None => s
      case Some(n) => JsonImpls.renderGo(
        JsonImpls.set(n, p.asInstanceOf[UTF8String].toString,
          JsonImpls.sparkValueToNode(v)))
    }
    UTF8String.fromString(out)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** apoc.json.delete(json, '$.a.b'). */
case class JsonDeleteExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(j: Any, p: Any): Any = {
    val s = j.asInstanceOf[UTF8String].toString
    val out = JsonImpls.parse(s) match {
      case None => s
      case Some(n) => JsonImpls.renderGo(
        JsonImpls.delete(n, p.asInstanceOf[UTF8String].toString))
    }
    UTF8String.fromString(out)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
