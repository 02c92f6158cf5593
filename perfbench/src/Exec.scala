package perfbench

import org.apache.spark.sql.Row

import graft.cypher.{Cypher, CypherWrite, Parser, Planner}
import graft.graph.{GraphStore, PropertyGraph}

/** Runs statements through the engine's public entry points and records
  * each as an [[Op]]. Untraced, a query is `Cypher.run(...).collect()`;
  * traced, the same calls are split into their phases: `Parser.parse`,
  * `Planner.plan` (together exactly `Cypher.run`), Catalyst planning
  * (`queryExecution.executedPlan`) and execution (`collect`). A write is
  * one `CypherWrite.execute` span either way.
  *
  * While `recording` is off (warm-up), statements run and return results
  * but leave no [[Op]].
  */
final class Exec(val tracer: Tracer) {
  @volatile var recording = true

  private def fail(kind: String, q: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $kind failed: ${String.valueOf(e.getMessage).take(300)} :: ${q.take(200)}")

  /** Time `body` as one op; a thrown exception counts it as failed. */
  private def op[A](kind: String, q: String, tag: String)(
      body: => (A, Map[String, Double])): Option[A] = {
    val t0 = System.nanoTime()
    def record(phases: Map[String, Double], failed: Boolean): Unit =
      if (recording) tracer.record(Op(kind, (System.nanoTime() - t0) / 1e6, phases, tag, failed))
    try {
      val (r, phases) = body
      record(phases, failed = false)
      Some(r)
    } catch {
      case e: Exception =>
        fail(kind, q, e)
        record(Map.empty, failed = true)
        None
    }
  }

  def query(kind: String, g: PropertyGraph, q: String,
      tag0: String = ""): Option[Array[Row]] = {
    val tag = if (tag0.nonEmpty) tag0 else tracer.nextTag(kind)
    op(kind, q, tag) {
      if (!tracer.traced) (Cypher.run(g, q).collect(), Map.empty[String, Double])
      else {
        val (ast, parseMs) = tracer.span(tag, "parse")(Parser.parse(q))
        val (df, planMs) = tracer.span(tag, "plan")(Planner.plan(g, ast, Map.empty))
        val (_, catMs) = tracer.span(tag, "catalyst")(df.queryExecution.executedPlan)
        val (rows, execMs) = tracer.span(tag, "exec")(df.collect())
        (rows, Map("parse" -> parseMs, "plan" -> planMs, "catalyst" -> catMs, "exec" -> execMs))
      }
    }
  }

  def write(kind: String, store: GraphStore, q: String): Option[CypherWrite.WriteResult] = {
    val tag = tracer.nextTag(kind)
    op(kind, q, tag) {
      val (r, ms) = tracer.span(tag, "write")(CypherWrite.execute(store, q))
      (r, if (tracer.traced) Map("write" -> ms) else Map.empty[String, Double])
    }
  }
}
