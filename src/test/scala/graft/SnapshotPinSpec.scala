package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.CypherWrite
import graft.graph.{GraphStore, PropertyGraph}

/** The frames a written-to store hands its readers can be pinned — the
  * store's own folds pin exactly these frames — and a reader's snapshot
  * outlives the folds that follow it (the store never unpersists a base).
  */
class SnapshotPinSpec extends AnyFunSuite {
  import TestSpark._

  /** A WAL store over the TPC-H graph plus 300 memories with one `ABOUT`
    * edge each, opened with the server's default checkpoint cadence.
    */
  private def memoryStore(): GraphStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pin").toString
    val g = GraphQueries.graph(spark, sf)
    val store = new GraphStore(PropertyGraph(g.nodes, g.edges),
      registerGlobal = false, walDir = Some(dir))
    store.createNodes(MemoryRows.nodes(1L to 300L))
    store.createEdges(MemoryRows.about(1L to 300L, 100))
    store
  }

  private def memories(s: GraphStore): Long =
    s.snapshot.nodes.filter(array_contains(col("labels"), "Memory")).count()

  test("snapshot.nodes and snapshot.edges pin after DETACH DELETEs across the fold bound") {
    val store = memoryStore()
    val (nodes0, edges0) = (store.snapshot.nodes.count(), store.snapshot.edges.count())
    (0 until 6).foreach { r =>
      CypherWrite.execute(store, s"CREATE (m:Memory {key: ${1000 + r}, text: 'new $r'})")
      CypherWrite.execute(store, s"MATCH (m:Memory {key: ${10 + r}}) SET m.text = 'set $r'")
      CypherWrite.execute(store, s"MATCH (m:Memory {key: ${20 + r}}) DETACH DELETE m")
    }
    // one batch larger than the fold bound, then point deletes on top
    CypherWrite.execute(store, "MATCH (m:Memory) WHERE m.key >= 30 AND m.key < 300 DETACH DELETE m")
    (0 until 3).foreach(r =>
      CypherWrite.execute(store, s"MATCH (m:Memory {key: ${1 + r}}) DETACH DELETE m"))
    val nodes = store.snapshot.nodes.localCheckpoint(true)
    val edges = store.snapshot.edges.localCheckpoint(true)
    // 300 + 6 created − 6 − 270 − 3 deleted; every deleted memory had one edge
    assert(nodes.count() == nodes0 + 6 - 6 - 270 - 3)
    assert(edges.count() == edges0 - 6 - 270 - 3)
    assert(memories(store) == 27)
  }

  private def pins(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  test("a snapshot held across a fold still reads") {
    val store = memoryStore()
    val held = store.snapshot
    // the batch of 300 memories folded the node table into a pinned base
    val oldBase = pins(held.nodes)
    assert(oldBase.nonEmpty)
    // enough point writes to reach the WAL checkpoint, which folds
    (0 until 8).foreach(r =>
      CypherWrite.execute(store, s"MATCH (m:Memory {key: ${100 + r}}) SET m.text = 'x$r'"))
    assert((pins(store.snapshot.nodes) & oldBase).isEmpty, "no fold happened")
    assert(held.nodes.filter(array_contains(col("labels"), "Memory")).count() == 300)
    assert(memories(store) == 300)
  }
}
