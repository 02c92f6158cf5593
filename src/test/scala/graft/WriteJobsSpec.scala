package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.CypherWrite
import graft.graph.{GraphStore, PropertyGraph}

/** A point write costs a handful of Spark jobs, whatever the store size:
  * the statements of an agent's memory turn (CREATE, SET, MERGE … ON
  * MATCH SET, a relationship CREATE, DETACH DELETE) on a WAL-backed store
  * holding the TPC-H graph plus 300 memories each launch at most 4 jobs.
  */
class WriteJobsSpec extends AnyFunSuite {
  import TestSpark._

  test("a point CREATE, SET, MERGE, link or DETACH DELETE each launches at most 4 jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-write-jobs").toString
    val g = GraphQueries.graph(spark, sf)
    // checkpoints stay out of reach: each statement is one delta commit
    val store = new GraphStore(PropertyGraph(g.nodes, g.edges),
      registerGlobal = false, walDir = Some(dir), compactEvery = 1000)
    store.createNodes(MemoryRows.nodes(1L to 300L))
    store.createEdges(MemoryRows.about(1L to 300L, 100))

    def round(r: Int): Seq[(String, Int)] = Seq(
      "create" -> s"CREATE (m:Memory {key: ${9000 + r}, text: 'new memory $r'})",
      "set" -> s"MATCH (m:Memory {key: ${10 + r}}) SET m.text = 'updated $r'",
      "merge" -> s"MERGE (m:Memory {key: ${20 + r}}) ON MATCH SET m.touched = $r",
      "link" -> s"MATCH (m:Memory {key: ${30 + r}}), (c:Customer {key: ${r + 1}}) CREATE (m)-[:ABOUT]->(c)",
      "delete" -> s"MATCH (m:Memory {key: ${40 + r}}) DETACH DELETE m"
    ).map { case (kind, q) => kind -> JobCount.of(CypherWrite.execute(store, q)) }

    round(0) // first statements on the freshly loaded store
    val counts = (1 to 3).flatMap(round)
    info(s"jobs per write: ${counts.mkString(", ")}")
    val over = counts.filter(_._2 > 4)
    assert(over.isEmpty, s"jobs per write: ${counts.mkString(", ")}")
    // every statement landed
    assert(store.snapshot.nodes.filter(col("id").startsWith("Memory:")).count() == 300 + 4 - 4)
    assert(store.snapshot.edges.filter(col("rel_type") === "ABOUT").count() ==
      300 + 4 - 4)
  }
}
