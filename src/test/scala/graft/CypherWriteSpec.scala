package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cypher.{Cypher, CypherWrite}
import graft.graph.GraphStore

/** Write-clause behaviors mirroring the reference's merge/create/set/delete
  * test style (`/root/reference/pkg/cypher/merge_test.go`,
  * `executor_mutations.go` suites): literal expectations over a fresh store.
  */
class CypherWriteSpec extends AnyFunSuite {
  import TestSpark._

  private def freshStore() = new GraphStore(GraphQueries.graph(spark, sf))

  test("CREATE nodes per UNWIND row, visible to subsequent reads") {
    val store = freshStore()
    val r = CypherWrite.execute(store,
      """UNWIND [9001, 9002, 9003] AS k
         CREATE (p:Person {key: k, name: toString(k), acctbal: 10.5})""")
    assert(r.nodesCreated == 3)
    val back = Cypher.run(store.snapshot,
      "MATCH (p:Person) RETURN p.key AS k, p.name AS nm ORDER BY k")
      .collect().map(row => (row.getLong(0), row.getString(1)))
    assert(back.toSeq == Seq((9001L, "9001"), (9002L, "9002"), (9003L, "9003")))
  }

  test("UNWIND over a list-of-maps parameter binds each map as a row") {
    val store = freshStore()
    val rows = Seq(
      Map("key" -> 9101L, "text" -> "alpha"),
      Map("text" -> "beta", "key" -> 9102L), // other key order, same row type
      Map("key" -> 9103L, "text" -> "gamma"))
    val r = CypherWrite.execute(store,
      "UNWIND $rows AS r CREATE (m:Memory {key: r.key, text: r.text})",
      Map("rows" -> rows))
    assert(r.nodesCreated == 3)
    val back = Cypher.run(store.snapshot,
      "MATCH (m:Memory) RETURN m.key AS k, m.text AS t ORDER BY k")
      .collect().map(row => (row.getLong(0), row.getString(1)))
    assert(back.toSeq == Seq((9101L, "alpha"), (9102L, "beta"), (9103L, "gamma")))
  }

  test("MERGE is create-if-missing with ON CREATE SET / ON MATCH SET") {
    val store = freshStore()
    CypherWrite.execute(store, "CREATE (p:Person {key: 1, name: 'alice'})")
    val r1 = CypherWrite.execute(store,
      """UNWIND [1, 2] AS k
         MERGE (p:Person {key: k})
         ON CREATE SET p.name = 'created'
         ON MATCH SET p.name = 'matched'""")
    assert(r1.nodesCreated == 1)
    val names = Cypher.run(store.snapshot,
      "MATCH (p:Person) RETURN p.key AS k, p.name AS nm ORDER BY k")
      .collect().map(row => (row.getLong(0), row.getString(1))).toMap
    assert(names(1L) == "matched" && names(2L) == "created")
    // idempotent second merge
    val r2 = CypherWrite.execute(store,
      "UNWIND [1, 2] AS k MERGE (p:Person {key: k})")
    assert(r2.nodesCreated == 0)
  }

  test("SET updates per-row values; REMOVE nulls the property") {
    val store = freshStore()
    CypherWrite.execute(store,
      "UNWIND [1, 2] AS k CREATE (p:Person {key: k, acctbal: 1.0})")
    val r = CypherWrite.execute(store,
      "MATCH (p:Person) SET p.acctbal = p.key * 100")
    assert(r.propertiesSet == 2)
    val vals = Cypher.run(store.snapshot,
      "MATCH (p:Person) RETURN p.key AS k, p.acctbal AS b ORDER BY k")
      .collect().map(row => row.getDouble(1)).toSeq
    assert(vals == Seq(100.0, 200.0))
    CypherWrite.execute(store, "MATCH (p:Person) REMOVE p.acctbal")
    val nulls = Cypher.run(store.snapshot,
      "MATCH (p:Person) WHERE p.acctbal IS NULL RETURN count(*) AS n")
      .collect()(0).getLong(0)
    assert(nulls == 2)
  }

  test("CREATE relationship between bound nodes; DETACH DELETE removes both") {
    val store = freshStore()
    CypherWrite.execute(store,
      "CREATE (a:Person {key: 1, name: 'a'}), (b:Person {key: 2, name: 'b'})")
    val r = CypherWrite.execute(store,
      """MATCH (a:Person {key: 1}) MATCH (b:Person {key: 2})
         CREATE (a)-[:KNOWS {weight: 2}]->(b)""")
    assert(r.relationshipsCreated == 1)
    val hop = Cypher.run(store.snapshot,
      "MATCH (a:Person)-[r:KNOWS]->(b:Person) RETURN a.key AS ak, b.key AS bk, r.weight AS w")
      .collect()
    assert(hop.length == 1 && hop(0).getLong(0) == 1 && hop(0).getLong(1) == 2
      && hop(0).getDouble(2) == 2.0)
    val d = CypherWrite.execute(store, "MATCH (p:Person) DETACH DELETE p")
    assert(d.nodesDeleted == 2 && d.relationshipsDeleted == 1)
    assert(Cypher.run(store.snapshot, "MATCH (p:Person) RETURN count(*) AS n")
      .collect()(0).getLong(0) == 0)
  }

  test("FOREACH applies its update clauses per list element") {
    val store = freshStore()
    val r = CypherWrite.execute(store,
      "FOREACH (k IN [501, 502, 503] | CREATE (p:Person {key: k, name: toString(k)}))")
    assert(r.nodesCreated == 3)
    val n = Cypher.run(store.snapshot, "MATCH (p:Person) RETURN count(*) AS n")
      .collect()(0).getLong(0)
    assert(n == 3)
  }

  test("A* finds the weighted shortest path to the customer's region") {
    import graft.algos.Algorithms
    val g = GraphQueries.graph(spark, sf)
    val regionId = Cypher.run(g,
      "MATCH (c:Customer {key: 1})-[:FROM]->(:Nation)-[:IN]->(r:Region) RETURN id(r) AS rid")
      .collect()(0).getString(0)
    val Some((path, cost)) = Algorithms.aStar(g, "Customer:1", regionId, maxHops = 3)
    assert(path.head == "Customer:1" && path.last == regionId)
    assert(path.length == 3 && cost == 2.0) // FROM (1.0) + IN (1.0)
    // unreachable target → None, not an error
    assert(Algorithms.aStar(g, "Customer:1", "Customer:2", maxHops = 3).isEmpty)
  }

  test("A* past the neighborhood cap falls back to the distributed relaxation") {
    import graft.algos.Algorithms
    val g = GraphQueries.graph(spark, sf)
    val regionId = Cypher.run(g,
      "MATCH (c:Customer {key: 1})-[:FROM]->(:Nation)-[:IN]->(r:Region) RETURN id(r) AS rid")
      .collect()(0).getString(0)
    val inMemory = Algorithms.aStar(g, "Customer:1", regionId, maxHops = 3)
    // a 0-edge cap trips immediately → the distributed weightedPath runs
    val fallback = Algorithms.aStar(g, "Customer:1", regionId, maxHops = 3,
      maxLocalEdges = 0)
    assert(fallback.isDefined)
    assert(fallback.get._2 == inMemory.get._2)     // same optimal cost
    assert(fallback.get._1 == inMemory.get._1)     // unique path here
    // unreachable target still returns None through the fallback
    assert(Algorithms.aStar(g, "Customer:1", "Customer:2", maxHops = 3,
      maxLocalEdges = 0).isEmpty)
  }

  test("plain DELETE refuses nodes with incident edges") {
    val store = freshStore()
    val victims = store.snapshot.nodes
      .filter(array_contains(col("labels"), "Region")).select("id")
    intercept[IllegalArgumentException](store.deleteNodes(victims, detach = false))
  }
}
