package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cypher.{Cypher, CypherWrite}
import graft.graph.{GraphStore, PropertyGraph}

/** Planning a query must not write session-wide Spark conf: the map
  * semantics the APOC map functions need (LAST_WIN duplicate keys) come
  * from [[GraftSession]], so one spec's query cannot change the session
  * every later spec runs under.
  */
class SessionConfSpec extends AnyFunSuite {
  import TestSpark._

  test("planning APOC map/node updates leaves the session conf unchanged") {
    val g = GraphQueries.graph(spark, sf)
    val store = new GraphStore(PropertyGraph(
      g.nodes.filter("false").localCheckpoint(true),
      g.edges.filter("false").localCheckpoint(true)))
    CypherWrite.execute(store, "CREATE (:Person {key: 1, name: 'A'})")
    val before = spark.conf.getAll
    val row = Cypher.run(store.snapshot,
      """MATCH (a:Person {key: 1})
         RETURN apoc.map.merge(apoc.map.fromLists(['k'], [1]),
                               apoc.map.fromLists(['k'], [2]))['k'] AS merged,
                apoc.map.setPairs(apoc.map.fromLists(['k'], ['1']), [['k', '2']])['k'] AS paired,
                apoc.node.property(apoc.node.setProperty(a, 'x', 9), 'x') AS prop""")
      .collect().head
    assert(row.toSeq == Seq(2L, "2", "9"))
    assert(spark.conf.getAll == before)
  }

  test("SPARK_GRAFT_CPUS sizes the session: all cores by default, bad values named") {
    assert(GraftSession.cpus(Map.empty) == Runtime.getRuntime.availableProcessors())
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    for (bad <- Seq("four", "0", "-2", "")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
    }
  }
}
