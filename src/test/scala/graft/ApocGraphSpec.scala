package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cypher.{Cypher, CypherWrite}
import graft.graph.{GraphStore, PropertyGraph}

/** apoc.community / apoc.label / apoc.graph / apoc.scoring /
  * apoc.load-import-export CALL surface (wave-3 families).
  */
class ApocGraphSpec extends AnyFunSuite {
  import TestSpark._

  // triangle A-B-C plus disconnected pair D-E
  private lazy val store: GraphStore = {
    val g = GraphQueries.graph(spark, sf)
    val s = new GraphStore(PropertyGraph(
      g.nodes.filter("false").localCheckpoint(true),
      g.edges.filter("false").localCheckpoint(true)))
    CypherWrite.execute(s,
      """CREATE (a:Person {key: 1, name: 'A'}), (b:Person {key: 2, name: 'B'}),
              (c:Person {key: 3, name: 'C'}), (d:Person {key: 4, name: 'D'}),
              (e:Person {key: 5, name: 'E'})""")
    for ((x, y) <- Seq((1, 2), (2, 3), (3, 1), (4, 5)))
      CypherWrite.execute(s,
        s"MATCH (x:Person {key: $x}) MATCH (y:Person {key: $y}) CREATE (x)-[:KNOWS]->(y)")
    s
  }

  private def rows(q: String): Seq[Seq[Any]] =
    Cypher.run(store.snapshot, q).collect().map(_.toSeq.toSeq).toSeq

  test("community family over the triangle + pair graph") {
    assert(rows("CALL apoc.community.totalTriangles('KNOWS') YIELD value RETURN value")
      .head == Seq(1L))
    val cc = rows("""CALL apoc.community.clusteringCoefficient('KNOWS')
                     YIELD id, coefficient RETURN id, coefficient ORDER BY id""")
    assert(cc.filter(r => Seq("Person:1", "Person:2", "Person:3").contains(r.head))
      .forall(_(1) == 1.0))
    assert(rows("CALL apoc.community.numComponents('KNOWS') YIELD value RETURN value")
      .head == Seq(2L))
    val comp = rows("""CALL apoc.community.connectedcomponents('KNOWS')
                       YIELD id, component RETURN component, count(*) AS n ORDER BY n""")
    assert(comp.map(_(1)) == Seq(2L, 3L))
    assert(rows("CALL apoc.community.density('KNOWS') YIELD density RETURN density")
      .head.head.asInstanceOf[Double] == 0.4) // 4 edges / C(5,2)=10
    // the heuristic members run the distributed Louvain with the method noted
    assert(rows("""CALL apoc.community.fastGreedy(5) YIELD method RETURN method LIMIT 1""")
      .head.head.toString.contains("fastGreedy"))
  }

  test("label procedures: read + write surface") {
    assert(rows("CALL apoc.label.list() YIELD label RETURN label").flatten == Seq("Person"))
    assert(rows("CALL apoc.label.count('Person') YIELD value RETURN value").head
      == Seq(5L))
    assert(rows("CALL apoc.label.stats() YIELD label, n RETURN label, n").head
      == Seq("Person", 5L))
    assert(rows("CALL apoc.label.nodes('Person') YIELD id RETURN count(*) AS n").head
      == Seq(5L))
    assert(rows("CALL apoc.label.validate('Good_1') YIELD valid RETURN valid").head
      == Seq(true))
    assert(rows("CALL apoc.label.validate('1bad') YIELD valid RETURN valid".replace("apoc ", "apoc"))
      .head == Seq(false))
    assert(rows("CALL apoc.label.format('hello world') YIELD value RETURN value").head
      == Seq("HelloWorld"))
    rows("CALL apoc.label.add('Person:1', 'Vip') YIELD updated RETURN updated")
    assert(rows("MATCH (n:Vip) RETURN n.name AS nm").flatten == Seq("A"))
    rows("CALL apoc.label.replace('Vip', 'Gold') YIELD updated RETURN updated")
    assert(rows("MATCH (n:Gold) RETURN count(*) AS n").head == Seq(1L))
    rows("CALL apoc.label.remove('Person:1', 'Gold') YIELD updated RETURN updated")
    assert(rows("MATCH (n:Gold) RETURN count(*) AS n").head == Seq(0L))
    val cmp = rows("""CALL apoc.label.compare('Person', 'Person')
                      YIELD both, only1 RETURN both, only1""").head
    assert(cmp == Seq(5L, 0L))
  }

  test("graph registry: from, stats, validate, subgraph, merge, clone") {
    rows("CALL apoc.graph.from('gx', 'Person', 'KNOWS') YIELD name RETURN name")
    assert(rows("CALL apoc.graph.stats('gx') YIELD nodes, relationships RETURN nodes, relationships")
      .head == Seq(5L, 4L))
    assert(rows("CALL apoc.graph.validate('gx') YIELD valid RETURN valid").head
      == Seq(true))
    assert(rows("CALL apoc.graph.nodes('gx') YIELD id RETURN count(*) AS n").head
      == Seq(5L))
    rows("CALL apoc.graph.subgraph('gx', 'Person:1,Person:2', 'gsub') YIELD name RETURN name")
    assert(rows("CALL apoc.graph.stats('gsub') YIELD nodes, relationships RETURN nodes, relationships")
      .head == Seq(2L, 1L))
    rows("CALL apoc.graph.clone('gsub', 'gclone') YIELD name RETURN name")
    rows("CALL apoc.graph.merge('gsub', 'gclone', 'gmerged') YIELD name RETURN name")
    assert(rows("CALL apoc.graph.stats('gmerged') YIELD nodes RETURN nodes").head
      == Seq(2L))
    rows("CALL apoc.graph.fromCypher('gcy', 'MATCH (p:Person) WHERE p.key <= 2 RETURN p.id AS id') YIELD nodes RETURN nodes")
  }

  test("scoring rank/topK over a Cypher result") {
    val r = rows("""CALL apoc.scoring.topK('MATCH (p:Person) RETURN p.id AS id, toFloat(p.key) AS score', 2)
                    YIELD id, rank RETURN id, rank ORDER BY rank""")
    assert(r == Seq(Seq("Person:5", 1), Seq("Person:4", 2)))
  }

  test("scoring rank: full ranking matches row_number semantics without a global window") {
    // the scalable sort+zipWithIndex path must produce exactly
    // row_number() OVER (ORDER BY score DESC, id ASC) — every node ranked
    val r = rows("""CALL apoc.scoring.rank('MATCH (p:Person) RETURN p.id AS id, toFloat(p.key) AS score')
                    YIELD id, rank RETURN id, rank ORDER BY rank""")
    assert(r == Seq(Seq("Person:5", 1), Seq("Person:4", 2), Seq("Person:3", 3),
      Seq("Person:2", 4), Seq("Person:1", 5)))
  }

  test("load/export file formats round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graftio").toString
    // csv export → csvstream load
    rows(s"CALL apoc.export.csvAll('$dir/nodes.csv') YIELD rows RETURN rows")
    assert(rows(s"CALL apoc.load.csvStream('$dir/nodes.csv') YIELD id RETURN count(*) AS n")
      .head == Seq(5L))
    // graphml export → import counts
    rows(s"CALL apoc.export.graphml('$dir/g.graphml') YIELD nodes RETURN nodes")
    assert(rows(s"CALL apoc.import.graphml('$dir/g.graphml') YIELD nodes, relationships RETURN nodes, relationships")
      .head == Seq(5L, 4L))
    // binary + directory listing
    assert(rows(s"CALL apoc.load.binary('$dir/g.graphml') YIELD size RETURN size > 0")
      .head == Seq(true))
    assert(rows(s"CALL apoc.load.directory('$dir') YIELD file RETURN file ORDER BY file")
      .flatten.nonEmpty)
    // xml file load
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.xml"),
      "<r><a>1</a></r>".getBytes("UTF-8"))
    assert(rows(s"CALL apoc.load.xmlSimple('$dir/t.xml') YIELD value RETURN value")
      .head == Seq("<r><a>1</a></r>"))
    // zero-egress connectors refuse informatively
    val e = intercept[Exception] {
      rows("CALL apoc.load.jdbc('jdbc:foo', 'SELECT 1') YIELD id RETURN id")
    }
    assert(e.getMessage.contains("zero-egress"))
  }

  // last: building its own store makes it GraphStore.currentStore, the
  // store the label procedures above write to
  test("component procedures converge on a chain longer than 10 hops") {
    val g = GraphQueries.graph(spark, sf)
    val chain = new GraphStore(PropertyGraph(
      g.nodes.filter("false").localCheckpoint(true),
      g.edges.filter("false").localCheckpoint(true)))
    CypherWrite.execute(chain, "UNWIND range(1, 15) AS i CREATE (:Step {key: i})")
    CypherWrite.execute(chain,
      "MATCH (a:Step), (b:Step) WHERE b.key = a.key + 1 CREATE (a)-[:NEXT]->(b)")
    def q(c: String) = Cypher.run(chain.snapshot, c).collect().map(_.toSeq.toSeq).toSeq
    assert(q("CALL apoc.community.numComponents('NEXT') YIELD value RETURN value")
      == Seq(Seq(1L)))
    assert(q("""CALL apoc.community.weaklyConnectedComponents('NEXT')
                YIELD id, component RETURN component, count(*) AS n""").map(_(1))
      == Seq(15L))
  }
}
