package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.GraphXAlgos
import graft.graph.PropertyGraph

/** Differential spec for the component loops: `GraphXAlgos.wcc` and
  * `GraphXAlgos.scc` (and `Dedup.dedupClusters`, the pair-input WCC the
  * CALL surface runs) against plain-Scala references — union-find for
  * WCC, Tarjan for SCC — over seeded generated graphs. Every comparison
  * is the full (id → component) map, component = min string id. Ids are
  * unpadded (`n7` > `n10` as strings), so a numeric min would not pass.
  */
class ComponentDiffSpec extends AnyFunSuite {
  import TestSpark._

  private type Edges = Seq[(String, String)]

  private def graph(nodes: Seq[String], edges: Edges): PropertyGraph = {
    val sp = spark
    import sp.implicits._
    val n = sp.sparkContext.parallelize(nodes, 4).toDF("id")
      .withColumn("labels", array(lit("N")))
    val e = sp.sparkContext.parallelize(edges, 4).toDF("src", "dst")
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("rel_type", lit("E"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    PropertyGraph(n, e)
  }

  private def comps(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** Map equality that reports a few differing nodes, not the whole map
    * (a failure message holding two 170k-entry maps takes minutes).
    */
  private def assertSame(got: Map[String, String], want: Map[String, String],
      what: String): Unit = {
    val bad = (got.keySet ++ want.keySet).toSeq.sorted
      .filter(k => got.get(k) != want.get(k))
    assert(bad.isEmpty, s"$what: ${bad.size} nodes differ, e.g. " +
      bad.take(5).map(k => s"$k got ${got.get(k)} want ${want.get(k)}").mkString("; "))
  }

  /** Relabel a node → representative map with each class's min id. */
  private def byMin(rep: Map[String, String]): Map[String, String] = {
    val mins = rep.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    rep.map { case (v, r) => v -> mins(r) }
  }

  private def wccRef(nodes: Seq[String], edges: Edges): Map[String, String] =
    byMin(perfbench.Checks.components(nodes, edges))

  /** Tarjan's SCC, iterative (a rings-with-tails graph of 150k nodes
    * would overflow a recursive walk's stack on long paths).
    */
  private def sccRef(nodes: Seq[String], edges: Edges): Map[String, String] = {
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.size
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    edges.foreach { case (a, b) => adj(idx(a)) += idx(b) }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val comp = new Array[Int](n)
    val stack = mutable.Stack.empty[Int]
    val work = mutable.Stack.empty[(Int, Int)] // (vertex, next edge)
    var counter = 0
    var nComp = 0
    def visit(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack.push(v); onStack(v) = true
      work.push((v, 0))
    }
    for (s <- 0 until n if index(s) < 0) {
      visit(s)
      while (work.nonEmpty) {
        val (v, i) = work.pop()
        if (i < adj(v).size) {
          work.push((v, i + 1))
          val w = adj(v)(i)
          if (index(w) < 0) visit(w)
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          if (low(v) == index(v)) {
            var w = -1
            while (w != v) { w = stack.pop(); onStack(w) = false; comp(w) = nComp }
            nComp += 1
          }
          if (work.nonEmpty) {
            val u = work.top._1
            low(u) = math.min(low(u), low(v))
          }
        }
      }
    }
    byMin(nodes.indices.map(i => nodes(i) -> comp(i).toString).toMap)
  }

  /** Full-graph wcc, scc and dedupClusters against the references. */
  private def check(nodes: Seq[String], edges: Edges): Unit = {
    val g = graph(nodes, edges)
    assertSame(comps(GraphXAlgos.wcc(g)), wccRef(nodes, edges), "wcc")
    assertSame(comps(GraphXAlgos.scc(g)), sccRef(nodes, edges), "scc")
    // the pair-input WCC labels the endpoints of its non-loop pairs
    val pairNodes = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a, b) }.toSet
    val dedup = comps(graft.operators.Dedup.dedupClusters(
      graft.cypher.ApocGraphProcs.pairs(g, None)))
    assertSame(dedup, wccRef(nodes, edges).filter(kv => pairNodes(kv._1)), "dedupClusters")
  }

  private def ids(n: Int): Seq[String] = (0 until n).map(i => s"n$i")

  test("an empty typed projection labels nothing") {
    val g = graph(ids(5), Seq(("n0", "n1"), ("n1", "n2")))
    assert(GraphXAlgos.wcc(g, Some("NONE")).count() == 0)
    assert(GraphXAlgos.scc(g, Some("NONE")).count() == 0)
  }

  test("nodes without edges: every node is its own component") {
    val nodes = ids(12)
    val single = nodes.map(v => v -> v).toMap
    val g = graph(nodes, Seq.empty)
    assert(comps(GraphXAlgos.wcc(g)) == single)
    assert(comps(GraphXAlgos.scc(g)) == single)
  }

  test("isolated nodes, self-loops and parallel edges") {
    val rnd = new scala.util.Random(20261019L)
    val nodes = ids(80)
    // nodes n60..n79 stay isolated; n0..n59 get random arcs, every fifth
    // repeated, plus a self-loop on every seventh node
    val arcs = Seq.fill(90)((s"n${rnd.nextInt(60)}", s"n${rnd.nextInt(60)}"))
    val edges = arcs ++ arcs.zipWithIndex.collect { case (e, i) if i % 5 == 0 => e } ++
      (0 until 60 by 7).map(i => (s"n$i", s"n$i"))
    check(nodes, edges)
  }

  test("hub with in-, out- and two-way spokes") {
    val rnd = new scala.util.Random(7L)
    val nodes = "hub" +: ids(400)
    val edges = ids(400).flatMap { v =>
      rnd.nextInt(3) match {
        case 0 => Seq(("hub", v))
        case 1 => Seq((v, "hub"))
        case _ => Seq(("hub", v), (v, "hub"))
      }
    }
    check(nodes, edges)
  }

  test("many small components") {
    val rnd = new scala.util.Random(42L)
    var next = 0
    val groups = Seq.fill(600) {
      val k = 1 + rnd.nextInt(6)
      val g = (next until next + k).map(i => s"n$i")
      next += k
      g
    }
    val edges = groups.flatMap { g =>
      Seq.fill(g.size + rnd.nextInt(3))((g(rnd.nextInt(g.size)), g(rnd.nextInt(g.size))))
    }
    check(rnd.shuffle(groups.flatten), edges)
  }

  /** Level i is the 2-cycle h_i <-> x_i, with x_i -> x_(i+1) and
    * h_i -> x_j for every later j.
    */
  private def sccDag(k: Int): (Seq[String], Edges) = {
    val hubs = (0 until k).map(i => s"h$i")
    val xs = (0 until k).map(i => s"x$i")
    val edges = (0 until k).flatMap { i =>
      Seq((hubs(i), xs(i)), (xs(i), hubs(i))) ++
        (if (i + 1 < k) Seq((xs(i), xs(i + 1))) else Nil) ++
        (i + 1 until k).map(j => (hubs(i), xs(j)))
    }
    (hubs ++ xs, edges)
  }

  test("an SCC DAG 66 levels deep") {
    // Hubs come first in node order, so h_i holds the min ctx idx of what
    // is left and colors every later level in one hop: each outer round
    // of the distributed loop peels exactly one level, 66 rounds in all,
    // unless the driver endgame takes the residual first
    val (nodes, edges) = sccDag(66)
    check(nodes, edges)
  }

  test("an SCC DAG 70 levels deep finishes in one driver endgame") {
    // 70 outer rounds in the distributed loop; the residual (140 nodes,
    // 2,624 arcs) fits under EndgamePairCap, so Tarjan finishes it
    val (nodes, edges) = sccDag(70)
    val t0 = System.nanoTime()
    assertSame(comps(GraphXAlgos.scc(graph(nodes, edges))), sccRef(nodes, edges), "scc")
    assert(System.nanoTime() - t0 < 30e9, "the endgame should take seconds, not a round per level")
  }

  test("scc through distributed rounds only (driver endgame off)") {
    val rnd = new scala.util.Random(3L)
    val nodes = ids(120)
    // rings of 5 joined into a DAG by forward chords, a few random chords
    // merging rings, self-loops and repeated arcs
    val rings = (0 until 120 by 5).flatMap(b => (0 until 5).map(i => (s"n${b + i}", s"n${b + (i + 1) % 5}")))
    val chords = Seq.fill(50) { val a = rnd.nextInt(115); (s"n$a", s"n${a + 1 + rnd.nextInt(119 - a)}") } ++
      Seq.fill(4)((s"n${rnd.nextInt(120)}", s"n${rnd.nextInt(120)}"))
    val edges = rings ++ chords ++ chords.take(10) ++ Seq(("n0", "n0"), ("n7", "n7"))
    val (dagNodes, dagEdges) = sccDag(6)
    sys.props("graft.test.endgamePairCap") = "0"
    try {
      assertSame(comps(GraphXAlgos.scc(graph(nodes, edges))), sccRef(nodes, edges), "scc")
      assertSame(comps(GraphXAlgos.scc(graph(dagNodes, dagEdges))),
        sccRef(dagNodes, dagEdges), "scc on a 6-level DAG")
    } finally sys.props.remove("graft.test.endgamePairCap")
  }

  test("scc across multiple ctx partitions: 14,000 rings with DAG tails") {
    // 14,000 ten-node rings (140,000 ring arcs) put the contracted edge
    // count past EdgesPerPartition, so the ctx and the CSR adjacency span
    // ≥ 2 partitions; every ring feeds a two-node DAG tail, and every
    // even ring has one arc into the next ring (an SCC-DAG of depth 2)
    val rings = 14000
    val nodes = (0 until rings).flatMap { r =>
      (0 until 10).map(i => s"r$r.$i") ++ Seq(s"t$r.a", s"t$r.b")
    }
    val edges = (0 until rings).flatMap { r =>
      (0 until 10).map(i => (s"r$r.$i", s"r$r.${(i + 1) % 10}")) ++
        Seq((s"r$r.3", s"t$r.a"), (s"t$r.a", s"t$r.b"), (s"r$r.7", s"t$r.b")) ++
        (if (r % 2 == 0) Seq((s"r$r.5", s"r${r + 1}.2")) else Nil)
    }
    val g = graph(nodes, edges)
    val c = GraphXAlgos.ctxFor(g, Nil)
    assert(c.edges.getNumPartitions >= 2, "fixture must span multiple ctx partitions")
    assert(c.csrByDir("out").getNumPartitions >= 2, "and multiple CSR partitions")
    assertSame(comps(GraphXAlgos.scc(g)), sccRef(nodes, edges), "scc")
    assertSame(comps(GraphXAlgos.wcc(g)), wccRef(nodes, edges), "wcc")
  }
}
