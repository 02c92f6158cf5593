package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.{Algorithms, GraphXAlgos}

class AlgoSpec extends AnyFunSuite {
  import TestSpark._

  lazy val g = GraphQueries.graph(spark, sf)

  test("wcc: an order shares a component with every part it contains") {
    val comp = GraphXAlgos.wcc(g, Some("CONTAINS"))
    val edges = g.edgesByType("CONTAINS").select("src", "dst").limit(50)
    val withComps = edges
      .join(comp.toDF("src", "c_src"), "src")
      .join(comp.toDF("dst", "c_dst"), "dst")
    assert(withComps.filter(col("c_src") =!= col("c_dst")).count() == 0)
  }

  test("GraphX wcc agrees exactly with DataFrame wcc") {
    // the graph entry and the pair-list (DataFrame) entry that CALL
    // apoc.community.weaklyconnectedcomponents runs, both against the
    // union-find reference, component = min string id
    val es = g.edgesByType("SUPPLIES").select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val rep = perfbench.Checks.components(es.flatMap(e => Seq(e._1, e._2)).distinct, es)
    val mins = rep.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    val want = rep.map { case (v, r) => v -> mins(r) }
    val a = GraphXAlgos.wccPairs(graft.cypher.ApocGraphProcs.pairs(g, Some("SUPPLIES")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val b = GraphXAlgos.wcc(g, Some("SUPPLIES")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(b == want)
    assert(a == want)
  }

  test("wcc on the full graph converges to one giant component") {
    val comp = GraphXAlgos.wcc(g, None)
    // every node is labeled (an isolated one as its own singleton) ...
    assert(comp.count() == g.nodes.count())
    // ... and every edge endpoint lands in the one giant component
    val endpoints = g.edges.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
    assert(comp.join(endpoints, "id").select("component").distinct().count() == 1)
  }

  test("pagerank: ranks positive; high-in-degree parts outrank leaf orders") {
    val pr = GraphXAlgos.pageRank(g, 3)
    assert(pr.filter(col("r") <= 0).count() == 0)
    val avgByPrefix = pr
      .withColumn("kind", split(col("id"), ":").getItem(0))
      .groupBy("kind").agg(avg("r").as("avg_r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // parts absorb rank from many orders; orders only get 1/|orders| of a customer
    assert(avgByPrefix("Part") > avgByPrefix("Order"))
  }

  test("label propagation produces labels for every node in the edge set") {
    val labels = GraphXAlgos.labelPropagation(g, 2, Some("SUPPLIES"))
    val nInEdges = g.edgesByType("SUPPLIES")
      .select(explode(array(col("src"), col("dst"))).as("id")).distinct().count()
    assert(labels.count() == nInEdges)
  }

  test("GraphX label propagation matches the DataFrame variant exactly") {
    val df = LpaReference.labelPropagation(g, 2, Some("SUPPLIES"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val gx = graft.algos.GraphXAlgos.labelPropagation(g, 2, Some("SUPPLIES"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(df == gx)
  }

  test("GraphX louvain matches the DataFrame variant (communities + modularity)") {
    // the DataFrame Louvain is weighted reference LPA + the same modularity
    val dfC = LpaReference.labelPropagation(g, 2, Some("CONTAINS"), weighted = true)
    val dfQ = Algorithms.modularity(g, dfC, Some("CONTAINS"))
    val (gxC, gxQ) = graft.algos.GraphXAlgos.louvain(g, 2, Some("CONTAINS"))
    val a = dfC.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val b = gxC.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(a == b)
    assert(math.abs(dfQ.collect()(0).getDouble(0) - gxQ.collect()(0).getDouble(0)) < 1e-9)
  }

  test("louvain modularity is finite and communities are non-trivial") {
    val (comms, q) = GraphXAlgos.louvain(g, 2, Some("CONTAINS"))
    val mod = q.collect()(0).getDouble(0)
    assert(!mod.isNaN && mod > -1 && mod < 1)
    assert(comms.select("label").distinct().count() > 1)
  }

  test("fastRP is deterministic and unit-ish normalized") {
    val a = Algorithms.fastRP(g, dim = 8, iterWeights = Seq(0.0, 1.0), relType = Some("SUPPLIES"))
    val b = Algorithms.fastRP(g, dim = 8, iterWeights = Seq(0.0, 1.0), relType = Some("SUPPLIES"))
    val am = a.collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val bm = b.collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(am == bm)
    // non-isolated nodes: embedding norm ≈ 1
    val norms = am.values.map(v => math.sqrt(v.map(x => x * x).sum)).filter(_ > 0)
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-9))
  }

  test("dijkstra distances are monotone non-negative and source is 0") {
    val d = Algorithms.dijkstra(g, "Customer:1", 2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(d("Customer:1") == 0.0)
    assert(d.values.forall(_ >= 0.0))
  }

  test("GraphX pagerank agrees with the DataFrame variant on the star fixture") {
    val fix = graft.graph.PropertyGraph(g.nodes,
      g.edgesByType("PLACED")
        .filter(split(col("src"), ":").getItem(1).cast("long") <= 1000L))
    val gx = graft.algos.GraphXAlgos.pageRank(fix, 3, Some("PLACED")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gx.nonEmpty)
    // the double power iteration, at the old double-path tolerance
    val arcs = fix.edges.select("src", "dst").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val want = perfbench.Checks.pageRank(arcs.flatMap(a => Seq(a._1, a._2)).distinct, arcs, 3)
    gx.foreach { case (id, r) => assert(math.abs(want(id) - r) < 1e-9, id) }
    // the DataFrame variant is the DECIMAL oracle path, rounded to 6 places
    val df = Algorithms.pageRank(fix, 3).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    gx.foreach { case (id, r) => assert(math.abs(df(id) - r) <= 5e-7 + 1e-12, id) }
  }

  test("ctx width is data-derived, not a blanket session width") {
    import graft.algos.GraphXAlgos
    // pure-function envelope: tiny → 1, mid → scales, huge → capped
    assert(GraphXAlgos.widthFor(0L, 32) == 1)
    assert(GraphXAlgos.widthFor(100000L, 32) == 1)
    assert(GraphXAlgos.widthFor(1340000L, 32) == 11) // sf0.1 full graph
    // round 12: the ceiling is the MaxWidth backstop, no longer 2·cores —
    // per-partition size stays constant as data grows (the sf3 OOM fix)
    assert(GraphXAlgos.widthFor(Long.MaxValue / 4, 32) == GraphXAlgos.MaxWidth)
    // the sf0.001 SUPPLIES projection is fixture-sized: its ctx must run
    // at ONE partition — a reintroduced blanket defaultParallelism width
    // (the round-5 wcc_star 0.45 → 11.8 s regression) turns this red
    val c = GraphXAlgos.ctxFor(g, Seq("SUPPLIES"))
    assert(c.edges.getNumPartitions == 1)
    // the kernel's CSR too: its pinned result keeps the CSR partitioning
    assert(GraphXAlgos.labelPropagation(g, 0, Some("SUPPLIES")).rdd.getNumPartitions == 1)
  }
}
