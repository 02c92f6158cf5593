package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.GraphXAlgos
import graft.graph.PropertyGraph

/** Differential spec for the CSR kernel behind `GraphXAlgos.pageRank`
  * and `GraphXAlgos.labelPropagation`, over seeded generated graphs:
  * PageRank against power iteration (`perfbench.Checks.pageRank`), both
  * label-propagation flavours against the per-round DataFrame reference
  * (`LpaReference`). Every comparison is the full (id → value) map.
  */
class KernelDiffSpec extends AnyFunSuite {
  import TestSpark._

  /** (src, dst, rel_type, weight) */
  private type Edges = Seq[(String, String, String, Double)]

  private def graph(nodes: Seq[String], edges: Edges): PropertyGraph = {
    val sp = spark
    import sp.implicits._
    val n = sp.sparkContext.parallelize(nodes, 4).toDF("id")
      .withColumn("labels", array(lit("N")))
    val e = sp.sparkContext.parallelize(edges, 4).toDF("src", "dst", "rel_type", "weight")
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("properties", map_from_arrays(array(), array()))
    PropertyGraph(n, e)
  }

  private def pairs[V](df: org.apache.spark.sql.DataFrame): Map[String, V] =
    df.collect().map(r => r.getString(0) -> r.getAs[V](1)).toMap

  private def assertSame[V](got: Map[String, V], want: Map[String, V], what: String): Unit = {
    val bad = (got.keySet ++ want.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k))
    assert(bad.isEmpty, s"$what: ${bad.size} nodes differ, e.g. " +
      bad.take(5).map(k => s"$k got ${got.get(k)} want ${want.get(k)}").mkString("; "))
  }

  /** The kernel against both references on the projection `relType`
    * (None = the full graph, which also labels and ranks isolated nodes).
    */
  private def check(nodes: Seq[String], edges: Edges, relType: Option[String] = None,
      iters: Int = 3): Unit = {
    val g = graph(nodes, edges)
    val es = edges.filter(e => relType.forall(_ == e._3))
    val endpoints = es.flatMap(e => Seq(e._1, e._2)).distinct
    val keyed = if (relType.isEmpty) nodes else endpoints
    val ranks = perfbench.Checks.pageRank(keyed, es.map(e => (e._1, e._2)), iters)
    val gotRanks = pairs[Double](GraphXAlgos.pageRank(g, iters, relType))
    assert(perfbench.Checks.sameRanks(gotRanks, ranks, tol = 1e-12).isEmpty,
      perfbench.Checks.sameRanks(gotRanks, ranks, tol = 1e-12))
    // the reference labels edge endpoints only; a node without edges
    // keeps its own id as label in the kernel
    val isolates = keyed.filterNot(endpoints.toSet).map(v => v -> v).toMap
    for (weighted <- Seq(false, true)) {
      val want = pairs[String](LpaReference.labelPropagation(g, iters, relType, weighted))
      assertSame(pairs[String](GraphXAlgos.labelPropagation(g, iters, relType, weighted)),
        want ++ isolates, s"label propagation (weighted = $weighted)")
    }
  }

  private def ids(n: Int): Seq[String] = (0 until n).map(i => s"n$i")

  /** `m` random arcs over `n` nodes: integer weights 1-4, every fifth arc
    * repeated, a self-loop on every seventh node.
    */
  private def random(seed: Long, n: Int, m: Int, relType: String = "E"): Edges = {
    val rnd = new scala.util.Random(seed)
    val arcs = Seq.fill(m)((s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}", relType,
      (1 + rnd.nextInt(4)).toDouble))
    arcs ++ arcs.zipWithIndex.collect { case (e, i) if i % 5 == 0 => e } ++
      (0 until n by 7).map(i => (s"n$i", s"n$i", relType, 1.0))
  }

  test("an empty projection ranks and labels nothing") {
    val g = graph(ids(5), Seq(("n0", "n1", "E", 1.0), ("n1", "n2", "E", 1.0)))
    assert(GraphXAlgos.pageRank(g, 3, Some("NONE")).count() == 0)
    assert(GraphXAlgos.labelPropagation(g, 3, Some("NONE")).count() == 0)
    assert(GraphXAlgos.labelPropagation(g, 3, Some("NONE"), weighted = true).count() == 0)
  }

  test("isolated nodes, self-loops and parallel edges") {
    // n60..n79 stay isolated
    check(ids(80), random(20261019L, 60, 90))
  }

  test("nodes without edges rank 0.15 and keep their own label") {
    val nodes = ids(12)
    check(nodes, Seq.empty)
    assert(pairs[Double](GraphXAlgos.pageRank(graph(nodes, Seq.empty), 2)).values.toSet == Set(0.15))
  }

  test("hub with in-, out- and two-way spokes") {
    val rnd = new scala.util.Random(7L)
    val edges = ids(400).flatMap { v =>
      rnd.nextInt(3) match {
        case 0 => Seq(("hub", v, "E", 1.0))
        case 1 => Seq((v, "hub", "E", 2.0))
        case _ => Seq(("hub", v, "E", 1.0), (v, "hub", "E", 3.0))
      }
    }
    check("hub" +: ids(400), edges)
  }

  test("a typed projection keys the endpoints of its edges only") {
    val edges = random(11L, 120, 150, "A") ++ random(12L, 200, 150, "B")
    check(ids(220), edges, Some("A"))
    check(ids(220), edges, Some("B"))
  }

  test("a graph spanning several kernel partitions, also with chunked tallies") {
    // 40,000 arcs plus repeats: past AdjEdgesPerPartition for PageRank's
    // out-edges, twice over for label propagation's both orientations
    val nodes = ids(20000)
    val edges = random(42L, 20000, 40000)
    val g = graph(nodes, edges)
    assert(GraphXAlgos.pageRank(g, 0).rdd.getNumPartitions >= 2)
    assert(GraphXAlgos.labelPropagation(g, 0).rdd.getNumPartitions >= 2)
    check(nodes, edges, iters = 4)
    sys.props("graft.test.tallyFlushEntries") = "8"
    try check(nodes, edges, iters = 4)
    finally sys.props.remove("graft.test.tallyFlushEntries")
  }
}
