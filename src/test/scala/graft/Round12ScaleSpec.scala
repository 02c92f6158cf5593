package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.PropertyGraph

/** Round-12 scale work: the SCC trim+coloring loop must match the closed
  * form exactly, both component algorithms must label every node,
  * isolated ones included, and the data-derived partition widths must
  * keep growing past the old 2·cores cap (the sf3 OOM mechanism).
  */
class Round12ScaleSpec extends AnyFunSuite {
  import TestSpark._

  /** Mixed fixture: 2-cycle A↔B, 3-cycle E→F→G→E bridged from the chain
    * B→C→D→E, back-edge F→C creating a LARGER cycle that merges
    * {C,D,E,F,G} into one SCC, plus isolated node Z.
    */
  private def fixture: PropertyGraph = {
    val sp = spark
    import sp.implicits._
    val nodes = Seq("A", "B", "C", "D", "E", "F", "G", "Z").toDF("id")
      .withColumn("labels", array(lit("N")))
    val edges = Seq(("A", "B"), ("B", "A"), ("B", "C"), ("C", "D"),
      ("D", "E"), ("E", "F"), ("F", "G"), ("G", "E"), ("F", "C"))
      .toDF("src", "dst")
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("rel_type", lit("E"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    PropertyGraph(nodes, edges)
  }

  private def comps(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private val expectedScc = Map(
    "A" -> "A", "B" -> "A", // the 2-cycle
    "C" -> "C", "D" -> "C", "E" -> "C", "F" -> "C", "G" -> "C", // merged big cycle
    "Z" -> "Z") // isolated: singleton via the every-node contract

  test("scc matches the closed form, isolated node included") {
    assert(comps(graft.algos.GraphXAlgos.scc(fixture)) == expectedScc)
  }

  test("scc scale route handles a pure DAG entirely in trim (every node its own SCC)") {
    val sp = spark
    import sp.implicits._
    val nodes = (1 to 12).map(i => s"n$i").toDF("id")
      .withColumn("labels", array(lit("N")))
    // binary-tree-ish DAG with cross edges, depth 4
    val edges = Seq((1, 2), (1, 3), (2, 4), (2, 5), (3, 6), (3, 7), (4, 8),
      (5, 8), (6, 9), (7, 9), (8, 10), (9, 10), (10, 11), (10, 12))
      .map { case (a, b) => (s"n$a", s"n$b") }
      .toDF("src", "dst")
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("rel_type", lit("E"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    val g = PropertyGraph(nodes, edges)
    val m = comps(graft.algos.GraphXAlgos.scc(g))
    assert(m == (1 to 12).map(i => s"n$i" -> s"n$i").toMap)
  }

  test("wcc labels every node, isolates included, and agrees with dedupClusters") {
    val g = fixture
    val wcc = comps(graft.algos.GraphXAlgos.wcc(g))
    assert(wcc("Z") == "Z")
    assert(wcc.keySet == expectedScc.keySet)
    // all non-isolated nodes are one weak component rooted at min id "A"
    assert((expectedScc.keySet - "Z").forall(wcc(_) == "A"))
    // ... as the union-find reference has it
    val es = g.edges.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val rep = perfbench.Checks.components(expectedScc.keySet, es)
    val mins = rep.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    assert(wcc == rep.map { case (v, r) => v -> mins(r) })
    // the pair-input WCC (dedupClusters) labels the same nodes minus the isolate
    val dedup = comps(graft.operators.Dedup.dedupClusters(
      graft.cypher.ApocGraphProcs.pairs(g, None)))
    assert(dedup == wcc - "Z")
  }

  test("wcc scale loop is exact across MULTIPLE ctx partitions (chain + endgame)") {
    // 300,000 oriented edges put the kernel CSR past one partition, so the
    // closing pass's messages must actually cross partitions — the round-12
    // profile caught a preservesPartitioning lie that silently dropped
    // every cross-partition message while all single-partition fixtures
    // stayed green. A chain also has huge diameter: the union-find closing
    // pass (pairs ≪ cap) finishes it rather than O(n) rounds.
    val sp = spark
    import sp.implicits._
    val n = 150001
    val nodes = sp.range(0, n).select(format_string("n%07d", col("id")).as("id"))
      .withColumn("labels", array(lit("N")))
    val edges = sp.range(0, n - 1)
      .select(format_string("n%07d", col("id")).as("src"),
        format_string("n%07d", col("id") + 1).as("dst"))
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("rel_type", lit("E"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    val g = PropertyGraph(nodes, edges)
    val res = graft.algos.GraphXAlgos.wcc(g)
    val comps = res.select("component").distinct().collect().map(_.getString(0))
    assert(comps.toSeq == Seq("n0000000"), s"one chain component, got ${comps.length}")
    assert(res.count() == n)
  }

  test("widthFor grows past 2x cores so per-partition size stays constant") {
    import graft.algos.GraphXAlgos.{widthFor, EdgesPerPartition, MaxWidth}
    assert(widthFor(100L, 32) == 1) // tiny graphs still collapse
    val sf3ish = 80L * 1000 * 1000
    val w = widthFor(sf3ish, 32)
    assert(w > 64, s"width $w must exceed the old 2x-cores cap")
    assert(w.toLong == sf3ish / EdgesPerPartition + 1)
    assert(widthFor(Long.MaxValue / 4, 32) == MaxWidth) // backstop only
  }
}
