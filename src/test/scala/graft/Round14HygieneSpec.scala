package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.GraphXAlgos
import graft.graph.PropertyGraph

/** Round-14 lineage hygiene for the iterative loops.
  *
  * Two failure modes, one cause (per-round RDDs keeping the loop history
  * reachable through lineage): shuffle files that ContextCleaner can
  * never reap (the sf10 probe measured one LPA child leaking 64 GB of
  * blockmgr files before ENOSPC), and a DAGScheduler walk that grows
  * super-linearly with loop depth when a round references the previous
  * round twice (the SCC sweep froze the scheduler event loop for 30+
  * minutes of CPU on a 120-vertex ring fixture before the fix). Every
  * pinned round RDD now localCheckpoints inside its own count() job;
  * a GC nudge on big graphs (gated by [[GraphXAlgos.LoopCkptMinEdges]],
  * forced low here via the `graft.test.loopCkptMinEdges` property) lets
  * ContextCleaner delete the dead shuffles promptly.
  *
  * The ring fixture IS the regression test for the scheduler explosion:
  * 3 disjoint 40-cycles force a 40-round SCC sweep (and a ~20-round WCC
  * loop) that simply never completed before the truncation. WCC and SCC
  * run with the driver endgames off (`graft.test.endgamePairCap` = 0),
  * since those would finish these rings in one union-find or Tarjan pass.
  */
class Round14HygieneSpec extends AnyFunSuite {
  import TestSpark._

  private def ringGraph(n: Int, rings: Int): PropertyGraph = {
    val sp = spark
    // `rings` disjoint directed cycles of length n — WCC needs Θ(n)
    // rounds (deep lineage), SCC's coloring and sweep each run Θ(n)
    // rounds, LPA votes flow every round
    val nodes = sp.range(0, n.toLong * rings)
      .select(format_string("n%07d", col("id")).as("id"))
      .withColumn("labels", array(lit("N")))
    val edges = sp.range(0, n.toLong * rings)
      .select(col("id").as("i"))
      .select(
        format_string("n%07d", col("i")).as("src"),
        format_string("n%07d",
          (col("i") - (col("i") % n)) + ((col("i") + 1) % n)).as("dst"))
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("rel_type", lit("E"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    PropertyGraph(nodes, edges)
  }

  /** `f`'s rows, run through distributed rounds only (driver endgames off). */
  private def distributed(f: => org.apache.spark.sql.DataFrame) = {
    sys.props("graft.test.endgamePairCap") = "0"
    try f.collect().map(_.toSeq).toSet
    finally sys.props.remove("graft.test.endgamePairCap")
  }

  test("hygieneRound paces the GC nudge by edge count and cadence") {
    val big = GraphXAlgos.LoopCkptMinEdges
    assert(!GraphXAlgos.hygieneRound(3, big - 1)) // small graph: never
    assert(GraphXAlgos.hygieneRound(3, big)) // big graph, 3rd round
    assert(!GraphXAlgos.hygieneRound(4, big)) // off-cadence round
    assert(GraphXAlgos.hygieneRound(6, big))
    assert(!GraphXAlgos.hygieneRound(1, big))
  }

  test("deep-ring WCC/SCC/LPA converge exactly, with and without GC nudges") {
    val g = ringGraph(40, 3)
    def ringRoot(r: Int) = f"n${r * 40}%07d" // min id of ring r
    val plain = (
      distributed(GraphXAlgos.wcc(g)),
      distributed(GraphXAlgos.scc(g)),
      GraphXAlgos.labelPropagation(g, 4, None, weighted = true)
        .collect().map(_.toSeq).toSet)
    // ground truth: each ring is one weak component AND one SCC, labeled
    // by its min string id
    assert(plain._1.map(_(1)).toSet == (0 until 3).map(ringRoot).toSet)
    assert(plain._1.size == 120)
    assert(plain._2.map(_(1)).toSet == (0 until 3).map(ringRoot).toSet)
    assert(plain._2.size == 120)
    System.setProperty("graft.test.loopCkptMinEdges", "1")
    try {
      val engaged = (
        distributed(GraphXAlgos.wcc(g)),
        distributed(GraphXAlgos.scc(g)),
        GraphXAlgos.labelPropagation(g, 4, None, weighted = true)
          .collect().map(_.toSeq).toSet)
      assert(engaged._1 == plain._1) // WCC identical under forced nudges
      assert(engaged._2 == plain._2) // SCC identical
      assert(engaged._3 == plain._3) // LPA labels bit-identical
    } finally System.clearProperty("graft.test.loopCkptMinEdges")
  }
}
