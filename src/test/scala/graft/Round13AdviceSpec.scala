package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.PropertyGraph

/** Round-13 advice + scale work:
  *  - wccDeltaLoop must CONVERGE even when the round budget runs out
  *    (round-12 ADVICE medium: it returned partially-propagated labels
  *    as final components on diameter > maxIter graphs);
  *  - the public wcc() must thread its maxIter through (it was silently
  *    ignored) while producing the same fully-converged labeling;
  *  - the kernel LPA must stay exact across MULTIPLE
  *    CSR partitions (the vote shuffle now carries per-partition
  *    aggregates — a partition-alignment bug would silently drop votes,
  *    the same failure shape Round12ScaleSpec caught for WCC).
  */
class Round13AdviceSpec extends AnyFunSuite {
  import TestSpark._

  private def chainGraph(n: Int): PropertyGraph = {
    val sp = spark
    val nodes = sp.range(0, n).select(format_string("n%07d", col("id")).as("id"))
      .withColumn("labels", array(lit("N")))
    val edges = sp.range(0, n - 1)
      .select(format_string("n%07d", col("id")).as("src"),
        format_string("n%07d", col("id") + 1).as("dst"))
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("rel_type", lit("E"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    PropertyGraph(nodes, edges)
  }

  test("wccDeltaLoop converges via FORCED endgame when the round budget is exhausted") {
    // maxIter=2 exits the delta rounds long before the diameter (and
    // before the iter>=3 opportunistic-endgame heuristic can fire), so
    // only the forced post-loop endgame can produce the right answer
    val g = chainGraph(500)
    val res = graft.algos.GraphXAlgos.wccDeltaLoop(
      g, graft.algos.GraphXAlgos.ctxFor(g, Nil), maxIter = 2)
    val comps = res.select("component").distinct().collect().map(_.getString(0))
    assert(comps.toSeq == Seq("n0000000"), s"one chain component, got ${comps.length}")
    assert(res.count() == 500)
  }

  test("public wcc() threads maxIter and still converges (budget = performance knob)") {
    val g = chainGraph(300)
    val res = graft.algos.GraphXAlgos.wcc(g, None, maxIter = 2)
    val comps = res.select("component").distinct().collect().map(_.getString(0))
    assert(comps.toSeq == Seq("n0000000"))
    assert(res.count() == 300)
  }

  test("CSR-vote LPA is exact across MULTIPLE adjacency partitions") {
    // >16384 contracted edges puts the vote adjacency past one partition
    // (AdjEdgesPerPartition = 32768 over both orientations), so the
    // per-partition vote aggregates must actually cross partitions; the
    // DataFrame variant is the semantics oracle (same contract asserted
    // single-partition in AlgoSpec)
    val g = chainGraph(40000)
    val df = LpaReference.labelPropagation(g, 3, None)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val gxDf = graft.algos.GraphXAlgos.labelPropagation(g, 3, None)
    val gx = gxDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gxDf.rdd.getNumPartitions > 1, "fixture must span multiple kernel partitions")
    assert(gx == df)
  }

  test("fresh-loop accessors agree with the routed algorithms (oracle-row plumbing)") {
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
    val g = PropertyGraph(nodes, edges)
    // q_algo_wcc_loop runs the unmemoized loop, q_algo_wcc the memo
    val wccFresh = graft.algos.GraphXAlgos.wccDeltaLoop(
        g, graft.algos.GraphXAlgos.ctxFor(g, Nil))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val wccRouted = graft.algos.GraphXAlgos.wcc(g)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(wccFresh == wccRouted)
    val sccFresh = graft.algos.GraphXAlgos.scc(g)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expectedScc = Map(
      "A" -> "A", "B" -> "A",
      "C" -> "C", "D" -> "C", "E" -> "C", "F" -> "C", "G" -> "C",
      "Z" -> "Z")
    assert(sccFresh == expectedScc)
  }
}
