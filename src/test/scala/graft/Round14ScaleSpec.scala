package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.GraphXAlgos
import graft.graph.PropertyGraph

/** Round-14 scale work (round-13 verdict items #6 and ADVICE #2):
  *  - EVERY per-round loop substrate — the kernel CSR, the WCC/SCC
  *    CSR adjacency, the BFS pair adjacency — must derive its partition
  *    width from the scale-aware [[GraphXAlgos.adjWidthFor]], not a flat
  *    rows-per-partition constant: per-round shuffle-block count grows as
  *    maps × reducers, and a flat width turned the round-12 sf3 LPA probe
  *    into 5.7M blocks/round;
  *  - adjWidthFor's three regimes (fine / coarse cap / bytes floor) hold
  *    at their crossovers;
  *  - the kernel message tally's chunked flush (bounded per-task heap) is EXACT:
  *    forcing a tiny flush cap must not change any label.
  */
class Round14ScaleSpec extends AnyFunSuite {
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

  test("adjWidthFor: fine / coarse-cap / bytes-floor regimes at their crossovers") {
    val par = 32
    val fine = GraphXAlgos.AdjEdgesPerPartition // 32768
    val cap = 4L * par // 128
    val bytesCap = GraphXAlgos.AdjMaxEdgesPerPartition // 4M
    // fine regime: small graphs get n/32k + 1, down to a single partition
    assert(GraphXAlgos.adjWidthFor(1000, par) == 1)
    assert(GraphXAlgos.adjWidthFor(3 * fine, par) == 4)
    // crossover: fine width hits the 4·par cap at n = (cap-1)·fine
    assert(GraphXAlgos.adjWidthFor((cap - 2) * fine, par) == cap - 1)
    assert(GraphXAlgos.adjWidthFor(cap * fine, par) == cap)
    // coarse plateau: 10× more data, same width (blocks stay bounded)
    assert(GraphXAlgos.adjWidthFor(10 * cap * fine, par) == cap)
    // bytes floor: width grows again once cap·4M edges is exceeded,
    // keeping every partition ≤ AdjMaxEdgesPerPartition
    val past = (cap + 37) * bytesCap
    val w = GraphXAlgos.adjWidthFor(past, par)
    assert(w > cap && past / w <= bytesCap)
    // 100×-sf3 arithmetic from the adjWidthFor doc-comment: 7.8G vote
    // edges → ~1860 partitions, each ≤ 4M edges
    val w100 = GraphXAlgos.adjWidthFor(7800000000L, par)
    assert(w100 == 7800000000L / bytesCap + 1)
    assert(7800000000L / w100 <= bytesCap)
    // runaway backstop
    assert(GraphXAlgos.adjWidthFor(Long.MaxValue / 2, par) == GraphXAlgos.MaxWidth)
  }

  test("every loop substrate derives its width from adjWidthFor") {
    val n = 300000 // chain: 299999 contracted pairs, 599998 oriented —
    // past BOTH fine targets (32k vote / 128k frontier) so every
    // substrate lands multi-partition
    val g = chainGraph(n)
    val c = GraphXAlgos.ctxFor(g, Nil)
    val par = spark.sparkContext.defaultParallelism
    val e = c.edges.count()
    assert(e == n - 1)
    // compute-bound vote pass: fine 32k target
    val wVote = GraphXAlgos.adjWidthFor(2L * e, par)
    // launch-bound frontier/delta passes: coarse 128k fine target
    val wBoth = GraphXAlgos.adjWidthFor(2L * e, par,
      fineTarget = GraphXAlgos.EdgesPerPartition)
    val wOne = GraphXAlgos.adjWidthFor(e, par,
      fineTarget = GraphXAlgos.EdgesPerPartition)
    assert(wVote > wBoth && wBoth > 1,
      "fixture must split the two fine targets and be multi-partition")
    // kernel CSR (its pinned result keeps the CSR partitioning): both
    // orientations for label propagation, out-edges for PageRank
    assert(GraphXAlgos.labelPropagation(g, 0).rdd.getNumPartitions == wVote)
    assert(GraphXAlgos.pageRank(g, 0).rdd.getNumPartitions == GraphXAlgos.adjWidthFor(e, par))
    // WCC delta loop + SCC trim/coloring substrate
    assert(c.csrByDir("both").getNumPartitions == wBoth)
    assert(c.csrByDir("out").getNumPartitions == wOne)
    assert(c.csrByDir("in").getNumPartitions == wOne)
    // BFS pair adjacency (var-length expand, shortest paths, simple paths)
    assert(c.pairsByDir("both").getNumPartitions == wBoth)
    assert(c.pairsByDir("out").getNumPartitions == wOne)
  }

  test("forced endgame goes DISTRIBUTED past the pair cap and stays exact") {
    // endgamePairCap=0 makes every capped endgame attempt skip and the
    // forced endgame take the pointer-jumping branch (driver union-find
    // unreachable: force && nPairs > 4·0 for any non-empty boundary), so
    // this pins the distributed closure end-to-end: a 60-chain with a
    // 3-round budget is nowhere near converged when the loop forces it.
    sys.props("graft.test.endgamePairCap") = "0"
    try {
      val g = chainGraph(60)
      val c = GraphXAlgos.ctxFor(g, Nil)
      val out = GraphXAlgos.wccDeltaLoop(g, c, maxIter = 3)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out.size == 60)
      assert(out.values.toSet == Set("n0000000"), // one component, min id
        s"expected a single fully-closed component, got ${out.values.toSet}")
    } finally sys.props.remove("graft.test.endgamePairCap")
  }

  test("chunked vote-tally flush is exact (forced tiny cap, weighted + unweighted)") {
    val g = chainGraph(40000)
    val baseline = GraphXAlgos.labelPropagation(g, 3, None, weighted = true)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    sys.props("graft.test.tallyFlushEntries") = "8"
    try {
      // the kernel builds per call, so the same graph runs under the tiny cap
      val chunked = GraphXAlgos.labelPropagation(g, 3, None, weighted = true)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(chunked == baseline)
      val df = LpaReference.labelPropagation(g, 3, None)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val gx = GraphXAlgos.labelPropagation(g, 3, None)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(gx == df)
    } finally sys.props.remove("graft.test.tallyFlushEntries")
  }
}
