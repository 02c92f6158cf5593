package graft
/** Scratch: plan-shape audit (run manually, not a test suite). */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val d = "/root/testdata/sf0.01"
    val tp = graft.streaming.TemporalPatterns.detect(Tables.events(spark, d))
    val plan = tp.queryExecution.executedPlan.toString
    println("== temporal exchanges: " + "Exchange hash".r.findAllIn(plan).size)
    val cl = graft.operators.Dedup.dedupClusters(
      graft.operators.Dedup.ngramJaccardPairs(Tables.documents(spark, d), 3, 0.5, 300L))
    val p2 = cl.queryExecution.executedPlan.toString
    println("== clusters BNLJ: " + "BroadcastNestedLoop".r.findAllIn(p2).size)
    println("== clusters cartesian: " + "CartesianProduct".r.findAllIn(p2).size)
    val g = GraphQueries.graph(spark, d)
    val sp = TraversalReference.shortestPaths(g, g.nodesByLabel("Customer").select("id"), None, 2)
    val p3 = sp.queryExecution.executedPlan.toString
    println("== bfs BNLJ: " + "BroadcastNestedLoop".r.findAllIn(p3).size)
    println("== bfs exchanges: " + "Exchange hash".r.findAllIn(p3).size)
    val rr = QueryRegistry.all("q_hybrid_rerank").fn(spark, d)
    println("== rerank single-partition windows: " +
      "Window".r.findAllIn(rr.queryExecution.executedPlan.toString).size)
    // evolution trio: one grouped-fold exchange each, no BNLJ/cartesian
    for (n <- Seq("q_evolution_trends", "q_evolution_sessions", "q_evolution_load",
        "q_qdrant_search_batch")) {
      val p = QueryRegistry.all(n).fn(spark, d).queryExecution.executedPlan.toString
      println(s"== $n exchanges: " + "Exchange hash".r.findAllIn(p).size +
        " bnlj: " + "BroadcastNestedLoop".r.findAllIn(p).size +
        " cartesian: " + "CartesianProduct".r.findAllIn(p).size)
    }
    // storage audit: a WAL-backed one-row SET must write a delta, not the
    // store (the hard assertion lives in DeltaLogSpec; this prints the
    // ratio for manual inspection at sf0.01 scale)
    locally {
      import graft.cypher.CypherWrite
      import graft.graph.{DeltaLog, GraphStore, PropertyGraph}
      val dir = java.nio.file.Files.createTempDirectory("graft-wal-audit").toString
      val gg = GraphQueries.graph(spark, d)
      val s = new GraphStore(PropertyGraph(
        gg.nodes.localCheckpoint(true), gg.edges.localCheckpoint(true)),
        registerGlobal = false, walDir = Some(dir))
      CypherWrite.execute(s, "MATCH (c:Customer) WHERE c.key = 1 SET c.name = 'audit'")
      def bytes(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum
      val dv = new DeltaLog(spark, dir).commits().filter(_.kind == "delta").last.version
      println("== wal delta bytes / store bytes: " +
        bytes(new java.io.File(s"$dir/delta/v$dv")) + " / " +
        bytes(new java.io.File(s"$dir/checkpoint/v0/nodes")))
    }
    spark.stop()
  }
}
