package graft

/** Dev profiling harness for the iterative-algorithm scale paths: phase
  * timings (ctx build, adjacency, rank dictionaries, then each algorithm
  * twice — cold and warm) so scale-ratio regressions attribute to a phase
  * instead of a guess. Not part of the bench/verify contract.
  *
  * Usage: sbt "runMain graft.AlgoProf /tmp/sf1 [wcc|scc|all]"
  */
object AlgoProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/sf1"
    val what = if (args.length > 1) args(1) else "all"
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[prof] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val g = GraphQueries.graph(spark, sfDir)
    t("graph warm") { g.nodes.count(); g.edges.count() }
    val c = t("ctx build")(graft.algos.GraphXAlgos.ctxFor(g, Nil))
    t("ctx edges count")(c.edges.count())
    if (what == "all" || what == "wcc") {
      // q_algo_wcc runs on the CONTAINS projection — profile that graph
      val cc = t("ctx CONTAINS build")(
        graft.algos.GraphXAlgos.ctxFor(g, Seq("CONTAINS")))
      t("wcc CONTAINS cold")(graft.algos.GraphXAlgos.wccScale(g, Some("CONTAINS")).count())
      t("wcc CONTAINS warm")(graft.algos.GraphXAlgos.wccScale(g, Some("CONTAINS")).count())
      t("wccDeltaLoop full cold")(graft.algos.GraphXAlgos.wccDeltaLoop(g, c).count())
      t("wccDeltaLoop full warm")(graft.algos.GraphXAlgos.wccDeltaLoop(g, c).count())
    }
    if (what == "all" || what == "scc") {
      t("sccScale cold")(graft.algos.GraphXAlgos.sccScale(g, c).count())
      t("sccScale warm")(graft.algos.GraphXAlgos.sccScale(g, c).count())
    }
    if (what == "dfwcc") {
      t("Algorithms.wcc")(graft.algos.Algorithms.wcc(g, None).count())
    }
    spark.stop()
  }
}
