package perfbench

/** The benchmark's own tests: every check accepts the right answer and
  * rejects a deliberately wrong one. Runs without Spark:
  *
  *     python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, verdict: Option[String], pass: Boolean): Unit = {
    val ok = verdict.isEmpty == pass
    if (!ok) failures += 1
    println(f"[selftest] ${if (ok) "ok  " else "FAIL"} $name%-60s ${verdict.getOrElse("accepted")}")
  }
  private def accepts(name: String)(v: Option[String]): Unit = expect(name, v, pass = true)
  private def rejects(name: String)(v: Option[String]): Unit = expect(name, v, pass = false)

  def main(args: Array[String]): Unit = {
    // ---- agent_memory: write counts, read-back rows, WAL replay
    import Checks.Counts
    accepts("stats: the ledger's counts")(
      Checks.sameCounts(Counts(nodesDeleted = 1, relsDeleted = 2), Counts(nodesDeleted = 1, relsDeleted = 2)))
    rejects("stats: a DETACH DELETE that left a relationship")(
      Checks.sameCounts(Counts(nodesDeleted = 1, relsDeleted = 1), Counts(nodesDeleted = 1, relsDeleted = 2)))
    rejects("stats: a SET that set nothing")(Checks.sameCounts(Counts(), Counts(propsSet = 1)))
    rejects("stats: a CREATE that made two nodes")(
      Checks.sameCounts(Counts(nodesCreated = 2), Counts(nodesCreated = 1)))

    val want = Seq(Seq("spark join table"))
    accepts("rows: the value SET wrote")(Checks.sameRows(Seq(Seq("spark join table")), want))
    rejects("rows: the value before the SET")(Checks.sameRows(Seq(Seq("old text")), want))
    rejects("rows: no row")(Checks.sameRows(Nil, want))
    rejects("rows: the row twice")(Checks.sameRows(want ++ want, want))
    accepts("rows: numbers as other types")(
      Checks.sameRows(Seq(Seq("Memory:7", 128)), Seq(Seq("Memory:7", 128L))))
    rejects("rows: a wrong dimension")(
      Checks.sameRows(Seq(Seq("Memory:7", 64L)), Seq(Seq("Memory:7", 128L))))

    accepts("wal: the ledger's node and edge counts")(Checks.sameSize(19630, 129574, 19630, 129574))
    rejects("wal: a lost node")(Checks.sameSize(19629, 129574, 19630, 129574))
    rejects("wal: a lost edge")(Checks.sameSize(19630, 129573, 19630, 129574))

    // ---- agent_memory: vector, fulltext and hybrid recall
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 200).map(i => s"Memory:$i" -> Array.fill(16)(rnd.nextGaussian()))
    val q = vecs(5)._2
    val cos = Checks.cosineRanking(vecs, q)
    accepts("vector: the brute-force top-10")(Checks.sameRanking(cos.take(10), cos, 10))
    rejects("vector: an item swapped for the 11th")(
      Checks.sameRanking(cos.take(9) :+ cos(10), cos, 10))
    rejects("vector: a score off by 1e-6")(
      Checks.sameRanking(cos.take(10).map { case (id, s) => id -> (s + 1e-6) }, cos, 10))
    rejects("vector: only 9 hits")(Checks.sameRanking(cos.take(9), cos, 10))
    rejects("vector: a forgotten memory in the answer")(
      Checks.sameRanking(cos.take(10), cos.filterNot(_._1 == cos.head._1), 10))
    accepts("vector: own vector first with score 1")(Checks.ownFirst(cos.take(10), "Memory:6"))
    rejects("vector: own vector second")(Checks.ownFirst(cos.slice(1, 11), vecs(5)._1))
    rejects("vector: own vector first with score 0.99")(
      Checks.ownFirst(("Memory:6" -> 0.99) +: cos.slice(1, 10), "Memory:6"))
    accepts("vector: no forgotten memory among the hits")(
      Checks.noneForgotten(cos.take(10).map(_._1), Set("Memory:999")))
    rejects("vector: a forgotten memory among the hits")(
      Checks.noneForgotten(cos.take(10).map(_._1), Set(cos(3)._1)))
    accepts("vector: exact rule agrees with plain doubles")(
      if (math.abs(Checks.cosine(vecs(1)._2, q) - {
        val (a, b) = (vecs(1)._2, q)
        a.zip(b).map { case (x, y) => x * y }.sum /
          math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
      }) < 1e-12) None else Some("cosine rules disagree"))

    val docs = Seq("Memory:1" -> "spark join spark", "Memory:2" -> "join table",
      "Memory:3" -> "vector scan", "Memory:4" -> "spark spark spark join hash")
    val bm = Checks.bm25Ranking(docs, "spark join")
    accepts("bm25: matching documents only")(
      if (bm.map(_._1).toSet == Set("Memory:1", "Memory:2", "Memory:4")) None else Some(bm.toString))
    accepts("bm25: the reference ranking")(Checks.sameRanking(bm, bm, 10))
    rejects("bm25: a document without the terms")(
      Checks.sameRanking(bm.take(2) :+ ("Memory:3" -> bm(2)._2), bm, 10))
    rejects("bm25: every score 1% off")({
      val other = bm.map { case (id, s) => id -> s * 1.01 }
      Checks.sameRanking(other, bm, 10)
    })
    val rrf = Checks.rrf(bm, cos, 20)
    accepts("rrf: the fused ranking")(Checks.sameRanking(rrf.take(10), rrf, 10))
    rejects("rrf: the vector list alone")(Checks.sameRanking(cos.take(10), rrf, 10))
    accepts("rrf: 1/(60+1) for a first place in one list")(
      if (math.abs(Checks.rrf(Seq("a" -> 1.0), Nil, 20).head._2 - 1.0 / 61) < 1e-15) None
      else Some("wrong RRF constant"))

    // ---- graph_analytics: WCC, PageRank, LPA, Louvain
    val nodes = Seq("a", "b", "c", "d", "e")
    val edges = Seq("a" -> "b", "b" -> "c", "d" -> "e")
    val comp = Checks.components(nodes, edges)
    accepts("wcc: the union-find partition, other labels")(
      Checks.samePartition(Map("a" -> "x", "b" -> "x", "c" -> "x", "d" -> "y", "e" -> "y"), comp))
    rejects("wcc: two components merged")(
      Checks.samePartition(Map("a" -> "x", "b" -> "x", "c" -> "x", "d" -> "x", "e" -> "x"), comp))
    rejects("wcc: a component split")(
      Checks.samePartition(Map("a" -> "x", "b" -> "x", "c" -> "z", "d" -> "y", "e" -> "y"), comp))
    rejects("wcc: a node left out")(
      Checks.samePartition(Map("a" -> "x", "b" -> "x", "c" -> "x", "d" -> "y"), comp))

    // a cycle with a chord keeps the ranks moving from round to round
    val cyc = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c", "d" -> "e")
    val pr = Checks.pageRank(nodes, cyc, 3)
    accepts("pagerank: the documented rule (b after 1 round: 0.15 + 0.85/2)")(
      if (math.abs(Checks.pageRank(nodes, cyc, 1)("b") - 0.575) < 1e-12) None else Some("rule"))
    accepts("pagerank: the power iteration")(Checks.sameRanks(pr, pr))
    rejects("pagerank: a rank off by 1e-5")(Checks.sameRanks(pr.updated("c", pr("c") + 1e-5), pr))
    rejects("pagerank: one iteration too many")(Checks.sameRanks(Checks.pageRank(nodes, cyc, 4), pr))

    accepts("lpa: labels are nodes of the same component")(
      Checks.labelsInComponent(Map("a" -> "c", "b" -> "c", "c" -> "c", "d" -> "d", "e" -> "d"), comp))
    rejects("lpa: a label from another component")(
      Checks.labelsInComponent(Map("a" -> "d", "b" -> "c", "c" -> "c", "d" -> "d", "e" -> "d"), comp))
    rejects("lpa: a label that is no node")(
      Checks.labelsInComponent(Map("a" -> "zz", "b" -> "c", "c" -> "c", "d" -> "d", "e" -> "d"), comp))

    val two = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 1.0),
      ("d", "e", 1.0), ("e", "f", 1.0), ("d", "f", 1.0), ("c", "d", 1.0))
    accepts("louvain: two triangles as two communities")(
      Checks.beatsSingletons(two, Map("a" -> "1", "b" -> "1", "c" -> "1", "d" -> "2", "e" -> "2", "f" -> "2")))
    rejects("louvain: communities across the cut only")(
      Checks.beatsSingletons(two, Map("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "3", "e" -> "1", "f" -> "2")))
    rejects("louvain: a node without a community")(
      Checks.everyNodePlaced(two, Map("a" -> "1", "b" -> "1", "c" -> "1", "d" -> "2", "e" -> "2")))
    accepts("louvain: every node placed")(
      Checks.everyNodePlaced(two, Map("a" -> "1", "b" -> "1", "c" -> "1", "d" -> "2", "e" -> "2", "f" -> "2")))
    rejects("louvain: a node without a community fails the modularity check too")(
      Checks.beatsSingletons(two, Map("a" -> "1", "b" -> "1", "c" -> "1", "d" -> "2", "e" -> "2")))

    println(s"[selftest] ${if (failures == 0) "all checks behave" else s"$failures FAILED"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
