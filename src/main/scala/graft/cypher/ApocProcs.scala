package graft.cypher

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.graph.{Expand, PropertyGraph}
import graft.algos.{Algorithms, BfsRdd, GraphXAlgos}
import graft.operators.PathExpand

/** CALL-surface registry for the apoc.algo / apoc.neighbors / apoc.path /
  * apoc.paths families (ref `apoc/algo/algo.go`, `apoc/neighbors/
  * neighbors.go`, `apoc/paths/paths.go`, `apoc/path/`). The reference
  * registers these as storage-backed functions over `*Node` receivers; on
  * Spark the storage-backed receiver is the CALL surface with node IDs as
  * literal arguments, and every traversal rides the cached distributed BFS
  * machinery (Expand.shortestPaths / BfsRdd) — no per-call graph walks on
  * the driver.
  */
object ApocProcs {

  private def arg(args: Seq[Any], i: Int): Option[String] =
    args.lift(i).map(_.toString).filter(_.nonEmpty)
  private def argInt(args: Seq[Any], i: Int, dflt: Int): Int =
    args.lift(i).map(_.toString.toDouble.toInt).getOrElse(dflt)

  private def startDf(g: PropertyGraph, id: String): DataFrame =
    g.nodes.filter(col("id") === id).select("id")

  /** Undirected distances from one node: (end_id, length), including the
    * zero-length self row.
    */
  private def dists(g: PropertyGraph, id: String, relType: Option[String],
      maxHops: Int): DataFrame =
    Expand.shortestPaths(g, startDf(g, id), relType, maxHops, Expand.Both)
      .select(col("end_id").as("node_id"), col("length").as("depth"))

  /** Bounded simple paths start→end over undirected edges — the workhorse
    * behind the apoc.paths.* traversal surface (paths.go routes everything
    * through findAllPaths the same way).
    */
  private def simplePaths(g: PropertyGraph, args: Seq[Any],
      dflt: Int = 10): DataFrame =
    BfsRdd.allSimplePaths(g, args(0).toString, args(1).toString,
      arg(args, 2).toSeq, argInt(args, 3, dflt), Expand.Both)

  val procedures: Map[String, (PropertyGraph, Seq[Any]) => DataFrame] = Map(
    // ---- apoc.neighbors.* (neighbors.go; all undirected like
    // DirectionBoth in the reference)
    // atHop: nodes FIRST reached at exactly `hops` (the reference's
    // visited-set frontier == BFS first-reach)
    "apoc.neighbors.athop" -> ((g, args) => {
      val h = argInt(args, 2, 1)
      dists(g, args(0).toString, arg(args, 1), h)
        .filter(col("depth") === h).select("node_id")
    }),
    // toHop/bfs: the reference's queue pops only while hops < maxHops, so
    // the returned set is distance ≤ maxHops − 1 (including the start) —
    // replayed off-by-one and all (neighbors.go:58-91)
    "apoc.neighbors.tohop" -> ((g, args) => {
      val h = argInt(args, 2, 1)
      dists(g, args(0).toString, arg(args, 1), math.max(h - 1, 0))
        .select("node_id", "depth")
    }),
    "apoc.neighbors.bfs" -> ((g, args) => {
      val h = argInt(args, 2, 1)
      dists(g, args(0).toString, arg(args, 1), math.max(h - 1, 0))
        .select("node_id", "depth")
    }),
    // dfs: inherently sequential — bounded-subgraph collect + driver
    // recursion like the reference's recursion, neighbor order = sorted id
    // (the reference's order is Go-map nondeterministic; ours is the
    // deterministic choice, disclosed). Subgraph capped like A*.
    "apoc.neighbors.dfs" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val maxDepth = argInt(args, 2, 1)
      val startId = args(0).toString
      val within = dists(g, startId, arg(args, 1), maxDepth)
      val cap = 100000L
      require(within.count() <= cap, s"apoc.neighbors.dfs: bounded subgraph exceeds $cap nodes")
      val nodeSet = within.select("node_id")
      val es = arg(args, 1).map(g.edgesByType).getOrElse(g.edges)
        .select(col("src"), col("dst"))
      val und = es.union(es.select(col("dst"), col("src")))
        .join(nodeSet.toDF("src2"), col("src") === col("src2"))
        .join(nodeSet.toDF("dst2"), col("dst") === col("dst2"))
        .select("src", "dst").distinct().collect()
        .map(r => (r.getString(0), r.getString(1)))
      val adj = und.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted.toList }
      val visited = scala.collection.mutable.LinkedHashMap[String, Int]()
      def dfs(n: String, depth: Int): Unit =
        if (depth <= maxDepth && !visited.contains(n)) {
          visited(n) = depth
          adj.getOrElse(n, Nil).foreach(dfs(_, depth + 1))
        }
      dfs(startId, 0)
      visited.zipWithIndex
        .map { case ((n, d), i) => (i.toLong, n, d) }.toSeq
        .toDF("visit_order", "node_id", "depth")
    }),
    "apoc.neighbors.count" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val h = argInt(args, 2, 1)
      Seq(dists(g, args(0).toString, arg(args, 1), h)
        .filter(col("depth") === h).count()).toDF("value")
    }),
    "apoc.neighbors.exists" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val h = argInt(args, 2, 1)
      Seq(dists(g, args(0).toString, arg(args, 1), h)
        .filter(col("depth") === h).limit(1).count() > 0).toDF("value")
    }),

    // ---- apoc.algo.* (algo.go) — distributed versions of the reference's
    // in-memory loops, riding the same implementations the q_algo_* rows
    // oracle-check
    "apoc.algo.pagerank" -> ((g, args) =>
      GraphXAlgos.pageRank(g, argInt(args, 0, 20))),
    "apoc.algo.degreecentrality" -> ((g, args) => {
      // score = undirected degree (algo.go:220-237)
      val es = arg(args, 0).map(g.edgesByType).getOrElse(g.edges)
      es.select(col("src").as("id")).unionAll(es.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("score"))
    }),
    "apoc.algo.community" -> ((g, args) => // label propagation (algo.go:239)
      GraphXAlgos.labelPropagation(g, argInt(args, 0, 10))),
    // closeness of ONE node: (reachable−1) / Σ dist over the bounded
    // undirected BFS — the reference's per-node loop (algo.go:162-218) as a
    // point query, like its A* surface
    "apoc.algo.closenesscentrality" -> ((g, args) => {
      val d = dists(g, args(0).toString, arg(args, 1), argInt(args, 2, 10))
        .filter(col("depth") > 0)
      d.agg((count(lit(1)).cast("double") /
        sum(col("depth")).cast("double")).as("score"))
    }),
    // 2-layer betweenness (midpoint shortest-path counting) — the
    // registry's oracle-checked shape (Algorithms.betweennessTwoHop)
    "apoc.algo.betweennesscentrality" -> ((g, args) =>
      Algorithms.betweennessTwoHop(g,
        arg(args, 0).getOrElse("PLACED"), arg(args, 1).getOrElse("CONTAINS"))),
    // allPairs: pairwise hop distances within a label set (algo.go:392's
    // nested dijkstra loop → ONE multi-source BFS, candidates only)
    "apoc.algo.allpairs" -> ((g, args) => {
      val label = args(0).toString
      val maxHops = argInt(args, 2, 6)
      val starts = g.nodesByLabel(label).select("id")
      Expand.shortestPaths(g, starts, arg(args, 1), maxHops, Expand.Both)
        .filter(col("length") > 0)
        .join(g.nodesByLabel(label).select(col("id").as("end_id")), "end_id")
        .select(col("start_id").as("source"), col("end_id").as("target"),
          col("length").as("distance"))
    }),
    // greedy vertex cover (algo.go:417-460): the reference's highest-degree
    // greedy loop is sequential by construction — run it on the driver over
    // a capped edge list, ties broken by min id (Go map order disclosed)
    "apoc.algo.cover" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val cap = 200000
      val es = arg(args, 0).map(g.edgesByType).getOrElse(g.edges)
        .select("src", "dst").distinct().limit(cap + 1).collect()
        .map(r => (r.getString(0), r.getString(1)))
      require(es.length <= cap, s"apoc.algo.cover: edge set exceeds $cap")
      var edges = es.toSet
      val cover = scala.collection.mutable.ArrayBuffer[String]()
      while (edges.nonEmpty) {
        val deg = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
        edges.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
        val best = deg.toSeq.sortBy { case (n, d) => (-d, n) }.head._1
        cover += best
        edges = edges.filterNot { case (a, b) => a == best || b == best }
      }
      cover.toSeq.toDF("node_id")
    }),

    // apoc.rel.exists(relId) — storage lookup (rel.go:184)
    "apoc.rel.exists" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      Seq(g.edges.filter(col("id") === args(0).toString).limit(1).count() > 0)
        .toDF("value")
    }),

    // ---- apoc.stats.degrees (stats.go:22): degree distribution stats
    // over the (optionally type-filtered) undirected degree — ONE
    // aggregation, no driver loop
    "apoc.stats.degrees" -> ((g, args) => {
      val es = arg(args, 0).map(g.edgesByType).getOrElse(g.edges)
      val deg = es.select(col("src").as("id"))
        .unionAll(es.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
        // nodes with no edge of the type count as degree 0
        .unionByName(g.nodes.select(col("id")).join(
          es.select(col("src").as("id"))
            .unionAll(es.select(col("dst").as("id"))).distinct(),
          Seq("id"), "left_anti").withColumn("d", lit(0L)))
      deg.agg(min("d").as("min"), max("d").as("max"),
        avg(col("d").cast("double")).as("mean"),
        expr("percentile(d, 0.5)").as("median"),
        stddev_pop(col("d").cast("double")).as("stdDev"))
    }),

    // ---- apoc.path.* CALL registration over the PathExpand operators
    // (the q_path_* rows call these directly; the CALL surface is the
    // reference's invocation shape)
    "apoc.path.subgraphnodes" -> ((g, args) =>
      PathExpand.subgraphNodes(g, startDf(g, args(0).toString),
        argInt(args, 1, 2), arg(args, 2), arg(args, 3))),
    "apoc.path.subgraphall" -> ((g, args) => {
      // nodes within maxLevel plus the edges CONNECTING them (path.go
      // subgraphAll contract)
      val reach = dists(g, args(0).toString, arg(args, 2), argInt(args, 1, 2))
        .select("node_id")
      g.edges.select(col("src"), col("dst"), col("rel_type"))
        .join(reach.toDF("src2"), col("src") === col("src2"))
        .join(reach.toDF("dst2"), col("dst") === col("dst2"))
        .select("src", "dst", "rel_type")
    }),
    "apoc.path.spanningtree" -> ((g, args) =>
      PathExpand.spanningTree(g, args(0).toString, argInt(args, 1, 2),
        arg(args, 2))),
    "apoc.path.expand" -> ((g, args) => {
      // (start, relType, labelFilter, minLevel, maxLevel) → reached nodes
      // with their BFS depth in [min, max]
      val minL = argInt(args, 3, 0)
      val maxL = argInt(args, 4, argInt(args, 3, 2))
      PathExpand.subgraphNodes(g, startDf(g, args(0).toString), maxL,
        arg(args, 1), arg(args, 2))
        .filter(col("depth") >= minL)
    }),
    "apoc.path.expandconfig" -> ((g, args) => {
      val minL = argInt(args, 3, 0)
      val maxL = argInt(args, 4, argInt(args, 3, 2))
      PathExpand.subgraphNodes(g, startDf(g, args(0).toString), maxL,
        arg(args, 1), arg(args, 2))
        .filter(col("depth") >= minL)
    }),

    // apoc.path.shortestPath / allShortestPaths — the singular-path CALL
    // names over the same bounded BFS (apoc/path)
    "apoc.path.allshortestpaths" -> ((g, args) =>
      Expand.allShortestPaths(g, args(0).toString, args(1).toString,
        arg(args, 2), argInt(args, 3, 6), Expand.Both)),
    "apoc.path.shortestpath" -> ((g, args) =>
      Expand.allShortestPaths(g, args(0).toString, args(1).toString,
          arg(args, 2), argInt(args, 3, 6), Expand.Both)
        .orderBy(col("path")).limit(1)),

    // ---- apoc.paths.* traversal surface (paths.go) — every member routes
    // through the SAME bounded simple-path machinery as the reference's
    // findAllPaths
    "apoc.paths.all" -> ((g, args) => simplePaths(g, args)),
    "apoc.paths.simple" -> ((g, args) => simplePaths(g, args)),
    "apoc.paths.elementary" -> ((g, args) => simplePaths(g, args)),
    "apoc.paths.shortest" -> ((g, args) => {
      val sp = simplePaths(g, args)
      sp.orderBy(col("length"), col("path"))
        .limit(1)
    }),
    "apoc.paths.longest" -> ((g, args) => {
      val sp = simplePaths(g, args)
      sp.orderBy(col("length").desc, col("path")).limit(1)
    }),
    "apoc.paths.kshortest" -> ((g, args) =>
      simplePaths(g, args).orderBy(col("length"), col("path"))
        .limit(argInt(args, 4, 3))),
    "apoc.paths.withlength" -> ((g, args) =>
      simplePaths(g, args).filter(col("length") === argInt(args, 3, 1))),
    "apoc.paths.withinlength" -> ((g, args) => // (start, end, relType, min, max)
      BfsRdd.allSimplePaths(g, args(0).toString, args(1).toString,
        arg(args, 2).toSeq, argInt(args, 4, 10), Expand.Both)
        .filter(col("length") >= argInt(args, 3, 0) &&
          col("length") <= argInt(args, 4, 10))),
    "apoc.paths.count" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      Seq(simplePaths(g, args).count()).toDF("value")
    }),
    "apoc.paths.exists" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      Seq(simplePaths(g, args).limit(1).count() > 0).toDF("value")
    }),
    "apoc.paths.distance" -> ((g, args) => {
      // shortest hop distance (paths.go:359 delegates to Shortest) —
      // early-terminating point BFS, not a full-graph sweep to maxHops
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val d = graft.algos.BfsRdd.pointDistance(g, args(0).toString,
        args(1).toString, arg(args, 2).toSeq, 10, Expand.Both)
      Seq(d).toDF("value")
    }),
    // cycles (paths.go:237) = All(start, start): the reference's DFS
    // records the trivial zero-length path and stops (FindAllPaths returns
    // on currentID == endID before expanding), so real cycles are never
    // produced — replayed exactly, trivial path and all
    "apoc.paths.cycles" -> ((g, args) =>
      BfsRdd.allSimplePaths(g, args(0).toString, args(0).toString,
        arg(args, 1).toSeq, argInt(args, 2, 6), Expand.Both)),
    // node-disjoint / edge-disjoint path sets: greedy selection from the
    // bounded simple-path list in (length, path) order — the reference's
    // greedy loop (paths.go:161-236), deterministic tie-break disclosed
    "apoc.paths.disjoint" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val k = argInt(args, 4, 2)
      val all = simplePaths(g, args).orderBy(col("length"), col("path"))
        .select("path", "length").collect()
        .map(r => (r.getSeq[String](0), r.getInt(1)))
      val (s, e) = (args(0).toString, args(1).toString)
      val used = scala.collection.mutable.Set[String]()
      val out = scala.collection.mutable.ArrayBuffer[(Seq[String], Int)]()
      for ((p, len) <- all if out.size < k) {
        val interior = p.filterNot(n => n == s || n == e)
        if (!interior.exists(used.contains)) { out += ((p, len)); used ++= interior }
      }
      out.toSeq.toDF("path", "length")
    }),
    "apoc.paths.edgedisjoint" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val k = argInt(args, 4, 2)
      val all = simplePaths(g, args).orderBy(col("length"), col("path"))
        .select("path", "length").collect()
        .map(r => (r.getSeq[String](0), r.getInt(1)))
      val used = scala.collection.mutable.Set[(String, String)]()
      val out = scala.collection.mutable.ArrayBuffer[(Seq[String], Int)]()
      for ((p, len) <- all if out.size < k) {
        val es = p.sliding(2).collect { case Seq(a, b) =>
          if (a < b) (a, b) else (b, a) }.toSeq
        if (!es.exists(used.contains)) { out += ((p, len)); used ++= es }
      }
      out.toSeq.toDF("path", "length")
    }),
    // hamiltonian(start, end, nodeCount, relType): the reference filters
    // All(maxLength = |nodes|) to paths visiting every node (paths.go:247);
    // the caller passes the target node count
    "apoc.paths.hamiltonian" -> ((g, args) => {
      val n = argInt(args, 2, 4)
      BfsRdd.allSimplePaths(g, args(0).toString, args(1).toString,
        arg(args, 3).toSeq, n, Expand.Both)
        .filter(size(col("path")) === n)
    }),
    // eulerian is an explicit empty placeholder in the reference
    // (paths.go:270) — replayed as the empty path set
    "apoc.paths.eulerian" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      Seq.empty[(Seq[String], Int)].toDF("path", "length")
    }))
}
