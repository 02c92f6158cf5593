package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph
import graft.search.VectorSearch.dotDec

/** GDS-style graph algorithms (SURVEY §2.11: `apoc.algo.*`, `gds.*`,
  * `/root/reference/pkg/cypher/apoc_algorithms.go`, `apoc_community.go`,
  * `fastrp.go`) as iterative DataFrame computations.
  *
  * Every iteration is a self-contained join + aggregation on (src → dst) —
  * i.e. one shuffle keyed by node id — so the algorithms scale exactly like
  * any other Spark aggregation: no driver-side graph state, frontier/rank
  * tables are cached per step and unpersisted after. (GraphX Pregel would
  * express the same loops; the DataFrame form keeps results in the same
  * engine surface as every other operator and benefits from AQE.)
  */
object Algorithms {

  // =====================================================================
  // PageRank
  // =====================================================================

  /** Neo4j/GDS-flavored PageRank: r₀=1, rᵢ₊₁ = 0.15 + 0.85·Σ rᵢ(src)/outdeg,
    * the per-node contribution sum routed through DECIMAL so ranks
    * hash-match a SQL oracle ([[pageRankOracleSql]]). The oracle path
    * only: the CALL surface runs [[GraphXAlgos.pageRank]].
    */
  def pageRank(g: PropertyGraph, iters: Int): DataFrame = {
    val edges = g.edges.select("src", "dst").cache()
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg")).cache()
    val nodes = g.nodes.select("id").cache()

    var ranks = nodes.withColumn("r", lit(1.0))
    for (i <- 1 to iters) {
      val contribs = edges
        .join(outdeg, "src")
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum((col("r") / col("outdeg")).cast("decimal(28,12)")).cast("double").as("s"))
      val next = nodes.join(contribs, Seq("id"), "left_outer")
        .select(col("id"), (lit(0.15) + lit(0.85) * coalesce(col("s"), lit(0.0))).as("r"))
        .localCheckpoint(true) // truncate lineage: plans grow per iteration
      ranks.unpersist()
      ranks = next
    }
    // nodes too: the per-round unpersist above only ever saw derived
    // frames (a no-op), so the cached id table outlived every call —
    // after the loop the surviving ranks frame is localCheckpoint-pinned
    // (or, at iters=0, a trivial re-select), so releasing it is safe
    edges.unpersist(); outdeg.unpersist(); nodes.unpersist()
    // cross-engine double→DECIMAL conversions drift in the last bits; a
    // 6-decimal rank is far beyond PageRank's meaningful precision and
    // makes the result hash-stable
    ranks.select(col("id"), round(col("r"), 6).as("r"))
  }

  /** SQL oracle for [[pageRank]] over the TPC-H graph
    * projection — reconstructs the same node/edge union in DuckDB.
    */
  def pageRankOracleSql(iters: Int): String = {
    val nodesSql =
      """SELECT 'Customer:' || c_custkey AS id FROM customer
         UNION ALL SELECT 'Order:' || o_orderkey FROM orders
         UNION ALL SELECT 'Part:' || p_partkey FROM part
         UNION ALL SELECT 'Supplier:' || s_suppkey FROM supplier
         UNION ALL SELECT 'Nation:' || n_nationkey FROM nation
         UNION ALL SELECT 'Region:' || r_regionkey FROM region"""
    val edgesSql =
      """SELECT 'Customer:' || o_custkey AS src, 'Order:' || o_orderkey AS dst FROM orders
         UNION ALL SELECT 'Order:' || l_orderkey, 'Part:' || l_partkey FROM lineitem
         UNION ALL SELECT DISTINCT 'Supplier:' || l_suppkey, 'Part:' || l_partkey FROM lineitem
         UNION ALL SELECT 'Customer:' || c_custkey, 'Nation:' || c_nationkey FROM customer
         UNION ALL SELECT 'Supplier:' || s_suppkey, 'Nation:' || s_nationkey FROM supplier
         UNION ALL SELECT 'Nation:' || n_nationkey, 'Region:' || n_regionkey FROM nation"""
    def iterCte(i: Int, prev: String): String =
      s"""r$i AS (
            SELECT n.id, 0.15 + 0.85 * COALESCE(c.s, 0.0) AS r
            FROM nodes n LEFT JOIN (
              SELECT e.dst AS id,
                     CAST(SUM(CAST($prev.r / outdeg AS DECIMAL(28,12))) AS DOUBLE) AS s
              FROM edges e
                JOIN deg ON e.src = deg.src
                JOIN $prev ON e.src = $prev.id
              GROUP BY e.dst) c ON n.id = c.id)"""
    val iterCtes = (1 to iters).map(i => iterCte(i, if (i == 1) "r0" else s"r${i - 1}"))
    s"""WITH nodes AS ($nodesSql),
        edges AS ($edgesSql),
        deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS r FROM nodes),
        ${iterCtes.mkString(",\n")}
        SELECT id, round(r, 6) AS r FROM r$iters"""
  }

  // =====================================================================
  // Connected components / communities
  // =====================================================================

  /** Modularity of a node partition over an undirected simple pair graph
    * (reference `apoc/community/community.go:288`):
    * Q = intra/m − Σ_c d_c² / (4m²). All accumulation is exact-integer
    * (edge counts, degree sums) with the two double divisions applied once
    * at the end — bit-exact against a SQL oracle, no float-sum order
    * sensitivity. One row out: (modularity).
    */
  def modularity(pairs: DataFrame, communities: DataFrame): DataFrame = {
    // the pair set feeds THREE aggregates (m, intra, dc2 via deg), so it
    // is cached — and because the result is a single scalar, the function
    // realizes it EAGERLY (one action over the broadcast-combined
    // aggregates) so the cache can be unpersisted deterministically
    // instead of pinning one CacheManager entry per invocation for the
    // session's lifetime. The emitted literal is the computed double,
    // bit-identical to the lazy plan's output.
    val spark = pairs.sparkSession
    val e = pairs.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b")).distinct().cache()
    try {
      val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
      val mDf = e.agg(count(lit(1)).as("m"))
      val dc2 = deg.join(communities, "id")
        .groupBy("component").agg(sum("deg").as("dc"))
        .agg(sum(col("dc") * col("dc")).as("sum_dc2"))
      val intra = e
        .join(communities.toDF("a", "ca"), "a")
        .join(communities.toDF("b", "cb"), "b")
        .filter(col("ca") === col("cb"))
        .agg(count(lit(1)).as("intra"))
      val row = mDf.crossJoin(intra).crossJoin(dc2)
        // m = 0 must short-circuit to null: under ANSI (the Spark 4
        // default) the division would otherwise THROW, and CASE WHEN is
        // the one construct that skips evaluating the division entirely.
        // For m > 0 the otherwise-branch is the identical expression.
        .select(when(col("m") === 0, lit(null).cast("double"))
          .otherwise(col("intra").cast("double") / col("m") -
            col("sum_dc2").cast("double") / (lit(4.0) * col("m") * col("m")))
          .as("modularity"))
        .head
      // degenerate inputs (m = 0 above; a communities table disjoint from
      // the pair ids makes sum_dc2 null) must keep the historical
      // one-row-with-null shape, not NPE in an eager getDouble
      val q: java.lang.Double =
        if (row.isNullAt(0)) null else java.lang.Double.valueOf(row.getDouble(0))
      import spark.implicits._
      Seq(q).toDF("modularity")
    } finally e.unpersist()
  }

  /** k-core of an undirected pair graph (`community.go:605`): iteratively
    * peel nodes with degree < k until stable. Each round is one grouped
    * degree count + two semi-joins over the surviving edge set — the
    * standard distributed peeling shape; rounds ≤ the peeling depth, not
    * the node count. No round cap: each round either shrinks the edge set
    * or stops, and stopping earlier returns nodes outside the core.
    * Returns the surviving node ids.
    */
  def kCore(pairs: DataFrame, k: Int): DataFrame = {
    var und = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint(true)
    var n = und.count()
    var stable = false
    while (!stable && n > 0) {
      val keep = und.groupBy("a").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("a").as("kid"))
      val next = und
        .join(keep, col("a") === col("kid")).drop("kid")
        .join(keep, col("b") === col("kid")).drop("kid")
        .localCheckpoint(true)
      val n2 = next.count()
      stable = n2 == n
      und = next; n = n2
    }
    und.select(col("a").as("id")).distinct()
  }

  /** Edge density m / (n·(n−1)/2) of a pair graph (`community.go:780`). */
  def density(pairs: DataFrame): DataFrame = {
    val e = pairs.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b")).distinct()
    val nDf = e.select(explode(array(col("a"), col("b"))).as("id"))
      .agg(countDistinct(col("id")).as("n"))
    e.agg(count(lit(1)).as("m")).crossJoin(nDf)
      .select(when(col("n") < 2, lit(0.0))
        .otherwise(col("m").cast("double") / (col("n") * (col("n") - 1) / 2))
        .as("density"))
  }

  /** Conductance of a node set: external / (2·internal + external), exact
    * integer edge counts, one final division (`community.go:747`).
    */
  def conductance(pairs: DataFrame, community: DataFrame): DataFrame = {
    val cm = community.select(col("id")).distinct()
    val e = pairs.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b")).distinct()
    val marked = e
      .join(cm.select(col("id").as("a"), lit(1).as("ina")), Seq("a"), "left")
      .join(cm.select(col("id").as("b"), lit(1).as("inb")), Seq("b"), "left")
      .select(coalesce(col("ina"), lit(0)).as("ina"),
        coalesce(col("inb"), lit(0)).as("inb"))
    marked.agg(
        sum(when(col("ina") === 1 && col("inb") === 1, 1L).otherwise(0L)).as("internal"),
        sum(when(col("ina") + col("inb") === 1, 1L).otherwise(0L)).as("external"))
      .select(when(lit(2L) * col("internal") + col("external") === 0, lit(0.0))
        .otherwise(col("external").cast("double") /
          (lit(2L) * col("internal") + col("external")))
        .as("conductance"))
  }

  /** Modularity of a partition: Q = Σ_c (in_c/m − (tot_c/2m)²). The total
    * weight `m` stays in the plan as a broadcast 1-row frame (the same
    * shape [[density]] uses) — no driver round-trip.
    */
  def modularity(g: PropertyGraph, communities: DataFrame,
      relType: Option[String] = None): DataFrame = {
    val es = relType.map(g.edgesByType).getOrElse(g.edges)
    val mDf = es.agg(sum("weight").as("m"))
    val withComms = es
      .join(communities.select(col("id").as("src"), col("label").as("cs")), "src")
      .join(communities.select(col("id").as("dst"), col("label").as("cd")), "dst")
    val inC = withComms.filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("community")).agg(sum("weight").as("w_in"))
    val totC = withComms.select(col("cs").as("community"), col("weight"))
      .union(withComms.select(col("cd").as("community"), col("weight")))
      .groupBy("community").agg(sum("weight").as("w_tot"))
    totC.join(inC, Seq("community"), "left_outer")
      .crossJoin(broadcast(mDf))
      .select(sum(coalesce(col("w_in"), lit(0.0)) / col("m") -
        pow(col("w_tot") / (lit(2) * col("m")), 2)).as("modularity"))
  }

  // =====================================================================
  // Weighted shortest paths (Bellman-Ford rounds)
  // =====================================================================

  /** Single-source weighted shortest distances, `rounds` relaxations.
    * Each round: dist' = min(dist, min over in-edges (dist(src)+weight)).
    * min over doubles is order-insensitive → oracle-exact.
    */
  def dijkstra(g: PropertyGraph, sourceId: String, rounds: Int): DataFrame = {
    val edges = g.edges.select("src", "dst", "weight").cache()
    var dist = g.nodes.filter(col("id") === sourceId)
      .select(col("id"), lit(0.0).as("dist")).cache()
    for (_ <- 1 to rounds) {
      val relaxed = dist
        .join(edges.withColumnRenamed("src", "id"), "id")
        .select(col("dst").as("id"), (col("dist") + col("weight")).as("dist"))
      val next = dist.unionByName(relaxed)
        .groupBy("id").agg(min("dist").as("dist"))
        .localCheckpoint(true)
      dist.unpersist()
      dist = next
    }
    edges.unpersist()
    dist
  }

  /** Distributed weighted point-to-point path: Bellman-Ford relaxation
    * rounds carrying the best path as an array column (the Pregel-style
    * shape that holds at any scale). Carrying the path costs ≤ rounds+1
    * id strings per frontier row but makes reconstruction a SINGLE
    * 1-row collect — no per-hop driver lookups (round-7 verdict #7).
    * Ties break on the lexicographically smallest (dist, path) struct
    * (deterministic). The fallback behind [[aStar]] when the point-query
    * neighborhood exceeds its driver cap.
    */
  def weightedPath(g: PropertyGraph, sourceId: String, targetId: String,
      rounds: Int): Option[(Seq[String], Double)] = {
    val edges = g.edges.select("src", "dst", "weight").cache()
    var dist = g.nodes.filter(col("id") === sourceId)
      .select(col("id"), lit(0.0).as("dist"),
        array(lit(sourceId)).as("path")).cache()
    for (_ <- 1 to rounds) {
      val relaxed = dist
        .join(edges.withColumnRenamed("src", "eid"), col("id") === col("eid"))
        .select(col("dst").as("id"), (col("dist") + col("weight")).as("dist"),
          concat(col("path"), array(col("dst"))).as("path"))
      val next = dist.unionByName(relaxed)
        .groupBy("id").agg(min(struct(col("dist"), col("path"))).as("best"))
        .select(col("id"), col("best.dist").as("dist"),
          col("best.path").as("path"))
        .localCheckpoint(true)
      dist.unpersist()
      dist = next
    }
    edges.unpersist()
    // the path rode along with the relaxation → ONE action reconstructs it
    val endRow = dist.filter(col("id") === targetId).collect()
    dist.unpersist()
    if (endRow.isEmpty) None
    else Some((endRow.head.getSeq[String](2).toList, endRow.head.getDouble(1)))
  }

  /** A* point-to-point search (`apoc.algo.aStar`,
    * `/root/reference/pkg/cypher/apoc_algorithms.go:114`). Like the
    * reference, this is a single-node point-query algorithm: the bounded
    * k-hop neighborhood of the source is collected (distributed BFS first),
    * then classic priority-queue A* runs on that subgraph. If the
    * neighborhood exceeds `maxLocalEdges`, the query FALLS BACK to the
    * distributed [[weightedPath]] relaxation instead of failing — same
    * cost, cluster-shaped. Heuristic defaults to 0 (= exact Dijkstra).
    */
  def aStar(g: PropertyGraph, sourceId: String, targetId: String,
      maxHops: Int = 6, heuristic: String => Double = _ => 0.0,
      maxLocalEdges: Int = 2000000): Option[(Seq[String], Double)] = {
    import graft.graph.Expand
    val spark = g.nodes.sparkSession
    val reachable = Expand.shortestPaths(g,
      g.nodes.filter(col("id") === sourceId).select("id"), None, maxHops, Expand.Both)
      .select("end_id")
    // guard the driver-side collect: a dense k-hop neighborhood must not
    // OOM the driver — past the cap, run the distributed relaxation
    val localEdges = g.edges
      .join(reachable.withColumnRenamed("end_id", "src"), Seq("src"), "left_semi")
      .select("src", "dst", "weight")
      .limit(maxLocalEdges + 1)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    if (localEdges.length > maxLocalEdges)
      return weightedPath(g, sourceId, targetId, maxHops)
    val adj = localEdges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(e => (e._2, e._3)) }
    // A* with binary-heap frontier
    val dist = scala.collection.mutable.Map(sourceId -> 0.0)
    val parent = scala.collection.mutable.Map.empty[String, String]
    val visited = scala.collection.mutable.Set.empty[String]
    val pq = scala.collection.mutable.PriorityQueue.empty[(Double, String)](
      Ordering.by[(Double, String), Double](_._1).reverse)
    pq.enqueue((heuristic(sourceId), sourceId))
    while (pq.nonEmpty && !visited.contains(targetId)) {
      val (_, u) = pq.dequeue()
      if (!visited.contains(u)) {
        visited += u
        adj.getOrElse(u, Array.empty[(String, Double)]).foreach { case (v, w) =>
          val nd = dist(u) + w
          if (nd < dist.getOrElse(v, Double.PositiveInfinity)) {
            dist(v) = nd
            parent(v) = u
            pq.enqueue((nd + heuristic(v), v))
          }
        }
      }
    }
    if (!dist.contains(targetId)) None
    else {
      val path = Iterator.iterate(targetId)(parent).takeWhile(_ != sourceId).toSeq.reverse
      Some((sourceId +: path, dist(targetId)))
    }
  }

  // =====================================================================
  // Link prediction (gds.linkPrediction.*, topology.go:244-)
  // =====================================================================

  /** Topological link-prediction scores over a bipartite adjacency
    * (entity → neighbor): commonNeighbors, adamicAdar, jaccard,
    * preferentialAttachment for entity pairs sharing ≥1 neighbor.
    */
  def linkPrediction(adj: DataFrame, maxEntity: Long): DataFrame = {
    // adj: (s, p) — deduplicated
    val a = adj.filter(col("s") <= maxEntity)
    val pdeg = adj.groupBy("p").agg(count(lit(1)).as("pdeg"))
    val sdeg = adj.groupBy("s").agg(count(lit(1)).as("sdeg"))
    val pairs = a.toDF("s1", "p")
      .join(a.toDF("s2", "p2"), col("p") === col("p2") && col("s1") < col("s2"))
      .join(pdeg, "p")
      .groupBy("s1", "s2")
      // ln differs by 1 ulp across libm implementations; round each term to
      // 9 decimals before the exact decimal sum so the oracle hash-matches
      .agg(count(lit(1)).as("cn"),
        sum(round(lit(1.0) / log(col("pdeg")), 9).cast("decimal(28,12)")).cast("double").as("aa"))
    pairs
      .join(sdeg.toDF("s1", "deg1"), "s1")
      .join(sdeg.toDF("s2", "deg2"), "s2")
      .select(col("s1"), col("s2"), col("cn"), col("aa"),
        (col("deg1") * col("deg2")).as("pa"),
        (col("cn").cast("double") / (col("deg1") + col("deg2") - col("cn"))).as("jac"))
  }

  /** Hybrid link prediction (`pkg/linkpredict/hybrid.go:159,222-280`):
    * blend = w_t·topology + w_s·cosine(emb_a, emb_b), with the topology
    * score (adamic-adar, the reference default) min-max normalized over
    * each source's candidate list and a minThreshold cut (defaults
    * `hybrid.go:120`: 0.5/0.5, normalize on, threshold 0.3).
    *
    * Candidates are the SAME adjacency self-join pairs as
    * [[linkPrediction]] — no new quadratic work — and the embedding join
    * touches only those pairs. `emb` maps entity id (LONG) → vector.
    */
  def linkPredictionHybrid(adj: DataFrame, emb: DataFrame, maxEntity: Long,
      topologyWeight: Double = 0.5, semanticWeight: Double = 0.5,
      minThreshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = linkPrediction(adj, maxEntity) // (s1, s2, cn, aa, pa, jac)
    val w = Window.partitionBy("s1")
    val rng = max("aa").over(w) - min("aa").over(w)
    val topoN = when(rng === 0.0, lit(1.0))
      .otherwise((col("aa") - min("aa").over(w)) / rng)
    base.withColumn("topology_score", topoN)
      .join(emb.select(col("vec_id").as("s1"), col("embedding").as("e1")), "s1")
      .join(emb.select(col("vec_id").as("s2"), col("embedding").as("e2")), "s2")
      .withColumn("semantic_score",
        round(dotDec(col("e1"), col("e2")) /
          (sqrt(dotDec(col("e1"), col("e1"))) * sqrt(dotDec(col("e2"), col("e2")))), 12))
      .withColumn("score",
        lit(topologyWeight) * col("topology_score") +
          lit(semanticWeight) * col("semantic_score"))
      .filter(col("score") >= minThreshold)
      .select(col("s1").as("node1"), col("s2").as("node2"), col("score"),
        col("topology_score"), col("semantic_score"))
  }

  // =====================================================================
  // FastRP node embeddings (fastrp.go:361)
  // =====================================================================

  /** Iterative random-projection embeddings: hash-seeded sparse init
    * (deterministic per node id — no RNG to distribute), then
    * vᵢ₊₁ = l2normalize(Σ_neighbors w·vᵢ), combined across iterations with
    * the given weights. Dim is small (default 16); everything is array
    * columns + one join per iteration.
    */
  def fastRP(g: PropertyGraph, dim: Int = 16, iterWeights: Seq[Double] = Seq(0.0, 1.0, 1.0),
      relType: Option[String] = None, exact: Boolean = false): DataFrame = {
    val es = relType.map(g.edgesByType).getOrElse(g.edges)
    val und = es.select(col("src").as("a"), col("dst").as("b"), col("weight"))
      .union(es.select(col("dst").as("a"), col("src").as("b"), col("weight")))
      .cache()

    def l2norm(v: Column): Column = {
      val n = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
      transform(v, x => when(n > 0, x / n).otherwise(lit(0.0)))
    }

    // sparse random init: component d ∈ {−1, 0, +1} via hash buckets.
    // The hash is the repo's codegen'd FNV-1a 64 (byte fold) rather than
    // Spark's internal murmur3 so a SQL oracle can replay the init
    // exactly (the apoc.hashing HUGEINT-mod-2^64 technique).
    graft.functions.HashExprs.ensure(g.nodes.sparkSession)
    val initVec = transform(sequence(lit(1), lit(dim)), d => {
      val h = pmod(call_function("graft_fnv1a64",
        concat(col("id"), lit("_"), d.cast("string"), lit("_42"))), lit(6))
      when(h === 0, lit(1.0)).when(h === 1, lit(-1.0)).otherwise(lit(0.0))
    })
    var vecs = g.nodes.select(col("id"), l2norm(initVec).as("vec")).cache()
    var acc = vecs.select(col("id"),
      transform(col("vec"), x => x * iterWeights.head).as("emb"))

    iterWeights.tail.foreach { w =>
      val agg0 = und
        .join(vecs.select(col("id").as("b"), col("vec")), "b")
        .withColumn("wvec", transform(col("vec"), x => x * col("weight")))
        .groupBy(col("a").as("id"))
        .agg(array((0 until dim).map { i =>
          val c = element_at(col("wvec"), i + 1)
          // exact: DECIMAL-routed neighbor sums are order-independent, so a
          // SQL oracle can replay the unordered task-order float summation
          // (the DECIMAL technique of pageRank above)
          if (exact) sum(c.cast("decimal(38,18)")).cast("double") else sum(c)
        }: _*).as("sumvec"))
      val next = g.nodes.select("id").join(agg0, Seq("id"), "left_outer")
        .select(col("id"),
          l2norm(coalesce(col("sumvec"),
            array((0 until dim).map(_ => lit(0.0)): _*))).as("vec"))
        .localCheckpoint(true)
      vecs.unpersist()
      vecs = next
      acc = acc.join(vecs, "id")
        .select(col("id"),
          zip_with(col("emb"), col("vec"), (e, v) => e + v * w).as("emb"))
    }
    und.unpersist()
    acc
  }

  // =====================================================================
  // Centrality on layered subgraphs
  // =====================================================================

  /** Closeness centrality from BFS lengths: (n_reachable) / Σ dist. */
  def closeness(lengths: DataFrame): DataFrame =
    lengths.filter(col("length") > 0)
      .groupBy(col("start_id").as("id"))
      .agg(count(lit(1)).as("n_reach"), sum("length").as("sum_dist"))
      .select(col("id"),
        (col("n_reach").cast("double") / col("sum_dist")).as("closeness"))

  /** Exact betweenness of the middle layer of a 2-layer routing graph
    * (x → mid → y, unique paths): number of (x, y) shortest paths through
    * each mid node.
    */
  def betweennessTwoHop(g: PropertyGraph, inType: String, outType: String): DataFrame = {
    val in = g.edgesByType(inType).select(col("src").as("x"), col("dst").as("mid"))
    val out = g.edgesByType(outType).select(col("src").as("mid"), col("dst").as("y"))
    in.join(out, "mid")
      .groupBy(col("mid").as("id"))
      .agg(count(lit(1)).as("betweenness"))
  }
}
