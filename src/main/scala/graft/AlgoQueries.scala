package graft

import org.apache.spark.sql.functions._
import graft.algos.Algorithms
import graft.graph.Expand

/** Graph-algorithm surface (SURVEY §2.11). Oracle-checked where the
  * computation is SQL-expressible with bit-stable arithmetic (PageRank with
  * DECIMAL-routed contributions, Bellman-Ford distances via min,
  * link-prediction scores, 2-layer closeness/betweenness); iterative
  * fixpoint algorithms (WCC, LPA, Louvain, FastRP) are rows-only here and
  * property-tested in AlgoSpec.
  */
object AlgoQueries {

  /** Bounded part co-occurrence graph (parts < 150 sharing an order) —
    * a unipartite long-keyed pair graph with genuine triangles, used by
    * the community-analysis queries below. DuckDB replays the same pairs.
    */
  /** Bounded PLACED star subgraph (customers ≤ 1000 + their orders) for
    * the GraphX closed-form oracle twins — cached per sf-dir so the three
    * star queries share one PropertyGraph instance (and therefore one
    * GraphX id-dictionary context).
    */
  private val starCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.graph.PropertyGraph]()
  private def starFixture(s: org.apache.spark.sql.SparkSession, d: String) =
    starCache.computeIfAbsent(d, _ => {
      val g = GraphQueries.graph(s, d)
      graft.graph.PropertyGraph(
        g.nodes,
        g.edgesByType("PLACED")
          .filter(split(col("src"), ":").getItem(1).cast("long") <= 1000L))
    })

  /** Rings-of-customers + PLACED-tail fixture for the SCC scale loop's
    * oracle row: customers ring up WITHIN their custkey decade (k → next
    * in [10g, 10g+9], last wraps to the decade min), giving ~100 disjoint
    * nontrivial SCCs of diameter ≤ 10 — bounded coloring rounds, unlike
    * one giant ring, whose min-rank propagation would need O(ring) rounds.
    * The PLACED order edges are acyclic residue the trim peels. So the
    * row drives BOTH sccScale phases (trim AND FW-BW coloring + sweep),
    * which the DAG-shaped q_algo_scc projection never reaches (round-12
    * verdict item #8). A trailing partial decade (even a singleton, whose
    * self-loop the CSR drops) still labels as its decade min = itself, so
    * the decade-min oracle stays exact at every sf.
    */
  private val ringCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.graph.PropertyGraph]()
  private def ringFixture(s: org.apache.spark.sql.SparkSession, d: String) =
    ringCache.computeIfAbsent(d, _ => {
      import org.apache.spark.sql.expressions.Window
      val g = GraphQueries.graph(s, d)
      val ck = Tables.customer(s, d).filter(col("c_custkey") <= 999)
        .select(col("c_custkey").cast("long").as("k"))
        .withColumn("grp", floor(col("k") / 10))
      val w = Window.partitionBy("grp").orderBy("k")
      val ring = ck
        .withColumn("nk", coalesce(lead(col("k"), 1).over(w),
          min(col("k")).over(Window.partitionBy("grp"))))
        .select(
          concat(lit("Customer:"), col("k")).as("src"),
          concat(lit("Customer:"), col("nk")).as("dst"))
        .withColumn("id", concat(lit("ring:"), col("src")))
        .withColumn("rel_type", lit("RING"))
        .withColumn("properties",
          map().cast("map<string,string>"))
        .withColumn("weight", lit(1.0))
      val placed = g.edgesByType("PLACED")
        .filter(split(col("src"), ":").getItem(1).cast("long") <= 999L)
      val edges = ring.unionByName(placed.select(ring.columns.map(col): _*))
      val nodes = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      graft.graph.PropertyGraph(nodes, edges)
    })

  private val starLpaOracle =
    """SELECT 'Customer:' || o_custkey AS id,
              MAX('Order:' || o_orderkey) AS label
       FROM orders WHERE o_custkey <= 1000 GROUP BY o_custkey
       UNION ALL
       SELECT 'Order:' || o_orderkey, 'Customer:' || o_custkey
       FROM orders WHERE o_custkey <= 1000"""

  private val fastrpProjCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.graph.GraphProjections.Projection]()

  private val coPairsCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()

  private def coPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    // built once per sf-dir and CACHED: six community queries share it
    // (triangles, clustering, modularity, kcore, density, conductance) —
    // rebuilding the self-join per query was ~2 s each at sf0.1
    coPairsCache.computeIfAbsent(d, _ => {
      val li = Tables.lineitem(s, d).filter(col("l_partkey") < 150)
        .select(col("l_orderkey").as("o"), col("l_partkey"))
      li.select(col("o"), col("l_partkey").as("a"))
        .join(li.select(col("o").as("o2"), col("l_partkey").as("b")),
          col("o") === col("o2") && col("a") < col("b"))
        .select("a", "b").distinct().cache()
    })

  private val coPairsSql =
    """co AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
              FROM lineitem l1 JOIN lineitem l2
                ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
              WHERE l1.l_partkey < 150 AND l2.l_partkey < 150),
       und AS (SELECT a, b FROM co UNION ALL SELECT b, a FROM co)"""

  // ---- unrolled-fixpoint SQL oracles for the full-graph GraphX rows ----
  // Technique: iterative algorithms whose per-round arithmetic is exact
  // (string mins, integer-valued weight sums — no float reassociation)
  // replay in DuckDB as R unrolled MATERIALIZED rounds. Rounds past the
  // fixpoint are no-ops, so R only needs to EXCEED convergence (measured
  // at sf0.01, with margin). MATERIALIZED is load-bearing: each round
  // references the previous twice, and inlined CTEs would re-evaluate
  // exponentially.

  /** Min-string-id propagation over the undirected CONTAINS graph —
    * replays [[graft.algos.GraphXAlgos.wcc]]'s component labeling (min
    * string id per component). Converges in ≤6 rounds at sf0.01.
    */
  private def wccUnrolledSql(rounds: Int): String = {
    val head = """e AS MATERIALIZED (SELECT DISTINCT 'Order:' || l_orderkey AS a,
         'Part:' || l_partkey AS b FROM lineitem),
       und AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lb FROM und)"""
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         SELECT p.id, least(p.lb, coalesce(m.mn, p.lb)) AS lb
         FROM l${i - 1} p LEFT JOIN (
           SELECT u.a AS id, min(q.lb) AS mn
           FROM und u JOIN l${i - 1} q ON q.id = u.b GROUP BY u.a) m
           ON m.id = p.id)"""
    }
    (head +: steps).mkString("WITH ", ",\n", "") +
      s"\nSELECT lb AS component, COUNT(*) AS n_nodes FROM l$rounds GROUP BY lb"
  }

  /** Sync label propagation over the contracted undirected CONTAINS graph
    * — replays [[graft.algos.GraphXAlgos.labelPropagation]] exactly:
    * votes = Σ multiplicity (unweighted) or Σ edge weight (weighted;
    * l_quantity is integer-valued so double sums are order-independent),
    * argmax by (weight, label) with max-label tie-break, keep-old on no
    * neighbors. Fixed `rounds` = the query's iteration count, so no
    * convergence question arises.
    */
  private def lpaUnrolledSql(rounds: Int, weighted: Boolean): String = {
    val m = if (weighted) "SUM(l_quantity)" else "COUNT(*)"
    val head = s"""e AS MATERIALIZED (
         SELECT 'Order:' || l_orderkey AS a, 'Part:' || l_partkey AS b,
                CAST($m AS DOUBLE) AS m
         FROM lineitem GROUP BY 1, 2),
       und AS MATERIALIZED (SELECT a, b, m FROM e
         UNION ALL SELECT b AS a, a AS b, m FROM e),
       l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lb FROM und)"""
    val steps = (1 to rounds).map { i =>
      s"""t$i AS MATERIALIZED (
         SELECT u.a AS id, q.lb, SUM(u.m) AS w
         FROM und u JOIN l${i - 1} q ON q.id = u.b GROUP BY u.a, q.lb),
       p$i AS MATERIALIZED (
         SELECT id, lb FROM (SELECT id, lb, row_number() OVER
           (PARTITION BY id ORDER BY w DESC, lb DESC) AS rn FROM t$i)
         WHERE rn = 1),
       l$i AS MATERIALIZED (
         SELECT p.id, coalesce(s.lb, p.lb) AS lb
         FROM l${i - 1} p LEFT JOIN p$i s ON s.id = p.id)"""
    }
    (head +: steps).mkString("WITH ", ",\n", "") +
      s"\nSELECT lb AS label, COUNT(*) AS n_nodes FROM l$rounds GROUP BY lb"
  }

  /** Edge counts spanning adjWidthFor's regimes at par = 32: fine region,
    * last-width-before-cap, cap crossover, coarse plateau (10×), bytes
    * floor, and the 100×-sf3 figure from the adjWidthFor doc-comment.
    */
  private val adjWidthProbePoints: Seq[Long] = Seq(
    1000L, 3L * 32768L, 126L * 32768L, 128L * 32768L, 1280L * 32768L,
    165L * 4194304L, 7800000000L)

  /** [[lpaUnrolledSql]] (weighted) extended with the kernel CSR's
    * partition count — fine-regime width over both orientations of every
    * CONTAINS edge (one per lineitem row), the oriented edge count the
    * kernel build feeds to adjWidthFor before its one shuffle.
    */
  private def lpaWeightedCsrSql(rounds: Int): String =
    lpaUnrolledSql(rounds, weighted = true).replace(
      s"\nSELECT lb AS label, COUNT(*) AS n_nodes FROM l$rounds GROUP BY lb",
      s""",
       parts AS (SELECT CAST(2 * COUNT(*) // 32768 + 1 AS BIGINT) AS n_adj_partitions FROM lineitem)
       SELECT lb AS label, COUNT(*) AS n_nodes,
              (SELECT n_adj_partitions FROM parts) AS n_adj_partitions
       FROM l$rounds GROUP BY lb""")

  /** Iterative k-core peeling on the co-occurrence graph — replays
    * [[graft.algos.Algorithms.kCore]] (drop nodes with degree < k, repeat
    * to fixpoint; the k-core is order-independent). Converges in ≤2
    * rounds at sf0.01.
    */
  private def kcoreUnrolledSql(rounds: Int, k: Int): String = {
    val head = """co AS MATERIALIZED (
         SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         FROM lineitem l1 JOIN lineitem l2
           ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
         WHERE l1.l_partkey < 150 AND l2.l_partkey < 150),
       e0 AS MATERIALIZED (SELECT a, b FROM co
         UNION ALL SELECT b AS a, a AS b FROM co)"""
    val steps = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (
         SELECT a AS kid FROM e${i - 1} GROUP BY a HAVING COUNT(*) >= $k),
       e$i AS MATERIALIZED (
         SELECT e.a, e.b FROM e${i - 1} e
           JOIN k$i x ON e.a = x.kid JOIN k$i y ON e.b = y.kid)"""
    }
    (head +: steps).mkString("WITH ", ",\n", "") +
      s"\nSELECT DISTINCT a AS id FROM e$rounds"
  }

  val queries: Map[String, GQuery] = Map(
    "q_algo_pagerank" -> GQuery(
      (s, d) => Algorithms.pageRank(GraphQueries.graph(s, d), 2),
      Some(Algorithms.pageRankOracleSql(2)), "2.11"),

    // per-node triangle counts (community.go:324) on the co-occurrence
    // graph — GraphX triangleCount; the oracle counts center-at-v wedges
    // whose endpoints are themselves an edge
    "q_algo_triangles" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.triangleCounts(coPairs(s, d)),
      Some(s"""WITH $coPairsSql
               SELECT n.id, COALESCE(t.tri, 0) AS triangles FROM
                 (SELECT DISTINCT a AS id FROM und) n LEFT JOIN
                 (SELECT u1.a AS id, COUNT(*) AS tri
                  FROM und u1 JOIN und u2 ON u1.a = u2.a AND u1.b < u2.b
                  JOIN co e ON e.a = u1.b AND e.b = u2.b
                  GROUP BY u1.a) t ON t.id = n.id"""), "2.11"),

    // local clustering coefficient 2·tri/(k·(k−1)) (community.go:390)
    "q_algo_clustering_coeff" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.clusteringCoefficients(coPairs(s, d)),
      Some(s"""WITH $coPairsSql,
               deg AS (SELECT a AS id, COUNT(*) AS k FROM und GROUP BY a),
               tri AS (SELECT u1.a AS id, COUNT(*) AS tri
                       FROM und u1 JOIN und u2 ON u1.a = u2.a AND u1.b < u2.b
                       JOIN co e ON e.a = u1.b AND e.b = u2.b
                       GROUP BY u1.a)
               SELECT deg.id,
                      CASE WHEN deg.k < 2 THEN 0.0
                           ELSE 2.0 * COALESCE(tri.tri, 0) / (deg.k * (deg.k - 1)) END
                        AS coefficient
               FROM deg LEFT JOIN tri ON tri.id = deg.id"""), "2.11"),

    // modularity of the connected-component partition (community.go:288):
    // exact-integer sums, single final double division; components (and
    // their min-id labels) replayed with a recursive closure CTE
    "q_algo_modularity" -> GQuery(
      (s, d) => {
        val pairs = coPairs(s, d)
        Algorithms.modularity(pairs, graft.algos.GraphXAlgos.wccPairs(pairs))
      },
      Some(s"""WITH RECURSIVE $coPairsSql,
               cc(id, lbl) AS (
                 SELECT DISTINCT a, a FROM und
                 UNION
                 SELECT u.a, cc.lbl FROM cc JOIN und u ON u.b = cc.id),
               comm AS (SELECT id, MIN(lbl) AS component FROM cc GROUP BY id),
               deg AS (SELECT a AS id, COUNT(*) AS deg FROM und GROUP BY a),
               m AS (SELECT COUNT(*) AS m FROM co),
               dc2 AS (SELECT SUM(dc * dc) AS sum_dc2 FROM (
                         SELECT SUM(deg) AS dc FROM deg JOIN comm USING (id)
                         GROUP BY component)),
               intra AS (SELECT COUNT(*) AS intra FROM co
                         JOIN comm ca ON ca.id = co.a
                         JOIN comm cb ON cb.id = co.b
                         WHERE ca.component = cb.component)
               SELECT CAST(intra AS DOUBLE) / m -
                      CAST(sum_dc2 AS DOUBLE) / (4.0 * m * m) AS modularity
               FROM m, dc2, intra"""), "2.11"),

    // k-core peeling (community.go:605): unrolled-peel oracle (6 rounds;
    // converges in ≤2 at sf0.01); cascade invariants additionally
    // spec-asserted on a hand-built graph
    "q_algo_kcore" -> GQuery(
      (s, d) => Algorithms.kCore(coPairs(s, d), 3).orderBy("id"),
      Some(kcoreUnrolledSql(6, 3)), "2.11"),

    // subgraph density (community.go:780): exact counts, one division
    "q_algo_density" -> GQuery(
      (s, d) => Algorithms.density(coPairs(s, d)),
      Some(s"""WITH $coPairsSql,
               n AS (SELECT COUNT(DISTINCT a) AS n FROM und),
               m AS (SELECT COUNT(*) AS m FROM co)
               SELECT CASE WHEN n < 2 THEN 0.0
                           ELSE CAST(m AS DOUBLE) / (n * (n - 1) / 2) END AS density
               FROM n, m"""), "2.11"),

    // conductance of the component holding the minimum part id
    // (community.go:747): integer cut counts, single division
    "q_algo_conductance" -> GQuery(
      (s, d) => {
        val pairs = coPairs(s, d)
        val comm = graft.algos.GraphXAlgos.wccPairs(pairs)
        val target = comm
          .filter(col("component") === comm.agg(min("component")).head.getLong(0))
          .select(col("id"))
        Algorithms.conductance(pairs, target)
      },
      Some(s"""WITH RECURSIVE $coPairsSql,
               cc(id, lbl) AS (
                 SELECT DISTINCT a, a FROM und
                 UNION
                 SELECT u.a, cc.lbl FROM cc JOIN und u ON u.b = cc.id),
               comm AS (SELECT id, MIN(lbl) AS component FROM cc GROUP BY id),
               target AS (SELECT id FROM comm
                          WHERE component = (SELECT MIN(component) FROM comm)),
               marked AS (SELECT
                   CASE WHEN a IN (SELECT id FROM target) THEN 1 ELSE 0 END AS ina,
                   CASE WHEN b IN (SELECT id FROM target) THEN 1 ELSE 0 END AS inb
                 FROM co),
               agg AS (SELECT SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS internal,
                              SUM(CASE WHEN ina + inb = 1 THEN 1 ELSE 0 END) AS external
                       FROM marked)
               SELECT CASE WHEN 2 * internal + external = 0 THEN 0.0
                           ELSE CAST(external AS DOUBLE) / (2 * internal + external) END
                        AS conductance
               FROM agg"""), "2.11"),

    // strongly connected components (community.go:517) — the TPC-H
    // projection is a DAG, so every node is its own SCC (the cyclic case
    // is spec-asserted on a mutated store)
    "q_algo_scc" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.scc(GraphQueries.graph(s, d))
        .agg(countDistinct(col("component")).as("n_components"),
          count(lit(1)).as("n_nodes")),
      Some("""SELECT CAST(n AS BIGINT) AS n_components, CAST(n AS BIGINT) AS n_nodes FROM (
                SELECT (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM orders)
                     + (SELECT COUNT(*) FROM part) + (SELECT COUNT(*) FROM supplier)
                     + (SELECT COUNT(*) FROM nation) + (SELECT COUNT(*) FROM region) AS n)"""),
      "2.11"),

    // kernel WCC over the CONTAINS projection — unrolled min-propagation
    // oracle (12 rounds; converges in ≤6 at sf0.01, where CONTAINS is one
    // giant component)
    "q_algo_wcc" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.wcc(GraphQueries.graph(s, d), Some("CONTAINS"))
        .groupBy("component").agg(count(lit(1)).as("n_nodes")),
      Some(wccUnrolledSql(12)), "2.11"),

    // the same WCC entered through the CONTAINS pair list (the input shape
    // of the apoc.community CALLs) — same components, same oracle
    "q_algo_wcc_loop" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.wccPairs(
          graft.cypher.ApocGraphProcs.pairs(GraphQueries.graph(s, d), Some("CONTAINS")))
        .groupBy("component").agg(count(lit(1)).as("n_nodes")),
      Some(wccUnrolledSql(12)), "2.11"),

    // SCC scale loop on a graph with REAL cyclic cores (the TPC-H
    // projection is a DAG, so q_algo_scc's trim resolves everything and
    // coloring never runs under oracle check — round-12 verdict item #8):
    // ~100 decade rings of customers = nontrivial SCCs labeled by the
    // decade-min string id, PLACED order tails = trim-peeled singletons.
    // Full (id, component) rows hash-compared. Decade string-min equals
    // decade numeric-min because every decade's keys share a digit count.
    "q_algo_scc_cyclic" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.scc(ringFixture(s, d)),
      Some("""SELECT 'Customer:' || c_custkey AS id,
                     'Customer:' || ((c_custkey // 10) * 10) AS component
              FROM customer WHERE c_custkey <= 999
              UNION ALL
              SELECT 'Order:' || o_orderkey AS id, 'Order:' || o_orderkey AS component
              FROM orders WHERE o_custkey <= 999"""),
      "2.11"),

    // pair-input WCC over the undirected PLACED pairs — exactly what
    // CALL apoc.community.weaklyconnectedcomponents('PLACED') runs. PLACED
    // is star-shaped (one component per customer).
    // Oracle: component id = lexicographic-min node id = 'Customer:<k>'
    // ('C' < 'O'), size = the customer plus its orders.
    "q_algo_wcc_df" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.wccPairs(
          graft.cypher.ApocGraphProcs.pairs(GraphQueries.graph(s, d), Some("PLACED")))
        .groupBy(col("component")).agg(count(lit(1)).as("n_nodes")),
      Some("""SELECT 'Customer:' || c_custkey AS component,
                     COUNT(*) + 1 AS n_nodes
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_custkey"""), "2.11"),

    // CsrKernel label propagation and Louvain (same semantics as the
    // DataFrame reference in src/test, asserted in AlgoSpec): rounds run as
    // in-memory RDD passes instead of per-round Catalyst plans
    "q_algo_label_prop" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.labelPropagation(
        GraphQueries.graph(s, d), 3, Some("CONTAINS"))
        .groupBy("label").agg(count(lit(1)).as("n_nodes")),
      Some(lpaUnrolledSql(3, weighted = false)), "2.11"),

    "q_algo_louvain" -> GQuery(
      (s, d) => {
        val (comms, q) = graft.algos.GraphXAlgos.louvain(
          GraphQueries.graph(s, d), 3, Some("CONTAINS"))
        comms.groupBy("label").agg(count(lit(1)).as("n_nodes"))
      },
      Some(lpaUnrolledSql(3, weighted = true)), "2.11"),

    // weighted kernel LPA with the kernel CSR's PARTITION COUNT under
    // the hash check (round-13 verdict item #8): the per-partition tally +
    // one-shuffle combine must be exact across ≥2 partitions with real
    // weights, and the row goes red if a width-constant drift ever
    // collapses the sf0.01 adjacency to one partition (the multi-partition
    // path would then silently stop being oracle-covered). The DuckDB side
    // recomputes the width independently: at sf0.01 the fine regime binds
    // (2|E| ≈ 120k edges → fine = 2|E|/32768+1 = 4; the 4·par coarse cap
    // ≥ 4 for any par ≥ 1 and the 4M bytes floor = 1 never bind), so the
    // oracle formula needs no parallelism input.
    "q_algo_lpa_weighted_csr" -> GQuery(
      (s, d) => {
        val labels = graft.algos.GraphXAlgos.labelPropagation(
          GraphQueries.graph(s, d), 2, Some("CONTAINS"), weighted = true)
        // the pinned result keeps the kernel CSR's partitioning
        val nParts = labels.rdd.getNumPartitions
        labels.groupBy("label").agg(count(lit(1)).as("n_nodes"))
          .withColumn("n_adj_partitions", lit(nParts.toLong))
      },
      Some(lpaWeightedCsrSql(2)), "2.11"),

    // adjWidthFor's three regimes pinned as data (round-13 verdict item
    // #8): the fine→coarse crossover at 4·par waves, the coarse plateau
    // (10× more data, same width — per-round shuffle blocks stay bounded),
    // and the bytes-floor override past cap·4M edges (incl. the 100×-sf3
    // doc-comment arithmetic: 7.8G vote edges → 1860 partitions). The
    // DuckDB oracle evaluates the width formula INDEPENDENTLY; par is
    // fixed at 32 on both sides (the width RULE is the contract here, not
    // the session's core count).
    "q_algo_adj_width" -> GQuery(
      (s, d) => {
        import s.implicits._
        adjWidthProbePoints
          .map(n => (n, graft.algos.GraphXAlgos.adjWidthFor(n, 32).toLong))
          .toDF("n_edges", "width")
      },
      Some(s"""SELECT n_edges,
                      LEAST(4096, GREATEST(n_edges // 4194304 + 1,
                                           LEAST(n_edges // 32768 + 1, 128))) AS width
               FROM (VALUES ${adjWidthProbePoints
                 .map(n => s"(CAST($n AS BIGINT))").mkString(", ")}) t(n_edges)"""),
      "2.11"),

    // kernel WCC oracle twin on the PLACED star fixture (bounded to
    // 1000 customers — these rows prove ALGORITHM correctness with a
    // closed form; the full-graph perf rows are q_algo_wcc/_label_prop/
    // _louvain above): every component is one customer star, so
    // component = min string id = 'Customer:<k>' ('C' < 'O')
    "q_algo_wcc_star" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.wcc(starFixture(s, d), Some("PLACED")),
      Some("""SELECT DISTINCT 'Customer:' || o_custkey AS id,
                     'Customer:' || o_custkey AS component
              FROM orders WHERE o_custkey <= 1000
              UNION ALL
              SELECT 'Order:' || o_orderkey, 'Customer:' || o_custkey
              FROM orders WHERE o_custkey <= 1000"""),
      "2.11"),

    // hash-checked oracle twins of the kernel LPA/Louvain rows on the
    // star fixture: synchronous LPA on a star oscillates with known
    // phase, so after 3 (odd) rounds the closed form is exact — the center
    // holds the string-max order label, each order holds its customer
    // (tie-break = max label, GraphXAlgos.labelPropagation)
    "q_algo_label_prop_star" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.labelPropagation(
        starFixture(s, d), 3, Some("PLACED")),
      Some(starLpaOracle), "2.11"),

    // weighted flavor (louvain's label stage): PLACED weights are uniform
    // 1.0, so the weighted vote tally follows the same closed form while
    // exercising the weight-sum path; modularity is spec-asserted
    "q_algo_louvain_star" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.louvain(
        starFixture(s, d), 3, Some("PLACED"))._1,
      Some(starLpaOracle), "2.11"),

    // kernel PageRank, hash-checked on the star fixture (the technique
    // that converted WCC/LPA/Louvain): each order has EXACTLY one in-edge,
    // so no unordered float summation exists on any row, and 3 iterations
    // reach the closed form — customer r = 0.15 (no in-edges), order
    // r = 0.15 + 0.85·(0.15·1/outdeg(customer)), replayed in the same
    // left-to-right double order. Full-graph pagerank coverage stays on
    // q_algo_pagerank (the DECIMAL oracle path; agreement spec-asserted).
    "q_algo_pagerank_graphx" -> GQuery(
      (s, d) => graft.algos.GraphXAlgos.pageRank(starFixture(s, d), 3,
        Some("PLACED")),
      Some("""WITH st AS (SELECT o_custkey AS ck, o_orderkey AS ok
                          FROM orders WHERE o_custkey <= 1000),
                   nc AS (SELECT ck, COUNT(*) AS n FROM st GROUP BY ck)
              SELECT 'Customer:' || ck AS id, CAST(0.15 AS DOUBLE) AS r FROM nc
              UNION ALL
              SELECT 'Order:' || st.ok,
                     CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
                       (CAST(0.15 AS DOUBLE) * CAST(1.0 AS DOUBLE) / nc.n)
              FROM st JOIN nc USING (ck)"""),
      "2.11"),

    "q_algo_dijkstra" -> GQuery(
      (s, d) => Algorithms.dijkstra(GraphQueries.graph(s, d), "Customer:1", 2),
      Some("""SELECT id, dist FROM (
                SELECT 'Customer:1' AS id, 0.0 AS dist
                UNION ALL
                SELECT 'Order:' || o_orderkey, 1.0 FROM orders WHERE o_custkey = 1
                UNION ALL
                SELECT 'Nation:' || c_nationkey, 1.0 FROM customer WHERE c_custkey = 1
                UNION ALL
                SELECT 'Part:' || l_partkey, MIN(1.0 + l_quantity)
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_custkey = 1 GROUP BY l_partkey
                UNION ALL
                SELECT 'Region:' || n_regionkey, 2.0
                FROM nation JOIN customer ON c_nationkey = n_nationkey
                WHERE c_custkey = 1)"""), "2.11"),

    "q_algo_linkpred" -> GQuery(
      (s, d) => Algorithms.linkPrediction(
        Tables.lineitem(s, d).select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct(),
        20L),
      Some("""WITH adj AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
              pdeg AS (SELECT p, COUNT(*) AS pdeg FROM adj GROUP BY p),
              sdeg AS (SELECT s, COUNT(*) AS sdeg FROM adj GROUP BY s),
              pairs AS (
                SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cn,
                       CAST(SUM(CAST(round(1.0 / ln(pdeg), 9) AS DECIMAL(28,12))) AS DOUBLE) AS aa
                FROM adj a
                  JOIN adj b ON a.p = b.p AND a.s < b.s
                  JOIN pdeg ON a.p = pdeg.p
                WHERE a.s <= 20 AND b.s <= 20
                GROUP BY a.s, b.s)
              SELECT s1, s2, cn, aa, d1.sdeg * d2.sdeg AS pa,
                     CAST(cn AS DOUBLE) / (d1.sdeg + d2.sdeg - cn) AS jac
              FROM pairs JOIN sdeg d1 ON s1 = d1.s JOIN sdeg d2 ON s2 = d2.s"""),
      "2.11"),

    // gds.linkPrediction CALL surface (linkprediction.go:162): per-source
    // adamic-adar over the SUPPLIES bipartite graph from Part:1 — the
    // CALL-surface twin of q_algo_linkpred, YIELD through the Cypher string
    "q_cypher_gds_linkpred" -> GQuery(
      (s, d) => graft.cypher.Cypher.run(GraphQueries.graph(s, d),
        """CALL gds.linkPrediction.adamicAdar.stream(
             {sourceNode: 'Part:1', topK: 10, relationshipTypes: ['SUPPLIES']})
           YIELD node1, node2, score
           RETURN node1, node2, score"""),
      Some("""WITH adj AS (SELECT DISTINCT 'Supplier:' || l_suppkey AS s,
                                           'Part:' || l_partkey AS p FROM lineitem),
              deg AS (SELECT s, COUNT(*) AS deg FROM adj GROUP BY s),
              nbrs AS (SELECT s FROM adj WHERE p = 'Part:1'),
              cand AS (
                SELECT a.p,
                       CAST(SUM(CAST(round(1.0 / ln(deg), 9) AS DECIMAL(28,12))) AS DOUBLE) AS score
                FROM adj a JOIN nbrs USING (s) JOIN deg USING (s)
                WHERE a.p <> 'Part:1'
                GROUP BY a.p)
              SELECT 'Part:1' AS node1, p AS node2, score
              FROM cand ORDER BY score DESC, node2 LIMIT 10"""),
      "2.11"),

    // gds.fastRP.stream over a named PLACED-star projection (fastrp.go:360)
    // bounded to customers <= 200. The oracle replays the FULL pipeline for
    // the leaf (Order) nodes: FNV-1a-seeded sparse init, l2-normalize,
    // one propagation step, l2-normalize again — every float op in the
    // same left-to-right order, so embeddings are bit-identical. Leaves
    // have exactly ONE neighbor, so no unordered float summation exists on
    // the compared rows (the Customer centers sum many neighbors in
    // unordered task order and are excluded; full-graph perf coverage is
    // q_algo_fastrp above).
    "q_cypher_gds_fastrp" -> GQuery(
      (s, d) => {
        val g = GraphQueries.graph(s, d)
        fastrpProjCache.computeIfAbsent(d, _ => {
          val es = g.edgesByType("PLACED")
            .filter(split(col("src"), ":").getItem(1).cast("long") <= 200L)
          val ids = es.select(col("src").as("id"))
            .union(es.select(col("dst").as("id"))).distinct()
          graft.graph.GraphProjections.register("fastrp_star",
            graft.graph.PropertyGraph(g.nodes.join(ids, "id"), es))
        })
        graft.cypher.Cypher.run(g,
          """CALL gds.fastRP.stream('fastrp_star',
               {embeddingDimension: 8, iterationWeights: [0.0, 1.0]})
             YIELD nodeId, embedding
             WHERE nodeId STARTS WITH 'Order:'
             RETURN nodeId, embedding""")
          // string-join the vector for the oracle compare: the driver's
          // pandas canon cannot sort raw array cells (unhashable ndarray)
          .select(col("nodeId"),
            array_join(transform(col("embedding"),
              x => format_string("%.6f", x)), ";").as("embedding"))
      },
      Some("""WITH custs AS (SELECT DISTINCT o_custkey AS ck FROM orders WHERE o_custkey <= 200),
              dims AS (SELECT unnest(generate_series(1, 8)) AS d),
              hv AS (
                SELECT ck, d,
                  list_reduce(list_prepend(CAST(14695981039346656037 AS UBIGINT),
                    list_transform(string_split('Customer:' || ck || '_' || d || '_42', ''),
                      c -> CAST(ord(c) AS UBIGINT))),
                    (h, c) -> CAST(CAST(xor(h, c) AS HUGEINT) * 1099511628211
                      % CAST(18446744073709551616 AS HUGEINT) AS UBIGINT)) AS u
                FROM custs CROSS JOIN dims),
              init AS (
                SELECT ck, d,
                  CASE ((CAST(CASE WHEN u >= 9223372036854775808
                           THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
                           ELSE CAST(u AS BIGINT) END AS HUGEINT) % 6) + 6) % 6
                    WHEN 0 THEN CAST(1.0 AS DOUBLE)
                    WHEN 1 THEN CAST(-1.0 AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS x
                FROM hv),
              iv AS (SELECT ck, list(x ORDER BY d) AS v FROM init GROUP BY ck),
              n0 AS (SELECT ck, v,
                       sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
                     FROM iv),
              v0 AS (SELECT ck,
                       list_transform(v, x -> CASE WHEN nrm > 0 THEN x / nrm
                                                   ELSE CAST(0.0 AS DOUBLE) END) AS v
                     FROM n0),
              n1 AS (SELECT ck, v,
                       sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
                     FROM v0),
              v1 AS (SELECT ck,
                       list_transform(v, x -> CASE WHEN nrm > 0 THEN x / nrm
                                                   ELSE CAST(0.0 AS DOUBLE) END) AS v
                     FROM n1)
              SELECT 'Order:' || o.o_orderkey AS "nodeId",
                     array_to_string(list_transform(v1.v, x -> printf('%.6f', x)), ';') AS embedding
              FROM orders o JOIN v1 ON v1.ck = o.o_custkey
              WHERE o.o_custkey <= 200"""),
      "2.11"),

    // hybrid link prediction (pkg/linkpredict/hybrid.go:159): adamic-adar
    // min-max normalized per source, blended 0.5/0.5 with embedding cosine
    // (vec_id = supplier key), minThreshold 0.3 — the oracle replays the
    // whole blend: decimal-routed aa, window normalize, decimal cosine
    "q_algo_linkpred_hybrid" -> GQuery(
      (s, d) => Algorithms.linkPredictionHybrid(
        Tables.lineitem(s, d).select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct(),
        Tables.embeddings(s, d), 20L),
      Some("""WITH adj AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
              pdeg AS (SELECT p, COUNT(*) AS pdeg FROM adj GROUP BY p),
              pairs AS (
                SELECT a.s AS s1, b.s AS s2,
                       CAST(SUM(CAST(round(1.0 / ln(pdeg), 9) AS DECIMAL(28,12))) AS DOUBLE) AS aa
                FROM adj a
                  JOIN adj b ON a.p = b.p AND a.s < b.s
                  JOIN pdeg ON a.p = pdeg.p
                WHERE a.s <= 20 AND b.s <= 20
                GROUP BY a.s, b.s),
              norm AS (
                SELECT s1, s2, aa,
                       CASE WHEN max(aa) OVER (PARTITION BY s1) = min(aa) OVER (PARTITION BY s1)
                            THEN 1.0
                            ELSE (aa - min(aa) OVER (PARTITION BY s1))
                               / (max(aa) OVER (PARTITION BY s1) - min(aa) OVER (PARTITION BY s1))
                       END AS topology_score
                FROM pairs),
              cosv AS (
                SELECT n.s1, n.s2,
                  round(CAST(SUM(CAST(CAST(e1.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
                    / (sqrt(CAST(SUM(CAST(CAST(e1.embedding[i] AS DOUBLE) * CAST(e1.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE))
                     * sqrt(CAST(SUM(CAST(CAST(e2.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE))), 12)
                    AS semantic_score
                FROM norm n
                  JOIN embeddings e1 ON e1.vec_id = n.s1
                  JOIN embeddings e2 ON e2.vec_id = n.s2
                  CROSS JOIN generate_series(1, 64) t(i)
                GROUP BY n.s1, n.s2)
              SELECT n.s1 AS node1, n.s2 AS node2,
                     0.5 * n.topology_score + 0.5 * c.semantic_score AS score,
                     n.topology_score, c.semantic_score
              FROM norm n JOIN cosv c ON n.s1 = c.s1 AND n.s2 = c.s2
              WHERE 0.5 * n.topology_score + 0.5 * c.semantic_score
                      >= CAST(0.3 AS DOUBLE)"""),
      "2.11"),

    // embedding stringified: the driver's pandas row-sort can't hash raw
    // array columns (round-1 compare failure). exact=true routes the
    // neighbor sums through DECIMAL(38,18) so the unordered task-order
    // float summation is order-independent and the FULL graph replays in
    // DuckDB — FNV init, l2norm, decimal propagation, l2norm (the
    // pageRank(exact=true) technique; this was the last no_oracle row).
    "q_algo_fastrp" -> GQuery(
      (s, d) => {
        // embed the SUPPLIES projection, as gds.fastRP does over a
        // gds.graph.project subgraph — running the iteration joins over
        // every node in the full graph only adds zero vectors for the
        // 90% of nodes with no SUPPLIES edge
        val g = GraphQueries.graph(s, d)
        val proj = graft.graph.PropertyGraph(
          g.nodes.filter(array_contains(col("labels"), "Supplier") ||
            array_contains(col("labels"), "Part")),
          g.edgesByType("SUPPLIES"))
        Algorithms.fastRP(proj, dim = 8, iterWeights = Seq(0.0, 1.0), exact = true)
          .select(col("id"),
            array_join(transform(col("emb"), x => format_string("%.6f", x)), ";").as("emb_str"))
      },
      Some("""WITH nodes AS (
                SELECT 'Supplier:' || s_suppkey AS id FROM supplier
                UNION ALL SELECT 'Part:' || p_partkey FROM part),
              edges AS (SELECT DISTINCT 'Supplier:' || l_suppkey AS s,
                               'Part:' || l_partkey AS p FROM lineitem),
              und AS (SELECT s AS a, p AS b FROM edges
                      UNION ALL SELECT p AS a, s AS b FROM edges),
              dims AS (SELECT unnest(generate_series(1, 8)) AS d),
              hv AS (
                SELECT id, d,
                  list_reduce(list_prepend(CAST(14695981039346656037 AS UBIGINT),
                    list_transform(string_split(id || '_' || d || '_42', ''),
                      c -> CAST(ord(c) AS UBIGINT))),
                    (h, c) -> CAST(CAST(xor(h, c) AS HUGEINT) * 1099511628211
                      % CAST(18446744073709551616 AS HUGEINT) AS UBIGINT)) AS u
                FROM nodes CROSS JOIN dims),
              init AS (
                SELECT id, d,
                  CASE ((CAST(CASE WHEN u >= 9223372036854775808
                           THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
                           ELSE CAST(u AS BIGINT) END AS HUGEINT) % 6) + 6) % 6
                    WHEN 0 THEN CAST(1.0 AS DOUBLE)
                    WHEN 1 THEN CAST(-1.0 AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS x
                FROM hv),
              iv AS (SELECT id, list(x ORDER BY d) AS v FROM init GROUP BY id),
              v0 AS (
                SELECT id, list_transform(v, x -> CASE WHEN nrm > 0 THEN x / nrm
                                                       ELSE CAST(0.0 AS DOUBLE) END) AS v
                FROM (SELECT id, v, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM iv)),
              comp AS (
                SELECT u.a AS id, dm.d,
                  CAST(SUM(CAST(v0.v[dm.d] AS DECIMAL(38,18))) AS DOUBLE) AS x
                FROM und u JOIN v0 ON v0.id = u.b CROSS JOIN dims dm
                GROUP BY u.a, dm.d),
              sv AS (SELECT id, list(x ORDER BY d) AS v FROM comp GROUP BY id),
              allv AS (SELECT n.id,
                         COALESCE(sv.v, [CAST(0.0 AS DOUBLE),0,0,0,0,0,0,0]) AS v
                       FROM nodes n LEFT JOIN sv ON sv.id = n.id),
              v1 AS (
                SELECT id, list_transform(v, x -> CASE WHEN nrm > 0 THEN x / nrm
                                                       ELSE CAST(0.0 AS DOUBLE) END) AS v
                FROM (SELECT id, v, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM allv))
              SELECT id,
                array_to_string(list_transform(v, x -> printf('%.6f', x)), ';') AS emb_str
              FROM v1"""),
      "2.11"),

    "q_algo_closeness" -> GQuery(
      (s, d) => {
        val g = GraphQueries.graph(s, d)
        val lengths = Expand.shortestPaths(g,
          g.nodesByLabel("Region").select("id"), None, 2, Expand.In)
        Algorithms.closeness(lengths)
      },
      Some("""SELECT 'Region:' || r_regionkey AS id,
                CAST(nn + nc + ns AS DOUBLE) / (nn + 2 * (nc + ns)) AS closeness
              FROM (SELECT r_regionkey,
                      (SELECT COUNT(*) FROM nation n WHERE n.n_regionkey = region.r_regionkey) AS nn,
                      (SELECT COUNT(*) FROM customer JOIN nation n2 ON c_nationkey = n2.n_nationkey
                       WHERE n2.n_regionkey = region.r_regionkey) AS nc,
                      (SELECT COUNT(*) FROM supplier JOIN nation n3 ON s_nationkey = n3.n_nationkey
                       WHERE n3.n_regionkey = region.r_regionkey) AS ns
                    FROM region)"""), "2.11"),

    "q_algo_betweenness" -> GQuery(
      (s, d) => Algorithms.betweennessTwoHop(GraphQueries.graph(s, d), "FROM", "IN"),
      Some("""SELECT 'Nation:' || c_nationkey AS id, COUNT(*) AS betweenness
              FROM customer GROUP BY c_nationkey"""), "2.11"))
}
