package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pattern-expansion operators — the reference's "join layer".
  *
  * NornicDB executes `(a)-[r:T]->(b)` as a per-node nested loop over
  * adjacency (`/root/reference/pkg/cypher/traversal.go:143`); here a hop is
  * a distributed hash join `bindings ⋈ edges ⋈ nodes`, so Catalyst picks
  * broadcast vs shuffle per side and AQE re-plans at runtime. Bindings carry
  * one column-prefix per Cypher variable (`a_id`, `a_name`, …).
  */
object Expand {

  sealed trait Direction
  case object Out extends Direction
  case object In extends Direction
  case object Both extends Direction

  /** Start a binding table: MATCH (v:Label). */
  def scan(g: PropertyGraph, v: String, label: Option[String]): DataFrame = {
    val base = label.map(g.nodesByLabel).getOrElse(g.nodes)
    nodeColsOf(base, v)
  }

  /** Node columns projected into a binding under `prefix`. The string
    * property map rides along as the dynamic-property fallback; Catalyst
    * column pruning removes it from the scan when no expression touches it.
    */
  def nodeColsOf(nodes: DataFrame, prefix: String): DataFrame =
    nodes.select(
      col("id").as(s"${prefix}_id"),
      col("labels").as(s"${prefix}_labels"),
      col("key").as(s"${prefix}_key"),
      col("name").as(s"${prefix}_name"),
      col("acctbal").as(s"${prefix}_acctbal"),
      col("mktsegment").as(s"${prefix}_mktsegment"),
      col("properties").as(s"${prefix}_properties"))

  /** One hop: join `bindings` (bound var `srcVar`) through edges to a new
    * var `dstVar`. Optionally binds the relationship as `relVar` columns.
    */
  def expand(
      g: PropertyGraph,
      bindings: DataFrame,
      srcVar: String,
      dstVar: String,
      relType: Option[String] = None,
      direction: Direction = Out,
      dstLabel: Option[String] = None,
      relVar: Option[String] = None,
      optional: Boolean = false,
      altRelTypes: Seq[String] = Seq.empty): DataFrame = {

    val es0 = g.edgesByTypes(relType.toSeq ++ altRelTypes)
    // orient edges so `from` is the bound side; the ORIGINAL endpoints ride
    // along (_rsrc/_rdst) for the apoc.rel.* endpoint accessors
    def cols(from: org.apache.spark.sql.Column, to: org.apache.spark.sql.Column) = Seq(from.as("_from"), to.as("_to"),
      col("id").as("_rid"), col("rel_type").as("_rtype"),
      col("properties").as("_rprops"), col("weight").as("_rweight"),
      col("src").as("_rsrc"), col("dst").as("_rdst"))
    val oriented = direction match {
      case Out  => es0.select(cols(col("src"), col("dst")): _*)
      case In   => es0.select(cols(col("dst"), col("src")): _*)
      case Both => es0.select(cols(col("src"), col("dst")): _*)
        .union(es0.select(cols(col("dst"), col("src")): _*))
    }

    val dstNodes = dstLabel.map(g.nodesByLabel).getOrElse(g.nodes)
    val hop = oriented
      .join(nodeColsOf(dstNodes, dstVar), col("_to") === col(s"${dstVar}_id"))

    val joinType = if (optional) "left_outer" else "inner"
    val joined = bindings.join(hop, col(s"${srcVar}_id") === col("_from"), joinType)

    val withRel = relVar match {
      case Some(r) => joined
        .withColumn(s"${r}_id", col("_rid"))
        .withColumn(s"${r}_type", col("_rtype"))
        .withColumn(s"${r}_properties", col("_rprops"))
        .withColumn(s"${r}_weight", col("_rweight"))
        .withColumn(s"${r}_src", col("_rsrc"))
        .withColumn(s"${r}_dst", col("_rdst"))
      case None => joined
    }
    withRel.drop("_from", "_to", "_rid", "_rtype", "_rprops", "_rweight",
      "_rsrc", "_rdst")
  }

  /** Var-length expand `[*min..max]`: (start_id, end_id, depth) with
    * per-depth dedup — the frontier dedup is what keeps the 100 TB case
    * from exploding combinatorially (SURVEY §7 "hard parts"). Runs on
    * [[graft.algos.BfsRdd.varLengthPairs]] for any number of starts.
    */
  def varLengthExpand(
      g: PropertyGraph,
      startIds: DataFrame, // single column `id`
      relType: Option[String],
      minHops: Int,
      maxHops: Int,
      direction: Direction = Out,
      altRelTypes: Seq[String] = Seq.empty): DataFrame =
    graft.algos.BfsRdd.varLengthPairs(g, startIds,
      relType.toSeq ++ altRelTypes, minHops, maxHops, direction)

  /** ALL shortest paths between two bound endpoints (SURVEY §2.3
    * allShortestPaths, reference `pkg/cypher/traversal.go:1435`):
    * level-synchronous BFS carrying path arrays, pruned per level to nodes
    * first reached at that level (every prefix of a shortest path is itself
    * shortest, so deeper re-visits can never extend into one), stopping at
    * the first level that reaches `dstId`. Returns (path ARRAY<STRING>,
    * length INT) — one row per distinct shortest path.
    */
  def allShortestPaths(
      g: PropertyGraph,
      srcId: String,
      dstId: String,
      relType: Option[String],
      maxHops: Int,
      direction: Direction = Out): DataFrame = {
    val sp = g.nodes.sparkSession
    import sp.implicits._
    graft.algos.BfsRdd.allShortestPaths(g,
        Seq(srcId).toDF("id"), Seq(dstId).toDF("id"),
        relType.toSeq, maxHops, direction, stopAtFirstHit = true)
      .select("path", "length")
  }

  /** Path-carrying var-length expansion for point anchors (the Planner
    * takes it for at most 128 start ids): one row per simple path with the node-id sequence and the rel
    * types traversed, so `nodes(p)`/`relationships(p)` resolve. Bulk
    * anchors keep the pair-level expansion — carrying full paths across a
    * large frontier is the exponential blow-up the pair dedup exists to
    * avoid; the reference enumerates paths per seed the same way
    * (`pkg/cypher/traversal.go` path contexts).
    * Returns (start_id, end_id, path ARRAY<STRING>, rels ARRAY<STRING>,
    * depth INT).
    */
  def varLengthPathsExpand(
      g: PropertyGraph,
      startIds: DataFrame,
      relType: Option[String],
      minHops: Int,
      maxHops: Int,
      direction: Direction = Out,
      altRelTypes: Seq[String] = Seq.empty): DataFrame = {
    val es0 = g.edgesByTypes(relType.toSeq ++ altRelTypes)
    val adj = (direction match {
      case Out => es0.select(col("src").as("_from"), col("dst").as("_to"), col("rel_type").as("_rt"))
      case In  => es0.select(col("dst").as("_from"), col("src").as("_to"), col("rel_type").as("_rt"))
      case Both => es0.select(col("src").as("_from"), col("dst").as("_to"), col("rel_type").as("_rt"))
        .union(es0.select(col("dst").as("_from"), col("src").as("_to"), col("rel_type").as("_rt")))
    }).cache()

    // cache + unpersist-parent per level instead of eager localCheckpoint: checkpointed blocks pin
    // BlockManager memory for the whole session, while cache blocks are
    // freed here and the final union recomputes the (point-anchored,
    // small) levels from lineage at consume time
    var frontier = startIds.select(
      col("id").as("start_id"), col("id").as("end_id"),
      array(col("id")).as("path"),
      array().cast("array<string>").as("rels"),
      lit(0).as("depth")).cache()
    var results: Vector[DataFrame] = if (minHops == 0) Vector(frontier) else Vector.empty
    var depth = 0
    var n = frontier.count()
    while (depth < maxHops && n > 0) {
      depth += 1
      val next = frontier
        .join(adj, col("end_id") === col("_from"))
        .filter(!array_contains(col("path"), col("_to"))) // simple paths
        .select(col("start_id"), col("_to").as("end_id"),
          concat(col("path"), array(col("_to"))).as("path"),
          concat(col("rels"), array(col("_rt"))).as("rels"),
          (col("depth") + 1).as("depth"))
        .cache()
      n = next.count() // materialize before unpersisting parent
      frontier.unpersist()
      frontier = next
      if (depth >= minHops) results = results :+ next
    }
    frontier.unpersist()
    adj.unpersist()
    if (results.isEmpty)
      frontier.limit(0)
    else results.reduce(_.unionByName(_))
  }

  /** All shortest paths from EVERY start to EVERY target in one
    * level-synchronous BFS (the distributed form of [[allShortestPaths]] —
    * one frontier covers all pairs, so `MATCH p = shortestPath((a)-[*]->(b))`
    * with multi-node endpoint patterns costs maxHops levels total, not
    * per pair). Per (start, end) pair the first depth that reaches `end`
    * wins; paths may pass THROUGH other targets. Returns
    * (start_id, end_id, path ARRAY<STRING>, length INT).
    */
  def allShortestPathsMulti(
      g: PropertyGraph,
      startIds: DataFrame, // single column `id`
      targetIds: DataFrame, // single column `id`
      relType: Option[String],
      maxHops: Int,
      direction: Direction = Out,
      altRelTypes: Seq[String] = Seq.empty): DataFrame =
    graft.algos.BfsRdd.allShortestPaths(g, startIds, targetIds,
      relType.toSeq ++ altRelTypes, maxHops, direction, stopAtFirstHit = false)

  /** BFS shortest path length from every node in `srcIds` to every reachable
    * node, capped at `maxHops`. Returns (start_id, end_id, length) keeping
    * the MINIMUM length per pair (first depth at which a pair appears).
    */
  def shortestPaths(
      g: PropertyGraph,
      srcIds: DataFrame,
      relType: Option[String],
      maxHops: Int,
      direction: Direction = Out): DataFrame =
    graft.algos.BfsRdd.shortestPathLengths(g, srcIds, relType.toSeq, maxHops,
      direction)
}
