package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph
import graft.graph.Expand.{Both, Direction, In, Out}

/** Traversals as per-level DataFrame joins: the differential reference
  * for the `BfsRdd` loops behind `Expand.varLengthExpand`,
  * `Expand.allShortestPaths`, `Expand.allShortestPathsMulti` and
  * `Expand.shortestPaths`. Each level joins the frontier with the oriented
  * edge table and deduplicates; nothing here shares code with the CSR
  * loops.
  */
object TraversalReference {

  /** [[graft.graph.Expand.varLengthExpand]]: (start_id, end_id, depth). */
  def varLengthExpand(
      g: PropertyGraph,
      startIds: DataFrame, // single column `id`
      relType: Option[String],
      minHops: Int,
      maxHops: Int,
      direction: Direction = Out,
      altRelTypes: Seq[String] = Seq.empty): DataFrame = {

    val es0 = g.edgesByTypes(relType.toSeq ++ altRelTypes)
    val adj = (direction match {
      case Out  => es0.select(col("src").as("_from"), col("dst").as("_to"))
      case In   => es0.select(col("dst").as("_from"), col("src").as("_to"))
      case Both => es0.select(col("src").as("_from"), col("dst").as("_to"))
        .union(es0.select(col("dst").as("_from"), col("src").as("_to")))
    }).cache()

    var frontier = startIds.select(col("id").as("start_id"), col("id").as("end_id")).cache()
    // [*0..n]: the zero-hop pair (start, start, 0) is part of the result
    var results: Vector[DataFrame] =
      if (minHops == 0)
        Vector(startIds.select(col("id").as("start_id"), col("id").as("end_id"),
          lit(0).as("depth")))
      else Vector.empty
    var depth = 0
    while (depth < maxHops) {
      depth += 1
      val next = frontier
        .join(adj, col("end_id") === col("_from"))
        .select(col("start_id"), col("_to").as("end_id"))
        .distinct() // per-depth dedup: pairs, not paths
        .cache()
      next.count() // materialize before unpersisting parent
      frontier.unpersist()
      frontier = next
      if (depth >= minHops) results = results :+ next.withColumn("depth", lit(depth))
    }
    adj.unpersist()
    if (results.isEmpty) startIds.sparkSession.emptyDataFrame
    else results.reduce(_.unionByName(_))
  }

  /** [[graft.graph.Expand.allShortestPaths]]: (path, length). */
  def allShortestPaths(
      g: PropertyGraph,
      srcId: String,
      dstId: String,
      relType: Option[String],
      maxHops: Int,
      direction: Direction = Out): DataFrame = {

    val es0 = relType.map(g.edgesByType).getOrElse(g.edges)
    val adj = (direction match {
      case Out  => es0.select(col("src").as("_from"), col("dst").as("_to"))
      case In   => es0.select(col("dst").as("_from"), col("src").as("_to"))
      case Both => es0.select(col("src").as("_from"), col("dst").as("_to"))
        .union(es0.select(col("dst").as("_from"), col("src").as("_to")))
    }).distinct().cache()

    var frontier = g.nodes.filter(col("id") === srcId)
      .select(col("id").as("end_id"), array(col("id")).as("path")).cache()
    var visited = frontier.select("end_id")
    var found: Option[DataFrame] = None
    var depth = 0
    while (depth < maxHops && found.isEmpty) {
      depth += 1
      val next = frontier
        .join(adj, col("end_id") === col("_from"))
        .select(col("_to").as("end_id"), concat(col("path"), array(col("_to"))).as("path"))
        .join(visited, Seq("end_id"), "left_anti") // only first-reached-here nodes
        .distinct()
        .cache()
      val hits = next.filter(col("end_id") === dstId)
      if (hits.limit(1).count() > 0) found = Some(hits)
      else if (next.limit(1).count() == 0) { found = Some(next.limit(0)) } // disconnected
      else {
        visited = visited.union(next.select("end_id").distinct()).distinct()
        frontier = next
      }
    }
    adj.unpersist()
    found.getOrElse(frontier.limit(0))
      .select(col("path"), (size(col("path")) - 1).as("length"))
  }

  /** [[graft.graph.Expand.allShortestPathsMulti]]:
    * (start_id, end_id, path, length).
    */
  def allShortestPathsMulti(
      g: PropertyGraph,
      startIds: DataFrame, // single column `id`
      targetIds: DataFrame, // single column `id`
      relType: Option[String],
      maxHops: Int,
      direction: Direction = Out,
      altRelTypes: Seq[String] = Seq.empty): DataFrame = {

    val es0 = g.edgesByTypes(relType.toSeq ++ altRelTypes)
    val adj = (direction match {
      case Out  => es0.select(col("src").as("_from"), col("dst").as("_to"))
      case In   => es0.select(col("dst").as("_from"), col("src").as("_to"))
      case Both => es0.select(col("src").as("_from"), col("dst").as("_to"))
        .union(es0.select(col("dst").as("_from"), col("src").as("_to")))
    }).distinct().cache()

    val targets = targetIds.select(col("id").as("end_id")).distinct().cache()
    var frontier = startIds.select(col("id").as("start_id"), col("id").as("end_id"),
      array(col("id")).as("path")).localCheckpoint(true)
    var visited = frontier.select("start_id", "end_id")
    var results = Vector.empty[DataFrame]
    var depth = 0
    var done = false
    while (depth < maxHops && !done) {
      depth += 1
      val next = frontier
        .join(adj, col("end_id") === col("_from"))
        .select(col("start_id"), col("_to").as("end_id"),
          concat(col("path"), array(col("_to"))).as("path"))
        .join(visited, Seq("start_id", "end_id"), "left_anti")
        .distinct()
        .localCheckpoint(true)
      if (next.limit(1).count() == 0) done = true
      else {
        results :+= next.join(targets, Seq("end_id"), "left_semi")
          .select(col("start_id"), col("end_id"), col("path"),
            lit(depth).as("length"))
        visited = visited.union(next.select("start_id", "end_id")).distinct()
          .localCheckpoint(true)
        frontier = next
      }
    }
    adj.unpersist(); targets.unpersist()
    if (results.isEmpty)
      frontier.select(col("start_id"), col("end_id"), col("path"), lit(0).as("length")).limit(0)
    else results.reduce(_.unionByName(_))
  }

  /** [[graft.graph.Expand.shortestPaths]]: (start_id, end_id, length). */
  def shortestPaths(
      g: PropertyGraph,
      srcIds: DataFrame,
      relType: Option[String],
      maxHops: Int,
      direction: Direction = Out): DataFrame = {

    val es0 = relType.map(g.edgesByType).getOrElse(g.edges)
    val adjPlan = direction match {
      case Out  => es0.select(col("src").as("_from"), col("dst").as("_to"))
      case In   => es0.select(col("dst").as("_from"), col("src").as("_to"))
      case Both => es0.select(col("src").as("_from"), col("dst").as("_to"))
        .union(es0.select(col("dst").as("_from"), col("src").as("_to")))
    }

    // Bounded-hop fast path: unroll the levels into ONE lazy DAG —
    // union of per-depth distinct frontiers, min(depth) per pair — instead
    // of the eager per-level cache/count barriers below. Catalyst's
    // ReuseExchange dedupes the shared level-k subplan between the union
    // branch and the level-k+1 join input, so each level is still computed
    // once, but there is no driver round-trip between levels and AQE plans
    // the whole traversal at once. Early termination doesn't matter at
    // <=3 hops; the iterative loop below keeps it for deep traversals.
    if (maxHops <= 3) {
      var cur = srcIds.select(col("id").as("start_id"), col("id").as("end_id"))
      var levels = List(cur.withColumn("length", lit(0)))
      for (d <- 1 to maxHops) {
        cur = cur.join(adjPlan, col("end_id") === col("_from"))
          .select(col("start_id"), col("_to").as("end_id")).distinct()
        levels ::= cur.withColumn("length", lit(d))
      }
      return levels.reduce(_.unionByName(_))
        .groupBy("start_id", "end_id").agg(min("length").as("length"))
    }

    val adj = adjPlan.cache()

    // visited: best-known (start,end,length); frontier: newly reached pairs
    var visited = srcIds.select(col("id").as("start_id"), col("id").as("end_id"),
      lit(0).as("length")).cache()
    var frontier = visited
    var depth = 0
    var done = false
    while (depth < maxHops && !done) {
      depth += 1
      val expanded = frontier
        .join(adj, col("end_id") === col("_from"))
        .select(col("start_id"), col("_to").as("end_id"))
        .distinct()
      val fresh = expanded
        .join(visited.select("start_id", "end_id"), Seq("start_id", "end_id"), "left_anti")
        .withColumn("length", lit(depth))
        .cache()
      val n = fresh.count()
      if (n == 0) { done = true; fresh.unpersist() }
      else {
        val nv = visited.unionByName(fresh).cache()
        nv.count()
        visited.unpersist()
        // the superseded round frontier too (round 1's frontier IS the
        // initial visited, already released above): without this every
        // round's fresh-pair cache outlived the loop — at 100 TB each
        // round pins a frontier-sized frame for the session's lifetime
        if (frontier ne visited) frontier.unpersist()
        frontier = fresh
        visited = nv
      }
    }
    adj.unpersist()
    // both loop exits (converged with n==0, and depth==maxHops with fresh
    // rows) leave the last round's frontier cached — release it here; the
    // returned `visited` is independently cached and materialized
    if (frontier ne visited) frontier.unpersist()
    visited
  }
}
