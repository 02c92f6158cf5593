package graft.algos

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.graph.{Expand, PropertyGraph}

/** RDD-level BFS over the cached [[GraphXAlgos]] context.
  *
  * The DataFrame level-synchronous BFS in [[graft.graph.Expand]] is the
  * right 100 TB *shape* (no driver-side path state), but each level pays a
  * Catalyst plan + eager checkpoint barrier, so constants dominate on
  * bounded-hop point queries — the reference answers these from in-memory
  * adjacency (`/root/reference/pkg/cypher/traversal.go:1435`). Here a level
  * is a handful of RDD joins against the contracted, cached, pre-partitioned
  * pair adjacency shared with SCC ([[GraphXAlgos.Ctx]]), which
  * drops the per-level cost to shuffle-of-the-frontier only. Results are
  * translated back to string ids distributively (explode + dictionary join)
  * — no `collect()` anywhere, so the same code path survives a 1000-executor
  * graph; only the per-level *constant* changed.
  */
object BfsRdd {

  private def dirKey(d: Expand.Direction): String = d match {
    case Expand.Out  => "out"
    case Expand.In   => "in"
    case Expand.Both => "both"
  }

  /** Map a single-column (`id` STRING) DataFrame to dictionary vertex ids.
    * Ids absent from the dictionary have no edges of the requested types and
    * cannot expand — dropping them is semantics-preserving for depth ≥ 1.
    */
  private def vids(df: DataFrame, c: GraphXAlgos.Ctx): RDD[Long] =
    df.rdd.map(r => (r.getString(0), ())).distinct()
      .join(c.dict).map { case (_, (_, vid)) => vid }

  /** All shortest paths from every start to every target: the engine behind
    * `shortestPath` / `allShortestPaths` (semantics identical to
    * [[graft.graph.Expand.allShortestPathsMultiDf]] — per (start, end) pair
    * the first reaching level wins, paths may pass through other targets).
    * With `stopAtFirstHit` the loop stops at the first level that reaches
    * any target (the single-pair `allShortestPaths` contract).
    * Returns (start_id, end_id, path ARRAY<STRING>, length INT).
    */
  def allShortestPaths(
      g: PropertyGraph,
      startIds: DataFrame,
      targetIds: DataFrame,
      relTypes: Seq[String],
      maxHops: Int,
      direction: Expand.Direction,
      stopAtFirstHit: Boolean): DataFrame = {
    val sp = g.nodes.sparkSession
    val sc = sp.sparkContext
    val c = GraphXAlgos.ctxFor(g, relTypes)
    val adj = c.pairsByDir(dirKey(direction))
    val part = adj.partitioner.getOrElse(new HashPartitioner(adj.getNumPartitions))

    val seeds = vids(startIds, c)
    // Target sets in these queries are endpoint patterns — usually a
    // handful of nodes. Small sets are broadcast (per-level hit detection
    // becomes a filter fused into the level's one counting job); large sets
    // fall back to a distributed semi-join per level.
    val targetVids = vids(targetIds, c)
    val smallTargets: Option[Set[Long]] = {
      val probe = targetVids.take(1025)
      if (probe.length <= 1024) Some(probe.toSet) else None
    }
    val targets = smallTargets match {
      case Some(_) => null
      case None => targetVids.map((_, ()))
        .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    }

    // frontier value = all shortest paths reaching (start, v), stored
    // reversed (head = v) so extension is O(1) prepend
    var frontier: RDD[((Long, Long), List[List[Long]])] =
      seeds.map(s => ((s, s), List(List(s)))).persist(StorageLevel.MEMORY_AND_DISK)
    var visited: RDD[((Long, Long), Unit)] =
      frontier.mapValues(_ => ()).persist(StorageLevel.MEMORY_AND_DISK)
    var hits = Vector.empty[RDD[(List[Long], Int)]]
    var depth = 0
    var done = frontier.isEmpty()
    while (depth < maxHops && !done) {
      depth += 1
      val d = depth
      val fresh = frontier
        .map { case ((s, v), paths) => (v, (s, paths)) }
        .partitionBy(part)
        .join(adj) // (v, ((s, paths), dst)) — narrow on the cached adjacency
        .map { case (_, ((s, paths), dst)) => ((s, dst), paths.map(dst :: _)) }
        .reduceByKey(_ ::: _) // merge alternative predecessors (all distinct)
        .subtractByKey(visited) // only pairs first reached at this level
        .persist(StorageLevel.MEMORY_AND_DISK)
      val (freshN, hitN) = smallTargets match {
        case Some(ts) => // one job: materialize fresh + count hits
          fresh.map { case ((_, v), ps) => (1L, if (ts(v)) ps.size.toLong else 0L) }
            .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
        case None =>
          val n = fresh.count()
          val h = if (n == 0) 0L else fresh
            .map { case ((s, v), ps) => (v, (s, ps)) }.partitionBy(part)
            .join(targets).count()
          (n, h)
      }
      if (freshN == 0) done = true
      else {
        if (hitN > 0) {
          val lvlHits = smallTargets match {
            case Some(ts) => fresh // lazy filter over the persisted level
              .flatMap { case ((_, v), ps) =>
                if (ts(v)) ps.map(p => (p.reverse, d)) else Nil }
            case None => fresh
              .map { case ((s, v), ps) => (v, (s, ps)) }.partitionBy(part)
              .join(targets)
              .flatMap { case (_, ((_, ps), _)) => ps.map(p => (p.reverse, d)) }
          }
          hits :+= lvlHits
          if (stopAtFirstHit) done = true
        }
        if (!done) {
          visited = visited.union(fresh.mapValues(_ => ()))
            .persist(StorageLevel.MEMORY_AND_DISK)
          frontier = fresh
        }
      }
    }

    pathsToDf(g, c,
      if (hits.isEmpty) sc.emptyRDD[(List[Long], Int)] else sc.union(hits))
  }

  /** Distributed back-translation of (forward-ordered vid path, length)
    * rows: explode paths, join the reverse dictionary, regroup in path
    * order. Returns (start_id, end_id, path ARRAY<STRING>, length INT).
    */
  private def pathsToDf(g: PropertyGraph, c: GraphXAlgos.Ctx,
      paths: RDD[(List[Long], Int)]): DataFrame = {
    val sp = g.nodes.sparkSession
    val indexed: RDD[Row] = paths.zipWithIndex()
      .map { case ((p, d), i) => Row(i, p, d) }
    val pdf = sp.createDataFrame(indexed, StructType(Seq(
      StructField("_pid", LongType, nullable = false),
      StructField("vids", ArrayType(LongType, containsNull = false)),
      StructField("length", IntegerType, nullable = false))))
    val revDf = sp.createDataFrame(
      c.rev.map { case (i, s) => Row(i, s) },
      StructType(Seq(StructField("vid", LongType), StructField("nid", StringType))))
    pdf.select(col("_pid"), col("length"), posexplode(col("vids")).as(Seq("pos", "vid")))
      .join(revDf, "vid")
      .groupBy("_pid", "length")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("nid")))),
        x => x.getField("nid")).as("path"))
      .select(
        element_at(col("path"), 1).as("start_id"),
        element_at(col("path"), -1).as("end_id"),
        col("path"), col("length"))
  }

  /** All SIMPLE paths (no repeated node) start → end within `maxDepth` hops
    * — `apoc.algo.allSimplePaths`
    * (`/root/reference/pkg/cypher/apoc_algorithms.go:206`: DFS over
    * outgoing edges, path records on reaching `end`, never extending past
    * it). Here the DFS stack is a distributed frontier of paths; the
    * simple-path constraint is a per-extension `contains` check on the
    * path being carried, so each level is one join against the cached pair
    * adjacency. Combinatorial growth is bounded by `maxDepth` exactly as in
    * the reference (default 10). Returns (start_id, end_id, path, length).
    */
  def allSimplePaths(
      g: PropertyGraph,
      startId: String,
      endId: String,
      relTypes: Seq[String],
      maxDepth: Int,
      direction: Expand.Direction = Expand.Out): DataFrame = {
    val sp = g.nodes.sparkSession
    val sc = sp.sparkContext
    val c = GraphXAlgos.ctxFor(g, relTypes)
    val adj = c.pairsByDir(dirKey(direction))
    val part = adj.partitioner.getOrElse(new HashPartitioner(adj.getNumPartitions))
    val ids = c.dict.filter { case (s, _) => s == startId || s == endId }
      .collect().toMap
    (ids.get(startId), ids.get(endId)) match {
      case (Some(startVid), Some(endVid)) if startVid == endVid =>
        // reference records the trivial [start] path before expanding
        pathsToDf(g, c, sc.parallelize(Seq((List(startVid), 0))))
      case (Some(startVid), Some(endVid)) =>
        // paths reversed (head = current); frontier excludes finished paths
        var frontier: RDD[List[Long]] = sc.parallelize(Seq(List(startVid)))
        var results = Vector.empty[RDD[(List[Long], Int)]]
        var depth = 0
        var done = false
        while (depth < maxDepth && !done) {
          depth += 1
          val d = depth
          val extended = frontier.map(p => (p.head, p))
            .partitionBy(part)
            .join(adj)
            .flatMap { case (_, (p, dst)) =>
              if (p.contains(dst)) None else Some(dst :: p) }
            .persist(StorageLevel.MEMORY_AND_DISK)
          val (total, hitN) = extended
            .map(p => (1L, if (p.head == endVid) 1L else 0L))
            .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
          if (hitN > 0)
            results :+= extended.filter(_.head == endVid).map(p => (p.reverse, d))
          if (total == hitN) done = true // every surviving path finished
          else frontier = extended.filter(_.head != endVid)
        }
        pathsToDf(g, c,
          if (results.isEmpty) sc.emptyRDD[(List[Long], Int)] else sc.union(results))
      case _ => // endpoint has no edges of the requested types → no paths
        pathsToDf(g, c, sc.emptyRDD[(List[Long], Int)])
    }
  }

  /** Var-length expand `[*min..max]` — semantics identical to
    * [[graft.graph.Expand.varLengthExpandDf]]: one (start_id, end_id, depth)
    * row per depth-distinct pair, revisits allowed across depths (pairs,
    * not paths), zero-hop self rows when minHops == 0.
    */
  def varLengthPairs(
      g: PropertyGraph,
      startIds: DataFrame,
      relTypes: Seq[String],
      minHops: Int,
      maxHops: Int,
      direction: Expand.Direction): DataFrame = {
    val sp = g.nodes.sparkSession
    val sc = sp.sparkContext
    val c = GraphXAlgos.ctxFor(g, relTypes)
    val adj = c.pairsByDir(dirKey(direction))
    val part = adj.partitioner.getOrElse(new HashPartitioner(adj.getNumPartitions))

    var frontier: RDD[(Long, Long)] = vids(startIds, c).map(s => (s, s))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var results = Vector.empty[RDD[((Long, Long), Int)]]
    var depth = 0
    var done = frontier.isEmpty()
    while (depth < maxHops && !done) {
      depth += 1
      val d = depth
      val next = frontier
        .map { case (s, v) => (v, s) }
        .partitionBy(part)
        .join(adj)
        .map { case (_, (s, dst)) => ((s, dst), ()) }
        .reduceByKey((a, _) => a) // per-depth pair dedup
        .map { case (k, _) => k }
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (next.count() == 0) done = true
      else {
        if (d >= minHops) results :+= next.map(k => (k, d))
        frontier = next
      }
    }

    val deep: RDD[Row] =
      (if (results.isEmpty) sc.emptyRDD[((Long, Long), Int)] else sc.union(results))
        .map { case ((s, v), d) => (s, (v, d)) }
        .join(c.rev)
        .map { case (_, ((v, d), sId)) => (v, (sId, d)) }
        .join(c.rev)
        .map { case (_, ((sId, d), vId)) => Row(sId, vId, d) }
    val schema = StructType(Seq(
      StructField("start_id", StringType),
      StructField("end_id", StringType),
      StructField("depth", IntegerType, nullable = false)))
    val deepDf = sp.createDataFrame(deep, schema)
    if (minHops == 0)
      startIds.select(col("id").as("start_id"), col("id").as("end_id"),
          lit(0).as("depth"))
        .unionByName(deepDf)
    else deepDf
  }

  /** BFS shortest-path LENGTHS from every start to every reachable node
    * (semantics identical to [[graft.graph.Expand.shortestPathsDf]]: one
    * (start_id, end_id, length) row per first-reached pair, plus the
    * depth-0 self rows for every input start — including starts with no
    * edges of the requested types).
    */
  /** Point-to-point hop distance with EARLY TERMINATION — the
    * `apoc.paths.distance` engine (`apoc/paths/paths.go:359`): BFS stops
    * at the first level that reaches the target instead of exhausting
    * maxHops over the whole graph. Returns -1 when unreachable within
    * maxHops (the reference's convention).
    */
  def pointDistance(
      g: PropertyGraph,
      srcId: String,
      dstId: String,
      relTypes: Seq[String],
      maxHops: Int,
      direction: Expand.Direction): Int = {
    // distance(n, n) = 0 even when the node has no edges of the requested
    // types (it would be absent from the GraphX dictionary below)
    if (srcId == dstId) return 0
    val c = GraphXAlgos.ctxFor(g, relTypes)
    val adj = c.pairsByDir(dirKey(direction))
    val part = adj.partitioner.getOrElse(new HashPartitioner(adj.getNumPartitions))
    val ids = c.dict.filter { case (s, _) => s == srcId || s == dstId }
      .collect().toMap
    (ids.get(srcId), ids.get(dstId)) match {
      case (Some(a), Some(b)) if a == b => 0
      case (Some(srcVid), Some(dstVid)) =>
        val persisted = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
        def done(r: Int): Int = { persisted.foreach(_.unpersist(false)); r }
        var frontier: RDD[(Long, Unit)] = adj.sparkContext
          .parallelize(Seq((srcVid, ()))).partitionBy(part)
        var visited = frontier
        var depth = 0
        while (depth < maxHops) {
          depth += 1
          val fresh = frontier
            .join(adj)
            .map { case (_, (_, dst)) => (dst, ()) }
            .reduceByKey((x, _) => x)
            .subtractByKey(visited)
            .partitionBy(part)
            .persist(StorageLevel.MEMORY_AND_DISK)
          persisted += fresh
          // one action answers both "hit target?" and "frontier empty?"
          val (n, hit) = fresh.keys
            .aggregate((0L, false))(
              (acc, v) => (acc._1 + 1, acc._2 || v == dstVid),
              (x, y) => (x._1 + y._1, x._2 || y._2))
          if (hit) return done(depth)
          if (n == 0) return done(-1)
          visited = visited.union(fresh).persist(StorageLevel.MEMORY_AND_DISK)
          persisted += visited
          frontier = fresh
        }
        done(-1)
      case _ => -1 // an endpoint has no edges of the requested types
    }
  }

  def shortestPathLengths(
      g: PropertyGraph,
      startIds: DataFrame,
      relTypes: Seq[String],
      maxHops: Int,
      direction: Expand.Direction): DataFrame = {
    val sp = g.nodes.sparkSession
    val sc = sp.sparkContext
    val c = GraphXAlgos.ctxFor(g, relTypes)
    val adj = c.pairsByDir(dirKey(direction))
    val part = adj.partitioner.getOrElse(new HashPartitioner(adj.getNumPartitions))

    var frontier: RDD[((Long, Long), Unit)] = vids(startIds, c)
      .map(s => ((s, s), ())).persist(StorageLevel.MEMORY_AND_DISK)
    var visited = frontier
    var results = Vector.empty[RDD[((Long, Long), Int)]]
    var depth = 0
    var done = frontier.isEmpty()
    while (depth < maxHops && !done) {
      depth += 1
      val d = depth
      val fresh = frontier
        .map { case ((s, v), _) => (v, s) }
        .partitionBy(part)
        .join(adj)
        .map { case (_, (s, dst)) => ((s, dst), ()) }
        .reduceByKey((a, _) => a) // distinct pairs
        .subtractByKey(visited)
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (fresh.count() == 0) done = true
      else {
        results :+= fresh.map { case (k, _) => (k, d) }
        visited = visited.union(fresh).persist(StorageLevel.MEMORY_AND_DISK)
        frontier = fresh
      }
    }

    val deep: RDD[Row] =
      (if (results.isEmpty) sc.emptyRDD[((Long, Long), Int)] else sc.union(results))
        .map { case ((s, v), d) => (s, (v, d)) }
        .join(c.rev)
        .map { case (_, ((v, d), sId)) => (v, (sId, d)) }
        .join(c.rev)
        .map { case (_, ((sId, d), vId)) => Row(sId, vId, d) }
    val schema = StructType(Seq(
      StructField("start_id", StringType),
      StructField("end_id", StringType),
      StructField("length", IntegerType, nullable = false)))
    // depth-0 self rows come straight from the input (dictionary membership
    // not required: a start with no edges still reaches itself)
    startIds.select(col("id").as("start_id"), col("id").as("end_id"),
        lit(0).as("length"))
      .unionByName(sp.createDataFrame(deep, schema))
  }
}
