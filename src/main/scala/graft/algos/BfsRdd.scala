package graft.algos

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.algos.GraphXAlgos.CsrAdj
import graft.graph.{Expand, PropertyGraph}

/** Level-synchronous BFS over the cached [[GraphXAlgos]] context: the one
  * traversal substrate behind var-length expansion, shortest paths,
  * allShortestPaths, allSimplePaths and point distance, for any number of
  * start nodes.
  *
  * The reference answers these from in-memory adjacency
  * (`/root/reference/pkg/cypher/traversal.go:143,1435`); here a level is
  * one lookup in the ctx's per-partition CSR ([[GraphXAlgos.Ctx.csrByDir]],
  * GraphX's indexed edge partitions): the frontier is partitioned like the
  * CSR, [[step]] `zipPartitions` the two and emits the neighbours, and one
  * shuffle dedups the new level into place for the next. The frontier is
  * keyed by (node, start), so one loop serves a single start and every
  * node of the graph alike, with no driver-side path state. Results are
  * translated back to string ids distributively (dictionary joins).
  *
  * Every call pins its decoded result (`localCheckpoint`) and unpersists
  * its per-level RDDs before it returns.
  */
object BfsRdd {

  private def dirKey(d: Expand.Direction): String = d match {
    case Expand.Out  => "out"
    case Expand.In   => "in"
    case Expand.Both => "both"
  }

  /** Places a (node, start) key where the CSR's HashPartitioner places the
    * node, so a level deduplicated by (node, start) is already partitioned
    * for the next [[step]].
    */
  private final class ByNode(n: Int) extends Partitioner {
    private val hp = new HashPartitioner(n)
    def numPartitions: Int = n
    def getPartition(key: Any): Int = hp.getPartition(key.asInstanceOf[(Long, Long)]._1)
    override def equals(o: Any): Boolean = o match {
      case b: ByNode => b.numPartitions == n
      case _ => false
    }
    override def hashCode: Int = n
  }

  /** One BFS level, shared by every loop below: each frontier record
    * (v, x), partitioned like `csr`, becomes (n, x) for every neighbour n of
    * v. No shuffle; the adjacency is read in place.
    */
  private def step[X](csr: RDD[CsrAdj], frontier: RDD[(Long, X)]): RDD[(Long, X)] =
    csr.zipPartitions(frontier) { (cit, fit) =>
      val adj = cit.next()
      fit.flatMap { case (v, x) => adj.emit(v, x) }
    }

  /** The RDDs one call persists; [[pin]] releases them once the result
    * is realized.
    */
  private final class Held {
    private val rdds = ArrayBuffer.empty[RDD[_]]
    def apply[T](r: RDD[T]): RDD[T] = {
      rdds += r
      r.persist(StorageLevel.MEMORY_AND_DISK)
    }
    def release(): Unit = rdds.foreach(_.unpersist(false))
    def pin(df: DataFrame): DataFrame = {
      val p = df.localCheckpoint(true)
      release()
      p
    }
  }

  /** Dictionary ids of a single-column (`id` STRING) DataFrame. Ids absent
    * from the dictionary have no edges of the requested types and cannot
    * expand — dropping them is semantics-preserving for depth ≥ 1.
    */
  private def vids(df: DataFrame, c: GraphXAlgos.Ctx): RDD[Long] =
    df.rdd.map(r => (r.getString(0), ())).join(c.dict, c.dict.partitioner.get)
      .map { case (_, (_, vid)) => vid }

  /** The depth-0 level: one (start, start) key per distinct start. */
  private def seeds[X: ClassTag](df: DataFrame, c: GraphXAlgos.Ctx, byNode: ByNode,
      x: Long => X): RDD[((Long, Long), X)] =
    vids(df, c).map(s => ((s, s), x(s))).reduceByKey(byNode, (a, _) => a)

  /** Decode (start idx, end idx, depth) rows to (start_id, end_id, `depthCol`). */
  private def pairsToDf(sp: org.apache.spark.sql.SparkSession, c: GraphXAlgos.Ctx,
      levels: Seq[RDD[(Long, Long, Int)]], depthCol: String): DataFrame = {
    val rows: RDD[Row] =
      (if (levels.isEmpty) sp.sparkContext.emptyRDD[(Long, Long, Int)]
       else sp.sparkContext.union(levels))
        .map { case (s, v, d) => (s, (v, d)) }
        .join(c.rev)
        .map { case (_, ((v, d), sId)) => (v, (sId, d)) }
        .join(c.rev)
        .map { case (_, ((sId, d), vId)) => Row(sId, vId, d) }
    sp.createDataFrame(rows, StructType(Seq(
      StructField("start_id", StringType),
      StructField("end_id", StringType),
      StructField(depthCol, IntegerType, nullable = false))))
  }

  /** All shortest paths from every start to every target: the engine
    * behind `shortestPath` / `allShortestPaths`. Per (start, end) pair the
    * first reaching level wins, paths may pass through other targets.
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
    val sc = g.nodes.sparkSession.sparkContext
    val c = GraphXAlgos.ctxFor(g, relTypes)
    val csr = c.csrByDir(dirKey(direction))
    val byNode = new ByNode(csr.getNumPartitions)
    val held = new Held
    // laid out like the levels, so a level meets its targets partition-wise
    val targets = held(vids(targetIds, c).map((_, ()))
      .reduceByKey(new HashPartitioner(csr.getNumPartitions), (a, _) => a))

    // value = all shortest paths reaching (v, start), each stored reversed
    // (head = v) so extension is an O(1) prepend
    var frontier = held(seeds(startIds, c, byNode, s => List(List(s))))
    var seen = Vector[RDD[((Long, Long), List[List[Long]])]](frontier)
    var hits = Vector.empty[RDD[(List[Long], Int)]]
    var depth = 0
    var done = false
    while (depth < maxHops && !done) {
      depth += 1
      val d = depth
      val fresh = held(step(csr, frontier.map { case ((v, s), ps) => (v, (s, ps)) })
        .map { case (n, (s, ps)) => ((n, s), ps.map(n :: _)) }
        .reduceByKey(byNode, _ ::: _) // alternative predecessors, all distinct
        .subtractByKey(sc.union(seen), byNode)) // first reached at this level
      // one job: materialize the level and count the paths at targets
      val (freshN, hitN) = fresh.zipPartitions(targets) { (lit, tit) =>
        val ts = tit.map(_._1).toSet
        var (n, h) = (0L, 0L)
        lit.foreach { case ((v, _), ps) => n += 1; if (ts(v)) h += ps.size }
        Iterator.single((n, h))
      }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
      if (freshN == 0) done = true
      else {
        if (hitN > 0) {
          hits :+= fresh.zipPartitions(targets) { (lit, tit) =>
            val ts = tit.map(_._1).toSet
            lit.flatMap { case ((v, _), ps) => if (ts(v)) ps.map(p => (p.reverse, d)) else Nil }
          }
          if (stopAtFirstHit) done = true
        }
        seen :+= fresh
        frontier = fresh
      }
    }
    held.pin(pathsToDf(g, c,
      if (hits.isEmpty) sc.emptyRDD[(List[Long], Int)] else sc.union(hits)))
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
    * it). Here the DFS stack is a distributed frontier of paths keyed by
    * their last node; the simple-path constraint is a per-extension
    * `contains` check on the path being carried. Combinatorial growth is
    * bounded by `maxDepth` exactly as in the reference (default 10).
    * Returns (start_id, end_id, path, length).
    */
  def allSimplePaths(
      g: PropertyGraph,
      startId: String,
      endId: String,
      relTypes: Seq[String],
      maxDepth: Int,
      direction: Expand.Direction = Expand.Out): DataFrame = {
    val sc = g.nodes.sparkSession.sparkContext
    val c = GraphXAlgos.ctxFor(g, relTypes)
    val csr = c.csrByDir(dirKey(direction))
    val part = new HashPartitioner(csr.getNumPartitions)
    val held = new Held
    val ids = c.dict.filter { case (s, _) => s == startId || s == endId }
      .collect().toMap
    (ids.get(startId), ids.get(endId)) match {
      case (Some(startVid), Some(endVid)) if startVid == endVid =>
        // reference records the trivial [start] path before expanding
        held.pin(pathsToDf(g, c, sc.parallelize(Seq((List(startVid), 0)))))
      case (Some(startVid), Some(endVid)) =>
        // paths reversed (head = current); frontier excludes finished paths
        var frontier: RDD[(Long, List[Long])] =
          sc.parallelize(Seq((startVid, List(startVid)))).partitionBy(part)
        var results = Vector.empty[RDD[(List[Long], Int)]]
        var depth = 0
        var done = false
        while (depth < maxDepth && !done) {
          depth += 1
          val d = depth
          val extended = held(step(csr, frontier)
            .flatMap { case (n, p) => if (p.contains(n)) None else Some(n :: p) })
          val (total, hitN) = extended
            .map(p => (1L, if (p.head == endVid) 1L else 0L))
            .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
          if (hitN > 0)
            results :+= extended.filter(_.head == endVid).map(p => (p.reverse, d))
          if (total == hitN) done = true // every surviving path finished
          else frontier = extended.filter(_.head != endVid)
            .map(p => (p.head, p)).partitionBy(part)
        }
        held.pin(pathsToDf(g, c,
          if (results.isEmpty) sc.emptyRDD[(List[Long], Int)] else sc.union(results)))
      case _ => // endpoint has no edges of the requested types → no paths
        held.pin(pathsToDf(g, c, sc.emptyRDD[(List[Long], Int)]))
    }
  }

  /** Var-length expand `[*min..max]`: one (start_id, end_id, depth) row
    * per depth-distinct pair, revisits allowed across depths (pairs, not
    * paths), and for minHops == 0 the zero-hop self row of every input
    * start, including starts with no edges of the requested types.
    */
  def varLengthPairs(
      g: PropertyGraph,
      startIds: DataFrame,
      relTypes: Seq[String],
      minHops: Int,
      maxHops: Int,
      direction: Expand.Direction): DataFrame = {
    val sp = g.nodes.sparkSession
    val c = GraphXAlgos.ctxFor(g, relTypes)
    val csr = c.csrByDir(dirKey(direction))
    val byNode = new ByNode(csr.getNumPartitions)
    val held = new Held

    var frontier = held(seeds(startIds, c, byNode, _ => ()))
    var results = Vector.empty[RDD[(Long, Long, Int)]]
    var depth = 0
    var done = false
    while (depth < maxHops && !done) {
      depth += 1
      val d = depth
      val next = held(step(csr, frontier.map { case ((v, s), _) => (v, s) })
        .map { case (n, s) => ((n, s), ()) }
        .reduceByKey(byNode, (a, _) => a)) // per-depth pair dedup
      if (next.count() == 0) done = true
      else {
        if (d >= minHops) results :+= next.map { case ((v, s), _) => (s, v, d) }
        frontier = next
      }
    }
    val deep = pairsToDf(sp, c, results, "depth")
    held.pin(
      if (minHops == 0)
        startIds.select(col("id").as("start_id"), col("id").as("end_id"),
          lit(0).as("depth")).unionByName(deep)
      else deep)
  }

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
    val csr = c.csrByDir(dirKey(direction))
    val part = new HashPartitioner(csr.getNumPartitions)
    val ids = c.dict.filter { case (s, _) => s == srcId || s == dstId }
      .collect().toMap
    (ids.get(srcId), ids.get(dstId)) match {
      case (Some(a), Some(b)) if a == b => 0
      case (Some(srcVid), Some(dstVid)) =>
        val held = new Held
        def done(r: Int): Int = { held.release(); r }
        var frontier = held(csr.sparkContext.parallelize(Seq((srcVid, ()))).partitionBy(part))
        var seen = Vector(frontier)
        var depth = 0
        while (depth < maxHops) {
          depth += 1
          val fresh = held(step(csr, frontier)
            .reduceByKey(part, (x, _) => x)
            .subtractByKey(csr.sparkContext.union(seen), part))
          // one action answers both "hit target?" and "frontier empty?"
          val (n, hit) = fresh.keys
            .aggregate((0L, false))(
              (acc, v) => (acc._1 + 1, acc._2 || v == dstVid),
              (x, y) => (x._1 + y._1, x._2 || y._2))
          if (hit) return done(depth)
          if (n == 0) return done(-1)
          seen :+= fresh
          frontier = fresh
        }
        done(-1)
      case _ => -1 // an endpoint has no edges of the requested types
    }
  }

  /** BFS shortest-path LENGTHS from every start to every reachable node:
    * one (start_id, end_id, length) row per first-reached pair, plus the
    * depth-0 self row of every distinct input start — including starts
    * with no edges of the requested types.
    */
  def shortestPathLengths(
      g: PropertyGraph,
      startIds: DataFrame,
      relTypes: Seq[String],
      maxHops: Int,
      direction: Expand.Direction): DataFrame = {
    val sp = g.nodes.sparkSession
    val sc = sp.sparkContext
    val c = GraphXAlgos.ctxFor(g, relTypes)
    val csr = c.csrByDir(dirKey(direction))
    val byNode = new ByNode(csr.getNumPartitions)
    val held = new Held

    var frontier = held(seeds(startIds, c, byNode, _ => ()))
    var seen = Vector(frontier)
    var depth = 0
    var done = false
    while (depth < maxHops && !done) {
      depth += 1
      val fresh = held(step(csr, frontier.map { case ((v, s), _) => (v, s) })
        .map { case (n, s) => ((n, s), ()) }
        .reduceByKey(byNode, (a, _) => a) // distinct pairs
        .subtractByKey(sc.union(seen), byNode))
      if (fresh.count() == 0) done = true
      else {
        seen :+= fresh
        frontier = fresh
      }
    }
    val deep = pairsToDf(sp, c, seen.zipWithIndex.drop(1).map { case (lvl, d) =>
      lvl.map { case ((v, s), _) => (s, v, d) } }, "length")
    held.pin(startIds.select(col("id").as("start_id"), col("id").as("end_id"),
        lit(0).as("length")).distinct()
      .unionByName(deep))
  }
}
