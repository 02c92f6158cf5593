package graft.algos

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.graph.PropertyGraph

/** RDD-backed graph algorithms (SURVEY §7: "GraphX handles graph
  * traversal analytics"), iterated as in-memory loops with no per-round
  * query planning.
  *
  * PageRank, label propagation, Louvain and WCC run on [[CsrKernel]],
  * which builds its own CSR per call and keeps nothing. SCC and the
  * [[BfsRdd]] paths run on a [[Ctx]]: the property graph's string node ids
  * mapped to dense Longs with a `zipWithIndex` dictionary (collision-free
  * by construction, unlike hashing — SURVEY §7 "hard parts"), cached per
  * (graph, relType), with parallel edges CONTRACTED to distinct pairs
  * BEFORE id translation, so the two translation RDD joins run on distinct
  * pairs, not the raw edge multiset.
  */
object GraphXAlgos {

  /** Cached id dictionary + translated distinct directed (src, dst) idx
    * pairs for one (graph, relType). The SCC loop and [[BfsRdd]] read
    * them through one adjacency form, [[csrByDir]].
    */
  final case class Ctx(
      dict: RDD[(String, Long)], // string id → dense idx
      rev: RDD[(Long, String)], // dense idx → string id
      edges: RDD[(Long, Long)]) {
    /** Per-partition CSR index of the pair adjacency per direction
      * ("out"|"in"|"both"; one [[CsrAdj]] per partition, hash-partitioned
      * by source idx), built once and cached. A loop round `zipPartitions`
      * its frontier or delta against it — GraphX's indexed edge
      * partitions, kept to the two primitives the loops need — instead of
      * RDD-joining a pair RDD, which is a COGROUP that re-materializes the
      * adjacency partition into a hash map EVERY round (~2.6 s/round fixed
      * cost at sf1, the round-12 profile's dominant term).
      *
      * Self-loops are kept (a BFS reaches (v, v) at every depth through
      * one; [[sccScale]] skips them itself), and "both" lists each
      * neighbour once per vertex even when u→v and v→u both exist.
      */
    private val csrCache = new ConcurrentHashMap[String, RDD[CsrAdj]]()
    def csrByDir(dir: String): RDD[CsrAdj] =
      csrCache.computeIfAbsent(dir, { d =>
        val oriented = d match {
          case "out" => edges // contracted: already distinct
          case "in"  => edges.map(_.swap)
          case "both" => edges.union(edges.map(_.swap)) // CsrAdj.build dedups
        }
        // scale-aware width, NOT the ctx edge width: the loops shuffle a
        // frontier or delta at THIS width every round, and shuffle-block
        // count grows as maps × reducers (round-13 verdict item #6). Fine
        // target = the COARSE 128k/partition: a frontier pass does trivial
        // work per row (launch-bound), so the kernel's 32k target only
        // multiplied task launches (+35-120% on the sf0.1 BFS rows); the
        // 4·par cap and 4M bytes floor do the scale work.
        val part = new org.apache.spark.HashPartitioner(
          GraphXAlgos.adjWidthFor(
            (if (d == "both") 2L else 1L) * edges.count(),
            edges.sparkContext.defaultParallelism,
            fineTarget = GraphXAlgos.EdgesPerPartition))
        val rdd = oriented.partitionBy(part)
          .mapPartitions(it => Iterator.single(CsrAdj.build(it)),
            preservesPartitioning = true)
          .persist(StorageLevel.MEMORY_AND_DISK)
        rdd.count()
        rdd
      })
  }

  /** Compact per-partition adjacency: sorted source array + offsets +
    * sorted, distinct neighbor runs (CSR). Built once per ctx direction,
    * looked up by binary search — primitive arrays, no per-edge boxing,
    * stable under MEMORY_AND_DISK serialization.
    */
  private[graft] final class CsrAdj(
      val keys: Array[Long], val offs: Array[Int], val nbrs: Array[Long])
      extends Serializable {
    /** Neighbours of `v` other than `v` itself. */
    def degreeNoLoop(v: Long): Int = {
      val i = java.util.Arrays.binarySearch(keys, v)
      if (i < 0) 0
      else {
        val d = offs(i + 1) - offs(i)
        if (java.util.Arrays.binarySearch(nbrs, offs(i), offs(i + 1), v) >= 0) d - 1 else d
      }
    }
    /** Iterator of (neighbor, payload) for every neighbor of `v`. */
    def emit[T](v: Long, payload: T): Iterator[(Long, T)] = {
      val i = java.util.Arrays.binarySearch(keys, v)
      if (i < 0) Iterator.empty
      else new Iterator[(Long, T)] {
        private var j = offs(i)
        private val end = offs(i + 1)
        def hasNext: Boolean = j < end
        def next(): (Long, T) = { val n = nbrs(j); j += 1; (n, payload) }
      }
    }
  }

  private[graft] object CsrAdj {
    /** CSR of the (src, dst) pairs; a repeated pair is kept once. */
    def build(it: Iterator[(Long, Long)]): CsrAdj = {
      val arr = it.toArray.sorted
      val nbrsBuf = new scala.collection.mutable.ArrayBuffer[Long](arr.length)
      val keysBuf = new scala.collection.mutable.ArrayBuffer[Long]()
      val offsBuf = new scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      while (i < arr.length) {
        val (k, n) = arr(i)
        if (keysBuf.isEmpty || keysBuf.last != k) {
          keysBuf += k; offsBuf += nbrsBuf.length; nbrsBuf += n
        } else if (nbrsBuf.last != n) nbrsBuf += n
        i += 1
      }
      offsBuf += nbrsBuf.length
      new CsrAdj(keysBuf.toArray, offsBuf.toArray, nbrsBuf.toArray)
    }
  }

  private val cache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[PropertyGraph, ConcurrentHashMap[String, Ctx]]())

  private def ctx(g: PropertyGraph, relType: Option[String]): Ctx =
    ctxFor(g, relType.toSeq)

  /** Cached context for an arbitrary rel-type set (empty = all edges) —
    * shared by the algorithm family AND the [[BfsRdd]] path queries, so one
    * build (pre-warmed by the bench) serves both.
    */
  private[graft] def ctxFor(g: PropertyGraph, relTypes: Seq[String]): Ctx = {
    val inner = cache.synchronized {
      var m = cache.get(g)
      if (m == null) { m = new ConcurrentHashMap[String, Ctx](); cache.put(g, m) }
      m
    }
    val key = if (relTypes.isEmpty) "*" else relTypes.distinct.sorted.mkString("|")
    inner.computeIfAbsent(key, _ => build(g, relTypes))
  }

  /** Contracted edges per partition the ctx aims for. ~128k edge tuples is
    * a few MB per partition — big enough that Pregel superstep task-launch
    * overhead stays negligible (the sf0.1 full graph, ~1.3M pairs, gets ~11
    * partitions; fixture-sized projections collapse to one), small enough
    * that a partition never threatens executor memory. A fixed session
    * width here was the round-5 regression: every superstep on a tiny graph
    * paid 32 task launches (wcc_star 0.45 → 11.8 s), and a too-small target
    * re-creates it from the other side (width cap → 64 tiny tasks).
    */
  private[graft] val EdgesPerPartition = 131072L

  /** Finer width target for the [[CsrKernel]] adjacency: its
    * per-round message pass is compute-bound per row (not launch-bound like
    * Pregel supersteps), so ~32k rows per partition keeps every core busy
    * on the sf0.1 CONTAINS graph while fixtures still collapse to 1.
    * This is the FLOOR target only — see [[adjWidthFor]]: applied
    * unclamped it put the sf3 vote adjacency at 2384 partitions, and the
    * per-round label shuffle's 2384×2384 ≈ 5.7M shuffle blocks were the
    * dominant cost of the 35.7×/34.6× probe rows (measured round 13:
    * with per-partition CSR tallies replacing the join, rounds STILL ran
    * 43-53 s — the work wasn't in the tally at all).
    */
  private[graft] val AdjEdgesPerPartition = 32768L

  /** Bytes ceiling for one vote-adjacency partition (~100 MB of CSR
    * arrays + tally map at 24-ish bytes/edge). The width never drops
    * below what keeps partitions under this, no matter the core count —
    * the round-12 lesson that cores are the wrong ceiling, preserved.
    */
  private[graft] val AdjMaxEdgesPerPartition = 1L << 22

  /** Per-task entry cap for the [[CsrKernel]] message tally — ~512k boxed
    * (dst,label)→weight entries ≈ 60-100 MB of heap, flushed to the
    * shuffle and restarted when exceeded (the receiver adds partial
    * tallies up, so chunking is exact). Bounds message-pass heap
    * independently of [[AdjMaxEdgesPerPartition]], whose ~24 bytes/edge
    * sizing is right for the CSR arrays but 5× low for the tally map
    * (round-13 ADVICE item 2).
    */
  private[graft] def TallyFlushEntries: Int =
    // system-property override is TEST plumbing (forces chunking on small
    // graphs so the exactness spec doesn't need a 512k-edge fixture);
    // local-mode executors share the driver JVM so the property is seen
    sys.props.get("graft.test.tallyFlushEntries").map(_.toInt)
      .getOrElse(1 << 19)

  /** Scale-aware width for the [[CsrKernel]] adjacency: fine-grained
    * (32k/partition) while that stays under ~4 waves per core — small
    * graphs keep every core busy — but capped at 4·parallelism once the
    * graph is large enough that per-round real work saturates the cores
    * anyway, because shuffle-block count grows QUADRATICALLY in width
    * (M maps × R reduces) and dominated the sf3 rounds. The bytes bound
    * overrides the cap so per-partition size stays constant at any
    * scale: at 100× sf3 (7.8 G vote edges) the width is back up to
    * ~1860, each partition still ≤ [[AdjMaxEdgesPerPartition]].
    */
  private[graft] def adjWidthFor(nEdges: Long, defaultPar: Int,
      fineTarget: Long = AdjEdgesPerPartition): Int = {
    val fine = nEdges / fineTarget + 1
    val coarseCap = math.max(1L, 4L * defaultPar)
    val bytesFloor = nEdges / AdjMaxEdgesPerPartition + 1
    math.min(MaxWidth.toLong,
      math.max(bytesFloor, math.min(fine, coarseCap))).toInt
  }

  /** Hard ceiling on data-derived widths — a runaway backstop (4096
    * partitions × 128k edge tuples ≈ half a billion edges), far above any
    * width this engine derives in practice, NOT a sizing device.
    */
  private[graft] val MaxWidth = 4096

  /** Lineage hygiene for the hand-rolled iterative loops (round-14).
    *
    * Two distinct failure modes share one cause — per-round RDDs keep the
    * whole loop history reachable through their lineage:
    *
    *  1. Every per-round shuffle (kernel messages, SCC color/sweep
    *     rounds) leaves its shuffle FILES on executor
    *     disk until the driver GC collects the ShuffleDependency, and
    *     while the chain is reachable nothing is collectable: disk grows
    *     linearly in rounds × shuffle volume. Invisible at sf0.1
    *     (megabytes); the round-14 sf10 probe measured one
    *     label-propagation child writing 64 GB of blockmgr files before
    *     dying of disk exhaustion (ENOSPC inside DiskStore.put).
    *  2. DAGScheduler walks the lineage graph when planning each round's
    *     jobs; loops whose round RDD references the previous round MORE
    *     THAN ONCE (the SCC sweep's `union` + `subtractByKey` both reach
    *     back to `inScc`) make that walk grow super-linearly with depth —
    *     a 40-round sweep froze the scheduler event loop for over half an
    *     hour of CPU on a 120-vertex fixture.
    *
    * So every pinned round RDD is `localCheckpoint()`-ed UNCONDITIONALLY:
    * the mark is placed before the round's own materializing count(), the
    * truncation happens inside that same job (no extra job — all
    * partitions are freshly cached), and the superseded chain becomes
    * unreachable. localCheckpoint trades executor-loss re-computability
    * for it — acceptable: the loops' source CSRs stay cached, a lost
    * round restarts the query, and the reliable-checkpoint alternative
    * is the deployment knob a cluster operator flips via the store's
    * checkpointDir.
    *
    * The `System.gc()` nudge that lets ContextCleaner reap the dead
    * shuffles NOW (a large driver heap may never full-GC on its own) is
    * the only part with a real cost, so it is gated: every
    * [[LoopCkptEvery]]-th round on graphs past [[LoopCkptMinEdges]]
    * oriented edges. Small graphs never pay it.
    */
  private[graft] val LoopCkptEvery = 3
  private[graft] def LoopCkptMinEdges: Long =
    // system-property override is TEST plumbing (forces the GC-nudge
    // cadence on fixture-sized graphs so the engaged path is spec-checked
    // without a 32M-edge fixture); local-mode executors share the driver
    // JVM so the property is seen
    sys.props.get("graft.test.loopCkptMinEdges").map(_.toLong)
      .getOrElse(1L << 25) // 32M oriented edges

  /** True on the rounds where the loop should GC-nudge. */
  private[graft] def hygieneRound(round: Int, nEdges: Long): Boolean =
    nEdges >= LoopCkptMinEdges && round % LoopCkptEvery == 0

  private[graft] def loopGc(round: Int, nEdges: Long): Unit =
    if (hygieneRound(round, nEdges)) System.gc()

  /** Max records a driver endgame collects: the label pairs of WCC's
    * closing pass (see [[CsrKernel.Closing]]) and SCC's residual vertices
    * and arcs. Above it the loops keep running distributed rounds
    * instead. (sys-prop override is TEST plumbing, mirroring
    * [[TallyFlushEntries]].)
    */
  private[graft] def EndgamePairCap: Long =
    sys.props.get("graft.test.endgamePairCap").map(_.toLong)
      .getOrElse(2000000L)

  /** Partition width for a ctx holding `nEdges` contracted edges: scales
    * with DATA SIZE so per-partition bytes stay CONSTANT as data grows.
    * The round-11 version clamped this to 2·defaultParallelism, which
    * inverted the invariant on a fixed-core box: past the cap every
    * partition grew linearly with data, and the LPA vote join/tally's
    * per-partition state OOM'd the sf3 probe (BENCH_r11_sf3). Cores are
    * the wrong ceiling — Spark schedules any width over any core count;
    * only per-partition size must stay bounded. Small projections still
    * collapse toward 1 partition (no fixed-width tiny-task tax).
    */
  private[graft] def widthFor(nEdges: Long, defaultPar: Int,
      target: Long = EdgesPerPartition): Int =
    math.max(1L, math.min(MaxWidth.toLong, nEdges / target + 1)).toInt

  private def build(g: PropertyGraph, relTypes: Seq[String]): Ctx = {
    val es = g.edgesByTypes(relTypes).select("src", "dst").distinct()
    // full-graph contexts take the node table as the endpoint superset —
    // skips a 2×|E| union+distinct shuffle, and is what makes scc label
    // isolated nodes (the loop labels every dictionary vertex)
    val endpoints = relTypes match {
      case Seq() => g.nodes.select("id")
      case _ => es.select(col("src").as("id"))
        .union(es.select(col("dst").as("id"))).distinct()
    }
    // one map-side-combined count pass sizes the whole ctx: every
    // downstream width — translation joins, edge RDD, Pregel supersteps,
    // LPA adjacency — derives from it instead of a data-blind constant
    val par = widthFor(es.count(), g.nodes.sparkSession.sparkContext.defaultParallelism)
    val hp = new org.apache.spark.HashPartitioner(par)
    val dict = endpoints.rdd.map(_.getString(0)).zipWithIndex()
      .partitionBy(hp) // co-partitioned with both translation joins
      .persist(StorageLevel.MEMORY_AND_DISK)
    dict.count() // pin before reuse: zipWithIndex must evaluate exactly once
    val edgeRdd = es.rdd
      .map(r => (r.getString(0), r.getString(1)))
      .join(dict, hp)
      .map { case (_, (dst, srcIdx)) => (dst, srcIdx) }
      .join(dict, hp)
      .map { case (_, (srcIdx, dstIdx)) => (srcIdx, dstIdx) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    edgeRdd.count()
    // rev carries the ctx partitioner so result-decode joins
    // (vertices ⋈ rev) run at ctx width, not the Catalyst shuffle width
    val rev = dict.map(_.swap).partitionBy(hp)
      .persist(StorageLevel.MEMORY_AND_DISK)
    Ctx(dict, rev, edgeRdd)
  }

  private def toDf(g: PropertyGraph, rows: RDD[Row], schema: StructType): DataFrame =
    g.nodes.sparkSession.createDataFrame(rows, schema)

  /** Pre-build the full-graph context and its out/both CSRs, which the
    * BFS family reads, so benchmarks measure the traversals rather than
    * the one-time dictionary build (the reference's benchmarks likewise
    * run against loaded storage).
    */
  def warm(g: PropertyGraph): Unit = {
    val full = ctxFor(g, Nil)
    full.csrByDir("out"); full.csrByDir("both")
  }

  /** The kernel input for `g`'s edges of `relType`: the full graph keys
    * every node (an isolated one too), a typed projection the endpoints
    * of its edges.
    */
  private def kernelInput(g: PropertyGraph,
      relType: Option[String]): (DataFrame, Option[DataFrame]) =
    (g.edgesByTypes(relType.toSeq), if (relType.isEmpty) Some(g.nodes) else None)

  /** Weakly connected components: (id, component), where component is
    * the min string id of the node's component. The full graph labels
    * every node (apoc_community.go:332), an isolated one as its own
    * singleton; a typed projection labels the endpoints of its edges.
    */
  def wcc(g: PropertyGraph, relType: Option[String] = None): DataFrame = {
    val (es, ns) = kernelInput(g, relType)
    components(es, ns)
  }

  /** Weakly connected components of an undirected pair list (`a`, `b`):
    * (id, component) for every node of a pair, both in the type of `a`,
    * component = the component's minimum id in that type. The kernel keys
    * nodes by string, so for any other type one group-by restores the
    * type's minimum (the string minimum of {9, 10} is 10).
    */
  def wccPairs(pairs: DataFrame): DataFrame = {
    val idType = pairs.schema("a").dataType
    val byString = components(pairs.select(col("a").cast(StringType).as("src"),
      col("b").cast(StringType).as("dst")), None)
    if (idType == StringType) byString
    else byString.select(col("id").cast(idType).as("id"),
      min(col("id").cast(idType)).over(Window.partitionBy("component")).as("component"))
  }

  /** WCC on [[CsrKernel]]: delta min-label propagation. A label starts as
    * the node's own id; each round only the rows whose label changed last
    * round send it, and only to neighbours it can lower (a label never
    * exceeds its node's id), so total message volume is about a small
    * constant times |E|, not rounds × |E|. Messages are keyed by receiver,
    * never by label, so the giant component never lands in one task.
    *
    * The closing pass is a union-find over the distinct boundary label
    * pairs (an edge whose ends carry different labels), which is edge
    * contraction over the current label regions and so exact from any
    * labelling. It runs once the rows that would send next have at most
    * [[EndgamePairCap]] edges — before the first round on graphs of up
    * to that many oriented edges; larger graphs run distributed rounds
    * until the bound holds or no label moves.
    */
  private def components(edges: DataFrame, nodes: Option[DataFrame]): DataFrame =
    CsrKernel.run[String, (String, String)](edges, nodes, undirected = true,
      weighted = false, Int.MaxValue, StructType(Seq(
        StructField("id", StringType), StructField("component", StringType))))(
      init = _.keys.clone(),
      dst = _._1, // message key = (receiver, label)
      send = { (c, lbl, i, fresh, t) =>
        if (fresh) {
          var j = c.offs(i)
          while (j < c.offs(i + 1)) {
            if (lbl(i) < c.nbrs(j)) t.add((c.nbrs(j), lbl(i)), 1.0)
            j += 1
          }
        }
      },
      update = { (c, lbl, in) =>
        val least = new java.util.HashMap[String, String]()
        in.sums.keySet.forEach { k =>
          val cur = least.get(k._1)
          if (cur == null || k._2 < cur) least.put(k._1, k._2)
        }
        Array.tabulate(c.keys.length) { i =>
          val m = least.get(c.keys(i))
          if (m != null && m < lbl(i)) m else lbl(i)
        }
      },
      closing = Some(CsrKernel.Closing[String, (String, String)](
        receive = { (c, lbl, in) =>
          val seen = new java.util.HashSet[(String, String)]()
          val keys = c.keys.asInstanceOf[Array[AnyRef]]
          in.sums.keySet.forEach { k =>
            val (v, l) = k
            val cur = lbl(java.util.Arrays.binarySearch(keys, v))
            if (cur != l) seen.add(if (l < cur) (l, cur) else (cur, l))
          }
          seen.iterator().asScala
        },
        finish = unionFind)))

  /** Label → the least label it is joined to through `pairs`, for every
    * label that is not that least one itself.
    */
  private def unionFind(pairs: Array[(String, String)]): java.util.Map[String, String] = {
    val up = new java.util.HashMap[String, String]()
    def find(x: String): String = {
      var r = x
      while (up.containsKey(r)) r = up.get(r)
      var y = x // path compression
      while (y != r) { val nx = up.get(y); up.put(y, r); y = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // the lesser root wins, so a set's root is its least label
      if (ra < rb) up.put(rb, ra) else if (rb < ra) up.put(ra, rb)
    }
    up.keySet.toArray(new Array[String](0)).foreach(find)
    up
  }

  /** Per-node triangle counts over a long-keyed undirected pair-edge
    * DataFrame (`a`, `b`) — e.g. the part co-occurrence graph. GraphX
    * `triangleCount` on the canonicalized simple graph (reference
    * `apoc/community/community.go:324`). Returns (id, triangles).
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val edgeRdd = pairs.select(col("a").cast("long"), col("b").cast("long")).rdd
      .map { r =>
        val (x, y) = (r.getLong(0), r.getLong(1))
        Edge(math.min(x, y), math.max(x, y), ())
      }
      .distinct()
    val graph = Graph.fromEdges(edgeRdd, (), StorageLevel.MEMORY_AND_DISK,
        StorageLevel.MEMORY_AND_DISK)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
    val rows = graph.triangleCount().vertices.map { case (id, n) => Row(id, n.toLong) }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType), StructField("triangles", LongType))))
  }

  /** Local clustering coefficient 2·tri / (k·(k−1)) per node of a pair
    * graph (`community.go:390`); k = distinct-neighbor degree.
    */
  def clusteringCoefficients(pairs: DataFrame): DataFrame = {
    val und = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct()
    val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("k"))
    triangleCounts(pairs).join(deg, Seq("id"), "left")
      .select(col("id"),
        when(coalesce(col("k"), lit(0L)) < 2, lit(0.0))
          .otherwise(lit(2.0) * col("triangles") / (col("k") * (col("k") - 1)))
          .as("coefficient"))
  }

  /** Strongly connected components (Tarjan semantics, `community.go:517`).
    * Returns (id, component) with the component labeled by its minimum
    * string id, like [[wcc]]; the full graph labels every node (isolated
    * nodes die in the first trim round as their own SCCs).
    */
  def scc(g: PropertyGraph, relType: Option[String] = None): DataFrame =
    sccScale(g, ctx(g, relType))

  /** Scale SCC: trim + forward-coloring + backward sweep (the FW-BW/
    * coloring family — Orzan's coloring as in the distributed-SCC
    * literature), iterated as co-partitioned RDD joins: every superseded
    * round is unpersisted, resident state stays O(|V|+|E|) no matter how many
    * rounds run — the property GraphX SCC lacks (round-11 sf1 measured it
    * 30.9× at 10× data).
    *
    * Vertices iterate on the ctx's dense idx directly — idx mins serve
    * only as deterministic PIVOTS (color roots), never as the output
    * label, so no order-preserving rank dictionary is needed: the final
    * min-string-id label (spec-asserted
    * on the cycle fixture) is computed at decode by a combiner-safe
    * per-root string min.
    *
    *  - TRIM: a vertex with no in-edges or no out-edges inside the live
    *    subgraph is its own SCC; peeling to fixpoint resolves any DAG
    *    region (the TPC-H projection is a DAG, so the full q_algo_scc row
    *    never reaches coloring). Trim is DELTA-BASED degree peeling: the
    *    edge sets are pinned ONCE (both orientations, co-partitioned) and
    *    each round touches only the edges incident to the layer that just
    *    died — live in/out degree counters decrement by co-partitioned
    *    delta joins — so total trim edge work is O(|E|), not
    *    O(depth·|E|). The round-12 sf1 profile measured the previous
    *    rebuild-the-edge-set-per-round trim at 17.3× of sf0.1 (30.2 s);
    *    the per-round full-edge rebuild was the super-linear term.
    *  - COLOR: propagate min rank FORWARD to fixpoint; v's color = min
    *    rank that reaches v.
    *  - SWEEP: for each color root r (color(r)==r), walk BACKWARD inside
    *    color class r; everything reached is SCC(r) (reaches r AND is
    *    reached by r through min-color paths). Peel, repeat.
    *
    * Each outer round peels ≥1 SCC per color class, and trim collapses
    * the acyclic residue between rounds, so rounds ≤ SCC-DAG depth. No
    * round cap: the loop ends when every vertex is peeled, and a cap
    * returns the unpeeled ones as wrong singleton SCCs.
    *
    *  - ENDGAME: once the residual vertices and arcs each fit under
    *    [[EndgamePairCap]], they are
    *    collected and an iterative Tarjan on the driver finishes them in
    *    one pass. A deep SCC DAG whose levels share one color class would
    *    otherwise take one outer round per level.
    */
  private[graft] def sccScale(g: PropertyGraph, c: Ctx): DataFrame = {
    val sc = c.edges.sparkContext
    // per-partition CSR adjacency in both orientations, built once per ctx.
    // The CSR keeps self-loops for BFS; every read below skips them — a
    // self-loop never merges components, and counted as a degree it would
    // keep its vertex out of trim and in the color/sweep loop. NO id
    // translation: the loop
    // iterates on the ctx's dense idx directly (trim singletons label
    // themselves; sweep SCCs get their min-string label at decode).
    val outCsr = c.csrByDir("out")
    val inCsr = c.csrByDir("in")
    val part = new org.apache.spark.HashPartitioner(outCsr.getNumPartitions)
    // lineage hygiene (see the [[LoopCkptEvery]] scaladoc): every pinned
    // round RDD truncates — the `done` buffer would otherwise retain
    // every trim/sweep round's upstream shuffles until the final union,
    // and the sweep loop's double back-reference to `inScc` (union +
    // subtractByKey) makes the un-truncated DAG walk super-linear in depth
    val nEdges = 2L * c.edges.count()
    val engaged = nEdges >= LoopCkptMinEdges
    def pin[T](r: RDD[T]): RDD[T] = {
      val p = r.persist(StorageLevel.MEMORY_AND_DISK)
      p.localCheckpoint()
      p.count(); p
    }
    val done = scala.collection.mutable.Buffer.empty[RDD[(Long, Long)]]
    // ---- delta trim to fixpoint (phase 1, O(|E|) total edge work) ----
    // live (out, in) degree per vertex via CSR lookups; a vertex leaves
    // the live set the round a counter hits 0, and only ITS incident
    // edges are re-counted (emitted from the CSR, reduced map-side)
    var deg: RDD[(Long, (Long, Long))] =
      pin(c.rev.partitionBy(part).zipPartitions(outCsr, inCsr,
        preservesPartitioning = true) { (vit, oit, iit) =>
          val o = if (oit.hasNext) oit.next() else null
          val in = if (iit.hasNext) iit.next() else null
          vit.map { case (v, _) =>
            (v, ((if (o != null) o.degreeNoLoop(v) else 0).toLong,
              (if (in != null) in.degreeNoLoop(v) else 0).toLong))
          }
      })
    var trimRound = 0
    var trimming = true
    while (trimming) {
      trimRound += 1
      val dead = pin(deg.filter { case (_, (o, i)) => o == 0L || i == 0L }
        .mapValues(_ => ()))
      if (dead.isEmpty()) { dead.unpersist(false); trimming = false }
      else {
        done += pin(dead.map { case (v, _) => (v, v) })
        // dOut: dead-src edges (u→v) decrement IN(v); dIn: dead-dst edges
        // (u→v, v dead) decrement OUT(u). Emitted via CSR lookup — cost ∝
        // the dying layer's incident edges; combiners absorb hubs.
        val dOut = outCsr.zipPartitions(dead, preservesPartitioning = false) {
          (cit, dit) =>
            if (cit.hasNext) { val adj = cit.next(); dit.flatMap { case (u, _) => adj.emit(u, 1L).filter(_._1 != u) } }
            else Iterator.empty
        }.reduceByKey(part, _ + _)
        val dIn = inCsr.zipPartitions(dead, preservesPartitioning = false) {
          (cit, dit) =>
            if (cit.hasNext) { val adj = cit.next(); dit.flatMap { case (v, _) => adj.emit(v, 1L).filter(_._1 != v) } }
            else Iterator.empty
        }.reduceByKey(part, _ + _)
        val next = pin(deg.zipPartitions(dead, dOut, dIn,
          preservesPartitioning = true) { (dit, deadIt, oIt, iIt) =>
            val deadSet = new java.util.HashSet[java.lang.Long]()
            deadIt.foreach { case (v, _) => deadSet.add(v) }
            val inDec = new java.util.HashMap[java.lang.Long, java.lang.Long]()
            oIt.foreach { case (v, n) =>
              val cur = inDec.get(v)
              inDec.put(v, if (cur == null) n else cur.longValue() + n)
            }
            val outDec = new java.util.HashMap[java.lang.Long, java.lang.Long]()
            iIt.foreach { case (v, n) =>
              val cur = outDec.get(v)
              outDec.put(v, if (cur == null) n else cur.longValue() + n)
            }
            dit.collect {
              case (v, (o, i)) if !deadSet.contains(v) =>
                val oD = outDec.get(v)
                val iD = inDec.get(v)
                (v, (o - (if (oD != null) oD.longValue() else 0L),
                  i - (if (iD != null) iD.longValue() else 0L)))
            }
        })
        loopGc(trimRound, nEdges)
        dead.unpersist(false); deg.unpersist(false)
        deg = next
      }
    }
    // ---- cyclic core (phase 2): the bounded color+sweep loop ----
    // materialize the surviving subgraph once (sized by the live core's
    // edges, emitted from the CSR); each outer round below works on this
    // (small) core, re-trimming through the cheap `alive` check
    val liveKeys = deg.mapValues(_ => ())
    var edges = pin(outCsr.zipPartitions(liveKeys,
      preservesPartitioning = false) { (cit, lit) =>
        if (cit.hasNext) { val adj = cit.next(); lit.flatMap { case (u, _) => adj.emit(u, u).filter(_._1 != u) } }
        else Iterator.empty
      } // (dst, liveSrc) for every live-src edge
      .join(liveKeys, part) // keep only live dst
      .map { case (v, (u, _)) => (u, v) }
      .partitionBy(part))
    var remaining = pin(liveKeys.partitionBy(part))
    def residualFits(): Boolean =
      edges.count() <= EndgamePairCap && remaining.count() <= EndgamePairCap
    while (!remaining.isEmpty() && !residualFits()) {
      // ---- re-trim the (small) core to fixpoint ----
      var coreTrim = true
      while (coreTrim && !remaining.isEmpty()) {
        // distinct BEFORE the join: raw keys/values repeat once per edge,
        // and joining multisets would square per-vertex degree
        val alive = pin(edges.keys.distinct().map((_, ()))
          .join(edges.values.distinct().map((_, ())), part)
          .mapValues(_ => ()))
        val trimmed = remaining.subtractByKey(alive, part)
        if (trimmed.isEmpty()) { alive.unpersist(false); coreTrim = false }
        else {
          done += pin(trimmed.map { case (v, _) => (v, v) })
          val nextRem = pin(remaining.join(alive, part).mapValues(_ => ()))
          val nextEdges = pin(edges.join(nextRem, part)
            .map { case (u, (v, _)) => (v, u) }
            .join(nextRem, part).map { case (v, (u, _)) => (u, v) }
            .partitionBy(part))
          alive.unpersist(false); remaining.unpersist(false); edges.unpersist(false)
          remaining = nextRem; edges = nextEdges
        }
      }
      if (!remaining.isEmpty()) {
        // ---- forward min-color propagation to fixpoint ----
        var colors = pin(remaining.map { case (v, _) => (v, v) }.partitionBy(part))
        var changed = 1L
        var colorRound = 0
        while (changed > 0) {
          colorRound += 1
          val acc = sc.longAccumulator
          val msgs = edges.join(colors, part)
            .map { case (_, (dst, cl)) => (dst, cl) }
            .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
          val next = pin(colors.leftOuterJoin(msgs, part).mapValues {
            case (cur, m) =>
              val nw = math.min(cur, m.getOrElse(cur))
              if (nw != cur) acc.add(1)
              nw
          })
          changed = acc.value
          loopGc(colorRound, nEdges)
          colors.unpersist(false); colors = next
        }
        // ---- backward sweep from color roots within their class ----
        // edges tagged by color on both ends, kept only same-class; keyed
        // by DST so the backward frontier join is a single co-partitioned
        // join per level
        val classEdges = pin(edges.join(colors, part)
          .map { case (u, (v, cu)) => (v, (u, cu)) }
          .join(colors, part)
          .flatMap { case (v, ((u, cu), cv)) =>
            if (cu == cv) Some((v, (u, cu))) else None }
          .partitionBy(part))
        var frontier = pin(colors.filter { case (v, cl) => v == cl })
        var inScc = frontier
        var sweeping = !frontier.isEmpty()
        var sweepRound = 0
        while (sweeping) {
          sweepRound += 1
          val next = pin(classEdges.join(frontier, part)
            .flatMap { case (_, ((u, cu), r)) => if (cu == r) Some((u, r)) else None }
            .distinct()
            .subtractByKey(inScc, part))
          loopGc(sweepRound, nEdges)
          if (next.isEmpty()) { next.unpersist(false); sweeping = false }
          else {
            val merged = pin(inScc.union(next).partitionBy(part))
            if (frontier ne inScc) frontier.unpersist(false)
            inScc.unpersist(false)
            inScc = merged; frontier = next
          }
        }
        done += inScc
        val nextRem = pin(remaining.subtractByKey(inScc, part))
        val nextEdges = pin(edges.join(nextRem, part)
          .map { case (u, (v, _)) => (v, u) }
          .join(nextRem, part).map { case (v, (u, _)) => (u, v) }
          .partitionBy(part))
        classEdges.unpersist(false); colors.unpersist(false)
        remaining.unpersist(false); edges.unpersist(false)
        remaining = nextRem; edges = nextEdges
        if (engaged) System.gc() // reap the outer round's dead shuffles
      }
    }
    // ---- driver endgame (empty when the rounds peeled everything) ----
    val rest = remaining.keys.collect()
    if (rest.nonEmpty)
      done += sc.parallelize(tarjan(rest, edges.collect()).toSeq, part.numPartitions)
    val all = sc.union(done.toSeq)
    // decode (memberIdx, rootIdx) → (id, min string id of the SCC): one
    // uniform idx-keyed join for the member strings, then a combiner-safe
    // min per root (trim singletons have root == self, so these keys are
    // unique; only a giant sweep SCC concentrates a root key)
    val memberId = all.join(c.rev, part)
      .map { case (_, (r, idV)) => (r, idV) }
    val minByRoot = memberId
      .reduceByKey(part, (a: String, b: String) => if (a <= b) a else b)
    val rows = memberId.join(minByRoot, part)
      .map { case (_, (idV, minId)) => Row(idV, minId) }
    val out = toDf(g, rows, StructType(Seq(
      StructField("id", StringType), StructField("component", StringType))))
    val pinned = out.localCheckpoint(true) // realize before freeing the parts
    done.foreach(_.unpersist(false))
    remaining.unpersist(false); edges.unpersist(false); deg.unpersist(false)
    pinned
  }

  /** Tarjan's SCC over `vs` and the arcs among them, iterative (no
    * recursion depth limit). Returns (vertex, representative) with one
    * representative per SCC.
    */
  private def tarjan(vs: Array[Long], arcs: Array[(Long, Long)]): Array[(Long, Long)] = {
    val n = vs.length
    val at = new java.util.HashMap[java.lang.Long, Integer]()
    vs.indices.foreach(i => at.put(vs(i), i))
    val offs = new Array[Int](n + 1)
    arcs.foreach { case (u, _) => offs(at.get(u) + 1) += 1 }
    for (i <- 0 until n) offs(i + 1) += offs(i)
    val nbr = new Array[Int](arcs.length)
    val fill = offs.clone()
    arcs.foreach { case (u, v) =>
      val i = at.get(u).intValue(); nbr(fill(i)) = at.get(v); fill(i) += 1
    }
    val index = Array.fill(n)(-1); val low = new Array[Int](n)
    val onStack = new Array[Boolean](n); val rep = new Array[Long](n)
    val stack = new Array[Int](n); var sp = 0
    val work = new Array[Int](n); val next = new Array[Int](n); var wp = 0
    var counter = 0
    for (s0 <- 0 until n if index(s0) < 0) {
      index(s0) = counter; low(s0) = counter; counter += 1
      stack(sp) = s0; sp += 1; onStack(s0) = true
      work(wp) = s0; next(s0) = offs(s0); wp += 1
      while (wp > 0) {
        val v = work(wp - 1)
        if (next(v) < offs(v + 1)) {
          val w = nbr(next(v)); next(v) += 1
          if (index(w) < 0) {
            index(w) = counter; low(w) = counter; counter += 1
            stack(sp) = w; sp += 1; onStack(w) = true
            work(wp) = w; next(w) = offs(w); wp += 1
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          wp -= 1
          if (low(v) == index(v)) {
            var w = -1
            while (w != v) { sp -= 1; w = stack(sp); onStack(w) = false; rep(w) = vs(v) }
          }
          if (wp > 0) { val u = work(wp - 1); low(u) = math.min(low(u), low(v)) }
        }
      }
    }
    vs.indices.map(i => (vs(i), rep(i))).toArray
  }

  /** PageRank with the update rule of the DECIMAL oracle
    * [[Algorithms.pageRank]] — r₀ = 1, r ← 0.15 + 0.85·Σ r(src)·mult/outdeg,
    * where outdeg counts parallel edges — on [[CsrKernel]]. Returns (id, r).
    */
  def pageRank(g: PropertyGraph, iters: Int,
      relType: Option[String] = None): DataFrame = {
    val (es, ns) = kernelInput(g, relType)
    CsrKernel.run[Double, String](es, ns, undirected = false,
      weighted = false, iters, StructType(Seq(
        StructField("id", StringType), StructField("r", DoubleType))))(
      init = c => Array.fill(c.keys.length)(1.0),
      dst = m => m,
      send = { (c, r, i, _, t) =>
        val (from, to) = (c.offs(i), c.offs(i + 1))
        var outdeg = 0.0; var j = from
        while (j < to) { outdeg += c.wts(j); j += 1 }
        j = from
        while (j < to) { t.add(c.nbrs(j), r(i) * c.wts(j) / outdeg); j += 1 }
      },
      update = (c, _, in) => Array.tabulate(c.keys.length) { i =>
        val s = in.sums.get(c.keys(i))
        0.15 + 0.85 * (if (s == null) 0.0 else s(0))
      })
  }

  /** Synchronous label propagation on [[CsrKernel]] over the undirected
    * graph, parallel edges contracted: each round every node adopts the
    * label with the largest vote, a vote being the edge multiplicity or,
    * `weighted`, the weight sum. Ties go to the LARGEST label (string
    * order); a node without neighbours keeps its label, which starts as its
    * own id. Returns (id, label).
    */
  def labelPropagation(g: PropertyGraph, iters: Int,
      relType: Option[String] = None, weighted: Boolean = false): DataFrame = {
    val (es, ns) = kernelInput(g, relType)
    CsrKernel.run[String, (String, String)](es, ns, undirected = true,
      weighted, iters, StructType(Seq(
        StructField("id", StringType), StructField("label", StringType))))(
      init = _.keys.clone(),
      dst = _._1, // message key = (receiver, voted label)
      send = { (c, lbl, i, _, t) =>
        var j = c.offs(i)
        while (j < c.offs(i + 1)) { t.add((c.nbrs(j), lbl(i)), c.wts(j)); j += 1 }
      },
      update = { (c, lbl, in) =>
        val best = new java.util.HashMap[String, (Double, String)]()
        in.sums.forEach { (k, v) =>
          val cur = best.get(k._1)
          if (cur == null || v(0) > cur._1 || (v(0) == cur._1 && k._2 > cur._2))
            best.put(k._1, (v(0), k._2))
        }
        Array.tabulate(c.keys.length) { i =>
          val b = best.get(c.keys(i))
          if (b == null) lbl(i) else b._2
        }
      })
  }

  /** Louvain-style communities (weighted label propagation, the
    * label-adoption stand-in for modularity-gain local moves) and the
    * modularity of the final partition. Returns (communities, modularity).
    */
  def louvain(g: PropertyGraph, iters: Int,
      relType: Option[String] = None): (DataFrame, DataFrame) = {
    val communities = labelPropagation(g, iters, relType, weighted = true)
    (communities, Algorithms.modularity(g, communities, relType))
  }
}
