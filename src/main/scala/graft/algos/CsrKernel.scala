package graft.algos

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The iterative kernel PageRank, label propagation and WCC run on:
  * GraphX's round shape (OSDI 2014: one join plus one group-by over
  * indexed edge partitions) without the `Graph` object or an id
  * dictionary.
  *
  *  - BUILD: one shuffle of (node id → neighbour, weight) records lands
  *    every node's row in its hash partition, where it becomes one [[Csr]]
  *    keyed by the string node id, parallel edges contracted. The width is
  *    [[GraphXAlgos.adjWidthFor]] of the oriented edge count. Given node
  *    ids (the full graph) every node is keyed; an edge list alone keys
  *    the endpoints of its edges.
  *  - ROUND: one job. The message pass — a `zipPartitions` of CSR and
  *    state tallying the outgoing messages per partition (in chunks of at
  *    most [[GraphXAlgos.TallyFlushEntries]] entries), then one shuffle of
  *    the per-partition-distinct (message key, value) records to the
  *    receiver's partition — feeds a second `zipPartitions` that merges
  *    them and applies the update. State is one array per partition,
  *    aligned with the CSR keys, pinned and `localCheckpoint`ed every
  *    round; the same job counts the rows whose value changed.
  *  - STOP: after `iters` rounds, or at the first round that changed no
  *    row (a fixpoint of the deterministic update), whichever is first.
  *  - CLOSE (optional): once the rows that changed last round have at most
  *    [[GraphXAlgos.EndgamePairCap]] edges, one more message pass runs
  *    with a different receive step whose value pairs are collected; the
  *    driver turns them into a relabelling of the result.
  *  - RESULT: the (id, value) rows are pinned, then the CSR and the state
  *    are unpersisted. Nothing is cached between calls.
  */
private[algos] object CsrKernel {

  /** One partition's adjacency: sorted node ids, row offsets, neighbour
    * ids and contracted edge weights (row i is `offs(i) until offs(i+1)`).
    */
  final class Csr(val keys: Array[String], val offs: Array[Int],
      val nbrs: Array[String], val wts: Array[Double]) extends Serializable

  /** One partition's values, aligned with the CSR keys, and which of them
    * the round that produced them changed (all of them before round 1).
    */
  final class State[S](val vals: Array[S], val fresh: Array[Boolean]) extends Serializable

  /** Message key → summed value; chunks merge exactly by adding. */
  final class Tally[M] {
    val sums = new java.util.HashMap[M, Array[Double]]()
    def add(k: M, v: Double): Unit = {
      val cur = sums.get(k)
      if (cur == null) sums.put(k, Array(v)) else cur(0) += v
    }
  }

  /** The closing pass: `receive(csr, values, inbox)` turns a partition's
    * messages into value pairs, at most one per message; `finish` makes
    * from all of them the map applied to the result's values (a value it
    * does not name stays).
    */
  final case class Closing[S, M](
      receive: (Csr, Array[S], Tally[M]) => Iterator[(S, S)],
      finish: Array[(S, S)] => java.util.Map[S, S])

  /** The pinned CSR of the `src`/`dst` (and `weight`) edge rows, keyed on
    * every id of `nodes` too, and its oriented edge count. `undirected`
    * adds every edge reversed; `weighted` contracts parallel edges to
    * their weight sum, else to their multiplicity.
    */
  private def build(edges: DataFrame, nodes: Option[DataFrame], undirected: Boolean,
      weighted: Boolean): (RDD[Csr], Long) = {
    val nEdges = (if (undirected) 2L else 1L) * edges.count()
    val part = new HashPartitioner(GraphXAlgos.adjWidthFor(nEdges,
      edges.sparkSession.sparkContext.defaultParallelism))
    val w = if (weighted) coalesce(col("weight").cast("double"), lit(0.0)) else lit(1.0)
    val keyed = nodes.isDefined
    val arcs = edges.select(col("src"), col("dst"), w).rdd.flatMap { r =>
      val (s, d, x) = (r.getString(0), r.getString(1), r.getDouble(2))
      if (undirected) Iterator((s, (d, x)), (d, (s, x)))
      // without node ids a sink needs a row of its own (a null neighbour
      // marks a key-only record)
      else if (keyed) Iterator.single((s, (d, x)))
      else Iterator((s, (d, x)), (d, (null: String, 0.0)))
    }
    val records = nodes.fold(arcs) { n =>
      arcs.union(n.select("id").rdd.map(r => (r.getString(0), (null: String, 0.0))))
    }
    val csr = records.partitionBy(part)
      .mapPartitions(it => Iterator.single(toCsr(it)), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    (csr, nEdges)
  }

  private val byKeyThenNbr: Ordering[(String, (String, Double))] = (a, b) => {
    val c = a._1.compareTo(b._1)
    if (c != 0) c
    else if (a._2._1 == null) { if (b._2._1 == null) 0 else -1 }
    else if (b._2._1 == null) 1
    else a._2._1.compareTo(b._2._1)
  }

  private def toCsr(it: Iterator[(String, (String, Double))]): Csr = {
    val recs = it.toArray
    java.util.Arrays.sort(recs, byKeyThenNbr)
    val n = recs.length
    val keys = new Array[String](n); val offs = new Array[Int](n + 1)
    val nbrs = new Array[String](n); val wts = new Array[Double](n)
    var nk = 0; var ne = 0; var i = 0
    while (i < n) {
      val (k, (nb, x)) = recs(i)
      if (nk == 0 || keys(nk - 1) != k) { keys(nk) = k; offs(nk) = ne; nk += 1 }
      if (nb != null) {
        // sorted by (key, neighbour): a parallel edge follows its twin
        if (ne > offs(nk - 1) && nbrs(ne - 1) == nb) wts(ne - 1) += x
        else { nbrs(ne) = nb; wts(ne) = x; ne += 1 }
      }
      i += 1
    }
    offs(nk) = ne
    new Csr(java.util.Arrays.copyOf(keys, nk), java.util.Arrays.copyOf(offs, nk + 1),
      java.util.Arrays.copyOf(nbrs, ne), java.util.Arrays.copyOf(wts, ne))
  }

  /** Routes a message to the partition that holds its receiver. */
  private final class ByReceiver[M](hp: HashPartitioner, dst: M => String)
      extends Partitioner {
    def numPartitions: Int = hp.numPartitions
    def getPartition(key: Any): Int = hp.getPartition(dst(key.asInstanceOf[M]))
  }

  /** Runs the rounds over a fresh CSR of `edges` (keyed on `nodes` too)
    * and returns the pinned (id, value) rows; every RDD the call
    * persisted is released.
    *  - `send(csr, values, i, fresh, tally)` tallies row i's outgoing
    *    messages; `fresh` says whether the last round changed row i;
    *  - `dst` names a message key's receiver;
    *  - `update(csr, values, inbox)` is the next values of the partition;
    *  - `closing`, if given, ends the call early (see [[Closing]]).
    */
  def run[S: ClassTag, M: ClassTag](edges: DataFrame, nodes: Option[DataFrame],
      undirected: Boolean, weighted: Boolean, iters: Int, schema: StructType)(
      init: Csr => Array[S], dst: M => String,
      send: (Csr, Array[S], Int, Boolean, Tally[M]) => Unit,
      update: (Csr, Array[S], Tally[M]) => Array[S],
      closing: Option[Closing[S, M]] = None): DataFrame = {
    val (csr, nEdges) = build(edges, nodes, undirected, weighted)
    val sc = csr.sparkContext
    val msgPart = new ByReceiver[M](new HashPartitioner(csr.getNumPartitions), dst)
    val flushCap = GraphXAlgos.TallyFlushEntries
    // the message pass, shared by the rounds and the closing pass
    def pass[T: ClassTag](state: RDD[State[S]])(
        receive: (Csr, State[S], Tally[M]) => Iterator[T]): RDD[T] = {
      val msgs = csr.zipPartitions(state) { (cit, sit) =>
        tallied(cit.next(), sit.next(), send, flushCap)
      }.partitionBy(msgPart)
      csr.zipPartitions(state, msgs) { (cit, sit, mit) =>
        val inbox = new Tally[M]
        mit.foreach { case (k, v) => inbox.add(k, v) }
        receive(cit.next(), sit.next(), inbox)
      }
    }
    val init0 = csr.map(c => new State(init(c), Array.fill(c.keys.length)(true)))
    var state = init0
    var (round, changed, freshEdges) = (0, 1L, nEdges)
    var relabel: Option[java.util.Map[S, S]] = None
    while (round < iters && changed > 0 && relabel.isEmpty) closing match {
      case Some(cl) if freshEdges <= GraphXAlgos.EndgamePairCap =>
        // each pair comes from a message and only fresh rows send, so at
        // most freshEdges pairs reach the driver
        relabel = Some(cl.finish(pass(state)((c, s, in) => cl.receive(c, s.vals, in)).collect()))
      case _ =>
        round += 1
        val nChanged = sc.longAccumulator
        val nFreshEdges = sc.longAccumulator
        val next = pass(state) { (c, s, in) =>
          val vals = update(c, s.vals, in)
          val fresh = Array.tabulate(c.keys.length) { i =>
            val moved = !java.util.Objects.equals(vals(i), s.vals(i))
            if (moved) { nChanged.add(1); nFreshEdges.add(c.offs(i + 1) - c.offs(i)) }
            moved
          }
          Iterator.single(new State(vals, fresh))
        }.persist(StorageLevel.MEMORY_AND_DISK)
        next.localCheckpoint() // lineage hygiene: see GraphXAlgos.LoopCkptEvery
        next.count()
        GraphXAlgos.loopGc(round, nEdges)
        if (state ne init0) state.unpersist(false)
        state = next
        changed = nChanged.value
        freshEdges = nFreshEdges.value
    }
    val bc = relabel.filterNot(_.isEmpty).map(sc.broadcast(_))
    val rows = csr.zipPartitions(state) { (cit, sit) =>
      val c = cit.next(); val s = sit.next().vals
      val m = bc.map(_.value)
      Iterator.tabulate(c.keys.length) { i =>
        Row(c.keys(i), m.fold(s(i))(_.getOrDefault(s(i), s(i))))
      }
    }
    val out = edges.sparkSession.createDataFrame(rows, schema).localCheckpoint(true)
    bc.foreach(_.destroy())
    if (state ne init0) state.unpersist(false)
    csr.unpersist(false)
    out
  }

  /** The partition's messages, tallied row by row in chunks of at most
    * `cap` distinct keys (a chunk overshoots by at most its last row's
    * degree). The receiver adds chunks up, so chunking changes no sum.
    */
  private def tallied[S, M](c: Csr, s: State[S],
      send: (Csr, Array[S], Int, Boolean, Tally[M]) => Unit,
      cap: Int): Iterator[(M, Double)] =
    new Iterator[(M, Double)] {
      private var i = 0
      private var chunk: Iterator[java.util.Map.Entry[M, Array[Double]]] = Iterator.empty
      def hasNext: Boolean = {
        while (!chunk.hasNext && i < c.keys.length) {
          val t = new Tally[M]
          while (i < c.keys.length && t.sums.size < cap) {
            send(c, s.vals, i, s.fresh(i), t); i += 1
          }
          chunk = t.sums.entrySet().iterator().asScala
        }
        chunk.hasNext
      }
      def next(): (M, Double) = {
        if (!hasNext) throw new NoSuchElementException
        val e = chunk.next()
        (e.getKey, e.getValue()(0))
      }
    }
}
