package graft.algos

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.graph.PropertyGraph

/** The iterative kernel PageRank and label propagation run on: GraphX's
  * round shape (OSDI 2014: one join plus one group-by over indexed edge
  * partitions) without the `Graph` object or an id dictionary.
  *
  *  - BUILD: one shuffle of (node id → neighbour, weight) records lands
  *    every node's row in its hash partition, where it becomes one [[Csr]]
  *    keyed by the string node id, parallel edges contracted. The width is
  *    [[GraphXAlgos.adjWidthFor]] of the oriented edge count. The full
  *    graph keys every node; a typed projection keys the endpoints of its
  *    edges (the rule `GraphXAlgos.wcc` follows).
  *  - ROUND: one job. A `zipPartitions` of CSR and state tallies the
  *    outgoing messages per partition (in chunks of at most
  *    [[GraphXAlgos.TallyFlushEntries]] entries), one shuffle carries the
  *    per-partition-distinct (message key, value) records to the
  *    receiver's partition, and a second `zipPartitions` merges them and
  *    applies the update. State is one array per partition, aligned with
  *    the CSR keys, pinned and `localCheckpoint`ed every round.
  *  - RESULT: the (id, value) rows are pinned, then the CSR and the state
  *    are unpersisted. Nothing is cached between calls.
  */
private[algos] object CsrKernel {

  /** One partition's adjacency: sorted node ids, row offsets, neighbour
    * ids and contracted edge weights (row i is `offs(i) until offs(i+1)`).
    */
  final class Csr(val keys: Array[String], val offs: Array[Int],
      val nbrs: Array[String], val wts: Array[Double]) extends Serializable

  /** Message key → summed value; chunks merge exactly by adding. */
  final class Tally[M] {
    val sums = new java.util.HashMap[M, Array[Double]]()
    def add(k: M, v: Double): Unit = {
      val cur = sums.get(k)
      if (cur == null) sums.put(k, Array(v)) else cur(0) += v
    }
  }

  /** The pinned CSR of `g`'s edges of `relTypes` (empty = all edges) and
    * its oriented edge count. `undirected` adds every edge reversed;
    * `weighted` contracts parallel edges to their weight sum, else to
    * their multiplicity.
    */
  private def build(g: PropertyGraph, relTypes: Seq[String], undirected: Boolean,
      weighted: Boolean): (RDD[Csr], Long) = {
    val es = g.edgesByTypes(relTypes)
    val nEdges = (if (undirected) 2L else 1L) * es.count()
    val part = new HashPartitioner(GraphXAlgos.adjWidthFor(nEdges,
      g.nodes.sparkSession.sparkContext.defaultParallelism))
    val w = if (weighted) coalesce(col("weight").cast("double"), lit(0.0)) else lit(1.0)
    val fullGraph = relTypes.isEmpty
    val arcs = es.select(col("src"), col("dst"), w).rdd.flatMap { r =>
      val (s, d, x) = (r.getString(0), r.getString(1), r.getDouble(2))
      if (undirected) Iterator((s, (d, x)), (d, (s, x)))
      // a typed projection's sinks need a row of their own (a null
      // neighbour marks a key-only record); the full graph's come from
      // the node table
      else if (fullGraph) Iterator.single((s, (d, x)))
      else Iterator((s, (d, x)), (d, (null: String, 0.0)))
    }
    val records =
      if (fullGraph) arcs.union(g.nodes.select("id").rdd.map(r => (r.getString(0), (null: String, 0.0))))
      else arcs
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

  /** Runs `iters` rounds over a fresh CSR and returns the pinned
    * (id, state) rows; every RDD the call persisted is released.
    *  - `send(csr, state, i, tally)` tallies row i's outgoing messages;
    *  - `dst` names a message key's receiver;
    *  - `update(csr, state, inbox)` is the next state of the partition.
    */
  def run[S: ClassTag, M: ClassTag](g: PropertyGraph, relTypes: Seq[String],
      undirected: Boolean, weighted: Boolean, iters: Int, schema: StructType)(
      init: Csr => Array[S], dst: M => String,
      send: (Csr, Array[S], Int, Tally[M]) => Unit,
      update: (Csr, Array[S], Tally[M]) => Array[S]): DataFrame = {
    val (csr, nEdges) = build(g, relTypes, undirected, weighted)
    val msgPart = new ByReceiver[M](new HashPartitioner(csr.getNumPartitions), dst)
    val flushCap = GraphXAlgos.TallyFlushEntries
    val init0 = csr.map(init)
    var state = init0
    for (round <- 1 to iters) {
      val msgs = csr.zipPartitions(state) { (cit, sit) =>
        tallied(cit.next(), sit.next(), send, flushCap)
      }.partitionBy(msgPart)
      val next = csr.zipPartitions(state, msgs) { (cit, sit, mit) =>
        val inbox = new Tally[M]
        mit.foreach { case (k, v) => inbox.add(k, v) }
        Iterator.single(update(cit.next(), sit.next(), inbox))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      next.localCheckpoint() // lineage hygiene: see GraphXAlgos.LoopCkptEvery
      next.count()
      GraphXAlgos.loopGc(round, nEdges)
      if (state ne init0) state.unpersist(false)
      state = next
    }
    val rows = csr.zipPartitions(state) { (cit, sit) =>
      val c = cit.next(); val s = sit.next()
      Iterator.tabulate(c.keys.length)(i => Row(c.keys(i), s(i)))
    }
    val out = g.nodes.sparkSession.createDataFrame(rows, schema).localCheckpoint(true)
    if (state ne init0) state.unpersist(false)
    csr.unpersist(false)
    out
  }

  /** The partition's messages, tallied row by row in chunks of at most
    * `cap` distinct keys (a chunk overshoots by at most its last row's
    * degree). The receiver adds chunks up, so chunking changes no sum.
    */
  private def tallied[S, M](c: Csr, s: Array[S],
      send: (Csr, Array[S], Int, Tally[M]) => Unit, cap: Int): Iterator[(M, Double)] =
    new Iterator[(M, Double)] {
      private var i = 0
      private var chunk: Iterator[java.util.Map.Entry[M, Array[Double]]] = Iterator.empty
      def hasNext: Boolean = {
        while (!chunk.hasNext && i < c.keys.length) {
          val t = new Tally[M]
          while (i < c.keys.length && t.sums.size < cap) { send(c, s, i, t); i += 1 }
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
