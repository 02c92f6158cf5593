package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mutation layer (SURVEY §2.8): CREATE / MERGE / SET / REMOVE / DELETE
  * over versioned snapshots.
  *
  * The reference mutates row stores under a WAL
  * (`/root/reference/pkg/cypher/create.go`, `merge.go`,
  * `executor_mutations.go`); here every statement computes a NEW
  * nodes/edges DataFrame pair and atomically swaps the snapshot — readers
  * keep the version they started with (statement-level snapshot isolation,
  * the transaction.go analog). At scale the swap is a Delta-style commit of
  * appended/rewritten partitions; in-memory it is a reference swap.
  */
/** Global registry of the most recently constructed store — the engine's
  * analog of the reference's package-level `Storage` variable
  * (`apoc/storage`); the store-backed CALL procedures (apoc.schema DDL,
  * apoc.atomic, apoc.trigger, apoc.periodic) resolve their write target
  * here, exactly as the reference's apoc packages do.
  */
object GraphStore {
  /** One committed graph change, for subscription fan-out (the GraphQL
    * `Subscription` events, `schema.graphql:1174-1208`). `kind` ∈
    * node_created / node_updated / node_deleted / rel_created /
    * rel_updated / rel_deleted.
    */
  final case class GraphChange(kind: String, id: String,
      labels: Seq[String] = Nil, relType: Option[String] = None,
      properties: Map[String, String] = Map.empty)

  /** Lineage-bounding pin for every frame the store keeps live.
    *
    * Default: `localCheckpoint(true)` — executor-resident pinned blocks,
    * the fast local-mode choice, but explicitly NOT fault-tolerant: lose
    * an executor (or, in local mode, hit one task OOM) and the pinned
    * blocks are unrecoverable — the round-11 sf3 probe's
    * `"localCheckpoint" action failed` cascade was exactly this.
    *
    * With `spark.graft.checkpointDir` set, frames pin through RELIABLE
    * `checkpoint()` into that directory instead: a scale/production
    * store then survives executor loss mid-session (pair with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so
    * superseded checkpoint files are reaped as their frames are GC'd).
    */
  private[graft] def pin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (!sc.getCheckpointDir.exists(_.contains(dir))) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(true)
    }
  }

  private val cur = new java.util.concurrent.atomic.AtomicReference[GraphStore]()
  private[graph] def registerCurrent(s: GraphStore): Unit = cur.set(s)
  def currentOption: Option[GraphStore] = Option(cur.get)
  def currentStore: GraphStore = currentOption.getOrElse(
    throw new IllegalStateException("no GraphStore constructed in this JVM"))

  /** The explicit transaction running on this thread, if any — lets
    * transaction-scoped CALLs (tx.setMetaData, call_compat.go:803-808)
    * enforce their active-transaction precondition.
    */
  private val inTx = new ThreadLocal[GraphStore]()
  def activeTransaction: Option[GraphStore] = Option(inTx.get)

  /** Restore a store from a [[GraphStore.persist]] directory — the read
    * side of the reference's snapshot recovery (`pkg/storage/
    * wal_engine.go:28-45` loads WAL + snapshot on open). Embedding side
    * tables are optional so pre-persist directories stay readable.
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String,
      registerGlobal: Boolean = true): GraphStore = {
    val store = new GraphStore(PropertyGraph(
      spark.read.parquet(s"$dir/nodes"),
      spark.read.parquet(s"$dir/edges")), registerGlobal)
    def opt(p: String): Option[DataFrame] =
      if (new java.io.File(s"$dir/$p").exists())
        Some(spark.read.parquet(s"$dir/$p")) else None
    store.nodeEmbs = opt("node_embeddings")
    store.relEmbs = opt("rel_embeddings")
    store
  }

  /** Reopen a WAL-backed store: newest checkpoint + delta-tail replay
    * (`pkg/storage/wal_engine.go:28-45`'s recovery path). The returned
    * store keeps logging to the same WAL, continuing the version sequence.
    */
  def loadWal(spark: org.apache.spark.sql.SparkSession, dir: String,
      registerGlobal: Boolean = true, compactEvery: Int = 8): GraphStore = {
    val replayed = new DeltaLog(spark, dir).replay()
    val store = new GraphStore(replayed.graph, registerGlobal,
      walDir = Some(dir), compactEvery = compactEvery)
    store.nodeEmbs = Some(replayed.nodeEmb)
    store.relEmbs = Some(replayed.relEmb)
    store.versionCounter = replayed.version
    store
  }
}

final class GraphStore(initial: PropertyGraph, registerGlobal: Boolean = true,
    walDir: Option[String] = None, compactEvery: Int = 8) {
  // transaction-private stores must NOT hijack the global registry
  if (registerGlobal) GraphStore.registerCurrent(this)

  case class QueryStats(
      nodesCreated: Long = 0, nodesDeleted: Long = 0,
      relationshipsCreated: Long = 0, relationshipsDeleted: Long = 0,
      propertiesSet: Long = 0)

  @volatile private var current: PropertyGraph = initial
  @volatile private[graph] var versionCounter: Long = 0

  /** Transaction metadata (tx.setMetaData — call_compat.go:803-852);
    * surfaced on the private transaction store, discarded with it.
    */
  @volatile private var txMeta: Map[String, Any] = Map.empty
  def setTxMetadata(m: Map[String, Any]): Unit = txMeta = m
  def txMetadata: Map[String, Any] = txMeta

  /** Schema metadata: indexes (layout hints) + enforced constraints. */
  val catalog = new SchemaCatalog

  // ================================================== storage limits =====

  /** Per-database storage caps (enforcement.go:169-205 CheckStorageLimits:
    * MaxNodes / MaxEdges, 0 = unlimited). Checked batch-wise before every
    * create commits; the refusal message mirrors the reference's
    * ErrStorageLimitExceeded shape. MaxBytes delegates to the storage
    * layer (parquet/object-store quotas), like encryption-at-rest.
    */
  @volatile private var maxNodes: Long = 0L
  @volatile private var maxEdges: Long = 0L
  @volatile private var limitDb: String = "neo4j"

  def setStorageLimits(maxNodes: Long = 0L, maxEdges: Long = 0L,
      db: String = "neo4j"): Unit = {
    this.maxNodes = maxNodes; this.maxEdges = maxEdges; this.limitDb = db
  }

  private def checkNodeLimit(g: PropertyGraph, adding: Long): Unit =
    if (maxNodes > 0) {
      val cur = g.nodes.count()
      if (cur + adding > maxNodes) throw new IllegalStateException(
        s"storage limit exceeded: database '$limitDb' has reached " +
          s"max_nodes limit ($cur/$maxNodes)")
    }

  private def checkEdgeLimit(g: PropertyGraph, adding: Long): Unit =
    if (maxEdges > 0) {
      val cur = g.edges.count()
      if (cur + adding > maxEdges) throw new IllegalStateException(
        s"storage limit exceeded: database '$limitDb' has reached " +
          s"max_edges limit ($cur/$maxEdges)")
    }

  /** Incremental commit log (None = in-memory-only store). When present,
    * every mutation appends a delta commit of ONLY its touched rows and a
    * checkpoint is written every `compactEvery` deltas — the reference's
    * WAL+snapshot+compaction (`pkg/storage/wal_engine.go:28-45`), so a
    * single-property SET never rewrites the store on disk.
    */
  private val wal: Option[DeltaLog] =
    walDir.map(d => new DeltaLog(initial.nodes.sparkSession, d))
  // a fresh WAL dir starts with checkpoint v0 of the initial graph so
  // replay always has a base (recovery never needs out-of-band state).
  // emptyEmb, not nodeEmbeddings: the emb vars initialize after this block.
  wal.foreach { w =>
    if (w.latestVersion < 0)
      w.commitCheckpoint(0L, initial, emptyEmb, emptyEmb)
  }

  def snapshot: PropertyGraph = current
  def version: Long = versionCounter

  // ===================================================== change feed =====

  private val changeListeners =
    new java.util.concurrent.CopyOnWriteArrayList[GraphStore.GraphChange => Unit]()

  /** Register a post-commit change listener (subscription fan-out).
    * Returns a handle that unregisters it. Events materialize ONLY while
    * listeners exist — the write path pays nothing otherwise — and each
    * commit's fan-out is capped at [[maxEventRows]] rows (serving-layer
    * bound, like the reference's subscription channel buffer).
    */
  def addChangeListener(f: GraphStore.GraphChange => Unit): AutoCloseable = {
    changeListeners.add(f)
    () => changeListeners.remove(f)
  }

  private val maxEventRows = 1000

  private def fanOut(ev: GraphStore.GraphChange): Unit =
    changeListeners.forEach(l =>
      try l(ev) catch { case _: Exception => /* dead subscriber */ })

  private def emitNodes(kind: String, df: DataFrame): Unit =
    if (!changeListeners.isEmpty)
      df.select("id", "labels", "properties").limit(maxEventRows).collect()
        .foreach { r =>
          fanOut(GraphStore.GraphChange(kind, r.getString(0),
            r.getSeq[String](1), None,
            Option(r.getAs[Map[String, String]](2)).getOrElse(Map.empty)))
        }

  private def emitIds(kind: String, df: DataFrame): Unit =
    if (!changeListeners.isEmpty)
      df.select("id").limit(maxEventRows).collect()
        .foreach(r => fanOut(GraphStore.GraphChange(kind, r.getString(0))))

  private def emitEdges(kind: String, df: DataFrame): Unit =
    if (!changeListeners.isEmpty)
      df.select("id", "rel_type").limit(maxEventRows).collect()
        .foreach(r => fanOut(GraphStore.GraphChange(kind, r.getString(0),
          Nil, Option(r.getString(1)))))

  /** Commit `g` as the next version. Writers serialize per store: every
    * public mutation holds the store monitor for its whole body (probe,
    * bucket rewrite, this swap), so no commit is built on a frame another
    * writer has since replaced. Readers never lock — they read the
    * volatile `current`.
    */
  private def swap(g: PropertyGraph,
      parts: Map[String, DataFrame] = Map.empty): Unit = {
    versionCounter += 1
    wal.foreach { w =>
      if (parts.nonEmpty) w.commitDelta(versionCounter, parts)
      if (w.deltasSinceCheckpoint >= compactEvery) {
        versionCounter += 1
        w.commitCheckpoint(versionCounter, g, nodeEmbeddings, relEmbeddings)
      }
    }
    // Lineage bounding. A bucketed side is materialized bucket-wise by the
    // copy-on-write committer (only touched buckets ever rewrite — the
    // file-granularity commit Delta Lake does); an unbucketed side falls
    // back to the periodic whole-frame checkpoint, skipped when this
    // commit didn't change that side's frame at all.
    val old = current
    current =
      if (versionCounter % 6 == 0)
        PropertyGraph(
          if (nodeSide.buckets.isDefined || (g.nodes eq old.nodes)) g.nodes
          else g.nodes.transform(GraphStore.pin),
          if (edgeSide.buckets.isDefined || (g.edges eq old.edges)) g.edges
          else g.edges.transform(GraphStore.pin))
      else g
  }

  // ============================================ bucketed copy-on-write =====
  // The node/edge frames are hash-bucketed by id once a store starts
  // mutating: a keyed mutation rewrites ONLY the buckets containing
  // touched rows, leaving every other bucket's materialized blocks live —
  // so a point SET on a 100 TB store rewrites O(store/nBuckets), never the
  // store. Id-equality reads on the write path (duplicate-id checks, WAL
  // delta rows, change events) prune to the same touched buckets. The WAL
  // below is untouched: deltas stay row-keyed (`wal_engine.go:28-45`
  // recovery shape preserved). Read-only stores never bucketize. One
  // committer ([[Side]]) serves both the node and the edge frame.

  /** Target rows per bucket: bucket count adapts to store size (4..64 in
    * local mode; a cluster deployment sizes this to its file-granularity
    * commit target, e.g. 128 MB of Parquet per bucket). Coarse on purpose:
    * each bucket materializes as its own job at bucketize time, so many
    * small buckets cost more up-front than the rewrite granularity buys.
    */
  private val bucketTargetRows = 200000L

  /** A side splits into real buckets only after this many committed keyed
    * mutations on it — one-shot and short write bursts (most analytics
    * queries that build + mutate a store once) stay on the whole-frame
    * path and never pay the bucket materialization; long-lived stores (the
    * server, ingest jobs) cross it after a few writes and amortize. The
    * counters start at 0 on every store, a WAL-replayed one included, so
    * a reopened server defers its first writes like a fresh store.
    */
  private val bucketizeAfter = 3L

  /** Bucket vector: the per-bucket frames plus — after a LAZY conversion —
    * the frozen pre-conversion parent and the set of buckets still
    * identical to `parent.filter(bucketCol == b)`. Keeping the pure set
    * lets (a) every read compose all still-pure buckets as ONE filtered
    * scan of the parent instead of nBuckets per-bucket scans, and (b) the
    * conversion skip materializing any bucket up front — a bucket only
    * materializes when a mutation first touches it. Crossing the deferral
    * bound therefore costs at most one checkpoint of the frame the store
    * already holds, never a full-frame × nBuckets rewrite — at 100 TB the
    * conversion is a metadata event, not a scan.
    */
  private final case class BucketVec(parent: Option[DataFrame],
      pure: Set[Int], bs: IndexedSeq[DataFrame]) {
    def size: Int = bs.size
  }
  private object BucketVec {
    /** Deferral mode: the whole frame as a single bucket. */
    def whole(df: DataFrame): BucketVec =
      BucketVec(None, Set.empty, IndexedSeq(df))
  }

  private val maxDepth = 4

  private def bucketColFor(n: Int)(c: Column): Column =
    pmod(xxhash64(c), lit(n)).cast("int")

  /** Partitions a materialized bucket compacts to: a bucket is the commit
    * unit (≤ bucketTargetRows), so a handful of partitions carries it.
    * WITHOUT this compaction, every union/join layer ADDS partitions and
    * localCheckpoint freezes the accumulation — a mutation-heavy session
    * snowballed a 4-bucket store to a 22k-task scan before this bound.
    */
  private def bucketParts(df: DataFrame, nBuckets: Int): Int = {
    val conf = df.sparkSession.sessionState.conf.numShufflePartitions
    math.max(1, conf / math.max(1, nBuckets))
  }

  /** A frame whose plan IS a pinned RDD (the product of localCheckpoint):
    * re-checkpointing it would be a pure copy.
    */
  private def isPinned(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** Split `df` into hash-buckets INCREMENTALLY: the parent is pinned
    * (one checkpoint pass, skipped when the frame is already a
    * checkpoint) and every bucket starts as a lazy filter view over it —
    * no bucket materializes until mutations later touch it (the pure-set
    * machinery on [[BucketVec]]).
    */
  private def bucketize(df: DataFrame): BucketVec = {
    val parent =
      if (isPinned(df)) df
      else df.coalesce(df.sparkSession.sessionState.conf.numShufflePartitions)
        .transform(GraphStore.pin)
    val rows = parent.count()
    val n = math.max(4L, math.min(64L, (rows + bucketTargetRows - 1) / bucketTargetRows)).toInt
    val views = (0 until n).map(b =>
      parent.filter(bucketColFor(n)(col("id")) === b))
    BucketVec(Some(parent), (0 until n).toSet, views)
  }

  /** One side (the node or the edge frame) of the bucketed copy-on-write
    * committer: its bucket vector, per-bucket layer depths and deferral
    * clock. Every method runs with the store monitor held — each public
    * mutation holds it for its whole body.
    */
  private final class Side(frame: PropertyGraph => DataFrame) {
    var buckets: Option[BucketVec] = None
    // un-materialized mutation layers stacked per bucket; a bucket
    // re-checkpoints when its depth reaches the bound, so lineage stays flat
    // without ever rewriting untouched buckets
    private var depth: Array[Int] = Array.empty
    // committed keyed mutations on this side (a delete that touches only
    // nodes must not push the edge side toward bucketization)
    private var commits = 0L
    private var bucketizeAt = bucketizeAfter
    private def deferred: Boolean = commits < bucketizeAt

    def ensure(): BucketVec = buckets match {
      // still under the deferral bound (single whole-frame "bucket"), or
      // already split — keep as is
      case Some(v) if v.size > 1 || deferred => v
      // first keyed write (from the current frame), or crossed the bound
      // (split the whole-frame bucket)
      case old =>
        val whole = old.fold(frame(current))(_.bs.head)
        val v = if (deferred) BucketVec.whole(whole) else bucketize(whole)
        depth = Array.fill(v.size)(0)
        buckets = Some(v)
        v
    }

    def conformInsert(rows: DataFrame): DataFrame = {
      val (v, r) = widenSchemas(ensure(), rows)
      buckets = Some(v); r
    }

    /** Rewrite exactly the touched buckets through `f(bucketId, frame)`,
      * re-materializing a bucket only when its stacked-layer depth hits
      * the bound. Returns the new bucket vector (also installed).
      */
    def rewrite(touched: Set[Int])(f: (Int, DataFrame) => DataFrame): BucketVec = {
      val v = ensure()
      val nb = v.bs.zipWithIndex.map { case (df, b) =>
        if (!touched(b)) df
        else {
          val nf = f(b, df)
          // a still-pure bucket materializes on its FIRST touch: its view
          // lineage re-scans the whole parent on every later read, so one
          // O(bucket) checkpoint now buys O(bucket) reads from here on —
          // while buckets never touched stay views and never pay anything
          // (measured across the write family at sf0.1: this beats both
          // the defer-to-depth-bound and the materialize-on-second-touch
          // variants on total wall-clock)
          depth(b) = if (v.pure(b) && v.size > 1) maxDepth else depth(b) + 1
          if (depth(b) >= maxDepth) {
            depth(b) = 0
            // coalesce BEFORE materializing: layers accumulate partitions
            // (union appends, broadcast joins preserve) and localCheckpoint
            // would freeze the growth unbounded
            nf.coalesce(bucketParts(nf, v.size)).transform(GraphStore.pin)
          } else nf
        }
      }
      // a touched bucket is no longer the parent view; once nothing is
      // pure the parent drops out of the read path entirely
      val pure2 = v.pure -- touched
      val nv = BucketVec(if (pure2.isEmpty) None else v.parent, pure2, nb)
      buckets = Some(nv)
      commits += 1
      nv
    }

    /** Wholesale rewrites and transaction commits replace the frame
      * outside the committer — drop back to unbucketed mode (the next
      * keyed mutation re-buckets).
      */
    def invalidate(): Unit = {
      buckets = None
      // restart the deferral clock: a store that keeps doing wholesale
      // rewrites (refactor-heavy sessions) must not thrash re-bucketization
      bucketizeAt = commits + bucketizeAfter
    }
  }

  private val nodeSide = new Side(_.nodes)
  private val edgeSide = new Side(_.edges)

  /** Full frame of a bucket vector: all still-pure buckets come back as
    * ONE filtered scan of the parent (an unfiltered scan when every
    * bucket is pure), only materialized/rewritten buckets union on top.
    */
  private def unionAll(v: BucketVec): DataFrame = {
    val impure = v.bs.indices.filterNot(v.pure).map(v.bs)
    v.parent match {
      case Some(p) if v.pure.nonEmpty =>
        val pureScan =
          if (v.pure.size == v.size) p
          else p.filter(bucketColFor(v.size)(col("id")).isInCollection(v.pure))
        (pureScan +: impure).reduce(_.unionByName(_))
      case _ => impure.reduce(_.unionByName(_))
    }
  }

  /** Distinct bucket ids that can contain `keys.id` rows — a ≤nBuckets-int
    * driver read over the (checkpointed, small) key frame.
    */
  private def touchedBuckets(keys: DataFrame, n: Int): Set[Int] =
    if (n == 1) Set(0) // deferral mode: whole frame, skip the driver read
    else keys.select(bucketColFor(n)(col("id")).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet

  /** Union of only the buckets in `touched` — the pruned frame every
    * id-equality join on the write path reads instead of the full store.
    * Touched-and-still-pure buckets read as one filtered parent scan.
    */
  private def prunedUnion(v: BucketVec, touched: Set[Int]): DataFrame =
    if (touched.isEmpty) v.bs.head.limit(0)
    else {
      val pureT = touched.intersect(v.pure)
      val impure = v.bs.indices.filter(b => touched(b) && !v.pure(b)).map(v.bs)
      val parts = v.parent match {
        case Some(p) if pureT.nonEmpty =>
          p.filter(bucketColFor(v.size)(col("id")).isInCollection(pureT)) +: impure
        case _ => impure
      }
      if (parts.isEmpty) v.bs.head.limit(0)
      else parts.reduce(_.unionByName(_))
    }

  /** Schema evolution on insert: `rows` may carry hoisted property
    * columns the store has not seen yet (the first CREATE against an
    * empty server store starts from the 3-column floor). Widen every
    * bucket with a typed-null PROJECTION — lazy, never a rewrite, the
    * materialized blocks stay live — and align `rows` to the store-side
    * dtype where both have the column (store wins a type clash).
    */
  private def widenSchemas(v: BucketVec, rows: DataFrame)
      : (BucketVec, DataFrame) = {
    val base = v.bs.head.schema
    val extra = rows.schema.fields.filterNot(f => base.fieldNames.contains(f.name))
    val widened =
      if (extra.isEmpty) v
      else {
        def widen(df: DataFrame): DataFrame = extra.foldLeft(df)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
        // the parent widens too: pure buckets read through it
        BucketVec(v.parent.map(widen), v.pure, v.bs.map(widen))
      }
    val aligned = base.fields.foldLeft(rows) { (d, f) =>
      if (!d.columns.contains(f.name))
        d.withColumn(f.name, lit(null).cast(f.dataType))
      // catalogString ignores nullability: array<string> with a different
      // containsNull must NOT cast — Spark refuses the no-op cast
      else if (d.schema(f.name).dataType.catalogString != f.dataType.catalogString)
        d.withColumn(f.name, col(f.name).cast(f.dataType))
      else d
    }
    (widened, aligned)
  }

  /** Optimistic explicit transaction (§2.9 `transaction.go`): `f` runs
    * against a PRIVATE store seeded from the current snapshot; its writes
    * become visible in ONE atomic swap at commit, and only if no other
    * writer committed meanwhile (first-committer-wins). An exception in
    * `f` rolls back by simply discarding the private store.
    */
  def transaction[T](f: GraphStore => T): T = {
    // version and frame read together: a swap bumps the counter before
    // it installs the frame
    val (baseVersion, base) = synchronized((versionCounter, current))
    val tx = new GraphStore(base, registerGlobal = false)
    GraphStore.inTx.set(tx)
    val out =
      try f(tx) // throw → nothing swapped (rollback)
      finally GraphStore.inTx.remove()
    synchronized {
      require(versionCounter == baseVersion,
        "transaction conflict: the store changed underneath; rolled back")
      // the committed frames were built by the PRIVATE store's bucket
      // committer — this store's bucket vectors no longer describe them
      nodeSide.invalidate()
      edgeSide.invalidate()
      current = tx.snapshot
      versionCounter += 1
      // a committed transaction's net effect isn't tracked statement-wise
      // (the private store has no WAL) → log it as one rewrite commit
      wal.foreach(_.commitDelta(versionCounter,
        Map("nodes_rewrite" -> tx.snapshot.nodes,
          "edges_rewrite" -> tx.snapshot.edges)))
    }
    out
  }

  /** Enforce catalog unique constraints against rows about to be added
    * (`pkg/storage/constraint_validation.go` analog): no duplicate values
    * within the new rows, no clashes with existing nodes of the label.
    * `replacedIds`: for keyed upserts, the rows being REPLACED — they must
    * not count as clashes, or re-upserting an existing row with an
    * unchanged constrained property would always refuse (round-11 ADVICE:
    * recordConsent re-recording consent under a Consent constraint).
    */
  private def enforceUnique(g: PropertyGraph, newNodes: DataFrame,
      replacedIds: Option[DataFrame] = None): Unit =
    catalog.uniqueConstraints.foreach { c =>
      val hoisted = Set("id", "key", "name", "acctbal", "mktsegment")
      // a store that has not evolved a hoisted column yet (empty-server
      // floor) reads the property from the schema-free map instead
      def propCol(df: DataFrame, p: String): Column =
        if (hoisted(p) && df.columns.contains(p)) df(p)
        else element_at(df("properties"), p)
      def valueOf(df: DataFrame): Column =
        struct(c.properties.map(propCol(df, _)): _*)
      // Neo4j unique constraints ignore entities missing the property:
      // rows where every constrained property is null never collide
      def anyPresent(df: DataFrame): Column =
        c.properties.map(propCol(df, _).isNotNull).reduce(_ || _)
      val fresh = newNodes.filter(array_contains(col("labels"), c.label))
        .filter(anyPresent(newNodes))
        .select(valueOf(newNodes).as("v"))
      val dupWithin = fresh.groupBy("v").count().filter(col("count") > 1).limit(1).count()
      require(dupWithin == 0,
        s"unique constraint ${c.name} (${c.label}.${c.properties.mkString(",")}) violated within created nodes")
      val labeled = g.nodes.filter(array_contains(col("labels"), c.label))
      val existing = replacedIds.fold(labeled)(ids =>
        labeled.join(ids.select("id"), Seq("id"), "left_anti"))
      val clash = fresh.join(existing.select(valueOf(existing).as("v")), Seq("v"), "left_semi")
        .limit(1).count()
      require(clash == 0,
        s"unique constraint ${c.name} (${c.label}.${c.properties.mkString(",")}) violated: value already exists")
    }

  /** CREATE nodes (duplicate-id rows rejected — unique-id constraint,
    * `pkg/storage/constraint_validation.go` analog). The duplicate check
    * joins only the buckets the new ids hash into, and the insert routes
    * each new row to its bucket — untouched buckets stay materialized.
    */
  def createNodes(newNodes: DataFrame): QueryStats = synchronized {
    val g = current
    // pin the rows once: the frame may carry nondeterministic exprs
    // (generated ids) and is read by the check, the router, and the WAL
    val nn = newNodes.transform(GraphStore.pin)
    val bs = nodeSide.ensure()
    val touched = touchedBuckets(nn, bs.size)
    // one pass computes both the batch size and the duplicate-id count
    // (two separate jobs cost a driver round-trip each on every CREATE)
    val existing = prunedUnion(bs, touched).select(col("id"), lit(true).as("_ex"))
    val counts = nn.join(existing, Seq("id"), "left_outer")
      .agg(count(lit(1)).as("n"), count(col("_ex")).as("conflicts"))
      .collect().head
    val n = counts.getLong(0)
    val conflicts = counts.getLong(1)
    require(conflicts == 0, s"unique-id constraint violated for $conflicts node(s)")
    enforceUnique(g, nn)
    checkNodeLimit(g, n)
    val nnA = nodeSide.conformInsert(nn)
    val nb = nodeSide.rewrite(touched)((b, df) =>
      df.unionByName(nnA.filter(bucketColFor(bs.size)(col("id")) === b)))
    swap(PropertyGraph(unionAll(nb), g.edges), Map("nodes_upserts" -> nnA))
    emitNodes("node_created", nnA)
    QueryStats(nodesCreated = n)
  }

  /** Keyed REPLACE-or-INSERT: each row lands under its id, replacing any
    * existing row wholesale — the reference's consent-ledger upsert shape
    * (db_privacy.go:38-106 RecordConsent). ONE commit and one pruned
    * bucket rewrite, where delete-then-create pays two probes and two
    * commits for the same net effect.
    */
  def upsertNodes(rows: DataFrame): QueryStats = synchronized {
    val g = current
    val nn = rows.transform(GraphStore.pin)
    val bs = nodeSide.ensure()
    val touched = touchedBuckets(nn, bs.size)
    // One pruned probe sizes the batch AND splits it into replaces vs
    // inserts: replaced rows are excluded from the unique-constraint
    // clash and don't count toward max_nodes (a pure replace at the
    // boundary must not refuse — round-11 ADVICE). With NO unique
    // constraints and NO node limit the replace/insert split is consumed
    // by nothing — only the batch size is needed, and that is one count
    // of the tiny pinned batch instead of a store-sized probe join (the
    // round-15 lifecycle profile measured one full-store scan per
    // consent upsert spent entirely on this probe).
    val n =
      if (maxNodes == 0 && catalog.uniqueConstraints.isEmpty) nn.count()
      else {
        val existing = prunedUnion(bs, touched).select(col("id"), lit(true).as("_ex"))
        val counts = nn.join(existing, Seq("id"), "left_outer")
          .agg(count(lit(1)).as("n"), count(col("_ex")).as("present"))
          .collect().head
        enforceUnique(g, nn, replacedIds = Some(nn))
        checkNodeLimit(g, counts.getLong(0) - counts.getLong(1))
        counts.getLong(0)
      }
    val nnA = nodeSide.conformInsert(nn)
    val keys = nnA.select("id")
    val nb = nodeSide.rewrite(touched)((b, df) =>
      df.join(keys, Seq("id"), "left_anti")
        .unionByName(nnA.filter(bucketColFor(bs.size)(col("id")) === b)))
    swap(PropertyGraph(unionAll(nb), g.edges), Map("nodes_upserts" -> nnA))
    emitNodes("node_updated", nnA)
    QueryStats(propertiesSet = n)
  }

  /** MERGE nodes by id: insert the ones that do not exist (ON CREATE);
    * existing ones are left untouched (no ON MATCH SET here). The
    * existence anti-join reads only the candidate ids' buckets.
    */
  def mergeNodes(candidates: DataFrame): QueryStats = synchronized {
    val g = current
    val cand = candidates.transform(GraphStore.pin)
    val bs = nodeSide.ensure()
    val candBuckets = touchedBuckets(cand, bs.size)
    val missing = cand.join(prunedUnion(bs, candBuckets).select("id"),
      Seq("id"), "left_anti").transform(GraphStore.pin)
    enforceUnique(g, missing)
    // one pass: batch size + the touched-bucket set
    val stat = missing.agg(count(lit(1)).as("n"),
      collect_set(bucketColFor(bs.size)(col("id"))).as("bks")).collect().head
    val n = stat.getLong(0)
    checkNodeLimit(g, n)
    val touched =
      if (n == 0) Set.empty[Int]
      else if (bs.size == 1) Set(0)
      else stat.getSeq[Int](1).toSet
    val missA = if (n > 0) nodeSide.conformInsert(missing) else missing
    val nb = nodeSide.rewrite(touched)((b, df) =>
      df.unionByName(missA.filter(bucketColFor(bs.size)(col("id")) === b)))
    swap(PropertyGraph(unionAll(nb), g.edges),
      if (n > 0) Map("nodes_upserts" -> missA) else Map.empty)
    if (n > 0) emitNodes("node_created", missA)
    QueryStats(nodesCreated = n)
  }

  /** SET a property to per-row values: `updates` = (id, newval). Hoisted
    * properties update their typed column; EVERY property (hoisted or not)
    * is kept in sync in the string property map — Neo4j properties are
    * schema-free, so a SET on a never-hoisted key lands in the map alone
    * (a null newval removes the key, REMOVE semantics).
    */
  def setNodeProperties(updates: DataFrame, property: String): QueryStats = synchronized {
    val g = current
    val u = updates.select(col("id"), col("newval")).withColumn("_upd", lit(true))
      .transform(GraphStore.pin)
    val bs = nodeSide.ensure()
    val touched = touchedBuckets(u, bs.size)
    def transform(bucket: DataFrame): DataFrame = {
      val joined = bucket.join(u, Seq("id"), "left_outer")
      val withCol =
        if (bucket.columns.contains(property)) {
          val dtype = bucket.schema(property).dataType
          joined.withColumn(property,
            when(col("_upd"), col("newval").cast(dtype)).otherwise(col(property)))
        } else joined
      withCol.withColumn("properties",
        when(col("_upd") && col("newval").isNotNull,
          map_concat(
            map_filter(col("properties"), (k, _) => k =!= property),
            map(lit(property), col("newval").cast("string"))))
          .when(col("_upd"), // null newval: drop the key
            map_filter(col("properties"), (k, _) => k =!= property))
          .otherwise(col("properties")))
        .drop("newval", "_upd")
    }
    val nb = nodeSide.rewrite(touched)((_, df) => transform(df))
    // WAL delta + change feed = only the touched rows, read from only the
    // touched buckets
    val touchedRows = prunedUnion(nb, touched)
      .join(u.select("id"), Seq("id"), "left_semi")
    val n = u.count()
    swap(PropertyGraph(unionAll(nb), g.edges),
      Map("nodes_upserts" -> touchedRows))
    emitNodes("node_updated", touchedRows)
    QueryStats(propertiesSet = n)
  }

  /** SET a property to ONE value for matching node ids (same hoisted-or-
    * map contract as [[setNodeProperties]]).
    */
  def setNodeProperty(ids: DataFrame, property: String, value: Column): QueryStats =
    setNodeProperties(ids.select(col("id"), value.as("newval")), property)

  /** DELETE nodes; `detach` also removes incident edges, otherwise edges
    * referencing the victims must not exist (Neo4j semantics).
    */
  def deleteNodes(ids: DataFrame, detach: Boolean): QueryStats = synchronized {
    val g = current
    val victims = ids.select("id").transform(GraphStore.pin)
    val v = victims.withColumnRenamed("id", "vid")
    val incidentCond = col("src") === col("vid") || col("dst") === col("vid")
    val bs = nodeSide.ensure()
    val touched = touchedBuckets(victims, bs.size)
    val nDel = prunedUnion(bs, touched).join(victims, Seq("id"), "left_semi").count()
    // nothing matches: no incident validation, no rewrite, no commit —
    // the upsert pattern (DELETE id; CREATE id) pays one pruned read on
    // the usually-absent id, never a full edge scan
    if (nDel == 0) return QueryStats()
    if (!detach) {
      // edges carry their own `id` column — alias the victim ids
      val incident = g.edges.join(v, incidentCond, "left_semi").count()
      require(incident == 0, s"cannot delete nodes with $incident incident edge(s); use DETACH DELETE")
    }
    val nb = nodeSide.rewrite(touched)((_, df) =>
      df.join(victims, Seq("id"), "left_anti"))
    // detach: the incident scan is one pass on src/dst (no id-pruning
    // possible there), but the edge REWRITE keys on the found edge ids —
    // so only the buckets holding deleted edges rewrite
    val edgeVictims =
      if (detach)
        Some(g.edges.join(v, incidentCond, "left_semi").select("id")
          .transform(GraphStore.pin))
      else None
    val eDel = edgeVictims.map(_.count()).getOrElse(0L)
    val newEdgesFrame = edgeVictims match {
      case Some(ev) if eDel > 0 =>
        val ebs = edgeSide.ensure()
        val tE = touchedBuckets(ev, ebs.size)
        unionAll(edgeSide.rewrite(tE)((_, df) =>
          df.join(ev, Seq("id"), "left_anti")))
      case _ => g.edges
    }
    // detach always logs the edge-delete part (possibly empty) — the WAL
    // commit shape a replayer and the byte-bound spec rely on
    val parts = Map("nodes_deletes" -> victims) ++
      edgeVictims.map(ev => Map("edges_deletes" -> ev)).getOrElse(Map.empty)
    swap(PropertyGraph(unionAll(nb), newEdgesFrame), parts)
    emitIds("node_deleted", victims)
    parts.get("edges_deletes").foreach(emitIds("rel_deleted", _))
    QueryStats(nodesDeleted = nDel, relationshipsDeleted = eDel)
  }

  /** Copy-on-write keyed rewrite: apply `transform` to exactly the rows
    * whose id appears in `ids` (it receives ONLY the matched rows and
    * must return the same schema without changing ids), leaving every
    * other row — and every untouched bucket's materialized blocks —
    * untouched. The anonymize-class operation (db_admin.go:1390-1439)
    * rides this instead of a wholesale frame replace.
    */
  def updateNodes(ids: DataFrame)(transform: DataFrame => DataFrame): QueryStats = synchronized {
    val g = current
    val keys = ids.select("id").transform(GraphStore.pin)
    val bs = nodeSide.ensure()
    val touched = touchedBuckets(keys, bs.size)
    val nb = nodeSide.rewrite(touched)((_, df) =>
      transform(df.join(keys, Seq("id"), "left_semi"))
        .unionByName(df.join(keys, Seq("id"), "left_anti")))
    val touchedRows = prunedUnion(nb, touched).join(keys, Seq("id"), "left_semi")
    val n = keys.count()
    swap(PropertyGraph(unionAll(nb), g.edges),
      Map("nodes_upserts" -> touchedRows))
    emitNodes("node_updated", touchedRows)
    QueryStats(propertiesSet = n)
  }

  /** Delete relationships by edge id — the keyed copy-on-write path (the
    * GraphQL deleteRelationship mutation and friends), rewriting only the
    * buckets holding the victims.
    */
  def deleteEdges(ids: DataFrame): QueryStats = synchronized {
    val g = current
    val victims = ids.select("id").transform(GraphStore.pin)
    val ebs = edgeSide.ensure()
    val touched = touchedBuckets(victims, ebs.size)
    val eDel = prunedUnion(ebs, touched).join(victims, Seq("id"), "left_semi").count()
    if (eDel == 0) return QueryStats() // nothing matched: no rewrite, no commit
    val nb = edgeSide.rewrite(touched)((_, df) =>
      df.join(victims, Seq("id"), "left_anti"))
    swap(PropertyGraph(g.nodes, unionAll(nb)), Map("edges_deletes" -> victims))
    emitIds("rel_deleted", victims)
    QueryStats(relationshipsDeleted = eDel)
  }

  /** SET a relationship property for matching edge ids: `weight` is a
    * hoisted column, everything else lives in the string property map.
    */
  def setEdgeProperty(ids: DataFrame, key: String, value: Column): QueryStats = synchronized {
    val g = current
    val keys = ids.select(col("id")).transform(GraphStore.pin)
    val marked = keys.withColumn("_hit", lit(true))
    val ebs = edgeSide.ensure()
    val touched = touchedBuckets(keys, ebs.size)
    def transform(bucket: DataFrame): DataFrame = {
      val joined = bucket.join(marked, Seq("id"), "left_outer")
      if (key == "weight")
        joined.withColumn("weight",
          when(col("_hit"), value.cast("double")).otherwise(col("weight"))).drop("_hit")
      else
        joined.withColumn("properties",
          when(col("_hit"),
            map_concat(
              map_filter(col("properties"), (k, _) => k =!= key),
              map(lit(key), value.cast("string"))))
            .otherwise(col("properties"))).drop("_hit")
    }
    val nb = edgeSide.rewrite(touched)((_, df) => transform(df))
    val touchedRows = prunedUnion(nb, touched).join(keys, Seq("id"), "left_semi")
    val n = keys.count()
    swap(PropertyGraph(g.nodes, unionAll(nb)),
      Map("edges_upserts" -> touchedRows))
    emitEdges("rel_updated", touchedRows)
    QueryStats(propertiesSet = n)
  }

  /** Replace the node set wholesale (label rewrites — apoc.label.add/
    * remove/replace mutate the labels array per node).
    */
  def replaceNodes(nodes: DataFrame): Unit = synchronized {
    // refactor ops rewrite the frame wholesale by design → rewrite commit
    nodeSide.invalidate()
    swap(PropertyGraph(nodes, current.edges), Map("nodes_rewrite" -> nodes))
  }

  /** Replace the edge set wholesale (apoc.refactor rel rewrites: rename
    * type, invert, redirect).
    */
  def replaceEdges(edges: DataFrame): Unit = synchronized {
    edgeSide.invalidate()
    swap(PropertyGraph(current.nodes, edges), Map("edges_rewrite" -> edges))
  }

  /** Replace both sides in one version (refactor operations that rewrite
    * nodes and their incident edges together).
    */
  def replaceGraph(g: PropertyGraph): Unit = synchronized {
    nodeSide.invalidate()
    edgeSide.invalidate()
    swap(g, Map("nodes_rewrite" -> g.nodes, "edges_rewrite" -> g.edges))
  }

  /** CREATE relationships — routed to their id-hash buckets. */
  def createEdges(newEdges: DataFrame): QueryStats = synchronized {
    val g = current
    val ne = newEdges.transform(GraphStore.pin)
    val n = ne.count()
    checkEdgeLimit(g, n)
    val ebs = edgeSide.ensure()
    val touched = touchedBuckets(ne, ebs.size)
    val neA = edgeSide.conformInsert(ne)
    val nb = edgeSide.rewrite(touched)((b, df) =>
      df.unionByName(neA.filter(bucketColFor(ebs.size)(col("id")) === b)))
    swap(PropertyGraph(g.nodes, unionAll(nb)),
      Map("edges_upserts" -> neA))
    emitEdges("rel_created", neA)
    QueryStats(relationshipsCreated = n)
  }

  // =====================================================================
  // Named per-entity embeddings (the reference's NamedEmbeddings
  // map[string][]float32 on nodes/edges, `pkg/storage/types.go:196`,
  // written via db.create.setNodeVectorProperty, `call.go:747-768`).
  // Columnar analog: one (entity_id, name, embedding) side table per
  // entity kind — at 100 TB a bucketed-by-id parquet table, so the
  // vector-index scan over ($label, $name) is one partition-pruned read,
  // never a per-node map lookup.
  // =====================================================================

  @volatile private var nodeEmbs: Option[DataFrame] = None
  @volatile private var relEmbs: Option[DataFrame] = None
  private var embWrites: Long = 0

  private def emptyEmb: DataFrame = {
    val spark = current.nodes.sparkSession
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("entity_id", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))))
  }

  def nodeEmbeddings: DataFrame = nodeEmbs.getOrElse(emptyEmb)
  def relEmbeddings: DataFrame = relEmbs.getOrElse(emptyEmb)

  /** Upsert a batch of (entity_id, name, embedding) rows — anti-join out
    * the overwritten keys, union the new rows. Lineage is bounded the
    * same way [[swap]] bounds the snapshot's: every few writes the table
    * is materialized (a Delta-style commit at scale).
    */
  private def upsertEmb(cur: DataFrame, rows: DataFrame): DataFrame = synchronized {
    embWrites += 1
    val next = cur.join(rows.select("entity_id", "name"), Seq("entity_id", "name"),
        "left_anti")
      .unionByName(rows)
    if (embWrites % 6 == 0) next.transform(GraphStore.pin) else next
  }

  // read + upsert + assign under ONE monitor (upsertEmb's synchronized is
  // reentrant here): two concurrent writers must not both read the same
  // base frame and silently drop one upsert
  def setNodeVectorProperties(rows: DataFrame): Unit = synchronized {
    nodeEmbs = Some(upsertEmb(nodeEmbeddings, rows))
    wal.foreach { w =>
      versionCounter += 1
      w.commitDelta(versionCounter, Map("node_embeddings_upserts" -> rows))
    }
  }
  def setRelationshipVectorProperties(rows: DataFrame): Unit = synchronized {
    relEmbs = Some(upsertEmb(relEmbeddings, rows))
    wal.foreach { w =>
      versionCounter += 1
      w.commitDelta(versionCounter, Map("rel_embeddings_upserts" -> rows))
    }
  }

  /** Remove the named embeddings for the given entities (Qdrant
    * DeleteVectors; the embedding-side complement of node deletion).
    * WAL delta = just the (entity_id, name) keys.
    */
  def deleteNodeEmbeddings(entityIds: Seq[String],
      name: String = "embedding"): Unit = synchronized {
    if (entityIds.isEmpty) return
    val spark = current.nodes.sparkSession
    import spark.implicits._
    val keys = entityIds.map(id => (id, name)).toDF("entity_id", "name")
      .transform(GraphStore.pin)
    nodeEmbs = Some(nodeEmbeddings
      .join(keys, Seq("entity_id", "name"), "left_anti").transform(GraphStore.pin))
    wal.foreach { w =>
      versionCounter += 1
      w.commitDelta(versionCounter, Map("node_embeddings_deletes" -> keys))
    }
  }

  /** Drop EVERY node embedding under `name` — the reference's
    * ClearAllEmbeddings behind `/nornicdb/embed/clear`
    * (`pkg/server/server_nornicdb.go:158-177`): returns how many entities
    * lost their vector so the caller can report it. Distributed: the keys
    * frame is derived by filter, never an id collect.
    */
  def clearNodeEmbeddings(name: String = "embedding"): Long = synchronized {
    import org.apache.spark.sql.functions.col
    val cur = nodeEmbeddings
    val keys = cur.filter(col("name") === name)
      .select("entity_id", "name").transform(GraphStore.pin)
    val cleared = keys.select("entity_id").distinct().count()
    if (cleared == 0) return 0L
    nodeEmbs = Some(cur.filter(col("name") =!= name).transform(GraphStore.pin))
    wal.foreach { w =>
      versionCounter += 1
      w.commitDelta(versionCounter, Map("node_embeddings_deletes" -> keys))
    }
    cleared
  }

  /** db.create.setNodeVectorProperty point write. */
  def setNodeVectorProperty(nodeId: String, name: String, vec: Seq[Double]): Unit = {
    val spark = current.nodes.sparkSession
    import org.apache.spark.sql.functions.{array, lit}
    setNodeVectorProperties(spark.range(1).select(
      lit(nodeId).as("entity_id"), lit(name).as("name"),
      array(vec.map(lit(_)): _*).as("embedding")))
  }

  def setRelationshipVectorProperty(relId: String, name: String, vec: Seq[Double]): Unit = {
    val spark = current.nodes.sparkSession
    import org.apache.spark.sql.functions.{array, lit}
    setRelationshipVectorProperties(spark.range(1).select(
      lit(relId).as("entity_id"), lit(name).as("name"),
      array(vec.map(lit(_)): _*).as("embedding")))
  }

  /** Durable snapshot write-back — the Spark-native form of the
    * reference's WAL + snapshot persistence (`pkg/storage/
    * wal_engine.go:28-45`): the current version's nodes/edges and both
    * named-embedding side tables are committed as Parquet under `dir`,
    * and [[GraphStore.load]] reopens them in a fresh session. This is a
    * FULL snapshot commit — the one-shot export path; for per-statement
    * incremental durability construct the store with a `walDir` (see
    * [[DeltaLog]]: delta commits + periodic checkpoints, so a one-row SET
    * writes one row, not the store). At 100 TB either path writes
    * partitioned Parquet through the cluster writers — no driver collect
    * anywhere.
    */
  def persist(dir: String): Unit = {
    val g = current
    g.nodes.write.mode("overwrite").parquet(s"$dir/nodes")
    g.edges.write.mode("overwrite").parquet(s"$dir/edges")
    nodeEmbeddings.write.mode("overwrite").parquet(s"$dir/node_embeddings")
    relEmbeddings.write.mode("overwrite").parquet(s"$dir/rel_embeddings")
  }
}
