package graft.graph

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  /** Lineage-bounding pin for every base frame the store keeps.
    *
    * Default: `localCheckpoint` — executor-resident pinned blocks, the
    * fast local-mode choice, but explicitly NOT fault-tolerant: lose an
    * executor (or, in local mode, hit one task OOM) and the pinned blocks
    * are unrecoverable — the round-11 sf3 probe's `"localCheckpoint"
    * action failed` cascade was exactly this.
    *
    * With `spark.graft.checkpointDir` set, frames pin through RELIABLE
    * `checkpoint()` into that directory instead: a scale/production
    * store then survives executor loss mid-session (pair with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so
    * superseded checkpoint files are reaped as their frames are GC'd).
    * `eager = false` defers the pin to the first job that reads the frame.
    */
  private[graft] def pin(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (!sc.getCheckpointDir.exists(_.contains(dir))) sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
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

  private val IdKey = Seq("id")
  private val EmbKey = Seq("entity_id", "name")

  private val EmbSchema = StructType(Seq(
    StructField("entity_id", StringType),
    StructField("name", StringType),
    StructField("embedding", ArrayType(DoubleType))))

  private def embRows(spark: SparkSession, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, EmbSchema)

  /** Restore a store from a [[GraphStore.persist]] directory — the read
    * side of the reference's snapshot recovery (`pkg/storage/
    * wal_engine.go:28-45` loads WAL + snapshot on open). Embedding side
    * tables are optional so pre-persist directories stay readable.
    */
  def load(spark: SparkSession, dir: String,
      registerGlobal: Boolean = true): GraphStore = {
    val store = new GraphStore(PropertyGraph(
      spark.read.parquet(s"$dir/nodes"),
      spark.read.parquet(s"$dir/edges")), registerGlobal)
    def opt(p: String): Option[DataFrame] =
      if (new java.io.File(s"$dir/$p").exists())
        Some(spark.read.parquet(s"$dir/$p")) else None
    val t = store.tables
    store.tables = t.copy(
      nodeEmb = opt("node_embeddings").map(Overlay.of(_, EmbKey)).getOrElse(t.nodeEmb),
      relEmb = opt("rel_embeddings").map(Overlay.of(_, EmbKey)).getOrElse(t.relEmb))
    store
  }

  /** Reopen a WAL-backed store: newest checkpoint + delta-tail replay
    * (`pkg/storage/wal_engine.go:28-45`'s recovery path). The replayed
    * tables are pinned and counted once here; the returned store keeps
    * logging to the same WAL, continuing the version sequence.
    */
  def loadWal(spark: SparkSession, dir: String,
      registerGlobal: Boolean = true, compactEvery: Int = 8): GraphStore = {
    val replayed = new DeltaLog(spark, dir).replay()
    val t = Tables(Overlay.pinned(replayed.graph.nodes, IdKey),
      Overlay.pinned(replayed.graph.edges, IdKey),
      Overlay.pinned(replayed.nodeEmb, EmbKey), Overlay.pinned(replayed.relEmb, EmbKey))
    Seq(t.nodes, t.edges, t.nodeEmb, t.relEmb).foreach(_.base.counts)
    val store = new GraphStore(PropertyGraph(t.nodes.frame, t.edges.frame),
      registerGlobal, walDir = Some(dir), compactEvery = compactEvery)
    store.tables = t
    store.versionCounter = replayed.version
    store
  }

  /** The four keyed tables of one version. */
  private final case class Tables(nodes: Overlay, edges: Overlay,
      nodeEmb: Overlay, relEmb: Overlay) {
    def zip(o: Tables)(f: (Overlay, Overlay) => Overlay): Tables =
      Tables(f(nodes, o.nodes), f(edges, o.edges), f(nodeEmb, o.nodeEmb), f(relEmb, o.relEmb))
  }

  /** A batch applied to one table, not yet committed: the table after it
    * (built on first use), the rows it wrote (WAL part, change feed), the
    * keys it names, how many the table held, and — for an insert — which.
    */
  private final class Applied(next0: => Overlay, val written: DataFrame,
      val n: Long, val present: Long, val matched: DataFrame = null) {
    lazy val next: Overlay = next0
  }
}

/** Mutation layer (SURVEY §2.8): CREATE / MERGE / SET / REMOVE / DELETE
  * over versioned snapshots, the analog of the reference's WAL-backed row
  * stores (`pkg/cypher/create.go`, `merge.go`, `pkg/storage/wal_engine.go`).
  *
  * Each keyed table — nodes, edges and the two embedding side tables — is
  * an [[Overlay]]: a pinned base plus a small driver-resident delta. A
  * point write collects its touched rows (at most [[Overlay.FoldRows]]),
  * merges them into the delta, writes its WAL part from those same rows
  * and swaps in the new version: O(changed rows) whatever the store's
  * size. Readers keep the version they started with (statement-level
  * snapshot isolation, the transaction.go analog).
  *
  * A FOLD makes a table's read frame its new base: pinned when its delta
  * passes the bound, at once for a larger batch, and on the first write
  * to a frame the caller handed over; at each WAL checkpoint the written
  * checkpoint files become every table's base, so a logging store keeps
  * no second copy of its tables in block storage. The store drops the old
  * base; Spark's cleaner unpersists it once no reader's snapshot holds it
  * (an explicit unpersist would break a reader still holding one). Row
  * counts move with every commit, so [[nodeCount]] and friends run no job.
  */
final class GraphStore(initial: PropertyGraph, registerGlobal: Boolean = true,
    walDir: Option[String] = None, compactEvery: Int = 8) {
  import GraphStore.{Applied, EmbKey, IdKey, Tables}

  // transaction-private stores must NOT hijack the global registry
  if (registerGlobal) GraphStore.registerCurrent(this)

  case class QueryStats(
      nodesCreated: Long = 0, nodesDeleted: Long = 0,
      relationshipsCreated: Long = 0, relationshipsDeleted: Long = 0,
      propertiesSet: Long = 0)

  // a val: a method reading `initial` would keep the first frames alive
  private val spark: SparkSession = initial.nodes.sparkSession

  @volatile private var tables: Tables = Tables(
    Overlay.of(initial.nodes, IdKey), Overlay.of(initial.edges, IdKey),
    Overlay.of(GraphStore.embRows(spark), EmbKey),
    Overlay.of(GraphStore.embRows(spark), EmbKey))
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

  private def checkLimit(t: Overlay, adding: Long, max: Long, what: String): Unit =
    if (max > 0) {
      val cur = t.count()
      if (cur + adding > max) throw new IllegalStateException(
        s"storage limit exceeded: database '$limitDb' has reached " +
          s"max_$what limit ($cur/$max)")
    }

  /** Incremental commit log (None = in-memory-only store). When present,
    * every mutation appends a delta commit of ONLY its touched rows and a
    * checkpoint is written every `compactEvery` deltas — the reference's
    * WAL+snapshot+compaction (`pkg/storage/wal_engine.go:28-45`), so a
    * single-property SET never rewrites the store on disk.
    */
  private val wal: Option[DeltaLog] = walDir.map(d => new DeltaLog(spark, d))
  // a fresh WAL dir starts with checkpoint v0 of the initial graph so
  // replay always has a base (recovery never needs out-of-band state)
  wal.foreach { w =>
    if (w.latestVersion < 0)
      w.commitCheckpoint(0L, initial, nodeEmbeddings, relEmbeddings)
  }

  def snapshot: PropertyGraph = current
  def version: Long = versionCounter

  /** Rows of the current version, kept at commit time: no Spark job once
    * each table's base is counted (at a WAL replay, else on first demand).
    */
  def nodeCount: Long = tables.nodes.count()
  def edgeCount: Long = tables.edges.count()
  /** Nodes holding an embedding named `name` (the status surfaces'
    * "embedded" figure).
    */
  def embeddedNodeCount(name: String = "embedding"): Long = tables.nodeEmb.count(name)

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

  // ========================================================== commit =====

  /** Commit `next` as the next version. Writers serialize per store:
    * every public mutation holds the store monitor for its whole body, so
    * no commit is built on tables another writer has since replaced.
    * Readers never lock. Every `compactEvery` deltas a checkpoint writes
    * the tables and they rebase on its files; then a table past the bound
    * folds, as does a written table whose base the caller handed over.
    */
  private def commit(next: Tables, parts: Map[String, DataFrame]): Unit = {
    val prev = tables
    versionCounter += 1
    var t = next
    wal.foreach { w =>
      if (parts.nonEmpty) w.commitDelta(versionCounter, parts)
      if (w.deltasSinceCheckpoint >= compactEvery) {
        versionCounter += 1
        val v = versionCounter
        w.commitCheckpoint(v, PropertyGraph(t.nodes.frame, t.edges.frame),
          t.nodeEmb.frame, t.relEmb.frame)
        def reread(o: Overlay, table: String) =
          o.rebase(w.checkpointTable(v, table, Overlay.nullable(o.schema)))
        t = Tables(reread(t.nodes, "nodes"), reread(t.edges, "edges"),
          reread(t.nodeEmb, "node_embeddings"), reread(t.relEmb, "rel_embeddings"))
      }
    }
    t = t.zip(prev)((o, p) =>
      if (o.size > Overlay.FoldRows || ((o ne p) && !o.base.pinned)) o.fold() else o)
    tables = t
    if ((t.nodes ne prev.nodes) || (t.edges ne prev.edges))
      current = PropertyGraph(t.nodes.frame, t.edges.frame)
  }

  // ==================================================== batch helpers =====

  /** Insert-or-replace `batch` into `t` by key; `keepPresent = false`
    * leaves out keys the table holds (MERGE). A batch of at most
    * [[Overlay.FoldRows]] rows goes to the delta after one point probe.
    */
  private def put(t0: Overlay, batch: DataFrame, keepPresent: Boolean = true): Applied = {
    val (t, b) = t0.conform(batch)
    Overlay.small(b) match {
      case Some(rs0) =>
        val rs = rs0.distinctBy(t.key)
        val found = t.lookup(rs.map(t.key)).keySet
        val kept = if (keepPresent) rs else rs.filterNot(r => found(t.key(r)))
        new Applied(t.upsert(kept, found), t.local(kept), kept.size, found.size,
          keyFrame(t, found))
      case None =>
        val keys = t.keyCols.map(col)
        val keyed = GraphStore.pin(b.dropDuplicates(t.keyCols))
        val marked = keyed.join(t.frame.select(keys :+ lit(true).as("_present"): _*),
          t.keyCols, "left_outer")
        val c = marked.agg(count(lit(1)), count(col("_present"))).collect().head
        val (all, present) = (c.getLong(0), c.getLong(1))
        val kept =
          if (keepPresent) keyed
          else GraphStore.pin(marked.filter(col("_present").isNull).drop("_present"))
        new Applied(Overlay.pinned(t.frame.join(kept.select(keys: _*), t.keyCols, "left_anti")
            .unionByName(kept), t.keyCols),
          kept, if (keepPresent) all else all - present, present,
          marked.filter(col("_present").isNotNull).select(keys: _*))
    }
  }

  /** Rewrite the current rows named by `updates` (key plus payload
    * columns): `f` gets those rows joined with their payload and returns
    * them with unchanged keys. `n` counts every distinct key of `updates`.
    */
  private def rewrite(t: Overlay, updates: DataFrame)(f: DataFrame => DataFrame): Applied = {
    val payload = updates.schema.fields.filterNot(p => t.keyCols.contains(p.name))
    def finish(df: DataFrame): DataFrame = f(df).select(t.schema.fieldNames.map(col).toSeq: _*)
    Overlay.small(updates) match {
      case Some(us0) =>
        val kIdx = t.keyCols.map(updates.schema.fieldIndex)
        val pIdx = payload.map(p => updates.schema.fieldIndex(p.name))
        val us = us0.distinctBy(u => kIdx.map(u.getString))
        val cur = t.lookup(us.map(u => kIdx.map(u.getString)))
        val joined = us.flatMap(u => cur.get(kIdx.map(u.getString))
          .map(r => Row.fromSeq(r.toSeq ++ pIdx.map(u.get))))
        // a projection over a local relation: Catalyst evaluates it while
        // optimizing, so this collect runs no job
        val out = finish(spark.createDataFrame(joined.asJava,
          Overlay.nullable(StructType(t.schema.fields ++ payload)))).collect().toSeq
        new Applied(t.upsert(out, _ => true), t.local(out), us.size, cur.size)
      case None =>
        val u = GraphStore.pin(updates.dropDuplicates(t.keyCols))
        val out = GraphStore.pin(finish(t.frame.join(u, t.keyCols)))
        val n = u.count()
        new Applied(Overlay.pinned(t.frame.join(u.select(t.keyCols.map(col): _*),
          t.keyCols, "left_anti").unionByName(out), t.keyCols), out, n, n)
    }
  }

  /** Delete the rows named by `keys` (a frame of the key columns); `n`
    * counts the rows that existed.
    */
  private def drop(t: Overlay, keys: DataFrame): Applied =
    Overlay.small(keys) match {
      case Some(ks0) =>
        val ks = ks0.map(r => t.keyCols.indices.map(r.getString)).distinct
        val found = t.lookup(ks).keySet
        new Applied(t.delete(ks, found), keyFrame(t, ks), found.size, found.size)
      case None =>
        val k = GraphStore.pin(keys.dropDuplicates())
        val n = t.frame.join(k, t.keyCols, "left_semi").count()
        new Applied(Overlay.pinned(t.frame.join(k, t.keyCols, "left_anti"), t.keyCols),
          k, n, n)
    }

  /** `ks` as a local frame of `t`'s key columns (a WAL delete part). */
  private def keyFrame(t: Overlay, ks: Iterable[Seq[String]]): DataFrame =
    spark.createDataFrame(ks.map(Row.fromSeq).toSeq.asJava,
      StructType(t.keyCols.map(StructField(_, StringType))))

  // ==================================================== transactions =====

  /** Optimistic explicit transaction (§2.9 `transaction.go`): `f` runs
    * against a PRIVATE store seeded as an overlay on the same bases; its
    * writes become visible in ONE atomic swap at commit, and only if no
    * other writer committed meanwhile (first-committer-wins). The commit
    * logs the transaction's net delta as one upsert/delete delta commit
    * (a table the transaction folded logs a rewrite). An exception in `f`
    * rolls back by simply discarding the private store.
    */
  def transaction[T](f: GraphStore => T): T = {
    // version and tables read together: a commit bumps the counter
    // before it installs the tables
    val (baseVersion, seed, seedGraph) = synchronized((versionCounter, tables, current))
    val tx = new GraphStore(seedGraph, registerGlobal = false)
    tx.tables = seed
    GraphStore.inTx.set(tx)
    val out =
      try f(tx) // throw → nothing swapped (rollback)
      finally GraphStore.inTx.remove()
    synchronized {
      require(versionCounter == baseVersion,
        "transaction conflict: the store changed underneath; rolled back")
      val end = tx.tables
      val parts =
        netDelta(seed.nodes, end.nodes, "nodes", rewrite = true) ++
          netDelta(seed.edges, end.edges, "edges", rewrite = true) ++
          netDelta(seed.nodeEmb, end.nodeEmb, "node_embeddings", rewrite = false) ++
          netDelta(seed.relEmb, end.relEmb, "rel_embeddings", rewrite = false)
      if (parts.nonEmpty || (end ne seed)) commit(end, parts)
    }
    out
  }

  /** WAL parts taking table `a` to `b`: on one base, the changed delta
    * rows and the keys that left; across a fold, a `_rewrite` (or, for an
    * embedding table, the keys that left plus every row).
    */
  private def netDelta(a: Overlay, b: Overlay, name: String,
      rewrite: Boolean): Map[String, DataFrame] =
    if (a eq b) Map.empty
    else if (a.base eq b.base) {
      val ups = b.rows.filter { case (k, r) => !a.rows.get(k).contains(r) }
      // keys the transaction removed: hidden now, and not already hidden
      // (or never there) at the start
      val dels = (a.rows.keySet ++ b.shadow).filter(k =>
        !b.rows.contains(k) && !(a.shadow(k) && !a.rows.contains(k)))
      (if (ups.nonEmpty) Map(s"${name}_upserts" -> b.local(ups.values))
      else Map.empty[String, DataFrame]) ++
        (if (dels.nonEmpty) Map(s"${name}_deletes" -> keyFrame(b, dels)) else Map.empty)
    } else if (rewrite) Map(s"${name}_rewrite" -> b.frame)
    else {
      val keys = a.keyCols.map(col)
      Map(s"${name}_deletes" -> a.frame.select(keys: _*)
          .join(b.frame.select(keys: _*), a.keyCols, "left_anti"),
        s"${name}_upserts" -> b.frame)
    }

  // ===================================================== node writes =====

  /** Enforce catalog unique constraints against rows about to be added
    * (`pkg/storage/constraint_validation.go` analog): no duplicate values
    * within the new rows, no clashes with existing nodes of the label.
    * `replacedIds`: for keyed upserts, the rows being REPLACED — they must
    * not count as clashes, or re-upserting an existing row with an
    * unchanged constrained property would always refuse (round-11 ADVICE:
    * recordConsent re-recording consent under a Consent constraint).
    */
  private def enforceUnique(nodes: DataFrame, newNodes: DataFrame,
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
      val labeled = nodes.filter(array_contains(col("labels"), c.label))
      val existing = replacedIds.fold(labeled)(ids =>
        labeled.join(ids.select("id"), Seq("id"), "left_anti"))
      val clash = fresh.join(existing.select(valueOf(existing).as("v")), Seq("v"), "left_semi")
        .limit(1).count()
      require(clash == 0,
        s"unique constraint ${c.name} (${c.label}.${c.properties.mkString(",")}) violated: value already exists")
    }

  /** CREATE nodes (duplicate-id rows rejected — unique-id constraint,
    * `pkg/storage/constraint_validation.go` analog). The duplicate check
    * reads the delta, then one point probe on the base.
    */
  def createNodes(newNodes: DataFrame): QueryStats = synchronized {
    val t = tables
    val a = put(t.nodes, newNodes)
    require(a.present == 0, s"unique-id constraint violated for ${a.present} node(s)")
    enforceUnique(t.nodes.frame, a.written)
    checkLimit(t.nodes, a.n, maxNodes, "nodes")
    commit(t.copy(nodes = a.next), Map("nodes_upserts" -> a.written))
    emitNodes("node_created", a.written)
    QueryStats(nodesCreated = a.n)
  }

  /** Keyed REPLACE-or-INSERT: each row lands under its id, replacing any
    * existing row wholesale — the reference's consent-ledger upsert shape
    * (db_privacy.go:38-106 RecordConsent). ONE probe and one commit, where
    * delete-then-create pays two of each for the same net effect.
    * Replaced rows don't clash with unique constraints and don't count
    * toward max_nodes (a pure replace at the boundary must not refuse —
    * round-11 ADVICE).
    */
  def upsertNodes(rows: DataFrame): QueryStats = synchronized {
    val t = tables
    val a = put(t.nodes, rows)
    enforceUnique(t.nodes.frame, a.written, replacedIds = Some(a.written))
    checkLimit(t.nodes, a.n - a.present, maxNodes, "nodes")
    commit(t.copy(nodes = a.next), Map("nodes_upserts" -> a.written))
    emitNodes("node_updated", a.written)
    QueryStats(propertiesSet = a.n)
  }

  /** MERGE nodes by id: insert the ones that do not exist (ON CREATE);
    * existing ones are left untouched (no ON MATCH SET here).
    */
  def mergeNodes(candidates: DataFrame): QueryStats = mergeNodesReporting(candidates)._1

  /** [[mergeNodes]], also returning the ids it created and the candidate
    * ids that already existed — MERGE's ON CREATE and ON MATCH targets.
    */
  def mergeNodesReporting(candidates: DataFrame)
      : (QueryStats, DataFrame, DataFrame) = synchronized {
    val t = tables
    val a = put(t.nodes, candidates, keepPresent = false)
    enforceUnique(t.nodes.frame, a.written)
    checkLimit(t.nodes, a.n, maxNodes, "nodes")
    if (a.n > 0) {
      commit(t.copy(nodes = a.next), Map("nodes_upserts" -> a.written))
      emitNodes("node_created", a.written)
    }
    (QueryStats(nodesCreated = a.n), a.written.select("id"), a.matched)
  }

  /** The current rows of the node ids in `ids` — driver-resident (no job
    * after a probe of the same ids) when they are few.
    */
  def nodesById(ids: DataFrame): DataFrame = {
    val t = tables
    Overlay.small(ids.select(col("id").cast("string"))) match {
      case Some(rs) => t.nodes.local(t.nodes.lookup(rs.map(r => Seq(r.getString(0)))).values)
      case None => t.nodes.frame.join(ids.select("id"), Seq("id"), "left_semi")
    }
  }

  /** SET a property to per-row values: `updates` = (id, newval). Hoisted
    * properties update their typed column; EVERY property (hoisted or not)
    * is kept in sync in the string property map — Neo4j properties are
    * schema-free, so a SET on a never-hoisted key lands in the map alone
    * (a null newval removes the key, REMOVE semantics).
    */
  def setNodeProperties(updates: DataFrame, property: String): QueryStats = synchronized {
    val t = tables
    val a = rewrite(t.nodes, updates.select(col("id").cast("string").as("id"), col("newval"))) { df =>
      val withCol =
        if (df.columns.contains(property))
          df.withColumn(property, col("newval").cast(df.schema(property).dataType))
        else df
      val kept = map_filter(col("properties"), (k, _) => k =!= property)
      withCol.withColumn("properties",
        when(col("newval").isNotNull,
          map_concat(kept, map(lit(property), col("newval").cast("string"))))
          .otherwise(kept))
    }
    commit(t.copy(nodes = a.next), Map("nodes_upserts" -> a.written))
    emitNodes("node_updated", a.written)
    QueryStats(propertiesSet = a.n)
  }

  /** SET a property to ONE value for matching node ids (same hoisted-or-
    * map contract as [[setNodeProperties]]).
    */
  def setNodeProperty(ids: DataFrame, property: String, value: Column): QueryStats =
    setNodeProperties(ids.select(col("id"), value.as("newval")), property)

  /** DELETE nodes; `detach` also removes incident edges, otherwise edges
    * referencing the victims must not exist (Neo4j semantics). For a few
    * victims the node probe and the incident-edge probe run as one job.
    */
  def deleteNodes(ids: DataFrame, detach: Boolean): QueryStats = synchronized {
    val t = tables
    val victims = ids.select(col("id").cast("string").as("id"))
    val few = Overlay.small(victims).map(_.map(_.getString(0)).distinct).flatMap { vs =>
      val keys = vs.map(Seq(_))
      val Seq(nodeHits, edgeHits) = Overlay.probeIds(Seq(
        t.nodes.baseWhere(Overlay.keyIn(IdKey, keys.filterNot(t.nodes.inDelta))),
        t.edges.baseWhere(col("src").isin(vs: _*) || col("dst").isin(vs: _*))))
      edgeHits.map { eh =>
        val v = vs.toSet
        val (src, dst) = (t.edges.schema.fieldIndex("src"), t.edges.schema.fieldIndex("dst"))
        val found = keys.filter(t.nodes.rows.contains) ++ nodeHits.get.map(Seq(_))
        val incident = eh.map(Seq(_)) ++ t.edges.rows.collect {
          case (k, r) if v(r.getString(src)) || v(r.getString(dst)) => k }
        (new Applied(t.nodes.delete(keys, found.toSet), keyFrame(t.nodes, keys),
            found.size, found.size),
          new Applied(t.edges.delete(incident, _ => true), keyFrame(t.edges, incident),
            incident.size, incident.size))
      }
    }
    val (n, e) = few.getOrElse {
      val n = drop(t.nodes, victims)
      val v = n.written.withColumnRenamed("id", "vid")
      val incident = GraphStore.pin(t.edges.frame
        .join(v, col("src") === col("vid") || col("dst") === col("vid"), "left_semi")
        .select("id"))
      (n, drop(t.edges, incident))
    }
    // nothing matches: no incident validation, no commit — the upsert
    // pattern (DELETE id; CREATE id) pays one probe on the usually-absent id
    if (n.n == 0) return QueryStats()
    require(detach || e.n == 0,
      s"cannot delete nodes with ${e.n} incident edge(s); use DETACH DELETE")
    // detach always logs the edge-delete part (possibly empty) — the WAL
    // commit shape a replayer and the byte-bound spec rely on
    val parts = Map("nodes_deletes" -> n.written) ++
      (if (detach) Map("edges_deletes" -> e.written) else Map.empty)
    commit(t.copy(nodes = n.next, edges = if (e.n > 0) e.next else t.edges), parts)
    emitIds("node_deleted", n.written)
    if (detach) emitIds("rel_deleted", e.written)
    QueryStats(nodesDeleted = n.n, relationshipsDeleted = e.n)
  }

  /** Keyed rewrite: apply `transform` to exactly the rows whose id
    * appears in `ids` (it receives ONLY the matched rows and must return
    * the same schema without changing ids), leaving every other row
    * untouched. The anonymize-class operation (db_admin.go:1390-1439)
    * rides this instead of a wholesale frame replace.
    */
  def updateNodes(ids: DataFrame)(transform: DataFrame => DataFrame): QueryStats = synchronized {
    val t = tables
    val a = rewrite(t.nodes, ids.select(col("id").cast("string").as("id")))(transform)
    commit(t.copy(nodes = a.next), Map("nodes_upserts" -> a.written))
    emitNodes("node_updated", a.written)
    QueryStats(propertiesSet = a.n)
  }

  /** Replace the node set wholesale (label rewrites — apoc.label.add/
    * remove/replace mutate the labels array per node).
    */
  def replaceNodes(nodes: DataFrame): Unit = replace(Some(nodes), None)

  /** Replace the edge set wholesale (apoc.refactor rel rewrites: rename
    * type, invert, redirect).
    */
  def replaceEdges(edges: DataFrame): Unit = replace(None, Some(edges))

  /** Replace both sides in one version (refactor operations that rewrite
    * nodes and their incident edges together).
    */
  def replaceGraph(g: PropertyGraph): Unit = replace(Some(g.nodes), Some(g.edges))

  /** Each given frame becomes its table's new base (pinned as it is
    * logged, in a store with a WAL).
    */
  private def replace(nodes: Option[DataFrame], edges: Option[DataFrame]): Unit = synchronized {
    val t = tables
    val (n, e) = (nodes.map(Overlay.pinned(_, IdKey)), edges.map(Overlay.pinned(_, IdKey)))
    commit(t.copy(nodes = n.getOrElse(t.nodes), edges = e.getOrElse(t.edges)),
      n.map("nodes_rewrite" -> _.frame).toMap ++ e.map("edges_rewrite" -> _.frame))
  }

  // ===================================================== edge writes =====

  /** Delete relationships by edge id. */
  def deleteEdges(ids: DataFrame): QueryStats = synchronized {
    val t = tables
    val a = drop(t.edges, ids.select(col("id").cast("string").as("id")))
    if (a.n == 0) return QueryStats() // nothing matched: no commit
    commit(t.copy(edges = a.next), Map("edges_deletes" -> a.written))
    emitIds("rel_deleted", a.written)
    QueryStats(relationshipsDeleted = a.n)
  }

  /** SET a relationship property for matching edge ids: `weight` is a
    * hoisted column, everything else lives in the string property map.
    */
  def setEdgeProperty(ids: DataFrame, key: String, value: Column): QueryStats = synchronized {
    val t = tables
    val a = rewrite(t.edges, ids.select(col("id").cast("string").as("id"))) { df =>
      if (key == "weight") df.withColumn("weight", value.cast("double"))
      else df.withColumn("properties", map_concat(
        map_filter(col("properties"), (k, _) => k =!= key),
        map(lit(key), value.cast("string"))))
    }
    commit(t.copy(edges = a.next), Map("edges_upserts" -> a.written))
    emitEdges("rel_updated", a.written)
    QueryStats(propertiesSet = a.n)
  }

  /** CREATE relationships, keyed by edge id (a re-created id replaces its
    * row, as WAL replay always did).
    */
  def createEdges(newEdges: DataFrame): QueryStats = synchronized {
    val t = tables
    val a = put(t.edges, newEdges)
    checkLimit(t.edges, a.n, maxEdges, "edges")
    commit(t.copy(edges = a.next), Map("edges_upserts" -> a.written))
    emitEdges("rel_created", a.written)
    QueryStats(relationshipsCreated = a.n)
  }

  // =====================================================================
  // Named per-entity embeddings (the reference's NamedEmbeddings
  // map[string][]float32 on nodes/edges, `pkg/storage/types.go:196`,
  // written via db.create.setNodeVectorProperty, `call.go:747-768`).
  // Columnar analog: one (entity_id, name, embedding) side table per
  // entity kind, keyed by (entity_id, name) — at 100 TB a bucketed-by-id
  // parquet table, so the vector-index scan over ($label, $name) is one
  // partition-pruned read, never a per-node map lookup.
  // =====================================================================

  def nodeEmbeddings: DataFrame = tables.nodeEmb.frame
  def relEmbeddings: DataFrame = tables.relEmb.frame

  /** Upsert a batch of (entity_id, name, embedding) rows by key. */
  def setNodeVectorProperties(rows: DataFrame): Unit = putEmb(rows, node = true)
  def setRelationshipVectorProperties(rows: DataFrame): Unit = putEmb(rows, node = false)

  private def putEmb(rows: DataFrame, node: Boolean): Unit = synchronized {
    val t = tables
    val a = put(if (node) t.nodeEmb else t.relEmb, rows)
    commit(if (node) t.copy(nodeEmb = a.next) else t.copy(relEmb = a.next),
      Map(s"${if (node) "node" else "rel"}_embeddings_upserts" -> a.written))
  }

  /** Remove the named embeddings for the given entities (Qdrant
    * DeleteVectors; the embedding-side complement of node deletion).
    * WAL delta = just the (entity_id, name) keys.
    */
  def deleteNodeEmbeddings(entityIds: Seq[String],
      name: String = "embedding"): Unit = synchronized {
    if (entityIds.isEmpty) return
    val t = tables
    val a = drop(t.nodeEmb, keyFrame(t.nodeEmb, entityIds.distinct.map(Seq(_, name))))
    commit(t.copy(nodeEmb = a.next), Map("node_embeddings_deletes" -> a.written))
  }

  /** Drop EVERY node embedding under `name` — the reference's
    * ClearAllEmbeddings behind `/nornicdb/embed/clear`
    * (`pkg/server/server_nornicdb.go:158-177`): returns how many entities
    * lost their vector so the caller can report it. The keys are derived
    * by filter, never an id collect.
    */
  def clearNodeEmbeddings(name: String = "embedding"): Long = synchronized {
    val t = tables
    val cleared = t.nodeEmb.count(name)
    if (cleared == 0) return 0L
    val a = drop(t.nodeEmb, t.nodeEmb.frame.filter(col("name") === name)
      .select("entity_id", "name"))
    commit(t.copy(nodeEmb = a.next), Map("node_embeddings_deletes" -> a.written))
    cleared
  }

  /** db.create.setNodeVectorProperty point write. */
  def setNodeVectorProperty(nodeId: String, name: String, vec: Seq[Double]): Unit =
    setNodeVectorProperties(GraphStore.embRows(spark, Row(nodeId, name, vec)))

  def setRelationshipVectorProperty(relId: String, name: String, vec: Seq[Double]): Unit =
    setRelationshipVectorProperties(GraphStore.embRows(spark, Row(relId, name, vec)))

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
    val t = tables
    t.nodes.frame.write.mode("overwrite").parquet(s"$dir/nodes")
    t.edges.frame.write.mode("overwrite").parquet(s"$dir/edges")
    t.nodeEmb.frame.write.mode("overwrite").parquet(s"$dir/node_embeddings")
    t.relEmb.frame.write.mode("overwrite").parquet(s"$dir/rel_embeddings")
  }
}
