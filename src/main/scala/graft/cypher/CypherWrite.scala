package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.{GraphStore, PropertyGraph}
import Ast._
import Planner.{Frame, NodeK, ValK}

/** Write-clause executor (SURVEY §2.8: `create.go`, `merge.go`,
  * `executor_mutations.go`): runs a Cypher statement containing
  * CREATE / MERGE [ON CREATE SET / ON MATCH SET] / SET / DELETE /
  * DETACH DELETE / REMOVE against a [[GraphStore]], interleaved with the
  * read clauses (MATCH/UNWIND/WITH) planned by [[Planner.advance]].
  *
  * Determinism contract: created nodes must carry a `key` property (their
  * id becomes `Label:key`) — auto-generated ids would break snapshot
  * replay. Relationship creation requires both endpoints bound. Each write
  * clause commits one snapshot swap; the statement sees its own writes.
  */
object CypherWrite {

  case class WriteResult(
      nodesCreated: Long, nodesDeleted: Long,
      relationshipsCreated: Long, relationshipsDeleted: Long,
      propertiesSet: Long, returned: Option[DataFrame])

  def execute(store: GraphStore, query: String,
      params: Map[String, Any] = Map.empty): WriteResult = {
    val q = Parser.parse(query)
    require(q.parts.size == 1, "UNION not supported in write statements")
    val r = executeClauses(store, q.parts.head.clauses, params, None)
    // installed apoc.trigger statements fire after each top-level write
    // (trigger.go After semantics); recursion-guarded inside the registry
    ApocSysProcs.TriggerRegistry.fireAfter(store)
    r
  }

  /** Run write clauses from an optional starting frame — the entry point
    * batching operators (CALL {} IN TRANSACTIONS, apoc.periodic.iterate)
    * use to apply a statement per driving-row batch.
    */
  def executeClauses(store: GraphStore, clauses: Seq[Clause],
      params: Map[String, Any], initial: Option[Frame]): WriteResult = {
    var g = store.snapshot
    var frame = initial.getOrElse(Planner.seedFrame(g))
    var first = initial.isEmpty
    var nc, nd, rc, rd, ps = 0L
    var returned: Option[DataFrame] = None

    def refresh(): Unit = { g = store.snapshot }

    /** Apply one WRITE clause against a binding frame; returns the frame
      * (possibly with newly bound variables). Shared by the main clause
      * loop and FOREACH bodies (FOREACH nests arbitrarily).
      */
    def applyWrite(c: Clause, frame0: Frame): Frame = c match {
      case CreateClause(paths) =>
        var fr = frame0
        paths.foreach { p =>
          if (p.hops.isEmpty) {
            val (df, v) = nodeRows(fr, p.first, params)
            nc += store.createNodes(df).nodesCreated
            refresh()
            fr = bindNodeInFrame(fr, v, p.first, params)
          } else {
            require(p.hops.size == 1, "CREATE supports single-hop relationship patterns")
            val (rel, endPat) = p.hops.head
            // an unbound endpoint with a label is CREATED inline — the
            // reference's full path-pattern CREATE (`create.go`:
            // `CREATE (p:Product {...})-[:PART_OF]->(c)` with c bound)
            def ensureBound(pat: NodePat, side: String): String = {
              val v = pat.variable.getOrElse(sys.error(s"CREATE rel: unbound $side"))
              if (!fr.kinds.get(v).contains(NodeK)) {
                require(pat.label.isDefined,
                  s"CREATE rel: endpoint $v is neither bound nor a creatable (:Label) pattern")
                val (df, vv) = nodeRows(fr, pat, params)
                nc += store.createNodes(df).nodesCreated
                refresh()
                fr = bindNodeInFrame(fr, vv, pat, params)
              }
              v
            }
            val aVar = ensureBound(p.first, "start")
            val bVar = ensureBound(endPat, "end")
            val t = rel.relType.getOrElse(sys.error("CREATE rel needs a type"))
            // `(a)<-[:T]-(b)` creates b→a (the arrow's direction, not the
            // pattern's textual order)
            val (srcVar, dstVar) = rel.dir match {
              case Ast.DirIn => (bVar, aVar)
              case _ => (aVar, bVar)
            }
            val props = rel.props.map { case (k, e) => (k, Planner.compile(e, fr, params)) }
            val edges = fr.df.select(
              concat_ws("|", lit(t), col(s"${srcVar}_id"), col(s"${dstVar}_id")).as("id"),
              col(s"${srcVar}_id").as("src"), col(s"${dstVar}_id").as("dst"),
              lit(t).as("rel_type"),
              map_from_arrays(
                array(props.keys.toSeq.map(lit(_)): _*),
                array(props.values.toSeq.map(_.cast("string")): _*)).as("properties"),
              props.get("weight").map(_.cast("double")).getOrElse(lit(1.0)).as("weight"))
            rc += store.createEdges(edges).relationshipsCreated
            refresh()
          }
        }
        fr
      case MergeClause(path, onCreateSet, onMatchSet) if path.hops.nonEmpty =>
        // relationship MERGE: match by (src, dst, rel_type) against the
        // current snapshot, create only the missing edges (merge.go:26-40
        // pattern-match-then-create, set-based)
        require(path.hops.size == 1, "MERGE supports single-hop relationship patterns")
        val (rel, endPat) = path.hops.head
        val aVar = path.first.variable.getOrElse(sys.error("MERGE rel: unbound start"))
        val bVar = endPat.variable.getOrElse(sys.error("MERGE rel: unbound end"))
        require(frame0.kinds.get(aVar).contains(NodeK) && frame0.kinds.get(bVar).contains(NodeK),
          "MERGE relationship requires both endpoints bound")
        val t = rel.relType.getOrElse(sys.error("MERGE rel needs a type"))
        val props = rel.props.map { case (k, e) => (k, Planner.compile(e, frame0, params)) }
        val cand = frame0.df.select(
          concat_ws("|", lit(t), col(s"${aVar}_id"), col(s"${bVar}_id")).as("id"),
          col(s"${aVar}_id").as("src"), col(s"${bVar}_id").as("dst"),
          lit(t).as("rel_type"),
          map_from_arrays(
            array(props.keys.toSeq.map(lit(_)): _*),
            array(props.values.toSeq.map(_.cast("string")): _*)).as("properties"),
          props.get("weight").map(_.cast("double")).getOrElse(lit(1.0)).as("weight"))
          .dropDuplicates("id")
        val missing = cand.join(g.edges.select("src", "dst", "rel_type"),
          Seq("src", "dst", "rel_type"), "left_anti").localCheckpoint(true)
        // existing edges matched by the pattern (their ORIGINAL ids — the
        // snapshot's, not the deterministic candidate ids)
        val matched = g.edges
          .join(cand.select("src", "dst", "rel_type"), Seq("src", "dst", "rel_type"), "left_semi")
          .select("id").localCheckpoint(true)
        rc += store.createEdges(missing).relationshipsCreated
        refresh()
        val relVarName = rel.variable
        def edgeSet(items: Seq[(Prop, Expr)], ids: DataFrame): Unit =
          items.foreach { case (Prop(v, key), e) =>
            require(relVarName.contains(v),
              s"ON SET target $v must be the MERGE relationship variable")
            val value = Planner.compile(e, Planner.seedFrame(store.snapshot), params)
            ps += store.setEdgeProperty(ids, key, value).propertiesSet
            refresh()
          }
        edgeSet(onCreateSet, missing.select("id"))
        edgeSet(onMatchSet, matched)
        frame0
      case MergeClause(path, onCreateSet, onMatchSet) =>
        val (cand, v) = nodeRows(frame0, path.first, params)
        val (stats, createdIds, existing) = store.mergeNodesReporting(cand)
        nc += stats.nodesCreated
        refresh()
        onCreateSet.foreach { case (Prop(pv, key), e) =>
          require(pv == v, s"ON SET target $pv must be the MERGE variable $v")
          ps += applySet(store, pv, createdIds, key, e, params); refresh()
        }
        onMatchSet.foreach { case (Prop(pv, key), e) =>
          require(pv == v, s"ON SET target $pv must be the MERGE variable $v")
          ps += applySet(store, pv, existing, key, e, params); refresh()
        }
        bindNodeInFrame(frame0, v, path.first, params)
      case SetClause(items) =>
        items.foreach { case (Prop(v, key), e) =>
          require(frame0.kinds.get(v).contains(NodeK), s"SET target $v must be a bound node")
          val updates = frame0.df.select(col(s"${v}_id").as("id"),
            Planner.compile(e, frame0, params).as("newval"))
          ps += store.setNodeProperties(updates, key).propertiesSet
          refresh()
        }
        frame0
      case DeleteClause(vars, detach) =>
        vars.foreach { v =>
          require(frame0.kinds.get(v).contains(NodeK), s"DELETE target $v must be a bound node")
          val ids = frame0.df.select(col(s"${v}_id").as("id"))
          val stats = store.deleteNodes(ids, detach)
          nd += stats.nodesDeleted; rd += stats.relationshipsDeleted
          refresh()
        }
        frame0
      case RemoveClause(items) =>
        items.foreach { case Prop(v, key) =>
          require(frame0.kinds.get(v).contains(NodeK), s"REMOVE target $v must be a bound node")
          val updates = frame0.df.select(col(s"${v}_id").as("id"),
            lit(null).as("newval"))
          ps += store.setNodeProperties(updates, key).propertiesSet
          refresh()
        }
        frame0
      case ForeachClause(v, listE, updates) =>
        // FOREACH body binds the element var per row; frame changes inside
        // the body stay inside (Cypher scoping)
        val cc = Planner.compile(listE, frame0, params)
        var inner = Frame(frame0.df.withColumn(v, explode(cc)),
          frame0.kinds + (v -> ValK))
        updates.foreach(uc => inner = applyWrite(uc, inner))
        frame0
      case other => sys.error(s"not a write clause: $other")
    }

    clauses.foreach {
      case cs: CallSubquery if cs.inTransactionsOf.isDefined =>
        // CALL { WITH vars … } IN TRANSACTIONS OF n ROWS: pin the driving
        // rows, then apply the body once per n-row batch (the reference
        // batches the subquery over driving rows, executor_subqueries.go:580)
        val stats = applyInTransactions(store, frame, cs, params)
        nc += stats.nodesCreated; nd += stats.nodesDeleted
        rc += stats.relationshipsCreated; rd += stats.relationshipsDeleted
        ps += stats.propertiesSet
        refresh()
      case c @ (_: MatchClause | _: UnwindClause | _: WithClause | _: CallSubquery | _: CallProc) =>
        val (f2, first2) = Planner.advance(g, frame, first, c, params)
        frame = f2; first = first2
      case r: ReturnClause =>
        val (f2, _) = Planner.advance(g, frame, first, r, params)
        returned = Some(f2.df)
      case w =>
        frame = applyWrite(w, frame)
    }
    WriteResult(nc, nd, rc, rd, ps, returned)
  }

  /** Batch the CALL {} body over the driving frame: project the imported
    * variables, number rows deterministically, run the body per batch.
    */
  private def applyInTransactions(store: GraphStore, frame: Frame,
      cs: CallSubquery, params: Map[String, Any]): WriteResult = {
    import org.apache.spark.sql.expressions.Window
    val batchSize = cs.inTransactionsOf.get
    val (imports, body) = cs.inner.clauses match {
      case WithClause(items, false, None, Seq(), None, None) +: tail
          if items.nonEmpty && items.forall(i =>
            i.alias.isEmpty && i.expr.isInstanceOf[Variable]) =>
        (items.map(_.expr.asInstanceOf[Variable].name), tail)
      case cls => (Seq.empty[String], cls)
    }
    val driving =
      if (imports.isEmpty) frame
      else Frame(
        frame.df.select(imports.flatMap(v => frame.varCols(v)).map(col): _*),
        imports.map(v => v -> frame.kinds(v)).toMap)
    val orderCols = driving.df.columns.filterNot(_.endsWith("_properties")).map(col).toSeq
    val sortCols = if (orderCols.nonEmpty) orderCols else Seq(lit(1))
    // Distributed batch numbering: range-partition on the ordering columns
    // (partition i sorts wholly before i+1), number rows locally per
    // partition, then add per-partition offsets computed from a P-row
    // collect — the same deterministic global __rn a global-Window
    // row_number would give, without funnelling every driving row through
    // a single task. Batch APPLICATION stays serial (the semantics are
    // inherently sequential across batches); only the numbering fans out.
    val ranged = driving.df
      .repartitionByRange(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true) // pin: the store mutates between batches
    val counts = ranged.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var running = 0L
    val offs = counts.map { case (pid, n) => val o = running; running += n; (pid, o) }
    val total = running
    val offDf = ranged.sparkSession.createDataFrame(offs.toSeq).toDF("__pid", "__off")
    val numbered = ranged
      .withColumn("__lrn",
        row_number().over(Window.partitionBy(col("__pid")).orderBy(sortCols: _*)))
      .join(broadcast(offDf), "__pid")
      .withColumn("__rn", col("__lrn") + col("__off"))
      .drop("__pid", "__lrn", "__off")
      .localCheckpoint(true) // avoid re-running the window per batch filter
    var agg = WriteResult(0, 0, 0, 0, 0, None)
    var lo = 1L
    while (lo <= total) {
      val batch = Frame(
        numbered.filter(col("__rn").between(lo, lo + batchSize - 1)).drop("__rn"),
        driving.kinds)
      val r = executeClauses(store, body, params, Some(batch))
      agg = WriteResult(
        agg.nodesCreated + r.nodesCreated, agg.nodesDeleted + r.nodesDeleted,
        agg.relationshipsCreated + r.relationshipsCreated,
        agg.relationshipsDeleted + r.relationshipsDeleted,
        agg.propertiesSet + r.propertiesSet, None)
      lo += batchSize
    }
    agg
  }

  /** apoc.periodic.iterate (`call_apoc_periodic.go`): run the outer READ
    * query once against the starting snapshot, then apply the inner WRITE
    * statement to its rows in `batchSize`-row batches. Returns
    * (batches, total_rows, ops).
    */
  def periodicIterate(store: GraphStore, outer: String, inner: String,
      batchSize: Long, params: Map[String, Any] = Map.empty): (Long, Long, Long) = {
    val oq = Parser.parse(outer)
    require(oq.parts.size == 1, "UNION not supported in periodic.iterate")
    val g = store.snapshot
    var frame = Planner.seedFrame(g)
    var first = true
    oq.parts.head.clauses.foreach {
      case _: ReturnClause => // bindings pass through to the inner statement
      case c =>
        val (f2, fi) = Planner.advance(g, frame, first, c, params)
        frame = f2; first = fi
    }
    val body = Parser.parse(inner).parts.head.clauses
    val synthetic = CallSubquery(SingleQuery(body), Some(batchSize))
    val stats = applyInTransactions(store, frame, synthetic, params)
    val total = frame.df.count()
    val batches = (total + batchSize - 1) / batchSize
    (batches, total,
      stats.nodesCreated + stats.nodesDeleted + stats.relationshipsCreated +
        stats.relationshipsDeleted + stats.propertiesSet)
  }

  /** Build node rows for a CREATE/MERGE pattern from the current frame. */
  private val hoistedProps = Set("key", "name", "acctbal", "mktsegment")

  /** Non-hoisted pattern properties land in the string properties map (the
    * dynamic-property fallback reads them back; constraints check them). */
  private def extraPropsMap(frame: Frame, pat: NodePat,
      params: Map[String, Any]): Column = {
    val extras = pat.props.filterNot { case (k, _) => hoistedProps(k) }
    if (extras.isEmpty) expr("map()").cast("map<string,string>")
    else map_from_arrays(
      array(extras.keys.toSeq.map(lit(_)): _*),
      array(extras.values.toSeq.map(e =>
        Planner.compile(e, frame, params).cast("string")): _*))
      .cast("map<string,string>")
  }

  private def nodeRows(frame: Frame, pat: NodePat,
      params: Map[String, Any]): (DataFrame, String) = {
    val label = pat.label.getOrElse(sys.error("CREATE/MERGE node needs a label"))
    val v = pat.variable.getOrElse("_n")
    def p(key: String): Option[Column] =
      pat.props.get(key).map(e => Planner.compile(e, frame, params))
    val keyCol = p("key").getOrElse(sys.error(
      "CREATE/MERGE node needs a `key` property (deterministic ids)"))
    val df = frame.df.select(
      concat_ws(":", lit(label), keyCol.cast("string")).as("id"),
      array((label +: pat.extraLabels).map(lit(_)): _*).as("labels"),
      // non-numeric keys (GraphQL string keys like "e1") keep a null
      // numeric key — the id already carries the string form
      keyCol.try_cast("long").as("key"),
      p("name").getOrElse(lit(null)).cast("string").as("name"),
      p("acctbal").getOrElse(lit(null)).try_cast("double").as("acctbal"),
      p("mktsegment").getOrElse(lit(null)).cast("string").as("mktsegment"),
      extraPropsMap(frame, pat, params).as("properties"))
    (df, v)
  }

  /** Bind the created/merged node variable per frame row by recomputing its
    * columns from the pattern expressions (same rows, same order).
    */
  private def bindNodeInFrame(frame: Frame, v: String, pat: NodePat,
      params: Map[String, Any]): Frame = {
    if (frame.kinds.contains(v)) return frame
    val label = pat.label.get
    def p(key: String): Option[Column] =
      pat.props.get(key).map(e => Planner.compile(e, frame, params))
    val keyCol = p("key").get
    val df = frame.df
      .withColumn(s"${v}_id", concat_ws(":", lit(label), keyCol.cast("string")))
      .withColumn(s"${v}_labels", array((label +: pat.extraLabels).map(lit(_)): _*))
      .withColumn(s"${v}_key", keyCol.try_cast("long"))
      .withColumn(s"${v}_name", p("name").getOrElse(lit(null)).cast("string"))
      .withColumn(s"${v}_acctbal", p("acctbal").getOrElse(lit(null)).try_cast("double"))
      .withColumn(s"${v}_mktsegment", p("mktsegment").getOrElse(lit(null)).cast("string"))
      .withColumn(s"${v}_properties", extraPropsMap(frame, pat, params))
    Frame(df, frame.kinds + (v -> NodeK))
  }

  /** ON CREATE/MATCH SET value evaluation with the merge variable BOUND
    * over the affected ids — self-referencing expressions
    * (`ON MATCH SET n.count = n.count + 1`, merge_test.go:108) read the
    * node's current values; literals behave as before. The rows come
    * from the store's lookup, which the MERGE that precedes it has just
    * filled (no job).
    */
  private def applySet(store: GraphStore, v: String, ids: DataFrame,
      key: String, e: Expr, params: Map[String, Any]): Long = {
    val bound = Frame(graft.graph.Expand.nodeColsOf(store.nodesById(ids), v), Map(v -> NodeK))
    val updates = bound.df.select(col(s"${v}_id").as("id"),
      Planner.compile(e, bound, params).as("newval"))
    store.setNodeProperties(updates, key).propertiesSet
  }
}
