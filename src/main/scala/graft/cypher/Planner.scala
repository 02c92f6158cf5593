package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.{Expand, PropertyGraph}
import Ast._

/** Plans a Cypher AST into DataFrame transformations over a PropertyGraph.
  *
  * Execution model (vs the reference's per-node nested loops,
  * `/root/reference/pkg/cypher/traversal.go`): a MATCH pattern is a chain of
  * distributed hash joins; OPTIONAL MATCH is a left-outer join on the shared
  * variables; implicit Cypher grouping (non-aggregated RETURN items become
  * group keys, `match_aggregation.go:10`) becomes a Catalyst hash
  * aggregation; WITH stages are just further transformations — Catalyst
  * fuses, reorders, and pushes filters through the whole pipeline.
  *
  * Variable bindings are column prefixes: node var `n` owns `n_id, n_labels,
  * n_key, n_name, n_acctbal, n_mktsegment`; rel var `r` owns `r_id, r_type,
  * r_properties, r_weight`; value vars own a single column.
  */
object Planner {

  sealed trait Kind
  case object NodeK extends Kind
  case object RelK extends Kind
  case object ValK extends Kind

  val nodeFields: Seq[String] = Seq("id", "labels", "key", "name", "acctbal", "mktsegment")
  /** Columns carried per node binding: hoisted fields + the string property
    * map (dynamic-property fallback). `nodeFields` stays map-free so RETURN
    * structs and keys() keep their hoisted shape.
    */
  val nodeCarry: Seq[String] = nodeFields :+ "properties"
  val relFields: Seq[String] = Seq("id", "type", "properties", "weight")
  /** Columns carried per rel binding: output fields + the ORIGINAL
    * endpoints (src/dst), which `apoc.rel.startNode/direction/isLoop` need
    * — like `properties` on nodes, src/dst ride the frame but stay out of
    * RETURN structs (`relFields` above keeps the output shape).
    */
  val relCarry: Seq[String] = relFields ++ Seq("src", "dst")

  case class Frame(df: DataFrame, kinds: Map[String, Kind]) {
    def varCols(v: String): Seq[String] = kinds(v) match {
      case NodeK => nodeCarry.map(f => s"${v}_$f")
      case RelK  => relCarry.map(f => s"${v}_$f")
      case ValK  => Seq(v)
    }
  }

  private val aggFns = Set("count", "sum", "avg", "min", "max", "collect",
    "stdev", "stdevp", "percentilecont", "percentiledisc")

  /** Lambda-variable bindings for list comprehensions / reduce / quantifiers.
    * Catalyst HOF builders (`filter`/`transform`/`aggregate`/`forall`/
    * `exists`) invoke their Column→Column function synchronously at plan
    * time, so a dynamically-scoped map is sufficient — inner `compile` calls
    * see the binding, and nesting restores the outer scope on exit.
    */
  private val lambdaEnv =
    new scala.util.DynamicVariable[Map[String, Column]](Map.empty)
  private def withLambda[T](bindings: (String, Column)*)(body: => T): T =
    lambdaEnv.withValue(lambdaEnv.value ++ bindings)(body)

  private var tmpCounter = 0
  private def fresh(): String = synchronized { tmpCounter += 1; s"__v$tmpCounter" }

  // =====================================================================
  // entry
  // =====================================================================
  def plan(g: PropertyGraph, q: Query, params: Map[String, Any]): DataFrame = {
    val parts = q.parts.map(p => planSingle(g, p, params))
    var acc = parts.head
    for (j <- 1 until parts.size) {
      acc = acc.unionByName(parts(j))
      if (!q.unionAll(j - 1)) acc = acc.dropDuplicates()
    }
    acc
  }

  /** Seed frame: one row, zero columns, so a leading UNWIND/RETURN
    * produces rows.
    */
  def seedFrame(g: PropertyGraph): Frame = Frame(oneRow(g.nodes.sparkSession), Map.empty)

  /** One row, zero columns, as a local relation: projections of literals
    * over it fold into a local relation while Catalyst optimizes, so
    * collecting them (a CREATE's rows, a procedure's one-row answer) runs
    * no Spark job, and anything that does execute it reads one partition.
    */
  def oneRow(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(java.util.List.of(org.apache.spark.sql.Row()),
      new org.apache.spark.sql.types.StructType())

  /** Advance the binding frame by one READ clause (MATCH / UNWIND / WITH /
    * RETURN). `first` = no pattern clause consumed yet. Exposed for the
    * write executor, which interleaves these with mutation clauses.
    */
  def advance(g: PropertyGraph, frame: Frame, first: Boolean, c: Clause,
      params: Map[String, Any]): (Frame, Boolean) = c match {
    case m: MatchClause =>
      (planMatch(g, if (first) None else Some(frame), m, params), false)
    case u: UnwindClause =>
      val cc = compile(u.expr, frame, params)
      (Frame(frame.df.withColumn(u.alias, explode(cc)), frame.kinds + (u.alias -> ValK)), false)
    case w: WithClause =>
      (project(g, frame, w.items, w.distinct, w.orderBy, w.skip, w.limit,
        isReturn = false, where = w.where, params = params), first)
    case r: ReturnClause =>
      (project(g, frame, r.items, r.distinct, r.orderBy, r.skip, r.limit,
        isReturn = true, where = None, params = params), first)
    case cs: CallSubquery =>
      (planCallSubquery(g, frame, cs, params), first)
    case cp: CallProc =>
      (planCallProc(g, frame, cp, params), false)
    case other =>
      throw new IllegalArgumentException(s"not a read clause: $other")
  }

  /** Procedure registry (the CALL dispatcher, `call.go:596-805`). Each
    * procedure is a Scala function returning a DataFrame; YIELD is a
    * select, its WHERE a filter (`applyYieldFilter` analog).
    */
  private val baseProcedures: Map[String, (PropertyGraph, Seq[Any]) => DataFrame] = Map(
    "db.labels" -> ((g, _) => graft.graph.Procedures.dbLabels(g)),
    "db.relationshiptypes" -> ((g, _) => graft.graph.Procedures.dbRelationshipTypes(g)),
    "db.propertykeys" -> ((g, _) => graft.graph.Procedures.dbPropertyKeys(g)),
    "db.schema.visualization" -> ((g, _) => graft.graph.Procedures.schemaVisualization(g)),
    "db.schema.nodetypeproperties" -> ((g, _) => graft.graph.Procedures.nodeTypeProperties(g)),
    "db.schema.reltypeproperties" -> ((g, _) => graft.graph.Procedures.relTypeProperties(g)),
    "dbms.components" -> ((g, _) => graft.graph.Procedures.dbmsComponents(g)),
    "db.info" -> ((g, _) => graft.graph.Procedures.dbInfo(g)),
    "apoc.meta.stats" -> ((g, _) => graft.graph.Procedures.metaStats(g)),
    "db.ping" -> ((g, _) => graft.graph.Procedures.dbPing(g)),
    "gds.version" -> ((g, _) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      Seq(org.apache.spark.SPARK_VERSION).toDF("version")
    }),
    // apoc.cypher.run(query) — recursive engine invocation (call.go:786)
    "apoc.cypher.run" -> ((g, args) => Cypher.run(g, args.head.toString)),
    // apoc.help(search) — the registry listing (apoc/registry/registry.go
    // ListFunctions; reference surface apoc.go:124): every name in
    // [[ApocCatalog]], typed procedure/function by live registry membership
    "apoc.help" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val q = args.lift(0).map(_.toString.toLowerCase).getOrElse("")
      val procs = procedureNames.toSet
      ApocCatalog.all.filter(_.contains(q))
        .map(n => (n, if (procs(n)) "procedure" else "function"))
        .toDF("name", "type").orderBy("name")
    }),
    // gds.graph.project / list / drop (call.go:711-721)
    "gds.graph.project" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val p = graft.graph.GraphProjections.project(args(0).toString, g,
        args.lift(1).map(_.toString).getOrElse("*"),
        args.lift(2).map(_.toString).getOrElse("*"))
      Seq((p.name, p.nodeCount, p.relationshipCount))
        .toDF("graphName", "nodeCount", "relationshipCount")
    }),
    "gds.graph.list" -> ((g, _) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      graft.graph.GraphProjections.list
        .map(p => (p.name, p.nodeCount, p.relationshipCount))
        .toDF("graphName", "nodeCount", "relationshipCount")
    }),
    "gds.graph.drop" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      Seq((args.head.toString, graft.graph.GraphProjections.drop(args.head.toString)))
        .toDF("graphName", "dropped")
    }),
    // apoc.algo path procedures (apoc_algorithms.go:24,114,206):
    // (start, end [, relType [, maxDepth]]); reference maxDepth default 10
    "apoc.algo.allsimplepaths" -> ((g, args) =>
      graft.algos.BfsRdd.allSimplePaths(g, args(0).toString, args(1).toString,
          args.lift(2).map(_.toString).filter(_.nonEmpty).toSeq,
          args.lift(3).map(_.toString.toDouble.toInt).getOrElse(10))
        .select(col("path"), col("length"))),
    "apoc.algo.dijkstra" -> ((g, args) => pointPathDf(g, args)),
    "apoc.algo.astar" -> ((g, args) => pointPathDf(g, args)),
    // apoc.meta.schema / graph — label + relType inventories with counts
    // (apoc/meta/meta.go:27,40); one pass over each table
    "apoc.meta.schema" -> ((g, _) => {
      val labels = g.nodes.select(explode(col("labels")).as("name"))
        .groupBy("name").agg(count(lit(1)).as("n"))
        .withColumn("type", lit("node"))
      val rels = g.edges.select(col("rel_type").as("name"))
        .groupBy("name").agg(count(lit(1)).as("n"))
        .withColumn("type", lit("relationship"))
      labels.unionByName(rels).select("name", "type", "n")
        .orderBy("type", "name")
    }),
    "apoc.meta.graph" -> ((g, _) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      Seq((g.nodes.count(), g.edges.count())).toDF("nodes", "relationships")
    }),
    // apoc.label.exists(label) — any node carries it (apoc/label/label.go:37)
    "apoc.label.exists" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val l = args.head.toString
      Seq(!g.nodes.filter(array_contains(col("labels"), l)).isEmpty).toDF("exists")
    }),
    // apoc.load.json/csv — file source procedures over the Formats layer
    // (ref apoc/load; the reference streams rows from disk, here a
    // distributed spark.read over the same path)
    "apoc.load.json" -> ((g, args) =>
      graft.sources.Formats.importNodesJson(g.nodes.sparkSession, args.head.toString)),
    "apoc.load.csv" -> ((g, args) =>
      graft.sources.Formats.loadCsv(g.nodes.sparkSession, args.head.toString)),
    // apoc.export.json — writes the (optionally label-filtered) node set,
    // returns the reference's summary row shape (file, nodes, done)
    "apoc.export.json" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val path = args.head.toString
      val label = args.lift(1).map(_.toString).filter(_.nonEmpty)
      val n = graft.sources.Formats.exportNodesJson(g, label, path)
      Seq((path, n, true)).toDF("file", "nodes", "done")
    }))

  private val procedures: Map[String, (PropertyGraph, Seq[Any]) => DataFrame] =
    baseProcedures ++ ApocProcs.procedures ++ ApocSysProcs.procedures ++
      ApocSearchProcs.procedures ++ ApocGraphProcs.procedures ++
      ApocWriteProcs.procedures ++ SearchCallProcs.procedures ++
      CompatProcs.procedures

  /** Sorted CALL-surface names — apoc.meta.procedures' row source.
    * Runtime plugin registrations ([[Plugins]]) list beside built-ins,
    * like the reference's merged registry (plugins.go:104-113).
    */
  def procedureNames: Seq[String] =
    (procedures.keys ++ Plugins.procedures.keys).toSeq.distinct.sorted

  /** apoc.algo.dijkstra / aStar surface: point-to-point (path, weight) via
    * [[graft.algos.Algorithms.aStar]] with the zero heuristic (= exact
    * Dijkstra, matching the reference's default).
    */
  private def pointPathDf(g: PropertyGraph, args: Seq[Any]): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    graft.algos.Algorithms.aStar(g, args(0).toString, args(1).toString)
      .map { case (path, w) => Seq((path, w)) }.getOrElse(Nil)
      .toDF("path", "weight")
  }

  private def planCallProc(g: PropertyGraph, f: Frame, cp: CallProc,
      params: Map[String, Any]): Frame = {
    val fn = procedures.get(cp.name)
      .orElse(Plugins.procedures.get(cp.name)) // runtime plugin registrations
      .getOrElse(throw new IllegalArgumentException(
        s"unknown procedure ${cp.name} (have: ${procedureNames.mkString(", ")})"))
    // CALL arguments evaluate driver-side (never per-row): literals,
    // parameters, and literal-composed lists/maps — the GDS config-map and
    // query-vector surfaces (`linkprediction.go:85`, `call_vector.go:37`)
    def litVal(e: Expr): Any = e match {
      case Lit(v) => v
      case Param(n) => params.getOrElse(n,
        throw new IllegalArgumentException(s"missing parameter $$$n"))
      case ListLit(items) => items.map(litVal)
      case MapLit(items) => items.map { case (k, v) => k -> litVal(v) }.toMap
      // the lexer has no negative-number token: -3.0 arrives as 0 - 3.0
      case Bin("-", Lit(z), e2) if z == 0L || z == 0.0 => litVal(e2) match {
        case d: Double => -d
        case l: Long => -l
        case other => throw new IllegalArgumentException(
          s"cannot negate procedure argument $other")
      }
      case other => throw new IllegalArgumentException(
        s"procedure arguments must be literals or parameters, got $other")
    }
    val argVals = cp.args.map(litVal)
    var res = fn(g, argVals)
    if (cp.yields.nonEmpty)
      res = res.select(cp.yields.map { case (c, al) => col(c).as(al.getOrElse(c)) }: _*)
    // metadata procedures are uncorrelated: their rows apply to every
    // driving row (a cross join). A LEADING CALL (driving frame = the
    // column-less 1-row seed) must NOT cross-join: Catalyst legitimately
    // drops a Sort under a join (join output order is undefined), which
    // would silently discard an ORDER BY inside the procedure's query
    // (apoc.cypher.runFirstColumn's contract is ordered rows) — surfaced
    // when store frames stopped matching insertion order (a written row
    // reads back after the base rows, from the store's delta).
    var out =
      if (f.df.columns.isEmpty)
        Frame(res, f.kinds ++ res.columns.map(_ -> (ValK: Kind)))
      else
        Frame(f.df.crossJoin(res), f.kinds ++ res.columns.map(_ -> (ValK: Kind)))
    cp.where.foreach(w => out = Frame(out.df.filter(compile(w, out, params)), out.kinds))
    out
  }

  /** CALL { … }: uncorrelated subqueries cross-join their result onto the
    * driving rows; a leading `WITH <vars>` imports outer variables, making
    * the subquery a per-imported-row computation — planned set-based by
    * seeding the subquery with the DISTINCT imported bindings, implicitly
    * grouping aggregates by them, and left-joining back on the imported ids
    * (SURVEY §2.9 `executor_subqueries.go:534,305` — per-row loops in the
    * reference, one join here).
    */
  private def planCallSubquery(g: PropertyGraph, outer: Frame, cs: CallSubquery,
      params: Map[String, Any]): Frame = {
    val (imports, rest) = cs.inner.clauses match {
      case WithClause(items, false, None, Seq(), None, None) +: tail
          if items.nonEmpty && items.forall(i =>
            i.alias.isEmpty && i.expr.isInstanceOf[Variable]) =>
        (items.map(_.expr.asInstanceOf[Variable].name), tail)
      case cls => (Seq.empty[String], cls)
    }
    if (imports.isEmpty) {
      var f = seedFrame(g)
      var first = true
      rest.foreach { c =>
        val (f2, fi) = advance(g, f, first, c, params)
        f = f2; first = fi
      }
      // leading CALL {} on the seed: no cross join (see planCallProc —
      // a join would let Catalyst drop the subquery's ORDER BY)
      if (outer.df.columns.isEmpty)
        Frame(f.df, outer.kinds ++ f.df.columns.map(_ -> (ValK: Kind)))
      else Frame(outer.df.crossJoin(f.df),
        outer.kinds ++ f.df.columns.map(_ -> (ValK: Kind)))
    } else {
      imports.foreach(v => require(outer.kinds.contains(v), s"CALL import $v is unbound"))
      // dedup on the non-map columns only (map-typed property columns are
      // not set-op-comparable; the id keys make this exact anyway)
      val importDf = outer.df.select(imports.flatMap(v => outer.varCols(v)).map(col): _*)
      val dedupKeys = importDf.columns.filterNot(_.endsWith("_properties")).toSeq
      var f = Frame(
        importDf.dropDuplicates(dedupKeys),
        imports.map(v => v -> outer.kinds(v)).toMap)
      var first = false
      // Cypher semantics on the join back: a non-aggregate correlated CALL {}
      // drops zero-match outer rows (inner join); an aggregating one keeps
      // them, with count/sum-style aggregates yielding 0 (not null).
      var aggReturn = false
      var zeroFills: Seq[(String, String)] = Seq.empty // name -> fill kind
      var perGroupTail: Option[(Seq[SortItem], Option[Long], Option[Long])] = None
      rest.foreach {
        case r: ReturnClause =>
          if (r.orderBy.nonEmpty || r.skip.isDefined || r.limit.isDefined) {
            require(!r.items.exists(i => containsAgg(i.expr)),
              "ORDER/SKIP/LIMIT with aggregates inside a correlated CALL {} is unsupported")
            perGroupTail = Some((r.orderBy, r.skip, r.limit))
          }
          aggReturn = r.items.exists(i => containsAgg(i.expr))
          if (aggReturn) zeroFills = r.items.flatMap { it =>
            val name = it.alias.getOrElse(autoName(it.expr))
            it.expr match {
              case CountStar() | FnCall("count", _, _) | FnCall("sum", _, _) =>
                Some(name -> "zero")
              case FnCall("collect", _, _) =>
                Some(name -> "empty_list") // Neo4j: collect over no rows = []
              case _ => None // avg/min/max over zero rows stay null
            }
          }
          val items2 = imports.map(v => ProjectionItem(Variable(v), None)) ++ r.items
          f = project(g, f, items2, r.distinct, Seq.empty, None, None,
            isReturn = false, where = None, params = params)
        case c =>
          val (f2, fi) = advance(g, f, first, c, params)
          f = f2; first = fi
      }
      // join keys: entity imports join on their id column, scalar (ValK)
      // imports on the bare column itself
      val joinCols = imports.map(v => outer.kinds(v) match {
        case ValK => v
        case _ => s"${v}_id"
      })
      // ORDER BY/SKIP/LIMIT inside a correlated CALL {} are PER-GROUP
      // (per import binding): a row_number window over the import keys —
      // the distributed form of "top-k per driving row"
      perGroupTail.foreach { case (orderBy, skip, limit) =>
        import org.apache.spark.sql.expressions.Window
        val sorts = orderBy.map { si =>
          val c = compile(si.expr, f, params)
          if (si.ascending) c.asc_nulls_last else c.desc_nulls_last
        }
        val w = Window.partitionBy(joinCols.map(col): _*)
          .orderBy((if (sorts.nonEmpty) sorts else Seq(lit(1).asc)): _*)
        val lo = skip.getOrElse(0L)
        val hi = limit.map(lo + _).getOrElse(Long.MaxValue)
        f = Frame(
          f.df.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") > lo && col("__rn") <= hi)
            .drop("__rn"),
          f.kinds)
      }
      val dropCols = imports.flatMap(v => f.varCols(v).filterNot(joinCols.contains))
      val joined0 = outer.df.join(f.df.drop(dropCols: _*), joinCols,
        if (aggReturn) "left_outer" else "inner")
      val joined = zeroFills.foldLeft(joined0) { case (df, (n, kind)) =>
        val fill = kind match {
          // element type only known post-join: cast an empty array to it
          case "empty_list" => array().cast(df.schema(n).dataType)
          case _ => lit(0L)
        }
        df.withColumn(n, coalesce(col(n), fill))
      }
      Frame(joined, outer.kinds ++ (f.kinds -- imports))
    }
  }

  private def planSingle(g: PropertyGraph, sq: SingleQuery, params: Map[String, Any]): DataFrame = {
    var frame = seedFrame(g)
    var first = true
    sq.clauses.foreach { c =>
      val (f2, first2) = advance(g, frame, first, c, params)
      frame = f2
      first = first2
    }
    frame.df
  }

  // =====================================================================
  // MATCH
  // =====================================================================
  private def planMatch(g: PropertyGraph, prev: Option[Frame], m: MatchClause,
      params: Map[String, Any]): Frame = {
    var frame = prev
    m.paths.foreach { path =>
      frame = Some(attachPath(g, frame, path, m.optional, params))
    }
    var f = frame.get
    // WHERE: handle EXISTS conjuncts as semi/anti joins, rest as filter
    m.where.foreach { w =>
      val conjuncts = splitAnd(w)
      conjuncts.foreach {
        case ExistsPattern(p, pw) =>
          val pf = patternFrame(g, p, pw, params)
          val shared = sharedEntityVars(pf, f)
          require(shared.nonEmpty, "EXISTS pattern must share a variable")
          f = Frame(
            f.df.join(idOnly(pf, shared), shared.map(v => s"${v}_id"), "left_semi"),
            f.kinds)
        case Not(ExistsPattern(p, pw)) =>
          val pf = patternFrame(g, p, pw, params)
          val shared = sharedEntityVars(pf, f)
          require(shared.nonEmpty, "NOT EXISTS pattern must share a variable")
          f = Frame(
            f.df.join(idOnly(pf, shared), shared.map(v => s"${v}_id"), "left_anti"),
            f.kinds)
        case other =>
          val (f2, e2, tmp) = attachSubqueries(g, f, other, params)
          f = Frame(f2.df.filter(compile(e2, f2, params)).drop(tmp: _*), f2.kinds -- tmp)
      }
    }
    f
  }

  /** Build a pattern as a frame, applying the subquery-local WHERE. */
  private def patternFrame(g: PropertyGraph, p: PatternPath, where: Option[Expr],
      params: Map[String, Any]): Frame = {
    val pf = buildStandalone(g, p, params)
    where.map(w => Frame(pf.df.filter(compile(w, pf, params)), pf.kinds)).getOrElse(pf)
  }

  private def sharedEntityVars(pf: Frame, f: Frame): Seq[String] =
    pf.kinds.keySet.intersect(f.kinds.keySet)
      .filter(v => f.kinds(v) != ValK && pf.kinds(v) != ValK).toSeq.sorted

  /** Rewrite COUNT {} / COLLECT {} expression subqueries inside `e` into
    * fresh value columns attached to the frame (grouped left joins on the
    * shared entity variables — the set-based equivalent of the reference's
    * per-row subquery loops, `executor_mutations.go:1994`). Returns the
    * widened frame, the rewritten expression, and the temp column names.
    */
  private def attachSubqueries(g: PropertyGraph, f0: Frame, e0: Expr,
      params: Map[String, Any]): (Frame, Expr, Seq[String]) = {
    var f = f0
    var tmps = Vector.empty[String]

    def attachCount(path: PatternPath, where: Option[Expr]): Expr = {
      val pf = patternFrame(g, path, where, params)
      val shared = sharedEntityVars(pf, f)
      require(shared.nonEmpty, "COUNT {} must share a variable with the outer query")
      val name = fresh()
      val keys = shared.map(v => s"${v}_id")
      val grouped = pf.df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(name))
      f = Frame(
        f.df.join(grouped, keys, "left_outer")
          .withColumn(name, coalesce(col(name), lit(0L))),
        f.kinds + (name -> ValK))
      tmps :+= name
      Variable(name)
    }

    def attachCollect(inner: SingleQuery): Expr = {
      val ret = inner.clauses.last match {
        case r: ReturnClause => r
        case other => throw new IllegalArgumentException(s"COLLECT {} must end with RETURN, got $other")
      }
      require(ret.items.size == 1, "COLLECT {} must return exactly one expression")
      require(ret.skip.isEmpty && ret.limit.isEmpty, "SKIP/LIMIT inside COLLECT {} unsupported")
      var sf = seedFrame(g)
      var first = true
      inner.clauses.init.foreach { c =>
        val (f2, fi) = advance(g, sf, first, c, params)
        sf = f2; first = fi
      }
      val shared = sharedEntityVars(sf, f)
      require(shared.nonEmpty, "COLLECT {} must share a variable with the outer query")
      val valCol = compile(ret.items.head.expr, sf, params)
      // array order must be deterministic: no ORDER BY → sort by value;
      // ORDER BY on other expressions → collect (keys…, value) structs,
      // sort by the keys, project the value back out (single direction —
      // sort_array is all-asc or all-desc)
      val aggC = ret.orderBy match {
        case Seq() =>
          sort_array(if (ret.distinct) collect_set(valCol) else collect_list(valCol))
        case Seq(SortItem(e, asc)) if e == ret.items.head.expr =>
          sort_array(if (ret.distinct) collect_set(valCol) else collect_list(valCol), asc)
        case keys =>
          require(!ret.distinct, "COLLECT {} DISTINCT with a custom ORDER BY is unsupported")
          require(keys.map(_.ascending).distinct.size == 1,
            "COLLECT {} ORDER BY keys must share one direction")
          val kv = collect_list(struct(
            keys.zipWithIndex.map { case (si, i) =>
              compile(si.expr, sf, params).as(s"k$i")
            } :+ valCol.as("v"): _*))
          transform(sort_array(kv, keys.head.ascending), x => x.getField("v"))
      }
      val name = fresh()
      val keys = shared.map(v => s"${v}_id")
      val grouped = sf.df.groupBy(keys.map(col): _*).agg(aggC.as(name))
      val elemType = grouped.schema(name).dataType
      f = Frame(
        f.df.join(grouped, keys, "left_outer")
          .withColumn(name, coalesce(col(name), array().cast(elemType))),
        f.kinds + (name -> ValK))
      tmps :+= name
      Variable(name)
    }

    /** (v)-[:T]-() single-hop pattern for the degree/connected family. */
    def hopPath(v: String, relType: Option[String], dir: Dir,
        end: Option[String] = None): PatternPath =
      PatternPath(NodePat(Some(v), None, Map.empty),
        Seq((RelPat(None, relType, dir, None, Map.empty),
          NodePat(end, None, Map.empty))))

    def litType(e: Option[Expr]): Option[String] = e.collect {
      case Lit(s: String) if s.nonEmpty => s }

    /** Sorted neighbor-id list — apoc.node.neighbors/In/Out. */
    def attachNeighborIds(v: String, relType: Option[String], dir: Dir): Expr = {
      val mv = fresh()
      val pf = patternFrame(g, hopPath(v, relType, dir, Some(mv)), None, params)
      val name = fresh()
      val grouped = pf.df.groupBy(col(s"${v}_id"))
        .agg(sort_array(collect_set(col(s"${mv}_id"))).as(name))
      f = Frame(
        f.df.join(grouped, Seq(s"${v}_id"), "left_outer")
          .withColumn(name, coalesce(col(name), array().cast("array<string>"))),
        f.kinds + (name -> ValK))
      tmps :+= name
      Variable(name)
    }

    def rw(e: Expr): Expr = e match {
      case CountPattern(p, w) => attachCount(p, w)
      case CollectSubquery(inner) => attachCollect(inner)
      // ---- apoc.node degree / connectivity family (apoc/node/node.go:26-292)
      // — rewritten onto the COUNT{}/EXISTS{} grouped-join machinery, never
      // a per-row lookup
      case FnCall("apoc.node.degree", Variable(v) +: rest, _) =>
        attachCount(hopPath(v, litType(rest.headOption), DirBoth), None)
      case FnCall("apoc.node.degreein", Variable(v) +: rest, _) =>
        attachCount(hopPath(v, litType(rest.headOption), DirIn), None)
      case FnCall("apoc.node.degreeout", Variable(v) +: rest, _) =>
        attachCount(hopPath(v, litType(rest.headOption), DirOut), None)
      case FnCall("apoc.node.isdense", Variable(v) +: rest, _) =>
        // degree("") > threshold (node.go:290)
        Bin(">", attachCount(hopPath(v, None, DirBoth), None),
          rest.headOption.getOrElse(Lit(50L)))
      case FnCall("apoc.node.relationshipexists", Variable(v) +: rest, _) =>
        // pattern 'T' | 'T>' | '<T' (node.go:222)
        val (t, dir) = litType(rest.headOption) match {
          case Some(p) if p.endsWith(">") => (Some(p.dropRight(1)), DirOut)
          case Some(p) if p.startsWith("<") => (Some(p.drop(1)), DirIn)
          case other => (other, DirBoth)
        }
        Bin(">", attachCount(hopPath(v, t.filter(_.nonEmpty), dir), None), Lit(0L))
      case FnCall("apoc.node.connected", Seq(Variable(a0), Variable(b0), rest @ _*), _) =>
        // 1-hop adjacency either direction (node.go:245)
        Bin(">", attachCount(
          hopPath(a0, litType(rest.headOption), DirBoth, Some(b0)), None), Lit(0L))
      case FnCall("apoc.node.neighbors", Variable(v) +: rest, _) =>
        attachNeighborIds(v, litType(rest.headOption), DirBoth)
      case FnCall("apoc.node.neighborsin", Variable(v) +: rest, _) =>
        attachNeighborIds(v, litType(rest.headOption), DirIn)
      case FnCall("apoc.node.neighborsout", Variable(v) +: rest, _) =>
        attachNeighborIds(v, litType(rest.headOption), DirOut)
      case FnCall(nr @ ("apoc.node.relationships" | "apoc.node.relationshipsin"
          | "apoc.node.relationshipsout"), Variable(v) +: rest, _) =>
        // sorted incident rel-id list (node.go:186-220) — the reference
        // returns *Relationship structs; the ids are the fetch keys
        val dir = if (nr.endsWith("sin")) DirIn
          else if (nr.endsWith("sout")) DirOut else DirBoth
        val rv = fresh()
        val pf = patternFrame(g, PatternPath(NodePat(Some(v), None, Map.empty),
          Seq((RelPat(Some(rv), litType(rest.headOption), dir, None, Map.empty),
            NodePat(None, None, Map.empty)))), None, params)
        val name = fresh()
        val grouped = pf.df.groupBy(col(s"${v}_id"))
          .agg(sort_array(collect_set(col(s"${rv}_id"))).as(name))
        f = Frame(
          f.df.join(grouped, Seq(s"${v}_id"), "left_outer")
            .withColumn(name, coalesce(col(name), array().cast("array<string>"))),
          f.kinds + (name -> ValK))
        tmps :+= name
        Variable(name)
      case FnCall(nrt @ ("apoc.node.relationshiptypes" | "apoc.node.relationshiptypesin"
          | "apoc.node.relationshiptypesout"), Seq(Variable(v)), _) =>
        // distinct incident types (node.go:120-184)
        val dir = if (nrt.endsWith("in")) DirIn
          else if (nrt.endsWith("out")) DirOut else DirBoth
        val rv = fresh()
        val pf = patternFrame(g, PatternPath(NodePat(Some(v), None, Map.empty),
          Seq((RelPat(Some(rv), None, dir, None, Map.empty),
            NodePat(None, None, Map.empty)))), None, params)
        val name = fresh()
        val grouped = pf.df.groupBy(col(s"${v}_id"))
          .agg(sort_array(collect_set(col(s"${rv}_type"))).as(name))
        f = Frame(
          f.df.join(grouped, Seq(s"${v}_id"), "left_outer")
            .withColumn(name, coalesce(col(name), array().cast("array<string>"))),
          f.kinds + (name -> ValK))
        tmps :+= name
        Variable(name)
      case Bin(op, l, r) => Bin(op, rw(l), rw(r))
      case Not(x) => Not(rw(x))
      case IsNull(x, n) => IsNull(rw(x), n)
      case FnCall(n, args, d) => FnCall(n, args.map(rw), d)
      case CaseExpr(s, ws, d) => CaseExpr(s.map(rw), ws.map(t => (rw(t._1), rw(t._2))), d.map(rw))
      case ListLit(xs) => ListLit(xs.map(rw))
      case Index(l, i) => Index(rw(l), rw(i))
      case SliceExpr(l, a, b) => SliceExpr(rw(l), a.map(rw), b.map(rw))
      case ListComp(v, l, w, p) => ListComp(v, rw(l), w.map(rw), p.map(rw))
      case ReduceExpr(a2, i, v, l, s) => ReduceExpr(a2, rw(i), v, rw(l), rw(s))
      case Quantifier(k, v, l, w) => Quantifier(k, v, rw(l), rw(w))
      case MapProjection(v, items) =>
        MapProjection(v, items.map(it => MapProjItem(it.key, it.value.map(rw))))
      case MapLit(xs) => MapLit(xs.map(t => (t._1, rw(t._2))))
      case other => other
    }
    val e2 = rw(e0)
    (f, e2, tmps)
  }

  private def splitAnd(e: Expr): Seq[Expr] = e match {
    case Bin("AND", l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Project a pattern frame down to the id columns of `vars` (for joins). */
  private def idOnly(f: Frame, vars: Seq[String]): DataFrame =
    f.df.select(vars.map(v => col(s"${v}_id")): _*).distinct()

  private def attachPath(g: PropertyGraph, prev: Option[Frame], path: PatternPath,
      optional: Boolean, params: Map[String, Any]): Frame = prev match {
    case None =>
      require(!optional, "OPTIONAL MATCH cannot be the first clause in this engine")
      if (path.shortest.isDefined) buildShortestFrame(g, path, params)
      else buildStandalone(g, path, params)
    case Some(f) =>
      val firstVar = path.first.variable
      if (!optional && path.shortest.isEmpty && firstVar.exists(f.kinds.contains)) {
        // continue expanding in place from the bound anchor
        buildOnto(g, f, path, params)
      } else {
        val pf =
          if (path.shortest.isDefined) buildShortestFrame(g, path, params)
          else buildStandalone(g, path, params)
        val shared = pf.kinds.keySet.intersect(f.kinds.keySet)
          .filter(v => pf.kinds(v) != ValK).toSeq.sorted
        if (shared.isEmpty) {
          require(!optional, "OPTIONAL MATCH without shared variables is unsupported")
          Frame(f.df.crossJoin(pf.df), f.kinds ++ pf.kinds)
        } else {
          // drop shared non-id cols from the pattern side, join on shared ids
          val dropCols = shared.flatMap(v => pf.varCols(v).filterNot(_.endsWith("_id")))
          val joined = f.df.join(
            pf.df.drop(dropCols: _*),
            shared.map(v => s"${v}_id"),
            if (optional) "left_outer" else "inner")
          Frame(joined, f.kinds ++ pf.kinds)
        }
      }
  }

  /** `p = shortestPath((a …)-[*min..max]->(b …))` /
    * allShortestPaths(…): one multi-pair BFS
    * ([[Expand.allShortestPathsMulti]] — maxHops shuffles total, no
    * driver-side pair loop), endpoints re-joined to their node patterns,
    * the path bound as a (path, length) struct.
    */
  private def buildShortestFrame(g: PropertyGraph, path: PatternPath,
      params: Map[String, Any]): Frame = {
    require(path.hops.size == 1,
      "shortestPath requires exactly one relationship pattern")
    val (rel, endPat) = path.hops.head
    val (minH, maxH) = rel.varLength.getOrElse((1, 1))
    require(minH <= 1, "shortestPath with min hops > 1 is unsupported")
    val aVar = path.first.variable.getOrElse(fresh())
    val bVar = endPat.variable.getOrElse(fresh())
    val starts = scanNode(g, aVar, path.first, params)
    val ends = scanNode(g, bVar, endPat, params)

    val pairs = Expand.allShortestPathsMulti(g,
      starts.df.select(col(s"${aVar}_id").as("id")),
      ends.df.select(col(s"${bVar}_id").as("id")),
      rel.relType, maxH, toDir(rel.dir), rel.altTypes)
    val chosen = path.shortest match {
      case Some("single") =>
        // one deterministic path per pair (Neo4j picks an arbitrary one;
        // we pick the lexicographically smallest)
        import org.apache.spark.sql.expressions.Window
        pairs.withColumn("_rn", row_number().over(
            Window.partitionBy("start_id", "end_id").orderBy("path")))
          .filter(col("_rn") === 1).drop("_rn")
      case _ => pairs
    }
    var df = chosen
      .join(starts.df, col("start_id") === col(s"${aVar}_id"))
      .join(ends.df, col("end_id") === col(s"${bVar}_id"))
      .drop("start_id", "end_id")
    var kinds: Map[String, Kind] = Map(aVar -> NodeK, bVar -> NodeK)
    path.pathVar.foreach { pv =>
      df = df.withColumn(pv, struct(col("path").as("path"), col("length").as("length")))
      kinds += (pv -> ValK)
    }
    Frame(df.drop("path", "length"), kinds)
  }

  /** Build a pattern path as its own frame, starting from a node scan. */
  private def buildStandalone(g: PropertyGraph, path: PatternPath,
      params: Map[String, Any]): Frame = {
    val v0 = path.first.variable.getOrElse(fresh())
    var f = scanNode(g, v0, path.first, params)
    f = expandHops(g, f, v0, path.hops, params, path.pathVar)
    f
  }

  /** Expand a path whose first variable is already bound in `f`. */
  private def buildOnto(g: PropertyGraph, f: Frame, path: PatternPath,
      params: Map[String, Any]): Frame = {
    val v0 = path.first.variable.get
    var cur = f
    // label/prop re-filter on the bound anchor (all labels must hold)
    (path.first.label.toSeq ++ path.first.extraLabels).foreach { l =>
      cur = Frame(cur.df.filter(array_contains(col(s"${v0}_labels"), l)), cur.kinds)
    }
    path.first.props.foreach { case (k, e) =>
      cur = Frame(cur.df.filter(propCol(cur, v0, k) === compile(e, cur, params)), cur.kinds)
    }
    expandHops(g, cur, v0, path.hops, params, path.pathVar)
  }

  /** At most 128 anchors: a var-length pattern with a bound path variable
    * enumerates full paths for these and per-depth rows for more. The
    * `limit(129).count()` probe is one cheap job.
    */
  private def isPointQuery(anchorIds: DataFrame): Boolean =
    anchorIds.limit(129).count() <= 128

  private def expandHops(g: PropertyGraph, start: Frame, startVar: String,
      hops: Seq[(RelPat, NodePat)], params: Map[String, Any],
      pathVar: Option[String] = None): Frame = {
    var f = start
    var cur = startVar
    hops.foreach { case (rel, node) =>
      val targetVar = node.variable.getOrElse(fresh())
      val bound = f.kinds.contains(targetVar)
      val v = if (bound) fresh() else targetVar
      val relVar = rel.variable.filterNot(_ => rel.varLength.isDefined)

      rel.varLength match {
        case Some((minH, maxH)) =>
          val dir = toDir(rel.dir)
          val anchorIds = f.df.select(col(s"${cur}_id").as("id")).distinct()
          // `p = (a)-[*m..n]-(b)` on a single-hop pattern binds the path
          // var with its hop count: one row per (pair, depth), so
          // length(p) works (Neo4j's per-path rows collapsed to per-depth,
          // matching the pair-level dedup used throughout)
          val keepLen = pathVar.isDefined && hops.size == 1
          // point anchors with a bound path var get FULL paths (node
          // sequence + rel types), so nodes(p)/relationships(p) resolve —
          // one row per simple path, the reference's per-seed enumeration.
          // Bulk anchors keep pair-level rows with the hop count only.
          val fullPaths = keepLen && isPointQuery(anchorIds)
          val expanded =
            if (fullPaths) Expand.varLengthPathsExpand(g, anchorIds, rel.relType,
              minH, maxH, dir, rel.altTypes)
            else Expand.varLengthExpand(g, anchorIds, rel.relType, minH, maxH, dir,
              rel.altTypes)
          val pairs =
            (if (fullPaths) expanded
             else if (keepLen) expanded.select(col("start_id"), col("end_id"), col("depth"))
             else expanded.select(col("start_id"), col("end_id")))
              .distinct() // pairs (or full paths) reachable in [min,max]
          var df = f.df.join(pairs, col(s"${cur}_id") === col("start_id"))
          val nodesDf = node.label.map(g.nodesByLabel).getOrElse(g.nodes)
          df = df.join(Expand.nodeColsOf(nodesDf, v), col("end_id") === col(s"${v}_id"))
            .drop("start_id", "end_id")
          node.extraLabels.foreach { l =>
            df = df.filter(array_contains(col(s"${v}_labels"), l))
          }
          var kinds = f.kinds + (v -> NodeK)
          if (fullPaths) {
            // rels as struct(type) elements so `[r IN relationships(p) |
            // type(r)]` compiles through the existing type() accessor.
            // Built under a temp name: the path var is often literally
            // `path`, and withColumn+drop on the same name drops both.
            df = df.withColumn("_pv", struct(
                col("path").as("path"),
                transform(col("rels"), t => struct(t.as("type"))).as("rels"),
                col("depth").cast("int").as("length")))
              .drop("path", "rels", "depth")
              .withColumnRenamed("_pv", pathVar.get)
            kinds += (pathVar.get -> ValK)
          } else if (keepLen) {
            // PER-DEPTH collapse: one row per (pair, depth), not per path —
            // length(p) is exact, but count(p)/aggregates over p count
            // distinct depths, not Neo4j's distinct paths. Full per-path
            // rows exist only on the point-anchored branch above.
            df = df.withColumn("_pv",
              struct(col("depth").cast("int").as("length"))).drop("depth")
              .withColumnRenamed("_pv", pathVar.get)
            kinds += (pathVar.get -> ValK)
          }
          f = Frame(df, kinds)
        case None =>
          var df = Expand.expand(g, f.df, cur, v, rel.relType, toDir(rel.dir),
            node.label, relVar, altRelTypes = rel.altTypes)
          node.extraLabels.foreach { l =>
            df = df.filter(array_contains(col(s"${v}_labels"), l))
          }
          var kinds = f.kinds + (v -> NodeK)
          relVar.foreach(r => kinds += (r -> RelK))
          f = Frame(df, kinds)
          // rel property filters
          relVar match {
            case Some(r) =>
              rel.props.foreach { case (k, e) =>
                f = Frame(f.df.filter(
                  element_at(col(s"${r}_properties"), k).cast("double") ===
                    compile(e, f, params).cast("double")), f.kinds)
              }
            case None if rel.props.nonEmpty =>
              throw new IllegalArgumentException("relationship property filter requires a rel variable")
            case _ =>
          }
      }
      // node property filters on the new end
      node.props.foreach { case (k, e) =>
        f = Frame(f.df.filter(propCol(f, v, k) === compile(e, f, params)), f.kinds)
      }
      if (bound) {
        // cycle: new expansion must land on the already-bound node
        f = Frame(
          f.df.filter(col(s"${v}_id") === col(s"${targetVar}_id"))
            .drop(f.varCols(v): _*),
          f.kinds - v)
        cur = targetVar
      } else cur = v
    }
    f
  }

  private def toDir(d: Dir): Expand.Direction = d match {
    case DirOut => Expand.Out
    case DirIn => Expand.In
    case DirBoth => Expand.Both
  }

  private def scanNode(g: PropertyGraph, v: String, pat: NodePat,
      params: Map[String, Any]): Frame = {
    val base = pat.label.map(g.nodesByLabel).getOrElse(g.nodes)
    val f0 = Frame(Expand.nodeColsOf(base, v), Map(v -> NodeK))
    var f = f0
    pat.extraLabels.foreach { l =>
      f = Frame(f.df.filter(array_contains(col(s"${v}_labels"), l)), f.kinds)
    }
    pat.props.foreach { case (k, e) =>
      f = Frame(f.df.filter(propCol(f, v, k) === compile(e, f, params)), f.kinds)
    }
    f
  }

  /** Property access for a bound variable. Non-hoisted node properties fall
    * back to the string map (VARIANT-style dynamic typing — SURVEY §1.2).
    */
  private def propCol(f: Frame, v: String, key: String): Column = f.kinds.get(v) match {
    case Some(NodeK) =>
      if (nodeFields.contains(key)) col(s"${v}_$key")
      else element_at(col(s"${v}_properties"), key)
    case Some(RelK) =>
      if (key == "weight") col(s"${v}_weight")
      else if (key == "type") col(s"${v}_type")
      else element_at(col(s"${v}_properties"), key).cast("double")
    case Some(ValK) =>
      // struct-valued value column (e.g. a node projected through WITH)
      col(v).getField(key)
    case None => throw new IllegalArgumentException(s"unbound variable $v")
  }

  // =====================================================================
  // projection (WITH / RETURN) — implicit grouping
  // =====================================================================
  private def project(g: PropertyGraph, f: Frame, items: Seq[ProjectionItem],
      distinct: Boolean, orderBy: Seq[SortItem], skip: Option[Long],
      limit: Option[Long], isReturn: Boolean, where: Option[Expr],
      params: Map[String, Any]): Frame = {

    // RETURN * / WITH *: passthrough
    if (items.size == 1 && items.head.expr == Variable("*")) {
      var df = f.df
      where.foreach(w => df = df.filter(compile(w, f, params)))
      return applyTail(Frame(df, f.kinds), orderBy, skip, limit, distinct, params)
    }

    // expression subqueries (COUNT {} / COLLECT {}) become attached columns
    var fSub = f
    val items2 = items.map { it =>
      val (nf, ne, _) = attachSubqueries(g, fSub, it.expr, params)
      fSub = nf
      ProjectionItem(ne, it.alias)
    }
    return projectRewritten(g, fSub, items, items2, distinct, orderBy, skip, limit,
      isReturn, where, params)
  }

  private def projectRewritten(g: PropertyGraph, f: Frame,
      itemsOrig: Seq[ProjectionItem], items: Seq[ProjectionItem],
      distinct: Boolean, orderBy: Seq[SortItem], skip: Option[Long],
      limit: Option[Long], isReturn: Boolean, where: Option[Expr],
      params: Map[String, Any]): Frame = {

    val hasAgg = items.exists(i => containsAgg(i.expr))

    // classify items
    sealed trait Out
    case class VarOut(v: String, outName: String) extends Out // node/rel var passthrough
    case class ExprOut(c: Column, outName: String, agg: Boolean) extends Out

    val outs: Seq[Out] = items.zip(itemsOrig).map { case (it, orig) =>
      it.expr match {
        case Variable(v) if f.kinds.get(v).exists(k => k == NodeK || k == RelK) =>
          VarOut(v, it.alias.getOrElse(v))
        case e =>
          // auto-name from the ORIGINAL expression (pre-rewrite), so
          // unaliased COUNT {} doesn't surface a temp column name
          val name = it.alias.getOrElse(autoName(orig.expr))
          ExprOut(compile(e, f, params), name, containsAgg(e))
      }
    }

    var outFrame: Frame =
      if (!hasAgg) {
        val cols = outs.flatMap {
          case VarOut(v, out) =>
            f.varCols(v).map(c => col(c).as(c.replaceFirst(s"^${java.util.regex.Pattern.quote(v)}_", s"${out}_")))
          case ExprOut(c, n, _) => Seq(c.as(n))
        }
        val kinds = outs.map {
          case VarOut(v, out) => out -> f.kinds(v)
          case ExprOut(_, n, _) => n -> ValK
        }.toMap
        Frame(f.df.select(cols: _*), kinds)
      } else {
        // map-typed columns (property maps) are not orderable → cannot be
        // group keys; group by the rest and re-attach them via first()
        // (deterministic: the id is always among the keys)
        def groupable(v: String): Seq[String] = f.kinds(v) match {
          case NodeK => nodeFields.map(fl => s"${v}_$fl")
          case RelK => relFields.filterNot(_ == "properties").map(fl => s"${v}_$fl")
          case ValK => Seq(v)
        }
        val keyCols = outs.collect {
          case VarOut(v, _) => groupable(v).map(col)
          case ExprOut(c, n, false) => Seq(c.as(n))
        }.flatten
        val reattached = outs.collect { case VarOut(v, _) =>
          f.varCols(v).diff(groupable(v)).map(c0 => first(col(c0)).as(c0))
        }.flatten
        val aggCols = outs.collect { case ExprOut(c, n, true) => c.as(n) } ++ reattached
        val grouped =
          if (keyCols.isEmpty) f.df.agg(aggCols.head, aggCols.tail: _*)
          else f.df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
        // rename var prefixes to out names
        var df = grouped
        outs.foreach {
          case VarOut(v, out) if v != out =>
            f.varCols(v).foreach { c =>
              df = df.withColumnRenamed(c, c.replaceFirst(s"^${java.util.regex.Pattern.quote(v)}_", s"${out}_"))
            }
          case _ =>
        }
        val kinds = outs.map {
          case VarOut(v, out) => out -> f.kinds(v)
          case ExprOut(_, n, _) => n -> ValK
        }.toMap
        Frame(df, kinds)
      }

    where.foreach { w =>
      val (f2, e2, tmp) = attachSubqueries(g, outFrame, w, params)
      outFrame = Frame(f2.df.filter(compile(e2, f2, params)).drop(tmp: _*), f2.kinds -- tmp)
    }

    outFrame = applyTail(outFrame, orderBy, skip, limit, distinct, params)

    if (isReturn) {
      // entity vars become structs for user-facing output
      val cols = outFrame.kinds.toSeq.sortBy(t => outFrame.df.columns.indexOf(firstCol(outFrame, t._1))).map {
        case (v, NodeK) =>
          struct(nodeFields.map(fld => col(s"${v}_$fld").as(fld)): _*).as(v)
        case (v, RelK) =>
          struct(relFields.map(fld => col(s"${v}_$fld").as(fld)): _*).as(v)
        case (v, ValK) => col(v)
      }
      Frame(outFrame.df.select(cols: _*), outFrame.kinds.map { case (k, _) => k -> ValK })
    } else outFrame
  }

  private def firstCol(f: Frame, v: String): String = f.varCols(v).head

  private def applyTail(f0: Frame, orderBy: Seq[SortItem], skip: Option[Long],
      limit: Option[Long], distinct: Boolean, params: Map[String, Any]): Frame = {
    var f = f0
    if (distinct) {
      // exclude map-typed property columns from the dedup key (not
      // set-op-comparable; entity identity is the id columns anyway)
      val keys = f.df.columns.filterNot(_.endsWith("_properties")).toSeq
      f = Frame(if (keys.isEmpty) f.df.dropDuplicates() else f.df.dropDuplicates(keys), f.kinds)
    }
    if (orderBy.nonEmpty) {
      val sorts = orderBy.map { s =>
        val c = compile(s.expr, f, params)
        if (s.ascending) c.asc_nulls_last else c.desc_nulls_last
      }
      f = Frame(f.df.orderBy(sorts: _*), f.kinds)
    }
    skip.foreach(n => f = Frame(f.df.offset(n.toInt), f.kinds))
    limit.foreach(n => f = Frame(f.df.limit(n.toInt), f.kinds))
    f
  }

  private def autoName(e: Expr): String = e match {
    case Prop(v, k) => s"${v}_$k"
    case FnCall(n, _, _) => n.replace('.', '_')
    case CountStar() => "count"
    case CountPattern(_, _) => "count"
    case CollectSubquery(_) => "collect"
    case Variable(v) => v
    case MapProjection(v, _) => v // Neo4j names `n{…}` columns after the variable
    case _ => fresh()
  }

  private def containsAgg(e: Expr): Boolean = e match {
    case CountStar() => true
    case FnCall(n, args, _) => aggFns.contains(n) || args.exists(containsAgg)
    case Bin(_, l, r) => containsAgg(l) || containsAgg(r)
    case Not(x) => containsAgg(x)
    case IsNull(x, _) => containsAgg(x)
    case CaseExpr(s, ws, d) =>
      s.exists(containsAgg) || ws.exists(t => containsAgg(t._1) || containsAgg(t._2)) || d.exists(containsAgg)
    case Index(l, i) => containsAgg(l) || containsAgg(i)
    case SliceExpr(l, a, b) =>
      containsAgg(l) || a.exists(containsAgg) || b.exists(containsAgg)
    case ListLit(xs) => xs.exists(containsAgg)
    case MapLit(xs) => xs.exists(t => containsAgg(t._2))
    case ListComp(_, l, w, p) =>
      containsAgg(l) || w.exists(containsAgg) || p.exists(containsAgg)
    case ReduceExpr(_, i, _, l, s) =>
      containsAgg(i) || containsAgg(l) || containsAgg(s)
    case Quantifier(_, _, l, w) => containsAgg(l) || containsAgg(w)
    case MapProjection(_, items) => items.exists(_.value.exists(containsAgg))
    case _ => false
  }

  // =====================================================================
  // expression compiler
  // =====================================================================
  def compile(e: Expr, f: Frame, params: Map[String, Any]): Column = e match {
    case Lit(null) => lit(null)
    case Lit(v) => lit(v)
    case Param(n) =>
      // lists → array, maps → struct with key-sorted fields (so the maps of
      // a list share one struct type whatever their key order), else lit
      def bind(v: Any): Column = v match {
        case xs: Seq[_] => array(xs.map(bind): _*)
        case m: Map[_, _] =>
          struct(m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
            .map { case (k, x) => bind(x).as(k) }: _*)
        case x => lit(x)
      }
      bind(params.getOrElse(n, throw new IllegalArgumentException(s"missing parameter $$n")))
    case Variable(v) if lambdaEnv.value.contains(v) => lambdaEnv.value(v)
    case Variable(v) => f.kinds.get(v) match {
      case Some(NodeK) => struct(nodeFields.map(fld => col(s"${v}_$fld").as(fld)): _*)
      case Some(RelK) => struct(relFields.map(fld => col(s"${v}_$fld").as(fld)): _*)
      case Some(ValK) => col(v)
      case None => col(v) // let Catalyst resolve (post-projection aliases)
    }
    case Prop(v, k) if lambdaEnv.value.contains(v) =>
      lambdaEnv.value(v).getField(k) // lambda var holding a struct/map element
    case Prop(v, k) => propCol(f, v, k)
    case HasLabel(v, l) => array_contains(col(s"${v}_labels"), l)
    case Not(x) => !compile(x, f, params)
    case IsNull(x, neg) =>
      val c = compile(x, f, params)
      if (neg) c.isNotNull else c.isNull
    case CaseExpr(scrutinee, whens, default) =>
      val base = scrutinee.map(s => compile(s, f, params))
      val branches = whens.map { case (c, v) =>
        val cond = base match {
          case Some(s) => s === compile(c, f, params)
          // a null/untyped condition is falsy (Neo4j); Spark's when()
          // rejects the VOID type a bare NULL literal carries
          case None => compile(c, f, params).cast("boolean") <=> lit(true)
        }
        (cond, compile(v, f, params))
      }
      val start = when(branches.head._1, branches.head._2)
      val chained = branches.tail.foldLeft(start) { case (acc, (c, v)) => acc.when(c, v) }
      default.map(d => chained.otherwise(compile(d, f, params))).getOrElse(chained)
    case ListLit(items) => array(items.map(i => compile(i, f, params)): _*)
    case MapLit(items) =>
      struct(items.map { case (k, v) => compile(v, f, params).as(k) }: _*)
    case ListComp(v, listE, whereE, projE) =>
      val listC = compile(listE, f, params)
      val filtered = whereE match {
        case Some(w) => filter(listC, x => withLambda(v -> x)(compile(w, f, params)))
        case None => listC
      }
      projE match {
        case Some(p) => transform(filtered, x => withLambda(v -> x)(compile(p, f, params)))
        case None => filtered
      }
    case ReduceExpr(accName, init, v, listE, step) =>
      import org.apache.spark.sql.types._
      val listC = compile(listE, f, params)
      val initC0 = compile(init, f, params)
      def tpe(c: Column): Option[DataType] =
        try Some(f.df.select(c).schema.head.dataType)
        catch { case _: Exception => None }
      val elemT = tpe(listC) match {
        case Some(ArrayType(et, _)) => Some(et)
        case _ => None
      }
      // aggregate() keeps a fixed accumulator type across iterations; widen
      // a numeric seed to the joint family (0 over doubles → 0.0) so
      // `acc + x` type-checks, and pin the merge result back to it
      val accT: Option[DataType] = (tpe(initC0), elemT) match {
        case (Some(a: NumericType), Some(b: NumericType)) =>
          if (Seq(a, b).exists(t => t == DoubleType || t == FloatType)) Some(DoubleType)
          else if (Seq(a, b).exists(_.isInstanceOf[DecimalType])) Some(DecimalType(38, 18))
          else Some(LongType)
        case _ => None
      }
      val initC = accT.map(initC0.cast).getOrElse(initC0)
      aggregate(listC, initC, (acc, x) =>
        withLambda(accName -> acc, v -> x) {
          val r = compile(step, f, params)
          accT.map(r.cast).getOrElse(r)
        })
    case Quantifier(kind, v, listE, whereE) =>
      val listC = compile(listE, f, params)
      def pred(x: Column): Column = withLambda(v -> x)(compile(whereE, f, params))
      kind match {
        case "all" => forall(listC, pred)
        case "any" => exists(listC, pred)
        case "none" => !exists(listC, pred)
        case "single" => size(filter(listC, x => pred(x))) === 1
        case other => throw new IllegalArgumentException(s"unknown quantifier $other")
      }
    case MapProjection(v, items) =>
      val fields = items.flatMap {
        case MapProjItem("*", None) =>
          // all hoisted property fields (id/labels are not properties);
          // dynamic map stragglers stay reachable via explicit .key items
          f.kinds.get(v) match {
            case Some(NodeK) =>
              nodeFields.filterNot(x => x == "id" || x == "labels")
                .map(k => propCol(f, v, k).as(k))
            case Some(RelK) => Seq(col(s"${v}_weight").as("weight"))
            case _ => throw new IllegalArgumentException(
              s"map projection .* needs an entity variable, got $v")
          }
        case MapProjItem(k, Some(e)) => Seq(compile(e, f, params).as(k))
        case MapProjItem(k, None) => Seq(propCol(f, v, k).as(k))
      }
      struct(fields: _*)
    case Index(Variable(v), Lit(k: String))
        if f.kinds.get(v).exists(x => x == NodeK || x == RelK) =>
      propCol(f, v, k) // n['key'] — dynamic property, same path as n.key
    case Index(l, i) =>
      val lc = compile(l, f, params)
      i match {
        case Lit(s: String) => // map['key'] / struct['field'] by analyzed type
          f.df.select(lc).schema.head.dataType match {
            case st: org.apache.spark.sql.types.StructType =>
              // a missing key is null (Neo4j), not an analysis error
              if (st.fieldNames.contains(s)) lc.getField(s) else lit(null)
            case _ => element_at(lc, s)
          }
        case Lit(n: Long) => // out-of-range index is null (Neo4j), not an
          // ANSI error — try_element_at throughout
          if (n >= 0) try_element_at(lc, lit(n.toInt + 1))
          else try_element_at(lc, lit(n.toInt))
        case _ =>
          val ic = compile(i, f, params).cast("int")
          when(ic >= 0, try_element_at(lc, ic + 1))
            .otherwise(try_element_at(lc, ic))
      }
    case SliceExpr(l, fromE, toE) =>
      // l[from..to]: 0-based, from inclusive / to exclusive, negatives
      // from the end, out-of-range clamps — Catalyst slice is 1-based
      val lc = compile(l, f, params)
      val n = size(lc)
      def bound(e: Option[Expr], dflt: Column): Column = e.map { x =>
        val c = compile(x, f, params).cast("int")
        when(c < 0, greatest(n + c, lit(0))).otherwise(least(c, n))
      }.getOrElse(dflt)
      val lo = bound(fromE, lit(0))
      val hi = bound(toE, n)
      slice(lc, lo + 1, greatest(hi - lo, lit(0)))
    case CountStar() => count(lit(1))
    case ExistsPattern(_, _) =>
      throw new IllegalArgumentException("EXISTS pattern only supported as a top-level WHERE conjunct")
    case CountPattern(_, _) | CollectSubquery(_) =>
      throw new IllegalArgumentException(
        "COUNT {} / COLLECT {} only supported in RETURN/WITH items and WHERE")
    case Bin(op, l, r) =>
      lazy val lc = compile(l, f, params)
      lazy val rc = compile(r, f, params)
      op match {
        case "+" => // Cypher +: string concat, list concat/append, else
          // numeric (Neo4j semantics: 'a' + 1 = 'a1', [1] + 2 = [1, 2]).
          // Inside lambda bodies the operand type is unresolvable from the
          // frame — those keep numeric + (the dominant reduce() use).
          import org.apache.spark.sql.types.{ArrayType, StringType}
          def dtOf(c: Column) =
            scala.util.Try(f.df.select(c).schema.head.dataType).toOption
          (dtOf(lc), dtOf(rc)) match {
            case (Some(StringType), _) | (_, Some(StringType)) =>
              concat(lc.cast("string"), rc.cast("string"))
            case (Some(_: ArrayType), Some(_: ArrayType)) => concat(lc, rc)
            case (Some(_: ArrayType), _) => array_append(lc, rc)
            case _ => lc + rc
          }
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc / rc
        case "%" => lc % rc
        case "^" => pow(lc, rc)
        case "=" => lc === rc
        case "<>" => lc =!= rc
        case "<" => lc < rc
        case ">" => lc > rc
        case "<=" => lc <= rc
        case ">=" => lc >= rc
        case "AND" => lc && rc
        case "OR" => lc || rc
        // boolean XOR, null-propagating: null XOR x = null (=!= gives exactly that)
        case "XOR" => lc =!= rc
        case "=~" => lc.rlike(r match {
          case Lit(s: String) => s
          case _ => throw new IllegalArgumentException("=~ needs a literal pattern")
        })
        case "STARTSWITH" => lc.startsWith(rc)
        case "ENDSWITH" => lc.endsWith(rc)
        case "CONTAINS" => lc.contains(rc)
        case "IN" => r match {
          case ListLit(items) => lc.isin(items.map { case Lit(v) => v; case other =>
            throw new IllegalArgumentException(s"IN list must be literal, got $other") }: _*)
          case _ => array_contains(rc, lc)
        }
        case other => throw new IllegalArgumentException(s"unknown operator $other")
      }
    case FnCall(rawName, args, distinct) =>
      def a(i: Int): Column = compile(args(i), f, params)
      // entity args to aggregates count/group by their id, not the struct —
      // a struct of all-null fields is non-null, which would make
      // OPTIONAL MATCH count(o) return 1 instead of 0
      def entityOr(e: Expr): Column = e match {
        case Variable(v) if f.kinds.get(v).exists(k => k == NodeK || k == RelK) =>
          col(s"${v}_id")
        case other => compile(other, f, params)
      }
      // word splitting for case-conversion fns: break camelCase, then split on
      // non-alphanumerics, drop empties (ref apoc/text/text.go splitWords)
      def textWords(c: Column): Column =
        filter(split(regexp_replace(c, "([a-z0-9])([A-Z])", "$1 $2"), "[^A-Za-z0-9]+"),
          w => w =!= "")
      def capLower(w: Column): Column =
        concat(upper(w.substr(1, 1)), lower(w.substr(lit(2), length(w))))
      // gcd without iteration: largest common divisor ≤ min(|a|,|b|) via a
      // bounded HOF scan — fine for function-call-sized operands (the
      // reference's Euclid loop is per-scalar too, apoc/math/math.go:294)
      def gcdCol(x: Column, y: Column): Column = {
        val (aa, bb) = (abs(x.cast("long")), abs(y.cast("long")))
        when(aa === 0, bb).when(bb === 0, aa).otherwise(
          array_max(filter(sequence(lit(1L), greatest(least(aa, bb), lit(1L))),
            d => (aa % d === 0) && (bb % d === 0))))
      }
      // sort + linear interpolation on (n−1) — apoc/math/math.go:400
      def pctCol(list: Column, p: Column): Column = {
        val sorted = sort_array(transform(list, x => x.cast("double")))
        val n = size(sorted)
        val idx = p.cast("double") / 100.0 * (n - 1).cast("double")
        val lo = floor(idx).cast("int")
        val hi = ceil(idx).cast("int")
        when(n === 0, lit(0.0))
          .when(lo === hi, try_element_at(sorted, lo + 1))
          .otherwise(try_element_at(sorted, lo + 1) * (lit(1.0) - (idx - lo)) +
            try_element_at(sorted, hi + 1) * (idx - lo))
      }
      // apoc.date unit → seconds multiplier (apoc/date/date.go:253)
      def dateUnitSeconds(e: Expr): Column = e match {
        case Lit(u: String) => u match {
          case "ms" | "millis" | "milliseconds" => lit(0.001)
          case "s" | "seconds" => lit(1L).cast("double")
          case "m" | "minutes" => lit(60L).cast("double")
          case "h" | "hours" => lit(3600L).cast("double")
          case "d" | "days" => lit(86400L).cast("double")
          case "w" | "weeks" => lit(604800L).cast("double")
          case _ => lit(1L).cast("double")
        }
        case _ => throw new IllegalArgumentException("date unit must be a literal string")
      }
      // alias names that share another family's implementation exactly
      // (apoc.create property/label setters ARE the node/rel mutators;
      // apoc.merge map ops ARE the setters; label.hasAll is haslabels)
      val name = Map(
        "apoc.create.setproperty" -> "apoc.node.setproperty",
        "apoc.create.setproperties" -> "apoc.node.setproperties",
        "apoc.create.removeproperties" -> "apoc.node.removeproperties",
        "apoc.create.addlabels" -> "apoc.node.addlabels",
        "apoc.create.removelabels" -> "apoc.node.removelabels",
        "apoc.create.setrelproperty" -> "apoc.rel.setproperty",
        "apoc.create.setrelproperties" -> "apoc.rel.setproperties",
        "apoc.create.removerelproperties" -> "apoc.rel.removeproperties",
        "apoc.label.hasall" -> "apoc.node.haslabels",
        "apoc.merge.properties" -> "apoc.node.setproperties",
        "apoc.merge.deepmerge" -> "apoc.node.setproperties",
        "apoc.merge.labels" -> "apoc.node.addlabels",
        "apoc.merge.strategy" -> "apoc.diff.merge",
        "apoc.path.slice" -> "apoc.paths.slice",
        "apoc.path.combine" -> "apoc.paths.merge"
      ).getOrElse(rawName, rawName)
      name match {
        // aggregates
        case "count" =>
          val c0 = entityOr(args.head)
          if (distinct) countDistinct(c0) else count(c0)
        case "sum" => if (distinct) sum_distinct(a(0)) else sum(a(0))
        case "avg" =>
          // avg(DISTINCT x): Spark's Scala API has no avg_distinct — derive it
          if (distinct) sum_distinct(a(0)) / countDistinct(a(0)) else avg(a(0))
        case "min" => min(a(0)) // DISTINCT is a no-op for min/max
        case "max" => max(a(0))
        case "collect" => if (distinct) collect_set(a(0)) else collect_list(a(0))
        case "stdev" | "stdevp" | "percentilecont" | "percentiledisc" if distinct =>
          throw new IllegalArgumentException(s"$name(DISTINCT …) is not supported")
        case "stdev" => stddev_samp(a(0))
        case "stdevp" => stddev_pop(a(0))
        case "percentilecont" => percentile(a(0), a(1))
        case "percentiledisc" => percentile_approx(a(0), a(1), lit(100000))
        // entity functions
        case "id" | "elementid" => args.head match {
          case Variable(v) => col(s"${v}_id")
          case other => compile(other, f, params).getField("id")
        }
        // frame-variable convention (v_labels/v_type columns) only when v
        // is NOT a lambda-bound element (e.g. `[r IN relationships(p) |
        // type(r)]` — there r is the struct element, not a rel binding)
        case "labels" => args.head match {
          case Variable(v) if !lambdaEnv.value.contains(v) => col(s"${v}_labels")
          case other => compile(other, f, params).getField("labels")
        }
        case "type" => args.head match {
          case Variable(v) if !lambdaEnv.value.contains(v) => col(s"${v}_type")
          case other => compile(other, f, params).getField("type")
        }
        // list functions (Catalyst HOFs). Cypher size()/length() also work
        // on strings — dispatch on the analyzed type.
        case "size" | "length" =>
          val c0 = a(0)
          f.df.select(c0).schema.head.dataType match {
            case org.apache.spark.sql.types.StringType => length(c0)
            case st: org.apache.spark.sql.types.StructType
                if st.fieldNames.contains("length") =>
              c0.getField("length") // length(p) on a bound path
            case _ => size(c0)
          }
        case "nodes" | "relationships" | "rels" =>
          // nodes(p) → node-id sequence; relationships(p) → struct(type)
          // elements of a full-path binding (type(r) reads the field).
          // Bulk-anchored var-length patterns bind p with only `length` —
          // fail fast with a clear message instead of an analysis error.
          val field = if (name == "nodes") "path" else "rels"
          f.df.select(a(0)).schema.head.dataType match {
            case st: org.apache.spark.sql.types.StructType
                if !st.fieldNames.contains(field) =>
              throw new IllegalArgumentException(
                s"$name() on a var-length path requires a point-anchored " +
                  "pattern (<= 128 distinct source nodes); bulk anchors bind " +
                  "only length(p)")
            case _ => // fall through to field access
          }
          a(0).getField(field)
        // try_ variants: head/last of an empty list is null (Neo4j), not an
        // ANSI out-of-bounds error
        case "head" => try_element_at(a(0), lit(1))
        case "last" => try_element_at(a(0), lit(-1))
        case "tail" => slice(a(0), 2, 1000000)
        case "reverse" => reverse(a(0))
        case "range" =>
          if (args.size >= 3) sequence(a(0), a(1), a(2)) else sequence(a(0), a(1))
        case "apoc.coll.sort" | "sort" => sort_array(a(0))
        case "apoc.coll.sum" => aggregate(a(0), lit(0.0), (acc, x) => acc + x.cast("double"))
        case "apoc.coll.avg" =>
          aggregate(a(0), lit(0.0), (acc, x) => acc + x.cast("double")) / size(a(0))
        case "apoc.coll.min" => array_min(a(0))
        case "apoc.coll.max" => array_max(a(0))
        case "apoc.coll.contains" => array_contains(a(0), a(1))
        case "apoc.coll.toset" | "toset" => array_distinct(a(0))
        case "apoc.coll.flatten" => flatten(a(0))
        case "apoc.coll.intersection" => array_intersect(a(0), a(1))
        case "apoc.coll.subtract" => array_except(a(0), a(1))
        case "apoc.coll.union" => array_union(a(0), a(1))
        case "apoc.coll.indexof" => array_position(a(0), a(1)) - 1
        case "apoc.text.join" => array_join(a(0), args(1) match { case Lit(s: String) => s; case _ => "," })
        case "apoc.text.clean" => regexp_replace(lower(a(0)), "[^a-z0-9]", "")
        case "apoc.text.capitalize" => concat(upper(a(0).substr(1, 1)), a(0).substr(lit(2), length(a(0))))
        case "apoc.text.decapitalize" => concat(lower(a(0).substr(1, 1)), a(0).substr(lit(2), length(a(0))))
        case "apoc.text.repeat" => repeat(a(0), args(1) match { case Lit(n: Long) => n.toInt; case _ => 1 })
        case "apoc.text.indexof" => instr(a(0), args(1) match { case Lit(s: String) => s; case _ => "" }) - 1
        case "apoc.text.distance" | "levenshtein" => levenshtein(a(0), a(1))
        case "apoc.text.regexgroups" => regexp_extract_all(a(0), args(1) match {
          case Lit(s: String) => lit(s); case _ => lit("") }, lit(0))
        case "apoc.text.format" | "format" => format_string(args.head match {
          case Lit(s: String) => s; case _ => "%s" }, args.tail.map(x => compile(x, f, params)): _*)
        case "lpad" | "apoc.text.lpad" =>
          lpad(a(0), args(1) match { case Lit(n: Long) => n.toInt; case _ => 0 },
            args.lift(2).map { case Lit(s: String) => s; case _ => " " }.getOrElse(" "))
        case "rpad" | "apoc.text.rpad" =>
          rpad(a(0), args(1) match { case Lit(n: Long) => n.toInt; case _ => 0 },
            args.lift(2).map { case Lit(s: String) => s; case _ => " " }.getOrElse(" "))
        // apoc.map.*
        case "apoc.map.frompairs" => map_from_entries(a(0))
        case "apoc.map.merge" => map_concat(a(0), a(1))
        case "apoc.map.removekey" => map_filter(a(0), (k, _) => k =!= a(1))
        case "apoc.map.clean" if args.size >= 3 => // drop keys/values/nulls
          map_filter(a(0), (k, v) =>
            !array_contains(a(1), k) && !array_contains(a(2), v) && v.isNotNull)
        case "apoc.map.clean" => map_filter(a(0), (_, v) => v.isNotNull)
        // ---- apoc.map.* round-3 tranche (ref functions_eval_functions.go:591-676)
        case "apoc.map.setkey" | "apoc.map.setentry" => // overwrite-safe concat
          map_concat(map_filter(a(0), (k, _) => k =!= a(1)), map(a(1), a(2)))
        case "apoc.map.fromlists" => map_from_arrays(a(0), a(1))
        case "apoc.map.fromvalues" => // [k1,v1,k2,v2,…] → map
          map_from_entries(transform(
            filter(sequence(lit(0L), size(a(0)).cast("long")),
              i => i % 2 === 0 && i + 1 < size(a(0))),
            i => struct(element_at(a(0), i.cast("int") + 1),
                        element_at(a(0), i.cast("int") + 2))))
        case "apoc.map.submap" => map_filter(a(0), (k, _) => array_contains(a(1), k))
        case "apoc.map.mget" => transform(a(1), k => element_at(a(0), k))
        case "apoc.map.get" =>
          if (args.size >= 3) coalesce(element_at(a(0), a(1)), a(2))
          else element_at(a(0), a(1))
        case "apoc.map.removekeys" => map_filter(a(0), (k, _) => !array_contains(a(1), k))
        case "apoc.map.sortedproperties" => // [[key, value]…] sorted by key
          array_sort(map_entries(a(0)))
        case "keys" => // keys(map) or keys(node) → hoisted prop names
          args.head match {
            case Variable(v) if f.kinds.get(v).contains(NodeK) =>
              array(nodeFields.filterNot(_ == "id").map(lit(_)): _*)
            case _ =>
              val c0 = a(0)
              // Cypher map literals compile to STRUCTS — keys() reads the
              // field names statically for those
              val dt = try Some(f.df.select(c0).schema.head.dataType)
                catch { case _: Throwable => None }
              dt match {
                case Some(st: org.apache.spark.sql.types.StructType) =>
                  array(st.fieldNames.map(lit(_)): _*)
                case _ => map_keys(c0)
              }
          }
        case "apoc.map.values" => map_values(a(0))
        // apoc.coll.* (additions)
        case "apoc.coll.zip" => arrays_zip(a(0), a(1))
        case "apoc.coll.reverse" => reverse(a(0))
        case "apoc.coll.slice" => slice(a(0),
          args(1) match { case Lit(n: Long) => n.toInt + 1; case _ => 1 },
          args(2) match { case Lit(n: Long) => n.toInt; case _ => 1000000 })
        case "apoc.coll.shuffle" =>
          throw new IllegalArgumentException("apoc.coll.shuffle is nondeterministic — unsupported")
        // hashing / encoding
        case "apoc.util.md5" | "md5" => md5(a(0))
        case "apoc.util.sha1" | "sha1" => sha1(a(0))
        case "apoc.text.base64encode" => base64(a(0).cast("binary"))
        case "apoc.text.base64decode" => unbase64(a(0)).cast("string")
        // apoc.date.* (epoch-second based)
        case "apoc.date.format" => from_unixtime(a(0), args(1) match {
          case Lit(s: String) => s; case _ => "yyyy-MM-dd HH:mm:ss" })
        case "apoc.date.parse" => unix_timestamp(a(0), args(1) match {
          case Lit(s: String) => s; case _ => "yyyy-MM-dd HH:mm:ss" })
        // apoc.math.* (additions)
        case "apoc.math.sigmoid" => lit(1.0) / (lit(1.0) + exp(-a(0)))
        case "apoc.math.tanh" | "tanh" => tanh(a(0))
        case "apoc.math.sinh" | "sinh" => sinh(a(0))
        case "apoc.math.cosh" | "cosh" => cosh(a(0))
        case "apoc.math.coth" => cosh(a(0)) / sinh(a(0))
        case "apoc.number.format" => format_number(a(0), args.lift(1) match {
          case Some(Lit(n: Long)) => n.toInt; case _ => 2 })
        case "apoc.number.parseint" => a(0).try_cast("long")
        case "apoc.number.parsefloat" => a(0).try_cast("double")
        case "apoc.bitwise.op" => args(1) match { // apoc/bitwise
          case Lit(op: String) => op match {
            case "&" => a(0).bitwiseAND(a(2))
            case "|" => a(0).bitwiseOR(a(2))
            case "^" => a(0).bitwiseXOR(a(2))
            case ">>" => shiftright(a(0), args(2) match { case Lit(n: Long) => n.toInt
              case _ => throw new IllegalArgumentException("shift needs literal count") })
            case "<<" => shiftleft(a(0), args(2) match { case Lit(n: Long) => n.toInt
              case _ => throw new IllegalArgumentException("shift needs literal count") })
            case other => throw new IllegalArgumentException(s"apoc.bitwise.op: $other")
          }
          case _ => throw new IllegalArgumentException("apoc.bitwise.op needs a literal operator")
        }
        // apoc.bitwise family (apoc/bitwise/bitwise.go:34-196); variadic
        // and/or/xor fold left like the reference. AND/OR names collide with
        // Cypher keywords at the lexer, hence only the dotted forms.
        case "apoc.bitwise.and" =>
          args.map(x => compile(x, f, params)).reduceLeft(_.bitwiseAND(_))
        case "apoc.bitwise.or" =>
          args.map(x => compile(x, f, params)).reduceLeft(_.bitwiseOR(_))
        case "apoc.bitwise.xor" =>
          args.map(x => compile(x, f, params)).reduceLeft(_.bitwiseXOR(_))
        case "apoc.bitwise.not" => bitwise_not(a(0).cast("long"))
        case "apoc.bitwise.leftshift" =>
          call_function("shiftleft", a(0).cast("long"), a(1).cast("int"))
        case "apoc.bitwise.rightshift" => // Go >> on int64 = arithmetic
          call_function("shiftright", a(0).cast("long"), a(1).cast("int"))
        case "apoc.bitwise.setbit" =>
          a(0).cast("long").bitwiseOR(call_function("shiftleft", lit(1L), a(1).cast("int")))
        case "apoc.bitwise.clearbit" =>
          a(0).cast("long").bitwiseAND(
            bitwise_not(call_function("shiftleft", lit(1L), a(1).cast("int"))))
        case "apoc.bitwise.togglebit" =>
          a(0).cast("long").bitwiseXOR(call_function("shiftleft", lit(1L), a(1).cast("int")))
        case "apoc.bitwise.testbit" =>
          a(0).cast("long").bitwiseAND(
            call_function("shiftleft", lit(1L), a(1).cast("int"))) =!= 0L
        case "apoc.bitwise.countbits" => bit_count(a(0).cast("long")).cast("long")
        case "apoc.bitwise.reversebits" =>
          // full 64-bit reverse via a shift-only fold (no checked arithmetic,
          // so the sign-bit step can't trip ANSI overflow)
          aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, i) =>
            call_function("shiftleft", acc, lit(1)).bitwiseOR(
              call_function("shiftrightunsigned", a(0).cast("long"), i).bitwiseAND(lit(1L))))
        case "apoc.bitwise.rotateleft" =>
          val v = a(0).cast("long")
          val p = (a(1).cast("int") % 64 + 64) % 64
          when(p === 0, v).otherwise(
            call_function("shiftleft", v, p).bitwiseOR(
              call_function("shiftrightunsigned", v, lit(64) - p)))
        case "apoc.bitwise.rotateright" =>
          val v = a(0).cast("long")
          val p = (a(1).cast("int") % 64 + 64) % 64
          when(p === 0, v).otherwise(
            call_function("shiftrightunsigned", v, p).bitwiseOR(
              call_function("shiftleft", v, lit(64) - p)))
        // string functions
        case "tolower" | "lower" | "apoc.text.tolower" => lower(a(0))
        case "toupper" | "upper" | "apoc.text.toupper" => upper(a(0))
        case "trim" | "apoc.text.trim" => trim(a(0))
        case "ltrim" | "apoc.text.ltrim" => ltrim(a(0))
        case "rtrim" | "apoc.text.rtrim" => rtrim(a(0))
        case "replace" => // replace(s, search, repl) — literal, not regex
          regexp_replace(a(0),
            args(1) match { case Lit(s: String) => java.util.regex.Pattern.quote(s); case _ => "" },
            args(2) match { case Lit(s: String) => java.util.regex.Matcher.quoteReplacement(s); case _ => "" })
        case "split" => split(a(0), args(1) match {
          case Lit(s: String) => java.util.regex.Pattern.quote(s); case _ => "," })
        case "substring" =>
          // Cypher substring(s, start[, len]) is 0-based; Spark is 1-based
          if (args.size >= 3) a(0).substr(a(1).cast("int") + 1, a(2).cast("int"))
          else a(0).substr(a(1).cast("int") + 1, lit(1000000))
        case "left" => a(0).substr(lit(1), a(1).cast("int"))
        case "right" => args(1) match {
          case Lit(n: Long) => substring(a(0), -n.toInt, n.toInt)
          case _ => throw new IllegalArgumentException("right(s, n) needs literal n")
        }
        // conversion
        case "tostring" => a(0).cast("string")
        case "tointeger" | "toint" =>
          // Neo4j semantics: toInteger('4.9') = 4 (parse, truncate),
          // toInteger('abc') = null — strings go through a double parse;
          // numeric inputs cast directly (no double roundtrip, which
          // would lose precision past 2^53)
          val c0 = a(0)
          val dt = try Some(f.df.select(c0).schema.head.dataType)
            catch { case _: Throwable => None } // lambda-bound: not probeable
          dt match {
            case Some(org.apache.spark.sql.types.StringType) | None =>
              c0.try_cast("double").cast("long")
            case _ => c0.cast("long")
          }
        case "tofloat" => a(0).cast("double")
        case "toboolean" => a(0).cast("boolean")
        case "tointegerornull" => a(0).try_cast("long")
        case "tofloatornull" => a(0).try_cast("double")
        case "tobooleanornull" => a(0).try_cast("boolean")
        // apoc.text.* (round-2 additions)
        case "apoc.text.charat" => // 0-based; column form handles non-literal indexes
          a(0).substr(a(1).cast("int") + 1, lit(1))
        case "apoc.text.code" => ascii(a(0))
        case "apoc.text.bytecount" => octet_length(a(0))
        case "apoc.data.domain" => regexp_extract(a(0), "@([A-Za-z0-9.-]+)", 1)
        // ---- apoc.text.* round-3 tranche (ref apoc/text/text.go) ----
        case "apoc.text.swapcase" => // text.go:96
          array_join(transform(split(a(0), ""),
            c => when(c === lower(c), upper(c)).otherwise(lower(c))), "")
        case "apoc.text.camelcase" => // text.go:115: lower head, Capitalize tail
          array_join(transform(textWords(a(0)),
            (w, i) => when(i === 0, lower(w)).otherwise(capLower(w))), "")
        case "apoc.text.uppercamelcase" => // text.go:146
          array_join(transform(textWords(a(0)), w => capLower(w)), "")
        case "apoc.text.snakecase" => // text.go:134
          array_join(transform(textWords(a(0)), w => lower(w)), "_")
        case "apoc.text.comparecleaned" => // text.go:167
          regexp_replace(lower(a(0)), "[^a-z0-9]", "") ===
            regexp_replace(lower(a(1)), "[^a-z0-9]", "")
        case "apoc.text.hammingdistance" => // -1 for unequal lengths (text.go:233)
          when(length(a(0)) =!= length(a(1)), lit(-1)).otherwise(
            size(filter(zip_with(split(a(0), ""), split(a(1), ""),
              (x, y) => x =!= y), b => b)))
        case "apoc.text.fuzzymatch" => // 1 − lev/maxLen ≥ threshold (text.go:219)
          val thr = args.lift(2).map(x => compile(x, f, params)).getOrElse(lit(0.5))
          (lit(1.0) - levenshtein(a(0), a(1)).cast("double") /
            greatest(length(a(0)), length(a(1))).cast("double")) >= thr
        case "apoc.text.slug" => // text.go:379
          regexp_replace(regexp_replace(lower(a(0)), "[^a-z0-9]+", "-"), "^-+|-+$", "")
        case "apoc.text.sorensendicesimilarity" => // distinct-bigram Dice (text.go:397)
          val big = (c: Column) => array_distinct(transform(
            filter(sequence(lit(0L), length(c).cast("long")), i => i + 2 <= length(c)),
            i => c.substr(i.cast("int") + 1, lit(2))))
          when(a(0) === a(1), lit(1.0))
            .when(length(a(0)) < 2 || length(a(1)) < 2, lit(0.0))
            .otherwise(lit(2.0) * size(array_intersect(big(a(0)), big(a(1)))) /
              (size(big(a(0))) + size(big(a(1)))))
        case "apoc.text.phonetic" => // reference soundex variant (text.go:544,610)
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          call_function("graft_soundex", a(0).cast("string"))
        case "apoc.text.phoneticdelta" => // 0 if same soundex else 4 (text.go:552)
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          when(call_function("graft_soundex", a(0).cast("string")) ===
            call_function("graft_soundex", a(1).cast("string")), lit(0)).otherwise(lit(4))
        case "apoc.text.urlencode" => call_function("url_encode", a(0))
        case "apoc.text.urldecode" => call_function("url_decode", a(0))
        case "apoc.text.fromcodepoint" => call_function("char", a(0)) // text.go:520
        case "apoc.text.indexesof" => // all 0-based occurrence positions (text.go:490)
          filter(sequence(lit(0L), greatest(length(a(0)).cast("long") - 1, lit(0L))),
            i => a(0).substr(i.cast("int") + 1, length(a(1))) === a(1))
        case "apoc.text.reverse" => reverse(a(0))
        case "apoc.text.replace" | "apoc.text.regreplace" => // regex-based (unlike Cypher replace)
          regexp_replace(a(0),
            args(1) match { case Lit(s: String) => s; case _ => "" },
            args(2) match { case Lit(s: String) => s; case _ => "" })
        case "apoc.text.split" => split(a(0), args(1) match {
          case Lit(s: String) => s; case _ => "," })
        case "apoc.text.random" =>
          throw new IllegalArgumentException("apoc.text.random is nondeterministic — unsupported")
        case "apoc.text.capitalizeall" => upper(a(0)) // literally ToUpper (text.go:68)
        case "apoc.text.decapitalizeall" => lower(a(0)) // text.go:88
        case "apoc.text.bytes" => // byte list, ASCII == code point (text.go:528)
          transform(split(a(0), ""), c => ascii(c).cast("long"))
        case "apoc.text.bytestostring" => // text.go:536
          array_join(transform(a(0), b => call_function("char", b)), "")
        case "apoc.text.doublemetaphone" => // reference ships [soundex] (text.go:565)
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          array(call_function("graft_soundex", a(0).cast("string")))
        case "apoc.text.jarowinklerdistance" => // full JW loop (text.go:251)
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          call_function("graft_jarowinkler", a(0).cast("string"), a(1).cast("string"))
        case "apoc.coll.partition" => // size-based batches, like coll.split
          // (the reference's predicate form needs a Go lambda — not
          // expressible from the Cypher surface; coll.go:97,749)
          val n = a(1).cast("long")
          transform(
            filter(sequence(lit(0L), size(a(0)).cast("long")), g => g * n < size(a(0))),
            g => slice(a(0), (g * n + 1).cast("int"), n.cast("int")))
        case "apoc.coll.sortmaps" => // sort list of maps by key (coll.go:207)
          val key = args(1) match { case Lit(s: String) => s
            case _ => throw new IllegalArgumentException("sortMaps needs a literal key") }
          array_sort(a(0), (x, y) =>
            when(element_at(x, key) < element_at(y, key), -1)
              .when(element_at(x, key) === element_at(y, key), 0).otherwise(1))
        case "apoc.coll.unionall" => // concat keeping duplicates (coll.go:815)
          concat(args.map(x => compile(x, f, params)): _*)
        case "apoc.coll.randomitem" | "apoc.coll.randomitems" =>
          throw new IllegalArgumentException(s"$name is nondeterministic — unsupported")
        // apoc.node.* column accessors (ref apoc/node/node.go; the
        // storage-walking members (degree/neighbors) are the Expand/degree
        // operators in this engine, not per-row functions)
        case "apoc.node.id" => args.head match {
          case Variable(v) if f.kinds.get(v).contains(NodeK) => col(s"${v}_id")
          case other => compile(other, f, params).getField("id")
        }
        case "apoc.node.labels" => args.head match {
          case Variable(v) if f.kinds.get(v).contains(NodeK) => col(s"${v}_labels")
          case other => compile(other, f, params).getField("labels")
        }
        case "apoc.node.haslabel" =>
          val labelsCol = args.head match {
            case Variable(v) if f.kinds.get(v).contains(NodeK) => col(s"${v}_labels")
            case other => compile(other, f, params).getField("labels")
          }
          array_contains(labelsCol, a(1))
        case "apoc.rel.id" => args.head match {
          case Variable(v) if f.kinds.get(v).contains(RelK) => col(s"${v}_id")
          case other => compile(other, f, params).getField("id")
        }
        case "apoc.rel.type" => args.head match {
          case Variable(v) if f.kinds.get(v).contains(RelK) => col(s"${v}_type")
          case other => compile(other, f, params).getField("type")
        }
        // apoc.coll.* (round-2 additions)
        case "apoc.coll.pairs" => // consecutive pairs [[a,b],[b,c],…]
          arrays_zip(
            slice(a(0), lit(1), size(a(0)) - 1),
            slice(a(0), lit(2), size(a(0)) - 1))
        case "apoc.coll.sumlongs" =>
          aggregate(a(0), lit(0L), (acc, x) => acc + x.cast("long"))
        case "apoc.coll.occurrences" =>
          size(filter(a(0), x => x === a(1)))
        // ---- apoc.coll.* round-3 tranche (ref apoc/coll/coll.go,
        // pkg/cypher/apoc_collections.go:92-339). All Catalyst HOFs.
        case "apoc.coll.containsall" => forall(a(1), v => array_contains(a(0), v))
        case "apoc.coll.containsany" => arrays_overlap(a(0), a(1))
        case "apoc.coll.containsduplicates" => size(array_distinct(a(0))) < size(a(0))
        case "apoc.coll.containssorted" => array_contains(a(0), a(1))
        case "apoc.coll.different" => array_except(a(0), a(1)) // list1 ∖ list2 (coll.go:321)
        case "apoc.coll.disjunction" => // symmetric difference (coll.go:341)
          array_union(array_except(a(0), a(1)), array_except(a(1), a(0)))
        case "apoc.coll.dropduplicateneighbors" => // coll.go:373
          filter(a(0), (x, i) => i === 0 || !(x <=> element_at(a(0), i)))
        case "apoc.coll.duplicates" => // first-occurrence order (deterministic;
          // the reference iterates a Go map — nondeterministic — coll.go:392)
          filter(array_distinct(a(0)), x => size(filter(a(0), y => y <=> x)) > 1)
        case "apoc.coll.duplicateswithcount" => // coll.go:419
          transform(
            filter(array_distinct(a(0)), x => size(filter(a(0), y => y <=> x)) > 1),
            x => struct(x.as("item"), size(filter(a(0), y => y <=> x)).as("count")))
        case "apoc.coll.fill" => array_repeat(a(0), a(1).cast("int"))
        case "apoc.coll.frequencies" => // value → count map (coll.go:484)
          map_from_entries(transform(array_distinct(a(0)),
            x => struct(x, size(filter(a(0), y => y <=> x)))))
        case "apoc.coll.frequenciesasmap" => // [{item, count}] (coll.go:498)
          transform(array_distinct(a(0)),
            x => struct(x.as("item"), size(filter(a(0), y => y <=> x)).as("count")))
        case "apoc.coll.insert" => // insert value at 0-based index (coll.go:542)
          concat(slice(a(0), lit(1), a(1).cast("int")), array(a(2)),
            slice(a(0), a(1).cast("int") + 1, lit(1000000)))
        case "apoc.coll.insertall" => // coll.go:559
          concat(slice(a(0), lit(1), a(1).cast("int")), a(2),
            slice(a(0), a(1).cast("int") + 1, lit(1000000)))
        case "apoc.coll.remove" => // remove [index, index+length) (coll.go:671)
          val len = args.lift(2).map(x => compile(x, f, params).cast("int")).getOrElse(lit(1))
          concat(slice(a(0), lit(1), a(1).cast("int")),
            slice(a(0), a(1).cast("int") + len + 1, lit(1000000)))
        case "apoc.coll.removeall" => // drop every occurrence of value (coll.go:687)
          filter(a(0), x => !(x <=> a(1)))
        case "apoc.coll.set" => // replace element at 0-based index (coll.go:701)
          transform(a(0), (x, i) => when(i === a(1).cast("int"), a(2)).otherwise(x))
        case "apoc.coll.split" => // partition into sublists of n (coll.go:749)
          val n = a(1).cast("long")
          transform(
            filter(sequence(lit(0L), size(a(0)).cast("long")), g => g * n < size(a(0))),
            g => slice(a(0), (g * n + 1).cast("int"), n.cast("int")))
        case "apoc.coll.pairsmin" => // non-overlapping pairs (coll.go:160)
          transform(
            filter(sequence(lit(0L), size(a(0)).cast("long")),
              i => i % 2 === 0 && i + 1 < size(a(0))),
            i => array(element_at(a(0), i.cast("int") + 1),
                       element_at(a(0), i.cast("int") + 2)))
        case "apoc.coll.runningtotal" => // prefix sums (registry surface)
          transform(a(0), (_, i) =>
            aggregate(slice(a(0), lit(1), i + 1), lit(0.0),
              (acc, y) => acc + y.cast("double")))
        case "apoc.coll.isempty" => size(a(0)) === 0
        case "apoc.coll.isnotempty" => size(a(0)) > 0

        // ---- apoc.number.* / apoc.math.* round-3 tranche
        // (ref apoc/number/number.go, apoc/math/math.go). All pure column
        // arithmetic / Catalyst HOF folds — codegen-friendly, no UDFs.
        case "apoc.number.tohex" => hex(a(0).cast("long")) // number.go:169 (upper)
        case "apoc.number.fromhex" => conv(a(0), 16, 10).cast("long")
        case "apoc.number.tooctal" => conv(a(0).cast("string"), 10, 8)
        case "apoc.number.fromoctal" => conv(a(0), 8, 10).cast("long")
        case "apoc.number.tobinary" => conv(a(0).cast("string"), 10, 2)
        case "apoc.number.frombinary" => conv(a(0), 2, 10).cast("long")
        case "apoc.number.tobase" => // FormatInt: lowercase digits (number.go:223)
          lower(conv(a(0).cast("string"), 10, args(1) match {
            case Lit(b: Long) => b.toInt; case _ => 16 }))
        case "apoc.number.frombase" => conv(a(0), args(1) match {
            case Lit(b: Long) => b.toInt; case _ => 16 }, 10).cast("long")
        case "apoc.number.round" | "apoc.math.round" =>
          if (args.size >= 2) round(a(0), args(1) match {
            case Lit(n: Long) => n.toInt; case _ => 0 }) else round(a(0))
        case "apoc.number.ceil" | "apoc.math.ceil" => ceil(a(0)).cast("double")
        case "apoc.number.floor" | "apoc.math.floor" => floor(a(0)).cast("double")
        case "apoc.number.abs" | "apoc.math.abs" => abs(a(0))
        case "apoc.number.sign" => signum(a(0)).cast("int")
        case "apoc.number.clamp" | "apoc.math.clamp" =>
          greatest(least(a(0), a(2)), a(1))
        case "apoc.number.lerp" | "apoc.math.lerp" => a(0) + (a(1) - a(0)) * a(2)
        case "apoc.number.normalize" if args.size == 3 => // (v-min)/(max-min), 0 if degenerate
          when(a(2) === a(1), lit(0.0)).otherwise((a(0) - a(1)) / (a(2) - a(1)))
        case "apoc.math.normalize" | "apoc.number.normalize" => // 5-arg range remap (math.go:282)
          when(a(2) === a(1), a(3)).otherwise(
            a(3) + (a(0) - a(1)) / (a(2) - a(1)) * (a(4) - a(3)))
        case "apoc.number.map" => // Normalize then Lerp (number.go:334)
          when(a(2) === a(1), a(3)).otherwise(
            a(3) + (a(4) - a(3)) * ((a(0) - a(1)) / (a(2) - a(1))))
        case "apoc.number.iseven" => a(0).cast("long") % 2 === 0
        case "apoc.number.isodd" => a(0).cast("long") % 2 =!= 0
        case "apoc.number.isprime" | "apoc.math.isprime" =>
          val n = a(0).cast("long")
          when(n < 2, lit(false)).otherwise(
            forall(sequence(lit(2L), greatest(floor(sqrt(n)).cast("long"), lit(2L))),
              d => (n === d) || (n % d =!= 0)))
        case "apoc.number.gcd" | "apoc.math.gcd" => gcdCol(a(0), a(1))
        case "apoc.number.lcm" | "apoc.math.lcm" => // a/gcd*b (math.go:305)
          val (x, y) = (abs(a(0).cast("long")), abs(a(1).cast("long")))
          when(x === 0 || y === 0, lit(0L))
            .otherwise((x / gcdCol(a(0), a(1))).cast("long") * y)
        case "apoc.number.factorial" | "apoc.math.factorial" =>
          val n = a(0).cast("long")
          when(n <= 1, lit(1L)).otherwise(
            aggregate(sequence(lit(2L), greatest(n, lit(2L))), lit(1L),
              (acc, x) => try_multiply(acc, x))) // null past 20! (Go wraps)
        case "apoc.number.fibonacci" | "apoc.math.fibonacci" =>
          // exact int64 pair-fold, not the float closed form (number.go:424)
          val n = a(0).cast("long")
          when(n <= 0, lit(0L)).otherwise(
            aggregate(sequence(lit(1L), greatest(n, lit(1L))),
              struct(lit(0L).as("a"), lit(1L).as("b")),
              (acc, _) => struct(acc.getField("b").as("a"),
                // try_add: the fold carries one term past fib(n); fib(92)
                // is the last to fit int64 (null beyond, where Go wraps)
                try_add(acc.getField("a"), acc.getField("b")).as("b")),
              acc => acc.getField("a")))
        case "apoc.number.power" | "apoc.math.pow" => pow(a(0), a(1))
        case "apoc.number.sqrt" | "apoc.math.sqrt" => sqrt(a(0))
        case "apoc.number.log" | "apoc.math.log" => log(a(0))
        case "apoc.number.log10" | "apoc.math.log10" => log10(a(0))
        case "apoc.number.exp" | "apoc.math.exp" => exp(a(0))
        case "apoc.number.romanize" => // greedy symbol fold (number.go:145)
          val table = typedLit(Seq(
            1000L -> "M", 900L -> "CM", 500L -> "D", 400L -> "CD", 100L -> "C",
            90L -> "XC", 50L -> "L", 40L -> "XL", 10L -> "X", 9L -> "IX",
            5L -> "V", 4L -> "IV", 1L -> "I"))
          val n0 = a(0).cast("long")
          when(n0 <= 0 || n0 >= 4000, lit("")).otherwise(
            aggregate(table, struct(n0.as("rem"), lit("").as("s")),
              (acc, p) => struct(
                (acc.getField("rem") % p.getField("_1")).as("rem"),
                concat(acc.getField("s"), call_function("repeat", p.getField("_2"),
                  floor(acc.getField("rem") / p.getField("_1")).cast("int"))).as("s")),
              acc => acc.getField("s")))
        case "apoc.number.arabize" => // right-to-left subtraction rule (number.go:113)
          val vals = transform(split(a(0), ""),
            c => when(c === "I", 1L).when(c === "V", 5L).when(c === "X", 10L)
              .when(c === "L", 50L).when(c === "C", 100L).when(c === "D", 500L)
              .when(c === "M", 1000L).otherwise(0L))
          aggregate(
            transform(vals, (v, i) =>
              when(coalesce(try_element_at(vals, i + 2), lit(0L)) > v, -v).otherwise(v)),
            lit(0L), (acc, x) => acc + x)
        case "apoc.number.random" | "apoc.math.random" | "apoc.number.randomint"
            | "apoc.math.randomint" =>
          throw new IllegalArgumentException(s"$name is nondeterministic — unsupported")
        case "apoc.math.maxlong" | "apoc.math.maxdouble" =>
          if (args.size == 1) array_max(a(0)) else greatest(args.map(x => compile(x, f, params)): _*)
        case "apoc.math.minlong" | "apoc.math.mindouble" =>
          if (args.size == 1) array_min(a(0)) else least(args.map(x => compile(x, f, params)): _*)
        case "apoc.math.logit" => // NaN outside (0,1) (math.go:246)
          when(a(0) <= 0.0 || a(0) >= 1.0, lit(Double.NaN))
            .otherwise(log(a(0) / (lit(1.0) - a(0))))
        case "apoc.math.percentile" => pctCol(a(0), a(1))
        case "apoc.math.median" => pctCol(a(0), lit(50.0))
        case "apoc.math.mean" =>
          when(size(a(0)) === 0, lit(0.0)).otherwise(
            aggregate(a(0), lit(0.0), (acc, x) => acc + x.cast("double")) / size(a(0)))
        case "apoc.math.stddev" | "apoc.math.variance" => // POPULATION (÷N, math.go:456)
          val xs = transform(a(0), x => x.cast("double"))
          val m = aggregate(xs, lit(0.0), (acc, x) => acc + x) / size(xs)
          val varPop = when(size(xs) === 0, lit(0.0)).otherwise(
            aggregate(xs, lit(0.0), (acc, x) => acc + (x - m) * (x - m)) / size(xs))
          if (name == "apoc.math.variance") pow(sqrt(varPop), 2.0) // StdDev² (math.go:477)
          else sqrt(varPop)
        case "apoc.math.mode" => // most frequent; ties → smallest (the
          // reference iterates a Go map, i.e. nondeterministic ties; math.go:484)
          val xs = transform(a(0), x => x.cast("double"))
          val freq = (v: Column) => size(filter(xs, y => y === v))
          val maxFreq = array_max(transform(array_distinct(xs), v => freq(v)))
          when(size(xs) === 0, lit(0.0)).otherwise(
            array_min(filter(array_distinct(xs), v => freq(v) === maxFreq)))
        case "apoc.math.sum" =>
          aggregate(a(0), lit(0.0), (acc, x) => acc + x.cast("double"))
        case "apoc.math.product" =>
          aggregate(a(0), lit(1.0), (acc, x) => acc * x.cast("double"))
        case "apoc.math.range" | "apoc.util.range" =>
          if (args.size >= 3) sequence(a(0).cast("long"), a(1).cast("long"), a(2).cast("long"))
          else sequence(a(0).cast("long"), a(1).cast("long"))
        case "apoc.math.sin" => sin(a(0)); case "apoc.math.cos" => cos(a(0))
        case "apoc.math.tan" => tan(a(0)); case "apoc.math.asin" => asin(a(0))
        case "apoc.math.acos" => acos(a(0)); case "apoc.math.atan" => atan(a(0))
        case "apoc.math.atan2" => atan2(a(0), a(1))

        // ---- apoc.util.* / apoc.hashing.* (ref apoc/util/util.go,
        // apoc/hashing/hashing.go). Digests via Spark's codegen'd crypto fns.
        case "apoc.util.sha256" | "apoc.util.sha256hex" | "apoc.hashing.sha256" =>
          sha2(a(0).cast("string").cast("binary"), 256)
        case "apoc.hashing.sha384" => sha2(a(0).cast("string").cast("binary"), 384)
        case "apoc.hashing.sha512" => sha2(a(0).cast("string").cast("binary"), 512)
        case "apoc.util.md5hex" | "apoc.hashing.md5" => md5(a(0).cast("string").cast("binary"))
        case "apoc.util.sha1hex" | "apoc.hashing.sha1" => sha1(a(0).cast("string").cast("binary"))
        case "apoc.util.md5base64" => base64(unhex(md5(a(0).cast("string").cast("binary"))))
        case "apoc.util.sha1base64" => base64(unhex(sha1(a(0).cast("string").cast("binary"))))
        case "apoc.util.sha256base64" =>
          base64(unhex(sha2(a(0).cast("string").cast("binary"), 256)))
        case "apoc.util.validatepattern" => a(0).rlike(args(1) match {
          case Lit(p: String) => p
          case _ => throw new IllegalArgumentException("validatePattern needs a literal pattern") })
        case "apoc.util.repeat" => array_repeat(a(0), args(1) match {
          case Lit(n: Long) => n.toInt; case _ => 1 })
        case "apoc.util.encodebase64" => base64(a(0).cast("binary"))
        case "apoc.util.decodebase64" => unbase64(a(0)).cast("string")
        case "apoc.util.encodeurl" => call_function("url_encode", a(0))
        case "apoc.util.decodeurl" => call_function("url_decode", a(0))
        case "apoc.util.typeof" => // reference type names (util.go:215)
          import org.apache.spark.sql.types._
          f.df.select(a(0)).schema.head.dataType match {
            case NullType => lit("NULL")
            case BooleanType => lit("BOOLEAN")
            case ByteType | ShortType | IntegerType | LongType => lit("INTEGER")
            case FloatType | DoubleType | _: DecimalType => lit("FLOAT")
            case StringType => lit("STRING")
            case _: ArrayType => lit("LIST")
            case _: MapType | _: StructType => lit("MAP")
            case _ => lit("UNKNOWN")
          }
        case "apoc.util.parsetimestamp" | "apoc.date.fromiso8601" => // RFC3339 → epoch s
          unix_timestamp(a(0), "yyyy-MM-dd'T'HH:mm:ssXXX")
        case "apoc.util.formattimestamp" | "apoc.date.toiso8601" => // epoch s → RFC3339 UTC
          date_format(to_utc_timestamp(timestamp_seconds(a(0)), "UTC"),
            "yyyy-MM-dd'T'HH:mm:ssXXX")
        case "apoc.util.sleep" | "apoc.util.uuid" | "apoc.util.randomuuid"
            | "apoc.util.now" | "apoc.util.nowinseconds" | "apoc.util.timestamp" =>
          throw new IllegalArgumentException(s"$name is nondeterministic — unsupported")
        case "apoc.hashing.fnv1" => // 32-bit FNV-1 over code points; matches the
          // reference byte fold for ASCII input (hashing.go:87)
          aggregate(split(a(0).cast("string"), ""), lit(2166136261L),
            (h, c) => ((h * 16777619L) % 4294967296L).bitwiseXOR(ascii(c)))
        case "apoc.hashing.fnv1a" => // xor-then-multiply variant (hashing.go:99)
          aggregate(split(a(0).cast("string"), ""), lit(2166136261L),
            (h, c) => (h.bitwiseXOR(ascii(c)) * 16777619L) % 4294967296L)
        case "apoc.hashing.consistenthash" => // unsigned fnv1a64(key) % buckets
          // (hashing.go:195). The long carries the raw uint64 bits; widen to
          // decimal and add 2^64 when negative to take the UNSIGNED modulo.
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          val h64 = call_function("graft_fnv1a64", a(0).cast("string"))
          val udec = h64.cast("decimal(38,0)") +
            when(h64 < 0, lit(new java.math.BigDecimal("18446744073709551616"))
              .cast("decimal(38,0)")).otherwise(lit(0).cast("decimal(38,0)"))
          (udec % a(1).cast("decimal(38,0)")).cast("int")
        // 64-bit families need wrapping multiply — native Catalyst
        // expressions (codegen'd), registered per session (HashExprs.scala)
        case "apoc.hashing.fnv164" | "apoc.hashing.fnv1a64"
            | "apoc.hashing.cityhash64" | "apoc.hashing.murmurhash3"
            | "apoc.hashing.xxhash32" | "apoc.hashing.xxhash64"
            | "apoc.hashing.jumphash" | "apoc.hashing.rendezvoushash" =>
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          name match {
            case "apoc.hashing.fnv164" =>
              call_function("graft_fnv164", a(0).cast("string"))
            case "apoc.hashing.fnv1a64" =>
              call_function("graft_fnv1a64", a(0).cast("string"))
            case "apoc.hashing.cityhash64" => // alias of fnv1a64 (hashing.go:297)
              call_function("graft_cityhash64", a(0).cast("string"))
            case "apoc.hashing.murmurhash3" => // canonical murmur3-32 w/ seed
              call_function("graft_murmur3", a(0).cast("string"),
                (if (args.size >= 2) a(1) else lit(0L)).cast("long"))
            case "apoc.hashing.xxhash32" => // reference's simplified loop
              call_function("graft_xxhash32", a(0).cast("string"),
                (if (args.size >= 2) a(1) else lit(0L)).cast("long"))
            case "apoc.hashing.xxhash64" =>
              call_function("graft_xxhash64", a(0).cast("string"),
                (if (args.size >= 2) a(1) else lit(0L)).cast("long"))
            case "apoc.hashing.jumphash" =>
              call_function("graft_jumphash", a(0).cast("long"), a(1).cast("int"))
            case _ => // rendezvoushash(key, [nodes])
              call_function("graft_rendezvous", a(0).cast("string"), a(1))
          }
        case "apoc.hashing.fingerprint" => // sha256 of the %v rendering —
          // over our struct entities the rendering is engine-specific, so
          // hash the canonical JSON instead (disclosed deviation)
          sha2(to_json(a(0)).cast("binary"), 256)
        case "apoc.hashing.fingerprintgraph" => // sha256(nodes ++ rels)
          sha2(concat(to_json(a(0)), to_json(a(1))).cast("binary"), 256)

        // ---- apoc.date.* completion (ref apoc/date/date.go; epoch seconds,
        // UTC session == time.Unix in a UTC locale)
        case "apoc.date.field" =>
          val dt = timestamp_seconds(a(0))
          args(1) match {
            case Lit(u: String) => u match {
              case "year" => year(dt); case "month" => month(dt)
              case "day" => dayofmonth(dt); case "hour" => hour(dt)
              case "minute" => minute(dt); case "second" => second(dt)
              case "dayOfWeek" => dayofweek(dt) - 1 // Go: 0=Sunday (date.go:62)
              case "dayOfYear" => dayofyear(dt)
              case "weekOfYear" => weekofyear(dt) // ISO week, both engines
              case _ => lit(0)
            }
            case _ => throw new IllegalArgumentException("apoc.date.field needs a literal unit")
          }
        case "apoc.date.fields" => // all 9 fields as a map (date.go:80)
          val dt = timestamp_seconds(a(0))
          map(lit("year"), year(dt), lit("month"), month(dt),
            lit("day"), dayofmonth(dt), lit("hour"), hour(dt),
            lit("minute"), minute(dt), lit("second"), second(dt),
            lit("dayOfWeek"), dayofweek(dt) - 1, lit("dayOfYear"), dayofyear(dt),
            lit("weekOfYear"), weekofyear(dt))
        case "apoc.date.add" => // duration units only, no calendar math (date.go:101)
          a(0).cast("long") + floor(a(1).cast("long") * dateUnitSeconds(args(2))).cast("long")
        case "apoc.date.convert" => // via seconds, integer division (date.go:111)
          floor(a(0).cast("long") * dateUnitSeconds(args(1)) /
            dateUnitSeconds(args(2))).cast("long")
        case "apoc.date.toyears" => a(0).cast("double") / lit(365.25 * 24 * 3600)
        case "apoc.date.convertformat" =>
          val fmt = (i: Int) => args(i) match {
            case Lit(s: String) => s; case _ => "yyyy-MM-dd" }
          from_unixtime(unix_timestamp(a(0), fmt(1)), fmt(2))
        case "apoc.date.systemtimezone" => lit("UTC") // session-pinned zone
        case "apoc.date.currenttimestamp" =>
          throw new IllegalArgumentException("apoc.date.currentTimestamp is nondeterministic — unsupported")

        // ---- apoc.temporal.* (ref apoc/temporal/temporal.go; operates on
        // TimestampType columns — construct via datetime()/date())
        case "datetime" | "localdatetime" => // optional arg: () = now
          if (args.isEmpty) current_timestamp() else to_timestamp(a(0))
        case "date" =>
          if (args.isEmpty) current_date() else to_date(a(0))
        case "time" | "localtime" => // Spark has no TIME type: HH:mm:ss text
          date_format(
            if (args.isEmpty) current_timestamp() else to_timestamp(a(0)),
            "HH:mm:ss")
        case "apoc.temporal.toepochmillis" => unix_millis(a(0).cast("timestamp"))
        case "apoc.temporal.fromepochmillis" => timestamp_millis(a(0).cast("long"))
        case "apoc.temporal.add" | "apoc.temporal.subtract" =>
          val amt0 = args(1) match { case Lit(n: Long) => n
            case _ => throw new IllegalArgumentException(s"$name needs a literal amount") }
          val amt = if (name.endsWith("subtract")) -amt0 else amt0
          val unit = args(2) match { case Lit(u: String) => u.stripSuffix("s")
            case _ => "day" }
          // calendar-aware for year/month (AddDate), duration for the rest;
          // SQL interval clamps month-end overflow where Go normalizes —
          // divergence only on day-31 + month edge cases (temporal.go:101)
          unit match {
            case "year" => a(0).cast("timestamp") + expr(s"INTERVAL $amt YEAR")
            case "month" => a(0).cast("timestamp") + expr(s"INTERVAL $amt MONTH")
            case "day" => a(0).cast("timestamp") + expr(s"INTERVAL $amt DAY")
            case "hour" => a(0).cast("timestamp") + expr(s"INTERVAL $amt HOUR")
            case "minute" => a(0).cast("timestamp") + expr(s"INTERVAL $amt MINUTE")
            case "second" => a(0).cast("timestamp") + expr(s"INTERVAL $amt SECOND")
            case _ => a(0).cast("timestamp")
          }
        case "apoc.temporal.difference" => // truncating division (temporal.go:134)
          val secs = unix_timestamp(a(1).cast("timestamp")) -
            unix_timestamp(a(0).cast("timestamp"))
          args(2) match {
            case Lit(u: String) => u.stripSuffix("s") match {
              case "second" => secs; case "minute" => (secs / 60).cast("long")
              case "hour" => (secs / 3600).cast("long")
              case "day" => (secs / 86400).cast("long")
              case _ => secs
            }
            case _ => secs
          }
        case "apoc.temporal.startof" | "apoc.temporal.truncate" =>
          args(1) match {
            case Lit(u: String) => date_trunc(u, a(0).cast("timestamp"))
            case _ => throw new IllegalArgumentException(s"$name needs a literal unit")
          }
        case "apoc.temporal.endof" => // start + 1 unit − 1µs (ref: −1ns;
          // Spark timestamps are µs-precision — temporal.go:182)
          args(1) match {
            case Lit(u: String) =>
              date_trunc(u, a(0).cast("timestamp")) +
                expr(s"INTERVAL 1 ${u.toUpperCase}") - expr("INTERVAL 1 MICROSECOND")
            case _ => throw new IllegalArgumentException("endOf needs a literal unit")
          }
        case "apoc.temporal.isbetween" =>
          a(0).cast("timestamp").between(a(1).cast("timestamp"), a(2).cast("timestamp"))
        case "apoc.temporal.isweekend" => dayofweek(a(0).cast("timestamp")).isin(1, 7)
        case "apoc.temporal.isweekday" => !dayofweek(a(0).cast("timestamp")).isin(1, 7)
        case "apoc.temporal.dayofweek" => dayofweek(a(0).cast("timestamp")) - 1 // Go 0=Sun
        case "apoc.temporal.dayofyear" => dayofyear(a(0).cast("timestamp"))
        case "apoc.temporal.weekofyear" => weekofyear(a(0).cast("timestamp"))
        case "apoc.temporal.quarter" => quarter(a(0).cast("timestamp"))
        case "apoc.temporal.isleapyear" =>
          val y = a(0).cast("long")
          (y % 4 === 0 && y % 100 =!= 0) || (y % 400 === 0)
        case "apoc.temporal.daysinmonth" =>
          dayofmonth(last_day(make_date(a(0).cast("int"), a(1).cast("int"), lit(1))))
        case "apoc.temporal.age" =>
          throw new IllegalArgumentException("apoc.temporal.age depends on wall-clock now — unsupported")

        // ---- apoc.convert.* / apoc.json.* (ref apoc/convert/convert.go,
        // apoc/json/json.go). JSON via Spark's native json expressions.
        case "apoc.convert.tojson" | "apoc.json.stringify" =>
          import org.apache.spark.sql.types._
          f.df.select(a(0)).schema.head.dataType match {
            case _: ArrayType | _: MapType | _: StructType => to_json(a(0))
            case StringType => concat(lit("\""), a(0), lit("\""))
            case BooleanType => a(0).cast("string")
            case _ => a(0).cast("string")
          }
        case "apoc.convert.fromjsonmap" => // string-valued map (the reference
          // returns map[string]any; Columns need one value type)
          from_json(a(0), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
        case "apoc.convert.fromjsonlist" =>
          from_json(a(0), org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType))
        case "apoc.convert.getjsonproperty" => // convert.go:237
          get_json_object(a(0), args(1) match {
            case Lit(k: String) => if (k.startsWith("$")) k else s"$$.$k"
            case _ => "$" })
        case "apoc.json.path" => get_json_object(a(0), args(1) match {
            case Lit(p: String) => if (p.startsWith("$")) p else s"$$.$p"
            case _ => "$" })
        case "apoc.json.validate" => // json.Valid accepts any JSON value (json.go:30)
          get_json_object(a(0), "$").isNotNull
        case "apoc.json.keys" => json_object_keys(a(0))
        case "apoc.json.size" => // object → #keys, array → length, else 0 (json.go:161)
          coalesce(json_array_length(a(0)), size(json_object_keys(a(0))),
            lit(0)).cast("int")
        case "apoc.convert.toset" => array_distinct(a(0))
        case "apoc.convert.tointlist" => transform(a(0), x => x.cast("long"))
        case "apoc.convert.tofloatlist" => transform(a(0), x => x.cast("double"))
        case "apoc.convert.tostringlist" => transform(a(0), x => x.cast("string"))
        case "apoc.convert.tobooleanlist" => transform(a(0), x => x.cast("boolean"))
        case "apoc.convert.tostring" => a(0).cast("string")
        case "apoc.convert.tointeger" => a(0).try_cast("long")
        case "apoc.convert.tofloat" => a(0).try_cast("double")
        case "apoc.convert.toboolean" => a(0).try_cast("boolean")

        // ---- apoc.create.* virtual entities (ref apoc/create/create.go:73):
        // negative deterministic ids mark virtual (the reference uses a
        // negated sequence; a content hash keeps Columns deterministic)
        case "apoc.create.vnode" => // hash() rejects MAP — hash the JSON form
          struct((-abs(hash(a(0), to_json(a(1))))).cast("long").as("id"),
            a(0).as("labels"), a(1).as("properties"))
        case "apoc.create.vrelationship" =>
          struct((-abs(hash(to_json(a(0)), a(1), to_json(a(2)), to_json(a(3)))))
              .cast("long").as("id"),
            a(1).as("type"), a(0).getField("id").as("start"),
            a(3).getField("id").as("end"), a(2).as("properties"))

        // ---- apoc.scoring.* (ref apoc/scoring/scoring.go) — pure math,
        // all codegen column expressions / HOF folds
        case "apoc.scoring.existence" => // weightless indicator (scoring.go:18)
          when(a(1) && a(0).isNotNull, lit(1.0)).otherwise(lit(0.0))
        case "apoc.scoring.pareto" => // scoring.go:30
          val (mn, e, mx, w) = (a(0), a(1), a(2), a(3))
          when(e <= mn, lit(0.0)).when(e >= mx, w)
            .otherwise((e - mn) / (mx - mn) * w)
        case "apoc.scoring.cosine" => // scoring.go:49
          val dot = aggregate(zip_with(a(0), a(1), (x, y) => x * y), lit(0.0), _ + _)
          val n1 = aggregate(a(0), lit(0.0), (acc, x) => acc + x * x)
          val n2 = aggregate(a(1), lit(0.0), (acc, x) => acc + x * x)
          when(size(a(0)) =!= size(a(1)) || size(a(0)) === 0 ||
            n1 === 0.0 || n2 === 0.0, lit(0.0))
            .otherwise(dot / (sqrt(n1) * sqrt(n2)))
        case "apoc.scoring.euclidean" => // distance (scoring.go:76)
          when(size(a(0)) =!= size(a(1)), lit(0.0)).otherwise(
            sqrt(aggregate(zip_with(a(0), a(1), (x, y) => (x - y) * (x - y)),
              lit(0.0), _ + _)))
        case "apoc.scoring.manhattan" => // scoring.go:95
          when(size(a(0)) =!= size(a(1)), lit(0.0)).otherwise(
            aggregate(zip_with(a(0), a(1), (x, y) => abs(x - y)), lit(0.0), _ + _))
        case "apoc.scoring.jaccard" => // set Jaccard; both-empty → 1 (scoring.go:113)
          val (d1, d2) = (array_distinct(a(0)), array_distinct(a(1)))
          val inter = size(array_intersect(d1, d2))
          val un = size(d1) + size(d2) - inter
          when(size(a(0)) === 0 && size(a(1)) === 0, lit(1.0))
            .when(un === 0, lit(0.0))
            .otherwise(inter.cast("double") / un)
        case "apoc.scoring.overlap" => // inter / min size (scoring.go:152)
          val (d1, d2) = (array_distinct(a(0)), array_distinct(a(1)))
          when(size(a(0)) === 0 || size(a(1)) === 0, lit(0.0)).otherwise(
            size(array_intersect(d1, d2)).cast("double") / least(size(d1), size(d2)))
        case "apoc.scoring.dice" => // 2·inter / (|1|+|2|) (scoring.go:182)
          val (d1, d2) = (array_distinct(a(0)), array_distinct(a(1)))
          when(size(d1) + size(d2) === 0, lit(0.0)).otherwise(
            lit(2.0) * size(array_intersect(d1, d2)) / (size(d1) + size(d2)))
        case "apoc.scoring.pearson" => // scoring.go:211
          val xs = transform(a(0), x => x.cast("double"))
          val ys = transform(a(1), y => y.cast("double"))
          val n = size(xs).cast("double")
          val mx = aggregate(xs, lit(0.0), _ + _) / n
          val my = aggregate(ys, lit(0.0), _ + _) / n
          val num = aggregate(zip_with(xs, ys, (x, y) => (x - mx) * (y - my)), lit(0.0), _ + _)
          val dx = aggregate(xs, lit(0.0), (acc, x) => acc + (x - mx) * (x - mx))
          val dy = aggregate(ys, lit(0.0), (acc, y) => acc + (y - my) * (y - my))
          when(size(xs) =!= size(ys) || size(xs) === 0 || dx === 0.0 || dy === 0.0,
            lit(0.0)).otherwise(num / sqrt(dx * dy))
        case "apoc.scoring.tf" => // occurrences / word count (scoring.go:253)
          val words = filter(split(lower(a(1)), "\\s+"), w => w =!= "")
          when(size(words) === 0, lit(0.0)).otherwise(
            size(filter(words, w => w === lower(a(0)))).cast("double") / size(words))
        case "apoc.scoring.idf" => // ln(total/with) (scoring.go:275)
          when(a(2) === 0, lit(0.0)).otherwise(
            log(a(1).cast("double") / a(2).cast("double")))
        case "apoc.scoring.tfidf" =>
          val words = filter(split(lower(a(1)), "\\s+"), w => w =!= "")
          val tf = when(size(words) === 0, lit(0.0)).otherwise(
            size(filter(words, w => w === lower(a(0)))).cast("double") / size(words))
          val idf = when(a(3) === 0, lit(0.0)).otherwise(
            log(a(2).cast("double") / a(3).cast("double")))
          tf * idf
        case "apoc.scoring.bm25" => // scalar form (scoring.go:299)
          val (tfq, dl, avgdl, k1, b) = (a(0), a(1), a(2), a(3), a(4))
          tfq * (k1 + 1.0) / (tfq + k1 * (lit(1.0) - b + b * (dl / avgdl)))
        case "apoc.scoring.pagerank" => // (1−d) + d·Σ (scoring.go:310)
          (lit(1.0) - a(1)) + a(1) * aggregate(a(0), lit(0.0), (acc, x) => acc + x.cast("double"))
        case "apoc.scoring.normalize" => // min-max to [0,1] (scoring.go:324)
          val xs = transform(a(0), x => x.cast("double"))
          val mn = array_min(xs); val mx = array_max(xs)
          when(mx === mn, transform(xs, _ => lit(0.0)))
            .otherwise(transform(xs, x => (x - mn) / (mx - mn)))
        case "apoc.scoring.percentile" => // fraction strictly below (scoring.go:400)
          when(size(a(1)) === 0, lit(0.0)).otherwise(
            size(filter(a(1), v => v < a(0))).cast("double") / size(a(1)))
        case "apoc.scoring.zscore" =>
          when(a(2) === 0.0, lit(0.0)).otherwise((a(0) - a(1)) / a(2))
        case "apoc.scoring.minmax" => // scoring.go:433
          when(a(2) === a(1), a(3)).otherwise(
            a(3) + (a(0) - a(1)) / (a(2) - a(1)) * (a(4) - a(3)))
        case "apoc.scoring.sigmoid" => lit(1.0) / (lit(1.0) + exp(-a(0)))
        case "apoc.scoring.softmax" => // max-stabilized (scoring.go:456)
          val xs = transform(a(0), x => x.cast("double"))
          val mx = array_max(xs)
          val exps = transform(xs, x => exp(x - mx))
          val sm = aggregate(exps, lit(0.0), _ + _)
          transform(exps, e => e / sm)

        // ---- apoc.diff.* / apoc.label.* list forms (ref apoc/diff/diff.go,
        // apoc/label/label.go — storage-free members only; store-backed
        // label ops are the SchemaCatalog/Procedures surface)
        case "apoc.diff.maps" => // {added, removed, changed, unchanged} keys (diff.go:119)
          val (m1, m2) = (a(0), a(1))
          val k1 = map_keys(m1); val k2 = map_keys(m2)
          struct(
            sort_array(array_except(k2, k1)).as("added"),
            sort_array(array_except(k1, k2)).as("removed"),
            sort_array(filter(array_intersect(k1, k2),
              k => !(element_at(m1, k) <=> element_at(m2, k)))).as("changed"),
            sort_array(filter(array_intersect(k1, k2),
              k => element_at(m1, k) <=> element_at(m2, k))).as("unchanged"))
        case "apoc.diff.lists" => // {added, removed, common} (diff.go:158)
          struct(
            array_except(a(1), a(0)).as("added"),
            array_except(a(0), a(1)).as("removed"),
            array_intersect(a(1), a(0)).as("common"))
        case "apoc.diff.deep" => a(0) <=> a(1) // DeepEqual (diff.go:235)
        case "apoc.diff.strings" => // positions where the chars differ (diff.go:200)
          val c1 = split(a(0), ""); val c2 = split(a(1), "")
          filter(sequence(lit(0L), greatest(length(a(0)), length(a(1))).cast("long") - 1),
            i => !(try_element_at(c1, i.cast("int") + 1) <=>
              try_element_at(c2, i.cast("int") + 1)))
        case "apoc.label.union" => // distinct union preserving first-seen order
          array_distinct(concat(args.map(x => compile(x, f, params)): _*))
        case "apoc.label.intersection" =>
          args.map(x => compile(x, f, params)).reduce(array_intersect)
        case "apoc.label.diff" =>
          struct(array_except(a(0), a(1)).as("only1"),
            array_except(a(1), a(0)).as("only2"),
            array_intersect(a(0), a(1)).as("common"))
        case "apoc.label.normalize" => // CamelCase from separators (label.go:413)
          array_join(transform(textWords(a(0)), w => capLower(w)), "")
        case "apoc.label.pattern" => concat(lit(":"), array_join(a(0), ":")) // label.go:426
        case "apoc.label.frompattern" => // ':A:B' → ['A','B'] (label.go:438)
          filter(split(a(0), ":"), s => s =!= "")
        case "apoc.label.tostring" => array_join(a(0), ":")
        case "apoc.label.fromstring" => filter(split(a(0), ":"), s => s =!= "")
        case "apoc.label.has" =>
          val labelsCol = args.head match {
            case Variable(v) if f.kinds.get(v).contains(NodeK) => col(s"${v}_labels")
            case other => compile(other, f, params).getField("labels")
          }
          array_contains(labelsCol, a(1))

        // ---- apoc.util completion (ref apoc/util/util.go)
        case "apoc.util.when" => when(a(0), a(1)).otherwise(a(2))
        case "apoc.util.coalesce" =>
          coalesce(args.map(x => compile(x, f, params)): _*)
        case "apoc.util.case" => // [cond, val, cond, val…], default (util.go:188)
          args.head match {
            case ListLit(items) =>
              val default = if (args.size >= 2) a(1) else lit(null)
              items.grouped(2).collect { case scala.collection.Seq(c, v) =>
                (compile(c, f, params), compile(v, f, params))
              }.toSeq.foldRight(default) { case ((c, v), acc) =>
                when(c, v).otherwise(acc)
              }
            case _ => throw new IllegalArgumentException(
              "apoc.util.case needs a literal [cond, value, …] list")
          }
        case "apoc.util.validate" => // raises when the condition holds (util.go:95)
          when(a(0), raise_error(a(1).cast("string"))).otherwise(lit(true))
        case "apoc.util.merge" => // maps: right wins; lists: concat (util.go:141)
          // Cypher map LITERALS compile to structs — merge those at plan
          // time by field name (right wins), true maps via map_concat
          (f.df.select(a(0)).schema.head.dataType,
            f.df.select(a(1)).schema.head.dataType) match {
            case (_: org.apache.spark.sql.types.MapType, _) => map_concat(a(0), a(1))
            case (_: org.apache.spark.sql.types.ArrayType, _) => concat(a(0), a(1))
            case (s1: org.apache.spark.sql.types.StructType,
                  s2: org.apache.spark.sql.types.StructType) =>
              struct(
                (s1.fieldNames.filterNot(s2.fieldNames.contains).map(n =>
                  a(0).getField(n).as(n)) ++
                  s2.fieldNames.map(n => a(1).getField(n).as(n))).toSeq: _*)
            case _ => a(1)
          }
        case "apoc.util.isnode" | "apoc.util.isrelationship" | "apoc.util.ispath" =>
          // resolved at plan time from the variable's kind / struct shape
          args.head match {
            case Variable(v) if f.kinds.contains(v) => f.kinds(v) match {
              case NodeK => lit(name == "apoc.util.isnode")
              case RelK => lit(name == "apoc.util.isrelationship")
              case _ => lit(false)
            }
            case other =>
              val dt = f.df.select(compile(other, f, params)).schema.head.dataType
              dt match {
                case st: org.apache.spark.sql.types.StructType =>
                  if (st.fieldNames.contains("labels")) lit(name == "apoc.util.isnode")
                  else if (st.fieldNames.contains("path")) lit(name == "apoc.util.ispath")
                  else if (st.fieldNames.contains("type")) lit(name == "apoc.util.isrelationship")
                  else lit(false)
                case _ => lit(false)
              }
          }
        // the reference's compress is an explicit identity placeholder
        // (util.go:75 "Placeholder") — replayed as the same identity
        case "apoc.util.compress" | "apoc.util.compresswithalgorithm" =>
          a(0).cast("binary")
        case "apoc.util.decompress" | "apoc.util.decompresswithalgorithm" =>
          a(0).cast("string")
        case "apoc.util.partition" => throw new IllegalArgumentException(
          "apoc.util.partition takes a Go function argument (util.go:379) — " +
            "not callable from Cypher; apoc.coll.partition(list, n) is")

        // ---- apoc.map completion (ref apoc/map/map.go)
        case "apoc.map.keys" => map_keys(a(0))
        case "apoc.map.dropnullvalues" => map_filter(a(0), (_, v) => v.isNotNull)
        case "apoc.map.mergelist" => // later maps win (map.go:81)
          map_from_entries(flatten(transform(a(0), m => map_entries(m))))
        case "apoc.map.setlists" => // zip keys/values onto m (map.go:137)
          map_concat(a(0), map_from_arrays(
            transform(a(1), k => k.cast("string")), a(2)))
        case "apoc.map.setpairs" => // [[k,v]…] onto m (map.go:117)
          map_concat(a(0), map_from_entries(transform(a(1),
            p => struct(element_at(p, 1).cast("string"), element_at(p, 2)))))
        case "apoc.map.setvalues" => // alternating [k1,v1,k2,v2…] (map.go:160)
          map_concat(a(0), map_from_entries(
            transform(sequence(lit(1), (size(a(1)) / 2).cast("int")), i =>
              struct(element_at(a(1), i * 2 - 1).cast("string"),
                element_at(a(1), i * 2)))))
        case "apoc.map.groupby" => // key-value → list of maps (map.go:382)
          val (list, key) = (a(0), a(1))
          val keys = array_distinct(transform(list,
            m => element_at(m, key).cast("string")))
          map_from_arrays(keys, transform(keys,
            k => filter(list, m => element_at(m, key).cast("string") === k)))
        case "apoc.map.groupbymulti" => // '|'-joined composite key (map.go:397)
          val list = a(0)
          val keyOf = (m: Column) => args(1) match {
            case ListLit(ks) => concat_ws("|", ks.map(ke =>
              element_at(m, compile(ke, f, params)).cast("string")): _*)
            case _ => throw new IllegalArgumentException(
              "apoc.map.groupByMulti needs a literal key list")
          }
          val keys = array_distinct(transform(list, m => keyOf(m)))
          map_from_arrays(keys, transform(keys,
            k => filter(list, m => keyOf(m) === k)))
        case "apoc.map.flatten" => // one typed nesting level (map.go:332 recurses
          // over dynamic maps; our maps are uniformly typed, so one level IS
          // the full nesting)
          val delim = if (args.size >= 2) a(1) else lit(".")
          f.df.select(a(0)).schema.head.dataType match {
            case org.apache.spark.sql.types.MapType(_,
                _: org.apache.spark.sql.types.MapType, _) =>
              map_from_entries(flatten(transform(map_entries(a(0)),
                e => transform(map_entries(e.getField("value")), i =>
                  struct(concat(e.getField("key"), delim, i.getField("key")).as("key"),
                    i.getField("value").as("value"))))))
            case _ => a(0)
          }
        case "apoc.map.unflatten" => // inverse: 'a.b' keys → nested (map.go:357)
          val m = a(0)
          val tops = array_distinct(transform(map_keys(m),
            k => element_at(split(k, "\\."), 1)))
          map_from_arrays(tops, transform(tops, t =>
            map_from_entries(transform(
              filter(map_entries(m),
                e => element_at(split(e.getField("key"), "\\."), 1) === t),
              e => struct(
                when(size(split(e.getField("key"), "\\.")) > 1,
                  element_at(split(e.getField("key"), "\\."), 2))
                  .otherwise(e.getField("key")).as("key"),
                e.getField("value").as("value"))))))
        case "apoc.map.updatetree" => throw new IllegalArgumentException(
          "apoc.map.updateTree needs arbitrarily-nested dynamic maps " +
            "(map.go:416) — unsupported over typed maps; use apoc.map.setKey")

        // ---- apoc.convert completion (ref apoc/convert/convert.go)
        case "apoc.convert.tolist" =>
          f.df.select(a(0)).schema.head.dataType match {
            case _: org.apache.spark.sql.types.ArrayType => a(0)
            case _ => array(a(0))
          }
        case "apoc.convert.tomap" | "apoc.convert.fromjsonmap" =>
          f.df.select(a(0)).schema.head.dataType match {
            case _: org.apache.spark.sql.types.MapType => a(0)
            case _: org.apache.spark.sql.types.StructType =>
              from_json(to_json(a(0)),
                org.apache.spark.sql.types.DataType.fromDDL("map<string,variant>"))
            case org.apache.spark.sql.types.StringType =>
              from_json(a(0),
                org.apache.spark.sql.types.DataType.fromDDL("map<string,variant>"))
            case _ => throw new IllegalArgumentException(
              s"apoc.convert.toMap: cannot convert ${args.head}")
          }
        case "apoc.convert.tosortedjsonmap" => // sorted-key JSON text
          to_json(parse_json(to_json(a(0))))
        case "apoc.convert.fromjsonnode" =>
          from_json(a(0), org.apache.spark.sql.types.DataType.fromDDL(
            "struct<id:string,labels:array<string>,properties:map<string,string>>"))
        case "apoc.convert.tonode" | "apoc.convert.torelationship" =>
          f.df.select(a(0)).schema.head.dataType match {
            case _: org.apache.spark.sql.types.StructType => a(0)
            case org.apache.spark.sql.types.StringType if name.endsWith("tonode") =>
              from_json(a(0), org.apache.spark.sql.types.DataType.fromDDL(
                "struct<id:string,labels:array<string>,properties:map<string,string>>"))
            case org.apache.spark.sql.types.StringType =>
              from_json(a(0), org.apache.spark.sql.types.DataType.fromDDL(
                "struct<id:string,type:string,start:string,end:string,properties:map<string,string>>"))
            case _ => throw new IllegalArgumentException(s"$name: need struct or JSON")
          }
        case "apoc.convert.tonodelist" | "apoc.convert.torelationshiplist" =>
          a(0) // entity lists are already typed arrays of entity structs
        case "apoc.convert.getjsonpropertymap" => // parse a JSON-valued property
          val props = args.head match {
            case Variable(v) if f.kinds.get(v).exists(k => k == NodeK || k == RelK) =>
              col(s"${v}_properties")
            case other => compile(other, f, params).getField("properties")
          }
          from_json(element_at(props, a(1)),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,variant>"))
        case "apoc.convert.setjsonproperty" => // returns the UPDATED property map
          // (the reference mutates the node in place; writes go through SET)
          val props = args.head match {
            case Variable(v) if f.kinds.get(v).exists(k => k == NodeK || k == RelK) =>
              col(s"${v}_properties")
            case other => compile(other, f, params).getField("properties")
          }
          map_concat(props, map(a(1).cast("string"), to_json(parse_json(a(2).cast("string")))))
        case "apoc.convert.totree" => throw new IllegalArgumentException(
          "apoc.convert.toTree is procedure-shaped (row set → nested tree); " +
            "use CALL-surface export instead")

        // ---- apoc.json completion (ref apoc/json/json.go). parse/compact/
        // type/values ride Spark 4 VariantType (codegen'd); tree rewrites
        // (pretty/flatten/set/delete) are native expressions (JsonExprs.scala)
        case "apoc.json.parse" => parse_json(a(0))
        case "apoc.json.compact" => // canonical compact, keys sorted like Go
          to_json(parse_json(a(0)))
        case "apoc.json.type" => // object|array|string|number|boolean|null|invalid
          val t = ltrim(a(0))
          when(try_parse_json(a(0)).isNull, lit("invalid"))
            .when(t.startsWith("{"), lit("object"))
            .when(t.startsWith("["), lit("array"))
            .when(t.startsWith("\""), lit("string"))
            .when(trim(a(0)).isin("true", "false"), lit("boolean"))
            .when(trim(a(0)) === "null", lit("null"))
            .otherwise(lit("number"))
        case "apoc.json.values" => // object values, dynamic (variant) typed
          map_values(from_json(a(0),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,variant>")))
        case "apoc.json.merge" => // later objects win; sorted-key render
          val vm = org.apache.spark.sql.types.DataType.fromDDL("map<string,variant>")
          to_json(parse_json(to_json(args.map(x =>
            from_json(compile(x, f, params), vm)).reduce((x, y) => map_concat(x, y)))))
        case "apoc.json.pretty" =>
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          call_function("graft_json_pretty", a(0).cast("string"))
        case "apoc.json.flatten" =>
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          call_function("graft_json_flatten", a(0).cast("string"))
        case "apoc.json.unflatten" =>
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          call_function("graft_json_unflatten", a(0).cast("string"))
        case "apoc.json.set" =>
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          call_function("graft_json_set", a(0).cast("string"), a(1).cast("string"), a(2))
        case "apoc.json.delete" =>
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          call_function("graft_json_delete", a(0).cast("string"), a(1).cast("string"))
        case "apoc.json.filter" | "apoc.json.map" | "apoc.json.reduce" =>
          throw new IllegalArgumentException(
            s"$name takes a Go function argument (json.go:285) — not callable from Cypher")

        // ---- apoc.temporal completion (ref apoc/temporal/temporal.go).
        // Formats are Java SimpleDateFormat on BOTH sides (the reference
        // converts Java patterns to Go layouts, temporal.go:24).
        case "apoc.temporal.format" => date_format(a(0), args(1) match {
          case Lit(s: String) => s
          case _ => throw new IllegalArgumentException("format must be literal") })
        case "apoc.temporal.parse" => to_timestamp(a(0), args(1) match {
          case Lit(s: String) => s
          case _ => throw new IllegalArgumentException("format must be literal") })
        case "apoc.temporal.duration" => // amount×unit → int64 nanos, unknown
          // unit → 0 (temporal.go:293; Go Duration marshals as nanoseconds)
          val mult: Column = args(1) match {
            case Lit(u: String) => u match {
              case "hours" | "hour" => lit(3600L * 1000000000L)
              case "minutes" | "minute" => lit(60L * 1000000000L)
              case "seconds" | "second" => lit(1000000000L)
              case "milliseconds" | "millisecond" => lit(1000000L)
              case _ => lit(0L)
            }
            case _ => throw new IllegalArgumentException("unit must be literal")
          }
          a(0).cast("long") * mult
        case "apoc.temporal.formatduration" => // HH:mm:ss of nanos, the format
          // arg is ignored by the reference too (temporal.go:70)
          val secs = (a(0).cast("long") / 1000000000L).cast("long")
          format_string("%02d:%02d:%02d", (secs / 3600L).cast("long"),
            ((secs / 60L) % 60L).cast("long"), secs % 60L)
        case "apoc.temporal.round" => // nearest unit boundary (temporal.go:322)
          val unit = args(1) match {
            case Lit(s: String) => s
            case _ => throw new IllegalArgumentException("unit must be literal") }
          val start = date_trunc(unit, a(0))
          val end = unit match {
            case "minute" => start + expr("INTERVAL 1 MINUTE")
            case "hour" => start + expr("INTERVAL 1 HOUR")
            case "day" => start + expr("INTERVAL 1 DAY")
            case "week" => start + expr("INTERVAL 7 DAY")
            case "month" => start + expr("INTERVAL 1 MONTH")
            case "year" => start + expr("INTERVAL 1 YEAR")
            case _ => start + expr("INTERVAL 1 SECOND")
          }
          // t-start < end-t → start else end (half-up at the midpoint)
          when(unix_micros(a(0)) - unix_micros(start) <
            unix_micros(end) - unix_micros(a(0)), start).otherwise(end)
        case "apoc.temporal.timezone" => // UTC wall time → tz wall time
          from_utc_timestamp(a(0), args(1) match {
            case Lit(s: String) => s
            case _ => throw new IllegalArgumentException("tz must be literal") })
        case "apoc.temporal.toutc" | "apoc.temporal.tolocal" =>
          a(0) // session TZ is UTC: local == UTC (temporal.go:350,359)

        // ---- apoc.date completion (ref apoc/date/date.go)
        case "apoc.date.tounixtime" => unix_timestamp(a(0))
        case "apoc.date.fromunixtime" => timestamp_seconds(a(0).cast("long"))
        case "apoc.date.parseaszoneddatetime" => // alias of parse (date.go:170)
          unix_timestamp(a(0), args(1) match {
            case Lit(s: String) => s
            case _ => throw new IllegalArgumentException("format must be literal") })

        // ---- apoc.number / apoc.math completion
        case "apoc.number.exact" => // shortest 'f'-format double (number.go:104);
          // integral doubles drop the ".0" Go-style
          val d = a(0).cast("double")
          when(d === d.cast("long").cast("double"), d.cast("long").cast("string"))
            .otherwise(d.cast("string"))
        case "apoc.number.parse" => // strip , and spaces then parse (number.go:71)
          regexp_replace(a(0), "[, ]", "").cast("double")
        case "apoc.math.stdev" => // population ÷N over a list (math.go StdDev)
          val xs = transform(a(0), x => x.cast("double"))
          val m = aggregate(xs, lit(0.0), (acc, x) => acc + x) / size(xs)
          when(size(xs) === 0, lit(0.0)).otherwise(
            sqrt(aggregate(xs, lit(0.0), (acc, x) => acc + (x - m) * (x - m)) / size(xs)))
        case "apoc.math.nextprime" => // smallest prime > n (math.go:369);
          // bounded 300-candidate scan — prime gaps below 10^6 are < 150
          val n = a(0).cast("long")
          val isP = (c: Column) => when(c < 2, lit(false)).otherwise(
            forall(sequence(lit(2L), greatest(floor(sqrt(c)).cast("long"), lit(2L))),
              d => (c === d) || (c % d =!= 0)))
          array_min(filter(sequence(n + 1, n + 300), c => isP(c)))

        // ---- apoc.diff completion (ref apoc/diff/diff.go)
        case "apoc.diff.nodes" | "apoc.diff.relationships" =>
          // property-map diff of two entities (diff.go:41,80) — same shape
          // as apoc.diff.maps over their property maps
          def pm(e: Expr): Column = e match {
            case Variable(v) if f.kinds.get(v).exists(k => k == NodeK || k == RelK) =>
              col(s"${v}_properties")
            case other => compile(other, f, params).getField("properties")
          }
          val (m1, m2) = (pm(args(0)), pm(args(1)))
          val k1 = map_keys(m1); val k2 = map_keys(m2)
          struct(
            sort_array(array_except(k2, k1)).as("added"),
            sort_array(array_except(k1, k2)).as("removed"),
            sort_array(filter(array_intersect(k1, k2),
              k => !(element_at(m1, k) <=> element_at(m2, k)))).as("changed"),
            sort_array(filter(array_intersect(k1, k2),
              k => element_at(m1, k) <=> element_at(m2, k))).as("unchanged"))
        case "apoc.diff.summary" => // counts per diff bucket (diff.go:338)
          val d = a(0)
          map(lit("added"), size(d.getField("added")),
            lit("removed"), size(d.getField("removed")),
            lit("changed"), size(d.getField("changed")),
            lit("unchanged"), size(d.getField("unchanged")))
        case "apoc.diff.merge" => // strategy ∈ prefer_new|prefer_old|combine
          val strategy = args.lift(2).collect { case Lit(s: String) => s }
            .getOrElse("prefer_new")
          strategy match {
            case "prefer_old" => map_concat(a(1), a(0))
            case "combine" => // numbers add, strings concat, lists concat
              // (diff.go:307 combineValues) — dispatch on the value type
              val (m1, m2) = (a(0), a(1))
              val allKeys = array_distinct(concat(map_keys(m1), map_keys(m2)))
              val vt = f.df.select(m1).schema.head.dataType
                .asInstanceOf[org.apache.spark.sql.types.MapType].valueType
              val comb = (k: Column) => {
                val (v1, v2) = (element_at(m1, k), element_at(m2, k))
                val both = v1.isNotNull && v2.isNotNull
                vt match {
                  case org.apache.spark.sql.types.DoubleType |
                       org.apache.spark.sql.types.LongType |
                       org.apache.spark.sql.types.IntegerType =>
                    when(both, v1 + v2).otherwise(coalesce(v2, v1))
                  case org.apache.spark.sql.types.StringType =>
                    when(both, concat(v1, v2)).otherwise(coalesce(v2, v1))
                  case _: org.apache.spark.sql.types.ArrayType =>
                    when(both, concat(v1, v2)).otherwise(coalesce(v2, v1))
                  case _ => coalesce(v2, v1)
                }
              }
              map_from_arrays(allKeys, transform(allKeys, k => comb(k)))
            case _ => map_concat(a(0), a(1))
          }
        case "apoc.diff.patch" => // our DiffResult carries key sets (not value
          // maps — disclosed deviation from diff.go:244), so patch takes the
          // TARGET map to pull added/changed values from:
          // patch(original, diff, source)
          val (orig, d, src) = (a(0), a(1), a(2))
          val kept = filter(map_keys(orig),
            k => !array_contains(d.getField("removed"), k) &&
              !array_contains(d.getField("changed"), k))
          val pulled = concat(d.getField("added"), d.getField("changed"))
          map_from_arrays(
            concat(kept, pulled),
            concat(transform(kept, k => element_at(orig, k)),
              transform(pulled, k => element_at(src, k))))

        // ---- apoc.paths.* path-value functions (ref apoc/paths/paths.go;
        // traversal members live in the CALL registry, ApocProcs.scala).
        // A path value is struct<path: array<node_id>, length>.
        case "apoc.paths.reverse" => // paths.go:454
          struct(reverse(a(0).getField("path")).as("path"),
            a(0).getField("length").as("length"))
        case "apoc.paths.slice" => // nodes [start, end) (paths.go:479)
          val (s, e) = (a(1).cast("int"), a(2).cast("int"))
          val n = slice(a(0).getField("path"), s + 1, greatest(e - s, lit(0)))
          struct(n.as("path"), greatest(size(n) - 1, lit(0)).as("length"))
        case "apoc.paths.merge" => // concat node lists; length = Σ rels
          // (paths.go:430)
          struct(
            flatten(transform(a(0), p => p.getField("path"))).as("path"),
            aggregate(a(0), lit(0),
              (acc, p) => acc + p.getField("length")).as("length"))
        case "apoc.paths.common" => // nodes present in EVERY path (paths.go:372)
          sort_array(aggregate(
            slice(a(0), 2, 1000000),
            array_distinct(try_element_at(a(0), lit(1)).getField("path")),
            (acc, p) => array_intersect(acc, p.getField("path"))))
        case "apoc.paths.unique" => // distinct nodes across paths (paths.go:408)
          sort_array(array_distinct(
            flatten(transform(a(0), p => p.getField("path")))))

        // ---- apoc.stats.* list statistics (ref apoc/stats/stats.go).
        // Population moments (÷N), percentile takes p ∈ [0,1] over (n−1),
        // empty lists → 0 — all replayed exactly. Same HOF style as
        // apoc.agg.*: composes with collect().
        case n0 if n0.startsWith("apoc.stats.") =>
          compileStats(name, args, f, params)
        // ---- apoc.xml.* (ref apoc/xml/xml.go): XML values travel as TEXT
        // between calls (the reference passes Go structs); ops run in the
        // native expressions of XmlExprs.scala
        case n0 if n0.startsWith("apoc.xml.") =>
          graft.functions.HashExprs.ensure(f.df.sparkSession)
          val op = name.stripPrefix("apoc.xml.")
          val compiled = args.map(x => compile(x, f, params).cast("string"))
          op match {
            case "validate" => call_function("graft_xml_validate", compiled.head)
            case "query" =>
              call_function("graft_xml_query", compiled(0), compiled(1))
            case _ =>
              call_function("graft_xml", (lit(op) +: compiled): _*)
          }

        // apoc.search.highlight(text, query, pre, post) — the one scalar in
        // the search family (search.go:702)
        case "apoc.search.highlight" =>
          (args(1), args(2), args(3)) match {
            case (Lit(q: String), Lit(pre: String), Lit(post: String)) =>
              ApocSearchProcs.highlight(a(0), q, pre, post)
            case _ => throw new IllegalArgumentException(
              "apoc.search.highlight needs literal query/prefix/suffix")
          }

        // postfix field access on a non-variable expression:
        // fn(...).field / map.key — struct getField, map element_at
        case "_propOf" | "_propof" =>
          val base = a(0)
          val key = args(1) match {
            case Lit(s: String) => s
            case _ => throw new IllegalArgumentException("field name must be literal")
          }
          // inside a lambda (reduce/transform) the frame can't type-probe a
          // column that references lambda variables — structs are the only
          // shape function results take there, so getField is the fallback
          val dt = try Some(f.df.select(base).schema.head.dataType)
            catch { case _: Exception => None }
          dt match {
            case Some(_: org.apache.spark.sql.types.MapType) => element_at(base, key)
            case _ => base.getField(key)
          }

        // ---- final alias-wave scalars
        case "apoc.label.hasany" => // ANY of the labels (label.go)
          val lblCol = args.head match {
            case Variable(v) if f.kinds.get(v).contains(NodeK) => col(s"${v}_labels")
            case other => compile(other, f, params).getField("labels")
          }
          exists(a(1), l => array_contains(lblCol, l))
        case "apoc.create.vnodes" => // plural vnode (create.go:86)
          transform(a(1), m => struct(a(0).as("labels"), m.as("properties")))
        case "apoc.create.vpattern" => // (startProps, relType, relProps,
          // endProps) → {start, rel, end} (create.go:114)
          struct(
            struct(array().cast("array<string>").as("labels"),
              a(0).as("properties")).as("start"),
            struct(a(1).as("type"), a(2).as("properties")).as("rel"),
            struct(array().cast("array<string>").as("labels"),
              a(3).as("properties")).as("end"))
        case "apoc.agg.graph" => // collected ids → {nodes, relationships}
          struct(sort_array(array_distinct(a(0))).as("nodes"),
            sort_array(array_distinct(a(1))).as("relationships"))
        case "apoc.path.elements" => // node sequence (rel ids are not part
          // of our path struct — disclosed vs paths.go interleaving)
          a(0).getField("path")
        case "apoc.merge.conditional" => // merge only when cond (merge.go:260)
          when(a(1), map_concat(a(0), a(2))).otherwise(a(0))
        case "apoc.merge.validate" => // conflicting keys (merge.go:312)
          val ks = array_intersect(map_keys(a(0)), map_keys(a(1)))
          struct(
            sort_array(filter(ks, k =>
              !(element_at(a(0), k) <=> element_at(a(1), k)))).as("conflicts"),
            size(map_keys(a(1))).as("incoming"))
        case "apoc.merge.preview" => // merged result WITHOUT applying
          map_concat(a(0), a(1))
        case "apoc.merge.snapshot" => a(0) // immutable copy (merge.go:376)
        case "apoc.merge.rollback" => a(1) // restore the snapshot (merge.go:361)
        case "apoc.merge.conflict" => throw new IllegalArgumentException(
          "apoc.merge.conflict takes a Go resolver function (merge.go:296) — " +
            "use apoc.diff.merge with a strategy")
        case "apoc.import.converttype" => // cast helper (apoc/import)
          args(1) match {
            case Lit("int") | Lit("integer") | Lit("long") => a(0).cast("long")
            case Lit("float") | Lit("double") => a(0).cast("double")
            case Lit("bool") | Lit("boolean") => a(0).cast("boolean")
            case _ => a(0).cast("string")
          }

        // Cypher point() constructor: {x, y} (cartesian) or
        // {longitude, latitude} (WGS-84) map literal → the engine's point
        // struct (functions_eval_math.go:720 point creation)
        // polygon/lineString geometries + point-in-polygon predicates
        // (functions_eval_math.go:1041-1198; ray casting helpers.go:191-249)
        case "polygon" =>
          when(size(a(0)) < 3, lit(null)).otherwise(
            struct(lit("polygon").as("type"), a(0).as("points")))
        case "linestring" =>
          when(size(a(0)) < 2, lit(null)).otherwise(
            struct(lit("linestring").as("type"), a(0).as("points")))
        case "point.intersects" | "point.contains" =>
          // intersects(point, polygon) / contains(polygon, point)
          val (pt, poly) =
            if (name == "point.intersects") (a(0), a(1)) else (a(1), a(0))
          val pts = poly.getField("points")
          val n = size(pts)
          val px = pt.getField("x").cast("double")
          val py = pt.getField("y").cast("double")
          // ray casting with a boundary short-circuit: fold over edges
          // (coords(i), coords(i-1 mod n)), toggling `inside` per
          // crossing; the division is guarded by the crossing test
          val res = aggregate(sequence(lit(1), n),
            struct(lit(false).as("inside"), lit(false).as("onEdge")),
            (acc, i) => {
              val cur = element_at(pts, i)
              val prev = element_at(pts, when(i === 1, n).otherwise(i - 1))
              val xi = cur.getField("x").cast("double")
              val yi = cur.getField("y").cast("double")
              val xj = prev.getField("x").cast("double")
              val yj = prev.getField("y").cast("double")
              val onH = (yi === py) && (yj === py) &&
                (((xi <= px) && (px <= xj)) || ((xj <= px) && (px <= xi)))
              val crossed = when((yi > py) =!= (yj > py),
                px < (xj - xi) * (py - yi) / (yj - yi) + xi)
                .otherwise(lit(false))
              struct((acc.getField("inside") =!= crossed).as("inside"),
                (acc.getField("onEdge") || onH).as("onEdge"))
            })
          when(poly.isNull || pt.isNull || n < 3, lit(false))
            .otherwise(res.getField("onEdge") || res.getField("inside"))
        case "point" => args.head match {
          case MapLit(items) =>
            val m = items.toMap
            val geo = m.contains("latitude") || m.contains("longitude")
            def pick(k1: String, k2: String): Expr =
              m.getOrElse(k1, m.getOrElse(k2, Lit(null)))
            struct(
              compile(pick("x", "longitude"), f, params).cast("double").as("x"),
              compile(pick("y", "latitude"), f, params).cast("double").as("y"),
              lit(if (geo) 4326 else 7203).as("srid"))
          case other => compile(other, f, params) // already a point struct
        }

        // ---- apoc.spatial.* (ref apoc/spatial/spatial.go). Points are the
        // engine's point struct (x = longitude, y = latitude); distances in
        // KILOMETERS like the reference's R = 6371 haversine.
        case n0 if n0.startsWith("apoc.spatial.") =>
          compileSpatial(name, args, f, params)
        // ---- apoc.meta.* type scalars (meta.go:106-273). Catalog members
        // live in the CALL registry (ApocSysProcs).
        case "apoc.meta.type" | "apoc.meta.cyphertype" =>
          import org.apache.spark.sql.types._
          args.head match {
            case Variable(v) if f.kinds.get(v).contains(NodeK) => lit("NODE")
            case Variable(v) if f.kinds.get(v).contains(RelK) => lit("RELATIONSHIP")
            case _ => f.df.select(a(0)).schema.head.dataType match {
              case NullType => lit("UNKNOWN") // Go's nil hits default
              case BooleanType => lit("BOOLEAN")
              case ByteType | ShortType | IntegerType | LongType => lit("INTEGER")
              case FloatType | DoubleType | _: DecimalType => lit("FLOAT")
              case StringType => lit("STRING")
              case _: ArrayType => lit("LIST")
              case _: MapType | _: StructType => lit("MAP")
              case _ => lit("UNKNOWN")
            }
          }
        case "apoc.meta.istype" => args(1) match {
          case Lit(t: String) =>
            val tc = compile(FnCall("apoc.meta.type", Seq(args.head), distinct = false),
              f, params)
            tc === lit(t)
          case _ => throw new IllegalArgumentException("type name must be literal")
        }
        case "apoc.meta.typeof" => // {type, nullable} (meta.go:134)
          val tc = compile(FnCall("apoc.meta.type", Seq(args.head), distinct = false),
            f, params)
          struct(tc.as("type"), a(0).isNull.as("nullable"))
        case "apoc.meta.types" | "apoc.meta.cyphertypes" =>
          // property → type name; the string property map carries every
          // value as STRING (typed hoisted columns are the exception —
          // disclosed, matches the map's actual runtime type)
          val props = args.head match {
            case Variable(v) if f.kinds.get(v).exists(k => k == NodeK || k == RelK) =>
              col(s"${v}_properties")
            case other => compile(other, f, params).getField("properties")
          }
          transform_values(props, (_, _) => lit("STRING"))
        case "apoc.meta.isnode" =>
          compile(FnCall("apoc.util.isnode", args, distinct = false), f, params)
        case "apoc.meta.isrelationship" =>
          compile(FnCall("apoc.util.isrelationship", args, distinct = false), f, params)
        case "apoc.meta.ispath" =>
          compile(FnCall("apoc.util.ispath", args, distinct = false), f, params)

        // ---- apoc.node.* / apoc.rel.* entity accessors (ref apoc/node/
        // node.go, apoc/rel/rel.go). Degree/connected/neighbors are handled
        // by the rewrite phase (grouped joins); everything here is a pure
        // column expression over the binding's carried fields. The mutators
        // return the UPDATED entity as struct<id, labels, properties> — the
        // reference mutates in place; persistent writes go through SET.
        case n0 if n0.startsWith("apoc.node.") || n0.startsWith("apoc.rel.") =>
          compileNodeRel(name, args, f, params)
        // ---- apoc.agg.* (ref apoc/agg/agg.go). The reference implements
        // these over value SLICES ([]interface{}), so they compose with
        // collect(): apoc.agg.median(collect(x)) — list functions here too.
        case "apoc.agg.first" => try_element_at(a(0), lit(1))
        case "apoc.agg.last" => try_element_at(a(0), lit(-1))
        case "apoc.agg.nth" => try_element_at(a(0), a(1).cast("int") + 1) // 0-based
        case "apoc.agg.slice" => // [start, end) (agg.go:54)
          slice(a(0), a(1).cast("int") + 1, (a(2) - a(1)).cast("int"))
        case "apoc.agg.product" =>
          aggregate(a(0), lit(1.0), (acc, x) => acc * x.cast("double"))
        case "apoc.agg.median" => pctCol(a(0), lit(50.0))
        case "apoc.agg.percentile" => pctCol(a(0), a(1))
        case "apoc.agg.stdev" | "apoc.agg.stddev" => // population ÷N (agg.go:143)
          val xs = transform(a(0), x => x.cast("double"))
          val m = aggregate(xs, lit(0.0), (acc, x) => acc + x) / size(xs)
          when(size(xs) === 0, lit(0.0)).otherwise(
            sqrt(aggregate(xs, lit(0.0), (acc, x) => acc + (x - m) * (x - m)) / size(xs)))
        case "apoc.agg.mode" => // ties → smallest (Go map iteration is
          // nondeterministic on ties, agg.go:178)
          val freq = (v: Column) => size(filter(a(0), y => y <=> v))
          val maxFreq = array_max(transform(array_distinct(a(0)), v => freq(v)))
          array_min(filter(array_distinct(a(0)), v => freq(v) === maxFreq))
        case "apoc.agg.statistics" => // min/max/mean/sum/stdev/variance/count (agg.go:205)
          val xs = transform(a(0), x => x.cast("double"))
          val sm = aggregate(xs, lit(0.0), (acc, x) => acc + x)
          val m = sm / size(xs)
          val vr = aggregate(xs, lit(0.0), (acc, x) => acc + (x - m) * (x - m)) / size(xs)
          map(lit("min"), array_min(xs), lit("max"), array_max(xs),
            lit("mean"), m, lit("sum"), sm, lit("stdev"), sqrt(vr),
            lit("variance"), vr, lit("count"), size(xs).cast("double"))
        case "apoc.agg.minitems" => // n smallest, ascending (agg.go:305)
          slice(sort_array(transform(a(0), x => x.cast("double"))), lit(1), a(1).cast("int"))
        case "apoc.agg.maxitems" => // n largest, descending (agg.go:331)
          slice(sort_array(transform(a(0), x => x.cast("double")), asc = false),
            lit(1), a(1).cast("int"))
        case "apoc.agg.histogram" => // [{bucket, count}] sorted by bucket
          // (deterministic; the reference iterates a Go map — agg.go:358)
          val xs = transform(a(0), x => x.cast("double"))
          val bs = a(1).cast("double")
          val bucketOf = (v: Column) => floor(v / bs).cast("double") * bs
          transform(sort_array(array_distinct(transform(xs, v => bucketOf(v)))),
            b => struct(b.as("bucket"),
              size(filter(xs, v => bucketOf(v) === b)).as("count")))
        case "apoc.agg.frequencies" => // first-occurrence order (agg.go:392)
          transform(array_distinct(a(0)),
            x => struct(x.as("value"), size(filter(a(0), y => y <=> x)).as("count")))

        // math
        case "abs" => abs(a(0))
        case "ceil" => ceil(a(0))
        case "floor" => floor(a(0))
        case "round" => if (args.size >= 2) round(a(0), args(1) match { case Lit(n: Long) => n.toInt; case _ => 0 }) else round(a(0))
        case "sign" => signum(a(0))
        case "sqrt" => sqrt(a(0))
        case "exp" => exp(a(0))
        case "log" => log(a(0))
        case "log10" => log10(a(0))
        case "sin" => sin(a(0)); case "cos" => cos(a(0)); case "tan" => tan(a(0))
        case "asin" => asin(a(0)); case "acos" => acos(a(0)); case "atan" => atan(a(0))
        case "atan2" => atan2(a(0), a(1))
        case "pi" => lit(math.Pi)
        case "e" => lit(math.E)
        case "rand" => rand()
        case "timestamp" => // ms since epoch (Neo4j timestamp())
          unix_millis(current_timestamp())
        case "randomuuid" | "apoc.create.uuid" => expr("uuid()")
        case "coalesce" => coalesce(args.map(x => compile(x, f, params)): _*)
        case "nullif" => when(a(0) === a(1), lit(null)).otherwise(a(0))
        case "isempty" => size(a(0)) === 0
        // higher-order list predicates
        case "all" | "any" | "none" | "single" =>
          throw new IllegalArgumentException(s"$name(...) list predicate: use forall/exists via the functions API")
        case "vector.similarity.cosine" => graft.functions.VectorFns.cosineCol(a(0), a(1))
        case "vector.similarity.euclidean" => graft.functions.VectorFns.euclideanSimCol(a(0), a(1))
        // the kalman.* family: user-held JSON state, struct results
        // (kalman_functions.go; SHOW FUNCTIONS rows executor_show.go:152-161)
        case kn if kn.startsWith("kalman.") =>
          graft.functions.KalmanFns.ensure(f.df.sparkSession)
          org.apache.spark.sql.functions.call_function(
            "graft_" + kn.replace(".", "_"),
            args.map(x => compile(x, f, params)): _*)
        case other =>
          throw new IllegalArgumentException(s"unknown function $other")
      }
  }
  /** Extracted from compile() — the JVM 64KB method limit. */
  private def compileStats(name: String, args: Seq[Expr], f: Frame,
      params: Map[String, Any]): Column = {
    def a(i: Int): Column = compile(args(i), f, params)
          val xs = transform(a(0), x => x.cast("double"))
          val nn = size(xs).cast("double")
          val mean = aggregate(xs, lit(0.0), (acc, x) => acc + x) / nn
          val variance = when(size(xs) === 0, lit(0.0)).otherwise(
            aggregate(xs, lit(0.0), (acc, x) => acc + (x - mean) * (x - mean)) / nn)
          val sd = sqrt(variance)
          // p ∈ [0,1] linear interpolation on (n−1) — stats.go:166
          def pct(p: Column): Column = {
            val sorted = sort_array(xs)
            val idx = p.cast("double") * (size(xs) - 1).cast("double")
            val lo = floor(idx).cast("int"); val hi = ceil(idx).cast("int")
            when(size(xs) === 0, lit(0.0))
              .when(lo === hi, try_element_at(sorted, lo + 1))
              .otherwise(try_element_at(sorted, lo + 1) * (lit(1.0) - (idx - lo)) +
                try_element_at(sorted, hi + 1) * (idx - lo))
          }
          def stdMoment(k: Int): Column =
            aggregate(xs, lit(0.0), (acc, x) => acc + pow((x - mean) / sd, k))
          name.stripPrefix("apoc.stats.") match {
            case "mean" => when(size(xs) === 0, lit(0.0)).otherwise(mean)
            case "median" => pct(lit(0.5)) // == Go's mid-pair average
            case "mode" => // most frequent; ties → smallest (Go map order)
              val freq = (v: Column) => size(filter(xs, y => y <=> v))
              val maxFreq = array_max(transform(array_distinct(xs), v => freq(v)))
              when(size(xs) === 0, lit(0.0)).otherwise(
                array_min(filter(array_distinct(xs), v => freq(v) === maxFreq)))
            case "stddev" => sd
            case "variance" => variance
            case "percentile" => pct(a(1))
            case "quartiles" =>
              map(lit("Q1"), pct(lit(0.25)), lit("Q2"), pct(lit(0.5)),
                lit("Q3"), pct(lit(0.75)))
            case "iqr" => pct(lit(0.75)) - pct(lit(0.25))
            case "min" => coalesce(array_min(xs), lit(0.0))
            case "max" => coalesce(array_max(xs), lit(0.0))
            case "range" => coalesce(array_max(xs) - array_min(xs), lit(0.0))
            case "sum" => aggregate(xs, lit(0.0), (acc, x) => acc + x)
            case "count" => size(xs)
            case "skewness" => // (n/((n−1)(n−2)))·Σz³, n ≥ 3 (stats.go:286)
              when(size(xs) < 3 || sd === 0, lit(0.0)).otherwise(
                nn / ((nn - 1) * (nn - 2)) * stdMoment(3))
            case "kurtosis" => // stats.go:312, n ≥ 4
              when(size(xs) < 4 || sd === 0, lit(0.0)).otherwise(
                nn * (nn + 1) / ((nn - 1) * (nn - 2) * (nn - 3)) * stdMoment(4) -
                  lit(3.0) * (nn - 1) * (nn - 1) / ((nn - 2) * (nn - 3)))
            case "correlation" => // Pearson (stats.go:339)
              val ys = transform(a(1), x => x.cast("double"))
              val my = aggregate(ys, lit(0.0), (acc, x) => acc + x) / size(ys)
              val num = aggregate(zip_with(xs, ys, (x, y) => (x - mean) * (y - my)),
                lit(0.0), (acc, z) => acc + z)
              val dx = aggregate(xs, lit(0.0), (acc, x) => acc + (x - mean) * (x - mean))
              val dy = aggregate(ys, lit(0.0), (acc, y) => acc + (y - my) * (y - my))
              when(size(xs) =!= size(ys) || size(xs) === 0 || dx === 0 || dy === 0,
                lit(0.0)).otherwise(num / sqrt(dx * dy))
            case "covariance" => // ÷N (stats.go:371)
              val ys = transform(a(1), x => x.cast("double"))
              val my = aggregate(ys, lit(0.0), (acc, x) => acc + x) / size(ys)
              when(size(xs) =!= size(ys) || size(xs) === 0, lit(0.0)).otherwise(
                aggregate(zip_with(xs, ys, (x, y) => (x - mean) * (y - my)),
                  lit(0.0), (acc, z) => acc + z) / nn)
            case "zscore" =>
              when(sd === 0, transform(xs, _ => lit(0.0)))
                .otherwise(transform(xs, x => (x - mean) / sd))
            case "normalize" => // min-max to [0,1]; flat list → all 1.0
              val (mn, mx) = (array_min(xs), array_max(xs))
              when(mx === mn, transform(xs, _ => lit(1.0)))
                .otherwise(transform(xs, x => (x - mn) / (mx - mn)))
            case "histogram" => // fixed bin count, top value clamped in
              val (mn, mx) = (array_min(xs), array_max(xs))
              val bins = a(1).cast("int")
              val w = (mx - mn) / bins.cast("double")
              transform(sequence(lit(0), bins - 1), b =>
                size(filter(xs, v => least(floor((v - mn) / w).cast("int"),
                  bins - 1) === b)))
            case "outliers" => // 1.5·IQR fences (stats.go:466)
              val (q1, q3) = (pct(lit(0.25)), pct(lit(0.75)))
              val iqr = q3 - q1
              filter(xs, v => v < q1 - lit(1.5) * iqr || v > q3 + lit(1.5) * iqr)
            case "summary" => // every measure, double-valued (count too —
              // map values must unify; disclosed like agg.statistics)
              map(
                lit("count"), nn, lit("sum"),
                aggregate(xs, lit(0.0), (acc, x) => acc + x),
                lit("mean"), when(size(xs) === 0, lit(0.0)).otherwise(mean),
                lit("median"), pct(lit(0.5)),
                lit("stdDev"), sd, lit("variance"), variance,
                lit("min"), coalesce(array_min(xs), lit(0.0)),
                lit("max"), coalesce(array_max(xs), lit(0.0)),
                lit("range"), coalesce(array_max(xs) - array_min(xs), lit(0.0)),
                lit("Q1"), pct(lit(0.25)), lit("Q2"), pct(lit(0.5)),
                lit("Q3"), pct(lit(0.75)),
                lit("IQR"), pct(lit(0.75)) - pct(lit(0.25)),
                lit("mode"), {
                  val freq = (v: Column) => size(filter(xs, y => y <=> v))
                  val maxFreq = array_max(transform(array_distinct(xs), v => freq(v)))
                  when(size(xs) === 0, lit(0.0)).otherwise(
                    array_min(filter(array_distinct(xs), v => freq(v) === maxFreq)))
                },
                lit("skewness"), when(size(xs) < 3 || sd === 0, lit(0.0))
                  .otherwise(nn / ((nn - 1) * (nn - 2)) * stdMoment(3)),
                lit("kurtosis"), when(size(xs) < 4 || sd === 0, lit(0.0))
                  .otherwise(nn * (nn + 1) / ((nn - 1) * (nn - 2) * (nn - 3)) *
                    stdMoment(4) -
                    lit(3.0) * (nn - 1) * (nn - 1) / ((nn - 2) * (nn - 3))))
            case other0 => throw new IllegalArgumentException(
              s"unknown function apoc.stats.$other0")
          }

  }

  /** Extracted from compile() — the JVM 64KB method limit. */
  private def compileSpatial(name: String, args: Seq[Expr], f: Frame,
      params: Map[String, Any]): Column = {
    def a(i: Int): Column = compile(args(i), f, params)
          def lat(p: Column) = p.getField("y")
          def lon(p: Column) = p.getField("x")
          def hav(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
            val (la1, la2) = (radians(lat1), radians(lat2))
            val dLat = radians(lat2 - lat1); val dLon = radians(lon2 - lon1)
            val h = sin(dLat / 2) * sin(dLat / 2) +
              cos(la1) * cos(la2) * sin(dLon / 2) * sin(dLon / 2)
            lit(6371.0) * lit(2.0) * atan2(sqrt(h), sqrt(lit(1.0) - h))
          }
          def mkPoint(x: Column, y: Column): Column =
            struct(x.cast("double").as("x"), y.cast("double").as("y"),
              lit(4326).as("srid"))
          name.stripPrefix("apoc.spatial.") match {
            case "distance" => hav(lat(a(0)), lon(a(0)), lat(a(1)), lon(a(1)))
            case "haversinedistance" => hav(a(0), a(1), a(2), a(3))
            case "vincentydistance" => // the reference's 'Vincenty' is
              // haversine × 1000 (spatial.go:55 "Simplified")
              hav(a(0), a(1), a(2), a(3)) * 1000.0
            case "bearing" => // initial bearing, 0-360 (spatial.go:66)
              val la1 = radians(lat(a(0))); val la2 = radians(lat(a(1)))
              val dLon = radians(lon(a(1)) - lon(a(0)))
              val y = sin(dLon) * cos(la2)
              val x = cos(la1) * sin(la2) - sin(la1) * cos(la2) * cos(dLon)
              pmod(degrees(atan2(y, x)) + 360.0, lit(360.0))
            case "destination" => // (point, bearing°, meters) (spatial.go:85)
              val la1 = radians(lat(a(0))); val lo1 = radians(lon(a(0)))
              val br = radians(a(1).cast("double"))
              val dr = a(2).cast("double") / 6371000.0
              val la2 = asin(sin(la1) * cos(dr) + cos(la1) * sin(dr) * cos(br))
              val lo2 = lo1 + atan2(sin(br) * sin(dr) * cos(la1),
                cos(dr) - sin(la1) * sin(la2))
              mkPoint(degrees(lo2), degrees(la2))
            case "midpoint" => // spatial.go:110
              val la1 = radians(lat(a(0))); val lo1 = radians(lon(a(0)))
              val la2 = radians(lat(a(1)))
              val dLon = radians(lon(a(1)) - lon(a(0)))
              val bx = cos(la2) * cos(dLon); val by = cos(la2) * sin(dLon)
              val la3 = atan2(sin(la1) + sin(la2),
                sqrt((cos(la1) + bx) * (cos(la1) + bx) + by * by))
              val lo3 = lo1 + atan2(by, cos(la1) + bx)
              mkPoint(degrees(lo3), degrees(la3))
            case "boundingbox" => // {minLat,maxLat,minLon,maxLon} (spatial.go:136)
              map(lit("minLat"), array_min(transform(a(0), p => lat(p))),
                lit("maxLat"), array_max(transform(a(0), p => lat(p))),
                lit("minLon"), array_min(transform(a(0), p => lon(p))),
                lit("maxLon"), array_max(transform(a(0), p => lon(p))))
            case "within" => // point inside bbox map (spatial.go:174)
              lat(a(0)) >= element_at(a(1), "minLat") &&
                lat(a(0)) <= element_at(a(1), "maxLat") &&
                lon(a(0)) >= element_at(a(1), "minLon") &&
                lon(a(0)) <= element_at(a(1), "maxLon")
            case "area" => // spherical excess, m² (spatial.go:186)
              val ps = a(0); val n = size(ps)
              val terms = transform(sequence(lit(1), n), i => {
                val p1 = element_at(ps, i)
                val p2 = element_at(ps, (i % n) + 1)
                radians(lon(p2) - lon(p1)) *
                  (lit(2.0) + sin(radians(lat(p1))) + sin(radians(lat(p2))))
              })
              when(n < 3, lit(0.0)).otherwise(
                abs(aggregate(terms, lit(0.0), (acc, x) => acc + x) *
                  lit(6371000.0) * lit(6371000.0) / 2))
            case "centroid" => // arithmetic mean (spatial.go:216)
              mkPoint(
                aggregate(transform(a(0), p => lon(p)), lit(0.0),
                  (acc, x) => acc + x) / size(a(0)),
                aggregate(transform(a(0), p => lat(p)), lit(0.0),
                  (acc, x) => acc + x) / size(a(0)))
            case "nearest" | "knearest" =>
              val sorted = array_sort(transform(a(1), p =>
                struct(hav(lat(a(0)), lon(a(0)), lat(p), lon(p)).as("d"),
                  p.as("p"))))
              if (name.endsWith("knearest"))
                transform(slice(sorted, lit(1), a(2).cast("int")),
                  s => s.getField("p"))
              else try_element_at(sorted, lit(1)).getField("p")
            case "withindistance" => // km radius (spatial.go:306)
              filter(a(1), p =>
                hav(lat(a(0)), lon(a(0)), lat(p), lon(p)) <= a(2).cast("double"))
            case "intersects" => // bbox overlap (spatial.go:323)
              !(element_at(a(0), "maxLat") < element_at(a(1), "minLat") ||
                element_at(a(1), "maxLat") < element_at(a(0), "minLat") ||
                element_at(a(0), "maxLon") < element_at(a(1), "minLon") ||
                element_at(a(1), "maxLon") < element_at(a(0), "minLon"))
            case "contains" => // bbox1 ⊇ bbox2 (spatial.go:335)
              element_at(a(0), "minLat") <= element_at(a(1), "minLat") &&
                element_at(a(0), "maxLat") >= element_at(a(1), "maxLat") &&
                element_at(a(0), "minLon") <= element_at(a(1), "minLon") &&
                element_at(a(0), "maxLon") >= element_at(a(1), "maxLon")
            case "togeojson" => // {type, coordinates:[lon,lat]} (spatial.go:347)
              struct(lit("Point").as("type"),
                array(lon(a(0)), lat(a(0))).as("coordinates"))
            case "fromgeojson" =>
              mkPoint(try_element_at(a(0).getField("coordinates"), lit(1)),
                try_element_at(a(0).getField("coordinates"), lit(2)))
            // the reference's geohash codec is an explicit hardcoded
            // placeholder (spatial.go:377-395) — replayed verbatim
            case "decodegeohash" => mkPoint(lit(-0.1278), lit(51.5074))
            case "encodegeohash" => lit("u4pruydqq")
            case other0 => throw new IllegalArgumentException(
              s"unknown function apoc.spatial.$other0")
          }

  }

  /** Extracted from compile() — the JVM 64KB method limit. */
  private def compileNodeRel(name: String, args: Seq[Expr], f: Frame,
      params: Map[String, Any]): Column = {
    def a(i: Int): Column = compile(args(i), f, params)
          def fieldOf(e: Expr, fld: String): Column = e match {
            case Variable(v) if f.kinds.contains(v) => col(s"${v}_$fld")
            case other => compile(other, f, params).getField(fld)
          }
          def props0(e: Expr): Column = fieldOf(e, "properties")
          def nodeStruct(id: Column, labels: Column, props: Column): Column =
            struct(id.as("id"), labels.as("labels"), props.as("properties"))
          def updatedNode(e: Expr, labels: Column => Column,
              props: Column => Column): Column =
            nodeStruct(fieldOf(e, "id"), labels(fieldOf(e, "labels")),
              props(props0(e)))
          def relStruct(e: Expr, src: Column, dst: Column, props: Column): Column =
            struct(fieldOf(e, "id").as("id"), fieldOf(e, "type").as("type"),
              src.as("src"), dst.as("dst"), props.as("properties"))
          name match {
            case "apoc.node.properties" | "apoc.rel.properties" => props0(args.head)
            case "apoc.node.property" | "apoc.rel.property" =>
              element_at(props0(args.head), a(1))
            case "apoc.node.haslabels" => // ALL of (node.go:107)
              forall(a(1), l => array_contains(fieldOf(args.head, "labels"), l))
            case "apoc.node.tomap" => // heterogeneous map → struct (disclosed)
              nodeStruct(fieldOf(args.head, "id"), fieldOf(args.head, "labels"),
                props0(args.head))
            case "apoc.rel.tomap" =>
              relStruct(args.head, fieldOf(args.head, "src"),
                fieldOf(args.head, "dst"), props0(args.head))
            case "apoc.node.frommap" | "apoc.rel.frommap" =>
              f.df.select(a(0)).schema.head.dataType match {
                case _: org.apache.spark.sql.types.StructType => a(0)
                case _: org.apache.spark.sql.types.MapType if name.contains("node") =>
                  nodeStruct(element_at(a(0), "id"),
                    array().cast("array<string>"), a(0).cast("map<string,string>"))
                case _ => throw new IllegalArgumentException(s"$name: need struct or map")
              }
            case "apoc.node.clone" | "apoc.rel.clone" => // copy (node.go:427)
              if (name.contains("node"))
                nodeStruct(fieldOf(args.head, "id"), fieldOf(args.head, "labels"),
                  props0(args.head))
              else relStruct(args.head, fieldOf(args.head, "src"),
                fieldOf(args.head, "dst"), props0(args.head))
            // maps have no ordering for <=>; equality via sorted entry lists
            case "apoc.node.equals" => // id + labels + properties (node.go:485)
              fieldOf(args(0), "id") === fieldOf(args(1), "id") &&
                (fieldOf(args(0), "labels") <=> fieldOf(args(1), "labels")) &&
                (sort_array(map_entries(props0(args(0)))) <=>
                  sort_array(map_entries(props0(args(1)))))
            case "apoc.rel.equals" => // id + type + endpoints + props (rel.go:276)
              fieldOf(args(0), "id") === fieldOf(args(1), "id") &&
                fieldOf(args(0), "type") === fieldOf(args(1), "type") &&
                (sort_array(map_entries(props0(args(0)))) <=>
                  sort_array(map_entries(props0(args(1)))))
            case "apoc.node.diff" | "apoc.rel.compare" => // property-map diff
              val (m1, m2) = (props0(args(0)), props0(args(1)))
              val k1 = map_keys(m1); val k2 = map_keys(m2)
              struct(
                sort_array(array_except(k2, k1)).as("added"),
                sort_array(array_except(k1, k2)).as("removed"),
                sort_array(filter(array_intersect(k1, k2),
                  k => !(element_at(m1, k) <=> element_at(m2, k)))).as("changed"),
                sort_array(filter(array_intersect(k1, k2),
                  k => element_at(m1, k) <=> element_at(m2, k))).as("unchanged"))
            case "apoc.node.setproperty" =>
              updatedNode(args.head, identity,
                p => map_concat(p, map(a(1).cast("string"), a(2).cast("string"))))
            case "apoc.node.setproperties" =>
              updatedNode(args.head, identity,
                p => map_concat(p, a(1).cast("map<string,string>")))
            case "apoc.node.removeproperty" =>
              updatedNode(args.head, identity,
                p => map_filter(p, (k, _) => k =!= a(1)))
            case "apoc.node.removeproperties" =>
              updatedNode(args.head, identity,
                p => map_filter(p, (k, _) => !array_contains(a(1), k)))
            case "apoc.node.addlabel" =>
              updatedNode(args.head, l => array_union(l, array(a(1))), identity)
            case "apoc.node.addlabels" =>
              updatedNode(args.head, l => array_union(l, a(1)), identity)
            case "apoc.node.removelabel" =>
              updatedNode(args.head, l => array_remove(l, a(1)), identity)
            case "apoc.node.removelabels" =>
              updatedNode(args.head, l => array_except(l, a(1)), identity)
            case "apoc.rel.setproperty" =>
              relStruct(args.head, fieldOf(args.head, "src"), fieldOf(args.head, "dst"),
                map_concat(props0(args.head), map(a(1).cast("string"), a(2).cast("string"))))
            case "apoc.rel.setproperties" =>
              relStruct(args.head, fieldOf(args.head, "src"), fieldOf(args.head, "dst"),
                map_concat(props0(args.head), a(1).cast("map<string,string>")))
            case "apoc.rel.removeproperty" =>
              relStruct(args.head, fieldOf(args.head, "src"), fieldOf(args.head, "dst"),
                map_filter(props0(args.head), (k, _) => k =!= a(1)))
            case "apoc.rel.removeproperties" =>
              relStruct(args.head, fieldOf(args.head, "src"), fieldOf(args.head, "dst"),
                map_filter(props0(args.head), (k, _) => !array_contains(a(1), k)))
            case "apoc.rel.reverse" => // endpoints swapped (rel.go:219)
              relStruct(args.head, fieldOf(args.head, "dst"),
                fieldOf(args.head, "src"), props0(args.head))
            // endpoint accessors return node IDs (the reference returns the
            // stored *Node; the ID is the join key to fetch it)
            case "apoc.rel.startnode" => fieldOf(args.head, "src")
            case "apoc.rel.endnode" => fieldOf(args.head, "dst")
            case "apoc.rel.nodes" =>
              array(fieldOf(args.head, "src"), fieldOf(args.head, "dst"))
            case "apoc.rel.othernode" => // rel.go:339
              val nid = fieldOf(args(1), "id")
              when(fieldOf(args.head, "src") === nid, fieldOf(args.head, "dst"))
                .when(fieldOf(args.head, "dst") === nid, fieldOf(args.head, "src"))
                .otherwise(lit(null))
            case "apoc.rel.direction" => // OUTGOING | INCOMING | NONE (rel.go:325)
              val nid = fieldOf(args(1), "id")
              when(fieldOf(args.head, "src") === nid, lit("OUTGOING"))
                .when(fieldOf(args.head, "dst") === nid, lit("INCOMING"))
                .otherwise(lit("NONE"))
            case "apoc.rel.isloop" =>
              fieldOf(args.head, "src") === fieldOf(args.head, "dst")
            case "apoc.rel.isbetween" => // either orientation (rel.go:364)
              val (x, y) = (fieldOf(args(1), "id"), fieldOf(args(2), "id"))
              (fieldOf(args.head, "src") === x && fieldOf(args.head, "dst") === y) ||
                (fieldOf(args.head, "src") === y && fieldOf(args.head, "dst") === x)
            case "apoc.rel.isdirectedbetween" => // src→dst only (rel.go:374)
              fieldOf(args.head, "src") === fieldOf(args(1), "id") &&
                fieldOf(args.head, "dst") === fieldOf(args(2), "id")
            case "apoc.rel.istype" => fieldOf(args.head, "type") === a(1)
            case "apoc.rel.isanytype" => array_contains(a(1), fieldOf(args.head, "type"))
            case "apoc.rel.hasproperty" =>
              map_contains_key(props0(args.head), a(1))
            case "apoc.rel.hasproperties" => // ALL keys present (rel.go:262)
              forall(a(1), k => map_contains_key(props0(args.head), k))
            case "apoc.rel.weight" => // numeric property w/ default (rel.go:311)
              coalesce(element_at(props0(args.head), a(1)).cast("double"),
                a(2).cast("double"))
            case "apoc.rel.delete" => throw new IllegalArgumentException(
              "apoc.rel.delete is a write — use MATCH …  DELETE r")
            case other0 => throw new IllegalArgumentException(
              s"unknown function $other0")
          }

  }

}
