package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.{GraphProjections, GraphStore, PropertyGraph}
import graft.algos.{Algorithms, GraphXAlgos}
import graft.operators.Dedup

/** CALL-surface registry for apoc.community / apoc.label / apoc.graph /
  * apoc.export-import-load / apoc.scoring procedures (ref
  * `apoc/community/community.go`, `apoc/label/label.go`,
  * `apoc/graph/graph.go`, `apoc/load`, `apoc/import`, `apoc/export`,
  * `apoc/scoring/scoring.go`).
  *
  * Community members ride the SAME distributed implementations the
  * q_algo_* rows oracle-check (GraphX-ctx loops / iterative joins); the
  * reference's in-memory modularity heuristics (fastGreedy, infomap,
  * spinglass, walktrap) are served by the distributed Louvain — a method
  * substitution, surfaced in the `method` column.
  */
object ApocGraphProcs {

  private def arg(args: Seq[Any], i: Int): Option[String] =
    args.lift(i).map(_.toString).filter(_.nonEmpty)
  private def argInt(args: Seq[Any], i: Int, dflt: Int): Int =
    args.lift(i).map(_.toString.toDouble.toInt).getOrElse(dflt)
  private def oneRow(g: PropertyGraph, cols: (String, Any)*): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    cols.foldLeft(Seq(1).toDF("_one")) { case (d, (n, v)) =>
      d.withColumn(n, lit(v)) }.drop("_one")
  }

  /** Global 1-based rank by (score desc, first-other-column asc) WITHOUT a
    * single-partition window: `orderBy` range-partitions the total order,
    * `zipWithIndex` numbers rows with one count job + broadcast partition
    * offsets — every partition stays parallel, so an unbounded subquery
    * result cannot funnel through one task. Same values as
    * `row_number() OVER (ORDER BY score DESC, tie ASC)` for any ordering
    * that is total on (score, tie); ties beyond that are arbitrary in both.
    */
  private def rankByScore(df: DataFrame, sc: String): DataFrame = {
    val tie = df.columns.filterNot(_ == sc).map(col).head
    val sorted = df.orderBy(col(sc).desc, tie)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "rank", org.apache.spark.sql.types.IntegerType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1).toInt) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  private val pairsCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[PropertyGraph,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]())

  /** Undirected distinct pair list of the (optionally type-filtered) edge
    * set — the input shape of the community family. CACHED per
    * (graph, relType): density/conductance/triangles on the same graph
    * share one build instead of re-shuffling the edge distinct per CALL
    * (weak-keyed so dropped graphs release their cache).
    */
  private[graft] def pairs(g: PropertyGraph, relType: Option[String]): DataFrame = {
    val inner = pairsCache.synchronized {
      var m = pairsCache.get(g)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        pairsCache.put(g, m)
      }
      m
    }
    inner.computeIfAbsent(relType.getOrElse("*"), _ => {
      val es = relType.map(g.edgesByType).getOrElse(g.edges)
      es.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct().cache()
    })
  }

  private def store: GraphStore = GraphStore.currentStore

  /** GraphX wants Long vertex ids; node ids are strings. Deterministic
    * dictionary: sorted-id zipWithIndex (distributed), result ids mapped
    * back.
    */
  private def withLongIds(p: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val dict = p.select(col("a").as("x")).union(p.select(col("b").as("x")))
      .distinct().orderBy("x").rdd.map(_.getString(0))
      .zipWithIndex().toDF("sid", "lid").cache()
    val longPairs = p
      .join(dict.select(col("sid").as("a"), col("lid").as("la")), "a")
      .join(dict.select(col("sid").as("b"), col("lid").as("lb")), "b")
      .select(col("la").as("a"), col("lb").as("b"))
    val out = f(longPairs)
    out.join(dict.select(col("lid").as("id"), col("sid")), "id")
      .drop("id").withColumnRenamed("sid", "id")
  }

  /** Rewrite node labels via a per-node transform (write procedure). */
  private def relabel(g0: PropertyGraph, s: GraphStore, ids: DataFrame,
      f: Column => Column): Long = {
    val g = s.snapshot
    val marked = g.nodes.join(ids.select(col("id")).withColumn("_hit", lit(true)),
      Seq("id"), "left_outer")
    val updated = marked.withColumn("labels",
      when(col("_hit"), f(col("labels"))).otherwise(col("labels"))).drop("_hit")
    val n = ids.count()
    s.replaceNodes(updated)
    n
  }

  private val base: Map[String, (PropertyGraph, Seq[Any]) => DataFrame] = Map(
    // ---- apoc.community.* (community.go) — distributed twins of the
    // oracle-checked q_algo_* rows
    "apoc.community.trianglecount" -> ((g, args) =>
      withLongIds(pairs(g, arg(args, 0)))(GraphXAlgos.triangleCounts)),
    "apoc.community.totaltriangles" -> ((g, args) =>
      // Σ per-node counts / 3 (community.go:380)
      withLongIds(pairs(g, arg(args, 0)))(GraphXAlgos.triangleCounts)
        .agg((sum(col("triangles")) / 3).cast("long").as("value"))),
    "apoc.community.clusteringcoefficient" -> ((g, args) =>
      withLongIds(pairs(g, arg(args, 0)))(GraphXAlgos.clusteringCoefficients)),
    "apoc.community.averageclusteringcoefficient" -> ((g, args) =>
      withLongIds(pairs(g, arg(args, 0)))(GraphXAlgos.clusteringCoefficients)
        .agg(avg(col("coefficient")).as("value"))),
    "apoc.community.connectedcomponents" -> ((g, args) =>
      Dedup.dedupClusters(pairs(g, arg(args, 0)))
        .select(col("doc_id").as("id"), col("cluster_id").as("component"))),
    "apoc.community.weaklyconnectedcomponents" -> ((g, args) =>
      Dedup.dedupClusters(pairs(g, arg(args, 0)))
        .select(col("doc_id").as("id"), col("cluster_id").as("component"))),
    "apoc.community.numcomponents" -> ((g, args) =>
      Dedup.dedupClusters(pairs(g, arg(args, 0)))
        .agg(countDistinct(col("cluster_id")).as("value"))),
    "apoc.community.stronglyconnectedcomponents" -> ((g, args) =>
      GraphXAlgos.scc(g, arg(args, 0))),
    "apoc.community.labelpropagation" -> ((g, args) =>
      GraphXAlgos.labelPropagation(g, argInt(args, 0, 10))),
    "apoc.community.louvain" -> ((g, args) =>
      GraphXAlgos.louvain(g, argInt(args, 0, 10))._1),
    "apoc.community.modularity" -> ((g, args) => {
      val p = pairs(g, arg(args, 0))
      val comm = Dedup.dedupClusters(p)
        .select(col("doc_id").as("id"), col("cluster_id").as("component"))
      Algorithms.modularity(p, comm)
    }),
    "apoc.community.kcore" -> ((g, args) =>
      Algorithms.kCore(pairs(g, arg(args, 1)), argInt(args, 0, 3))),
    "apoc.community.corenumber" -> ((g, args) => {
      // max k with node in the k-core: peel at increasing k until the
      // k-core is empty (community.go:664)
      val p = pairs(g, arg(args, 0))
      val spark = g.nodes.sparkSession
      import spark.implicits._
      var acc: DataFrame = p.select(col("a").as("id"))
        .union(p.select(col("b").as("id"))).distinct()
        .withColumn("core", lit(0))
      var k = 1
      var go = true
      while (go) {
        val inCore = Algorithms.kCore(p, k)
        if (inCore.isEmpty) go = false
        else {
          acc = acc.join(inCore.select(col("id")).withColumn("_in", lit(true)),
              Seq("id"), "left_outer")
            .withColumn("core", when(col("_in"), lit(k)).otherwise(col("core")))
            .drop("_in").localCheckpoint(true)
          k += 1
        }
      }
      acc
    }),
    "apoc.community.density" -> ((g, args) =>
      Algorithms.density(pairs(g, arg(args, 0)))),
    "apoc.community.conductance" -> ((g, args) => {
      val p = pairs(g, arg(args, 0))
      val comm = Dedup.dedupClusters(p)
      Algorithms.conductance(p,
        comm.filter(col("cluster_id") === comm.agg(min("cluster_id"))
          .collect().head.getString(0)).select(col("doc_id").as("id")))
    }),
    // the reference's in-memory modularity heuristics — served by the
    // distributed Louvain, method surfaced (community.go:923 FastGreedy
    // et al are O(n³) driver loops)
    "apoc.community.fastgreedy" -> ((g, args) =>
      GraphXAlgos.louvain(g, argInt(args, 0, 10))._1
        .withColumn("method", lit("louvain(fastGreedy substitution)"))),
    "apoc.community.infomap" -> ((g, args) =>
      GraphXAlgos.louvain(g, argInt(args, 0, 10))._1
        .withColumn("method", lit("louvain(infomap substitution)"))),
    "apoc.community.spinglass" -> ((g, args) =>
      GraphXAlgos.louvain(g, argInt(args, 0, 10))._1
        .withColumn("method", lit("louvain(spinglass substitution)"))),
    "apoc.community.walktrap" -> ((g, args) =>
      GraphXAlgos.louvain(g, argInt(args, 0, 10))._1
        .withColumn("method", lit("louvain(walktrap substitution)"))),

    // ---- apoc.label.* storage procedures (label.go; scalar members live
    // in the Planner)
    "apoc.label.list" -> ((g, _) =>
      g.nodes.select(explode(col("labels")).as("label")).distinct()
        .orderBy("label")),
    "apoc.label.count" -> ((g, args) =>
      oneRow(g, "value" -> g.nodesByLabel(args(0).toString).count())),
    "apoc.label.stats" -> ((g, _) =>
      g.nodes.select(explode(col("labels")).as("label"))
        .groupBy("label").agg(count(lit(1)).as("n")).orderBy("label")),
    "apoc.label.nodes" -> ((g, args) =>
      g.nodesByLabel(args(0).toString).select("id").orderBy("id")),
    "apoc.label.search" -> ((g, args) => // substring match over label names
      g.nodes.select(explode(col("labels")).as("label")).distinct()
        .filter(col("label").contains(args(0).toString)).orderBy("label")),
    "apoc.label.get" -> ((g, args) => // labels of one node (label.go Get)
      g.nodes.filter(col("id") === args(0).toString)
        .select(explode(col("labels")).as("label")).orderBy("label")),
    "apoc.label.add" -> ((g, args) => {
      val n = relabel(g, store,
        store.snapshot.nodes.filter(col("id") === args(0).toString).select("id"),
        l => array_union(l, array(lit(args(1).toString))))
      oneRow(g, "updated" -> n)
    }),
    "apoc.label.remove" -> ((g, args) => {
      val n = relabel(g, store,
        store.snapshot.nodes.filter(col("id") === args(0).toString).select("id"),
        l => array_remove(l, lit(args(1).toString)))
      oneRow(g, "updated" -> n)
    }),
    "apoc.label.set" -> ((g, args) => { // replace the whole label set
      val want = args(1).toString.split(",").map(_.trim).filter(_.nonEmpty)
      val n = relabel(g, store,
        store.snapshot.nodes.filter(col("id") === args(0).toString).select("id"),
        _ => array(want.map(lit(_)): _*))
      oneRow(g, "updated" -> n)
    }),
    "apoc.label.clear" -> ((g, args) => {
      val n = relabel(g, store,
        store.snapshot.nodes.filter(col("id") === args(0).toString).select("id"),
        _ => array().cast("array<string>"))
      oneRow(g, "updated" -> n)
    }),
    "apoc.label.replace" -> ((g, args) => { // old → new on EVERY node
      val (from, to) = (args(0).toString, args(1).toString)
      val ids = store.snapshot.nodes
        .filter(array_contains(col("labels"), from)).select("id")
      val n = relabel(g, store, ids,
        l => array_union(array_remove(l, lit(from)), array(lit(to))))
      oneRow(g, "updated" -> n)
    }),
    "apoc.label.merge" -> ((g, args) => { // add label to all of another label
      val ids = store.snapshot.nodes
        .filter(array_contains(col("labels"), args(0).toString)).select("id")
      val n = relabel(g, store, ids,
        l => array_union(l, array(lit(args(1).toString))))
      oneRow(g, "updated" -> n)
    }),
    "apoc.label.validate" -> ((g, args) => // legal label name (label.go)
      oneRow(g, "valid" ->
        args(0).toString.matches("[A-Za-z_][A-Za-z0-9_]*"))),
    "apoc.label.compare" -> ((g, args) => {
      val (a, b) = (g.nodesByLabel(args(0).toString).select("id"),
        g.nodesByLabel(args(1).toString).select("id"))
      oneRow(g, "both" -> a.intersect(b).count(),
        "only1" -> a.except(b).count(), "only2" -> b.except(a).count())
    }),
    "apoc.label.format" -> ((g, args) => // CamelCase normalization
      oneRow(g, "value" -> args(0).toString.split("[^A-Za-z0-9]+")
        .filter(_.nonEmpty)
        .map(w => w.head.toUpper + w.tail.toLowerCase).mkString(""))),

    // ---- apoc.graph.* virtual graph registry (graph.go) over the SAME
    // named-projection registry as gds.graph.*
    "apoc.graph.from" -> ((g, args) => {
      val p = GraphProjections.project(args(0).toString, g,
        arg(args, 1).getOrElse("*"), arg(args, 2).getOrElse("*"))
      oneRow(g, "name" -> p.name, "nodes" -> p.nodeCount,
        "relationships" -> p.relationshipCount)
    }),
    "apoc.graph.fromdata" -> ((g, args) => {
      val p = GraphProjections.project(args(0).toString, g,
        arg(args, 1).getOrElse("*"), arg(args, 2).getOrElse("*"))
      oneRow(g, "name" -> p.name, "nodes" -> p.nodeCount,
        "relationships" -> p.relationshipCount)
    }),
    "apoc.graph.frompath" -> ((g, args) => {
      val p = GraphProjections.project(args(0).toString, g,
        arg(args, 1).getOrElse("*"), arg(args, 2).getOrElse("*"))
      oneRow(g, "name" -> p.name, "nodes" -> p.nodeCount,
        "relationships" -> p.relationshipCount)
    }),
    "apoc.graph.frompaths" -> ((g, args) => {
      val p = GraphProjections.project(args(0).toString, g,
        arg(args, 1).getOrElse("*"), arg(args, 2).getOrElse("*"))
      oneRow(g, "name" -> p.name, "nodes" -> p.nodeCount,
        "relationships" -> p.relationshipCount)
    }),
    "apoc.graph.frommap" -> ((g, args) => {
      val p = GraphProjections.project(args(0).toString, g,
        arg(args, 1).getOrElse("*"), arg(args, 2).getOrElse("*"))
      oneRow(g, "name" -> p.name, "nodes" -> p.nodeCount,
        "relationships" -> p.relationshipCount)
    }),
    "apoc.graph.fromdocument" -> ((g, args) => {
      val p = GraphProjections.project(args(0).toString, g,
        arg(args, 1).getOrElse("*"), arg(args, 2).getOrElse("*"))
      oneRow(g, "name" -> p.name, "nodes" -> p.nodeCount,
        "relationships" -> p.relationshipCount)
    }),
    "apoc.graph.fromcypher" -> ((g, args) => {
      // (name, nodeQuery) — node ids from a Cypher result's first column
      val ids = Cypher.run(g, args(1).toString)
      val first = ids.columns.head
      val nodes = g.nodes.join(ids.select(col(first).as("id")), "id")
      val p = GraphProjections.register(args(0).toString, PropertyGraph(
        nodes, g.edges
          .join(nodes.select(col("id").as("src")), "src")
          .join(nodes.select(col("id").as("dst")), "dst")))
      oneRow(g, "name" -> p.name, "nodes" -> p.nodeCount,
        "relationships" -> p.relationshipCount)
    }),
    "apoc.graph.nodes" -> ((g, args) =>
      GraphProjections.get(args(0).toString).graph.nodes
        .select("id", "labels").orderBy("id")),
    "apoc.graph.relationships" -> ((g, args) =>
      GraphProjections.get(args(0).toString).graph.edges
        .select("src", "dst", "rel_type").orderBy("src", "dst")),
    "apoc.graph.stats" -> ((g, args) => {
      val p = GraphProjections.get(args(0).toString)
      oneRow(g, "name" -> p.name, "nodes" -> p.nodeCount,
        "relationships" -> p.relationshipCount)
    }),
    "apoc.graph.validate" -> ((g, args) => {
      // dangling endpoints (graph.go:171)
      val p = GraphProjections.get(args(0).toString).graph
      val ids = p.nodes.select("id")
      val dangling = p.edges
        .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_anti").count() +
        p.edges.join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti").count()
      oneRow(g, "valid" -> (dangling == 0), "danglingEndpoints" -> dangling)
    }),
    "apoc.graph.clone" -> ((g, args) => {
      val p = GraphProjections.get(args(0).toString)
      val c = GraphProjections.register(args(1).toString, p.graph)
      oneRow(g, "name" -> c.name, "nodes" -> c.nodeCount)
    }),
    "apoc.graph.merge" -> ((g, args) => {
      val (p1, p2) = (GraphProjections.get(args(0).toString),
        GraphProjections.get(args(1).toString))
      val merged = PropertyGraph(
        p1.graph.nodes.unionByName(p2.graph.nodes).dropDuplicates("id"),
        p1.graph.edges.unionByName(p2.graph.edges).dropDuplicates("id"))
      val c = GraphProjections.register(args(2).toString, merged)
      oneRow(g, "name" -> c.name, "nodes" -> c.nodeCount,
        "relationships" -> c.relationshipCount)
    }),
    "apoc.graph.subgraph" -> ((g, args) => {
      // (name, idsCsv, newName)
      val ids = args(1).toString.split(",").map(_.trim).filter(_.nonEmpty)
      val p = GraphProjections.get(args(0).toString).graph
      val nodes = p.nodes.filter(col("id").isin(ids: _*))
      val sub = PropertyGraph(nodes, p.edges
        .filter(col("src").isin(ids: _*) && col("dst").isin(ids: _*)))
      val c = GraphProjections.register(args(2).toString, sub)
      oneRow(g, "name" -> c.name, "nodes" -> c.nodeCount)
    }),
    "apoc.graph.tomap" -> ((g, args) => {
      val p = GraphProjections.get(args(0).toString)
      oneRow(g, "name" -> p.name, "nodes" -> p.nodeCount,
        "relationships" -> p.relationshipCount)
    }),

    // ---- apoc.scoring.rank / topK (scoring.go:362-393): score-descending
    // rank over (id, score) rows from a Cypher subquery. The subquery
    // result is unbounded, so the rank is NOT a global row_number window
    // (single-partition at scale): [[rankByScore]] range-sorts and numbers
    // partition-locally off broadcast partition offsets.
    "apoc.scoring.rank" -> ((g, args) => {
      val df = Cypher.run(g, args(0).toString)
      val sc = df.columns.find(_.equalsIgnoreCase("score")).getOrElse(
        throw new IllegalArgumentException("apoc.scoring.rank needs a score column"))
      rankByScore(df, sc)
    }),
    "apoc.scoring.topk" -> ((g, args) => {
      val df = Cypher.run(g, args(0).toString)
      val sc = df.columns.find(_.equalsIgnoreCase("score")).getOrElse(
        throw new IllegalArgumentException("apoc.scoring.topK needs a score column"))
      val k = argInt(args, 1, 10)
      // bound FIRST (TakeOrdered — no global shuffle), then the window runs
      // over ≤ k rows: the Hybrid/Rerank candidate-list pattern
      df.orderBy(col(sc).desc, df.columns.filterNot(_ == sc).map(col).head)
        .limit(k)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(
            col(sc).desc, df.columns.filterNot(_ == sc).map(col).head)))
    }),

    // ---- apoc.load/import/export file formats over Spark IO. External
    // connectors (jdbc, s3, kafka, elasticsearch, …) raise informative
    // errors: this build is zero-egress and ships no connector jars.
    "apoc.load.parquet" -> ((g, args) =>
      g.nodes.sparkSession.read.parquet(args(0).toString)),
    "apoc.load.jsonarray" -> ((g, args) =>
      g.nodes.sparkSession.read.option("multiLine", "true")
        .json(args(0).toString)),
    "apoc.load.jsonstream" -> ((g, args) =>
      g.nodes.sparkSession.read.json(args(0).toString)),
    "apoc.load.csvstream" -> ((g, args) =>
      graft.sources.Formats.loadCsv(g.nodes.sparkSession, args(0).toString)),
    "apoc.load.directory" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val d = new java.io.File(args(0).toString)
      Option(d.listFiles()).toSeq.flatten.filter(_.isFile)
        .map(_.getName).sorted.toDF("file")
    }),
    "apoc.load.directorytree" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      def walk(f: java.io.File): Seq[String] =
        if (f.isFile) Seq(f.getPath)
        else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      walk(new java.io.File(args(0).toString)).toDF("path")
    }),
    "apoc.load.binary" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(args(0).toString))
      Seq((args(0).toString, java.util.Base64.getEncoder.encodeToString(bytes),
        bytes.length.toLong)).toDF("path", "base64", "size")
    }),
    "apoc.load.xml" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(args(0).toString)), "UTF-8")
      val parsed = graft.functions.XmlImpls.parse(text)
      Seq(parsed.map(e => graft.functions.JsonImpls.renderGo(
        graft.functions.XmlImpls.toJsonNode(e))).getOrElse("")).toDF("value")
    }),
    "apoc.load.xmlsimple" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(args(0).toString)), "UTF-8")
      Seq(graft.functions.XmlImpls.parse(text)
        .map(graft.functions.XmlImpls.renderCompact).getOrElse("")).toDF("value")
    }),
    "apoc.load.html" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(args(0).toString)), "UTF-8")
      // tag-stripped text content (the reference extracts by selector;
      // selector support would need an HTML parser dependency)
      Seq(text.replaceAll("(?s)<script.*?</script>", "")
        .replaceAll("<[^>]+>", " ").replaceAll("\\s+", " ").trim).toDF("text")
    }),
    "apoc.import.json" -> ((g, args) =>
      graft.sources.Formats.importNodesJson(g.nodes.sparkSession, args(0).toString)),
    "apoc.import.csv" -> ((g, args) =>
      graft.sources.Formats.loadCsv(g.nodes.sparkSession, args(0).toString)),
    "apoc.import.file" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      Seq(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(args(0).toString)), "UTF-8")).toDF("value")
    }),
    "apoc.import.url" -> ((g, args) => throw new IllegalArgumentException(
      "apoc.import.url: this build is zero-egress — load from a mounted path")),
    "apoc.export.csv" -> ((g, args) => {
      val label = arg(args, 1)
      val df = label.map(g.nodesByLabel).getOrElse(g.nodes)
        .select(col("id"), col("key"), col("name"))
      val n = graft.sources.Formats.exportCsv(df, args(0).toString)
      oneRow(g, "file" -> args(0).toString, "rows" -> n, "done" -> true)
    }),
    "apoc.export.csvall" -> ((g, args) => {
      val n = graft.sources.Formats.exportCsv(
        g.nodes.select(col("id"), col("key"), col("name")), args(0).toString)
      oneRow(g, "file" -> args(0).toString, "rows" -> n, "done" -> true)
    }),
    "apoc.export.jsonall" -> ((g, args) => {
      val n = graft.sources.Formats.exportNodesJson(g, None, args(0).toString)
      oneRow(g, "file" -> args(0).toString, "nodes" -> n, "done" -> true)
    }),
    // cypher-script export: CREATE statements reconstructing the graph
    // (apoc/export cypher format)
    "apoc.export.cypher" -> ((g, args) => {
      val stmts = g.nodes.orderBy("id").limit(10000).collect().map { r =>
        val id = r.getAs[String]("id")
        val labels = r.getAs[scala.collection.Seq[String]]("labels")
        s"CREATE (:${labels.mkString(":")} {id: '$id'})"
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(args(0).toString),
        stmts.mkString("\n").getBytes("UTF-8"))
      oneRow(g, "file" -> args(0).toString, "statements" -> stmts.length.toLong)
    }),
    "apoc.export.graphml" -> ((g, args) => {
      // GraphML document of the (bounded) node/edge sets
      val ns = g.nodes.orderBy("id").limit(10000).collect().map { r =>
        s"""    <node id="${r.getAs[String]("id")}"/>"""
      }
      val es = g.edges.orderBy("src", "dst").limit(10000).collect().map { r =>
        s"""    <edge source="${r.getAs[String]("src")}" target="${r.getAs[String]("dst")}" label="${r.getAs[String]("rel_type")}"/>"""
      }
      val doc = ("""<?xml version="1.0" encoding="UTF-8"?>""" +:
        """<graphml xmlns="http://graphml.graphdrawing.org/xmlns">""" +:
        """  <graph id="G" edgedefault="directed">""" +:
        (ns ++ es) :+ "  </graph>" :+ "</graphml>").mkString("\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(args(0).toString),
        doc.getBytes("UTF-8"))
      oneRow(g, "file" -> args(0).toString,
        "nodes" -> ns.length.toLong, "relationships" -> es.length.toLong)
    }),
    "apoc.import.graphml" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(args(0).toString)), "UTF-8")
      val nodes = "<node id=\"([^\"]+)\"".r.findAllMatchIn(text)
        .map(_.group(1)).toSeq
      val edges = "<edge source=\"([^\"]+)\" target=\"([^\"]+)\"".r
        .findAllMatchIn(text).map(m => (m.group(1), m.group(2))).toSeq
      oneRow(g, "nodes" -> nodes.size.toLong, "relationships" -> edges.size.toLong)
    }),
    "apoc.import.parsecsvline" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      args(0).toString.split(",").map(_.trim).toSeq.toDF("value")
    }),
    "apoc.import.parsejsonline" -> ((g, args) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      Seq(graft.functions.JsonImpls.parse(args(0).toString)
        .map(graft.functions.JsonImpls.renderGo).getOrElse("")).toDF("value")
    }))

  /** External connectors: informative refusal beats silent absence. */
  private val connectors: Map[String, (PropertyGraph, Seq[Any]) => DataFrame] =
    Seq("jdbc", "jdbcupdate", "s3", "gcs", "azure", "kafka", "redis",
      "elasticsearch", "ldap", "rest", "graphql", "driver", "avro", "arrow",
      "stream").map { c =>
      s"apoc.load.$c" -> { (g: PropertyGraph, args: Seq[Any]) =>
        val msg = s"apoc.load.$c needs the external $c connector — this " +
          "build is zero-egress and ships no connector jars"
        throw new IllegalArgumentException(msg)
        g.nodes.limit(0) // unreachable; fixes the lambda's result type
      }
    }.toMap

  val procedures: Map[String, (PropertyGraph, Seq[Any]) => DataFrame] =
    base ++ connectors
}
