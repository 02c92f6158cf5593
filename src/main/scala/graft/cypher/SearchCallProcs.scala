package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._

import graft.graph.{GraphStore, PropertyGraph}
import graft.search.{BM25, Hybrid, SearchIndexes, VectorSearch}
import graft.algos.LinkPredict

/** The search + GDS CALL surface (SURVEY §2.11):
  *
  *  - `db.index.vector.queryNodes/queryRelationships` —
  *    `/root/reference/pkg/cypher/call_vector.go:35`, `call_compat.go:139`
  *  - `db.index.fulltext.queryNodes/queryRelationships` —
  *    `call_fulltext.go:38`, `call_compat.go:92`
  *  - index management (`create*Index`, `drop`, analyzers) —
  *    `call_compat.go:344-560`, `call_index_mgmt.go`
  *  - `db.create.setNodeVectorProperty` / `setRelationshipVectorProperty`
  *    — `call_compat.go:663`; writes the named-embedding side table
  *    (`pkg/storage/types.go:196` NamedEmbeddings analog)
  *  - `gds.fastRP.stream/stats` — `pkg/cypher/fastrp.go:360,395`
  *  - `gds.linkPrediction.{adamicAdar,commonNeighbors,resourceAllocation,
  *    preferentialAttachment,jaccard,predict}.stream` —
  *    `pkg/cypher/linkprediction.go:162-380`
  *
  * All of these are registry glue over engines that already exist
  * ([[graft.search.VectorSearch]], [[graft.search.BM25]],
  * [[graft.search.Hybrid]], [[graft.algos.Algorithms.fastRP]],
  * [[graft.algos.LinkPredict]]). The one driver-side step is the hybrid
  * fusion: it collects each leg's bounded top list (at most 2·k rows, or
  * the MMR `candidateLimit`) and fuses them in memory.
  */
object SearchCallProcs {

  private def store: GraphStore = GraphStore.currentStore

  // ---- argument helpers (CALL args arrive as Any from the planner) ----
  private def asVec(v: Any): Seq[Double] = v match {
    case s: Seq[_] => s.map(x => x.toString.toDouble)
    case a: Array[_] => a.toSeq.map(x => x.toString.toDouble)
    case other => throw new IllegalArgumentException(
      s"expected a numeric list for the query vector, got $other")
  }
  /** Query-vector argument: a numeric list, or TEXT — the reference
    * embeds text queries server-side before the vector scan
    * (`search.go:851ff` via `pkg/embed`); the pluggable
    * [[graft.functions.Embedder]] seam resolves the encoder (default: the
    * disclosed TextEmbed hash-projection).
    */
  private def queryVecOf(v: Any): Seq[Double] = v match {
    case s: String => graft.functions.Embedder.current.embed(s)
    case other => asVec(other)
  }
  private def asStrList(v: Any): Seq[String] = v match {
    case s: Seq[_] => s.map(_.toString)
    case s: String => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    case other => Seq(other.toString)
  }
  private def cfg(args: Seq[Any]): Map[String, Any] =
    args.collectFirst { case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty)
  private def cfgInt(c: Map[String, Any], k: String, dflt: Int): Int =
    c.get(k).map(_.toString.toDouble.toInt).getOrElse(dflt)
  private def cfgDouble(c: Map[String, Any], k: String, dflt: Double): Double =
    c.get(k).map(_.toString.toDouble).getOrElse(dflt)
  private def cfgStr(c: Map[String, Any], k: String, dflt: String): String =
    c.get(k).map(_.toString).getOrElse(dflt)
  private def cfgList(c: Map[String, Any], k: String): Seq[String] =
    c.get(k).map(asStrList).getOrElse(Nil)

  private def oneRow(g: PropertyGraph, cols: (String, Any)*): DataFrame =
    cols.foldLeft(Planner.oneRow(g.nodes.sparkSession)) {
      case (d, (n, v)) => d.withColumn(n, lit(v)) }

  /** Node-embedding-backed vector/fulltext index frame: the CURRENT
    * store's named embeddings for `prop`, label-restricted. Resolved per
    * query (thunk) so writes through the store are visible, like the
    * reference re-reading storage per call.
    */
  private def nodeEmbDf(label: String, prop: String): DataFrame = {
    val ne = store.nodeEmbeddings.filter(col("name") === prop)
      .select(col("entity_id").as("id"), col("embedding"))
    if (label.isEmpty || label == "*") ne
    else ne.join(store.snapshot.nodesByLabel(label).select("id"), "id")
  }
  private def relEmbDf(relType: String, prop: String): DataFrame = {
    val re = store.relEmbeddings.filter(col("name") === prop)
      .select(col("entity_id").as("id"), col("embedding"))
    if (relType.isEmpty || relType == "*") re
    else re.join(store.snapshot.edgesByType(relType).select("id"), "id")
  }

  /** The default fulltext property set (`pkg/indexing/config.go:104`
    * SearchableProperties — matches the Mimir node_search index) and the
    * auto-embed text set (`pkg/embed/auto_embed.go:125`
    * EmbeddableProperties).
    */
  val SearchableProps: Seq[String] = Seq("content", "text", "title", "name",
    "description", "path", "workerRole", "requirements")
  val EmbeddableProps: Seq[String] = Seq("content", "text", "title", "name",
    "description")

  /** Space-joined embeddable text per node (ExtractEmbeddableText,
    * auto_embed.go:365): hoisted column or string-map fallback, empty
    * parts skipped.
    */
  def embeddableTextCol(nodes: DataFrame): Column = {
    val cols = EmbeddableProps.map { p =>
      val v = if (nodes.columns.contains(p))
        coalesce(col(p).cast("string"), element_at(col("properties"), p))
      else element_at(col("properties"), p)
      when(v === "", lit(null)).otherwise(v)
    }
    concat_ws(" ", cols: _*)
  }

  /** Fulltext frame over nodes: (id, text) where text is the
    * space-concatenation of the indexed properties (hoisted column or
    * string-map fallback — `call_fulltext.go:95` extractTextContent).
    */
  private def nodeTextDf(g: PropertyGraph, labels: Seq[String],
      props: Seq[String]): DataFrame = {
    val base = labels match {
      case Nil | Seq("*") => g.nodes
      case ls => g.nodes.filter(ls.map(l =>
        array_contains(col("labels"), l)).reduce(_ || _))
    }
    val cols = props.map { p =>
      if (g.nodes.columns.contains(p))
        coalesce(col(p).cast("string"), element_at(col("properties"), p))
      else element_at(col("properties"), p)
    }
    base.select(col("id"), concat_ws(" ", cols: _*).as("text"))
      .filter(length(col("text")) > 0)
  }
  private def relTextDf(g: PropertyGraph, relTypes: Seq[String],
      props: Seq[String]): DataFrame = {
    val base = g.edgesByTypes(relTypes.filterNot(_ == "*"))
    val cols = props.map(p => element_at(col("properties"), p))
    base.select(col("id"), concat_ws(" ", cols: _*).as("text"))
      .filter(length(col("text")) > 0)
  }

  /** ids of nodes carrying ANY of `labels` (SearchOptions.Types,
    * `search.go:116,166` — label scoping at QUERY time, applied
    * distributed-side as a semi-join against the candidate frame).
    */
  private def labelIds(g: PropertyGraph, labels: Seq[String]): DataFrame =
    g.nodes.filter(labels.map(l => array_contains(col("labels"), l)).reduce(_ || _))
      .select(col("id").as("_lid"))

  private def ftQuery(idx: SearchIndexes.FulltextIdx, query: String,
      k: Int, outCol: String, restrict: Option[DataFrame] = None,
      minScore: Option[Double] = None): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val docs = idx.df().select(col(idx.idCol).as("doc_id"), col(idx.textCol).as("text"))
    val res = BM25.search(docs, terms, k, restrict)
    minScore.fold(res)(ms => res.filter(col("score") >= ms))
      .select(col("doc_id").as(outCol), col("score"))
  }

  /** Vector query with SearchOptions semantics: label scoping restricts
    * the CANDIDATE set before ranking (`filterCandidatesByType`,
    * `search.go:1351`), minScore thresholds the similarity
    * (`GetMinSimilarity`, `search.go:205`).
    */
  private def vQuery(idx: SearchIndexes.VectorIdx, k: Int, qv: Seq[Double],
      outCol: String, candIds: Option[DataFrame] = None,
      minScore: Option[Double] = None): DataFrame = {
    val base = idx.df()
    val cand = candIds.fold(base)(ids =>
      base.join(ids, base(idx.idCol) === col("_lid"), "left_semi"))
    val top = VectorSearch.topKExactLit(cand, idx.idCol, idx.embCol, qv, k)
    minScore.fold(top)(ms => top.filter(col("score") >= ms))
      .withColumnRenamed("node", outCol)
  }

  private def cfgMinScore(c: Map[String, Any]): Option[Double] =
    c.get("minScore").orElse(c.get("minSimilarity")).map(_.toString.toDouble)
  private def cfgLabelIds(g: PropertyGraph, c: Map[String, Any]): Option[DataFrame] = {
    val ls = cfgList(c, "labels")
    if (ls.isEmpty) None else Some(labelIds(g, ls))
  }

  /** The server-side `search(query, options)` surface the reference's
    * GraphQL and MCP endpoints expose (DB.Search, `search.go:116-220`,
    * `docs/user-guides/graphql.md`): BM25 over the `name` property, the
    * vector leg over the store's `embedding`-named node embeddings with
    * the query embedded through the [[graft.functions.Embedder]] seam,
    * RRF-fused for HYBRID; VECTOR / BM25 run a single leg. Returns
    * (node, score) ranked desc, ≤ k rows.
    */
  def defaultSearch(searchStore: GraphStore, query: String, k: Int,
      labels: Seq[String] = Nil, method: String = "HYBRID"): DataFrame = {
    val g = searchStore.snapshot
    val lbl = if (labels.isEmpty) None else Some(labelIds(g, labels))
    def bm = ftQuery(
      SearchIndexes.FulltextIdx("__server_ft",
        () => nodeTextDf(g, labels, SearchableProps), "id", "text", "NODE",
        labels, SearchableProps),
      query, 2 * k, "node", lbl.map(_.withColumnRenamed("_lid", "doc_id")))
    def vs = {
      val qv = graft.functions.Embedder.current.embed(query)
      vQuery(SearchIndexes.VectorIdx("__server_vec",
        () => searchStore.nodeEmbeddings.filter(col("name") === "embedding")
          .select(col("entity_id").as("id"), col("embedding")),
        "id", "embedding", "NODE", "*", "embedding", qv.length),
        2 * k, qv, "node", lbl)
    }
    method.toUpperCase match {
      case "BM25" | "FULLTEXT" =>
        bm.orderBy(col("score").desc, col("node").asc).limit(k)
      case "VECTOR" =>
        vs.orderBy(col("score").desc, col("node").asc).limit(k)
      case _ => // HYBRID
        Hybrid.rrf(bm, vs.withColumnRenamed("score", "cos_sim"),
          "node", "node", 2 * k, k)
          .select(col("id").as("node"), col("rrf").as("score"))
    }
  }

  /** [[defaultSearch]] with SearchHit diagnostics — the native
    * NornicSearch gRPC service's engine (`pkg/nornicgrpc/
    * search_service.go:58-121` + `search.go:855-887` fallback chain):
    * hybrid RRF when the store has content embeddings (the embed-query
    * hook rides the Embedder seam), BM25-only with
    * `fallback_triggered` when it doesn't or when fusion comes back
    * empty. Returns (hits, search_method, fallback, message); hit columns
    * = (node, labels, properties, score, rrf_score, vector_rank,
    * bm25_rank).
    */
  def searchTextDetailed(searchStore: GraphStore, query: String, k: Int,
      labels: Seq[String] = Nil, minSimilarity: Option[Double] = None):
      (DataFrame, String, Boolean, String) = {
    val g = searchStore.snapshot
    val lbl = if (labels.isEmpty) None else Some(labelIds(g, labels))
    def bm = ftQuery(
      SearchIndexes.FulltextIdx("__server_ft",
        () => nodeTextDf(g, labels, SearchableProps), "id", "text", "NODE",
        labels, SearchableProps),
      query, 2 * k, "node", lbl.map(_.withColumnRenamed("_lid", "doc_id")))
    /** `hits` with the columns of their node rows among `nodes`, in
      * score order (at most `k` rows: one sorted partition).
      */
    def enrich(hits: DataFrame, nodes: DataFrame): DataFrame = {
      // hoisted key/name columns fold back into the property map (the
      // same overlay the GraphQL node renderer applies)
      val props = coalesce(col("properties"),
        expr("map()").cast("map<string,string>"))
      val hoisted = map_filter(
        map_from_arrays(array(lit("key"), lit("name")),
          array(col("key").cast("string"), col("name").cast("string"))),
        (k, v) => v.isNotNull && !array_contains(map_keys(props), k))
      hits.join(nodes.select(col("id").as("node"), col("labels"),
          col("properties"), col("key"), col("name")),
          Seq("node"), "left_outer")
        .select(col("node"),
          coalesce(col("labels"), array().cast("array<string>")).as("labels"),
          map_concat(props, hoisted).as("properties"), col("score"),
          col("rrf_score"), col("vector_rank"), col("bm25_rank"))
        .coalesce(1).sortWithinPartitions(col("score").desc, col("node").asc)
    }
    def textOnly: DataFrame = {
      import org.apache.spark.sql.expressions.Window
      enrich(bm.orderBy(col("score").desc, col("node").asc).limit(k)
        .withColumn("rrf_score", lit(0.0))
        .withColumn("vector_rank", lit(0))
        .withColumn("bm25_rank", row_number().over(
          Window.orderBy(col("score").desc, col("node").asc))), g.nodes)
    }
    if (searchStore.embeddedNodeCount() == 0)
      (textOnly, "fulltext", true,
        "embeddings unavailable, BM25-only search")
    else {
      val qv = graft.functions.Embedder.current.embed(query)
      val vs = vQuery(SearchIndexes.VectorIdx("__server_vec",
        () => searchStore.nodeEmbeddings.filter(col("name") === "embedding")
          .select(col("entity_id").as("id"), col("embedding")),
        "id", "embedding", "NODE", "*", "embedding", qv.length),
        2 * k, qv, "node", lbl, minSimilarity)
        .withColumnRenamed("score", "cos_sim")
      val fused = Hybrid.rrfDetailed(bm, vs, "node", "node", 2 * k, k)
        .withColumnRenamed("id", "node")
        .withColumnRenamed("rrf", "score")
        .withColumn("rrf_score", col("score"))
      if (fused.isEmpty)
        (textOnly, "fulltext", true,
          "RRF search returned no results, fell back to full-text")
      else {
        // the fused ids are on the driver: probe only their node rows,
        // broadcast, instead of shuffling the whole node table
        val ids = fused.select("node").collect().map(_.get(0))
        (enrich(fused, broadcast(g.nodes.filter(col("id").isin(ids: _*)))),
          "rrf_hybrid", false, "")
      }
    }
  }

  /** The GDS graph for linkPrediction/fastRP calls: the named projection
    * when `graphName` is configured, else the session graph.
    */
  private def gdsGraph(g: PropertyGraph, c: Map[String, Any]): PropertyGraph =
    c.get("graphName").map(n =>
      graft.graph.GraphProjections.get(n.toString).graph).getOrElse(g)

  private def linkPredStream(algo: String)(g: PropertyGraph, args: Seq[Any]): DataFrame = {
    val c = cfg(args)
    val src = c.getOrElse("sourceNode",
      throw new IllegalArgumentException("sourceNode is required")).toString
    LinkPredict.predictFrom(gdsGraph(g, c), src, algo,
      cfgInt(c, "topK", 10), cfgList(c, "relationshipTypes"))
  }

  val procedures: Map[String, (PropertyGraph, Seq[Any]) => DataFrame] = Map(
    // ---- vector index management (call_compat.go:344,394) ----
    "db.index.vector.createnodeindex" -> ((g, args) => {
      val (name, label, prop) = (args(0).toString, args(1).toString, args(2).toString)
      val dim = args.lift(3).map(_.toString.toDouble.toInt).getOrElse(0)
      val sim = args.lift(4).map(_.toString).getOrElse("cosine")
      SearchIndexes.registerVector(SearchIndexes.VectorIdx(name,
        () => nodeEmbDf(label, prop), "id", "embedding", "NODE", label, prop, dim, sim))
      oneRow(g, "name" -> name, "label" -> label, "property" -> prop,
        "dimension" -> dim, "similarity" -> sim)
    }),
    "db.index.vector.createrelationshipindex" -> ((g, args) => {
      val (name, rt, prop) = (args(0).toString, args(1).toString, args(2).toString)
      val dim = args.lift(3).map(_.toString.toDouble.toInt).getOrElse(0)
      val sim = args.lift(4).map(_.toString).getOrElse("cosine")
      SearchIndexes.registerVector(SearchIndexes.VectorIdx(name,
        () => relEmbDf(rt, prop), "id", "embedding", "RELATIONSHIP", rt, prop, dim, sim))
      oneRow(g, "name" -> name, "relationshipType" -> rt, "property" -> prop,
        "dimension" -> dim, "similarity" -> sim)
    }),
    "db.index.vector.drop" -> ((g, args) =>
      oneRow(g, "name" -> args(0).toString,
        "dropped" -> SearchIndexes.dropVector(args(0).toString))),

    // ---- fulltext index management (call_compat.go:445,487) ----
    "db.index.fulltext.createnodeindex" -> ((g, args) => {
      val name = args(0).toString
      val labels = asStrList(args(1))
      val props = asStrList(args(2))
      SearchIndexes.registerFulltext(SearchIndexes.FulltextIdx(name,
        () => nodeTextDf(store.snapshot, labels, props), "id", "text",
        "NODE", labels, props))
      oneRow(g, "name" -> name, "labels" -> labels.mkString(","),
        "properties" -> props.mkString(","))
    }),
    "db.index.fulltext.createrelationshipindex" -> ((g, args) => {
      val name = args(0).toString
      val rts = asStrList(args(1))
      val props = asStrList(args(2))
      SearchIndexes.registerFulltext(SearchIndexes.FulltextIdx(name,
        () => relTextDf(store.snapshot, rts, props), "id", "text",
        "RELATIONSHIP", rts, props))
      oneRow(g, "name" -> name, "relationshipTypes" -> rts.mkString(","),
        "properties" -> props.mkString(","))
    }),
    "db.index.fulltext.drop" -> ((g, args) =>
      oneRow(g, "name" -> args(0).toString,
        "dropped" -> SearchIndexes.dropFulltext(args(0).toString))),
    "db.index.fulltext.listavailableanalyzers" -> ((g, _) => {
      val spark = g.nodes.sparkSession
      import spark.implicits._
      // call_compat.go:80 — the reference's fixed analyzer inventory
      Seq(
        ("standard-no-stop-words", "Standard analyzer without stop words"),
        ("simple", "Simple analyzer with lowercase tokenizer"),
        ("whitespace", "Whitespace analyzer"),
        ("keyword", "Keyword analyzer - entire string as single token"),
        ("url-or-email", "URL or email analyzer")
      ).toDF("analyzer", "description")
    }),

    // ---- named-embedding writers (call_compat.go:663) ----
    "db.create.setnodevectorproperty" -> ((g, args) => {
      val (id, key) = (args(0).toString, args(1).toString)
      val v = asVec(args(2))
      store.setNodeVectorProperty(id, key, v)
      oneRow(g, "node" -> id, "key" -> key, "dimension" -> v.size)
    }),
    "db.create.setrelationshipvectorproperty" -> ((g, args) => {
      val (id, key) = (args(0).toString, args(1).toString)
      val v = asVec(args(2))
      store.setRelationshipVectorProperty(id, key, v)
      oneRow(g, "relationship" -> id, "key" -> key, "dimension" -> v.size)
    }),

    // ---- search procedures ----
    // each accepts a trailing SearchOptions config map:
    // {labels: [...], minScore: x} (search.go:116,161 — label scoping +
    // similarity threshold, both applied distributed-side)
    "db.index.vector.querynodes" -> ((g, args) => {
      val c = cfg(args.drop(3))
      vQuery(SearchIndexes.vector(args(0).toString),
        args(1).toString.toDouble.toInt, queryVecOf(args(2)), "node",
        cfgLabelIds(g, c), cfgMinScore(c))
    }),
    "db.index.vector.queryrelationships" -> ((g, args) => {
      val c = cfg(args.drop(3))
      vQuery(SearchIndexes.vector(args(0).toString),
        args(1).toString.toDouble.toInt, queryVecOf(args(2)), "relationship",
        None, cfgMinScore(c))
    }),
    "db.index.fulltext.querynodes" -> ((g, args) => {
      val c = cfg(args.drop(2))
      ftQuery(SearchIndexes.fulltext(args(0).toString), args(1).toString,
        args.lift(2).collect { case x if !x.isInstanceOf[Map[_, _]] =>
          x.toString.toDouble.toInt }.getOrElse(cfgInt(c, "limit", 100)), "node",
        cfgLabelIds(g, c).map(_.withColumnRenamed("_lid", "doc_id")),
        cfgMinScore(c))
    }),
    "db.index.fulltext.queryrelationships" -> ((g, args) => {
      val c = cfg(args.drop(2))
      ftQuery(SearchIndexes.fulltext(args(0).toString), args(1).toString,
        args.lift(2).collect { case n: Number => n.intValue }.getOrElse(
          cfgInt(c, "limit", 100)), "relationship", None, cfgMinScore(c))
    }),

    // RRF hybrid search over one vector + one fulltext index — the CALL
    // projection of the reference's DB.HybridSearch / rrfHybridSearch
    // (`pkg/search/search.go:890`; candidateLimit = 2·k per search.go:896).
    // Options: {labels, minScore} scope both legs (minScore thresholds the
    // vector leg, GetMinSimilarity semantics); {vectorWeight, bm25Weight}
    // override RRF weights; {adaptive: true} derives them from the query
    // shape (GetAdaptiveRRFConfig, search.go:2081); {mmrLambda < 1.0}
    // diversifies the RRF result via MMR (search.go:174-176 MMREnabled)
    // over {candidateLimit} candidates (default 2·k) — candidateLimit is
    // validated against the driver-side MMR cap BEFORE any search runs.
    "db.index.hybrid.querynodes" -> ((g, args) => {
      val (vIdx, ftIdx) = (SearchIndexes.vector(args(0).toString),
        SearchIndexes.fulltext(args(1).toString))
      val k = args(2).toString.toDouble.toInt
      val query = args(3).toString
      val qv = asVec(args(4))
      val c = cfg(args.drop(5))
      val mmrLambda = c.get("mmrLambda").map(_.toString.toDouble)
        .filter(_ < 1.0)
      val candLimit = cfgInt(c, "candidateLimit", 2 * k)
      // early, descriptive refusal (before the shuffle): MMR's greedy
      // selection materializes its candidates on the driver
      mmrLambda.foreach { _ =>
        require(candLimit <= graft.search.Mmr.MaxCandidates,
          s"candidateLimit $candLimit exceeds the MMR candidate cap " +
          s"${graft.search.Mmr.MaxCandidates}: MMR's greedy selection is " +
          "driver-side by design — narrow the RRF top-N (candidateLimit)")
      }
      val lbl = cfgLabelIds(g, c)
      val (awVec, awText) = Hybrid.adaptiveWeights(query)
      val adaptive = c.get("adaptive").exists(_.toString.toBoolean)
      val wVec = c.get("vectorWeight").map(_.toString.toDouble)
        .getOrElse(if (adaptive) awVec else 1.0)
      val wText = c.get("bm25Weight").map(_.toString.toDouble)
        .getOrElse(if (adaptive) awText else 1.0)
      val fetch = math.max(2 * k, if (mmrLambda.isDefined) candLimit else 0)
      val bm = ftQuery(ftIdx, query, fetch, "node",
        lbl.map(_.withColumnRenamed("_lid", "doc_id")))
      val vs = vQuery(vIdx, fetch, qv, "node", lbl, cfgMinScore(c))
        .withColumnRenamed("score", "cos_sim")
      mmrLambda match {
        case Some(l) =>
          val cand = Hybrid.rrf(bm, vs, "node", "node", fetch, candLimit,
              wText, wVec)
            .select(col("id"), col("rrf").as("rel"))
            .join(vIdx.df().select(col(vIdx.idCol).as("id"),
              col(vIdx.embCol).as("embedding")), Seq("id"))
          graft.search.Mmr.select(cand, k, l)
            .select(col("id").as("node"), col("rel").as("score"))
        case None =>
          Hybrid.rrf(bm, vs, "node", "node", fetch, k, wText, wVec)
            .select(col("id").as("node"), col("rrf").as("score"))
      }
    }),

    // ---- gds.fastRP (fastrp.go:360,395) ----
    "gds.fastrp.stream" -> ((g, args) => {
      val proj = graft.graph.GraphProjections.get(args(0).toString)
      val c = cfg(args)
      val dim = cfgInt(c, "embeddingDimension", 64)
      val iw = c.get("iterationWeights").map(asStrList(_).map(_.toDouble))
        .getOrElse(Seq(0.0, 1.0, 1.0, 1.0))
      graft.algos.Algorithms.fastRP(proj.graph, dim, iw)
        .select(col("id").as("nodeId"), col("emb").as("embedding"))
    }),
    "gds.fastrp.stats" -> ((g, args) => {
      val proj = graft.graph.GraphProjections.get(args(0).toString)
      val c = cfg(args)
      // computeMillis pinned to the reference's own fixed stub (fastrp.go:419)
      oneRow(g, "nodeCount" -> proj.nodeCount,
        "embeddingDimension" -> cfgInt(c, "embeddingDimension", 64),
        "computeMillis" -> 5L)
    }),

    // ---- gds.linkPrediction.* (linkprediction.go:162-335) ----
    "gds.linkprediction.adamicadar.stream" -> linkPredStream("adamic_adar") _,
    "gds.linkprediction.commonneighbors.stream" -> linkPredStream("common_neighbors") _,
    "gds.linkprediction.resourceallocation.stream" -> linkPredStream("resource_allocation") _,
    "gds.linkprediction.preferentialattachment.stream" -> linkPredStream("preferential_attachment") _,
    "gds.linkprediction.jaccard.stream" -> linkPredStream("jaccard") _,
    // hybrid predict.stream (linkprediction.go:336, hybrid.go:222)
    "gds.linkprediction.predict.stream" -> ((g, args) => {
      val c = cfg(args)
      val src = c.getOrElse("sourceNode",
        throw new IllegalArgumentException("sourceNode is required")).toString
      val embName = cfgStr(c, "embeddingProperty", "embedding")
      val emb = store.nodeEmbeddings.filter(col("name") === embName)
        .select(col("entity_id").as("id"), col("embedding"))
      LinkPredict.hybridFrom(gdsGraph(g, c), src, emb,
        cfgInt(c, "topK", 10), cfgList(c, "relationshipTypes"),
        cfgDouble(c, "topologyWeight", 0.5), cfgDouble(c, "semanticWeight", 0.5),
        cfgStr(c, "algorithm", "adamic_adar"), cfgDouble(c, "minThreshold", 0.3))
    }))
}
