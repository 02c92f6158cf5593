package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.LinkPredict
import graft.cypher.Cypher
import graft.graph.{GraphStore, PropertyGraph}
import graft.search.SearchIndexes

/** The search + GDS CALL surface (round 4): db.index.vector/fulltext
  * procedures, named per-node embeddings, per-source link prediction, and
  * the hybrid blend — each checked against its direct-API twin or a
  * closed-form fixture.
  */
class SearchCallSpec extends AnyFunSuite {
  import TestSpark._

  lazy val g = GraphQueries.graph(spark, sf)

  /** Tiny undirected fixture: a-b, a-c, b-c, b-d, c-e.
    * Neighbors: a:{b,c} b:{a,c,d} c:{a,b,e} d:{b} e:{c}.
    */
  private lazy val fixture: PropertyGraph = {
    import spark.implicits._
    val nodes = Seq("a", "b", "c", "d", "e")
      .toDF("id")
      .withColumn("labels", array(lit("N")))
      .withColumn("properties", expr("map()").cast("map<string,string>"))
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "e"))
      .toDF("src", "dst")
      .withColumn("id", concat(col("src"), lit("-"), col("dst")))
      .withColumn("rel_type", lit("L"))
      .withColumn("properties", expr("map()").cast("map<string,string>"))
      .withColumn("weight", lit(1.0))
    PropertyGraph(nodes, edges)
  }

  test("db.index.vector.queryNodes through Cypher matches bruteTopKExact") {
    SearchIndexes.registerVector(SearchIndexes.VectorIdx(
      "spec_emb", () => Tables.embeddings(spark, sf), "vec_id", "embedding", "DATASET"))
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select("embedding").head.getSeq[Float](0).map(_.toDouble)
    val viaCall = Cypher.run(g,
      """CALL db.index.vector.queryNodes('spec_emb', 11, $qv) YIELD node, score
         WHERE node <> 0 RETURN node, score""", Map("qv" -> qv))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = graft.search.VectorSearch
      .bruteTopKExact(Tables.embeddings(spark, sf), 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaCall == direct)
  }

  test("db.index.fulltext.queryNodes YIELD filter works and matches BM25") {
    SearchIndexes.registerFulltext(SearchIndexes.FulltextIdx(
      "spec_ft", () => Tables.documents(spark, sf), "doc_id", "text", "DATASET"))
    val viaCall = Cypher.run(g,
      """CALL db.index.fulltext.queryNodes('spec_ft', 'spark table query', 20)
         YIELD node, score WHERE score > 0 RETURN node, score""")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = graft.search.BM25
      .search(Tables.documents(spark, sf), Seq("spark", "table", "query"), 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaCall == direct.filter(_._2 > 0))
  }

  test("named node embeddings: set, index, query, overwrite round-trip") {
    new GraphStore(g)
    def run(q: String) = Cypher.run(g, q)
    run("CALL db.create.setNodeVectorProperty('Customer:1', 'spec_vec', [1.0, 0.0])")
    run("CALL db.create.setNodeVectorProperty('Customer:2', 'spec_vec', [0.0, 1.0])")
    run("CALL db.index.vector.createNodeIndex('spec_np', 'Customer', 'spec_vec', 2, 'cosine')")
    val r1 = run("CALL db.index.vector.queryNodes('spec_np', 1, [1.0, 0.0]) YIELD node, score RETURN node, score")
      .collect().head
    assert(r1.getString(0) == "Customer:1" && r1.getDouble(1) == 1.0)
    // overwrite Customer:1's vector and re-query — the index thunk must see it
    run("CALL db.create.setNodeVectorProperty('Customer:1', 'spec_vec', [0.0, 1.0])")
    val r2 = run("CALL db.index.vector.queryNodes('spec_np', 2, [1.0, 0.0]) YIELD node, score RETURN node, score")
      .collect()
    assert(r2.forall(_.getDouble(1) == 0.0))
  }

  test("relationship vector property + queryRelationships") {
    new GraphStore(g)
    val relId = g.edgesByType("PLACED").select("id").head.getString(0)
    Cypher.run(g, s"CALL db.create.setRelationshipVectorProperty('$relId', 'rv', [2.0, 0.0])")
    Cypher.run(g, "CALL db.index.vector.createRelationshipIndex('spec_rp', 'PLACED', 'rv', 2, 'cosine')")
    val r = Cypher.run(g,
      "CALL db.index.vector.queryRelationships('spec_rp', 1, [1.0, 0.0]) YIELD relationship, score RETURN relationship, score")
      .collect().head
    assert(r.getString(0) == relId && r.getDouble(1) == 1.0)
  }

  test("gds.fastRP.stream equals the direct fastRP API bit-for-bit") {
    graft.graph.GraphProjections.register("spec_frp",
      PropertyGraph(g.nodes, g.edgesByType("SUPPLIES")))
    val viaCall = Cypher.run(g,
      """CALL gds.fastRP.stream('spec_frp', {embeddingDimension: 8, iterationWeights: [0.0, 1.0]})
         YIELD nodeId, embedding RETURN nodeId, embedding""")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val direct = graft.algos.Algorithms
      .fastRP(graft.graph.GraphProjections.get("spec_frp").graph, 8, Seq(0.0, 1.0))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(viaCall == direct)
  }

  test("linkPrediction algorithms on the closed-form fixture") {
    // from a: candidates share a neighbor, excluding a and its neighbors
    // {b, c}. Common-neighbor family candidates: d (via b), e (via c),
    // and a↔? — d: common={b}, e: common={c}.
    def scores(algo: String): Map[String, Double] =
      LinkPredict.predictFrom(fixture, "a", algo, 10)
        .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(scores("common_neighbors") == Map("d" -> 1.0, "e" -> 1.0))
    // deg(b)=3, deg(c)=3 → aa = round(1/ln 3, 9)
    val aa = BigDecimal(1.0 / math.log(3)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(scores("adamic_adar") == Map("d" -> aa, "e" -> aa))
    // ra = 1/3 rounded to 9
    val ra = BigDecimal(1.0 / 3.0).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(scores("resource_allocation") == Map("d" -> ra, "e" -> ra))
    // jaccard: |∩|=1, deg(a)=2, deg(d)=1 → 1/(2+1-1)=0.5 ; e same
    assert(scores("jaccard") == Map("d" -> 0.5, "e" -> 0.5))
    // preferential attachment: all non-neighbors (d, e), deg(a)*deg(t)=2*1
    assert(scores("preferential_attachment") == Map("d" -> 2.0, "e" -> 2.0))
  }

  test("gds.linkPrediction CALL surface matches LinkPredict.predictFrom") {
    val viaCall = Cypher.run(g,
      """CALL gds.linkPrediction.adamicAdar.stream(
           {sourceNode: 'Part:1', topK: 10, relationshipTypes: ['SUPPLIES']})
         YIELD node1, node2, score RETURN node1, node2, score""")
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    val direct = LinkPredict.predictFrom(g, "Part:1", "adamic_adar", 10, Seq("SUPPLIES"))
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(viaCall == direct && viaCall.nonEmpty)
  }

  test("hybrid predict.stream blends topology and semantics with threshold") {
    import spark.implicits._
    new GraphStore(fixture)
    // orthogonal unit vectors: a·d = 0, a·e = 1 (identical direction)
    GraphStore.currentStore.setNodeVectorProperties(Seq(
      ("a", "embedding", Seq(1.0, 0.0)),
      ("d", "embedding", Seq(0.0, 1.0)),
      ("e", "embedding", Seq(1.0, 0.0)))
      .toDF("entity_id", "name", "embedding"))
    val rows = Cypher.run(fixture,
      """CALL gds.linkPrediction.predict.stream({sourceNode: 'a', topK: 10})
         YIELD node1, node2, score, topology_score, semantic_score
         RETURN node2, score, topology_score, semantic_score""")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toList
    // both candidates tie on topology (normalized to 1.0); semantic splits:
    // e = 0.5·1 + 0.5·1 = 1.0, d = 0.5·1 + 0.5·0 = 0.5, both >= 0.3
    assert(rows == List(("e", 1.0, 1.0, 1.0), ("d", 0.5, 1.0, 0.0)))
  }

  test("hybrid predict.stream with NO source embedding still emits topology-only rows") {
    import spark.implicits._
    // hybrid.go:241-252: a missing source vector means semantic_score 0,
    // not zero predictions (regression: the empty lookup frame used to be
    // crossJoined in, annihilating every candidate)
    new GraphStore(fixture)
    GraphStore.currentStore.setNodeVectorProperties(Seq(
      ("d", "emb_r5", Seq(0.0, 1.0)), ("e", "emb_r5", Seq(1.0, 0.0)))
      .toDF("entity_id", "name", "embedding"))
    val rows = Cypher.run(fixture,
      """CALL gds.linkPrediction.predict.stream(
           {sourceNode: 'a', topK: 10, embeddingProperty: 'emb_r5'})
         YIELD node2, score, topology_score, semantic_score
         RETURN node2, score, topology_score, semantic_score""")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toList
    assert(rows == List(("d", 0.5, 1.0, 0.0), ("e", 0.5, 1.0, 0.0)))
  }

  test("adaptive RRF weights follow the reference's query-shape heuristic") {
    import graft.search.Hybrid
    // search.go:2081 documented cases: short (<=2 words) favors keywords,
    // long (>=6) favors semantics, medium balanced
    assert(Hybrid.adaptiveWeights("database") == (0.5, 1.5))
    assert(Hybrid.adaptiveWeights("graph database") == (0.5, 1.5))
    assert(Hybrid.adaptiveWeights("scaling graph database queries") == (1.0, 1.0))
    assert(Hybrid.adaptiveWeights(
      "What are the best practices for scaling graph databases?") == (1.5, 0.5))
  }

  test("vector queryNodes options: labels scope candidates, minScore thresholds") {
    val store = new GraphStore(g)
    store.setNodeVectorProperty("Customer:1", "p_opt", Seq(1.0, 0.0))
    store.setNodeVectorProperty("Customer:2", "p_opt", Seq(3.0, 4.0))
    store.setNodeVectorProperty("Customer:3", "p_opt", Seq(-1.0, 0.0))
    store.setNodeVectorProperty("Supplier:1", "p_opt", Seq(1.0, 0.0))
    Cypher.run(g, "CALL db.index.vector.createNodeIndex('opt_idx', '*', 'p_opt', 2, 'cosine')")
    val rows = Cypher.run(g,
      """CALL db.index.vector.queryNodes('opt_idx', 10, [1.0, 0.0],
           {labels: ['Customer'], minScore: 0.5})
         YIELD node, score RETURN node, score""")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toList
    // Supplier:1 excluded by label, Customer:3 (-1.0) by minScore
    assert(rows == List(("Customer:1", 1.0), ("Customer:2", 0.6)))
  }

  test("hybrid predict.stream plan has no single-partition window") {
    import spark.implicits._
    val emb = Seq(("a", Seq(1.0, 0.0)), ("d", Seq(0.0, 1.0)), ("e", Seq(1.0, 0.0)))
      .toDF("id", "embedding")
    val df = LinkPredict.hybridFrom(fixture, "a", emb, 10)
    val plan = df.queryExecution.executedPlan.toString
    // min-max normalization must be an agg broadcast back, not a window
    // funnelling every candidate of a hub source into one task
    assert(!plan.contains("Window"), s"single-partition window in plan:\n$plan")
  }

  test("bucketed lineitem-orders join plans with no shuffle Exchange") {
    graft.sources.Bucketing.prepare(spark, sf)
    val tag = sf.replaceAll("[^A-Za-z0-9]", "_")
    // disable broadcast so the planner must pick the co-located SMJ path
    // (at real scale neither side broadcasts)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(s"lineitem_b$tag")
        .join(spark.table(s"orders_b$tag"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucket layout unused:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("streaming embedding upsert populates the named index completely") {
    val store = new GraphStore(g)
    graft.streaming.VectorIngest.streamingUpsert(spark, sf, store, "ing")
    val n = store.nodeEmbeddings.filter(col("name") === "ing").count()
    assert(n == Tables.embeddings(spark, sf).count() && n > 0)
  }

  test("vector-index CALL plan is one scan + global topK — no join, no row explosion") {
    SearchIndexes.registerVector(SearchIndexes.VectorIdx(
      "spec_plan", () => Tables.embeddings(spark, sf), "vec_id", "embedding", "DATASET"))
    val df = graft.search.VectorSearch.topKExactLit(
      Tables.embeddings(spark, sf), "vec_id", "embedding", Seq.fill(64)(0.1), 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin")
      && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("batch hybrid link prediction stays within blend bounds and thresholds") {
    val df = graft.algos.Algorithms.linkPredictionHybrid(
      Tables.lineitem(spark, sf).select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct(),
      Tables.embeddings(spark, sf), 20L)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (score, topo, sem) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(score >= 0.3 - 1e-12 && math.abs(score - (0.5 * topo + 0.5 * sem)) < 1e-12)
      assert(topo >= 0.0 && topo <= 1.0)
    }
  }

  test("TextEmbed: column form agrees with the driver form; unit norm; " +
      "text query flows through the vector CALL") {
    import graft.functions.{HashExprs, TextEmbed}
    HashExprs.ensure(spark)
    val texts = Seq("Graph Vector Search engine", "the quick brown fox", "", "one")
    import spark.implicits._
    val got = texts.toDF("t").select(TextEmbed.embedCol(col("t")).as("v"))
      .collect().map(_.getSeq[Double](0))
    texts.zip(got).foreach { case (t, v) =>
      assert(v == TextEmbed.embed(t), s"embedCol mismatch for '$t'")
    }
    // non-empty texts are unit-normalized
    got.zip(texts).filter(_._2.nonEmpty).foreach { case (v, _) =>
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-12)
    }
    // text query accepted by the CALL surface, equal to passing the
    // projection explicitly as a vector
    SearchIndexes.registerVector(SearchIndexes.VectorIdx(
      "emb64_spec", () => Tables.embeddings(spark, sf), "vec_id", "embedding", "DATASET"))
    val byText = Cypher.run(g,
      """CALL db.index.vector.queryNodes('emb64_spec', 5, 'quick brown fox')
         YIELD node, score RETURN node, score""").collect().toSeq
    val byVec = Cypher.run(g,
      """CALL db.index.vector.queryNodes('emb64_spec', 5, $qv)
         YIELD node, score RETURN node, score""",
      Map("qv" -> TextEmbed.embed("quick brown fox"))).collect().toSeq
    assert(byText == byVec && byText.size == 5)
  }

  test("hybrid mmrLambda: oversized candidateLimit refused EARLY, valid one diversifies") {
    SearchIndexes.registerVector(SearchIndexes.VectorIdx(
      "mmr_emb", () => Tables.embeddings(spark, sf), "vec_id", "embedding", "DATASET"))
    SearchIndexes.registerFulltext(SearchIndexes.FulltextIdx(
      "mmr_ft", () => Tables.documents(spark, sf), "doc_id", "text", "DATASET"))
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select("embedding").head.getSeq[Float](0).map(_.toDouble)
    // candidateLimit over the cap → descriptive refusal BEFORE any search
    val e = intercept[Exception] {
      Cypher.run(g,
        """CALL db.index.hybrid.queryNodes('mmr_emb', 'mmr_ft', 5, 'graph', $qv,
             {mmrLambda: 0.5, candidateLimit: 20000})
           YIELD node, score RETURN node, score""", Map("qv" -> qv)).collect()
    }
    assert(e.getMessage.contains("MMR candidate cap") &&
      e.getMessage.contains("20000"), e.getMessage)
    // a valid candidateLimit returns k diversified rows
    val rows = Cypher.run(g,
      """CALL db.index.hybrid.queryNodes('mmr_emb', 'mmr_ft', 5, 'graph', $qv,
           {mmrLambda: 0.5, candidateLimit: 50})
         YIELD node, score RETURN node, score""", Map("qv" -> qv)).collect()
    assert(rows.length == 5)
    // without mmrLambda the plain RRF path is unchanged
    val plain = Cypher.run(g,
      """CALL db.index.hybrid.queryNodes('mmr_emb', 'mmr_ft', 5, 'graph', $qv)
         YIELD node, score RETURN node, score""", Map("qv" -> qv)).collect()
    assert(plain.length == 5)
  }

  test("hybrid mmrLambda over string node ids keeps the ids and their type") {
    import spark.implicits._
    val rnd = new scala.util.Random(8L)
    val mem = (0 until 30).map(i =>
      (s"Memory:$i", Seq.fill(3)(rnd.nextDouble()), s"memory graph note $i"))
    val df = mem.toDF("id", "embedding", "text")
    SearchIndexes.registerVector(SearchIndexes.VectorIdx(
      "mmr_str_emb", () => df.select("id", "embedding"), "id", "embedding", "DATASET"))
    SearchIndexes.registerFulltext(SearchIndexes.FulltextIdx(
      "mmr_str_ft", () => df.select("id", "text"), "id", "text", "DATASET"))
    val rows = Cypher.run(g,
      """CALL db.index.hybrid.queryNodes('mmr_str_emb', 'mmr_str_ft', 5, 'memory graph', $qv,
           {mmrLambda: 0.5, candidateLimit: 30})
         YIELD node, score RETURN node, score""", Map("qv" -> mem.head._2)).collect()
    assert(rows.length == 5 && rows.forall(_.getString(0).startsWith("Memory:")))
    // the same candidates under their numeric ids select the same nodes
    val cands = mem.zipWithIndex.map { case ((id, e, _), i) => (id, i.toLong, 1.0 / (61 + i), e) }
    val byStr = graft.search.Mmr.select(
      cands.map(c => (c._1, c._3, c._4)).toDF("id", "rel", "embedding"), 5, 0.5)
    val byLong = graft.search.Mmr.select(
      cands.map(c => (c._2, c._3, c._4)).toDF("id", "rel", "embedding"), 5, 0.5)
    assert(byStr.schema("id").dataType == org.apache.spark.sql.types.StringType)
    assert(byLong.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(byStr.collect().map(_.getString(1)).toSeq ==
      byLong.collect().map(r => s"Memory:${r.getLong(1)}").toSeq)
  }
}
