package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.{Cypher, CypherWrite, SearchCallProcs}
import graft.graph.GraphStore

/** A recall costs a handful of Spark jobs: on a WAL-backed store holding
  * the TPC-H graph plus 300 memories, with point writes sitting in the
  * store's overlay delta, a fulltext CALL takes at most 4 jobs (one
  * tokenize-and-count exchange, the corpus stats, their broadcast, the
  * top-k) and a hybrid CALL at most 6 (the fulltext leg, the vector leg's
  * label join and top-k, an in-memory fusion).
  */
class SearchJobsSpec extends AnyFunSuite {
  import TestSpark._

  private val Dim = 8

  private def vec(k: Long): Seq[Double] = {
    val rnd = new scala.util.Random(k)
    Seq.fill(Dim)(rnd.nextGaussian())
  }

  /** A store opened the way the server opens its data directory: the
    * TPC-H graph plus 300 memories, re-read from WAL checkpoints as the
    * writes below go on.
    */
  private lazy val store: GraphStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-search-jobs").toString
    val s = GraftServer.openStore(spark, dir)
    s.replaceGraph(GraphQueries.graph(spark, sf))
    s.createNodes(MemoryRows.nodes(1L to 300L))
    val sp = spark
    import sp.implicits._
    s.setNodeVectorProperties((1L to 300L).map(k => (s"Memory:$k", "embedding", vec(k)))
      .toDF("entity_id", "name", "embedding"))
    Cypher.run(s.snapshot,
      s"CALL db.index.vector.createNodeIndex('jobs_vec', 'Memory', 'embedding', $Dim, 'cosine')").collect()
    Cypher.run(s.snapshot,
      "CALL db.index.fulltext.createNodeIndex('jobs_ft', ['Memory'], ['text'])").collect()
    s
  }

  private var rounds = 0

  /** An agent's turn of point writes; they stay in the overlay's delta
    * until the next checkpoint folds them.
    */
  private def writes(): Unit = {
    val r = rounds
    rounds += 1
    CypherWrite.execute(store, s"CREATE (m:Memory {key: ${9000 + r}, text: 'memory graph search graph search'})")
    store.setNodeVectorProperty(s"Memory:${9000 + r}", "embedding", vec(9000L + r))
    CypherWrite.execute(store, s"MATCH (m:Memory {key: ${10 + r}}) SET m.text = 'memory ${10 + r} graph search updated'")
    CypherWrite.execute(store, s"MERGE (m:Memory {key: ${20 + r}}) ON MATCH SET m.touched = $r")
    CypherWrite.execute(store, s"MATCH (m:Memory {key: ${40 + r}}) DETACH DELETE m")
  }

  /** Jobs and rows of `q(newest)`, run after two turns of writes;
    * `newest` is the key of the memory the last turn created.
    */
  private def recall(q: Long => String): (Int, Array[Row], Long) = {
    writes()
    Cypher.run(store.snapshot, q(9000L + rounds - 1)).collect()
    writes()
    val newest = 9000L + rounds - 1
    var rows: Array[Row] = null
    val jobs = JobCount.of { rows = Cypher.run(store.snapshot, q(newest)).collect() }
    (jobs, rows, newest)
  }

  test("db.index.fulltext.queryNodes takes at most 4 jobs") {
    val (jobs, rows, _) = recall(_ => "CALL db.index.fulltext.queryNodes('jobs_ft', " +
      "'memory graph search', {limit: 10}) YIELD node, score RETURN node, score")
    info(s"fulltext: $jobs jobs")
    // the created memories repeat both terms: they lead, tied, by id
    assert(rows.map(_.getString(0)).toSeq.take(rounds) == (0 until rounds).map(r => s"Memory:${9000 + r}"))
    assert(!rows.exists(_.getString(0) == "Memory:40"))
    assert(jobs <= 4, s"fulltext recall took $jobs jobs")
    // label scoping adds one semi-join, whose ids are broadcast
    val (scoped, scopedRows, _) = recall(_ => "CALL db.index.fulltext.queryNodes('jobs_ft', " +
      "'memory graph search', {limit: 10, labels: ['Memory']}) YIELD node, score RETURN node, score")
    info(s"fulltext with labels: $scoped jobs")
    assert(scopedRows.length == 10)
    assert(scoped <= 5, s"label-scoped fulltext recall took $scoped jobs")
  }

  test("db.index.hybrid.queryNodes takes at most 6 jobs") {
    val (jobs, rows, newest) = recall(k => "CALL db.index.hybrid.queryNodes('jobs_vec', 'jobs_ft', 10, " +
      s"'memory graph search', ${vec(k).mkString("[", ", ", "]")}) YIELD node, score RETURN node, score")
    info(s"hybrid: $jobs jobs")
    // the newest memory ranks first by vector and last of the created by text
    assert(rows.head.getString(0) == s"Memory:$newest")
    assert(rows.head.getDouble(1) == 1.0 / (60 + rounds) + 1.0 / 61)
    assert(rows.length == 10)
    assert(jobs <= 6, s"hybrid recall took $jobs jobs")
  }

  test("NornicSearch's hybrid search runs its two legs and probes nothing else") {
    val q = "memory graph search"
    def leg(method: String): Int =
      JobCount.of(SearchCallProcs.defaultSearch(store, q, 5, Nil, method).collect())
    leg("BM25")
    // the first call counts the store's embedding base, once
    SearchCallProcs.searchTextDetailed(store, q, 5)
    val legJobs = leg("BM25") + leg("VECTOR")
    var hits: org.apache.spark.sql.DataFrame = null
    // no embedding probe, and the fused result is read without a job
    val callJobs = JobCount.of {
      val (h, method, fallback, _) = SearchCallProcs.searchTextDetailed(store, q, 5)
      assert(method == "rrf_hybrid" && !fallback)
      hits = h
    }
    var rows: Array[Row] = null
    val hitJobs = JobCount.of { rows = hits.collect() }
    info(s"searchTextDetailed: $callJobs jobs, its legs alone $legJobs, reading the hits $hitJobs")
    assert(callJobs <= legJobs, s"searchTextDetailed took $callJobs jobs, its legs $legJobs")
    assert(rows.length == 5)
    // the node rows of the fused ids are probed and broadcast, not joined
    // by a shuffle with the whole node table
    assert(hitJobs < 4, s"reading the hits took $hitJobs jobs")
    rows.foreach(r => assert(r.getDouble(3) == r.getDouble(4) && r.getInt(5) + r.getInt(6) > 0))
    assert(rows.map(_.getDouble(3)).toSeq == rows.map(_.getDouble(3)).toSeq.sorted.reverse)
  }
}
