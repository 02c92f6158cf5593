package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cypher.Cypher
import graft.graph.{Expand, PropertyGraph}

/** The CALL surface of the CSR kernel and the BFS traversals keep nothing
  * persisted but their result: while a call's result is held, the only RDD
  * the call added is its pinned rows, so the CSR (kernel) or the per-level
  * frontiers (BFS, once the ctx CSR is built) were released when the call
  * returned. The fixture spans several kernel partitions.
  */
class KernelLeakSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val g: PropertyGraph = {
    val sp = spark
    val n = 30000
    val nodes = sp.range(0, n).select(format_string("n%06d", col("id")).as("id"))
      .withColumn("labels", array(lit("N")))
    // a chain plus a chord from every third node: 39,999 arcs
    val arcs = sp.range(0, n - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
      .union(sp.range(0, n, 3).select(col("id").as("a"), (col("id") * 7919 % n).as("b")))
    val edges = arcs
      .select(format_string("n%06d", col("a")).as("src"),
        format_string("n%06d", col("b")).as("dst"))
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("rel_type", lit("E"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    PropertyGraph(nodes, edges).cache()
  }

  /** Persistent RDD ids once the cleaner has settled: GC, then poll until
    * the set stops changing (perfbench's `settle` does the same).
    */
  private def settled(): Set[Int] = {
    val sc = spark.sparkContext
    def ids = sc.getPersistentRDDs.keySet.toSet
    System.gc()
    var (prev, cur, waited) = (Set(-1), ids, 0)
    while (cur != prev && waited < 50) {
      Thread.sleep(100); waited += 1
      prev = cur; cur = ids
    }
    cur
  }

  /** Runs the CALL (the kernel runs while the statement is planned) and
    * returns the RDDs persisted while its result is held, and its row
    * count.
    */
  private def call(q: String, before: Set[Int]): (Set[Int], Long) = {
    val res = Cypher.run(g, q)
    (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before, res.collect().length.toLong)
  }

  for ((name, q) <- Seq(
      "apoc.algo.pagerank" -> "CALL apoc.algo.pagerank(3) YIELD id, r RETURN id, r",
      "apoc.community.labelpropagation" ->
        "CALL apoc.community.labelpropagation(3) YIELD id, label RETURN id, label",
      "apoc.community.louvain" ->
        "CALL apoc.community.louvain(3) YIELD id, label RETURN id, label",
      "apoc.community.weaklyconnectedcomponents" ->
        "CALL apoc.community.weaklyconnectedcomponents('E') YIELD id, component RETURN id, component",
      "apoc.algo.wcc" -> "CALL apoc.algo.wcc() YIELD node, componentId RETURN node, componentId")) {
    test(s"CALL $name keeps only its pinned result persisted") {
      assert(graft.algos.GraphXAlgos.pageRank(g, 0).rdd.getNumPartitions >= 2,
        "fixture must span several kernel partitions")
      val before = settled()
      val (held, rows) = call(q, before)
      assert(rows == 30000L)
      assert(held.size == 1, "persisted while the result is held: " +
        held.map(i => spark.sparkContext.getPersistentRDDs(i).toDebugString))
    }
  }

  /** `n` fixture ids `step` apart. */
  private def ids(n: Int, step: Int = 97) = {
    val sp = spark
    import sp.implicits._
    (0 until n).map(i => f"n${i * step}%06d").toDF("id")
  }

  for ((name, run) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "shortestPaths" -> (s => Expand.shortestPaths(g, s, None, 3)),
      "varLengthExpand" -> (s => Expand.varLengthExpand(g, s, None, 1, 3)),
      "allShortestPathsMulti" -> (s => Expand.allShortestPathsMulti(g, s, ids(20000, 1), None, 3,
        Expand.Both)));
      n <- Seq(5, 200)) {
    test(s"$name from $n starts keeps only its pinned result persisted") {
      val starts = ids(n)
      run(starts).count() // builds the ctx and its CSR, which stay cached
      val before = settled()
      val res = run(starts)
      val held = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(res.count() > 0)
      assert(held.size == 1, "persisted while the result is held: " +
        held.map(i => spark.sparkContext.getPersistentRDDs(i).toDebugString))
    }
  }
}
