package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{GraphStore, PropertyGraph}

/** Writers on one store serialize: each commit is built on the frame the
  * previous commit installed. Two node writers and two edge writers race
  * on one WAL-backed store that checkpoints every second commit; no
  * write may be missing from the live snapshot or from a WAL replay (a
  * node commit built on a stale edge frame drops the edges committed in
  * between, and a checkpoint of that frame drops them for good).
  */
class ConcurrentWritersSpec extends AnyFunSuite {
  import TestSpark._

  private def mkNodes(ids: Seq[Long]) =
    spark.createDataFrame(ids.map(Tuple1(_))).toDF("n")
      .select(concat(lit("W:"), col("n")).as("id"),
        array(lit("W")).as("labels"), col("n").as("key"),
        concat(lit("name"), col("n")).as("name"),
        lit(1.0).as("acctbal"), lit(null).cast("string").as("mktsegment"),
        expr("map()").cast("map<string,string>").as("properties"))

  /** Edges `<tag>:i` between seeded nodes `W:1..W:40`. */
  private def mkEdges(tag: String, ids: Seq[Long]) =
    spark.createDataFrame(ids.map(i => (i, i % 40 + 1, (i * 3) % 40 + 1)))
      .toDF("n", "s", "d")
      .select(concat(lit(s"$tag:"), col("n")).as("id"),
        concat(lit("W:"), col("s")).as("src"),
        concat(lit("W:"), col("d")).as("dst"),
        lit("LINK").as("rel_type"),
        expr("map()").cast("map<string,string>").as("properties"),
        lit(1.0).as("weight"))

  test("two node writers and two edge writers on one WAL store lose no commit") {
    val dir = java.nio.file.Files.createTempDirectory("graft-writers").toString
    val g = GraphQueries.graph(spark, sf)
    val store = new GraphStore(PropertyGraph(
      g.nodes.filter("false").localCheckpoint(true),
      g.edges.filter("false").localCheckpoint(true)),
      registerGlobal = false, walDir = Some(dir), compactEvery = 2)
    store.createNodes(mkNodes(1L to 40L))

    val batches = 10
    val batch = 3
    val start = new CountDownLatch(1)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    def writer(body: Int => Unit): Thread = {
      val t = new Thread(() =>
        try { start.await(); (0 until batches).foreach(body) }
        catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    def slice(base: Long, i: Int): Seq[Long] = (0 until batch).map(base + i * batch + _)
    val threads = Seq(
      writer(i => store.createNodes(mkNodes(slice(1000, i)))),
      writer(i => store.createNodes(mkNodes(slice(2000, i)))),
      writer(i => store.createEdges(mkEdges("A", slice(0, i)))),
      writer(i => store.createEdges(mkEdges("B", slice(0, i)))))
    start.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, s"writer failed: ${errors.peek()}")

    val nodes = 40L + 2 * batches * batch
    val edges = 2L * batches * batch
    def counts(s: GraphStore) = (s.snapshot.nodes.count(), s.snapshot.edges.count())
    assert(counts(store) == (nodes, edges), "live snapshot")
    assert(counts(GraphStore.loadWal(spark, dir, registerGlobal = false)) ==
      (nodes, edges), "WAL replay")
  }
}
