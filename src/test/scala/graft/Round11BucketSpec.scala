package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{GraphStore, PropertyGraph}

/** The node table's overlay across its fold bound. A keyed mutation
  * sequence on a WAL store over a multi-partition base folds the
  * caller's frame on its first write, accumulates point writes until the
  * delta passes the bound (the table folds), sends one batch larger than
  * the bound (it folds at once), deletes, re-merges, replaces the table
  * wholesale and writes on — and the store's contents must equal a
  * driver-side replay of the same operations, live and after WAL replay.
  * A key wrongly kept in (or dropped from) the delta would double-count
  * or lose rows here.
  */
class Round11BucketSpec extends AnyFunSuite {
  import TestSpark._

  private def mkNodes(ids: Seq[Long]) =
    spark.createDataFrame(ids.map(Tuple1(_))).toDF("n")
      .select(concat(lit("T:"), col("n")).as("id"),
        array(lit("T")).as("labels"), col("n").as("key"),
        concat(lit("name"), col("n")).as("name"),
        lit(1.0).as("acctbal"), lit(null).cast("string").as("mktsegment"),
        expr("map()").cast("map<string,string>").as("properties"))

  /** The frame is a pinned base with an empty delta. */
  private def folded(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]

  test("node mutation sequence across the fold bound matches a driver-side " +
      "replay, live and after WAL replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft-node-fold").toString
    val g = GraphQueries.graph(spark, sf)
    val base = mkNodes(1L to 600L).repartition(8).localCheckpoint(true)
    assert(base.rdd.getNumPartitions == 8)
    // checkpoints out of reach: only the fold bound folds the delta
    val store = new GraphStore(PropertyGraph(base, g.edges.filter("false")),
      registerGlobal = false, walDir = Some(dir), compactEvery = 1000)
    // model: id -> name
    val model = scala.collection.mutable.Map.empty[Long, String]
    (1L to 600L).foreach(i => model(i) = s"name$i")
    def set(ids: Seq[Long], name: String): Unit = {
      store.setNodeProperty(mkNodes(ids).select("id"), "name", lit(name))
      ids.foreach(model(_) = name)
    }

    // 1: the first write folds the caller's frame into the store's own base
    store.createNodes(mkNodes(601L to 640L))
    (601L to 640L).foreach(i => model(i) = s"name$i")
    assert(folded(store.snapshot.nodes))
    set(Seq(5L, 17L, 63L), "touched-a")
    assert(!folded(store.snapshot.nodes))

    // 2: point writes of 30 keys each until the delta passes the bound
    val seen = (0 until 9).map { k =>
      set((100L + k * 30) until (130L + k * 30), s"pass$k")
      folded(store.snapshot.nodes)
    }
    assert(seen.count(identity) == 1, s"expected one fold at the bound: $seen")

    // 3: one batch larger than the bound folds at once
    set(1L to 300L filter (_ % 7 != 0), "big")
    assert(folded(store.snapshot.nodes))

    // 4: delete a slice (an absent id matches nothing), re-merge one
    val del = store.deleteNodes(mkNodes(Seq(2L, 41L, 79L, 9999L)).select("id"), detach = true)
    assert(del.nodesDeleted == 3)
    Seq(2L, 41L, 79L).foreach(model.remove)
    assert(store.mergeNodes(mkNodes(Seq(2L, 50L))).nodesCreated == 1)
    model(2L) = "name2"

    // 5: wholesale replace, then more point writes
    store.replaceNodes(store.snapshot.nodes
      .withColumn("name", when(col("id") === "T:33", lit("replaced"))
        .otherwise(col("name"))))
    model(33L) = "replaced"
    assert(folded(store.snapshot.nodes))
    (1L to 4L).foreach(k => set(Seq(k + 20), s"post$k"))

    def check(s: GraphStore, what: String): Unit = {
      val got = s.snapshot.nodes.select("id", "name").collect()
        .map(r => r.getString(0).stripPrefix("T:").toLong -> r.getString(1))
      assert(got.length == got.map(_._1).distinct.length, s"$what: duplicate rows")
      val m = got.toMap
      assert(m.keySet == model.keySet,
        s"$what: missing=${model.keySet -- m.keySet} extra=${m.keySet -- model.keySet}")
      model.foreach { case (k, v) => assert(m(k) == v, s"$what: id $k: expected $v got ${m(k)}") }
      // the properties map mirrors the hoisted column for SET rows
      val props = s.snapshot.nodes.filter(col("id") === "T:6")
        .select(element_at(col("properties"), "name")).head.getString(0)
      assert(props == "big", what)
      assert(s.nodeCount == model.size, s"$what: count")
    }
    check(store, "live")
    check(GraphStore.loadWal(spark, dir, registerGlobal = false), "replayed")
  }
}
