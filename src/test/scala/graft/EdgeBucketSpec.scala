package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{GraphStore, PropertyGraph}

/** The edge table's overlay across WAL checkpoints and its fold bound —
  * the edge twin of [[Round11BucketSpec]]. A keyed edge-mutation sequence
  * on a store over a multi-partition edge base checkpoints every fifth
  * delta (each checkpoint folds and writes the pinned tables), sends a
  * batch larger than the bound, deletes by edge id and by DETACH DELETE,
  * replaces the table wholesale and writes on; the live snapshot and the
  * WAL replay must both equal a driver-side model of the same operations.
  */
class EdgeBucketSpec extends AnyFunSuite {
  import TestSpark._

  private def mkNodes(ids: Seq[Long]) =
    spark.createDataFrame(ids.map(Tuple1(_))).toDF("n")
      .select(concat(lit("N:"), col("n")).as("id"),
        array(lit("N")).as("labels"), col("n").as("key"),
        concat(lit("name"), col("n")).as("name"),
        lit(1.0).as("acctbal"), lit(null).cast("string").as("mktsegment"),
        expr("map()").cast("map<string,string>").as("properties"))

  private def src(i: Long): Long = i % 20 + 1
  private def dst(i: Long): Long = (i * 7) % 20 + 1

  /** Edges `E:i` from `N:src(i)` to `N:dst(i)`, weight 1.0, no properties. */
  private def mkEdges(ids: Seq[Long]) =
    spark.createDataFrame(ids.map(i => (i, src(i), dst(i)))).toDF("n", "s", "d")
      .select(concat(lit("E:"), col("n")).as("id"),
        concat(lit("N:"), col("s")).as("src"),
        concat(lit("N:"), col("d")).as("dst"),
        lit("LINK").as("rel_type"),
        expr("map()").cast("map<string,string>").as("properties"),
        lit(1.0).as("weight"))

  private def ids(ns: Long*) = mkEdges(ns).select("id")

  private def contents(s: GraphStore): Seq[(Long, (Double, Option[String]))] =
    s.snapshot.edges
      .select(col("id"), col("weight"), element_at(col("properties"), "tag"))
      .collect().map(r => r.getString(0).stripPrefix("E:").toLong ->
        (r.getDouble(1), Option(r.getString(2)))).toSeq

  test("edge mutation sequence across checkpoints and the fold bound matches " +
      "a driver-side model, live and after WAL replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-fold").toString
    val base = mkEdges(1L to 400L).repartition(6).localCheckpoint(true)
    assert(base.rdd.getNumPartitions == 6)
    val store = new GraphStore(PropertyGraph(mkNodes(1L to 20L).localCheckpoint(true), base),
      registerGlobal = false, walDir = Some(dir), compactEvery = 5)
    // model: edge id -> (weight, tag property)
    val model = scala.collection.mutable.Map.empty[Long, (Double, Option[String])]
    (1L to 400L).foreach(i => model(i) = (1.0, None))
    def setWeight(i: Long, w: Double): Unit = model(i) = model(i).copy(_1 = w)
    def setTag(i: Long, t: String): Unit = model(i) = model(i).copy(_2 = Some(t))

    // 1-2: creates, then a hoisted-column SET and a map-key SET
    store.createEdges(mkEdges(401L to 430L))
    (401L to 430L).foreach(i => model(i) = (1.0, None))
    store.setEdgeProperty(ids(5, 17, 45), "weight", lit(2.5))
    Seq(5L, 17L, 45L).foreach(setWeight(_, 2.5))
    store.setEdgeProperty(ids(6, 50), "tag", lit("b"))
    Seq(6L, 50L).foreach(setTag(_, "b"))

    // 3-12: alternating single-edge SETs across two checkpoints
    (1 to 10).foreach { k =>
      val i = if (k % 2 == 0) 1L else 2L
      if (k % 3 == 0) {
        store.setEdgeProperty(ids(i), "weight", lit(k.toDouble))
        setWeight(i, k.toDouble)
      } else {
        store.setEdgeProperty(ids(i), "tag", lit(s"pass$k"))
        setTag(i, s"pass$k")
      }
    }

    // 13: a batch larger than the fold bound
    val batch = (100L to 399L).filter(_ % 10 != 0)
    assert(batch.size > 256)
    store.setEdgeProperty(mkEdges(batch).select("id"), "tag", lit("batch"))
    batch.foreach(setTag(_, "batch"))

    // 14: keyed delete of a slice (an absent id matches nothing)
    val del = store.deleteEdges(ids(3, 31, 59, 9999))
    assert(del.relationshipsDeleted == 3)
    Seq(3L, 31L, 59L).foreach(model.remove)

    // 15: DETACH DELETE removes the node's incident edges
    val incident = model.keys.filter(i => src(i) == 4 || dst(i) == 4).toSet
    assert(incident.nonEmpty)
    val det = store.deleteNodes(mkNodes(Seq(4L)).select("id"), detach = true)
    assert(det.relationshipsDeleted == incident.size)
    incident.foreach(model.remove)

    // 16: wholesale replace
    store.replaceEdges(store.snapshot.edges
      .withColumn("weight", when(col("id") === "E:10", lit(99.0))
        .otherwise(col("weight"))))
    if (model.contains(10L)) setWeight(10L, 99.0)

    // 17-18: more creates and a SET after the replace
    val more = (431L to 440L).filterNot(i => src(i) == 4 || dst(i) == 4)
    store.createEdges(mkEdges(more))
    more.foreach(i => model(i) = (1.0, None))
    store.setEdgeProperty(ids(more.head), "tag", lit("late"))
    setTag(more.head, "late")

    val checkpoints = new java.io.File(s"$dir/checkpoint").list().length
    assert(checkpoints >= 4, s"only $checkpoints checkpoint(s)")

    def check(s: GraphStore, what: String): Unit = {
      val got = contents(s)
      assert(got.length == got.map(_._1).distinct.length, s"$what: duplicate rows")
      val m = got.toMap
      assert(m.keySet == model.keySet,
        s"$what: missing=${model.keySet -- m.keySet} extra=${m.keySet -- model.keySet}")
      model.foreach { case (i, v) => assert(m(i) == v, s"$what: edge $i") }
      assert(s.edgeCount == model.size, s"$what: count")
    }
    check(store, "live")
    check(GraphStore.loadWal(spark, dir, registerGlobal = false), "replayed")
  }
}
