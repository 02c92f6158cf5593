package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{GraphStore, PropertyGraph}

/** The edge side of the bucketed copy-on-write committer — the edge twin
  * of [[Round11BucketSpec]]. A keyed edge-mutation sequence on a
  * WAL-backed store crosses the deferral bound, pushes buckets past the
  * depth bound, rewrites edge buckets from a DETACH DELETE and drops back
  * to unbucketed mode on a wholesale replace; the live snapshot and the
  * WAL replay must both equal a driver-side model of the same operations.
  */
class EdgeBucketSpec extends AnyFunSuite {
  import TestSpark._

  private def walStore(dir: String): GraphStore = {
    val g = GraphQueries.graph(spark, sf)
    new GraphStore(PropertyGraph(
      g.nodes.filter("false").localCheckpoint(true),
      g.edges.filter("false").localCheckpoint(true)),
      registerGlobal = false, walDir = Some(dir), compactEvery = 5)
  }

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

  private def contents(s: GraphStore): Map[Long, (Double, Option[String])] =
    s.snapshot.edges
      .select(col("id"), col("weight"), element_at(col("properties"), "tag"))
      .collect().map(r => r.getString(0).stripPrefix("E:").toLong ->
        (r.getDouble(1), Option(r.getString(2)))).toMap

  test("edge mutation sequence across the deferral and depth bounds matches " +
      "a driver-side model, live and after WAL replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-buckets").toString
    val store = walStore(dir)
    // model: edge id -> (weight, tag property)
    val model = scala.collection.mutable.Map.empty[Long, (Double, Option[String])]
    def setWeight(i: Long, w: Double): Unit = model(i) = model(i).copy(_1 = w)
    def setTag(i: Long, t: String): Unit = model(i) = model(i).copy(_2 = Some(t))

    store.createNodes(mkNodes(1L to 20L))

    // 1-2: two batch creates (edge side deferred, whole-frame path)
    store.createEdges(mkEdges(1L to 30L))
    store.createEdges(mkEdges(31L to 60L))
    (1L to 60L).foreach(i => model(i) = (1.0, None))

    // 3: hoisted-column SET (3rd edge commit, still deferred)
    store.setEdgeProperty(ids(5, 17, 45), "weight", lit(2.5))
    Seq(5L, 17L, 45L).foreach(setWeight(_, 2.5))

    // 4: map-key SET crosses the bound -> lazy conversion, touched rewrite
    store.setEdgeProperty(ids(6, 50), "tag", lit("b"))
    Seq(6L, 50L).foreach(setTag(_, "b"))

    // 5-14: alternating single-edge SETs stack layers on two buckets until
    // each re-materializes at the depth bound
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

    // 15: keyed delete of a slice (an absent id matches nothing)
    val del = store.deleteEdges(ids(3, 31, 59, 999))
    assert(del.relationshipsDeleted == 3)
    Seq(3L, 31L, 59L).foreach(model.remove)

    // 16: DETACH DELETE rewrites the buckets holding the incident edges
    val incident = model.keys.filter(i => src(i) == 4 || dst(i) == 4).toSet
    assert(incident.nonEmpty)
    val det = store.deleteNodes(mkNodes(Seq(4L)).select("id"), detach = true)
    assert(det.relationshipsDeleted == incident.size)
    incident.foreach(model.remove)

    // 17: wholesale replace drops the edge side back to unbucketed mode
    store.replaceEdges(store.snapshot.edges
      .withColumn("weight", when(col("id") === "E:10", lit(99.0))
        .otherwise(col("weight"))))
    if (model.contains(10L)) setWeight(10L, 99.0)

    // 18-19: more creates and a SET after the invalidate
    val more = (61L to 70L).filterNot(i => src(i) == 4 || dst(i) == 4)
    store.createEdges(mkEdges(more))
    more.foreach(i => model(i) = (1.0, None))
    store.setEdgeProperty(ids(more.head), "tag", lit("late"))
    setTag(more.head, "late")

    def check(s: GraphStore, what: String): Unit = {
      val got = contents(s)
      assert(got.keySet == model.keySet,
        s"$what: missing=${model.keySet -- got.keySet} extra=${got.keySet -- model.keySet}")
      model.foreach { case (i, v) => assert(got(i) == v, s"$what: edge $i") }
      assert(s.snapshot.edges.count() == model.size, s"$what: duplicate rows")
    }
    check(store, "live")
    check(GraphStore.loadWal(spark, dir, registerGlobal = false), "replayed")
  }
}
