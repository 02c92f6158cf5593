package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.CypherWrite
import graft.graph.{GraphStore, PropertyGraph}

/** Seeded differential check of the store's write path against a
  * plain-Scala model: CREATE, SET, MERGE … ON MATCH SET, relationship
  * CREATE, DETACH DELETE and vector upserts in random order (plus a batch
  * SET larger than the fold bound), on a WAL store that checkpoints every
  * fourth delta. After every step the live snapshot and a replay of the
  * WAL must both equal the model.
  */
class OverlayDiffSpec extends AnyFunSuite {
  import TestSpark._

  test("random writes match a plain-Scala model, live and after every WAL replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft-diff").toString
    val store = new GraphStore(PropertyGraph.empty(spark), registerGlobal = false,
      walDir = Some(dir), compactEvery = 4)
    val rnd = new scala.util.Random(20261019L)
    // model: node id -> property map; edge id -> (src, dst); node id -> vector
    val nodes = mutable.Map[String, Map[String, String]]()
    val edges = mutable.Map[String, (String, String)]()
    val vecs = mutable.Map[String, Seq[Double]]()
    def memory(k: Int) = s"Memory:$k"

    CypherWrite.execute(store, "UNWIND range(1, 8) AS k CREATE (:Customer {key: k})")
    (1 to 8).foreach(k => nodes(s"Customer:$k") = Map.empty)
    CypherWrite.execute(store,
      "UNWIND range(1, 300) AS k CREATE (:Memory {key: k, text: 'm' + toString(k)})")
    (1 to 300).foreach(k => nodes(memory(k)) = Map("text" -> s"m$k"))
    var nextKey = 301

    def live: Seq[Int] = nodes.keys.filter(_.startsWith("Memory:")).map(_.stripPrefix("Memory:").toInt)
      .toSeq.sorted
    def pick(): Int = { val l = live; l(rnd.nextInt(l.size)) }

    def check(s: GraphStore, what: String): Unit = {
      val gotNodes = s.snapshot.nodes.select("id", "properties").collect()
        .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toSeq
      assert(gotNodes.size == gotNodes.map(_._1).distinct.size, s"$what: duplicate node rows")
      assert(gotNodes.toMap == nodes, s"$what: nodes differ")
      val gotEdges = s.snapshot.edges.select("id", "src", "dst").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toSeq
      assert(gotEdges.size == gotEdges.map(_._1).distinct.size, s"$what: duplicate edge rows")
      assert(gotEdges.toMap == edges, s"$what: edges differ")
      val gotVecs = s.nodeEmbeddings.filter(col("name") === "embedding")
        .select("entity_id", "embedding").collect()
        .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(gotVecs == vecs, s"$what: embeddings differ")
      assert((s.nodeCount, s.edgeCount, s.embeddedNodeCount()) ==
        (nodes.size.toLong, edges.size.toLong, vecs.size.toLong), s"$what: counts")
    }

    (1 to 30).foreach { step =>
      val op = if (step == 15) "batch" else
        Seq("create", "set", "merge", "link", "delete", "vector")(rnd.nextInt(6))
      op match {
        case "create" =>
          val k = nextKey; nextKey += 1
          CypherWrite.execute(store, s"CREATE (:Memory {key: $k, text: 'new $k'})")
          nodes(memory(k)) = Map("text" -> s"new $k")
        case "set" =>
          val k = pick()
          CypherWrite.execute(store, s"MATCH (m:Memory {key: $k}) SET m.text = 'set $step'")
          nodes(memory(k)) = nodes(memory(k)) + ("text" -> s"set $step")
        case "merge" =>
          // an existing key gets its ON MATCH SET; a fresh one is created bare
          val k = if (rnd.nextBoolean()) pick() else { nextKey += 1; nextKey - 1 }
          CypherWrite.execute(store, s"MERGE (m:Memory {key: $k}) ON MATCH SET m.touched = $step")
          nodes(memory(k)) = nodes.get(memory(k)).map(_ + ("touched" -> step.toString))
            .getOrElse(Map.empty)
        case "link" =>
          val (k, c) = (pick(), 1 + rnd.nextInt(8))
          CypherWrite.execute(store,
            s"MATCH (m:Memory {key: $k}), (c:Customer {key: $c}) CREATE (m)-[:ABOUT]->(c)")
          edges(s"ABOUT|${memory(k)}|Customer:$c") = (memory(k), s"Customer:$c")
        case "delete" =>
          val k = pick()
          CypherWrite.execute(store, s"MATCH (m:Memory {key: $k}) DETACH DELETE m")
          nodes.remove(memory(k))
          edges.filterInPlace { case (_, (s, d)) => s != memory(k) && d != memory(k) }
        case "vector" =>
          val k = pick()
          val v = Seq.fill(4)(rnd.nextInt(100) / 10.0)
          store.setNodeVectorProperty(memory(k), "embedding", v)
          vecs(memory(k)) = v
        case "batch" =>
          // more keys than the fold bound: the node table folds at once
          CypherWrite.execute(store, s"MATCH (m:Memory) WHERE m.key <= 290 SET m.touched = 'all'")
          live.filter(_ <= 290).foreach(k => nodes(memory(k)) = nodes(memory(k)) + ("touched" -> "all"))
      }
      check(store, s"step $step ($op) live")
      check(GraphStore.loadWal(spark, dir, registerGlobal = false), s"step $step ($op) replayed")
    }
  }
}
