package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.GraftServer
import perfbench.Checks.Counts
import graft.cypher.CypherWrite
import graft.graph.{GraphStore, PropertyGraph}

/** `agent_memory`: an agent's memory store. One client interleaves
  * remember (CREATE, then the vector), update (SET, then a read-back),
  * touch (MERGE … ON MATCH SET), link (CREATE rel) and forget
  * (DETACH DELETE) with vector, fulltext and hybrid recalls, against a
  * WAL-backed `GraphStore` opened the way the server opens its data
  * directory. A ledger kept apart from the engine predicts every write's
  * counts and every recall's answer.
  */
final class AgentMemory extends Workload {
  import AgentMemory._

  final case class Mem(var text: String, vec: Array[Double], var about: Int)

  sealed trait Step { def kind: String; def cypher: String }
  final case class Write(kind: String, cypher: String, want: Counts) extends Step
  final case class Rows(kind: String, cypher: String, want: Seq[Seq[Any]]) extends Step
  final case class Recall(kind: String, cypher: String, want: Seq[(String, Double)],
      own: Option[String], forgotten: Set[String]) extends Step
  /** A round's statements, and the store's node/edge counts after it. */
  final case class Round(steps: Seq[Step], nodes: Long, edges: Long)

  private var store: GraphStore = _
  private var walDir: String = _
  private var rounds: Seq[Round] = Nil
  private var done = 0
  private val results = mutable.ArrayBuffer[(Step, Option[Any])]()
  private val checkpointWriteMs = mutable.ArrayBuffer[Double]()

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    val g = c.timed("graph.build_s") {
      val pg = PropertyGraph.fromTpch(spark, c.dataDir).cache()
      pg.nodes.count(); pg.edges.count()
      pg
    }
    val (baseNodes, baseEdges) = (g.nodes.count(), g.edges.count())
    val docs = spark.read.parquet(s"${c.dataDir}/documents.parquet")
      .orderBy("doc_id").select("text").collect().map(_.getString(0)).take(Memories)
    val nCustomers = g.nodesByLabel("Customer").count().toInt

    val rnd = new scala.util.Random(c.seed)
    val mems = mutable.LinkedHashMap[Long, Mem]()
    val about = c.generating {
      docs.zipWithIndex.foreach { case (t, i) => mems(i + 1L) = Mem(t, vector(rnd), 1) }
      mems.keys.map(k => k -> rnd.nextInt(nCustomers)).toSeq
    }

    store = c.timed("graph.wal_open_s")(GraftServer.openStore(spark, s"${c.workDir}/data"))
    walDir = s"${c.workDir}/data/graph"
    c.timed("graph.bulk_load_s") {
      import spark.implicits._
      store.replaceGraph(g)
      // the row shape a Cypher CREATE (m:Memory {key, text}) writes
      store.createNodes(mems.toSeq.map { case (k, m) => (k, m.text) }.toDF("key", "text")
        .select(concat_ws(":", lit("Memory"), col("key")).as("id"), array(lit("Memory")).as("labels"),
          col("key"), lit(null).cast("string").as("name"), lit(null).cast("double").as("acctbal"),
          lit(null).cast("string").as("mktsegment"),
          map_from_arrays(array(lit("text")), array(col("text"))).as("properties")))
      store.createEdges(about.map { case (k, cust) => (s"ABOUT:$k", s"Memory:$k", s"Customer:$cust") }
        .toDF("id", "src", "dst")
        .select(col("id"), col("src"), col("dst"), lit("ABOUT").as("rel_type"),
          typedLit(Map.empty[String, String]).as("properties"), lit(1.0).as("weight")))
      store.setNodeVectorProperties(mems.toSeq.map { case (k, m) => (s"Memory:$k", "embedding", m.vec.toSeq) }
        .toDF("entity_id", "name", "embedding"))
    }

    // rounds are planned before the store answers anything; a round takes
    // over 15 s, so more are planned than a run can reach
    c.generating {
      val nRounds = 1 + math.ceil(c.seconds / 10).toInt
      rounds = plan(rnd, mems, nRounds, baseNodes + mems.size, baseEdges + mems.size,
        nCustomers, 1_000_000L + (c.seed & 0xffffL) * 1000L)
    }

    c.exec.recording = false
    c.exec.query("setup", store.snapshot,
      s"CALL db.index.vector.createNodeIndex('mem_vec', 'Memory', 'embedding', $Dim, 'cosine')")
    c.exec.query("setup", store.snapshot,
      "CALL db.index.fulltext.createNodeIndex('mem_ft', ['Memory'], ['text'])")
    c.exec.recording = true
  }

  private def vector(rnd: scala.util.Random): Array[Double] = Array.fill(Dim)(rnd.nextGaussian())

  private def text(rnd: scala.util.Random): String =
    Seq.fill(8 + rnd.nextInt(40))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")

  /** Walk the ledger through `n` rounds, recording each statement with
    * the answer the ledger predicts for it.
    */
  private def plan(rnd: scala.util.Random, mems: mutable.LinkedHashMap[Long, Mem], n: Int,
      nodes0: Long, edges0: Long, nCustomers: Int, keyBase: Long): Seq[Round] = {
    val live = mutable.ArrayBuffer[Long]() ++= mems.keys
    val forgotten = mutable.Set[String]()
    var (nodes, edges) = (nodes0, edges0)
    def pick(): Long = live(rnd.nextInt(live.size))
    def id(k: Long) = s"Memory:$k"
    def vecLit(v: Array[Double]) = v.mkString("[", ", ", "]")
    def bm25(q: String) = Checks.bm25Ranking(live.map(k => id(k) -> mems(k).text), q)
    def cos(q: Array[Double]) = Checks.cosineRanking(live.map(k => id(k) -> mems(k).vec), q)
    def terms() = Seq.fill(2)(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    (0 until n).map { r =>
      val steps = mutable.ArrayBuffer[Step]()
      val k1 = keyBase + r
      val m1 = Mem(text(rnd), vector(rnd), 0)
      mems(k1) = m1; live += k1; nodes += 1
      steps += Write("write.create", s"CREATE (m:Memory {key: $k1, text: '${m1.text}'})",
        Counts(nodesCreated = 1))
      steps += Rows("write.vector",
        s"CALL db.create.setNodeVectorProperty('${id(k1)}', 'embedding', ${vecLit(m1.vec)}) " +
          "YIELD node, dimension RETURN node, dimension", Seq(Seq(id(k1), Dim.toLong)))
      val k2 = pick(); val t2 = text(rnd)
      mems(k2).text = t2
      steps += Write("write.set", s"MATCH (m:Memory {key: $k2}) SET m.text = '$t2'", Counts(propsSet = 1))
      steps += Rows("read.readback", s"MATCH (m:Memory {key: $k2}) RETURN m.text AS text", Seq(Seq(t2)))
      val k3 = pick()
      steps += Write("write.merge", s"MERGE (m:Memory {key: $k3}) ON MATCH SET m.touched = $r",
        Counts(propsSet = 1))
      val k4 = pick(); val cust = rnd.nextInt(nCustomers)
      mems(k4).about += 1; edges += 1
      steps += Write("write.link",
        s"MATCH (m:Memory {key: $k4}), (c:Customer {key: $cust}) CREATE (m)-[:ABOUT]->(c)",
        Counts(relsCreated = 1))
      val k5 = pick()
      val gone = mems.remove(k5).get
      live -= k5; forgotten += id(k5); nodes -= 1; edges -= gone.about
      steps += Write("write.delete", s"MATCH (m:Memory {key: $k5}) DETACH DELETE m",
        Counts(nodesDeleted = 1, relsDeleted = gone.about))
      val k6 = pick()
      steps += Recall("search.vector",
        s"CALL db.index.vector.queryNodes('mem_vec', $K, ${vecLit(mems(k6).vec)}) " +
          "YIELD node, score RETURN node, score", cos(mems(k6).vec), Some(id(k6)), forgotten.toSet)
      val q1 = terms()
      steps += Recall("search.fulltext",
        s"CALL db.index.fulltext.queryNodes('mem_ft', '$q1', {limit: $K}) YIELD node, score RETURN node, score",
        bm25(q1), None, forgotten.toSet)
      val q2 = terms(); val qv = vector(rnd)
      steps += Recall("search.hybrid",
        s"CALL db.index.hybrid.queryNodes('mem_vec', 'mem_ft', $K, '$q2', ${vecLit(qv)}) " +
          "YIELD node, score RETURN node, score",
        Checks.rrf(bm25(q2), cos(qv), 2 * K), None, forgotten.toSet)
      Round(steps.toSeq, nodes, edges)
    }
  }

  private def latestCheckpoint(): Int =
    Option(new File(s"$walDir/checkpoint").list()).toSeq.flatten
      .flatMap(n => scala.util.Try(n.stripPrefix("v").toInt).toOption).maxOption.getOrElse(-1)

  private def runRound(c: Ctx, round: Round): Unit = round.steps.foreach {
    case s: Write =>
      val cp = latestCheckpoint()
      val t0 = System.nanoTime()
      val r = c.exec.write(s.kind, store, s.cypher)
      if (c.exec.recording && latestCheckpoint() != cp)
        checkpointWriteMs += (System.nanoTime() - t0) / 1e6
      results += s -> r
    case s => results += s -> c.exec.query(s.kind, store.snapshot, s.cypher)
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum

  def run(c: Ctx, seconds: Double): Unit = {
    val walBefore = dirBytes(new File(walDir))
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do { runRound(c, rounds(done)); done += 1 }
    while (System.nanoTime() < deadline && done < rounds.size)
    c.extra("graph.wal_bytes") = (dirBytes(new File(walDir)) - walBefore).toDouble
    c.extra("graph.checkpoint_ms") = Stats.median(checkpointWriteMs.toSeq)
  }

  def check(c: Ctx): Seq[String] = {
    val recalls = mutable.ArrayBuffer[Double]()
    val errors = results.toSeq.flatMap {
      case (_, None) => None
      case (s: Write, Some(r: CypherWrite.WriteResult)) =>
        Checks.sameCounts(Counts(r.nodesCreated, r.nodesDeleted, r.relationshipsCreated,
          r.relationshipsDeleted, r.propertiesSet), s.want).map(e => s"${s.kind}: $e :: ${s.cypher}")
      case (s: Rows, Some(rows: Array[Row] @unchecked)) =>
        Checks.sameRows(rows.toSeq.map(_.toSeq), s.want)
          .map(e => s"${s.kind}: $e :: ${s.cypher.take(120)}")
      case (s: Recall, Some(rows: Array[Row] @unchecked)) =>
        val got = rows.toSeq.map(r => r.getString(0) -> r.getDouble(1))
        if (s.kind == "search.vector") recalls += Checks.recall(got.map(_._1), s.want, K)
        (s.own.flatMap(Checks.ownFirst(got, _)) ++ Checks.noneForgotten(got.map(_._1), s.forgotten) ++
          Checks.sameRanking(got, s.want, K)).headOption
          .map(e => s"${s.kind}: $e :: ${s.cypher.take(120)}")
      case (s, Some(other)) => Some(s"${s.kind}: unexpected result $other")
    }
    c.extra("search.recall_at_10") = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    val last = rounds(done - 1)
    val replayed = GraphStore.loadWal(c.spark, walDir, registerGlobal = false).snapshot
    errors ++ Checks.sameSize(replayed.nodes.count(), replayed.edges.count(), last.nodes, last.edges)
  }

  def detail(c: Ctx): Seq[(String, Double, String)] = Seq(
    ("write_p50_ms", Stats.median(c.tracer.latencies("write.")), "ms"),
    ("vector_search_p50_ms", Stats.median(c.tracer.latencies("search.vector")), "ms"),
    ("fulltext_search_p50_ms", Stats.median(c.tracer.latencies("search.fulltext")), "ms"),
    ("hybrid_search_p50_ms", Stats.median(c.tracer.latencies("search.hybrid")), "ms"),
    ("rounds", done.toDouble, "count"))
}

object AgentMemory {
  val Memories = 1000
  val Dim = 128
  val K = 10
  val Vocab: IndexedSeq[String] = ("a agg batch big column customer data fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark stream " +
    "table the value vector window").split(" ").toIndexedSeq
}
