package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.{BfsRdd, GraphXAlgos}
import graft.graph.{Expand, PropertyGraph}
import graft.graph.Expand.{Both, Direction, In, Out}

/** Differential spec for the BFS traversals: `Expand.shortestPaths`,
  * `Expand.varLengthExpand`, `Expand.allShortestPathsMulti` and
  * `BfsRdd.pointDistance` against a plain-Scala BFS, over seeded generated
  * graphs, in every direction, from start sets of 1, 128 and 129 nodes and
  * (on the small shapes) every node. Rows are compared as sorted lists, so
  * a duplicated row fails too.
  */
class TraversalDiffSpec extends AnyFunSuite {
  import TestSpark._

  private type Edges = Seq[(String, String)]

  private def graph(nodes: Seq[String], edges: Edges): PropertyGraph = {
    val sp = spark
    import sp.implicits._
    val n = sp.sparkContext.parallelize(nodes, 4).toDF("id")
      .withColumn("labels", array(lit("N")))
    val e = sp.sparkContext.parallelize(edges.zipWithIndex.map { case ((a, b), i) =>
        (a, b, s"e$i") }, 4).toDF("src", "dst", "id")
      .withColumn("rel_type", lit("E"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    PropertyGraph(n, e)
  }

  // ---- the plain-Scala reference ----

  private def adjacency(edges: Edges, dir: Direction): Map[String, Seq[String]] = {
    val arcs = dir match {
      case Out => edges
      case In => edges.map(_.swap)
      case Both => edges ++ edges.map(_.swap)
    }
    arcs.distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Nodes reached at each depth 0..maxHops (revisits allowed). */
  private def levels(adj: Map[String, Seq[String]], s: String, maxHops: Int): Seq[Set[String]] =
    (1 to maxHops).scanLeft(Set(s))((f, _) => f.flatMap(v => adj.getOrElse(v, Nil)))

  /** Every shortest path from `s` to each node first reached within maxHops. */
  private def shortest(adj: Map[String, Seq[String]], s: String,
      maxHops: Int): Map[String, Set[List[String]]] = {
    val paths = mutable.Map(s -> Set(List(s)))
    var frontier = Set(s)
    var d = 0
    while (d < maxHops && frontier.nonEmpty) {
      d += 1
      val next = mutable.Map.empty[String, Set[List[String]]]
      for (u <- frontier; n <- adj.getOrElse(u, Nil) if !paths.contains(n))
        next(n) = next.getOrElse(n, Set.empty) ++ paths(u).map(_ :+ n)
      paths ++= next
      frontier = next.keySet.toSet
    }
    paths.toMap
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString(">")
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private def startSets(nodes: Seq[String], all: Boolean): Seq[Seq[String]] = {
    val shuffled = new scala.util.Random(5L).shuffle(nodes)
    Seq(1, 128, 129).map(shuffled.take) ++ (if (all) Seq(nodes) else Nil)
  }

  private def check(nodes: Seq[String], edges: Edges, all: Boolean = true,
      csrParts: Int = 1): Unit = {
    val sp = spark
    import sp.implicits._
    val g = graph(nodes, edges)
    assert(GraphXAlgos.ctxFor(g, Nil).csrByDir("out").getNumPartitions >= csrParts,
      s"fixture must span $csrParts CSR partitions")
    val rnd = new scala.util.Random(9L)
    val targets = rnd.shuffle(nodes).take(20).toSet
    for (dir <- Seq(Out, In, Both); starts <- startSets(nodes, all)) {
      val adj = adjacency(edges, dir)
      val what = s"$dir from ${starts.size} starts"
      val sdf = starts.toDF("id")

      val dist = starts.flatMap { s =>
        shortest(adj, s, 3).map { case (v, ps) => s"$s|$v|${ps.head.size - 1}" } }
      assert(sortedRows(Expand.shortestPaths(g, sdf, None, 3, dir)) == dist.sorted,
        s"shortestPaths $what")

      for ((mn, mx) <- Seq((0, 2), (1, 3), (2, 2))) {
        val want = starts.flatMap { s =>
          levels(adj, s, mx).zipWithIndex.drop(mn).flatMap { case (f, d) => f.map(v => s"$s|$v|$d") } }
        assert(sortedRows(Expand.varLengthExpand(g, sdf, None, mn, mx, dir)
            .select("start_id", "end_id", "depth")) == want.sorted,
          s"varLengthExpand [*$mn..$mx] $what")
      }

      val paths = starts.flatMap { s =>
        shortest(adj, s, 3).toSeq.filter { case (v, _) => v != s && targets(v) }
          .flatMap { case (v, ps) => ps.map(p => s"$s|$v|${p.mkString(">")}|${p.size - 1}") } }
      assert(sortedRows(Expand.allShortestPathsMulti(g, sdf, targets.toSeq.toDF("id"),
          None, 3, dir).select("start_id", "end_id", "path", "length")) == paths.sorted,
        s"allShortestPathsMulti $what")
    }
    for (dir <- Seq(Out, In, Both); (s, t) <- Seq((nodes.head, nodes.head)) ++
        Seq.fill(3)((nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size))))) {
      val want = shortest(adjacency(edges, dir), s, 4).get(t).map(_.head.size - 1).getOrElse(-1)
      assert(BfsRdd.pointDistance(g, s, t, Nil, 4, dir) == want, s"pointDistance $s→$t $dir")
    }
  }

  private def ids(n: Int): Seq[String] = (0 until n).map(i => s"n$i")

  test("a graph with no edges: every start reaches only itself") {
    check(ids(150), Seq.empty)
  }

  test("self-loops, one node whose only edge is a self-loop") {
    val rnd = new scala.util.Random(1L)
    val arcs = Seq.fill(180)((s"n${rnd.nextInt(140)}", s"n${rnd.nextInt(140)}"))
    check(ids(150), arcs ++ (0 until 140 by 7).map(i => (s"n$i", s"n$i")) :+ (("n149", "n149")))
  }

  test("parallel edges") {
    val rnd = new scala.util.Random(2L)
    val arcs = Seq.fill(160)((s"n${rnd.nextInt(150)}", s"n${rnd.nextInt(150)}"))
    check(ids(150), arcs.flatMap(e => Seq.fill(1 + rnd.nextInt(3))(e)))
  }

  test("arcs in both directions between the same nodes") {
    val rnd = new scala.util.Random(3L)
    val pairs = Seq.fill(90)((s"n${rnd.nextInt(150)}", s"n${rnd.nextInt(150)}"))
    check(ids(150), pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) } ++
      Seq.fill(40)((s"n${rnd.nextInt(150)}", s"n${rnd.nextInt(150)}")))
  }

  test("a hub with in-, out- and two-way spokes") {
    val rnd = new scala.util.Random(4L)
    val spokes = ids(160)
    val edges = spokes.flatMap { v =>
      rnd.nextInt(3) match {
        case 0 => Seq(("hub", v))
        case 1 => Seq((v, "hub"))
        case _ => Seq(("hub", v), (v, "hub"))
      }
    } ++ Seq.fill(30)((spokes(rnd.nextInt(160)), spokes(rnd.nextInt(160))))
    check("hub" +: spokes, edges)
  }

  test("many disconnected components") {
    val rnd = new scala.util.Random(6L)
    var next = 0
    val groups = Seq.fill(50) {
      val k = 1 + rnd.nextInt(6)
      val grp = (next until next + k).map(i => s"n$i")
      next += k
      grp
    }
    val edges = groups.flatMap { grp =>
      Seq.fill(grp.size + rnd.nextInt(3))((grp(rnd.nextInt(grp.size)), grp(rnd.nextInt(grp.size))))
    }
    check(groups.flatten, edges)
  }

  test("a graph spanning two CSR partitions") {
    // two arcs per node: 132,000 contracted arcs, past EdgesPerPartition
    val n = 66000
    val edges = (0 until n).flatMap { i =>
      Seq((s"n$i", s"n${(i + 1) % n}"), (s"n$i", s"n${(i.toLong * 7919 % n).toInt}")) }
    check(ids(n), edges, all = false, csrParts = 2)
  }

  test("an empty graph and an empty start set give no rows") {
    val sp = spark
    import sp.implicits._
    val g = graph(Seq.empty, Seq.empty)
    val none = Seq.empty[String].toDF("id")
    assert(Expand.shortestPaths(g, none, None, 3).count() == 0)
    assert(Expand.varLengthExpand(g, none, None, 0, 2).count() == 0)
    assert(Expand.allShortestPathsMulti(g, none, none, None, 3).count() == 0)
    assert(BfsRdd.pointDistance(g, "a", "b", Nil, 3, Out) == -1)
  }
}
