package perfbench

import java.math.RoundingMode

import scala.collection.mutable

/** Reference answers computed apart from the engine, in plain Scala, and
  * the comparisons that judge the engine's answers against them. Every
  * comparison returns `None` when the answer is right and `Some(reason)`
  * otherwise.
  */
object Checks {

  // ------------------------------------------------------------ values --

  private def num(x: Any): Option[Double] = x match {
    case n: java.lang.Number => Some(n.doubleValue)
    case n: BigDecimal => Some(n.toDouble)
    case _ => None
  }

  /** Numbers agree to 1e-9 relative (sums may be added in another order);
    * everything else must be equal.
    */
  def sameValue(a: Any, b: Any): Boolean = (num(a), num(b)) match {
    case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    case _ => a == b
  }

  /** Result rows equal the expected rows, in order. */
  def sameRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).collectFirst {
      case (x, y) if x.size != y.size || !x.zip(y).forall { case (p, q) => sameValue(p, q) } =>
        s"row ${x.mkString("(", ", ", ")")}, expected ${y.mkString("(", ", ", ")")}"
    }

  // ------------------------------------------------------------ writes --

  /** The counts a write reports (`QueryStats`), or the ledger predicts. */
  final case class Counts(nodesCreated: Long = 0, nodesDeleted: Long = 0,
      relsCreated: Long = 0, relsDeleted: Long = 0, propsSet: Long = 0)

  def sameCounts(got: Counts, want: Counts): Option[String] =
    if (got == want) None else Some(s"stats $got, expected $want")

  /** A store replayed from its WAL holds the ledger's node and edge counts. */
  def sameSize(nodes: Long, edges: Long, wantNodes: Long, wantEdges: Long): Option[String] =
    if (nodes == wantNodes && edges == wantEdges) None
    else Some(s"WAL replay holds $nodes nodes / $edges edges, the ledger $wantNodes / $wantEdges")

  // ----------------------------------------------------- ranked lists --

  /** The engine's top-k equals the reference ranking: the same length,
    * the same score at every rank, and every returned id carrying that
    * score in the reference. Ids whose scores tie may come in either order.
    */
  def sameRanking(got: Seq[(String, Double)], want: Seq[(String, Double)], k: Int,
      tol: Double = 1e-9): Option[String] = {
    val top = want.take(k)
    val wantScore = want.toMap
    if (got.size != top.size) Some(s"${got.size} hits, expected ${top.size}")
    else if (got.map(_._1).distinct.size != got.size) Some("duplicate ids in the hits")
    else got.zip(top).zipWithIndex.collectFirst {
      case (((id, s), (_, ws)), i) if math.abs(s - ws) > tol =>
        s"rank ${i + 1}: score $s for $id, expected $ws"
      case (((id, s), _), i) if !wantScore.get(id).exists(r => math.abs(r - s) <= tol) =>
        s"rank ${i + 1}: $id scores ${wantScore.get(id).map(_.toString).getOrElse("nothing")} in the reference, engine says $s"
    }
  }

  /** A memory queried with its own vector comes back first, scoring 1. */
  def ownFirst(got: Seq[(String, Double)], own: String): Option[String] =
    if (got.headOption.exists { case (id, sc) => id == own && math.abs(sc - 1.0) < 1e-9 }) None
    else Some(s"own vector of $own did not come back first with score 1")

  /** No forgotten (deleted) memory is among the hits. */
  def noneForgotten(got: Seq[String], forgotten: Set[String]): Option[String] =
    got.find(forgotten.contains).map(id => s"forgotten $id came back")

  /** Share of the reference's top-k ids the engine returned. */
  def recall(got: Seq[String], want: Seq[(String, Double)], k: Int): Double = {
    val w = want.take(k).map(_._1).toSet
    if (w.isEmpty) 1.0 else got.count(w.contains).toDouble / w.size
  }

  // ------------------------------------------------------------ vector --

  private def dec(d: Double, scale: Int): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(d)).setScale(scale, RoundingMode.HALF_UP)

  /** Σ a_i·b_i with every product rounded to 18 decimals and summed
    * exactly — the engine's documented dot-product rule.
    */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < a.length) { acc = acc.add(dec(a(i) * b(i), 18)); i += 1 }
    acc.doubleValue
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    dec(c, 12).doubleValue
  }

  /** Brute-force cosine ranking of every live vector, best first, ties by
    * id. Vectors are ranked in plain doubles; the head of the ranking is
    * then re-scored with the exact rule above, which moves scores by far
    * less than the gap between ranks.
    */
  def cosineRanking(live: Iterable[(String, Array[Double])], q: Array[Double]): Seq[(String, Double)] = {
    def plain(a: Array[Double], b: Array[Double]): Double = {
      var (ab, aa, bb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    val vecs = live.toMap
    val ranked = live.map { case (id, v) => id -> plain(v, q) }.toSeq.sortBy { case (id, s) => (-s, id) }
    val (head, tail) = ranked.splitAt(64)
    head.map { case (id, _) => id -> cosine(vecs(id), q) }.sortBy { case (id, s) => (-s, id) } ++ tail
  }

  // ------------------------------------------------------------ BM25 --

  /** BM25 (k1 = 1.2, b = 0.75) over `docs` (id, text) with the engine's
    * tokenizer (lower case, split on single spaces); each term's score is
    * rounded to 12 decimals before the per-document sum. Returns every
    * document that holds a query term, best first, ties by id.
    */
  def bm25Ranking(docs: Iterable[(String, String)], query: String): Seq[(String, Double)] = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
    val toks = docs.filter(_._2.nonEmpty).map { case (id, t) => id -> t.toLowerCase.split(" ", -1) }
    val n = toks.size.toLong
    val sumDl = toks.map(_._2.length.toLong).sum
    val tf = toks.map { case (id, ws) =>
      (id, ws.length.toLong, terms.map(t => t -> ws.count(_ == t).toLong).filter(_._2 > 0).toMap)
    }.filter(_._3.nonEmpty)
    val df = terms.map(t => t -> tf.count(_._3.contains(t)).toLong).toMap
    tf.map { case (id, dl, tfs) =>
      val s = tfs.foldLeft(java.math.BigDecimal.ZERO) { case (acc, (t, f)) =>
        val d = df(t)
        val v = math.log(1.0 + (n - d + 0.5) / (d + 0.5)) * f * 2.2 /
          (f + 1.2 * (0.25 + 0.75 * dl / (sumDl.toDouble / n)))
        acc.add(dec(v, 12))
      }
      id -> s.doubleValue
    }.toSeq.sortBy { case (id, s) => (-s, id) }
  }

  // ------------------------------------------------------------- RRF --

  /** Reciprocal-rank fusion (k = 60) of the top `perList` of each list. */
  def rrf(text: Seq[(String, Double)], vec: Seq[(String, Double)], perList: Int): Seq[(String, Double)] = {
    val rt = text.take(perList).map(_._1).zipWithIndex.toMap
    val rv = vec.take(perList).map(_._1).zipWithIndex.toMap
    (rt.keySet ++ rv.keySet).toSeq.map { id =>
      id -> (rt.get(id).map(r => 1.0 / (60 + r + 1)).getOrElse(0.0) +
        rv.get(id).map(r => 1.0 / (60 + r + 1)).getOrElse(0.0))
    }.sortBy { case (id, s) => (-s, id) }
  }

  // ----------------------------------------------------------- graphs --

  /** Weakly connected components by union-find: node -> representative. */
  def components(nodes: Iterable[String], edges: Iterable[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap[String, String]()
    nodes.foreach(n => parent(n) = n)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** The engine's component labels induce exactly the reference partition. */
  def samePartition(got: Map[String, String], want: Map[String, String]): Option[String] =
    if (got.keySet != want.keySet)
      Some(s"${got.size} labelled nodes, expected ${want.size}")
    else {
      val g2w = mutable.HashMap[String, String]()
      val w2g = mutable.HashMap[String, String]()
      got.collectFirst {
        case (n, gl) if g2w.getOrElseUpdate(gl, want(n)) != want(n) ||
            w2g.getOrElseUpdate(want(n), gl) != gl =>
          s"node $n: component $gl does not match the union-find partition"
      }
    }

  /** PageRank by power iteration: r0 = 1, r <- 0.15 + 0.85 * sum r(src)/outdeg(src). */
  def pageRank(nodes: Seq[String], edges: Seq[(String, String)], iters: Int): Map[String, Double] = {
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    var r = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val s = mutable.HashMap[String, Double]().withDefaultValue(0.0)
      edges.foreach { case (a, b) => s(b) += r(a) / outdeg(a) }
      r = nodes.map(n => n -> (0.15 + 0.85 * s(n))).toMap
    }
    r
  }

  def sameRanks(got: Map[String, Double], want: Map[String, Double], tol: Double = 1e-6): Option[String] =
    if (got.keySet != want.keySet) Some(s"${got.size} ranked nodes, expected ${want.size}")
    else got.collectFirst {
      case (n, v) if math.abs(v - want(n)) > tol * math.max(1.0, math.abs(want(n))) =>
        s"node $n: rank $v, expected ${want(n)}"
    }

  /** Every label is the id of a node in the labelled node's component. */
  def labelsInComponent(labels: Map[String, String], comp: Map[String, String]): Option[String] =
    labels.collectFirst {
      case (n, l) if !comp.contains(n) => s"node $n is not in the graph"
      case (n, l) if !comp.get(l).contains(comp(n)) =>
        s"node $n has label $l, which is not a node of its component"
    }

  /** Modularity of a partition of the undirected weighted graph. */
  def modularity(edges: Seq[(String, String, Double)], part: String => String): Double = {
    val m = edges.map(_._3).sum
    val tot = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    var in = 0.0
    edges.foreach { case (a, b, w) =>
      val (ca, cb) = (part(a), part(b))
      if (ca == cb) in += w
      tot(ca) += w; tot(cb) += w
    }
    in / m - tot.values.map(t => math.pow(t / (2 * m), 2)).sum
  }

  /** Every node of the graph has a community. */
  def everyNodePlaced(edges: Seq[(String, String, Double)], part: Map[String, String]): Option[String] = {
    val missing = edges.iterator.flatMap(e => Iterator(e._1, e._2)).filterNot(part.contains).toSet
    if (missing.isEmpty) None else Some(s"${missing.size} nodes without a community")
  }

  /** A community partition of every node must beat the all-singletons
    * partition.
    */
  def beatsSingletons(edges: Seq[(String, String, Double)], part: Map[String, String]): Option[String] =
    everyNodePlaced(edges, part).orElse {
      val q = modularity(edges, part)
      val q0 = modularity(edges, identity)
      if (q > q0) None else Some(s"modularity $q is not above the singleton partition's $q0")
    }
}
