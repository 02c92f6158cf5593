package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.search.{BM25, Hybrid, VectorSearch}
import perfbench.Checks

/** Differential tests for search: `BM25.search` against the join-based
  * `Bm25Reference` (bit for bit) and against the plain-Scala BM25 of
  * `perfbench.Checks` (within 1e-9), the exact vector top-k against
  * `Checks.cosineRanking`, and `Hybrid.rrf` against `Checks.rrf`, over
  * seeded data spread across several partitions.
  */
class SearchDiffSpec extends AnyFunSuite {
  import TestSpark._

  private val Vocab = IndexedSeq("graph", "vector", "search", "memory", "index",
    "query", "table", "spark", "node", "edge", "rank", "score", "text", "token",
    "shard", "cache", "write", "read", "plan", "join")

  /** 240 seeded documents of 1-18 words (some capitalised), two pairs of
    * identical texts (tied scores), one holding all of the 12-term query,
    * an empty and a null text.
    */
  private lazy val corpus: Seq[(String, String)] = {
    val rnd = new scala.util.Random(20261019L)
    val words = (0 until 240).map { i =>
      f"d$i%03d" -> Seq.fill(1 + rnd.nextInt(18)) {
        val w = Vocab(rnd.nextInt(Vocab.size))
        if (rnd.nextInt(5) == 0) w.capitalize else w
      }.mkString(" ")
    }
    words ++ Seq("t1" -> "graph search memory", "t2" -> "graph search memory",
      "t3" -> "spark plan", "t4" -> "spark plan",
      "t5" -> (Vocab.take(12) :+ "graph").mkString(" "), "e1" -> "", "n1" -> null)
  }

  private def docsOf(rows: Seq[(String, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }, 3),
      StructType(Seq(StructField("doc_id", StringType), StructField("text", StringType))))

  private lazy val docs = docsOf(corpus)
  /** The corpus as the CALL path indexes it: texts that are non-empty. */
  private lazy val textDocs = corpus.filter { case (_, t) => t != null && t.nonEmpty }

  private def terms(q: String): Seq[String] = q.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  private def scores(df: DataFrame): Seq[(Any, Double)] =
    df.collect().toSeq.map(r => r.get(0) -> r.getDouble(1))

  private def bits(xs: Seq[(Any, Double)]): Seq[(Any, Long)] =
    xs.map { case (id, s) => id -> java.lang.Double.doubleToRawLongBits(s) }

  private val queries = Seq(
    "graph search",
    "Graph graph SEARCH graph", // duplicate terms
    "graph zzzmissing", // a term in no document
    "zzzmissing",
    Vocab.take(12).mkString(" ")) // 12 distinct terms

  test("BM25 scores equal the join-based reference bit for bit") {
    assert(Vocab.take(12).distinct.size == 12)
    val restrict = docs.filter(col("doc_id") < "d100" || col("doc_id").startsWith("t"))
      .select("doc_id")
    for (q <- queries; r <- Seq(None, Some(restrict))) {
      val got = scores(BM25.search(docs, terms(q), 1000, r))
      val want = scores(Bm25Reference.search(docs, terms(q), 1000, r))
      assert(bits(got) == bits(want), s"query '$q', restricted: ${r.isDefined}")
      if (!q.startsWith("zzz")) assert(got.nonEmpty, s"query '$q'")
    }
    // the tied texts score alike and come back by id
    val tied = scores(BM25.search(docs, terms("spark plan"), 1000)).filter(x => x._1 == "t3" || x._1 == "t4")
    assert(tied.map(_._1) == Seq("t3", "t4") && tied(0)._2 == tied(1)._2)
  }

  test("BM25 over long doc ids equals the reference bit for bit") {
    val ds = Tables.documents(spark, sf).repartition(2)
    val ts = Seq("spark", "table", "query", "table")
    val got = scores(BM25.search(ds, ts, 100))
    assert(got.nonEmpty)
    assert(bits(got) == bits(scores(Bm25Reference.search(ds, ts, 100))))
  }

  test("BM25 scores equal perfbench's plain-Scala BM25 within 1e-9") {
    val ds = docsOf(textDocs)
    val restrictIds = textDocs.map(_._1).filter(_.endsWith("7")).toSet
    for (q <- queries) {
      val want = Checks.bm25Ranking(textDocs, q)
      val got = scores(BM25.search(ds, terms(q), 1000)).map { case (i, s) => i.toString -> s }
      assert(Checks.sameRanking(got, want, want.size).isEmpty,
        s"query '$q': ${Checks.sameRanking(got, want, want.size)}")
      // restrict applies after scoring: the reference ranking, filtered
      val r = ds.filter(col("doc_id").isin(restrictIds.toSeq: _*)).select("doc_id")
      val gotR = scores(BM25.search(ds, terms(q), 1000, Some(r))).map { case (i, s) => i.toString -> s }
      val wantR = want.filter(w => restrictIds(w._1))
      assert(Checks.sameRanking(gotR, wantR, wantR.size).isEmpty, s"query '$q' restricted")
    }
  }

  test("exact vector top-k equals perfbench's brute-force cosine ranking within 1e-9") {
    val rnd = new scala.util.Random(3L)
    val vecs = (0 until 200).map(i => f"v$i%03d" -> Array.fill(8)(rnd.nextGaussian()))
    val emb = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map { case (i, v) => Row(i, v.toSeq) }, 3),
      StructType(Seq(StructField("id", StringType), StructField("embedding", ArrayType(DoubleType)))))
    for (q <- Seq(vecs(17)._2, Array.fill(8)(rnd.nextGaussian()))) {
      val want = Checks.cosineRanking(vecs, q)
      val got = scores(VectorSearch.topKExactLit(emb, "id", "embedding", q.toSeq, 10))
        .map { case (i, s) => i.toString -> s }
      assert(Checks.sameRanking(got, want, 10).isEmpty, Checks.sameRanking(got, want, 10))
    }
  }

  /** A vector leg of `n` ids with scores on a coarse grid, so many tie. */
  private def vecLeg(ids: Seq[String], seed: Long): Seq[(String, Double)] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(ids).take(40).map(i => i -> (rnd.nextInt(8) / 8.0))
      .sortBy { case (i, s) => (-s, i) }
  }

  private def leg(rows: Seq[(Any, Double)], idType: DataType, scoreCol: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (i, s) => Row(i, s) }, 2),
      StructType(Seq(StructField("id", idType), StructField(scoreCol, DoubleType))))

  test("RRF fusion equals perfbench's Checks.rrf") {
    val text = scores(BM25.search(docs, terms("graph search memory"), 30))
      .map { case (i, s) => i.toString -> s }
    val vec = vecLeg(corpus.map(_._1), 5L)
    for (perList <- Seq(10, 20, 40)) {
      val want = Checks.rrf(text, vec, perList)
      val got = scores(Hybrid.rrf(leg(text, StringType, "score"), leg(vec, StringType, "cos_sim"),
        "id", "id", perList, 1000)).map { case (i, s) => i.toString -> s }
      assert(bits(got) == bits(want), s"perList $perList")
      // the top-k is a prefix of the fused list
      val top = scores(Hybrid.rrf(leg(text, StringType, "score"), leg(vec, StringType, "cos_sim"),
        "id", "id", perList, 7)).map { case (i, s) => i.toString -> s }
      assert(top == got.take(7))
    }
  }

  test("RRF fusion keeps long ids and orders ties by their value") {
    val rnd = new scala.util.Random(11L)
    val ids = (1L to 60L).map(_ * 7)
    def list(seed: Int) = rnd.shuffle(ids).take(25).map(i => i -> (rnd.nextInt(6) / 6.0 + seed))
      .sortBy { case (i, s) => (-s, i) }
    val (text, vec) = (list(0), list(1))
    val want = Checks.rrf(text.map { case (i, s) => i.toString -> s },
        vec.map { case (i, s) => i.toString -> s }, 20)
      .map { case (i, s) => i.toLong -> s }.sortBy { case (i, s) => (-s, i) }
    val fused = Hybrid.rrfDetailed(leg(text, LongType, "score"), leg(vec, LongType, "cos_sim"),
      "id", "id", 20, 1000)
    assert(fused.schema("id").dataType == LongType)
    val rows = fused.collect().toSeq
    assert(bits(rows.map(r => r.getLong(0) -> r.getDouble(1))) == bits(want))
    // per-leg ranks: 1-based position in the leg's top 20, 0 when absent
    val (rt, rv) = (text.take(20).map(_._1), vec.take(20).map(_._1))
    rows.foreach { r =>
      assert(r.getInt(2) == rt.indexOf(r.getLong(0)) + 1)
      assert(r.getInt(3) == rv.indexOf(r.getLong(0)) + 1)
    }
  }

  test("RRF ties between string ids follow Spark's code-point order") {
    // U+FF21 sorts before U+1F600 by code point, after it by UTF-16 unit
    val (a, b) = ("x" + 0xFF21.toChar, "x" + new String(Character.toChars(0x1F600)))
    assert(a.compareTo(b) > 0)
    val sparkOrder = spark.createDataFrame(java.util.Arrays.asList(Row(b), Row(a)),
      StructType(Seq(StructField("id", StringType)))).orderBy("id").collect().map(_.getString(0)).toSeq
    // a first in one leg, b first in the other: equal RRF scores
    val got = Hybrid.rrf(leg(Seq(a -> 1.0), StringType, "score"), leg(Seq(b -> 1.0), StringType, "cos_sim"),
      "id", "id", 10, 10).collect().map(_.getString(0)).toSeq
    assert(got == sparkOrder && got == Seq(a, b))
  }
}
