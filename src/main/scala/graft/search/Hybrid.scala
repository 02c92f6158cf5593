package graft.search

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Reciprocal-rank-fusion hybrid search: fuse a BM25 ranking and a vector
  * ranking with `score = Σ w / (k + rank)`, k=60 — the reference's
  * `rrfHybridSearch` (`/root/reference/pkg/search/search.go:890`, constant
  * at `search.go:44`). Each leg is ranked where it runs and only its top
  * `perList` ids are collected (one bounded top-k each); the two lists are
  * fused in memory on the driver, as the reference fuses them, and come
  * back as a local relation, so reading the fused rows launches no job.
  */
object Hybrid {

  val RrfK = 60

  /** A leg's top `n` ids, best first — (score desc, id asc) in Spark's
    * ordering — and the id column's type.
    */
  private def topIds(df: DataFrame, idCol: String, scoreCol: String,
      n: Int): (DataType, Array[Any]) = {
    val top = df.orderBy(col(scoreCol).desc, col(idCol).asc).limit(n).select(col(idCol))
    (top.schema.head.dataType, top.collect().map(_.get(0)))
  }

  /** Spark's ascending order for an id column: nulls first, strings by
    * code point (the byte order of `UTF8String`), longs by value.
    */
  private def idOrdering(dt: DataType): Ordering[Any] = {
    val ord: Ordering[Any] = dt match {
      case StringType => (x, y) => UTF8String.fromString(x.asInstanceOf[String])
        .binaryCompare(UTF8String.fromString(y.asInstanceOf[String]))
      case LongType => Ordering.by[Any, Long](_.asInstanceOf[Long])
      case other => throw new IllegalArgumentException(s"RRF fuses string or long ids, not $other")
    }
    Ordering.by[Any, Option[Any]](Option(_))(Ordering.Option(ord))
  }

  /** Fuse two ranked lists into the RRF top-k, with per-leg rank
    * diagnostics (the SearchHit explainability fields,
    * nornicdb_search.proto: rrf_score / vector_rank / bm25_rank; 0 =
    * absent from that leg): `rrf = w_text/(K+rank_text) +
    * w_vec/(K+rank_vec)` — weighted RRF per the reference's
    * VectorWeight/BM25Weight options (`search.go:169-171`; both default
    * 1.0). Columns (id, rrf, bm25_rank, vector_rank), ordered by
    * (rrf desc, id asc); the id keeps its column's type.
    */
  def rrfDetailed(bm25: DataFrame, vec: DataFrame, idColA: String,
      idColB: String, perList: Int, k: Int, wText: Double = 1.0,
      wVec: Double = 1.0): DataFrame = {
    val (typeA, text) = topIds(bm25, idColA, "score", perList)
    val (typeB, vecIds) = topIds(vec, idColB, "cos_sim", perList)
    require(typeA == typeB, s"RRF legs carry $typeA and $typeB ids")
    // rank = position in the leg, 1-based; a repeated id keeps its best
    def ranks(ids: Array[Any]): Map[Any, Int] =
      ids.zipWithIndex.reverseIterator.map { case (id, i) => id -> (i + 1) }.toMap
    val (rankText, rankVec) = (ranks(text), ranks(vecIds))
    val idOrder = idOrdering(typeA)
    val fused = (text ++ vecIds).distinct.map { id =>
      val (rt, rv) = (rankText.getOrElse(id, 0), rankVec.getOrElse(id, 0))
      (id, (if (rt > 0) wText / (RrfK + rt) else 0.0) +
        (if (rv > 0) wVec / (RrfK + rv) else 0.0), rt, rv)
    }.sortWith { case ((ia, sa, _, _), (ib, sb, _, _)) =>
      // Spark's double order: -0.0 equals 0.0, NaN is the largest
      val c = if (sa == sb) 0 else java.lang.Double.compare(sb, sa)
      if (c != 0) c < 0 else idOrder.lt(ia, ib)
    }.take(k)
    val schema = StructType(Seq(StructField("id", typeA),
      StructField("rrf", DoubleType, nullable = false),
      StructField("bm25_rank", IntegerType, nullable = false),
      StructField("vector_rank", IntegerType, nullable = false)))
    bm25.sparkSession.createDataFrame(
      java.util.Arrays.asList(fused.map { case (id, s, rt, rv) => Row(id, s, rt, rv) }: _*),
      schema)
  }

  /** [[rrfDetailed]] without the per-leg ranks: (id, rrf). */
  def rrf(bm25: DataFrame, vec: DataFrame, idColA: String, idColB: String,
      perList: Int, k: Int, wText: Double = 1.0, wVec: Double = 1.0): DataFrame =
    rrfDetailed(bm25, vec, idColA, idColB, perList, k, wText, wVec).select("id", "rrf")

  /** Query-shape-adaptive (vectorWeight, bm25Weight) — the reference's
    * `GetAdaptiveRRFConfig` (`search.go:2081`): short queries (≤2 words)
    * lack context so keywords are more reliable (0.5/1.5); long queries
    * (≥6 words) carry semantic intent (1.5/0.5); medium stay balanced
    * (1.0/1.0).
    */
  def adaptiveWeights(query: String): (Double, Double) = {
    val words = query.trim.split("\\s+").count(_.nonEmpty)
    if (words <= 2) (0.5, 1.5)
    else if (words >= 6) (1.5, 0.5)
    else (1.0, 1.0)
  }
}
