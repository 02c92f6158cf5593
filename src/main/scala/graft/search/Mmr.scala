package graft.search

import java.math.{BigDecimal => JBig, RoundingMode}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Maximal Marginal Relevance diversification — the hybrid-search
  * post-stage (`/root/reference/pkg/search/search.go:1544-1624`
  * `applyMMR`): greedily pick the candidate maximizing
  * `λ·relevance − (1−λ)·maxSimToSelected`, where maxSim floors at 0
  * (negative cosines don't reward redundancy) and ties keep the first
  * candidate in ranked order (the Go loop's strict `>`).
  *
  * The candidate list is the top-N of an RRF fusion — bounded by
  * construction (the reference iterates a slice in memory) — so the greedy
  * runs on the driver over a capped collect, like the A-star/procedure point
  * queries; a loud `require` guards the cap. Cosines route every product
  * through DECIMAL(38,18) (exact sums, same as the vector-search oracles)
  * so the whole selection replays deterministically in SQL.
  */
object Mmr {

  /** Exact cosine: each product rounded to 18 dp (Spark's
    * double→DECIMAL(38,18) cast), summed exactly, then one double
    * division — bit-identical to the SQL `CAST(SUM(CAST(x*y AS
    * DECIMAL(38,18))) AS DOUBLE)` form.
    */
  private def decSum(a: Array[Double], b: Array[Double]): Double = {
    var acc = JBig.ZERO
    var i = 0
    while (i < a.length) {
      acc = acc.add(JBig.valueOf(a(i) * b(i)).setScale(18, RoundingMode.HALF_UP))
      i += 1
    }
    acc.doubleValue
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double =
    decSum(a, b) / (math.sqrt(decSum(a, a)) * math.sqrt(decSum(b, b)))

  /** Hard cap on the MMR candidate set: the greedy selection is
    * inherently sequential, so candidates materialize on the driver —
    * callers must bound their RRF top-N to this (validated EARLY on the
    * CALL surface, `SearchCallProcs` hybrid options).
    */
  val MaxCandidates = 10000

  /** Select `limit` diversified results from `candidates`
    * (id, rel: double, embedding: array<float|double>), ranked by
    * (rel desc, id asc) like the RRF stage emits them; the result's `id`
    * keeps the candidates' id type (a long vector id or a string node id).
    * λ ≥ 1 → no diversification (reference early-return).
    */
  def select(candidates: DataFrame, limit: Int, lambda: Double,
      maxCandidates: Int = MaxCandidates): DataFrame = {
    val spark = candidates.sparkSession
    if (lambda >= 1.0)
      return candidates.orderBy(col("rel").desc, col("id").asc).limit(limit)
        .withColumn("mmr_rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("rel").desc, col("id").asc)))
        .select("mmr_rank", "id", "rel")

    val rows = candidates
      .select(col("id"), col("rel").cast("double"),
        col("embedding").cast(ArrayType(DoubleType)))
      .orderBy(col("rel").desc, col("id").asc)
      .limit(maxCandidates + 1)
      .collect()
    require(rows.length <= maxCandidates,
      s"MMR candidate set exceeds cap $maxCandidates — narrow the RRF top-N")

    final case class Cand(id: Any, rel: Double, emb: Array[Double])
    val cands = rows.map(r => Cand(r.get(0), r.getDouble(1),
      Option(r.getSeq[Double](2)).map(_.toArray).orNull)).toBuffer

    val selected = scala.collection.mutable.ArrayBuffer.empty[Cand]
    while (selected.length < limit && cands.nonEmpty) {
      var bestIdx = -1
      var bestMmr = Double.NegativeInfinity
      var i = 0
      while (i < cands.length) {
        val c = cands(i)
        var maxSim = 0.0 // floor at 0, like the Go accumulator
        if (c.emb != null && selected.nonEmpty) {
          selected.foreach { s =>
            if (s.emb != null) {
              val sim = cosine(c.emb, s.emb)
              if (sim > maxSim) maxSim = sim
            }
          }
        }
        val mmr = lambda * c.rel - (1 - lambda) * maxSim
        if (mmr > bestMmr) { bestMmr = mmr; bestIdx = i }
        i += 1
      }
      // All-NaN scores leave bestIdx at -1; stop like the reference loop
      // does (search.go:1616-1622) instead of removing index -1.
      if (bestIdx < 0) {
        cands.clear()
      } else {
        selected += cands.remove(bestIdx)
      }
    }

    val out = selected.zipWithIndex.map { case (c, i) =>
      Row(i + 1, c.id, c.rel)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1),
      StructType(Seq(StructField("mmr_rank", IntegerType, false),
        StructField("id", candidates.schema("id").dataType, false),
        StructField("rel", DoubleType, false))))
  }

  /** Unrolled-step DuckDB replay of [[select]] over embeddings
    * `vec_id < n` with rel = 1/(60+vec_id): pairwise DECIMAL cosines,
    * then `limit` chained argmax CTEs (recursive-free — each step's
    * ORDER BY mmr DESC, ord ASC LIMIT 1 is the Go loop's first-best).
    */
  def selectOracle(n: Int, limit: Int, lambda: Double, dim: Int): String = {
    val steps = (1 to limit).map { k =>
      val prev =
        if (k == 1) "SELECT NULL::BIGINT AS id WHERE false"
        else (1 until k).map(j => s"SELECT id FROM p$j").mkString(" UNION ALL ")
      s"""p$k AS MATERIALIZED (
            SELECT o.id, o.rel FROM ord o
            WHERE o.id NOT IN (SELECT id FROM ($prev))
            ORDER BY $lambda * o.rel - ${1 - lambda} * GREATEST(0.0,
              COALESCE((SELECT max(s.sim) FROM sims s
                        WHERE s.ia = o.id AND s.ib IN (SELECT id FROM ($prev))), 0.0)) DESC,
              o.ord
            LIMIT 1)"""
    }.mkString(",\n")
    val out = (1 to limit)
      .map(k => s"SELECT $k AS mmr_rank, id, rel FROM p$k")
      .mkString(" UNION ALL ")
    s"""WITH cand AS MATERIALIZED (
          SELECT vec_id AS id, 1.0 / (60 + vec_id) AS rel, embedding
          FROM embeddings WHERE vec_id < $n),
        ord AS MATERIALIZED (
          SELECT id, rel, row_number() OVER (ORDER BY rel DESC, id) AS ord
          FROM cand),
        comp AS MATERIALIZED (
          SELECT x.id AS ia, y.id AS ib,
            CAST(SUM(CAST(CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS dot,
            CAST(SUM(CAST(CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS na,
            CAST(SUM(CAST(CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS nb
          FROM cand x JOIN cand y ON x.id <> y.id
          CROSS JOIN generate_series(1, $dim) t(i)
          GROUP BY x.id, y.id),
        sims AS MATERIALIZED (SELECT ia, ib, dot / (sqrt(na) * sqrt(nb)) AS sim FROM comp),
        $steps
        $out"""
  }
}
