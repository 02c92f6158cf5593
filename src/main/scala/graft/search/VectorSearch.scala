package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** Vector similarity search over an `embedding ARRAY<FLOAT>` column.
  *
  * Three tiers (SURVEY §2.11 `db.index.vector.queryNodes`,
  * `/root/reference/pkg/cypher/call_vector.go:35`):
  *  - [[bruteTopK]] — one codegen'd pass, the correctness baseline and the
  *    honest small-k answer (the reference's own fallback path).
  *  - [[bruteTopKExact]] — same ranking but with DECIMAL-routed accumulation
  *    so scores hash-match a SQL oracle bit-for-bit.
  *  - [[lshBuckets]]/[[annTopK]] — random-hyperplane LSH: candidates share a
  *    signature bucket, so at 100 TB the probe touches one bucket's
  *    partitions instead of the full table (the scale path; the reference
  *    uses single-node HNSW, which does not distribute).
  */
object VectorSearch {

  /** Fast brute-force cosine top-k (whole-stage-codegen HOFs). */
  def bruteTopK(emb: DataFrame, queryVec: DataFrame, k: Int): DataFrame =
    emb.crossJoin(broadcast(queryVec.select(col("embedding").as("q"))))
      .withColumn("cos_sim", VectorFns.cosineCol(col("embedding"), col("q")))
      .select("vec_id", "cos_sim")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)

  /** Σ over zip_with products routed through DECIMAL(38,18) — exact. */
  private[graft] def dotDec(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast("decimal(38,18)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(38,18)"),
      // decimal addition widens precision; pin the accumulator type
      (acc, x) => (acc + x).cast("decimal(38,18)")).cast("double")

  /** Oracle-exact brute-force cosine top-k, excluding the query row. */
  def bruteTopKExact(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .withColumn("dot", dotDec(col("embedding"), col("qe")))
      .withColumn("na2", dotDec(col("embedding"), col("embedding")))
      .withColumn("nb2", dotDec(col("qe"), col("qe")))
      .withColumn("cos_sim", round(col("dot") / (sqrt(col("na2")) * sqrt(col("nb2"))), 12))
      .select("vec_id", "cos_sim")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Σ over zip_with squared differences routed through DECIMAL — exact. */
  private def sqDistDec(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val diff = x.cast("double") - y.cast("double")
        (diff * diff).cast("decimal(38,18)")
      }),
      lit(java.math.BigDecimal.ZERO).cast("decimal(38,18)"),
      (acc, x) => (acc + x).cast("decimal(38,18)")).cast("double")

  /** Metric-parameterized exact top-k — the reference's per-index
    * `SimilarityFunc` switch (`pkg/storage/schema.go:311`,
    * `pkg/cypher/call_vector.go:227-234`): cosine, raw dot product, or
    * euclidean similarity `1/(1+distance)`
    * (`pkg/math/vector/similarity.go:152`). Same DECIMAL routing so each
    * metric replays bit-for-bit in SQL.
    */
  def bruteTopKMetric(emb: DataFrame, queryId: Long, k: Int,
      metric: String): DataFrame = {
    val q = emb.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    val base = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= queryId)
    val score = metric match {
      case "dot" => round(dotDec(col("embedding"), col("qe")), 12)
      case "euclidean" =>
        round(lit(1.0) / (lit(1.0) + sqrt(sqDistDec(col("embedding"), col("qe")))), 12)
      case _ =>
        round(dotDec(col("embedding"), col("qe")) /
          (sqrt(dotDec(col("embedding"), col("embedding"))) *
            sqrt(dotDec(col("qe"), col("qe")))), 12)
    }
    base.withColumn("score", score)
      .select("vec_id", "score")
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** DuckDB replay of [[bruteTopKMetric]]. */
  def bruteTopKMetricOracle(queryId: Long, k: Int, dim: Int,
      metric: String): String = {
    val scoreSql = metric match {
      case "dot" => "round(dot, 12)"
      case "euclidean" => "round(1.0 / (1.0 + sqrt(sq)), 12)"
      case _ => "round(dot / (sqrt(na2) * sqrt(nb2)), 12)"
    }
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryId),
        comp AS (
          SELECT e.vec_id,
            CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS dot,
            CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS na2,
            CAST(SUM(CAST(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS nb2,
            CAST(SUM(CAST((CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))
              * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) AS sq
          FROM embeddings e CROSS JOIN q CROSS JOIN generate_series(1, $dim) t(i)
          WHERE e.vec_id <> $queryId
          GROUP BY e.vec_id)
        SELECT vec_id, $scoreSql AS score
        FROM comp ORDER BY score DESC, vec_id LIMIT $k"""
  }

  /** Oracle-exact cosine top-k against a LITERAL query vector — the
    * `db.index.vector.queryNodes('idx', k, $vec)` engine
    * (`call_vector.go:35`): the query vector arrives as a CALL argument,
    * not a row of the table. Output is the procedure's (node, score)
    * shape. Same DECIMAL routing as [[bruteTopKExact]] so a SQL oracle
    * replays scores bit-for-bit.
    */
  def topKExactLit(emb: DataFrame, idCol: String, embCol: String,
      qv: Seq[Double], k: Int): DataFrame = {
    val qe = array(qv.map(lit): _*)
    emb
      .withColumn("dot", dotDec(col(embCol), qe))
      .withColumn("na2", dotDec(col(embCol), col(embCol)))
      .withColumn("nb2", dotDec(qe, qe))
      .withColumn("score", round(col("dot") / (sqrt(col("na2")) * sqrt(col("nb2"))), 12))
      .select(col(idCol).as("node"), col("score"))
      .orderBy(col("score").desc, col("node").asc)
      .limit(k)
  }

  def bruteTopKExactOracle(queryId: Long, k: Int, dim: Int): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryId),
        comp AS (
          SELECT e.vec_id,
            CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS dot,
            CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS na2,
            CAST(SUM(CAST(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS nb2
          FROM embeddings e CROSS JOIN q CROSS JOIN generate_series(1, $dim) t(i)
          WHERE e.vec_id <> $queryId
          GROUP BY e.vec_id)
        SELECT vec_id, round(dot / (sqrt(na2) * sqrt(nb2)), 12) AS cos_sim
        FROM comp ORDER BY cos_sim DESC, vec_id LIMIT $k"""

  /** Full SQL replay of a TEXT query through [[topKExactLit]]: the
    * [[graft.functions.TextEmbed]] hash-projection (FNV-1a fold per
    * token → parity-signed bucket counts → l2-normalize, every float op
    * in the same order) followed by the DECIMAL-routed cosine top-k.
    * ASCII query texts only (the SQL fold hashes characters by
    * codepoint, the Scala impl by UTF-8 byte — identical below 0x80).
    */
  def textTopKOracle(query: String, k: Int, dim: Int): String =
    s"""WITH toks AS (SELECT unnest(string_split(lower('$query'), ' ')) AS t),
        hv AS (SELECT list_reduce(list_prepend(CAST(14695981039346656037 AS UBIGINT),
                 list_transform(string_split(t, ''), c -> CAST(ord(c) AS UBIGINT))),
                 (h, c) -> CAST(CAST(xor(h, c) AS HUGEINT) * 1099511628211
                   % CAST(18446744073709551616 AS HUGEINT) AS UBIGINT)) AS u
               FROM toks WHERE t <> ''),
        contrib AS (SELECT
            ((CAST(CASE WHEN u >= 9223372036854775808
                THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
                ELSE CAST(u AS BIGINT) END AS BIGINT) % $dim) + $dim) % $dim AS b,
            CASE WHEN u % 2 = 0 THEN CAST(1.0 AS DOUBLE)
                 ELSE CAST(-1.0 AS DOUBLE) END AS s
          FROM hv),
        dims AS (SELECT unnest(generate_series(0, ${dim - 1})) AS d),
        raw AS (SELECT d, COALESCE(SUM(s), CAST(0.0 AS DOUBLE)) AS x
                FROM dims LEFT JOIN contrib ON contrib.b = dims.d GROUP BY d),
        vl AS (SELECT list(x ORDER BY d) AS v FROM raw),
        nr AS (SELECT v, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(v, x -> x * x)), (a, b) -> a + b)) AS n FROM vl),
        q AS (SELECT CASE WHEN n > 0 THEN list_transform(v, x -> x / n)
                     ELSE v END AS qe FROM nr),
        comp AS (
          SELECT e.vec_id,
            CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * q.qe[i] AS DECIMAL(38,18))) AS DOUBLE) AS dot,
            CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS na2,
            CAST(SUM(CAST(q.qe[i] * q.qe[i] AS DECIMAL(38,18))) AS DOUBLE) AS nb2
          FROM embeddings e CROSS JOIN q CROSS JOIN generate_series(1, $dim) t(i)
          GROUP BY e.vec_id)
        SELECT vec_id, round(dot / (sqrt(na2) * sqrt(nb2)), 12) AS cos_sim
        FROM comp ORDER BY cos_sim DESC, vec_id LIMIT $k"""

  /** nBits-bit signature string for hash table `table`:
    * char_p = sign(Σ_i v_i · plane_{t,p,i}). One codegen'd JVM loop
    * ([[graft.functions.LshSignatureExpr]]) — bit-identical to the SQL
    * oracle's `list_reduce` fold but without nBits × dim interpreted
    * lambda evaluations per row.
    */
  private def bucketExpr(table: Int, nBits: Int, dim: Int): Column =
    call_function("graft_lsh_sig", col("embedding"), lit(table), lit(nBits), lit(dim))

  /** Single-table signature (kept for inspection/tests). */
  def lshBuckets(emb: DataFrame, nBits: Int, dim: Int = 64): DataFrame = {
    graft.functions.HashExprs.ensure(emb.sparkSession)
    emb.withColumn("bucket", bucketExpr(0, nBits, dim))
  }

  /** (vec_id, embedding, tbl, bucket) — one row per hash table. This is the
    * batch-built distributed "index": written bucketed-by (tbl, bucket), a
    * probe touches only matching buckets (OR-construction over nTables
    * tables trades candidate count for recall, AND-over-bits for precision).
    */
  def lshIndex(emb: DataFrame, nBits: Int, nTables: Int, dim: Int = 64): DataFrame = {
    graft.functions.HashExprs.ensure(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding"),
      explode(array((0 until nTables).map(t =>
        struct(lit(t).as("tbl"), bucketExpr(t, nBits, dim).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** IVF (inverted-file) index: an MLlib KMeans coarse quantizer assigns
    * every vector to one of `nLists` lists (SURVEY §4 "SIMD/GPU batch
    * similarity" — the reference's k-means candidate generator,
    * `pkg/search/kmeans_candidate_gen.go`, as a distributed batch build).
    * At 100 TB the assigned table is written partitioned by `list_id`, so
    * a probe scans nProbe/nLists of the data. Deterministic: fixed seed.
    * Returns (assigned: vec_id, embedding, list_id; centroids: list_id,
    * centroid ARRAY<DOUBLE>).
    */
  def ivfIndex(emb: DataFrame, nLists: Int, maxIter: Int = 10): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = emb.select(col("vec_id"), col("embedding"),
      array_to_vector(transform(col("embedding"), x => x.cast("double"))).as("features"))
    val model = new KMeans().setK(nLists).setSeed(42).setMaxIter(maxIter)
      .setFeaturesCol("features").setPredictionCol("list_id")
      .fit(feat)
    val assigned = model.transform(feat).select(col("vec_id"), col("embedding"), col("list_id"))
    val spark = emb.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray.toSeq) }.toSeq
      .toDF("list_id", "centroid")
    (assigned, centroids)
  }

  /** IVF top-k: score only the vectors in the `nProbe` lists whose
    * centroids are closest to the query. nProbe == nLists degenerates to
    * exact brute force (asserted in SearchPipelineSpec).
    */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int, nLists: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val (assigned, centroids) = ivfIndex(emb, nLists)
    val q = emb.filter(col("vec_id") === queryId).select(col("embedding").as("q"))
    val probe = centroids.crossJoin(broadcast(q))
      .withColumn("csim", VectorFns.cosineCol(
        transform(col("centroid"), x => x.cast("float")), col("q")))
      .orderBy(col("csim").desc, col("list_id").asc)
      .limit(nProbe)
      .select("list_id")
    assigned.join(broadcast(probe), "list_id")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", VectorFns.cosineCol(col("embedding"), col("q")))
      .select("vec_id", "cos_sim")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** ANN top-k: candidates share a bucket with the query in ANY table.
    *
    * The signature frame is CACHED for the duration of the probe (it is
    * referenced on both the query side and the candidate side of the
    * bucket join — uncached, the whole signature pass re-runs per use) and
    * unpersisted before returning; the ≤k result rows are materialized
    * locally (bounded point-query procedure, like the CALL surface).
    */
  def annTopK(emb: DataFrame, queryId: Long, k: Int, nBits: Int = 8,
      nTables: Int = 4, dim: Int = 64): DataFrame = {
    require(k <= 10000, s"annTopK is a point-query procedure; k=$k > 10000")
    val spark = emb.sparkSession
    val index = lshIndex(emb, nBits, nTables, dim).cache()
    try {
      val qRows = index.filter(col("vec_id") === queryId)
        .select(col("embedding").as("q"), col("tbl").as("qt"), col("bucket").as("qb"))
      val candidates = index
        .join(broadcast(qRows), col("tbl") === col("qt") && col("bucket") === col("qb"))
        .filter(col("vec_id") =!= queryId)
        .select("vec_id", "embedding", "q")
        .dropDuplicates("vec_id")
      // DECIMAL-routed verify scores (rounded 12) so the bucket replay +
      // rerank hash-matches the SQL oracle below
      val scored = candidates
        .withColumn("cos_sim", round(dotDec(col("embedding"), col("q")) /
          (sqrt(dotDec(col("embedding"), col("embedding"))) *
            sqrt(dotDec(col("q"), col("q")))), 12))
        .select("vec_id", "cos_sim")
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(k)
      val rows = scored.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), scored.schema)
    } finally index.unpersist()
  }

  /** Full SQL replay of [[annTopK]]: same md5-integer planes, bucket
    * match against the query's buckets, DECIMAL cosine rerank, top-k.
    */
  def annLshOracle(queryId: Long, k: Int, nBits: Int, nTables: Int, dim: Int): String = {
    def bucketSql(t: Int): String = (0 until nBits).map { p =>
      val plane = (0 until dim).map(j =>
        graft.operators.Dedup.lshPlaneComponent(t, p, j).toDouble).mkString("[", ",", "]")
      s"""(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, $dim),
              i -> CAST(embedding[i] AS DOUBLE) * ($plane::DOUBLE[])[i])),
            (acc, x) -> acc + x) >= 0 THEN '1' ELSE '0' END)"""
    }.mkString(" || ")
    val unions = (0 until nTables).map(t =>
      s"SELECT vec_id, $t AS tbl, ${bucketSql(t)} AS bkt FROM embeddings").mkString("\nUNION ALL\n")
    s"""WITH buck AS ($unions),
        qb AS (SELECT tbl, bkt FROM buck WHERE vec_id = $queryId),
        cand AS (SELECT DISTINCT b.vec_id FROM buck b JOIN qb USING (tbl, bkt)
                 WHERE b.vec_id <> $queryId),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryId),
        comp AS (
          SELECT c.vec_id,
            CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS dot,
            CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS na2,
            CAST(SUM(CAST(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS nb2
          FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
          CROSS JOIN q CROSS JOIN generate_series(1, $dim) t(i)
          GROUP BY c.vec_id)
        SELECT vec_id, round(dot / (sqrt(na2) * sqrt(nb2)), 12) AS cos_sim
        FROM comp ORDER BY cos_sim DESC, vec_id LIMIT $k"""
  }
}
