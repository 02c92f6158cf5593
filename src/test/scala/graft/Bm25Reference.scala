package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.search.BM25

/** BM25 as a posting-list join + aggregate pipeline: the differential
  * reference for `BM25.search`.
  *
  * Four passes over the token stream: document lengths, corpus stats,
  * per-(doc, term) counts and per-term document frequencies, joined back
  * on term and doc_id, then summed per document through DECIMAL(28,12) —
  * the same formula literals as `BM25.oracleSql`.
  */
object Bm25Reference {

  def search(docs: DataFrame, terms: Seq[String], k: Int,
      restrict: Option[DataFrame] = None): DataFrame = {
    val toks = BM25.tokens(docs)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))

    val s: Column =
      log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
        col("tf") * 2.2 /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") /
          (col("sum_dl").cast("double") / col("n_docs"))))

    val scored = tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("s", s)
      .groupBy("doc_id")
      .agg(sum(col("s").cast("decimal(28,12)")).cast("double").as("score"))
    restrict.fold(scored)(r => scored.join(r, Seq("doc_id"), "left_semi"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }
}
