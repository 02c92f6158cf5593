package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 fulltext scoring in one tokenize-and-count exchange.
  *
  * Re-expresses the reference's in-memory inverted index
  * (`/root/reference/pkg/search/fulltext_index.go:12-18,125-230`,
  * k1=1.2 b=0.75) as DataFrames. The text is tokenized once, and one
  * `groupBy(doc_id)` gives each document its length `dl` and the count of
  * each distinct query term. The corpus stats (`n_docs`, `sum_dl`, each
  * term's `df`) are a global aggregate over that same per-document frame,
  * so the plan shuffles the tokens once and reuses that exchange; the
  * one-row stats are broadcast to the scoring side.
  *
  * All floating-point constants appear as identical literals on the DuckDB
  * oracle side, and per-term scores are summed through DECIMAL(28,12), so
  * scores are bit-stable across engines.
  */
object BM25 {

  /** (doc_id, term) token stream — lowercase, whitespace split. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))

  /** Top-k docs for a bag-of-words query. `restrict` (single `doc_id`
    * column) optionally limits RESULTS to a candidate set — applied after
    * scoring, so idf/avgdl stay corpus-global like the reference's one
    * shared inverted index with post-hoc candidate filtering
    * (`search.go:1351` filterCandidatesByType).
    */
  def search(docs: DataFrame, terms: Seq[String], k: Int,
      restrict: Option[DataFrame] = None): DataFrame = {
    val qs = terms.distinct.zipWithIndex
    val tfs = qs.map { case (t, i) => count(when(col("term") === t, 1)).as(s"tf$i") }
    val dfs = qs.map { case (_, i) => count(when(col(s"tf$i") > 0, 1)).as(s"df$i") }
    // The not-null filter sits on the tokens, so the stats and the scoring
    // branch both carry it. A doc_id filter placed later, by hand or
    // inferred from the `restrict` semi-join, would reach only the scoring
    // branch's scan; the two exchanges would differ and the tokens would
    // shuffle twice.
    val perDoc = tokens(docs).filter(col("doc_id").isNotNull)
      .groupBy("doc_id").agg(count(lit(1)).as("dl"), tfs: _*)
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl") +: dfs: _*)

    // one term's score; null where the document lacks the term, so the
    // sum below adds exactly the (doc, term) pairs that occur. The sum is
    // an aggregate: a chain of DECIMAL(28,12) `+` loses scale past 11 terms.
    def s(i: Int): Column = {
      val (tf, df) = (col(s"tf$i"), col(s"df$i"))
      when(tf > 0,
        log(lit(1.0) + (col("n_docs") - df + 0.5) / (df + 0.5)) *
          tf * 2.2 /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") /
            (col("sum_dl").cast("double") / col("n_docs")))))
    }

    val scored = perDoc.filter(qs.map { case (_, i) => col(s"tf$i") > 0 }.foldLeft(lit(false))(_ || _))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), explode(array(qs.map { case (_, i) => s(i) }: _*)).as("s"))
      .groupBy("doc_id")
      .agg(sum(col("s").cast("decimal(28,12)")).cast("double").as("score"))
    restrict.fold(scored)(r => scored.join(r, Seq("doc_id"), "left_semi"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The oracle-side SQL for the same computation (kept adjacent so the
    * formula literals stay in sync). `terms` must be plain words. */
  def oracleSql(terms: Seq[String], k: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(",")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
               WHERE term IN ($inList) GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        scored AS (
          SELECT tf.doc_id,
                 ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
                   (tf + 1.2 * (0.25 + 0.75 * dl /
                     (CAST(sum_dl AS DOUBLE) / n_docs))) AS s
          FROM tf JOIN dfreq USING(term) JOIN dl USING(doc_id) CROSS JOIN stats)
        SELECT doc_id, CAST(SUM(CAST(s AS DECIMAL(28,12))) AS DOUBLE) AS score
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT $k"""
  }
}
