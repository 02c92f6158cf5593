package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph

/** Label propagation as per-round DataFrame joins: the differential
  * reference for `GraphXAlgos.labelPropagation` (the CSR kernel).
  *
  * Synchronous rounds: each node adopts the label with the highest
  * (weight-summed, or multiplicity-counted) vote among its undirected
  * neighbours, ties broken by the LARGEST label (`max(struct(w, label))`
  * compares the label after the weight). Labels start as the node's own
  * id. Only endpoints of the projected edges are labelled: an isolated
  * node gets no row here, where the kernel over the full graph labels it
  * with its own id.
  */
object LpaReference {

  def labelPropagation(g: PropertyGraph, iters: Int,
      relType: Option[String] = None, weighted: Boolean = false): DataFrame = {
    val es = relType.map(g.edgesByType).getOrElse(g.edges)
    // pre-aggregate parallel edges once: every iteration then tallies over
    // the contracted multigraph (same votes: weight-sum / multiplicity)
    val und = es.select(col("src").as("a"), col("dst").as("b"), col("weight"))
      .union(es.select(col("dst").as("a"), col("src").as("b"), col("weight")))
      .groupBy("a", "b")
      .agg((if (weighted) sum("weight") else count(lit(1)).cast("double")).as("ew"))
      .cache()
    val nodeIds = und.select(col("a").as("id")).distinct()

    var labels = nodeIds.withColumn("label", col("id")).cache()
    for (_ <- 1 to iters) {
      val tally = und
        .join(labels.select(col("id").as("b"), col("label").as("nl")), "b")
        .groupBy(col("a"), col("nl"))
        .agg(sum("ew").as("w"))
      // argmax by (w, label), both descending: deterministic
      val best = tally
        .groupBy(col("a").as("id"))
        .agg(max(struct(col("w"), col("nl"))).as("m"))
        .select(col("id"), col("m.nl").as("label"))
      val next = labels.select("id").join(best, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        .localCheckpoint(true)
      labels.unpersist()
      labels = next
    }
    und.unpersist()
    labels
  }
}
