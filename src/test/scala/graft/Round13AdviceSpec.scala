package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.PropertyGraph

/** Round-13 advice + scale work:
  *  - the kernel LPA must stay exact across MULTIPLE
  *    CSR partitions (the vote shuffle now carries per-partition
  *    aggregates — a partition-alignment bug would silently drop votes,
  *    the same failure shape Round12ScaleSpec caught for WCC).
  */
class Round13AdviceSpec extends AnyFunSuite {
  import TestSpark._

  private def chainGraph(n: Int): PropertyGraph = {
    val sp = spark
    val nodes = sp.range(0, n).select(format_string("n%07d", col("id")).as("id"))
      .withColumn("labels", array(lit("N")))
    val edges = sp.range(0, n - 1)
      .select(format_string("n%07d", col("id")).as("src"),
        format_string("n%07d", col("id") + 1).as("dst"))
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("rel_type", lit("E"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    PropertyGraph(nodes, edges)
  }

  test("CSR-vote LPA is exact across MULTIPLE adjacency partitions") {
    // >16384 contracted edges puts the vote adjacency past one partition
    // (AdjEdgesPerPartition = 32768 over both orientations), so the
    // per-partition vote aggregates must actually cross partitions; the
    // DataFrame variant is the semantics oracle (same contract asserted
    // single-partition in AlgoSpec)
    val g = chainGraph(40000)
    val df = LpaReference.labelPropagation(g, 3, None)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val gxDf = graft.algos.GraphXAlgos.labelPropagation(g, 3, None)
    val gx = gxDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gxDf.rdd.getNumPartitions > 1, "fixture must span multiple kernel partitions")
    assert(gx == df)
  }

  test("fresh-loop accessors agree with the routed algorithms (oracle-row plumbing)") {
    val sp = spark
    import sp.implicits._
    val nodes = Seq("A", "B", "C", "D", "E", "F", "G", "Z").toDF("id")
      .withColumn("labels", array(lit("N")))
    val edges = Seq(("A", "B"), ("B", "A"), ("B", "C"), ("C", "D"),
      ("D", "E"), ("E", "F"), ("F", "G"), ("G", "E"), ("F", "C"))
      .toDF("src", "dst")
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("rel_type", lit("E"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    val g = PropertyGraph(nodes, edges)
    val sccFresh = graft.algos.GraphXAlgos.scc(g)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expectedScc = Map(
      "A" -> "A", "B" -> "A",
      "C" -> "C", "D" -> "C", "E" -> "C", "F" -> "C", "G" -> "C",
      "Z" -> "Z")
    assert(sccFresh == expectedScc)
  }
}
