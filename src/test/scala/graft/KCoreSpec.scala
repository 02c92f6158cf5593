package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cypher.Cypher
import graft.graph.PropertyGraph

/** k-core peeling runs to its fixpoint, however many rounds that takes:
  * a fixed cap on `Algorithms.kCore`'s rounds, or on the k that
  * `CALL apoc.community.coreNumber` tries, returns nodes outside the core
  * or core numbers that are too small.
  */
class KCoreSpec extends AnyFunSuite {
  import TestSpark._

  test("kCore peels a 70-node path to an empty 2-core") {
    val sp = spark
    import sp.implicits._
    // a path peels its two ends each round: 35 rounds to empty
    val pairs = (0 until 69).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    assert(graft.algos.Algorithms.kCore(pairs, 2).count() == 0)
  }

  test("coreNumber gives every node of a 22-clique core number 21") {
    val sp = spark
    import sp.implicits._
    val ids = (0 until 22).map(i => s"v$i")
    val nodes = ids.toDF("id").withColumn("labels", array(lit("N")))
    val edges = ids.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
      .toDF("src", "dst")
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("rel_type", lit("R"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    val cores = Cypher.run(PropertyGraph(nodes, edges),
        "CALL apoc.community.coreNumber('R') YIELD id, core RETURN id, core")
      .collect().map(r => r.getString(0) -> r.getAs[Number](1).intValue).toMap
    assert(cores == ids.map(_ -> 21).toMap)
  }
}
