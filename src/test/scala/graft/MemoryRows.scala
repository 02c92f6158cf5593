package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Memory` nodes and their `ABOUT` edges in the row shape an agent's
  * memory store writes them (a Cypher `CREATE (m:Memory {key, text})`).
  */
object MemoryRows {
  import TestSpark._

  def nodes(keys: Seq[Long]): DataFrame = {
    val sp = spark
    import sp.implicits._
    keys.map(k => (k, s"memory $k")).toDF("key", "text")
      .select(concat(lit("Memory:"), col("key")).as("id"), array(lit("Memory")).as("labels"),
        col("key"), lit(null).cast("string").as("name"), lit(null).cast("double").as("acctbal"),
        lit(null).cast("string").as("mktsegment"),
        map_from_arrays(array(lit("text")), array(col("text"))).as("properties"))
  }

  /** `ABOUT:k` from `Memory:k` to `Customer:(k % customers + 1)`. */
  def about(keys: Seq[Long], customers: Int): DataFrame = {
    val sp = spark
    import sp.implicits._
    keys.map(k => (s"ABOUT:$k", s"Memory:$k", s"Customer:${k % customers + 1}"))
      .toDF("id", "src", "dst")
      .select(col("id"), col("src"), col("dst"), lit("ABOUT").as("rel_type"),
        typedLit(Map.empty[String, String]).as("properties"), lit(1.0).as("weight"))
  }
}
