package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Labeled-property-graph over a pair of DataFrames.
  *
  * Schema (mirrors the reference's node/edge structs,
  * `/root/reference/pkg/storage/types.go:185-310`, re-expressed columnar):
  *
  *   nodes: id STRING, labels ARRAY<STRING>, properties MAP<STRING,STRING>,
  *          plus optional typed columns (prop_* ) hoisted per label
  *   edges: id STRING, src STRING, dst STRING, rel_type STRING,
  *          properties MAP<STRING,STRING>, weight DOUBLE
  *
  * Properties keep a typed "hoisted" column when the per-label schema knows
  * the type (the common case for our TPC-H projection) and fall back to the
  * string map otherwise — the columnar answer to the reference's
  * `map[string]any`. At 100 TB the nodes table is label-partitioned parquet,
  * so a label filter is partition pruning, not a scan (the label index,
  * `pkg/storage/label_index_lookup.go`, for free).
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame) {

  /** MATCH (n:Label) — NodeByLabelScan. */
  def nodesByLabel(label: String): DataFrame =
    nodes.filter(array_contains(col("labels"), label))

  /** MATCH ()-[r:TYPE]->() — relationship-by-type scan. */
  def edgesByType(relType: String): DataFrame =
    edges.filter(col("rel_type") === relType)

  /** `[:T1|T2]` alternation — rel type in the set; empty = all edges. */
  def edgesByTypes(relTypes: Seq[String]): DataFrame = relTypes match {
    case Seq() => edges
    case Seq(t) => edgesByType(t)
    case ts => edges.filter(col("rel_type").isin(ts: _*))
  }

  /** Degree of every node for a given direction ("out"|"in"|"both"). */
  def degrees(direction: String = "both", relType: Option[String] = None): DataFrame = {
    val es = relType.map(edgesByType).getOrElse(edges)
    val out = es.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val in = es.groupBy(col("dst").as("id")).agg(count(lit(1)).as("deg"))
    direction match {
      case "out" => out
      case "in"  => in
      case _ =>
        out.union(in).groupBy("id").agg(sum("deg").as("deg"))
    }
  }

  def cache(): PropertyGraph = PropertyGraph(nodes.cache(), edges.cache())
}

object PropertyGraph {

  /** An empty graph with the canonical base schema — what a fresh server
    * data directory starts from (the reference opens an empty BadgerDB
    * store, `pkg/nornicdb/nornicdb.go` Open; here an empty frame pair).
    * Typed `prop_*` columns appear lazily as writes hoist them; the
    * string `properties` map is the schema-free floor.
    */
  def empty(spark: SparkSession): PropertyGraph = {
    import org.apache.spark.sql.types._
    // a local relation: a store over it counts its rows on the driver
    def df(schema: StructType): DataFrame =
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
    PropertyGraph(
      df(StructType(Seq(
        StructField("id", StringType),
        StructField("labels", ArrayType(StringType)),
        StructField("properties", MapType(StringType, StringType))))),
      df(StructType(Seq(
        StructField("id", StringType),
        StructField("src", StringType),
        StructField("dst", StringType),
        StructField("rel_type", StringType),
        StructField("properties", MapType(StringType, StringType)),
        StructField("weight", DoubleType)))))
  }

  /** Build the TPC-H graph projection (FIXTURES.md §4):
    *
    * nodes: Customer, Order, Part, Supplier, Nation, Region
    * edges: (Customer)-[:PLACED]->(Order),
    *        (Order)-[:CONTAINS {quantity, extendedprice}]->(Part),
    *        (Supplier)-[:SUPPLIES]->(Part),
    *        (Customer)-[:FROM]->(Nation), (Nation)-[:IN]->(Region),
    *        (Supplier)-[:LOCATED_IN]->(Nation)
    *
    * Node ids are `<label>:<key>` strings — the reference uses free-form
    * string NodeIDs (`pkg/storage/types.go:186`); prefixing keeps ids unique
    * across source tables. Typed property columns are hoisted (name,
    * acctbal, …); everything stays distributed, no driver-side state.
    */
  def fromTpch(spark: SparkSession, sfDir: String): PropertyGraph = {
    import graft.Tables

    def nid(label: String, key: Column): Column = concat_ws(":", lit(label), key)

    val customer = Tables.customer(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    val part = Tables.part(spark, sfDir)
    val supplier = Tables.supplier(spark, sfDir)
    val nation = Tables.nation(spark, sfDir)
    val region = Tables.region(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)

    /** Hoisted columns (`props`) become typed node columns AND map entries;
      * `extra` columns live only in the string map — the VARIANT-style
      * fallback for properties the per-label schema didn't hoist (the
      * reference's schema-less `map[string]any`, `pkg/storage/types.go:188`).
      */
    def nodeDf(df: DataFrame, label: String, key: Column, props: Seq[(String, Column)],
        extra: Seq[(String, Column)] = Nil): DataFrame = {
      val base = df.select(
        nid(label, key).as("id") +:
          array(lit(label)).as("labels") +:
          props.map { case (n, c) => c.as(n) } ++:
          extra.map { case (n, c) => c.cast("string").as(s"__x_$n") }: _*)
      val all = props.map { case (n, _) => n -> col(n).cast("string") } ++
        extra.map { case (n, _) => n -> col(s"__x_$n") }
      base.withColumn("properties",
        map_from_arrays(
          array(all.map { case (n, _) => lit(n) }: _*),
          array(all.map { case (_, c) => c }: _*)))
        .drop(extra.map { case (n, _) => s"__x_$n" }: _*)
    }

    val nodes = Seq(
      nodeDf(customer, "Customer", col("c_custkey"), Seq(
        "key" -> col("c_custkey").cast("long"), "name" -> col("c_name"),
        "acctbal" -> col("c_acctbal"), "mktsegment" -> col("c_mktsegment"))),
      nodeDf(orders, "Order", col("o_orderkey"), Seq(
        "key" -> col("o_orderkey").cast("long"), "name" -> col("o_orderkey").cast("string"),
        "acctbal" -> col("o_totalprice"), "mktsegment" -> col("o_orderpriority")),
        extra = Seq("orderstatus" -> col("o_orderstatus"), "orderdate" -> col("o_orderdate"))),
      nodeDf(part, "Part", col("p_partkey"), Seq(
        "key" -> col("p_partkey").cast("long"), "name" -> col("p_name"),
        "acctbal" -> col("p_retailprice"), "mktsegment" -> col("p_brand")),
        extra = Seq("type" -> col("p_type"), "size" -> col("p_size"))),
      nodeDf(supplier, "Supplier", col("s_suppkey"), Seq(
        "key" -> col("s_suppkey").cast("long"), "name" -> col("s_name"),
        "acctbal" -> col("s_acctbal"), "mktsegment" -> lit(null).cast("string"))),
      nodeDf(nation, "Nation", col("n_nationkey"), Seq(
        "key" -> col("n_nationkey").cast("long"), "name" -> col("n_name"),
        "acctbal" -> lit(null).cast("double"), "mktsegment" -> lit(null).cast("string"))),
      nodeDf(region, "Region", col("r_regionkey"), Seq(
        "key" -> col("r_regionkey").cast("long"), "name" -> col("r_name"),
        "acctbal" -> lit(null).cast("double"), "mktsegment" -> lit(null).cast("string")))
    ).reduce(_.unionByName(_))

    def edgeDf(df: DataFrame, relType: String, src: Column, dst: Column,
               weight: Column, props: Seq[(String, Column)] = Nil): DataFrame =
      df.select(
        concat_ws(":", lit(relType), monotonically_increasing_id()).as("id"),
        src.as("src"), dst.as("dst"), lit(relType).as("rel_type"),
        map_from_arrays(
          array(props.map { case (n, _) => lit(n) }: _*),
          array(props.map { case (_, c) => c.cast("string") }: _*)).as("properties"),
        weight.cast("double").as("weight"))

    val edges = Seq(
      edgeDf(orders, "PLACED", nid("Customer", col("o_custkey")),
        nid("Order", col("o_orderkey")), lit(1.0)),
      edgeDf(lineitem, "CONTAINS", nid("Order", col("l_orderkey")),
        nid("Part", col("l_partkey")), col("l_quantity"),
        Seq("quantity" -> col("l_quantity"), "extendedprice" -> col("l_extendedprice"))),
      edgeDf(lineitem.select("l_partkey", "l_suppkey").distinct(), "SUPPLIES",
        nid("Supplier", col("l_suppkey")), nid("Part", col("l_partkey")), lit(1.0)),
      edgeDf(customer, "FROM", nid("Customer", col("c_custkey")),
        nid("Nation", col("c_nationkey")), lit(1.0)),
      edgeDf(supplier, "LOCATED_IN", nid("Supplier", col("s_suppkey")),
        nid("Nation", col("s_nationkey")), lit(1.0)),
      edgeDf(nation, "IN", nid("Nation", col("n_nationkey")),
        nid("Region", col("n_regionkey")), lit(1.0))
    ).reduce(_.unionByName(_))

    PropertyGraph(nodes, edges)
  }

  private def nid(label: String, key: Column): Column =
    concat_ws(":", lit(label), key)
}
