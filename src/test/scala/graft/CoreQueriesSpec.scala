package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class CoreQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("every registered query with an oracle also has a fn and runs at sf0.001") {
    // cheap structural invariant: oracle keys ⊆ query keys
    assert(QueryRegistry.oracles.keySet.subsetOf(QueryRegistry.queryFns.keySet))
  }

  test("q1_agg groups by returnflag/linestatus with positive sums") {
    val rows = QueryRegistry.queryFns("q1_agg")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Long]("count_order") > 0)
    }
  }

  test("q_join_multihop covers all regions") {
    val rows = QueryRegistry.queryFns("q_join_multihop")(spark, sf).collect()
    val regions = rows.map(_.getAs[String]("r_name")).toSet
    assert(regions.size == 5)
  }

  test("q_join_left_outer keeps customers without orders") {
    val df = QueryRegistry.queryFns("q_join_left_outer")(spark, sf)
    val total = df.count()
    val cust = Tables.customer(spark, sf).count()
    assert(total == cust)
  }

  test("set ops: union_distinct has at most 25 nation keys") {
    val n = QueryRegistry.queryFns("q_union_distinct")(spark, sf).count()
    assert(n <= 25 && n > 0)
  }

  test("graph label scan counts match raw tables") {
    val m = QueryRegistry.queryFns("q_graph_label_scan")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("Customer") == Tables.customer(spark, sf).count())
    assert(m("Order") == Tables.orders(spark, sf).count())
    assert(m("Region") == 5L)
  }

  test("graph expand equals SQL join count") {
    val got = QueryRegistry.queryFns("q_graph_expand")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_orders")).collect()(0).getLong(0)
    assert(got == Tables.orders(spark, sf).count())
  }

  test("var-length expand depth counts are sane") {
    val rows = QueryRegistry.queryFns("q_graph_var_length")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("depth")).toSet == Set(1, 2))
  }

  test("shortest paths lengths 0..2 present") {
    val rows = QueryRegistry.queryFns("q_graph_shortest_paths")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("length")).toSet == Set(0, 1, 2))
  }

  test("events table loads with ns timestamp conversion") {
    val ev = Tables.events(spark, sf)
    assert(ev.columns.contains("ts") && ev.columns.contains("ts_ns"))
    assert(ev.schema("ts").dataType.typeName == "timestamp")
    assert(ev.count() > 0)
  }
}
