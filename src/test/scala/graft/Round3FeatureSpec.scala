package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cypher.{Cypher, CypherWrite, CypherDdl}
import graft.graph.{GraphStore, PropertyGraph}

/** Round-3 coverage: collect() zero-fill in aggregating CALL {}, null-safe
  * unique constraints, and APOC functions with no DuckDB analog
  * (urlencode/urldecode, phonetic, bitwise, parseInt/parseFloat).
  */
class Round3FeatureSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val store: GraphStore = {
    val g = GraphQueries.graph(spark, sf)
    val s = new GraphStore(PropertyGraph(
      g.nodes.filter("false").localCheckpoint(true),
      g.edges.filter("false").localCheckpoint(true)))
    CypherWrite.execute(s,
      """CREATE (a:Person {key: 1, name: 'Alice'}), (b:Person {key: 2, name: 'Bob'}),
              (c:Person {key: 3, name: 'Cara'})""")
    CypherWrite.execute(s,
      "MATCH (a:Person {key: 1}) MATCH (b:Person {key: 2}) CREATE (a)-[:KNOWS]->(b)")
    s
  }

  private def rows(q: String): Seq[Seq[Any]] =
    Cypher.run(store.snapshot, q).collect().map(_.toSeq.toSeq).toSeq

  test("aggregating CALL {} zero-fills collect() with an empty list, not null") {
    assert(rows(
      """MATCH (p:Person)
         CALL { WITH p MATCH (p)-[:KNOWS]->(q) RETURN collect(q.name) AS friends }
         RETURN p.name AS nm, size(friends) AS nf, friends ORDER BY nm""")
      == Seq(Seq("Alice", 1, Seq("Bob")), Seq("Bob", 0, Seq()), Seq("Cara", 0, Seq())))
  }

  test("unique constraint permits multiple nodes lacking the property (nulls don't collide)") {
    val g = GraphQueries.graph(spark, sf)
    val s = new GraphStore(PropertyGraph(
      g.nodes.filter("false").localCheckpoint(true),
      g.edges.filter("false").localCheckpoint(true)))
    CypherDdl.tryExecute(s, "CREATE CONSTRAINT c1 FOR (u:User) REQUIRE u.email IS UNIQUE")
    // two Users, neither has email — Neo4j allows this
    CypherWrite.execute(s, "CREATE (a:User {key: 1, name: 'x'}), (b:User {key: 2, name: 'y'})")
    assert(Cypher.run(s.snapshot, "MATCH (u:User) RETURN count(*) AS n")
      .collect().head.getLong(0) == 2L)
    // a real duplicate still trips it
    intercept[IllegalArgumentException] {
      CypherWrite.execute(s,
        "CREATE (a:User {key: 3, email: 'e@x'}), (b:User {key: 4, email: 'e@x'})")
    }
  }

  test("apoc.text.urlencode/urldecode round-trip; phonetic is soundex; bitwise ops") {
    val r = rows(
      """MATCH (p:Person {key: 1})
         RETURN apoc.text.urldecode(apoc.text.urlencode('a b&c')) AS rt,
                apoc.text.urlencode('a b&c') AS enc,
                apoc.text.phonetic('Smith') AS ph,
                apoc.text.phoneticDelta('Smith', 'Smythe') AS pd,
                apoc.bitwise.op(12, '&', 10) AS band,
                apoc.bitwise.op(12, '|', 10) AS bor,
                apoc.bitwise.op(12, '^', 10) AS bxor,
                apoc.bitwise.op(12, '<<', 2) AS shl,
                apoc.number.parseInt('42') AS pi,
                apoc.number.parseInt('nope') AS pn,
                apoc.number.parseFloat('2.5') AS pf""").head
    assert(r(0) == "a b&c")
    assert(r(1).toString.contains("%"))
    assert(r(2) == "S530" && r(3) == 0)
    assert(r(4) == 8L && r(5) == 14L && r(6) == 6L && r(7) == 48L)
    assert(r(8) == 42L && r(9) == null && r(10) == 2.5)
  }

  test("apoc.text.charAt accepts a non-literal index") {
    val r = rows(
      """MATCH (p:Person) WHERE p.key <= 3
         RETURN p.key AS k, apoc.text.charAt(p.name, p.key - 1) AS c ORDER BY k""")
    // Alice[0]='A', Bob[1]='o', Cara[2]='r'
    assert(r == Seq(Seq(1L, "A"), Seq(2L, "o"), Seq(3L, "r")))
  }

  // --- RDD BFS (BfsRdd over the ctx CSR) vs the DataFrame reference
  // (TraversalReference): identical row sets on the TPC-H graph, for point
  // start sets and for more than 128 starts ---

  private def bulkCustomers(g: graft.graph.PropertyGraph) =
    g.nodesByLabel("Customer").select("id").orderBy("id").limit(200)

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: Seq[_] => a.mkString(">")
      case x => x
    }.toSeq).toSeq.sortBy(_.mkString("|"))

  test("BfsRdd shortestPathLengths matches the DataFrame BFS (out, in, typed)") {
    import graft.graph.Expand
    val g = GraphQueries.graph(spark, sf)
    val regions = g.nodesByLabel("Region").select("id")
    assert(sorted(Expand.shortestPaths(g, regions, None, 2, Expand.In))
      == sorted(TraversalReference.shortestPaths(g, regions, None, 2, Expand.In)))
    val cust = g.nodesByLabel("Customer").select("id").limit(40)
    assert(sorted(Expand.shortestPaths(g, cust, None, 2, Expand.Out))
      == sorted(TraversalReference.shortestPaths(g, cust, None, 2, Expand.Out)))
    assert(sorted(Expand.shortestPaths(g, cust, Some("PLACED"), 2, Expand.Out))
      == sorted(TraversalReference.shortestPaths(g, cust, Some("PLACED"), 2, Expand.Out)))
    val bulk = bulkCustomers(g)
    assert(sorted(Expand.shortestPaths(g, bulk, None, 2, Expand.Out))
      == sorted(TraversalReference.shortestPaths(g, bulk, None, 2, Expand.Out)))
  }

  test("BfsRdd varLengthPairs matches the DataFrame var-length expand") {
    import graft.graph.Expand
    val g = GraphQueries.graph(spark, sf)
    val regions = g.nodesByLabel("Region").select("id")
    for ((mn, mx) <- Seq((1, 2), (0, 2), (2, 3)))
      assert(sorted(Expand.varLengthExpand(g, regions, None, mn, mx, Expand.In))
        == sorted(TraversalReference.varLengthExpand(g, regions, None, mn, mx, Expand.In)),
        s"[*$mn..$mx]")
    val cust = g.nodesByLabel("Customer").select("id").limit(20)
    assert(sorted(Expand.varLengthExpand(g, cust, Some("PLACED"), 1, 1))
      == sorted(TraversalReference.varLengthExpand(g, cust, Some("PLACED"), 1, 1)))
    val bulk = bulkCustomers(g)
    assert(sorted(Expand.varLengthExpand(g, bulk, None, 1, 2))
      == sorted(TraversalReference.varLengthExpand(g, bulk, None, 1, 2)))
  }

  test("BfsRdd allShortestPaths (single + multi) matches the DataFrame BFS") {
    import graft.graph.Expand
    val sp = spark
    import sp.implicits._
    val g = GraphQueries.graph(spark, sf)
    // single pair, stop at first hit
    assert(sorted(Expand.allShortestPaths(g, "Customer:102", "Part:1784", None, 4))
      == sorted(TraversalReference.allShortestPaths(g, "Customer:102", "Part:1784", None, 4)))
    // multi: one start, many targets (the q_cypher_shortest_single shape)
    val starts = Seq("Customer:1").toDF("id")
    val targets = g.nodesByLabel("Region").select("id")
    assert(sorted(Expand.allShortestPathsMulti(g, starts, targets, None, 4))
      == sorted(TraversalReference.allShortestPathsMulti(g, starts, targets, None, 4)))
    // Both direction exercises the union-orientation pair adjacency
    val t2 = Seq("Nation:3").toDF("id")
    assert(sorted(Expand.allShortestPathsMulti(g, starts, t2, None, 3, Expand.Both))
      == sorted(TraversalReference.allShortestPathsMulti(g, starts, t2, None, 3, Expand.Both)))
    val bulk = bulkCustomers(g)
    assert(sorted(Expand.allShortestPathsMulti(g, bulk, targets, None, 4))
      == sorted(TraversalReference.allShortestPathsMulti(g, bulk, targets, None, 4)))
    // unreachable endpoints → empty
    assert(Expand.allShortestPaths(g, "Part:1", "Customer:1", None, 3).count() == 0)
  }

  test("simhash multi-window bucketing is lossless where single-window drops pairs") {
    import graft.operators.Dedup
    val sp = spark
    import sp.implicits._
    // 1 and 2 differ only in bit 24 (inside the top byte): the old top-8-bit
    // bucket separates them; the 4-window bucket matches on windows 0-2.
    // 3 is far from everything. 4/5 differ from 1 in bits 0 and 31 (two
    // different windows) — still within dist 3, must be found.
    val sigs = Seq(
      (1L, 0x00000000L), (2L, 0x01000000L), (3L, 0x55555555L),
      (4L, 0x80000001L), (5L, 0x80000000L)).toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairsFromSigs(sigs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // exact Hamming ≤ 3 pairs over these 5 fingerprints
    assert(pairs == Set((1L, 2L, 1), (1L, 4L, 2), (1L, 5L, 1),
      (2L, 4L, 3), (2L, 5L, 2), (4L, 5L, 1)))
    // the old single-window bucket (simhash >> 24) finds strictly fewer:
    // (1,2) lands in buckets 0 vs 1 and is lost
    val oldBucketed = sigs.withColumn("bkt", shiftright(col("simhash"), 24))
    val oldPairs = oldBucketed.toDF("a", "sa", "bkt")
      .join(oldBucketed.toDF("b", "sb", "bkt2"), col("bkt") === col("bkt2"))
      .filter(col("a") < col("b"))
      .withColumn("dist", expr("bit_count(sa ^ sb)"))
      .filter(col("dist") <= 3)
      .select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oldPairs.subsetOf(pairs.map(p => (p._1, p._2))))
    assert(!oldPairs.contains((1L, 2L)) && pairs.map(p => (p._1, p._2)).contains((1L, 2L)))
  }

  test("simhash pairs on real documents equal the exact Hamming join") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val bucketed = Dedup.simhashPairs(docs, 3, 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sig = Dedup.simhash(docs.filter(col("doc_id") < 1000L))
    val exact = sig.toDF("a", "sa").join(sig.toDF("b", "sb"), col("a") < col("b"))
      .withColumn("dist", expr("bit_count(sa ^ sb)"))
      .filter(col("dist") <= 3)
      .select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == exact && exact.nonEmpty)
  }

  test("allSimplePaths enumerates simple paths and terminates on cycles") {
    import graft.graph.{GraphStore, PropertyGraph}
    val g = GraphQueries.graph(spark, sf)
    val s = new GraphStore(PropertyGraph(
      g.nodes.filter("false").localCheckpoint(true),
      g.edges.filter("false").localCheckpoint(true)))
    CypherWrite.execute(s,
      """CREATE (a:P {key: 1, name: 'a'}), (b:P {key: 2, name: 'b'}),
              (c:P {key: 3, name: 'c'})""")
    for ((x, y) <- Seq((1, 2), (2, 3), (3, 1), (1, 3)))
      CypherWrite.execute(s,
        s"MATCH (x:P {key: $x}) MATCH (y:P {key: $y}) CREATE (x)-[:E]->(y)")
    val paths = graft.algos.BfsRdd.allSimplePaths(s.snapshot, "P:1", "P:3", Nil, 10)
      .collect().map(r => (r.getSeq[String](2).mkString(">"), r.getInt(3))).toSet
    // cycle 3→1 must not loop; only the two simple paths exist
    assert(paths == Set(("P:1>P:3", 1), ("P:1>P:2>P:3", 2)))
    // CALL surface (apoc_algorithms.go:206)
    val viaCall = Cypher.run(s.snapshot,
      """CALL apoc.algo.allSimplePaths('P:1', 'P:3') YIELD path, length
         RETURN apoc.text.join(path, '>') AS p, length ORDER BY length""")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(viaCall == Seq(("P:1>P:3", 1), ("P:1>P:2>P:3", 2)))
    // dijkstra/aStar CALL surface: weighted point-to-point
    val dj = Cypher.run(s.snapshot,
      "CALL apoc.algo.dijkstra('P:1', 'P:3') YIELD path, weight RETURN path, weight")
      .collect()
    assert(dj.length == 1 && dj.head.getSeq[String](0) == Seq("P:1", "P:3")
      && dj.head.getDouble(1) == 1.0)
  }

  test("PROFILE reports per-operator time and row estimates on a 2-hop query") {
    val g = GraphQueries.graph(spark, sf)
    val prof = graft.cypher.ProfileCypher.profile(g,
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
         RETURN count(*) AS n""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // actual rows: the final aggregate emits exactly 1 row
    assert(prof.exists { case (op, rows, _, _) =>
      op.startsWith("HashAggregate") && rows == 1L })
    // scan, join, and aggregate operators all carry a real time (either an
    // own timing metric or their codegen stage's pipeline duration)
    def timedOp(prefix: String) = prof.exists { case (op, _, _, t) =>
      op.startsWith(prefix) && t >= 0.0 }
    assert(timedOp("Scan parquet") || timedOp("FileScan") || timedOp("InMemoryTableScan"),
      prof.mkString(", "))
    assert(timedOp("BroadcastHashJoin") || timedOp("SortMergeJoin")
      || timedOp("ShuffledHashJoin"), prof.mkString(", "))
    assert(timedOp("HashAggregate"), prof.mkString(", "))
    // estimates: every operator with a logical link reports a non-negative
    // estimate; at least one is > 0
    assert(prof.exists { case (_, _, est, _) => est > 0L }, prof.mkString(", "))
  }

  test("query cache: label-keyed invalidation keeps unrelated entries") {
    import graft.cypher.QueryCache
    import graft.graph.{GraphStore, PropertyGraph}
    val g = GraphQueries.graph(spark, sf)
    val s = new GraphStore(PropertyGraph(
      g.nodes.filter("false").localCheckpoint(true),
      g.edges.filter("false").localCheckpoint(true)))
    CypherWrite.execute(s, "CREATE (a:User {key: 1, name: 'u'})")
    CypherWrite.execute(s, "CREATE (p:Product {key: 1, name: 'p'})")
    val cache = new QueryCache(maxSize = 10)
    val qUser = "MATCH (u:User) RETURN count(*) AS n"
    val qProd = "MATCH (p:Product) RETURN count(*) AS n"
    assert(cache.run(s, qUser).collect().head.getLong(0) == 1L)
    assert(cache.run(s, qProd).collect().head.getLong(0) == 1L)
    assert(cache.misses.get() == 2 && cache.hits.get() == 0)
    cache.run(s, qUser); cache.run(s, qProd)
    assert(cache.hits.get() == 2)
    // a :User write invalidates only the :User entry
    CypherWrite.execute(s, "CREATE (b:User {key: 2, name: 'v'})")
    cache.invalidateLabels(Seq("User"))
    assert(cache.run(s, qUser).collect().head.getLong(0) == 2L) // recomputed
    assert(cache.misses.get() == 3)
    cache.run(s, qProd) // still cached
    assert(cache.hits.get() == 3)
    // label-less queries carry the wildcard dependency: any write evicts
    val qAll = "MATCH (n) RETURN count(*) AS n"
    assert(cache.labelsOf(qAll) == Set("*"))
    cache.run(s, qAll)
    cache.invalidateLabels(Seq("Product"))
    cache.run(s, qAll)
    assert(cache.misses.get() == 5) // qAll missed twice (wildcard evicted)
  }

  test("query cache: results past maxRowsPerEntry are served distributed, never pinned") {
    import graft.cypher.QueryCache
    import graft.graph.GraphStore
    val g = GraphQueries.graph(spark, sf)
    val s = new GraphStore(g)
    val cache = new QueryCache(maxSize = 10, maxRowsPerEntry = 50)
    val big = "MATCH (o:Order) RETURN o.key AS k" // thousands of rows at sf0.001
    val n1 = cache.run(s, big).count()
    assert(n1 > 50)
    assert(cache.size == 0, "oversized result must not be cached")
    // second run recomputes (miss), same rows — behavior, not staleness
    assert(cache.run(s, big).count() == n1)
    assert(cache.misses.get() == 2 && cache.hits.get() == 0)
    // small results still cache and hit
    val small = "MATCH (r:Region) RETURN r.key AS k"
    cache.run(s, small); cache.run(s, small)
    assert(cache.hits.get() == 1 && cache.size == 1)
  }

  test("rerank: cross-encoder hook reorders by overlap; disabled passes through") {
    import graft.search.Rerank
    val sp = spark
    import sp.implicits._
    val cands = Seq(
      (1L, "alpha beta gamma", 9.0), // high bi score, no query overlap
      (2L, "spark table query extras", 5.0), // strong overlap
      (3L, "spark unrelated words here", 3.0)).toDF("id", "content", "bi_score")
    val rr = Rerank.rerank(cands, "spark table query")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // doc 2 overtakes doc 1; doc 1 (zero overlap) falls last
    assert(rr == Set((1L, 1, 3), (2L, 2, 1), (3L, 3, 2)))
    val off = Rerank.rerank(cands, "spark table query", enabled = false)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(4))).toSet
    // passThrough (rerank.go:195): cross_score = bi_score, ranks unchanged
    assert(off == Set((1L, 1, 9.0), (2L, 2, 5.0), (3L, 3, 3.0)))
    // RerankMinScore (rerank.go:178-186): filter AFTER new ranks assigned —
    // doc 1 (zero overlap) drops, survivors keep their pre-filter ranks
    val thr = Rerank.rerank(cands, "spark table query", minScore = 0.1)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(thr == Set((2L, 1), (3L, 2)))
  }

  test("apoc.coll frequencies/duplicatesWithCount shapes") {
    val r = rows(
      """MATCH (p:Person {key: 1})
         WITH ['a', 'b', 'a', 'c', 'a'] AS l
         RETURN apoc.map.get(apoc.coll.frequencies(l), 'a') AS fa,
                size(apoc.coll.duplicatesWithCount(l)) AS nd""").head
    assert(r(0) == 3 && r(1) == 1)
  }

  test("apoc.number/math/date edge cases vs reference semantics") {
    // romanize bounds (number.go:145: <=0 or >=4000 → ''), round trips
    val r1 = rows(
      """RETURN apoc.number.romanize(0) AS r0, apoc.number.romanize(4000) AS r4k,
                apoc.number.romanize(3999) AS r3999,
                apoc.number.arabize('MCMXCIV') AS a1994,
                apoc.number.fibonacci(0) AS f0, apoc.number.fibonacci(1) AS f1,
                apoc.number.fibonacci(92) AS f92,
                apoc.number.factorial(0) AS fa0, apoc.number.factorial(20) AS fa20,
                apoc.number.gcd(48, 18) AS g, apoc.number.lcm(4, 6) AS l,
                apoc.number.lcm(0, 5) AS l0,
                apoc.number.toBase(255, 16) AS b16,
                apoc.number.fromBase('ff', 16) AS fb16""").head
    assert(r1 == Seq("", "", "MMMCMXCIX", 1994L, 0L, 1L, 7540113804746346429L,
      1L, 2432902008176640000L, 6L, 12L, 0L, "ff", 255L))
    // percentile/median doc examples (math.go:400,433); population stdDev
    val r2 = rows(
      """WITH [1.0,2.0,3.0,4.0,5.0,6.0,7.0,8.0,9.0,10.0] AS l
         RETURN apoc.math.percentile(l, 50.0) AS p50,
                apoc.math.median([1.0,2.0,3.0,4.0,5.0]) AS med,
                apoc.math.variance([2.0,4.0,4.0,4.0,5.0,5.0,7.0,9.0]) AS vr,
                apoc.math.product([1.0,2.0,3.0,4.0]) AS prod,
                apoc.math.maxLong(3, 9, 5) AS mx, apoc.math.minDouble(3.0, 9.0) AS mn""").head
    assert(r2 == Seq(5.5, 3.0, 4.0, 24.0, 9L, 3.0))
    // date.convert truncates (date.go:111); fnv1a matches the Go byte fold
    // ('hello' → 0x4F9F2CAB)
    val r3 = rows(
      """RETURN apoc.date.convert(90, 'm', 'h') AS ch,
                apoc.date.convert(1999, 'ms', 's') AS cs,
                apoc.hashing.fnv1a('hello') AS fnv,
                apoc.hashing.consistentHash('hello', 16) AS chash,
                apoc.temporal.daysInMonth(2023, 2) AS dim23,
                apoc.temporal.isLeapYear(1900) AS ly1900,
                apoc.temporal.isLeapYear(2000) AS ly2000""").head
    // consistentHash = UNSIGNED fnv1a64('hello') % 16
    // = 11831194018420276491 % 16 (hashing.go:113 docstring value) = 11
    assert(r3 == Seq(1L, 1L, 0x4F9F2CABL, 11, 28, false, true))
  }

  test("apoc text/coll completion + node/rel accessors") {
    val r = rows(
      """MATCH (a:Person {key: 1})-[r:KNOWS]->(b:Person)
         RETURN apoc.node.id(a) AS aid, apoc.node.labels(a)[0] AS lbl,
                apoc.node.hasLabel(a, 'Person') AS hl,
                apoc.rel.type(r) AS rt,
                apoc.text.capitalizeAll('ab c') AS capall,
                apoc.text.bytesToString(apoc.text.bytes('hello')) AS bytesrt,
                apoc.coll.unionAll([1, 2], [2, 3]) AS ua,
                apoc.coll.partition([1, 2, 3, 4, 5], 2) AS prt""").head
    assert(r(0).toString.startsWith("Person"))
    assert(r(1) == "Person" && r(2) == true && r(3) == "KNOWS")
    assert(r(4) == "AB C" && r(5) == "hello")
    assert(r(6) == Seq(1L, 2L, 2L, 3L))
    assert(r(7) == Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)))
    val sm = rows(
      """WITH [apoc.map.fromValues(['k', '2', 'v', 'b']),
              apoc.map.fromValues(['k', '1', 'v', 'a'])] AS ms
         RETURN apoc.coll.sortMaps(ms, 'k')[0]['v'] AS first""").head
    assert(sm(0) == "a")
  }

  test("apoc.diff and apoc.label families") {
    val r = rows(
      """WITH apoc.map.fromValues(['a', '1', 'b', '2']) AS m1,
              apoc.map.fromValues(['b', '3', 'c', '4']) AS m2
         RETURN apoc.diff.maps(m1, m2) AS dm,
                apoc.diff.lists([1, 2, 3], [2, 3, 4]) AS dl,
                apoc.diff.deep([1, 2], [1, 2]) AS eq,
                apoc.diff.strings('abc', 'axc') AS ds,
                apoc.label.union(['A', 'B'], ['B', 'C']) AS lu,
                apoc.label.intersection(['A', 'B'], ['B', 'C']) AS li,
                apoc.label.normalize('user account') AS ln,
                apoc.label.pattern(['A', 'B']) AS lp,
                apoc.label.fromPattern(':A:B') AS lf""").head
    val dm = r(0).asInstanceOf[org.apache.spark.sql.Row]
    assert(dm.getSeq[String](0) == Seq("c")) // added
    assert(dm.getSeq[String](1) == Seq("a")) // removed
    assert(dm.getSeq[String](2) == Seq("b")) // changed (2 → 3)
    val dl = r(1).asInstanceOf[org.apache.spark.sql.Row]
    assert(dl.getSeq[Long](0) == Seq(4L) && dl.getSeq[Long](1) == Seq(1L))
    assert(r(2) == true)
    assert(r(3) == Seq(1L)) // position 1 differs
    assert(r(4) == Seq("A", "B", "C") && r(5) == Seq("B"))
    assert(r(6) == "UserAccount" && r(7) == ":A:B" && r(8) == Seq("A", "B"))
  }

  test("apoc.scoring vector/statistics forms match hand-computed values") {
    val r = rows(
      """RETURN apoc.scoring.cosine([1.0, 0.0], [1.0, 0.0]) AS cos1,
                apoc.scoring.cosine([1.0, 0.0], [0.0, 1.0]) AS cos0,
                apoc.scoring.euclidean([0.0, 3.0], [4.0, 0.0]) AS euc,
                apoc.scoring.manhattan([1.0, 2.0], [4.0, 6.0]) AS man,
                apoc.scoring.pearson([1.0, 2.0, 3.0], [2.0, 4.0, 6.0]) AS pear,
                apoc.scoring.softmax([1.0, 1.0]) AS sm,
                apoc.scoring.normalize([1.0, 3.0, 5.0]) AS nrm,
                apoc.scoring.jaccard([], []) AS jempty""").head
    assert(r(0) == 1.0 && r(1) == 0.0 && r(2) == 5.0 && r(3) == 7.0)
    assert(math.abs(r(4).asInstanceOf[Double] - 1.0) < 1e-12) // perfectly correlated
    assert(r(5) == Seq(0.5, 0.5))
    assert(r(6) == Seq(0.0, 0.5, 1.0))
    assert(r(7) == 1.0)
  }

  test("apoc.create virtual entities carry negative ids and full payload") {
    val r = rows(
      """WITH apoc.create.vNode(['Person'], apoc.map.fromValues(['name', 'A'])) AS v1,
              apoc.create.vNode(['Person'], apoc.map.fromValues(['name', 'B'])) AS v2
         RETURN v1['id'] < 0 AS neg, v1['labels'][0] AS lbl,
                v1['properties']['name'] AS nm,
                apoc.create.vRelationship(v1, 'KNOWS', apoc.map.fromValues([]), v2)['type'] AS rt,
                v1['id'] = v2['id'] AS clash""").head
    assert(r(0) == true && r(1) == "Person" && r(2) == "A")
    assert(r(3) == "KNOWS" && r(4) == false)
  }

  test("scc merges cycle members, keeps DAG nodes separate; triangles count") {
    val sp = spark
    import sp.implicits._
    val nodes = Seq("A", "B", "C", "D").toDF("id")
      .withColumn("labels", array(lit("N")))
    // A↔B cycle; B→C→D chain
    val edges = Seq(("A", "B"), ("B", "A"), ("B", "C"), ("C", "D"))
      .toDF("src", "dst")
      .withColumn("id", concat_ws(":", col("src"), col("dst")))
      .withColumn("rel_type", lit("E"))
      .withColumn("properties", map_from_arrays(array(), array()))
      .withColumn("weight", lit(1.0))
    val g = graft.graph.PropertyGraph(nodes, edges)
    val comp = graft.algos.GraphXAlgos.scc(g)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp("A") == comp("B")) // the cycle collapses
    assert(comp("C") != comp("A") && comp("D") != comp("C"))

    // triangle: 1-2-3 closed, 4 hangs off
    val tri = graft.algos.GraphXAlgos.triangleCounts(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("kCore peels tails, keeps the clique") {
    val sp = spark
    import sp.implicits._
    // K4 on 1-4, tail 4-5-6: 3-core = the K4, 2-core drops only the tail
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val core3 = graft.algos.Algorithms.kCore(pairs, 3)
      .collect().map(_.getLong(0)).toSet
    assert(core3 == Set(1L, 2L, 3L, 4L))
    val core2 = graft.algos.Algorithms.kCore(pairs, 2)
      .collect().map(_.getLong(0)).toSet
    assert(core2 == Set(1L, 2L, 3L, 4L)) // 5,6 peel: deg(6)=1, then deg(5)=1
    // every survivor keeps degree >= k inside the core (k-core invariant)
    val undirected = pairs.flatMap(r => Seq((r.getLong(0), r.getLong(1)),
      (r.getLong(1), r.getLong(0)))).toDF("a", "b")
    val degIn = undirected
      .filter(col("a").isin(core3.toSeq: _*) && col("b").isin(core3.toSeq: _*))
      .groupBy("a").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3.forall(id => degIn(id) >= 3))
  }
}
