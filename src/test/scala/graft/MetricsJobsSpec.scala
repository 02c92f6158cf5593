package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.CypherWrite
import graft.sources.HttpTxServer
import graft.sources.ServerAuth.{Rbac, Role}

/** The status surfaces read the store's commit-time counts: a `/metrics`
  * scrape (and `/status`, `/admin/stats`) on a store opened the way the
  * server opens its data directory launches no Spark job, and reports
  * the counts of what was written.
  */
class MetricsJobsSpec extends AnyFunSuite {
  import TestSpark._

  test("a /metrics scrape launches zero Spark jobs and reports the written counts") {
    val data = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    val store = GraftServer.openStore(spark, data)
    CypherWrite.execute(store,
      "UNWIND range(1, 5) AS k CREATE (:Doc {key: k, name: 'doc ' + toString(k)})")
    CypherWrite.execute(store,
      "MATCH (a:Doc {key: 1}), (b:Doc {key: 2}) CREATE (a)-[:CITES]->(b)")
    CypherWrite.execute(store, "MATCH (d:Doc {key: 5}) DETACH DELETE d")
    store.setNodeVectorProperty("Doc:1", "embedding", Seq(1.0, 0.0))
    store.setNodeVectorProperty("Doc:2", "embedding", Seq(0.0, 1.0))
    store.setNodeVectorProperty("Doc:2", "other", Seq(0.5, 0.5))

    val server = new HttpTxServer(store,
      rbac = Some(Rbac(Map("tok-admin" -> Role.Admin)))).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): String = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.boundPort}$path"))
          .header("Authorization", "Bearer tok-admin").GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      var metrics, status, stats = ""
      val jobs = JobCount.of {
        metrics = get("/metrics")
        status = get("/status")
        stats = get("/admin/stats")
      }
      assert(jobs == 0, s"status scrapes launched $jobs Spark job(s)")
      assert(metrics.contains("nornicdb_nodes_total 4"), metrics)
      assert(metrics.contains("nornicdb_edges_total 1"), metrics)
      assert(status.contains("\"nodes\":4,\"edges\":1"), status)
      assert(status.contains("\"processed\":2"), status)
      assert(stats.contains("\"node_count\":4,\"edge_count\":1"), stats)
    } finally server.stop()
  }
}
