package graft

import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev profiling harness for the write-family rows (round-14 verdict item
  * #3): replays `q_privacy_lifecycle` statement by statement with wall
  * time and Spark-job counts per phase, so the 8.76 s attributes to
  * phases instead of a guess. Session from [[GraftSession]]. Not part
  * of the bench/verify contract.
  *
  * Usage: sbt "runMain graft.PrivacyProf [sfDir]"
  */
object PrivacyProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def t[A](tag: String)(f: => A): A = {
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val r = f
      // listener events are async; a short sleep drains the bus well
      // enough for a dev job count (off-by-one is acceptable here)
      Thread.sleep(30)
      System.err.println(f"[prof] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s  jobs=${jobs.get() - j0}")
      r
    }
    val g = GraphQueries.graph(spark, sfDir)
    t("graph warm") { g.nodes.count(); g.edges.count() }

    val reps = sys.env.getOrElse("GRAFT_PROF_REPS", "2").toInt
    (1 to reps).foreach { rep =>
      System.err.println(s"[prof] ---- rep $rep ----")
      import graft.graph.{GraphStore, PropertyGraph}
      import graft.operators.Privacy
      val rep0 = jobs.get(); val repT0 = System.nanoTime()
      val isCust = array_contains(col("labels"), "Customer")
      val store = t("store build") {
        val tagged = g.nodes.withColumn("properties",
          when(isCust, map_concat(col("properties"),
            map(lit("owner_id"), concat(lit("user"), col("key") % 50),
              lit("email"), concat(col("name"), lit("@example.com")))))
            .otherwise(col("properties")))
        new GraphStore(PropertyGraph(tagged, g.edges))
      }
      t("recordConsent 1")(Privacy.recordConsent(store, "user7", "training", given = true))
      t("recordConsent 2")(Privacy.recordConsent(store, "user7", "marketing", given = true))
      t("revokeConsent")(Privacy.revokeConsent(store, "user7", "marketing"))
      t("hasConsent x3") {
        Privacy.hasConsent(store, "user7", "training")
        Privacy.hasConsent(store, "user7", "marketing")
        Privacy.hasConsent(store, "user9", "training")
      }
      t("userConsents count")(Privacy.userConsents(store, "user7").count())
      t("export before")(Privacy.exportUserData(store, "user7").count())
      t("anonymize")(Privacy.anonymizeUserData(store, "user7"))
      t("export after")(Privacy.exportUserData(store, "user7").count())
      t("anon check count")(store.snapshot.nodes.filter(
        element_at(col("properties"), "owner_id") === Privacy.anonymousId("user7") &&
          col("name").isNull &&
          !map_contains_key(col("properties"), "email")).count())
      t("deleteUserData")(Privacy.deleteUserData(store, "user9"))
      t("final count")(store.snapshot.nodes.filter(isCust).count())
      System.err.println(f"[prof] TOTAL rep $rep: ${(System.nanoTime() - repT0) / 1e9}%7.3f s  jobs=${jobs.get() - rep0}")
    }
    spark.stop()
  }
}
