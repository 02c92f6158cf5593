package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: the server, Bench, Verify, the dev profilers,
  * the tests and perfbench all build their SparkSession here, so the
  * oracle and the benchmarks check the config the server serves.
  *
  * Cluster-safe: AQE on (runtime shuffle-partition coalescing + skew-join
  * splitting), broadcast threshold raised so every TESTDATA dimension
  * table broadcasts, shuffle partitions sized for the local core count
  * rather than the 200 default.
  */
object GraftSession {
  def builder(master: String, cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Cypher/APOC map semantics: duplicate keys resolve to the LAST
      // value (Go map overwrite), not an ANSI error. The planner's
      // map_concat / map_from_entries compilations rely on it.
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // compress serialized RDD blocks (disk spill of the MEMORY_AND_DISK
      // graph/ctx caches): boxed-long graph RDDs shrink 3-6× under lz4,
      // bounding per-executor spill dirs at scale (round-14 sf10 lesson)
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")

  /** Local core count from `SPARK_GRAFT_CPUS`, defaulting to the
    * machine's available processors. */
  def cpus(env: collection.Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS") match {
      case None => Runtime.getRuntime.availableProcessors()
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** `local[n]` session sized by [[cpus]]. */
  def local(): SparkSession.Builder = {
    val n = cpus()
    builder(s"local[$n]", n)
  }

  def get(): SparkSession = {
    val s = local().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
