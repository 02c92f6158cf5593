package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What a workload sees: the session, the tracer/executor, where its data
  * and scratch files live, and its seed.
  */
final class Ctx(val spark: SparkSession, val exec: Exec, val dataDir: String,
    val workDir: String, val seed: Long, val seconds: Double) {
  def tracer: Tracer = exec.tracer
  /** Figures a workload measures itself (set-up spans, WAL bytes, recall). */
  val extra = scala.collection.mutable.LinkedHashMap[String, Double]()
  /** Benchmark-side input generation, kept out of `setup_s`. */
  @volatile var genMs = 0.0
  def generating[A](f: => A): A = {
    val t0 = System.nanoTime(); try f finally genMs += (System.nanoTime() - t0) / 1e6
  }
  def timed[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); try f finally extra(name) = (System.nanoTime() - t0) / 1e9
  }
}

trait Workload {
  /** Build the store and run warm-up statements (untimed). */
  def setup(c: Ctx): Unit
  /** The timed, closed-loop section: whole rounds until `seconds` pass. */
  def run(c: Ctx, seconds: Double): Unit
  /** Check every answer of the run; returns the failures found. */
  def check(c: Ctx): Seq[String]
  /** Per-kind medians printed beside the end-to-end line (informational). */
  def detail(c: Ctx): Seq[(String, Double, String)]
}

object Main {
  /** Frames nothing references any more are unpersisted by Spark's
    * cleaner once the JVM collects them; collect first and wait for the
    * cleaner (block storage stops changing, at most 3 s), so the storage
    * figures count what the program holds, not when the JVM last ran a GC.
    */
  private def settle(sc: org.apache.spark.SparkContext): Double = {
    def stored = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
    System.gc()
    var (prev, cur, waited) = (-1.0, stored, 0)
    while (cur != prev && waited < 30) {
      Thread.sleep(100); waited += 1
      prev = cur; cur = stored
    }
    cur
  }

  private def arg(m: Map[String, String], k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = arg(a, "workload")
    val seed = arg(a, "seed").toLong
    val seconds = arg(a, "seconds").toDouble
    val traced = arg(a, "trace") == "1"
    val workDir = arg(a, "work")
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

    val wl: Workload = workload match {
      case "agent_memory" => new AgentMemory
      case "graph_analytics" => new GraphAnalytics
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val conf = spark.conf.getAll.toSeq.sorted
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.rdd.compress" }
    println(s"[perfbench] session ${conf.map { case (k, v) => s"$k=$v" }.mkString(" ")}" +
      s" spark.serializer=${sc.getConf.get("spark.serializer", "(default: Java)")}")

    val exec = new Exec(new Tracer(sc, traced))
    val c = new Ctx(spark, exec, arg(a, "data"), workDir, seed, seconds)
    wl.setup(c)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - c.genMs / 1e3

    settle(sc)
    val rddsBefore = sc.getPersistentRDDs.size
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = cpu.getProcessCpuTime
    val t0 = System.nanoTime()
    wl.run(c, seconds)
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuMs = (cpu.getProcessCpuTime - cpu0) / 1e6
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
    val storageMb = settle(sc)
    val rddsDelta = sc.getPersistentRDDs.size - rddsBefore
    c.tracer.drain()

    val tCheck = System.nanoTime()
    val errors = wl.check(c)
    val checkS = (System.nanoTime() - tCheck) / 1e9
    errors.take(20).foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))
    val ops = c.tracer.all
    val ok = ops.filterNot(_.failed)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", ok.size / wallS, "statements/s"),
        ("cpu_ms_per_op", cpuMs / math.max(ok.size, 1), "ms"),
        ("storage_mb", storageMb, "MB"))
      else Layers.metrics(c, wallS, cpus, rddsDelta, gcMs)

    if (!traced) {
      val d = wl.detail(c).map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      println(s"""[perfbench] detail {${d.mkString(", ")}}""")
    }
    println("[perfbench] ops " + ops.map(o => f"${o.kind}=${o.ms}%.0f").mkString(" "))
    println(s"[perfbench] $workload seed=$seed ops=${ops.size} wall_s=$wallS " +
      s"setup_s=$setupS gen_ms=${c.genMs} check_s=$checkS " + c.extra.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val m = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
    val json = s"""{"correct": ${errors.isEmpty}, "attempted": ${ops.size}, """ +
      s""""failed": ${ops.count(_.failed)}, "metrics": {${m.mkString(", ")}}}"""
    Files.write(Paths.get(arg(a, "out")), json.getBytes("UTF-8"))
    spark.stop()
  }
}

/** Per-layer metrics of a traced run, from the spans and Spark counts of
  * the timed section. A layer that does no work on a workload reads 0.
  */
object Layers {
  def metrics(c: Ctx, wallS: Double, cpus: Int, rddsDelta: Int,
      gcMs: Double): Seq[(String, Double, String)] = {
    val t = c.tracer
    val ops = t.all
    val n = math.max(ops.size, 1).toDouble
    def per(k: String, x: Long): Double = {
      val m = ops.count(_.kind.startsWith(k)); if (m == 0) 0.0 else x.toDouble / m
    }
    def med(xs: Seq[Double]): Double = Stats.median(xs)
    val queries = ops.filter(_.phases.contains("plan")).map(_.kind)
    val planJobs = t.work("", "plan")(_.jobs)
    val writes = ops.count(_.kind.startsWith("write."))
    def x(k: String): Double = c.extra.getOrElse(k, 0.0)
    Seq(
      ("cypher.parse_ms", med(t.phase("", "parse")), "ms"),
      ("cypher.plan_ms", med(t.phase("", "plan")), "ms"),
      ("cypher.plan_jobs", if (queries.isEmpty) 0.0 else planJobs.toDouble / queries.size, "count"),
      ("catalyst.plan_ms", med(t.phase("", "catalyst")), "ms"),
      ("spark.exec_ms", med(t.phase("", "exec")), "ms"),
      ("spark.jobs_per_op", t.work("")(_.jobs) / n, "count"),
      ("spark.stages_per_op", t.work("")(_.stages) / n, "count"),
      ("spark.tasks_per_op", t.work("")(_.tasks) / n, "count"),
      ("spark.shuffle_mb_per_op", t.work("")(_.shuffleBytes) / n / 1e6, "MB"),
      ("spark.spill_mb", t.work("")(_.spillBytes) / 1e6, "MB"),
      ("spark.core_busy_ratio", t.work("")(_.runMs) / (wallS * 1e3 * cpus), "ratio"),
      ("spark.persistent_rdds_delta", rddsDelta.toDouble, "count"),
      ("jvm.gc_ms", gcMs, "ms"),
      ("graph.build_s", x("graph.build_s"), "s"),
      ("graph.wal_open_s", x("graph.wal_open_s"), "s"),
      ("graph.create_ms", med(t.latencies("write.create")), "ms"),
      ("graph.merge_ms", med(t.latencies("write.merge")), "ms"),
      ("graph.set_ms", med(t.latencies("write.set")), "ms"),
      ("graph.link_ms", med(t.latencies("write.link")), "ms"),
      ("graph.delete_ms", med(t.latencies("write.delete")), "ms"),
      ("graph.jobs_per_write", per("write.", t.work("write.")(_.jobs)), "count"),
      ("graph.wal_bytes_per_write", if (writes == 0) 0.0 else x("graph.wal_bytes") / writes, "bytes"),
      ("graph.checkpoint_ms", x("graph.checkpoint_ms"), "ms"),
      ("search.vector_exec_ms", med(t.phase("search.vector", "exec")), "ms"),
      ("search.fulltext_exec_ms", med(t.phase("search.fulltext", "exec")), "ms"),
      ("search.hybrid_exec_ms", med(t.phase("search.hybrid", "exec")), "ms"),
      ("search.jobs_per_query", per("search.", t.work("search.")(_.jobs)), "count"),
      ("search.recall_at_10", x("search.recall_at_10"), "ratio"),
      ("algos.pagerank_jobs", per("algo.pagerank", t.work("algo.pagerank")(_.jobs)), "count"),
      ("algos.wcc_jobs", per("algo.wcc", t.work("algo.wcc")(_.jobs)), "count"),
      ("algos.lpa_jobs", per("algo.lpa", t.work("algo.lpa")(_.jobs)), "count"),
      ("algos.louvain_jobs", per("algo.louvain", t.work("algo.louvain")(_.jobs)), "count"),
      ("algos.pagerank_s", med(t.latencies("algo.pagerank", withFailed = true)) / 1e3, "s"),
      ("algos.wcc_s", med(t.latencies("algo.wcc", withFailed = true)) / 1e3, "s"),
      ("algos.lpa_s", med(t.latencies("algo.lpa", withFailed = true)) / 1e3, "s"),
      ("algos.louvain_s", med(t.latencies("algo.louvain", withFailed = true)) / 1e3, "s"),
      ("algos.ms_per_iteration", x("algos.ms_per_iteration"), "ms"))
  }
}
