package graft

import org.scalatest.funsuite.AnyFunSuite

/** Census of the engine's option surface: every string-literal key that
  * `src/main/scala` reads through `sys.env.get`/`sys.env.getOrElse`,
  * `sys.props.get` or `conf.getOption("spark.graft.…")` must be on the
  * list below. A new knob is then added on purpose, in a diff a reviewer
  * sees — ROADMAP north-star 2 keeps no size-tier routes or A/B flags
  * after the measurement that decided them.
  */
class ConfigSurfaceSpec extends AnyFunSuite {

  private val allowed = Set(
    // environment
    "GRAFT_ARTIFACT_DIR", "GRAFT_PROF_REPS", "JAVA_HOME", "SPARK_HOME",
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_ISOLATE", "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_BENCH_WARMUP",
    "SPARK_GRAFT_BENCH_INJECT_OOM", "SPARK_GRAFT_BENCH_OUT",
    "SPARK_GRAFT_BENCH_CHILD_XMX", "SPARK_GRAFT_BENCH_CHILD_TIMEOUT_SEC",
    // JVM system properties (test plumbing for the loop bounds)
    "graft.test.tallyFlushEntries", "graft.test.loopCkptMinEdges",
    "graft.test.endgamePairCap",
    // Spark session conf
    "spark.graft.artifactDir", "spark.graft.checkpointDir")

  private val reads = Seq(
    """sys\.env\.get(?:OrElse)?\(\s*"([^"]+)"""",
    """sys\.props\.get\(\s*"([^"]+)"""",
    """conf\.getOption\(\s*"(spark\.graft\.[^"]+)"""").map(_.r)

  test("every config key read in src/main is on the allowlist") {
    val root = {
      var d = new java.io.File(".").getCanonicalFile
      while (d != null && !new java.io.File(d, "src/main/scala").isDirectory)
        d = d.getParentFile
      assert(d != null, "could not locate the repo root containing src/main/scala")
      d
    }
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val found = files(new java.io.File(root, "src/main/scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      val rel = root.toPath.relativize(f.toPath)
      reads.flatMap(_.findAllMatchIn(text).map(m => m.group(1) -> rel.toString))
    }
    val keys = found.map(_._1).toSet
    val added = found.filterNot(kv => allowed(kv._1))
      .map { case (k, f) => s"$k ($f)" }.distinct
    assert(added.isEmpty,
      s"new config keys: ${added.mkString(", ")}. Each is an option a user can " +
        "set; add it to ConfigSurfaceSpec.allowed on purpose (ROADMAP north-star 2: " +
        "no size-tier routes or A/B flags kept after the measurement that decided them)")
    val stale = allowed -- keys
    assert(stale.isEmpty, s"allowlisted keys no longer read: ${stale.mkString(", ")}")
  }
}
