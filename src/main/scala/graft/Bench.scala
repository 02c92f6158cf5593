package graft
import graft.functions.JsonImpls.{quote => jstr}
object Bench {
  def main(args: Array[String]): Unit = {
    // scale probes run each query in its OWN JVM: one OOM costs one row,
    // not the run (round-11 sf3 lost all 12 probed rows to one Louvain
    // OOM because every query shared a SparkContext)
    if (sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").exists(v => v == "1" || v == "true")) {
      isolated(); return
    }
    inProcess()
  }

  /** Compact machine-readable summary, printed as the LAST stdout line by
    * BOTH bench modes. The full per-query JSON line is ~25 KB (281 rows ×
    * 3 maps) and a harness that keeps only a bounded stdout tail cannot
    * parse it — round 14's driver kept a 2000-char tail and parsed null in
    * every run. This line carries the totals and metadata only (no
    * per-query maps), so it survives a 2000-char tail by construction
    * (length is spec-asserted in BenchSummarySpec); the full JSON is still
    * printed above it and written to SPARK_GRAFT_BENCH_OUT.
    */
  def summaryLine(total: Double, fastTotal: Double, nQueries: Int,
      nErrors: Int, cpus: Int, sfDir: String, isolate: Boolean): String = {
    s"""{"metric":"total","value":$total,"unit":"sec","summary":true,""" +
      s""""value_fast_tier":$fastTotal,"value_oracle_tier":${total - fastTotal},""" +
      s""""n_queries":$nQueries,"n_errors":$nErrors,"cpus":$cpus,""" +
      s""""isolate":$isolate,"sf":${jstr(sfDir)}}"""
  }

  // deliberate-slow oracle fixtures (DECIMAL-routed sums, DF twins kept
  // for their exact unrolled-CTE oracles): split out of the fast-tier
  // headline so ~15 s of intentional oracle cost doesn't read as a
  // regression of the fast paths (round-7 verdict #9)
  private val oracleTier = Set("q_algo_wcc_df", "q_algo_pagerank", "q_vector_topk_exact",
    "q_algo_fastrp", "q_algo_label_prop_star", "q_algo_wcc_star",
    // deliberate-slow durability fixture: every store pin is an EAGER
    // reliable checkpoint() to disk — the row exists to drive that
    // path under oracle check, not to race the in-memory write cycle
    "q_cypher_write_cycle_ckpt")

  private def inProcess(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // pre-materialize the shared graph cache: the reference's benchmarks
    // also run against loaded storage (BASELINE.md measures query ops/s,
    // not cold load) — otherwise one arbitrary query absorbs the ~7 s
    // one-time build
    val g = GraphQueries.graph(spark, sfDir)
    g.nodes.count(); g.edges.count()
    // …and the GraphX id-dictionary context the SCC and path family
    // shares (round-2 bench showed the first algo query absorbing the ~5 s
    // ctx build)
    graft.algos.GraphXAlgos.warm(g)
    // …and the bucketed table layout (the ingest job's one-time write, like
    // the reference benchmarking against loaded storage) so the bucketed
    // join row measures the JOIN, not the layout build
    graft.sources.Bucketing.prepare(spark, sfDir)
    // …and the link-prediction adjacency the gds.linkPrediction point
    // queries share
    graft.algos.LinkPredict.warm(g, Seq("SUPPLIES"))
    // …and the fact-table parquet first touch (OS page cache + footers),
    // which otherwise lands on one arbitrary relational query
    // (q_agg_global / q_cypher_var_length_zero in the round-4 audit)
    Tables.factTables.foreach(t => Tables.load(spark, sfDir, t).count())
    // …and the Northwind compat fixture (18 Cypher write statements, built
    // once per JVM) so the first q_nw_* row measures its query, not the
    // seed — the reference's own benchmark also seeds before timing
    NorthwindFixture.graph(spark, sfDir).nodes.count()
    MimirFixture.graph(spark, sfDir).nodes.count()
    // optional comma-separated filter for focused perf iteration
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Per-query warm-up + best-of-N (round-7 verdict #1): a single timed
    // run drifted ±25% on the total and ±4× on single rows between
    // same-code runs, drowning the perf signal. Each query now runs one
    // untimed warm-up then REPS timed reps; `queries` carries the MIN
    // (the noise-robust number deltas compare), `queries_median` the
    // median. SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_BENCH_WARMUP=0
    // restores the old single-shot behavior for quick iteration.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt.max(0)
    // a query that throws is a BROKEN query, not a timing: record the error
    // per-query, keep it out of the timings map, and exit non-zero so a
    // breakage can never ship as a plausible-looking 0.08 s row again
    // test hook for the isolation harness: the named query allocates until
    // the heap genuinely OOMs (run the child with -XX:+ExitOnOutOfMemoryError
    // and this reproduces the sf3 failure mode — abrupt JVM death mid-query)
    val injectOom = sys.env.get("SPARK_GRAFT_BENCH_INJECT_OOM")
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        def once(): Either[String, Double] =
          try {
            if (injectOom.contains(name)) {
              val sink = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
              while (true) sink += new Array[Long](1 << 22)
            }
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            Right((System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable => Left(
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
          }
        // GC-state noise made the DECIMAL oracle-tier rows swing 2× between
        // rounds with no code change (round-9 verdict #8): in best-of-N
        // mode they run min-of-5 so the min is a stable floor. Single-shot
        // mode (REPS=1, quick iteration) is left alone.
        val qReps = if (oracleTier(name) && reps > 1) math.max(reps, 5) else reps
        val runs = ((1 to warmup).map(_ => once()) ++ (1 to qReps).map(_ => once()))
          .drop(warmup)
        runs.collectFirst { case Left(e) => e } match {
          case Some(e) => (name, Double.NaN, Double.NaN, Some(e))
          case None =>
            val ts = runs.collect { case Right(t) => t }.sorted
            (name, ts.head, ts(ts.size / 2), None)
        }
      }
    val ok = results.collect { case (k, v, _, None) => s"\"" + k + "\":" + v }
    val qs = ok.mkString("{", ",", "}")
    val med = results.collect { case (k, _, m, None) => s"\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val tiers = results.collect { case (k, _, _, None) =>
      s"\"$k\":\"${if (oracleTier(k)) "oracle" else "fast"}\"" }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) => s"${jstr(k)}:${jstr(e)}" }
    val errJson = if (errs.isEmpty) "" else s""","errors":${errs.mkString("{", ",", "}")}"""
    val total = results.collect { case (_, v, _, None) => v }.sum
    val fastTotal = results.collect { case (k, v, _, None) if !oracleTier(k) => v }.sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"warmup":$warmup,""" +
      s""""value_fast_tier":$fastTotal,"value_oracle_tier":${total - fastTotal},""" +
      s""""queries":$qs,"queries_median":$med,"tier":$tiers$errJson,"sf":${jstr(sfDir)}}"""
    println(json)
    println(summaryLine(total, fastTotal, results.size, errs.size,
      cpus, sfDir, isolate = false))
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
    }
    spark.stop()
    if (errs.nonEmpty) {
      System.err.println(s"[bench] ${errs.size} queries FAILED")
      sys.exit(1)
    }
  }

  // ========================================== per-query JVM isolation ====

  /** Classpath for child benches: this code's classes dir + the unmanaged
    * Spark jars — buildable from inside sbt, where java.class.path is only
    * the sbt launcher.
    */
  private def childClasspath(): String = {
    val own = new java.io.File(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getPath
    val sparkJars = sys.env.getOrElse("SPARK_HOME", "/opt/spark") + "/jars/*"
    s"$own:$sparkJars"
  }

  private def extract(json: String, key: String): Map[String, String] =
    (s""""$key":\\{([^}]*)\\}""".r.findFirstMatchIn(json).map(_.group(1)) match {
      case Some(body) if body.nonEmpty =>
        // values are numbers or JSON strings with escaped quotes
        """"((?:[^"\\]|\\.)*)":("(?:[^"\\]|\\.)*"|[^,]+)""".r
          .findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toSeq
      case _ => Seq.empty
    }).toMap

  /** Parent mode: fork one JVM per query (same env, SPARK_GRAFT_BENCH_ONLY
    * pinned to the query, -XX:+ExitOnOutOfMemoryError so a task OOM kills
    * the child the way an executor loss would), collect each child's JSON
    * from a temp file, merge. A child that dies or times out records an
    * error for ITS query; every other row still gets timed.
    */
  private def isolated(): Unit = {
    val cpus = GraftSession.cpus() // fail before forking on a bad SPARK_GRAFT_CPUS
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val xmx = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHILD_XMX", "24g")
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHILD_TIMEOUT_SEC", "1800").toLong
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val medians = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // per-child wall clock (JVM + session + warm + query): child_wall −
    // query time is the per-row isolation overhead the round-13 verdict
    // item #7 calibration needs, recorded in the JSON so the evidence is
    // self-contained instead of parsed out of stderr
    val walls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    names.foreach { name =>
      val out = java.nio.file.Files.createTempFile(s"bench_$name", ".json")
      // per-child spark.local.dir, deleted by THIS parent after the child
      // exits: an OOM-killed or ENOSPC-killed child cannot clean its own
      // blockmgr/spill dirs, and the round-14 sf10 probe showed one dead
      // child's 64 GB of leaked spill poisoning every later child with
      // "No space left on device"
      val localDir = java.nio.file.Files.createTempDirectory(s"bench_local_$name")
      val pb = new ProcessBuilder(
        sys.env.getOrElse("JAVA_HOME", "/usr") + "/bin/java",
        s"-Xmx$xmx", "-XX:+ExitOnOutOfMemoryError",
        // the first sf10 shared-context probe died to SPURIOUS OOMs:
        // "Retried waiting for GCLocker too often allocating 4 words" on
        // an 80 GB heap — lz4 JNI critical sections (shuffle + the new
        // spark.rdd.compress cache blocks) across 32 task threads starve
        // tiny allocations during GCLocker drains; the stock retry count
        // (2) gives up while the heap is nearly empty. Raising it is the
        // standard remedy; on a real cluster these flags belong in
        // spark.executor.extraJavaOptions for the same reason.
        "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
        s"-Dspark.local.dir=$localDir",
        "--add-exports=java.base/sun.nio.ch=ALL-UNNAMED",
        "--add-opens=java.base/java.lang=ALL-UNNAMED",
        "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
        "--add-opens=java.base/java.util=ALL-UNNAMED",
        "--add-opens=java.base/java.nio=ALL-UNNAMED",
        "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
        "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
        "-cp", childClasspath(), "graft.Bench")
      // the child's stdout (its own JSON and summary lines) is copied to
      // stderr below, so this parent's summary is the only one on stdout;
      // its result comes back through SPARK_GRAFT_BENCH_OUT
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val env = pb.environment()
      env.remove("SPARK_GRAFT_BENCH_ISOLATE")
      env.put("SPARK_GRAFT_BENCH_ONLY", name)
      env.put("SPARK_GRAFT_BENCH_OUT", out.toString)
      System.err.println(s"[bench-isolate] $name ...")
      val t0 = System.nanoTime()
      val proc = pb.start()
      val copy = new Thread(() => proc.getInputStream.transferTo(System.err))
      copy.setDaemon(true); copy.start()
      val finished = proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!finished) {
        proc.destroyForcibly(); proc.waitFor()
        errors(name) = jstr(s"timeout after ${timeoutSec}s")
      } else {
        val code = proc.exitValue()
        val json = try java.nio.file.Files.readString(out) catch { case _: Exception => "" }
        val qs = extract(json, "queries")
        val md = extract(json, "queries_median")
        val es = extract(json, "errors")
        if (qs.contains(name)) {
          timings(name) = qs(name); md.get(name).foreach(medians(name) = _)
        } else if (es.contains(name)) errors(name) = es(name)
        else errors(name) = jstr(s"child exited $code with no result" +
          (if (code == 3 || code == 137) " (OOM-killed)" else ""))
        walls(name) = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench-isolate] $name -> " +
          s"${timings.get(name).orElse(errors.get(name)).getOrElse("?")}" +
          f" (child ${(System.nanoTime() - t0) / 1e9}%.0f s)")
      }
      copy.join(10000) // the child has exited: its stdout ends
      try java.nio.file.Files.deleteIfExists(out) catch { case _: Exception => () }
      try { // recursive delete of the child's spill dir, children first
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        Files.walk(localDir).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      } catch { case _: Exception => () }
    }
    val total = timings.values.map(_.toDouble).sum
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qs = timings.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val md = medians.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val errJson =
      if (errors.isEmpty) ""
      else s""","errors":${errors.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}"""
    val wj = walls.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","isolate":true,""" +
      s""""queries":$qs,"queries_median":$md,"child_wall":$wj$errJson,"sf":${jstr(sfDir)}}"""
    println(json)
    val fastTotal = timings.collect {
      case (k, v) if !oracleTier(k) => v.toDouble }.sum
    println(summaryLine(total, fastTotal, timings.size, errors.size,
      cpus, sfDir, isolate = true))
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
    }
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries FAILED (isolated)")
      sys.exit(1)
    }
  }
}
