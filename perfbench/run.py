#!/usr/bin/env python3
"""Benchmark of the graft engine: seeded, closed-loop workloads.

    python3 perfbench/run.py --workload agent_memory --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
shipped with Spark ($SPARK_HOME/jars, else the jar directory build.sbt
names), and generates the input tables; both are kept
under $CARGO_TARGET_DIR (default .bench_build) and rebuilt only when their
sources change. The engine then runs in-process under plain `java`, with
one Spark session built by graft.GraftSession and the heap build.sbt
gives the server (SPARK_DRIVER_MEM, default 8g).

The last line of standard output is one JSON object: whether every answer
was right, the statements attempted and failed, and the metrics (the
end-to-end ones, or with --trace 1 the per-layer ones).

    python3 perfbench/run.py --selftest

runs the benchmark's own tests: each check must reject a wrong answer.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("agent_memory", "graph_analytics")
SCALE = "0.01"
DEADLINE_S = 170  # a run must end within 180 s
# java.base packages Spark reflects into (build.sbt lists the same set)
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars(build_sbt):
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt)
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark/Scala jars under '{jars}' (set SPARK_HOME)")
    return jars


def server_heap(build_sbt):
    """The -Xmx build.sbt gives the server: $SPARK_DRIVER_MEM, else its default."""
    m = re.search(r'-Xmx\$\{sys\.env\.getOrElse\("SPARK_DRIVER_MEM",\s*"([^"]+)"\)\}', build_sbt)
    if not m:
        sys.exit("perfbench: build.sbt names no -Xmx default for SPARK_DRIVER_MEM")
    return os.environ.get("SPARK_DRIVER_MEM") or m.group(1)


def scalac(jars, sources, out, extra_cp, depends=""):
    """Compile `sources` into `out` unless the stamp says they, and the
    build they depend on, are unchanged.
    """
    stamp = os.path.join(out, ".stamp")
    want = digest(sources) + depends
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(os.path.dirname(out), os.path.basename(out) + ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
                        for n in ("compiler", "library", "reflect"))
    log(f"compiling {len(sources)} files into {out}")
    t0 = time.time()
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-usejavacp", "-cp", ":".join([os.path.join(jars, "*")] + extra_cp),
                    "-d", tmp, f"@{argfile}"], check=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    log(f"compiled in {time.time() - t0:.1f} s")


def build(root, build_dir):
    engine_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine_src:
        sys.exit("perfbench: no engine sources under src/main/scala; run from the repository root")
    jars = spark_jars(open(os.path.join(root, "build.sbt")).read())
    engine = os.path.join(build_dir, "engine-classes")
    bench = os.path.join(build_dir, "bench-classes")
    scalac(jars, engine_src, engine, [])
    bench_src = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
                       glob.glob(os.path.join(HERE, "test/*.scala")))
    scalac(jars, bench_src, bench, [engine], open(os.path.join(engine, ".stamp")).read())
    return jars, [bench, engine]


def data(build_dir):
    """Generate the input tables once per version of the generator."""
    out = os.path.join(build_dir, f"data-sf{SCALE}")
    stamp = os.path.join(out, ".stamp")
    want = digest([os.path.join(HERE, "datagen.py")]) + SCALE
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), out, SCALE], check=True)
        with open(stamp, "w") as f:
            f.write(want)
    return out


def java_cmd(jars, cp, main, heap, tmp=None):
    return (["java", "-Xss8m", f"-Xmx{heap}"] + ([f"-Djava.io.tmpdir={tmp}"] if tmp else []) +
            [x for o in ADD_OPENS for x in ("--add-opens", o)] +
            ["-Dspark.ui.enabled=false",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"), "-cp", ":".join(cp + [os.path.join(jars, "*")]), main])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    t_start = time.time()
    root = os.getcwd()
    build_dir = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(build_dir, exist_ok=True)
    jars, cp = build(root, build_dir)

    if a.selftest:
        sys.exit(subprocess.run(java_cmd(jars, cp, "perfbench.SelfTest", "512m")).returncode)

    data_dir = data(build_dir)
    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data_dir, "--work", work, "--out", out,
            "--cpus", str(len(os.sched_getaffinity(0)))]
    heap = server_heap(open(os.path.join(root, "build.sbt")).read())

    env = dict(os.environ, TMPDIR=work)
    env.pop("JAVA_TOOL_OPTIONS", None)
    proc = subprocess.Popen(java_cmd(jars, cp, "perfbench.Main", heap, tmp=work) + args, cwd=work, env=env)
    try:
        code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: the run did not finish in time")
    if code != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: the engine run exited with code {code}")
    result = open(out).read().strip()
    shutil.rmtree(work, ignore_errors=True)
    print(result, flush=True)


if __name__ == "__main__":
    main()
