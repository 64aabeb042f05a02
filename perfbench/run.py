#!/usr/bin/env python3
"""Benchmark of the graft engine: the five-stage episode pipeline and a gate set.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pipeline_full, gates (both in BENCHMARK.json) and
pipeline_incremental (a known failure, see perfbench/README.md).

The first run builds the program's main sources together with the
benchmark's Scala sources (perfbench/build.sbt, sbt offline) into
perfbench/target. Each run makes its inputs from --seed under
perfbench/target/work, runs one local[4] JVM, checks every pass's outputs
and prints one JSON line as the last line of stdout: correct, attempted,
failed and the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(TARGET, "work")
EPISODES = 30          # pipeline corpus size (three carry planted defects)
GATES_SF = 0.001        # gate tables scale factor
WORKLOADS = ("pipeline_full", "pipeline_incremental", "gates")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    paths = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the sources match the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found; run from a checkout root")
    if not shutil.which("sbt") or not shutil.which("java"):
        die("sbt and java are needed to build the benchmark")
    submit = shutil.which("spark-submit")
    spark_home = os.environ.get("SPARK_HOME") or (
        submit and os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    stamp, cp_file = os.path.join(TARGET, "build.stamp"), os.path.join(TARGET, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(TARGET, exist_ok=True)
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    # sbt's global state, boot jars and temp files stay under perfbench/target
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true",
            f"-Dsbt.global.base={TARGET}/sbt-global", f"-Dsbt.boot.directory={TARGET}/sbt-boot",
            f"-J-Djava.io.tmpdir={TARGET}/tmp", f"-J-Djna.tmpdir={TARGET}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               TMPDIR=os.path.join(TARGET, "tmp"), SPARK_HOME=spark_home)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", *opts, "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def gate_tables(work, seed):
    """Generates the gate tables three times; returns (dir, median seconds)."""
    sys.path.insert(0, HERE)
    import tables
    times = []
    for i in range(3):
        out = os.path.join(work, f"tables-{i}")
        os.makedirs(out)
        t0 = time.perf_counter()
        tables.generate(out, seed, GATES_SF)
        times.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(work, f"tables-{i - 1}"))
    return out, statistics.median(times)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    classpath = build()
    t_start = time.time()  # a build may take longer than a run

    work = os.path.join(WORK, f"{a.workload}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen_s = 0.0
    if a.workload == "gates":
        tdir, gen_s = gate_tables(work, a.seed)
        extra = ["--tables", tdir, "--gates", os.path.join(HERE, "gates.txt")]
    else:
        extra = ["--episodes", str(EPISODES)]
    result = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--out", result, *extra]
    log = os.path.join(work, "jvm.log")
    # a terminated run takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=lf, stderr=lf)
        try:
            proc.wait(timeout=max(10, JVM_TIMEOUT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            die(f"benchmark JVM timed out; log: {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        die(f"benchmark JVM exited with {proc.returncode}")
    with open(result) as f:
        r = json.load(f)

    failures = r["failures"]
    failed = r["failed"]
    if a.workload == "gates":
        import oracle
        bad = oracle.compare(tdir, os.path.join(work, "results"))
        failures += bad
        failed += len(bad)
    metrics = r["metrics"]
    if "setup_s" in metrics:
        metrics["setup_s"] += gen_s
    missing = [m["name"] for m in wanted if metrics.get(m["name"]) is None]
    if missing:
        die(f"metrics not measured: {missing}")
    for msg in failures[:20]:
        print(f"[perfbench] FAIL {msg}", file=sys.stderr)
    print(f"[perfbench] {a.workload} seed={a.seed} trace={a.trace} passes={r['passes']} "
          f"host={json.dumps(r['host'])} wall={time.time() - t_start:.1f}s", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": r["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
