#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <ingest_steady|gates> --seed N \
        --seconds S --trace 0|1 [--record]

Run from the root of a source checkout. The first run compiles the
program (src/main/scala) together with the benchmark's JVM side
(perfbench/src) with the Scala compiler shipped in Spark's jars, into
.bench_build/classes; later runs reuse it while the sources are
unchanged. Each run starts a fresh JVM, writes a result file with run
telemetry to .bench_build/results/ and, with --trace 1, a span file
next to it.

--record (gates only) stores the run's gate digests in perfbench/gates.json
as the expected values; do that only on a commit whose gates are known
to be right.
"""

import argparse
import hashlib
import json
import math
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
RESULTS = os.path.join(BUILD, "results")
HEAP = "3g"
RUN_LIMIT_S = 170  # a run must end within 180 s, its build aside
WORKLOADS = ("ingest_steady", "gates")
GATE_DATA = os.path.join(HERE, "src", "graft", "perfbench", "GateData.scala")

# the JDK 17 module opens Spark needs outside spark-submit (build.sbt's
# jdk17AddOpens)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(jars):
    """Compile the program and perfbench/src unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala: run from a source checkout")
    files = sources()
    stamp = digest(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.path.join(jars, "*")] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return stamp


def cpu_steal_s():
    """Seconds of CPU time the hypervisor gave to other guests, so far."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cmd, limit_s, log_path):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    spec = json.load(open(spec_path))
    jars = spark_jars()
    stamp = build(jars)

    t_start = time.time()
    loadavg_pre = os.getloadavg()[0]
    nproc = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(work, "out.json")
    trace_file = os.path.join(RESULTS, f"{tag}.trace.jsonl")
    gates = json.load(open(os.path.join(HERE, "gates.json")))

    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(nproc), "--work", work, "--out", out,
            "--trace-file", trace_file, "--gates", ",".join(gates["gates"]),
            "--data-dir", os.path.join(BUILD, "gates-data-" + digest([GATE_DATA]))]
    if not a.record:
        expected = os.path.join(work, "expected.txt")
        with open(expected, "w") as fh:
            for name, d in gates["digests"].items():
                fh.write(f"{name} {d['rows']} {d['hash']}\n")
        cmd += ["--expected", expected]

    log_path = os.path.join(RESULTS, f"{tag}.log")
    steal0, usage0 = cpu_steal_s(), resource.getrusage(resource.RUSAGE_CHILDREN)
    code = run_jvm(cmd, RUN_LIMIT_S - (time.time() - t_start), log_path)
    steal1, usage = cpu_steal_s(), resource.getrusage(resource.RUSAGE_CHILDREN)
    if code != 0 or not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run failed (exit {code}); see {os.path.relpath(log_path, ROOT)}")
    r = json.load(open(out))
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = r["layers"] if a.trace else r["e2e"]
    metrics, correct = {}, bool(r["correct"])
    for m in wanted:
        v = source.get(m["name"], 0.0 if a.trace else None)
        if v is None or not math.isfinite(v):
            correct = False
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    overhead = None
    if a.trace:
        # tracing overhead: this traced run's end-to-end values minus the
        # latest untraced run's of the same workload
        untraced = [os.path.join(RESULTS, f) for f in os.listdir(RESULTS)
                    if f.startswith(f"{a.workload}-seed") and f.endswith("-trace0.json")]
        if untraced:
            base = json.load(open(max(untraced, key=os.path.getmtime)))["e2e"]
            overhead = {k: r["e2e"][k] - base[k] for k in r["e2e"] if k in base}

    result = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "correct": correct, "attempted": r["attempted"], "failed": r["failed"],
        "metrics": metrics, "e2e": r["e2e"], "named": r["named"],
        "telemetry": {
            "loadavg_pre": loadavg_pre, "nproc": nproc, "heap": HEAP, "seed": a.seed,
            "git_commit": git_commit(), "source_digest": stamp,
            "micro_batches": r["extra"].get("micro_batches", 0),
            "wall_s": time.time() - t_start,
            "jvm_cpu_s": usage.ru_utime + usage.ru_stime - usage0.ru_utime - usage0.ru_stime,
            "jvm_max_rss_mb": usage.ru_maxrss / 1024,
            "steal_s": None if steal0 is None or steal1 is None else steal1 - steal0,
        },
        "tracing_overhead": overhead,
        "extra": r["extra"],
    }
    with open(os.path.join(RESULTS, f"{tag}.json"), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)

    if a.record:
        if a.workload != "gates" or r["failed"]:
            fail("--record needs a gates run without failures")
        gates["digests"] = r["extra"]["digests"]
        with open(os.path.join(HERE, "gates.json"), "w") as fh:
            json.dump(gates, fh, indent=1, sort_keys=True)
            fh.write("\n")

    named = " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                     for k, v in sorted(r["named"].items()))
    print(f"perfbench {tag}: {named}")
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
