#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, in a fresh JVM.

    python3 perfbench/run.py --workload speech_pipeline --seed 1 --seconds 18 --trace 0

Builds the engine and the harness from source into the build directory
($CARGO_TARGET_DIR, default .bench_build; reused while the sources are
unchanged), runs the harness JVM at local[$SPARK_GRAFT_CPUS] (default 4)
(set-up, one cold pass that also writes each query's output, warm
passes), checks every output against its DuckDB oracle, and prints one
line per metric, then one JSON object as the last line of stdout.
`--trace 0` reports the end-to-end metrics; `--trace 1` makes a traced
run and reports the per-layer metrics, with the tracing overhead, each
against the end-to-end metric and workload it should move (layers.json).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("speech_pipeline", "dedup_graph", "streaming_ingest")
DATA = os.path.join(HERE, "data", "sf0.1")
HEAP = "7g"
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the unmanagedBase the sbt build declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        sbt = open(os.path.join(ROOT, "build.sbt")).read()
    except OSError:
        sbt = ""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        fail(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + harness


def build(build_root, jars):
    """Compile engine + harness with scalac into a directory named by the
    hash of the sources; reuse it when it is already complete."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    out = os.path.join(build_root, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_jvm(classes, jars, work, args):
    """Run the harness; return its result record. The JVM is killed and
    waited for if it outlives the timeout."""
    cmd = ["java", "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.buffer.pageSize=4m",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graft.perfbench.Harness", "--work", work, "--sf", DATA] + args
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S} s (log: {log_path})")
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        tail = open(log_path, errors="replace").read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited with {rc} (log: {log_path})")
    return json.load(open(result_path))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))

    if not os.path.isdir(DATA):
        fail(f"input tables missing: {DATA}")
    sources()
    jars = spark_jars()
    build_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_root, exist_ok=True)
    classes = build(build_root, jars)

    work = os.path.join(build_root, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = run_jvm(classes, jars, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus)])

    queries = result["queries"]
    mismatches = oracle.check(work, DATA, queries, result["oracle_sql"], cpus)
    failed = metrics.failed_queries(result, mismatches)
    for name, reason in sorted(failed.items()):
        print(f"FAILED {name}: {reason.splitlines()[0][:300]}")
    print(f"oracle: {len(queries) - len(failed)}/{len(queries)} queries ok "
          f"(exception, dropped final Sort or DuckDB mismatch fail a query)")

    e2e, info = metrics.end_to_end(result, failed)
    w = a.workload
    print(f"{w} failed_frac = {info['failed_frac']:.4f} ratio "
          f"({len(failed)} of {len(queries)} queries)")
    if a.trace == 0:
        print(f"{w} query_tail_s = {info['query_tail_s']:.6f} s  (slowest query's median)")
        for name, unit in metrics.E2E_UNITS.items():
            note = f"  (n={info['samples']})" if name == "query_p50_s" else ""
            print(f"{w} {name} = {e2e[name]:.6f} {unit}{note}")
        out = {name: {"value": e2e[name], "unit": unit}
               for name, unit in metrics.E2E_UNITS.items()}
    else:
        layers = json.load(open(os.path.join(HERE, "layers.json")))
        m = metrics.per_layer(result, failed)
        out = {}
        for spec in layers:
            name = spec["name"]
            out[name] = {"value": m[name], "unit": spec["unit"]}
            print(f"{w} {name} = {m[name]:.6g} {spec['unit']}"
                  f"  [moves {spec['moves']} on {spec['on']}]")
        print(f"spans: {os.path.join(work, 'spans.jsonl')}")
    print(json.dumps({"correct": not failed, "attempted": len(queries),
                      "failed": len(failed), "metrics": out}))


if __name__ == "__main__":
    main()
