#!/usr/bin/env python3
"""Benchmark of the MQTT ingest pipeline and a slice of the query registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):
  ingest_live    open-loop MQTT traffic over a loopback socket into the
                 keyed-upsert + diff-only history pipeline
  read_registry  a fixed slice of SparkEntry.queries over seeded tables,
                 checked with the repository's DuckDB oracle (tools/check.py)

Run from the root of a checkout. The first run builds the repository's
sources with sbt into .bench_build/; later runs reuse the build until a
source file changes. Each run prints its metrics by name, then one JSON
line: {"correct", "attempted", "failed", "metrics"}, whose metrics are the
end-to-end ones every workload shares (setup_s, op_p50_ms, op_p99_ms). With
--trace 1 they are every per-layer metric of BENCHMARK.json, and the full
trace (spans, per-query and per-batch records, tracing overhead) goes to
.bench_build/results/trace_<workload>_<seed>.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(BUILD, "results")
WORKLOADS = ("ingest_live", "read_registry")
CHECK = os.path.join(ROOT, "tools", "check.py")
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled benchmark, building it first if stale."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(CHECK)):
        die("repository sources (src/main/scala/graft, tools/check.py) not found; "
            "run from a checkout root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            die("set SPARK_HOME to a Spark 4 installation")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = subprocess.call(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = [ln.strip() for ln in f if "perfbench" in ln and "classes" in ln
                 and os.pathsep in ln and not ln.startswith("[")]
    if code != 0 or not lines:
        die(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=max(5.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("run did not finish in time")
    lines = [ln for ln in out.splitlines() if ln.startswith("perfbench-result ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-4000:])
        die(f"benchmark JVM failed (exit {proc.returncode})")
    return json.loads(lines[-1][len("perfbench-result "):])


def oracle_failures(data, check_dir, queries):
    """Queries whose results tools/check.py finds different from their DuckDB
    oracle; every query counts as failed if the checker itself fails."""
    p = subprocess.run([sys.executable, CHECK, data, check_dir], capture_output=True,
                       text=True, stdin=subprocess.DEVNULL, timeout=120)
    fails = [ln for ln in p.stdout.splitlines() if ln.startswith("FAIL ")]
    for ln in fails:
        print(f"oracle mismatch {ln[len('FAIL '):]}")
    if p.returncode != 0 and not fails:
        print(f"oracle check failed (exit {p.returncode}): {p.stderr.strip()[-400:]}")
        return queries
    return len(fails)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    deadline = time.time() + DEADLINE_S - min(60.0, time.time() - t_start)

    work = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RESULTS, exist_ok=True)
    trace_file = os.path.join(RESULTS, f"trace_{a.workload}_{a.seed}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--trace-file", trace_file]
    try:
        if a.workload == "read_registry":
            sys.path.insert(0, HERE)
            import tables
            data = os.path.join(work, "data")
            tables.generate(a.seed, data)
            args += ["--data", data]
        res = run_jvm(cp, args, work, deadline)
        failed, attempted = res["failed"], res["attempted"]
        if a.workload == "read_registry":
            failed += oracle_failures(data, res["info"]["check_dir"], res["info"]["queries"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = min(failed, attempted)
    e2e = res["metrics"]
    both = dict(e2e, **res["named"])
    summary = {"workload": a.workload, "seed": a.seed, "failed_ratio": failed / attempted,
               "metrics": both, "info": res["info"]}
    last = os.path.join(RESULTS, f"last_{a.workload}.json")
    if a.trace == 0:
        with open(last, "w") as f:
            json.dump(summary, f)
    else:
        # tracing overhead: this traced run's end-to-end metrics minus the
        # latest untraced run's of the same workload
        overhead = {}
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)["metrics"]
            overhead = {k: {"traced": v["value"], "untraced": base[k]["value"],
                            "delta": v["value"] - base[k]["value"], "unit": v["unit"]}
                        for k, v in both.items() if k in base}
        if os.path.exists(trace_file):
            with open(trace_file) as f:
                doc = json.load(f)
            doc["overhead"] = overhead
            doc["failed"], doc["failed_ratio"] = failed, failed / attempted
            with open(trace_file, "w") as f:
                json.dump(doc, f)
        for k, v in overhead.items():
            print(f"overhead {k} = {v['delta']:+.4f} {v['unit']} "
                  f"(traced {v['traced']:.4f}, untraced {v['untraced']:.4f})")
        print(f"trace written to {os.path.relpath(trace_file, ROOT)}")

    metrics = e2e
    if a.trace:
        # every per-layer metric of BENCHMARK.json; one this workload does
        # not measure (a layer it bypasses) reads 0
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer"]
        metrics = {m["name"]: res["layers"].get(m["name"], {"value": 0.0, "unit": m["unit"]})
                   for m in declared}
    details = dict(res["info"], session_s=res["session_s"],
                   jvm_wall_s=res["wall_s"], run_wall_s=time.time() - t_start)
    print(f"{a.workload} run details: {json.dumps(details, sort_keys=True)}")
    for k, v in both.items():
        print(f"{a.workload} {k} = {v['value']:.4f} {v['unit']}")
    print(f"{a.workload} failed_ratio = {failed / attempted:.6f} ratio "
          f"({failed} of {attempted} operations)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
