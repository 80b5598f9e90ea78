#!/usr/bin/env python3
"""The graft benchmark: one workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the benchmark's
own Scala package when their sources changed (sbt, offline), makes the
workload's inputs from the seed, runs graftbench.Main, checks every
warm-up output against DuckDB, and prints each metric with its unit. The
last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1). Exits non-zero when an output fails its check.
"""
import argparse
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

import gen_pipeline  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

CORPUS = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170

# untimed passes before timing: the pipeline's calls keep speeding up
# over more of them than a pass of queries does
WARMUP = {"ingest_index": 2, "pipeline_2m": 4}
WORKLOADS = {
    "ingest_index": [
        "q104_stream_tws_counts", "q166_stream_line_dedup", "q208_stream_phash_ingest",
        "q249_stream_crawl_ingest", "q224_index_vacuum"],
    "pipeline_2m": None,
}
PIPELINE_ROWS = 2_000_000

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def unit_of(name):
    if name.endswith("_ns_row"):
        return "ns/row"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb_written"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file that goes into the two builds."""
    h = hashlib.sha256()
    roots = [(ROOT, ["build.sbt", "project/build.properties", "src/main"]),
             (HERE, ["build.sbt", "project/build.properties", "src"])]
    for base, entries in roots:
        for entry in entries:
            path = os.path.join(base, entry)
            files = [path] if os.path.isfile(path) else sorted(
                os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
            for f in files:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jars the program's own build compiles against (its
    unmanagedBase), else $SPARK_HOME/jars. perfbench/build.sbt does the same."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("cannot find the Spark jars: set SPARK_HOME", 2)


def build():
    """Compile the program, then the benchmark package, unless unchanged."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(WORK, "build.log"), "w") as log:
        for cwd in (ROOT, HERE):
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=800)
            if r.returncode != 0:
                fail(f"build failed in {os.path.relpath(cwd, ROOT) or '.'}; "
                     f"see .bench_build/build.log", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def cpu_jiffies():
    """(steal, total) jiffies of the host's CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def run_jvm(run_dir, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cp = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                          os.path.join(ROOT, "target", "scala-2.13", "classes"),
                          os.path.join(spark_jars(), "*")])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap: heap growth and first-touch page faults
    # stay out of the timed passes
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={run_dir}",
            "-cp", cp, "graftbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("benchmark JVM timed out", 4)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(os.path.join(run_dir, "out", "raw.json")):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"benchmark JVM exited with {code}", 4)
    with open(os.path.join(run_dir, "out", "raw.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so that the JVM is stopped and the run dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "GraftSession.scala")):
        fail("the program's sources are not here: run from the root of a graft checkout", 2)
    build()

    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    context = {}
    try:
        args = ["--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--warmup", str(WARMUP[a.workload]), "--out", os.path.join(run_dir, "out")]
        queries = WORKLOADS[a.workload]
        if queries is None:
            t0 = time.perf_counter()
            data_a, data_b = gen_pipeline.generate(os.path.join(run_dir, "inputs"), a.seed,
                                                   rows=PIPELINE_ROWS)
            context["input_gen_s"] = time.perf_counter() - t0
            args += ["--pipeline", f"{data_a},{data_b}"]
        else:
            args += ["--corpus", CORPUS, "--queries", ",".join(queries)]
        before = cpu_jiffies()
        raw = run_jvm(run_dir, args)
        after = cpu_jiffies()
        if before and after and after[1] > before[1]:
            # CPU time the hypervisor gave to others while the JVM ran: a
            # busy host shows here, not as a program change
            context["host_steal_frac"] = (after[0] - before[0]) / (after[1] - before[1])

        warm_dir = os.path.join(run_dir, "out", "warm")
        problems = {f"{w['name']} (warm-up {w['pass']})": w["error"]
                    for w in raw["warm"] if w["error"]}
        ok_names = [w["name"] for w in raw["warm"] if w["pass"] == 0 and not w["error"]]
        if queries is None:
            if ok_names:
                problems["pipeline"] = oracle.check_pipeline(
                    os.path.join(warm_dir, "pipeline"), data_a, data_b)
        else:
            problems.update(oracle.check_queries(warm_dir, CORPUS, raw["oracle_sql"], ok_names))
        problems = {k: v for k, v in problems.items() if v}
        timed_errors = [e for e in raw["executions"] if e["error"]]
        attempted = len(raw["warm"]) + len(raw["executions"])
        failed = len(problems) + len(timed_errors)

        context["cpu_probe_s"] = raw["cpu_probe_s"]
        context["cores"] = raw["cores"]
        if a.trace:
            metrics = stats.per_layer(raw)
        else:
            metrics, extra = stats.end_to_end(raw)
            context.update(extra)
            context["failed_frac"] = failed / attempted
            context["disk_retained_mb"] = raw["retained"]["scratch_bytes"] / 1048576.0
        for name, msg in sorted(problems.items()):
            print(f"FAIL {name}: {msg}")
        for e in timed_errors:
            print(f"FAIL {e['name']} (pass {e['pass']}): {e['error']}")
        for name, value in metrics.items():
            print(f"{name} {value} {unit_of(name)}")
        if not a.trace:
            print(f"failed_frac {context['failed_frac']} ratio")
            print(f"disk_retained_mb {context['disk_retained_mb']} MB")
        print("context " + json.dumps(context, sort_keys=True))

        keep = ("pass", "traced", "wall_s", "hygiene_before", "hygiene_after")
        report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "metrics": metrics, "context": context, "failures": problems,
                  "passes": [{k: p[k] for k in keep} for p in raw["passes"]]}
        if a.trace:
            report["spans"] = stats.build_spans(raw)
        os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
        with open(os.path.join(WORK, "reports",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(report, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
