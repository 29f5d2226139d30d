#!/usr/bin/env python3
"""Lake benchmark: ingest_replay, query_suite and lake_dml.

Run from the root of a checkout:

    python3 lakebench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

It builds the program and the benchmark from source with sbt (once per
source state), makes the workload's inputs from the seed, runs the
workload in one JVM on local[nproc], checks every answer, and prints
one JSON line last: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Lines before it name every metric in the
workload's own terms. See WORKLOADS.md for what each workload measures.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import oracle  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ["ingest_replay", "query_suite", "lake_dml"]
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
HEAP = "3g"
TABLE_SCALE = 0.5

# what the generic samples of each workload are, in its own words
NAMES = {
    "ingest_replay": {"op": "ingest_visible_s", "read": "replay_s", "work": "ingest_rec_per_s"},
    "query_suite": {"op": "operator_query_s", "read": "relational_query_s", "work": "queries_per_s"},
    "lake_dml": {"op": "dml_s", "read": "lake_read_s", "work": "statements_per_s"},
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation the program builds and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark installation (it needs a jars directory)")
    return home


def build():
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building the program and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, check=True, timeout=BUILD_LIMIT_S)
    except (subprocess.SubprocessError, OSError) as e:
        fail(f"build failed: {e}", 3)
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)


def run_jvm(workload, seed, seconds, trace, work, deadline):
    result = os.path.join(work, "result.json")
    args = [workload, str(seed), str(seconds), str(trace), work, result]
    if workload == "query_suite":
        tdir = os.path.join(work, "tables")
        tables.write(tdir, seed, TABLE_SCALE)
        args += [tdir, os.path.join(BENCH, "query_suite.txt")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if trace:
        cmd.append(f"-Dlakebench.traceOut={os.path.join(WORK, 'traces', f'{workload}-seed{seed}.jsonl')}")
    cmd += ["-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*", "lakebench.Main"] + args
    env = dict(os.environ, GRAFT_ORACLE_ROOT=os.path.join(work, "oracle"))
    try:
        subprocess.run(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr, check=True,
                       timeout=max(10, deadline - time.time()))
    except (subprocess.SubprocessError, OSError) as e:
        fail(f"{workload} run failed: {e}", 4)
    with open(result) as f:
        return json.load(f)


def oracle_gate(res, work):
    """Compare query_suite's set-up answers with DuckDB; a mismatch is a failed operation."""
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    problems = oracle.compare(os.path.join(work, "tables"), res["answers"], sql)
    for name, p in problems.items():
        res["errors"].append(f"oracle {name}: {p}")
    res["failed"] += len(problems)
    log(f"oracle compare: {len(sql) - len(problems)} of {len(sql)} answers agree with DuckDB")


def end_to_end(workload, res):
    """End-to-end metrics, and the same figures under the workload's own names.

    Each operation is timed twice: wall seconds, and CPU seconds of the
    whole process (driver and local executors), which the host's CPU
    steal does not inflate.
    """
    smp = res["samples"]
    names = NAMES[workload]
    metrics, named = {}, []

    def put(key, value, unit, note, name=None):
        metrics[key] = {"value": value, "unit": unit}
        named.append((name or key, value, unit, note))

    put("setup_s", res["session_s"] + res["setup_s"], "s",
        f"session {res['session_s']:.2f} s + workload {res['setup_s']:.2f} s")
    put("setup_cpu_s", res["session_cpu_s"] + res["setup_cpu_s"], "s",
        f"session {res['session_cpu_s']:.2f} s + workload {res['setup_cpu_s']:.2f} s")
    for kind in ("op", "read"):
        for suffix, xs in (("", smp[kind]), ("_cpu", smp[f"{kind}_cpu"])):
            put(f"{kind}{suffix}_s.p50", stats.p50(xs), "s",
                f"n={len(xs)} samples: " + " ".join(f"{x:.3f}" for x in xs),
                f"{names[kind]}{suffix}.p50")
            put(f"{kind}{suffix}_s.mean", sum(xs) / len(xs), "s", f"n={len(xs)}",
                f"{names[kind]}{suffix}.mean")
            if len(xs) > stats.TAIL_BEYOND:
                val, pct, n = stats.tail(xs)
                named.append((f"{names[kind]}{suffix}.tail", val, "s", f"p{pct:.0f} of n={n}"))
            else:
                named.append((f"{names[kind]}{suffix}.tail", max(xs), "s",
                              f"no tail: n={len(xs)} leaves fewer than {stats.TAIL_BEYOND} "
                              "samples beyond any percentile; max shown"))
    put("work_per_s", res["items"] / res["items_s"], "1/s",
        f"{res['items']} in {res['items_s']:.2f} s", names["work"])
    put("work_per_cpu_s", res["items"] / res["items_cpu_s"], "1/s",
        f"{res['items']} in {res['items_cpu_s']:.2f} CPU s", names["work"] + "_cpu")
    if workload == "query_suite":
        xs = smp["op"] + smp["read"]
        named.append(("query_s.p50", stats.p50(xs), "s", f"n={len(xs)}"))
        val, pct, n = stats.tail(xs)
        named.append(("query_s.tail", val, "s", f"p{pct:.0f} of n={n}"))
    named.append(("ops_failed_frac", res["failed"] / res["attempted"], "frac",
                  f"{res['failed']} of {res['attempted']}"))
    declared = [m["name"] for m in benchmark()["end_to_end"]]
    return {k: metrics[k] for k in declared}, named


def overhead(res):
    """Tracing overhead: the traced lane's median primary operation minus
    the untraced lane's, over the same operations, in wall and CPU seconds."""
    traced, plain, layers = res["traced_samples"], res["samples"], res["layers"]
    wall = stats.p50(traced["op"]) - stats.p50(plain["op"])
    layers["trace.overhead_s"] = wall
    layers["trace.overhead_frac"] = wall / stats.p50(plain["op"])
    layers["trace.overhead_cpu_s"] = stats.p50(traced["op_cpu"]) - stats.p50(plain["op_cpu"])


def per_layer(res):
    """Every per-layer metric BENCHMARK.json declares; a layer the workload never reaches reads 0."""
    layers = res.get("layers", {})
    return {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in benchmark()["per_layer"]}


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(workload, seed, seconds, trace):
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(workload, seed, seconds, trace, work, deadline)
        if workload == "query_suite":
            oracle_gate(res, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    prov = res["provenance"]
    log(f"{workload} seed={seed}: nproc={prov['nproc']} spark={prov['spark_version']} "
        f"java={prov['java_version']} heap={prov['driver_heap_mb']} MiB session={res['session_s']:.2f} s "
        f"inputs={json.dumps(res['inputs'])}")
    for e in res["errors"]:
        log(f"FAILED {e}")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no program sources under {ROOT}/src/main: run from the root of a full checkout")
    build()
    chosen = WORKLOADS if a.workload == "all" else [a.workload]
    correct, attempted, failed, metrics = True, 0, 0, {}
    for w in chosen:
        res = run_one(w, a.seed, a.seconds, a.trace)
        attempted += res["attempted"]
        failed += res["failed"]
        correct = correct and res["failed"] == 0
        if a.trace:
            overhead(res)
            m = per_layer(res)
            for k, v in sorted(res["layers"].items()):
                print(f"{w} {k} = {v:.6g}")
        else:
            m, named = end_to_end(w, res)
            for name, v, unit, note in named:
                print(f"{w} {name} = {v:.6g} {unit}  {note}".rstrip())
        prefix = f"{w}." if a.workload == "all" else ""
        metrics.update({prefix + k: v for k, v in m.items()})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
