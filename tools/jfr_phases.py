#!/usr/bin/env python3
"""Where a JFR recording's CPU samples went, by graft phase.

Usage:
    python3 tools/jfr_phases.py <recording.jfr | printed.json> [--window FROM TO]
        [--package-depth N] [--top K] [--json]

Reads the `jdk.ExecutionSample` and `jdk.Compilation` events of a
recording (a `.jfr` file is printed with `jfr print --json
--stack-depth 300` first; a `.json` file is taken as that output) and
prints:

  - each execution sample attributed to one phase (PHASES below: the
    first rule whose thread and frame test matches wins), as counts
    and shares;
  - the JIT compilation time (`jdk.Compilation` durations) totalled by
    the compiled method's package, cut to its first N components with
    --package-depth.

--window keeps only events that start between FROM and TO seconds
after the first event of the file.

Recipe, for one lakebench run (run it once without JFR first, so the
build is done and no sbt JVM writes the same file; JDK 17 does not
expand `%p` in the file name):

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=1024 \
      -XX:StartFlightRecording=filename=/tmp/rec.jfr,settings=profile,jdk.Compilation#threshold=0ms" \
      python3 lakebench/run.py --workload ingest_replay --seed 3 --seconds 5 --trace 0
    python3 tools/jfr_phases.py /tmp/rec.jfr --package-depth 3

The tool prints the recording with `jfr print --json --stack-depth 300
--events jdk.ExecutionSample,jdk.Compilation`. `jfr print` keeps 5
frames per stack by default, which hides every graft frame, and JFR
records 64 unless `stackdepth` is raised; the `profile` settings
record only compilations over 100 ms unless the threshold is lowered.

Tests: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys

TASK_THREAD = "Executor task launch worker"
STREAM_THREAD = "stream execution thread"

# (phase, thread test, frame prefixes): a sample belongs to the first
# phase whose thread test holds and one of whose prefixes starts one of
# its frames ("package.Class.method"). Task phases come first, and the
# order inside each group puts the narrower cost before the wider one.
PHASES = [
    ("task: hadoop conf", TASK_THREAD, (
        "org.apache.spark.util.SerializableConfiguration.readObject",
        "org.apache.hadoop.conf.Configuration.readFields")),
    ("task: deserialize", TASK_THREAD, (
        "org.apache.spark.serializer.JavaSerializerInstance.deserialize",)),
    ("task: distribution write", TASK_THREAD, ("graft.lake.DistWrite",)),
    ("task: file write", TASK_THREAD, (
        "org.apache.spark.sql.execution.datasources.FileFormatWriter",
        "org.apache.spark.sql.execution.datasources.FileFormatDataWriter",
        "org.apache.spark.internal.io.SparkHadoopWriter")),
    ("task: codegen", TASK_THREAD, (
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",)),
    ("task: scan", TASK_THREAD, ("org.apache.spark.sql.execution.datasources.FileScanRDD",)),
    ("task: other", TASK_THREAD, ("",)),
    ("commit", None, (
        "graft.lake.Catalog.commit", "graft.lake.Catalog.finishV2", "graft.lake.DistWrite")),
    ("replay", None, ("graft.lake.Replay",)),
    ("subscribe", None, ("graft.lake.Distribution", "graft.lake.LogFileIndex")),
    ("stream start", None, (
        "graft.streaming.StreamIngest.start",
        "org.apache.spark.sql.classic.DataStreamWriter.start",
        "org.apache.spark.sql.streaming.DataStreamWriter.start")),
    ("stream machinery", STREAM_THREAD, ("",)),
    ("other", None, ("",)),
]

_DURATION = re.compile(r"^PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?$")


def duration_s(text):
    """Seconds of an ISO-8601 duration as JFR prints it (`PT1M2.5S`)."""
    m = _DURATION.match(text)
    if not m:
        raise ValueError(f"not a JFR duration: {text!r}")
    h, mi, s = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(s or 0)


def instant_s(text):
    """Epoch seconds of a JFR start time (`2026-01-01T00:00:00.123456789Z`)."""
    base, _, frac = text.rstrip("Z").partition(".")
    t = datetime.datetime.strptime(base, "%Y-%m-%dT%H:%M:%S")
    t = t.replace(tzinfo=datetime.timezone.utc)
    return t.timestamp() + (float("0." + frac) if frac else 0.0)


def frame_name(frame):
    """`package.Class.method`, a Scala object's class without its `$`."""
    method = frame["method"]
    return method["type"]["name"].replace("/", ".").rstrip("$") + "." + method["name"]


def phase_of(thread, frames):
    """The phase of one sample: its thread's name and its frame names."""
    for phase, thread_test, prefixes in PHASES:
        if thread_test is not None and not thread.startswith(thread_test):
            continue
        if any(f.startswith(p) for f in frames for p in prefixes):
            return phase
    return "other"


def package_of(type_name, depth):
    parts = type_name.replace("/", ".").split(".")[:-1] or ["(default)"]
    return ".".join(parts[:depth] if depth > 0 else parts)


def load_events(path):
    if path.endswith(".jfr"):
        out = subprocess.run(
            ["jfr", "print", "--json", "--stack-depth", "300",
             "--events", "jdk.ExecutionSample,jdk.Compilation", path],
            check=True, capture_output=True, text=True).stdout
        return json.loads(out)["recording"]["events"]
    with open(path) as f:
        return json.load(f)["recording"]["events"]


def summarize(events, window=None, package_depth=0):
    """Phase sample counts and compile seconds (and counts) per package."""
    starts = [instant_s(e["values"]["startTime"]) for e in events]
    t0 = min(starts, default=0.0)
    phases = collections.Counter()
    compile_s = collections.Counter()
    compiles = collections.Counter()
    for e, start in zip(events, starts):
        if window and not window[0] <= start - t0 <= window[1]:
            continue
        v = e["values"]
        if e["type"] == "jdk.ExecutionSample":
            thread = (v.get("sampledThread") or {}).get("javaName") or ""
            frames = [frame_name(f) for f in ((v.get("stackTrace") or {}).get("frames") or [])]
            phases[phase_of(thread, frames)] += 1
        elif e["type"] == "jdk.Compilation":
            pkg = package_of(v["method"]["type"]["name"], package_depth)
            compile_s[pkg] += duration_s(v["duration"])
            compiles[pkg] += 1
    return {"samples": dict(phases), "compile_s": dict(compile_s), "compiles": dict(compiles)}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--window", nargs=2, type=float, metavar=("FROM", "TO"))
    ap.add_argument("--package-depth", type=int, default=0)
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args(argv)
    s = summarize(load_events(args.recording), args.window, args.package_depth)
    if args.json:
        print(json.dumps(s, sort_keys=True))
        return
    total = sum(s["samples"].values()) or 1
    print(f"execution samples: {sum(s['samples'].values())}")
    for phase, n in sorted(s["samples"].items(), key=lambda kv: -kv[1]):
        print(f"  {phase:28s} {n:7d}  {100.0 * n / total:5.1f}%")
    print(f"compilation: {sum(s['compile_s'].values()):.2f} s over "
          f"{sum(s['compiles'].values())} compiles")
    for pkg, sec in sorted(s["compile_s"].items(), key=lambda kv: -kv[1])[:args.top]:
        print(f"  {pkg:60s} {sec:8.3f} s {s['compiles'][pkg]:7d}")


if __name__ == "__main__":
    sys.exit(main())
