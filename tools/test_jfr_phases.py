"""Tests of jfr_phases over a small synthetic `jfr print --json` file.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import jfr_phases  # noqa: E402


def frame(cls, method):
    return {"method": {"type": {"name": cls.replace(".", "/")}, "name": method},
            "lineNumber": 1, "type": "JIT compiled"}


def sample(at, thread, *frames):
    """An execution sample; frames are given innermost first, as JFR prints them."""
    return {"type": "jdk.ExecutionSample", "values": {
        "startTime": f"2026-01-01T00:00:{at:09.6f}Z",
        "sampledThread": {"javaName": thread},
        "stackTrace": {"truncated": False, "frames": [frame(c, m) for c, m in frames]}}}


def compilation(at, cls, seconds):
    return {"type": "jdk.Compilation", "values": {
        "startTime": f"2026-01-01T00:00:{at:09.6f}Z",
        "duration": f"PT{seconds}S",
        "method": {"type": {"name": cls.replace(".", "/")}, "name": "apply"}}}


TASK = "Executor task launch worker for task 0.0 in stage 1.0 (TID 1)"
STREAM = "stream execution thread for [id = 1, runId = 2]"
RUN = ("org.apache.spark.executor.Executor$TaskRunner", "run")

EVENTS = [
    sample(0.0, TASK, ("org.apache.hadoop.conf.Configuration", "readFields"),
           ("org.apache.spark.util.SerializableConfiguration", "readObject"),
           ("org.apache.spark.serializer.JavaSerializerInstance", "deserialize"), RUN),
    sample(0.5, TASK, ("java.io.ObjectInputStream", "readObject"),
           ("org.apache.spark.serializer.JavaSerializerInstance", "deserialize"), RUN),
    sample(1.0, TASK, ("com.fasterxml.jackson.core.json.WriterBasedJsonGenerator", "writeString"),
           ("graft.lake.DistWrite$", "writeTask"), RUN),
    sample(1.5, TASK, ("org.apache.spark.sql.execution.datasources.FileScanRDD$$anon$1", "next"),
           ("graft.lake.DistWrite$", "writeTask"), RUN),
    sample(2.0, TASK, ("org.apache.spark.sql.execution.datasources.FileScanRDD$$anon$1", "next"), RUN),
    sample(2.5, TASK, ("java.lang.Thread", "run")),
    sample(3.0, STREAM, ("org.apache.hadoop.fs.Path", "<init>"),
           ("graft.lake.Catalog$", "commitIngest"),
           ("graft.streaming.StreamIngest$", "processBatch"),
           ("org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution", "runBatch")),
    sample(3.5, STREAM, ("org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
                         "constructNextBatch")),
    sample(4.0, "main", ("graft.lake.Replay$", "replayCommitted")),
    sample(4.5, "main", ("graft.lake.LogFileIndex", "listFiles")),
    sample(5.0, "main", ("graft.streaming.StreamIngest$", "start")),
    sample(5.5, "main", ("scala.collection.immutable.List", "map")),
    sample(6.0, TASK, ("graft.lake.ConcatJson$", "split"),
           ("graft.lake.Replay$", "$anonfun$records$3"),
           ("graft.lake.DistWrite$", "writeTask"), RUN),
    sample(6.5, TASK, ("java.util.zip.GZIPInputStream", "read"),
           ("graft.lake.Replay$", "$anonfun$records$2"),
           ("graft.lake.DistWrite$", "writeTask"), RUN),
    compilation(0.2, "org.apache.spark.sql.catalyst.Foo", 0.25),
    compilation(1.2, "org.apache.spark.sql.catalyst.Bar", 0.5),
    compilation(2.2, "org.apache.hadoop.conf.Configuration", "1.125"),
    compilation(9.0, "graft.lake.Catalog$", "1M0.5"),
]


class PhaseTest(unittest.TestCase):
    def test_every_sample_lands_in_its_phase(self):
        s = jfr_phases.summarize(EVENTS)
        self.assertEqual(s["samples"], {
            "task: hadoop conf": 1, "task: deserialize": 1, "task: bronze read": 2,
            "task: distribution write": 2,
            "task: scan": 1, "task: other": 1, "commit": 1, "stream machinery": 1,
            "replay": 1, "subscribe": 1, "stream start": 1, "other": 1})

    def test_compile_time_by_package(self):
        s = jfr_phases.summarize(EVENTS)
        self.assertEqual(s["compiles"], {"org.apache.spark.sql.catalyst": 2,
                                         "org.apache.hadoop.conf": 1, "graft.lake": 1})
        self.assertAlmostEqual(s["compile_s"]["org.apache.spark.sql.catalyst"], 0.75)
        self.assertAlmostEqual(s["compile_s"]["graft.lake"], 60.5)
        short = jfr_phases.summarize(EVENTS, package_depth=2)
        self.assertAlmostEqual(short["compile_s"]["org.apache"], 1.875)

    def test_window_keeps_events_that_start_inside_it(self):
        s = jfr_phases.summarize(EVENTS, window=(1.0, 2.5))
        self.assertEqual(s["samples"], {"task: distribution write": 2, "task: scan": 1,
                                        "task: other": 1})
        self.assertEqual(s["compiles"], {"org.apache.spark.sql.catalyst": 1,
                                         "org.apache.hadoop.conf": 1})

    def test_durations_and_instants(self):
        self.assertAlmostEqual(jfr_phases.duration_s("PT1H2M3.5S"), 3723.5)
        self.assertAlmostEqual(jfr_phases.duration_s("PT0S"), 0.0)
        self.assertRaises(ValueError, jfr_phases.duration_s, "P1D")
        self.assertAlmostEqual(jfr_phases.instant_s("1970-01-01T00:00:01.250000000Z"), 1.25)

    def test_command_line_reads_printed_json(self):
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump({"recording": {"events": EVENTS}}, f)
        try:
            out = subprocess.run([sys.executable, jfr_phases.__file__, f.name, "--json"],
                                 check=True, capture_output=True, text=True).stdout
        finally:
            os.unlink(f.name)
        self.assertEqual(json.loads(out)["samples"]["task: distribution write"], 2)


if __name__ == "__main__":
    unittest.main()
