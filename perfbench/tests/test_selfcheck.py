"""Self-checks of the benchmark.

    python3 -m unittest discover -s perfbench/tests

- the workload key lists partition the keys of `SparkEntry.queries`;
- in a traced run, per-key jobs, tasks and task CPU add up to the
  listener's totals, and no job is left unattributed;
- jobs launched by an eager `localCheckpoint` while a key is being
  built are charged to that key's build phase, and jobs of a streaming
  key's micro-batch threads are charged to that key.
"""
import os
import subprocess
import sys
import tempfile
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

# llm_dedup_cc localCheckpoints its token table while it is built;
# stream_watermark_late runs a real streaming query. A traced run traces
# keys in the pattern T U U T, so these two are first and last.
CHECKPOINT_KEY = "llm_dedup_cc"
STREAM_KEY = "stream_watermark_late"
PLAIN_KEYS = ["insta_engagement_by_user", "agg_bit_ops"]


class SelfCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classpath = run.build.build()
        cls.workloads = run.load("workloads.json")["workloads"]

    def test_workloads_partition_the_registry(self):
        with tempfile.TemporaryDirectory(dir=run.ROOT) as d:
            out = os.path.join(d, "keys.txt")
            subprocess.run(run.java_cmd(self.classpath, "perfbench.Runner", "keys", f"out={out}"),
                           check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            with open(out) as fh:
                registry = [ln.strip() for ln in fh if ln.strip()]
        lists = [w["keys"] for w in self.workloads.values()]
        listed = [k for keys in lists for k in keys]
        self.assertEqual(len(listed), len(set(listed)), "a key is in two workloads")
        self.assertEqual(sorted(listed), sorted(registry))

    def test_traced_run_attributes_every_job(self):
        keys = [CHECKPOINT_KEY] + PLAIN_KEYS + [STREAM_KEY]
        lines, sinks, _ = run.run_jvm(self.classpath, [keys], 0, 1, "selfcheck",
                                      time.time() + 600)
        tags = {}
        for ln in lines:
            tags.setdefault(ln[0], []).append(ln)
        ref = run.load("reference.json")["keys"]
        ks = [run.Key(r[1:]) for r in tags["KEY"]]
        self.assertEqual([k.error for k in ks], [""] * 4)
        self.assertEqual([k.traced for k in ks], [True, False, False, True])
        _, problems = run.per_layer(ks, tags, ref, sinks, run.cores())
        self.assertEqual(problems, [])
        layers = {(r[1], r[2]): dict(zip(run.LAYER_FIELDS, map(int, r[3:]))) for r in tags["LAYER"]}
        self.assertGreater(layers[(CHECKPOINT_KEY, "build")]["jobs"], 0)
        self.assertGreater(layers[(STREAM_KEY, "build")]["jobs"] +
                           layers.get((STREAM_KEY, "action"), {"jobs": 0})["jobs"], 0)
        streams = {r[1]: r for r in tags.get("STREAM", [])}
        self.assertIn(STREAM_KEY, streams)
        self.assertGreater(float(streams[STREAM_KEY][3]), 0, "no micro-batch charged")


if __name__ == "__main__":
    unittest.main()
