"""Guard: the timed corpus action computes every output column.

`q_window_dist` projects three window functions over `orders`. Under
`count()` Catalyst drops that projection (the window never runs);
the benchmark's action must execute it and return every column.
Builds the program and runs one JVM on the generated tables.
"""
import json
import os
import subprocess
import tempfile
import unittest

import helpers
import build
import corpus

PROBE = "q_window_dist"


class FullResultGuard(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classpath = build.build(helpers.ROOT)
        data, _ = corpus.data_dir(helpers.ROOT)
        with tempfile.TemporaryDirectory(
                dir=os.path.join(helpers.ROOT, build.BUILD_DIR)) as tmp:
            out = os.path.join(tmp, "probe.json")
            subprocess.run(build.java(classpath, "perfbench.CorpusBench",
                                      "probe", data, out, PROBE, "2",
                                      heap=corpus.JVM_HEAP),
                           check=True, cwd=tmp, stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL, timeout=300)
            with open(out) as f:
                cls.probe = json.load(f)

    def test_count_prunes_the_projection(self):
        # the premise that makes this probe meaningful
        self.assertNotIn("Window", self.probe["count"]["optimized_operators"])
        self.assertNotIn("Window", self.probe["count"]["executed_operators"])

    def test_action_computes_every_column(self):
        action = self.probe["action"]
        self.assertIn("Window", action["optimized_operators"])
        self.assertIn("Window", action["executed_operators"])
        self.assertEqual(action["output"], self.probe["columns"])
        self.assertIn("pct_rank", action["output"])


if __name__ == "__main__":
    unittest.main()
