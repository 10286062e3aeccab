"""Test of the benchmark's seeded corpus generator.

    python3 perfbench/test_corpus.py

For each workload, generates small corpora for seeds 1, 1 and 2 in one JVM
and checks that the same seed gives the same content digest, that another
seed gives another, and that the manifest records the planted duplicate
shares. Run from the root of the repository.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def manifests(workload, seeds, scale=0.05):
    classes = build.build()
    work = os.path.join(build.OUT, "test-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = run.java_cmd(classes, ["gen", "--workload", workload, "--seeds",
                                 ",".join(map(str, seeds)), "--scale", str(scale)], 2)
    cmd[cmd.index("--work") + 1] = work
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    shutil.rmtree(work, ignore_errors=True)
    return [json.loads(line) for line in out.splitlines() if line.startswith("{")]


class CorpusTest(unittest.TestCase):
    def check(self, workload):
        a, b, c = manifests(workload, [1, 1, 2])
        self.assertEqual(a, b)
        self.assertNotEqual(a["digest"], c["digest"])
        self.assertGreater(a["docs"], 0)
        self.assertGreater(a["text_bytes"], 0)
        planted = a["planted"]
        self.assertEqual(planted["exact_dup_share"], 0.1)
        self.assertEqual(planted["near_dup_share"], 0.1)
        return a

    def test_extract_small(self):
        self.assertEqual(self.check("extract_small")["planted"]["exact_dups"], 0)

    def test_extract_large(self):
        m = self.check("extract_large")
        self.assertGreater(m["text_bytes"] / m["docs"], 20 * 1024)

    def test_curate_plants_duplicates(self):
        m = self.check("curate")
        self.assertEqual(m["planted"]["exact_dups"], round(m["docs"] * 0.1))
        self.assertEqual(m["planted"]["near_dups"], round(m["docs"] * 0.1))


if __name__ == "__main__":
    unittest.main()
