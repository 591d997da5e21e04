"""The order-independent digest the benchmark checks results with:
builds the benchmark and runs its digest checks in a JVM (about half a
minute).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import run  # noqa: E402


class Digest(unittest.TestCase):
    def test_digest_ignores_order_and_sees_every_change(self):
        cp = os.pathsep.join(build.build())
        work = tempfile.mkdtemp(dir=os.path.join(os.path.dirname(HERE), ".build"))
        try:
            out = os.path.join(work, "out.json")
            cmd = ["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
            for p in run.ADD_OPENS:
                cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
            cmd += ["-cp", cp, "perfbench.Main", "selftest", f"work={work}", f"out={out}"]
            subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            with open(out) as fh:
                checks = json.load(fh)["checks"]
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(len(checks), 8)
        for name, ok in checks.items():
            self.assertTrue(ok, name)


if __name__ == "__main__":
    unittest.main()
