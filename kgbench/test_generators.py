"""Tests of the benchmark's corpus generators.

    python3 -m unittest discover -s kgbench -p 'test_*.py'

Builds the benchmark (build.py) and runs kgbench.GenCheck, which checks
that a fixed seed gives byte-identical pages for both generators, and that
a small vocab corpus built end to end yields ambiguous acronyms,
name-blocking edges and at least 10^4 nodes.
"""
import pathlib
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_generators(self):
        classpath = build.build()
        work = build.OUT / "gencheck-work"
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
        for p in run.ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "kgbench.GenCheck", "--work", str(work)]
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                               cwd=str(work), timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()
