#!/usr/bin/env python3
"""Run the benchmark's self-tests: run.py's statistics (Python) and the
expected-output model (Scala, perfbench.SelfTest).

    python3 perfbench/selftest.py
"""
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

suite = unittest.defaultTestLoader.discover(str(HERE / "tests"))
ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
classes = build.build()
rc = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx512m", "-cp", build.classpath(classes), "perfbench.SelfTest"]).returncode
sys.exit(0 if ok and rc == 0 else 1)
