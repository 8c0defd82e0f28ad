#!/usr/bin/env python3
"""Runs the benchmark's own generator test (perfbench/src/test/scala).

  python3 perfbench/test_generators.py

Builds with the test sources, then runs perfbench.GeneratorCheck: the
report parser must accept every valid generated workbook with the expected
template and row count and reject every injected corrupt or unknown-layout
file, and the same seed must give the same inputs. Exit code 0 on success.
"""
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

cp, jars = build.build(with_test=True)
r = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", os.pathsep.join(cp + [os.path.join(jars, "*")]),
                    "perfbench.GeneratorCheck"])
sys.exit(r.returncode)
