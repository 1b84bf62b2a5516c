"""``bench_extra.py``'s per-rep Python-worker CPU reading."""

from __future__ import annotations

import os
import subprocess
import sys

from bench_extra import _descendant_cpu_s

_BURN = """
import sys, time
t = time.process_time()
while time.process_time() - t < 0.5:
    pass
print("burnt", flush=True)
sys.stdin.read()
"""


def test_descendant_cpu_keeps_children_reaped_by_root():
    """A child reaped by the root moves its CPU time into the root's
    cutime/cstime; the reading must not drop when that happens (it read
    negative worker CPU when the JVM reaped a Python worker)."""
    child = subprocess.Popen(
        [sys.executable, "-c", _BURN],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "burnt"
        live = _descendant_cpu_s(os.getpid())
    finally:
        child.stdin.close()
        child.wait(timeout=60)
    child.stdout.close()
    reaped = _descendant_cpu_s(os.getpid())
    assert live >= 0.5
    assert reaped >= live
