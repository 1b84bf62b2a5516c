"""``bench_extra.py``: its per-rep Python-worker CPU reading and the
inputs it writes when bench.py has not run."""

from __future__ import annotations

import os
import subprocess
import sys

import bench_extra
from audio_feature_extraction_spark.sources.tokens import load_token_sequences
from bench_extra import _descendant_cpu_s
from tests.test_retrieval import SF

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


def test_write_inputs_builds_missing_caches_once(spark, tmp_path, monkeypatch):
    """Missing token/event caches are written with bench.py's recipe
    (replicas with distinct ids, a hot user 0); present ones are kept."""
    sf = SF
    monkeypatch.setattr(bench_extra, "SF_DIR", sf)
    monkeypatch.setattr(bench_extra, "AMPLIFY", 3)
    amp, ev = str(tmp_path / "tokens"), str(tmp_path / "events")
    bench_extra._write_inputs(spark, amp, ev, 4)
    n_docs = load_token_sequences(spark, sf).count()
    n_ev = spark.read.parquet(f"{sf}/events.parquet").count()
    toks = spark.read.parquet(amp)
    assert toks.count() == toks.select("doc_id").distinct().count() == 3 * n_docs
    evs = spark.read.parquet(ev)
    assert evs.count() == evs.select("event_id").distinct().count() == 4 * n_ev
    assert evs.where("user_id = 0").count() >= n_ev  # rep 0 of every event
    stamp = os.stat(os.path.join(amp, "_SUCCESS")).st_mtime_ns
    bench_extra._write_inputs(spark, amp, ev, 4)
    assert os.stat(os.path.join(amp, "_SUCCESS")).st_mtime_ns == stamp
