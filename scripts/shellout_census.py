"""Count the commands Spark's JVM runs as child processes, per warm
streaming trigger and per warm snapshot-mode ``prepare_corpus`` call.

    python scripts/shellout_census.py [--seed N] [--triggers N] [--calls N]

Without the native Hadoop library (``libhadoop``), the local filesystem
runs ``chmod`` to set a permission and ``readlink`` to read a file's link
status, each as a child process of the JVM. This script puts logging
wrappers for ``chmod``, ``readlink``, ``ls`` and ``stat`` first on the
``PATH`` the JVM inherits, starts its own ``local[4]`` session with the
benchmark's settings (``perfbench/run.py``) and runs the benchmark's own
``stream_chunks`` and ``corpus_snapshot`` workloads: a few warm-up
triggers, then ``--triggers`` counted ones; one cold call, then
``--calls`` counted ones. Each row gives the median count per trigger or
call of every wrapped command and their total. ``host processes`` is
the median rise of ``/proc/stat``'s ``processes`` counter over the same
span: every process created on the host in that time, this session's
forks and threads included, so it is host-wide and only an upper bound.
"""

from __future__ import annotations

import argparse
import functools
import os
import shutil
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [ROOT, PERFBENCH]

import run as perfbench  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

from audio_feature_extraction_spark.core.session import get_spark  # noqa: E402

COMMANDS = ("chmod", "readlink", "ls", "stat")
WARM_TRIGGERS = 3


def host_processes() -> int:
    """The host's ``processes`` counter: forks since boot."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise RuntimeError("no processes line in /proc/stat")


def install_wrappers(bin_dir: str, log: str) -> None:
    """One ``sh`` wrapper per command: append the command's name to
    ``log``, then ``exec`` the real binary (same process, no extra fork)."""
    os.makedirs(bin_dir)
    for name in COMMANDS:
        real = shutil.which(name)
        if real is None:
            continue
        path = os.path.join(bin_dir, name)
        with open(path, "w") as f:
            f.write(f'#!/bin/sh\necho {name} >> "{log}"\nexec "{real}" "$@"\n')
        os.chmod(path, 0o755)


def logged(log: str) -> list[str]:
    try:
        with open(log) as f:
            return f.read().split()
    except FileNotFoundError:
        return []


def count(log: str, fn) -> dict[str, int]:
    """Commands logged and host processes created while ``fn()`` runs."""
    n0, p0 = len(logged(log)), host_processes()
    fn()
    p1, ran = host_processes(), logged(log)[n0:]
    counts = {c: ran.count(c) for c in COMMANDS}
    counts["total"] = len(ran)
    counts["host processes"] = p1 - p0
    return counts


def table(rows: list[tuple[str, list[dict[str, int]]]]) -> str:
    """One markdown row of medians per (label, samples)."""
    cols = (*COMMANDS, "total", "host processes")
    lines = ["| per | n | " + " | ".join(cols) + " |", "|---|---|" + "---|" * len(cols)]
    for label, samples in rows:
        med = [statistics.median(s[c] for s in samples) for c in cols]
        lines.append(f"| {label} | {len(samples)} | " + " | ".join(f"{m:g}" for m in med) + " |")
    return "\n".join(lines)


def stream_triggers(spark, work, seed, tracer, measure, n: int) -> list[dict]:
    wl = workloads.StreamChunks(spark, os.path.join(work, "stream"), seed, tracer, 2)
    os.makedirs(wl.work)
    wl.n_files = WARM_TRIGGERS + n
    wl.generate(os.path.join(wl.work, "raw"))
    wl.prepare(os.path.join(wl.work, "raw"))

    def trigger():
        if wl.iteration()[1]:
            raise RuntimeError("stream_chunks trigger failed")

    try:
        for _ in range(WARM_TRIGGERS):
            trigger()
        return [measure(trigger) for _ in range(n)]
    finally:
        wl.close()


def corpus_calls(spark, work, seed, tracer, measure, n: int) -> list[dict]:
    wl = workloads.CorpusSnapshot(spark, os.path.join(work, "corpus"), seed, tracer, 2)
    os.makedirs(wl.work)
    wl.generate(os.path.join(wl.work, "raw"))
    wl.prepare(os.path.join(wl.work, "raw"))
    call = wl.calls()[0][1]
    call()  # cold: compiles and caches
    return [measure(call) for _ in range(n)]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--triggers", type=int, default=8, help="counted warm triggers")
    ap.add_argument("--calls", type=int, default=2, help="counted warm corpus calls")
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="shellout-census-")
    try:
        log = os.path.join(work, "commands.log")
        bin_dir = os.path.join(work, "bin")
        install_wrappers(bin_dir, log)
        spark_conf = perfbench._environment(work)
        os.environ["PATH"] = bin_dir + os.pathsep + os.environ["PATH"]
        spark = get_spark(
            f"local[{perfbench.SLOTS}]", app_name="shellout-census", extra_conf=spark_conf
        )
        try:
            tracer = tracing.Tracer(spark, perfbench.SLOTS)
            measure = functools.partial(count, log)
            rows = [
                (
                    "stream_chunks warm trigger",
                    stream_triggers(spark, work, args.seed, tracer, measure, args.triggers),
                ),
                (
                    "corpus_snapshot warm call",
                    corpus_calls(spark, work, args.seed, tracer, measure, args.calls),
                ),
            ]
        finally:
            perfbench._stop_processes(spark)
        print(table(rows))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
