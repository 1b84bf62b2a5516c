"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S] [--trace 0|1]

Run from the repository root. One run starts a Spark session on
``local[4]`` (or fewer cores), writes the workload's seeded inputs under
``.perfbench_work/`` (removed on exit), warms up and checks a slice of the
output against an independent reference, then measures whole iterations
for ``--seconds``. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer metrics). The exit code is nonzero when any
call failed or disagreed with its reference. ``--all`` runs every workload
in turn and prints a table that also shows ``failed_frac``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import proctree  # noqa: E402
import tracing  # noqa: E402

SLOTS = min(4, os.cpu_count() or 1)
GENERATE_REPEATS = 3
DRIVER_MEMORY = "1g"
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "cpu_ms_per_item": "ms",
    "peak_mem_mb": "MB",
    "latency_p50_ms": "ms",
}


def _suffix_unit(suffix: str) -> str:
    if suffix in ("jobs", "stages"):
        return "count"
    return "MB" if suffix.endswith("_mb") else "s"


def per_layer_units(workload: str) -> dict[str, str]:
    """Per-layer metric names with units: those of every benchmarked
    workload (a span or figure a workload does not produce reads 0), plus
    the workload's own when it is not benchmarked."""
    import workloads

    names = list(workloads.BENCHMARKED)
    if workload not in names:
        names.append(workload)
    spans, extra = ["core.session.get_spark"], {}
    for name in names:
        spans.extend(workloads.WORKLOADS[name].spans)
        extra.update(workloads.WORKLOADS[name].extra_units())
    return {
        **{f"{s}.{k}": _suffix_unit(k) for s in spans for k in tracing.SUFFIXES},
        **extra,
        "trace.overhead_pct": "%",
    }


def _environment(work: str) -> dict[str, str]:
    """Keep every file Spark and its workers write inside ``work``, and let
    the Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + ([path] if path else [])),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_CPUS=str(SLOTS),
        SPARK_DRIVER_MEM=DRIVER_MEMORY,
    )
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": local,
    }


def _phase(wl, tracer, seconds: int, alternate: bool = False) -> dict:
    """Whole iterations until ``seconds`` have passed. Throughput and CPU
    per item are medians over the iterations, so a few seconds of a slower
    host do not move them; CPU is that of the whole process tree and peak
    memory is over the whole phase. With ``alternate`` every other
    iteration is traced, and ``traced_items_per_s`` is their median."""
    pid = os.getpid()
    wl.start_phase()
    walls, rates, cpu_per_item, attempted, failed = [], [], [], 0, 0
    cpu = proctree.cpu_seconds(pid)
    with proctree.PeakRss(pid) as mem:
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            tracer.iteration += 1
            tracer.enabled = alternate and len(walls) % 2 == 1
            ti = time.perf_counter()
            a, f = wl.iteration()
            walls.append(time.perf_counter() - ti)
            cpu_before, cpu = cpu, proctree.cpu_seconds(pid)
            rates.append(wl.items / walls[-1])
            cpu_per_item.append((cpu - cpu_before) * 1e3 / wl.items)
            attempted, failed = attempted + a, failed + f
    tracer.enabled = False
    print("[perfbench] phase iterations (s): " + " ".join(f"{w:.2f}" for w in walls)
          + f"; {len(proctree.descendants(pid))} child processes", file=sys.stderr)
    failed += wl.end_phase()
    return {
        "items_per_s": statistics.median(rates[::2] if alternate else rates),
        "traced_items_per_s": statistics.median(rates[1::2] or [0.0]),
        "cpu_ms_per_item": statistics.median(cpu_per_item),
        "peak_mem_mb": mem.peak / 1e6,
        "latency_p50_ms": statistics.median(wl.latencies_ms(walls)),
        "attempted": attempted,
        "failed": failed,
    }


def _stop_processes(spark) -> None:
    """Stop Spark, end the JVM, and wait until no descendant is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while len(proctree.descendants(os.getpid())) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in proctree.descendants(os.getpid()):
            os.kill(pid, 9)


def _run(args, work: str) -> int:
    spark_conf = _environment(work)
    t_setup = time.perf_counter()
    from audio_feature_extraction_spark.core.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"local[{SLOTS}]", app_name="perfbench", extra_conf=spark_conf)
    session_s = time.perf_counter() - t0
    try:
        import workloads

        tracer = tracing.Tracer(spark, SLOTS)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer, args.seconds)
        try:
            return _measure(args, work, wl, tracer, t_setup, session_s)
        finally:
            wl.close()
    finally:
        _stop_processes(spark)


def _measure(args, work, wl, tracer, t_setup, session_s) -> int:
    # input generation is the repeatable part of set-up: time it several
    # times and count its median once
    gen = []
    for k in range(GENERATE_REPEATS):
        raw = os.path.join(work, f"raw{k}")
        t = time.perf_counter()
        wl.generate(raw)
        gen.append(time.perf_counter() - t)
        if k:
            shutil.rmtree(os.path.join(work, f"raw{k - 1}"))
    steps = {"session": session_s, "generate": statistics.median(gen)}
    t = time.perf_counter()
    wl.prepare(raw)
    steps["prepare"] = time.perf_counter() - t
    attempted, failed = wl.warm_up()
    steps["warm-up and reference"] = time.perf_counter() - t - steps["prepare"]
    setup_s = time.perf_counter() - t_setup - sum(gen) + statistics.median(gen)
    print("[perfbench] set-up " + ", ".join(f"{k} {v:.2f}s" for k, v in steps.items()),
          file=sys.stderr)

    if args.trace:
        # traced and untraced iterations alternate over twice the time, so
        # the overhead estimate does not absorb the warm-up drift
        tracer.record("core.session.get_spark", session_s, [])
        result = _phase(wl, tracer, 2 * args.seconds, alternate=True)
        units = per_layer_units(args.workload)
        spans = sorted({k.rsplit(".", 1)[0] for k in units})
        layers = {**tracer.summary(spans), **wl.extra_layers()}
        layers["trace.overhead_pct"] = 100 * (
            1 - result["traced_items_per_s"] / result["items_per_s"]
        )
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        result = _phase(wl, tracer, args.seconds)
        values = {**result, "setup_s": setup_s}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    attempted += result["attempted"]
    failed += result["failed"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def _run_all(args) -> int:
    """Every workload in its own process; a table with failed_frac."""
    import workloads

    status = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            status = 1
        if not lines:
            print(f"{name}: no result (exit {proc.returncode})")
            continue
        res = json.loads(lines[-1])
        print(f"{name}: exit {proc.returncode}, failed_frac {res['failed'] / res['attempted']:.4g} ratio "
              f"({res['failed']}/{res['attempted']})")
        for k, m in res["metrics"].items():
            print(f"  {k} = {m['value']:.6g} {m['unit']}")
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload in turn")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not args.workload and not args.all:
        ap.error("--workload or --all is required")
    if not os.path.isdir(os.path.join(ROOT, "audio_feature_extraction_spark")):
        print("perfbench: the audio_feature_extraction_spark package is not in "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.all:
        return _run_all(args)
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(workloads.WORKLOADS)}")
    work = os.path.join(
        ROOT, ".perfbench_work",
        f"{args.workload}-seed{args.seed}-gen{inputs.GENERATOR_VERSION}-{os.getpid()}",
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
