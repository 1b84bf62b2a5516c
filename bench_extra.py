"""Per-query noop-sink isolation bench (guide §1.4) — NOT the driver
contract; bench.py stays the frozen measurement. Usage:

    python bench_extra.py dup_spans dup_spans_sparse [--reps 3]

Reads the same amplified inputs as bench.py from the /tmp parquet
cache, writing any that are missing with bench.py's recipe, warms the
page cache the same way, and times each named query
best-of-N with the noop sink, printing one JSON line. Next to each
query's per-rep ``samples`` it prints ``codegen_compiles``: the classes
Janino compiled during that rep (the ``CodegenMetrics`` compilation
count delta). A warm rep should compile 0; a nonzero warm count means
the rep generated code it could not reuse, either because the cache
evicted the query's classes or because the query generates new code
on every call. ``python_worker_cpu_s`` is each rep's CPU time in the
Python workers: user+system time, reaped children's included, of every
descendant of the Spark JVM (the pyspark daemon and its forked
workers), read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
AMPLIFY = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "20"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _descendant_cpu_s(root: int) -> float:
    """CPU seconds of ``root``'s descendants: utime+stime+cutime+cstime
    of each live one, plus ``root``'s own cutime+cstime (not its
    utime/stime). A finished worker's time sits in the counters of the
    process that reaped it, so a worker reaped by ``root`` still counts
    and the reading never drops between two calls."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended between listing and reading
            continue
        # comm may hold spaces; the fields after the last ')' are fixed
        stats[int(name)] = raw[raw.rindex(")") + 2 :].split()
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    ticks = sum(int(x) for x in stats[root][13:15]) if root in stats else 0
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        ticks += sum(int(x) for x in stats[pid][11:15])
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def _write_inputs(spark, amp_path: str, ev_path: str, ev_amp_n: int) -> None:
    """Write the amplified token and event inputs that are missing, with
    bench.py's recipe (``run_queries``), so both scripts share one cache
    and either may run first: ``AMPLIFY`` token replicas with distinct
    doc_ids, and ``ev_amp_n`` event replicas with distinct users and
    event_ids and a hot user_id 0 holding ~1/16 of the rows."""
    from pyspark.sql import functions as F

    from audio_feature_extraction_spark.sources.tokens import (
        load_token_sequences,
    )

    if not os.path.exists(os.path.join(amp_path, "_SUCCESS")):
        (
            load_token_sequences(spark, SF_DIR)
            .withColumn(
                "rep", F.explode(F.sequence(F.lit(0), F.lit(AMPLIFY - 1)))
            )
            .withColumn("doc_id", F.concat_ws("_r", "doc_id", "rep"))
            .drop("rep")
            .repartition(128)
            .write.mode("overwrite")
            .parquet(amp_path)
        )
    if not os.path.exists(os.path.join(ev_path, "_SUCCESS")):
        (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .withColumn(
                "rep", F.explode(F.sequence(F.lit(0), F.lit(ev_amp_n - 1)))
            )
            .select(
                (F.col("event_id") * ev_amp_n + F.col("rep")).alias("event_id"),
                F.expr("timestampadd(SECOND, rep, ts)").alias("ts"),
                F.when(F.col("rep") % 16 == 0, F.lit(0))
                .otherwise(F.col("user_id") + F.col("rep") * 100)
                .alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(ev_path)
        )


def main() -> None:
    reps = 2
    argv = sys.argv[1:]
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    args = argv
    from pyspark.sql import functions as F

    from audio_feature_extraction_spark.core.session import get_spark
    from audio_feature_extraction_spark.core.config import FrameSpec
    from audio_feature_extraction_spark.operators import (
        asof, bpe, dedup, framing, inverse, mixing, retrieval,
        sessionize, similarity, temporal, textstats,
    )
    from audio_feature_extraction_spark.sources.tokens import (
        load_token_sequences,
    )

    spark = get_spark(f"local[{CPUS}]", app_name="bench_extra")
    spec = FrameSpec(frame_len=16, hop=8)
    sf_tag = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    ev_amp_n = int(os.environ.get("SPARK_GRAFT_EV_AMPLIFY", "50"))
    amp_path = f"/tmp/bench_tokens_{sf_tag}_x{AMPLIFY}"
    ev_path = f"/tmp/bench_events_{sf_tag}_x{ev_amp_n}"
    _write_inputs(spark, amp_path, ev_path, ev_amp_n)
    amplified = spark.read.parquet(amp_path)
    ev = spark.read.parquet(ev_path)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type").isin("click", "purchase"))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    queries = {
        "frame_features": lambda: framing.frame_features(amplified, spec),
        "frame_features_f32": lambda: framing.frame_features_compact(
            amplified, spec
        ),
        "roundtrip": lambda: inverse.roundtrip_check(
            amplified, framing.frame_table(amplified, spec), spec
        ),
        "asof_join": lambda: asof.asof_join(probes, states),
        "asof_join_auto": lambda: asof.asof_join_auto(probes, states),
        "asof_join_range": lambda: asof.asof_join_range(
            probes, states, num_partitions=CPUS
        ),
        "sessionize": lambda: sessionize.session_summary(ev, 1800.0),
        "backfill": lambda: temporal.backfill(
            ev.withColumn(
                "value",
                F.when(
                    F.col("event_type") == "view", None
                ).otherwise(F.col("value")),
            )
        ),
        "minhash_lsh_pairs": lambda: dedup.lsh_candidate_pairs(amplified),
        "dup_spans": lambda: dedup.duplicate_gram_spans(amplified),
        # the natural (unamplified) corpus: ~9 % of its 16-gram positions
        # are duplicated, against 100 % in the x20 input above
        "dup_spans_sparse": lambda: dedup.duplicate_gram_spans(
            load_token_sequences(spark, SF_DIR), k=16
        ),
        "ann_lsh": lambda: similarity.lsh_topk(
            emb, emb.where(F.expr("vec_id % 20 = 0")), k=5
        ),
        "semdedup": lambda: similarity.semdedup_pairs(
            emb, threshold=0.2, n_clusters=64
        ),
        "nb_quality": lambda: textstats.nb_quality(amplified),
        "dsir_sample": lambda: mixing.dsir_sample(amplified, 1000),
        "bm25": lambda: retrieval.retrieval_topk(docs, k=5),
    }
    # warm (same as bench.py)
    _noop(
        amplified.select("doc_id", "tokens").mapInPandas(
            lambda it: it, "doc_id string, tokens array<int>"
        )
    )
    _noop(ev)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    jvm_pid = spark.sparkContext._gateway.proc.pid
    timings = {}
    for name in args or list(queries):
        thunk = queries[name]
        best = float("inf")
        samples, compiles, worker_cpu = [], [], []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            c0 = codegen.METRIC_COMPILATION_TIME().getCount()
            w0 = _descendant_cpu_s(jvm_pid)
            t0 = time.perf_counter()
            _noop(thunk())
            dt = time.perf_counter() - t0
            samples.append(round(dt, 3))
            compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - c0)
            worker_cpu.append(round(_descendant_cpu_s(jvm_pid) - w0, 3))
            best = min(best, dt)
        timings[name] = {
            "best": round(best, 3),
            "samples": samples,
            "codegen_compiles": compiles,
            "python_worker_cpu_s": worker_cpu,
        }
    print(json.dumps({"queries": timings, "load": os.getloadavg()[0]}))
    spark.stop()


if __name__ == "__main__":
    main()
