"""Skew crossover demo: one entity holds ~80% of a synthetic event
stream; compare the plain (single-window) as-of against the
segmented-scan bucketed variant.

    python scripts/skew_demo.py [n_rows]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from audio_feature_extraction_spark.core.session import get_spark  # noqa: E402
from audio_feature_extraction_spark.operators import asof  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    spark = get_spark("local[16]")

    # synthetic skew: 95% of rows on entity 0, rest spread over 10k keys
    ev = spark.range(0, n).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestampadd(SECOND, cast(id % 5000000 as int), timestamp'2024-01-01')"
        ).alias("ts"),
        F.when(F.col("id") % 20 != 0, F.lit(0))
        .otherwise(F.pmod("id", F.lit(10000)) + 1)
        .alias("user_id"),
        F.when(F.col("id") % 3 == 0, F.lit("view")).otherwise(F.lit("click")).alias(
            "event_type"
        ),
        (F.col("id") % 1000).cast("double").alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    ev.write.mode("overwrite").parquet("/tmp/skew_events")
    ev = spark.read.parquet("/tmp/skew_events")
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    noop(probes)  # warm
    for name, thunk in [
        ("plain_window", lambda: noop(asof.asof_join(probes, states))),
        (
            "bucketed_segmented_scan",
            lambda: noop(asof.asof_join_bucketed(probes, states, 86400.0)),
        ),
    ]:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            thunk()
            best = min(best, time.perf_counter() - t0)
        print(f"{name}: {best:.2f}s  ({n} rows, 95% on one entity)")
    spark.stop()


if __name__ == "__main__":
    main()
