"""Segmented-scan (bucketed) as-of join == plain as-of join, including on
skewed entities."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.core.materialize import reliable_checkpoint_dir
from audio_feature_extraction_spark.core.schemas import EVENTS
from audio_feature_extraction_spark.operators import asof

T0 = dt.datetime(2024, 1, 1)


def _events(spark, n_hot=500, n_cold=20):
    rows = []
    eid = 0
    # hot entity 1: dense alternating states/probes across many buckets
    for i in range(n_hot):
        typ = "click" if i % 3 != 2 else "view"
        rows.append((eid, T0 + dt.timedelta(minutes=17 * i), 1, typ, float(i), None))
        eid += 1
    # cold entities: sparse, probes before any state, dup timestamps
    for e in range(2, 2 + n_cold):
        rows.append((eid, T0 + dt.timedelta(minutes=1), e, "view", 0.0, None)); eid += 1
        rows.append((eid, T0 + dt.timedelta(hours=e), e, "click", 100.0 + e, None)); eid += 1
        rows.append((eid, T0 + dt.timedelta(hours=e), e, "click", 200.0 + e, None)); eid += 1
        rows.append((eid, T0 + dt.timedelta(hours=e, minutes=5), e, "view", 0.0, None)); eid += 1
    return spark.createDataFrame(rows, schema=EVENTS)


@pytest.mark.parametrize("bucket_seconds", [3600.0, 86400.0, 60.0])
def test_bucketed_equals_plain(spark, bucket_seconds):
    ev = _events(spark)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")
    plain = {
        r.event_id: (r.asof_value, r.asof_ts)
        for r in asof.asof_join(probes, states).collect()
    }
    bucketed = {
        r.event_id: (r.asof_value, r.asof_ts)
        for r in asof.asof_join_bucketed(
            probes, states, bucket_seconds=bucket_seconds
        ).collect()
    }
    assert bucketed == plain


@pytest.mark.parametrize("bucket_seconds", [3600.0, 60.0])
def test_backfill_bucketed_equals_plain(spark, bucket_seconds):
    from audio_feature_extraction_spark.operators import temporal

    ev = _events(spark).withColumn(
        "value",
        F.when(F.col("event_type") == "view", None).otherwise(F.col("value")),
    )
    plain = {r.event_id: r.filled for r in temporal.backfill(ev).collect()}
    bucketed = {
        r.event_id: r.filled
        for r in temporal.backfill_bucketed(ev, bucket_seconds=bucket_seconds).collect()
    }
    assert bucketed == plain


def test_choose_bucketed_heuristic():
    # 10k rows over 16 partitions -> mean 625/partition
    assert not asof.choose_bucketed(1000, 10000, 16)      # 1.6x mean: plain
    assert asof.choose_bucketed(8000, 10000, 16)          # 12.8x mean: bucketed
    assert not asof.choose_bucketed(0, 0, 16)


def test_asof_auto_matches_plain(spark):
    ev = _events(spark, n_hot=80, n_cold=8)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")
    plain = {
        r.event_id: r.asof_value for r in asof.asof_join(probes, states).collect()
    }
    auto = {
        r.event_id: r.asof_value
        for r in asof.asof_join_auto(probes, states).collect()
    }
    assert auto == plain


def test_bucketed_zero_leakage(spark):
    ev = _events(spark, n_hot=60, n_cold=5)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")
    max_probe_ts = probes.agg(F.max("ts")).collect()[0][0]
    trimmed_states = states.where(F.col("ts") <= F.lit(max_probe_ts))
    a = {
        r.event_id: r.asof_value
        for r in asof.asof_join_bucketed(probes, states, 3600.0).collect()
    }
    b = {
        r.event_id: r.asof_value
        for r in asof.asof_join_bucketed(probes, trimmed_states, 3600.0).collect()
    }
    assert a == b


def _null_state_events(spark):
    """Newest state in a bucket is null-valued (ADVICE r01 repro): a
    transparent state must neither erase the bucket's boundary carry nor
    advance asof_ts / refresh a TTL."""
    import pyspark.sql.types as T

    nullable = T.StructType(
        [
            T.StructField(f.name, f.dataType, True if f.name == "value" else f.nullable)
            for f in EVENTS.fields
        ]
    )
    rows = [
        # entity 1: non-null state, then a LATER null state in the same
        # hour-bucket, then probes in later buckets
        (0, T0 + dt.timedelta(minutes=1), 1, "click", 1.0, None),
        (1, T0 + dt.timedelta(minutes=30), 1, "click", None, None),
        (2, T0 + dt.timedelta(hours=2), 1, "view", 0.0, None),
        (3, T0 + dt.timedelta(hours=30), 1, "view", 0.0, None),
        # entity 2: ONLY null states before the probe
        (4, T0 + dt.timedelta(minutes=1), 2, "click", None, None),
        (5, T0 + dt.timedelta(minutes=2), 2, "view", 0.0, None),
    ]
    return spark.createDataFrame(rows, schema=nullable)


def test_null_states_transparent_plain(spark):
    ev = _null_state_events(spark)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")
    out = {r.event_id: r for r in asof.asof_join(probes, states).collect()}
    # the null state at minute 30 is skipped: value AND ts come from the
    # minute-1 row (the pair may not mix two different state rows)
    assert out[2].asof_value == 1.0
    assert out[2].asof_ts == T0 + dt.timedelta(minutes=1)
    # entity 2 saw only null states -> served nothing
    assert out[5].asof_value is None and out[5].asof_ts is None


def test_null_state_cannot_refresh_ttl(spark):
    ev = _null_state_events(spark)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")
    # 6h TTL: probe at hour 30 is 29h59m after the non-null state; the
    # null state at minute 30 must NOT count as a refresh
    out = {
        r.event_id: r
        for r in asof.asof_join(
            probes, states, max_staleness_seconds=21600.0
        ).collect()
    }
    assert out[3].asof_value is None and out[3].asof_ts is None
    assert out[2].asof_value == 1.0  # 1h59m old: fresh


@pytest.mark.parametrize("bucket_seconds", [3600.0, 60.0])
def test_bucketed_equals_plain_with_null_states(spark, bucket_seconds):
    ev = _null_state_events(spark)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")
    plain = {
        r.event_id: (r.asof_value, r.asof_ts)
        for r in asof.asof_join(probes, states).collect()
    }
    bucketed = {
        r.event_id: (r.asof_value, r.asof_ts)
        for r in asof.asof_join_bucketed(
            probes, states, bucket_seconds=bucket_seconds
        ).collect()
    }
    assert bucketed == plain
    assert plain[2] == (1.0, T0 + dt.timedelta(minutes=1))


def test_multi_null_states_transparent(spark):
    ev = _null_state_events(spark)
    probes = ev.where(F.col("event_type") == "view")
    out = {
        r.event_id: r
        for r in asof.asof_join_multi(
            probes, {"click": ev.where(F.col("event_type") == "click")}
        ).collect()
    }
    assert out[2].asof_click == 1.0
    assert out[2].asof_click_ts == T0 + dt.timedelta(minutes=1)
    assert out[5].asof_click is None and out[5].asof_click_ts is None


@pytest.mark.parametrize("mode", ["strict", "ttl"])
def test_bucketed_strict_and_ttl_match_plain(spark, mode):
    """The segmented-scan variant honors strict/TTL exactly like the
    single-window join (equal-ts states share a bucket, so only the
    local sort-tag order changes; TTL applies after the coalesce)."""
    ev = _events(spark, n_hot=80, n_cold=10)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")
    kw = {"strict": True} if mode == "strict" else {
        "max_staleness_seconds": 1800.0
    }
    plain = {
        r.event_id: (r.asof_value, r.asof_ts)
        for r in asof.asof_join(probes, states, **kw).collect()
    }
    buck = {
        r.event_id: (r.asof_value, r.asof_ts)
        for r in asof.asof_join_bucketed(
            probes, states, 3600.0, **kw
        ).collect()
    }
    assert buck == plain and len(plain) > 0


@pytest.mark.parametrize(
    "kw",
    [{}, {"strict": True}, {"max_staleness_seconds": 1800.0}],
    ids=["inclusive", "strict", "ttl"],
)
def test_range_durable_checkpoint_equals_default(spark, tmp_path, kw):
    """asof_join_range on a session with a checkpoint dir (the sorted
    run a reliable checkpoint) serves exactly what the local-checkpoint
    default (and the window join) serve. Few partitions so entity runs
    span partition boundaries, exercising the cross-partition carry."""
    ev = _events(spark, n_hot=120, n_cold=12)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")

    def collect(out):
        return {r.event_id: (r.asof_value, r.asof_ts) for r in out.collect()}

    win = collect(asof.asof_join(probes, states, **kw))
    default = collect(
        asof.asof_join_range(probes, states, num_partitions=4, **kw)
    )
    with reliable_checkpoint_dir(spark, str(tmp_path / "ck")):
        out = asof.asof_join_range(probes, states, num_partitions=4, **kw)
    durable = collect(out)
    assert default == win and durable == win and len(win) > 0
    # the sorted run the serve reads is a reliable checkpoint
    assert "ReliableCheckpointRDD" in out.rdd.toDebugString().decode()


def test_range_serves_the_same_rows_inside_a_union(spark):
    """Inside a union the serve's tasks take partition indices after the
    union's earlier children, so the carry-in must be keyed by the run
    partition the rows carry, not by the task's index."""
    ev = _events(spark, n_hot=120, n_cold=12)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")
    win = asof.asof_join(probes, states)
    rng = asof.asof_join_range(probes, states, num_partitions=4)
    both = win.withColumn("v", F.lit("window")).unionByName(
        rng.withColumn("v", F.lit("range"))
    )
    got = {}
    for r in both.collect():
        got.setdefault(r.v, {})[r.event_id] = (r.asof_value, r.asof_ts)
    assert got["range"] == got["window"] and len(got["window"]) > 0


def test_range_serves_pre_epoch_states(spark):
    """A state at a pre-1970 timestamp (negative unix_micros) is real
    data: it must be served with its true asof_ts, honored by strict
    mode, and aged by TTL — never treated as 'absent' by a sign test
    on the timestamp (ADVICE r04)."""
    t_old = dt.datetime(1969, 12, 31, 23, 0, 0)   # pre-epoch
    t_probe = dt.datetime(1970, 1, 1, 0, 30, 0)
    rows = [
        (0, t_old, 1, "click", 42.0, None),
        (1, t_probe, 1, "view", 0.0, None),
        # entity 2: probe exactly at the pre-epoch state's ts
        (2, t_old, 2, "click", 7.0, None),
        (3, t_old, 2, "view", 0.0, None),
    ]
    ev = spark.createDataFrame(rows, schema=EVENTS)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")

    def one(kw):
        return {
            r.event_id: (r.asof_value, r.asof_ts)
            for r in asof.asof_join_range(
                probes, states, num_partitions=2, **kw
            ).collect()
        }

    plain = one({})
    assert plain[1] == (42.0, t_old)
    assert plain[3] == (7.0, t_old)          # inclusive boundary
    strict = one({"strict": True})
    assert strict[1] == (42.0, t_old)
    assert strict[3] == (None, None)         # equal-ts rejected
    ttl = one({"max_staleness_seconds": 7200.0})
    assert ttl[1] == (42.0, t_old)           # 90 min staleness < 2 h TTL
    tight = one({"max_staleness_seconds": 60.0})
    assert tight[1] == (None, None)          # aged out across the epoch
    # window variant agrees on all of it
    for kw, want in [({}, plain), ({"strict": True}, strict),
                     ({"max_staleness_seconds": 60.0}, tight)]:
        win = {
            r.event_id: (r.asof_value, r.asof_ts)
            for r in asof.asof_join(probes, states, **kw).collect()
        }
        assert win == want
