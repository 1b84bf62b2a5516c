"""core.materialize: the one eager materialization and its session policy.

Without a checkpoint dir every materialization is a local checkpoint,
whose blocks die with their executor: a later read fails with
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. With one it is a reliable checkpoint
that reads back from files. An executor loss is simulated in-process by
dropping the blocks of every RDD the operator persisted.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.core.materialize import (
    materialize,
    reliable_checkpoint_dir,
)
from audio_feature_extraction_spark.operators import (
    asof,
    dedup,
    retrieval,
    similarity,
)
from audio_feature_extraction_spark.sources.tokens import load_token_sequences
from tests.test_asof_bucketed import _events
from tests.test_retrieval import SF


@pytest.fixture(params=["local", "durable"])
def policy(request, spark, tmp_path):
    """Run the test body with no checkpoint dir, or inside a reliable
    one that is unset again afterwards."""
    if request.param == "local":
        yield request.param
    else:
        with reliable_checkpoint_dir(spark, str(tmp_path / "ck")):
            yield request.param


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _lose_blocks(spark, keep: set[int]) -> int:
    """Drop the blocks of every persisted RDD not in ``keep`` (what an
    executor loss does to them); returns how many RDDs lost blocks."""
    lost = _persisted_ids(spark) - keep
    for rdd_id in lost:
        spark.sparkContext._jsc.sc().unpersistRDD(rdd_id, True)
    return len(lost)


def _assert_lost_or_same(policy, lost, collect, want):
    if policy == "local":
        assert lost > 0
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
            collect()
    else:
        assert collect() == want


def test_reliable_checkpoint_dir_restores_unset_dir(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    df = spark.range(10).repartition(3)
    with reliable_checkpoint_dir(spark, str(tmp_path / "ck")):
        assert sc.getCheckpointDir().startswith(f"file:{tmp_path}/ck")
        durable = materialize(df)
    assert sc.getCheckpointDir() is None
    local = materialize(df)
    assert "ReliableCheckpointRDD" in durable.rdd.toDebugString().decode()
    assert "ReliableCheckpointRDD" not in local.rdd.toDebugString().decode()
    assert sorted(durable.collect()) == sorted(local.collect())


@pytest.mark.parametrize(
    "kw",
    [{}, {"strict": True}, {"max_staleness_seconds": 1800.0}],
    ids=["inclusive", "strict", "ttl"],
)
def test_asof_join_range_executor_loss(spark, policy, kw):
    """Few partitions, so entity runs span partition boundaries."""
    ev = _events(spark, n_hot=120, n_cold=12)
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type") == "click")

    def collect(df):
        return {r.event_id: (r.asof_value, r.asof_ts) for r in df.collect()}

    want = collect(asof.asof_join(probes, states, **kw))
    keep = _persisted_ids(spark)
    out = asof.asof_join_range(probes, states, num_partitions=3, **kw)
    lost = _lose_blocks(spark, keep)
    _assert_lost_or_same(policy, lost, lambda: collect(out), want)


def test_connected_components_executor_loss(spark, policy):
    nodes = [f"n{i}" for i in range(7)]
    pairs = spark.createDataFrame(
        list(zip(nodes, nodes[1:])) + [("x", "y")],
        "doc_a string, doc_b string",
    )
    want = {**{n: "n0" for n in nodes}, "x": "x", "y": "x"}
    keep = _persisted_ids(spark)
    labels = dedup.connected_components(pairs)
    lost = _lose_blocks(spark, keep)
    _assert_lost_or_same(
        policy, lost, lambda: {r.doc_id: r.comp for r in labels.collect()}, want
    )


def _asof(spark):
    ev = _events(spark, n_hot=60, n_cold=4)
    return asof.asof_join_range(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "click"),
        num_partitions=3,
    )


def _cc(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "doc_a string, doc_b string"
    )
    return dedup.connected_components(pairs)


@pytest.mark.parametrize(
    "build",
    [
        _asof,
        lambda spark: retrieval.retrieval_topk(
            spark.read.parquet(f"{SF}/documents.parquet")
        ),
        lambda spark: similarity.semdedup_pairs(
            spark.read.parquet(f"{SF}/embeddings.parquet"),
            threshold=0.2,
            n_clusters=16,
        ),
        lambda spark: dedup.lsh_candidate_pairs(load_token_sequences(spark, SF)),
        _cc,
    ],
    ids=[
        "asof_join_range",
        "retrieval_topk",
        "semdedup_pairs",
        "lsh_candidate_pairs",
        "connected_components",
    ],
)
def test_materializing_operators_leave_no_cached_dataset(spark, policy, build):
    """ADVICE r04: an operator's materialization must not leave a cached
    Dataset behind for the session's lifetime."""
    spark.catalog.clearCache()
    build(spark).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
