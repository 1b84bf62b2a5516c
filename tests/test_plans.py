"""Physical-plan quality gates — the shape we want at 100 TB, asserted.

These tests read `.explain` output and fail if a regression introduces an
unexpected shuffle, loses predicate pushdown, or drops a broadcast.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.core.config import FrameSpec
from audio_feature_extraction_spark.core.materialize import reliable_checkpoint_dir
from audio_feature_extraction_spark.operators import (
    asof, framing, inverse, mixer, sessionize, temporal,
)
from audio_feature_extraction_spark.sources.tokens import load_token_sequences

SF = "/root/testdata/sf0.001"
SPEC = FrameSpec(frame_len=16, hop=8)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _n_exchanges(df) -> int:
    return _plan(df).count("Exchange hashpartitioning") + _plan(df).count(
        "Exchange rangepartitioning"
    )


def test_frame_features_is_shuffle_free(spark):
    """The flagship featurization must stay embarrassingly parallel."""
    df = framing.frame_features_flat(load_token_sequences(spark, SF), SPEC)
    assert _n_exchanges(df) == 0


def test_frame_table_is_shuffle_free(spark):
    df = framing.frame_table(load_token_sequences(spark, SF), SPEC)
    plan = _plan(df)
    assert _n_exchanges(df) == 0
    assert "Generate inline" in plan  # row -> frames stays a generator, no UDF
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_scan_prunes_columns(spark):
    """Token derivation must not read unused document columns."""
    df = load_token_sequences(spark, SF).select("doc_id", "n_tok")
    plan = _plan(df)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "text" in scan or "doc_id" in scan
    assert "lang" not in scan  # unused column pruned from the parquet scan


def test_filter_pushdown_to_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("source") == "src0"
    )
    plan = _plan(docs)
    assert "PushedFilters: [" in plan
    assert "EqualTo(source,src0)" in plan.replace(" ", "")


def test_asof_join_single_exchange(spark):
    """Union + carry-forward sort-merge: exactly ONE hash exchange on the
    entity key — no join-back, no dedupe shuffle."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = asof.asof_join(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type").isin("click", "purchase")),
    )
    assert _n_exchanges(out) == 1


def test_asof_multi_single_exchange(spark):
    """N feature sources served in ONE exchange (not N joins)."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = asof.asof_join_multi(
        ev.where(F.col("event_type") == "view"),
        {
            "click": ev.where(F.col("event_type") == "click"),
            "purchase": ev.where(F.col("event_type") == "purchase"),
        },
    )
    assert _n_exchanges(out) == 1


def test_temporal_chain_shares_one_exchange(spark):
    """deltas + backfill + rolling over the same entity ordering reuse a
    single exchange (windows share partitioning)."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = temporal.rolling_stats(
        temporal.backfill(temporal.with_deltas(ev)), k=9
    )
    assert _n_exchanges(out) == 1


def test_sessionize_single_exchange(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert _n_exchanges(sessionize.sessionize(ev)) == 1


def test_session_summary_reuses_partitioning(spark):
    """groupBy(user_id, session_id) after a window partitioned by user_id
    must not re-shuffle (prefix partitioning satisfies the agg)."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = sessionize.session_summary(ev)
    assert _n_exchanges(out) == 1


def test_mixer_broadcasts_noise_bank(spark):
    ts = load_token_sequences(spark, SF)
    num = F.regexp_replace("doc_id", "[^0-9]", "").cast("bigint")
    paired = mixer.pair_clean_noise(ts.where(num % 2 == 0), ts.where(num % 2 == 1))
    assert "BroadcastHashJoin" in _plan(paired)


def test_reconstruct_single_shuffle(spark):
    frames = framing.frame_table(load_token_sequences(spark, SF), SPEC)
    rec = inverse.reconstruct(frames, SPEC)
    assert _n_exchanges(rec) == 1


def test_split_write_prunes_partitions(spark, tmp_path):
    """partitionBy('split') datasets prune on read — filter shows up as a
    PartitionFilter, and only one split directory is scanned."""
    from audio_feature_extraction_spark.operators import split as split_op

    ts = load_token_sequences(spark, SF).limit(50)
    out = split_op.assign_split(ts, "doc_id")
    path = str(tmp_path / "pruned")
    out.write.partitionBy("split").parquet(path)
    back = spark.read.parquet(path).where(F.col("split") == "train")
    plan = _plan(back)
    # the split predicate lands in PartitionFilters (directory pruning),
    # not in the row-level PushedFilters
    pf = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "train" in pf


def test_range_join_bucketized_is_hash_join(spark):
    """The bucketized interval join must plan as a hash/sort-merge
    equi-join, never a nested-loop over the inequality."""
    from audio_feature_extraction_spark.operators import rangejoin, sessionize

    ev = spark.read.parquet(f"{SF}/events.parquet")
    sessions = sessionize.session_summary(ev, 1800.0).select(
        "user_id", "session_id", "session_start", "session_end"
    )
    out = rangejoin.range_join_bucketized(
        ev.select("event_id", "user_id", "ts"), sessions
    )
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_bucketed_table_removes_reconstruct_shuffle(spark):
    """Token table written bucketBy(doc_id): the frame->reconstruct
    groupBy reuses the storage partitioning — ZERO exchanges end to end
    (vs exactly one on an unbucketed table)."""
    from audio_feature_extraction_spark.sinks import bucketed

    ts = load_token_sequences(spark, SF)
    bucketed.write_bucketed(ts, "tok_bucketed_test", n_buckets=4)
    try:
        tb = bucketed.read_table(spark, "tok_bucketed_test")
        rec = inverse.reconstruct(framing.frame_table(tb, SPEC), SPEC)
        assert _n_exchanges(rec) == 0
        # and the result is still exact
        ok = inverse.roundtrip_check(tb, framing.frame_table(tb, SPEC), SPEC)
        assert all(r.ok for r in ok.collect())
    finally:
        spark.sql("DROP TABLE IF EXISTS tok_bucketed_test")


def test_params_join_broadcasts(spark):
    frames = framing.frame_table(load_token_sequences(spark, SF), SPEC)
    params = frames.sparkSession.createDataFrame(
        [("doc_0", 16, 8)], "doc_id string, frame_len int, hop int"
    )
    out = inverse.reconstruct_with_params(frames, params)
    assert "BroadcastHashJoin" in _plan(out)


def test_round2_ops_plan_shapes(spark):
    """Round-2 operators keep the 100 TB shapes: narrow where possible,
    one exchange where a prefix-scan is inherent."""
    from audio_feature_extraction_spark.operators import dedup, mixing, regrid

    ts = load_token_sequences(spark, SF)
    # regrid: pure projection — no shuffle
    assert _n_exchanges(regrid.regrid(ts, 3, 2)) == 0
    # centered frame grid: generator over a project — no shuffle
    cspec = FrameSpec(frame_len=16, hop=8, center=True)
    assert _n_exchanges(framing.frame_table(ts, cspec)) == 0
    assert _n_exchanges(framing.frame_features_flat(ts, cspec)) == 0
    # corpus mixing: generator + filter — no shuffle
    assert _n_exchanges(mixing.sample_by_rates(ts, {"web": 1.5})) == 0
    # minhash kernel: narrow mapInArrow — no shuffle
    assert _n_exchanges(dedup.minhash_signatures_kernel(ts)) == 0
    # sequence packing: exactly the one prefix-sum exchange
    assert _n_exchanges(mixing.pack_blocks(ts, 4096)) == 1


def test_contamination_degrades_to_shuffle_join(spark):
    """At sf0.001 Catalyst correctly broadcasts the tiny distinct-shingle
    set; the 100 TB guarantee is that WITHOUT a broadcastable side the
    plan is a shingle-key shuffle join (never a nested loop)."""
    from audio_feature_extraction_spark.operators import dedup, split

    tagged = split.assign_split(load_token_sequences(spark, SF))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = dedup.contamination(
            tagged.where("split = 'test'"), tagged.where("split = 'train'")
        )
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_round3_ops_plan_shapes(spark):
    """Round-3 operators keep the 100 TB shapes."""
    from audio_feature_extraction_spark.operators import textstats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rep = textstats.repetition_stats(docs)
    # line/5-gram fractions are in-row array ops; the only exchanges are
    # the top-word (doc, word) partial-agg pair + the join back
    assert _n_exchanges(rep) <= 3
    # the documents scan is pruned to the columns the op touches
    plan = _plan(rep)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "text" in scan and "lang" not in scan and "n_chars" not in scan


def test_round4_ops_plan_shapes(spark):
    """Round-4 operators keep the 100 TB shapes."""
    from audio_feature_extraction_spark.operators import dedup, textclean

    ts = load_token_sequences(spark, SF)

    # substring span dedup: no cartesian anywhere; the hash-prefilter
    # count pass groups on the 8-byte xxhash64, not the gram array
    spans = dedup.duplicate_gram_spans(ts, k=8)
    plan = _plan(spans)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # pure JVM, no Python on rows
    assert "hashpartitioning(gh#" in plan or "gh#" in plan

    # span rewrite stays JVM-side (higher-order filter, no UDF)
    stripped = dedup.strip_duplicate_spans(ts, spans=spans, k=8)
    assert "BatchEvalPython" not in _plan(stripped)

    # text scrub: a narrow map — zero exchanges, whole-stage codegen,
    # and the documents scan pruned to what it touches
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    scrubbed = textclean.scrub_text(docs.select("doc_id", "text"))
    splan = _plan(scrubbed)
    assert _n_exchanges(scrubbed) == 0
    assert splan.lstrip().startswith("*(")  # whole-stage codegen star
    assert "BatchEvalPython" not in splan
    scan = splan[splan.index("ReadSchema") :].splitlines()[0]
    assert "lang" not in scan and "source" not in scan


def test_asof_range_variant_uses_range_partitioning(spark, tmp_path):
    """The north star's literal shape. The sorted run is materialized
    (range exchange paid inside the materialization), so the SERVE pass
    must be a shuffle-free narrow scan of the pinned run, under the
    local-checkpoint default and on a session with a checkpoint dir."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    probes = ev.where(F.col("event_type") == "view")
    states = ev.where(F.col("event_type").isin("click", "purchase"))
    out = asof.asof_join_range(probes, states, num_partitions=4)
    with reliable_checkpoint_dir(spark, str(tmp_path / "ck")):
        durable = asof.asof_join_range(probes, states, num_partitions=4)
    for df in (out, durable):
        plan = _plan(df)
        assert "Exchange" not in plan      # serve = narrow over checkpoint
        assert "CartesianProduct" not in plan


def test_contamination_semi_prefilter_is_broadcast_pushed(spark):
    """VERDICT r04 #8: the exploded train shingle stream is pre-filtered
    by a BROADCAST left-semi join against the eval shingle set BEFORE
    the distinct's exchange — at 100 TB the train side dominates and
    unmatchable shingles must not enter the shuffle. The explicit
    broadcast hint must survive even with auto-broadcast disabled."""
    from audio_feature_extraction_spark.operators import dedup, split
    from audio_feature_extraction_spark.sources.tokens import (
        load_token_sequences,
    )

    tagged = split.assign_split(load_token_sequences(spark, SF))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(
            dedup.contamination(
                tagged.where("split = 'test'"),
                tagged.where("split = 'train'"),
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "LeftSemi" in plan and "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round5_ops_plan_shapes(spark):
    """Round-5 operators keep the 100 TB shapes."""
    from audio_feature_extraction_spark.operators import similarity, textstats

    # SemDeDup expression path: centroid table broadcasts as ONE
    # array-typed row; the only real exchange keys on the cluster id
    # (the self-join); never a cartesian pair scan
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sd = similarity.semdedup_pairs(
        emb, threshold=0.2, n_clusters=16, use_kernel=False
    )
    plan = _plan(sd)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan          # centroid row
    assert "_cl#" in plan                       # pair join keyed on cluster
    assert "BatchEvalPython" not in plan        # pure JVM

    # SemDeDup kernel path (the default): assignment is ONE Arrow
    # mapInArrow over the scan — no per-row Python, no cartesian.
    # r06: the assignment materializes once (localCheckpoint) before
    # the self-join, so the kernel shape is asserted on the assignment
    # operator itself and the pair plan reads the checkpointed blocks.
    aplan = _plan(
        similarity.semdedup_assign_kernel(emb, 16, 64, "vec_id", "embedding")
    )
    assert "MapInArrow" in aplan
    assert "BatchEvalPython" not in aplan
    sdk = similarity.semdedup_pairs(emb, threshold=0.2, n_clusters=16)
    kplan = _plan(sdk)
    assert "CartesianProduct" not in kplan
    assert "ExistingRDD" in kplan               # checkpointed assignment
    assert "BatchEvalPython" not in kplan

    # NB quality (r06 shape): the trained model is collected to driver
    # literals and scoring compiles to one integer fold per doc — the
    # scoring plan is a narrow projection with ZERO exchanges (the fit
    # runs eagerly at build time); no cartesian, all-JVM
    ts = load_token_sequences(spark, SF)
    nb = textstats.nb_quality(ts)
    nplan = _plan(nb)
    assert _n_exchanges(nb) == 0                # fold, not join+agg
    assert "CartesianProduct" not in nplan
    assert "BatchEvalPython" not in nplan


def test_list_kernels_cross_the_boundary_as_map_in_arrow(spark, jobs_started):
    """Every list-input kernel reads its lists through ONE ``MapInArrow``
    node — no ``MapInPandas`` — and building the plans starts no job."""
    import numpy as np

    from audio_feature_extraction_spark.operators import (
        dedup, mixing, similarity, textstats,
    )

    toks = spark.createDataFrame(
        [("d1", [1, 2, 3], 3, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    # a VALUES relation: SemDeDup collects its pivots from a local scan
    vecs = spark.sql(
        "SELECT * FROM VALUES (0L, array(1.0D, 0.0D)), (1L, array(0.0D, 1.0D)) "
        "AS t(vec_id, embedding)"
    )
    codes = spark.createDataFrame(
        [(0, [1, 2], [3, 4])], "vec_id bigint, qv array<bigint>, qqv array<bigint>"
    )
    enc = spark.createDataFrame([(0, [0])], "vec_id bigint, codes array<int>")
    kernels = {
        "frame_features_flat": lambda: framing.frame_features_flat(toks, SPEC),
        "frame_features_compact": lambda: framing.frame_features_compact(toks, SPEC),
        "minhash": lambda: dedup.minhash_signatures_kernel(toks),
        "nb_fit": lambda: textstats._fit_counts(
            toks, textstats.NB_BUCKETS, textstats._nb_buckets
        ),
        "dsir_fit": lambda: textstats._fit_counts(
            toks, mixing.DSIR_BUCKETS, mixing._dsir_buckets
        ),
        "lsh_buckets": lambda: similarity.lsh_buckets_kernel(vecs, 2, 2, 2),
        "cosine": lambda: similarity.cosine_scores_kernel(
            vecs.withColumn("qvec", F.col("embedding")), "embedding", "qvec", 2
        ),
        "quantize": lambda: similarity.quantize_kernel(vecs, 2),
        "int_dot": lambda: similarity.int_dot_scores_kernel(codes, "qv", "qqv", 2),
        "semdedup_assign": lambda: similarity.semdedup_assign_kernel(vecs, 2, 2),
        "pq_adc": lambda: similarity.pq_adc_scores_kernel(
            enc, [(9, [0, 0])], np.zeros((1, 2), dtype=np.int64), 1, 2, 1
        ),
    }
    plans = {}

    def build():
        for name, kernel in kernels.items():
            plans[name] = kernel()._jdf.queryExecution().analyzed().toString()

    assert jobs_started("list_kernel_plans", build) == 0
    for name, plan in plans.items():
        assert "MapInArrow" in plan and "MapInPandas" not in plan, name
