"""Checkpoint/resume lineage (NFR-4.1) + dataset writers (4 layouts)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.core.config import FrameSpec
from audio_feature_extraction_spark.core.schemas import TOKEN_SEQUENCES
from audio_feature_extraction_spark.operators import framing
from audio_feature_extraction_spark.plans import lineage
from audio_feature_extraction_spark.sinks import writers

SPEC = FrameSpec(frame_len=16, hop=8)


def _mkdf(spark, n=40):
    return spark.createDataFrame(
        [(f"doc_{i}", list(range(i, i + 24)), 24, "web") for i in range(n)],
        schema=TOKEN_SEQUENCES,
    )


def _features(df):
    return framing.frame_features_sql(df, SPEC)


def test_resume_skips_completed_and_matches_uninterrupted(spark, tmp_path):
    df = _mkdf(spark)

    def proc(d):
        return _features(d.drop("unit")).join(
            lineage.with_unit(d.select("doc_id"), "doc_id", 8), "doc_id"
        )

    # uninterrupted run
    full = lineage.CheckpointedPipeline(spark, str(tmp_path / "full"), "run_a", 8)
    full.run_stage(df, "extracted", "doc_id", proc)
    exp = sorted(
        (r.doc_id, r.frame_id, tuple(r.features))
        for r in full.stage_output("extracted").collect()
    )

    # interrupted: half the units "crash", then resume
    part = lineage.CheckpointedPipeline(spark, str(tmp_path / "part"), "run_b", 8)
    part.run_stage(df, "extracted", "doc_id", proc, fail_units={0, 1, 2, 3})
    done_after_crash = {
        r.unit for r in part.completed_units("extracted").collect()
    }
    assert done_after_crash and 0 not in done_after_crash

    part.run_stage(df, "extracted", "doc_id", proc)  # resume
    got = sorted(
        (r.doc_id, r.frame_id, tuple(r.features))
        for r in part.stage_output("extracted").collect()
    )
    assert got == exp  # byte-identical final output
    # all 8 units completed exactly once
    m = part.manifest("extracted")
    assert m.count() == 8
    assert {r.unit for r in m.collect()} == set(range(8))


def test_execution_report(spark, tmp_path):
    df = _mkdf(spark, 10)
    p = lineage.CheckpointedPipeline(spark, str(tmp_path / "r"), "run_c", 4)
    p.run_stage(df, "loaded", "doc_id", lambda d: d)
    rep = lineage.execution_report(p.manifest("loaded")).collect()[0]
    assert rep.total_rows == 10
    assert rep.n_units == 4 or rep.n_units <= 4  # small n may miss units
    assert rep.stage == "loaded"


@pytest.mark.parametrize("fmt,nch", [
    ("complex", 2), ("magnitude_phase", 2), ("magnitude_phase_trig", 3),
    ("magnitude_only", 1),
])
def test_writer_layouts(spark, tmp_path, fmt, nch):
    feats = _features(_mkdf(spark, 5))
    out = str(tmp_path / fmt)
    writers.write_dataset(feats, out, fmt=fmt, frame_len=16, hop=8)
    back = spark.read.parquet(out)
    row = back.orderBy("doc_id", "frame_id").collect()[0]
    assert len(row.channels) == nch
    import json
    meta = json.loads(row.metadata)
    assert meta["format"] == fmt and meta["frame_len"] == 16


def test_trig_layout_phase_recoverable(spark, tmp_path):
    """cos/sin channels reconstruct the phase via atan2
    (≙ design.md:1566-1567)."""
    feats = _features(_mkdf(spark, 3))
    out = str(tmp_path / "trig")
    writers.write_dataset(feats, out, fmt="magnitude_phase_trig")
    back = spark.read.parquet(out).withColumn(
        "phase_rec",
        F.atan2(
            F.element_at("channels.phase_sin", 1),
            F.element_at("channels.phase_cos", 1),
        ),
    )
    for r in back.collect():
        # atan2 returns (-pi, pi]; phase in [0, 2pi) — compare mod 2pi
        diff = (r.phase_rec - r.phase) % (2 * math.pi)
        assert min(diff, 2 * math.pi - diff) < 1e-9


def test_reconstruct_from_written_dataset(spark, tmp_path):
    """Write dataset -> reconstruct from files alone -> exact originals
    (design.md:1581-1631: dataset carries full reconstruction metadata)."""
    df = _mkdf(spark, 6)
    feats = _features(df)
    out = str(tmp_path / "ds_rt")
    writers.write_dataset(feats, out, fmt="magnitude_phase_trig")
    rec = {
        r.doc_id: list(r.tokens)
        for r in writers.reconstruct_from_dataset(spark, out).collect()
    }
    for r in df.collect():
        assert rec[r.doc_id] == list(r.tokens)


def test_incremental_append_keys(spark, tmp_path):
    out = str(tmp_path / "ds")
    a = spark.createDataFrame([(1,), (2,)], "v int")
    b = spark.createDataFrame([(3,), (4,)], "v int")
    writers.append_samples(out, a, ["v"])
    writers.append_samples(out, b, ["v"])
    keys = sorted(r.sample_key for r in spark.read.parquet(out).collect())
    assert keys == ["sample_000000", "sample_000001", "sample_000002", "sample_000003"]


# ---------------------------------------------------------------------------
# snapshot table layer (Iceberg-style atomic commits + time travel)
# ---------------------------------------------------------------------------

def test_snapshot_append_and_time_travel(spark, tmp_path):
    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    df1 = spark.range(0, 5).withColumnRenamed("id", "k")
    df2 = spark.range(5, 8).withColumnRenamed("id", "k")
    v0 = sn.write_snapshot(df1, t, mode="overwrite")
    v1 = sn.write_snapshot(df2, t, mode="append")
    assert (v0, v1) == (0, 1)
    latest = {r.k for r in sn.read_snapshot(spark, t).collect()}
    assert latest == set(range(8))
    # time travel: version 0 unchanged by the append
    old = {r.k for r in sn.read_snapshot(spark, t, version=0).collect()}
    assert old == set(range(5))
    hist = sn.snapshot_history(t)
    assert [m["version"] for m in hist] == [0, 1]
    assert hist[1]["parent"] == 0 and hist[1]["op"] == "append"


def test_snapshot_data_dirs_carry_no_success_marker(spark, tmp_path):
    """The manifest commits a snapshot's data dir, so the write leaves no
    ``_SUCCESS`` marker next to its parquet files."""
    import os

    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    sn.write_snapshot(spark.range(0, 5), t)
    sn.write_snapshot(spark.range(5, 8), t, mode="append")
    dirs = sn.snapshot_history(t)[-1]["data_dirs"]
    assert len(dirs) == 2
    for d in dirs:
        files = os.listdir(os.path.join(t, d))
        assert any(f.endswith(".parquet") for f in files)
        assert "_SUCCESS" not in files
    assert sorted(r.id for r in sn.read_snapshot(spark, t).collect()) == list(range(8))


def test_snapshot_overwrite_is_metadata_only(spark, tmp_path):
    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    sn.write_snapshot(spark.range(0, 4), t)
    sn.write_snapshot(spark.range(100, 102), t, mode="overwrite")
    assert sn.read_snapshot(spark, t).count() == 2
    # the overwritten version is still fully readable (no data deleted)
    assert sn.read_snapshot(spark, t, version=0).count() == 4


def test_snapshot_partial_write_invisible(spark, tmp_path):
    """A staged data dir without a committed manifest must be invisible
    to readers — the atomicity contract."""
    import os

    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    sn.write_snapshot(spark.range(0, 3), t)
    # simulate a crashed writer: data staged, no manifest, no pointer move
    spark.range(900, 999).write.parquet(os.path.join(t, "data", "v99"))
    assert sn.read_snapshot(spark, t).count() == 3
    assert sn.current_version(t) == 0


def test_snapshot_commit_race_loser_retries(spark, tmp_path):
    """If another committer grabbed the version first (manifest exists),
    the writer retries at the next version instead of clobbering."""
    import json
    import os

    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    sn.write_snapshot(spark.range(0, 3), t)
    # plant a competing manifest for version 1 (as if a racer committed
    # between our _current read and manifest create) but leave _current at 0
    os.makedirs(os.path.join(t, "data", "v1"), exist_ok=True)
    spark.range(50, 55).write.mode("overwrite").parquet(os.path.join(t, "data", "v1"))
    with open(os.path.join(t, "manifest-1.json"), "w") as f:
        json.dump({"version": 1, "parent": 0, "op": "append",
                   "data_dirs": ["data/v0", "data/v1"],
                   "schema": "struct<id:bigint>"}, f)
    v = sn.write_snapshot(spark.range(10, 12), t, mode="append")
    assert v == 2  # skipped the taken version
    # our append chains off _current (v0) — the racer's uncommitted v1
    # files are not silently absorbed
    assert {r.id for r in sn.read_snapshot(spark, t, version=2).collect()} == {
        0, 1, 2, 10, 11
    }
    # the orphan manifest is NOT history, NOT readable (it references
    # data no committed writer staged), and doesn't affect the chain
    assert [m["version"] for m in sn.snapshot_history(t)] == [0, 2]
    import pytest

    with pytest.raises(ValueError, match="not on the committed chain"):
        sn.read_snapshot(spark, t, version=1)


def test_snapshot_pointer_swap_is_cas(spark, tmp_path):
    """ADVICE r03: writer A creates manifest v1 then stalls before the
    pointer swap; writer B skips v1 as in-flight and commits v2 (parent
    v0). A's later swap must NOT roll the table back to v1 — the swap is
    a compare-and-swap on the parent, so A's commit fails cleanly and v1
    stays an unreadable orphan."""
    import json
    import os

    import pytest

    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    sn.write_snapshot(spark.range(0, 3), t)  # v0
    # writer A: manifest v1 created (parent v0), swap not yet executed
    with open(os.path.join(t, "manifest-1.json"), "w") as f:
        json.dump({"version": 1, "parent": 0, "op": "append",
                   "data_dirs": ["data/s-aaaaaaaaaaaa"],
                   "schema": "struct<id:bigint>"}, f)
    # writer B: full commit — skips v1, lands v2 with parent v0
    vb = sn.write_snapshot(spark.range(10, 12), t, mode="append")
    assert vb == 2 and sn.current_version(t) == 2
    # writer A wakes up and attempts its pointer swap (parent was v0)
    assert sn._cas_pointer(t, expect_parent=0, version=1) is False
    # B's commit survives; A's manifest is an orphan off the chain
    assert sn.current_version(t) == 2
    assert [m["version"] for m in sn.snapshot_history(t)] == [0, 2]
    with pytest.raises(ValueError, match="not on the committed chain"):
        sn.read_snapshot(spark, t, version=1)


def test_snapshot_racing_writers_have_disjoint_staged_dirs(spark, tmp_path):
    """ADVICE r02: two writers that both read _current=N-1 used to stage
    into the SAME data/vN dir with overwrite — the manifest-race winner
    could commit a snapshot whose data the loser then clobbered. Staged
    dirs are now per-writer nonces recorded in the manifest, so each
    committed version's data is exactly what its writer staged."""
    import os

    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    sn.write_snapshot(spark.range(0, 3), t)

    # simulate writer B staging while A commits: monkeypatch-free — run
    # A fully, then B; B must not touch A's staged dir even though both
    # target "the next version" namespace
    va = sn.write_snapshot(spark.range(10, 13), t, mode="append")
    vb = sn.write_snapshot(spark.range(20, 22), t, mode="append")
    ma = sn._load_manifest(t, va)
    mb = sn._load_manifest(t, vb)
    own_a = [d for d in ma["data_dirs"] if d not in sn._load_manifest(t, 0)["data_dirs"]]
    own_b = [d for d in mb["data_dirs"] if d not in ma["data_dirs"]]
    assert own_a and own_b and set(own_a).isdisjoint(own_b)
    for d in own_a + own_b:
        assert d.startswith("data/s-") and os.path.isdir(os.path.join(t, d))
    assert {r.id for r in sn.read_snapshot(spark, t).collect()} == {
        0, 1, 2, 10, 11, 12, 20, 21
    }
    # GC over the committed chain keeps the latest snapshot intact
    sn.expire_snapshots(t, keep_last=1)
    assert {r.id for r in sn.read_snapshot(spark, t).collect()} == {
        0, 1, 2, 10, 11, 12, 20, 21
    }


def test_write_dataset_snapshot_roundtrip(spark, tmp_path):
    """snapshot=True commits the dataset atomically and the inverse reads
    it back through the snapshot layer — exact reconstruction."""
    from audio_feature_extraction_spark.core.config import FrameSpec
    from audio_feature_extraction_spark.core.schemas import TOKEN_SEQUENCES
    from audio_feature_extraction_spark.operators import framing
    from audio_feature_extraction_spark.sinks import writers

    spec = FrameSpec(frame_len=8, hop=4)
    toks = [list(range(100, 121)), [5] * 8, list(range(3))]
    ts = spark.createDataFrame(
        [(f"doc_{i}", t, len(t), "web") for i, t in enumerate(toks)],
        schema=TOKEN_SEQUENCES,
    )
    out = str(tmp_path / "ds")
    writers.write_dataset(
        framing.frame_features(ts, spec), out,
        frame_len=8, hop=4, snapshot=True,
    )
    rec = {
        r.doc_id: list(r.tokens)
        for r in writers.reconstruct_from_dataset(spark, out).collect()
    }
    assert rec == {f"doc_{i}": t for i, t in enumerate(toks)}


def test_expire_snapshots_gc(spark, tmp_path):
    """Expiry drops old manifests and deletes data dirs no retained
    manifest references — but never dirs the live window still shares,
    and never uncommitted (orphan) staging dirs."""
    import os

    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    sn.write_snapshot(spark.range(0, 3), t)                     # v0
    sn.write_snapshot(spark.range(3, 5), t, mode="append")      # v1 (refs v0 dir)
    sn.write_snapshot(spark.range(50, 52), t, mode="overwrite")  # v2 (only own dir)
    # orphan staging dir from a hypothetical in-flight writer
    spark.range(999, 1000).write.parquet(os.path.join(t, "data", "v99"))

    deleted = sn.expire_snapshots(t, keep_last=1)
    # v0's and v1's own staged dirs go; names are per-writer nonces now
    assert len(deleted) == 2 and all(d.startswith("data/s-") for d in deleted)
    assert sn.read_snapshot(spark, t).count() == 2          # current intact
    assert not os.path.exists(os.path.join(t, "manifest-0.json"))
    assert os.path.exists(os.path.join(t, "data", "v99"))   # orphan untouched
    import pytest as _pt

    with _pt.raises((FileNotFoundError, ValueError)):
        sn.read_snapshot(spark, t, version=0)


def test_expire_keeps_shared_dirs(spark, tmp_path):
    """A data dir referenced by BOTH an expired and a retained manifest
    must survive (append chains share dirs across versions)."""
    import os

    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    sn.write_snapshot(spark.range(0, 3), t)                  # v0
    sn.write_snapshot(spark.range(3, 5), t, mode="append")   # v1 refs both dirs
    v0_dir = sn._load_manifest(t, 0)["data_dirs"][0]
    deleted = sn.expire_snapshots(t, keep_last=1)            # keep only v1
    assert deleted == []                                     # v1 still refs v0's dir
    assert os.path.exists(os.path.join(t, v0_dir))
    assert sn.read_snapshot(spark, t).count() == 5


def test_snapshot_pipeline_resume_is_manifest_metadata(spark, tmp_path):
    """VERDICT r03 #2: completed units derive from the committed
    snapshot MANIFEST (its properties record each commit's unit set), so
    resume is a metadata-only read and cannot drift from the commit
    point — and the resumed run reprocesses ZERO completed units,
    proven by a per-run marker column."""
    import os

    from audio_feature_extraction_spark.plans import lineage
    from audio_feature_extraction_spark.sinks import snapshots as sn

    df = spark.range(0, 160).withColumnRenamed("id", "k")
    base = str(tmp_path / "p")
    p = lineage.SnapshotPipeline(spark, base, "run", n_units=8)

    def fn_first(d):
        return d.withColumn("v", F.col("k") * 2).withColumn(
            "marker", F.lit("first")
        )

    def fn_resume(d):
        return d.withColumn("v", F.col("k") * 2).withColumn(
            "marker", F.lit("resume")
        )

    p.run_stage(df, "extracted", "k", fn_first, fail_units={0, 1})
    table = os.path.join(base, "stage=extracted")
    props0 = sn.snapshot_properties(table)
    done0 = {r.unit for r in p.completed_units("extracted").collect()}
    assert set(props0["units"]) == done0 == {2, 3, 4, 5, 6, 7}
    assert props0["stage"] == "extracted" and props0["run_id"] == "run"

    p.run_stage(df, "extracted", "k", fn_resume)
    # the resume snapshot's own manifest records exactly the backfill
    assert set(sn.snapshot_properties(table)["units"]) == {0, 1}
    # zero reprocessing: every first-run unit kept its first-run rows
    markers = {
        r.unit: r.m
        for r in p.stage_output("extracted")
        .groupBy("unit")
        .agg(F.collect_set("marker").alias("ms"))
        .select("unit", F.array_join(F.array_sort("ms"), ",").alias("m"))
        .collect()
    }
    assert all(m in ("first", "resume") for m in markers.values())
    assert {u for u, m in markers.items() if m == "resume"} == {0, 1}
    assert p.stage_output("extracted").count() == 160


def test_snapshot_pipeline_resume_no_duplicates(spark, tmp_path):
    """The crash window CheckpointedPipeline has (data written, manifest
    not) cannot duplicate under SnapshotPipeline: an uncommitted staged
    dir is invisible, and the resumed run's output is identical to an
    uninterrupted one."""
    import os

    from audio_feature_extraction_spark.plans import lineage

    df = spark.range(0, 200).withColumnRenamed("id", "k")
    fn = lambda d: d.withColumn("v", F.col("k") * 2)  # noqa: E731

    base_a = str(tmp_path / "a")
    p = lineage.SnapshotPipeline(spark, base_a, "run_a", n_units=8)
    # crash simulation: first run skips units {0,1}; additionally, a
    # staged-but-uncommitted dir (mid-write crash) is planted
    p.run_stage(df, "extracted", "k", fn, fail_units={0, 1})
    os.makedirs(os.path.join(base_a, "stage=extracted", "data"), exist_ok=True)
    spark.range(0, 5).withColumnRenamed("id", "k").withColumn(
        "unit", F.lit(0)
    ).withColumn("v", F.lit(-1)).write.mode("overwrite").parquet(
        os.path.join(base_a, "stage=extracted", "data", "v999")
    )
    p.run_stage(df, "extracted", "k", fn)  # resume

    base_b = str(tmp_path / "b")
    q = lineage.SnapshotPipeline(spark, base_b, "run_b", n_units=8)
    q.run_stage(df, "extracted", "k", fn)  # uninterrupted

    a = sorted((r.k, r.v) for r in p.stage_output("extracted").collect())
    b = sorted((r.k, r.v) for r in q.stage_output("extracted").collect())
    assert a == b and len(a) == 200  # no duplicates, no losses
    # third run is a no-op (all units complete) — version unchanged
    from audio_feature_extraction_spark.sinks import snapshots as sn

    v_before = sn.current_version(os.path.join(base_a, "stage=extracted"))
    p.run_stage(df, "extracted", "k", fn)
    assert sn.current_version(os.path.join(base_a, "stage=extracted")) == v_before


def _inferred_read(spark, table_dir, version):
    """A plain inferred parquet read of one snapshot's data dirs."""
    import os

    from audio_feature_extraction_spark.sinks import snapshots as sn

    dirs = sn._load_manifest(table_dir, version)["data_dirs"]
    return spark.read.parquet(*[os.path.join(table_dir, d) for d in dirs])


def _sorted_rows(df):
    return sorted(map(repr, df.collect()))


def _wide(spark, lo, hi):
    """Non-nullable scalars plus nested types, whose nullability a
    parquet read relaxes everywhere."""
    return spark.range(lo, hi).select(
        "id",
        F.col("id").cast("int").alias("i"),
        F.array(F.col("id"), F.lit(7)).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("x"), F.lit("s").alias("y")).alias("st"),
        F.lit(None).cast("string").alias("maybe"),
        F.col("id").cast("decimal(12,3)").alias("dec"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )


def test_snapshot_schema_from_manifest_matches_inference(spark, tmp_path):
    """Overwrite, append and time-travel reads take their schema from
    the manifest, and get the schema (nullability included) and rows a
    plain inferred parquet read of the same dirs gets."""
    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    sn.write_snapshot(_wide(spark, 0, 4), t, mode="overwrite")   # v0
    sn.write_snapshot(_wide(spark, 10, 13), t, mode="append")    # v1
    sn.write_snapshot(_wide(spark, 20, 22), t, mode="overwrite")  # v2
    for v in (0, 1, 2):
        assert "schema_json" in sn._load_manifest(t, v)
        got = sn.read_snapshot(spark, t, version=v)
        want = _inferred_read(spark, t, v)
        assert got.schema == want.schema
        assert all(f.nullable for f in got.schema.fields)
        assert _sorted_rows(got) == _sorted_rows(want)
    assert sn.read_snapshot(spark, t).count() == 2
    assert sn.read_snapshot(spark, t, version=1).count() == 7


def test_snapshot_without_schema_json_reads_by_inference(spark, tmp_path):
    """A manifest written before ``schema_json`` existed still reads
    (parquet infers its schema), and an append on top of it leaves the
    field out too, since its parent's dirs carry no recorded schema."""
    import json
    import os

    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    sn.write_snapshot(_wide(spark, 0, 3), t)
    path = os.path.join(t, "manifest-0.json")
    with open(path) as f:
        m = json.load(f)
    del m["schema_json"]
    with open(path, "w") as f:
        json.dump(m, f)
    got = sn.read_snapshot(spark, t)
    assert got.schema == _inferred_read(spark, t, 0).schema
    assert sorted(r.id for r in got.collect()) == [0, 1, 2]
    v = sn.write_snapshot(_wide(spark, 5, 7), t, mode="append")
    assert "schema_json" not in sn._load_manifest(t, v)
    assert sorted(r.id for r in sn.read_snapshot(spark, t).collect()) == [
        0, 1, 2, 5, 6
    ]


def test_snapshot_append_with_new_schema_falls_back_to_inference(
    spark, tmp_path
):
    """An append whose names or types differ from its parent's leaves
    ``schema_json`` out, so its dirs read exactly as a plain inferred
    parquet read of them does; a later overwrite records it again."""
    from audio_feature_extraction_spark.sinks import snapshots as sn

    t = str(tmp_path / "tbl")
    sn.write_snapshot(spark.range(0, 3), t)                          # v0
    wider = spark.range(3, 5).withColumn("extra", F.lit("x"))
    sn.write_snapshot(wider, t, mode="append")                      # v1
    renamed = spark.range(5, 6).withColumnRenamed("id", "k")
    sn.write_snapshot(renamed, t, mode="append")                    # v2
    for v in (1, 2):
        assert "schema_json" not in sn._load_manifest(t, v)
        got = sn.read_snapshot(spark, t, version=v)
        want = _inferred_read(spark, t, v)
        assert got.schema == want.schema
        assert _sorted_rows(got) == _sorted_rows(want)
    # the parent's recorded schema still serves time travel to v0
    assert "schema_json" in sn._load_manifest(t, 0)
    sn.write_snapshot(spark.range(9, 10), t, mode="overwrite")      # v3
    assert "schema_json" in sn._load_manifest(t, 3)
