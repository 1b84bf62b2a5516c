"""Snapshot table layer — Iceberg-style atomicity over plain parquet.

The north star names Iceberg tables; this sandbox has no iceberg-runtime
jars, so this module implements the part of the table format the engine
actually relies on, with nothing but parquet + JSON + one atomic rename:

* every write is a SNAPSHOT: new data files land under a per-writer
  nonce dir ``data/s-<nonce>/`` (invisible to readers, and un-clobberable
  by a racing writer), then ``manifest-<N>.json`` — which records that
  exact dir — is created with O_EXCL (the commit lock — a concurrent
  committer loses and retries the metadata commit on the next version),
  then the ``_current`` pointer is atomically replaced. Readers never
  see a partial write. The manifest is the commit record, so a data dir
  carries no ``_SUCCESS`` marker.
* ``read_snapshot(version=...)`` is time travel: a manifest lists the
  FULL set of live data directories for its version, so old versions
  stay readable after appends (and after logical overwrites, which keep
  old files on disk exactly like Iceberg until a GC/expire pass).
* ``overwrite`` is a metadata operation: the new manifest simply lists
  only the new directory — no data deletion on the write path.
* a manifest carries the committed schema twice: ``schema`` (the
  ``simpleString``, for people) and ``schema_json`` (the writer's
  ``StructType`` as JSON). ``read_snapshot`` hands ``schema_json`` to the
  parquet reader, so a read starts no schema-inference job (a one-task
  footer scan per read otherwise). Parquet reads make every field
  nullable either way, so rows and schema equal an inferred read's. A
  manifest without the field — an older writer's, or an append whose
  names or types differ from its parent's, where the data dirs
  disagree — falls back to inference, exactly like a plain
  ``spark.read.parquet`` of its dirs.

At cluster scale the manifest lists file-level stats and lives next to
the data on object storage; the commit protocol (exclusive manifest
create + pointer swap) is the same one Iceberg/Delta implement with
their catalogs. Swap `.parquet` for `.format("iceberg")` when jars
exist — the engine call sites only use write_snapshot/read_snapshot.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"manifest-{version}.json")


def current_version(table_dir: str) -> int | None:
    try:
        with open(os.path.join(table_dir, "_current")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _load_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def _committed_chain(table_dir: str) -> list[int]:
    """Versions on the COMMITTED chain, oldest first, walked via each
    manifest's ``parent`` field starting from ``_current``.

    A manifest that exists but is unreachable from ``_current`` is an
    uncommitted orphan — a writer that crashed between manifest create
    and pointer swap (or got skipped past by a later committer). Orphans
    are not history, not readable as snapshots, and do not participate
    in GC retention decisions (ADVICE r02)."""
    chain: list[int] = []
    v = current_version(table_dir)
    while v is not None:
        try:
            m = _load_manifest(table_dir, v)
        except FileNotFoundError:
            break  # ancestor expired by GC — the chain ends here
        chain.append(v)
        v = m["parent"]
    chain.reverse()
    return chain


def _cas_pointer(table_dir: str, expect_parent: int | None, version: int) -> bool:
    """Compare-and-swap the ``_current`` pointer: advance it to
    ``version`` only if it still equals ``expect_parent``.

    The read-check-replace is serialized by an O_EXCL ``_ptr.lock`` held
    for microseconds (the Iceberg-catalog analog of an atomic CAS on the
    table pointer). Without this, writer A could create manifest vN,
    lose the race to B's vN+1 (parent vN-1), and then A's LATER
    unconditional pointer replace would roll the table back to vN —
    orphaning B's committed snapshot (ADVICE r03). A lock file older
    than 30 s is treated as a crashed holder and evicted."""
    lock = os.path.join(table_dir, "_ptr.lock")
    for _ in range(2000):
        try:
            fd = os.open(lock, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock) > 30.0:
                    os.remove(lock)  # crashed holder
                    continue
            except FileNotFoundError:
                continue
            time.sleep(0.005)
            continue
        try:
            if current_version(table_dir) != expect_parent:
                return False  # head moved — our manifest is an orphan
            fdt, tmp = tempfile.mkstemp(dir=table_dir)
            with os.fdopen(fdt, "w") as f:
                f.write(str(version))
            os.replace(tmp, os.path.join(table_dir, "_current"))
            return True
        finally:
            os.close(fd)
            try:
                os.remove(lock)
            except FileNotFoundError:
                pass
    raise RuntimeError(f"could not acquire pointer lock on {table_dir}")


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    max_retries: int = 10,
    properties: dict | None = None,
    properties_fn=None,
) -> int:
    """Commit ``df`` as a new snapshot; returns the committed version.

    mode='append' keeps prior data dirs live; mode='overwrite' starts a
    fresh logical table (old versions remain time-travelable).

    Each writer stages into its OWN uniquely-named directory
    (``data/s-<nonce>``) and records that exact dir in its manifest — so
    two racing committers can never clobber each other's staged files:
    the loser's directory is simply never referenced by the winner's
    manifest, and the loser retries the metadata commit (not the data
    write) at the next version (ADVICE r02: the old shared ``data/v<N>``
    staging let a loser overwrite a committed winner's data dir).

    The commit point is a CAS: the ``_current`` pointer only advances to
    a manifest whose ``parent`` IS the pointer being replaced, so the
    committed chain is always linear — a returned version is always on
    it, never silently orphaned by a concurrent committer (ADVICE r03).

    ``properties`` (a small JSON-able dict) is recorded verbatim in the
    manifest — the Iceberg snapshot-summary analog. ``properties_fn``
    receives a DataFrame over the freshly STAGED files (before the
    metadata commit) and returns more properties; use it for summaries
    that must describe exactly what this snapshot adds (e.g. the set of
    completed work units) without a second pass over the logical plan."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(table_dir, exist_ok=True)

    # stage data ONCE into a nonce dir — unreferenced (invisible) until a
    # manifest commits, and impossible for a concurrent writer to target
    stage_rel = f"data/s-{uuid.uuid4().hex[:12]}"
    staged_abs = os.path.join(table_dir, "data", stage_rel.split("/", 1)[1])
    # the manifest commits the write, so the data dir needs no _SUCCESS
    # marker (it would cost the committer one more file and its chmods)
    df.write.option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    ).parquet(staged_abs)
    schema = df.schema
    props = dict(properties or {})
    if properties_fn is not None:
        staged = df.sparkSession.read.schema(schema).parquet(staged_abs)
        props.update(properties_fn(staged))

    for _ in range(max_retries):
        cur = current_version(table_dir)
        version = 0 if cur is None else cur + 1
        # skip versions whose manifest exists but never committed the
        # pointer (a crashed or in-flight competitor) — their data is
        # NOT absorbed: we chain off the last COMMITTED version `cur`
        while os.path.exists(_manifest_path(table_dir, version)):
            version += 1
        dirs = [stage_rel]
        schema_json = schema.jsonValue()
        if mode == "append" and cur is not None:
            parent = _load_manifest(table_dir, cur)
            dirs = parent["data_dirs"] + dirs
            # the schema holds while every dir agrees on names and types
            # (a parquet read makes all fields nullable anyway); past
            # that, inference decides, as for a plain read of the dirs
            if (
                "schema_json" not in parent
                or parent["schema"] != schema.simpleString()
            ):
                schema_json = None
        manifest = {
            "version": version,
            "parent": cur,
            "op": mode,
            "data_dirs": dirs,
            "schema": schema.simpleString(),
            "properties": props,
        }
        if schema_json is not None:
            manifest["schema_json"] = schema_json
        try:
            # O_EXCL create = the commit lock: exactly one writer can own
            # a version number; a loser re-reads _current and retries
            fd = os.open(
                _manifest_path(table_dir, version),
                os.O_WRONLY | os.O_CREAT | os.O_EXCL,
            )
        except FileExistsError:
            continue  # lost the race — retry at the next version
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        # CAS pointer swap: advance only if _current still equals our
        # parent; otherwise a concurrent committer advanced the chain
        # first — our manifest is an orphan and we retry the metadata
        # commit (never the data write) off the new head
        if _cas_pointer(table_dir, cur, version):
            return version
    raise RuntimeError(f"lost {max_retries} commit races on {table_dir}")


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot (default: current). Time travel = pass a version.

    Only versions on the committed chain are readable — an orphan
    manifest (crashed writer, never pointer-swapped) raises instead of
    silently exposing uncommitted data. The schema comes from the
    manifest's ``schema_json`` when it has one, so the read starts no
    Spark job; otherwise parquet infers it."""
    if version is None:
        version = current_version(table_dir)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    elif version not in _committed_chain(table_dir):
        raise ValueError(
            f"version {version} is not on the committed chain of "
            f"{table_dir} (uncommitted orphan manifest or never existed)"
        )
    m = _load_manifest(table_dir, version)
    paths = [os.path.join(table_dir, d) for d in m["data_dirs"]]
    reader = spark.read
    if "schema_json" in m:
        reader = reader.schema(StructType.fromJson(m["schema_json"]))
    return reader.parquet(*paths)


def snapshot_properties(table_dir: str, version: int | None = None) -> dict:
    """The properties dict a committed snapshot's manifest carries
    (empty for pre-properties manifests). Metadata-only read."""
    if version is None:
        version = current_version(table_dir)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    elif version not in _committed_chain(table_dir):
        raise ValueError(
            f"version {version} is not on the committed chain of {table_dir}"
        )
    return _load_manifest(table_dir, version).get("properties", {})


def snapshot_history(table_dir: str) -> list[dict]:
    """Committed manifests only, oldest first (parent-chain walk —
    orphan manifests from crashed writers are excluded)."""
    return [_load_manifest(table_dir, v) for v in _committed_chain(table_dir)]


def expire_snapshots(table_dir: str, keep_last: int = 1) -> list[str]:
    """GC: drop committed manifests older than the ``keep_last`` most
    recent and delete data dirs no retained manifest references (the
    Iceberg expire-snapshots analog — time travel shrinks to the
    retained window).

    Retention is decided over the COMMITTED chain only. Orphan manifests
    and orphan staged dirs are never touched: they may belong to an
    in-flight writer that has staged data but not yet committed (a real
    GC adds an age threshold for those). Returns the deleted data dirs.
    """
    import shutil

    chain = _committed_chain(table_dir)
    if not chain or keep_last < 1:
        return []
    retained, dropped = chain[-keep_last:], chain[:-keep_last]
    keep_dirs: set[str] = set()
    for v in retained:
        keep_dirs.update(_load_manifest(table_dir, v)["data_dirs"])
    drop_dirs: set[str] = set()
    for v in dropped:
        drop_dirs.update(_load_manifest(table_dir, v)["data_dirs"])
    deleted = []
    for d in sorted(drop_dirs - keep_dirs):
        full = os.path.join(table_dir, d)
        if os.path.isdir(full):
            shutil.rmtree(full)
            deleted.append(d)
    for v in dropped:
        try:
            os.remove(_manifest_path(table_dir, v))
        except FileNotFoundError:
            pass
    return deleted
