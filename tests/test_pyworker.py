"""The local-mode Python worker daemon (core/pyworker.py)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from audio_feature_extraction_spark.core import pyworker, session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_invalidate_rereads_a_zip_only_after_it_changed(tmp_path, monkeypatch):
    """Counted through ``zipimport._read_directory``: the importers of
    one zip (its root and a subpackage) share one read; a second
    invalidate of the unchanged zip reads nothing; after the zip is
    rewritten the next one reads it once and a module added to the
    subpackage by the rewrite imports."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("afes_zippkg/__init__.py", "")
        zf.writestr("afes_zippkg/a.py", "X = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        pyworker.memoized_invalidate_caches,
    )
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("afes_zippkg.a").X == 1
        importers = [k for k in sys.path_importer_cache
                     if k.startswith(str(archive))]
        assert len(importers) == 2  # the zip and its subpackage
        n = reads.count(str(archive))  # the first importer's own read
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n + 1
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n + 1

        with zipfile.ZipFile(archive, "a") as zf:
            zf.writestr("afes_zippkg/b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n + 2
        assert importlib.import_module("afes_zippkg.b").Y == 2
    finally:
        for name in ("afes_zippkg", "afes_zippkg.a", "afes_zippkg.b"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(str(archive))]:
            del sys.path_importer_cache[key]
        pyworker._directories.pop(str(archive), None)


def test_session_workers_run_the_memoized_method(spark):
    import pandas as pd

    def method_name(batches):
        import zipimport

        name = zipimport.zipimporter.invalidate_caches.__name__
        for pdf in batches:
            yield pd.DataFrame({"m": [name] * len(pdf)})

    got = spark.range(8).repartition(4).mapInPandas(method_name, "m string")
    assert {r.m for r in got.collect()} == {"memoized_invalidate_caches"}


def test_worker_conf_is_local_only():
    key = "spark.executorEnv.PYTHONPATH"
    manager = "spark.sql.streaming.checkpointFileManagerClass"
    for master in ("spark://host:7077", "yarn", "k8s://https://host:6443"):
        assert session._with_worker_conf(master, None) == {}
        assert session._with_worker_conf(master, {key: "/x"}) == {key: "/x"}
    conf = session._with_worker_conf("local[2]", {key: "/x"})
    assert conf["spark.python.daemon.module"] == session.DAEMON_MODULE
    assert conf[key].split(os.pathsep) == [session._PACKAGE_PARENT, "/x"]
    assert conf[manager] == session.CHECKPOINT_FILE_MANAGER
    assert session._with_worker_conf("local", None)[manager] == (
        session.CHECKPOINT_FILE_MANAGER
    )
    assert session._with_worker_conf(
        "local", {"spark.python.daemon.module": "pyspark.daemon"}
    )["spark.python.daemon.module"] == "pyspark.daemon"
    assert session._with_worker_conf(
        "local[4]", {manager: "com.example.Manager"}
    )[manager] == "com.example.Manager"


def test_master_cores_reads_local_n_and_falls_back_otherwise():
    """Shuffle width follows N of local[N] / local[N,F]; every other
    master (local-cluster[...] included, whose numbers are not a core
    count) gets the fallback. Strings only: no session starts."""
    for master, want in (
        ("local[4]", 4), ("local[4,2]", 4), ("local[16]", 16),
        ("local", 7), ("local[*]", 7), ("local[*,3]", 7),
        ("local-cluster[2,1,1024]", 7), ("spark://host:7077", 7),
        ("yarn", 7),
    ):
        assert session.master_cores(master, 7) == want, master


@pytest.mark.slow
def test_python_udf_runs_from_another_cwd_without_pythonpath(tmp_path):
    """The daemon module must import in workers started from a CWD that
    does not hold the package, with no PYTHONPATH set."""
    script = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
import pandas as pd
from audio_feature_extraction_spark.core.session import get_spark

def tag(batches):
    import zipimport
    name = zipimport.zipimporter.invalidate_caches.__name__
    for pdf in batches:
        yield pd.DataFrame({{"id": pdf["id"] * 2, "m": name}})

spark = get_spark("local[1]", shuffle_partitions=1)
rows = spark.range(3).mapInPandas(tag, "id long, m string").collect()
print(json.dumps([[r.id, r.m] for r in rows]))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == [[0, "memoized_invalidate_caches"],
                   [2, "memoized_invalidate_caches"],
                   [4, "memoized_invalidate_caches"]]
