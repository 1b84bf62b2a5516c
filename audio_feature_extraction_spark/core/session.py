"""SparkSession factory with scale-oriented defaults.

Local mode is the test harness; the configs are chosen so the same job is
correct on a multi-executor cluster: AQE on (runtime coalesce + skew-split),
Arrow on (vectorized UDF transfer), shuffle partitions sized to parallelism
rather than the 200 default.

Two defaults serve long-lived sessions that run the same pipelines
again and again: the periodic cleaner GC (dropped cache blocks are freed
between operators) and a generated-code cache of 500 classes. The cache
size comes from a measured working set: one snapshot-mode
``prepare_corpus`` call with every stage on compiles 238 distinct
classes, which Spark's 100-entry default evicted on every call. 500
gives 2x headroom at ~21 KB of heap per cached class (~11 MB when full).

For ``local`` masters the Python workers run from the daemon module
:mod:`~audio_feature_extraction_spark.core.pyworker`. Stock workers
re-read ``pyspark.zip``'s directory once per zip importer (16 of them)
on every task, a fixed ~250 ms of worker CPU per task on Python 3.11;
the module skips those re-reads while the archive is unchanged. Only
local masters get it, because there the workers share the driver's
filesystem: the session adds the package's parent directory to the
executors' ``PYTHONPATH`` so the module imports from any working
directory. Other masters keep Spark's stock daemon.

Local masters also write streaming checkpoints through Spark's
``FileSystemBasedCheckpointFileManager``. The default FileContext
manager asks the local filesystem for each file's link status, and
without the native Hadoop library every such call runs ``readlink`` as
a child process (~4 ms): 88 of them per warm ``stream_chunks`` trigger.
On ``file:`` paths both managers do the same check-then-rename for a
no-overwrite commit, so the switch loses no guarantee there.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DAEMON_MODULE = "audio_feature_extraction_spark.core.pyworker"
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# the directory the package is imported from (its parent)
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _with_worker_conf(
    master: str, extra_conf: dict[str, str] | None
) -> dict[str, str]:
    """``extra_conf`` plus, for ``local`` masters, the Python daemon
    module of :mod:`~audio_feature_extraction_spark.core.pyworker`, an
    executor ``PYTHONPATH`` that lets workers import it from any CWD
    (the package's parent first, then any ``PYTHONPATH`` the caller
    set) and the FileSystem-based streaming checkpoint manager. A daemon
    module or checkpoint manager the caller names wins. Other masters
    keep Spark's defaults: their executors may see the package only
    through ``--py-files``, which is not on the daemon's path, and their
    checkpoints live on a shared store, where no ``readlink`` runs."""
    conf = dict(extra_conf or {})
    if master == "local" or master.startswith("local["):
        conf.setdefault("spark.python.daemon.module", DAEMON_MODULE)
        conf.setdefault(_CHECKPOINT_MANAGER_KEY, CHECKPOINT_FILE_MANAGER)
        conf[_EXECUTOR_PYTHONPATH] = os.pathsep.join(
            filter(None, [_PACKAGE_PARENT, conf.get(_EXECUTOR_PYTHONPATH)])
        )
    return conf


def master_cores(master: str, default: int) -> int:
    """Parallelism of a master URL, to size the shuffle width: N for
    ``local[N]`` and ``local[N,F]`` (F = task retries), ``default`` for
    anything else (``local``, ``local[*]``, ``local-cluster[...]``,
    cluster URLs)."""
    m = re.fullmatch(r"local\[(\d+)(?:,\d+)?\]", master)
    return int(m.group(1)) if m else default


def get_spark(
    master: str | None = None,
    app_name: str = "audio_feature_extraction_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Parameters mirror what a cluster deploy would set via spark-submit; in
    the sandbox we drive parallelism via ``local[N]``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = master_cores(master, cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # bucketed-table support without polluting the CWD
        .config("spark.sql.warehouse.dir", "/tmp/afes_warehouse")
        # ContextCleaner frees dropped cache/localCheckpoint blocks only
        # after a JVM GC notices the dead references; the default
        # periodic System.gc() interval (30min) is longer than a whole
        # bench/pipeline process, so scratch blocks from earlier
        # operators pile up in the unified memory region and evict-churn
        # later operators. One minute keeps per-call scratch (hash
        # counts, band tables, postings, sorted runs) bounded on any
        # long-lived session — same value at cluster scale, where
        # sessions live far past 30 minutes anyway.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # ... and deletes a dropped reliable checkpoint's files, which it
        # leaves on disk by default (core/materialize writes them when
        # the session has a checkpoint dir)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Janino-compiled classes are cached per JVM in an LRU sized by
        # this static conf (default 100). One snapshot-mode
        # prepare_corpus call (every optional stage on) needs 238
        # distinct classes, so at 100 the LRU evicted each class before
        # its reuse and every warm call recompiled all of them (~2-3 s
        # of driver time a call on 4 cores). 500 holds that working set
        # twice over, the headroom a cache that evicts per segment (4
        # Guava segments of 125) needs. A cached class retains ~21 KB of
        # heap (5 MB for the 238, measured by invalidating the cache),
        # so a full cache costs ~11 MB plus its loaded-class metadata.
        .config("spark.sql.codegen.cache.maxEntries", "500")
        # ANSI off: we rely on wrap-around-free integer ranges but want
        # slice()/element_at() permissive semantics identical to DuckDB's
        # list ops for the oracle comparisons.
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in _with_worker_conf(master, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
