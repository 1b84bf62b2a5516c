"""The engine's one eager materialization.

Operators that read a computed relation more than once (the LSH band
table, the SemDeDup assignment, the BM25 postings, every
connected-components round, ``asof_join_range``'s sorted run) compute it
once through :func:`materialize` and read the stored partitions after.

Durability is the session's, not the operator's. When the SparkContext
has a checkpoint dir (``spark.checkpoint.dir`` at submit, or
``SparkContext.setCheckpointDir``), the relation is written as reliable
checkpoint files there: a lost executor costs a task retry on the files.
On a cluster that dir must be a filesystem every executor shares
(HDFS/S3/NFS). Without a dir, the relation is a local checkpoint: blocks
in the executors' block managers, with the lineage cut. That is the fast
default for one machine, but an executor lost after the call fails the
next read with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, since there is no
lineage left to recompute from. Both forms keep the relation's partition
identity and row order, so a narrow map over the result plans with no
exchange. Both are reclaimed by the ContextCleaner once the caller drops
the DataFrame (``get_spark`` turns on
``spark.cleaner.referenceTracking.cleanCheckpoints`` for the files).

``prepare_corpus``'s per-stage ``persist`` is not a materialization in
this sense: a cache keeps its lineage, so an executor loss recomputes
the lost blocks.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and return a DataFrame over the stored result:
    a reliable checkpoint when the session has a checkpoint dir, a
    local checkpoint otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)


@contextmanager
def reliable_checkpoint_dir(spark: SparkSession, path: str) -> Iterator[None]:
    """Set the session's checkpoint dir to ``path`` for the block, so
    :func:`materialize` writes reliable checkpoints there, then restore
    the dir that was set before (PySpark has no call that unsets it).
    Checkpoints written inside the block stay readable after it."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getCheckpointDir()  # a scala Option, empty when unset
    spark.sparkContext.setCheckpointDir(path)
    try:
        yield
    finally:
        getattr(jsc, "checkpointDir_$eq")(before)
