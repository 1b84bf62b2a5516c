from __future__ import annotations

import pytest

from audio_feature_extraction_spark.core.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(group, fn)`` runs ``fn()`` in its own job group and
    returns how many Spark jobs it started."""
    sc = spark.sparkContext

    def count(group: str, fn) -> int:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
