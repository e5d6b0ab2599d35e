import glob
import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

@pytest.fixture(scope="session")
def spark():
    from hogzilla_spark import get_spark

    s = get_spark(app_name="hogzilla_tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()

@pytest.fixture
def held(spark):
    """Snapshot of what the session holds beyond plans: (ids of persisted
    RDDs, reliable-checkpoint files of materialized cuts)."""
    def snapshot() -> tuple[set, set]:
        jsc = spark.sparkContext._jsc
        ids = set(jsc.getPersistentRDDs().keySet())
        ckpt = jsc.sc().getCheckpointDir()
        files = set()
        if ckpt.isDefined():
            files = set(glob.glob(os.path.join(ckpt.get().removeprefix("file:"), "rdd-*")))
        return ids, files

    return snapshot
