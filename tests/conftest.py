import os
import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("cdc-engine-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="cdc-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def assert_df_equal(a, b, key_cols):
    """Order-insensitive DataFrame equality on shared columns."""
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols, f"columns differ: {sorted(b.columns)} vs {cols}"
    ra = [tuple(r) for r in a.select(*cols).collect()]
    rb = [tuple(r) for r in b.select(*cols).collect()]
    assert sorted(ra, key=str) == sorted(rb, key=str), (
        f"rows differ: {len(ra)} vs {len(rb)};"
        f" only_a={set(map(str, ra)) - set(map(str, rb))}"
        f" only_b={set(map(str, rb)) - set(map(str, ra))}"
    )


def jobs_in_group(sc, group):
    """Ids of the Spark jobs submitted under job group ``group``."""
    # job starts reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


class SimulatedCrash(RuntimeError):
    """The process "dies" inside the exactly-once crash window."""


def crash_at(epoch, then=None):
    """An ``on_batch`` hook that crashes at batch ``epoch``: the hook runs
    after the batch's MERGE commits and before its checkpoint write, so
    the raise leaves the lake one batch ahead of the checkpoint.  Earlier
    batches go on to ``then`` (the hook under test, if any)."""
    def hook(m):
        if m.epoch == epoch:
            raise SimulatedCrash(epoch)
        if then is not None:
            return then(m)
    return hook
