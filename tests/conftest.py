import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def tmp_table_root(tmp_path):
    return str(tmp_path / "tbl")


def sorted_rows(df, cols=("conv_id", "turn_idx")):
    """Stable (conv_id, turn_idx)-ordered materialization for equality checks
    (the BASELINE.json invariant's 'stable ordering')."""
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def spark_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn launched)``, counted in a job group
    of its own."""
    import uuid
    group = f"jobs-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def inferred_scan_schema(spark, table, snap, meta):
    """The schema a footer-inferring read gives a scan of ``snap``:
    ``reconcile_schema`` under the registry ``meta`` over a schema-merging
    read of the snapshot's data files."""
    from engine.scan import reconcile_schema
    paths = [os.path.join(table.root, e.path)
             for e in table.manifest_entries(snap)]
    raw = spark.read.option("mergeSchema", "true").parquet(*paths)
    return reconcile_schema(table, raw, meta).schema
