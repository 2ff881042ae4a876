import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkclean.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sparkclean-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started) — counted through a job
    group, so jobs of other threads do not count."""
    sc = spark.sparkContext
    group = f"spark_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def probs_df(spark, labels, probs, id_start=0):
    """Build a (id, label, pred_probs) DataFrame from NumPy arrays."""
    rows = [
        (int(i + id_start), int(l), [float(x) for x in p])
        for i, (l, p) in enumerate(zip(labels, probs))
    ]
    return spark.createDataFrame(rows, "id: long, label: int, pred_probs: array<double>")
