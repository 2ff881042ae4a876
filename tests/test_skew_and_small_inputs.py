"""Round-3 advisor-fix coverage: ensure_parallelism's split replay and
knn_shapley's tiny-table degradation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkclean.skew import _is_pure_scan, ensure_parallelism


def test_ensure_parallelism_pure_scan_no_false_repartition(spark, tmp_path):
    """For a small single-file scan the bytesPerCore clamp must predict
    the ACTUAL scan partition count (defaultParallelism splits, not
    ceil(total/maxPartitionBytes) = 1), so no repartition is inserted
    when the scan already fans out."""
    path = str(tmp_path / "t")
    spark.range(0, 200_000).select(
        F.col("id"), F.rand(7).alias("x")
    ).coalesce(1).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    actual = df.rdd.getNumPartitions()
    out = ensure_parallelism(df, target=actual)
    # the estimate should agree with the actual layout → no repartition
    assert "Repartition" not in out._jdf.queryExecution().analyzed().toString()


def test_is_pure_scan_detects_shuffles(spark, tmp_path):
    path = str(tmp_path / "t2")
    spark.range(0, 1000).write.mode("overwrite").parquet(path)
    scan = spark.read.parquet(path)
    assert _is_pure_scan(scan)
    assert _is_pure_scan(scan.select((F.col("id") * 2).alias("y")))
    assert not _is_pure_scan(scan.groupBy("id").count())
    assert not _is_pure_scan(scan.join(scan.select("id"), "id"))
    assert not _is_pure_scan(scan.repartition(4))


def test_knn_shapley_tiny_table_uses_max_rank_edge(spark):
    """With N <= k every query has < k edges; the max-rank fallback must
    keep contributions flowing instead of silently degenerating all
    scores to the 0.5·(0/.. + 1) baseline."""
    from sparkclean.quality.valuation import knn_shapley_scores

    rng = np.random.RandomState(3)
    rows = [
        (i, [float(v) for v in rng.normal(0, 1, 8)], i % 2) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>, label: int")
    out = {r["vec_id"]: r["data_valuation_score"]
           for r in knn_shapley_scores(df, k=10).collect()}
    assert len(out) == 6
    # contributions exist: not every score collapses to the 0.5 baseline
    assert any(abs(v - 0.5) > 1e-9 for v in out.values()), out

