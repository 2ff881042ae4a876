"""Pass-1 of the confident-learning dataflow: per-class confident thresholds.

t_k = mean(pred_probs[:, k] | label == k)  (count.py:1407-1458)

This is a single map-side-combinable groupBy — the Spark analog of the
streaming weighted-mean update in label_issues_batched.py:487-516, and it
is order/partitioning-invariant up to float addition order (see SURVEY §7
tolerance analysis).  :func:`finish_thresholds` gives missing classes
threshold 2.0 so no probability can ever reach them, and clips all
thresholds to >= 2e-6.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import CONFIDENT_THRESHOLDS_LOWER_BOUND, MISSING_CLASS_THRESHOLD
from .scores import self_confidence


def get_confident_thresholds(
    df: DataFrame,
    num_classes: int,
    label_col: str = "label",
    probs_col: str = "pred_probs",
) -> list[float]:
    """Distributed per-class mean self-confidence, collected as a K-vector.

    One shuffle of K rows; the aggregation is partial (map-side combine) so
    the exchange carries only (label, sum, count) per partition — safe at
    any N.
    """
    rows = (
        df.groupBy(F.col(label_col).cast("int").alias("_k"))
        .agg(F.avg(self_confidence(F.col(label_col), F.col(probs_col))).alias("_t"))
        .collect()
    )
    means = np.zeros(num_classes)
    present = np.zeros(num_classes, dtype=bool)
    for r in rows:
        if r["_k"] is not None and 0 <= r["_k"] < num_classes:
            means[r["_k"]] = r["_t"]
            present[r["_k"]] = True
    return finish_thresholds(means, present)


def finish_thresholds(means: np.ndarray, present: np.ndarray) -> list[float]:
    """The last step of every confident-threshold producer (this module
    and ``streaming.StreamingLabelInspector``): a class with no rows
    (``present`` False) gets ``MISSING_CLASS_THRESHOLD``, then every
    threshold is clipped at ``CONFIDENT_THRESHOLDS_LOWER_BOUND``."""
    t = np.where(present, means, MISSING_CLASS_THRESHOLD)
    return [float(x) for x in np.clip(t, CONFIDENT_THRESHOLDS_LOWER_BOUND, None)]
