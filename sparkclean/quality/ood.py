"""pred_probs-based out-of-distribution scores (outlier.py:482-581).

All three methods are single projections; the optional class-imbalance
adjustment reuses the broadcast confident thresholds.  Higher score =
more in-distribution (reference flips so OOD ≈ 0).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .scores import normalized_entropy


def ood_entropy_score(probs: Column, num_classes: int) -> Column:
    """1 - normalized entropy."""
    return F.lit(1.0) - normalized_entropy(probs, num_classes)


def ood_least_confidence_score(probs: Column) -> Column:
    """max_k p_k."""
    return F.array_max(probs).cast("double")


def ood_gen_score(probs: Column, num_classes: int, m: int = 100, gamma: float = 0.1) -> Column:
    """GEN score (outlier.py:560-570): softmax(P), keep top-M sorted probs,
    1 - sum(p^γ (1-p)^γ)/M."""
    m_eff = min(m, num_classes)
    exp = F.transform(probs, lambda x: F.exp(x.cast("double")))
    total = F.aggregate(exp, F.lit(0.0), lambda a, x: a + x)
    soft = F.transform(exp, lambda x: x / total)
    top = F.slice(F.array_sort(soft), num_classes - m_eff + 1, m_eff)
    g = F.aggregate(
        top,
        F.lit(0.0),
        lambda a, p: a + F.pow(p, F.lit(gamma)) * F.pow(F.lit(1.0) - p, F.lit(gamma)),
    )
    return F.lit(1.0) - g / F.lit(float(m))


#: np.finfo(np.float64).eps / epsneg, frozen as literals so the Spark
#: plan and the DuckDB oracle share the exact tolerance values.
_F64_EPS = 2.220446049250313e-16
_F64_EPSNEG = 1.1102230246251565e-16


def precision_tolerance(metric: str, c: int = 100, p: int | None = None) -> float:
    """Tolerance below which an avg-KNN-distance is indistinguishable from
    0 at float64 precision (internal/outlier.py:60-112 semantics)."""
    if metric == "cosine":
        return c * _F64_EPSNEG
    if metric == "euclidean":
        return math.sqrt(c * _F64_EPS)
    if metric == "minkowski":
        if p is None:
            raise ValueError("minkowski metric requires p")
        return (c * _F64_EPS) ** (1.0 / p)
    raise ValueError(f"no precision tolerance for metric {metric!r}")


def correct_precision_errors(
    score: Column, avg_distance: Column, metric: str, c: int = 100, p: int | None = None
) -> Column:
    """Snap scores to 1 where the avg KNN distance is below the metric's
    float64 tolerance (internal/outlier.py:60-112): such examples are
    exact duplicates up to numeric noise and must not look like outliers.
    Metrics without a defined tolerance pass through unchanged, but
    minkowski-without-p raises, matching the reference exactly
    (internal/outlier.py:102-104)."""
    if metric not in ("cosine", "euclidean", "minkowski"):
        return score
    tol = precision_tolerance(metric, c, p)
    return F.when(avg_distance < F.lit(tol), F.lit(1.0)).otherwise(score)


def correct_precision_errors_sql(
    score_expr: str, avg_distance_expr: str, metric: str, c: int = 100, p: int | None = None
) -> str:
    """DuckDB twin of :func:`correct_precision_errors` (same pass-through
    and same minkowski-without-p error contract)."""
    if metric not in ("cosine", "euclidean", "minkowski"):
        return score_expr
    tol = precision_tolerance(metric, c, p)
    return f"(CASE WHEN {avg_distance_expr} < {tol!r} THEN 1.0 ELSE {score_expr} END)"


def with_ood_scores(
    df: DataFrame,
    num_classes: int,
    probs_col: str = "pred_probs",
    method: str = "entropy",
    adjust: bool = False,
    thresholds: list[float] | None = None,
    out_col: str = "ood_score",
) -> DataFrame:
    probs = F.col(probs_col)
    if adjust:
        if thresholds is None:
            raise ValueError("adjust=True requires precomputed confident thresholds")
        from .scores import with_adjusted_probs

        df = with_adjusted_probs(df, probs_col, thresholds, "_adj_probs")
        probs = F.col("_adj_probs")
    if method == "entropy":
        col = ood_entropy_score(probs, num_classes)
    elif method == "least_confidence":
        col = ood_least_confidence_score(probs)
    elif method == "gen":
        col = ood_gen_score(probs, num_classes)
    else:
        raise ValueError(f"unknown OOD method {method!r}")
    out = df.withColumn(out_col, col)
    return out.drop("_adj_probs") if adjust else out
