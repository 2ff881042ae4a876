"""CleanLearning.fit final-model stage, Spark-first.

Mirrors the FLOW of ``CleanLearning.fit`` (/root/reference/cleanlab/
classification.py:265-582): find label issues → prune flagged rows →
per-class sample weights ``1 / max(noise_matrix[k,k], 1e-3)``
(classification.py:527-543) → fit the final classifier on the cleaned,
weighted data → predict every row (including the pruned ones).

The reference accepts any sklearn estimator; this engine has no sklearn,
so the pluggable final model is the same deterministic diagonal Gaussian
naive Bayes the CV module uses (quality/cv.py) over the first ``n_dims``
feature dimensions.  With per-class-constant sample weights the class-
conditional means/variances are unchanged by weighting; the weights act
through the class PRIOR — ``prior_k ∝ n_k_clean · w_k`` — which is
exactly how a weighted GNB consumes per-class weights.

Everything is DataFrame dataflow + one K×(2·n_dims+1)-sized statistics
collect; the DuckDB twin lives in ``__spark_entry__.oracle_sql()``
(cleanlearning_fit_predictions) and reuses the prune-branch CTEs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import matrix_ops
from .cv import LOG2PI, VAR_FLOOR
from .issues import find_label_issues
from .joint import raw_joint_and_counts


def class_sample_weights(nm) -> list[float]:
    """classification.py:527-543: 1 / max(nm[k,k], 1e-3)."""
    return [1.0 / max(float(nm[k, k]), 1e-3) for k in range(nm.shape[0])]


def fit_predict(
    df: DataFrame,
    num_classes: int,
    id_col: str = "vec_id",
    label_col: str = "label",
    probs_col: str = "pred_probs",
    vec_col: str = "embedding",
    n_dims: int = 4,
    filter_by: str = "prune_by_noise_rate",
) -> DataFrame:
    """(id, predicted_label, confidence) for EVERY input row, from the
    final model fit on issue-pruned, class-weighted data."""
    from .thresholds import get_confident_thresholds

    df = df.persist()  # four passes share the scan: thresholds, joint, prune, fit
    thresholds = get_confident_thresholds(df, num_classes, label_col, probs_col)
    flagged = find_label_issues(
        df, num_classes, id_col, label_col, probs_col,
        filter_by=filter_by, thresholds=thresholds,
    )
    clean = flagged.where(~F.col("is_label_issue"))

    cj_raw, counts = raw_joint_and_counts(df, num_classes, thresholds, label_col, probs_col)
    cj = matrix_ops.calibrate_confident_joint(cj_raw, counts)
    _, nm, _ = matrix_ops.estimate_latent(cj, counts)
    weights = class_sample_weights(nm)

    label = F.col(label_col).cast("int")
    base = clean.select(label.alias("_k"), F.slice(F.col(vec_col), 1, n_dims).alias("_x"))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for d in range(n_dims):
        x = F.col("_x")[d].cast("double")
        aggs += [F.sum(x).alias(f"_s{d}"), F.sum(x * x).alias(f"_q{d}")]
    rows = {r["_k"]: r for r in base.groupBy("_k").agg(*aggs).collect()}
    missing = [k for k in range(num_classes) if k not in rows]
    if missing:
        raise ValueError(
            f"classes {missing} have no examples left after pruning — "
            "the final fit (like the reference's) needs every class present"
        )

    stats = {}
    for k in range(num_classes):
        r = rows[k]
        n = float(r["_n"])
        means, vars_ = [], []
        for d in range(n_dims):
            m = r[f"_s{d}"] / n
            means.append(m)
            vars_.append(max(r[f"_q{d}"] / n - m * m, VAR_FLOOR))
        stats[k] = (n, means, vars_)
    denom = sum(stats[k][0] * weights[k] for k in range(num_classes))
    priors = [
        math.log(max(stats[k][0] * weights[k] / max(denom, 1e-300), 1e-300))
        for k in range(num_classes)
    ]

    xs = F.slice(F.col(vec_col), 1, n_dims)
    scored = df.withColumn("_x", xs)

    def ll_col(k: int):
        _, means, vars_ = stats[k]
        expr = F.lit(priors[k])
        for d in range(n_dims):
            x = F.col("_x")[d].cast("double")
            m, v = means[d], vars_[d]
            expr = expr + (
                -((x - F.lit(m)) * (x - F.lit(m))) / F.lit(2.0 * v)
                - F.lit(0.5 * (LOG2PI + math.log(v)))
            )
        return expr

    lls = F.array(*[ll_col(k) for k in range(num_classes)])
    mx = F.array_max(lls)
    total = F.aggregate(
        F.transform(lls, lambda v: F.exp(v - mx)), F.lit(0.0), lambda a, x: a + x
    )
    pred = (F.array_position(lls, mx) - 1).cast("int")
    return scored.select(
        id_col,
        pred.alias("predicted_label"),
        F.round(F.lit(1.0) / total, 6).alias("confidence"),
    )


def regression_fit_predict(
    df: DataFrame,
    id_col: str = "vec_id",
    x_col: str = "x",
    y_col: str = "y",
    z_thresh: float = 2.0,
) -> DataFrame:
    """regression/learn.py:166 CleanLearning flow, closed-form:

    1. initial 1-D OLS fit on all rows (slope/intercept from moment sums)
    2. flag rows whose residual deviates > ``z_thresh`` population
       standard deviations (simplified, DOCUMENTED divergence from the
       reference's quantile-search issue estimation — same spirit:
       residual-based outlier flags)
    3. refit on the clean rows, predict EVERY row.

    Three K-free aggregations + one projection; the moment-sum algebra is
    identical in the DuckDB twin so results agree to 6dp.
    """
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")

    def ols(frame: DataFrame) -> tuple[float, float]:
        r = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
        ).collect()[0]
        n = float(r["n"])
        denom = r["sxx"] - r["sx"] * r["sx"] / n
        b = (r["sxy"] - r["sx"] * r["sy"] / n) / denom if abs(denom) > 1e-300 else 0.0
        a = r["sy"] / n - b * r["sx"] / n
        return a, b

    a0, b0 = ols(df)
    resid = y - (F.lit(a0) + F.lit(b0) * x)
    stats = df.agg(
        F.avg(resid).alias("m"), F.avg(resid * resid).alias("q")
    ).collect()[0]
    sigma = math.sqrt(max(stats["q"] - stats["m"] * stats["m"], 1e-300))
    cutoff = z_thresh * sigma
    flagged = F.abs(resid) > F.lit(cutoff)

    a1, b1 = ols(df.where(~flagged))
    return df.select(
        id_col,
        F.round(F.lit(a1) + F.lit(b1) * x, 6).alias("prediction"),
        flagged.alias("is_label_issue"),
    )


def regression_fit_predict_sql(
    table: str,
    id_expr: str,
    x_expr: str,
    y_expr: str,
    z_thresh: float = 2.0,
) -> str:
    """DuckDB twin of :func:`regression_fit_predict` (same moment-sum
    algebra, same clean-set refit)."""
    return f"""
WITH pts AS MATERIALIZED (
  SELECT {id_expr} AS _id, ({x_expr})::DOUBLE AS x, ({y_expr})::DOUBLE AS y FROM {table}
),
m0 AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts
),
fit0 AS (
  SELECT CASE WHEN abs(sxx - sx * sx / n) > 1e-300
              THEN (sxy - sx * sy / n) / (sxx - sx * sx / n) ELSE 0.0 END AS b,
         sy / n AS ybar, sx / n AS xbar
  FROM m0
),
f0 AS (SELECT ybar - b * xbar AS a, b FROM fit0),
res AS (SELECT p._id, p.x, p.y, p.y - (f.a + f.b * p.x) AS r FROM pts p CROSS JOIN f0 f),
sg AS (
  SELECT sqrt(greatest(avg(r * r) - avg(r) * avg(r), 1e-300)) * {z_thresh!r} AS cutoff
  FROM res
),
clean AS (SELECT x, y FROM res CROSS JOIN sg WHERE abs(r) <= sg.cutoff),
m1 AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM clean
),
fit1 AS (
  SELECT CASE WHEN abs(sxx - sx * sx / n) > 1e-300
              THEN (sxy - sx * sy / n) / (sxx - sx * sx / n) ELSE 0.0 END AS b,
         sy / n AS ybar, sx / n AS xbar
  FROM m1
),
f1 AS (SELECT ybar - b * xbar AS a, b FROM fit1)
SELECT res._id AS {id_expr}, round(f1.a + f1.b * res.x, 6) AS prediction,
       (abs(res.r) > sg.cutoff) AS is_label_issue
FROM res CROSS JOIN f1 CROSS JOIN sg"""
