"""Label-quality score expressions — pure Catalyst, no Python UDFs.

Every scorer here is a Column expression over ``(label INT,
pred_probs ARRAY<DOUBLE>)`` so it stays inside whole-stage codegen and
costs one projection.  Semantics match cleanlab v2.9.0:

* self-confidence            — rank.py:464-496
* normalized margin          — rank.py:499-542
* confidence-weighted entropy — rank.py:545-582
* normalized entropy         — internal/label_quality_utils.py:68-118
* threshold adjustment       — internal/label_quality_utils.py:11-65
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import CLIPPING_LOWER_BOUND, FLOATING_POINT_COMPARISON

SCORE_METHODS = ("self_confidence", "normalized_margin", "confidence_weighted_entropy")


def literal_array(values) -> Column:
    """A driver-collected K-vector (confident thresholds, a posterior
    multiplier) inlined as a literal ARRAY<DOUBLE> — broadcast by value."""
    return F.array(*[F.lit(float(v)) for v in values])


def self_confidence(label: Column, probs: Column) -> Column:
    """p_i[label_i] — the model's probability of the given label."""
    return F.element_at(probs, label.cast("int") + F.lit(1)).cast("double")


def max_prob_not_label(label: Column, probs: Column) -> Column:
    """max_{k != label} p_k, computed by masking the given-label slot."""
    masked = F.transform(
        probs, lambda x, i: F.when(i == label, F.lit(-1.0)).otherwise(x.cast("double"))
    )
    return F.array_max(masked)


def normalized_margin(label: Column, probs: Column) -> Column:
    """(p_label - max_{k!=label} p_k + 1) / 2."""
    return (self_confidence(label, probs) - max_prob_not_label(label, probs) + F.lit(1.0)) / F.lit(2.0)


def normalized_entropy(probs: Column, num_classes: int) -> Column:
    """-sum(p*ln p)/ln K with the xlogy(0)=0 convention."""
    plogp = F.aggregate(
        probs,
        F.lit(0.0),
        lambda acc, x: acc
        + F.when(x > 0, x.cast("double") * F.log(x.cast("double"))).otherwise(F.lit(0.0)),
    )
    return -plogp / F.lit(float(__import__("math").log(num_classes)))


def confidence_weighted_entropy(label: Column, probs: Column, num_classes: int) -> Column:
    """H_norm(P) / clip(self_conf) rescaled via ln(x+1)/clip(x)."""
    sc = F.greatest(self_confidence(label, probs), F.lit(CLIPPING_LOWER_BOUND))
    raw = normalized_entropy(probs, num_classes) / sc
    clipped = F.greatest(raw, F.lit(CLIPPING_LOWER_BOUND))
    return F.log(raw + F.lit(1.0)) / clipped


def predicted_label(probs: Column) -> Column:
    """argmax with first-occurrence tie-break (matches np.argmax)."""
    return (F.array_position(probs, F.array_max(probs)) - F.lit(1)).cast("int")


def boosted_predicted_label(label: Column, probs: Column) -> Column:
    """argmax after adding the 1e-6 fuzzy-comparison boost at the given
    label slot — the `_reduce_issues` rule (count.py:211-218)."""
    boosted = F.transform(
        probs,
        lambda x, i: x.cast("double")
        + F.when(i == label, F.lit(FLOATING_POINT_COMPARISON)).otherwise(F.lit(0.0)),
    )
    return (F.array_position(boosted, F.array_max(boosted)) - F.lit(1)).cast("int")


def with_adjusted_probs(
    df, probs_col: str, thresholds: list[float], out_col: str
):
    """Subtract per-class confident thresholds, shift by max(t), renormalise
    rows (label_quality_utils.py:11-65). ``thresholds`` is the collected
    K-vector, inlined as a literal array (broadcast-by-value).

    The shifted array and its row sum are materialised as their own
    columns, so the fold evaluates once per row instead of once per
    ELEMENT (the interpreted-HOF O(K²) hazard; same discipline as
    with_pyx_posterior)."""
    t = literal_array(thresholds)
    t_max = float(max(thresholds))
    shifted = F.zip_with(
        F.col(probs_col), t, lambda p, th: p.cast("double") - th + F.lit(t_max)
    )
    return (
        df.withColumn("_adj_shift", shifted)
        .withColumn(
            "_adj_sum",
            F.aggregate(F.col("_adj_shift"), F.lit(0.0), lambda acc, x: acc + x),
        )
        .withColumn(
            out_col, F.transform(F.col("_adj_shift"), lambda x: x / F.col("_adj_sum"))
        )
        .drop("_adj_shift", "_adj_sum")
    )


def label_quality_score(
    label: Column,
    probs: Column,
    num_classes: int,
    method: str = "self_confidence",
) -> Column:
    """Dispatcher mirroring rank.get_label_quality_scores (rank.py:33-155)."""
    if method == "self_confidence":
        return self_confidence(label, probs)
    if method == "normalized_margin":
        return normalized_margin(label, probs)
    if method == "confidence_weighted_entropy":
        return confidence_weighted_entropy(label, probs, num_classes)
    raise ValueError(f"unknown scoring method {method!r}")


def with_label_quality_scores(
    df: DataFrame,
    num_classes: int,
    label_col: str = "label",
    probs_col: str = "pred_probs",
    method: str = "self_confidence",
    adjust: bool = False,
    thresholds: list[float] | None = None,
    out_col: str = "label_quality",
) -> DataFrame:
    """Append a label-quality score column. With ``adjust=True`` the
    precomputed thresholds are applied first (the 2-pass streaming shape of
    label_issues_batched.py:518-562). ``adjust`` +
    ``confidence_weighted_entropy`` is rejected as in rank.py:147-148."""
    if adjust and method == "confidence_weighted_entropy":
        raise ValueError("adjust_pred_probs is incompatible with confidence_weighted_entropy")
    label = F.col(label_col)
    probs = F.col(probs_col)
    if adjust:
        if thresholds is None:
            raise ValueError("adjust=True requires precomputed thresholds")
        df = with_adjusted_probs(df, probs_col, thresholds, "_adj_probs")
        probs = F.col("_adj_probs")
        return df.withColumn(
            out_col, label_quality_score(label, probs, num_classes, method)
        ).drop("_adj_probs")
    return df.withColumn(out_col, label_quality_score(label, probs, num_classes, method))


def with_pyx_posterior(
    df: DataFrame,
    multiplier: list[float],
    probs_col: str = "pred_probs",
    out_col: str = "pyx",
) -> DataFrame:
    """Per-row corrected posterior P(true=k|x) (latent_algebra.py:259-312):
    ``clip(p_k * inv.diag_k / nm.diag_k, 0, 1)`` renormalised to sum 1.

    ``multiplier`` is the driver-computed K-vector
    (matrix_ops.compute_pyx_multiplier), inlined as a literal array. The raw
    product is materialised as its own column first so the normalising sum is
    not re-evaluated per element (interpreted-HOF O(K^2) hazard)."""
    m = literal_array(multiplier)
    raw = F.zip_with(
        F.col(probs_col), m, lambda p, mult: F.least(F.greatest(p.cast("double") * mult, F.lit(0.0)), F.lit(1.0))
    )
    out = df.withColumn("_pyx_raw", raw)
    total = F.aggregate(F.col("_pyx_raw"), F.lit(0.0), lambda a, x: a + x)
    out = out.withColumn("_pyx_sum", F.greatest(total, F.lit(1e-100)))
    return out.withColumn(
        out_col, F.transform(F.col("_pyx_raw"), lambda x: x / F.col("_pyx_sum"))
    ).drop("_pyx_raw", "_pyx_sum")
