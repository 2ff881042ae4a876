"""Distributed find_label_issues — every filter_by branch of the reference
(filter.py:57-450) re-expressed as DataFrame dataflow.

Branch → Spark plan:

* confident_learning   — reuse the confident-bin projection; flag rows with
                         ``is_confident AND guess != label``; then the
                         reduce-issues unflag (boosted argmax == label).
* predicted_neq_given  — pure projection ``argmax(p) != label`` + reduce.
* low_self_confidence /
  low_normalized_margin — n = the off-diagonal issue count (one fused
                         issue-count + row-count aggregation), then exact
                         bottom-n by (score, id): the row at rank n from
                         the one rank selection in stats.py
                         (``stats.rows_at_ranks``; no global
                         single-partition sort), then a cutoff predicate
                         (:func:`bottom_n_flags`).
* prune_by_class       — per-class bottom-m via Window.partitionBy(label).
* prune_by_noise_rate  — per (given k, candidate j) top-c margins via a
                         broadcast join against the K×K prune-count matrix
                         and Window.partitionBy(label, j).  The reference
                         parallelises this with a multiprocessing pool
                         (filter.py:358-420); shuffle parallelism does it
                         for free here.
* both                 — AND of the two prune masks.

All masks except low_* then pass the reduce-issues filter
(filter.py:432-435).

The batched dataflow (:func:`find_label_issues_batched`) is three steps:
the thresholds (thresholds.get_confident_thresholds), then
:func:`issue_counts` (the thorough off-diagonal rule or the fast
:func:`fast_issue_rule`, fused with the row count in one aggregation),
then :func:`flag_bottom_n_issues` (exact bottom-n, then the reduce-issues
unflag).  Each is defined once, here or in thresholds.py:
``pipeline.caption_scores`` runs the three with the fast rule, and the
streaming scorer runs :func:`fast_issue_rule` per row.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..constants import FLOATING_POINT_COMPARISON
from . import matrix_ops
from .joint import (
    compute_confident_joint,
    label_counts,
    raw_joint_and_counts,
    with_confident_bins,
)
from .scores import (
    boosted_predicted_label,
    literal_array,
    predicted_label,
    with_label_quality_scores,
)
from .thresholds import get_confident_thresholds

FILTER_BY_METHODS = (
    "prune_by_noise_rate",
    "prune_by_class",
    "both",
    "confident_learning",
    "predicted_neq_given",
    "low_normalized_margin",
    "low_self_confidence",
)


def _with_reduce_mask(df: DataFrame, label_col: str, probs_col: str) -> DataFrame:
    """`_reduce_issues` (count.py:211-218): True where the 1e-6-boosted
    argmax equals the given label → never a label issue."""
    return df.withColumn(
        "_reduce_ok",
        boosted_predicted_label(F.col(label_col), F.col(probs_col)) == F.col(label_col).cast("int"),
    )


def fast_issue_rule(label: Column, probs: Column, thresholds: list[float]) -> Column:
    """The fast issue rule of label_issues_batched.py:564-673: the argmax
    class clears its own threshold (1e-6 fuzzy) and is not the given
    label — ``max p >= t[argmax] - 1e-6 AND argmax != label``."""
    am = predicted_label(probs)
    return (
        F.array_max(probs).cast("double")
        >= F.element_at(literal_array(thresholds), am + 1) - F.lit(FLOATING_POINT_COMPARISON)
    ) & (am != label.cast("int"))


def issue_counts(
    df: DataFrame,
    thresholds: list[float],
    label_col: str = "label",
    probs_col: str = "pred_probs",
    thorough: bool = True,
) -> tuple[int, int]:
    """(issue count, row count) from ONE aggregation.  ``thorough`` counts
    confidently off-diagonal rows that survive reduce-issues
    (num_label_issues off_diagonal); otherwise :func:`fast_issue_rule`."""
    if thorough:
        df = _with_reduce_mask(
            with_confident_bins(df, thresholds, probs_col), label_col, probs_col
        )
        rule = (
            F.col("is_confident")
            & (F.col("true_label_guess") != F.col(label_col).cast("int"))
            & ~F.col("_reduce_ok")
        )
    else:
        rule = fast_issue_rule(F.col(label_col), F.col(probs_col), thresholds)
    row = df.agg(
        F.sum(F.when(rule, 1).otherwise(0)).alias("_n"),
        F.count(F.lit(1)).alias("_total"),
    ).first()
    return int(row["_n"] or 0), int(row["_total"])


def num_label_issues(
    df: DataFrame,
    num_classes: int,
    label_col: str = "label",
    probs_col: str = "pred_probs",
    estimation_method: str = "off_diagonal",
    thresholds: list[float] | None = None,
    confident_joint: np.ndarray | None = None,
) -> int:
    """count.num_label_issues (count.py:50-173).

    off_diagonal: distributed count of confidently-off-diagonal rows minus
    reduce-issues rows.  off_diagonal_calibrated: driver arithmetic on the
    collected calibrated joint.
    """
    if estimation_method == "off_diagonal":
        if thresholds is None:
            thresholds = get_confident_thresholds(df, num_classes, label_col, probs_col)
        return issue_counts(df, thresholds, label_col, probs_col)[0]
    if estimation_method == "off_diagonal_calibrated":
        cj = compute_confident_joint(df, num_classes, label_col, probs_col, thresholds=thresholds)
        joint = matrix_ops.estimate_joint_from_cj(cj)
        n_total = int(np.asarray(cj).sum())
        return int(np.rint((1.0 - np.trace(joint)) * n_total))
    if estimation_method == "off_diagonal_custom":
        if confident_joint is None:
            raise ValueError("off_diagonal_custom requires confident_joint")
        counts = label_counts(df, num_classes, label_col)
        cal = matrix_ops.calibrate_confident_joint(confident_joint, counts)
        joint = matrix_ops.estimate_joint_from_cj(cal)
        return int(np.rint((1.0 - np.trace(joint)) * int(counts.sum())))
    raise ValueError(f"unknown estimation_method {estimation_method!r}")


def bottom_n_flags(
    df: DataFrame,
    n: int,
    score_col: str,
    id_col: str,
    flag_col: str = "is_label_issue",
    total: int | None = None,
) -> DataFrame:
    """Flag exactly the first n rows in (score ASC NULLS LAST, id ASC)
    order — the SQL twins' ``row_number() OVER (...) <= n``.

    The row at rank n comes from ``stats.rows_at_ranks`` (one direct
    rank job when ``total`` fits the band budget, else a quantile band
    ranked without a data-sized single-task sort); the flag is
    then a pure predicate on that (score, id) cutoff — no join, no
    broadcast.  Past the non-null scores the cutoff is a NULL-score row
    and every non-null score is flagged.
    """
    if total is None:
        total = df.count()
    if n <= 0:
        return df.withColumn(flag_col, F.lit(False))
    if n >= total:
        return df.withColumn(flag_col, F.lit(True))

    from ..stats import rows_at_ranks

    cut = rows_at_ranks(df, score_col, [id_col], {n}, total)[n]
    s_star, id_star = cut[score_col], cut[id_col]
    score, rid = F.col(score_col), F.col(id_col)
    if s_star is None:
        return df.withColumn(flag_col, score.isNotNull() | (rid <= F.lit(id_star)))
    # coalesce: a NULL score ranks after every non-null one, so below a
    # non-null cutoff it flags a definite False, never NULL
    return df.withColumn(
        flag_col,
        F.coalesce(
            (score < F.lit(s_star)) | ((score == F.lit(s_star)) & (rid <= F.lit(id_star))),
            F.lit(False),
        ),
    )


def flag_bottom_n_issues(
    scored: DataFrame,
    n_issues: int,
    total: int,
    score_col: str,
    id_col: str,
    label_col: str = "label",
    probs_col: str = "pred_probs",
) -> DataFrame:
    """The batched dataflow's last step: flag the exact bottom ``n_issues``
    rows by (score, id) as ``is_label_issue``, then unflag rows the
    reduce-issues rule keeps (label_issues_batched.py:43-227)."""
    flagged = bottom_n_flags(scored, n_issues, score_col, id_col, total=total)
    return _apply_reduce(flagged, label_col, probs_col)


def find_label_issues(
    df: DataFrame,
    num_classes: int,
    id_col: str = "id",
    label_col: str = "label",
    probs_col: str = "pred_probs",
    filter_by: str = "prune_by_noise_rate",
    frac_noise: float = 1.0,
    min_examples_per_class: int = 1,
    thresholds: list[float] | None = None,
) -> DataFrame:
    """Returns the input plus ``is_label_issue BOOL``.

    Mirrors filter.find_label_issues (filter.py:57-450) for single-label
    classification.
    """
    if filter_by not in FILTER_BY_METHODS:
        raise ValueError(f"unknown filter_by {filter_by!r}")

    label = F.col(label_col).cast("int")
    if thresholds is None:
        thresholds = get_confident_thresholds(df, num_classes, label_col, probs_col)

    if filter_by == "predicted_neq_given":
        out = df.withColumn(
            "is_label_issue", predicted_label(F.col(probs_col)) != label
        )
        return _apply_reduce(out, label_col, probs_col)

    if filter_by == "confident_learning":
        binned = with_confident_bins(df, thresholds, probs_col)
        out = binned.withColumn(
            "is_label_issue",
            F.col("is_confident") & (F.col("true_label_guess") != label),
        ).drop("true_label_guess", "is_confident")
        return _apply_reduce(out, label_col, probs_col)

    if filter_by in ("low_self_confidence", "low_normalized_margin"):
        method = filter_by[4:]
        n_issues, total = issue_counts(df, thresholds, label_col, probs_col)
        scored = with_label_quality_scores(
            df, num_classes, label_col, probs_col, method=method, out_col="_lq"
        )
        out = bottom_n_flags(scored, n_issues, "_lq", id_col, total=total)
        return out.drop("_lq")

    # prune_by_class / prune_by_noise_rate / both need the calibrated joint
    cj_raw, counts = raw_joint_and_counts(df, num_classes, thresholds, label_col, probs_col)
    cj = matrix_ops.calibrate_confident_joint(cj_raw, counts)
    pcm = matrix_ops.keep_at_least_n_per_class(
        cj.T, n=min_examples_per_class, frac_noise=frac_noise
    )

    masks = []
    if filter_by in ("prune_by_class", "both"):
        masks.append(_prune_by_class_mask(df, pcm, counts, min_examples_per_class, id_col, label_col, probs_col))
    if filter_by in ("prune_by_noise_rate", "both"):
        masks.append(_prune_by_count_mask(df, pcm, counts, min_examples_per_class, id_col, label_col, probs_col))

    flagged = masks[0]
    for m in masks[1:]:
        flagged = flagged.join(m.withColumnRenamed("is_label_issue", "_m2"), id_col, "inner")
        flagged = flagged.withColumn("is_label_issue", F.col("is_label_issue") & F.col("_m2")).drop("_m2")

    out = df.join(flagged.select(id_col, "is_label_issue"), id_col, "left").fillna(
        {"is_label_issue": False}
    )
    return _apply_reduce(out, label_col, probs_col)


def _apply_reduce(df: DataFrame, label_col: str, probs_col: str) -> DataFrame:
    out = _with_reduce_mask(df, label_col, probs_col)
    return out.withColumn(
        "is_label_issue", F.col("is_label_issue") & ~F.col("_reduce_ok")
    ).drop("_reduce_ok")


def _prune_by_class_mask(
    df: DataFrame,
    pcm: np.ndarray,
    counts: np.ndarray,
    min_examples_per_class: int,
    id_col: str,
    label_col: str,
    probs_col: str,
) -> DataFrame:
    """Per class k: flag the (count_k - pcm[k,k]) rows with smallest
    p(:,k) (filter.py:829-863). One shuffle keyed by label; skew across
    classes is split by AQE."""
    k_range = range(len(counts))
    num_issues = {
        k: int(counts[k] - pcm[k, k]) if counts[k] > min_examples_per_class else 0
        for k in k_range
    }
    issues_arr = F.array(*[F.lit(num_issues[k]) for k in k_range])
    label = F.col(label_col).cast("int")
    # a NULL label is in no class; it must not reach element_at below,
    # which returns a literal array's LAST slot for a NULL column index
    scored = df.where(label.isNotNull()).select(
        id_col,
        label.alias("_lbl"),
        F.element_at(F.col(probs_col), label + 1).cast("double").alias("_pk"),
    )
    w = Window.partitionBy("_lbl").orderBy(F.col("_pk").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.element_at(issues_arr, F.col("_lbl") + 1))
        .select(id_col, (F.col("_rn") <= F.col("_n")).alias("is_label_issue"))
    )


def _prune_by_count_mask(
    df: DataFrame,
    pcm: np.ndarray,
    counts: np.ndarray,
    min_examples_per_class: int,
    id_col: str,
    label_col: str,
    probs_col: str,
) -> DataFrame:
    """For each off-diagonal (true j, given k): flag the pcm[j,k] rows
    labeled k with largest margin p_j - p_k (filter.py:867-907).

    Plan: explode each row into its (K-1) candidate classes j with a
    positive prune count, then one Window.partitionBy(label, j) rank.  The
    prune-count matrix rides along as a literal array — no join, no extra
    shuffle beyond the single (label, j) window."""
    num_classes = len(counts)
    label = F.col(label_col).cast("int")

    # literal K×K matrix, indexed [j+1][k+1]
    pcm_lit = F.array(
        *[F.array(*[F.lit(int(pcm[j, k])) for k in range(num_classes)]) for j in range(num_classes)]
    )
    candidates = F.filter(
        F.transform(F.sequence(F.lit(0), F.lit(num_classes - 1)), lambda j: j),
        lambda j: (j != label)
        & (F.element_at(F.element_at(pcm_lit, j + 1), label + 1) > 0),
    )
    exploded = (
        df.select(
            id_col,
            label.alias("_lbl"),
            F.col(probs_col).alias("_p"),
            F.explode(candidates).alias("_j"),
        )
        .withColumn(
            "_margin",
            F.element_at("_p", F.col("_j") + 1).cast("double")
            - F.element_at("_p", F.col("_lbl") + 1).cast("double"),
        )
        .withColumn("_cnt", F.element_at(F.element_at(pcm_lit, F.col("_j") + 1), F.col("_lbl") + 1))
    )
    w = Window.partitionBy("_lbl", "_j").orderBy(F.col("_margin").desc(), F.col(id_col).asc())
    counts_lit = F.array(*[F.lit(int(c)) for c in counts])
    flagged = (
        exploded.withColumn("_rn", F.row_number().over(w))
        .where(
            (F.col("_rn") <= F.col("_cnt"))
            & (F.element_at(counts_lit, F.col("_lbl") + 1) > min_examples_per_class)
        )
        .select(id_col)
        .distinct()
    )
    return (
        df.select(id_col)
        .join(flagged.withColumn("is_label_issue", F.lit(True)), id_col, "left")
        .fillna({"is_label_issue": False})
    )


def find_label_issues_batched(
    df: DataFrame,
    num_classes: int,
    id_col: str = "id",
    label_col: str = "label",
    probs_col: str = "pred_probs",
    thorough: bool = True,
) -> DataFrame:
    """The 2-pass streaming dataflow of
    experimental/label_issues_batched.py:43-227, natively distributed:

    pass 1  groupBy(label) mean → thresholds (order-invariant)
    pass 2  :func:`issue_counts` — issue count + row count, one aggregation
    final   :func:`flag_bottom_n_issues` — exact bottom-n by (score, id),
            then the reduce-issues unflag

    ``thorough=False`` uses :func:`fast_issue_rule`
    (label_issues_batched.py:564-673) — the rule
    ``pipeline.caption_scores`` ships; ``thorough=True`` matches
    num_label_issues(off_diagonal).
    """
    thresholds = get_confident_thresholds(df, num_classes, label_col, probs_col)
    n_issues, total = issue_counts(df, thresholds, label_col, probs_col, thorough)
    scored = with_label_quality_scores(
        df, num_classes, label_col, probs_col, method="self_confidence"
    )
    return flag_bottom_n_issues(
        scored, n_issues, total, "label_quality", id_col, label_col, probs_col
    )
