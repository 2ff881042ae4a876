"""Pass-2 of the confident-learning dataflow: the confident joint.

Per-row projection (pure Catalyst — no UDF):

    bins_k   = p_k >= t_k - 1e-6
    n_conf   = sum(bins)
    guess    = argmax(p) if n_conf > 1 else first true bin
    counted  iff n_conf >= 1

then ONE ``groupBy(label, guess).count()`` over all rows (guess -1 for
unconfident rows) collected to the driver: its confident cells are the raw
K×K joint, its per-label sums the class counts the calibration needs
(semantics: count.py:445-622; calibration count.py:221-291).  The collect
is K·(K+1) rows regardless of N — the only driver-side state.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import FLOATING_POINT_COMPARISON
from . import matrix_ops
from .scores import literal_array, predicted_label
from .thresholds import get_confident_thresholds


def with_confident_bins(
    df: DataFrame,
    thresholds: list[float],
    probs_col: str = "pred_probs",
) -> DataFrame:
    """Append ``true_label_guess`` (int, -1 when unconfident) and
    ``is_confident`` (bool) columns."""
    probs = F.col(probs_col)
    t = literal_array(thresholds)
    bins = F.zip_with(probs, t, lambda p, th: p.cast("double") >= th - F.lit(FLOATING_POINT_COMPARISON))
    n_conf = F.aggregate(bins, F.lit(0), lambda acc, b: acc + F.when(b, 1).otherwise(0))
    first_bin = (F.array_position(bins, F.lit(True)) - F.lit(1)).cast("int")
    guess = (
        F.when(n_conf > 1, predicted_label(probs))
        .when(n_conf == 1, first_bin)
        .otherwise(F.lit(-1))
    )
    return df.withColumn("true_label_guess", guess).withColumn("is_confident", n_conf >= 1)


def raw_joint_and_counts(
    df: DataFrame,
    num_classes: int,
    thresholds: list[float],
    label_col: str = "label",
    probs_col: str = "pred_probs",
) -> tuple[np.ndarray, np.ndarray]:
    """The raw K×K confident joint (rows = given label, cols = confident
    true-label guess; diagonal clipped to >= 1, count.py:612) and the
    zero-filled class counts, both read from ONE ``groupBy(label, guess)``
    over all rows.  NULL and out-of-range labels are skipped, as in
    get_confident_thresholds."""
    rows = (
        with_confident_bins(df, thresholds, probs_col)
        .groupBy(
            F.col(label_col).cast("int").alias("_s"),
            F.col("true_label_guess").alias("_y"),
        )
        .count()
        .collect()
    )
    cj = np.zeros((num_classes, num_classes), dtype=np.int64)
    counts = np.zeros(num_classes, dtype=np.int64)
    for r in rows:
        s, y = r["_s"], r["_y"]
        if s is None or not 0 <= s < num_classes:
            continue
        counts[s] += r["count"]
        if 0 <= y < num_classes:  # y = -1: no confident bin
            cj[s, y] = r["count"]
    np.fill_diagonal(cj, np.diagonal(cj).clip(min=1))
    return cj, counts


def label_counts(
    df: DataFrame, num_classes: int, label_col: str = "label"
) -> np.ndarray:
    """bincount(labels) with zero-fill for missing classes
    (internal/util.py:113-177); NULL labels are skipped."""
    rows = df.groupBy(F.col(label_col).cast("int").alias("_k")).count().collect()
    out = np.zeros(num_classes, dtype=np.int64)
    for r in rows:
        if r["_k"] is not None and 0 <= r["_k"] < num_classes:
            out[r["_k"]] = r["count"]
    return out


def compute_confident_joint(
    df: DataFrame,
    num_classes: int,
    label_col: str = "label",
    probs_col: str = "pred_probs",
    thresholds: list[float] | None = None,
    calibrate: bool = True,
) -> np.ndarray:
    """End-to-end confident joint: thresholds agg → bin projection →
    one (label, guess) count agg → optional driver-side calibration."""
    if thresholds is None:
        thresholds = get_confident_thresholds(df, num_classes, label_col, probs_col)
    cj, counts = raw_joint_and_counts(df, num_classes, thresholds, label_col, probs_col)
    return matrix_ops.calibrate_confident_joint(cj, counts) if calibrate else cj


def _ml_binary_frame(
    df: DataFrame, num_classes: int, labels_col: str, probs_col: str, id_col: str | None = None
) -> DataFrame:
    """Explode each row into its K one-vs-rest binary problems."""
    k_seq = F.sequence(F.lit(0), F.lit(num_classes - 1))
    cols = [
        F.col(labels_col).alias("_ls"),
        F.col(probs_col).alias("_p"),
        F.explode(k_seq).alias("_k"),
    ]
    if id_col:
        cols.insert(0, F.col(id_col).alias("_id"))
    out = df.select(*cols).select(
        *(["_id"] if id_col else []),
        "_k",
        F.array_contains(F.col("_ls"), F.col("_k")).cast("int").alias("_y"),
        F.element_at("_p", F.col("_k") + 1).cast("double").alias("_pk"),
    )
    return out


def _ml_guessed(ex: DataFrame) -> DataFrame:
    """Binary thresholds → confident bins → true-label guess over a
    :func:`_ml_binary_frame` — THE shared per-class binary
    confident-joint rule (count.py:625-712) used by both the multilabel
    confident joint and the issue cells; keeping it in one place keeps
    the two paths (and their DuckDB twins) from drifting.

    Adds ``_g`` (guess ∈ {0,1}, -1 = not confident) and ``_b0`` (the
    negative-bin membership, needed by the reduce step)."""
    sc = F.when(F.col("_y") == 1, F.col("_pk")).otherwise(F.lit(1.0) - F.col("_pk"))
    ex = ex.withColumn("_sc", sc)
    th = (
        ex.groupBy("_k", "_y")
        .agg(F.greatest(F.avg("_sc"), F.lit(2e-6)).alias("_t"))
        .groupBy("_k")
        .agg(
            F.coalesce(F.max(F.when(F.col("_y") == 0, F.col("_t"))), F.lit(2.0)).alias("_t0"),
            F.coalesce(F.max(F.when(F.col("_y") == 1, F.col("_t"))), F.lit(2.0)).alias("_t1"),
        )
    )
    j = ex.join(F.broadcast(th), "_k")
    p0 = F.lit(1.0) - F.col("_pk")
    b0 = p0 >= F.col("_t0") - F.lit(FLOATING_POINT_COMPARISON)
    b1 = F.col("_pk") >= F.col("_t1") - F.lit(FLOATING_POINT_COMPARISON)
    n_conf = b0.cast("int") + b1.cast("int")
    # >1 confident → argmax of [1-p, p] (first max wins at ties → class 0)
    argmax = F.when(p0 >= F.col("_pk"), F.lit(0)).otherwise(F.lit(1))
    first_bin = F.when(b0, F.lit(0)).otherwise(F.lit(1))
    guess = F.when(n_conf > 1, argmax).when(n_conf == 1, first_bin).otherwise(F.lit(-1))
    return j.withColumn("_b0", b0).withColumn("_g", guess)


def _ml_issue_cells(
    df: DataFrame,
    num_classes: int,
    labels_col: str = "labels",
    probs_col: str = "pred_probs",
    id_col: str = "id",
) -> DataFrame:
    """Per-(example, class) one-vs-rest issue cells: the shared core of
    multilabel find_label_issues and common_multilabel_issues — binary
    confident thresholds, confident bins, binary reduce-issues."""
    ex = _ml_binary_frame(df, num_classes, labels_col, probs_col, id_col=id_col)
    j = _ml_guessed(ex)
    # binary reduce-issues: boosted argmax equals the given binary label
    p0 = F.lit(1.0) - F.col("_pk")
    bp0 = p0 + F.when(F.col("_y") == 0, F.lit(FLOATING_POINT_COMPARISON)).otherwise(F.lit(0.0))
    bp1 = F.col("_pk") + F.when(F.col("_y") == 1, F.lit(FLOATING_POINT_COMPARISON)).otherwise(
        F.lit(0.0)
    )
    boosted = F.when(bp0 >= bp1, F.lit(0)).otherwise(F.lit(1))
    issue_k = (
        (F.col("_g") >= 0) & (F.col("_g") != F.col("_y")) & (boosted != F.col("_y"))
    )
    return j.withColumn("_iss", issue_k.cast("int"))


def multilabel_label_issues(
    df: DataFrame,
    num_classes: int,
    id_col: str = "id",
    labels_col: str = "labels",
    probs_col: str = "pred_probs",
) -> DataFrame:
    """Multilabel find_label_issues, confident_learning variant
    (filter.py:453-536 / multilabel_classification/filter.py:13): a row
    is an issue if ANY class's one-vs-rest binary problem confidently
    lands off-diagonal (guess != given, binary reduce-issues applied).
    One exploded pass + one groupBy — no K-loop.
    """
    cells = _ml_issue_cells(df, num_classes, labels_col, probs_col, id_col)
    return cells.groupBy(F.col("_id").alias(id_col)).agg(
        (F.sum("_iss") >= 1).alias("is_label_issue"),
        F.sum("_iss").alias("num_class_issues"),
    )


def common_multilabel_issues(
    df: DataFrame,
    num_classes: int,
    id_col: str = "id",
    labels_col: str = "labels",
    probs_col: str = "pred_probs",
) -> DataFrame:
    """Per-class issue summary (multilabel_classification/dataset.py:18):
    for each class, how many flagged examples had the class given as
    True vs False (suggested label is the flip), plus the relative
    frequency over the whole dataset."""
    n = df.count()
    cells = _ml_issue_cells(df, num_classes, labels_col, probs_col, id_col)
    return (
        cells.where(F.col("_iss") == 1)
        .groupBy(F.col("_k").alias("class_index"), F.col("_y").alias("_given"))
        .agg(F.count(F.lit(1)).alias("num_examples"))
        .select(
            "class_index",
            (F.col("_given") == 1).alias("in_given_label"),
            (F.col("_given") == 0).alias("in_suggested_label"),
            "num_examples",
            F.round(F.col("num_examples").cast("double") / F.lit(float(n)), 6).alias(
                "issue_probability"
            ),
        )
    )


def multilabel_confident_joint_counts(
    df: DataFrame,
    num_classes: int,
    labels_col: str = "labels",
    probs_col: str = "pred_probs",
) -> DataFrame:
    """One-vs-rest multilabel confident joint (count.py:625-712 via
    stack_complement, internal/multilabel_utils.py:22-41): for every
    class k the problem becomes binary with labels ``k ∈ labels`` and
    probabilities ``[1-p_k, p_k]``; the binary confident-joint rule is
    applied per class in ONE distributed pass (posexplode over classes,
    one groupBy — no K-iteration driver loop).

    Returns (class, given_k, true_k, n) with given/true ∈ {0,1}.
    """
    exploded = _ml_binary_frame(df, num_classes, labels_col, probs_col)
    j = _ml_guessed(exploded)
    sparse = (
        j.where(F.col("_g") >= 0)
        .groupBy(
            F.col("_k").alias("class_k"),
            F.col("_y").alias("given_k"),
            F.col("_g").alias("true_k"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # densify to the full (K, 2, 2) grid and clip each per-class 2x2
    # DIAGONAL to >= 1 — the reference's compute_confident_joint applies
    # np.fill_diagonal(cj, diag.clip(min=1)) (count.py:612) inside every
    # one-vs-rest binary subproblem, so an empty confident cell reports 1,
    # not an absent row (round-3 review; single-label joint already clips)
    spark = df.sparkSession
    grid = spark.createDataFrame(
        [(k, y, g) for k in range(num_classes) for y in (0, 1) for g in (0, 1)],
        "class_k: int, given_k: int, true_k: int",
    )
    dense = grid.join(sparse, ["class_k", "given_k", "true_k"], "left").select(
        "class_k",
        "given_k",
        "true_k",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
    )
    return dense.withColumn(
        "n",
        F.when(
            (F.col("given_k") == F.col("true_k")) & (F.col("n") < 1), F.lit(1)
        ).otherwise(F.col("n")).cast("long"),
    )


def estimate_joint(
    df: DataFrame,
    num_classes: int,
    label_col: str = "label",
    probs_col: str = "pred_probs",
    confident_joint: np.ndarray | None = None,
) -> np.ndarray:
    """Calibrated joint distribution P(label, true_label) summing to 1
    (count.py:329-399)."""
    if confident_joint is None:
        cj = compute_confident_joint(df, num_classes, label_col, probs_col, calibrate=True)
    else:
        counts = label_counts(df, num_classes, label_col)
        cj = matrix_ops.calibrate_confident_joint(confident_joint, counts)
    return matrix_ops.estimate_joint_from_cj(cj)
