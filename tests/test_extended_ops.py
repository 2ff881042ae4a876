"""Pooling / multiannotator / datalab / task-score parity tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import ref_impl as R
from conftest import probs_df
from sparkclean.quality import datalab, multiannotator, pooling, task_scores


def _softmin_ref(scores, t=0.05):
    s = np.asarray(scores, dtype=float)
    z = (1 - s) / t
    w = np.exp(z - z.max())
    return float(np.dot(s, w / w.sum()))


def _ema_ref(scores, alpha=None):
    s = np.sort(np.asarray(scores, dtype=float))[::-1]
    k = len(s)
    if alpha is None:
        alpha = 2.0 / (k + 1)
    ema = s[0]
    for x in s[1:]:
        ema = alpha * x + (1 - alpha) * ema
    return float(ema)


def test_softmin_matches_reference_example(spark):
    # token_classification/rank.py docstring example values
    cases = [[0.9, 0.6], [0.0, 0.8, 0.8], [0.8]]
    expected = [6.00741787e-01, 1.80056239e-07, 8.00000000e-01]
    df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cases)],
        "id: int, scores: array<double>",
    )
    got = {
        r["id"]: r["s"]
        for r in df.select("id", pooling.softmin_col(F.col("scores")).alias("s")).collect()
    }
    for i, e in enumerate(expected):
        assert abs(got[i] - e) < 1e-8
        assert abs(got[i] - _softmin_ref(cases[i])) < 1e-12


def test_ema_matches_reference_example(spark):
    # multilabel_scorer.py docstring: EMA([0.1,0.2,0.3], alpha=0.5) = 0.175
    df = spark.createDataFrame([(0, [0.1, 0.2, 0.3])], "id: int, s: array<double>")
    got = df.select(pooling.ema_col(F.col("s"), alpha=0.5).alias("e")).collect()[0]["e"]
    assert abs(got - 0.175) < 1e-12

    rng = np.random.RandomState(3)
    cases = [list(rng.rand(k)) for k in (2, 3, 5, 8)]
    df2 = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cases)],
        "id: int, s: array<double>",
    )
    got2 = {
        r["id"]: r["e"] for r in df2.select("id", pooling.ema_col(F.col("s")).alias("e")).collect()
    }
    for i, c in enumerate(cases):
        assert abs(got2[i] - _ema_ref(c)) < 1e-12


def test_majority_vote_with_tiebreaks(spark):
    # example 0: clear majority (1). example 1: tie 0 vs 2 → pred_probs
    # favour 2. example 2: tie 1 vs 2, equal probs → lower class_freq wins.
    long_rows = [
        (0, "a", 1), (0, "b", 1), (0, "c", 0),
        (1, "a", 0), (1, "b", 2),
        (2, "a", 1), (2, "b", 2),
    ]
    long_df = spark.createDataFrame(long_rows, "example_id: long, annotator_id: string, label: int")
    probs = spark.createDataFrame(
        [
            (0, [0.2, 0.6, 0.2]),
            (1, [0.3, 0.1, 0.6]),
            (2, [0.4, 0.3, 0.3]),
        ],
        "example_id: long, pred_probs: array<double>",
    )
    got = {
        r["example_id"]: r["consensus_label"]
        for r in multiannotator.majority_vote_label(long_df, probs).collect()
    }
    assert got[0] == 1
    assert got[1] == 2
    # class freqs: label 1 appears 3×, label 2 2× → lowest freq wins → 2
    assert got[2] == 2

    stats = {
        r["annotator_id"]: r
        for r in multiannotator.annotator_stats(
            long_df, multiannotator.majority_vote_label(long_df, probs)
        ).collect()
    }
    assert stats["a"]["num_labeled"] == 3
    assert 0.0 <= stats["a"]["agreement"] <= 1.0

    cq = multiannotator.consensus_quality(long_df, probs).collect()
    for r in cq:
        assert 0.0 <= r["consensus_quality_score"] <= 1.0


def test_datalab_find_issues(spark):
    labels, probs, _ = R.make_noisy_fixture(n=300, k=3, seed=5)
    df = probs_df(spark, labels, probs).withColumn("cluster", F.col("label") % 2)
    issues, summary = datalab.find_issues(
        df, 3, id_col="id", cluster_col="cluster", null_cols=["pred_probs"]
    )
    cols = issues.columns
    for c in [
        "is_label_issue", "label_score", "is_outlier_issue", "outlier_score",
        "is_class_imbalance_issue", "class_imbalance_score",
        "is_null_issue", "null_score",
        "is_underperforming_group_issue", "underperforming_group_score",
    ]:
        assert c in cols, c
    assert issues.count() == 300
    srows = {r["issue_type"]: r for r in summary.collect()}
    assert srows["label"]["num_issues"] > 0
    # ~10% quantile flagging
    assert 0 < srows["outlier"]["num_issues"] <= 60
    assert srows["null"]["num_issues"] == 0


def test_task_scores(spark):
    df = spark.createDataFrame(
        [(0, 5.0, 4.5), (1, 2.0, 2.0), (2, 10.0, 7.0)], "id: int, y: double, pred: double"
    )
    got = {
        r["id"]: r["s"]
        for r in df.select(
            "id", task_scores.regression_residual_score(F.col("y"), F.col("pred")).alias("s")
        ).collect()
    }
    assert abs(got[0] - np.exp(-0.5)) < 1e-12
    assert got[1] == 1.0

    ml = spark.createDataFrame(
        [(0, [0.9, 0.2, 0.7], [0, 2]), (1, [0.1, 0.8, 0.3], [1])],
        "id: int, pred_probs: array<double>, given: array<int>",
    )
    out = {
        r["id"]: (r["cls"], r["q"])
        for r in ml.select(
            "id",
            task_scores.multilabel_class_scores(F.col("pred_probs"), F.col("given")).alias("cls"),
            task_scores.multilabel_quality_score(F.col("pred_probs"), F.col("given")).alias("q"),
        ).collect()
    }
    np.testing.assert_allclose(out[0][0], [0.9, 0.8, 0.7])
    np.testing.assert_allclose(out[1][0], [0.9, 0.8, 0.7])
    assert abs(out[0][1] - _ema_ref([0.9, 0.8, 0.7])) < 1e-12


def test_objectlab_pooling_matches_numpy(spark):
    """Weighted geometric combine of per-subtype softmin pools
    (object_detection/rank.py:1017-1115) vs direct NumPy."""
    import numpy as np

    from sparkclean.quality.task_scores import objectlab_image_scores

    rows = []
    rng = np.random.RandomState(3)
    for img in range(6):
        for b in range(rng.randint(1, 5)):
            rows.append(
                (
                    img,
                    float(rng.rand()) if rng.rand() > 0.3 else None,
                    float(rng.rand()) if rng.rand() > 0.3 else None,
                    float(rng.rand()) if rng.rand() > 0.3 else None,
                )
            )
    df = spark.createDataFrame(
        rows, "image_id: int, over: double, badloc: double, swap: double"
    )
    from pyspark.sql import functions as F

    got = {
        r["image_id"]: r["label_quality_score"]
        for r in objectlab_image_scores(
            df, "image_id", {"over": F.col("over"), "badloc": F.col("badloc"), "swap": F.col("swap")}
        ).collect()
    }

    def softmin(a, t=0.1):
        a = np.asarray(a, dtype=float)
        w = np.exp((1 - a) / t - ((1 - a) / t).max())
        return float((a * w).sum() / w.sum())

    by_img = {}
    for img, o, b, s in rows:
        by_img.setdefault(img, {"over": [], "badloc": [], "swap": []})
        for k, v in (("over", o), ("badloc", b), ("swap", s)):
            if v is not None:
                by_img[img][k].append(v)
    for img, subs in by_img.items():
        acc = 0.0
        for k in ("over", "badloc", "swap"):
            pooled = softmin(subs[k]) if subs[k] else 1.0
            acc += (1.0 / 3.0) * np.log(1e-100 + pooled)
        assert abs(got[img] - np.exp(acc)) < 1e-9


def test_segmentation_softmin_tends_to_min_at_low_temperature(spark):
    from pyspark.sql import functions as F

    from sparkclean.quality.task_scores import (
        segmentation_image_score,
        segmentation_pixel_issue_count,
    )

    df = spark.createDataFrame(
        [(0, [0.9, 0.8, 0.05, 0.95]), (1, [0.5, 0.5, 0.5, 0.5])],
        "id: int, pix: array<double>",
    )
    rows = {
        r["id"]: (r["s"], r["n"])
        for r in df.select(
            "id",
            segmentation_image_score(F.col("pix"), temperature=0.01).alias("s"),
            segmentation_pixel_issue_count(F.col("pix"), 0.1).alias("n"),
        ).collect()
    }
    assert abs(rows[0][0] - 0.05) < 1e-6  # T->0 converges to min pixel score
    assert rows[0][1] == 1 and rows[1][1] == 0
    assert abs(rows[1][0] - 0.5) < 1e-12


def test_ngram_jaccard_exact(spark):
    from pyspark.sql import functions as F

    from sparkclean.dedup.minhash import jaccard_col, shingles_from_words
    from sparkclean.text.shared import ascii_lower_col, words_col

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the sleepy dog"),
            (2, "completely different text with no overlap at all here"),
        ],
        "doc_id: long, text: string",
    )
    # built the way the ngram_jaccard_pairs gate builds them: materialise
    # the words column, then shingle it
    sh = df.withColumn("_w", words_col(ascii_lower_col(F.col("text")))).select(
        "doc_id", shingles_from_words(F.col("_w")).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("ia"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("ib"), F.col("sh").alias("sb"))
    pairs = {
        (r["ia"], r["ib"]): r["j"]
        for r in a.join(b, F.col("ia") < F.col("ib"))
        .select("ia", "ib", jaccard_col(F.col("sa"), F.col("sb")).alias("j"))
        .collect()
    }
    # 9 words -> 7 word-3grams each; the single differing word appears in 2
    # trigrams -> 5 shared, union 9 -> J = 5/9
    assert abs(pairs[(0, 1)] - 5.0 / 9.0) < 1e-12
    assert pairs[(0, 2)] == 0.0 and pairs[(1, 2)] == 0.0


def test_datalab_get_report(spark):
    """Reporter analog (datalab/internal/report.py:86-185): header, sorted
    summary of issue types with issues, per-type sections with top ids."""
    from sparkclean.quality.datalab import find_issues, get_report
    from tests.conftest import probs_df
    import numpy as np

    rng = np.random.RandomState(3)
    probs = rng.dirichlet([1.0] * 4, size=120)
    labels = probs.argmax(1)
    labels[:10] = (labels[:10] + 1) % 4  # planted label issues
    df = probs_df(spark, labels, probs)
    issues, summary = find_issues(df, 4)
    rep = get_report(issues, summary, id_col="id", num_classes=4)
    assert "Dataset Information: num_examples: 120, num_classes: 4" in rep
    assert "summary of various issues" in rep
    assert "label issues" in rep
    assert "Top examples (id, score):" in rep
    # no-issue path
    rep2 = get_report(issues.limit(0), summary.where("num_issues < 0"), id_col="id")
    assert "No issues found" in rep2


def test_datalab_save_load_report_roundtrip(spark, tmp_path):
    """Datalab.save/load parity (reference datalab.py:581-640 +
    internal/serialize.py): the reloaded bundle re-emits a
    byte-identical report, the info sidecar survives, modified data is
    refused, and an existing path needs force=True."""
    import pytest

    from sparkclean.quality.datalab import (
        find_issues,
        get_report,
        load_datalab,
        save_datalab,
    )
    from tests.conftest import probs_df
    import numpy as np

    rng = np.random.RandomState(7)
    probs = rng.dirichlet([1.0] * 4, size=150)
    labels = probs.argmax(1)
    labels[:12] = (labels[:12] + 1) % 4
    df = probs_df(spark, labels, probs)
    issues, summary = find_issues(df, 4)
    rep_before = get_report(issues, summary, id_col="id", num_classes=4)

    path = str(tmp_path / "lab")
    save_datalab(
        issues, summary, path, data=df,
        info={"thresholds": [0.5, 0.5, 0.5, 0.5]}, id_col="id", num_classes=4,
    )
    issues2, summary2, meta = load_datalab(spark, path, data=df)
    rep_after = get_report(issues2, summary2, id_col="id", num_classes=4)
    assert rep_after == rep_before
    assert meta["num_classes"] == 4
    assert meta["info"]["thresholds"] == [0.5, 0.5, 0.5, 0.5]
    assert meta["sparkclean_reference_version"] == "2.9.0"

    # modified data refused (reference load raises on hash mismatch)
    mutated = df.withColumn("label", (F.col("label") + 1) % 4)
    with pytest.raises(ValueError, match="modified"):
        load_datalab(spark, path, data=mutated)

    # force semantics mirrored from the reference serializer
    with pytest.raises(FileExistsError):
        save_datalab(issues, summary, path, data=df)
    save_datalab(issues, summary, path, force=True, data=df)


def test_every_query_has_an_oracle():
    """CLAUDE.md invariant: every queries() entry ships a DuckDB oracle
    twin (no rows-only checks), and no oracle is orphaned."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "_entry_inv", os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    q, o = set(mod.queries()), set(mod.oracle_sql())
    assert q == o, f"missing oracles: {sorted(q - o)}; orphans: {sorted(o - q)}"


def test_multilabel_cj_dense_grid_with_diagonal_clip(spark):
    """The one-vs-rest confident joint must return the FULL (K, 2, 2)
    grid with each per-class 2x2 diagonal clipped to >= 1 — the
    reference applies count.py:612's fill_diagonal(clip(min=1)) inside
    every binary subproblem, so empty confident cells report 1, never an
    absent row (round-3 review)."""
    from sparkclean.quality.joint import multilabel_confident_joint_counts

    K2 = 3
    # every example carries label {0}; class 2 never appears → its
    # (given=1, *) cells are empty and its (1,1) diagonal must clip to 1
    rows = [
        (i, [0], [0.9, 0.05, 0.05]) for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "vec_id: long, labels: array<int>, pred_probs: array<double>"
    )
    out = {
        (r["class_k"], r["given_k"], r["true_k"]): r["n"]
        for r in multilabel_confident_joint_counts(df, K2).collect()
    }
    assert len(out) == K2 * 4  # dense grid, no absent rows
    for k in range(K2):
        assert out[(k, 0, 0)] >= 1 and out[(k, 1, 1)] >= 1  # clipped diagonal
    # class 2 has no positive examples: its (1, 1) cell is the pure clip
    assert out[(2, 1, 1)] == 1
    assert out[(2, 1, 0)] == 0


def test_span_scores_match_reference_expansion(spark):
    """Span-classification semantics (reference
    experimental/span_classification.py:19-106, docstring example): the
    span prob p expands to token pred_probs [1-p, p], so the per-token
    quality is p where the label is 1 and 1-p where it is 0, and the
    sentence score is the softmin pool of those token scores."""
    import numpy as np

    from sparkclean.quality.pooling import (
        span_sentence_score_col,
        span_token_scores_col,
    )

    rows = [
        (0, [0.9, 0.9, 0.9, 0.1], [0, 0, 1, 1]),
        (1, [0.1, 0.1, 0.9], [1, 1, 0]),
    ]
    df = spark.createDataFrame(
        rows, "sid: long, sp: array<double>, lb: array<int>"
    )
    out = df.select(
        "sid",
        span_token_scores_col(F.col("sp"), F.col("lb")).alias("tok"),
        span_sentence_score_col(F.col("sp"), F.col("lb")).alias("sent"),
    ).collect()
    by_id = {r["sid"]: r for r in out}
    # token scores: p if label==1 else 1-p (reference expansion to [1-p,p]
    # then self-confidence of the given binary label)
    exp0 = [1 - 0.9, 1 - 0.9, 0.9, 0.1]
    exp1 = [0.1, 0.1, 1 - 0.9]
    assert np.allclose(by_id[0]["tok"], exp0)
    assert np.allclose(by_id[1]["tok"], exp1)

    def softmin(s, t=0.05):
        s = np.asarray(s, dtype=float)
        w = np.exp((1 - s) / t)
        return float((s * w).sum() / w.sum())

    assert abs(by_id[0]["sent"] - softmin(exp0)) < 1e-12
    assert abs(by_id[1]["sent"] - softmin(exp1)) < 1e-12
