"""Parity tests: distributed confident-learning ops vs the NumPy oracle.

Mirrors the reference's invariant suite (tests/test_filter_count.py,
tests/test_rank.py — see SURVEY.md §5)."""

import numpy as np
import pytest

import ref_impl as R
from conftest import probs_df, spark_jobs
from sparkclean.quality import (
    compute_confident_joint,
    find_label_issues,
    find_label_issues_batched,
    get_confident_thresholds,
    label_counts,
    num_label_issues,
    with_label_quality_scores,
)
from sparkclean.quality.issues import FILTER_BY_METHODS
from sparkclean.quality.ood import with_ood_scores

# F3 micro-fixture (tests/test_filter_count.py:196-210)
MICRO_PROBS = np.array(
    [
        [0.9, 0.1, 0.0],
        [0.6, 0.2, 0.2],
        [0.1, 0.0, 0.9],
        [0.1, 0.8, 0.1],
        [0.1, 0.8, 0.1],
        [0.1, 0.8, 0.1],
        [0.1, 0.8, 0.1],
        [0.1, 0.8, 0.1],
        [0.1, 0.8, 0.1],
        [0.1, 0.1, 0.8],
    ]
)
MICRO_LABELS = np.array([0, 0, 1, 1, 1, 1, 1, 1, 1, 2])


@pytest.fixture(scope="module")
def fixture_np():
    return R.make_noisy_fixture(n=400, k=3, seed=1)


@pytest.fixture(scope="module")
def fixture_df(spark, fixture_np):
    labels, probs, _ = fixture_np
    return probs_df(spark, labels, probs).cache()


def collect_sorted(df, col):
    return np.array([r[col] for r in df.orderBy("id").select(col).collect()])


def test_confident_thresholds_parity(spark, fixture_np, fixture_df):
    labels, probs, _ = fixture_np
    t_spark = get_confident_thresholds(fixture_df, 3)
    t_ref = R.confident_thresholds(labels, probs)
    np.testing.assert_allclose(t_spark, t_ref, rtol=0, atol=1e-12)


def test_thresholds_missing_class(spark):
    labels = np.array([0, 0, 1, 1])
    probs = np.array([[0.7, 0.2, 0.1], [0.6, 0.3, 0.1], [0.2, 0.7, 0.1], [0.1, 0.8, 0.1]])
    df = probs_df(spark, labels, probs)
    t = get_confident_thresholds(df, 3)
    assert t[2] == 2.0
    np.testing.assert_allclose(t[:2], [0.65, 0.75])


def test_scores_parity(spark, fixture_np, fixture_df):
    labels, probs, _ = fixture_np
    for method, fn in [
        ("self_confidence", R.self_confidence),
        ("normalized_margin", R.normalized_margin),
        ("confidence_weighted_entropy", R.confidence_weighted_entropy),
    ]:
        got = collect_sorted(
            with_label_quality_scores(fixture_df, 3, method=method, out_col="s"), "s"
        )
        np.testing.assert_allclose(got, fn(labels, probs), rtol=1e-12, atol=1e-12, err_msg=method)


def test_score_ordering_matches_argsort(spark, fixture_np, fixture_df):
    # tests/test_rank.py:131-177 — ranking equals argsort of the score fn
    labels, probs, _ = fixture_np
    got = collect_sorted(
        with_label_quality_scores(fixture_df, 3, method="self_confidence", out_col="s"), "s"
    )
    ref = R.self_confidence(labels, probs)
    assert np.array_equal(np.argsort(got, kind="stable"), np.argsort(ref, kind="stable"))


def test_adjusted_scores(spark, fixture_np, fixture_df):
    labels, probs, _ = fixture_np
    t = R.confident_thresholds(labels, probs)
    adj = R.adjust_pred_probs(probs, t)
    # adjusted probs remain positive, rows sum to 1 (tests/test_rank.py:180-190)
    assert (adj > 0).all()
    np.testing.assert_allclose(adj.sum(axis=1), 1.0)
    got = collect_sorted(
        with_label_quality_scores(
            fixture_df, 3, method="self_confidence", adjust=True, thresholds=list(t), out_col="s"
        ),
        "s",
    )
    np.testing.assert_allclose(got, adj[np.arange(len(labels)), labels], rtol=1e-10)

    with pytest.raises(ValueError):
        with_label_quality_scores(
            fixture_df, 3, method="confidence_weighted_entropy", adjust=True, thresholds=list(t)
        )


def test_confident_joint_micro(spark):
    df = probs_df(spark, MICRO_LABELS, MICRO_PROBS)
    cj_raw = compute_confident_joint(df, 3, calibrate=False)
    ref_raw = R.raw_confident_joint(MICRO_LABELS, MICRO_PROBS)
    assert np.array_equal(cj_raw, ref_raw)
    cj_cal = compute_confident_joint(df, 3, calibrate=True)
    ref_cal = R.calibrate_cj(ref_raw, MICRO_LABELS, 3)
    assert np.array_equal(cj_cal, ref_cal)
    assert cj_cal.sum() == len(MICRO_LABELS)
    assert np.array_equal(cj_cal.sum(axis=1), np.bincount(MICRO_LABELS, minlength=3))


def test_confident_joint_fixture(spark, fixture_np, fixture_df):
    labels, probs, _ = fixture_np
    cj = compute_confident_joint(fixture_df, 3, calibrate=False)
    assert np.array_equal(cj, R.raw_confident_joint(labels, probs))
    cal = compute_confident_joint(fixture_df, 3, calibrate=True)
    assert cal.sum() == len(labels)
    assert np.array_equal(cal.sum(axis=1), np.bincount(labels, minlength=3))


def test_num_label_issues(spark, fixture_np, fixture_df):
    labels, probs, _ = fixture_np
    assert num_label_issues(fixture_df, 3) == R.num_label_issues_off_diagonal(labels, probs)
    assert num_label_issues(
        fixture_df, 3, estimation_method="off_diagonal_calibrated"
    ) == R.num_label_issues_calibrated(labels, probs)


@pytest.mark.parametrize("filter_by", FILTER_BY_METHODS)
def test_find_label_issues_parity(spark, fixture_np, fixture_df, filter_by):
    labels, probs, _ = fixture_np
    got = collect_sorted(
        find_label_issues(fixture_df, 3, filter_by=filter_by), "is_label_issue"
    )
    ref = R.find_label_issues(labels, probs, filter_by=filter_by)
    assert np.array_equal(got.astype(bool), ref), (
        f"{filter_by}: {got.sum()} vs {ref.sum()} flagged"
    )


def test_cl_count_equals_off_diagonal(spark, fixture_np, fixture_df):
    # invariant of tests/test_filter_count.py:744-759
    labels, probs, _ = fixture_np
    got = collect_sorted(
        find_label_issues(fixture_df, 3, filter_by="confident_learning"), "is_label_issue"
    )
    assert int(got.sum()) == num_label_issues(fixture_df, 3)


def test_counts_close_across_methods(spark, fixture_df):
    # analog of tests/test_filter_count.py:762-782
    counts = {}
    for fb in ("confident_learning", "low_self_confidence", "low_normalized_margin"):
        got = collect_sorted(find_label_issues(fixture_df, 3, filter_by=fb), "is_label_issue")
        counts[fb] = int(got.sum())
    assert counts["low_self_confidence"] == counts["low_normalized_margin"]
    assert abs(counts["confident_learning"] - counts["low_self_confidence"]) <= 2


def test_batched_matches_low_self_confidence(spark, fixture_np, fixture_df):
    # Jaccard > 0.95 invariant (tests/test_filter_count.py:956-965)
    labels, probs, _ = fixture_np
    exact = R.find_label_issues(labels, probs, filter_by="low_self_confidence")
    got = collect_sorted(find_label_issues_batched(fixture_df, 3), "is_label_issue").astype(bool)
    inter = (exact & got).sum()
    union = (exact | got).sum()
    assert union == 0 or inter / union > 0.95
    # thorough mode reproduces the exact low_self_confidence selection
    assert np.array_equal(got, exact)


def test_find_label_issues_low_self_confidence_job_ceiling(spark):
    """On 2000 cached rows the low_self_confidence call is the
    thresholds, the fused issue/row count and ONE direct bottom-n rank:
    at most 6 Spark jobs."""
    rng = np.random.default_rng(5)
    n = 2000
    df = probs_df(spark, rng.integers(0, 10, n), rng.dirichlet(np.ones(10), n)).cache()
    df.count()
    try:
        _, jobs = spark_jobs(
            spark, lambda: find_label_issues(df, 10, filter_by="low_self_confidence")
        )
        assert jobs <= 6
    finally:
        df.unpersist()


@pytest.mark.parametrize("data", ["noisy", "flat"])
def test_batched_fast_rule_matches_numpy(spark, fixture_np, fixture_df, data):
    # thorough=False is the rule pipeline.caption_scores ships: fast
    # count, exact bottom-n by (score, id), reduce-issues unflag.  On the
    # near-uniform "flat" input the unflag removes bottom-n rows.
    if data == "noisy":
        labels, probs, _ = fixture_np
        df = fixture_df
    else:
        rng = np.random.default_rng(0)
        probs = rng.dirichlet([30.0] * 3, size=200)
        labels = rng.integers(0, 3, 200)
        df = probs_df(spark, labels, probs)
    got = collect_sorted(
        find_label_issues_batched(df, 3, thorough=False), "is_label_issue"
    ).astype(bool)
    want = R.find_label_issues_batched_fast(labels, probs)
    assert want.any()
    assert np.array_equal(got, want)


def test_null_label_is_skipped_by_joint_and_counts(spark, fixture_np, fixture_df):
    """A NULL label row counts in no class: the confident joint, the
    class counts and the prune masks equal those of the frame without
    it, and the row itself is never flagged."""
    labels, probs, _ = fixture_np
    null_row = spark.createDataFrame(
        [(10_000, None, [0.2, 0.5, 0.3])], fixture_df.schema
    )
    with_null = fixture_df.unionByName(null_row)
    t = get_confident_thresholds(fixture_df, 3)
    for calibrate in (False, True):
        assert np.array_equal(
            compute_confident_joint(with_null, 3, thresholds=t, calibrate=calibrate),
            compute_confident_joint(fixture_df, 3, thresholds=t, calibrate=calibrate),
        )
    assert np.array_equal(label_counts(with_null, 3), label_counts(fixture_df, 3))
    for filter_by in ("prune_by_noise_rate", "prune_by_class", "both"):
        got = collect_sorted(
            find_label_issues(with_null, 3, filter_by=filter_by, thresholds=t),
            "is_label_issue",
        )
        want = collect_sorted(
            find_label_issues(fixture_df, 3, filter_by=filter_by, thresholds=t),
            "is_label_issue",
        )
        assert np.array_equal(got, np.append(want, False)), filter_by


def test_partition_invariance(spark, fixture_np):
    # Spark analog of batch-size invariance (test_filter_count.py:951-954)
    labels, probs, _ = fixture_np
    df1 = probs_df(spark, labels, probs).repartition(1)
    df16 = probs_df(spark, labels, probs).repartition(16)
    m1 = collect_sorted(find_label_issues(df1, 3, filter_by="confident_learning"), "is_label_issue")
    m16 = collect_sorted(find_label_issues(df16, 3, filter_by="confident_learning"), "is_label_issue")
    assert np.array_equal(m1, m16)


def test_ood_scores(spark, fixture_np, fixture_df):
    labels, probs, _ = fixture_np
    ent = collect_sorted(with_ood_scores(fixture_df, 3, method="entropy", out_col="o"), "o")
    np.testing.assert_allclose(ent, 1.0 - R.normalized_entropy(probs), rtol=1e-12)
    lc = collect_sorted(with_ood_scores(fixture_df, 3, method="least_confidence", out_col="o"), "o")
    np.testing.assert_allclose(lc, probs.max(axis=1), rtol=1e-12)
    gen = collect_sorted(with_ood_scores(fixture_df, 3, method="gen", out_col="o"), "o")
    sm = np.exp(probs) / np.exp(probs).sum(axis=1, keepdims=True)
    top = np.sort(sm, axis=1)[:, -3:]
    ref_gen = 1 - np.sum(top**0.1 * (1 - top) ** 0.1, axis=1) / 100
    np.testing.assert_allclose(gen, ref_gen, rtol=1e-10)
