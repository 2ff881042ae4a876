"""Distributed order-statistics primitives (sparkclean/stats.py) +
the round-3 plan guarantees: no exact Percentile aggregate and no
unpartitioned global window in the feature-space scale paths."""

import math
import re

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import sparkclean.stats as stats
from conftest import spark_jobs
from sparkclean.stats import exact_median, exact_quantile, global_row_number


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def values(spark):
    rng = np.random.default_rng(7)
    # mix of continuous values, heavy ties, and an even/odd-n split
    vals = np.concatenate(
        [rng.normal(0, 1, 400), np.repeat([0.25, -1.5], 50), rng.uniform(-2, 2, 101)]
    )
    return spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(vals)], "id: long, v: double"
    )


@pytest.mark.parametrize("q", [0.1, 0.5, 0.9])
def test_exact_quantile_matches_percentile(values, q):
    want = values.agg(F.expr(f"percentile(v, {q})")).first()[0]
    got = exact_quantile(values, "v", q)
    assert got == pytest.approx(want, abs=0, rel=0), (got, want)


def test_exact_median_even_and_odd_counts(spark):
    for n in (4, 5):
        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate([3.0, 1.0, 4.0, 1.5, 9.0][:n])],
            "id: long, v: double",
        )
        want = df.agg(F.expr("percentile(v, 0.5)")).first()[0]
        assert exact_median(df, "v") == want


def test_exact_quantile_all_ties(spark):
    df = spark.createDataFrame([(i, 2.0) for i in range(100)], "id: long, v: double")
    assert exact_median(df, "v") == 2.0


def test_exact_quantile_empty_and_singleton(spark):
    empty = spark.createDataFrame([], "id: long, v: double")
    assert exact_quantile(empty, "v") is None
    one = spark.createDataFrame([(1, 42.0)], "id: long, v: double")
    assert exact_quantile(one, "v", 0.9) == 42.0


def _values_at_ranks(df, need, n, err):
    """The key of ``df._v`` at each rank, through the one rank selection."""
    return {k: r["_v"] for k, r in stats.rows_at_ranks(df, "_v", [], need, n, err).items()}


def test_values_at_ranks_recursive_refinement(spark, monkeypatch):
    """Force the two-stage band refinement (the n > ~10^13 path where
    the error floor makes the first band exceed the single-task target)
    by shrinking the band budget and widening err — results must equal
    the exact order statistics at every level of recursion."""
    monkeypatch.setattr(stats, "_BAND_TARGET_ROWS", 100)
    rng = np.random.default_rng(11)
    data = rng.normal(0, 1, 2000)
    df = spark.createDataFrame([(float(v),) for v in data], "_v: double")
    want = np.sort(data)
    need = {1, 500, 1500, 2000}
    got = _values_at_ranks(df, need, 2000, err=0.1)
    assert set(got) == need
    for k in need:
        assert got[k] == want[k - 1], k


def test_values_at_ranks_randomized_matrix(spark, monkeypatch):
    """Randomized sweep over (distribution, rank set, err, band budget)
    including tie-heavy data and forced multi-level recursion — every
    returned value must equal the NumPy order statistic."""
    rng = np.random.default_rng(29)
    for trial in range(6):
        n = int(rng.integers(50, 1200))
        kind = trial % 3
        if kind == 0:
            data = rng.normal(0, 1, n)
        elif kind == 1:
            data = rng.integers(0, 5, n).astype(float)  # heavy ties
        else:
            data = np.concatenate([np.zeros(n // 2), rng.uniform(0, 1, n - n // 2)])
        df = spark.createDataFrame([(float(v),) for v in data], "_v: double")
        want = np.sort(data)
        ranks = set(
            int(r) for r in rng.integers(1, n + 1, size=int(rng.integers(1, 4)))
        )
        err = float(rng.choice([None, 0.05, 0.2], p=[0.4, 0.3, 0.3]) or 0) or None
        band_target = int(rng.choice([50, 10**6]))
        monkeypatch.setattr(stats, "_BAND_TARGET_ROWS", band_target)
        got = _values_at_ranks(df, ranks, n, err)
        assert set(got) == ranks, (trial, ranks, got)
        for k in ranks:
            assert got[k] == want[k - 1], (trial, n, k, err, band_target)


def test_exact_quantile_with_forced_recursion(spark):
    rng = np.random.default_rng(13)
    data = rng.uniform(-5, 5, 3000)
    df = spark.createDataFrame([(float(v),) for v in data], "v: double")
    want = df.agg(F.expr("percentile(v, 0.5)")).first()[0]
    old = stats._BAND_TARGET_ROWS
    stats._BAND_TARGET_ROWS = 64
    try:
        got = stats.exact_quantile(df, "v", 0.5, err=0.05)
    finally:
        stats._BAND_TARGET_ROWS = old
    assert got == want


@pytest.mark.parametrize("q", [1.5, -0.1, float("nan")])
def test_exact_quantile_rejects_q_outside_unit_interval(spark, values, q):
    """Spark's ``percentile`` rejects q outside [0, 1]; so does
    exact_quantile, naming q, before it starts any Spark job."""
    def call():
        with pytest.raises(ValueError, match=r"\bq\b"):
            exact_quantile(values, "v", q)

    _, jobs = spark_jobs(spark, call)
    assert jobs == 0


def test_small_rank_paths_job_ceilings(spark):
    """Within the band budget the rank selection is one direct window
    rank: bottom_n_flags with ``total`` given is ONE Spark job, and
    exact_median on 2000 rows at most 4 (its count, then the rank)."""
    from sparkclean.quality.issues import bottom_n_flags

    rng = np.random.default_rng(5)
    n = 2000
    df = spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate(rng.uniform(0, 1, n))],
        "id: long, score: double",
    ).cache()
    df.count()
    try:
        _, jobs = spark_jobs(spark, lambda: bottom_n_flags(df, 300, "score", "id", total=n))
        assert jobs == 1
        median, jobs = spark_jobs(spark, lambda: exact_median(df, "score"))
        assert jobs <= 4
        assert median == df.agg(F.expr("percentile(score, 0.5)")).first()[0]
    finally:
        df.unpersist()


def test_global_row_number_matches_unpartitioned_window(values):
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = {
        r["id"]: r["rk"]
        for r in values.withColumn("rk", F.row_number().over(w)).collect()
    }
    got = {
        r["id"]: r["rank"]
        for r in global_row_number(values, ["v", "id"], out_col="rank").collect()
    }
    assert got == want


def test_global_row_number_grouped(values):
    df = values.withColumn("grp", (F.col("id") % 3).cast("int"))
    w = Window.partitionBy("grp").orderBy(F.col("v").asc(), F.col("id").asc())
    want = {
        (r["grp"], r["id"]): r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    got = {
        (r["grp"], r["id"]): r["rank"]
        for r in global_row_number(
            df, ["v", "id"], out_col="rank", group_cols=["grp"]
        ).collect()
    }
    assert got == want


def _window_specs_all_partitioned(plan: str) -> bool:
    """Every data-sized Window node (the row_number ranking) must carry a
    partition spec: the node prints as `Window [exprs], [partSpec],
    [orderSpec]` — an unpartitioned one omits the middle bracket group.
    The broadcast prefix-sum of per-partition counts is allowed to be
    unpartitioned: its input is the ptot aggregate, which is
    ``num_partitions`` rows (constant at any data scale)."""
    for m in re.finditer(r"Window \[", plan):
        tail = plan[m.start() : plan.index("\n", m.start())]
        if "row_number()" in tail and tail.count("], [") < 2:
            return False
    return True


def test_global_row_number_plan_has_no_unpartitioned_window(values):
    out = global_row_number(values, ["v", "id"], out_col="rank")
    plan = _physical_plan(out)
    assert "rangepartitioning" in plan or "RepartitionByExpression" in plan
    assert _window_specs_all_partitioned(plan), plan


def test_no_exact_percentile_in_scale_paths(spark):
    """The three round-2 perf-weak call sites (near_duplicate_issues,
    ood_knn_distance, non_iid_ks) must not call the exact ``percentile``
    aggregate anywhere — source-level guard plus a plan check on the
    DataFrame-returning manager."""
    import inspect

    import sparkclean.quality.datalab as datalab
    import sparkclean.quality.valuation as valuation

    bad = re.compile(r"""expr\(\s*f?['"]\s*percentile""", re.IGNORECASE)
    for mod in (datalab, valuation):
        assert not bad.search(inspect.getsource(mod)), mod
    assert not bad.search(open("__spark_entry__.py").read())

    from sparkclean.quality.datalab import near_duplicate_issues

    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [
            (int(i), [float(x) for x in rng.normal(0, 1, 8)])
            for i in range(80)
        ],
        "vec_id: long, embedding: array<double>",
    )
    plan = _physical_plan(near_duplicate_issues(df, k=3))
    assert "Percentile" not in plan, "exact Percentile aggregate leaked into plan"


def test_values_at_ranks_heavy_ties_capped_band(spark, monkeypatch):
    """Adversarial tie block at the band edge: ≥40% of rows share one
    value straddling the needed ranks.  With a tiny band budget the
    measured-band router must take the range-partitioned selection path
    (never a data-sized single-task rank) and still return the exact
    order statistics."""
    monkeypatch.setattr(stats, "_BAND_TARGET_ROWS", 50)
    rng = np.random.default_rng(41)
    n = 1200
    data = np.concatenate(
        [rng.uniform(-2, -1, n // 3), np.full(n // 2, 0.5), rng.uniform(1, 2, n - n // 3 - n // 2)]
    )
    df = spark.createDataFrame([(float(v),) for v in data], "_v: double")
    want = np.sort(data)
    # ranks straddle the tie block: inside, at both edges, and outside
    need = {1, n // 3, n // 3 + 1, n // 2, n // 3 + n // 2, n}
    calls = []
    orig = stats._rows_at_ranks_selection

    def spy(df_, cols, ranks, depth=0):
        calls.append((sorted(ranks), depth))
        return orig(df_, cols, ranks, depth)

    stats._rows_at_ranks_selection = spy
    try:
        got = _values_at_ranks(df, need, n, err=0.02)
    finally:
        stats._rows_at_ranks_selection = orig
    for k in need:
        assert got[k] == want[k - 1], k
    assert calls, "tie-inflated band must route through the selection path"


def test_rows_at_ranks_selection_direct(spark, monkeypatch):
    """The selection primitive itself: tie-heavy data, multiple ranks,
    forced recursion via a tiny band budget — rows must match NumPy
    order statistics under the (v, id) total order."""
    monkeypatch.setattr(stats, "_BAND_TARGET_ROWS", 40)
    rng = np.random.default_rng(43)
    n = 800
    vals = np.concatenate([np.zeros(n // 2), rng.integers(0, 6, n - n // 2)]).astype(float)
    ids = rng.permutation(n)
    df = spark.createDataFrame(
        [(int(i), float(v)) for i, v in zip(ids, vals)], "id: long, v: double"
    )
    order = np.lexsort((ids, vals))
    need = {1, 5, n // 2, n // 2 + 1, n - 1, n}
    got = stats._rows_at_ranks_selection(df, ["v", "id"], need)
    for k in need:
        i = order[k - 1]
        assert (got[k]["v"], got[k]["id"]) == (vals[i], ids[i]), k


def _bottom_n_ref(rows, n):
    """ids of the first n rows by (score ASC, id ASC), Spark's order:
    NaN after every number, NULL last."""
    def key(r):
        i, sc = r
        if sc is None:
            return (2, 0.0, i)
        return (1, 0.0, i) if math.isnan(sc) else (0, sc, i)

    return {i for i, _ in sorted(rows, key=key)[:n]}


def test_bottom_n_flags_fast_path_matches_band(spark, monkeypatch):
    """The r6 small-input fast path (one direct rank job when total fits
    the band task budget) must flag exactly the same rows as the banded
    quantile path — including tie blocks at the cutoff, NaN scores
    (after every number, before NULL) and null scores (never flagged,
    NULLS-LAST like the SQL twins)."""
    from sparkclean.quality.issues import bottom_n_flags

    rng = np.random.default_rng(11)
    n_rows = 500
    scores = rng.uniform(0, 1, n_rows)
    scores[::50] = 0.5  # planted tie block
    ids = rng.permutation(n_rows)
    rows = [(int(i), float(s)) for i, s in zip(ids, scores)]
    rows += [(10_000 + j, None) for j in range(5)]  # null scores
    nan_scores = rng.uniform(0, 1, 400)
    nan_scores[::20] = np.nan
    nan_rows = [(int(i), float(s)) for i, s in zip(rng.permutation(400), nan_scores)]
    nan_rows += [(10_000 + j, None) for j in range(5)]
    budget = stats._BAND_TARGET_ROWS
    for data, n_flags in ((rows, (1, 120, 499)), (nan_rows, (10, 200, 385, 395, 400))):
        df = spark.createDataFrame(data, "id: long, score: double")
        for n_flag in n_flags:
            flagged = []
            for cap in (budget, 40):
                monkeypatch.setattr(stats, "_BAND_TARGET_ROWS", cap)
                flagged.append({
                    r["id"]
                    for r in bottom_n_flags(df, n_flag, "score", "id")
                    .where(F.col("is_label_issue"))
                    .collect()
                })
            fast, band = flagged
            assert fast == band, n_flag
            assert len(fast) == n_flag
            assert all(i < 10_000 for i in fast), "null scores must never flag"
            assert fast == _bottom_n_ref(data, n_flag), n_flag


def test_bottom_n_flags_heavy_ties_capped(spark, monkeypatch):
    """bottom_n_flags with the cutoff inside a 40% tie block and a tiny
    band budget: flags must still be exactly the n smallest (score, id)
    pairs — via the selection path, not a data-sized window."""
    from sparkclean.quality.issues import bottom_n_flags

    monkeypatch.setattr(stats, "_BAND_TARGET_ROWS", 50)
    rng = np.random.default_rng(47)
    n_rows = 1000
    scores = np.concatenate(
        [rng.uniform(0, 0.2, 250), np.full(400, 0.25), rng.uniform(0.3, 1, 350)]
    )
    ids = rng.permutation(n_rows)
    df = spark.createDataFrame(
        [(int(i), float(s)) for i, s in zip(ids, scores)],
        "id: long, score: double",
    )
    for n_flag in (300, 500, 650):
        got = {
            r["id"]
            for r in bottom_n_flags(df, n_flag, "score", "id")
            .where(F.col("is_label_issue"))
            .collect()
        }
        order = np.lexsort((ids, scores))
        want = {int(ids[i]) for i in order[:n_flag]}
        assert got == want, n_flag


@pytest.mark.parametrize(
    "scores",
    [[0.4, None, 0.1, 0.4, None, 0.9, 0.2, None, 0.4, 0.7], [None] * 6],
    ids=["some_null", "all_null"],
)
def test_bottom_n_flags_past_non_null_scores_matches_duckdb(spark, monkeypatch, scores):
    """n above the non-null score count: the flags are the SQL twins'
    ``row_number() OVER (ORDER BY score ASC NULLS LAST, id ASC) <= n`` —
    every non-null score, then the NULL-score rows by id — on the
    small-input path and on the band path alike."""
    import duckdb

    from sparkclean.quality.issues import bottom_n_flags

    ids = [7, 3, 9, 1, 8, 2, 6, 0, 5, 4][: len(scores)]
    rows = list(zip(ids, scores))
    df = spark.createDataFrame(rows, "id: long, score: double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, score DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    budget = stats._BAND_TARGET_ROWS
    for n in range(len(rows) + 1):
        want = {
            r[0]
            for r in con.execute(
                "SELECT id FROM (SELECT id, row_number() OVER "
                "(ORDER BY score ASC NULLS LAST, id ASC) AS rn FROM t) "
                f"WHERE rn <= {n}"
            ).fetchall()
        }
        for cap in (budget, 4):
            monkeypatch.setattr(stats, "_BAND_TARGET_ROWS", cap)
            flags = {
                r["id"]: r["is_label_issue"]
                for r in bottom_n_flags(df, n, "score", "id").collect()
            }
            assert None not in flags.values(), (n, cap)
            assert {i for i, f in flags.items() if f} == want, (n, cap)
