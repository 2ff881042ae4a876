"""Shared bucketed KNN-edge builder (sim.knn.knn_edges).

Three contracts:

1. Structure — every row gets exactly k edges (rescue backstop), rk is a
   1..k permutation per query, and distances are monotone in rk.
2. Recall — on a planted-cluster fixture (tight clusters, the workload
   LSH is for: near-duplicate / near-neighbor mining where neighbors ARE
   angularly close), the bucketed edge list recovers ≥ 95% of the exact
   brute-force 10-NN edges.  (On isotropic noise the 10-NN sit at ~72°
   and no sublinear bucketing can find them — that regime is documented,
   not asserted.)
3. Plan shape — no CartesianProduct anywhere in the physical plans of
   knn_edges or its four consumers; the only non-equi join allowed is
   the broadcast rescue backstop.  Without a rescue, knn_edges is one
   grouped bucket kernel and no join at all.
4. Exactness — knn_edges equals its DuckDB twin (knn_edges_cte_sql) row
   for row, ties and the rescue branch included, and the bucket kernel's
   query blocking does not change its output.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import Window

from sparkclean.sim.knn import (
    embedding_near_duplicates,
    euclidean_col,
    knn_edges,
    lsh_topk,
)

K = 10
DIM = 16


@pytest.fixture(scope="module")
def clustered(spark):
    """40 tight clusters x 25 points: within-cluster angle is small, so
    true 10-NN are same-cluster — the regime LSH buckets are built for."""
    rng = np.random.RandomState(7)
    centers = rng.randn(40, DIM) * 3.0
    rows = []
    i = 0
    for c in range(40):
        for _ in range(25):
            v = centers[c] + rng.randn(DIM) * 0.15
            rows.append((i, [float(x) for x in v], c % 10))
            i += 1
    return spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>, label: int"
    ).cache()


def brute_edges(df, k, metric="euclidean"):
    a = df.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("_qa"))
    b = df.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("_nb"))
    pairs = a.join(b, F.col("qid") != F.col("nid")).withColumn(
        "d", euclidean_col(F.col("_qa"), F.col("_nb"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("d").asc(), F.col("nid").asc())
    return pairs.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def test_structure_exact_k(clustered):
    edges = knn_edges(clustered, k=K, dim=DIM).cache()
    n = clustered.count()
    assert edges.count() == n * K
    per_q = edges.groupBy("qid").agg(
        F.count(F.lit(1)).alias("c"), F.max("rk").alias("mx"), F.min("rk").alias("mn")
    )
    bad = per_q.where((F.col("c") != K) | (F.col("mx") != K) | (F.col("mn") != 1)).count()
    assert bad == 0
    # distance monotone in rank
    w = Window.partitionBy("qid").orderBy("rk")
    viol = (
        edges.withColumn("_prev", F.lag("d").over(w))
        .where(F.col("_prev").isNotNull() & (F.col("d") < F.col("_prev")))
        .count()
    )
    assert viol == 0


def test_recall_on_planted_clusters(clustered):
    truth = brute_edges(clustered, K).select("qid", "nid")
    approx = knn_edges(clustered, k=K, dim=DIM).select("qid", "nid")
    hit = truth.join(approx, ["qid", "nid"]).count()
    recall = hit / truth.count()
    assert recall >= 0.95, f"planted-cluster recall {recall:.3f} < 0.95"


def test_near_duplicates_recall(clustered):
    # brute within-label pairs >= 0.995 cosine vs the banded path
    from sparkclean.sim.knn import cosine_col

    a = clustered.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"), "label"
    )
    b = clustered.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"), "label"
    )
    brute = (
        a.join(b, "label")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_col(F.col("_va"), F.col("_vb")))
        .where(F.col("cosine") >= 0.995)
        .select("id_a", "id_b")
    )
    approx = embedding_near_duplicates(clustered, threshold=0.995, dim=DIM).select(
        "id_a", "id_b"
    )
    n_true = brute.count()
    assert n_true > 0, "fixture must contain near-duplicate pairs"
    hit = brute.join(approx, ["id_a", "id_b"]).count()
    assert hit / n_true >= 0.95
    # and the banded path never invents pairs (precision is exact: every
    # candidate is verified against the true cosine)
    assert approx.join(brute, ["id_a", "id_b"], "left_anti").count() == 0


def test_lsh_topk_recall_vs_brute(clustered):
    """sim.knn.lsh_topk (OR-of-bands SRP blocking) recovers ≥0.9 of the
    exact brute-force cosine top-5 on the clustered fixture."""
    from sparkclean.sim.knn import cosine_topk, lsh_topk

    queries = clustered.where(F.col("vec_id") % 10 == 0)
    brute = cosine_topk(clustered, queries, k=5).select("query_id", "neighbor_id")
    approx = lsh_topk(clustered, queries, dim=DIM, k=5).select("query_id", "neighbor_id")
    n_true = brute.count()
    hit = brute.join(approx, ["query_id", "neighbor_id"]).count()
    assert n_true > 0
    assert hit / n_true >= 0.9, f"lsh_topk recall {hit / n_true:.3f} < 0.9"


def test_ivf_topk_recall_vs_brute(clustered):
    """sim.ivf.ivf_topk (deterministic-Lloyd IVF, n_probe cells) recovers
    ≥0.9 of the exact brute-force cosine top-5; its plan has no cartesian
    candidate join."""
    from sparkclean.sim.ivf import ivf_topk
    from sparkclean.sim.knn import cosine_topk

    queries = clustered.where(F.col("vec_id") % 10 == 0)
    brute = cosine_topk(clustered, queries, k=5).select("query_id", "neighbor_id")
    approx = ivf_topk(clustered, queries, dim=DIM, k=5)
    assert "CartesianProduct" not in approx._jdf.queryExecution().executedPlan().toString()
    approx = approx.select("query_id", "neighbor_id")
    n_true = brute.count()
    hit = brute.join(approx, ["query_id", "neighbor_id"]).count()
    assert n_true > 0
    assert hit / n_true >= 0.9, f"ivf_topk recall {hit / n_true:.3f} < 0.9"


def test_band_codes_udf_matches_catalyst_fold(clustered):
    """The Arrow band-code kernel is BIT-IDENTICAL to the Catalyst fold
    twin (the per-dimension sequential accumulation claim, verified)."""
    from pyspark.sql import functions as F

    from sparkclean.sim.knn import band_codes_col, band_codes_udf

    a = clustered.select(
        "vec_id", band_codes_col(F.col("embedding"), DIM).alias("codes")
    )
    b = clustered.select(
        "vec_id", band_codes_udf(DIM)(F.col("embedding")).alias("codes")
    )
    ca = {r["vec_id"]: list(r["codes"]) for r in a.collect()}
    cb = {r["vec_id"]: list(r["codes"]) for r in b.collect()}
    assert ca == cb


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(plan: str) -> str:
    # an executed AQE plan prints its final plan, then the initial one
    return plan.split("== Initial Plan ==")[0]


def test_no_cartesian_in_consumer_plans(clustered, spark):
    from sparkclean.quality.datalab import near_duplicate_issues
    from sparkclean.quality.valuation import knn_shapley_scores
    from sparkclean.sim import knn

    edges_plan = _physical_plan(knn_edges(clustered, k=K, dim=DIM))
    assert knn.LAST_RESCUE_COUNT == 0, "fixture must not engage the rescue"
    plans = {
        "knn_edges": edges_plan,
        "near_duplicate_issues": _physical_plan(near_duplicate_issues(clustered)),
        "knn_shapley": _physical_plan(knn_shapley_scores(clustered)),
        "embedding_near_duplicates": _physical_plan(
            embedding_near_duplicates(clustered, threshold=0.9, dim=DIM)
        ),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, f"{name} plan has a cartesian product"
        # the scale path must be there: an equi-join keyed on the LSH
        # band/code columns (the consumer may re-reference the edge
        # subplan in several branches, so BNLJ rescue nodes can appear
        # more than once — but only ever downstream of this equi-join)
        assert "_band" in plan and "_code" in plan, (
            f"{name} lost the banded candidate equi-join"
        )
    # the builder itself contains exactly the one bounded rescue BNLJ
    assert plans["knn_edges"].count("BroadcastNestedLoopJoin") <= 1
    # with an empty rescue set the builder is one grouped bucket kernel
    # and no join: vectors ride the band rows, nothing is joined back
    final = _final_plan(edges_plan)
    assert final.count("FlatMapGroupsInPandas") == 1, final
    assert "BroadcastHashJoin" not in final and "SortMergeJoin" not in final, final


def test_lsh_topk_external_query_vectors(spark):
    """Probe vectors NOT drawn from the indexed table must score against
    their OWN embeddings (round-3 review: the query vector was silently
    re-fetched from df by id, dropping external ids entirely)."""
    rng = np.random.RandomState(17)
    base = rng.randn(40, DIM)
    df = spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(40)],
        "vec_id: long, embedding: array<double>",
    )
    # external probes: ids far outside df's id space, vectors equal to
    # two existing rows (so their true top-1 is that row at cosine ~1)
    probes = spark.createDataFrame(
        [(1000, [float(v) for v in base[3]]), (1001, [float(v) for v in base[7]])],
        "vec_id: long, embedding: array<double>",
    )
    out = lsh_topk(df, probes, dim=DIM, k=3).collect()
    assert out, "external probes returned no candidates"
    top = {}
    for r in out:
        if r["rank"] == 1:
            top[r["query_id"]] = (r["neighbor_id"], r["cosine"])
    assert top[1000][0] == 3 and top[1000][1] == pytest.approx(1.0, abs=1e-6)
    assert top[1001][0] == 7 and top[1001][1] == pytest.approx(1.0, abs=1e-6)


def test_knn_edges_rejects_bad_metric_and_empty_df(spark):
    from sparkclean.sim.knn import pair_dist_udf

    with pytest.raises(ValueError, match="unknown metric"):
        pair_dist_udf(4, "euclidian")
    empty = spark.createDataFrame([], "vec_id: long, embedding: array<double>")
    with pytest.raises(ValueError, match="cannot infer dim"):
        knn_edges(empty, k=3)


def test_cosine_zero_norm_is_zero_in_all_three_routes(spark):
    """Zero-norm vectors define cosine = 0 (ANSI Spark would otherwise
    throw DIVIDE_BY_ZERO; DuckDB/NumPy would emit inf/nan) — the
    ties-zoo corpus found this live in knn_bruteforce."""
    import duckdb
    from pyspark.sql import functions as F

    from sparkclean.sim.knn import cosine_col, cosine_sql

    rows = [
        (0, [0.0, 0.0, 0.0], [1.0, 2.0, 2.0]),
        (1, [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "i: long, a: array<double>, b: array<double>")
    got = {
        r["i"]: r["c"]
        for r in df.select("i", cosine_col(F.col("a"), F.col("b")).alias("c")).collect()
    }
    assert got == {0: 0.0, 1: 0.0, 2: 1.0}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, a DOUBLE[], b DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = dict(con.sql(f"SELECT i, {cosine_sql('a','b')} FROM t").fetchall())
    assert got == want


def test_cosine_topk_null_embedding_is_zero(spark):
    """A NULL embedding scores cosine 0.0 against everything, as
    cosine_col and cosine_sql define it — it used to crash the whole
    query in the Arrow kernel's np.stack."""
    from sparkclean.sim.knn import cosine_col, cosine_topk

    rng = np.random.RandomState(23)
    rows = [(i, [float(x) for x in rng.randn(4)]) for i in range(5)] + [(5, None)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(df, df, k=5).collect()
    }
    a = df.select(F.col("vec_id").alias("q"), F.col("embedding").alias("_a"))
    b = df.select(F.col("vec_id").alias("n"), F.col("embedding").alias("_b"))
    want = {
        (r["q"], r["n"]): r["c"]
        for r in a.join(b, F.col("q") != F.col("n"))
        .select("q", "n", F.round(cosine_col(F.col("_a"), F.col("_b")), 6).alias("c"))
        .collect()
    }
    assert len(got) == 30 and got == want
    assert all(got[(5, n)] == 0.0 and got[(n, 5)] == 0.0 for n in range(5))


def _ties_rows():
    """24 base vectors x 4 exact copies under shuffled ids: every row has
    three neighbours at d == 0, and equal distances must break by nid."""
    rng = np.random.RandomState(31)
    base = rng.randn(24, 8)
    ids = rng.permutation(96)
    return [(int(ids[i]), [float(x) for x in base[i % 24]]) for i in range(96)]


def _sparse_rows():
    """12 isotropic rows: too few to share k band codes, so the rescue
    backstop must engage."""
    rng = np.random.RandomState(37)
    return [(i, [float(x) for x in rng.randn(8)]) for i in range(12)]


@pytest.mark.parametrize("metric", ["euclidean", "cosine"])
@pytest.mark.parametrize("fixture", ["ties", "rescue"])
def test_knn_edges_equals_duckdb_twin(spark, fixture, metric):
    import duckdb

    from sparkclean.sim import knn

    rows = _ties_rows() if fixture == "ties" else _sparse_rows()
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    got = sorted(tuple(r) for r in knn_edges(df, k=5, metric=metric, dim=8).collect())
    if fixture == "rescue":
        assert knn.LAST_RESCUE_COUNT > 0
    else:
        assert any(a[0] == b[0] and a[2] == b[2] for a, b in zip(got, got[1:]))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cte = knn.knn_edges_cte_sql("t", k=5, metric=metric, dim=8)
    want = sorted(con.sql(f"WITH {cte.lstrip()} SELECT qid, nid, d, rk FROM knn").fetchall())
    assert got == want


def test_bucket_kernel_blocks_equal_one_block(monkeypatch):
    """A bucket larger than the block bound is scored in several query
    blocks; the result equals the same rows scored in one block."""
    from sparkclean.sim import knn

    rng = np.random.RandomState(41)
    s = knn._BLOCK_CELLS // 2048 + 52  # > 2048 rows: more than one block
    m = np.round(rng.randn(s, 4), 1)  # coarse values: many distance ties
    ids = rng.permutation(s).astype(np.int64)
    # band 2 of 3: a pair sharing band 0 or 1 belongs to that band's bucket
    codes = rng.randint(0, 3, (s, 3))
    for metric, band in (("euclidean", 0), ("cosine", 0), ("euclidean", 2)):
        blocked = knn._bucket_topk(ids, m, codes, band, 10, 4, metric)
        with monkeypatch.context() as mp:
            mp.setattr(knn, "_BLOCK_CELLS", s * s)
            whole = knn._bucket_topk(ids, m, codes, band, 10, 4, metric)
        if band == 0:
            assert len(blocked[0]) == s * 10
        else:
            pos = np.argsort(ids)  # row of each id (ids are 0..s-1)
            q, n = codes[pos[blocked[0]]], codes[pos[blocked[1]]]
            assert not (q[:, :2] == n[:, :2]).any()
        for x, y in zip(blocked, whole):
            np.testing.assert_array_equal(x, y)
