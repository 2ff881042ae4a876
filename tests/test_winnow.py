"""Winnowing fingerprints: engine parity, kernel parity, the winnowing
coverage guarantee, near-dup pair shape, and plan-shape guards."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparkclean.text import winnow as W

DOCS = [
    (0, "The quick brown fox jumps over the lazy dog near the river bank."),
    (1, "The quick brown fox jumps over the lazy dog near the river bend."),
    (2, "Completely different content with zero overlap whatsoever here!!"),
    (3, "shrt"),          # norm shorter than K -> no fingerprints
    (4, ""),               # empty
    (5, None),             # null
    (6, "!!! ??? ,,,"),    # no alnum chars at all
    (7, "abcde"),          # exactly K chars -> one k-gram, one fingerprint
    (8, "abcdefg"),        # 1 <= m < W -> single min over all hashes
    # non-ASCII case mapping: dotted capital I, final sigma, the Kelvin
    # sign, ligatures, fullwidth letters and the long s
    (9, "İstanbul İSTANBUL straße STRASSE"),
    (10, "ΣΊΣΥΦΟΣ σίσυφος Kelvin \u212a ﬁne ﬀ"),
    (11, "Ａｂｃｄｅ ＡＢＣＤＥ abcde"),
    (12, "ſtop ſtop long s"),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id: long, text: string")


def _oracle_rows():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    return {tuple(r) for r in con.sql(W.winnow_fingerprints_sql("documents")).fetchall()}


def test_spark_matches_duckdb(spark):
    want = _oracle_rows()
    got = {
        (r["id"], r["fp"]) for r in W.winnow_fingerprints(_docs_df(spark)).collect()
    }
    assert got == want and len(got) > 0
    # every non-ASCII row normalises to >= K chars and fingerprints
    assert {9, 10, 11, 12} <= {doc_id for doc_id, _ in got}


def test_python_kernels_match_duckdb():
    by_id = {}
    for doc_id, fp in _oracle_rows():
        by_id.setdefault(doc_id, []).append(fp)
    for doc_id, text in DOCS:
        want = sorted(by_id.get(doc_id, []))
        assert W.winnow_fps_py(text) == want, f"scalar kernel, doc {doc_id}"
    import pandas as pd

    batch = W._winnow_batch(pd.Series([t for _, t in DOCS], dtype=object))
    for i, (doc_id, _) in enumerate(DOCS):
        assert list(batch.iloc[i]) == sorted(by_id.get(doc_id, [])), (
            f"batch kernel, doc {doc_id}"
        )


def test_arrow_production_path(spark):
    out = {
        r["doc_id"]: list(r["winnow_fps"])
        for r in W.with_winnow_fps(_docs_df(spark)).collect()
    }
    for doc_id, text in DOCS:
        assert out[doc_id] == W.winnow_fps_py(text)


@settings(max_examples=60, deadline=None)
@given(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=120)
)
def test_batch_matches_scalar_kernel(text):
    import pandas as pd

    assert list(W._winnow_batch(pd.Series([text], dtype=object)).iloc[0]) == (
        W.winnow_fps_py(text)
    )


@settings(max_examples=40, deadline=None)
@given(
    st.text(alphabet="ab 1", min_size=W.WINNOW_K + W.WINNOW_W - 1, max_size=60),
    st.text(alphabet="xyz", max_size=20),
    st.text(alphabet="pqr", max_size=20),
)
def test_shared_substring_guarantee(common, pre, post):
    """Winnowing's coverage guarantee: any shared normalised substring of
    length >= W + K - 1 yields at least one shared fingerprint."""
    norm_common = "".join(c for c in common.lower() if c.isalnum())
    if len(norm_common) < W.WINNOW_K + W.WINNOW_W - 1:
        return
    a = W.winnow_fps_py(pre + common)
    b = W.winnow_fps_py(common + post)
    assert set(a) & set(b)


def test_tail_window_and_dedup():
    # 7 chars -> 3 hashes -> fewer than W: one fingerprint (the min)
    assert len(W.winnow_fps_py("abcdefg")) == 1
    # periodic text: few distinct k-grams -> dedup collapses heavily
    fps = W.winnow_fps_py("ababab" * 40)
    assert 1 <= len(fps) <= 4


def test_near_duplicates_finds_planted_pair(spark):
    df = _docs_df(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["winnow_jaccard"]
        for r in W.winnow_near_duplicates(df, threshold=0.3, max_df=9).collect()
    }
    assert (0, 1) in pairs  # one-word edit
    assert all(a != 2 and b != 2 for a, b in pairs)  # unrelated doc stays out
    exact = W.winnow_near_duplicates(
        spark.createDataFrame(
            [(1, "the same text appears twice"), (2, "the same text appears twice")],
            "doc_id: long, text: string",
        ),
        threshold=0.99,
        max_df=9,
    ).collect()
    assert len(exact) == 1 and exact[0]["winnow_jaccard"] == pytest.approx(1.0)


def test_max_df_guard_drops_boilerplate_pairs(spark):
    """Fingerprints with document frequency > max_df (boilerplate AND the
    join-key hot spots) must be dropped before the self-join: docs that
    share ONLY the hot boilerplate must not pair, while a genuine
    near-dup pair (unique shared content) must survive the guard."""
    boiler = "this footer sentence appears verbatim in every single document"
    rows = [(i, f"unique payload number {i} talks about topic {i * 7} " + boiler)
            for i in range(12)]
    rows.append((100, "an entirely distinctive essay on winnowing fingerprints for scale"))
    rows.append((101, "an entirely distinctive essay on winnowing fingerprints at scale"))
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in W.winnow_near_duplicates(df, threshold=0.3, max_df=9).collect()
    }
    assert (100, 101) in pairs  # genuine near-dup survives
    assert not any(a < 100 and b < 100 for a, b in pairs), (
        "boilerplate-only overlap must not produce pairs once its "
        "fingerprints exceed max_df"
    )
    # with the guard relaxed the boilerplate pairs DO appear — the guard
    # (not fingerprint sparsity) is what removed them above
    loose = {
        (r["id_a"], r["id_b"])
        for r in W.winnow_near_duplicates(df, threshold=0.3, max_df=1000).collect()
    }
    assert any(a < 100 and b < 100 for a, b in loose)


def test_batch_kernel_long_row_split():
    """Rows longer than _BATCH_PAD_CAP route to the per-row kernel so one
    outlier document cannot inflate the padded batch matrix; values stay
    identical to the scalar kernel for every row."""
    import pandas as pd

    long_text = ("winnow kernel long document segment %d " * 400) % tuple(range(400))
    assert len(long_text) > W._BATCH_PAD_CAP
    batch = pd.Series(
        ["short one", long_text, None, "", "another short document here"],
        dtype=object,
    )
    got = W._winnow_batch(batch)
    for i, t in enumerate(batch):
        assert list(got.iloc[i]) == W.winnow_fps_py(t), f"row {i}"


def test_winnow_clusters_vs_union_find(spark):
    """winnow_near_duplicate_clusters == union-find over the operator's
    own verified pair set (transitive closure, min-id rep, singletons
    preserved)."""
    df = _docs_df(spark)
    out = {
        r["doc_id"]: (r["cluster_rep"], r["cluster_size"])
        for r in W.winnow_near_duplicate_clusters(
            df, threshold=0.3, max_df=9
        ).collect()
    }
    assert len(out) == df.count()
    pairs = [
        (r["id_a"], r["id_b"])
        for r in W.winnow_near_duplicates(df, threshold=0.3, max_df=9).collect()
    ]
    assert pairs  # fixture plants at least the (0, 1) pair
    ids = sorted(out)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for i in ids:
        comps.setdefault(find(i), []).append(i)
    exp = {}
    for members in comps.values():
        rep = min(members)
        for m in members:
            exp[m] = (rep, len(members))
    assert out == exp
    assert out[1] == (0, 2)  # planted near-dup pair clusters together
    assert out[2] == (2, 1)  # unrelated doc stays a singleton


def test_plan_has_no_reinlined_chain_and_no_cartesian(spark):
    """The fingerprint plan runs the batch kernel once (one Arrow stage,
    no shuffle) and the pair plan has no all-pairs stage."""
    df = _docs_df(spark)
    plan = (
        W.winnow_fingerprints(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    pair_plan = (
        W.winnow_near_duplicates(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in pair_plan


def test_minhash_best_representative_prefers_quality_over_id(spark):
    """Keep-best policy: in a planted near-dup cluster the cleaner
    (higher alpha_ratio - repetition_ratio) document wins even with the
    HIGHER id; ties elsewhere keep singletons."""
    import duckdb

    from sparkclean.dedup.minhash import (
        near_duplicate_best_representatives,
        near_duplicate_best_representatives_sql,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        (0, base + "9999 !!!"),  # noisy copy, low id
        (1, base + "lambda"),  # clean copy, high id
        (2, "a totally different standalone document about nothing"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {
        r["doc_id"]: (r["cluster_rep"], r["cluster_size"], r["keep"])
        for r in near_duplicate_best_representatives(df, threshold=0.5).collect()
    }
    assert got[0][1] == 2 and got[1][1] == 2  # planted pair clusters
    assert got[0][0] == got[1][0] == 0  # rep is still min-id (labels)
    assert not got[0][2] and got[1][2]  # but the KEEPER is the clean doc
    assert got[2] == (2, 1, True)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.sql(
            near_duplicate_best_representatives_sql("documents", threshold=0.5)
        ).fetchall()
    )
    spark_rows = sorted(
        tuple(r)
        for r in near_duplicate_best_representatives(df, threshold=0.5).collect()
    )
    assert spark_rows == want
