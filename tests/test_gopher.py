"""Gopher repetition filters: engine parity (Spark Arrow kernel vs
DuckDB), kernel twins, threshold semantics, and plan-shape guards."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkclean.text import gopher as G

DOCS = [
    (0, "the cat sat on the mat the cat sat on the mat the cat sat on the mat"),
    (1, "all unique words here today friend ocean river mountain valley"),
    (2, None),
    (3, ""),
    (4, "a a a a a a a a a a"),
    (5, "line one\nline two\nline one\nline three\n\npara two\n\npara two"),
    (6, "x"),
    (7, "word word word tail"),
    (8, "  leading and trailing spaces  "),
    (9, "one\ntwo\nthree\nfour"),
    # non-ASCII case mapping: dotted capital I, final sigma, the Kelvin
    # sign, ligatures, fullwidth letters and the long s
    (10, "İstanbul İSTANBUL straße STRASSE"),
    (11, "ΣΊΣΥΦΟΣ σίσυφος Kelvin \u212a ﬁne ﬀ"),
    (12, "Ａｂｃｄｅ ＡＢＣＤＥ abcde"),
    (13, "ſtop ſtop long s"),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id: long, text: string")


def _oracle_rows():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    return {r[0]: r[1:] for r in con.sql(G.gopher_repetition_sql("documents")).fetchall()}


def test_spark_matches_duckdb(spark):
    want = _oracle_rows()
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in G.gopher_repetition(_docs_df(spark)).collect()
    }
    assert got == want


def test_python_kernel_matches_oracle():
    want = _oracle_rows()
    for doc_id, text in DOCS:
        f = G.gopher_features_py(text)
        vals = tuple(round(f[k], 6) for k in G.FEATURES) + (G.gopher_keep_py(f),)
        assert vals == want[doc_id], f"doc {doc_id}"


def test_feature_values_spot_checks():
    # 10x the word "a": top 2-gram "a a" occurs 9 times, 3 chars -> capped
    f = G.gopher_features_py("a a a a a a a a a a")
    assert f["top_2gram_char_frac"] == 1.0
    assert not G.gopher_keep_py(f)
    # duplicated line: 4 lines, "line one" twice -> 1 repeat / 4 lines
    f = G.gopher_features_py("line one\nline two\nline one\nline three")
    assert f["dup_line_frac"] == pytest.approx(0.25)
    assert f["dup_line_char_frac"] == pytest.approx(8 / 37)
    # clean prose keeps (long enough that the single occurrence of the
    # top 2-gram is a small char fraction — like Gopher, the repetition
    # rules assume the min-word-count rule has already run; rules.py's
    # word_count_col carries that gate)
    clean = (
        "every sentence in this paragraph keeps introducing fresh words so "
        "no particular bigram or trigram can dominate the character budget "
        "and the repetition fractions all stay comfortably under their "
        "published thresholds for ordinary natural language documents"
    )
    assert G.gopher_keep_py(G.gopher_features_py(clean))
    # null/empty -> all zero, keep
    assert G.gopher_features_py(None) == dict.fromkeys(G.FEATURES, 0.0)
    assert G.gopher_keep_py(G.gopher_features_py(""))


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet="abc \n\t", max_size=80))
def test_kernel_fractions_bounded_and_consistent(text):
    f = G.gopher_features_py(text)
    for k, v in f.items():
        assert 0.0 <= v <= 1.0, k
    # repeating the doc (self-concatenation with a separator word) never
    # DECREASES the top-2gram signal's numerator class; sanity: fractions
    # remain defined and keep() is boolean
    assert isinstance(G.gopher_keep_py(f), bool)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab c\n\t.", max_size=40), min_size=0, max_size=8
    )
)
def test_batch_matches_scalar_kernel(batch_texts):
    import pandas as pd

    got = G._gopher_batch(pd.Series(batch_texts, dtype=object))
    for i, t in enumerate(batch_texts):
        want = G.gopher_features_py(t)
        for k in G.FEATURES:
            assert got.iloc[i][k] == want[k], (k, t)


def test_batch_pairing_collision_regression():
    """Frozen fixture where the original pairing multiplier (previous
    level's GRAM-unique count instead of the token-unique count) merged
    two distinct n-grams and diverged from the scalar kernel.  The fix
    keys every level as gram_id * token_unique_count + token_code, which
    is injective by induction."""
    import pandas as pd

    docs = ["cc", "aa hh cc dd gg cc"]
    got = G._gopher_batch(pd.Series(docs, dtype=object))
    for i, t in enumerate(docs):
        want = G.gopher_features_py(t)
        for k in G.FEATURES:
            assert got.iloc[i][k] == want[k], (k, t)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=0,
            max_size=7,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_batch_matches_scalar_on_tiny_doc_batches(docs):
    """Batches of many tiny documents from a small vocabulary sit at the
    token-uniques ≈ gram-uniques boundary where pairing-collision bugs
    live (see the frozen regression above)."""
    import pandas as pd

    got = G._gopher_batch(pd.Series(docs, dtype=object))
    for i, t in enumerate(docs):
        want = G.gopher_features_py(t)
        for k in G.FEATURES:
            assert got.iloc[i][k] == want[k], (k, t)


def test_gate_thresholds_are_gopher_table_a1():
    assert G.GOPHER_THRESHOLDS["top_2gram_char_frac"] == 0.20
    assert G.GOPHER_THRESHOLDS["top_4gram_char_frac"] == 0.16
    assert G.GOPHER_THRESHOLDS["dup_10gram_char_frac"] == 0.10
    assert G.GOPHER_THRESHOLDS["dup_line_frac"] == 0.30
    assert len(G.FEATURES) == 13


def test_plan_shape(spark):
    df = _docs_df(spark)
    # production route: ONE Arrow stage, ZERO shuffles
    arrow = (
        G.gopher_repetition(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert arrow.count("ArrowEvalPython") == 1
    assert "Exchange" not in arrow
