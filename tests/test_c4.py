"""C4 line-level cleaning: engine parity, kernel twins, rule semantics,
and plan shape."""

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkclean.text import c4 as C

DOCS = [
    (
        0,
        "This is a good first sentence line.\nshort line\n"
        "Another proper long sentence here!\n"
        "And a third full sentence for the page?\n"
        "no terminal punct line five words",
    ),
    (1, "All one line with no newline but a full stop at the end of five words."),
    (2, None),
    (3, ""),
    (
        4,
        "Uses javascript for the menu bar.\nA perfectly good long sentence one.\n"
        "A perfectly good long sentence two.\nA perfectly good long sentence three.",
    ),
    (
        5,
        "Contains lorem ipsum filler text here.\nGood sentence number two right here.\n"
        "Good sentence number three right here.\nGood sentence number four right here.",
    ),
    (
        6,
        "Brace { in page.\nGood long sentence number two here.\n"
        "Good long sentence number three here.\nGood long sentence number four here.",
    ),
    (
        7,
        'Quoted line ends with a quote mark "\nAnd this one is a real sentence.\n'
        "So is this other one right here.\nAnd a fourth to clear the bar.",
    ),
    (
        8,
        "badword appears in this page sadly.\nGood long sentence number two here.\n"
        "Good long sentence number three here.\nGood long sentence four right here.",
    ),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id: long, text: string")


def _oracle_rows():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    return {r[0]: r[1:] for r in con.sql(C.c4_line_clean_sql("documents")).fetchall()}


def test_spark_matches_duckdb(spark):
    want = _oracle_rows()
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in C.c4_line_clean(_docs_df(spark)).collect()
    }
    assert got == want


def test_python_kernel_matches_oracle():
    want = _oracle_rows()
    for doc_id, text in DOCS:
        cleaned, nk = C.c4_clean_py(text)
        vals = (
            cleaned,
            nk,
            len(C._SENT_RE.findall(cleaned)),
            C.c4_keep_py(text, cleaned),
        )
        assert vals == want[doc_id], f"doc {doc_id}"


def test_rule_semantics():
    want = _oracle_rows()
    # line rules: doc 0 keeps exactly the three sentence lines
    assert want[0][1] == 3 and want[0][3] is True
    # javascript drops the LINE, not the page
    assert "javascript" not in want[4][0] and want[4][3] is True
    # page-level vetoes: lorem ipsum / brace / toxicity term
    assert want[5][3] is False and want[6][3] is False and want[8][3] is False
    # fewer than MIN_SENTENCES after cleaning drops the page
    assert want[1][2] == 1 and want[1][3] is False
    # null / empty clean to '' and drop
    assert want[2][0] == "" and want[2][3] is False
    assert want[3][0] == "" and want[3][3] is False
    # end-quote counts as terminal punctuation for the LINE but not as a
    # sentence terminator
    assert want[7][1] == 4 and want[7][2] == 3 and want[7][3] is True


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet="aj vsc.!?\"{\n\t", max_size=100))
def test_kernel_is_total_and_consistent(text):
    cleaned, nk = C.c4_clean_py(text)
    assert nk == (cleaned.count("\n") + 1 if cleaned else 0)
    for ln in cleaned.split("\n") if cleaned else []:
        assert ln[-1:] in C._TERM_SET
        assert len(ln.split()) >= 0  # kept lines are verbatim input lines
        assert ln in text.split("\n")
    assert isinstance(C.c4_keep_py(text, cleaned), bool)


SPAN_DOCS = [
    (0, "One common sentence here. Two common sentence here! Three common sentence here? Unique tail zero"),
    (1, "One common sentence here. Two common sentence here! Three common sentence here? Unique tail one"),
    (2, "Prefix two. One common sentence here. Two common sentence here! Three common sentence here? And more two."),
    (3, "No terminators at all just words"),
    (4, None),
    (5, ""),
    (6, "Solo. Duo! Trio? Quart."),
    (7, "a. b. c. a. b. c. a. b. c."),
    (8, "a. b. c. a. b. c. a. b. c."),
]


def test_span_dedup_matches_duckdb(spark):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", SPAN_DOCS)
    want = {r[0]: r[1:] for r in con.sql(C.c4_span_dedup_sql("documents")).fetchall()}
    df = spark.createDataFrame(SPAN_DOCS, "doc_id: long, text: string")
    got = {r["doc_id"]: tuple(r)[1:] for r in C.c4_span_dedup(df).collect()}
    assert got == want


def test_span_dedup_semantics(spark):
    df = spark.createDataFrame(SPAN_DOCS, "doc_id: long, text: string")
    out = {r["doc_id"]: (r["deduped_text"], r["n_sentences_removed"])
           for r in C.c4_span_dedup(df).collect()}
    # the global-min occurrence keeps its span; the exact copy loses it
    assert out[0][0].startswith("One common sentence here.") and out[0][1] == 0
    assert out[1] == (" Unique tail one", 3)
    # span matching is VERBATIM: doc 2's embedded copy starts with a
    # leading space (it follows "Prefix two."), so it is a DIFFERENT
    # span string and survives — the documented exact-substring
    # semantics, same in both engines
    assert out[2] == (SPAN_DOCS[2][1], 0)
    # no terminators -> whole text is the span-exempt trailing fragment
    assert out[3] == ("No terminators at all just words", 0)
    assert out[4] == ("", 0) and out[5] == ("", 0)
    # a unique doc is untouched
    assert out[6] == ("Solo. Duo! Trio? Quart.", 0)
    # overlapping in-document repeats: the keeper prefix survives, the
    # whole-doc duplicate empties
    assert out[7] == ("a. b. c. a.", 5)
    assert out[8] == ("", 9)


def test_span_dedup_identity_without_duplicates(spark):
    rows = [(i, f"Alpha {i} one. Beta {i} two! Gamma {i} three? tail {i}")
            for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: (r["deduped_text"], r["n_sentences_removed"])
           for r in C.c4_span_dedup(df).collect()}
    for i, text in rows:
        assert out[i] == (text, 0)


def test_document_quality_report(spark):
    from sparkclean.text import report as R

    # every word unique -> no repetition rule can fire
    filler = " ".join(
        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}." for i in range(20)
    )
    rows = [
        (0, "short doc"),                       # too_few_words
        (1, ("the same five word line. " * 12) + "{"),  # brace -> c4_page
        (2, ("one two three four five. " * 11).rstrip()),  # repetitive -> gopher
        (3, filler),                             # kept
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["rule"]: r["n_docs"] for r in R.document_quality_report(df).collect()}
    assert out == {
        "too_few_words": 1,
        "c4_page": 1,
        "gopher_repetition": 1,
        "kept": 1,
    }
    # twin agreement on the same fixture
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = dict(con.sql(R.document_quality_report_sql("documents")).fetchall())
    assert out == want


def test_plan_shape(spark):
    df = _docs_df(spark)
    arrow = (
        C.c4_line_clean(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert arrow.count("ArrowEvalPython") == 1
    assert "Exchange" not in arrow
    span = (
        C.c4_span_dedup(spark.createDataFrame(SPAN_DOCS, "doc_id: long, text: string"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in span


def test_document_prep_pipeline_composition(spark):
    """End-to-end prep composition: survivors are packed exactly once,
    per-source cap holds, and the twin agrees on a sentence-ful fixture."""
    import duckdb

    from sparkclean.text.report import (
        document_prep_pipeline,
        document_prep_pipeline_sql,
    )

    rows = []
    for i in range(30):
        # three 6-word sentences -> passes C4 line + page gates
        body = " ".join(f"w{i}x{j} alpha beta gamma delta end." for j in range(3))
        rows.append((i, body, f"s{i % 2}"))
    rows.append((30, "no terminal punctuation here at all", "s0"))  # C4-dropped
    rows.append((31, None, "s1"))
    df = spark.createDataFrame(rows, "doc_id: long, text: string, source: string")
    out = document_prep_pipeline(df).collect()
    ids = [r["doc_id"] for r in out]
    assert 30 not in ids and 31 not in ids
    assert len(ids) == len(set(ids))
    # cap=10 per source over the two sources
    assert len(ids) <= 20
    offs = sorted((r["stream_offset"], r["n_tokens"]) for r in out)
    run = 0
    for off, n in offs:  # offsets form one contiguous packed stream
        assert off == run
        run += n
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, source VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    want = sorted(
        tuple(r) for r in con.sql(document_prep_pipeline_sql("documents")).fetchall()
    )
    assert sorted(tuple(r) for r in out) == want
