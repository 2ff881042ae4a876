"""dedup_lines: three-route parity (Arrow kernel / scalar reference /
DuckDB) and the zero-exchange production plan."""

import duckdb

from sparkclean.text import linededup as L

DOCS = [
    (0, "keep me\ndrop dup\ndrop dup\nkeep me too\nkeep me"),
    (1, "only one line"),
    (2, ""),
    (3, None),
    (4, "\n\na\n\na\n"),  # repeated empty lines dedup like any line
    (5, "x\nx\nx\nx"),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id: long, text: string")


def test_kernel_semantics():
    assert L.dedup_lines_py(DOCS[0][1]) == (
        "keep me\ndrop dup\nkeep me too",
        2,
    )
    assert L.dedup_lines_py("") == ("", 0)
    assert L.dedup_lines_py(None) == ("", 0)
    assert L.dedup_lines_py("\n\na\n\na\n") == ("\na", 4)
    assert L.dedup_lines_py("x\nx\nx\nx") == ("x", 3)


def test_three_route_parity(spark):
    df = _docs_df(spark)
    arrow = sorted(tuple(r) for r in L.dedup_lines(df).collect())
    assert arrow == sorted((i, *L.dedup_lines_py(t)) for i, t in DOCS)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    want = sorted(
        tuple(r) for r in con.sql(L.dedup_lines_sql("documents")).fetchall()
    )
    assert arrow == want


def test_production_plan_is_one_arrow_stage(spark):
    plan = (
        L.dedup_lines(_docs_df(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
