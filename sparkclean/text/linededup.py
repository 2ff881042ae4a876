"""Within-document exact line deduplication — the removal counterpart
to the Gopher repetition DETECTORS (text/gopher.py).

Published recipe: RefinedWeb (Penedo et al. 2023) and Dolma both
rewrite documents by dropping repeated lines/paragraphs, keeping the
FIRST occurrence of each exact line and preserving the order of the
survivors.  Output per document: the rewritten text (kept lines joined
with ``\\n``) and the number of lines removed.

Scale shape: entirely row-local — one Arrow batch pass (set-based
first-occurrence scan, O(lines) per doc), zero exchanges, partitioning
inherited from the scan (plan-asserted).  The DuckDB twin keeps a line
when ``list_position`` (its first index) equals its own index.

cleanlab has no rewrite operators; this module belongs to the
engine-specific text additions (SURVEY.md §2.12) next to c4/gopher.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dedup_lines_py(text: str | None) -> tuple[str, int]:
    """(deduped, n_lines_removed) for ONE document — value-identical to
    the DuckDB twin.  Empty lines deduplicate like any other exact line
    (documented choice; recipes differ here)."""
    lines = (text or "").split("\n")
    seen: set[str] = set()
    kept: list[str] = []
    for ln in lines:
        if ln not in seen:
            seen.add(ln)
            kept.append(ln)
    return "\n".join(kept), len(lines) - len(kept)


def dedup_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, deduped_text, n_lines_removed) for every input row; null
    text rewrites to the empty string with zero removals."""

    @pandas_udf("struct<deduped_text: string, n_lines_removed: long>")
    def _dedup(texts: pd.Series) -> pd.DataFrame:
        rows = [dedup_lines_py(t) for t in texts]
        return pd.DataFrame(rows, columns=["deduped_text", "n_lines_removed"])

    return df.select(id_col, _dedup(F.col(text_col)).alias("_dl")).select(
        id_col, "_dl.deduped_text", "_dl.n_lines_removed"
    )


def dedup_lines_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`dedup_lines`.  ``table`` may be any table
    expression (e.g. a parenthesised subquery with an alias)."""
    return f"""
WITH dlbase AS MATERIALIZED (
  SELECT {id_col} AS id,
         string_split(coalesce({text_col}, ''), chr(10)) AS lines
  FROM {table}
), dlkept AS (
  SELECT id, lines,
         list_filter(lines, (x, i) -> list_position(lines, x) = i) AS kept
  FROM dlbase
)
SELECT id AS {id_col},
       coalesce(array_to_string(kept, chr(10)), '') AS deduped_text,
       (len(lines) - len(kept))::BIGINT AS n_lines_removed
FROM dlkept
"""
