"""C4-style line-level cleaning — an Arrow kernel with a DuckDB SQL
twin.

Implements the heuristic cleaning stage of C4 (Raffel et al. 2020,
"Exploring the Limits of Transfer Learning with a Unified Text-to-Text
Transformer", §2.2 — public), the companion of the Gopher repetition
rules in :mod:`sparkclean.text.gopher`:

Line level (a line is kept only if ALL hold):

* ends in a terminal punctuation mark (``.``, ``!``, ``?``, ``"``) —
  checked on the raw line, no stripping;
* has at least ``MIN_WORDS_PER_LINE`` (5) words under the engine-exact
  tokenizer (:func:`sparkclean.text.shared.words_py` semantics);
* does not contain the word "javascript" (case-insensitive substring).

Page level (``keep`` is true only if ALL hold):

* the CLEANED text contains at least ``MIN_SENTENCES`` (3) sentence
  terminators (count of ``.``/``!``/``?`` — C4 counts sentences; the
  terminator count is the deterministic cross-engine proxy, documented);
* the original text does not contain "lorem ipsum" (case-insensitive);
* the original text does not contain a curly brace ``{``;
* the original text contains no term from the shared toxicity lexicon
  (:data:`sparkclean.text.shared.TOXICITY_LEXICON` stands in for C4's
  "List of Dirty, Naughty, Obscene or Otherwise Bad Words" — swap the
  lexicon for production, same machinery as text.scrub).

Output per document: the cleaned text (kept lines joined with ``\\n``),
kept-line count, sentence-terminator count, and the keep flag.

Scale shape: ONE Arrow pandas UDF pass — no shuffle, no join,
partitioning inherited from the scan (same plan shape as gopher;
plan-asserted).

Reference behaviour note: cleanlab has no line-cleaning operator; this
module belongs to the engine-specific text-analysis additions
(SURVEY.md §2.12) next to rules/scrub/gopher.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .shared import (
    TOXICITY_LEXICON,
    ascii_lower_col,
    ascii_lower_py,
    ascii_lower_sql,
    words_py,
    words_sql,
)

MIN_WORDS_PER_LINE = 5
MIN_SENTENCES = 3
TERMINALS = (".", "!", "?", '"')


def c4_line_clean(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, cleaned, n_lines_kept, n_sentences, keep) per input row.
    Null text cleans to the empty string and is dropped (0 sentences)."""
    feat = with_c4_clean(df, text_col, "_c4")
    cleaned = F.col("_c4.cleaned")
    n_sent = (F.size(F.split(cleaned, r"[.!?]", -1)) - 1).cast("long")
    raw_lower = ascii_lower_col(F.coalesce(F.col(text_col), F.lit("")))
    page_ok = (
        (n_sent >= MIN_SENTENCES)
        & ~F.contains(raw_lower, F.lit("lorem ipsum"))
        & ~F.contains(raw_lower, F.lit("{"))
    )
    for w in TOXICITY_LEXICON:
        page_ok = page_ok & ~F.contains(raw_lower, F.lit(w))
    return feat.select(
        id_col,
        cleaned.alias("cleaned"),
        F.col("_c4.n_lines_kept").cast("long").alias("n_lines_kept"),
        n_sent.alias("n_sentences"),
        page_ok.alias("keep"),
    )


def c4_line_clean_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`c4_line_clean`."""
    terms = ", ".join(f"'{t}'" for t in TERMINALS)
    bad = " AND ".join(
        f"NOT contains(raw_lower, '{w}')" for w in TOXICITY_LEXICON
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT {id_col} AS id,
         {ascii_lower_sql(f"coalesce({text_col}, '')")} AS raw_lower,
         list_filter(
             string_split(coalesce({text_col}, ''), chr(10)),
             x -> right(x, 1) IN ({terms})
                  AND len({words_sql('x')}) >= {MIN_WORDS_PER_LINE}
                  AND NOT contains({ascii_lower_sql('x')}, 'javascript')
         ) AS kept
  FROM {table}
), feat AS (
  SELECT id, raw_lower,
         -- DuckDB array_to_string([]) is NULL, not '' — coalesce to
         -- match Spark's array_join and the Python kernel
         coalesce(array_to_string(kept, chr(10)), '') AS cleaned,
         len(kept)::BIGINT AS n_lines_kept
  FROM base
)
SELECT id AS {id_col}, cleaned, n_lines_kept,
       (len(string_split_regex(cleaned, '[.!?]')) - 1)::BIGINT AS n_sentences,
       ((len(string_split_regex(cleaned, '[.!?]')) - 1) >= {MIN_SENTENCES}
        AND NOT contains(raw_lower, 'lorem ipsum')
        AND NOT contains(raw_lower, '{{')
        AND {bad}) AS keep
FROM feat
"""


# ------------------------------------------ corpus-level span dedup

#: a sentence = shortest run ending in a terminator; the trailing
#: fragment without a terminator belongs to no span and is always kept.
SENTENCE_RE = "[^.!?]*[.!?]"
SPAN = 3  # C4 deduplicates three-sentence spans


def c4_span_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4's corpus-level rule: "we discarded all but one of any
    three-sentence span occurring more than once in the data set"
    (Raffel et al. 2020 §2.2).  Returns (id, deduped_text,
    n_sentences_removed) for EVERY input row.

    Semantics (deterministic where the paper leaves choices open):
    sentences are the verbatim ``[^.!?]*[.!?]`` matches (terminator
    attached, trailing fragment span-exempt and always kept); every
    occurrence of a duplicated 3-sentence span is removed EXCEPT the
    global minimum under the (id, position) total order (the reference
    keeps a random occurrence); a sentence is dropped if ANY removed
    span covers it; the rebuilt text is the concatenation of surviving
    sentences (verbatim contiguous substrings) plus the trailing
    fragment.  Span identity is the shared 60-bit md5
    (:func:`sparkclean.text.shared.hash60_col`) of the concatenated
    span — the same hash-only matching as the reference's public
    implementation; at 10^12 spans a birthday collision can merge two
    distinct spans (documented, like the reference).

    Scale shape: spans never leave their document (array ops per row);
    only (id, pos, hash) triples shuffle — one groupBy(h) for counts +
    keepers (map-side partial agg), one join back keyed by h (AQE
    handles hot-boilerplate span skew), one distinct + one anti-join
    keyed by (id, pos), one final groupBy(id) rebuild.  No all-pairs
    stage anywhere."""
    from .shared import hash60_col

    empty = F.array().cast("array<string>")
    base = (
        df.select(id_col, text_col)
        .withColumn(
            "_sp_sents",
            F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")), F.lit(SENTENCE_RE), 0
            ),
        )
        .withColumn(
            "_sp_total",
            F.aggregate(
                F.col("_sp_sents"),
                F.lit(0).cast("long"),
                lambda acc, x: acc + F.length(x),
            ),
        )
        .withColumn(
            "_sp_tail",
            F.coalesce(F.col(text_col), F.lit("")).substr(
                (F.col("_sp_total") + 1).cast("int"),
                F.length(F.coalesce(F.col(text_col), F.lit(""))),
            ),
        )
    )
    sents = base.select(
        id_col, F.posexplode_outer("_sp_sents").alias("_pos0", "_s")
    ).where(F.col("_s").isNotNull())
    m = F.size(F.col("_sp_sents")) - (SPAN - 1)

    def _span_at(i: Column) -> Column:
        parts = [F.element_at(F.col("_sp_sents"), i + k) for k in range(SPAN)]
        return F.struct(i.alias("pos"), F.concat(*parts).alias("span"))

    occ = (
        base.select(
            id_col,
            F.explode_outer(
                F.when(
                    m >= 1, F.transform(F.sequence(F.lit(1), m), _span_at)
                ).otherwise(
                    F.array().cast("array<struct<pos:int,span:string>>")
                )
            ).alias("_sp"),
        )
        .where(F.col("_sp").isNotNull())
        .select(
            id_col,
            F.col("_sp.pos").alias("_pos"),
            hash60_col(F.col("_sp.span")).alias("_h"),
        )
    )
    stats = occ.groupBy("_h").agg(
        F.count("*").alias("_cnt"),
        F.min(F.struct(F.col(id_col).alias("kid"), F.col("_pos").alias("kpos"))).alias(
            "_keeper"
        ),
    )
    removed = (
        occ.join(stats, "_h")
        .where(
            (F.col("_cnt") > 1)
            & ~(
                (F.col(id_col) == F.col("_keeper.kid"))
                & (F.col("_pos") == F.col("_keeper.kpos"))
            )
        )
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + (SPAN - 1))
            ).alias("_rpos"),
        )
        .distinct()
    )
    kept = sents.select(
        id_col, (F.col("_pos0") + 1).alias("_pos"), "_s"
    ).join(
        removed.withColumnRenamed(id_col, "_rid"),
        (F.col(id_col) == F.col("_rid")) & (F.col("_pos") == F.col("_rpos")),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_s")))
                ),
                lambda x: x["_s"],
            ),
            "",
        ).alias("_kept_txt"),
        F.count("*").alias("_kept_n"),
    )
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.concat(
                F.coalesce(F.col("_kept_txt"), F.lit("")), F.col("_sp_tail")
            ).alias("deduped_text"),
            (
                F.size("_sp_sents") - F.coalesce(F.col("_kept_n"), F.lit(0))
            ).cast("long").alias("n_sentences_removed"),
        )
    )


def c4_span_dedup_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`c4_span_dedup`.  ``table`` may be any table
    expression (e.g. a parenthesised subquery with an alias)."""
    from .shared import hash60_sql

    span_expr = " || ".join(f"sents[i+{k}]" for k in range(SPAN))
    return f"""
WITH sbase AS MATERIALIZED (
  SELECT {id_col} AS id, coalesce({text_col}, '') AS txt,
         regexp_extract_all(coalesce({text_col}, ''), '{SENTENCE_RE}') AS sents
  FROM {table}
), stotal AS (
  SELECT id, txt, sents,
         coalesce(list_sum(list_transform(sents, x -> length(x))), 0) AS total
  FROM sbase
), sent AS (
  SELECT id, i AS pos, sents[i] AS s
  FROM sbase, unnest(range(1, len(sents) + 1)) t(i)
), occ AS (
  SELECT id, i AS pos, {hash60_sql(f"({span_expr})")} AS h
  FROM sbase, unnest(range(1, greatest(len(sents) - {SPAN - 1}, 0) + 1)) t(i)
), stats AS (
  SELECT h, count(*) AS cnt, min({{'kid': id, 'kpos': pos}}) AS keeper
  FROM occ GROUP BY h
), removed AS (
  SELECT DISTINCT o.id, o.pos + k AS pos
  FROM occ o JOIN stats st USING (h)
  CROSS JOIN unnest([{", ".join(str(k) for k in range(SPAN))}]) u(k)
  WHERE st.cnt > 1 AND NOT (o.id = st.keeper.kid AND o.pos = st.keeper.kpos)
), kept AS (
  SELECT s.id, s.pos, s.s
  FROM sent s ANTI JOIN removed r ON r.id = s.id AND r.pos = s.pos
), rebuilt AS (
  SELECT id, string_agg(s, '' ORDER BY pos) AS kept_txt, count(*) AS kept_n
  FROM kept GROUP BY id
)
SELECT b.id AS {id_col},
       coalesce(r.kept_txt, '') || substr(b.txt, (b.total + 1)::INT) AS deduped_text,
       (len(b.sents) - coalesce(r.kept_n, 0))::BIGINT AS n_sentences_removed
FROM stotal b LEFT JOIN rebuilt r ON r.id = b.id
"""


# ------------------------------------------------- Arrow production path

_SENT_RE = re.compile(r"[.!?]")
_TERM_SET = frozenset(TERMINALS)


def c4_clean_py(text: str | None) -> tuple[str, int]:
    """(cleaned, n_lines_kept) for ONE document — the kernel behind
    :func:`with_c4_clean`, value-identical to the DuckDB twin."""
    if text is None:
        text = ""
    kept = [
        ln
        for ln in text.split("\n")
        if ln[-1:] in _TERM_SET
        and len(words_py(ln)) >= MIN_WORDS_PER_LINE
        and "javascript" not in ascii_lower_py(ln)
    ]
    return "\n".join(kept), len(kept)


def c4_keep_py(text: str | None, cleaned: str) -> bool:
    raw_lower = ascii_lower_py(text or "")
    return (
        len(_SENT_RE.findall(cleaned)) >= MIN_SENTENCES
        and "lorem ipsum" not in raw_lower
        and "{" not in raw_lower
        and not any(w in raw_lower for w in TOXICITY_LEXICON)
    )


def with_c4_clean(
    df: DataFrame, text_col: str = "text", out_col: str = "c4"
) -> DataFrame:
    """Production path: one Arrow batch pass (struct of cleaned text and
    kept-line count); sentence count and page flags are cheap native
    expressions layered on top by :func:`c4_line_clean`."""

    @pandas_udf("struct<cleaned: string, n_lines_kept: long>")
    def _clean(texts: pd.Series) -> pd.DataFrame:
        rows = [c4_clean_py(t) for t in texts]
        return pd.DataFrame(rows, columns=["cleaned", "n_lines_kept"])

    return df.withColumn(out_col, _clean(F.col(text_col)))
