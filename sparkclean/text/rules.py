"""Heuristic caption-quality rules (SURVEY.md §2.12 "Heuristic rules").

The caption features ship from text.fast (the Arrow stage); their oracle
is :func:`quality_features_sql_exprs`, the DuckDB twin.  The few Catalyst
helpers left here serve other operators: minhash's representative
quality score (alpha/repetition ratios) and the document report (word
count).

All ratios are computed on the raw string; token-level rules use
whitespace tokens.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .shared import (
    ENGLISH_STOPWORDS,
    ascii_lower_sql,
    sql_str_list,
    words_col,
    words_sql,
)


def _ratio_col(text: Column, char_class: str) -> Column:
    n = F.length(text)
    kept = F.length(F.regexp_replace(text, f"[^{char_class}]", ""))
    return F.when(n > 0, kept.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def _ratio_sql(text: str, char_class: str) -> str:
    return (
        f"CASE WHEN length({text}) > 0 THEN "
        f"length(regexp_replace({text}, '[^{char_class}]', '', 'g'))::DOUBLE / length({text}) "
        f"ELSE 0.0 END"
    )


def alpha_ratio_col(text: Column) -> Column:
    return _ratio_col(text, "A-Za-z")


def repetition_ratio_col(text: Column) -> Column:
    """1 - distinct_tokens/tokens: fraction of repeated whitespace tokens."""
    w = words_col(text)
    n = F.size(w)
    return F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(w)).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def word_count_col(text: Column) -> Column:
    return F.size(words_col(text))


# ----------------------------------------------------------- oracle SQL


def quality_features_sql_exprs(text: str) -> dict[str, str]:
    """DuckDB oracle for the eight heuristic features of
    ``text.fast.caption_features_batch`` (``n_chars`` … ``stopword_ratio``)."""
    w = words_sql(text)
    wl = words_sql(ascii_lower_sql(text))
    sw = sql_str_list(ENGLISH_STOPWORDS)
    return {
        "n_chars": f"length({text})",
        "n_words": f"len({w})",
        "digit_ratio": _ratio_sql(text, "0-9"),
        "alpha_ratio": _ratio_sql(text, "A-Za-z"),
        "punct_ratio": _ratio_sql(text, r"!-/:-@\[-`{-~"),
        "upper_ratio": _ratio_sql(text, "A-Z"),
        "repetition_ratio": (
            f"CASE WHEN len({w}) > 0 THEN 1.0 - len(list_distinct({w}))::DOUBLE / len({w}) "
            f"ELSE 0.0 END"
        ),
        "stopword_ratio": (
            f"CASE WHEN len({wl}) > 0 THEN "
            f"len(list_filter({wl}, t -> list_contains({sw}, t)))::DOUBLE / len({wl}) "
            f"ELSE 0.0 END"
        ),
    }
