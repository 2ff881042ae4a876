"""Gopher-style repetition quality signals — an Arrow kernel with a
DuckDB SQL twin.

Implements the repetition-removal family from Rae et al. 2021 ("Scaling
Language Models: Methods, Analysis & Insights from Training Gopher",
Appendix A.1.1 — public), the same rule set reused by public pipelines
such as FineWeb / Dolma / DataTrove:

* ``dup_line_frac`` / ``dup_para_frac`` — fraction of line (paragraph)
  occurrences beyond the first duplicate occurrence, over the line
  (paragraph) count.  Lines split on ``\\n``, paragraphs on ``\\n\\n``
  (literal, greedy-left in the kernel and the SQL twin).
* ``dup_line_char_frac`` / ``dup_para_char_frac`` — characters in those
  repeated occurrences, over ``length(text)``.
* ``top_{2,3,4}gram_char_frac`` — characters covered by ALL occurrences
  of the most frequent word n-gram (``count * chars(gram)``), over
  ``length(text)``.  The most frequent n-gram is chosen by the total
  order ``(count, chars(gram))`` so every engine picks the same gram
  under count ties (the reference papers leave ties unspecified).
* ``dup_{5..10}gram_char_frac`` — characters in repeated n-gram
  occurrences beyond the first (``(count-1) * chars(gram)`` summed over
  grams with count > 1), over ``length(text)``.  Documented divergence
  from span-marking implementations (e.g. DataTrove marks character
  SPANS so overlapping repeats are not double-counted); the weighted
  form used here needs no per-position state, is monotone in
  repetition, and is capped at 1.0.
* ``keep`` — AND of the published Gopher thresholds (Table A1).

Words come from the engine-exact tokenizer pair
(:mod:`sparkclean.text.shared` ``words_py/words_sql``); grams are the
single-space join of ``n`` consecutive words, so
``chars(gram) = sum(len(word)) + n - 1``.

Scale shape: ONE Arrow pandas UDF computes all 13 fractions per
document in a single pass (no shuffle, no join — the per-doc counters
are bounded by document length).  :func:`gopher_features_py` is the
per-document scalar reference the batch kernel is tested against.

Reference behaviour note: cleanlab has no repetition-filter operator;
this module belongs to the engine-specific text-analysis additions
(SURVEY.md §2.12) next to langid/perplexity/rules/winnow.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .shared import words_py, words_sql

TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)

#: published Gopher repetition thresholds (Rae et al. Table A1): a
#: document is kept only if EVERY fraction is <= its threshold.
GOPHER_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}
FEATURES = list(GOPHER_THRESHOLDS)  # canonical output column order


def gopher_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per input row: the 13 repetition fractions (6-dp rounded)
    plus the ``keep`` flag, from one Arrow pandas UDF pass.  Null text
    yields all-zero fractions (keep)."""
    feat = with_gopher_features(df, text_col, "_gp")
    cols = {k: F.col(f"_gp.{k}") for k in FEATURES}
    keep = None
    for k, thr in GOPHER_THRESHOLDS.items():
        cond = cols[k] <= F.lit(thr)
        keep = cond if keep is None else keep & cond
    return feat.select(
        id_col,
        *[F.round(cols[k], 6).alias(k) for k in FEATURES],
        keep.alias("keep"),
    )


def gopher_repetition_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`gopher_repetition`."""
    n_values = ", ".join(f"({n})" for n in TOP_NS + DUP_NS)
    # coalesce BEFORE least: least() ignores NULLs in DuckDB too, so a
    # doc with fewer than n words must produce 0, not least(1.0, NULL)=1.0
    top_cols = ",\n         ".join(
        f"least(1.0, coalesce(max(CASE WHEN n = {n} THEN top.c * top.l END), 0)"
        f"::DOUBLE / any_value(total)) AS top_{n}gram_char_frac"
        for n in TOP_NS
    )
    dup_cols = ",\n         ".join(
        f"least(1.0, coalesce(max(CASE WHEN n = {n} THEN dupchars END), 0)"
        f"::DOUBLE / any_value(total)) AS dup_{n}gram_char_frac"
        for n in DUP_NS
    )
    unit_cte = (
        "SELECT id, total, u, count(*) AS c FROM ("
        "SELECT id, total, unnest(string_split({expr}, {sep})) AS u "
        "FROM base WHERE txt IS NOT NULL) GROUP BY id, total, u"
    )
    unit_feat = (
        "SELECT id,"
        " sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END)::DOUBLE / sum(c) AS {p}_frac,"
        " least(1.0, sum(CASE WHEN c > 1 THEN (c - 1) * length(u) ELSE 0 END)::DOUBLE"
        " / any_value(total)) AS {p}_char_frac FROM {src} GROUP BY id"
    )
    coalesced = ",\n       ".join(
        f"round(coalesce({k}, 0.0), 6) AS {k}" for k in FEATURES
    )
    keep_expr = " AND ".join(
        f"coalesce({k}, 0.0) <= {thr}" for k, thr in GOPHER_THRESHOLDS.items()
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT {id_col} AS id, {text_col} AS txt,
         greatest(length({text_col}), 1)::BIGINT AS total,
         CASE WHEN {text_col} IS NULL THEN []::VARCHAR[]
              ELSE {words_sql(text_col)} END AS ws
  FROM {table}
), ngrams AS (
  SELECT id, total, n,
         unnest(list_transform(
             range(1, greatest(len(ws) - (n - 1), 0) + 1),
             i -> array_to_string(list_slice(ws, i, i + n - 1), ' '))) AS gram
  FROM base CROSS JOIN (VALUES {n_values}) t(n)
), counts AS (
  SELECT id, total, n, gram, length(gram)::BIGINT AS l, count(*) AS c
  FROM ngrams GROUP BY id, total, n, gram
), per_n AS (
  SELECT id, total, n, max({{'c': c, 'l': l}}) AS top,
         sum(CASE WHEN c > 1 THEN (c - 1) * l ELSE 0 END) AS dupchars
  FROM counts GROUP BY id, total, n
), ngf AS (
  SELECT id,
         {top_cols},
         {dup_cols}
  FROM per_n GROUP BY id
), lc AS ({unit_cte.format(expr="txt", sep="chr(10)")}),
lf AS ({unit_feat.format(p="dup_line", src="lc")}),
pc AS ({unit_cte.format(expr="txt", sep="chr(10) || chr(10)")}),
pf AS ({unit_feat.format(p="dup_para", src="pc")})
SELECT base.id AS {id_col},
       {coalesced},
       ({keep_expr}) AS keep
FROM base
LEFT JOIN lf ON lf.id = base.id
LEFT JOIN pf ON pf.id = base.id
LEFT JOIN ngf ON ngf.id = base.id
"""


# ------------------------------------------------- Arrow production path

def gopher_features_py(text: str | None) -> dict[str, float]:
    """Python reference for ONE document — value-identical to the batch
    kernel and the DuckDB twin (same tokenizer, same (count, chars) tie
    order, same integer numerators divided as doubles)."""
    feats = dict.fromkeys(FEATURES, 0.0)
    if text is None:
        return feats
    total = max(len(text), 1)
    for prefix, sep in (("dup_line", "\n"), ("dup_para", "\n\n")):
        units = text.split(sep)
        cnt = Counter(units)
        feats[f"{prefix}_frac"] = sum(
            c - 1 for c in cnt.values() if c > 1
        ) / len(units)
        feats[f"{prefix}_char_frac"] = min(
            1.0,
            sum((c - 1) * len(u) for u, c in cnt.items() if c > 1) / total,
        )
    ws = words_py(text)
    for n in TOP_NS + DUP_NS:
        if len(ws) < n:
            continue
        cnt = Counter(
            " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
        )
        if n in TOP_NS:
            c, l = max((c, len(g)) for g, c in cnt.items())
            feats[f"top_{n}gram_char_frac"] = min(1.0, c * l / total)
        else:
            feats[f"dup_{n}gram_char_frac"] = min(
                1.0,
                sum((c - 1) * len(g) for g, c in cnt.items() if c > 1) / total,
            )
    return feats


def gopher_keep_py(feats: dict[str, float]) -> bool:
    return all(feats[k] <= thr for k, thr in GOPHER_THRESHOLDS.items())


def _gopher_batch(texts: pd.Series) -> pd.DataFrame:
    """Vectorised batch kernel — value-identical to
    :func:`gopher_features_py` (parity-pinned by tests).

    The dominant cost in the scalar kernel is building ~9 gram strings
    per word and Counter-ing them.  Here grams never materialise as
    strings: tokens are factorised once across the batch, and n-gram
    identity is built ITERATIVELY — the (n)-gram id is
    ``factorize(id_{n-1} * U + next_token_code)``, an EXACT perfect
    pairing (the multiplier exceeds every id, so distinct grams can
    never merge — unlike hashing, which would silently diverge from the
    SQL twin).  ``pd.factorize`` is hash-table based: the first cut of
    this kernel used ``np.unique`` over a void view of the code matrix
    and measured 3.3x SLOWER than the scalar Counter loop (sort-based,
    byte-wise comparisons); the factorize chain measures ~10x FASTER.
    Gram char length is a sliding cumsum of token lengths + (n-1)
    separators.  The per-doc top gram under the (count, chars) order
    rides a single ``np.maximum.at`` over packed ``count << 32 | chars``
    keys (both < 2^31, so the packed integer order IS the lexicographic
    order).  Line/paragraph features stay Counter-based — a document has
    few lines and the split dominates anyway."""
    import numpy as np

    n_rows = len(texts)
    out = {k: np.zeros(n_rows) for k in FEATURES}
    if n_rows == 0:
        return pd.DataFrame(out, columns=FEATURES, dtype=float)
    vals = texts.to_numpy(dtype=object)
    totals = np.array(
        [max(len(t), 1) if t is not None else 1 for t in vals], dtype=np.int64
    )
    # ---- line / paragraph features (cheap: few units per doc)
    for prefix, sep in (("dup_line", "\n"), ("dup_para", "\n\n")):
        frac = out[f"{prefix}_frac"]
        cfrac = out[f"{prefix}_char_frac"]
        for i, t in enumerate(vals):
            if t is None:
                continue
            units = t.split(sep)
            cnt = Counter(units)
            frac[i] = sum(c - 1 for c in cnt.values() if c > 1) / len(units)
            cfrac[i] = min(
                1.0,
                sum((c - 1) * len(u) for u, c in cnt.items() if c > 1)
                / totals[i],
            )
    # ---- tokenize once; factorize across the batch
    words = [words_py(t) if t is not None else [] for t in vals]
    rowids = np.repeat(
        np.arange(n_rows, dtype=np.int64),
        np.fromiter((len(w) for w in words), dtype=np.int64, count=n_rows),
    )
    if len(rowids):
        flat = np.array([w for ws in words for w in ws], dtype=object)
        codes, uniq = pd.factorize(flat)
        codes = codes.astype(np.int64)
        tok_len = np.fromiter((len(u) for u in uniq), dtype=np.int64, count=len(uniq))
        # prefix char sums for O(1) window char lengths
        cum = np.concatenate(([0], np.cumsum(tok_len[codes])))
        gram = codes  # (n=1)-gram ids; extended one token per iteration
        # The pairing multiplier must be the TOKEN unique count at EVERY
        # level: the added term is always a token code (< tok_U), so
        # key = gram_id * tok_U + code is injective by induction.  Using
        # the previous level's gram-unique count instead is a collision
        # bug — when token uniques exceed gram uniques (batches of tiny
        # documents), (g, c) and (g+1, c - U) merge distinct grams and
        # silently diverge from the SQL twin.
        tok_u = np.int64(len(uniq))
        n_gram_uniq = len(uniq)
        for n in range(2, max(TOP_NS + DUP_NS) + 1):
            if len(codes) < n:
                break
            # exact pairing: id_{n} = factorize(id_{n-1} * tok_U + next
            # code); ids and tok_U are both < token count m, so the
            # packed key is < m^2 — overflow would need a ~3e9-token
            # Arrow batch, three orders beyond the 10k-row batch cap at
            # any doc length seen in a text corpus
            gram, pair_uniq = pd.factorize(
                gram[: len(codes) - n + 1] * tok_u + codes[n - 1 :]
            )
            gram = gram.astype(np.int64)
            n_gram_uniq = len(pair_uniq)
            if n not in TOP_NS + DUP_NS:
                continue
            # windows fully inside one document
            valid = rowids[: len(rowids) - n + 1] == rowids[n - 1 :]
            if not valid.any():
                continue
            start = np.flatnonzero(valid)
            gram_chars = cum[start + n] - cum[start] + (n - 1)
            grow = rowids[start]
            # occurrence counts per (row, gram)
            # here the added term is a CURRENT-level gram id, so the
            # multiplier is this level's gram-unique count (injective:
            # gram_id < n_gram_uniq)
            pcodes, _ = pd.factorize(
                grow * np.int64(n_gram_uniq) + gram[start]
            )
            counts = np.bincount(pcodes)
            urow = np.zeros(len(counts), dtype=np.int64)
            urow[pcodes] = grow
            uchars = np.zeros(len(counts), dtype=np.int64)
            uchars[pcodes] = gram_chars
            if n in TOP_NS:
                packed = (counts.astype(np.int64) << 32) | uchars
                best = np.zeros(n_rows, dtype=np.int64)
                np.maximum.at(best, urow, packed)
                c = best >> 32
                l = best & 0xFFFFFFFF
                np.minimum(
                    c * l / totals, 1.0, out=out[f"top_{n}gram_char_frac"]
                )
            else:
                dup = counts > 1
                acc = np.zeros(n_rows, dtype=np.int64)
                np.add.at(
                    acc, urow[dup], (counts[dup] - 1) * uchars[dup]
                )
                np.minimum(
                    acc / totals, 1.0, out=out[f"dup_{n}gram_char_frac"]
                )
    return pd.DataFrame(out, columns=FEATURES, dtype=float)


_STRUCT_TYPE = "struct<" + ", ".join(f"{k}: double" for k in FEATURES) + ">"


def with_gopher_features(
    df: DataFrame, text_col: str = "text", out_col: str = "gopher"
) -> DataFrame:
    """Production path: one Arrow batch pass computing every repetition
    fraction (struct column).  Per-batch work is bounded by total text
    length; no shuffle, no join."""

    @pandas_udf(_STRUCT_TYPE)
    def _feats(texts: pd.Series) -> pd.DataFrame:
        return _gopher_batch(texts)

    return df.withColumn(out_col, _feats(F.col(text_col)))
