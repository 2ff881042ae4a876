"""Winnowing document fingerprints (MOSS-style) — a vectorised
NumPy/Arrow kernel with a DuckDB SQL twin.

Algorithm (Schleimer, Wilkerson, Aiken — "Winnowing: Local Algorithms
for Document Fingerprinting", SIGMOD 2003; public):

1. normalise: lowercase, drop every char outside ``[a-z0-9]``;
2. hash every char ``K``-gram with a fixed polynomial
   ``sum(code_j * B^(K-1-j)) mod P`` (all terms positive and < 2^63, so
   the SAME left-associated integer expression is overflow-safe in
   NumPy int64 and under DuckDB's overflow checking);
3. slide a window of ``W`` consecutive k-gram hashes and keep the
   window minimum.  The selected *set of hash values* is independent of
   the tie-break rule (any min of a window is some window's reported
   min), so the distinct-value output needs no rightmost-tie logic and
   the kernel and the SQL twin agree exactly;
4. a document's fingerprint set = sorted distinct selected hashes.

Guarantee (the reason winnowing beats "every k-gram"): any shared
substring of length >= W + K - 1 between two documents contributes at
least one SHARED fingerprint, while only ~2/(W+1) of k-grams are kept.

Near-duplicate pairs then come from an equi-join on the fingerprint
value — never an all-pairs comparison.  Fingerprints occurring in more
than ``max_df`` documents (boilerplate shingles) are dropped before the
join on BOTH sides of the twin: at web scale those stop-fingerprints
are exactly the join-key hot spots that would otherwise quadratically
blow up the candidate shuffle, and dropping them is the standard
winnowing-index practice.  Jaccard is computed over the retained
fingerprint sets only.

Reference behaviour note: cleanlab has no fingerprinting operator; this
module belongs to the engine-specific text-analysis additions
(SURVEY.md §2.12) next to langid/perplexity/token_stats.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

WINNOW_K = 5  # char k-gram length
WINNOW_W = 4  # winnowing window (hashes per window)
_B = 257
_P = 1_000_000_007
# B^(K-1), ..., B, 1 — largest term < 123 * 257^4 ≈ 5.4e11, K-term sum
# < 2.7e12: comfortably inside signed 64-bit on both engines.
_COEF = [_B ** (WINNOW_K - 1 - j) for j in range(WINNOW_K)]


def norm_sql(text: str) -> str:
    """Lowercased text with every non-[a-z0-9] char removed."""
    return f"regexp_replace(lower({text}), '[^a-z0-9]', '', 'g')"


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, fp) — one row per distinct selected fingerprint per document.
    Documents whose normalised text is shorter than K chars emit no rows.

    The fingerprint arrays come from the vectorised batch kernel
    (:func:`with_winnow_fps`) — one Arrow transfer per batch.  The
    explode is ``explode_outer`` + a null filter on the generator
    OUTPUT, so the optimiser infers no ``size() > 0`` filter to push
    below the Generate."""
    fps = with_winnow_fps(df, text_col, "_wn_fps")
    return fps.select(
        F.col(id_col).alias("id"), F.explode_outer("_wn_fps").alias("fp")
    ).where(F.col("fp").isNotNull())


def winnow_fingerprints_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints`."""
    gram = " + ".join(f"cs[i+{j}] * {c}" for j, c in enumerate(_COEF))
    return f"""
WITH wnorm AS MATERIALIZED (
  SELECT {id_col} AS id, {norm_sql(text_col)} AS norm FROM {table}
), wcodes AS MATERIALIZED (
  SELECT id, list_transform(string_split(norm, ''), c -> ascii(c)) AS cs
  FROM wnorm WHERE length(norm) >= {WINNOW_K}
), whash AS MATERIALIZED (
  SELECT id,
         list_transform(range(1, len(cs) - {WINNOW_K - 2}),
                        i -> ({gram}) % {_P}) AS hs
  FROM wcodes
), wfps AS (
  SELECT id,
         list_sort(list_distinct(list_transform(
             range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1),
             p -> list_min(list_slice(hs, p, p + {WINNOW_W - 1}))))) AS fps
  FROM whash WHERE len(hs) >= 1
)
SELECT id, unnest(fps) AS fp FROM wfps
"""


# ----------------------------------------------------- near-dup pairs

def winnow_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int = 20,
) -> DataFrame:
    """(id_a, id_b, winnow_jaccard) for pairs whose retained-fingerprint
    Jaccard >= threshold.

    Scale shape: fingerprints with document frequency > max_df are
    dropped BEFORE the self-join (they are boilerplate AND the join-key
    hot spots); the join then carries only (id, fp) longs, the pair
    aggregation is one groupBy, and per-doc retained counts ride a
    K-free second aggregate joined back by id.  No all-pairs stage.

    ``kept`` (the post-max_df shrunk edge list) feeds three consumers
    (sizes + both join sides), so it is persisted — the shrink-first-
    then-persist-the-small-result rule; the wide fps chain upstream is
    evaluated once."""
    fps = winnow_fingerprints(df, text_col, id_col)
    # Document frequency per fingerprint; anti-join the hot set away.
    # NO explicit broadcast hint: the hot set is tiny on curated corpora
    # (AQE broadcasts it) but is NOT guaranteed driver-sized at 10^12
    # rows — #hot is only bounded by total_occurrences/max_df — and a
    # forced broadcast would OOM the driver exactly when the guard
    # matters most; the shuffle anti-join on fp is the safe default.
    dfreq = fps.groupBy("fp").agg(F.count("*").alias("_df"))
    kept = fps.join(
        dfreq.where(F.col("_df") > max_df).select("fp"),
        "fp",
        "left_anti",
    ).persist()
    sizes = kept.groupBy("id").agg(F.count("*").alias("_n"))
    shared = (
        kept.select(F.col("id").alias("id_a"), "fp")
        .join(kept.select(F.col("id").alias("id_b"), "fp"), "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_shared"))
    )
    return (
        shared.join(sizes.select(F.col("id").alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .withColumn(
            "winnow_jaccard",
            F.col("_shared").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_shared")).cast("double"),
        )
        .where(F.col("winnow_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("winnow_jaccard", 6).alias("winnow_jaccard"))
    )


def winnow_near_duplicates_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int = 20,
) -> str:
    inner = winnow_fingerprints_sql(table, text_col, id_col)
    return f"""
WITH allfps AS MATERIALIZED ({inner}),
kept AS MATERIALIZED (
  SELECT id, fp FROM allfps
  WHERE fp IN (SELECT fp FROM allfps GROUP BY fp HAVING count(*) <= {max_df})
), sizes AS (
  SELECT id, count(*) AS n FROM kept GROUP BY id
), shared AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS s
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(s::DOUBLE / (na.n + nb.n - s), 6) AS winnow_jaccard
FROM shared
JOIN sizes na ON na.id = id_a
JOIN sizes nb ON nb.id = id_b
WHERE s::DOUBLE / (na.n + nb.n - s) >= {threshold}
"""


def winnow_near_duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int = 20,
    max_iter: int = 20,
) -> DataFrame:
    """Keep-one-per-cluster over the winnow pair graph — fourth modality
    on the shared pointer-jumping component primitive
    (:func:`sparkclean.graph.components_from_pairs`), same output shape
    as minhash/hamming/embedding clusters: ``(id, cluster_rep,
    cluster_size)`` for every input row, singletons at size 1."""
    from ..graph import components_from_pairs

    pairs = winnow_near_duplicates(df, text_col, id_col, threshold, max_df)
    out = components_from_pairs(
        pairs, df.select(F.col(id_col).alias("id")), max_iter=max_iter
    )
    return out.withColumnRenamed("id", id_col)


def winnow_near_duplicate_clusters_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int = 20,
) -> str:
    from ..graph import components_sql

    return components_sql(
        winnow_near_duplicates_sql(table, text_col, id_col, threshold, max_df),
        table,
        id_col,
    )


# ------------------------------------------------- Arrow production path

_NORM_RE = re.compile(r"[^a-z0-9]")
_SENTINEL = _P + 1  # > any real hash; masks padded positions in the min


def winnow_fps_py(text: str | None) -> list[int]:
    """Python/NumPy reference for ONE document — value-identical to the
    batch kernel and the DuckDB twin (test-pinned), and the batch
    kernel's route for rows longer than ``_BATCH_PAD_CAP``."""
    if text is None:
        return []
    norm = _NORM_RE.sub("", text.lower())
    if len(norm) < WINNOW_K:
        return []
    cs = np.frombuffer(norm.encode("ascii", "ignore"), dtype=np.uint8).astype(np.int64)
    m = len(cs) - WINNOW_K + 1
    h = np.zeros(m, dtype=np.int64)
    for j, coef in enumerate(_COEF):
        h += cs[j : j + m] * coef
    h %= _P
    if m < WINNOW_W:
        return [int(h.min())]
    wins = np.lib.stride_tricks.sliding_window_view(h, WINNOW_W).min(axis=1)
    return sorted({int(x) for x in wins})


_BATCH_PAD_CAP = 4096  # rows longer than this go to the per-row kernel


def _winnow_batch(texts: pd.Series) -> pd.Series:
    """Batch kernel: padded 2-D codes matrix, K shifted-column adds for
    the polynomial hash, one sliding-window min — all vectorised across
    the batch; only the final per-row unique is Python-side.

    Rows longer than _BATCH_PAD_CAP are routed to the per-row kernel
    instead: padding the whole batch to one outlier's length turns a
    10k-row Arrow batch with a single 1 MB document into a ~10 GB
    matrix, while a long row on its own amortises NumPy dispatch fine."""
    vals = texts.to_numpy(dtype=object)
    n = len(vals)
    if n == 0:
        return pd.Series([], dtype=object)
    norms = [
        b""
        if t is None
        else _NORM_RE.sub("", str(t).lower()).encode("ascii", "ignore")
        for t in vals
    ]
    lens = np.array([len(b) for b in norms], dtype=np.int64)
    if int(lens.max()) > _BATCH_PAD_CAP:
        long_rows = lens > _BATCH_PAD_CAP
        out_all = np.empty(n, dtype=object)
        short_idx = np.flatnonzero(~long_rows)
        if short_idx.size:
            short = _winnow_batch(
                pd.Series([vals[i] for i in short_idx], dtype=object)
            )
            for k, i in enumerate(short_idx):
                out_all[i] = short.iloc[k]
        for i in np.flatnonzero(long_rows):
            out_all[i] = winnow_fps_py(vals[i])
        return pd.Series(list(out_all), dtype=object)
    L = max(int(lens.max()), WINNOW_K + WINNOW_W)  # room for >=W hash slots
    mat = np.zeros((n, L), dtype=np.uint8)
    for i, b in enumerate(norms):
        if b:
            mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    n_pos = L - WINNOW_K + 1
    h = np.zeros((n, n_pos), dtype=np.int64)
    for j, coef in enumerate(_COEF):
        h += mat[:, j : j + n_pos].astype(np.int64) * coef
    h %= _P
    m = lens - WINNOW_K + 1  # valid hash count per row (may be <= 0)
    h[np.arange(n_pos)[None, :] >= m[:, None]] = _SENTINEL
    wins = np.lib.stride_tricks.sliding_window_view(h, WINNOW_W, axis=1).min(axis=2)
    out: list[list[int] | None] = []
    for i in range(n):
        if m[i] < 1:
            out.append([])
        elif m[i] < WINNOW_W:
            out.append([int(h[i, : m[i]].min())])
        else:
            nw = int(m[i] - WINNOW_W + 1)
            out.append(sorted({int(x) for x in wins[i, :nw]}))
    return pd.Series(out, dtype=object)


def with_winnow_fps(
    df: DataFrame, text_col: str = "text", out_col: str = "winnow_fps"
) -> DataFrame:
    """Production path: Arrow-batched fingerprint arrays (array<long>)."""

    @pandas_udf("array<long>")
    def _fps(texts: pd.Series) -> pd.Series:
        return _winnow_batch(texts)

    return df.withColumn(out_col, _fps(F.col(text_col)))
