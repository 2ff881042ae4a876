"""32-bit SimHash document fingerprints — an Arrow bit-vote kernel with
a DuckDB SQL twin.

simhash(doc) = Σ_j 2^j · [ Σ_{t ∈ distinct tokens} (bit_j(hash60(t)) ? +1 : -1) > 0 ]

:func:`with_simhash` tokenises and hashes with Spark column
expressions (:func:`token_hashes_col`), then runs the 32 bit votes in
one Arrow kernel over the materialised hash array.

Near-dup candidates share 16-bit halves (two-block Hamming banding):
any pair within Hamming distance 1 shares at least one half exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..text.shared import (
    ascii_lower_col,
    ascii_lower_sql,
    hash60_col,
    hash60_sql,
    words_col,
    words_sql,
)

BITS = 32


def token_hashes_col(text: Column) -> Column:
    w = F.array_distinct(words_col(ascii_lower_col(text)))
    return F.transform(w, lambda t: hash60_col(t))


def simhash_from_hashes_udf():
    """Arrow-vectorized simhash over a materialised token-hash column.

    The bit votes are INTEGER sums (Σ ±1), so unlike the float kernels
    no accumulation-order discipline is needed — bincount over the
    exploded hash array is exact and ~100x a 32-fold interpreted
    Catalyst projection.  Empty AND NULL token lists both yield simhash
    0, as in the SQL twin, where a NULL vote falls into the ``ELSE 0``
    branch of ``CASE WHEN NULL > 0 …``."""

    @pandas_udf("long")
    def simhash(hs: pd.Series) -> pd.Series:
        n = len(hs)
        lens = np.fromiter(
            (0 if x is None else len(x) for x in hs), dtype=np.int64, count=n
        )
        out = np.zeros(n, dtype=np.int64)
        if lens.sum() > 0:
            flat = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in hs if x is not None and len(x)]
            )
            rowids = np.repeat(np.arange(n), lens)
            for j in range(BITS):
                ones = np.bincount(rowids, weights=(flat >> j) & 1, minlength=n)
                votes = 2 * ones - lens
                out += (votes > 0).astype(np.int64) << j
        return pd.Series(out)

    return simhash


def simhash_sql(text: str) -> str:
    w = words_sql(ascii_lower_sql(text))
    h = hash60_sql("t")
    # outer CAST: DuckDB widens the BIGINT list-sum to HUGEINT, which
    # pandas renders as float64 — the driver hash then diverges from
    # Spark's int64 even though values match.
    return (
        f"(SELECT CAST(list_aggregate(list_transform(range(0, {BITS}), j -> "
        f"CASE WHEN list_aggregate(list_transform(hs, x -> "
        f"CASE WHEN (x >> j) % 2 = 1 THEN 1 ELSE -1 END), 'sum') > 0 "
        f"THEN (1::BIGINT << j) ELSE 0::BIGINT END), 'sum') AS BIGINT) "
        f"FROM (SELECT list_transform(list_distinct({w}), t -> {h}) AS hs))"
    )


def with_simhash(df: DataFrame, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    return (
        df.withColumn("_hs", token_hashes_col(F.col(text_col)))
        .withColumn(out_col, simhash_from_hashes_udf()(F.col("_hs")))
        .drop("_hs")
    )


def _check_block_bits(block_bits: int) -> int:
    if block_bits <= 0 or BITS % block_bits != 0:
        raise ValueError(
            f"block_bits must divide {BITS} (got {block_bits})"
        )
    return BITS // block_bits


def simhash_candidate_pairs_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    block_bits: int = 16,
    n_perms: int = 1,
) -> str:
    """DuckDB twin of :func:`simhash_candidate_pairs` (same block keys,
    same popcount verify — both delegate to dedup/hamming.py)."""
    from .hamming import hamming_pairs_sql

    _check_block_bits(block_bits)
    return hamming_pairs_sql(
        table,
        id_col,
        simhash_sql(text_col),
        max_distance=max_hamming,
        bits=BITS,
        block_bits=block_bits,
        n_perms=n_perms,
    )


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    block_bits: int = 16,
    n_perms: int = 1,
) -> DataFrame:
    """Candidate near-dup pairs sharing a ``block_bits``-wide simhash
    block, verified by exact popcount Hamming distance <= max_hamming.
    Fingerprinting is simhash's; the blocked search itself delegates to
    the shared Hamming-ball machinery (dedup/hamming.py) — including its
    distinct-fingerprint collapse: docs with IDENTICAL simhashes are
    collapsed to one min-id representative before banding (so reported
    pairs are between distinct fingerprints, hamming >= 1, and a
    mega-group of identical boilerplate never emits O(m²) pairs); full
    duplicate-group membership comes from
    ``dedup.hamming.hamming_clusters`` over the same fingerprints.

    ``block_bits`` is the scale knob (the simhash analog of knn_edges'
    EDGE_BITS): expected bucket size grows ~N/2^block_bits, so at 10^12
    rows keep blocks wide; by pigeonhole, d <= nblocks-1 pairs are
    guaranteed to share a block (2 blocks of 16 guarantee d<=1; 4 blocks
    of 8 guarantee d<=3).  ``n_perms`` is the recall growth path for
    huge corpora — the permuted-table scheme re-blocks cyclic rotations
    of the fingerprint, keeping bucket sizes at N/2^block_bits while
    restoring multi-block recall (planted-flip recall pinned in
    tests/test_dedup_sim.py)."""
    from .hamming import hamming_pairs

    _check_block_bits(block_bits)
    s = with_simhash(
        df.select(F.col(id_col).alias("_id"), text_col), text_col, "_sh"
    ).select("_id", "_sh")
    return hamming_pairs(
        s,
        "_id",
        "_sh",
        max_distance=max_hamming,
        bits=BITS,
        block_bits=block_bits,
        n_perms=n_perms,
    )
