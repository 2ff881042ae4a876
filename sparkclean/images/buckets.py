"""Aspect-ratio bucketing for multi-aspect image training — an Arrow
kernel with a DuckDB SQL twin.

Diffusion/vision training at scale groups images into a frozen set of
aspect-ratio buckets so each batch shares one resolution (the SDXL
multi-aspect recipe, Podell et al. 2023 §2.3, and the earlier public
NovelAI bucketing write-up): enumerate (w, h) pairs on a 64-pixel grid
under a pixel-area budget, then assign every image to the bucket whose
aspect ratio is nearest its own.

Determinism note (why there is no ``ln`` here): the usual
|log(aspect) − log(bucket)| score is transcendental, and libm results
differ by ulps across engines — enough to flip an argmin between two
near-equidistant buckets and break hash-exact twins.  Instead the
distance |w/h − bw/bh| is computed as ``abs(w·bh − h·bw) / (h·bh)``:
integer cross-multiplication plus ONE IEEE-754 division, which is
correctly rounded and therefore bit-identical in NumPy and DuckDB.
Same argmin for any monotone distance in aspect space; ties break on
the first bucket in the frozen enumeration order.

Scale shape: entirely row-local, no join/shuffle/window — ONE Arrow
batch kernel, a (rows x 49) NumPy broadcast argmin (int64 cross-mult,
one float64 division, np.argmin's first-min = the idx tie-break).  The
same argmin as a Spark expression (array_min over 49 literal structs)
would be ~600 nodes, past the janino method limit: whole-stage codegen
falls back and every job pays a ~2 s constant tax.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

#: SDXL-style enumeration: 64-px grid, area <= AREA_BUDGET, aspect in
#: [1/MAX_ASPECT, MAX_ASPECT], sides >= MIN_SIDE.  Frozen at import —
#: the ORDER is part of the contract (argmin ties break on index).
GRID = 64
AREA_BUDGET = 1024 * 1024
MAX_ASPECT = 4.0
MIN_SIDE = 256


def _enumerate_buckets() -> list[tuple[int, int]]:
    out = []
    for w in range(MIN_SIDE, AREA_BUDGET // MIN_SIDE + 1, GRID):
        for h in range(MIN_SIDE, AREA_BUDGET // MIN_SIDE + 1, GRID):
            if w * h > AREA_BUDGET:
                continue
            if w > MAX_ASPECT * h or h > MAX_ASPECT * w:
                continue
            # keep only maximal-area buckets per aspect class: growing
            # both sides by one grid step must break the budget
            if (w + GRID) * (h + GRID) <= AREA_BUDGET:
                continue
            out.append((w, h))
    return sorted(out)


BUCKETS: list[tuple[int, int]] = _enumerate_buckets()

_BW = np.array([bw for bw, _ in BUCKETS], dtype=np.int64)
_BH = np.array([bh for _, bh in BUCKETS], dtype=np.int64)


def assign_buckets_np(w: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Vectorised nearest-bucket indices for int64 (n,) dims, −1 where
    a dim is non-positive.  Same float64 division and first-min
    tie-break as the DuckDB twin (both correctly-rounded IEEE, hence
    bit-identical)."""
    ok = (w > 0) & (h > 0)
    hs = np.where(ok, h, 1)  # keep the masked rows' division finite
    ws = np.where(ok, w, 1)
    scores = np.abs(ws[:, None] * _BH[None, :] - hs[:, None] * _BW[None, :]).astype(
        np.float64
    ) / (hs[:, None] * _BH[None, :]).astype(np.float64)
    idx = np.argmin(scores, axis=1)  # first min == lowest bucket index
    return np.where(ok, idx, -1)


def assign_aspect_buckets(
    df: DataFrame,
    w_col: str = "w",
    h_col: str = "h",
    id_col: str = "image_id",
) -> DataFrame:
    """(id, w, h, bucket_id, bucket_w, bucket_h) per image.  Rows with
    non-positive or null dimensions get bucket_id −1 (null bucket dims)
    so every input row appears in the output."""

    @pandas_udf("long")
    def _bucket(w: pd.Series, h: pd.Series) -> pd.Series:
        wv = w.fillna(0).to_numpy(dtype=np.int64)
        hv = h.fillna(0).to_numpy(dtype=np.int64)
        return pd.Series(assign_buckets_np(wv, hv))

    bid = df.withColumn("_ab_id", _bucket(F.col(w_col), F.col(h_col)))
    ok = F.col("_ab_id") >= 0
    bw_arr = F.array(*[F.lit(bw) for bw, _ in BUCKETS])
    bh_arr = F.array(*[F.lit(bh) for _, bh in BUCKETS])
    return bid.select(
        id_col,
        w_col,
        h_col,
        F.col("_ab_id").alias("bucket_id"),
        F.when(ok, F.element_at(bw_arr, (F.col("_ab_id") + 1).cast("int")))
        .cast("long")
        .alias("bucket_w"),
        F.when(ok, F.element_at(bh_arr, (F.col("_ab_id") + 1).cast("int")))
        .cast("long")
        .alias("bucket_h"),
    )


def assign_aspect_buckets_sql(
    table: str,
    w_col: str = "w",
    h_col: str = "h",
    id_col: str = "image_id",
) -> str:
    """DuckDB twin of :func:`assign_aspect_buckets`.  ``table`` may be
    any table expression."""
    rows = ", ".join(f"({i}, {bw}, {bh})" for i, (bw, bh) in enumerate(BUCKETS))
    return f"""
WITH abimg AS MATERIALIZED (
  SELECT {id_col} AS id, {w_col} AS w, {h_col} AS h,
         ({w_col} IS NOT NULL AND {h_col} IS NOT NULL
          AND {w_col} > 0 AND {h_col} > 0) AS ok
  FROM {table}
), abbuckets (idx, bw, bh) AS (VALUES {rows}),
scored AS (
  SELECT i.id, i.w, i.h, b.idx, b.bw, b.bh,
         row_number() OVER (
             PARTITION BY i.id
             ORDER BY abs(i.w::BIGINT * b.bh - i.h::BIGINT * b.bw)::DOUBLE
                      / (i.h::BIGINT * b.bh)::DOUBLE,
                      b.idx
         ) AS rn
  FROM abimg i JOIN abbuckets b ON i.ok
)
SELECT i.id AS {id_col}, i.w AS {w_col}, i.h AS {h_col},
       coalesce(s.idx, -1)::BIGINT AS bucket_id,
       s.bw::BIGINT AS bucket_w, s.bh::BIGINT AS bucket_h
FROM abimg i LEFT JOIN scored s ON s.id = i.id AND s.rn = 1
"""
