"""Similarity search over embedding columns.

* :func:`knn_edges` — THE shared KNN-graph builder (the Spark analog of
  the reference's single knn_graph reused across issue managers,
  internal/neighbor/knn_graph.py:26-205 + datalab/internal/issue_manager/
  duplicate.py:154-171): banded sign-random-projection buckets, one
  grouped Arrow kernel per (band, code) bucket that scores the bucket's
  rows against each other and keeps each row's top-k within the bucket,
  a qid-partitioned window that merges the per-bucket lists into the
  exact top-k over all candidates, and a bounded brute-force rescue for
  rows the buckets under-connect.  Every feature-space consumer (OOD
  distance, near-duplicate manager, KNN-Shapley valuation) builds on
  this — no cartesian self-joins anywhere.
* :func:`cosine_topk` — exact brute-force top-k for a (small, broadcast)
  query set: the correctness baseline, one shuffle-free broadcast join +
  per-query window.
* :func:`lsh_topk` — sign-random-projection bucketed variant: candidates
  share an LSH signature prefix, so the join is an equi-join on the
  bucket key instead of a cross join — the 100 TB scale path.  Frozen
  seeded hyperplanes, inlined as literals.
* :func:`embedding_near_duplicates` — cosine ≥ threshold pairs among
  banded-LSH candidates within a blocking key (label), the embedding
  analog of phash-cluster dedup.

Determinism contract: the hyperplanes are frozen (seeded NumPy, inlined
as literals in BOTH the Spark plan and the DuckDB oracle SQL), so the
bucketed candidate set — and therefore every downstream score — is
bit-reproducible across engines.  Recall vs the exact brute-force path is
asserted separately in tests (tests/test_knn_edges.py).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_col(a: Column, b: Column) -> Column:
    # zero-norm guard: cosine with a degenerate vector is DEFINED as 0
    # (ANSI Spark throws DIVIDE_BY_ZERO on double /0; DuckDB and NumPy
    # would return inf/nan — all three routes share this convention).
    # try_divide, NOT a CASE on the norm product: the CASE form
    # evaluates the interpreted norm folds twice per row (measured
    # knn_bruteforce 1.11 s -> 1.56 s at sf0.1); try_divide evaluates
    # the divisor once and yields NULL on zero.
    n = norm_col(a) * norm_col(b)
    return F.coalesce(F.try_divide(dot_col(a, b), n), F.lit(0.0))


def cosine_sql(a: str, b: str) -> str:
    dot = f"list_aggregate(list_transform(range(1, len({a})+1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum')"
    na = f"sqrt(list_aggregate(list_transform({a}, x -> x::DOUBLE * x::DOUBLE), 'sum'))"
    nb = f"sqrt(list_aggregate(list_transform({b}, x -> x::DOUBLE * x::DOUBLE), 'sum'))"
    # nullif mirrors try_divide: single divisor evaluation, NULL on 0
    return f"coalesce({dot} / nullif({na} * {nb}, 0), 0.0)"


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours of each query row (excluding self).

    The query side is broadcast — the scan side streams once with no
    shuffle; ranking shuffles only (num_queries × N_candidates-in-topk)
    via the per-query window.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec"))
    joined = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    # Arrow pair kernel instead of the interpreted Catalyst HOF fold —
    # bit-identical (per-dimension accumulation == the zip_with fold's
    # left-to-right order, zero-norm cosine defined 0 in both); dim is
    # taken from the batch so no schema probe is needed
    scored = joined.withColumn(
        "cosine", pair_dist_udf(None, "cosine_sim")(F.col("_qvec"), F.col("_cvec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def cosine_topk_sql(
    table: str,
    query_pred: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = cosine_sql("q._qvec", "c._cvec")
    return f"""
WITH q AS (SELECT {id_col} AS query_id, {vec_col} AS _qvec FROM {table} WHERE {query_pred}),
c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS _cvec FROM {table}),
scored AS (
  SELECT q.query_id, c.neighbor_id, {cos} AS cosine
  FROM c JOIN q ON c.neighbor_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank,
         cosine
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine FROM ranked WHERE rank <= {k}
"""


_N_PLANES = 8  # lsh_topk's per-band bit width (plane/SQL emitters are the
# shared edge_planes/band_code_sql with bits=_N_PLANES — one source of truth)


def lsh_topk_sql(
    table: str,
    query_pred: str,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 99,
    bands: int = 2,
) -> str:
    """DuckDB twin of :func:`lsh_topk` — same planes, same explicit
    left-associated dot-product order, same OR-of-bands candidates."""
    band_rows = "\n  UNION ALL ".join(
        f"SELECT _id, {b} AS _band, "
        f"{band_code_sql('_v', dim, b, bands, _N_PLANES, seed)} AS _bucket FROM vr"
        for b in range(bands)
    )
    cos = cosine_sql("qv._v", "cv._v")
    return f"""
WITH vr AS MATERIALIZED (SELECT {id_col} AS _id, {vec_col} AS _v FROM {table}),
bkt AS MATERIALIZED (
  {band_rows}
),
qids AS (SELECT {id_col} AS _id FROM {table} WHERE {query_pred}),
cand AS (
  SELECT DISTINCT q._id AS query_id, c._id AS neighbor_id
  FROM bkt q JOIN qids USING (_id)
  JOIN bkt c ON c._band = q._band AND c._bucket = q._bucket AND c._id <> q._id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
  FROM cand JOIN vr qv ON qv._id = cand.query_id JOIN vr cv ON cv._id = cand.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank,
         cosine
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine FROM ranked WHERE rank <= {k}"""


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 99,
    bands: int = 2,
) -> DataFrame:
    """Approximate top-k: candidates = rows sharing ANY of ``bands``
    8-bit SRP bucket codes with the query (OR-of-bands lifts recall over
    a single AND-of-8-planes bucket).  The band rows carry only
    (id, band, bucket) ints; the query side is broadcast, so candidate
    generation is a broadcast equi-join — shuffle width ~ N·bands rows of
    3 ints, never N×Q."""
    # band_codes_udf with bits=_N_PLANES computes exactly _topk_planes'
    # layout (RandomState(seed).randn(bands*8, dim), band b = planes
    # [b*8,(b+1)*8), code = Σ (dot>0)<<r) — vectorized, order-preserving
    codes_udf = band_codes_udf(dim, bands, _N_PLANES, seed)

    def band_rows(src: DataFrame, out_id: str) -> DataFrame:
        return src.select(
            F.col(id_col).alias(out_id),
            F.posexplode(codes_udf(F.col(vec_col))).alias("_band", "_bucket"),
        )

    cand = (
        band_rows(df, "neighbor_id")
        .join(F.broadcast(band_rows(queries, "query_id")), ["_band", "_bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # query vectors come from the QUERIES frame, not df — external probe
    # sets (ids absent from df, or same ids with different embeddings)
    # must score against their own vectors (cosine_topk already does;
    # round-3 review caught this one silently refetching from df)
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    nvecs = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    scored = (
        cand.join(F.broadcast(qvecs), "query_id")
        .join(nvecs, "neighbor_id")
        .withColumn(
            "cosine", pair_dist_udf(None, "cosine_sim")(F.col("_qvec"), F.col("_cvec"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


# --------------------------------------------------------------- knn_edges
#
# Banded sign-random-projection LSH.  BANDS codes per row, BAND_BITS
# hyperplane signs per code; two rows are candidates iff they agree on at
# least one full band code (OR-of-bands — recall grows with BANDS, bucket
# size shrinks with 2^BAND_BITS).  At 100 TB the knob that matters is
# BAND_BITS: it must grow ~log2(N / target_bucket_rows) so per-bucket
# pair generation stays subquadratic; AQE splits residual bucket skew.

EDGE_BANDS = 8
EDGE_BITS = 6
EDGE_SEED = 97
# rescue-set size of the most recent knn_edges build (observability:
# the broadcast backstop must stay near-empty; bench.py reports this)
LAST_RESCUE_COUNT: int | None = None


def edge_planes(dim: int, bands: int = EDGE_BANDS, bits: int = EDGE_BITS, seed: int = EDGE_SEED) -> np.ndarray:
    """(bands*bits, dim) frozen hyperplanes — the shared randomness for
    Spark and the DuckDB oracle."""
    return np.random.RandomState(seed).randn(bands * bits, dim)


def _band_code_col(vec: Column, planes: np.ndarray, band: int, bits: int) -> Column:
    code = F.lit(0)
    for r in range(bits):
        plane = F.array(*[F.lit(float(x)) for x in planes[band * bits + r]])
        code = code + F.when(dot_col(vec, plane) > 0, F.lit(1 << r)).otherwise(F.lit(0))
    return code


def band_codes_col(vec: Column, dim: int, bands: int = EDGE_BANDS, bits: int = EDGE_BITS, seed: int = EDGE_SEED) -> Column:
    """array<int> of length ``bands`` — one bucket code per band."""
    planes = edge_planes(dim, bands, bits, seed)
    return F.array(*[_band_code_col(vec, planes, b, bits) for b in range(bands)])


def band_code_sql(vec_expr: str, dim: int, band: int, bands: int = EDGE_BANDS, bits: int = EDGE_BITS, seed: int = EDGE_SEED) -> str:
    """DuckDB twin of one band code (same planes, same fold order).

    The dot product is an explicit left-associated sum — same addition
    order as Spark's zip_with fold, and ~50x faster in DuckDB than a
    list_transform over a literal list (which re-materialises the list
    per element)."""
    planes = edge_planes(dim, bands, bits, seed)
    terms = []
    for r in range(bits):
        plane = planes[band * bits + r]
        dot = " + ".join(
            f"{vec_expr}[{i + 1}]::DOUBLE * ({float(c)!r})::DOUBLE" for i, c in enumerate(plane)
        )
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << r} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def euclidean_col(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                a, b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def euclidean_sql(a: str, b: str) -> str:
    return (
        f"sqrt(list_aggregate(list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)), 'sum'))"
    )


def band_codes_udf(dim: int, bands: int = EDGE_BANDS, bits: int = EDGE_BITS, seed: int = EDGE_SEED):
    """Arrow-vectorized band codes — BIT-IDENTICAL to the Catalyst fold
    and the DuckDB explicit sum: the dot products accumulate one
    DIMENSION at a time (vectorized across the rows of the batch), so
    every per-row addition happens in exactly the fold's left-to-right
    order.  ~1000x the throughput of the interpreted zip_with/aggregate
    projection (which cost ~1 ms/row at dim=64, bands*bits=48)."""
    planes = edge_planes(dim, bands, bits, seed)  # (bands*bits, dim) f64

    @pandas_udf("array<int>")
    def codes(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype(np.float64)  # float32→f64 exact
        acc = np.zeros((m.shape[0], planes.shape[0]))
        for d in range(dim):
            # sequential per-row accumulation order == the Catalyst fold
            acc += m[:, d][:, None] * planes[:, d][None, :]
        signs = (acc > 0).astype(np.int64)
        weights = (1 << np.arange(bits)).astype(np.int64)
        per_band = signs.reshape(-1, bands, bits) @ weights  # (n, bands)
        return pd.Series(list(per_band.astype(np.int32)))

    return codes


_METRICS = ("euclidean", "cosine", "cosine_sim")


def pair_dist_udf(dim: int, metric: str):
    """Arrow-vectorized pair distance with per-dimension sequential
    accumulation — same fold order as euclidean_col / cosine_col and the
    DuckDB twins, so results are bit-identical, not merely close."""
    if metric not in _METRICS:
        # fail at the source: an unknown string (e.g. "euclidian") used
        # to fall through to cosine silently — in BOTH twins, so even
        # the gate agreed on the wrong metric
        raise ValueError(f"unknown metric {metric!r}; expected one of {_METRICS}")
    @pandas_udf("double")
    def dist(a: pd.Series, b: pd.Series) -> pd.Series:
        # a NULL vector on either side: cosine is DEFINED as 0 (the
        # coalesce in cosine_col, the NULL list in cosine_sql), so
        # cosine_sim is 0.0 and cosine distance 1.0; euclidean stays NULL
        # (NaN leaves the Arrow batch as NULL), as in both twins
        ok = ~(a.isna() | b.isna()).to_numpy()
        out = np.full(len(a), {"euclidean": np.nan, "cosine": 1.0, "cosine_sim": 0.0}[metric])
        if not ok.any():
            return pd.Series(out)
        ma = np.stack(a.to_numpy()[ok]).astype(np.float64)
        mb = np.stack(b.to_numpy()[ok]).astype(np.float64)
        # dim=None → take the width from the batch (same accumulation
        # order either way; a declared dim only adds a build-time check)
        d_end = ma.shape[1] if dim is None else dim
        if metric == "euclidean":
            acc = np.zeros(len(ma))
            for d in range(d_end):
                t = ma[:, d] - mb[:, d]
                acc += t * t
            out[ok] = np.sqrt(acc)
            return pd.Series(out)
        dot = np.zeros(len(ma))
        na = np.zeros(len(ma))
        nb = np.zeros(len(ma))
        for d in range(d_end):
            dot += ma[:, d] * mb[:, d]
            na += ma[:, d] * ma[:, d]
            nb += mb[:, d] * mb[:, d]
        denom = np.sqrt(na) * np.sqrt(nb)
        cos = np.divide(dot, denom, out=np.zeros(len(ma)), where=denom > 0)
        out[ok] = cos if metric == "cosine_sim" else 1.0 - cos
        return pd.Series(out)

    return dist


#: distance cells (query rows x bucket rows) one block of the bucket
#: kernel holds at once — 2^22 float64 cells is 32 MB; a bucket larger
#: than 2048 rows is scored in several query blocks
_BLOCK_CELLS = 1 << 22

#: repo root for the worker-side sys.path bootstrap — knn_edges' grouped
#: map is cloudpickled by VALUE but calls _bucket_topk from this package,
#: which workers cannot import when the application runs from another cwd
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _block_dist(q: np.ndarray, m: np.ndarray, dim: int, metric: str) -> np.ndarray:
    """(len(q), len(m)) distances, accumulated one dimension at a time in
    exactly :func:`pair_dist_udf`'s order — bit-identical per pair."""
    if metric == "euclidean":
        acc = np.zeros((len(q), len(m)))
        t = np.empty_like(acc)
        for d in range(dim):
            np.subtract(q[:, d][:, None], m[:, d][None, :], out=t)
            np.multiply(t, t, out=t)
            acc += t
        return np.sqrt(acc, out=acc)
    dot = np.zeros((len(q), len(m)))
    t = np.empty_like(dot)
    na = np.zeros(len(q))
    nb = np.zeros(len(m))
    for d in range(dim):
        np.multiply(q[:, d][:, None], m[:, d][None, :], out=t)
        dot += t
        na += q[:, d] * q[:, d]
        nb += m[:, d] * m[:, d]
    denom = np.sqrt(na)[:, None] * np.sqrt(nb)[None, :]
    cos = np.divide(dot, denom, out=np.zeros_like(dot), where=denom > 0)
    return cos if metric == "cosine_sim" else 1.0 - cos


def _bucket_topk(
    ids: np.ndarray, m: np.ndarray, codes: np.ndarray, band: int, k: int, dim: int, metric: str
):
    """One (band, code) bucket of s rows: each row's top-k neighbours
    among the bucket rows it shares no earlier band with, as ``(qid,
    nid, d)`` arrays ordered by (d, nid) per query.

    ``codes`` is the rows' (s, bands) band-code matrix.  A pair sharing
    several bands is scored only in the bucket of its first shared band,
    so every candidate pair leaves exactly one bucket and the merge needs
    no distinct.  Rows are sorted by id and the distance order is a
    stable argsort, so equal distances go to the lower id — the (d asc,
    nid asc) order of knn_edges' window.  NaN distances (NULL once they
    leave the Arrow batch, and Spark sorts NULL first) are ranked first
    for the same reason.  A row is dropped from its own list by index,
    never by a sentinel distance.  Query rows are scored in blocks of at
    most ``_BLOCK_CELLS`` distance cells."""
    order = np.argsort(ids, kind="stable")
    ids, m, codes = ids[order], m[order], codes[order]
    s = len(ids)
    qs, ns, ds = [], [], []
    step = max(1, _BLOCK_CELLS // s)
    for lo in range(0, s, step):
        hi = min(lo + step, s)
        dist = _block_dist(m[lo:hi], m, dim, metric)
        nan = np.isnan(dist)
        key = np.where(nan, -np.inf, dist) if nan.any() else dist
        drop = np.arange(lo, hi)[:, None] == np.arange(s)[None, :]
        for b in range(band):
            drop |= codes[lo:hi, b][:, None] == codes[:, b][None, :]
        rank = np.argsort(key, axis=1, kind="stable")
        keep = ~np.take_along_axis(drop, rank, axis=1)
        keep &= np.cumsum(keep, axis=1, dtype=np.int32) <= k
        r, c = np.nonzero(keep)
        nb = rank[r, c]
        qs.append(ids[lo + r])
        ns.append(ids[nb])
        ds.append(dist[r, nb])
    return np.concatenate(qs), np.concatenate(ns), np.concatenate(ds)


def _candidate_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bands: int,
    bits: int,
    seed: int,
    block_col: str | None = None,
) -> DataFrame:
    """Distinct directed candidate pairs (qid, nid) sharing ≥1 band code,
    for :func:`embedding_near_duplicates` (its one caller; knn_edges
    scores its buckets in place with :func:`_bucket_topk`).

    Band rows carry only (id, band, code[, block]) — vectors never ride
    the candidate shuffle; they are re-joined by id afterwards."""
    codes = band_codes_udf(dim, bands, bits, seed)(F.col(vec_col))
    extra = [F.col(block_col).alias("_blk")] if block_col else []
    rows = df.select(
        F.col(id_col).alias("_id"), *extra, F.posexplode(codes).alias("_band", "_code")
    )
    keys = ["_band", "_code"] + (["_blk"] if block_col else [])
    a = rows.withColumnRenamed("_id", "qid")
    b = rows.withColumnRenamed("_id", "nid")
    return (
        a.join(b, keys)
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )


def knn_edges(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "euclidean",
    dim: int | None = None,
    bands: int = EDGE_BANDS,
    bits: int = EDGE_BITS,
    seed: int = EDGE_SEED,
) -> DataFrame:
    """Shared bucketed KNN-edge list: (qid, nid, d, rk) with rk 1..k.

    Plan shape: the band codes are exploded with the vectors riding the
    band rows (N·bands rows), one grouped Arrow kernel per (band, code)
    bucket (:func:`_bucket_topk`) scores the bucket's rows against each
    other, and one qid-partitioned window re-ranks the kernel's output by
    (d, nid).  No pair-level join, distinct or shuffle.

    Exact over the candidate set: the kernel scores a pair only in the
    bucket of the first band the two rows share, so a query's candidates
    are split across its buckets without overlap, and each bucket keeps
    the query's top-k of its share.  A neighbour in the query's top-k
    over all candidates, under the total order (d, nid), is in the top-k
    of its own share, so the window sees it; a query with fewer than k
    candidates gets all of them.  Each bucket's query rows are scored in
    blocks of at most ``_BLOCK_CELLS`` distance cells, so a skewed bucket
    costs time, not memory.

    Rows whose buckets yield < k candidates get a brute-force rescue pass
    against the full table — the rescue side is broadcast and is a
    correctness backstop only (if it grows, raise ``bits``, don't rely
    on it).
    """
    if dim is None:
        row = df.select(F.size(F.col(vec_col))).first()
        if row is None or row[0] is None:
            raise ValueError(
                f"cannot infer dim from an empty {vec_col!r} column — "
                "pass dim= explicitly"
            )
        dim = int(row[0])
    vecs = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))

    dist_udf = pair_dist_udf(dim, metric)

    def rank_topk(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(F.col("d").asc(), F.col("nid").asc())
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("qid", "nid", "d", "rk")
        )

    _pkg_root = _PKG_ROOT

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        import sys as _sys

        import numpy as _np
        import pandas as _pd

        if _pkg_root not in _sys.path:
            _sys.path.insert(0, _pkg_root)
        from sparkclean.sim.knn import _bucket_topk

        m = _np.stack(pdf["_v"].to_numpy()).astype(_np.float64)
        codes = _np.stack(pdf["_codes"].to_numpy())
        band = int(pdf["_band"].iloc[0])
        q, n, d = _bucket_topk(pdf["_id"].to_numpy(), m, codes, band, k, dim, metric)
        return _pd.DataFrame({"qid": q, "nid": n, "d": d})

    # Rank the LSH candidates first and PERSIST the (≤ N·k rows) result:
    # the bucket kernel runs exactly once, and the rescue decision reads
    # only the small edge list.  "ranked count < k" ⟺ "candidate count
    # < k" since ranked count = min(cand count, k), so applying the
    # rescue post-rank is equivalent to unioning candidates pre-rank (for
    # a rescued row the rescue set IS the complete pair set) — the DuckDB
    # twin keeps the pre-rank-union formulation, which yields the same
    # edge set.
    #
    # Cache lifecycle: the edge list stays pinned for the session (it is
    # the shared graph every consumer reads, like the reference's cached
    # knn_graph); MEMORY_AND_DISK so a huge graph spills instead of
    # evicting, and batch drivers (bench.py, tools/check_correctness.py)
    # clearCache() between queries.  At 10^12-row scale write the edge
    # list to a table instead of caching.
    from pyspark import StorageLevel

    id_type = df.schema[id_col].dataType.simpleString()
    codes = band_codes_udf(dim, bands, bits, seed)(F.col("_v"))
    local = (
        vecs.select("_id", "_v", codes.alias("_codes"))
        # _outer: the codes array always has `bands` entries, so the rows
        # are the same, and no size(_codes) > 0 filter is inferred — that
        # filter would be pushed below the projection and run the band
        # kernel a second time
        .select("*", F.posexplode_outer("_codes").alias("_band", "_code"))
        .groupBy("_band", "_code")
        .applyInPandas(bucket_topk, f"qid {id_type}, nid {id_type}, d double")
    )
    ranked = rank_topk(local).persist(StorageLevel.MEMORY_AND_DISK)

    have = ranked.groupBy("qid").agg(F.count(F.lit(1)).alias("_c"))
    needy = (
        vecs.select(F.col("_id").alias("qid"))
        .join(have, "qid", "left")
        .where(F.coalesce(F.col("_c"), F.lit(0)) < k)
        .select("qid")
        .persist()
    )
    # Rescue observability: the broadcast backstop is only safe while it
    # stays (near-)empty — measure it instead of assuming.  The count
    # reads the already-persisted edge list, so this adds one cheap job,
    # not a recompute; bench.py surfaces the number in BENCH.md.
    global LAST_RESCUE_COUNT
    LAST_RESCUE_COUNT = needy.count()
    if LAST_RESCUE_COUNT:
        import logging

        logging.getLogger(__name__).warning(
            "knn_edges rescue backstop engaged for %d query rows "
            "(bands=%d bits=%d) — raise bits if this grows with N",
            LAST_RESCUE_COUNT, bands, bits,
        )
    if not LAST_RESCUE_COUNT:
        # no under-connected rows (the common, measured case): the anti
        # join and the rescue union would both be no-ops — return the
        # persisted edge list directly and skip the dead plan subtree
        # (rescue join + 2 vector joins + window over an empty input,
        # which still costs AQE stages + codegen on every consumer job)
        needy.unpersist()
        return ranked
    rescue_pairs = F.broadcast(needy).join(
        vecs.select(F.col("_id").alias("nid")), F.col("qid") != F.col("nid")
    ).select("qid", "nid")
    rescued = (
        rescue_pairs.join(vecs.select(F.col("_id").alias("qid"), F.col("_v").alias("_qv")), "qid")
        .join(vecs.select(F.col("_id").alias("nid"), F.col("_v").alias("_nv")), "nid")
        .withColumn("d", dist_udf(F.col("_qv"), F.col("_nv")))
    )
    kept = ranked.join(F.broadcast(needy), "qid", "left_anti")
    return kept.unionByName(rank_topk(rescued))


def knn_edges_cte_sql(
    table: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "euclidean",
    dim: int = 64,
    bands: int = EDGE_BANDS,
    bits: int = EDGE_BITS,
    seed: int = EDGE_SEED,
) -> str:
    """DuckDB CTE chain ending in ``knn(qid, nid, d, rk)`` — the exact
    oracle twin of :func:`knn_edges` (same planes, same rescue rule, same
    tie order).  Embed inside ``WITH {this}, ...``."""
    band_rows = "\n  UNION ALL ".join(
        f"SELECT _id, {b} AS _band, {band_code_sql('_v', dim, b, bands, bits, seed)} AS _code FROM vrows"
        for b in range(bands)
    )
    dist = euclidean_sql("q._v", "n._v") if metric == "euclidean" else f"(1.0 - {cosine_sql('q._v', 'n._v')})"
    return f"""
vrows AS MATERIALIZED (SELECT {id_col} AS _id, {vec_col} AS _v FROM {table}),
brows AS MATERIALIZED (
  {band_rows}
), cand0 AS MATERIALIZED (
  SELECT DISTINCT a._id AS qid, b._id AS nid
  FROM brows a JOIN brows b ON a._band = b._band AND a._code = b._code AND a._id <> b._id
), ccnts AS (SELECT qid, count(*) AS c FROM cand0 GROUP BY 1),
needy AS (
  SELECT v._id AS qid FROM vrows v LEFT JOIN ccnts ON ccnts.qid = v._id
  WHERE coalesce(ccnts.c, 0) < {k}
), cand AS (
  SELECT qid, nid FROM cand0
  UNION SELECT ny.qid, v._id FROM needy ny JOIN vrows v ON v._id <> ny.qid
), kdists AS (
  SELECT c.qid, c.nid, {dist} AS d
  FROM cand c JOIN vrows q ON q._id = c.qid JOIN vrows n ON n._id = c.nid
), kranked AS (
  SELECT qid, nid, d,
         row_number() OVER (PARTITION BY qid ORDER BY d ASC, nid ASC) AS rk
  FROM kdists
), knn AS MATERIALIZED (SELECT qid, nid, d, rk FROM kranked WHERE rk <= {k})"""


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    dim: int | None = None,
    bands: int = EDGE_BANDS,
    bits: int = EDGE_BITS,
    seed: int = EDGE_SEED,
) -> DataFrame:
    """Cosine >= threshold pairs among banded-LSH candidates within a
    blocking key.  Candidate generation is the same OR-of-bands equi-join
    as :func:`knn_edges` (no all-pairs-within-block); at cosine ≥ 0.9 the
    band collision probability is ≈1, and recall vs the brute path is
    asserted in tests/test_knn_edges.py."""
    if dim is None:
        row = df.select(F.size(F.col(vec_col))).first()
        if row is None or row[0] is None:
            raise ValueError(
                f"cannot infer dim from an empty {vec_col!r} column — "
                "pass dim= explicitly"
            )
        dim = int(row[0])
    cand = _candidate_pairs(df, id_col, vec_col, dim, bands, bits, seed, block_col=block_col).where(
        F.col("qid") < F.col("nid")
    )
    vecs = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    pairs = (
        cand.join(vecs.select(F.col("_id").alias("qid"), F.col("_v").alias("_va")), "qid")
        .join(vecs.select(F.col("_id").alias("nid"), F.col("_v").alias("_vb")), "nid")
    )
    return (
        pairs.withColumn(
            "cosine", pair_dist_udf(dim, "cosine_sim")(F.col("_va"), F.col("_vb"))
        )
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("qid").alias("id_a"),
            F.col("nid").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def embedding_near_duplicates_sql(
    table: str,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    dim: int = 64,
    bands: int = EDGE_BANDS,
    bits: int = EDGE_BITS,
    seed: int = EDGE_SEED,
) -> str:
    band_rows = "\n  UNION ALL ".join(
        f"SELECT _id, _blk, {b} AS _band, {band_code_sql('_v', dim, b, bands, bits, seed)} AS _code FROM vrows"
        for b in range(bands)
    )
    cos = cosine_sql("q._v", "n._v")
    return f"""
WITH vrows AS MATERIALIZED (SELECT {id_col} AS _id, {vec_col} AS _v, {block_col} AS _blk FROM {table}),
brows AS MATERIALIZED (
  {band_rows}
), cand AS (
  SELECT DISTINCT a._id AS qid, b._id AS nid
  FROM brows a JOIN brows b
    ON a._band = b._band AND a._code = b._code AND a._blk = b._blk AND a._id < b._id
)
SELECT c.qid AS id_a, c.nid AS id_b, round({cos}, 6) AS cosine
FROM cand c JOIN vrows q ON q._id = c.qid JOIN vrows n ON n._id = c.nid
WHERE {cos} >= {threshold}"""


def embedding_near_duplicate_clusters(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    dim: int | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Embedding near-dup CLUSTERS — connected components over the
    verified :func:`embedding_near_duplicates` pair graph, the
    keep-one-per-cluster dedup shape shared with the text/phash paths
    (:func:`sparkclean.graph.components_from_pairs`).  Returns
    ``(id, cluster_rep, cluster_size)`` for every input row."""
    from ..graph import components_from_pairs

    pairs = embedding_near_duplicates(
        df, threshold, id_col, vec_col, block_col, dim
    )
    out = components_from_pairs(
        pairs, df.select(F.col(id_col).alias("id")), max_iter=max_iter
    )
    return out.withColumnRenamed("id", id_col)


def embedding_near_duplicate_clusters_sql(
    table: str,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`embedding_near_duplicate_clusters`."""
    from ..graph import components_sql

    return components_sql(
        embedding_near_duplicates_sql(
            table, threshold, id_col, vec_col, block_col, dim
        ),
        table,
        id_col,
    )
