"""Distributed order-statistics primitives.

Two scale-killers keep reappearing in feature-space managers:

* an exact interpolated median via Spark's ``percentile`` aggregate —
  which materialises the whole value multiset in ONE final aggregation
  buffer (O(distinct) memory through a single reducer; an OOM at
  10^12 unrounded doubles);
* a global ``row_number`` via an unpartitioned ``Window.orderBy`` —
  which serialises the whole table through one task.

Both have shuffle-bounded replacements:

* :func:`rows_at_ranks` — the one exact rank selection: the rows at
  given ranks under ``(key ASC NULLS LAST, ties ASC)``.
  ``approxQuantile`` bounds a ~2·err·N-row band around the target
  ranks and only the band is ranked (range-partitioned when it is too
  big for one task).  :func:`exact_quantile` reads the exact
  interpolated quantile (same formula as Spark ``percentile`` / DuckDB
  ``quantile_cont``) off the two straddling order statistics —
  bit-identical to the exact aggregate, O(err·N) memory — and
  ``quality.issues.bottom_n_flags`` turns the row at rank n into its
  cutoff predicate.
* :func:`global_prefix_sum` — repartitionByRange on the order key, an
  in-partition running sum, and a broadcast prefix-sum of
  per-partition totals (the pattern proven by
  ``valuation.non_iid_ks``'s ECDF).  :func:`global_row_number` is its
  exclusive prefix of a unit weight plus one.  ``group_cols``
  generalises both to P independent orderings in one pass (used by the
  non-IID permutation test).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F


#: target row count for the single-task band rank — the band window is
#: deliberately unpartitioned (it is tiny), so cap its size regardless
#: of N by shrinking the approxQuantile error with the data
_BAND_TARGET_ROWS = 1_000_000
_ERR_FLOOR = 1e-7  # GK-sketch memory grows ~1/err — keep the driver safe


def _adaptive_err(n: int, err: float | None) -> float:
    """Band half-width as a fraction of n.  With the default (err=None)
    the band is ≤ ~2·_BAND_TARGET_ROWS rows at ANY n: 0.002 for small
    inputs, shrinking as 1e6/n once n passes 5·10^8, floored at 1e-7
    (where the Greenwald-Khanna summary is ~10^7 entries — hundreds of
    MB of driver memory).  Beyond n ≈ 10^13 the floor makes the band
    exceed the target; :func:`rows_at_ranks` then hands it to the
    range-partitioned selection, which RECURSES (two-stage refinement),
    so there is no hard n ceiling."""
    if err is not None:
        return err
    return max(_ERR_FLOOR, min(0.002, _BAND_TARGET_ROWS / max(n, 1)))


def _rows_at_ranks_selection(
    df: DataFrame,
    order_cols: list[str],
    need: set[int],
    depth: int = 0,
) -> dict[int, Row]:
    """Exact rows at the given 1-indexed global ranks under the total
    order ``order_cols``, with no data-sized single-task sort anywhere.

    Distributed selection: range-partition on the order keys, collect
    ONLY the P per-partition counts (P = shuffle partitions, constant at
    any data scale), locate each needed rank's partition by prefix sum,
    and rank just those partitions with a partition-local window.  A
    target partition still bigger than ``_BAND_TARGET_ROWS`` recurses —
    each level shrinks the candidate set ~P×, so 2-3 levels cover any n.
    ``order_cols`` must be a total order (unique keys) for the range
    partitioner to make progress under heavy ties; callers append a
    unique id or a synthetic tiebreak column.  Returns {rank: Row}.
    """
    spark = df.sparkSession
    num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    keys = [F.col(c).asc() for c in order_cols]
    part = (
        df.repartitionByRange(num_parts, *keys)
        .withColumn("_grr_pid", F.spark_partition_id())
        .persist()
    )
    try:
        cnts = sorted(
            (r["_grr_pid"], r["_grr_c"])
            for r in part.groupBy("_grr_pid")
            .agg(F.count(F.lit(1)).alias("_grr_c"))
            .collect()
        )
        total = sum(c for _, c in cnts)
        offsets: dict[int, tuple[int, int]] = {}
        run = 0
        for pid, c in cnts:
            offsets[pid] = (run, c)
            run += c
        groups: dict[int, set[int]] = {}
        for k in need:
            if not 1 <= k <= total:
                raise ValueError(f"rank {k} outside [1, {total}]")
            for pid, (off, c) in offsets.items():
                if off < k <= off + c:
                    groups.setdefault(pid, set()).add(k)
                    break
        w = Window.partitionBy("_grr_pid").orderBy(*keys)
        out: dict[int, Row] = {}
        for pid, ks in groups.items():
            off, c = offsets[pid]
            shifted = sorted(int(k - off) for k in ks)
            sub = part.where(F.col("_grr_pid") == pid)
            if c > _BAND_TARGET_ROWS and depth < 4 and c < total:
                rows = _rows_at_ranks_selection(
                    sub.drop("_grr_pid"), order_cols, set(shifted), depth + 1
                )
            else:
                rows = {
                    r["_grr_rnk"]: r
                    for r in sub.withColumn("_grr_rnk", F.row_number().over(w))
                    .where(F.col("_grr_rnk").isin(shifted))
                    .collect()
                }
            for k in ks:
                out[k] = rows[k - off]
        return out
    finally:
        part.unpersist()


def _rank_band(
    band: DataFrame, key: str, ties: list[str], ranks: set[int], size: int
) -> dict[int, Row]:
    """Rows at ``ranks`` of ``band`` (``size`` rows) under (key ASC NULLS
    LAST, ties ASC): one window rank through a single (tiny) task within
    the budget, else the range-partitioned selection.  A band over the
    budget has keys all non-null or all NULL (see :func:`rows_at_ranks`),
    so the selection's plain ASC order agrees; without tie columns a
    synthetic tiebreak keeps its range partitioner splitting tie blocks
    (the key at a rank is tie-order-invariant)."""
    if size <= _BAND_TARGET_ROWS:
        w = Window.orderBy(F.col(key).asc_nulls_last(), *[F.col(c).asc() for c in ties])
        return {
            r["_grr_rn"]: r
            for r in band.withColumn("_grr_rn", F.row_number().over(w))
            .where(F.col("_grr_rn").isin(sorted(ranks)))
            .select("_grr_rn", key, *ties)
            .collect()
        }
    cols = [key, *ties]
    if not ties:
        band = band.withColumn("_grr_tb", F.monotonically_increasing_id())
        cols.append("_grr_tb")
    return _rows_at_ranks_selection(band.select(*cols), cols, ranks)


def rows_at_ranks(
    df: DataFrame,
    key: str,
    ties: list[str],
    need: set[int],
    total: int,
    err: float | None = None,
) -> dict[int, Row]:
    """The rows of ``df`` (``total`` rows) at the given 1-indexed ranks
    under ``(key ASC NULLS LAST, ties ASC)``, as {rank: Row} with the
    ``key`` and ``ties`` columns — the one exact rank selection behind
    :func:`exact_quantile` and ``quality.issues.bottom_n_flags``.

    * ``total`` within ``_BAND_TARGET_ROWS``: one window rank over every
      row, no approxQuantile and no band count.
    * Otherwise ``approxQuantile`` bounds a band of keys around the
      ranks, and ONE agg counts the rows below it, in it and with a
      non-null key.  The band's MEASURED size routes it, not the
      2·err·N estimate: heavy ties at its edge can inflate it
      arbitrarily.  An estimate that overshot the lowest rank extends
      the band to the bottom; one that undershot the top rank extends
      it upward.  Ranks past the non-null keys come from the NULL-key
      tail, ranked by ``ties``.
    * Each band is ranked by :func:`_rank_band`: one task within the
      budget, else the range-partitioned selection, so no task ever
      sorts more than ~max(band/P, ``_BAND_TARGET_ROWS``) rows.
    """
    if total <= _BAND_TARGET_ROWS:
        return _rank_band(df, key, ties, need, total)
    kv = F.col(key)
    e = _adaptive_err(total, err)
    lo_q = max(0.0, (min(need) - 1) / total - 2 * e)
    hi_q = min(1.0, max(need) / total + 2 * e)
    # no quantiles when every key is NULL: the counts below read 0 and
    # every rank falls in the NULL-key tail
    lo, hi = df.approxQuantile(key, [lo_q, hi_q], e / 2) or (None, None)
    cnt = df.agg(
        F.count(F.when(kv < lo, 1)).alias("_grr_below"),
        F.count(F.when((kv >= lo) & (kv <= hi), 1)).alias("_grr_band"),
        F.count(kv).alias("_grr_nn"),
    ).first()
    c_below, c_band, c_nn = (int(cnt[c]) for c in ("_grr_below", "_grr_band", "_grr_nn"))
    out: dict[int, Row] = {}
    tail = {k for k in need if k > c_nn}
    if tail:
        got = _rank_band(
            df.where(kv.isNull()), key, ties, {k - c_nn for k in tail}, total - c_nn
        )
        out.update({k: got[k - c_nn] for k in tail})
    head = need - tail
    if not head:
        return out
    band = (kv >= F.lit(lo)) & (kv <= F.lit(hi))
    if c_below >= min(head):
        # the lower estimate overshot the lowest rank (heavy ties):
        # extend the band to the bottom; its true size is still known
        band, c_band, c_below = kv <= F.lit(hi), c_band + c_below, 0
    if max(head) - c_below > c_band:
        # the upper estimate undershot the top rank: extend the band up
        band = (kv >= F.lit(lo)) if c_below else kv.isNotNull()
        c_band = c_nn - c_below
    got = _rank_band(df.where(band), key, ties, {k - c_below for k in head}, c_band)
    out.update({k: got[k - c_below] for k in head})
    return out


def exact_quantile(
    df: DataFrame, col: str, q: float = 0.5, err: float | None = None
) -> float | None:
    """Exact linear-interpolated quantile of ``col`` without an exact
    ``Percentile`` aggregate anywhere in the plan.

    Matches ``percentile(col, q)`` (Spark) and ``quantile_cont(col, q)``
    (DuckDB) bit-for-bit: with n non-null values sorted ascending and
    pos = (n-1)·q, the result is v[⌊pos⌋] + (pos-⌊pos⌋)·(v[⌈pos⌉]-v[⌊pos⌋]).
    The two order statistics come from :func:`rows_at_ranks`, so only
    approxQuantile bands are ever ranked through a single task; there
    is no data-sized sort anywhere.  ``q`` outside [0, 1] (or NaN)
    raises ``ValueError`` before any Spark job, as ``percentile`` does.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"exact_quantile: q must be in [0, 1], got {q!r}")
    vals = df.select(F.col(col).cast("double").alias("_v")).where(
        F.col("_v").isNotNull()
    )
    n = vals.count()
    if n == 0:
        return None
    if n == 1:
        return float(vals.first()["_v"])
    pos = (n - 1) * q
    k1 = int(math.floor(pos))
    k2 = int(math.ceil(pos))
    g = pos - k1
    got = rows_at_ranks(vals, "_v", [], {k1 + 1, k2 + 1}, n, err)
    v1 = got[k1 + 1]["_v"]
    v2 = got[k2 + 1]["_v"]
    return float(v1) if k1 == k2 else float(v1 + g * (v2 - v1))


def exact_median(df: DataFrame, col: str, err: float | None = None) -> float | None:
    return exact_quantile(df, col, 0.5, err)


def global_prefix_sum(
    df: DataFrame,
    weight_col: str,
    order_cols: list[str],
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """EXCLUSIVE global running sum of ``weight_col`` under the
    ``order_cols`` total order — ``sum(w) OVER (PARTITION BY group_cols
    ORDER BY ... ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)`` without the
    unpartitioned window that would serialise the table through one
    task.

    Range-partition on the (group, order) keys, an in-partition
    exclusive running sum, and broadcast per-partition weight totals
    prefix-summed across partitions.  With ``group_cols`` the sum
    restarts per group (P independent orderings, one shuffle).  The
    weight is accumulated as ``long`` (10^12 rows x 10^6-token docs
    stays within 2^63; doubles would lose exactness past 2^53).

    ``num_partitions`` defaults to the session's shuffle-partition
    setting, so partition sizes track the cluster config instead of a
    constant (a fixed 32 would mean 3·10^10 rows per range partition at
    10^12 rows).  ``order_cols`` must be a total order per group
    (tie-break on a unique id) for the result to be deterministic."""
    group_cols = group_cols or []
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    keys = [F.col(c) for c in group_cols + order_cols]
    part = (
        df.repartitionByRange(num_partitions, *keys)
        .withColumn("_grr_pid", F.spark_partition_id())
        .persist()  # pin sampled range boundaries for both branches
    )
    w_in = (
        Window.partitionBy("_grr_pid", *group_cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = F.col(weight_col).cast("long")
    run = part.withColumn(
        "_grr_run", F.coalesce(F.sum(w).over(w_in), F.lit(0).cast("long"))
    )
    ptot = part.groupBy("_grr_pid", *group_cols).agg(F.sum(w).alias("_grr_c"))
    w_p = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("_grr_pid").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = ptot.select(
        "_grr_pid",
        *group_cols,
        F.coalesce(F.sum("_grr_c").over(w_p), F.lit(0).cast("long")).alias(
            "_grr_off"
        ),
    )
    return (
        run.join(F.broadcast(offs), ["_grr_pid", *group_cols])
        .withColumn(out_col, (F.col("_grr_run") + F.col("_grr_off")).cast("long"))
        .drop("_grr_pid", "_grr_run", "_grr_off")
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
    group_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Total-order ``row_number`` over ``order_cols`` (restarting per
    ``group_cols``) without an unpartitioned window: the exclusive
    :func:`global_prefix_sum` of a unit weight, plus one.  The rank is
    a ``long``: this helper exists FOR the >2^31-row regime, where an
    int would overflow (ANSI throw / silent wrap)."""
    return (
        global_prefix_sum(
            df.withColumn("_grr_one", F.lit(1)),
            "_grr_one",
            order_cols,
            out_col,
            num_partitions,
            group_cols,
        )
        .withColumn(out_col, F.col(out_col) + F.lit(1))
        .drop("_grr_one")
    )
