"""Parallelism & skew handling (SURVEY.md §2.12).

:func:`ensure_parallelism` — small local inputs often arrive as one
parquet split; fan them out to the session's core count before the
CPU-heavy projection stages.  At 100 TB the scan already has thousands
of splits and this is a no-op (condition never triggers).

Hot keys (hot language, giant phash/caption duplicate clusters) are left
to AQE skew-join splitting, which session.py enables globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


_SIZE_UNITS = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _size_conf(spark, key: str, default: int) -> int:
    """Parse a Spark byte-size conf value ('134217728b', '128MB', ...)."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    num = raw
    mult = 1
    for suffix in ("tb", "gb", "mb", "kb", "t", "g", "m", "k", "b"):
        if raw.endswith(suffix):
            num = raw[: -len(suffix)]
            mult = _SIZE_UNITS[suffix[0]]
            break
    try:
        return int(float(num) * mult)
    except ValueError:
        return default


_SHUFFLE_OPS = (
    "Join", "Aggregate", "Repartition", "Window", "Sort", "Deduplicate",
    "Distinct", "GlobalLimit", "Intersect", "Except",
)


def _is_pure_scan(df: DataFrame) -> bool:
    """True when the (analyzed, not yet physically planned) plan is
    scan+narrow-only, so leaf-file arithmetic predicts the partition
    count.  Plans with exchanges above the scan still report the leaf
    files via inputFiles(), which would misestimate — those fall back to
    the df.rdd probe."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    return not any(op in plan for op in _SHUFFLE_OPS)


def ensure_parallelism(
    df: DataFrame, target: int | None = None, max_factor: int = 4
) -> DataFrame:
    """Clamp partition count into [target, target·max_factor].

    Too few partitions → idle cores; far too many → the multi-job
    downstream phase (cache materialise, thresholds agg, issue count,
    quantile, bottom-n, final write) pays driver-side task-launch
    overhead per job × per partition, which is serial and dominated the
    scaling profile (512-task × 8-job runs spent ~35 s in scheduling).
    The repartition shuffles only the narrow projection — cheap and
    fully parallel.
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    sc = spark.sparkContext
    target = target or sc.defaultParallelism
    # Partition-count probe WITHOUT df.rdd: converting a python-source
    # plan to an RDD forces physical planning + Arrow conversion (~3 s
    # measured on the decode path).  For file scans we REPLAY Spark's
    # split-packing arithmetic (total bytes + per-file open cost over
    # maxPartitionBytes) from free file metadata — raw file count is
    # neither a lower nor an upper bound once packing/splitting kicks in.
    # Unstatable URIs (object stores) and scan-free plans fall back to
    # the rdd probe.
    n = None
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files and _is_pure_scan(df):
        try:
            import os
            from urllib.parse import unquote, urlparse

            def local_path(uri: str) -> str:
                parsed = urlparse(uri)
                if parsed.scheme not in ("", "file"):
                    raise ValueError(f"non-local scheme {parsed.scheme!r}")
                return unquote(parsed.path)

            total = sum(os.path.getsize(local_path(f)) for f in files)
            mpb = _size_conf(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
            open_cost = _size_conf(spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
            # Replay FilePartition's full maxSplitBytes formula, including
            # the bytesPerCore clamp — without it, small inputs undercount
            # actual scan partitions and trigger a needless repartition.
            total_with_cost = total + open_cost * len(files)
            bytes_per_core = total_with_cost // max(sc.defaultParallelism, 1)
            max_split = min(mpb, max(open_cost, bytes_per_core))
            n = max(1, -(-total_with_cost // max(max_split, 1)))
        except Exception:
            n = len(files)
    if n is None:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    if n > target * max_factor:
        return df.repartition(target * 2)
    return df

