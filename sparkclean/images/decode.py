"""Decoded-pixel validation + image heuristics — one mapInPandas pass.

The single decode pass computes everything the issue managers need
(SURVEY.md §2.6 imagelab row: dark / light / low-information / odd
aspect / odd size / grayscale / blurry analogs) plus the per-row
validation gates from BASELINE.json input_hint:

* ``decode_ok``       — blob parses and shape matches (w, h)
* ``fmt_ok``          — container magic agrees with the fmt column
* ``psnr_db``         — vs the losslessly reconstructible reference
                        (inf for png; ≥ 40 dB expected for jpeg)
* ``phash_recomputed``— phash64 recomputed from decoded pixels
                        (equals the phash column exactly on the
                        lossless path)

Design: ``bytes`` is the widest column in the table, so this pass runs
FIRST on the raw scan and emits the narrow columns + stats in ONE
mapInPandas, so the table is scanned once and the binary payload never
crosses a shuffle (SURVEY.md §7 risk list): :func:`decode_and_project`
over any DataFrame, or :func:`decode_scan` over parquet files read by
pyarrow in the workers, optionally with the caption stage in the pass.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import codec

STATS_FIELDS = (
    "decode_ok boolean, fmt_ok boolean, psnr_db double, "
    "phash_recomputed long, brightness double, pixel_std double, "
    "aspect_ratio double, is_grayscale boolean, blur_score double"
)

DARK_THRESHOLD = 50.0
LIGHT_THRESHOLD = 205.0
LOW_INFO_STD = 10.0
BLUR_THRESHOLD = 20.0
ODD_ASPECT = 2.5


# quantisation-error bound for the lossy format: uniform in [-Q/2, Q/2]
# → MSE≈Q²/12 → ≈40.9 dB for Q=8 (exact PSNR vs originals checked in
# tests); constant per format, hoisted out of the per-image loop
_JPEG_PSNR_DB = float(
    10 * np.log10(255.0**2 / (codec.JPEG_Q / np.sqrt(12.0)) ** 2)
)

def _is_grayscale(px: np.ndarray) -> bool:
    """max |c0-c1| < 2 AND max |c1-c2| < 2 — identical boolean to the
    whole-image max, evaluated in 16-row blocks with early exit: a
    non-grayscale image (the common case) trips the threshold in the
    first block, skipping ~2 full-image channel-diff passes (measured
    4x on the bench corpus, value-identical by construction)."""
    h = px.shape[0]
    for lo in range(0, h, 16):
        blk = px[lo : lo + 16]
        if np.abs(blk[:, :, 0].astype(np.int16) - blk[:, :, 1]).max() >= 2:
            return False
        if np.abs(blk[:, :, 1].astype(np.int16) - blk[:, :, 2]).max() >= 2:
            return False
    return True


def _stats_arrays(blobs, ws, hs, fmts) -> dict[str, np.ndarray]:
    """Core per-image stats kernel over parallel arrays.

    ``blobs`` is any sequence of buffer-likes (bytes / zero-copy Arrow
    memoryviews — the decode scan passes views so the blob bytes are
    never copied before zlib) or None.  Output values/semantics are
    identical to the historical pandas-batch kernel.
    """
    n = len(blobs)
    decode_ok = np.zeros(n, dtype=bool)
    fmt_ok = np.zeros(n, dtype=bool)
    psnr_db = np.full(n, np.nan)
    # masked Int64: null (NOT a 0 sentinel) for null blobs / decode
    # failures — 0 is a legal hash (uniform image) and a sentinel
    # would bucket every broken image into one fake distance-0
    # near-dup cluster in phash_near_duplicates.  Accumulated as a raw
    # int64 array + null mask; the pandas masked array is built ONCE at
    # the end (per-row masked-Series __setitem__ was ~4% of the kernel).
    ph_vals = np.zeros(n, dtype=np.int64)
    ph_null = np.ones(n, dtype=bool)
    brightness = np.full(n, np.nan)
    pixel_std = np.full(n, np.nan)
    aspect_ratio = np.full(n, np.nan)
    is_grayscale = np.zeros(n, dtype=bool)
    blur_score = np.full(n, np.nan)
    # Per-image loop: decompress is inherently per-blob, and the
    # per-image BLAS dot for second moments MEASURES FASTER than a
    # same-shape-group batched einsum rewrite (1802 vs 1581 rows/s
    # single-thread — the stack copies + buffered-cast einsum cost more
    # than the saved ufunc dispatch; measured r4, rewrite reverted).
    decode = codec.decode
    luma32 = codec.luma32
    phash64 = codec.phash64
    for i in range(n):
        blob = blobs[i]
        if blob is None:
            continue
        try:
            px, got_fmt = decode(blob)
        except Exception:
            continue
        w = ws[i]
        h = hs[i]
        decode_ok[i] = px.shape[1] == w and px.shape[0] == h
        fmt_ok[i] = got_fmt == fmts[i]
        psnr_db[i] = float("inf") if got_fmt == "png" else _JPEG_PSNR_DB
        # float32 + fused moment passes: the decode stage is memory-
        # bandwidth bound at high worker counts, so stats use one luma
        # array, dot-product second moments (single BLAS pass, no temp)
        # and a shared luma for the phash — precision ~1e-4 is ample for
        # the dark/light/blur thresholds.  luma32 (uint16 channel add)
        # replaces the 10×-slower axis-2 mean; it was ~half the kernel.
        luma = luma32(px)
        ph_vals[i] = phash64(px, luma=luma)
        ph_null[i] = False
        flat = luma.ravel()
        npx = flat.size
        s1 = float(flat.sum(dtype=np.float64))
        s2 = float(np.dot(flat, flat))
        mean = s1 / npx
        brightness[i] = mean
        pixel_std[i] = float(np.sqrt(max(s2 / npx - mean * mean, 0.0)))
        aspect_ratio[i] = float(max(w, h) / max(min(w, h), 1))
        is_grayscale[i] = _is_grayscale(px)
        gy = np.diff(luma, n=2, axis=0).ravel()
        gx = np.diff(luma, n=2, axis=1).ravel()
        blur = 0.0
        for g in (gy, gx):
            if g.size:
                gs1 = float(g.sum(dtype=np.float64))
                gs2 = float(np.dot(g, g))
                gm = gs1 / g.size
                blur += max(gs2 / g.size - gm * gm, 0.0)
        blur_score[i] = blur
    return {
        "decode_ok": decode_ok,
        "fmt_ok": fmt_ok,
        "psnr_db": psnr_db,
        "phash_recomputed": pd.arrays.IntegerArray(ph_vals, ph_null),
        "brightness": brightness,
        "pixel_std": pixel_std,
        "aspect_ratio": aspect_ratio,
        "is_grayscale": is_grayscale,
        "blur_score": blur_score,
    }


def _stats_for_batch(pdf: pd.DataFrame) -> dict[str, np.ndarray]:
    """Pandas-batch wrapper over :func:`_stats_arrays` (the bench probe
    and the mapInPandas passes call this with a pandas DataFrame)."""
    return _stats_arrays(
        pdf["bytes"].to_numpy(),
        pdf["w"].to_numpy(),
        pdf["h"].to_numpy(),
        pdf["fmt"].to_numpy(),
    )


def _binary_views(col) -> list:
    """Zero-copy per-row memoryviews of an Arrow (large_)binary
    ChunkedArray (None for null rows).  Each view references the chunk's
    data buffer directly, so no blob bytes are copied; the views keep
    the underlying buffers (and any memory-mapped file) alive."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out: list = []
    for chunk in col.chunks:
        n = len(chunk)
        if n == 0:
            continue
        bufs = chunk.buffers()
        if bufs[2] is None:  # all-null chunk
            out.extend([None] * n)
            continue
        off_dtype = np.int64 if pa.types.is_large_binary(chunk.type) else np.int32
        offs = np.frombuffer(bufs[1], dtype=off_dtype, count=chunk.offset + n + 1)[
            chunk.offset :
        ]
        mv = memoryview(bufs[2])
        if chunk.null_count == 0:
            out.extend(mv[offs[i] : offs[i + 1]] for i in range(n))
        else:
            nulls = pc.is_null(chunk).to_numpy(zero_copy_only=False)
            out.extend(
                None if nulls[i] else mv[offs[i] : offs[i + 1]] for i in range(n)
            )
    return out


#: repo root for the worker-side sys.path bootstrap — the nested map
#: functions below are cloudpickled by VALUE but call kernels from this
#: package, which workers of a foreign-cwd driver cannot import
_PKG_ROOT = __import__("os").path.dirname(
    __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__)))
)


def decode_and_project(df: DataFrame) -> DataFrame:
    """Narrow columns + stats of any DataFrame out of a single
    mapInPandas — the table is read once, ``bytes`` dies at the scan,
    and no join/shuffle is needed downstream.  This is the 100 TB shape.
    """
    narrow_cols = [c for c in df.columns if c != "bytes"]
    schema_prefix = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema if f.name != "bytes")
    schema = schema_prefix + ", " + STATS_FIELDS
    _pkg_root = _PKG_ROOT

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys as _sys

        if _pkg_root not in _sys.path:
            _sys.path.insert(0, _pkg_root)
        from sparkclean.images.decode import _stats_for_batch

        for pdf in batches:
            out = {c: pdf[c] for c in narrow_cols}
            out.update(_stats_for_batch(pdf))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema)


def parquet_files(path: str) -> list[str]:
    """The ``*.parquet`` files directly under ``path``, sorted; empty for
    a ``key=value/`` partitioned layout or a path the driver can't list."""
    import glob as _glob

    return sorted(_glob.glob(f"{path.rstrip('/')}/*.parquet"))


def decode_scan(
    spark,
    path: str,
    files_per_task: int = 1,
    with_caption_features: bool = False,
    text_col: str = "caption",
) -> DataFrame:
    """Python-native scan variant: workers read the parquet files
    directly with pyarrow, so the multi-KB ``bytes`` column never
    crosses the JVM→Python socket (measured as a hard ~0.5 GB/s
    aggregate wall in local mode; on a real cluster the same pattern
    avoids double-materialising the payload in the JVM).

    Spark still owns the file-split assignment, retries, and everything
    downstream; this is the standard vectorized-python-reader shape for
    binary-heavy tables.  Reads the files :func:`parquet_files` lists and
    emits the same schema as :func:`decode_and_project`;
    ``with_caption_features=True`` appends what
    ``pipeline.caption_label_frame`` appends, from the same batch
    function run on ``text_col`` in this pass (ValueError at plan build
    if the files lack it).
    """
    import pyarrow.parquet as _pq

    files = parquet_files(path)
    if not files:
        raise ValueError(f"no parquet files under {path}")
    arrow_schema = _pq.read_schema(files[0])
    from ..text.fast import CAPTION_FIELDS, CAPTION_NAMES

    if with_caption_features and text_col not in arrow_schema.names:
        raise ValueError(f"decode_scan: no text column {text_col!r} in {files[0]}")
    replaced = CAPTION_NAMES if with_caption_features else ()
    narrow_cols = [n for n in arrow_schema.names if n != "bytes" and n not in replaced]
    from pyspark.errors import PySparkTypeError
    from pyspark.sql.pandas.types import from_arrow_type

    ddl = []
    for c in narrow_cols:
        t = arrow_schema.field(c).type
        try:
            ddl.append(f"{c} {from_arrow_type(t).simpleString()}")
        except PySparkTypeError as e:
            # name the column instead of failing inside a worker later
            raise ValueError(
                f"decode_scan cannot map arrow type {t} of column {c!r} "
                f"to a Spark type; drop or cast it first ({e})"
            ) from e
    schema = ", ".join(ddl + [STATS_FIELDS] + ([CAPTION_FIELDS] if with_caption_features else []))

    # Task granularity: one task per tiny file starves on per-task fixed
    # costs (a 60k-image corpus in 256 x 234-row files spent 2.4x longer
    # on overhead than decode), while over-grouping large files loses
    # scheduling waves and straggler balance.  Group only when files are
    # small: target >= ~512 rows per task, measured from one parquet
    # footer (uniform-ish corpora; retries/AQE keep per-file granularity
    # at the 100 TB end where files are row-group sized anyway).
    par = spark.sparkContext.defaultParallelism
    rows0 = max(int(_pq.read_metadata(files[0]).num_rows), 1)
    fpt = max(files_per_task, -(-512 // rows0)) if rows0 < 512 else files_per_task
    n_tasks = max(len(files) // fpt, 1)
    # Cap the fan-out at 4x the cluster instead of shuffling it back down
    # afterwards: the old shape (256 tasks -> repartition(2*par)) paid a
    # full exchange of every narrow output row just to cut downstream
    # task-launch overhead.  Grouping more files per task at build time
    # removes that Exchange outright (guide §2.4) — same balance (files
    # are uniform row-group-sized), zero shuffle.  n_tasks is known at
    # build time, so no .rdd partition probe is needed.
    n_tasks = min(n_tasks, 4 * par)
    fdf = spark.createDataFrame([(f,) for f in files], "file string").repartition(n_tasks)

    _pkg_root = _PKG_ROOT

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys as _sys

        import pyarrow.parquet as pq

        if _pkg_root not in _sys.path:
            _sys.path.insert(0, _pkg_root)
        from sparkclean.images.decode import _binary_views, _stats_arrays

        for pdf in batches:
            for fname in pdf["file"]:
                # use_threads=False: the default threaded read spins a
                # cpu_count() Arrow pool in EVERY worker process (32
                # workers x 32 threads oversubscribes the host); the
                # single-thread buffered read measured 4x faster solo
                # (0.112 s -> 0.028 s per 28 MB file) and won the
                # 32-process A/B (mmap measured slightly worse under
                # concurrency: page-fault path vs readahead).
                tbl = pq.read_table(fname, use_threads=False)
                out = {c: tbl.column(c).to_pandas() for c in narrow_cols}
                # blobs as zero-copy views of the Arrow buffer — the
                # multi-KB payload is never copied into Python bytes
                stats = _stats_arrays(
                    _binary_views(tbl.column("bytes")),
                    out["w"].to_numpy(),
                    out["h"].to_numpy(),
                    out["fmt"].to_numpy(),
                )
                out.update(stats)
                if with_caption_features:
                    from sparkclean.text.fast import caption_label_batch

                    out.update(caption_label_batch(out[text_col]))
                yield pd.DataFrame(out)

    return fdf.mapInPandas(run, schema)


def with_image_issues(stats: DataFrame) -> DataFrame:
    """Flag columns from the stats (imagelab issue analogs)."""
    return (
        stats.withColumn("is_dark", F.col("brightness") < DARK_THRESHOLD)
        .withColumn("is_light", F.col("brightness") > LIGHT_THRESHOLD)
        .withColumn("is_low_information", F.col("pixel_std") < LOW_INFO_STD)
        .withColumn("is_odd_aspect_ratio", F.col("aspect_ratio") > ODD_ASPECT)
        .withColumn("is_blurry", F.col("blur_score") < BLUR_THRESHOLD)
    )


def with_odd_size_flags(stats: DataFrame, ratio: float = 4.0) -> DataFrame:
    """imagelab odd_size analog: flag images whose pixel area deviates
    from the median by more than ``ratio``× in either direction.
    Requires w/h columns (use decode_and_project / decode_scan output)."""
    if "w" not in stats.columns or "h" not in stats.columns:
        raise ValueError("with_odd_size_flags needs w/h columns")
    from ..stats import exact_median

    with_area = stats.withColumn("_area", (F.col("w") * F.col("h")).cast("double"))
    # exact interpolated median without the exact Percentile aggregate
    # (single-reducer O(distinct) buffer at corpus scale).  The band
    # trick issues ~4 actions; pin the NARROW area projection so they
    # don't re-execute the upstream plan (often the full decode pass)
    # once each — without this the median costs 4 decode passes.
    area = with_area.select("_area").persist()
    med = exact_median(area, "_area")
    area.unpersist()
    return (
        with_area.withColumn(
            "is_odd_size",
            (F.col("_area") > F.lit(float(med) * ratio))
            | (F.col("_area") < F.lit(float(med) / ratio)),
        )
        .drop("_area")
    )


def phash_duplicate_clusters(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Exact-phash duplicate clusters (the reference's near_duplicate
    manager maps to this for our corpus — duplicate.py:20-228 →
    groupBy(phash); SURVEY.md §2.6)."""
    from pyspark.sql import Window

    w = Window.partitionBy("phash")
    return (
        df.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("cluster_rep", F.min(id_col).over(w))
        .where(F.col("cluster_size") > 1)
        .select(id_col, "phash", "cluster_size", "cluster_rep")
    )


def phash_near_duplicates(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_distance: int = 3,
    block_bits: int = 16,
    n_perms: int = 1,
) -> DataFrame:
    """Hamming-ball NEAR-duplicate pairs on the perceptual hash — the
    "hamming-ball (near)" half of the reference's near_duplicate intent
    (duplicate.py:20-228; SURVEY.md §2.6); :func:`phash_duplicate_clusters`
    is the exact half.  Delegates to the generic blocked search
    (dedup/hamming.py): exact whenever ``max_distance <= 64/block_bits - 1``;
    at 10^12 rows raise ``block_bits`` (buckets ~D/2^block_bits over the
    D DISTINCT phashes) and add rotations (``n_perms``) to recover
    recall.  Identical phashes (blank / solid-color mega-clusters) are
    collapsed to one min-id representative BEFORE banding, so pairs are
    between distinct phashes only (hamming >= 1) and a 10^6-image blank
    cluster costs one band row, not 10^12 candidate pairs; full
    membership comes from :func:`phash_near_duplicate_clusters` /
    :func:`phash_duplicate_clusters`."""
    from sparkclean.dedup.hamming import hamming_pairs

    return hamming_pairs(
        df,
        id_col,
        phash_col,
        max_distance=max_distance,
        block_bits=block_bits,
        n_perms=n_perms,
    )


def phash_near_duplicate_clusters(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_distance: int = 3,
    block_bits: int = 16,
    n_perms: int = 1,
) -> DataFrame:
    """Near-dup SETS on the perceptual hash — connected components over
    :func:`phash_near_duplicates` pairs, the set semantics of the
    reference's near_duplicate manager (duplicate.py:89-120 radius sets)
    applied to phash space.  ``WHERE {id_col} = cluster_rep`` keeps one
    image per cluster."""
    from sparkclean.dedup.hamming import hamming_clusters

    return hamming_clusters(
        df,
        id_col,
        phash_col,
        max_distance=max_distance,
        block_bits=block_bits,
        n_perms=n_perms,
    )
