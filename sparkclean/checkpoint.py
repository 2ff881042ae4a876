"""Per-partition (bucket) checkpointing with lineage counters.

The job writes its output partitioned by a stable bucket column
(``pmod(xxhash64(image_id), n_buckets)`` — content-addressed, so
identical for any input partitioning).  The output layout is one
parquet file per bucket, ``_bucket=<b>/part-<run_id>-<b>.parquet``,
with ``run_id`` drawn once per call.  The frame is clustered by bucket
into at most ``defaultParallelism`` tasks and sorted by bucket within
each; one Python stage (``mapInArrow``) streams a task's rows into one
pyarrow ``ParquetWriter`` per bucket in turn, one Arrow batch per write
call, and yields the lineage counters (row counts, keep/drop counts and
the dropped-by-rule histogram of BASELINE.json) of exactly the rows it
wrote.  The driver builds the JSON manifest beside the output from
them: the checkpoint is two Spark jobs (the bucket exchange and the
writing stage), with no second pass over the frame.

Why pyarrow rather than Spark's writer: pip pyspark ships no libhadoop,
so Hadoop's local file system forks ``chmod``/``ls`` for every file it
creates (~6 fork/execs and ~15 ms of task time per file).  The files
read back like Spark's own: the frame's Spark schema is in the footer
under ``org.apache.spark.sql.parquet.row.metadata`` (beside
``org.apache.spark.version``), and there is no ``ARROW:schema`` key.

A killed run is safe to resume.  A task writes each bucket to a hidden
temp file whose name is unique per task attempt
(``.part-<run_id>-<b>.<uuid>.tmp``, skipped by Spark and by
``*.parquet`` globs), then removes the directory's other ``*.parquet``
files and the temp files of other runs, then ``os.replace``s the temp
file into place.  A killed task therefore leaves at most a temp file, an
empty bucket directory or a complete file.  A bucket enters the manifest
only when the driver saves it, after every task has succeeded, so a
bucket whose write was cut is still pending on resume; it is rewritten
from scratch, and the rewrite removes the leftovers.

Resume semantics: buckets listed in the manifest are skipped entirely
(their input rows are filtered out before any work happens — predicate
pushdown prunes them at the scan).

The writer and the manifest use ``os`` on ``output_dir``: it must be a
local path that the driver and every executor see as the same directory
(local mode, or a shared mount).  A URI (``hdfs://``, ``s3a://``,
``file:``) is rejected.

On a real deployment the manifest write happens next to the Iceberg
snapshot commit; here it is a plain JSON file (parquet dir stands in for
the table).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MANIFEST = "_sparkclean_manifest.json"

#: footer keys Spark's parquet writer sets: ``spark.read`` and
#: ``iceberg._spark_schema_of`` take the schema from the first; the
#: version tells Spark's reader the dates are proleptic Gregorian, so no
#: read-side rebase setting applies to them
_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"
_SPARK_VERSION_METADATA = "org.apache.spark.version"

#: what each writing task yields: one row per bucket it wrote
_COUNTS_DDL = "_bucket int, rows long, kept long, dropped map<string, long>"

#: repo root for the worker-side sys.path bootstrap — the nested write
#: function is cloudpickled by VALUE but calls the writer below, which
#: workers of a foreign-cwd driver cannot import
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bucket_col(id_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")


def load_manifest(output_dir: str) -> dict:
    path = os.path.join(output_dir, MANIFEST)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"buckets": {}, "counters": {}}


def _save_manifest(output_dir: str, manifest: dict) -> None:
    os.makedirs(output_dir, exist_ok=True)
    tmp = os.path.join(output_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(output_dir, MANIFEST))


def run_checkpointed(
    df: DataFrame,
    output_dir: str,
    id_col: str = "image_id",
    n_buckets: int = 64,
    keep_col: str = "keep",
    reason_col: str | None = "drop_reason",
) -> dict:
    """Write ``df`` to ``output_dir`` partitioned by bucket, skipping
    buckets already recorded in the manifest.  Returns the manifest.

    Each pending bucket with rows becomes exactly one file,
    ``_bucket=<b>/part-<run_id>-<b>.parquet``, written by one of
    ``min(pending buckets, defaultParallelism)`` tasks.  The per-bucket
    counters come from the stage that writes the rows, so they describe
    the rows written.  ``df`` must still be deterministic across runs:
    a resume re-reads the input and skips the recorded buckets' rows.
    ``output_dir`` must be a local path, not a URI (ValueError, raised
    before anything is written).
    """
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]+:", output_dir):
        raise ValueError(
            f"run_checkpointed writes with os on a local path; got the URI {output_dir!r}"
        )
    spark = df.sparkSession

    manifest = load_manifest(output_dir)
    done = set(int(b) for b in manifest["buckets"])
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return manifest

    work = df.withColumn("_bucket", bucket_col(id_col, n_buckets))
    if done:
        work = work.where(~F.col("_bucket").isin([int(b) for b in done]))
    run_id = uuid.uuid4().hex[:16]
    metadata = {_SPARK_ROW_METADATA: df.schema.json(), _SPARK_VERSION_METADATA: spark.version}
    keep = keep_col if keep_col in df.columns else None
    reason = reason_col if reason_col and reason_col in df.columns else None
    _pkg_root = _PKG_ROOT

    def write(batches):
        import sys as _sys

        if _pkg_root not in _sys.path:
            _sys.path.insert(0, _pkg_root)
        from sparkclean.checkpoint import _write_sorted_buckets

        yield from _write_sorted_buckets(batches, output_dir, run_id, metadata, keep, reason)

    # Hashing _bucket into an explicit task count sends each bucket to
    # exactly one task, so each bucket is one file, written in one wave;
    # the sort makes a bucket's rows one run of the task's stream, so a
    # task holds one open writer and never its whole partition.  The
    # count must be explicit: with none, AQE coalesces the exchange into
    # a single task that writes every bucket serially.
    n_tasks = min(len(pending), spark.sparkContext.defaultParallelism)
    stats = {
        r["_bucket"]: r
        for r in work.repartition(n_tasks, "_bucket")
        .sortWithinPartitions("_bucket")
        .mapInArrow(write, _COUNTS_DDL)
        .collect()
    }

    now = time.time()
    for b in pending:
        s = stats.get(b)
        manifest["buckets"][str(b)] = {
            "rows": s["rows"] if s else 0,
            "kept": s["kept"] if s else 0,
            "dropped_by_rule": dict(s["dropped"]) if s else {},
            "completed_at": now,
        }
    totals = manifest["counters"]
    totals["rows_scored"] = sum(v["rows"] for v in manifest["buckets"].values())
    totals["rows_kept"] = sum(v["kept"] for v in manifest["buckets"].values())
    hist: dict[str, int] = {}
    for v in manifest["buckets"].values():
        for k, c in v["dropped_by_rule"].items():
            hist[k] = hist.get(k, 0) + c
    totals["dropped_by_rule"] = hist
    _save_manifest(output_dir, manifest)
    return manifest


def _write_sorted_buckets(batches, output_dir, run_id, metadata, keep_col, reason_col):
    """Write one task's Arrow batches, sorted by ``_bucket``, as one
    file per bucket, and yield one counter row per bucket written.  At
    most one batch (a slice of one) is held and one writer is open at a
    time; an empty partition yields nothing."""
    import numpy as np
    import pyarrow as pa

    counts: list[dict] = []
    cur: _BucketFile | None = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        keys = batch.column("_bucket").to_numpy()
        data = batch.select([n for n in batch.schema.names if n != "_bucket"])
        cuts = [0, *(np.flatnonzero(keys[1:] != keys[:-1]) + 1).tolist(), len(keys)]
        for lo, hi in zip(cuts, cuts[1:]):
            run = data.slice(lo, hi - lo)
            if cur is None or cur.bucket != keys[lo]:
                if cur is not None:
                    counts.append(cur.commit())
                cur = _BucketFile(output_dir, run_id, int(keys[lo]), run, metadata)
            cur.write(run, keep_col, reason_col)
    if cur is not None:
        counts.append(cur.commit())
    if counts:
        yield pa.RecordBatch.from_pylist(
            counts,
            schema=pa.schema(
                [
                    ("_bucket", pa.int32()),
                    ("rows", pa.int64()),
                    ("kept", pa.int64()),
                    ("dropped", pa.map_(pa.string(), pa.int64())),
                ]
            ),
        )


class _BucketFile:
    """One bucket's file while a task writes it: the open writer on its
    temp file, and the counters of the rows written so far."""

    def __init__(self, output_dir: str, run_id: str, bucket: int, first, metadata: dict):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        import pyarrow.types as pt

        self.bucket = bucket
        self.run_id = run_id
        self.metadata = metadata
        self.dir = os.path.join(output_dir, f"_bucket={bucket}")
        self.name = f"part-{run_id}-{bucket}.parquet"
        os.makedirs(self.dir, exist_ok=True)
        self.tmp = os.path.join(self.dir, f".part-{run_id}-{bucket}.{uuid.uuid4().hex}.tmp")
        # pyarrow dictionary-encodes every column; Spark's writer drops
        # the dictionary where it does not shrink the column.  Keep one
        # for a flat column with at most one distinct value per two rows
        # of the bucket's first slice; nested columns stay plain.
        dictionary = [
            f.name
            for f, col in zip(first.schema, first.columns)
            if not pt.is_nested(f.type) and 2 * pc.count_distinct(col).as_py() <= len(col)
        ]
        self.writer = pq.ParquetWriter(
            self.tmp, first.schema, use_dictionary=dictionary, store_schema=False
        )
        self.rows = 0
        self.kept = 0
        self.dropped: dict[str, int] = {}

    def write(self, batch, keep_col: str | None, reason_col: str | None) -> None:
        import pyarrow.compute as pc

        self.writer.write_batch(batch)
        self.rows += batch.num_rows
        if keep_col is not None:
            self.kept += pc.sum(batch.column(keep_col)).as_py() or 0
        if reason_col is not None:
            vc = pc.value_counts(batch.column(reason_col).drop_null())
            for k, c in zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()):
                self.dropped[str(k)] = self.dropped.get(str(k), 0) + c

    def commit(self) -> dict:
        """Close the temp file, clear the directory of other runs'
        files, move the temp file into place; return the counters."""
        self.writer.close()
        _append_footer_metadata(self.tmp, self.metadata)
        for f in os.listdir(self.dir):
            stale_part = f.endswith(".parquet") and f != self.name
            stale_tmp = (
                f.startswith(".part-") and f.endswith(".tmp")
                and not f.startswith(f".part-{self.run_id}-")
            )
            if stale_part or stale_tmp:
                try:
                    os.remove(os.path.join(self.dir, f))
                except FileNotFoundError:
                    pass
        os.replace(self.tmp, os.path.join(self.dir, self.name))
        return {
            "_bucket": self.bucket,
            "rows": self.rows,
            "kept": self.kept,
            "dropped": list(self.dropped.items()),
        }


def _append_footer_metadata(path: str, kv: dict[str, str]) -> None:
    """Give the parquet file at ``path``, written with no footer
    key-value metadata, the pairs ``kv``.

    pyarrow 16 writes no key-value metadata with ``store_schema=False``;
    with ``store_schema=True`` it adds ``ARROW:schema``, a base64 copy of
    the Arrow schema that embeds the Spark schema JSON a second time.
    The footer is a Thrift compact-protocol ``FileMetaData`` struct
    ending in its STOP byte; field 5 (``key_value_metadata``:
    list<KeyValue{1: key, 2: value}>) goes in just before it.  Data
    pages and their offsets do not move."""

    def varint(n: int) -> bytes:
        out = bytearray()
        while n > 0x7F:
            out.append(n & 0x7F | 0x80)
            n >>= 7
        out.append(n)
        return bytes(out)

    def binary(s: str) -> bytes:
        b = s.encode()
        return varint(len(b)) + b

    # long-form field header (type LIST, then zigzag i16 id 5), then the
    # short-form list header (size < 15, element type STRUCT)
    assert len(kv) < 15
    field = b"\x09" + varint(5 << 1) + bytes([len(kv) << 4 | 0x0C])
    for k, v in kv.items():
        # two BINARY fields with id deltas of 1, then STOP
        field += b"\x18" + binary(k) + b"\x18" + binary(v) + b"\x00"
    with open(path, "r+b") as f:
        f.seek(-8, os.SEEK_END)
        tail = f.read(8)
        n = int.from_bytes(tail[:4], "little")
        f.seek(-9, os.SEEK_END)
        if tail[4:] != b"PAR1" or f.read(1) != b"\x00":
            raise ValueError(f"{path}: not a plain parquet footer")
        f.seek(-9, os.SEEK_END)
        f.write(field + b"\x00" + (n + len(field)).to_bytes(4, "little") + b"PAR1")


def publish_bucketed(
    spark,
    output_dir: str,
    table: str,
    id_col: str = "image_id",
    n_buckets: int = 64,
    path: str | None = None,
):
    """Re-publish a COMPLETED checkpoint output as a bucketBy(id) catalog
    table (sparkclean.io.write_bucketed), so every later id-keyed join
    against it — the resume-round pattern, where the next pipeline round
    joins the scored table back to fresh features — runs with NO Exchange
    on the scored side (and none at all when the other side shares the
    bucket spec).

    One extra write pass at publish time buys shuffle-freedom for every
    subsequent round: at corpus scale the repeated id-join shuffle is the
    dominant cost (io.py module docs), so this is the amortization the
    bucketed-IO plan tests promise, wired into the checkpoint flow.
    Returns the bucketed DataFrame (read via the catalog, which carries
    the bucket spec — a plain parquet read would not)."""
    from .io import read_bucketed, write_bucketed

    manifest = load_manifest(output_dir)
    if not manifest["buckets"]:
        raise ValueError(f"no completed checkpoint at {output_dir}")
    df = spark.read.parquet(output_dir).drop("_bucket")
    write_bucketed(
        df, table, [id_col], n_buckets, sort_cols=[id_col], path=path
    )
    return read_bucketed(spark, table)
