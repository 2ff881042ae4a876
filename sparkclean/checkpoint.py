"""Per-partition (bucket) checkpointing with lineage counters.

The job writes its output partitioned by a stable bucket column
(``pmod(xxhash64(image_id), n_buckets)`` — content-addressed, so
identical for any input partitioning).  The output layout is one
parquet file per bucket (``_bucket=<b>/part-*.parquet``): the write is
clustered by bucket into at most ``defaultParallelism`` tasks, each
writing whole buckets.  The bucket is therefore the unit of resume, of
write work and of output file.  A JSON manifest beside the output
records, per completed bucket: row counts, keep/drop counts and the
dropped-by-rule histogram (the lineage counters of BASELINE.json).  The
counters come from a second pass over the same deterministic frame, so
the written rows are not cached a second time.

Resume semantics: buckets listed in the manifest are skipped entirely
(their input rows are filtered out before any work happens — predicate
pushdown prunes them at the scan); pending buckets are (re)written via
dynamic partition overwrite, so a bucket is either complete-and-recorded
or will be rewritten from scratch — idempotent under kill/retry.

On a real deployment the manifest write happens next to the Iceberg
snapshot commit; here it is a plain JSON file (parquet dir stands in for
the table).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MANIFEST = "_sparkclean_manifest.json"


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

    Each pending bucket becomes exactly one parquet file, written by one
    of ``min(pending buckets, defaultParallelism)`` tasks.  ``df`` must
    be deterministic: the per-bucket counters are computed by a second
    pass over it (two aggregation jobs), not from a cache of the write.
    """
    spark = df.sparkSession

    manifest = load_manifest(output_dir)
    done = set(int(b) for b in manifest["buckets"])
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return manifest
    # dynamic partition overwrite ONLY for this write — restore the
    # session's prior setting so unrelated partitioned overwrites keep
    # their delete-all semantics (round-3 review: the leak left stale
    # partitions behind for later callers)
    _POM = "spark.sql.sources.partitionOverwriteMode"
    prior_pom = spark.conf.get(_POM, "STATIC")
    spark.conf.set(_POM, "dynamic")

    work = df.withColumn("_bucket", bucket_col(id_col, n_buckets))
    if done:
        work = work.where(~F.col("_bucket").isin([int(b) for b in done]))

    # Cluster by bucket before the partitioned write: unclustered, every
    # scan task opens one writer per bucket it sees (tasks x buckets
    # small files, each paying writer set-up and commit).  Hashing
    # _bucket into an explicit count sends each bucket to exactly one
    # task, so each bucket is one file, written in one wave.  The count
    # must be explicit: with none, AQE coalesces the exchange into a
    # single task that writes every bucket serially.
    n_tasks = min(len(pending), spark.sparkContext.defaultParallelism)
    try:
        (
            work.repartition(n_tasks, "_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(output_dir)
        )
    finally:
        spark.conf.set(_POM, prior_pom)

    # lineage counters per bucket: a second pass over the same
    # deterministic frame, not cached here (the pipeline's frame already
    # reads caption_scores' cached feats, so a cache would only add a
    # materialisation).  The two aggregations stay separate: one fused
    # groupBy(_bucket, keep|reason) needs more peak execution memory
    # than both together.
    aggs = [F.count(F.lit(1)).alias("rows")]
    if keep_col in work.columns:
        aggs.append(F.sum(F.when(F.col(keep_col), 1).otherwise(0)).alias("kept"))
    stats = {int(r["_bucket"]): r.asDict() for r in work.groupBy("_bucket").agg(*aggs).collect()}
    reasons: dict[int, dict[str, int]] = {}
    if reason_col and reason_col in work.columns:
        for r in (
            work.where(F.col(reason_col).isNotNull())
            .groupBy("_bucket", reason_col)
            .count()
            .collect()
        ):
            reasons.setdefault(int(r["_bucket"]), {})[r[reason_col]] = r["count"]

    now = time.time()
    for b in pending:
        s = stats.get(b, {"rows": 0, "kept": 0})
        manifest["buckets"][str(b)] = {
            "rows": int(s.get("rows", 0)),
            "kept": int(s.get("kept", 0) or 0),
            "dropped_by_rule": reasons.get(b, {}),
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
