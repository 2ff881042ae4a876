"""spark-submit entry point.

Usage (cluster):
    spark-submit --py-files sparkclean.zip -m sparkclean.cli \
        --input /data/images_table --output /data/scored \
        --buckets 256

Reads the image+caption table and runs the fused keep/drop + scrub
pipeline.  The route follows from the input: ``--format iceberg`` reads
through the iceberg-spark runtime jar when present, else the
pure-python metadata reader in sparkclean.iceberg; a parquet ``--input``
with ``*.parquet`` files directly under it goes through the
python-native scan (``images.decode.decode_scan``, bytes never cross the
JVM boundary); any other parquet input (a ``key=value/`` partitioned
layout, a path the driver cannot list) goes through ``spark.read``.  Both
parquet routes return the same rows.  It writes bucket-partitioned
output (one parquet file per bucket) with the checkpoint manifest +
lineage counters beside it, and prints the counter summary.  Re-running
with the same ``--output`` resumes from the manifest (completed buckets
are skipped).  With ``--format iceberg`` each run additionally commits the
newly completed buckets as an Iceberg snapshot on the output, counters
in the snapshot summary.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="sparkclean")
    p.add_argument("--input", required=True, help="input table path")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument(
        "--buckets", type=int, default=64,
        help="checkpoint buckets: the unit of resume; each bucket is one "
        "output file, and the bucket count caps the write tasks",
    )
    p.add_argument("--id-col", default="image_id")
    p.add_argument("--text-col", default="caption")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from .checkpoint import run_checkpointed
    from .images.decode import parquet_files
    from .pipeline import run_image_caption_quality, run_image_caption_quality_from_path
    from .session import get_spark

    spark = get_spark("sparkclean-cli", master=args.master)
    if args.format == "iceberg":
        # with the iceberg-spark runtime jar (real cluster) the catalog
        # route is authoritative; without it, scan planning falls back to
        # the pure-python metadata reader (sparkclean.iceberg)
        try:
            df = spark.read.format("iceberg").load(args.input)
        except Exception as e:
            # fall back ONLY when the data source itself is absent (no
            # runtime jar); a real table error from a jar-backed read
            # (corrupt snapshot, permissions) must surface, not be
            # shadowed by a second reader's view
            if "DATA_SOURCE_NOT_FOUND" not in str(e):
                raise
            from .iceberg import read_table

            df = read_table(spark, args.input)
        scored = run_image_caption_quality(df, id_col=args.id_col, text_col=args.text_col)
    elif parquet_files(args.input):
        scored = run_image_caption_quality_from_path(
            spark, args.input, id_col=args.id_col, text_col=args.text_col
        )
    else:
        # partitioned layout or a path the driver cannot list
        df = spark.read.format(args.format).load(args.input)
        scored = run_image_caption_quality(df, id_col=args.id_col, text_col=args.text_col)

    manifest = run_checkpointed(
        scored, args.output, id_col=args.id_col, n_buckets=args.buckets
    )
    if args.format == "iceberg":
        # lineage counters ride the snapshot summary, one snapshot per
        # (resume) run — rows already registered are never re-added
        from .iceberg import publish_checkpoint

        snap = publish_checkpoint(spark, args.output)
        if snap is not None:
            print(f"iceberg snapshot {snap['snapshot-id']} seq {snap['sequence-number']}")
    print(json.dumps(manifest["counters"], indent=1, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
