"""Iceberg v2 metadata round-trip (sparkclean.iceberg + avro_ocf).

The Avro layer is validated against the Java reference implementation
(avro-1.12 on Spark's JVM classpath via py4j) — a genuinely independent
reader — and the Iceberg layer against the spec's structural
invariants: snapshot lineage, sequence numbers, manifest carry-forward,
time travel, and summary counters.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sparkclean.avro_ocf import read_ocf, write_ocf
from sparkclean.iceberg import (
    commit_append,
    load_metadata,
    plan_files,
    read_table,
    snapshot_log,
)

NESTED_SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": "long"},
        {"name": "o", "type": ["null", "long"], "default": None},
        {"name": "b", "type": "boolean"},
        {"name": "d", "type": "double"},
        {"name": "raw", "type": "bytes"},
        {
            "name": "rec",
            "type": {
                "type": "record",
                "name": "inner",
                "fields": [{"name": "x", "type": "int"}],
            },
        },
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
    ],
}

NESTED_RECORDS = [
    {
        "s": "héllo ☃",
        "n": -(2**62),
        "o": None,
        "b": True,
        "d": 3.5,
        "raw": b"\x00\xff\x01",
        "rec": {"x": -1},
        "arr": [1, -2, 3],
        "m": {"k1": "v1", "k2": "v2"},
    },
    {
        "s": "",
        "n": 2**62,
        "o": 42,
        "b": False,
        "d": -0.0,
        "raw": b"",
        "rec": {"x": 0},
        "arr": [],
        "m": {},
    },
]


def test_avro_ocf_python_roundtrip(tmp_path):
    p = str(tmp_path / "t.avro")
    write_ocf(p, NESTED_SCHEMA, NESTED_RECORDS, {"custom-key": "custom-val"})
    schema, meta, back = read_ocf(p)
    assert back == NESTED_RECORDS
    assert schema == NESTED_SCHEMA
    assert meta["custom-key"] == b"custom-val"


def test_avro_ocf_java_reference_reader(spark, tmp_path):
    """The Java reference implementation must accept and agree with our
    binary encoding — edge values included (large longs, negative
    zigzag, empty containers, unicode, raw bytes)."""
    p = str(tmp_path / "t.avro")
    write_ocf(p, NESTED_SCHEMA, NESTED_RECORDS, {"custom-key": "custom-val"})
    jvm = spark._jvm
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    rows = []
    while dfr.hasNext():
        rows.append(dfr.next())
    dfr.close()
    assert len(rows) == 2
    r0, r1 = rows
    assert str(r0.get("s")) == "héllo ☃"
    assert r0.get("n") == -(2**62)
    assert r0.get("o") is None
    assert r1.get("o") == 42
    assert r0.get("b") is True and r1.get("b") is False
    assert r0.get("d") == 3.5
    assert r0.get("rec").get("x") == -1
    assert [x for x in r0.get("arr")] == [1, -2, 3]
    assert r1.get("n") == 2**62
    assert str(dfr.getMetaString("custom-key")) == "custom-val"
    # java reads the writer schema we embedded
    assert json.loads(str(dfr.getSchema().toString()))["name"] == "t"


@pytest.fixture()
def table(spark, tmp_path):
    """Two-commit Iceberg table: ids 0..9 then 10..14."""
    loc = str(tmp_path / "tbl")
    df1 = spark.range(10).select(
        F.col("id"), F.concat(F.lit("doc-"), F.col("id")).alias("text")
    )
    df2 = spark.range(10, 15).select(
        F.col("id"), F.concat(F.lit("doc-"), F.col("id")).alias("text")
    )
    s1 = commit_append(spark, df1, loc, properties={"owner": "sparkclean"})
    s2 = commit_append(
        spark, df2, loc, summary_extra={"rows_scored": 5, "dropped_by_rule": {"x": 1}}
    )
    return loc, s1, s2


def test_iceberg_two_commit_roundtrip(spark, table):
    loc, s1, s2 = table
    # current snapshot = union of both commits, values intact
    cur = read_table(spark, loc).orderBy("id").collect()
    assert [r["id"] for r in cur] == list(range(15))
    assert cur[3]["text"] == "doc-3"
    # time travel to snapshot 1 = first commit only
    old = read_table(spark, loc, snapshot_id=s1["snapshot-id"]).orderBy("id").collect()
    assert [r["id"] for r in old] == list(range(10))


def test_iceberg_lineage_and_metadata(table):
    loc, s1, s2 = table
    meta = load_metadata(loc)
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == s2["snapshot-id"]
    assert s2["parent-snapshot-id"] == s1["snapshot-id"]
    assert s2["sequence-number"] == s1["sequence-number"] + 1
    assert meta["last-sequence-number"] == s2["sequence-number"]
    log = snapshot_log(loc)
    assert [e["snapshot-id"] for e in log] == [s1["snapshot-id"], s2["snapshot-id"]]
    # summary counters (lineage counters ride the snapshot summary)
    assert s2["summary"]["operation"] == "append"
    assert s2["summary"]["added-records"] == "5"
    assert s2["summary"]["total-records"] == "15"
    assert s2["summary"]["rows_scored"] == "5"
    assert json.loads(s2["summary"]["dropped_by_rule"]) == {"x": 1}
    # metadata log tracks the superseded version
    assert len(meta["metadata-log"]) == 1
    assert os.path.exists(meta["metadata-log"][0]["metadata-file"])
    # schema carries unique field ids
    ids = [f["id"] for f in meta["schemas"][0]["fields"]]
    assert len(ids) == len(set(ids)) == 2
    assert meta["partition-specs"] == [{"spec-id": 0, "fields": []}]


def test_iceberg_manifest_chain(table):
    """Manifest-list carry-forward: snapshot 2's list holds BOTH
    manifests; record counts in the metadata match parquet reality."""
    loc, s1, s2 = table
    _, meta1, l1 = read_ocf(s1["manifest-list"])
    _, _, l2 = read_ocf(s2["manifest-list"])
    assert len(l1) == 1 and len(l2) == 2
    assert meta1["snapshot-id"] == str(s1["snapshot-id"]).encode()
    assert {e["added_snapshot_id"] for e in l2} == {
        s1["snapshot-id"],
        s2["snapshot-id"],
    }
    assert sum(e["added_rows_count"] for e in l2) == 15
    # plan_files row counts agree with the parquet footers
    import pyarrow.parquet as pq

    files = plan_files(loc)
    assert sum(f["record_count"] for f in files) == 15
    for f in files:
        assert pq.read_metadata(f["file_path"]).num_rows == f["record_count"]
        assert os.path.getsize(f["file_path"]) == f["file_size_in_bytes"]
    # time-travel planning sees only seq-1 files
    old_files = plan_files(loc, snapshot_id=s1["snapshot-id"])
    assert sum(f["record_count"] for f in old_files) == 10
    assert all(f["sequence_number"] == 1 for f in old_files)


def test_iceberg_manifests_java_readable(spark, table):
    """The manifest list and manifest avro files must be readable by the
    Java reference Avro reader (the format gate a real Iceberg engine's
    first parse step would hit)."""
    loc, s1, s2 = table
    jvm = spark._jvm

    def java_read(path):
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        rows = []
        while dfr.hasNext():
            rows.append(dfr.next())
        dfr.close()
        return rows

    lst = java_read(s2["manifest-list"])
    assert len(lst) == 2
    m0 = str(lst[0].get("manifest_path"))
    entries = java_read(m0)
    assert all(e.get("status") == 1 for e in entries)
    total = sum(e.get("data_file").get("record_count") for e in entries)
    assert total in (10, 5)


def test_publish_checkpoint_counters_and_idempotency(spark, tmp_path):
    """Checkpointed bucket files register as ONE iceberg snapshot with
    the lineage counters in the summary; re-publishing with nothing new
    is a no-op (resume rounds add snapshots only for new buckets)."""
    from sparkclean.checkpoint import run_checkpointed
    from sparkclean.iceberg import publish_checkpoint

    df = spark.range(50).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 2 == 0).alias("keep"),
        F.when(F.col("id") % 2 == 1, F.lit("low_quality")).alias("drop_reason"),
    )
    out = str(tmp_path / "ckpt")
    run_checkpointed(df, out, id_col="image_id", n_buckets=4)
    snap = publish_checkpoint(spark, out)
    assert snap is not None
    assert snap["summary"]["rows_scored"] == "50"
    assert snap["summary"]["rows_kept"] == "25"
    assert json.loads(snap["summary"]["dropped_by_rule"]) == {"low_quality": 25}
    assert read_table(spark, out).count() == 50
    assert publish_checkpoint(spark, out) is None


def test_publish_checkpoint_skips_buckets_missing_from_manifest(spark, tmp_path):
    """Files of a bucket the manifest does not record as complete (left
    by a run killed before its manifest save) are not registered, so
    added-records matches the summary's counters; the resume rewrites
    that bucket and the next publish adds only its new file."""
    import glob as _glob

    from sparkclean.checkpoint import MANIFEST, load_manifest, run_checkpointed
    from sparkclean.iceberg import publish_checkpoint

    df = spark.range(50).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 2 == 0).alias("keep"),
        F.when(F.col("id") % 2 == 1, F.lit("low_quality")).alias("drop_reason"),
    )
    out = str(tmp_path / "ckpt")
    run_checkpointed(df, out, id_col="image_id", n_buckets=4)
    m = load_manifest(out)
    gone = m["buckets"].pop("3")
    assert gone["rows"] > 0
    c = m["counters"]
    c["rows_scored"] -= gone["rows"]
    c["rows_kept"] -= gone["kept"]
    for k, v in gone["dropped_by_rule"].items():
        c["dropped_by_rule"][k] -= v
    with open(os.path.join(out, MANIFEST), "w") as f:
        json.dump(m, f)

    snap = publish_checkpoint(spark, out)
    registered = {f["file_path"] for f in plan_files(out)}
    assert registered
    assert not any("_bucket=3" in f for f in registered)
    assert snap["summary"]["added-records"] == str(c["rows_scored"])
    assert snap["summary"]["rows_scored"] == str(c["rows_scored"])

    m2 = run_checkpointed(df, out, id_col="image_id", n_buckets=4)
    snap2 = publish_checkpoint(spark, out)
    assert snap2["summary"]["added-records"] == str(gone["rows"])
    assert snap2["summary"]["rows_scored"] == "50" == str(m2["counters"]["rows_scored"])
    registered = {f["file_path"] for f in plan_files(out)}
    assert registered == set(_glob.glob(os.path.join(out, "_bucket=*", "*.parquet")))
    assert read_table(spark, out).count() == 50


def test_cli_iceberg_end_to_end(spark, tmp_path):
    """--format iceberg: input scan-planned from iceberg metadata (the
    runtime jar is absent, so the python fallback route), output
    checkpointed AND committed as an iceberg snapshot with counters."""
    import glob as _glob
    import subprocess
    import sys

    from sparkclean import synth
    from sparkclean.iceberg import commit_files

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    corpus = str(tmp_path / "corpus")
    synth.synth_images(spark, 200, with_images=True, partitions=2).write.parquet(corpus)
    tbl_in = str(tmp_path / "tbl_in")
    commit_files(spark, sorted(_glob.glob(corpus + "/*.parquet")), tbl_in)

    out = str(tmp_path / "scored")
    script = (
        "from sparkclean.cli import main; "
        f"main(['--input', {tbl_in!r}, '--output', {out!r}, "
        "'--format', 'iceberg', '--buckets', '4', '--master', 'local[2]'])"
    )
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, capture_output=True, text=True
    )
    assert res.returncode == 0, res.stderr[-2000:]
    meta = load_metadata(out)
    assert meta is not None
    snap = meta["snapshots"][-1]
    assert snap["summary"]["rows_scored"] == "200"
    assert "dropped_by_rule" in snap["summary"]
    assert read_table(spark, out).count() == 200


def test_iceberg_commit_overwrite(spark, table):
    """operation=overwrite: scan planning sees ONLY the new files, the
    summary records the operation with totals reset, and every earlier
    snapshot stays time-travelable."""
    from sparkclean.iceberg import commit_overwrite

    loc, s1, s2 = table
    df3 = spark.range(100, 103).select(
        F.col("id"), F.concat(F.lit("new-"), F.col("id")).alias("text")
    )
    s3 = commit_overwrite(spark, df3, loc)
    assert s3["summary"]["operation"] == "overwrite"
    assert s3["summary"]["total-records"] == "3"
    cur = read_table(spark, loc).orderBy("id").collect()
    assert [r["id"] for r in cur] == [100, 101, 102]
    assert cur[0]["text"] == "new-100"
    # prior snapshots still time-travelable
    old = read_table(spark, loc, snapshot_id=s2["snapshot-id"]).count()
    assert old == 15
    assert sum(f["record_count"] for f in plan_files(loc)) == 3


def test_iceberg_streaming_append_idempotent(spark, tmp_path):
    """foreachBatch Iceberg sink: one snapshot per micro-batch with the
    epoch id in the summary; a replayed epoch is skipped, not
    re-committed (the exactly-once discipline of the real Iceberg
    streaming sink)."""
    from sparkclean.iceberg import append_stream, last_committed_epoch

    src = str(tmp_path / "src")
    loc = str(tmp_path / "itbl")
    # two source files + maxFilesPerTrigger=1 -> two micro-batches
    spark.range(0, 5).coalesce(1).write.parquet(src)
    spark.range(5, 9).coalesce(1).write.mode("append").parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        append_stream(
            stream, loc,
            summary_extra_fn=lambda bdf: {"rows_scored": str(bdf.count())},
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    meta = load_metadata(loc)
    assert len(meta["snapshots"]) == 2
    epochs = [s["summary"]["streaming-epoch-id"] for s in meta["snapshots"]]
    assert epochs == ["0", "1"]
    assert {int(r["id"]) for r in read_table(spark, loc).collect()} == set(range(9))
    assert last_committed_epoch(loc) == 1
    for s in meta["snapshots"]:
        assert s["summary"]["rows_scored"] in ("4", "5")

    # replayed epoch (restart re-delivery) through the REAL handler is a
    # no-op; the next epoch commits
    from sparkclean.iceberg import iceberg_batch_handler

    handler = iceberg_batch_handler(loc)
    batch = spark.range(0, 5)
    handler(batch, 1)  # replay of committed epoch 1
    assert len(load_metadata(loc)["snapshots"]) == 2
    handler(batch, 2)  # fresh epoch
    meta = load_metadata(loc)
    assert len(meta["snapshots"]) == 3
    assert meta["snapshots"][-1]["summary"]["streaming-epoch-id"] == "2"
    assert last_committed_epoch(loc) == 2


def test_iceberg_streaming_stream_id_scoping(spark, tmp_path):
    """The exactly-once guard dedupes on (stream_id, epoch), not epoch
    alone: a second stream (fresh checkpoint -> epochs restart at 0)
    writing the same table must NOT have its batches dropped by the
    first stream's historical epochs, while a replay within one stream
    is still skipped."""
    from sparkclean.iceberg import iceberg_batch_handler, last_committed_epoch

    loc = str(tmp_path / "itbl_sid")
    batch = spark.range(0, 3)
    h_a = iceberg_batch_handler(loc, stream_id="stream-a")
    h_a(batch, 0)
    h_a(batch, 1)
    assert len(load_metadata(loc)["snapshots"]) == 2
    # stream B restarts epochs at 0 — must commit, not be dropped
    h_b = iceberg_batch_handler(loc, stream_id="stream-b")
    h_b(batch, 0)
    assert len(load_metadata(loc)["snapshots"]) == 3
    # replay within each stream is still a no-op
    h_a(batch, 1)
    h_b(batch, 0)
    assert len(load_metadata(loc)["snapshots"]) == 3
    assert last_committed_epoch(loc, "stream-a") == 1
    assert last_committed_epoch(loc, "stream-b") == 0
    # table-global view (legacy) still reports the max
    assert last_committed_epoch(loc) == 1


def test_iceberg_schema_mapping(spark, tmp_path):
    """Nested arrays/structs map to iceberg list/struct with unique ids;
    the round-trip preserves values."""
    loc = str(tmp_path / "tbl2")
    df = spark.createDataFrame(
        [(1, [0.5, 1.5], {"a": 1}, b"\x01")],
        "id: long, emb: array<double>, s: struct<a:int>, payload: binary",
    )
    commit_append(spark, df, loc)
    meta = load_metadata(loc)

    def all_ids(t, acc):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                for f in t["fields"]:
                    acc.append(f["id"])
                    all_ids(f["type"], acc)
            elif t.get("type") == "list":
                acc.append(t["element-id"])
                all_ids(t["element"], acc)
        return acc

    ids = all_ids(meta["schemas"][0], [])
    assert len(ids) == len(set(ids))
    back = read_table(spark, loc).collect()[0]
    assert back["emb"] == [0.5, 1.5] and back["s"]["a"] == 1 and back["payload"] == b"\x01"


def test_commit_files_rejects_empty_list(spark, tmp_path):
    from sparkclean.iceberg import commit_files

    with pytest.raises(ValueError, match="non-empty"):
        commit_files(spark, [], str(tmp_path / "t"))


def test_spark_schema_of_matches_spark_read(spark, tmp_path):
    """The schema the first commit registers equals what
    ``spark.read.parquet`` reports, for a Spark-written file (read from
    its footer: a non-nullable column, an array<double>, structs and a
    map, all reported nullable), a checkpoint-written one from the same
    columns plus a pre-Gregorian date (the Spark schema in its footer,
    no ``ARROW:schema`` copy, rows read back equal), and a
    pyarrow-written one (no Spark schema in the footer: the spark.read
    fallback)."""
    import datetime
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkclean.iceberg import _spark_schema_of

    key = b"org.apache.spark.sql.parquet.row.metadata"
    sdir = str(tmp_path / "spark_written")
    rows = spark.createDataFrame(
        [(1, [0.5, None], (1, [2]), {"k": 2.0}, b"\x01")],
        "id long not null, emb array<double>, s struct<a:int not null, b:array<int>>, "
        "m map<string,double>, payload binary",
    )
    rows.coalesce(1).write.parquet(sdir)
    sfile = _glob.glob(os.path.join(sdir, "*.parquet"))[0]
    stored = json.loads(pq.read_metadata(sfile).metadata[key])
    assert stored["fields"][0]["nullable"] is False
    assert _spark_schema_of(spark, sfile) == spark.read.parquet(sfile).schema

    from sparkclean.checkpoint import run_checkpointed

    cdir = str(tmp_path / "checkpoint_written")
    dated = rows.withColumn("d", F.expr("date '1000-01-01'"))
    run_checkpointed(dated, cdir, id_col="id", n_buckets=1)
    (cfile,) = _glob.glob(os.path.join(cdir, "_bucket=0", "*.parquet"))
    footer = pq.read_metadata(cfile).metadata
    assert b"ARROW:schema" not in footer
    assert json.loads(footer[key]) == json.loads(dated.schema.json())
    assert _spark_schema_of(spark, cfile) == spark.read.parquet(cfile).schema
    back = spark.read.parquet(cfile).collect()
    assert back == dated.collect()
    assert back[0]["d"] == datetime.date(1000, 1, 1)

    afile = str(tmp_path / "arrow_written.parquet")
    pq.write_table(
        pa.table({"x": pa.array([1], pa.int64()), "v": pa.array([[1.0, 2.0]])}), afile
    )
    assert key not in (pq.read_metadata(afile).metadata or {})
    assert _spark_schema_of(spark, afile) == spark.read.parquet(afile).schema


def test_publish_checkpoint_submits_no_spark_job(spark, tmp_path):
    """The first publish of a checkpoint to a fresh location reads the
    table schema from a bucket file's footer: no Spark job runs."""
    from sparkclean.checkpoint import run_checkpointed
    from sparkclean.iceberg import publish_checkpoint

    df = spark.range(50).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 2 == 0).alias("keep"),
        F.when(F.col("id") % 2 == 1, F.lit("low_quality")).alias("drop_reason"),
    )
    out = str(tmp_path / "ckpt")
    run_checkpointed(df, out, id_col="image_id", n_buckets=4)
    sc = spark.sparkContext
    sc.setJobGroup("publish_checkpoint_probe", "publish_checkpoint")
    try:
        snap = publish_checkpoint(spark, out, str(tmp_path / "fresh"))
    finally:
        sc._jsc.clearJobGroup()
    assert snap["summary"]["added-records"] == "50"
    assert sc.statusTracker().getJobIdsForGroup("publish_checkpoint_probe") == []
