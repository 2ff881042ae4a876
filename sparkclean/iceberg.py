"""Apache Iceberg v2 table metadata — pure-Python commit + scan planning.

The sandbox ships no Iceberg runtime jar and no pyiceberg, but the
format itself is a PUBLIC specification
(https://iceberg.apache.org/spec/): parquet data files + Avro manifest
files + an Avro manifest list per snapshot + versioned JSON table
metadata.  This module implements the subset the north rule needs —
unpartitioned append-only v2 tables with snapshot lineage and summary
counters — from the spec, writing manifests with
:mod:`sparkclean.avro_ocf` (whose binary conformance is pinned against
the Java Avro reference implementation in tests).

What this gives a user TODAY, in-sandbox:

* ``commit_append(spark, df, location, ...)`` — append a DataFrame as a
  new Iceberg snapshot: Spark writes the parquet, per-file stats come
  from the parquet footers, and the manifest / manifest-list / metadata
  JSON chain is written per spec (sequence numbers, parent snapshot
  ids, snapshot log, summary counters — the "lineage + counters beside
  each snapshot" of BASELINE.json).
* ``read_table(spark, location, snapshot_id=...)`` — scan planning from
  the metadata (manifest list → manifests → live data files), actual
  reading by Spark's parquet source; ``snapshot_id`` gives time travel.
* ``snapshot_log(location)`` — the lineage chain.

On a real cluster with the iceberg-spark runtime jar the same tables
are addressable via ``spark.read.format("iceberg")``; the jar's absence
is why scan planning happens here in Python.  Conformance caveat
(honest): the metadata layout follows the public spec, and the Avro
layer is verified against the Java reference reader, but no independent
Iceberg *engine* exists in this sandbox to accept these tables
end-to-end.

Reference parity note: the reference repo has no table-format layer
(cleanlab operates on in-memory arrays); this module exists for the
north rule's Iceberg input/output requirement (BASELINE.json
input_hint), open since round 1.

Concurrency: SINGLE WRITER per table.  Metadata files are written
atomically (tmp + os.replace) so readers never see a torn version, but
the read-modify-write of version-hint has no compare-and-swap — real
Iceberg serialises committers through an atomic catalog swap, which is
exactly the part that needs a catalog service this sandbox lacks.  One
Spark driver (the checkpointed pipeline / one streaming query) is the
supported topology.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from typing import Any

from .avro_ocf import read_ocf, write_ocf

# ----------------------------------------------------- avro schemas
# Field ids and names from the Iceberg spec's "Manifests" and
# "Manifest Lists" tables (v2 columns only; optional stats omitted —
# they are nullable and this writer does not produce them).

_DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
            "field-id": 102,
        },
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
        {
            "name": "sequence_number",
            "type": ["null", "long"],
            "default": None,
            "field-id": 3,
        },
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "default": None,
            "field-id": 4,
        },
        {"name": "data_file", "type": _DATA_FILE_SCHEMA, "field-id": 2},
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

_STATUS_ADDED = 1
_STATUS_DELETED = 2

# ----------------------------------------------------- schema mapping

_SIMPLE_TYPES = {
    "string": "string",
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "smallint": "int",
    "tinyint": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamptz",
}


def _iceberg_type(dt, next_id: list[int]) -> Any:
    """Spark DataType → Iceberg type JSON, assigning nested field ids
    from the shared ``next_id`` counter (spec: every field has a unique
    id within the schema)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id[0]
            next_id[0] += 1
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _iceberg_type(f.dataType, next_id),
                }
            )
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    name = dt.simpleString()
    if name in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[name]
    raise ValueError(f"cannot map spark type {name} to iceberg")


def schema_from_spark(spark_schema) -> tuple[dict, int]:
    """(iceberg schema JSON with schema-id 0, last assigned column id)."""
    next_id = [1]
    struct = _iceberg_type(spark_schema, next_id)
    struct["schema-id"] = 0
    return struct, next_id[0] - 1


# ----------------------------------------------------- metadata io


def _metadata_dir(location: str) -> str:
    return os.path.join(location, "metadata")


def load_metadata(location: str) -> dict | None:
    """Current table metadata via version-hint.text, or None if the
    location is not yet an Iceberg table."""
    hint = os.path.join(_metadata_dir(location), "version-hint.text")
    if not os.path.exists(hint):
        return None
    with open(hint) as f:
        v = int(f.read().strip())
    with open(os.path.join(_metadata_dir(location), f"v{v}.metadata.json")) as f:
        return json.load(f)


def snapshot_log(location: str) -> list[dict]:
    meta = load_metadata(location)
    return list(meta.get("snapshot-log", [])) if meta else []


def _current_snapshot(meta: dict, snapshot_id: int | None = None) -> dict:
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    for s in meta["snapshots"]:
        if s["snapshot-id"] == sid:
            return s
    raise ValueError(f"snapshot {sid} not found (log: {meta.get('snapshot-log')})")


# ----------------------------------------------------- commit


#: the footer key under which Spark's parquet writer stores the
#: written frame's schema as JSON
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(dt):
    """``dt`` with every level nullable (struct fields, array elements,
    map values), as Spark's file sources report a read schema."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _spark_schema_of(spark, parquet_file: str):
    """The schema ``spark.read.parquet(parquet_file)`` reports.  A file
    Spark wrote carries it in its footer, which pyarrow reads without a
    Spark job (schema inference runs one); other files go through
    ``spark.read``."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    stored = (pq.read_metadata(parquet_file).metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is None:
        return spark.read.parquet(parquet_file).schema
    return _as_nullable(StructType.fromJson(json.loads(stored)))


def commit_append(
    spark,
    df,
    location: str,
    properties: dict[str, str] | None = None,
    summary_extra: dict[str, Any] | None = None,
) -> dict:
    """Append ``df`` to the Iceberg table at ``location`` (creating the
    table on first commit) and return the new snapshot dict.

    Spark writes the data files (parquet); per-file record counts and
    sizes come from the parquet footers; one new manifest records the
    added files; the new manifest list carries every prior snapshot's
    manifests forward (append-only).  ``summary_extra`` lands in the
    snapshot summary next to the standard operation counters — the
    checkpoint lineage counters ride here.
    """
    meta = load_metadata(location)
    seq = (meta["last-sequence-number"] + 1) if meta else 1
    # unique dir per attempt: a crash between data write and metadata
    # commit must not collide on retry — uncommitted orphan dirs are
    # unreachable from any snapshot (standard Iceberg behaviour)
    data_dir = os.path.join(
        location, "data", f"seq-{seq:05d}-{uuid.uuid4().hex[:8]}"
    )
    df.write.mode("errorifexists").parquet(data_dir)
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    return commit_files(
        spark, files, location, schema=df.schema,
        properties=properties, summary_extra=summary_extra,
    )


def commit_overwrite(
    spark,
    df,
    location: str,
    properties: dict[str, str] | None = None,
    summary_extra: dict[str, Any] | None = None,
) -> dict:
    """Replace the table contents with ``df`` in one snapshot
    (operation=overwrite): the new manifest list carries ONLY the new
    manifest, so prior data files drop out of scan planning while every
    earlier snapshot remains time-travelable — the re-run-and-replace
    output pattern."""
    meta = load_metadata(location)
    seq = (meta["last-sequence-number"] + 1) if meta else 1
    data_dir = os.path.join(
        location, "data", f"seq-{seq:05d}-{uuid.uuid4().hex[:8]}"
    )
    df.write.mode("errorifexists").parquet(data_dir)
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    return commit_files(
        spark, files, location, schema=df.schema,
        properties=properties, summary_extra=summary_extra,
        operation="overwrite",
    )


def commit_files(
    spark,
    files: list[str],
    location: str,
    schema=None,
    properties: dict[str, str] | None = None,
    summary_extra: dict[str, Any] | None = None,
    operation: str = "append",
) -> dict:
    """Commit EXISTING parquet files as a new snapshot — the
    write-data-then-commit-metadata shape of a real pipeline (the
    checkpointed bucket writer produces the files; this registers them).
    ``schema`` (Spark StructType) is required on table creation; on
    later commits the table schema is authoritative.  ``operation`` is
    "append" (prior manifests carried forward) or "overwrite" (the new
    manifest list holds only this commit's manifest; prior snapshots
    stay time-travelable)."""
    import pyarrow.parquet as pq

    if not files:
        # an empty first commit would crash on schema inference, and an
        # empty later one would silently create a pointless snapshot
        raise ValueError("commit_files requires a non-empty files list")
    meta = load_metadata(location)
    mdir = _metadata_dir(location)
    os.makedirs(mdir, exist_ok=True)

    if meta is None:
        if schema is None:
            schema = _spark_schema_of(spark, files[0])
        ice_schema, last_col = schema_from_spark(schema)
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": location,
            "last-sequence-number": 0,
            "last-updated-ms": 0,
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "last-partition-id": 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": dict(properties or {}),
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        version = 0
    else:
        with open(os.path.join(mdir, "version-hint.text")) as f:
            version = int(f.read().strip())

    seq = meta["last-sequence-number"] + 1
    parent_id = meta["current-snapshot-id"] if meta["snapshots"] else None
    snapshot_id = (max(s["snapshot-id"] for s in meta["snapshots"]) + 1
                   if meta["snapshots"] else 1)
    now_ms = int(time.time() * 1000)

    # 1. per-file stats from the parquet footers
    entries = []
    added_rows = 0
    for fp in sorted(files):
        nrows = pq.read_metadata(fp).num_rows
        added_rows += nrows
        entries.append(
            {
                "status": _STATUS_ADDED,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": fp,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(fp),
                },
            }
        )

    # 2. manifest
    manifest_path = os.path.join(mdir, f"m-{snapshot_id}-0.avro")
    mlen = write_ocf(
        manifest_path,
        MANIFEST_ENTRY_SCHEMA,
        entries,
        metadata={
            "schema": json.dumps(meta["schemas"][0]),
            "schema-id": "0",
            "partition-spec": "[]",
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "data",
        },
    )

    # 3. manifest list = prior snapshot's entries + the new manifest
    prior_entries: list[dict] = []
    if parent_id is not None and operation == "append":
        prior_list = _current_snapshot(meta, parent_id)["manifest-list"]
        _, _, prior_entries = read_ocf(prior_list)
    new_entry = {
        "manifest_path": manifest_path,
        "manifest_length": mlen,
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": added_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    list_path = os.path.join(mdir, f"snap-{snapshot_id}-manifest-list.avro")
    write_ocf(
        list_path,
        MANIFEST_LIST_SCHEMA,
        prior_entries + [new_entry],
        metadata={"snapshot-id": str(snapshot_id), "format-version": "2"},
    )

    # 4. new table metadata version
    prev_total = 0
    if parent_id is not None and operation == "append":
        prev = _current_snapshot(meta, parent_id)
        prev_total = int(prev["summary"].get("total-records", 0))
    summary = {
        "operation": operation,
        "added-data-files": str(len(entries)),
        "added-records": str(added_rows),
        "total-data-files": str(sum(e["added_files_count"] for e in prior_entries)
                                + len(entries)),
        "total-records": str(prev_total + added_rows),
    }
    for k, v in (summary_extra or {}).items():
        summary[k] = json.dumps(v) if not isinstance(v, str) else v
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": list_path,
        "summary": summary,
        "schema-id": 0,
    }
    if parent_id is not None:
        snapshot["parent-snapshot-id"] = parent_id
    meta["snapshots"].append(snapshot)
    meta["snapshot-log"].append({"timestamp-ms": now_ms, "snapshot-id": snapshot_id})
    if version > 0:
        meta["metadata-log"].append(
            {
                "timestamp-ms": meta["last-updated-ms"],
                "metadata-file": os.path.join(mdir, f"v{version}.metadata.json"),
            }
        )
    meta["current-snapshot-id"] = snapshot_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    if properties:
        meta["properties"].update(properties)

    new_version = version + 1
    tmp = os.path.join(mdir, f"v{new_version}.metadata.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, os.path.join(mdir, f"v{new_version}.metadata.json"))
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(new_version))
    return snapshot


# ----------------------------------------------------- scan planning


def plan_files(location: str, snapshot_id: int | None = None) -> list[dict]:
    """Live data files for a snapshot (default: current): manifest list
    → manifests → entries with status != DELETED.  Returns dicts with
    file_path / record_count / file_size_in_bytes / sequence_number."""
    meta = load_metadata(location)
    if meta is None:
        raise ValueError(f"{location} is not an iceberg table")
    snap = _current_snapshot(meta, snapshot_id)
    _, _, manifests = read_ocf(snap["manifest-list"])
    out = []
    for m in manifests:
        _, _, entries = read_ocf(m["manifest_path"])
        for e in entries:
            if e["status"] == _STATUS_DELETED:
                continue
            d = e["data_file"]
            out.append(
                {
                    "file_path": d["file_path"],
                    "record_count": d["record_count"],
                    "file_size_in_bytes": d["file_size_in_bytes"],
                    "sequence_number": e["sequence_number"],
                }
            )
    return out


def read_table(spark, location: str, snapshot_id: int | None = None):
    """DataFrame over the table's live data files at a snapshot
    (default: current; pass an older ``snapshot_id`` for time travel).
    Scan planning from the Iceberg metadata, file reading by Spark's
    parquet source — predicate pushdown / column pruning apply as on
    any parquet scan."""
    files = [f["file_path"] for f in plan_files(location, snapshot_id)]
    if not files:
        raise ValueError(f"snapshot has no data files at {location}")
    return spark.read.parquet(*files)


def last_committed_epoch(location: str, stream_id: str | None = None) -> int | None:
    """Highest ``streaming-epoch-id`` recorded in any snapshot summary,
    or None for a fresh/non-streaming table.

    ``stream_id`` scopes the lookup to snapshots whose summary carries a
    matching ``streaming-stream-id`` — the dedupe key of the real
    Iceberg sink is (queryId, epochId), not epochId alone: a restarted
    query with a fresh checkpoint location (or a second query writing
    the same table) restarts epochs at 0, and a table-global comparison
    would silently drop every one of its batches."""
    meta = load_metadata(location)
    if meta is None:
        return None
    epochs = [
        int(s["summary"]["streaming-epoch-id"])
        for s in meta["snapshots"]
        if "streaming-epoch-id" in s.get("summary", {})
        and (
            stream_id is None
            or s["summary"].get("streaming-stream-id") == stream_id
        )
    ]
    return max(epochs) if epochs else None


def append_stream(stream_df, location: str, summary_extra_fn=None, stream_id: str | None = None):
    """Structured-Streaming sink: one Iceberg append snapshot per
    micro-batch via ``foreachBatch``, idempotent under batch replay.

    Exactly-once shape (the pattern the real Iceberg Spark sink uses):
    the micro-batch epoch id is recorded in the snapshot summary as
    ``streaming-epoch-id``; on restart, Structured Streaming re-delivers
    the last unacknowledged batch, and the handler SKIPS any epoch <=
    the table's last committed one — re-delivery becomes a no-op instead
    of a duplicate snapshot.  ``summary_extra_fn(batch_df)``, if given,
    computes extra lineage counters for the summary (runs before the
    write, so aggregate on a persisted frame or cheap columns).

    ``stream_id`` is the stream's identity for the exactly-once dedupe
    (pass the query's checkpointLocation or any stable per-query id):
    the real Iceberg sink dedupes on (queryId, epochId), and with only
    the epoch a RESTARTED query with a fresh checkpoint — or a second
    query on the same table — restarts epochs at 0 and has every batch
    <= the table's historical max silently dropped.  Without an id the
    handler keeps the table-global comparison (single-writer
    single-incarnation only).

    Returns the ``DataStreamWriter`` (caller adds trigger/checkpoint
    options and ``.start()``)."""
    return stream_df.writeStream.foreachBatch(
        iceberg_batch_handler(location, summary_extra_fn, stream_id)
    )


def iceberg_batch_handler(location: str, summary_extra_fn=None, stream_id: str | None = None):
    """The (batch_df, epoch_id) foreachBatch handler behind
    :func:`append_stream`, exposed so replay idempotency is directly
    testable and so callers composing their own writeStream can reuse
    it.  See :func:`append_stream` for the ``stream_id`` scoping."""

    def handle(batch_df, epoch_id: int) -> None:
        last = last_committed_epoch(location, stream_id)
        if last is not None and epoch_id <= last:
            return  # replayed epoch of THIS stream: already committed
        extra = {"streaming-epoch-id": str(epoch_id)}
        if stream_id is not None:
            extra["streaming-stream-id"] = stream_id
        if summary_extra_fn is not None:
            extra.update(summary_extra_fn(batch_df))
        commit_append(batch_df.sparkSession, batch_df, location, summary_extra=extra)

    return handle


def publish_checkpoint(spark, output_dir: str, location: str | None = None) -> dict | None:
    """Register a checkpointed run's completed bucket files as an
    Iceberg snapshot, with the checkpoint manifest's lineage counters in
    the snapshot summary — "counters written alongside each Iceberg
    snapshot" (BASELINE.json).  Idempotent across resume rounds: only
    files not yet in the table are committed, so each resume adds one
    snapshot covering its newly completed buckets.  Returns the new
    snapshot, or None if there is nothing new to commit.

    Only buckets the manifest records as complete are registered.  A run
    killed after its bucket write but before the manifest save leaves
    files the counters do not cover, and the resume rewrites (deletes)
    them; registering them would make ``added-records`` disagree with
    the summary's counters and leave the table pointing at deleted
    files."""
    from .checkpoint import load_manifest

    location = location or output_dir
    manifest = load_manifest(output_dir)
    files = sorted(
        f
        for b in manifest["buckets"]
        for f in glob.glob(os.path.join(output_dir, f"_bucket={int(b)}", "*.parquet"))
    )
    meta = load_metadata(location)
    if meta is not None:
        have = {f["file_path"] for f in plan_files(location)}
        files = [f for f in files if f not in have]
    if not files:
        return None
    return commit_files(
        spark, files, location, summary_extra=dict(manifest.get("counters", {}))
    )
