"""Synthetic corpus, codec, decode pass, phash dedup, image+caption
pipeline, and checkpoint/resume (FIXTURES.md F1/F6)."""

import glob
import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import spark_jobs
from sparkclean import checkpoint as ckpt
from sparkclean import synth
from sparkclean.checkpoint import load_manifest, run_checkpointed
from sparkclean.images import codec
from sparkclean.images.decode import (
    decode_and_project,
    phash_duplicate_clusters,
    with_image_issues,
)
from sparkclean.pipeline import run_image_caption_quality, run_image_caption_quality_from_path

N = 600


@pytest.fixture(scope="module")
def corpus(spark):
    return synth.synth_images(spark, N, with_images=True, partitions=4).cache()


def test_codec_roundtrip_and_psnr():
    px = codec.synth_pixels(42, 64, 48)
    assert px.shape == (48, 64, 3)
    # png lossless
    dec, fmt = codec.decode(codec.encode(px, "png"))
    assert fmt == "png" and np.array_equal(dec, px)
    # jpeg lossy but >= 40 dB (input_hint gate)
    dec_j, fmt_j = codec.decode(codec.encode(px, "jpeg"))
    assert fmt_j == "jpeg"
    assert codec.psnr(px, dec_j) >= 40.0
    # determinism
    assert np.array_equal(codec.synth_pixels(42, 64, 48), px)
    assert codec.phash64(px) == codec.phash64(px.copy())


def test_synth_schema_and_determinism(spark, corpus):
    rows = corpus.orderBy("image_id").limit(5).collect()
    assert [f.name for f in corpus.schema] == [
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
    ]
    # regenerating with different partitioning yields identical rows
    again = (
        synth.synth_images(spark, N, with_images=True, partitions=13)
        .orderBy("image_id")
        .limit(5)
        .collect()
    )
    for a, b in zip(rows, again):
        assert a["image_id"] == b["image_id"]
        assert a["caption"] == b["caption"]
        assert a["phash"] == b["phash"]
        assert bytes(a["bytes"]) == bytes(b["bytes"])


def test_decode_stats_validation(spark, corpus):
    stats = with_image_issues(decode_and_project(corpus)).cache()
    n = stats.count()
    assert n == N
    agg = stats.agg(
        F.sum(F.when(F.col("decode_ok"), 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("fmt_ok"), 1).otherwise(0)).alias("fmt"),
        F.min("psnr_db").alias("min_psnr"),
    ).collect()[0]
    assert agg["ok"] == N and agg["fmt"] == N
    assert agg["min_psnr"] >= 40.0
    # recomputed phash equals stored phash for png rows (lossless path)
    png_bad = stats.where(
        (F.col("fmt") == "png") & (F.col("phash") != F.col("phash_recomputed"))
    ).count()
    assert png_bad == 0


def test_decode_matches_local_reference(spark, corpus):
    """Per-row invariant: Spark-side decode equals reference (local)
    decode of the same bytes — allclose/bit-exact."""
    sample = corpus.limit(20).collect()
    stats = {
        r["image_id"]: r
        for r in decode_and_project(spark.createDataFrame(sample, corpus.schema)).collect()
    }
    for row in sample:
        px, fmt = codec.decode(bytes(row["bytes"]))
        s = stats[row["image_id"]]
        assert s["decode_ok"]
        np.testing.assert_allclose(s["brightness"], px.astype(float).mean(), rtol=1e-4)
        assert s["phash_recomputed"] == codec.phash64(px)


def test_phash_duplicate_clusters(spark, corpus):
    clusters = phash_duplicate_clusters(corpus).collect()
    assert len(clusters) > 0  # synth plants ~2% duplicate rows
    by_cluster: dict = {}
    for r in clusters:
        by_cluster.setdefault(r["phash"], []).append(r["image_id"])
    # duplicates share identical pixel content → identical bytes per fmt
    rows = {r["image_id"]: r for r in corpus.collect()}
    some = next(iter(by_cluster.values()))
    fmts = {}
    for iid in some:
        r = rows[iid]
        fmts.setdefault((r["fmt"], r["w"], r["h"]), set()).add(bytes(r["bytes"]))
    for blobs in fmts.values():
        assert len(blobs) == 1


def test_image_caption_pipeline(spark, corpus):
    out = run_image_caption_quality(corpus).cache()
    assert out.count() == N
    kept = out.where("keep").count()
    assert 0 < kept < N
    # every dropped row carries a reason; kept rows carry none
    assert out.where(~F.col("keep") & F.col("drop_reason").isNull()).count() == 0
    assert out.where(F.col("keep") & F.col("drop_reason").isNotNull()).count() == 0
    # scrub removed every raw PII token
    leaked = out.where(
        F.col("scrubbed_text").rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    ).count()
    assert leaked == 0


def _both_routes(spark, df, path, **kw):
    """Write ``df`` as flat parquet under ``path`` and score it through
    the DataFrame route and the python-native scan route; rows sorted
    by image_id."""
    df.repartition(8).write.parquet(path)
    a = (
        run_image_caption_quality(spark.read.parquet(path), **kw)
        .orderBy("image_id")
        .collect()
    )
    b = run_image_caption_quality_from_path(spark, path, **kw).orderBy("image_id").collect()
    return a, b


def test_decode_scan_matches_dataframe_path(spark, corpus, tmp_path):
    """The python-native parquet scan must produce identical pipeline
    output to the JVM-scan path, NULL captions included: both routes
    run one caption batch function, null-text rules and all."""
    null_ids = [r["image_id"] for r in corpus.select("image_id").orderBy("image_id").limit(2).collect()]
    with_nulls = corpus.withColumn(
        "caption",
        F.when(F.col("image_id").isin(null_ids), F.lit(None).cast("string")).otherwise(
            F.col("caption")
        ),
    )
    a, b = _both_routes(spark, with_nulls, str(tmp_path / "corpus"))
    assert len(a) == len(b) == N
    for ra, rb in zip(a, b):
        assert ra == rb
    nulls = [r for r in a if r["image_id"] in null_ids]
    assert len(nulls) == 2 and all(r["scrubbed_text"] is None for r in nulls)


def test_from_path_route_job_ceiling(spark, corpus, tmp_path):
    """The python-native scan route on the test corpus starts at most 6
    Spark jobs in the call (the scoring passes; the output frame is
    lazy)."""
    path = str(tmp_path / "corpus")
    corpus.repartition(8).write.parquet(path)
    _, jobs = spark_jobs(spark, lambda: run_image_caption_quality_from_path(spark, path))
    assert jobs <= 6


def test_decode_scan_honours_text_col(spark, corpus, tmp_path):
    """A caption column under another name scores identically through
    both routes.  A text column the files lack is a ValueError naming
    it, raised at plan build.  A stale ``label`` column in the files is
    replaced by the computed one on both routes."""
    from sparkclean.images.decode import decode_scan

    renamed = corpus.withColumnRenamed("caption", "alt_text")
    path = str(tmp_path / "alt_text")
    a, b = _both_routes(spark, renamed, path, text_col="alt_text")
    assert len(a) == len(b) == N
    for ra, rb in zip(a, b):
        assert ra == rb
    with pytest.raises(ValueError, match="'missing'"):
        decode_scan(spark, path, with_caption_features=True, text_col="missing")

    stale = renamed.limit(60).withColumn("label", F.lit(7))
    c, d = _both_routes(spark, stale, str(tmp_path / "stale"), text_col="alt_text")
    assert c == d and len(c) == 60
    assert {r["label"] for r in c} <= {0, 1, 2}


def test_dataframe_route_caches_only_projected_columns(spark):
    """run_image_caption_quality caches the projection the scoring
    passes read, not every scan and feature column."""
    # a fresh, uncached input: the module corpus (and outputs other
    # tests cached over it) would substitute their own relations
    out = run_image_caption_quality(synth.synth_images(spark, 40, with_images=True, partitions=2))
    plan = out._jdf.queryExecution().withCachedData().toString()
    lines = [ln for ln in plan.splitlines() if "InMemoryRelation" in ln]
    assert len(lines) == 1, plan
    cached = re.findall(r"(\w+)#\d+", lines[0].split("InMemoryRelation", 1)[1].split("]", 1)[0])
    assert cached == [
        "image_id", "caption", "decode_ok", "fmt_ok", "psnr_db", "brightness",
        "is_dark", "is_light", "is_low_information", "is_blurry",
        "label", "pred_probs",
    ]


def test_cli_routes_partitioned_parquet_through_spark_read(spark, tmp_path):
    """With no flag, the CLI scores a hive-partitioned corpus (files only
    under ``part=*/``, which the python-native scan cannot list) through
    the spark.read route."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    corpus = str(tmp_path / "partitioned")
    synth.synth_images(spark, 200, with_images=True, partitions=2).withColumn(
        "part", F.pmod(F.xxhash64("image_id"), F.lit(2))
    ).write.partitionBy("part").parquet(corpus)
    assert not glob.glob(os.path.join(corpus, "*.parquet"))
    out = str(tmp_path / "scored")
    script = (
        "from sparkclean.cli import main; "
        f"main(['--input', {corpus!r}, '--output', {out!r}, "
        "'--buckets', '4', '--master', 'local[2]'])"
    )
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, capture_output=True, text=True
    )
    assert res.returncode == 0, res.stderr[-2000:]
    counters = json.loads("{" + res.stdout.split("{", 1)[1].rsplit("}", 1)[0] + "}")
    assert counters["rows_scored"] == 200


def test_decode_scan_rejects_unmappable_column_type(spark, tmp_path):
    """A column with no Spark type (uint64) fails at plan build with a
    ValueError naming the column and the Arrow conversion error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkclean.images.decode import decode_scan

    path = tmp_path / "uint64_corpus"
    path.mkdir()
    tbl = pa.table(
        {
            "image_id": pa.array(["a"]),
            "bytes": pa.array([b""]),
            "w": pa.array([1], pa.int32()),
            "h": pa.array([1], pa.int32()),
            "fmt": pa.array(["png"]),
            "caption": pa.array(["a caption"]),
            "counter": pa.array([1], pa.uint64()),
        }
    )
    pq.write_table(tbl, str(path / "part-0.parquet"))
    with pytest.raises(
        ValueError,
        match=r"column 'counter'.*UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION",
    ):
        decode_scan(spark, str(path))


def _write_scan_files(path, n_files, rows, drop=None):
    """``n_files`` flat parquet files of ``rows`` rows each, with the
    columns decode_scan reads (empty blobs decode as failures, which is
    enough for the scan's shape); ``drop`` removes one column from the
    last file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    files = []
    for i in range(n_files):
        tbl = pa.table(
            {
                "image_id": pa.array([f"img_{i}_{j}" for j in range(rows)]),
                "bytes": pa.array([b""] * rows),
                "w": pa.array([1] * rows, pa.int32()),
                "h": pa.array([1] * rows, pa.int32()),
                "fmt": pa.array(["png"] * rows),
                "caption": pa.array([f"caption {j}" for j in range(rows)]),
            }
        )
        if drop is not None and i == n_files - 1:
            tbl = tbl.drop_columns([drop])
        files.append(os.path.join(path, f"part-{i}.parquet"))
        pq.write_table(tbl, files[-1])
    return files


def test_decode_scan_plan_is_one_range_wave(spark, tmp_path):
    """The scan's tasks come from ``spark.range``: no file-list
    DataFrame (an ExistingRDD scan fed by a PythonRDD job) and no
    exchange.  A small corpus runs one task per core (local[4]), and
    never more tasks than files."""
    from sparkclean.images.decode import decode_scan

    path = str(tmp_path / "eight")
    _write_scan_files(path, 8, 512)
    df = decode_scan(spark, path, with_caption_features=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan, plan
    assert "Exchange" not in plan and "ExistingRDD" not in plan, plan
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 8 * 512
    assert df.select("image_id").distinct().count() == 8 * 512

    two = str(tmp_path / "two")
    _write_scan_files(two, 2, 512)
    assert decode_scan(spark, two).rdd.getNumPartitions() == 2


@pytest.mark.parametrize(
    "n_files, rows0, par, want",
    [
        (8, 512, 4, 4),       # perfbench images: one wave, one task per core
        (2, 512, 4, 2),       # never more tasks than files
        (256, 938, 32, 128),  # bench.py sf0.1: 4·par tasks of 2 files each
        (256, 2048, 4, 16),   # capped at 4·par
        (100, 5000, 4, 15),   # 16 tasks or 15: the longest reads 7 files
    ],
)
def test_scan_task_count(n_files, rows0, par, want):
    """decode_scan's task count: one task per core for a small corpus,
    at most 4·par and the file count, and an even split (the fewest
    tasks whose longest one reads as many files as before)."""
    from sparkclean.images.decode import _scan_tasks

    n = _scan_tasks(n_files, rows0, par)
    assert n == want
    loads = [len(range(i, n_files, n)) for i in range(n)]
    assert max(loads) - min(loads) <= 1 and min(loads) >= 1


@pytest.mark.parametrize("fault", ["truncated", "deleted", "missing_column"])
def test_decode_scan_bad_file_fails_naming_it(spark, tmp_path, fault):
    """An unreadable file fails the job (it is not a degenerate image:
    dropping its rows would change the counters with no error), and the
    error names the file, and the column when one is missing."""
    from sparkclean.images.decode import decode_scan

    path = str(tmp_path / fault)
    files = _write_scan_files(path, 3, 20, drop="caption" if fault == "missing_column" else None)
    bad = files[-1]
    if fault == "truncated":
        with open(bad, "r+b") as f:
            f.truncate(os.path.getsize(bad) // 2)
    df = decode_scan(spark, path)
    if fault == "deleted":
        os.remove(bad)
    with pytest.raises(Exception) as err:
        df.collect()
    msg = str(err.value)
    assert bad in msg, msg[-2000:]
    if fault == "missing_column":
        assert "'caption'" in msg, msg[-2000:]


def test_checkpoint_resume(spark, corpus, tmp_path):
    out_dir = str(tmp_path / "ckpt")
    scored = run_image_caption_quality(corpus)

    # phase 1: pretend an earlier run completed only buckets 0..7
    m1 = run_checkpointed(
        scored.where(F.pmod(F.xxhash64("image_id"), F.lit(16)).cast("int") < 8),
        out_dir,
        n_buckets=16,
    )
    # simulate the crash: manifest only knows buckets 0..7
    m1["buckets"] = {k: v for k, v in m1["buckets"].items() if int(k) < 8}
    import json, os

    with open(os.path.join(out_dir, "_sparkclean_manifest.json"), "w") as f:
        json.dump(m1, f)

    # phase 2: resume with the full input — only buckets 8..15 recompute
    m2 = run_checkpointed(scored, out_dir, n_buckets=16)
    assert set(m2["buckets"]) == {str(b) for b in range(16)}

    # single-shot run matches the resumed run exactly
    solo_dir = str(tmp_path / "solo")
    m3 = run_checkpointed(scored, solo_dir, n_buckets=16)
    assert m2["counters"]["rows_scored"] == m3["counters"]["rows_scored"] == N
    assert m2["counters"]["rows_kept"] == m3["counters"]["rows_kept"]
    assert m2["counters"]["dropped_by_rule"] == m3["counters"]["dropped_by_rule"]

    a = spark.read.parquet(out_dir).orderBy("image_id").drop("_bucket").collect()
    b = spark.read.parquet(solo_dir).orderBy("image_id").drop("_bucket").collect()
    assert a == b

    # resume-round join: publish the completed checkpoint as a bucketed
    # table; the next round's id-join against an equally-bucketed feature
    # table must plan with NO Exchange (shuffle-free resume)
    from sparkclean.checkpoint import publish_bucketed
    from sparkclean.io import write_bucketed, read_bucketed

    scored_tbl = publish_bucketed(
        spark, out_dir, "ckpt_scores", n_buckets=8,
        path=str(tmp_path / "scores_bkt"),
    )
    feats = corpus.select("image_id", F.length("caption").alias("cap_len"))
    write_bucketed(
        feats, "ckpt_feats", ["image_id"], 8, sort_cols=["image_id"],
        path=str(tmp_path / "feats_bkt"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        resumed = scored_tbl.join(read_bucketed(spark, "ckpt_feats"), "image_id")
        plan = resumed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert resumed.count() == N
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS ckpt_scores")
        spark.sql("DROP TABLE IF EXISTS ckpt_feats")


def _ckpt_input(spark):
    """500 rows over 6 input partitions, half kept, half dropped."""
    return spark.range(0, 500, numPartitions=6).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 2 == 0).alias("keep"),
        F.when(F.col("id") % 2 == 1, F.lit("low_quality")).alias("drop_reason"),
    )


def _assert_one_file_per_bucket(out_dir, n_buckets):
    """Every bucket directory of a checkpoint output holds exactly one
    parquet file; returns the set of file paths."""
    files = {
        d: glob.glob(os.path.join(d, "*.parquet"))
        for d in glob.glob(os.path.join(out_dir, "_bucket=*"))
    }
    assert len(files) == n_buckets
    assert all(len(f) == 1 for f in files.values()), files
    return {f for fs in files.values() for f in fs}


def _without_times(manifest):
    return {
        b: {k: v for k, v in rec.items() if k != "completed_at"}
        for b, rec in manifest["buckets"].items()
    }


def test_checkpoint_writes_one_file_per_bucket(spark, tmp_path):
    """The write is clustered by bucket: each bucket is ONE parquet file
    however many input partitions fed it, written and counted in at
    most 2 Spark jobs (the bucket exchange and the writing stage).  No
    cache and no temp file is left behind, and a temp file a killed
    earlier run left in a bucket directory is removed."""
    out = str(tmp_path / "ckpt")
    stale_dir = os.path.join(out, "_bucket=3")
    os.makedirs(stale_dir)
    stale_tmp = os.path.join(stale_dir, ".part-0123456789abcdef-3.deadbeef.tmp")
    open(stale_tmp, "wb").close()
    sc = spark.sparkContext
    persistent = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup("run_checkpointed_probe", "run_checkpointed")
    try:
        m = run_checkpointed(_ckpt_input(spark), out, n_buckets=16)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("run_checkpointed_probe")) <= 2
    assert sc._jsc.getPersistentRDDs().size() == persistent
    _assert_one_file_per_bucket(out, 16)
    assert not os.path.exists(stale_tmp)
    assert glob.glob(os.path.join(out, "_bucket=*", ".*")) == []
    assert m["counters"] == {
        "rows_scored": 500,
        "rows_kept": 250,
        "dropped_by_rule": {"low_quality": 250},
    }


def test_checkpoint_counters_describe_the_rows_written(spark, tmp_path):
    """The manifest counts the rows the checkpoint wrote, even when the
    frame would not recompute to the same rows: ``keep`` here is a
    random draw per row, so a second counting pass would disagree with
    the files."""
    import random
    from collections import Counter

    import pyarrow.parquet as pq

    coin = F.udf(lambda _: random.random() < 0.5, "boolean").asNondeterministic()
    df = (
        spark.range(0, 500, numPartitions=6)
        .select(F.col("id").alias("image_id"), coin("id").alias("keep"))
        .withColumn("drop_reason", F.when(~F.col("keep"), F.lit("low_quality")))
    )
    out = str(tmp_path / "ckpt")
    m = run_checkpointed(df, out, n_buckets=16)
    for b, rec in m["buckets"].items():
        (f,) = glob.glob(os.path.join(out, f"_bucket={b}", "*.parquet"))
        t = pq.read_table(f).to_pydict()
        assert rec["rows"] == len(t["image_id"]), b
        assert rec["kept"] == sum(t["keep"]), b
        assert rec["dropped_by_rule"] == Counter(r for r in t["drop_reason"] if r), b
    assert m["counters"]["rows_scored"] == 500


@pytest.mark.parametrize("scheme", ["hdfs", "s3a", "file"])
def test_checkpoint_rejects_uri_output_dir(spark, tmp_path, monkeypatch, scheme):
    """The writer and the manifest use ``os`` on ``output_dir``, so a
    URI is refused before anything is written (the manifest used to land
    in a local directory literally named ``hdfs:`` or ``file:``)."""
    uri = {
        "hdfs": "hdfs://localhost:1/out",
        "s3a": "s3a://bucket/out",
        "file": f"file://{tmp_path}/out",
    }[scheme]
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match=re.escape(uri)):
        run_checkpointed(_ckpt_input(spark), uri, n_buckets=4)
    assert os.listdir(tmp_path) == []


def test_checkpoint_resume_after_kill_before_manifest_save(spark, tmp_path, monkeypatch):
    """A run killed between the bucket write and the manifest save leaves
    files no manifest records.  The rerun must rewrite those buckets in
    place (the rewrite removes the stale files, it does not add beside
    them) and end exactly where a single-shot run does."""
    df = _ckpt_input(spark)
    out = str(tmp_path / "killed")
    save = ckpt._save_manifest
    calls = []

    def killed_once(output_dir, manifest):
        calls.append(output_dir)
        if len(calls) == 1:
            raise RuntimeError("killed before the manifest save")
        save(output_dir, manifest)

    monkeypatch.setattr(ckpt, "_save_manifest", killed_once)
    with pytest.raises(RuntimeError, match="killed"):
        run_checkpointed(df, out, n_buckets=16)
    assert load_manifest(out)["buckets"] == {}
    stale = _assert_one_file_per_bucket(out, 16)

    run_checkpointed(df, out, n_buckets=16)
    solo = str(tmp_path / "solo")
    m_solo = run_checkpointed(df, solo, n_buckets=16)
    saved = load_manifest(out)
    assert saved["counters"] == m_solo["counters"]
    assert _without_times(saved) == _without_times(m_solo)
    assert not stale & _assert_one_file_per_bucket(out, 16)

    a = spark.read.parquet(out).orderBy("image_id").collect()
    b = spark.read.parquet(solo).orderBy("image_id").collect()
    assert a == b


def test_phash_near_duplicates_on_decoded_corpus(spark, corpus):
    """Hamming-ball near-dup over phashes RECOMPUTED from decoded pixels:
    exact vs a NumPy brute force at distance <= 3 (block_bits=16 is
    pigeonhole-exact there) over DISTINCT phashes — identical phashes
    (the planted same-seed clusters) collapse to their min-id
    representative before banding, so their membership surfaces through
    the cluster expansion, not as distance-0 pairs."""
    from sparkclean.images.decode import (
        phash_near_duplicate_clusters,
        phash_near_duplicates,
    )

    stats = decode_and_project(corpus).select("image_id", "phash_recomputed")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_duplicates(
            stats, id_col="image_id", phash_col="phash_recomputed"
        ).collect()
    }

    rows = stats.collect()
    groups: dict[int, list] = {}
    for r in rows:
        groups.setdefault(r["phash_recomputed"] % (1 << 64), []).append(r["image_id"])
    reps = {h: min(ids) for h, ids in groups.items()}
    hs = sorted(reps)
    exp = {}
    for i, hi in enumerate(hs):
        for hj in hs[i + 1 :]:
            d = (hi ^ hj).bit_count()
            if d <= 3:
                a, b = sorted((reps[hi], reps[hj]))
                exp[(a, b)] = d
    assert got == exp
    assert all(d >= 1 for d in got.values())
    # the planted same-seed duplicate clusters surface via the linear
    # membership expansion: every identical-phash group shares a cluster
    cl_rep = {
        r["image_id"]: r["cluster_rep"]
        for r in phash_near_duplicate_clusters(
            stats, id_col="image_id", phash_col="phash_recomputed"
        ).collect()
    }
    dup_groups = [ids for ids in groups.values() if len(ids) > 1]
    assert dup_groups  # the corpus plants same-seed duplicates
    for ids in dup_groups:
        assert len({cl_rep[i] for i in ids}) == 1


def test_failed_decodes_get_null_phash_not_sentinel(spark):
    """Null blobs / corrupt payloads must yield NULL phash_recomputed —
    a 0 sentinel would bucket every broken image into one fake
    distance-0 near-dup cluster (round-4 review finding)."""
    from sparkclean.images.decode import phash_near_duplicates

    good = codec.encode(codec.synth_pixels(1, 32, 32), "png")
    rows = [
        ("ok_1", bytearray(good), 32, 32, "png", "c", 0),
        ("ok_2", bytearray(good), 32, 32, "png", "c", 0),
        ("null_1", None, 32, 32, "png", "c", 0),
        ("null_2", None, 32, 32, "png", "c", 0),
        ("corrupt_1", bytearray(b"SCPNG\x01\x00\x01\x00garbage"), 1, 1, "png", "c", 0),
        ("corrupt_2", bytearray(b"nonsense"), 1, 1, "png", "c", 0),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    )
    stats = decode_and_project(df).cache()
    got = {r["image_id"]: r["phash_recomputed"] for r in stats.collect()}
    assert got["ok_1"] is not None and got["ok_1"] == got["ok_2"]
    for bad in ("null_1", "null_2", "corrupt_1", "corrupt_2"):
        assert got[bad] is None, bad
    pairs = {
        (r["id_a"], r["id_b"])
        for r in phash_near_duplicates(
            stats, id_col="image_id", phash_col="phash_recomputed"
        ).collect()
    }
    # identical good images collapse to one representative (no pairs at
    # all), and the broken images must not form a phantom cluster: the
    # good pair groups via cluster expansion, NULLs stay singletons
    assert pairs == set()
    from sparkclean.images.decode import phash_near_duplicate_clusters

    cl = {
        r["image_id"]: (r["cluster_rep"], r["cluster_size"])
        for r in phash_near_duplicate_clusters(
            stats, id_col="image_id", phash_col="phash_recomputed"
        ).collect()
    }
    assert cl["ok_1"] == cl["ok_2"] == ("ok_1", 2)
    for bad in ("null_1", "null_2", "corrupt_1", "corrupt_2"):
        assert cl[bad] == (bad, 1), bad
