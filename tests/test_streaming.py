"""Streaming dataflow: stateless pass-2 stream, stateful inspector,
batching invariance, and an end-to-end availableNow query."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkclean import synth
from sparkclean.pipeline import caption_label_frame, caption_scores
from sparkclean.quality.thresholds import get_confident_thresholds
from sparkclean.streaming import StreamingLabelInspector, score_stream


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    df = synth.synth_images(spark, 400, with_images=False, partitions=4)
    path = str(tmp_path_factory.mktemp("stream") / "in")
    df.drop("bytes").repartition(4).write.parquet(path)
    return path


def test_inspector_threshold_batch_invariance(spark, corpus):
    """Thresholds after consuming all batches equal the batch-size-
    invariant global mean (tests/test_filter_count.py:951 analog)."""
    full = spark.read.parquet(corpus)

    insp1 = StreamingLabelInspector()
    insp1.process_batch(full)

    insp4 = StreamingLabelInspector()
    for i in range(4):
        part = full.where(F.pmod(F.xxhash64("image_id"), F.lit(4)) == i)
        insp4.process_batch(part)

    np.testing.assert_allclose(insp1.thresholds(), insp4.thresholds(), rtol=1e-9)
    assert insp4.batches_seen == 4 and insp4.rows_seen == 400
    assert len(insp4.metrics) == 4
    # ... and equal the batch pipeline's thresholds on the same frame
    want = get_confident_thresholds(caption_label_frame(full, "caption"), 3)
    np.testing.assert_allclose(insp1.thresholds(), want, rtol=1e-12)


def test_score_stream_available_now(spark, corpus, tmp_path):
    """Real streaming query: parquet source → stateless scoring →
    memory sink, one availableNow trigger.  Streaming and batch share
    one caption stage: per image_id, the stream's label, pred_lang,
    quality_score and scrubbed_text equal the frame caption_scores
    builds on the same rows."""
    static = spark.read.parquet(corpus)
    thresholds = get_confident_thresholds(caption_label_frame(static, "caption"), 3)

    stream = spark.readStream.schema(static.schema).parquet(corpus)
    scored = score_stream(stream, thresholds)
    q = (
        scored.writeStream.format("memory")
        .queryName("scored_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM scored_stream").collect()
    assert len(out) == 400

    times = {}
    batch = {
        r["image_id"]: r
        for r in caption_scores(
            caption_label_frame(static, "caption"),
            id_col="image_id",
            text_col="caption",
            stage_times=times,
        )
        .select("image_id", "label", "pred_lang", "quality_score", "scrubbed_text")
        .collect()
    }
    assert len(batch) == 400
    # bench.py and perfbench read these two timers
    assert set(times) == {"pass1_scan_thresholds", "pass2_issue_count"}
    for r in out:
        b = batch[r["image_id"]]
        assert r["label"] == b["label"]
        assert r["pred_lang"] == b["pred_lang"]
        assert abs(r["quality_score"] - b["quality_score"]) < 1e-12
        assert r["scrubbed_text"] == b["scrubbed_text"]


def test_process_batch_releases_previous_cache(spark, corpus):
    """Each process_batch drops the previous batch's feature cache, so
    direct callers hold at most one, and release_batch_cache() returns
    the persisted-RDD count to where it started."""
    jsc = spark.sparkContext._jsc
    full = spark.read.parquet(corpus)
    # earlier tests may hold caches of these very plans, which the
    # CacheManager would share with (and unpersist alongside) this one
    spark.catalog.clearCache()
    before = jsc.getPersistentRDDs().size()
    insp = StreamingLabelInspector()
    for i in range(4):
        part = full.where(F.pmod(F.xxhash64("image_id"), F.lit(4)) == i)
        insp.process_batch(part)
        assert jsc.getPersistentRDDs().size() <= before + 1
    insp.release_batch_cache()
    assert jsc.getPersistentRDDs().size() == before


def test_caption_stage_replaces_colliding_feature_column(spark, corpus, tmp_path):
    """A source column named like a caption feature (n_chars) is
    replaced by the computed value, in batch and in streaming."""
    path = str(tmp_path / "with_n_chars")
    spark.read.parquet(corpus).withColumn("n_chars", F.lit(-1).cast("bigint")).write.parquet(path)
    static = spark.read.parquet(path)

    batch = caption_label_frame(static, "caption")
    assert batch.columns.count("n_chars") == 1
    assert batch.where(F.col("n_chars") != F.length("caption")).count() == 0

    stream = spark.readStream.schema(static.schema).parquet(path)
    scored = score_stream(stream, [0.5, 0.5, 0.5])
    assert scored.columns.count("n_chars") == 1
    q = (
        scored.writeStream.format("memory")
        .queryName("n_chars_collision")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT caption, n_chars FROM n_chars_collision").collect()
    assert len(out) == 400
    assert all(r["n_chars"] == len(r["caption"]) for r in out)


def test_foreachbatch_end_to_end(spark, corpus, tmp_path):
    static = spark.read.parquet(corpus)
    insp = StreamingLabelInspector()
    out_dir = str(tmp_path / "out")
    stream = spark.readStream.schema(static.schema).parquet(corpus)
    q = insp.attach(stream, out_dir).trigger(availableNow=True).start()
    q.awaitTermination(120)
    written = spark.read.parquet(out_dir)
    assert written.count() == 400
    assert insp.rows_seen == 400


def test_stateful_language_stats(spark, corpus, tmp_path):
    """applyInPandasWithState operator: running per-language stats
    survive across micro-batches and match the batch-oblivious truth."""
    from sparkclean.streaming import score_stream, stateful_language_stats

    static = spark.read.parquet(corpus)
    thresholds = get_confident_thresholds(caption_label_frame(static, "caption"), 3)

    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(corpus)
    scored = score_stream(stream, thresholds)
    stats = stateful_language_stats(scored)
    q = (
        stats.writeStream.format("memory")
        .queryName("lang_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql(
        "SELECT lang, max(rows) AS rows, max(kept) AS kept FROM lang_stats GROUP BY lang"
    ).collect()
    got = {r["lang"]: (r["rows"], r["kept"]) for r in out}

    truth_df = score_stream(static, thresholds)
    truth = {
        r["pred_lang"]: (r["rows"], r["kept"])
        for r in truth_df.groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
        )
        .collect()
    }
    assert got == truth
    assert sum(v[0] for v in got.values()) == 400


def test_windowed_event_counts_drops_late_data(spark, tmp_path):
    """Event-time watermark contract: windows finalize once the
    watermark passes (append mode), and an event arriving LATER than
    the watermark is discarded instead of reopening the window."""
    import datetime as dt
    import os
    import time

    from sparkclean.streaming import windowed_event_counts

    src = str(tmp_path / "events_src")
    os.makedirs(src, exist_ok=True)
    schema = "event_id long, event_type string, ts timestamp, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # batch 1: two 10:xx events + one 12:xx event that pushes the
    # watermark (12:00 - 30min = 11:30) past the 10:00 window's end
    write_batch("b1", [(1, "a", ts(5), 1.0), (2, "a", ts(20), 2.0),
                       (3, "b", ts(125), 4.0)])

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = windowed_event_counts(stream, ts_col="ts", key_col="event_type")
    q = (
        out.writeStream.format("memory")
        .queryName("win_events")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE event in the already-finalized 10:00 window
        # (watermark is 11:30) plus a fresh 13:xx event that finalizes
        # the 12:00 window
        write_batch("b2", [(4, "a", ts(30), 8.0), (5, "b", ts(185), 16.0)])
        q.processAllAvailable()
        # one more empty-ish advance so 12:00 can emit
        write_batch("b3", [(6, "b", ts(250), 32.0)])
        q.processAllAvailable()
        time.sleep(1)
        rows = spark.sql("SELECT * FROM win_events").collect()
    finally:
        q.stop()
    by_key = {(r["window_start"].hour, r["event_type"]): r for r in rows}
    # the 10:00/a window finalized from batch 1 ONLY — the late event
    # (value 8.0) was dropped by the watermark
    assert (10, "a") in by_key
    assert by_key[(10, "a")]["n_events"] == 2
    assert by_key[(10, "a")]["value_sum"] == 3.0
    # the 12:00/b window finalized once the watermark passed it
    assert (12, "b") in by_key and by_key[(12, "b")]["n_events"] == 1


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: a caption duplicated
    across micro-batches survives only in the batch that saw it first,
    within-batch duplicates keep the min id, and the surviving id set
    equals the batch operator's (distinct_by_fingerprint)."""
    from sparkclean.dedup.exact import distinct_by_fingerprint
    from sparkclean.streaming import streaming_exact_dedup

    src = tmp_path / "src"
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "unique one"), (3, "the quick  brown fox ")],
        "doc_id: long, caption: string",
    )
    b2 = spark.createDataFrame(
        [(10, "THE quick brown fox".lower()), (11, "unique two"), (12, "unique one")],
        "doc_id: long, caption: string",
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    deduped = streaming_exact_dedup(stream, text_col="caption", id_col="doc_id")
    q = (
        deduped.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM stream_dedup").collect()
    got = {r["doc_id"] for r in rows}

    static = b1.unionByName(b2)
    truth = {
        r["doc_id"]
        for r in distinct_by_fingerprint(static, "caption", "doc_id").collect()
    }
    # ids here are monotone with arrival order, so first-seen == min-id
    assert got == truth
    # the cross-batch duplicate (10) and within-batch whitespace dup (3)
    # and the batch-2 repeat of "unique one" (12) are all dropped
    assert got == {1, 2, 11}
    # full surviving rows are emitted, not just ids
    caps = {r["doc_id"]: r["caption"] for r in rows}
    assert caps[2] == "unique one" and caps[11] == "unique two"
    assert all(r["fingerprint"] is not None for r in rows)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        streaming_exact_dedup(stream, text_col="caption", id_col="doc_id", ttl_minutes=0)
