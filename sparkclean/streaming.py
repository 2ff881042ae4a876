"""Structured Streaming variant of the caption-quality dataflow.

The reference's streaming shape is LabelInspector
(experimental/label_issues_batched.py): pass 1 maintains per-class
confident thresholds as a running weighted mean (order-invariant),
pass 2 scores each batch against the thresholds seen so far.  Here:

* :class:`StreamingLabelInspector` — foreachBatch driver that updates
  the K-vector threshold state from each micro-batch (exact analog of
  update_confident_thresholds :487-516: ``t = (n_old·t_old +
  n_b·t_b)/(n_old+n_b)``), scores the batch with the current state, and
  appends scored output + a metrics row per batch (lineage counters).
* :func:`score_stream` — stateless scoring stream for the common
  deployment: thresholds fitted offline (pass 1 over the history),
  streaming pass 2 = narrow map stages, so the query needs no state store
  and scales with source parallelism.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constants import CONFIDENT_THRESHOLDS_LOWER_BOUND
from .pipeline import NUM_CLASSES, caption_label_frame
from .quality.issues import fast_issue_rule
from .quality.scores import self_confidence
from .text.scrub import scrub_col


def _score_batch(df: DataFrame, thresholds: list[float]) -> DataFrame:
    candidate = fast_issue_rule(F.col("label"), F.col("pred_probs"), thresholds)
    return (
        df.withColumn("quality_score", self_confidence(F.col("label"), F.col("pred_probs")))
        .withColumn("is_issue_candidate", candidate)
        .withColumn("keep", (F.col("label") == 0) & ~candidate)
    )


def score_stream(
    stream_df: DataFrame,
    thresholds: list[float],
    text_col: str = "caption",
) -> DataFrame:
    """Stateless streaming pass 2: features → pseudo-labels → scores →
    scrub, with frozen thresholds. Narrow stages only — no state store,
    no shuffle; watermark/window counters can be layered by the caller.
    """
    feats = caption_label_frame(stream_df, text_col)
    scored = _score_batch(feats, thresholds)
    return scored.withColumn("scrubbed_text", scrub_col(F.col(text_col)))


class StreamingLabelInspector:
    """Stateful two-pass analog: running thresholds + per-batch scoring.

    State is one (sum, count) pair per class — O(K) on the driver,
    mathematically identical for any batching (the associative-mean
    invariance the reference asserts at tests/test_filter_count.py:951).
    """

    def __init__(self, num_classes: int = NUM_CLASSES):
        self.num_classes = num_classes
        self._sums = np.zeros(num_classes)
        self._counts = np.zeros(num_classes, dtype=np.int64)
        self.batches_seen = 0
        self.rows_seen = 0
        self.metrics: list[dict] = []

    def thresholds(self) -> list[float]:
        t = np.where(self._counts > 0, self._sums / np.maximum(self._counts, 1), 2.0)
        return [float(x) for x in np.clip(t, CONFIDENT_THRESHOLDS_LOWER_BOUND, None)]

    def process_batch(self, batch_df: DataFrame, text_col: str = "caption") -> DataFrame:
        """Update thresholds from this batch, then score it with the
        post-update state (matches LabelInspector's single-pass mode).

        The returned frame reads a persisted feature cache; it stays
        pinned until :meth:`release_batch_cache` or the next call, which
        drops the previous batch's cache first."""
        self.release_batch_cache()
        feats = caption_label_frame(batch_df, text_col).persist()
        rows = (
            feats.groupBy(F.col("label").cast("int").alias("_k"))
            .agg(
                F.sum(self_confidence(F.col("label"), F.col("pred_probs"))).alias("_s"),
                F.count(F.lit(1)).alias("_c"),
            )
            .collect()
        )
        for r in rows:
            if r["_k"] is not None and 0 <= r["_k"] < self.num_classes:
                self._sums[r["_k"]] += r["_s"]
                self._counts[r["_k"]] += r["_c"]
        scored = _score_batch(feats, self.thresholds()).withColumn(
            "scrubbed_text", scrub_col(F.col(text_col))
        )
        stats = scored.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
        ).collect()[0]
        self.batches_seen += 1
        self.rows_seen += int(stats["rows"])
        self.metrics.append(
            {
                "batch": self.batches_seen,
                "rows": int(stats["rows"]),
                "kept": int(stats["kept"] or 0),
                "thresholds": self.thresholds(),
            }
        )
        # feats stays persisted: the returned frame reads it lazily, and
        # an unpersist here would make attach()'s parquet write recompute
        # the feature stage.  The inspector owns the one live cache.
        self._last_feats = feats
        return scored

    def release_batch_cache(self) -> None:
        """Drop the previous micro-batch's feature cache (call after the
        scored output has been materialized)."""
        feats = getattr(self, "_last_feats", None)
        if feats is not None:
            feats.unpersist()
            self._last_feats = None

    def attach(self, stream_df: DataFrame, output_path: str, text_col: str = "caption"):
        """foreachBatch wiring for a real streaming query."""

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            out = self.process_batch(batch_df, text_col)
            out.write.mode("append").parquet(output_path)
            self.release_batch_cache()

        return stream_df.writeStream.foreachBatch(handle)


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    late_threshold: str = "30 minutes",
    value_col: str = "value",
) -> DataFrame:
    """EVENT-time tumbling-window rollup with a late-data watermark —
    the streaming twin of the batch ``events_hourly`` rollup.

    The watermark bounds state: once the max observed event time moves
    ``late_threshold`` past a window's end, that window's aggregate is
    finalized (emitted in append mode) and its state dropped; events
    arriving later than the watermark are discarded rather than
    reopening state — the standard Structured Streaming contract for
    unbounded sources (exercised with genuinely late rows in
    tests/test_streaming.py)."""
    return (
        stream_df.withWatermark(ts_col, late_threshold)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            key_col,
            "n_events",
            "value_sum",
        )
    )


def stateful_language_stats(
    stream_df: DataFrame,
    lang_col: str = "pred_lang",
    score_col: str = "quality_score",
    keep_col: str = "keep",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-language RUNNING corpus statistics (rows seen, kept, mean quality)
    maintained in the state store across micro-batches — the
    arbitrary-stateful analog of the windowed counters, for metrics that
    must never reset (lifetime per-language keep rates feeding the skew
    handler's hot-language list).

    State is a single (rows, kept, total_score) triple per language key:
    constant size per key, shuffled once per batch on the language key.
    Emits one updated row per language per batch (update output mode).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = (
        "lang string, rows long, kept long, mean_score double, keep_rate double"
    )
    state_schema = "rows long, kept long, total double"

    def update(key, pdfs, state: GroupState):
        rows, kept, total = state.get if state.exists else (0, 0, 0.0)
        for pdf in pdfs:
            rows += len(pdf)
            kept += int(pdf[keep_col].sum())
            total += float(pdf[score_col].sum())
        state.update((rows, kept, total))
        yield pd.DataFrame(
            {
                "lang": [key[0]],
                "rows": [rows],
                "kept": [kept],
                "mean_score": [total / max(rows, 1)],
                "keep_rate": [kept / max(rows, 1)],
            }
        )

    return stream_df.groupBy(F.col(lang_col)).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "caption",
    id_col: str = "image_id",
    ttl_minutes: int | None = None,
) -> DataFrame:
    """FIRST-SEEN exact dedup across an unbounded stream — the streaming
    analog of ``dedup.exact.distinct_by_fingerprint`` for incremental
    corpus ingestion: a row whose normalized-text fingerprint appeared
    in ANY earlier micro-batch is dropped; within a batch the smallest
    id survives (the batch operator's tie-break).  Emits each surviving
    FULL ROW (plus its ``fingerprint``) exactly once → append mode.
    Documented divergence from the batch operator: across batches the
    FIRST-ARRIVED row wins, so the surviving-id sets agree with
    distinct_by_fingerprint's global min-id only when ids are monotone
    with arrival order — a stream cannot know a smaller id is still
    coming.

    State is one first-seen marker per distinct fingerprint, shuffled
    once per batch on the fingerprint key.  Total state is linear in the
    distinct corpus — intrinsic to streaming exact-dedup; at 10^12 rows
    run the RocksDB state store, and when the retention contract allows
    pass ``ttl_minutes`` (processing-time timeout, > 0) so fingerprints
    idle longer than the TTL are evicted and dedup becomes
    within-retention-window only (the TTL is refreshed on every sighting
    of the fingerprint, including duplicates).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .text.tokenize import fingerprint_col

    if ttl_minutes is not None and ttl_minutes <= 0:
        raise ValueError(f"ttl_minutes must be > 0 when set (got {ttl_minutes})")
    cols = list(stream_df.columns)
    out_schema = ", ".join(f"{c} {t}" for c, t in stream_df.dtypes) + ", fingerprint long"
    state_schema = "seen boolean"
    use_ttl = ttl_minutes is not None
    ttl_ms = int(ttl_minutes * 60_000) if use_ttl else 0

    def update(key, pdfs, state: GroupState):
        if use_ttl and state.hasTimedOut:
            state.remove()
            return
        seen = state.exists
        first_row = None
        for pdf in pdfs:
            if len(pdf):
                row = pdf.loc[[pdf[id_col].idxmin()], cols]
                if first_row is None or row[id_col].iloc[0] < first_row[id_col].iloc[0]:
                    first_row = row
        if not seen:
            # rewriting an already-True marker would be one needless
            # state-store put per duplicate key per batch (except under
            # TTL, where the put IS the timeout refresh)
            state.update((True,))
        if use_ttl:
            if seen:
                state.update((True,))
            state.setTimeoutDuration(ttl_ms)
        if not seen and first_row is not None:
            yield first_row.assign(fingerprint=key[0])

    fp = stream_df.withColumn("_fp", fingerprint_col(F.col(text_col)))
    return fp.groupBy(F.col("_fp")).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if use_ttl
            else GroupStateTimeout.NoTimeout
        ),
    )
