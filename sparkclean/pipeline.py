"""End-to-end caption quality pipeline (the flagship dataflow).

read → heuristic features → langid → perplexity → pseudo-label + K=3
pred_probs (frozen softmax-linear scorer) → confident thresholds (pass 1)
→ self-confidence scores + issue count (pass 2) → keep/drop → scrub →
write.

This is exactly the 2-pass batched shape of the reference
(experimental/label_issues_batched.py:43-227 — see SURVEY.md §3.4), with
Spark aggregations replacing the streaming accumulators.  Caption
features, langid, perplexity and the pseudo-label come from one Arrow
batch function (``text.fast.caption_label_batch``, run by
:func:`caption_label_frame` or inside the image scan); the pseudo-label
scorer weights are frozen literals (the "broadcast model table" of
SURVEY.md §2.12).

``oracle_sql_for`` emits the DuckDB twin of the whole pipeline, built
from the same per-stage SQL generators so the two cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .constants import CONFIDENT_THRESHOLDS_LOWER_BOUND, FLOATING_POINT_COMPARISON
from .quality.issues import flag_bottom_n_issues, issue_counts
from .quality.scores import self_confidence
from .quality.thresholds import get_confident_thresholds
from .text.ppl import ppl_hash_sql
from .text.rules import quality_features_sql_exprs
from .text.scrub import scrub_col, scrub_sql

NUM_CLASSES = 3  # 0=good, 1=low_quality, 2=wrong_language

# Frozen pseudo-label scorer weights (FIXTURES.md F4): logits are linear in
# the feature vector, probabilities via softmax.  Chosen (not trained) so
# the three logits respond to quality/language signals; deterministic.
W_GOOD = dict(bias=0.8, f_len=2.0, rep=-3.0, digit=-3.0, punct=0.0, stop=2.0, en=1.5, lppl=-1.2)
W_LOWQ = dict(bias=0.0, f_len=-2.0, rep=3.0, digit=3.0, punct=2.0, stop=0.0, en=0.0, lppl=1.0)
W_WRONGLANG = dict(bias=1.5, f_len=0.0, rep=0.0, digit=0.0, punct=0.0, stop=-2.0, en=-2.5, lppl=0.3)
WEIGHTS = [W_GOOD, W_LOWQ, W_WRONGLANG]

MIN_WORDS_GOOD = 5
MAX_REPETITION_GOOD = 0.5
MAX_DIGIT_GOOD = 0.3


def caption_label_frame(df: DataFrame, text_col: str) -> DataFrame:
    """The caption stage: one mapInPandas stage over ``df`` runs
    ``text.fast.caption_label_batch``, appending every caption feature,
    the pseudo-label and pred_probs to the input columns.  Batch
    (:func:`run_caption_quality`, :func:`run_image_caption_quality`),
    streaming (:mod:`sparkclean.streaming`) and the text gate queries
    all call it, and the python-native image scan runs the same batch
    function; the DuckDB SQL twins (``quality_features_sql_exprs``,
    ``langid_markers_query_sql``, ``ppl_hash_sql``, :func:`oracle_sql_for`)
    are its oracle.  Works on streaming frames too.

    Output columns: the input columns, then ``text.fast.CAPTION_FIELDS``
    (``n_chars`` … ``stopword_ratio``, ``pred_lang``, ``ppl``, ``label``,
    ``pred_probs``).  A source column named like one of these outputs is
    replaced by the computed value, not duplicated.  Null-text semantics
    are those of ``caption_label_batch``.
    """
    import os as _os

    from .skew import ensure_parallelism
    from .text.fast import CAPTION_FIELDS, CAPTION_NAMES

    # worker-side import root: the nested `run` below is cloudpickled by
    # VALUE, but the text.fast kernels it calls live in this package —
    # workers of a driver launched from a foreign cwd (the external
    # driver loads __spark_entry__ by file path) cannot import
    # sparkclean without this bootstrap
    _pkg_root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))

    src = ensure_parallelism(df)
    # a source column colliding with an output name (e.g. documents'
    # own n_chars) is replaced by the computed value
    cols = [c for c in src.columns if c not in CAPTION_NAMES]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in src.schema if f.name in cols]
        + [CAPTION_FIELDS]
    )

    def run(batches):
        import sys

        import pandas as pd

        if _pkg_root not in sys.path:
            sys.path.insert(0, _pkg_root)
        from sparkclean.text.fast import caption_label_batch

        for pdf in batches:
            out = {c: pdf[c] for c in cols}
            out.update(caption_label_batch(pdf[text_col]))
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema)


def caption_scores(
    labelled: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stage_times: dict | None = None,
) -> DataFrame:
    """Caption quality dataflow over a LABELLED frame — one that already
    carries ``label`` and ``pred_probs``, i.e. the output of
    :func:`caption_label_frame` or of
    ``decode_scan(with_caption_features=True)``.  Returns its columns
    plus quality_score (unrounded), is_label_issue, keep, scrubbed_text.

    Job structure: ``labelled`` is cached, then the steps of
    ``quality.issues.find_label_issues_batched(thorough=False)`` run on
    it: pass-1 agg collects K=3 thresholds (paying the upstream scan and
    caption stage into the persist), pass-2 is ``issue_counts`` (fast
    rule and row count in one agg), then ``flag_bottom_n_issues`` (exact
    bottom-n, reduce-issues unflag).  This function adds only keep and
    the scrub projection.  All aggregations are map-side partial;
    nothing wide shuffles.  Project ``labelled`` down to the columns the
    caller still needs before calling: every column is cached.

    Cache ownership: the labelled frame stays persisted for the session
    (the returned DataFrame reads it lazily — unpersisting here would
    recompute features for the caller's action).  Batch drivers
    (bench.py, tools/check_correctness.py) clearCache() between queries;
    long-lived callers issuing many pipelines should do the same or
    call ``spark.catalog.clearCache()`` when done — the same contract
    as sim.knn.knn_edges' session-pinned graph.

    ``stage_times``, if given, receives wall-clock seconds for the two
    eager jobs this function triggers — ``pass1_scan_thresholds`` (the
    thresholds aggregation, which pays the full scan/decode/feature
    stage into the persist) and ``pass2_issue_count`` (the fused
    issue-count aggregation over the cached frame).  Zero cost when
    None (the default); bench.py uses it so recorded bench numbers are
    self-diagnosing per stage.
    """
    import time as _time

    feats = labelled.persist()

    _t0 = _time.time()
    thresholds = get_confident_thresholds(feats, NUM_CLASSES)
    if stage_times is not None:
        stage_times["pass1_scan_thresholds"] = round(_time.time() - _t0, 3)

    _t0 = _time.time()
    n_issues, total = issue_counts(feats, thresholds, thorough=False)
    if stage_times is not None:
        stage_times["pass2_issue_count"] = round(_time.time() - _t0, 3)

    # quality_score is a one-expression derivation (element_at) over the
    # already-cached feats — derive it lazily instead of persisting a
    # SECOND near-identical copy of the frame (the double cache write
    # materialised ~240k x 13 columns twice per pipeline run); feats
    # stays pinned for the session, same ownership contract as before
    scored = feats.withColumn(
        "quality_score", self_confidence(F.col("label"), F.col("pred_probs"))
    )
    flagged = flag_bottom_n_issues(scored, n_issues, total, "quality_score", id_col)
    return flagged.withColumn(
        "keep", (F.col("label") == 0) & ~F.col("is_label_issue")
    ).withColumn("scrubbed_text", scrub_col(F.col(text_col)))


def run_caption_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Caption-only pipeline with the stable public output schema."""
    out = caption_scores(caption_label_frame(df, text_col), id_col, text_col)
    return out.select(
        id_col,
        "label",
        F.round("quality_score", 6).alias("quality_score"),
        "is_label_issue",
        "keep",
        "scrubbed_text",
    )


def run_image_caption_quality(
    df: DataFrame, id_col: str = "image_id", text_col: str = "caption"
) -> DataFrame:
    """Fused image+caption keep/drop over the input_hint schema
    (image_id, bytes, w, h, fmt, caption, phash), for any DataFrame.

    Plan shape (100 TB design):
      1. ONE scan: the decode mapInPandas emits narrow columns + stats
         together — ``bytes`` dies at the scan, no join needed;
      2. the Arrow caption stage (:func:`caption_label_frame`) on the
         narrow rows, then the shared scoring body
         (:func:`_score_images`): project, cache, two tiny aggs, exact
         bottom-n;
      3. drop_reason taxonomy feeds the lineage counters.

    Returns exactly the rows :func:`run_image_caption_quality_from_path`
    returns for the same parquet corpus.
    """
    from .images.decode import decode_and_project

    return _score_images(
        caption_label_frame(decode_and_project(df), text_col), id_col, text_col
    )


def run_image_caption_quality_from_path(
    spark, path: str, id_col: str = "image_id", text_col: str = "caption",
    stage_times: dict | None = None,
) -> DataFrame:
    """Like :func:`run_image_caption_quality` but scanning the parquet
    files directly under ``path`` with the python-native reader
    (images.decode.decode_scan), so the binary payload never crosses the
    JVM↔Python boundary.  Decode, caption features and pseudo-labels
    run in that one Arrow pass — the caption stage is the same
    ``text.fast.caption_label_batch`` :func:`caption_label_frame` runs,
    so both routes return identical rows.  ``stage_times`` is passed to
    :func:`caption_scores`.
    """
    from .images.decode import decode_scan

    # decode_scan already sizes its task count to the cluster; an extra
    # ensure_parallelism here costs a ~3 s .rdd partition probe on the
    # python-source plan and never changes the layout.
    labelled = decode_scan(spark, path, with_caption_features=True, text_col=text_col)
    return _score_images(labelled, id_col, text_col, stage_times)


def _score_images(
    labelled: DataFrame, id_col: str, text_col: str, stage_times: dict | None = None
) -> DataFrame:
    """The body both image routes share: image issue flags, then the
    caption scoring passes, then the keep/drop_reason output."""
    from .images.decode import with_image_issues

    # project down to what the scoring passes + final output actually
    # read BEFORE the persist: caption_scores caches its input frame,
    # and caching all ~31 scan columns (w/h/fmt/phash/raw feature
    # ratios/...) materialises ~2.5x the bytes the pipeline ever
    # consumes again (guide §2.3 "project before the exchange" — the
    # cache write is the exchange here)
    projected = with_image_issues(labelled).select(
        id_col, text_col, "decode_ok", "fmt_ok", "psnr_db", "brightness",
        "is_dark", "is_light", "is_low_information", "is_blurry",
        "label", "pred_probs",
    )
    joined = caption_scores(
        projected, id_col=id_col, text_col=text_col, stage_times=stage_times
    )
    return _finalize_image_output(joined, id_col)


def _finalize_image_output(joined: DataFrame, id_col: str) -> DataFrame:
    image_ok = (
        F.coalesce(F.col("decode_ok"), F.lit(False))
        & F.coalesce(F.col("fmt_ok"), F.lit(False))
        & (F.coalesce(F.col("psnr_db"), F.lit(0.0)) >= 40.0)
    )
    drop_reason = (
        F.when(~F.coalesce(F.col("decode_ok"), F.lit(False)), F.lit("decode_failed"))
        .when(~F.coalesce(F.col("fmt_ok"), F.lit(False)), F.lit("fmt_mismatch"))
        .when(F.coalesce(F.col("psnr_db"), F.lit(0.0)) < 40.0, F.lit("low_psnr"))
        .when(F.col("label") == 2, F.lit("wrong_language"))
        .when(F.col("label") == 1, F.lit("low_quality"))
        .when(F.col("is_label_issue"), F.lit("label_issue"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        joined.withColumn("keep", F.col("keep") & image_ok)
        .withColumn("drop_reason", drop_reason)
        .select(
            id_col,
            "label",
            F.round("quality_score", 6).alias("quality_score"),
            "is_label_issue",
            "keep",
            "drop_reason",
            "scrubbed_text",
            "decode_ok",
            "psnr_db",
            "brightness",
            "is_dark",
            "is_light",
            "is_low_information",
            "is_blurry",
        )
    )


# --------------------------------------------------------------- oracle


def _logit_sql(w: dict) -> str:
    f_len = "least(n_words::DOUBLE, 50.0) / 50.0"
    en = "CASE WHEN pred_lang = 'en' THEN 1.0 ELSE 0.0 END"
    lppl = "ln(ppl) / 10.0"
    return (
        f"({w['bias']} + {w['f_len']} * ({f_len}) + {w['rep']} * repetition_ratio"
        f" + {w['digit']} * digit_ratio + {w['punct']} * punct_ratio"
        f" + {w['stop']} * stopword_ratio + {w['en']} * ({en}) + {w['lppl']} * ({lppl}))"
    )


def oracle_sql_for(table: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of :func:`run_caption_quality`."""
    feats = quality_features_sql_exprs(text_col)
    feat_cols = ", ".join(f"{e} AS {k}" for k, e in feats.items())
    logits = [_logit_sql(w) for w in WEIGHTS]
    exps = [f"exp({l})" for l in logits]
    total = " + ".join(exps)
    probs = ", ".join(f"({e}) / ({total}) AS p{i}" for i, e in enumerate(exps))
    label = (
        f"CASE WHEN pred_lang <> 'en' THEN 2 "
        f"WHEN n_words < {MIN_WORDS_GOOD} OR repetition_ratio > {MAX_REPETITION_GOOD} "
        f"OR digit_ratio > {MAX_DIGIT_GOOD} THEN 1 ELSE 0 END"
    )
    tl = CONFIDENT_THRESHOLDS_LOWER_BOUND
    fpc = FLOATING_POINT_COMPARISON
    # feats/labeled MATERIALIZED: un-hinted, DuckDB inlines them into
    # every downstream column reference and recomputes the md5 bigram
    # perplexity ~12x (measured 8.4 s -> ~1 s at sf0.01)
    from .text.langid import (
        langid_best_from_hits_sql,
        langid_hits_cols_sql,
        langid_pred_from_hits_sql,
    )

    return f"""
WITH feats0 AS MATERIALIZED (
  SELECT {id_col}, {text_col} AS _txt, {feat_cols},
         {langid_hits_cols_sql(text_col)},
         {ppl_hash_sql(text_col)} AS ppl
  FROM {table}
), feats1 AS (SELECT *, {langid_best_from_hits_sql()} AS _best FROM feats0),
feats AS (
  SELECT *, {langid_pred_from_hits_sql()} AS pred_lang FROM feats1
), labeled AS MATERIALIZED (
  SELECT {id_col}, _txt, {probs}, {label} AS label FROM feats
), arr AS MATERIALIZED (
  SELECT {id_col}, _txt, [p0, p1, p2] AS probs, label,
         CASE label WHEN 0 THEN p0 WHEN 1 THEN p1 ELSE p2 END AS self_conf
  FROM labeled
), th AS (
  SELECT label AS k, greatest(avg(self_conf), {tl}) AS t FROM arr GROUP BY label
), tvec AS (
  SELECT coalesce(max(CASE WHEN k = 0 THEN t END), 2.0) AS t0,
         coalesce(max(CASE WHEN k = 1 THEN t END), 2.0) AS t1,
         coalesce(max(CASE WHEN k = 2 THEN t END), 2.0) AS t2
  FROM th
), am AS (
  SELECT a.*, t.t0, t.t1, t.t2,
         CASE WHEN probs[1] >= probs[2] AND probs[1] >= probs[3] THEN 0
              WHEN probs[2] >= probs[3] THEN 1 ELSE 2 END AS argmax_lbl,
         greatest(probs[1], probs[2], probs[3]) AS maxp
  FROM arr a CROSS JOIN tvec t
), counted AS (
  SELECT count(*) FILTER (
    WHERE maxp >= (CASE argmax_lbl WHEN 0 THEN t0 WHEN 1 THEN t1 ELSE t2 END) - {fpc}
      AND argmax_lbl <> label
  ) AS n_issues FROM am
), ranked AS (
  SELECT am.*, row_number() OVER (ORDER BY self_conf ASC, {id_col} ASC) AS rn
  FROM am
), boosted AS (
  SELECT r.*, c.n_issues,
         CASE WHEN (probs[1] + CASE WHEN label = 0 THEN {fpc} ELSE 0 END) >=
                   (probs[2] + CASE WHEN label = 1 THEN {fpc} ELSE 0 END)
               AND (probs[1] + CASE WHEN label = 0 THEN {fpc} ELSE 0 END) >=
                   (probs[3] + CASE WHEN label = 2 THEN {fpc} ELSE 0 END) THEN 0
              WHEN (probs[2] + CASE WHEN label = 1 THEN {fpc} ELSE 0 END) >=
                   (probs[3] + CASE WHEN label = 2 THEN {fpc} ELSE 0 END) THEN 1
              ELSE 2 END AS boosted_argmax
  FROM ranked r CROSS JOIN counted c
)
SELECT {id_col}, label,
       round(self_conf, 6) AS quality_score,
       (rn <= n_issues AND boosted_argmax <> label) AS is_label_issue,
       (label = 0 AND NOT (rn <= n_issues AND boosted_argmax <> label)) AS keep,
       {scrub_sql('_txt')} AS scrubbed_text
FROM boosted
"""
