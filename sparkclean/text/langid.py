"""Language identification.

* Marker-word langid: score per language = #tokens in that language's
  marker list; argmax with deterministic first-wins tie-break over
  LANG_ORDER; rows with zero marker hits → 'und'.  It ships in text.fast
  (``caption_features_batch``, the Arrow caption stage);
  :func:`langid_markers_query_sql` is its DuckDB oracle.

* :class:`FastTextLangId` — fastText-style hashed char-ngram linear
  model (SURVEY.md §2.12): a frozen, seeded (BUCKETS × L) weight table
  broadcast to executors, applied inside an Arrow-batched pandas UDF with
  fully vectorised NumPy (padded 2-D uint8 batch → rolling polynomial
  ngram hashes → weight gather → mean-pool → argmax).  No per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from .shared import LANG_MARKERS, LANG_ORDER, ascii_lower_sql, sql_str_list, words_sql

# ------------------------------------------------------ marker-word langid


def langid_hits_cols_sql(text: str) -> str:
    """SELECT-list fragment computing one ``_h_<lang>`` marker-hit count
    per language from ``text`` — stage these ONCE in a MATERIALIZED CTE
    (DuckDB re-evaluates inline subexpressions per reference, so an
    inline greatest/CASE chain over the hit expressions would cost O(L²)
    list scans per row)."""
    w = words_sql(ascii_lower_sql(text))
    return ",\n         ".join(
        f"len(list_filter({w}, t -> list_contains({sql_str_list(LANG_MARKERS[lang])}, t))) AS _h_{lang}"
        for lang in LANG_ORDER
    )


def langid_pred_from_hits_sql() -> str:
    """The first-wins argmax chain over staged ``_h_<lang>`` columns
    (requires a ``_best`` column = greatest of them, see
    :func:`langid_best_from_hits_sql`)."""
    chain = "'und'"
    for lang in reversed(LANG_ORDER):
        chain = (
            f"CASE WHEN _h_{lang} = _best AND _best > 0 "
            f"THEN '{lang}' ELSE {chain} END"
        )
    return chain


def langid_best_from_hits_sql() -> str:
    return "greatest(" + ", ".join(f"_h_{lang}" for lang in LANG_ORDER) + ")"


def langid_markers_query_sql(table: str, id_col: str, text: str = "text") -> str:
    """Whole-table DuckDB oracle of marker langid: hit counts staged
    once per language, then the first-wins argmax chain over plain
    columns."""
    return f"""
WITH _lh AS MATERIALIZED (
  SELECT {id_col},
         {langid_hits_cols_sql(text)}
  FROM {table}
),
_lb AS (SELECT *, {langid_best_from_hits_sql()} AS _best FROM _lh)
SELECT {id_col}, {langid_pred_from_hits_sql()} AS pred_lang FROM _lb"""


# ------------------------------------------------- fastText-style langid

NGRAM_N = 3
BUCKETS = 1 << 16


def _make_weights(seed: int = 7) -> np.ndarray:
    """Frozen seeded weight table (BUCKETS × L float32).

    Stands in for trained fastText weights; deterministic so the pipeline
    and its tests are reproducible without shipping a model artifact.
    Marker-word ngrams get a strong prior toward their language so the
    stub behaves sensibly on real-ish text.
    """
    rng = np.random.RandomState(seed)
    w = rng.randn(BUCKETS, len(LANG_ORDER)).astype(np.float32) * 0.05
    for li, lang in enumerate(LANG_ORDER):
        for word in LANG_MARKERS[lang]:
            # hash BYTE windows, exactly as _score_batch rolls them — a
            # char window of a multi-byte marker (zh) would hash 4-9
            # bytes into a bucket the 3-byte scorer can never reach
            pb = f" {word} ".encode("utf-8", "ignore")
            for i in range(max(len(pb) - NGRAM_N + 1, 0)):
                h = _ngram_bucket(pb[i : i + NGRAM_N])
                w[h, li] += 1.0
    return w


def _ngram_bucket(ngram_bytes: bytes) -> int:
    h = 2166136261
    for b in ngram_bytes:
        h = ((h ^ b) * 16777619) & 0xFFFFFFFF
    return h % BUCKETS


class FastTextLangId:
    """Hashed char-ngram linear language classifier (Arrow path)."""

    def __init__(self, spark: SparkSession, seed: int = 7):
        self._bc = spark.sparkContext.broadcast(_make_weights(seed))

    def udf(self):
        bc = self._bc

        @pandas_udf("string")
        def _predict(texts: pd.Series) -> pd.Series:
            w = bc.value
            out = _score_batch(texts.fillna("").to_numpy(dtype=object), w)
            return pd.Series([LANG_ORDER[i] for i in out])

        return _predict


def _score_batch(texts: np.ndarray, weights: np.ndarray) -> np.ndarray:
    """Vectorised batch scorer: pad to 2-D uint8, rolling FNV-1a ngram
    hashes across columns, gather weight rows, mean-pool, argmax."""
    if len(texts) == 0:
        return np.zeros(0, dtype=int)
    encoded = [(" " + str(t).lower() + " ").encode("utf-8", "ignore")[:512] for t in texts]
    maxlen = max(len(e) for e in encoded)
    maxlen = max(maxlen, NGRAM_N)
    mat = np.zeros((len(encoded), maxlen), dtype=np.uint8)
    lens = np.empty(len(encoded), dtype=np.int64)
    for i, e in enumerate(encoded):
        mat[i, : len(e)] = np.frombuffer(e, dtype=np.uint8)
        lens[i] = len(e)

    scores = np.zeros((len(encoded), weights.shape[1]), dtype=np.float64)
    counts = np.maximum(lens - NGRAM_N + 1, 1)
    # rolling FNV-1a over a window of NGRAM_N bytes, vectorised per offset
    n_pos = maxlen - NGRAM_N + 1
    h = np.full((len(encoded), n_pos), 2166136261, dtype=np.uint64)
    for j in range(NGRAM_N):
        col = mat[:, j : j + n_pos].astype(np.uint64)
        h = ((h ^ col) * np.uint64(16777619)) & np.uint64(0xFFFFFFFF)
    buckets = (h % np.uint64(BUCKETS)).astype(np.int64)
    valid = np.arange(n_pos)[None, :] < (lens - NGRAM_N + 1)[:, None]
    gathered = weights[buckets]  # (N, n_pos, L)
    gathered = np.where(valid[:, :, None], gathered, 0.0)
    scores = gathered.sum(axis=1) / counts[:, None]
    return scores.argmax(axis=1)
