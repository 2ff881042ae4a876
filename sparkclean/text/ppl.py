"""KenLM-style n-gram perplexity.

Word-bigram log-probabilities come from a *deterministic hashed table* —
``logp(bigram) = LOGP_MIN + (hash60(bigram) % RES)/RES * (LOGP_MAX-LOGP_MIN)``
— the stand-in for a broadcast KenLM table.  Production computes it in
text.fast (``caption_features_batch``, the Arrow caption stage);
:func:`ppl_hash_sql` is its DuckDB oracle.  To use real LM weights, swap
`hash→table lookup` via :class:`NgramTablePpl`.

ppl = exp(-mean(logp over bigrams)); rows with <2 tokens get ppl of the
single-token/empty fallback logp.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from .shared import ascii_lower_py, ascii_lower_sql, hash60_sql, words_sql

LOGP_MIN = -8.0
LOGP_MAX = -0.5
RES = 4096
FALLBACK_LOGP = -6.0


def ppl_hash_sql(text: str) -> str:
    """DuckDB oracle of the hashed-bigram perplexity."""
    w = words_sql(ascii_lower_sql(text))
    h = hash60_sql(f"(w[i] || ' ' || w[i+1])")
    logp = f"({LOGP_MIN} + (({h}) % {RES})::DOUBLE / {RES} * {LOGP_MAX - LOGP_MIN})"
    return (
        f"(SELECT exp(-CASE WHEN len(w) >= 2 THEN "
        f"list_aggregate(list_transform(range(1, len(w)), i -> {logp}), 'sum') / (len(w)-1) "
        f"ELSE {FALLBACK_LOGP} END) "
        f"FROM (SELECT {w} AS w))"
    )


class NgramTablePpl:
    """Broadcast-table variant for real LM weights (Arrow path).

    The table maps hash60(bigram) % size → logp (float32 numpy array),
    looked up vectorised inside a pandas UDF.  With the deterministic
    hashed table it reproduces :func:`ppl_hash_sql` exactly.
    """

    def __init__(self, spark: SparkSession, table: np.ndarray | None = None):
        if table is None:
            frac = np.arange(RES, dtype=np.float64) / RES
            table = (LOGP_MIN + frac * (LOGP_MAX - LOGP_MIN)).astype(np.float64)
        self._bc = spark.sparkContext.broadcast(table)

    def udf(self):
        bc = self._bc

        @pandas_udf("double")
        def _ppl(texts: pd.Series) -> pd.Series:
            table = bc.value
            size = len(table)
            out = np.empty(len(texts), dtype=np.float64)
            from .shared import words_py

            for i, t in enumerate(texts.fillna("")):
                # engine-twin tokenization (ASCII \s, space-only trim) —
                # str.split() would diverge on tab-led/NBSP text
                toks = words_py(ascii_lower_py(str(t)))
                if len(toks) < 2:
                    out[i] = np.exp(-FALLBACK_LOGP)
                    continue
                hs = np.array(
                    [
                        int(hashlib.md5((a + " " + b).encode()).hexdigest()[:15], 16) % size
                        for a, b in zip(toks, toks[1:])
                    ],
                    dtype=np.int64,
                )
                out[i] = np.exp(-table[hs].mean())
            return pd.Series(out)

        return _ppl
