"""Arrow-batch caption scorer — the production caption stage.

Computes, per Arrow batch inside a pandas/mapInPandas worker, every
caption feature (heuristic rules, marker langid, hashed-bigram
perplexity), the pseudo-label and pred_probs.  It is the only
implementation, and :func:`caption_label_batch` is its one entry point:
batch, streaming and the text gates call it through
``pipeline.caption_label_frame``, the image scan through
``images.decode.decode_scan(with_caption_features=True)``.  Its twins
are the DuckDB SQL oracles (``rules.quality_features_sql_exprs``,
``langid.langid_markers_query_sql``, ``ppl.ppl_hash_sql``,
``pipeline.oracle_sql_for``) and the scorer constants in pipeline.py:
identical formulas, identical hashing (md5), identical tie-breaks.
Float results agree to the last ulp except for libm ``exp`` differences
(~1e-16 relative), which the 6-dp output rounding absorbs; pseudo-labels
and keep/drop rules compare quantities far from their decision
boundaries on the synthetic corpus (margin analysis in SURVEY.md §7).

This is the dataflow BASELINE.json prescribes — "vectorized
pandas/Arrow UDFs run fastText language ID, a hashed n-gram KenLM-style
perplexity scorer" — and it sidesteps the JVM contention of interpreted
higher-order expressions (measured 0.38 scaling efficiency for a
Catalyst feature stage at 32 threads vs ~0.9 for Python workers).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from .ppl import FALLBACK_LOGP, LOGP_MAX, LOGP_MIN, RES
from .shared import ascii_lower_py, ENGLISH_STOPWORDS, LANG_MARKERS, LANG_ORDER, trim_memo

_STOPSET = frozenset(ENGLISH_STOPWORDS)
_LANG_SETS = [frozenset(LANG_MARKERS[lang]) for lang in LANG_ORDER]

# frozen scorer weights — single source of truth lives in pipeline.py
from .. import pipeline as _pl  # noqa: E402  (cycle-safe: only constants used)

#: Spark DDL of the columns :func:`caption_label_batch` returns
CAPTION_FIELDS = (
    "n_chars bigint, n_words bigint, digit_ratio double, alpha_ratio double, "
    "punct_ratio double, upper_ratio double, repetition_ratio double, "
    "stopword_ratio double, pred_lang string, ppl double, "
    "label int, pred_probs array<double>"
)
CAPTION_NAMES = frozenset(f.split(" ", 1)[0] for f in CAPTION_FIELDS.split(", "))

#: cross-batch memo for the hashed-bigram log-prob table: natural-language
#: bigrams repeat heavily, so each worker amortises the md5 cost to the
#: first occurrence.  Bounded at ~1M entries by shared.trim_memo.
_LOGP_MEMO: dict[str, float] = {}
_LOGP_MEMO_MAX = 1_000_000
_LOGP_SPAN = LOGP_MAX - LOGP_MIN


def _logp(bigram: str) -> float:
    h = int(hashlib.md5(bigram.encode("utf-8")).hexdigest()[:15], 16)
    return LOGP_MIN + (h % RES) / RES * _LOGP_SPAN


def _logp_for_unique(uniq: np.ndarray) -> np.ndarray:
    """md5-hash only the bigrams this worker has never seen."""
    out = np.empty(len(uniq))
    for i, g in enumerate(uniq):
        v = _LOGP_MEMO.get(g)
        if v is None:
            v = _logp(g)
            _LOGP_MEMO[g] = v
        out[i] = v
    trim_memo(_LOGP_MEMO, _LOGP_MEMO_MAX)
    return out


def caption_features_batch(texts) -> dict[str, np.ndarray]:
    """All caption features + pseudo-label + pred_probs for one batch —
    vectorized: regex ratios via pandas ``.str.count`` (C), token
    statistics via one exploded-token frame, bigram log-probs hashed once
    per UNIQUE bigram (memoized across batches).  Values are identical to
    the per-row formulas (same md5 table, same formulas; float sums agree
    within the 6-dp output rounding — asserted by tests/test_text_parity)."""
    s = pd.Series(list(texts), dtype=object)
    s = s.where(s.notna(), "").astype(str)
    n = len(s)
    ln = s.str.len().to_numpy(dtype=np.int64)
    safe_ln = np.maximum(ln, 1).astype(np.float64)

    out = {"n_chars": ln}
    # char-class ratios: one UCS4 codepoint matrix + range masks when the
    # padded matrix stays small (ASCII-exact same classes as the regexes);
    # regex fallback for pathological row lengths
    max_len = int(ln.max()) if n else 0
    if n and 0 < max_len * n <= 64_000_000:
        flat = np.array(s.to_numpy(), dtype=f"U{max_len}")
        u = flat.view(np.uint32).reshape(n, max_len)
        upper_m = (u >= 65) & (u <= 90)
        out["digit_ratio"] = ((u >= 48) & (u <= 57)).sum(1) / safe_ln
        out["alpha_ratio"] = (upper_m | ((u >= 97) & (u <= 122))).sum(1) / safe_ln
        out["punct_ratio"] = (
            ((u >= 33) & (u <= 47))
            | ((u >= 58) & (u <= 64))
            | ((u >= 91) & (u <= 96))
            | ((u >= 123) & (u <= 126))
        ).sum(1) / safe_ln
        out["upper_ratio"] = upper_m.sum(1) / safe_ln
        del u, flat, upper_m
    else:
        out["digit_ratio"] = s.str.count(r"[0-9]").to_numpy() / safe_ln
        out["alpha_ratio"] = s.str.count(r"[A-Za-z]").to_numpy() / safe_ln
        out["punct_ratio"] = s.str.count(r"[!-/:-@\[-`{-~]").to_numpy() / safe_ln
        out["upper_ratio"] = s.str.count(r"[A-Z]").to_numpy() / safe_ln

    # tokenize through the exact engine twin (shared.words_py): Python
    # str.strip()/str.split() is Unicode-aware and drops the empty
    # leading token Java's split keeps, so it DIVERGES from the
    # DuckDB oracle on tab-led or NBSP text
    from .shared import words_py

    stripped = s.str.strip(" ")
    words = pd.Series([words_py(t) for t in s], index=s.index)
    nw = words.str.len().to_numpy(dtype=np.int64)
    safe_nw = np.maximum(nw, 1).astype(np.float64)
    out["n_words"] = nw

    nunique = np.fromiter(
        (len(set(w)) for w in words), dtype=np.int64, count=n
    )
    out["repetition_ratio"] = np.where(nw > 0, 1.0 - nunique / safe_nw, 0.0)

    # words of lower(text) == lower of words for whitespace-stable text.
    # Factorize tokens ONCE; every downstream statistic becomes a
    # constant-size lookup table over unique tokens + one bincount over
    # int codes (accumulation order = row order, same as the per-row
    # fold, so float sums are bit-identical to the scalar path).
    wl = pd.Series(
        [words_py(ascii_lower_py(t)) for t in stripped], index=s.index
    )
    exploded = wl.explode().dropna()
    rowids = exploded.index.to_numpy(dtype=np.int64)
    tok_codes, tok_uniq = pd.factorize(exploded.to_numpy())
    n_uniq = len(tok_uniq)

    stop_mask = np.fromiter(
        (t in _STOPSET for t in tok_uniq), dtype=np.float64, count=n_uniq
    )
    stop = np.bincount(rowids, weights=stop_mask[tok_codes], minlength=n) if len(rowids) else np.zeros(n)
    out["stopword_ratio"] = stop / safe_nw

    # marker langid (first max wins, zero hits → und)
    hit_mat = np.zeros((n, len(LANG_ORDER)))
    for li, lang_set in enumerate(_LANG_SETS):
        mask = np.fromiter(
            (t in lang_set for t in tok_uniq), dtype=np.float64, count=n_uniq
        )
        if len(rowids):
            hit_mat[:, li] = np.bincount(rowids, weights=mask[tok_codes], minlength=n)
    best = hit_mat.max(axis=1)
    pred = np.where(
        best > 0, np.asarray(LANG_ORDER, dtype=object)[hit_mat.argmax(axis=1)], "und"
    )
    out["pred_lang"] = pred.astype(object)

    # hashed-bigram perplexity (exact md5 twin of ppl_hash_sql): adjacent
    # token pairs of the SAME row, keyed as int pairs; md5 runs only once
    # per unique pair (memoized across batches)
    sum_arr = np.zeros(n)
    if len(rowids) > 1:
        same = rowids[1:] == rowids[:-1]
        a = tok_codes[:-1][same].astype(np.int64)
        b = tok_codes[1:][same].astype(np.int64)
        rb = rowids[:-1][same]
        if len(a):
            pcodes, puniq = pd.factorize(a * n_uniq + b)
            uniq_strs = np.array(
                [f"{tok_uniq[k // n_uniq]} {tok_uniq[k % n_uniq]}" for k in puniq],
                dtype=object,
            )
            logp_uniq = _logp_for_unique(uniq_strs)
            sum_arr = np.bincount(rb, weights=logp_uniq[pcodes], minlength=n)
    mean_logp = np.where(nw >= 2, sum_arr / np.maximum(nw - 1, 1), FALLBACK_LOGP)
    out["ppl"] = np.exp(-mean_logp)
    return out


def label_and_probs_batch(feat: dict[str, np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Frozen softmax-linear pseudo-label scorer (pipeline.WEIGHTS)."""
    f_len = np.minimum(feat["n_words"].astype(np.float64), 50.0) / 50.0
    en = (feat["pred_lang"] == "en").astype(np.float64)
    lppl = np.log(feat["ppl"]) / 10.0
    logits = []
    for w in _pl.WEIGHTS:
        logits.append(
            w["bias"]
            + w["f_len"] * f_len
            + w["rep"] * feat["repetition_ratio"]
            + w["digit"] * feat["digit_ratio"]
            + w["punct"] * feat["punct_ratio"]
            + w["stop"] * feat["stopword_ratio"]
            + w["en"] * en
            + w["lppl"] * lppl
        )
    exps = [np.exp(l) for l in logits]
    total = exps[0] + exps[1] + exps[2]
    probs = np.stack([e / total for e in exps], axis=1)
    label = np.where(
        feat["pred_lang"] != "en",
        2,
        np.where(
            (feat["n_words"] < _pl.MIN_WORDS_GOOD)
            | (feat["repetition_ratio"] > _pl.MAX_REPETITION_GOOD)
            | (feat["digit_ratio"] > _pl.MAX_DIGIT_GOOD),
            1,
            0,
        ),
    ).astype(np.int32)
    return label, probs


def caption_label_batch(texts: pd.Series) -> dict:
    """The caption stage for one batch: every :data:`CAPTION_FIELDS`
    column, keyed by name, for a Series of captions.

    Null text: ratios/stopword/repetition are 0.0, pred_lang is 'und',
    ppl is the fallback, n_chars/n_words are NULL (as SQL ``length(NULL)``
    in the twins), and the scorer's f_len term is 1.0 (the twins'
    ``least(NULL, 50)`` skips the null) — fed here by patching n_words
    to 50 for null rows before the scorer.
    """
    feats = caption_features_batch(texts.tolist())
    null_mask = texts.isna().to_numpy()
    scored = feats
    if null_mask.any():
        scored = {**feats, "n_words": np.where(null_mask, 50, feats["n_words"])}
        for k in ("n_chars", "n_words"):
            feats[k] = pd.arrays.IntegerArray(feats[k].astype(np.int64), null_mask.copy())
    feats["label"], probs = label_and_probs_batch(scored)
    feats["pred_probs"] = list(probs)
    return feats
