"""Expected outputs for a generated input, computed without Spark and
without the library kernels a pass runs.

* ``images``: the image statistics are computed by the generator from
  the pixels it encoded (``image_truth``: the lossy format's
  quantisation re-derived, every statistic in float64 NumPy), so
  ``codec.decode`` and the decode kernel are checked, not reused.  The
  caption columns (label, quality_score, is_label_issue, keep,
  scrubbed_text) come from the pipeline's DuckDB twin
  ``pipeline.oracle_sql_for``, and the keep/drop rules that join the two
  are re-derived here.  Written rows are compared row by row
  (``compare_image_rows``).
* ``label_quality``: NumPy ports of cleanlab's self-confidence issue
  filter and calibrated confident joint, and the DuckDB twin of
  ``sim.knn.knn_edges`` for the OOD distances.

Digests are order independent: each row is canonicalised column by
column, hashed to 64 bits, and the hashes are summed modulo 2**64.
"""

from __future__ import annotations

import glob
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

FPC = 1e-6
T_LOWER = 2e-6
MISSING_T = 2.0
IMAGE_OUT_COLS = [
    "image_id", "label", "quality_score", "is_label_issue", "keep", "drop_reason",
    "scrubbed_text", "decode_ok", "psnr_db", "brightness", "is_dark", "is_light",
    "is_low_information", "is_blurry",
]
OOD_DIGITS = 6
# |written - expected| allowed for float columns: the decode kernel
# works on float32 luma, the truth in float64; quality_score may differ
# by one unit in the 6th decimal where the two engines round a tie
# differently
TOLERANCE = {"quality_score": 1.01e-6, "psnr_db": 1e-6, "brightness": 1e-3}
# flag column -> (statistic, threshold, margin): within ``margin`` of the
# threshold either value of the flag is accepted
FLAG_MARGIN = {
    "is_dark": ("brightness", "DARK_THRESHOLD", 1e-3),
    "is_light": ("brightness", "LIGHT_THRESHOLD", 1e-3),
    "is_low_information": ("pixel_std", "LOW_INFO_STD", 1e-2),
    "is_blurry": ("blur_score", "BLUR_THRESHOLD", 1e-2),
}
EXACT_IMAGE_COLS = ["label", "is_label_issue", "keep", "drop_reason", "scrubbed_text",
                    "decode_ok"]


# ------------------------------------------------------------------ digests


def _canon(col: pd.Series) -> pd.Series:
    """One dtype per logical type, whatever reader produced the column."""
    if col.dtype == bool or pd.api.types.is_bool_dtype(col.dtype):
        return col.map({True: 1, False: 0}).fillna(-1).astype(np.int64)
    if pd.api.types.is_integer_dtype(col.dtype):
        return col.astype("Int64").fillna(-(2**62)).astype(np.int64)
    if pd.api.types.is_float_dtype(col.dtype):
        return col.astype(np.float64)
    if col.map(lambda v: isinstance(v, (bool, np.bool_))).any():
        return col.map({True: 1, False: 0}).fillna(-1).astype(np.int64)
    return col.map(lambda v: "\x00NULL" if v is None else str(v))


def digest(df: pd.DataFrame, cols: list[str]) -> str:
    """Order-independent 64-bit digest of the rows' ``cols`` values."""
    canon = pd.DataFrame({c: _canon(df[c].reset_index(drop=True)) for c in cols})
    h = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
    return f"{int(h.sum(dtype=np.uint64)):016x}"


def read_rows(path_glob: str, cols: list[str] | None) -> pd.DataFrame:
    files = sorted(glob.glob(path_glob))
    if not files:
        return pd.DataFrame({c: [] for c in cols or []})
    return pd.concat(
        [pq.read_table(f, columns=cols).to_pandas() for f in files], ignore_index=True
    )


def spark_round(x: float, digits: int = 6) -> float:
    """Spark's ``round(double, d)``: HALF_UP on the shortest decimal form."""
    if x is None or not np.isfinite(x):
        return x
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


# ------------------------------------------------------------------ images


def image_truth(px: np.ndarray, jpeg: bool) -> dict:
    """Decode-stage values of one generated image, from the pixels that
    were encoded: the lossy format keeps the centre of each ``JPEG_Q``
    wide quantisation cell; statistics are float64 over luma
    (r + g + b) / 3."""
    from sparkclean.images.codec import JPEG_Q

    q = JPEG_Q
    if jpeg:
        px = np.minimum(px.astype(np.int64) // q * q + q // 2, 255)
    luma = px.astype(np.float64).sum(axis=2) / 3.0
    blur = sum(float(np.diff(luma, n=2, axis=a).var()) for a in (0, 1)
               if luma.shape[a] > 2)
    return {
        "decode_ok": True,
        "fmt_ok": True,
        # uniform quantisation error: MSE = q^2 / 12
        "psnr_db": float(10 * np.log10(255.0**2 * 12 / q**2)) if jpeg else float("inf"),
        "brightness": float(luma.mean()),
        "pixel_std": float(luma.std()),
        "blur_score": blur,
    }


def _caption_twin(df: pd.DataFrame) -> pd.DataFrame:
    import duckdb

    from sparkclean.pipeline import oracle_sql_for

    con = duckdb.connect()
    try:
        con.register("caps", df[["image_id", "caption"]])
        return con.execute(
            oracle_sql_for("caps", id_col="image_id", text_col="caption")).fetchdf()
    finally:
        con.close()


def expected_rows_path(data_dir: str) -> str:
    return data_dir + ".expected.parquet"


def images_reference(data_dir: str) -> dict:
    """Expected rows of an ``images`` pass, written beside the input
    (``expected_rows_path``); returns the manifest counters and a digest
    of the rows."""
    from sparkclean.images import decode

    truth = read_rows(os.path.join(data_dir + ".truth", "*.parquet"), None)
    df = truth.merge(_caption_twin(truth), on="image_id", validate="one_to_one")
    for flag, (stat, const, _) in FLAG_MARGIN.items():
        thr = getattr(decode, const)
        df[flag] = df[stat] < thr if flag != "is_light" else df[stat] > thr
    psnr_ok = df["psnr_db"].fillna(0.0) >= 40.0
    image_ok = df["decode_ok"] & df["fmt_ok"] & psnr_ok
    df["keep"] = df["keep"].astype(bool) & image_ok
    reason = np.select(
        [~df["decode_ok"], ~df["fmt_ok"], ~psnr_ok,
         df["label"] == 2, df["label"] == 1, df["is_label_issue"].astype(bool)],
        ["decode_failed", "fmt_mismatch", "low_psnr", "wrong_language",
         "low_quality", "label_issue"],
        default="",
    )
    df["drop_reason"] = [r or None for r in reason]
    keep_cols = IMAGE_OUT_COLS + ["pixel_std", "blur_score"]
    df[keep_cols].to_parquet(expected_rows_path(data_dir), index=False)
    dropped = pd.Series([r for r in df["drop_reason"] if r]).value_counts()
    return {
        "rows_scored": int(len(df)),
        "rows_kept": int(df["keep"].sum()),
        "dropped_by_rule": {str(k): int(v) for k, v in sorted(dropped.items())},
        "digest": digest(df, IMAGE_OUT_COLS),
    }


def compare_image_rows(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Mismatches between written and expected rows, matched by image_id."""
    from sparkclean.images import decode

    if len(got) != len(want) or got["image_id"].duplicated().any():
        return [f"{len(got)} rows written ({got['image_id'].nunique()} distinct ids), "
                f"expected {len(want)}"]
    m = want.merge(got, on="image_id", how="left", suffixes=("", "_got"), indicator=True)
    if (m["_merge"] != "both").any():
        return [f"{int((m['_merge'] != 'both').sum())} expected image ids not written"]
    bad = {}
    for c in EXACT_IMAGE_COLS:
        a, b = _canon(m[c]), _canon(m[c + "_got"])
        bad[c] = a != b
    for c, tol in TOLERANCE.items():
        a, b = m[c].to_numpy(float), m[c + "_got"].to_numpy(float)
        with np.errstate(invalid="ignore"):
            same = (a == b) | (np.abs(a - b) <= tol)
        bad[c] = ~same
    for flag, (stat, const, margin) in FLAG_MARGIN.items():
        near = np.abs(m[stat].to_numpy(float) - getattr(decode, const)) < margin
        bad[flag] = (_canon(m[flag]) != _canon(m[flag + "_got"])) & ~near
    errs = []
    for c, mask in bad.items():
        mask = np.asarray(mask)
        if mask.any():
            i = int(np.flatnonzero(mask)[0])
            errs.append(f"{c}: {int(mask.sum())} rows differ, e.g. {m['image_id'].iloc[i]} "
                        f"wrote {m[c + '_got'].iloc[i]!r}, expected {m[c].iloc[i]!r}")
    return errs


# ------------------------------------------------------------ label quality


def _round_preserving_sum(vals: np.ndarray) -> np.ndarray:
    vals = np.asarray(vals, dtype=float)
    out = vals.round()
    target = vals.sum().round()
    while abs(out.sum().round() - target) > 1e-6:
        gap = np.round(target - out.sum().round())
        step = 1 if gap > 0 else -1
        resid = vals - out
        idx = np.lexsort((np.arange(vals.size), -step * resid))[: min(int(abs(gap)), vals.size)]
        out[idx] += step
    return out.astype(int)


def label_quality_reference(data_dir: str, k_nn: int, num_classes: int) -> dict:
    import duckdb

    from sparkclean.sim.knn import knn_edges_cte_sql

    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    t = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
    ids = t["vec_id"].to_numpy()
    labels = t["label"].to_numpy().astype(np.int64)
    probs = np.stack(t["pred_probs"].to_numpy())
    n, k = probs.shape
    rows = np.arange(n)

    thr = np.full(k, MISSING_T)
    for c in range(k):
        if (labels == c).any():
            thr[c] = probs[labels == c, c].mean()
    thr = np.clip(thr, T_LOWER, None)
    bins = probs >= thr - FPC
    n_conf = bins.sum(axis=1)
    guess = np.where(n_conf > 1, probs.argmax(axis=1), bins.argmax(axis=1))
    conf = n_conf > 0
    boosted = probs.copy()
    boosted[rows, labels] += FPC
    reduce_ok = boosted.argmax(axis=1) == labels
    n_issues = int((conf & (guess != labels) & ~reduce_ok).sum())
    order = np.lexsort((ids, probs[rows, labels]))
    issue_ids = ids[order[:n_issues]]

    cj = np.zeros((k, k), dtype=np.int64)
    np.add.at(cj, (labels[conf], guess[conf]), 1)
    np.fill_diagonal(cj, np.diagonal(cj).clip(min=1))
    counts = np.bincount(labels, minlength=k).astype(float)
    scaled = (cj.T / np.clip(cj.sum(axis=1), 1e-100, None) * counts).T
    scaled = scaled / np.clip(scaled.sum(), 1e-100, None) * counts.sum()
    joint = np.stack([_round_preserving_sum(r) for r in scaled])

    con = duckdb.connect()
    try:
        glob_sql = os.path.join(data_dir, "*.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW emb AS SELECT vec_id, embedding FROM read_parquet('{glob_sql}')")
        ood = con.execute(
            f"WITH {knn_edges_cte_sql('emb', k=k_nn, dim=64)} "
            "SELECT qid, avg(d) AS s FROM knn GROUP BY qid"
        ).fetchdf()
    finally:
        con.close()
    return {
        "n_issues": n_issues,
        "issue_id_sum": int(issue_ids.sum()),
        "joint": joint.tolist(),
        "ood_rows": int(len(ood)),
        "ood_digest": ood_digest(ood["qid"].to_numpy(), ood["s"].to_numpy()),
        "ood_median": float(np.quantile(ood["s"].to_numpy(), 0.5)),
    }


def ood_digest(qids: np.ndarray, scores: np.ndarray) -> str:
    return digest(
        pd.DataFrame({"qid": np.asarray(qids, dtype=np.int64),
                      "s": [spark_round(x, OOD_DIGITS) for x in scores]}),
        ["qid", "s"],
    )
