"""Pure-NumPy oracle implementing cleanlab v2.9.0 semantics row-wise.

Written independently from the documented behaviour (SURVEY.md §2 with
file:line citations) — used by tests as ground truth for the distributed
implementations.  Tie-breaks in ranked selections use (value, index) total
order, matching the engine's (score, id) determinism rule; the reference
leaves ties unspecified (unstable argsort), so tests with ties compare
counts/sets only.
"""

from __future__ import annotations

import numpy as np

FPC = 1e-6
CLIP = 1e-6
T_LOWER = 2e-6


def confident_thresholds(labels: np.ndarray, probs: np.ndarray) -> np.ndarray:
    K = probs.shape[1]
    t = np.full(K, 2.0)
    for k in range(K):
        sel = labels == k
        if sel.any():
            t[k] = probs[sel, k].mean()
    return np.clip(t, T_LOWER, None)


def self_confidence(labels, probs):
    return probs[np.arange(len(labels)), labels]


def normalized_margin(labels, probs):
    sc = self_confidence(labels, probs)
    masked = probs.copy()
    masked[np.arange(len(labels)), labels] = -1.0
    return (sc - masked.max(axis=1) + 1.0) / 2.0


def normalized_entropy(probs):
    K = probs.shape[1]
    with np.errstate(divide="ignore", invalid="ignore"):
        plogp = np.where(probs > 0, probs * np.log(probs), 0.0)
    return -plogp.sum(axis=1) / np.log(K)


def confidence_weighted_entropy(labels, probs):
    sc = np.clip(self_confidence(labels, probs), CLIP, None)
    raw = normalized_entropy(probs) / sc
    return np.log(raw + 1.0) / np.clip(raw, CLIP, None)


def adjust_pred_probs(probs, thresholds):
    adj = probs - thresholds
    adj += thresholds.max()
    return adj / adj.sum(axis=1, keepdims=True)


def confident_bins(labels, probs, thresholds):
    """Returns (guess, at_least_one_confident)."""
    bins = probs >= thresholds - FPC
    n_conf = bins.sum(axis=1)
    guess = np.where(n_conf > 1, probs.argmax(axis=1), bins.argmax(axis=1))
    return guess, n_conf > 0


def raw_confident_joint(labels, probs, thresholds=None):
    K = probs.shape[1]
    if thresholds is None:
        thresholds = confident_thresholds(labels, probs)
    guess, conf = confident_bins(labels, probs, thresholds)
    cj = np.zeros((K, K), dtype=int)
    for s, y in zip(labels[conf], guess[conf]):
        cj[s, y] += 1
    np.fill_diagonal(cj, np.diagonal(cj).clip(min=1))
    return cj


def _round_preserving_sum(vals):
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


def calibrate_cj(cj, labels, K):
    counts = np.bincount(labels, minlength=K).astype(float)
    scaled = (cj.T / np.clip(cj.sum(axis=1), 1e-100, None) * counts).T
    scaled = scaled / np.clip(scaled.sum(), 1e-100, None) * counts.sum()
    return np.stack([_round_preserving_sum(r) for r in scaled])


def reduce_mask(labels, probs):
    boosted = probs.copy()
    boosted[np.arange(len(labels)), labels] += FPC
    return boosted.argmax(axis=1) == labels


def num_label_issues_off_diagonal(labels, probs):
    t = confident_thresholds(labels, probs)
    guess, conf = confident_bins(labels, probs, t)
    mask = conf & (guess != labels)
    mask[reduce_mask(labels, probs)] = False
    return int(mask.sum())


def num_label_issues_calibrated(labels, probs):
    K = probs.shape[1]
    cj = calibrate_cj(raw_confident_joint(labels, probs), labels, K)
    joint = cj / cj.sum()
    return int(np.rint((1.0 - np.trace(joint)) * len(labels)))


def _bottom_n(scores, n):
    order = np.lexsort((np.arange(len(scores)), scores))
    mask = np.zeros(len(scores), dtype=bool)
    mask[order[:n]] = True
    return mask


def find_label_issues_batched_fast(labels, probs):
    """label_issues_batched with the fast count: n = #rows whose argmax
    clears its own threshold and differs from the label; flag the bottom-n
    self-confidences, then unflag the reduce-issues rows."""
    t = confident_thresholds(labels, probs)
    am = probs.argmax(axis=1)
    n = int(((probs.max(axis=1) >= t[am] - FPC) & (am != labels)).sum())
    mask = _bottom_n(self_confidence(labels, probs), n)
    mask[reduce_mask(labels, probs)] = False
    return mask


def find_label_issues(labels, probs, filter_by="prune_by_noise_rate", min_examples_per_class=1, frac_noise=1.0):
    K = probs.shape[1]
    t = confident_thresholds(labels, probs)
    guess, conf = confident_bins(labels, probs, t)

    if filter_by == "predicted_neq_given":
        mask = probs.argmax(axis=1) != labels
        mask[reduce_mask(labels, probs)] = False
        return mask
    if filter_by == "confident_learning":
        mask = conf & (guess != labels)
        mask[reduce_mask(labels, probs)] = False
        return mask
    if filter_by in ("low_self_confidence", "low_normalized_margin"):
        n = num_label_issues_off_diagonal(labels, probs)
        scores = (
            self_confidence(labels, probs)
            if filter_by == "low_self_confidence"
            else normalized_margin(labels, probs)
        )
        return _bottom_n(scores, n)

    cj = calibrate_cj(raw_confident_joint(labels, probs, t), labels, K)
    pcm = _keep_at_least_n(cj.T, min_examples_per_class, frac_noise)
    counts = np.bincount(labels, minlength=K)

    def by_class():
        mask = np.zeros(len(labels), dtype=bool)
        for k in range(K):
            sel = np.where(labels == k)[0]
            if len(sel) > min_examples_per_class:
                n_iss = len(sel) - pcm[k, k]
                if n_iss >= 1:
                    pk = probs[sel, k]
                    order = np.lexsort((sel, pk))
                    mask[sel[order[:n_iss]]] = True
        return mask

    def by_count():
        mask = np.zeros(len(labels), dtype=bool)
        for k in range(K):
            sel = np.where(labels == k)[0]
            if len(sel) <= min_examples_per_class:
                continue
            for j in range(K):
                c = pcm[j, k]
                if j != k and c > 0:
                    margin = probs[sel, j] - probs[sel, k]
                    order = np.lexsort((sel, -margin))
                    mask[sel[order[:c]]] = True
        return mask

    if filter_by == "prune_by_class":
        mask = by_class()
    elif filter_by == "prune_by_noise_rate":
        mask = by_count()
    elif filter_by == "both":
        mask = by_class() & by_count()
    else:
        raise ValueError(filter_by)
    mask[reduce_mask(labels, probs)] = False
    return mask


def _keep_at_least_n(pcm, n, frac_noise=1.0):
    pcm = pcm.astype(float)
    diag = np.diagonal(pcm)
    new_diag = np.maximum(diag, n)
    bump = new_diag - diag
    nz = np.maximum(np.count_nonzero(pcm, axis=0) - 1.0, 1.0)
    adj = pcm - bump / nz
    adj[adj < 0] = 0
    np.fill_diagonal(adj, new_diag)
    scaled = adj * frac_noise
    np.fill_diagonal(scaled, adj.diagonal())
    np.fill_diagonal(scaled, adj.diagonal() + np.sum(adj - scaled, axis=0))
    scaled = scaled.astype(int)
    return np.stack([_round_preserving_sum(r) for r in scaled.astype(float)]).astype(int)


def make_noisy_fixture(n=400, k=3, seed=1):
    """Seeded continuous fixture: Gaussian class scores → softmax probs,
    labels flipped with a fixed noise matrix.  Continuous values → no ties."""
    rng = np.random.RandomState(seed)
    true = rng.randint(0, k, size=n)
    logits = rng.randn(n, k) * 0.8
    logits[np.arange(n), true] += 2.2
    probs = np.exp(logits)
    probs /= probs.sum(axis=1, keepdims=True)
    labels = true.copy()
    flip = rng.rand(n) < 0.18
    labels[flip] = (true[flip] + 1 + rng.randint(0, k - 1, size=flip.sum())) % k
    return labels.astype(int), probs, true
