"""Single-thread kernel rates and the VM-speed probes.

The VM probes are defined as in ``bench.py``: the decode kernel
``images.decode._stats_for_batch`` over a fixed sample, single process,
best of two (``vm_probe_rows_per_sec``), and the same kernel in
``min(cpus, 8)`` concurrent processes (``vm_probe_mt_*``).  They run
before Spark starts and are recorded as ungated context beside every
result.
"""

from __future__ import annotations

import statistics
import time
from multiprocessing import get_context

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

_SAMPLE = None  # the sample, in each multi-process probe worker


def load_image_sample(files: list[str], rows: int) -> pd.DataFrame:
    parts, got = [], 0
    for f in files:
        t = pq.read_table(f).to_pandas()
        parts.append(t)
        got += len(t)
        if got >= rows:
            break
    return pd.concat(parts, ignore_index=True).head(rows)


def _init_worker(sample: pd.DataFrame, ready) -> None:
    """Load and warm the kernel, then wait until every worker has, so no
    timed task meets a worker that is still starting."""
    global _SAMPLE
    from sparkclean.images.decode import _stats_for_batch

    _SAMPLE = sample
    _stats_for_batch(sample)
    ready.wait(timeout=120)


def _mt_worker(_i: int) -> float:
    from sparkclean.images.decode import _stats_for_batch

    t0 = time.perf_counter()
    _stats_for_batch(_SAMPLE)
    return time.perf_counter() - t0


def vm_probes(sample: pd.DataFrame, cpus: int) -> dict:
    from sparkclean.images.decode import _stats_for_batch

    _stats_for_batch(sample)
    solo = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        _stats_for_batch(sample)
        solo = min(solo, time.perf_counter() - t0)
    workers = min(cpus, 8)
    ctx = get_context("spawn")
    with ctx.Pool(workers, _init_worker, (sample, ctx.Barrier(workers))) as pool:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            pool.map(_mt_worker, range(workers))
            best = min(best, time.perf_counter() - t0)
    probe = len(sample) / solo
    mt = workers * len(sample) / best
    return {"vm_probe_rows_per_sec": round(probe, 1), "vm_probe_sample_rows": len(sample),
            "vm_probe_mt_rows_per_sec": round(mt, 1), "vm_probe_mt_workers": workers,
            "vm_probe_mt_efficiency": round(mt / (probe * workers), 3)}


def _rate(fn, rows: int, budget_s: float) -> float:
    """Median rows/s of repeated calls after one warm call."""
    fn()
    rates, t_end = [], time.perf_counter() + budget_s
    while len(rates) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        rates.append(rows / (time.perf_counter() - t0))
    return statistics.median(rates)


def kernel_rates(sample: pd.DataFrame, budget_s: float = 0.5) -> dict[str, float]:
    """Single-thread rows/s of the decode, caption and pair-distance
    kernels, each called directly the way its Spark stage calls it."""
    from sparkclean.images.decode import _stats_for_batch
    from sparkclean.sim.knn import pair_dist_udf
    from sparkclean.text.fast import caption_features_batch, label_and_probs_batch

    captions = sample["caption"].tolist()
    rng = np.random.RandomState(0)
    n_pairs = 4096
    a = pd.Series(list(rng.randn(n_pairs, 64)))
    b = pd.Series(list(rng.randn(n_pairs, 64)))
    dist = pair_dist_udf(64, "euclidean").func
    return {
        "images.decode.kernel_rows_per_s": _rate(
            lambda: _stats_for_batch(sample), len(sample), budget_s),
        "text.fast.kernel_rows_per_s": _rate(
            lambda: label_and_probs_batch(caption_features_batch(captions)),
            len(captions), budget_s),
        "sim.knn.pair_dist_rows_per_s": _rate(lambda: dist(a, b), n_pairs, budget_s),
    }
