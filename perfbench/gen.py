"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (workload, rows, seed): row ids are
offset by the seed, and every random choice is a counter-based mix of
the row id (``sparkclean.synth``'s row mixing), so a seed always yields
the same bytes, whatever the chunking.  Tables are written as parquet
with pyarrow in a process pool -- no Spark session is needed to build them.

Generated inputs and their expected outputs are cached on disk under a
key made of workload, row count, seed and a digest of the sources they
are computed from (the ``sparkclean`` package, this file and
``reference.py``), so a change to any of them builds a fresh cache entry.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from multiprocessing import get_context

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
# ids of different seeds never overlap for row counts below the stride
SEED_STRIDE = 10_000_000
ROWS_PER_FILE = {"images": 512, "label_quality": 750}
NUM_CLASSES = 10
DIM = 64
N_CLUSTERS = 256


def id_range(seed: int, start: int, stop: int) -> np.ndarray:
    base = (seed % 100_000) * SEED_STRIDE
    return np.arange(base + start, base + stop, dtype=np.uint64)


def image_table(ids: np.ndarray, n_total: int) -> tuple[pa.Table, pa.Table]:
    """Encoded images plus captions, same schema and geometry as
    ``synth.synth_images(base_px=64, px_step=24)``; and, from the same
    pixels, the expected image statistics (``reference.image_truth``)."""
    from sparkclean import synth
    from sparkclean.images import codec

    from .reference import image_truth

    captions, _ = synth._gen_captions(ids)
    fmt_jpeg = synth._u(ids, 10) < 0.30
    seeds = synth._image_seed(ids, n_total)
    su = seeds.astype(np.uint64)
    ws = 64 + (synth.mix64(su, 9) % np.uint64(5)).astype(np.int64) * 24
    hs = 64 + (synth.mix64(su, 11) % np.uint64(5)).astype(np.int64) * 24
    blobs, phashes, truth = [], [], []
    for s, w, h, jpeg in zip(seeds, ws, hs, fmt_jpeg):
        px = codec.synth_pixels(int(s), int(w), int(h))
        blobs.append(codec.encode(px, "jpeg" if jpeg else "png"))
        phashes.append(codec.phash64(px))
        truth.append(image_truth(px, bool(jpeg)))
    image_ids = [f"img_{int(i):012d}" for i in ids]
    table = pa.table(
        {
            "image_id": image_ids,
            "bytes": pa.array(blobs, pa.binary()),
            "w": pa.array(ws, pa.int32()),
            "h": pa.array(hs, pa.int32()),
            "fmt": np.where(fmt_jpeg, "jpeg", "png").tolist(),
            "caption": captions,
            "phash": pa.array(phashes, pa.int64()),
        }
    )
    stats = {k: [t[k] for t in truth] for k in truth[0]}
    return table, pa.table({"image_id": image_ids, "caption": captions, **stats})


def embedding_table(ids: np.ndarray, seed: int) -> pa.Table:
    """Clustered vectors in the shape of ``bench/ann.py``'s generator
    (256 centres x 3.0 spread, 0.3 per-row noise keyed by row id), with
    seed-dependent centres.  The true class is cluster % 10; the given
    label is flipped to another class for ~15% of rows, and ``pred_probs``
    is a softmax over a noisy one-hot of the true class."""
    from sparkclean import synth

    centres = np.random.RandomState(seed % (2**31)).randn(N_CLUSTERS, DIM) * 3.0
    cluster = (synth.mix64(ids, 20) % np.uint64(N_CLUSTERS)).astype(np.int64)
    noise = np.stack(
        [np.random.RandomState(int(i * 2654435761 + 11) % (2**31)).randn(DIM + NUM_CLASSES)
         for i in ids]
    )
    vecs = centres[cluster] + 0.3 * noise[:, :DIM]
    truth = cluster % NUM_CLASSES
    flip = synth._u(ids, 21) < 0.15
    other = (truth + 1 + (synth.mix64(ids, 22) % np.uint64(NUM_CLASSES - 1)).astype(np.int64)) % NUM_CLASSES
    label = np.where(flip, other, truth)
    logits = 1.2 * noise[:, DIM:] + 2.5 * np.eye(NUM_CLASSES)[truth]
    probs = np.exp(logits - logits.max(axis=1, keepdims=True))
    probs /= probs.sum(axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(ids.astype(np.int64), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
            "label": pa.array(label, pa.int32()),
            "pred_probs": pa.array(list(probs), pa.list_(pa.float64())),
        }
    )


def _write_chunk(job: tuple) -> int:
    workload, seed, start, stop, n_total, path, truth_path = job
    ids = id_range(seed, start, stop)
    if workload == "images":
        t, truth = image_table(ids, n_total)
        pq.write_table(truth, truth_path)
    else:
        t = embedding_table(ids, seed)
    pq.write_table(t, path)
    return os.path.getsize(path)


def generate(workload: str, rows: int, seed: int, out_dir: str, procs: int) -> dict:
    """Write a workload's table as parquet files under ``out_dir``
    (replaced if present).  For ``images`` the expected image statistics
    go to ``<out_dir>.truth`` with the same file names."""
    truth_dir = out_dir + ".truth"
    for d in (out_dir, truth_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out_dir)
    if workload == "images":
        os.makedirs(truth_dir)
    step = ROWS_PER_FILE[workload]
    jobs = [
        (workload, seed, s, min(s + step, rows), rows,
         os.path.join(out_dir, f"part-{s // step:05d}.parquet"),
         os.path.join(truth_dir, f"part-{s // step:05d}.parquet"))
        for s in range(0, rows, step)
    ]
    t0 = time.time()
    with get_context("spawn").Pool(max(1, min(procs, len(jobs)))) as pool:
        sizes = pool.map(_write_chunk, jobs, chunksize=1)
    return {"rows": rows, "files": len(jobs), "bytes": int(sum(sizes)),
            "gen_s": round(time.time() - t0, 3)}


def source_digest() -> str:
    """Short digest of every source file the inputs and expectations
    depend on."""
    root = os.path.dirname(HERE)
    files = [os.path.join(HERE, "gen.py"), os.path.join(HERE, "reference.py")]
    for d, _, names in sorted(os.walk(os.path.join(root, "sparkclean"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def cached_input(cache_root: str, workload: str, rows: int, seed: int,
                 procs: int, build_reference=None) -> tuple[str, dict]:
    """Generate (or reuse) a workload table; returns (dir, info).  When
    ``build_reference`` is given, it runs once on a fresh table and its
    result is cached beside the data as ``info["reference"]``."""
    key = f"{workload}-r{rows}-s{seed}-{source_digest()}"
    root = os.path.join(cache_root, key)
    data = os.path.join(root, "data")
    info_path = os.path.join(root, "info.json")
    if os.path.exists(info_path):
        with open(info_path) as f:
            info = json.load(f)
        info["cached"] = True
        return data, info
    info = generate(workload, rows, seed, data, procs)
    if build_reference is not None:
        t0 = time.time()
        info["reference"] = build_reference(data)
        info["reference_s"] = round(time.time() - t0, 3)
    tmp = info_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(info, f)
    os.replace(tmp, info_path)
    info["cached"] = False
    return data, info
