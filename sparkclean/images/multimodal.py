"""Multimodal column plumbing: image resize, video frame-sampling,
audio feature extraction over opaque ``binary`` payloads + typed
metadata.

The container ships no image/audio/video codecs (no PIL/ffmpeg/soundfile),
so the *codec* layer is stubbed exactly as the build contract allows:

* our own deterministic codec (images.codec) handles the image path for
  real (decode → resize → re-encode);
* video/audio "decode" is a clearly-marked deterministic fake
  (:func:`_fake_video_frames`, :func:`_fake_audio_samples`) behind the
  same interface a real codec would implement — swap the function, keep
  the Spark-side plumbing (schemas, mapInPandas signatures, Arrow batch
  shapes), which is what is tested.

Attempting to use a real external codec raises NotImplementedError with
the dependency named.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from . import codec

RESIZE_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"
FRAME_SCHEMA = (
    "video_id string, frame_index int, frame_ts double, brightness double, pixel_std double"
)
AUDIO_SCHEMA = (
    "audio_id string, duration_s double, rms double, zero_crossing_rate double, "
    "peak double, n_samples bigint"
)


def _require_real_codec(kind: str) -> None:  # pragma: no cover
    raise NotImplementedError(
        f"real {kind} decoding needs an external codec (PIL/ffmpeg/soundfile) "
        "that is not available in this environment; the deterministic fake "
        "codec is used instead"
    )


def resize_images(
    df: DataFrame, target_w: int, target_h: int, image_codec: str = "synthetic"
) -> DataFrame:
    """Decode → nearest-neighbour resize → re-encode, one mapInPandas
    pass.  Real pixels via our own codec; the resize kernel is exact and
    deterministic.  Null or undecodable payloads are SKIPPED (dropped
    from the output; decode_and_project leaves their stats null) instead
    of failing the task — a single corrupt row must not kill the job.
    ``image_codec`` other than "synthetic" raises NotImplementedError
    (the external-codec contract of the module docstring)."""
    if image_codec != "synthetic":
        _require_real_codec(image_codec)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"image_id": [], "bytes": [], "w": [], "h": [], "fmt": []}
            for iid, blob, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                if blob is None:
                    continue
                try:
                    px, got_fmt = codec.decode(bytes(blob))
                except Exception:
                    continue
                ys = (np.arange(target_h) * px.shape[0]) // target_h
                xs = (np.arange(target_w) * px.shape[1]) // target_w
                resized = px[ys][:, xs]
                out["image_id"].append(iid)
                out["bytes"].append(codec.encode(resized, got_fmt))
                out["w"].append(target_w)
                out["h"].append(target_h)
                out["fmt"].append(got_fmt)
            yield pd.DataFrame(out)

    return df.select("image_id", "bytes", "fmt").mapInPandas(run, RESIZE_SCHEMA)


# ------------------------------------------------------ video (stubbed)

def _fake_video_frames(video_id: str, n_frames: int, w: int = 32, h: int = 32):
    """DETERMINISTIC FAKE: stands in for an ffmpeg frame decoder."""
    seed = sum(video_id.encode()) or 1
    for i in range(n_frames):
        yield i, float(i) / max(n_frames - 1, 1), codec.synth_pixels(seed + i, w, h)


def sample_video_frames(
    df: DataFrame, n_frames: int = 4, id_col: str = "video_id"
) -> DataFrame:
    """Uniform frame sampling + per-frame stats.  Plumbing is real
    (schema, batching, partitioning); the frame decode is the
    deterministic fake above."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("video_id", "frame_index", "frame_ts", "brightness", "pixel_std")}
            for vid in pdf[id_col]:
                for idx, ts, px in _fake_video_frames(str(vid), n_frames):
                    from .codec import luma32

                    luma = luma32(px)
                    rows["video_id"].append(vid)
                    rows["frame_index"].append(idx)
                    rows["frame_ts"].append(ts)
                    rows["brightness"].append(float(luma.mean(dtype=np.float64)))
                    rows["pixel_std"].append(float(luma.std(dtype=np.float64)))
            yield pd.DataFrame(rows)

    return df.select(id_col).mapInPandas(run, FRAME_SCHEMA)


# ------------------------------------------------------ audio (stubbed)

def _fake_audio_samples(audio_id: str, n: int = 8000) -> np.ndarray:
    """DETERMINISTIC FAKE: stands in for a soundfile/librosa decoder."""
    seed = sum(audio_id.encode()) or 1
    t = np.arange(n, dtype=np.float64)
    return np.sin(2 * np.pi * (seed % 440 + 60) * t / 8000.0) * 0.5


def audio_features(df: DataFrame, id_col: str = "audio_id") -> DataFrame:
    """RMS / zero-crossing / peak features per clip, Arrow-batched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("audio_id", "duration_s", "rms", "zero_crossing_rate", "peak", "n_samples")}
            for aid in pdf[id_col]:
                s = _fake_audio_samples(str(aid))
                rows["audio_id"].append(aid)
                rows["duration_s"].append(len(s) / 8000.0)
                rows["rms"].append(float(np.sqrt(np.mean(s**2))))
                rows["zero_crossing_rate"].append(
                    float(np.mean(np.abs(np.diff(np.signbit(s).astype(np.int8)))))
                )
                rows["peak"].append(float(np.abs(s).max()))
                rows["n_samples"].append(len(s))
            yield pd.DataFrame(rows)

    return df.select(id_col).mapInPandas(run, AUDIO_SCHEMA)
