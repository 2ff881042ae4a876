"""Spans around the benchmark's calls into each layer, and per-layer
Spark counters read from the status store afterwards.

Layers are observed from outside only:

* ``Tracer.span(layer)`` wraps one call into a layer's public function;
  spans nest, and a layer's self time is its spans' duration minus the
  part covered by child spans.  ``Tracer.child(layer, seconds)`` adds a
  timed child measured by the library itself (a ``stage_times`` entry).
* every Spark job that ran during a pass is read back from
  ``sc._jsc.sc().statusStore()`` (no UI needed) and attributed to the
  sparkclean module named in its call site (``collect at
  .../sparkclean/quality/thresholds.py:37`` -> ``quality``).  A job whose
  call site is the benchmark's own action line goes to the innermost
  span open when it was submitted.  One exception: the thresholds jobs
  submitted inside a ``pipeline`` span are the jobs that materialise the
  fused decode + ``text.fast`` Arrow scan, so they go to
  ``images.decode``.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

# layers that run Spark jobs in some workload, each with the full set of
# Spark counters; ``text.fast`` runs inside the images.decode scan stage
# and ``session`` before any pass, so they only have the metrics below
SPARK_LAYERS = (
    "images.decode", "pipeline", "quality", "stats", "sim.knn", "checkpoint", "iceberg",
)
LAYER_FIELDS = (
    ("wall_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("busy_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("serial_s", "s"),
    ("exec_mem_mb", "MB"),
)
# sparkclean module path prefix -> layer
MODULE_LAYER = (
    ("images/", "images.decode"), ("text/", "text.fast"), ("pipeline", "pipeline"),
    ("quality/", "quality"), ("stats", "stats"), ("sim/", "sim.knn"),
    ("checkpoint", "checkpoint"), ("iceberg", "iceberg"), ("session", "session"),
)
SCAN_CALL_SITE = "sparkclean/quality/thresholds.py"
# per-layer metrics beyond the SPARK_LAYERS x LAYER_FIELDS grid, with units
EXTRA_UNITS = {
    "session.wall_s": "s",
    "spark.jobs": "count", "spark.idle_s": "s", "spark.core_util": "fraction",
    "checkpoint.files_written": "count", "checkpoint.out_bytes_per_in_byte": "ratio",
    "iceberg.metadata_bytes": "bytes",
    "images.decode.kernel_rows_per_s": "1/s", "text.fast.kernel_rows_per_s": "1/s",
    "sim.knn.pair_dist_rows_per_s": "1/s",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}
_CALL_SITE = re.compile(r"sparkclean/([\w/]+)\.py:\d+")
_MB = 1024.0 * 1024.0


def per_layer_units() -> dict[str, str]:
    """Every metric a traced run reports, with its unit, in report order."""
    units = {f"{layer}.{f}": u for layer in SPARK_LAYERS for f, u in LAYER_FIELDS}
    units.update(EXTRA_UNITS)
    return units


def layer_of_call_site(call_site: str) -> str | None:
    """Layer named by a job's call site; None when the call site is not in
    sparkclean (the benchmark's own action lines)."""
    m = _CALL_SITE.search(call_site or "")
    if m is None:
        return None
    mod = m.group(1)
    for prefix, layer in MODULE_LAYER:
        if mod.startswith(prefix):
            return layer
    return "other"


class Tracer:
    """In-memory spans of one pass; a no-op when not enabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.timed_children: dict[str, float] = {}
        self._stack: list[dict] = []

    def child(self, layer: str, seconds: float) -> None:
        """Charge ``seconds`` of the innermost open span to ``layer``."""
        if not self.enabled:
            return
        if self._stack:
            self._stack[-1]["child_s"] += seconds
        self.timed_children[layer] = self.timed_children.get(layer, 0.0) + seconds

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        s = {"layer": layer, "start": time.time(), "end": None, "child_s": 0.0}
        self._stack.append(s)
        try:
            yield
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child_s"] += s["end"] - s["start"]
            self.spans.append(s)

    def innermost(self, t: float) -> str | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best["layer"] if best else None

    def layer_of_job(self, job: dict, pass_start: float) -> str | None:
        submitted = job["submitted"] or pass_start
        if SCAN_CALL_SITE in (job["call_site"] or "") and self.innermost(submitted) == "pipeline":
            return "images.decode"
        return layer_of_call_site(job["call_site"]) or self.innermost(submitted)


def last_job_id(sc) -> int:
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_jobs(sc, after_job_id: int) -> list[dict]:
    """Jobs with id > ``after_job_id`` and their completed stages."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= after_job_id:
            continue
        stages = []
        sids = j.stageIds()
        for k in range(sids.size()):
            st = store.lastStageAttempt(sids.apply(k))
            if str(st.status()) != "COMPLETE":
                continue
            stages.append({
                "tasks": st.numTasks(),
                "busy_s": st.executorRunTime() / 1000.0,
                "shuffle_write_mb": st.shuffleWriteBytes() / _MB,
                "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB,
                # summed over the stage's tasks by the status store
                "exec_mem_mb": st.peakExecutionMemory() / _MB,
                "start": _ms(st.submissionTime()),
                "end": _ms(st.completionTime()),
            })
        out.append({"id": j.jobId(), "call_site": j.name(),
                    "submitted": _ms(j.submissionTime()), "stages": stages})
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(tracer: Tracer, jobs: list[dict], pass_start: float,
                  pass_end: float, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass, keyed ``<layer>.<field>``."""
    acc = {layer: dict.fromkeys((f for f, _ in LAYER_FIELDS), 0.0) for layer in SPARK_LAYERS}
    for s in tracer.spans:
        if s["layer"] in acc:
            acc[s["layer"]]["wall_s"] += (s["end"] - s["start"]) - s["child_s"]
    for layer, seconds in tracer.timed_children.items():
        acc[layer]["wall_s"] += seconds
    intervals, busy = [], 0.0
    for j in jobs:
        a = acc.get(tracer.layer_of_job(j, pass_start))
        if a is not None:
            a["jobs"] += 1
        for st in j["stages"]:
            busy += st["busy_s"]
            if st["start"] is not None and st["end"] is not None:
                intervals.append((max(st["start"], pass_start), min(st["end"], pass_end)))
            if a is None:
                continue
            a["stages"] += 1
            a["tasks"] += st["tasks"]
            a["busy_s"] += st["busy_s"]
            a["shuffle_write_mb"] += st["shuffle_write_mb"]
            a["spill_mb"] += st["spill_mb"]
            a["exec_mem_mb"] += st["exec_mem_mb"]
            if st["tasks"] == 1 and st["start"] is not None and st["end"] is not None:
                a["serial_s"] += st["end"] - st["start"]
    wall = pass_end - pass_start
    out = {f"{layer}.{f}": v for layer, fields in acc.items() for f, v in fields.items()}
    out["spark.jobs"] = float(len(jobs))
    out["spark.idle_s"] = max(wall - _union_length([i for i in intervals if i[1] > i[0]]), 0.0)
    out["spark.core_util"] = busy / (wall * cores) if wall > 0 else 0.0
    return out


def exec_mem_mb(jobs: list[dict]) -> float:
    """Peak execution memory of a pass's tasks, summed over its stages."""
    return sum(st["exec_mem_mb"] for j in jobs for st in j["stages"])
