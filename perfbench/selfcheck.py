"""Self-checks of the benchmark itself (not part of a measured run).

    python3 perfbench/selfcheck.py            # everything, ~5 min on 4 cores
    python3 perfbench/selfcheck.py pinned     # one check by name

* ``pinned``: the expected outputs computed for the pinned seeds equal
  ``perfbench/expected.json`` (recorded when the benchmark was defined).
* ``corrupt``: one real pass per workload passes its check, and the same
  outputs with one row changed fail it.
* ``smoke``: a tiny run of each workload, untraced and traced, emits
  exactly the metrics named in BENCHMARK.json, each with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SMOKE_ROWS = {"images": 300, "label_quality": 400}


def _scratch() -> str:
    d = os.path.join(ROOT, ".perfbench_work", "selfcheck")
    os.makedirs(d, exist_ok=True)
    return tempfile.mkdtemp(dir=d)


def check_pinned() -> None:
    with open(os.path.join(HERE, "expected.json")) as f:
        pinned = json.load(f)
    for key, want in pinned.items():
        workload, rows, seed = key.split(":")
        wl = WORKLOADS[workload]
        d = _scratch()
        try:
            data = os.path.join(d, "data")
            gen.generate(workload, int(rows), int(seed), data, os.cpu_count() or 1)
            got = wl.reference(data)
        finally:
            shutil.rmtree(d)
        assert got == want, f"{key}: reference {got} != pinned {want}"
        print(f"pinned {key}: ok")


def _corrupt_parquet(out_dir: str) -> None:
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    f = sorted(glob.glob(os.path.join(out_dir, "_bucket=*", "*.parquet")))[0]
    t = pq.read_table(f)
    keep = t.column("keep").to_pylist()
    keep[0] = not keep[0]
    t = t.set_column(t.schema.get_field_index("keep"), "keep", pa.array(keep, pa.bool_()))
    pq.write_table(t, f)


def check_corrupt() -> None:
    from perfbench.run import stop_spark
    from perfbench.spans import Tracer
    from sparkclean.session import get_spark

    d = _scratch()
    inputs = {}
    for name, rows in SMOKE_ROWS.items():
        data = os.path.join(d, name)
        gen.generate(name, rows, 3, data, 2)
        wl = WORKLOADS[name]
        inputs[name] = (data, wl.expected(data, wl.reference(data)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    spark = get_spark("perfbench-selfcheck", master="local[2]", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name, (data, ref) in inputs.items():
            wl = WORKLOADS[name]
            out = os.path.join(d, f"{name}-out")
            got = wl.run(spark, Tracer(False), data, out)
            assert wl.check(got, ref, out) == [], f"{name}: pristine pass failed its check"
            if name == "images":
                _corrupt_parquet(out)
            else:
                qid, s = got["ood"][0]
                got["ood"][0] = (qid, s + 1e-3)
            errs = wl.check(got, ref, out)
            assert errs, f"{name}: a corrupted row passed the check"
            print(f"corrupt {name}: caught ({errs[0][:80]})")
            spark.catalog.clearCache()
    finally:
        stop_spark(spark)
        shutil.rmtree(d)


def check_smoke() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for name, rows in SMOKE_ROWS.items():
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "5", "--seconds", "1", "--trace", str(trace),
                   "--rows", str(rows)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
            assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], (
                f"{name} trace={trace}: missing {sorted(set(want[trace]) - set(got))}, "
                f"extra {sorted(set(got) - set(want[trace]))}, "
                f"unit mismatches {[k for k in got if k in want[trace] and got[k] != want[trace][k]]}")
            print(f"smoke {name} trace={trace}: {len(got)} metrics")


CHECKS = {"pinned": check_pinned, "corrupt": check_corrupt, "smoke": check_smoke}


if __name__ == "__main__":
    for name in sys.argv[1:] or list(CHECKS):
        CHECKS[name]()
    print("selfcheck: ok")
