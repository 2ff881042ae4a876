"""sparkclean benchmark: one workload per run, in this fresh process.

    python3 perfbench/run.py --workload images --seed 1 --seconds 14 --trace 0

The run pins itself to the CPUs it may use (what ``taskset`` does) and
drives Spark in ``local[<that many cores>]``.  It generates its input
from ``--seed`` (cached under ``.perfbench_work/cache``), computes the
expected outputs without Spark, starts the session, runs two warm-up
passes, then a fixed number of timed passes sized to fill ``--seconds``.
Every pass, warm-up included, is checked against the expected outputs; a
pass that raises or mismatches counts as failed and is never timed.

The last stdout line is the result JSON.  With ``--trace 0`` it holds
the end-to-end metrics; with ``--trace 1`` the per-layer metrics of a
separate traced run (see perfbench/README.md).  The line before it
holds ungated context (machine, input, VM probes, failure fraction).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_FREE_GB = 3.0
DEADLINE_S = 170
PROBE_ROWS = 500
PROBE_SEED = 0
# a fresh JVM's pass time keeps dropping through the first two passes
WARMUP_PASSES = 2
# with the library's 8 GB default the heap kept growing through a run and
# the tree's peak RSS spread 13-25% between runs; a 2 GB heap, committed
# and touched at JVM start, holds the JVM's share of it constant
DRIVER_MEM = "2g"
_T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench +{time.time() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=None,
                   help="override the workload's input size (self-checks only)")
    return p.parse_args(argv)


def free_gb(path: str) -> float:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize / 1e9


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for every child to end --
    including the resource tracker that spawn-context process pools
    leave running until interpreter exit."""
    from multiprocessing import resource_tracker

    from pyspark import SparkContext

    from perfbench import procs

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        if getattr(gw, "proc", None) is not None:
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    resource_tracker._resource_tracker._stop()
    me = os.getpid()
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in procs.tree_pids(me) if p != me]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkclean", "__init__.py")):
        log(f"sparkclean package not found under {ROOT}; run from a repository checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import DROPPED, WORKLOADS

    if args.workload not in WORKLOADS:
        log(DROPPED.get(args.workload, f"unknown workload {args.workload!r}; "
                        f"choose from {sorted(WORKLOADS)}"))
        return 2
    wl = WORKLOADS[args.workload]
    rows = args.rows or wl.rows
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus)
    ncpu = len(cpus)

    os.makedirs(WORK, exist_ok=True)
    have = free_gb(WORK)
    if have < MIN_FREE_GB:
        log(f"only {have:.1f} GB free at {WORK}; the {args.workload} workload needs "
            f"{MIN_FREE_GB:.0f} GB for its input, shuffle and outputs")
        return 3
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("spark-local", "tmp", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARKCLEAN_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.chdir(run_dir)

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    try:
        result, context = measure(args, wl, rows, ncpu, run_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


def measure(args, wl, rows, ncpu, run_dir):
    from perfbench import gen, probes, procs
    from perfbench.spans import Tracer, exec_mem_mb, last_job_id, layer_metrics, read_jobs

    # Spark and the library are imported first, so that their import
    # time counts in setup_s; only input generation, the reference and
    # the VM probes are taken out of it
    for mod in ("sparkclean.session", "sparkclean.images.decode") + wl.modules:
        importlib.import_module(mod)
    from sparkclean.session import get_spark

    cache = os.path.join(WORK, "cache")
    t0 = time.time()
    data_dir, info = gen.cached_input(
        cache, wl.name, rows, args.seed, ncpu, build_reference=wl.reference)
    probe_dir, _ = gen.cached_input(cache, "images", PROBE_ROWS, PROBE_SEED, ncpu)
    ref = wl.expected(data_dir, info["reference"])
    pinned_errs = pinned_mismatch(wl.name, rows, args.seed, info["reference"])
    prep_s = time.time() - t0
    t0 = time.time()
    probe_files = sorted(os.path.join(probe_dir, f) for f in os.listdir(probe_dir))
    sample = probes.load_image_sample(probe_files, PROBE_ROWS)
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    context = {
        "workload": wl.name, "seed": args.seed, "rows": rows, "nproc": ncpu,
        "loadavg": load, "free_disk_gb": round(free_gb(WORK), 1),
        "input_bytes": info["bytes"], "input_files": info["files"],
        "input_cached": info["cached"], "gen_s": info["gen_s"],
        "reference_s": info.get("reference_s"), "prep_s": round(prep_s, 3),
    }
    log(f"input ready in {prep_s:.1f} s")
    context.update(probes.vm_probes(sample, ncpu))
    probe_s = time.time() - t0
    log(f"VM probes done: {context['vm_probe_rows_per_sec']} rows/s solo")

    t_setup = time.time()
    spark = get_spark(
        "perfbench", master=f"local[{ncpu}]", shuffle_partitions=max(2 * ncpu, 8),
        extra_conf={"spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData "
                    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
                    "spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    root_pid = os.getpid()
    rss = procs.PeakRss(root_pid)
    attempted = failed = 0
    passes = []  # timed passes that passed their check
    session_wall = time.time() - t_setup

    def one_pass(i: int, traced: bool):
        nonlocal attempted, failed
        out_dir = os.path.join(run_dir, "out", f"pass-{i}")
        tr = Tracer(traced)
        sc.setJobGroup(f"perfbench-{wl.name}-{i}", f"perfbench {wl.name} pass {i}")
        first_job = last_job_id(sc)
        attempted += 1
        cpu0 = procs.tree_cpu_s(root_pid)
        rss.peak_mb = 0.0
        rss.active.set()
        start = time.time()
        try:
            got = wl.run(spark, tr, data_dir, out_dir)
            end = time.time()
            rss.active.clear()
            cpu = procs.tree_cpu_s(root_pid) - cpu0
            errs = wl.check(got, ref, out_dir) + pinned_errs
        except Exception as e:  # a pass that raises is a failed pass
            rss.active.clear()
            errs = [f"{type(e).__name__}: {e}"]
        rec = None
        if errs:
            failed += 1
            log(f"pass {i} FAILED: " + "; ".join(errs)[:2000])
        else:
            jobs = read_jobs(sc, first_job)
            rec = {"wall": end - start, "cpu": cpu, "rss": rss.peak_mb, "traced": traced,
                   "exec_mem": exec_mem_mb(jobs)}
            if traced:
                rec["layers"] = layer_metrics(tr, jobs, start, end, ncpu)
                rec["layers"].update(output_metrics(wl, out_dir, info["bytes"]))
        spark.catalog.clearCache()
        shutil.rmtree(out_dir, ignore_errors=True)
        sc.setJobGroup("perfbench-idle", "perfbench between passes")
        return rec

    try:
        warmups = [one_pass(i, traced=False) for i in range(WARMUP_PASSES)]
        setup_s = procs.process_age_s() - prep_s - probe_s
        log(f"set up in {setup_s:.1f} s")
        # a fixed number of timed passes sized to fill --seconds, so every
        # run times the same pass indices of the warm JVM
        n_timed = max(2, round(args.seconds / wl.nominal_pass_s))
        if args.trace:
            n_timed = max(n_timed, 4)  # one whole ABBA cycle
        t_win = time.time()
        ticks0 = procs.cpu_ticks()
        for k in range(n_timed):
            # traced runs alternate untraced and traced passes in ABBA
            # order so that tracing overhead is a paired difference
            traced = bool(args.trace) and k % 4 in (1, 2)
            rec = one_pass(WARMUP_PASSES + k, traced)
            if rec is not None:
                passes.append(rec)
            if time.time() - t_win > 4 * args.seconds + 30:
                break
        window_s = time.time() - t_win
        log(f"{len(passes)} timed passes in {window_s:.1f} s")
        ticks1 = procs.cpu_ticks()
        steal = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        # single-thread kernel rates, with Spark idle (the pair-distance
        # UDF needs a live session to be built)
        kernel = probes.kernel_rates(sample) if args.trace else {}
    finally:
        rss.close()
        t_stop = time.time()
        stop_spark(spark)
        log(f"Spark stopped in {time.time() - t_stop:.1f} s")

    context.update({"failed_frac": failed / max(attempted, 1), "passes": len(passes),
                    "window_s": round(window_s, 3), "steal_frac": round(steal, 4),
                    "session_s": round(session_wall, 3), "probe_s": round(probe_s, 3),
                    "warmup_s": [round(p["wall"], 3) for p in warmups if p],
                    "pass_s": [round(p["wall"], 3) for p in passes]})
    if args.trace:
        metrics = per_layer_metrics(passes, kernel, session_wall)
        ok = any(p["traced"] for p in passes)
    else:
        metrics = end_to_end_metrics(passes, rows, setup_s)
        ok = bool(passes)
    finite = all(v == v for v, _ in metrics.values())
    result = {
        "correct": ok and failed == 0 and finite,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v) if v == v else 0.0, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    return result, context


def _median(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else float("nan")


def end_to_end_metrics(passes: list[dict], rows: int, setup_s: float) -> dict:
    return {
        "rows_per_s": (rows / _median(p["wall"] for p in passes), "1/s"),
        "setup_s": (setup_s, "s"),
        "cpu_s_per_krow": (_median(p["cpu"] / rows * 1000.0 for p in passes), "s"),
        "peak_rss_mb": (_median(p["rss"] for p in passes), "MB"),
        "exec_mem_mb": (_median(p["exec_mem"] for p in passes), "MB"),
    }


def per_layer_metrics(passes: list[dict], kernel: dict, session_wall: float) -> dict:
    """Medians over the traced passes, plus the kernel rates and the
    traced-minus-untraced pass time."""
    from perfbench.spans import per_layer_units

    traced = [p for p in passes if p["traced"]]
    t_med = _median(p["wall"] for p in traced)
    u_med = _median(p["wall"] for p in passes if not p["traced"])
    measured = dict(kernel)
    measured.update({"session.wall_s": session_wall, "trace.pass_s": t_med,
                     "trace.overhead_s": t_med - u_med})
    return {
        n: (measured[n] if n in measured else _median(p["layers"][n] for p in traced), unit)
        for n, unit in per_layer_units().items()
    }


def pinned_mismatch(workload: str, rows: int, seed: int, ref: dict) -> list[str]:
    """Non-empty when this input's expected outputs are pinned in
    expected.json and the freshly computed reference differs."""
    with open(os.path.join(ROOT, "perfbench", "expected.json")) as f:
        want = json.load(f).get(f"{workload}:{rows}:{seed}")
    if want is None or want == ref:
        return []
    return [f"reference {ref} differs from pinned expectation {want}"]


def output_metrics(wl, out_dir: str, in_bytes: int) -> dict[str, float]:
    files = wl.output_files(out_dir)
    out_bytes = sum(os.path.getsize(f) for f in files)
    meta = os.path.join(out_dir, "metadata")
    meta_bytes = sum(
        os.path.getsize(os.path.join(meta, f)) for f in os.listdir(meta)
    ) if os.path.isdir(meta) else 0
    return {
        "checkpoint.files_written": float(len(files)),
        "checkpoint.out_bytes_per_in_byte": out_bytes / in_bytes if in_bytes else 0.0,
        "iceberg.metadata_bytes": float(meta_bytes),
    }


if __name__ == "__main__":
    sys.exit(main())
