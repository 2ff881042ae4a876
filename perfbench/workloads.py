"""One pass of each workload, and the check of its outputs.

A pass calls only the library's public functions, each inside a span
named for its layer.  ``expected`` loads what a pass must produce on a
generated input, and ``check`` returns the list of mismatches against it
(empty = correct).
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd

from . import reference

K_NN = 10


class Images:
    """Encoded images + captions through the CLI's parquet path
    (fused decode/text.fast scan -> quality passes -> bucketed checkpoint
    write), then the checkpoint published as an Iceberg snapshot."""

    name = "images"
    rows = 4000
    nominal_pass_s = 6.0
    modules = ("sparkclean.pipeline", "sparkclean.checkpoint", "sparkclean.iceberg")

    def reference(self, data_dir: str) -> dict:
        return reference.images_reference(data_dir)

    def expected(self, data_dir: str, ref: dict) -> dict:
        rows = pd.read_parquet(reference.expected_rows_path(data_dir))
        return dict(ref, rows=rows)

    def run(self, spark, tr, data_dir: str, out_dir: str) -> dict:
        from sparkclean.checkpoint import run_checkpointed
        from sparkclean.iceberg import publish_checkpoint
        from sparkclean.pipeline import run_image_caption_quality_from_path

        with tr.span("pipeline"):
            times = {}
            scored = run_image_caption_quality_from_path(spark, data_dir, stage_times=times)
            # the library's own timer of the job that runs the fused scan
            tr.child("images.decode", times["pass1_scan_thresholds"])
        with tr.span("checkpoint"):
            manifest = run_checkpointed(scored, out_dir)
        with tr.span("iceberg"):
            snap = publish_checkpoint(spark, out_dir)
        return {"counters": manifest["counters"], "snapshot": snap}

    def output_files(self, out_dir: str) -> list[str]:
        return sorted(glob.glob(os.path.join(out_dir, "_bucket=*", "*.parquet")))

    def check(self, got: dict, ref: dict, out_dir: str) -> list[str]:
        errs = []
        c = got["counters"]
        for key in ("rows_scored", "rows_kept", "dropped_by_rule"):
            if c.get(key) != ref[key]:
                errs.append(f"manifest {key}={c.get(key)!r}, expected {ref[key]!r}")
        rows = reference.read_rows(
            os.path.join(out_dir, "_bucket=*", "*.parquet"), reference.IMAGE_OUT_COLS
        )
        errs += reference.compare_image_rows(rows, ref["rows"])
        snap = got["snapshot"] or {}
        summary = snap.get("summary", {})
        for key in ("rows_scored", "rows_kept", "dropped_by_rule"):
            val = summary.get(key)
            if val is None or json.loads(val) != c.get(key):
                errs.append(f"iceberg summary {key}={val!r} != manifest {c.get(key)!r}")
        if summary.get("added-records") != str(c.get("rows_scored")):
            errs.append(f"iceberg added-records={summary.get('added-records')!r}")
        return errs


class LabelQuality:
    """Clustered embeddings with precomputed pred_probs: the self-confidence
    issue filter, the calibrated confident joint and a kNN OOD distance
    pass (knn_edges -> per-row mean -> exact median), all collected."""

    name = "label_quality"
    rows = 2000
    nominal_pass_s = 7.0
    num_classes = 10
    modules = ("sparkclean.quality.issues", "sparkclean.quality.joint",
               "sparkclean.sim.knn", "sparkclean.stats")

    def reference(self, data_dir: str) -> dict:
        return reference.label_quality_reference(data_dir, K_NN, self.num_classes)

    def expected(self, data_dir: str, ref: dict) -> dict:
        return ref

    def run(self, spark, tr, data_dir: str, out_dir: str) -> dict:
        from pyspark.sql import functions as F

        from sparkclean.quality.issues import find_label_issues
        from sparkclean.quality.joint import compute_confident_joint
        from sparkclean.sim.knn import knn_edges
        from sparkclean.stats import exact_median

        df = spark.read.parquet(data_dir)
        with tr.span("quality"):
            flagged = find_label_issues(
                df, self.num_classes, id_col="vec_id", filter_by="low_self_confidence"
            )
            issue_ids = [r[0] for r in flagged.where("is_label_issue").select("vec_id").collect()]
        with tr.span("quality"):
            joint = compute_confident_joint(df, self.num_classes, calibrate=True)
        with tr.span("sim.knn"):
            ood = knn_edges(df, k=K_NN).groupBy("qid").agg(F.avg("d").alias("s"))
            scores = ood.collect()
        with tr.span("stats"):
            median = exact_median(ood, "s")
        return {"issue_ids": issue_ids, "joint": np.asarray(joint).tolist(),
                "ood": scores, "median": median}

    def output_files(self, out_dir: str) -> list[str]:
        return []

    def check(self, got: dict, ref: dict, out_dir: str) -> list[str]:
        errs = []
        ids = got["issue_ids"]
        if len(ids) != ref["n_issues"] or sum(ids) != ref["issue_id_sum"]:
            errs.append(f"issues: {len(ids)} ids summing to {sum(ids)}, expected "
                        f"{ref['n_issues']} summing to {ref['issue_id_sum']}")
        if got["joint"] != ref["joint"]:
            errs.append(f"confident joint {got['joint']} != {ref['joint']}")
        ood = got["ood"]
        d = reference.ood_digest(
            np.array([r[0] for r in ood]), np.array([r[1] for r in ood])
        )
        if len(ood) != ref["ood_rows"] or d != ref["ood_digest"]:
            errs.append(f"ood scores: {len(ood)} rows digest {d}, expected "
                        f"{ref['ood_rows']} rows digest {ref['ood_digest']}")
        med = got["median"]
        if med is None or abs(med - ref["ood_median"]) > 1e-9 * max(1.0, abs(ref["ood_median"])):
            errs.append(f"ood median {med} != {ref['ood_median']}")
        return errs


WORKLOADS = {w.name: w for w in (Images(), LabelQuality())}
# workloads of the design that the benchmark does not run, and why
DROPPED = {
    "captions": (
        "dropped: ~1.2M caption rows (above bottom_n_flags' 1M-row fast-path "
        "cutoff) cost 20-30 s per pass at local[4], so with its warm-up "
        "passes one run would take two to three minutes -- too long for a "
        "benchmark that is run ten or more times per change and workload"
    ),
}
