#!/usr/bin/env python3
"""Repository benchmark: DBSCAN fit/predict and registered-query mixes.

Run from the repository root:

    python3 perfbench/run.py --workload dbscan --seed 1 --seconds 10 --trace 0

One closed-loop client in one process drives the public API
(``dbscan_spark.dbscan``/``predict`` and ``__spark_entry__.queries()``) on
``local[<cores>]``, one operation (op) in flight. An op is one ``dbscan()``
fit, one ``predict()`` call, or one registered query; ``predict()`` and the
queries are materialized by collecting their result to the driver.

Phases of a run (``perfbench/README.md`` has the details):

1. Inputs are made from ``--seed`` under ``perfbench/.work``: seeded
   point sets (``dbscan``), or a copy of ``perfbench/testdata`` and a
   seeded order of the mix (``queries``).
2. Set-up (``setup_s``): import the package, build the session, run a
   warm-up op, build the ``io`` on-disk mirrors the workload reads.
3. ``queries`` only: one untimed warm pass over the mix.
4. Timed passes until ``--seconds`` have elapsed and ``MIN_PASSES`` have
   run. ``pass_s`` sums, over the ops of a pass, each op's median latency
   across the timed passes. Every pass starts from the same state: Spark's
   block cache empty and the engine's in-process memos
   (``dedup._LSH_PAIRS_CACHE``, the modal-dimension cache of ``io``)
   cleared. Every op's output is checked, outside its timing.
5. ``--trace 1`` adds one traced pass and prints the per-layer metrics and
   the tracing overhead (traced pass time minus untraced pass_s).

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 1 when any op
failed or any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
from tracing import (  # noqa: E402
    RssSampler,
    Tracer,
    busy_cpu_seconds,
    descendants,
    install_dbscan_wrappers,
    scheduler_counts,
)

#: the registered queries the ``queries`` workload runs; the seed fixes
#: their order within a pass. Scan+aggregate, as-of join, event-time
#: sessions and the JSON mirror scan (relational), then the LLM-data ops:
#: MinHash LSH (its pair list is memoized per session), brute-force ANN
#: and TF-IDF
QUERY_MIX = [
    "q1_pricing_summary",
    "join_asof_last_click",
    "window_session_events",
    "json_source_events",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "text_tfidf_top_terms",
]

SIZES = {
    # points per DBSCAN input set, testdata scale factor of the queries
    "full": {"points": None, "sf": "sf0.01"},
    "tiny": {"points": 4_000, "sf": "sf0.001"},
}

#: the ``dbscan`` warm-up op: fit and predict twice on a small blob set
#: cut into many partitions, so the JVM has compiled the partition, margin
#: and merge paths before the first timed fit (with one fit it is still
#: compiling them, and the first timed pass runs 3-4 s slower)
WARMUP = {"points": 2_000, "max_points_per_partition": 200, "repeats": 2}
OP_TIMEOUT_S = 60.0
DATASETS = ("blobs", "skew")

#: timed passes a run makes at the least, whatever ``--seconds`` says: a
#: ``queries`` pass is short, so its per-op medians are taken over two
#: passes; one ``dbscan`` pass already takes longer than ``run_seconds``
MIN_PASSES = {"dbscan": 1, "queries": 2}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tail(xs):
    """Highest percentile with at least ten samples above it, as
    (percentile, value), or None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # index with exactly ten larger samples
    return 100.0 * (k + 1) / n, sorted(xs)[k]


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.root = os.getcwd()
        self.work = os.path.join(HERE, ".work")
        self.tracing = bool(args.trace)
        self.tracer = Tracer()
        self.ops: list[dict] = []
        self.spark = None
        self.size = SIZES[args.size]
        self.cores = len(os.sched_getaffinity(0))
        self.layer: dict[str, float] = {}
        self.t_start = time.perf_counter()

    # -- environment and inputs ---------------------------------------
    def configure_env(self) -> None:
        """Keep every file Spark and Python write inside the checkout and
        let the Python workers import the package."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        import tempfile

        tempfile.tempdir = tmp
        sys.path.insert(0, self.root)

    def make_inputs(self) -> None:
        seed = self.args.seed
        run_dir = os.path.join(self.work, f"{self.args.workload}-{self.args.size}-s{seed}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        if self.args.workload == "dbscan":
            n = self.size["points"]
            self.points = {}
            for ds in DATASETS:
                xy = getattr(datagen, ds)(seed, n)
                path = os.path.join(run_dir, f"{ds}.parquet")
                datagen.write_points(path, xy)
                self.points[ds] = (path, xy)
            self.warm_path = os.path.join(run_dir, "warmup.parquet")
            datagen.write_points(self.warm_path, datagen.blobs(seed + 1_000_003, WARMUP["points"]))
            self.rows_per_pass = sum(len(xy) for _, xy in self.points.values())
        else:
            # a copy under its own name: the io mirrors are keyed by the
            # directory's name, and the benchmark rebuilds its own
            sf = self.size["sf"]
            self.sf_dir = os.path.join(run_dir, f"perfbench-{sf}")
            shutil.copytree(os.path.join(HERE, "testdata", sf), self.sf_dir)
            self.rows_per_pass = sum(
                pq.ParquetFile(os.path.join(self.sf_dir, f)).metadata.num_rows
                for f in sorted(os.listdir(self.sf_dir))
            )
            order = np.random.default_rng(seed).permutation(len(QUERY_MIX))
            self.query_mix = [QUERY_MIX[i] for i in order]

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        """Import the package, build the session, run the warm-up op and
        build the io mirrors; returns the seconds this took."""
        t0 = time.perf_counter()
        if self.args.workload == "queries":
            import __spark_entry__  # noqa: F401  (sets the worker env first)
        from dbscan_spark.session import get_spark

        with self.tracer.span("session.get_spark") as s:
            self.spark = get_spark(app_name="perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.get_spark_s"] = s["end"] - s["start"]
        with self.tracer.span("setup.warmup_op"):
            self.warmup_op()
        if self.args.workload == "queries":
            with self.tracer.span("io.mirror_build") as s:
                self.build_mirrors()
            self.layer["io.mirror_build_s"] = s["end"] - s["start"]
        return time.perf_counter() - t0

    def warmup_op(self) -> None:
        spark = self.spark
        if self.args.workload == "dbscan":
            from dbscan_spark import dbscan, predict

            p = {**datagen.DBSCAN_PARAMS,
                 "max_points_per_partition": WARMUP["max_points_per_partition"]}
            df = spark.read.parquet(self.warm_path)
            for _ in range(WARMUP["repeats"]):
                model = dbscan(df.filter("id % 10 != 0"), **p)
                predict(model, df.filter("id % 10 = 0"), p["eps"]).toPandas()
                model.unpersist()
        else:
            import __spark_entry__ as entry

            entry.queries()[QUERY_MIX[0]](spark, self.sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()

    def build_mirrors(self) -> None:
        """Delete, then build, the mirrors the mix reads, so every run's
        set-up pays the same build (they are never found already present)."""
        from dbscan_spark.io import events_json_dir

        key = os.path.basename(self.sf_dir)
        for d in (".json_mirror", ".blob_mirror", ".ann_index"):
            shutil.rmtree(os.path.join(self.root, d, key), ignore_errors=True)
        events_json_dir(self.spark, self.sf_dir)

    # -- ops ------------------------------------------------------------
    def reset_state(self) -> None:
        from dbscan_spark import io
        from dbscan_spark.operators import dedup

        self.spark.catalog.clearCache()
        dedup._LSH_PAIRS_CACHE.clear()
        io.clear_modal_dim_cache()

    def run_op(self, name: str, fn, phase: str):
        sc = self.spark.sparkContext
        idx = len(self.ops)
        group = f"perfbench-op-{idx}"
        sc.setJobGroup(group, name, interruptOnCancel=True)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [group])
        timer.start()
        self.tracer.op_id = idx
        rec = {"op": idx, "name": name, "phase": phase, "ok": True, "error": None}
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{name}"):
                out = fn()
        except Exception as e:  # an op that raises is counted, not fatal
            out = None
            rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}")
        finally:
            timer.cancel()
        rec["seconds"] = time.perf_counter() - t0
        if rec["ok"] and rec["seconds"] >= OP_TIMEOUT_S:
            rec.update(ok=False, error="timed out")
        self.tracer.op_id = None
        sc.setJobGroup("perfbench-untimed", "checks", interruptOnCancel=False)
        if self.tracing and phase == "traced":
            rec["jobs"], rec["stages"], rec["tasks"] = scheduler_counts(sc, group)
        self.ops.append(rec)
        return rec, out

    def fail(self, rec: dict, problems: list[str]) -> None:
        if problems:
            rec["ok"] = False
            rec["error"] = "; ".join(problems)

    # -- dbscan workload --------------------------------------------------
    def dbscan_prepare(self) -> None:
        from checks import fit_and_predict_truth

        p = datagen.DBSCAN_PARAMS
        self.frames, self.truth, self.pred_truth = {}, {}, {}
        for ds, (path, xy) in self.points.items():
            df = self.spark.read.parquet(path)
            self.frames[ds] = (
                df.filter(f"id % {datagen.HOLDOUT_EVERY} != 0"),
                df.filter(f"id % {datagen.HOLDOUT_EVERY} = 0"),
            )
            self.truth[ds], self.pred_truth[ds] = fit_and_predict_truth(
                xy, datagen.HOLDOUT_EVERY, p["eps"], p["min_points"]
            )

    def dbscan_pass(self, phase: str) -> float:
        from checks import check_fit, check_predict
        from dbscan_spark import dbscan, predict

        p = datagen.DBSCAN_PARAMS
        total = 0.0
        for ds in DATASETS:
            train, probes = self.frames[ds]
            fit, model = self.run_op(f"fit:{ds}", lambda: dbscan(train, **p), phase)
            total += fit["seconds"]
            if model is None:
                continue
            if self.tracing and phase == "traced":
                self.dbscan_layers(ds, fit)
            mpdf = model.toPandas()
            if self.args.corrupt and not self.corrupted:
                mpdf.loc[mpdf.index[0], "flag"] = (
                    "noise" if mpdf["flag"].iloc[0] != "noise" else "core"
                )
                self.corrupted = True
            self.fail(fit, check_fit(mpdf, self.truth[ds]))
            pred, ppdf = self.run_op(
                f"predict:{ds}",
                lambda: predict(model, probes, p["eps"]).toPandas(),
                phase,
            )
            total += pred["seconds"]
            if ppdf is not None:
                self.fail(pred, check_predict(ppdf, mpdf, self.pred_truth[ds]))
            model.unpersist()
        return total

    def dbscan_layers(self, ds: str, fit: dict) -> None:
        """Per-layer numbers for one traced fit: partitioner and graph from
        the wrapped calls; the kernel replayed in-process over the same
        partition plan (workers do not see driver-side wrappers)."""
        from dbscan_spark.kernel import local_dbscan_matrix

        cap = self.captured
        p = datagen.DBSCAN_PARAMS
        op = fit["op"]
        part_s = self.tracer.total("partitioner.find_partitions", op) + self.tracer.total(
            "partitioner.margins", op
        )
        graph_s = self.tracer.total("graph.assign_global_ids", op)
        size = cap["size"]
        cells = [(round(cx / size), round(cy / size), c) for (cx, cy), c in cap["hist"].items()]
        counts = []
        for r in cap["parts"]:
            x, y, x2, y2 = (round(v / size) for v in (r.x, r.y, r.x2, r.y2))
            counts.append(sum(c for cx, cy, c in cells if x <= cx < x2 and y <= cy < y2))
        _, xy = self.points[ds]
        xy = xy[np.arange(len(xy)) % datagen.HOLDOUT_EVERY != 0]
        times, dup = [], 0
        for pid, _inner, _main, outer in cap["margins"]:
            inside = (
                (xy[:, 0] >= outer.x) & (xy[:, 0] <= outer.x2)
                & (xy[:, 1] >= outer.y) & (xy[:, 1] <= outer.y2)
            )
            pts = xy[inside]
            dup += len(pts)
            with self.tracer.span("kernel.local_dbscan_matrix", partition=pid) as s:
                local_dbscan_matrix(pts, p["eps"], p["min_points"])
            times.append(s["end"] - s["start"])
        busy = sum(times)
        pre = f"{ds}."
        self.layer.update({
            pre + "partitioner.find_partitions_s": part_s,
            pre + "partitioner.partitions": len(cap["parts"]),
            pre + "partitioner.max_partition_points": max(counts, default=0),
            pre + "partitioner.overfull_partitions": sum(c > cap["max_points"] for c in counts),
            pre + "partitioner.dup_ratio": dup / len(xy),
            pre + "kernel.busy_s": busy,
            pre + "kernel.points_per_s": dup / busy if busy else 0.0,
            pre + "kernel.max_partition_s": max(times, default=0.0),
            pre + "kernel.imbalance": max(times) / (busy / self.cores) if busy else 0.0,
            pre + "graph.assign_global_ids_s": graph_s,
            pre + "graph.edges": cap["edges"],
            pre + "graph.local_clusters": cap["local_clusters"],
            pre + "dbscan.fit_s": fit["seconds"],
            pre + "dbscan.spark_s": fit["seconds"] - part_s - graph_s,
        })

    # -- queries workload -------------------------------------------------
    def query_pass(self, phase: str) -> float:
        import __spark_entry__ as entry

        qs = entry.queries()
        total = 0.0
        for name in self.query_mix:
            rec, out = self.run_op(name, lambda: qs[name](self.spark, self.sf_dir).toPandas(), phase)
            total += rec["seconds"]
            if out is not None:
                if self.args.corrupt and not self.corrupted and len(out):
                    out = out.iloc[1:]
                    self.corrupted = True
                self.query_outputs.append((rec, out))
        return total

    def check_queries(self) -> None:
        from checks import check_query, oracle_hashes

        want = oracle_hashes(self.sf_dir, QUERY_MIX)
        for rec, out in self.query_outputs:
            self.fail(rec, check_query(rec["name"], out, want[rec["name"]]))

    def io_layers(self) -> None:
        from dbscan_spark.io import TABLES, load_embeddings, load_events, load_table

        loaders = {"events": load_events, "embeddings": load_embeddings}
        scan_s, rows = 0.0, 0
        for t in TABLES:
            loader = loaders.get(t, lambda s, d, t=t: load_table(s, d, t))
            with self.tracer.span("io.scan", table=t) as s:
                loader(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            scan_s += s["end"] - s["start"]
            rows += loader(self.spark, self.sf_dir).count()
        self.layer["io.scan_s"] = scan_s
        self.layer["io.rows_scanned"] = rows

    # -- driver -----------------------------------------------------------
    def timed_passes(self, phase: str, seconds: float, min_passes: int) -> list[float]:
        run_pass = self.dbscan_pass if self.args.workload == "dbscan" else self.query_pass
        passes = []
        t0 = time.perf_counter()
        while True:
            self.reset_state()
            passes.append(run_pass(phase))
            if len(passes) >= min_passes and time.perf_counter() - t0 >= seconds:
                return passes

    def op_seconds(self, phase: str) -> dict[str, list[float]]:
        """Latencies of the ops of one phase, by op name."""
        by_name: dict[str, list[float]] = {}
        for r in self.ops:
            if r["phase"] == phase:
                by_name.setdefault(r["name"], []).append(r["seconds"])
        return by_name

    def run(self) -> int:
        self.configure_env()
        self.make_inputs()
        from bench import _calib_sec, _cpu_ticks

        self.corrupted = False
        self.query_outputs: list = []
        t_phase = time.perf_counter()
        self.phase_s = {"inputs": t_phase - self.t_start}
        setup_s = self.setup()
        t_phase += setup_s
        if self.args.workload == "dbscan":
            self.dbscan_prepare()
        else:
            self.reset_state()
            self.query_pass("warm")
        self.phase_s["prepare"] = time.perf_counter() - t_phase
        steal0, ticks0 = _cpu_ticks()
        busy0 = busy_cpu_seconds()
        t_wall = time.perf_counter()
        with RssSampler() as rss:
            passes = self.timed_passes(
                "timed", self.args.seconds, MIN_PASSES[self.args.workload]
            )
        wall = time.perf_counter() - t_wall
        self.rss_mb = {k: v / 2**20 for k, v in rss.peak_by_comm.items()}
        self.rss_mb["total"] = rss.peak / 2**20
        steal1, ticks1 = _cpu_ticks()
        self.busy_per_pass = (busy_cpu_seconds() - busy0) / len(passes)
        timed = [r["seconds"] for r in self.ops if r["phase"] == "timed"]
        pass_s = sum(_median(v) for v in self.op_seconds("timed").values())
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (self.rows_per_pass / pass_s if pass_s else 0.0, "1/s"),
            "op_p50_s": (_median(timed), "s"),
            "py_peak_rss_mb": (rss.peak_python / 2**20, "MB"),
        }
        self.phase_s["timed"] = wall
        t_phase = time.perf_counter()
        if self.tracing:
            metrics = self.traced(pass_s)
        self.phase_s["traced"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        if self.args.workload == "queries":
            self.check_queries()
        self.phase_s["checks"] = time.perf_counter() - t_phase
        attempted = len(self.ops)
        failed = sum(not r["ok"] for r in self.ops)
        self.report_context(passes, timed, wall, steal1 - steal0, ticks1 - ticks0, _calib_sec())
        print(f"failed_ratio: {failed / attempted if attempted else 1.0:.6g} ({failed} of {attempted} ops)")
        for r in self.ops:
            if not r["ok"]:
                print(f"FAILED {r['phase']} {r['name']}: {r['error']}")
        for name, (value, unit) in metrics.items():
            print(f"{name}: {value:.6g} {unit}")
        correct = failed == 0 and attempted > 0
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if correct else 1

    def traced(self, untraced_pass_s: float) -> dict:
        self.captured, uninstall = install_dbscan_wrappers(self.tracer)
        try:
            passes = self.timed_passes("traced", 0.0, 1)
        finally:
            uninstall()
        traced = [r for r in self.ops if r["phase"] == "traced"]
        n = len(traced) or 1
        layer = {
            "session.get_spark_s": (self.layer["session.get_spark_s"], "s"),
            "io.mirror_build_s": (self.layer.get("io.mirror_build_s", 0.0), "s"),
            "engine.jobs_per_op": (sum(r.get("jobs", 0) for r in traced) / n, "count"),
            "engine.stages_per_op": (sum(r.get("stages", 0) for r in traced) / n, "count"),
            "engine.tasks_per_op": (sum(r.get("tasks", 0) for r in traced) / n, "count"),
            "trace.overhead_s": (passes[0] - untraced_pass_s, "s"),
            "rss.peak_total_mb": (self.rss_mb["total"], "MB"),
            "rss.peak_jvm_mb": (self.rss_mb.get("java", 0.0), "MB"),
        }
        if self.args.workload == "queries":
            self.io_layers()
        for key in ("io.scan_s", "io.rows_scanned"):
            layer[key] = (self.layer.get(key, 0.0), "s" if key.endswith("_s") else "count")
        units = {
            "find_partitions_s": "s", "partitions": "count", "max_partition_points": "count",
            "overfull_partitions": "count", "dup_ratio": "ratio", "busy_s": "s",
            "points_per_s": "1/s", "max_partition_s": "s", "imbalance": "ratio",
            "assign_global_ids_s": "s", "edges": "count", "local_clusters": "count",
            "fit_s": "s", "spark_s": "s", "predict_s": "s",
        }
        for ds in DATASETS:
            for layer_name, metric in (
                ("partitioner", "find_partitions_s"), ("partitioner", "partitions"),
                ("partitioner", "max_partition_points"), ("partitioner", "overfull_partitions"),
                ("partitioner", "dup_ratio"), ("kernel", "busy_s"), ("kernel", "points_per_s"),
                ("kernel", "max_partition_s"), ("kernel", "imbalance"),
                ("graph", "assign_global_ids_s"), ("graph", "edges"), ("graph", "local_clusters"),
                ("dbscan", "fit_s"), ("dbscan", "spark_s"), ("dbscan", "predict_s"),
            ):
                key = f"{ds}.{layer_name}.{metric}"
                value = self.layer.get(key, 0.0)
                if metric == "predict_s":
                    value = sum(r["seconds"] for r in traced if r["name"] == f"predict:{ds}")
                layer[key] = (value, units[metric])
        for q in QUERY_MIX:
            layer[f"query.{q}_s"] = (
                sum(r["seconds"] for r in traced if r["name"] == q), "s"
            )
        os.makedirs(self.work, exist_ok=True)
        self.tracer.write(
            os.path.join(self.work, f"trace-{self.args.workload}-s{self.args.seed}.json")
        )
        return layer

    def report_context(self, passes, timed, wall, steal, ticks, calib) -> None:
        """Context, not corrections: printed before the result line."""
        tail = _tail(timed)
        fits = [r["seconds"] for r in self.ops if r["phase"] == "timed" and r["name"].startswith("fit:")]
        preds = [r["seconds"] for r in self.ops if r["phase"] == "timed" and r["name"].startswith("predict:")]
        ctx = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "size": self.args.size,
            "query_order": getattr(self, "query_mix", None),
            "cores": self.cores,
            "passes_s": passes,
            "op_median_s": {k: _median(v) for k, v in self.op_seconds("timed").items()},
            "timed_wall_s": wall,
            "timed_ops": len(timed),
            "op_tail": (
                {"percentile": tail[0], "seconds": tail[1], "samples": len(timed)}
                if tail else f"n/a: {len(timed)} timed ops, 11 needed"
            ),
            "steal_ticks": steal,
            "cpu_ticks": ticks,
            "calib_sec": calib,
            "peak_rss_mb": self.rss_mb,
            "busy_cpu_s_per_pass": self.busy_per_pass,
            "run_wall_s": time.perf_counter() - self.t_start,
            "phase_s": self.phase_s,
        }
        if self.args.workload == "dbscan":
            ctx["fit_p50_s"] = _median(fits)
            ctx["predict_p50_s"] = _median(preds)
            for ds in DATASETS:
                ctx[f"fit_p50_s[{ds}]"] = _median(
                    [r["seconds"] for r in self.ops if r["phase"] == "timed" and r["name"] == f"fit:{ds}"]
                )
        print("context: " + json.dumps(ctx))

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait until every child is gone."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        # the JVM's Python workers are its children, not ours: poll for them
        for grace in (30.0, 10.0):
            deadline = time.time() + grace
            while time.time() < deadline:
                rest = [p for p in descendants(os.getpid()) if p != os.getpid()]
                if not rest:
                    return
                time.sleep(0.2)
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("dbscan", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full",
                    help="tiny: the self-test size")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one output before its check (self-test)")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "dbscan_spark"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        print("perfbench: run from the repository root; dbscan_spark/ not found",
              file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        return bench.run()
    finally:
        bench.shutdown()


if __name__ == "__main__":
    sys.exit(main())
