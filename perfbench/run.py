#!/usr/bin/env python3
"""Benchmark of the zonal/spatial engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Workloads (perfbench/README.md says why each exists):

- ``interactive``: one closed-loop client sending single-AOI zonal
  requests (Raster-SQL mix) and kNN tile lookups.
- ``batch``: one closed-loop client alternating two jobs: an AOI batch
  with a skew hotspot through ``prepare_aoi_index`` +
  ``zonal_statistics_multi`` over three queries, and an update job (new
  tiles written cell-sorted, one overview level built and written, new
  alert points joined to the AOIs and counted).

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it starts with
``summary`` and holds the settings, the error rate, per-kind latencies
and the corpus build time.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

# the engine package is imported inside functions only: common.fit_environment
# must run first (the session module reads SPARK_GRAFT_CPUS at import)
import common
import corpus
import gate
import inputs
import layers
import ops
from tracing import Tracer

WORKLOADS = ("interactive", "batch")
ALL_KINDS = ("zonal", "knn", "batch", "update")
KINDS = {"interactive": ("zonal", "knn"), "batch": ("batch", "update")}
# the mix of each workload: a block holds one operation of each class.
# The three zonal queries are classes of their own because their costs
# differ (the FROM data area sum takes about 1.6x the others).
MIX = {
    "interactive": ("loss", "isoweek", "area", "knn"),
    "batch": ("batch", "update"),
}
SETUP_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="run every workload briefly on small inputs, gate on")
    a = p.parse_args(argv)
    if not a.smoke and a.workload is None:
        p.error("--workload is required unless --smoke")
    return a


def op_class(rec) -> str:
    return rec.request["query"] if rec.kind == "zonal" else rec.kind


class OpRecord:
    __slots__ = ("kind", "phase", "seconds", "result", "request", "error", "inp")

    def __init__(self, kind, phase, seconds, result, request, error, inp):
        self.kind, self.phase, self.seconds = kind, phase, seconds
        self.result, self.request, self.error, self.inp = result, request, error, inp


def make_inputs(kind: str, rng, small: bool = False) -> dict:
    """Seeded inputs of one operation kind; zonal and kNN requests share
    one request stream. The small AOI batch stacks all its AOIs on the
    hotspot, so it takes the salted plan too."""
    if kind in ("zonal", "knn"):
        aois, _, _ = inputs.make_aois(rng, 8 if small else inputs.INTERACTIVE_AOIS, "req",
                                      max_side_cells=inputs.INTERACTIVE_MAX_SIDE)
        return {"aois": aois, "requests": inputs.interactive_requests(rng, 60, aois)}
    if kind == "batch":
        lo, hi = inputs.BATCH_SIDES
        if small:
            aois, _, hot = inputs.make_aois(rng, inputs.SMALL_BATCH_AOIS, "batch", hi,
                                            hot_fraction=1.0, min_side_cells=lo)
        else:
            aois, _, hot = inputs.make_aois(rng, inputs.BATCH_AOIS, "batch", hi,
                                            min_side_cells=lo)
        return {"aois": aois, "hot": hot}
    aois, hot, _ = inputs.make_aois(rng, 6 if small else inputs.UPDATE_AOIS, "upd")
    points = inputs.alert_points(rng, 1_000 if small else inputs.N_POINTS, aois, hot)
    cells = inputs.ingest_cells(rng, 8 if small else inputs.INGEST_CELLS)
    landing, arrays = inputs.encode_ingest_tiles(cells)
    return {"aois": aois, "points": points, "cells": cells, "landing": landing,
            "arrays": arrays}


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 settings: dict, small: bool = False):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.kinds = KINDS[workload]
        self.mix = MIX[workload]
        self.session = common.Session(settings)
        self.settings = settings
        self.tracer = self.spans = Tracer(False)
        self.records: list[OpRecord] = []
        self.run_dir = common.work_dir("runs", f"{workload}-s{seed}-p{os.getpid()}")
        self.event_log_dir = os.path.join(self.run_dir, "eventlog")
        self.corpus_info: dict = {}
        self.setup_phases: list[dict] = []
        self.n_ops = 0
        self._lock = threading.Lock()
        self.ctx = None
        # per-kind inputs and prepared state; zonal and kNN share theirs
        self.inp: dict = {}
        for kind in self.kinds:
            if kind == "knn" and "zonal" in self.inp:
                self.inp[kind] = self.inp["zonal"]
            else:
                self.inp[kind] = make_inputs(kind, inputs.rng_for(f"{workload}-{kind}", seed), small)
            if kind == "update":
                self._land(self.inp[kind], "")
        # inputs of the batch workload's cold warm-up operations
        self.warm_inp = {}
        if workload == "batch":
            self.warm_inp = {
                "batch": {"aois": self.inp["batch"]["hot"]},
                "update": make_inputs("update", inputs.rng_for("warmup-update", seed), small=True),
            }
            self._land(self.warm_inp["update"], "warmup_")
        self.prepared: dict = {}

    # -- set-up -------------------------------------------------------------

    def setup(self, event_log: bool, full: bool) -> dict:
        """Fresh SparkContext and corpus open; with ``full``, also one
        cold operation of each kind and then the workload preparation
        (AOI index, input tables). Returns the phase times; the corpus
        build and input staging are not part of them."""
        from gfw_raster_analysis_lambda_spark.sources import fixtures
        from gfw_raster_analysis_lambda_spark.sources.images import read_images

        t0 = time.perf_counter()
        spark = self.session.start(self.event_log_dir if event_log else None)
        t1 = time.perf_counter()
        self.corpus_info = corpus.ensure_corpus(spark)
        t2 = time.perf_counter()
        with self.tracer.span("setup.open_corpus"):
            images = read_images(spark, self.corpus_info["path"])
            env = fixtures.fixture_environment(grid=corpus.GRID_NAME)
        self.ctx = ops.Context(spark, images, env, self.tracer)
        t3 = time.perf_counter()
        phases = {"session_s": t1 - t0, "open_s": t3 - t2}
        if full:
            self._warm_up()
            t4 = time.perf_counter()
            self.prepared = {k: self._prepare(k, self.inp[k]) for k in self.kinds}
            phases.update(warmup_s=t4 - t3, prepare_s=time.perf_counter() - t4)
        self.setup_phases.append(phases)
        return phases

    def _warm_up(self) -> None:
        """Cold operations of every plan shape the window sends, run
        concurrently (at most one thread per core): for interactive, the
        stream's last block (one no window reaches: one request per
        zonal query and a kNN lookup); for batch, an AOI batch of the
        batch's hotspot AOIs (its own index; it takes the salted plan)
        and an update job on small seeded inputs. Not traced: spans and
        job groups belong to the measured operations."""
        tracer, self.tracer = self.tracer, Tracer(False)
        self.ctx.tracer = self.tracer
        if self.workload == "interactive":
            todo = [(r["kind"], r, self.inp["zonal"]) for r in self.inp["zonal"]["requests"][-1]]
        else:
            todo = [(k, None, self.warm_inp[k]) for k in self.kinds]

        def cold(kind, req, inp):
            return self._run_op(kind, "warmup", req, inp, self._prepare(kind, inp))

        try:
            with ThreadPoolExecutor(max_workers=min(len(todo), self.settings["cpus"])) as ex:
                for f in [ex.submit(cold, *t) for t in todo]:
                    f.result()
        finally:
            self.tracer = self.ctx.tracer = tracer

    def _land(self, inp: dict, prefix: str) -> None:
        """Land the update inputs (alert points, pre-encoded tiles) as
        parquet files, the way new data arrives (pyarrow, no Spark)."""
        for key in ("points", "landing"):
            path = os.path.join(self.run_dir, f"{prefix}{key}")
            os.makedirs(path, exist_ok=True)
            table = pa.Table.from_pandas(inp[key], preserve_index=False)
            pq.write_table(table, os.path.join(path, "part-00000.parquet"))
            inp[f"{key}_path"] = path

    def _prepare(self, kind: str, inp: dict) -> dict:
        ctx = self.ctx
        if kind == "batch":
            aoi_df, idx = ops.prepare_batch(ctx, inp["aois"])
            return {"aoi_df": aoi_df, "idx": idx, "tasks": ops.batch_tile_tasks(idx),
                    "salted_cells": len(idx.salted)}
        if kind == "update":
            parents = {(x // 2, y // 2) for x, y in inp["cells"]}
            return {
                "points_df": ctx.spark.read.parquet(inp["points_path"]),
                "aoi_df": ctx.spark.createDataFrame(inp["aois"], ops.AOI_SCHEMA),
                "landing_path": inp["landing_path"],
                "tiles": len(inp["landing"]) + len(parents) * len(inputs.INGEST_LAYERS),
            }
        return {}

    @staticmethod
    def _request(inp: dict, kind: str):
        """The request of ``kind`` in the last block of the stream (one a
        window does not reach), or None for batch and update jobs."""
        if kind not in ("zonal", "knn"):
            return None
        return next(r for r in inp["requests"][-1] if r["kind"] == kind)

    # -- operations ---------------------------------------------------------

    def _run_op(self, kind: str, phase: str, req, inp: dict, prepared: dict) -> OpRecord:
        ctx = self.ctx
        with self._lock:
            self.n_ops += 1
            op_id = f"op{self.n_ops}"
        result, err = None, None
        t0 = time.perf_counter()
        with self.tracer.op(op_id, kind, ctx.spark):
            try:
                if kind == "zonal":
                    result = ops.zonal_request(ctx, req)
                elif kind == "knn":
                    result = ops.knn_request(ctx, req)
                elif kind == "batch":
                    result = ops.batch_op(ctx, prepared["aoi_df"], prepared["idx"])
                else:
                    out = os.path.join(self.run_dir, "update", op_id)
                    result = ops.update_op(ctx, prepared, out)
            except Exception:
                err = traceback.format_exc()
                print(f"{kind} {op_id} failed:\n{err}", file=sys.stderr)
        rec = OpRecord(kind, phase, time.perf_counter() - t0, result, req, err, inp)
        with self._lock:
            self.records.append(rec)
        return rec

    def window(self, phase: str) -> list[OpRecord]:
        """Closed loop: send the next operation when the previous one has
        completed, until ``seconds`` have passed and every class of the
        workload's mix has run. Interactive operations follow the seeded
        request stream; batch operations alternate AOI batch and update
        job."""
        if self.workload == "interactive":
            stream = ((r["kind"], r) for block in self.inp["zonal"]["requests"] for r in block)
        else:
            stream = itertools.cycle([(k, None) for k in self.kinds])
        recs: list[OpRecord] = []
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < self.seconds
               or not set(self.mix) <= {op_class(r) for r in recs}):
            kind, req = next(stream)
            recs.append(self._run_op(kind, phase, req, self.inp[kind], self.prepared[kind]))
        return recs

    # -- metrics ------------------------------------------------------------

    def e2e(self, recs: list[OpRecord], setup_s: float) -> dict:
        """``work_per_s``: operations per second of the workload's mix at
        each class's median latency over the window (failed operations
        are left out unless every operation of the class failed)."""
        block_s = 0.0
        for c in self.mix:
            mine = [r for r in recs if op_class(r) == c]
            good = [r for r in mine if r.error is None] or mine
            block_s += statistics.median(r.seconds for r in good)
        rate = len(self.mix) / block_s
        return {
            "setup_s": {"value": setup_s, "unit": "s"},
            "work_per_s": {"value": rate, "unit": "1/s"},
        }

    def latency_summary(self, recs: list[OpRecord]) -> dict:
        """Per kind: median, the highest percentile with ten samples
        beyond it (null below eleven samples) and the count."""
        out = {}
        for kind in self.kinds:
            secs = [r.seconds for r in recs if r.kind == kind and r.error is None]
            if not secs:
                continue
            pct, tail = common.quantile_tail(secs)
            out[kind] = {"p50_s": statistics.median(secs), "tail_s": tail,
                         "tail_pct": pct, "n": len(secs)}
        if "batch" in out:
            out["batch"]["tile_tasks_per_s"] = self.prepared["batch"]["tasks"] / out["batch"]["p50_s"]
            out["batch"]["salted_cells"] = self.prepared["batch"]["salted_cells"]
        if "update" in out:
            out["update"]["tiles"] = self.prepared["update"]["tiles"]
            out["update"]["points"] = len(self.inp["update"]["points"])
        return out

    # -- correctness --------------------------------------------------------

    def gate(self) -> tuple[int, int]:
        """Check every operation's result; returns (attempted, failed)."""
        oracle = gate.ZonalOracle(self.ctx.env)
        memo: dict = {}
        failed = 0
        for rec in self.records:
            if rec.error:
                ok, detail = False, "raised"
            else:
                ok, detail = self._check(oracle, memo, rec)
            if not ok:
                failed += 1
                print(f"gate: {rec.kind} ({rec.phase}) wrong: {detail}", file=sys.stderr)
        return len(self.records), failed

    def _check(self, oracle, memo: dict, rec: OpRecord):
        inp = rec.inp
        if rec.kind == "zonal":
            return oracle.check(rec.request["query"], rec.request["aoi"], rec.result)
        if rec.kind == "knn":
            return gate.check_knn(rec.request, rec.result)
        if rec.kind == "batch":
            if "batch" not in memo:
                # one oracle pass over every AOI any batch op sent
                aois = {a for r in self.records if r.kind == "batch" for a in r.inp["aois"]}
                memo["batch"] = gate.batch_expected(self.ctx.spark, sorted(aois))
            ids = {a for a, _ in inp["aois"]}
            for q, exp in memo["batch"].items():
                if not exp.empty:
                    exp = exp[exp["aoi_id"].isin(ids)].reset_index(drop=True)
                ok, detail = gate.frames_match(rec.result[q].reset_index(drop=True), exp)
                if not ok:
                    return False, f"{q}: {detail}"
            return True, ""
        key = id(inp)
        if key not in memo:
            memo[key] = (gate.points_expected(inp["points"], inp["aois"]),
                         gate.overview_expected(inp["landing"]))
        pts_exp, ov_exp = memo[key]
        ok, detail = gate.check_ingest(inp["landing"], inp["arrays"], ov_exp,
                                       rec.result["ingest"])
        if not ok:
            return ok, detail
        return gate.check_points(pts_exp, rec.result["points"])

    # -- the run ------------------------------------------------------------

    def execute(self) -> dict:
        """Set up SETUP_REPS times, each on a fresh SparkContext (the first
        also launches the JVM); the cold warm-up and the preparation run
        on the last set-up, then one window is measured there:
        ``setup_s`` = median(session + open) + warm-up + prepare.

        A traced run also warms up, prepares and measures on the set-up
        before the last, with the event log on and spans recorded, then
        sends its probes; the last set-up's untraced window is the
        baseline of the tracing overhead (it runs on a warmer JVM, so the
        overhead is not understated)."""
        traced = micro = None
        for rep in range(SETUP_REPS - 1):
            if not (self.trace and rep == SETUP_REPS - 2):
                self.setup(event_log=False, full=False)
                continue
            self.tracer = Tracer(True)
            self.setup(event_log=True, full=True)
            self.tracer.phase = "workload"
            traced = self.e2e(self.window("workload"), 0.0)
            self.tracer.phase = "probe"
            self._probes()
            micro = layers.microbenchmarks(self)
            self.spans, self.tracer = self.tracer, Tracer(False)
        self.setup(event_log=False, full=True)
        final = self.setup_phases[-1]
        setup_s = (statistics.median(p["session_s"] + p["open_s"] for p in self.setup_phases)
                   + final["prepare_s"] + final["warmup_s"])
        recs = self.window("baseline" if self.trace else "workload")
        metrics = self.e2e(recs, setup_s)
        summary = {"latency": self.latency_summary(recs)}
        t_gate = time.perf_counter()
        attempted, failed = self.gate()
        gate_s = time.perf_counter() - t_gate
        self.session.close()
        if self.trace:
            metrics = layers.per_layer_metrics(self, traced, metrics, micro)
            self.spans.write(os.path.join(self.run_dir, "spans.jsonl"))
        summary.update({
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.trace), "settings": self.settings,
            "setup_s": setup_s, "setup_phases": self.setup_phases,
            "ops": len(recs), "op_seconds": [[r.kind, r.phase, r.seconds] for r in self.records],
            "gate_s": gate_s, "error_rate": failed / attempted if attempted else 1.0,
            "corpus_build_s": self.corpus_info.get("build_s"),
            "corpus_built_this_run": self.corpus_info.get("built_now"),
        })
        return {"attempted": attempted, "failed": failed, "metrics": metrics, "summary": summary}

    def _probes(self) -> None:
        """Traced runs only: one small operation of every kind the workload
        does not send, so every per-layer metric is measured on every
        workload (metrics prefer the workload's own operations)."""
        for kind in ALL_KINDS:
            if kind in self.kinds:
                continue
            inp = make_inputs(kind, inputs.rng_for(f"probe-{kind}", self.seed), small=True)
            if kind == "update":
                self._land(inp, "probe_")
            self._run_op(kind, "probe", self._request(inp, kind), inp, self._prepare(kind, inp))

    def cleanup(self) -> None:
        """Close Spark and drop the run's data; a traced run keeps its
        event log and spans under the run directory."""
        self.session.close()
        if not self.trace:
            shutil.rmtree(self.run_dir, ignore_errors=True)
            return
        for name in os.listdir(self.run_dir):
            if name not in ("eventlog", "spans.jsonl"):
                shutil.rmtree(os.path.join(self.run_dir, name), ignore_errors=True)


def run_one(workload: str, seed: int, seconds: float, trace: bool, settings: dict,
            small: bool = False) -> dict:
    run = Run(workload, seed, seconds, trace, settings, small=small)
    try:
        return run.execute()
    finally:
        run.cleanup()


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    settings = common.machine_settings()
    common.fit_environment(settings)
    if args.smoke:
        # every workload untraced, then one traced run (its probes send
        # one small operation of every kind the workload does not)
        plan = [(w, False) for w in WORKLOADS] + [("interactive", True)]
        bad = 0
        for w, trace in plan:
            res = run_one(w, args.seed, min(args.seconds, 2.0), trace, settings, small=True)
            print(json.dumps({"workload": w, "trace": int(trace), "attempted": res["attempted"],
                              "failed": res["failed"], "metrics": res["metrics"]}), flush=True)
            bad += res["failed"] > 0
        return 1 if bad else 0
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace), settings)
    print("summary " + json.dumps(res["summary"], default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
