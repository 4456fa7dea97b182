"""Per-layer metrics of a traced run.

Three sources, all outside the engine's code:

- spans the benchmark records around its calls into each layer
  (tracing.py), grouped by operation;
- the Spark event log of the traced SparkContext, whose jobs carry the
  operation id as their job group (jobs started from engine-side thread
  pools carry none and are attributed by time, operations being
  sequential), parsed after the context stops;
- direct calls into single layers on fixed inputs (``microbenchmarks``):
  the SQL parser, polygon->cells, the tile codecs and the fused zonal
  kernel on a fixed batch of cells.

A metric is computed over the workload's own operations of the kinds that
call its layer; a workload that sends none of them gets the metric from
the probe operation every traced run sends of each missing kind.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd

import corpus
import inputs

# name -> unit; BENCHMARK.json lists the same names
PER_LAYER = {
    "sql_frontend.parse_ms": "ms",
    "planner.plan_ms": "ms",
    "planner.execute_ms": "ms",
    "planner.jobs_per_request": "count",
    "planner.stages_per_request": "count",
    "planner.prepare_aoi_index_ms": "ms",
    "planner.aoi_cells": "count",
    "planner.salted_cells": "count",
    "grid.polygon_to_cells_us": "us",
    "codecs.decode_ms_per_tile": "ms",
    "codecs.encode_ms_per_tile": "ms",
    "codecs.bytes_per_tile": "bytes",
    "zonal.kernel_ms_per_cell": "ms",
    "zonal.kernel_busy_s": "s",
    "zonal.kernel_cpu_s": "s",
    "zonal.straggler_ratio": "ratio",
    "images.scan_bytes": "bytes",
    "images.scan_rows": "count",
    "images.write_s": "s",
    "images.files_written": "count",
    "images.bytes_written_per_tile": "bytes",
    "spatial_join.candidate_pairs": "count",
    "spatial_join.matched_pairs": "count",
    "spatial_join.refine_hit_ratio": "ratio",
    "spatial_join.refine_busy_s": "s",
    "knn.rings_per_request": "count",
    "knn.jobs_per_request": "count",
    "knn.candidates_per_query": "count",
    "pyramid.overview_tiles": "count",
    "pyramid.build_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "spark.task_failures": "count",
    "spark.driver_peak_rss_mb": "MB",
    "spark.python_worker_peak_rss_mb": "MB",
    "trace.overhead_work_per_s": "1/s",
    "trace.overhead_pct": "%",
}

KERNEL_NODES = ("MapInPandas", "FlatMapGroupsInPandas")
JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
MICRO_PASSES = 3


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

class EventLog:
    """The parts of a Spark event log the metrics need."""

    def __init__(self, directory: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list] = defaultdict(list)  # stage -> task dicts
        self.exec_nodes: dict[int, dict] = defaultdict(dict)  # exec -> key -> node
        self.exec_group: dict[int, str] = {}
        self.acc_stages: dict[int, set] = defaultdict(set)
        self.acc_total: dict[int, float] = defaultdict(float)
        self.peaks: dict[str, float] = defaultdict(float)
        self.task_failures = 0
        self.gc_range = (float("inf"), 0.0)
        for path in sorted(glob.glob(os.path.join(directory, "**", "events_*"), recursive=True)):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id") or None,
                "exec": int(exec_id) if exec_id is not None else None,
                "stages": list(e.get("Stage IDs", [])),
                "submit": e.get("Submission Time", 0) / 1000.0,
            }
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            ex = int(e["executionId"])
            if e.get("jobGroupId"):
                self.exec_group[ex] = e["jobGroupId"]
            self._walk(ex, e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, val in e.get("accumUpdates", []):
                self.acc_total[int(acc)] += _num(val)
        elif kind == "SparkListenerStageExecutorMetrics":
            self._peak(e.get("Executor Metrics") or {})

    def _walk(self, ex: int, node: dict) -> None:
        accs = {m["accumulatorId"]: m["name"] for m in node.get("metrics", [])}
        key = (node["nodeName"], node.get("simpleString", ""), tuple(sorted(accs)))
        self.exec_nodes[ex][key] = {"name": node["nodeName"],
                                    "desc": node.get("simpleString", ""), "accs": accs}
        for child in node.get("children", []):
            self._walk(ex, child)

    def _task(self, e: dict) -> None:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        stage = e["Stage ID"]
        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
            self.task_failures += 1
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        inp = m.get("Input Metrics") or {}
        self.tasks[stage].append({
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "sr_bytes": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
            "sw_bytes": sw.get("Shuffle Bytes Written", 0),
            "in_bytes": inp.get("Bytes Read", 0),
            "in_rows": inp.get("Records Read", 0),
        })
        for acc in info.get("Accumulables", []):
            if str(acc.get("Name", "")).startswith("internal."):
                continue
            self.acc_stages[acc["ID"]].add(stage)
            self.acc_total[acc["ID"]] += _num(acc.get("Update", 0))
        self._peak(e.get("Task Executor Metrics") or {})

    def _peak(self, metrics: dict) -> None:
        for k in ("ProcessTreeJVMRSSMemory", "ProcessTreePythonRSSMemory"):
            self.peaks[k] = max(self.peaks[k], float(metrics.get(k, 0) or 0))
        gc = float(metrics.get("TotalGCTime", 0) or 0)
        if gc:  # cumulative JVM GC time; zero means "not sampled"
            self.gc_range = (min(self.gc_range[0], gc), max(self.gc_range[1], gc))

    # -- attribution --------------------------------------------------------

    def op_jobs(self, op) -> list[int]:
        """Jobs tagged with the op id, plus untagged jobs submitted while
        the op ran (operations are sequential)."""
        out = []
        for jid, j in self.jobs.items():
            if j["group"] == op.op or (j["group"] is None and op.start <= j["submit"] <= op.end):
                out.append(jid)
        return out

    def op_stages(self, op) -> set:
        return {s for j in self.op_jobs(op) for s in self.jobs[j]["stages"] if self.tasks.get(s)}

    def op_execs(self, op) -> set:
        ex = {self.jobs[j]["exec"] for j in self.op_jobs(op) if self.jobs[j]["exec"] is not None}
        ex |= {e for e, g in self.exec_group.items() if g == op.op}
        return ex

    def nodes(self, execs, pred) -> list[dict]:
        return [n for e in execs for n in self.exec_nodes.get(e, {}).values() if pred(n)]

    def node_stages(self, nodes, stages: set) -> set:
        out = set()
        for n in nodes:
            for acc in n["accs"]:
                out |= self.acc_stages.get(acc, set()) & stages
        return out

    def node_metric(self, nodes, metric: str) -> float:
        accs = {a for n in nodes for a, name in n["accs"].items() if name == metric}
        return sum(self.acc_total.get(a, 0.0) for a in accs)

    def stage_tasks(self, stages) -> list[dict]:
        return [t for s in stages for t in self.tasks.get(s, [])]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _mean(vals) -> float:
    vals = list(vals)
    return sum(vals) / len(vals) if vals else 0.0


# ---------------------------------------------------------------------------
# direct layer calls
# ---------------------------------------------------------------------------

class _Lookup:
    """Stands in for the broadcast AOI lookup (the kernel reads ``.value``)."""

    def __init__(self, value):
        self.value = value


def _timed_passes(fn, items) -> float:
    """Median over MICRO_PASSES of the mean seconds per item."""
    per = []
    for _ in range(MICRO_PASSES):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        per.append((time.perf_counter() - t0) / max(1, len(items)))
    return statistics.median(per)


def microbenchmarks(run) -> dict:
    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import zonal
    from gfw_raster_analysis_lambda_spark.plans.sql_frontend import parse_raster_sql
    from gfw_raster_analysis_lambda_spark.sources import fixtures

    env = run.ctx.env
    grid = G.get_grid(corpus.GRID_NAME)
    out = {}
    sqls = list(inputs.QUERIES.values()) * 20
    out["sql_frontend.parse_ms"] = 1e3 * _timed_passes(lambda s: parse_raster_sql(s, env), sqls)

    geoms = [geo.wkb_loads(w) for _, w in run.inp[run.kinds[0]]["aois"]]
    out["grid.polygon_to_cells_us"] = 1e6 * _timed_passes(
        lambda g: G.polygon_to_cells(grid, g), geoms
    )

    # fixed tile sample: a 4x3 block of corpus cells in every corpus layer
    # plus the lossy photo layer
    x0, y0, _, _ = corpus.extent()
    arrays = []
    for layer in (*corpus.LAYERS, "photo"):
        dtype = {"uint16": np.uint16, "float32": np.float32}.get(env.get_layer(layer).dtype, np.uint8)
        fmt = env.get_layer(layer).fmt
        for x in range(x0 + 4, x0 + 8):
            for y in range(y0 + 4, y0 + 7):
                arrays.append((fixtures.tile_array(layer, x, y, grid.chunk_px).astype(dtype), fmt))
    payloads = [(codecs.encode_tile(a, f), f) for a, f in arrays]
    px = grid.chunk_px
    out["codecs.encode_ms_per_tile"] = 1e3 * _timed_passes(lambda af: codecs.encode_tile(*af), arrays)
    out["codecs.decode_ms_per_tile"] = 1e3 * _timed_passes(
        lambda pf: codecs.decode_tile(pf[0], px, px, pf[1]), payloads
    )
    out["codecs.bytes_per_tile"] = _mean(len(p) for p, _ in payloads)

    # fixed kernel batch: the 12 busiest corpus cells of a fixed AOI set
    aois, _, _ = inputs.make_aois(inputs.rng_for("kernel-batch", 0), 16, "kb")
    by_cell: dict = defaultdict(list)
    xs = range(x0, x0 + corpus.NX)
    for aoi_id, wkb in aois:
        for c in G.polygon_to_cells(grid, geo.wkb_loads(wkb)).tolist():
            cx, cy = (int(v) for v in G.cell_to_xy(c))
            if cx in xs and y0 <= cy < y0 + corpus.NY:
                by_cell[c].append((aoi_id, wkb))
    cells = sorted(by_cell, key=lambda c: (-len(by_cell[c]), c))[:12]
    lookup = _Lookup({c: (1, sorted(by_cell[c])) for c in cells})
    queries = [parse_raster_sql(s, env) for s in inputs.QUERIES.values()]
    kernel = zonal.make_multi_cell_kernel(queries, env.to_json(), corpus.GRID_NAME, lookup)
    frames = []
    for c in cells:
        cx, cy = (int(v) for v in G.cell_to_xy(c))
        rows = []
        for layer in corpus.LAYERS:
            r = fixtures.encode_image_row(env, layer, cx, cy, px, grid=grid)
            rows.append((layer, c, r[1], r[2], r[3], r[4], c))
        frames.append(pd.DataFrame(rows, columns=["layer", "cell_id", "bytes", "w", "h", "fmt",
                                                  "src_cell_id"]))
    out["zonal.kernel_ms_per_cell"] = 1e3 * _timed_passes(kernel, frames)
    return out


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _pick(tracer, kinds: tuple, probe_kinds: tuple) -> list:
    ops = [s for k in kinds for s in tracer.ops(k, "workload")]
    if not ops:
        ops = [s for k in probe_kinds for s in tracer.ops(k, "probe")]
    return ops


def _child_ms(tracer, ops, name: str) -> float:
    return 1e3 * _mean(s.dur for op in ops for s in tracer.children(op, name))


def per_layer_metrics(run, e2e: dict, baseline: dict, micro: dict) -> dict:
    """``e2e`` is the traced window's end-to-end result, ``baseline`` the
    untraced one's."""
    tr = run.spans
    log = EventLog(run.event_log_dir)
    m: dict[str, float] = dict(micro)

    # planner: per zonal request (or per batch op on the batch workload)
    plan_ops = _pick(tr, ("zonal", "batch"), ("zonal",))
    m["planner.plan_ms"] = _child_ms(tr, plan_ops, "planner.plan")
    m["planner.execute_ms"] = _child_ms(tr, plan_ops, "planner.execute")
    m["planner.jobs_per_request"] = _mean(len(log.op_jobs(op)) for op in plan_ops)
    m["planner.stages_per_request"] = _mean(len(log.op_stages(op)) for op in plan_ops)
    prep = tr.find("planner.prepare_aoi_index")
    m["planner.prepare_aoi_index_ms"] = 1e3 * _mean(s.dur for s in prep)
    m["planner.aoi_cells"] = _mean(s.attrs.get("aoi_cells", 0) for s in prep)
    m["planner.salted_cells"] = _mean(s.attrs.get("salted_cells", 0) for s in prep)

    # zonal kernel stage and images scan: zonal requests / batch ops
    busy, cpu, strag, scan_b, scan_r = [], [], [], [], []
    for op in _pick(tr, ("zonal", "batch"), ("batch",)):
        stages = log.op_stages(op)
        kstages = log.node_stages(
            log.nodes(log.op_execs(op), lambda n: n["name"] in KERNEL_NODES), stages
        )
        tasks = log.stage_tasks(kstages)
        busy.append(sum(t["run_ms"] for t in tasks) / 1e3)
        cpu.append(sum(t["cpu_ns"] for t in tasks) / 1e9)
        if kstages:
            big = max(kstages, key=lambda s: sum(t["run_ms"] for t in log.tasks[s]))
            durs = [t["dur_ms"] for t in log.tasks[big]]
            strag.append(max(durs) / max(1.0, statistics.median(durs)))
        all_tasks = log.stage_tasks(stages)
        scan_b.append(sum(t["in_bytes"] for t in all_tasks))
        scan_r.append(sum(t["in_rows"] for t in all_tasks))
    m["zonal.kernel_busy_s"] = _mean(busy)
    m["zonal.kernel_cpu_s"] = _mean(cpu)
    m["zonal.straggler_ratio"] = _mean(strag)
    m["images.scan_bytes"] = _mean(scan_b)
    m["images.scan_rows"] = _mean(scan_r)

    # update cycles: images write, pyramid, spatial join
    upd = _pick(tr, ("update",), ("update",))
    m["images.write_s"] = _mean(s.dur for op in upd for s in tr.children(op, "images.write"))
    m["pyramid.build_s"] = _mean(s.dur for op in upd for s in tr.children(op, "pyramid.build"))
    phase = "workload" if any(op.attrs.get("phase") == "workload" for op in upd) else "probe"
    upd_recs = [r for r in run.records
                if r.kind == "update" and r.phase == phase and r.result is not None]
    files, per_tile, n_ov, match = [], [], [], []
    for r in upd_recs:
        tiles_dir = r.result["ingest"]["tiles"]
        parts = [f for f in os.listdir(tiles_dir) if f.startswith("part-")]
        files.append(len(parts))
        size = sum(os.path.getsize(os.path.join(tiles_dir, f)) for f in parts)
        per_tile.append(size / max(1, len(r.inp["landing"])))
        n_ov.append(len({(x // 2, y // 2) for x, y in r.inp["cells"]}) * len(inputs.INGEST_LAYERS))
        match.append(float(r.result["points"]["count"].sum()))
    m["images.files_written"] = _mean(files)
    m["images.bytes_written_per_tile"] = _mean(per_tile)
    m["pyramid.overview_tiles"] = _mean(n_ov)
    cand, refine = [], []
    for op in upd:
        nodes = log.nodes(log.op_execs(op),
                          lambda n: n["name"] == "ArrowEvalPython" and "contains(" in n["desc"])
        cand.append(log.node_metric(nodes, "number of output rows"))
        tasks = log.stage_tasks(log.node_stages(nodes, log.op_stages(op)))
        refine.append(sum(t["run_ms"] for t in tasks) / 1e3)
    m["spatial_join.candidate_pairs"] = _mean(cand)
    m["spatial_join.matched_pairs"] = _mean(match)
    m["spatial_join.refine_hit_ratio"] = (
        m["spatial_join.matched_pairs"] / m["spatial_join.candidate_pairs"]
        if m["spatial_join.candidate_pairs"] else 0.0
    )
    m["spatial_join.refine_busy_s"] = _mean(refine)

    # kNN lookups
    rings, kjobs, kcand = [], [], []
    for op in _pick(tr, ("knn",), ("knn",)):
        execs = log.op_execs(op)
        ring_execs = [
            e for e in execs
            if log.nodes([e], lambda n: n["name"] == "ArrowEvalPython" and "ring_cells(" in n["desc"])
        ]
        rings.append(len(ring_execs))
        kjobs.append(len(log.op_jobs(op)))
        joins = log.nodes(ring_execs, lambda n: n["name"] in JOIN_NODES and "Inner" in n["desc"])
        kcand.append(log.node_metric(joins, "number of output rows"))
    m["knn.rings_per_request"] = _mean(rings)
    m["knn.jobs_per_request"] = _mean(kjobs)
    m["knn.candidates_per_query"] = _mean(kcand)

    # Spark engine, per workload operation
    wops = [s for s in tr.find("op") if s.attrs.get("phase") == "workload"]
    per_op = [log.stage_tasks(log.op_stages(op)) for op in wops]
    m["spark.shuffle_write_bytes"] = _mean(sum(t["sw_bytes"] for t in ts) for ts in per_op)
    m["spark.shuffle_read_bytes"] = _mean(sum(t["sr_bytes"] for t in ts) for ts in per_op)
    m["spark.spill_bytes"] = _mean(sum(t["spill"] for t in ts) for ts in per_op)
    # JVM GC time while the traced context ran: growth of the JVM's
    # cumulative GC time across the tasks' metric samples (per-task GC
    # time reads 0 whenever no collection hits a task)
    lo, hi = log.gc_range
    m["spark.gc_ms"] = hi - lo if hi >= lo else 0.0
    m["spark.task_failures"] = float(log.task_failures)
    m["spark.driver_peak_rss_mb"] = log.peaks["ProcessTreeJVMRSSMemory"] / 2**20
    m["spark.python_worker_peak_rss_mb"] = log.peaks["ProcessTreePythonRSSMemory"] / 2**20

    traced, untraced = e2e["work_per_s"]["value"], baseline["work_per_s"]["value"]
    m["trace.overhead_work_per_s"] = traced - untraced
    m["trace.overhead_pct"] = 100.0 * (untraced - traced) / untraced
    return {name: {"value": float(m[name]), "unit": unit} for name, unit in PER_LAYER.items()}
