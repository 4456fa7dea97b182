"""Profile the fused three-query cell kernel in-process (no Spark).

The input is built here the way ``perfbench/layers.py:microbenchmarks``
builds its kernel batch, using perfbench's input generators read-only:
the batch workload's AOI batch for ``--seed`` (272 AOIs, 68 of them on
one hotspot cell), its AOI->cell lookup restricted to the benchmark
corpus extent, and each cell's corpus tiles encoded by the fixture
generator. The kernel is ``zonal.make_multi_cell_kernel`` over
perfbench's query set, called once per cell as the planner's cell plans
call it. Prints ms per cell, split between the cell body (decode, masks,
aggregation: ``zonal._cell_body``) and the output assembly (the Arrow
record batch), ms per AOI-cell, the slowest cell, the least-squares fit
of ms per cell against AOIs per cell (the planner's salting rule costs a
cell 1 + its AOIs full-tile passes), the rule's decision for the
hottest cell (its cost against ``planner.SALT_TARGET`` and its number
of slices), then the cProfile listing of a second pass.

Usage: python tools/profile_kernel.py [--seed N] [--cells N] [--top N]
"""

from __future__ import annotations

import argparse
import cProfile
import io
import os
import pstats
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import corpus  # noqa: E402
import inputs  # noqa: E402
from gfw_raster_analysis_lambda_spark.functions import geometry as geo  # noqa: E402
from gfw_raster_analysis_lambda_spark.functions import grid as G  # noqa: E402
from gfw_raster_analysis_lambda_spark.operators import zonal  # noqa: E402
from gfw_raster_analysis_lambda_spark.plans import planner  # noqa: E402
from gfw_raster_analysis_lambda_spark.plans.sql_frontend import parse_raster_sql  # noqa: E402
from gfw_raster_analysis_lambda_spark.sources import fixtures  # noqa: E402


class _Lookup:
    """Stands in for the broadcast AOI lookup (the kernel reads ``.value``)."""

    def __init__(self, value):
        self.value = value


def kernel_input(seed: int, max_cells: int | None):
    """(kernel, body, [(cell_id, n_aois, tile frame)]) for the batch
    workload's AOI batch of ``seed``, hottest cells first. ``body(frame)``
    runs only the kernel's cell body on the frame's cell."""
    env = fixtures.fixture_environment(grid=corpus.GRID_NAME)
    grid = G.get_grid(corpus.GRID_NAME)
    lo, hi = inputs.BATCH_SIDES
    aois, _, _ = inputs.make_aois(
        inputs.rng_for("batch-batch", seed), inputs.BATCH_AOIS, "batch", hi, min_side_cells=lo
    )
    x0, y0, nx, ny = corpus.extent()
    by_cell: dict = {}
    for aoi_id, wkb in aois:
        for c in G.polygon_to_cells(grid, geo.wkb_loads(wkb)).tolist():
            cx, cy = (int(v) for v in G.cell_to_xy(c))
            if x0 <= cx < x0 + nx and y0 <= cy < y0 + ny:
                by_cell.setdefault(c, []).append((aoi_id, wkb))
    cells = sorted(by_cell, key=lambda c: (-len(by_cell[c]), c))[:max_cells]
    lookup = _Lookup({c: (1, sorted(by_cell[c])) for c in cells})
    queries = [parse_raster_sql(s, env) for s in inputs.QUERIES.values()]
    kernel = zonal.make_multi_cell_kernel(queries, env.to_json(), corpus.GRID_NAME, lookup)
    cell_body = zonal._cell_body(queries, env.to_json(), corpus.GRID_NAME)

    def body(pdf):
        cols = zonal._columns(pdf)
        return cell_body(cols, zonal._cell_aois(lookup, cols))

    px = grid.chunk_px
    frames = []
    for c in cells:
        cx, cy = (int(v) for v in G.cell_to_xy(c))
        rows = []
        for layer in corpus.LAYERS:
            r = fixtures.encode_image_row(env, layer, cx, cy, px, grid=grid)
            rows.append((layer, c, r[1], r[2], r[3], r[4], c))
        frames.append((c, len(by_cell[c]), pd.DataFrame(
            rows, columns=["layer", "cell_id", "bytes", "w", "h", "fmt", "src_cell_id"]
        )))
    return kernel, body, frames


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cells", type=int, default=None, help="hottest N cells only")
    ap.add_argument("--top", type=int, default=30, help="profile rows to print")
    args = ap.parse_args()

    kernel, body, frames = kernel_input(args.seed, args.cells)
    n_pairs = sum(n for _, n, _ in frames)
    kernel(frames[0][2])  # first call pays the imports and lookup tables
    times = []
    for c, n, pdf in frames:
        t0 = time.perf_counter()
        kernel(pdf)
        times.append((1e3 * (time.perf_counter() - t0), c, n))
    total = sum(t for t, _, _ in times)
    # the split, from a second pass with every cache warm: the cell body
    # alone, then the whole kernel, cell by cell
    body_s = kernel_s = 0.0
    for _, _, pdf in frames:
        t0 = time.perf_counter()
        body(pdf)
        t1 = time.perf_counter()
        kernel(pdf)
        body_s += t1 - t0
        kernel_s += time.perf_counter() - t1
    slow_ms, slow_cell, slow_n = max(times)
    n_cells = len(frames)
    print(f"seed {args.seed}: {n_cells} cells, {n_pairs} AOI-cells, {total:.0f} ms")
    print(f"  {total / n_cells:.1f} ms/cell, {total / n_pairs:.1f} ms/AOI-cell")
    print(
        f"  warm pass: {1e3 * kernel_s / n_cells:.1f} ms/cell = {1e3 * body_s / n_cells:.1f} cell body"
        f" + {1e3 * (kernel_s - body_s) / n_cells:.1f} output assembly"
    )
    print(f"  slowest cell {slow_cell}: {slow_ms:.0f} ms for {slow_n} AOIs")
    ms = np.array([t for t, _, _ in times])
    n_aois = np.array([n for _, _, n in times], dtype=np.float64)
    per_aoi, per_cell = np.polyfit(n_aois, ms, 1)
    r2 = 1 - ((ms - (per_cell + per_aoi * n_aois)) ** 2).sum() / max(((ms - ms.mean()) ** 2).sum(), 1e-12)
    print(f"  fit: {per_cell:.2f} ms/cell + {per_aoi:.2f} ms/AOI, r^2 {r2:.2f} over {n_cells} cells")
    hot_c, hot_n = max(((c, n) for _, c, n in times), key=lambda t: t[1])
    n_salt = -(-hot_n // planner._aois_per_slice())
    print(
        f"  salting rule, target {planner.SALT_TARGET} passes:"
        f" hottest cell {hot_c}: cost {1 + hot_n}, n_salt {n_salt}"
    )

    pr = cProfile.Profile()
    pr.enable()
    for _, _, pdf in frames:
        kernel(pdf)
    pr.disable()
    s = io.StringIO()
    pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(args.top)
    print(s.getvalue())


if __name__ == "__main__":
    main()
