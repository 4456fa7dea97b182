"""The benchmark's image corpus: built once per checkout, keyed by its
parameters, and never timed as set-up.

Shape: grid ``4/4096`` (0.25-degree cells, 256x256-px tiles), a 24x24-cell
block at lon [0, 6) x lat [6, 12), four layers -> 2304 tiles, written in
the cell-sorted layout (the zero-shuffle colocated zonal plan reads it).
The corpus does not depend on the workload seed; the seed only drives the
inputs laid over it (AOIs, probe points, alerts, ingest tiles).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from common import WORK_DIR

GRID_NAME = "4/4096"
LAYERS = ("tcl_year", "tcd_threshold", "is_primary", "alert_date_conf")
X0 = 720  # lon 0
Y0 = 312  # lat 12 (top edge)
NX = NY = 24
N_FILES = 8
BUILD_META = "_bench_build.json"


def extent() -> tuple[int, int, int, int]:
    return X0, Y0, NX, NY


def corpus_dir() -> str:
    tag = f"{GRID_NAME.replace('/', '_')}_{X0}_{Y0}_{NX}x{NY}_{'-'.join(LAYERS)}_f{N_FILES}"
    return os.path.join(WORK_DIR, "corpus", tag)


def ready(path: str) -> bool:
    return all(
        os.path.exists(os.path.join(path, n)) for n in ("_SUCCESS", "_layout.json", BUILD_META)
    )


def ensure_corpus(spark) -> dict:
    """Build the corpus unless a complete copy exists. Returns
    ``{"path", "build_s", "built_now"}``; ``build_s`` is the time the
    build took when it ran, in this run or an earlier one."""
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.sources import fixtures
    from gfw_raster_analysis_lambda_spark.sources.images import write_images_cell_sorted

    path = corpus_dir()
    built_now = False
    if not ready(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        df = fixtures.generate_images_df(
            spark, G.get_grid(GRID_NAME), list(LAYERS), X0, Y0, NX, NY,
            parallelism=spark.sparkContext.defaultParallelism * 2,
        )
        write_images_cell_sorted(df, tmp, n_files=N_FILES)
        with open(os.path.join(tmp, BUILD_META), "w") as f:
            json.dump({"build_s": time.perf_counter() - t0}, f)
        if os.path.exists(path) and not ready(path):
            shutil.rmtree(path)  # an incomplete copy from another layout version
        try:
            os.replace(tmp, path)
        except OSError:
            if not ready(path):  # another run won the race with a full copy
                raise
            shutil.rmtree(tmp, ignore_errors=True)
        built_now = True
    with open(os.path.join(path, BUILD_META)) as f:
        build_s = json.load(f)["build_s"]
    return {"path": path, "build_s": build_s, "built_now": built_now}
