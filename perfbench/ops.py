"""The operations the workloads send, through the engine's public
functions only. Each returns its result, consumed (collected to pandas
or written); the caller times it. Spans (no-ops with tracing off) mark
the calls into each layer."""

from __future__ import annotations

import os

import corpus
import inputs

AOI_SCHEMA = "aoi_id string, geom_wkb binary"


class Context:
    """What the operations share within one SparkContext."""

    def __init__(self, spark, images, env, tracer):
        self.spark = spark
        self.images = images
        self.env = env
        self.tracer = tracer
        self.grid = corpus.GRID_NAME


def zonal_request(ctx: Context, req: dict):
    from gfw_raster_analysis_lambda_spark.api import zonal_statistics

    tr = ctx.tracer
    aoi_df = ctx.spark.createDataFrame([req["aoi"]], AOI_SCHEMA)
    with tr.span("planner.plan"):
        df = zonal_statistics(
            ctx.spark, ctx.images, aoi_df, inputs.QUERIES[req["query"]], ctx.env, ctx.grid
        )
    with tr.span("planner.execute"):
        return df.toPandas()


def knn_request(ctx: Context, req: dict):
    from gfw_raster_analysis_lambda_spark.operators import knn

    tr = ctx.tracer
    q = ctx.spark.createDataFrame(
        [("q0", req["lon"], req["lat"])], "query_id string, lon double, lat double"
    )
    with tr.span("knn.search"):
        df = knn.knn_geo(ctx.images, q, k=req["k"], grid_name=ctx.grid)
    with tr.span("knn.collect"):
        return df.toPandas()


def prepare_batch(ctx: Context, aois: list):
    """Batch set-up: the AOI frame and its reusable AOI->cell index."""
    from gfw_raster_analysis_lambda_spark.plans.planner import prepare_aoi_index

    aoi_df = ctx.spark.createDataFrame(aois, AOI_SCHEMA)
    with ctx.tracer.span("planner.prepare_aoi_index") as s:
        idx = prepare_aoi_index(ctx.spark, aoi_df, ctx.grid)
        if idx is not None:
            s.set(aoi_cells=sum(len(v[1]) for v in idx.lookup.value.values()),
                  salted_cells=len(idx.salted))
    if idx is None:
        raise RuntimeError("AOI batch exceeds the broadcast bound; resize the batch")
    return aoi_df, idx


def batch_tile_tasks(idx) -> int:
    """(aoi, cell, query) tile-tasks of one batch op: index cells that
    hold corpus tiles, times their AOIs, times the query set. Counted
    outside the timed section."""
    from gfw_raster_analysis_lambda_spark.functions import grid as G

    x0, y0, nx, ny = corpus.extent()
    n = 0
    for cell, (_, aois) in idx.lookup.value.items():
        x, y = (int(v) for v in G.cell_to_xy(cell))
        if x0 <= x < x0 + nx and y0 <= y < y0 + ny:
            n += len(aois)
    return n * len(inputs.QUERIES)


def batch_op(ctx: Context, aoi_df, idx):
    from gfw_raster_analysis_lambda_spark.api import zonal_statistics_multi

    tr = ctx.tracer
    with tr.span("planner.plan"):
        res = zonal_statistics_multi(
            ctx.spark, ctx.images, aoi_df, dict(inputs.QUERIES), ctx.env, ctx.grid,
            aoi_index=idx,
        )
    got: dict = {}
    frames = {id(df): name for name, df in res.items()}
    try:
        with tr.span("planner.execute"):
            res.materialize(writer=lambda df: got.__setitem__(frames[id(df)], df.toPandas()))
    finally:
        res.close()
    return got


def points_op(ctx: Context, points_df, aoi_df):
    from gfw_raster_analysis_lambda_spark.operators import spatial_join

    tr = ctx.tracer
    with tr.span("spatial_join.plan"):
        joined = spatial_join.point_in_polygon_join(points_df, aoi_df, ctx.grid)
        counts = joined.groupBy("aoi_id").count()
    with tr.span("spatial_join.execute"):
        return counts.toPandas()


def ingest_op(ctx: Context, landing_path: str, out_dir: str):
    """Write the landing tiles in the cell-sorted layout, then build and
    write one overview level from what was written."""
    from gfw_raster_analysis_lambda_spark.operators import pyramid
    from gfw_raster_analysis_lambda_spark.sources.images import (
        read_images,
        write_images_cell_sorted,
    )

    tr = ctx.tracer
    tiles_path = os.path.join(out_dir, "tiles")
    ov_path = os.path.join(out_dir, "overview")
    landing = ctx.spark.read.parquet(landing_path)
    with tr.span("images.write"):
        write_images_cell_sorted(landing, tiles_path, n_files=4)
    with tr.span("pyramid.build"):
        written = read_images(ctx.spark, tiles_path)
        ov = pyramid.build_overviews(written, inputs.INGEST_GRID, inputs.OVERVIEW_GRID, "mean")
        write_images_cell_sorted(ov, ov_path, n_files=4)
    return {"tiles": tiles_path, "overview": ov_path}


def update_op(ctx: Context, prepared: dict, out_dir: str):
    """One update job: land the new tiles and their overview level,
    then count the new alert points per AOI."""
    return {
        "ingest": ingest_op(ctx, prepared["landing_path"], out_dir),
        "points": points_op(ctx, prepared["points_df"], prepared["aoi_df"]),
    }
