"""Correctness gate, run outside the timed sections. Every check returns
``(ok, detail)``; a wrong result counts as a failed operation.

- zonal results against ``oracle.run_oracle`` on the corpus extent;
- kNN results against a brute-force numpy ranking of cell centroids;
- point-join counts against ``geometry.contains_points`` over all points;
- ingest by reading the written tiles back: pixels equal for lossless
  formats, PSNR >= 40 dB for lossy ones, captions byte-equal, and the
  overview level equal to a numpy block mean of the stored children.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import corpus
import inputs

LOSSY_FORMATS = ("jpeg", "jpg")
MIN_PSNR_DB = 40.0


def frames_match(got: pd.DataFrame, exp: pd.DataFrame) -> tuple[bool, str]:
    """Same columns and rows; numbers to rel 1e-9 (counts exact)."""
    if got.empty and exp.empty:
        return True, ""
    if list(got.columns) != list(exp.columns):
        return False, f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rows {len(got)} != {len(exp)}"
    if not len(exp):
        return True, ""
    cols = list(got.columns)
    g = got.sort_values(cols, kind="mergesort").reset_index(drop=True)
    e = exp.sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        if np.issubdtype(np.asarray(e[c]).dtype, np.number):
            a, b = g[c].to_numpy(np.float64), e[c].to_numpy(np.float64)
            if not np.allclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True):
                return False, f"column {c} differs"
        elif g[c].astype(str).tolist() != e[c].astype(str).tolist():
            return False, f"column {c} differs"
    return True, ""


class ZonalOracle:
    """Memoised ``oracle.run_oracle`` per (AOI, query) on the corpus
    extent and grid."""

    def __init__(self, env):
        from gfw_raster_analysis_lambda_spark.functions import grid as G
        from gfw_raster_analysis_lambda_spark.plans.sql_frontend import parse_raster_sql

        self.env = env
        self.grid = G.get_grid(corpus.GRID_NAME)
        self.parsed = {k: parse_raster_sql(s, env) for k, s in inputs.QUERIES.items()}
        self._memo: dict = {}

    def expected(self, query: str, aoi) -> pd.DataFrame:
        from gfw_raster_analysis_lambda_spark import oracle

        key = (query, aoi[0], aoi[1])
        if key not in self._memo:
            self._memo[key] = oracle.run_oracle(
                self.parsed[query], self.env, [aoi], grid=self.grid,
                data_extent=corpus.extent(),
            )
        return self._memo[key]

    def check(self, query: str, aoi, got: pd.DataFrame) -> tuple[bool, str]:
        return frames_match(got.reset_index(drop=True), self.expected(query, aoi))


def batch_expected(spark, aois: list) -> dict:
    """{query: ``oracle.run_oracle`` over every AOI of a batch}. A batch
    holds hundreds of AOIs, so the oracle calls are spread over Spark's
    Python workers, one task per core, each on an interleaved AOI chunk
    and every query. The task function is a closure: it ships by value
    and needs only the engine package on the workers."""
    grid_name, extent, queries = corpus.GRID_NAME, corpus.extent(), dict(inputs.QUERIES)

    def expected(chunk):
        from gfw_raster_analysis_lambda_spark import oracle
        from gfw_raster_analysis_lambda_spark.functions import grid as G
        from gfw_raster_analysis_lambda_spark.plans.sql_frontend import parse_raster_sql
        from gfw_raster_analysis_lambda_spark.sources import fixtures

        env = fixtures.fixture_environment(grid=grid_name)
        grid = G.get_grid(grid_name)
        return [(name, oracle.run_oracle(parse_raster_sql(sql, env), env, chunk, grid=grid,
                                         data_extent=extent))
                for name, sql in queries.items()]

    n = min(len(aois), spark.sparkContext.defaultParallelism)
    chunks = [aois[i::n] for i in range(n)]
    parts: dict = {q: [] for q in queries}
    for name, frame in spark.sparkContext.parallelize(chunks, n).flatMap(expected).collect():
        if not frame.empty:
            parts[name].append(frame)
    return {q: pd.concat(f, ignore_index=True) if f else pd.DataFrame() for q, f in parts.items()}


def knn_expected(lon: float, lat: float, k: int) -> pd.DataFrame:
    """Brute-force ranking of every corpus image by squared-degree
    distance to its cell centroid, ties broken on image_id."""
    from gfw_raster_analysis_lambda_spark.functions import grid as G

    grid = G.get_grid(corpus.GRID_NAME)
    td = grid.tile_deg
    x0, y0, nx, ny = corpus.extent()
    xs, ys = np.meshgrid(np.arange(x0, x0 + nx), np.arange(y0, y0 + ny))
    xs, ys = xs.ravel(), ys.ravel()
    cells = G.cell_from_xy(grid, xs, ys)
    c_lon = -180.0 + xs.astype(np.float64) * td + td / 2.0
    c_lat = 90.0 - ys.astype(np.float64) * td - td / 2.0
    dx, dy = lon - c_lon, lat - c_lat
    d2 = dx * dx + dy * dy
    ids = np.array([f"{layer}/{int(c):016x}" for layer in corpus.LAYERS for c in cells])
    dist = np.tile(d2, len(corpus.LAYERS))
    order = np.lexsort((ids, dist))[:k]
    return pd.DataFrame({"image_id": ids[order], "dist2": dist[order]})


def check_knn(req: dict, got: pd.DataFrame) -> tuple[bool, str]:
    exp = knn_expected(req["lon"], req["lat"], req["k"])
    g = got.sort_values("rank", kind="mergesort")
    if g["image_id"].tolist() != exp["image_id"].tolist():
        return False, f"knn ids {g['image_id'].tolist()} != {exp['image_id'].tolist()}"
    if not np.allclose(g["dist2"].to_numpy(np.float64), exp["dist2"].to_numpy(), rtol=1e-12, atol=0):
        return False, "knn distances differ"
    if g["rank"].tolist() != list(range(1, len(exp) + 1)):
        return False, "knn ranks not 1..k"
    return True, ""


def points_expected(points: pd.DataFrame, aois: list) -> dict:
    """{aoi_id: matched points} by brute force over every point."""
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo

    lon, lat = points["lon"].to_numpy(), points["lat"].to_numpy()
    out = {}
    for aoi_id, wkb in aois:
        n = int(geo.contains_points(geo.wkb_loads(wkb), lon, lat).sum())
        if n:
            out[aoi_id] = n
    return out


def check_points(expected: dict, got: pd.DataFrame) -> tuple[bool, str]:
    counts = {str(a): int(n) for a, n in zip(got["aoi_id"], got["count"])}
    if counts != expected:
        bad = sorted(set(counts.items()) ^ set(expected.items()))[:4]
        return False, f"point counts differ, e.g. {bad}"
    return True, ""


def _read_table(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def _same_pixels(fmt: str, got: np.ndarray, exp: np.ndarray) -> bool:
    from gfw_raster_analysis_lambda_spark.functions import codecs

    if got.shape != exp.shape:
        return False
    if fmt in LOSSY_FORMATS:
        return codecs.psnr(got, exp) >= MIN_PSNR_DB
    return np.array_equal(got, exp, equal_nan=got.dtype.kind == "f")


def overview_expected(landing: pd.DataFrame) -> dict:
    """{(layer, parent_cell): (pixels, fmt)} — the floor block mean of
    each parent's stored children (missing children zero-filled),
    computed in numpy from the landing payloads."""
    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import grid as G

    src, dst = G.get_grid(inputs.INGEST_GRID), G.get_grid(inputs.OVERVIEW_GRID)
    k = int(round(dst.tile_deg / src.tile_deg))
    chunk = src.chunk_px
    f = k * chunk // dst.chunk_px
    canvases: dict = {}
    for r in landing.itertuples(index=False):
        layer, hexid = r.image_id.split("/")
        cx, cy = (int(v) for v in G.cell_to_xy(int(hexid, 16)))
        px, py = cx // k, cy // k
        arr = codecs.decode_tile(bytes(r.bytes), int(r.w), int(r.h), r.fmt)
        key = (layer, int(G.cell_from_xy(dst, px, py)))
        if key not in canvases:
            canvases[key] = (np.zeros((k * chunk, k * chunk), dtype=arr.dtype), r.fmt)
        canvas = canvases[key][0]
        row0, col0 = (cy - py * k) * chunk, (cx - px * k) * chunk
        canvas[row0:row0 + chunk, col0:col0 + chunk] = arr
    out = {}
    for key, (canvas, fmt) in canvases.items():
        blocks = canvas.reshape(dst.chunk_px, f, dst.chunk_px, f).astype(np.float64)
        mean = np.floor(blocks.mean(axis=(1, 3))).astype(canvas.dtype)
        # the level is stored in its layer's format: compare against the
        # block mean as that (deterministic) codec returns it
        enc = codecs.encode_tile(np.ascontiguousarray(mean), fmt)
        out[key] = (codecs.decode_tile(enc, dst.chunk_px, dst.chunk_px, fmt), fmt)
    return out


def check_ingest(landing: pd.DataFrame, arrays: dict, ov_expected: dict,
                 written: dict) -> tuple[bool, str]:
    from gfw_raster_analysis_lambda_spark.functions import codecs

    tiles = _read_table(written["tiles"])
    if sorted(tiles["image_id"]) != sorted(landing["image_id"]):
        return False, f"written tile ids differ ({len(tiles)} vs {len(landing)})"
    src = landing.set_index("image_id")
    for r in tiles.itertuples(index=False):
        if r.caption.encode() != src.at[r.image_id, "caption"].encode():
            return False, f"caption differs for {r.image_id}"
        arr = codecs.decode_tile(bytes(r.bytes), int(r.w), int(r.h), r.fmt)
        if not _same_pixels(r.fmt, arr, arrays[r.image_id]):
            return False, f"pixels differ for {r.image_id} ({r.fmt})"
    ov = _read_table(written["overview"])
    if len(ov) != len(ov_expected):
        return False, f"overview tiles {len(ov)} != {len(ov_expected)}"
    for r in ov.itertuples(index=False):
        exp = ov_expected.get((r.layer, int(r.cell_id)))
        if exp is None:
            return False, f"unexpected overview tile {r.image_id}"
        arr = codecs.decode_tile(bytes(r.bytes), int(r.w), int(r.h), r.fmt)
        if r.fmt != exp[1] or not np.array_equal(arr, exp[0]):
            return False, f"overview pixels differ for {r.image_id}"
    return True, ""
