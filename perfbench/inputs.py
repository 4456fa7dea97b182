"""Seeded workload inputs. Everything the engine receives is generated
here from ``--seed`` (numpy only, no Spark): AOI shapes and placement
including the hotspot share, the request order and query mix, kNN probe
points, alert points and the ingest tile set. The same seed always gives
the same inputs."""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

import corpus

# the Raster-SQL mix, both the batch query set and the interactive zonal
# requests: tcl loss filtered on tcd/primary, the alert isoweek count, and
# a plain area sum
QUERIES = {
    "loss": (
        "SELECT tcl_year, SUM(area__ha) AS loss_ha, COUNT(*) AS n FROM tcl_year "
        "WHERE tcd_threshold >= 25 AND is_primary = 'true' GROUP BY tcl_year"
    ),
    "isoweek": "SELECT isoweek(alert_date), COUNT(*) AS n FROM alert_date_conf GROUP BY 1",
    "area": "SELECT SUM(area__ha) AS ha, COUNT(*) AS n FROM data",
}

KNN_K = 4
# interactive mix: per block of four requests, one of each zonal query
# and one kNN tile lookup, in seeded order
INTERACTIVE_BLOCK = ("loss", "isoweek", "area", "knn")
# Sizes. The one traffic figure at hand is the sizing probe of bench.py's
# corpus: a batch of 512 AOIs of about 36 cells each, 25% of them
# stacked on one hotspot, and a 2M-point alert join (78 s). Every run
# here gates its results against the pure-numpy oracle (about 40 ms per
# (AOI, cell) over the three queries on one core), so the sizes keep the
# probe's hotspot share and shrink the rest:
# - interactive: a pool of 48 AOIs, 25% on the hotspot, sides 0.6-2.5
#   cells (1-12 cells each), so the kernel does little work per request;
HOT_FRACTION = 0.25
INTERACTIVE_AOIS = 48
INTERACTIVE_MAX_SIDE = 2.5
# - batch: 272 AOIs, 25% (68) on the hotspot: more than the planner's
#   64-AOIs-per-cell salting threshold, so the hotspot cell takes the
#   salted plan as in the probe; sides 0.3-0.9 cells (about 600
#   AOI-cells, 1 per corpus cell against the probe's 11);
BATCH_AOIS = 272
BATCH_SIDES = (0.3, 0.9)
# - update job: 3000 alert points (the probe's 2M shrunk 650x) joined
#   to 12 AOIs, and 12 new cells in each of three layers;
UPDATE_AOIS = 12
N_POINTS = 3_000
# - the small AOI batch of probes and smoke runs: 68 AOIs, all on the
#   hotspot, so it takes the salted plan as well.
SMALL_BATCH_AOIS = 68
# update: tiles land on the corpus grid east of the read corpus (so the
# write side never touches it), and their overview level is built on
# 4/512 (0.5-degree cells, 64 px): each parent gathers 2x2 children
INGEST_GRID = corpus.GRID_NAME
OVERVIEW_GRID = "4/512"
INGEST_LAYERS = ("tcl_year", "alert_date_conf", "photo")
INGEST_CELLS = 12
INGEST_PARENT_AREA = (376, 156, 12, 12)  # parent x0, y0, nx, ny on 4/512
INGEST_CHILD_P = 0.85


def rng_for(stream: str, seed: int) -> np.random.Generator:
    """Independent generator per named input stream and seed."""
    return np.random.default_rng([int(seed), zlib.crc32(stream.encode())])


def _extent_deg():
    from gfw_raster_analysis_lambda_spark.functions import grid as G

    td = G.get_grid(corpus.GRID_NAME).tile_deg
    x0, y0, nx, ny = corpus.extent()
    lon0 = -180.0 + x0 * td
    lat_top = 90.0 - y0 * td
    return lon0, lat_top - ny * td, lon0 + nx * td, lat_top, td


def _shape(rng, kind: str, cx: float, cy: float, w: float, h: float, td: float):
    """Polygon(s) in the engine's geometry model: list of polygons, each
    a list of (N, 2) rings (exterior first)."""
    if kind == "box":
        ring = np.array([[cx - w / 2, cy - h / 2], [cx + w / 2, cy - h / 2],
                         [cx + w / 2, cy + h / 2], [cx - w / 2, cy + h / 2]])
        return [[ring]]
    if kind == "rotated":
        a = rng.uniform(0, np.pi)
        c, s = np.cos(a), np.sin(a)
        half = min(w, h) / 2
        pts = np.array([[-w / 2, -half / 2], [w / 2, -half / 2], [w / 2, half / 2], [-w / 2, half / 2]])
        rot = pts @ np.array([[c, s], [-s, c]])
        return [[rot + [cx, cy]]]
    if kind == "concave":
        x1, y1, x2, y2 = cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2
        fx, fy = rng.uniform(0.35, 0.65), rng.uniform(0.35, 0.65)
        ring = np.array([[x1, y1], [x2, y1], [x2, y1 + fy * h], [x1 + fx * w, y1 + fy * h],
                         [x1 + fx * w, y2], [x1, y2]])
        return [[ring]]
    # box with a hole
    outer = np.array([[cx - w / 2, cy - h / 2], [cx + w / 2, cy - h / 2],
                      [cx + w / 2, cy + h / 2], [cx - w / 2, cy + h / 2]])
    hw, hh = w * rng.uniform(0.2, 0.45), h * rng.uniform(0.2, 0.45)
    hole = np.array([[cx - hw / 2, cy - hh / 2], [cx + hw / 2, cy - hh / 2],
                     [cx + hw / 2, cy + hh / 2], [cx - hw / 2, cy + hh / 2]])
    return [[outer, hole]]


def make_aois(rng, n: int, prefix: str, max_side_cells: float = 5.0,
              hot_fraction: float = HOT_FRACTION, min_side_cells: float = 0.6):
    """Seeded AOI batch: varied shapes (box, rotated, concave, holed)
    inside the corpus extent, with ``hot_fraction`` of them stacked near
    one seeded hotspot. Sizes are stratified: the k-th smallest AOI has a
    side of about min + (max - min) * (k + u) / n cells, u
    seeded in [0, 1), so every seed gets the same spread of sizes.
    Returns ``(aois, hotspot, hot_aois)``, aois as ``[(aoi_id, wkb)]``
    from the smallest to the largest, hot_aois the ones on the hotspot."""
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo

    minx, miny, maxx, maxy, td = _extent_deg()
    # the hotspot is the centre of a seeded cell away from the edges
    margin = int(np.ceil(max_side_cells / 2 + 0.2))
    nx, ny = int(round((maxx - minx) / td)), int(round((maxy - miny) / td))
    hot = (minx + (rng.integers(margin, nx - margin) + 0.5) * td,
           maxy - (rng.integers(margin, ny - margin) + 0.5) * td)
    n_hot = int(round(n * hot_fraction))
    kinds = ("box", "rotated", "concave", "holed")
    rank = rng.permutation(n)
    aois = []
    for k in range(n):
        side = min_side_cells + (max_side_cells - min_side_cells) * (rank[k] + rng.random()) / n
        aspect = rng.uniform(0.75, 1.33)
        w, h = side * aspect * td, side / aspect * td
        if k < n_hot:
            # centred within 0.15 cells of the hotspot cell's centre, so
            # every shape kind intersects that cell
            cx = hot[0] + rng.uniform(-0.15, 0.15) * td
            cy = hot[1] + rng.uniform(-0.15, 0.15) * td
        else:
            cx = rng.uniform(minx + w / 2 + 0.05 * td, maxx - w / 2 - 0.05 * td)
            cy = rng.uniform(miny + h / 2 + 0.05 * td, maxy - h / 2 - 0.05 * td)
        geom = _shape(rng, kinds[int(rng.integers(len(kinds)))], cx, cy, w, h, td)
        aois.append((rank[k], (f"{prefix}_{k:04d}", geo.wkb_dumps(geom))))
    return [a for _, a in sorted(aois, key=lambda t: t[0])], hot, [a for _, a in aois[:n_hot]]


def interactive_requests(rng, n_blocks: int, aois: list):
    """Seeded closed-loop request stream in blocks of INTERACTIVE_BLOCK
    (three zonal queries and one kNN lookup) in shuffled order. Within a
    block the zonal requests take one AOI from each size third of the
    pool (``aois`` ordered smallest first), paired with the queries at
    random; kNN requests take a probe point inside the corpus extent."""
    minx, miny, maxx, maxy, _ = _extent_deg()
    n = len(aois)
    thirds = [aois[: n // 3], aois[n // 3: 2 * n // 3], aois[2 * n // 3:]]
    reqs = []
    for _ in range(n_blocks):
        sizes = iter(rng.permutation(3))
        block = []
        for kind in rng.permutation(INTERACTIVE_BLOCK):
            kind = str(kind)
            if kind == "knn":
                block.append({"kind": "knn", "lon": float(rng.uniform(minx, maxx)),
                              "lat": float(rng.uniform(miny, maxy)), "k": KNN_K})
            else:
                pool = thirds[int(next(sizes))]
                block.append({"kind": "zonal", "query": kind,
                              "aoi": pool[int(rng.integers(len(pool)))]})
        reqs.append(block)
    return reqs


def alert_points(rng, n: int, aois: list, hot):
    """Fire-alert style points: half uniform over the extent, 30% in a
    cluster around the AOI hotspot, 20% around random AOI centroids."""
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo

    minx, miny, maxx, maxy, td = _extent_deg()
    n_uni, n_hot = n // 2, (3 * n) // 10
    n_aoi = n - n_uni - n_hot
    lon = [rng.uniform(minx, maxx, n_uni), hot[0] + rng.normal(0, 0.8 * td, n_hot)]
    lat = [rng.uniform(miny, maxy, n_uni), hot[1] + rng.normal(0, 0.8 * td, n_hot)]
    cents = np.array([
        [(b[0] + b[2]) / 2, (b[1] + b[3]) / 2]
        for b in (geo.bounds(geo.wkb_loads(w)) for _, w in aois)
    ])
    pick = cents[rng.integers(len(cents), size=n_aoi)]
    lon.append(pick[:, 0] + rng.normal(0, 0.5 * td, n_aoi))
    lat.append(pick[:, 1] + rng.normal(0, 0.5 * td, n_aoi))
    lon = np.clip(np.concatenate(lon), minx + 1e-9, maxx - 1e-9)
    lat = np.clip(np.concatenate(lat), miny + 1e-9, maxy - 1e-9)
    return pd.DataFrame({
        "alert_id": np.arange(n, dtype=np.int64),
        "lon": lon, "lat": lat,
        "confidence": rng.integers(2, 4, n).astype(np.int32),
    })


def ingest_cells(rng, n: int = INGEST_CELLS) -> list[tuple[int, int]]:
    """Seeded ingest set of ``n`` cells on the corpus grid: children of
    random parent cells, each child kept with probability
    INGEST_CHILD_P (missing children exercise the overview zero fill)."""
    px0, py0, pnx, pny = INGEST_PARENT_AREA
    cells: list[tuple[int, int]] = []
    for f in rng.permutation(pnx * pny):
        px, py = px0 + int(f) % pnx, py0 + int(f) // pnx
        for dy in (0, 1):
            for dx in (0, 1):
                if rng.random() < INGEST_CHILD_P:
                    cells.append((2 * px + dx, 2 * py + dy))
        if len(cells) >= n:
            break
    return sorted(cells[:n])


def encode_ingest_tiles(cells: list[tuple[int, int]]):
    """Pre-encode the ingest tile set in the images-table shape; returns
    the pandas frame plus the pre-encoding pixel arrays for the read-back
    check."""
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.sources import fixtures

    grid = G.get_grid(INGEST_GRID)
    env = fixtures.fixture_environment(grid=INGEST_GRID)
    rows, arrays = [], {}
    for layer in INGEST_LAYERS:
        for x, y in cells:
            row = fixtures.encode_image_row(env, layer, x, y, grid.chunk_px, grid=grid)
            rows.append(row)
            arrays[row[0]] = fixtures.tile_array(layer, x, y, grid.chunk_px)
    pdf = pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"])
    return pdf.astype({"w": "int32", "h": "int32"}), arrays
