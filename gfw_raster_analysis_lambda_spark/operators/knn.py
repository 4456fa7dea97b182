"""kNN tile lookup: Hamming-distance top-k over the 64-bit perceptual hash.

North-rule operator with no reference counterpart (the reference has no
similarity search). Two strategies:

- ``knn_phash``        one full scan of the images table serves *all*
                       queries at once: broadcast the (small) query set,
                       compute ``bit_count(phash XOR q)`` entirely in
                       codegen, then a per-query windowed top-k. No
                       index; cost = one scan regardless of query count.
- ``knn_phash_pruned`` spatially pruned variant: each query carries a
                       cell, candidates restricted to its k-ring
                       neighborhood via an equi-join on exploded ring
                       cells — the 100-TB path when queries are local.

Ties at the k-boundary break deterministically on (distance, image_id).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import grid as G
from ..plans.driver import local_frame, read_bounded


def _hamming(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def knn_phash(images: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """(query_id, q_phash) x images -> top-k nearest tiles per query.

    ``rank <= k`` over a window is rewritten by Catalyst into a per-
    partition TopK (no global sort); the crossJoin with a broadcast query
    set is a single pass over images.
    """
    q = F.broadcast(queries.select("query_id", F.col("phash").alias("q_phash")))
    scored = (
        images.select("image_id", "phash")
        .crossJoin(q)
        .withColumn("hamming", _hamming(F.col("phash"), F.col("q_phash")))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("image_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "image_id", "hamming", F.col("rn").alias("rank"))
    )


def knn_phash_pruned(
    images: DataFrame,  # must carry cell_id (sources.images.with_derived_keys)
    queries: DataFrame,  # (query_id, phash, cell_id)
    k: int,
    ring: int = 1,
    grid_name: str = "4/1024",
) -> DataFrame:
    """Spatially pruned kNN: candidates come only from each query's
    (2*ring+1)^2 cell neighborhood, turning the scan into a partition-
    pruned equi-join. Returns fewer than k rows for queries whose
    neighborhood has fewer tiles (caller widens the ring and retries —
    the standard expanding-ring search)."""
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def ring_cells(cells: pd.Series) -> pd.Series:
        grid = G.get_grid(grid_name)
        return pd.Series(
            [G.k_ring(grid, int(c), ring).tolist() for c in cells]
        )

    # relational ring expansion (no driver collect — query sets can be big)
    ringdf = F.broadcast(
        queries.select(
            "query_id",
            F.col("phash").alias("q_phash"),
            F.explode(ring_cells("cell_id")).alias("cell_id"),
        )
    )
    scored = images.select("image_id", "phash", "cell_id").join(
        ringdf, "cell_id"
    ).withColumn("hamming", _hamming(F.col("phash"), F.col("q_phash")))
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("image_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "image_id", "hamming", F.col("rn").alias("rank"))
    )


def knn_phash_pruned_auto(
    images: DataFrame,
    queries: DataFrame,  # (query_id, phash, cell_id)
    k: int,
    ring: int = 1,
    max_ring: int = 8,
    grid_name: str = "4/1024",
) -> DataFrame:
    """Expanding-ring kNN: runs :func:`knn_phash_pruned` and WIDENS the
    ring (doubling, capped at ``max_ring``) for any query that received
    fewer than ``k`` rows, so callers get k rows per query without hand-
    rolling the retry loop. Semantics are the standard expanding-ring
    search: each query's result is the hamming top-k within the SMALLEST
    tried ring that yields >= k candidates (a sparser-but-closer-in-hash
    tile farther away is out of scope by design — this is the local-
    search operator; use :func:`knn_phash` for the global scan). Queries
    whose ``max_ring`` neighborhood still holds fewer than k tiles return
    what exists. Each round's result is localCheckpoint-ed, so no kernel
    re-runs across rounds; satisfied/pending routing is relational
    (semi/anti joins against the per-query counts — no driver collect of
    query ids, no per-id isin literals), so large query batches stay
    cheap; the per-round driver sync is one emptiness check."""
    if ring < 1 or max_ring < ring:
        raise ValueError(f"need 1 <= ring <= max_ring (got {ring}, {max_ring})")
    pending = queries
    parts = []
    r = int(ring)
    while True:
        got = knn_phash_pruned(images, pending, k, r, grid_name).localCheckpoint(eager=True)
        if r >= max_ring:
            parts.append(got)
            break
        sat = (
            got.groupBy("query_id").count()
            .filter(F.col("count") >= k)
            .select("query_id")
            .localCheckpoint(eager=True)
        )
        parts.append(got.join(F.broadcast(sat), "query_id", "left_semi"))
        pending = pending.join(F.broadcast(sat), "query_id", "left_anti")
        if pending.limit(1).count() == 0:
            break
        r = min(r * 2, int(max_ring))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def hamming64(a: int, b: int) -> int:
    """Driver-side Hamming for oracles/tests."""
    return int(bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1"))


def knn_oracle(images_phash: list[tuple[str, int]], q_phash: int, k: int) -> list[str]:
    d = sorted(
        ((hamming64(p, q_phash), iid) for iid, p in images_phash),
    )
    return [iid for _, iid in d[:k]]


def _centroid_cols(grid_name: str):
    """Catalyst expressions for a cell's centroid (lon, lat) — pure bit
    arithmetic + exact binary-fraction constants (tile_deg is a power of
    two, so the centroid doubles are EXACT and engine-independent)."""
    grid = G.get_grid(grid_name)
    xb, yb = G._X_BITS, G._Y_BITS
    x = F.shiftright(F.col("cell_id"), yb).bitwiseAND(F.lit((1 << xb) - 1))
    y = F.col("cell_id").bitwiseAND(F.lit((1 << yb) - 1))
    td = grid.tile_deg
    lon = F.lit(-180.0) + x.cast("double") * F.lit(td) + F.lit(td / 2.0)
    lat = F.lit(90.0) - y.cast("double") * F.lit(td) - F.lit(td / 2.0)
    return lon, lat


def query_cell_expr(grid_name: str, lon, lat):
    """The cell containing (lon, lat), as one codegen expression."""
    grid = G.get_grid(grid_name)
    xb, yb = G._X_BITS, G._Y_BITS
    td = grid.tile_deg
    x = F.floor((lon + F.lit(180.0)) / F.lit(td)).cast("long")
    y = F.floor((F.lit(90.0) - lat) / F.lit(td)).cast("long")
    return F.lit(grid.index << (xb + yb)) + F.shiftleft(x, yb) + y


KNN_DRIVER_QUERY_LIMIT = 16  # query points answered on the driver path
_DIST_COL = {"sqdeg": "dist2", "haversine": "dist_km"}
_R_KM = 6371.0088
_KM_PER_DEG = math.pi * _R_KM / 180.0


def _geo_distance(metric: str, lon, lat, c_lon, c_lat):
    """The query-to-centroid distance Column. Both kNN paths evaluate this
    one expression in the JVM, so their distances (and so their rankings)
    are bit-identical."""
    dx = lon - c_lon
    dy = lat - c_lat
    if metric == "sqdeg":
        return dx * dx + dy * dy
    qr, cr = F.radians(lat), F.radians(c_lat)
    a = (
        F.pow(F.sin(F.radians(dy) / 2), 2)
        + F.cos(qr) * F.cos(cr) * F.pow(F.sin(F.radians(dx) / 2), 2)
    )
    return F.lit(2.0 * _R_KM) * F.asin(F.sqrt(a))


def _ring_bound(metric: str, r: int, td: float, lat: float) -> float:
    """Lower bound on the distance of any point outside Chebyshev ring
    ``r`` of the query's cell (the derivation is in :func:`knn_geo`)."""
    if metric == "sqdeg":
        return float(r * td) ** 2
    worst_lat = min(90.0, abs(lat) + float((r + 1) * td))
    return float(r * td) * _KM_PER_DEG * max(0.0, math.cos(math.radians(worst_lat)))


def knn_geo(
    images: DataFrame,  # must carry cell_id
    queries: DataFrame,  # (query_id, lon, lat)
    k: int,
    ring: int = 1,
    max_ring: int = 8,
    grid_name: str = "4/1024",
    metric: str = "sqdeg",
) -> DataFrame:
    """Geographic kNN tile lookup: for each query point, the k images
    whose CELL CENTROID is nearest.

    Metrics:

    - ``sqdeg`` (default): squared-degree distance dlon^2 + dlat^2 — the
      equirectangular metric, pure exact float arithmetic, bit-identical
      in any engine (the ``knn_geo_cells`` DuckDB twin).
    - ``haversine``: great-circle km on the R=6371.0088 sphere — the
      production metric (correct lon compression by cos lat). Last-ulp
      trig is libm-specific, so this path is tested against a Python
      haversine oracle, not hash-gated cross-engine.

    Same expanding-ring skeleton as :func:`knn_phash_pruned_auto`, but
    with geometry the ring search is EXACT-GLOBAL, not local-best: a
    query stops only when its k-th distance is strictly below the ring's
    distance lower bound, otherwise the ring doubles — so the result
    equals the global scan's top-k while reading only O(k) cells per
    query. The bound per metric: any point of a cell OUTSIDE Chebyshev
    ring r is >= r*tile_deg away in max(|dlon|, |dlat|); for ``sqdeg``
    that is (r*td)^2, for ``haversine`` it is r*td*(pi*R/180) scaled by
    cos(min(90, |qlat| + (r+1)*td)) — the worst-case lon compression of
    any candidate the bound must exclude (lat-separated candidates are
    bounded by the meridian arc, which the cos factor only shrinks).
    Near the poles the cos factor approaches 0 and pruning degrades to
    the max_ring scan — correct, just not pruned.

    Two plans run this search. Up to ``KNN_DRIVER_QUERY_LIMIT`` query
    points take the driver path: the points are read once (one bounded
    query), their ring cells are enumerated on the driver, and one
    JVM-only scan reads ``image_id, cell_id`` of just those cells with
    the distance computed in the scan. The driver picks each query's
    top k and checks the ring bound; only queries it cannot prove are
    scanned again, over the cells their wider ring adds. The result is a
    ``LocalRelation``. Larger query sets take the distributed plan: a
    broadcast ring join and a windowed top-k per round, with the pending
    queries routed relationally between rounds.

    Ties at the k boundary break on (distance, image_id).
    """
    if ring < 1 or max_ring < ring:
        raise ValueError(f"need 1 <= ring <= max_ring (got {ring}, {max_ring})")
    if metric not in _DIST_COL:
        raise ValueError(f"metric must be sqdeg|haversine, got {metric!r}")
    points = read_bounded(queries, ["query_id", "lon", "lat"], KNN_DRIVER_QUERY_LIMIT)
    if points is not None:
        return _knn_geo_driver(images, queries, points, k, ring, max_ring, grid_name, metric)
    return _knn_geo_distributed(images, queries, k, ring, max_ring, grid_name, metric)


def _query_cell(grid, lon: float, lat: float) -> int:
    """:func:`query_cell_expr` evaluated on the driver (same arithmetic)."""
    xb, yb = G._X_BITS, G._Y_BITS
    x = math.floor((lon + 180.0) / grid.tile_deg)
    y = math.floor((90.0 - lat) / grid.tile_deg)
    return (grid.index << (xb + yb)) + (x << yb) + y


def _knn_geo_driver(images, queries, points, k, ring, max_ring, grid_name, metric):
    grid = G.get_grid(grid_name)
    td = grid.tile_deg
    pts = [(p["query_id"], float(p["lon"]), float(p["lat"])) for p in points]
    own = [_query_cell(grid, lon, lat) for _, lon, lat in pts]
    seen: list = [set() for _ in pts]   # cells scanned per query
    cand: list = [[] for _ in pts]      # (distance, image_id) per query
    top: list = [None] * len(pts)
    pending = list(range(len(pts)))
    r = int(ring)
    while pending:
        fresh = []
        for qi in pending:
            cells = [c for c in G.k_ring(grid, own[qi], r).tolist() if c not in seen[qi]]
            seen[qi].update(cells)
            fresh.append(cells)
        for qi, iid, d in _scan_cells(images, grid_name, metric, [pts[q] for q in pending], fresh):
            cand[pending[qi]].append((d, iid))
        still = []
        for qi in pending:
            best = sorted(cand[qi])[:k]
            # STRICT <: the bound is the minimum possible distance of an
            # unexplored cell, so at dk == bound an unexplored point at
            # exactly that distance with a smaller image_id would win the
            # (distance, image_id) tie-break
            if r >= max_ring or (
                len(best) >= k and best[-1][0] < _ring_bound(metric, r, td, pts[qi][2])
            ):
                top[qi] = best
            else:
                still.append(qi)
        pending = still
        r = min(r * 2, int(max_ring))
    dcol = _DIST_COL[metric]
    schema = T.StructType([
        T.StructField("query_id", queries.schema["query_id"].dataType),
        T.StructField("image_id", images.schema["image_id"].dataType),
        T.StructField(dcol, T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ])
    rows = [
        (pts[qi][0], iid, d, rank)
        for qi in range(len(pts)) for rank, (d, iid) in enumerate(top[qi], start=1)
    ]
    cols = list(zip(*rows)) or [()] * len(schema)
    return local_frame(
        images.sparkSession, {f.name: list(c) for f, c in zip(schema, cols)}, schema
    )


def _scan_cells(images, grid_name, metric, pts, cells) -> list:
    """One JVM-only scan: ``(i, image_id, distance)`` for every image in
    ``cells[i]``, the distance measured from point ``pts[i]``. The scan is
    pruned to the cells' literal IN set; a literal map from cell to the
    points that want it pairs each tile with its points."""
    by_cell: dict = {}
    for i, cs in enumerate(cells):
        for c in cs:
            by_cell.setdefault(int(c), []).append(i)
    if not by_cell:
        return []
    to_points = F.expr(
        "map(" + ",".join(f"{c}L, array({','.join(map(str, ix))})" for c, ix in by_cell.items()) + ")"
    )
    qi = F.col("_qi")
    lon = F.array(*[F.lit(p[1]) for p in pts])[qi]
    lat = F.array(*[F.lit(p[2]) for p in pts])[qi]
    c_lon, c_lat = _centroid_cols(grid_name)
    return (
        images.select("image_id", "cell_id")
        .filter(F.expr(f"cell_id IN ({','.join(map(str, by_cell))})"))
        .select("image_id", "cell_id", F.explode(to_points[F.col("cell_id")]).alias("_qi"))
        .select("_qi", "image_id", _geo_distance(metric, lon, lat, c_lon, c_lat))
        .collect()
    )


def _knn_geo_distributed(images, queries, k, ring, max_ring, grid_name, metric):
    """The multi-round plan of :func:`knn_geo` for query sets over the
    driver bound."""
    grid = G.get_grid(grid_name)
    td = grid.tile_deg

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def ring_cells(cells: pd.Series, rr: pd.Series) -> pd.Series:
        return pd.Series([
            G.k_ring(grid, int(c), int(r)).tolist()
            for c, r in zip(cells, rr)
        ])

    dcol = _DIST_COL[metric]
    clon, clat = _centroid_cols(grid_name)
    pts = images.select("image_id", "cell_id").withColumn(
        "c_lon", clon
    ).withColumn("c_lat", clat)

    def one_round(qs: DataFrame, r: int) -> DataFrame:
        ringdf = F.broadcast(
            qs.select(
                "query_id", "lon", "lat",
                F.explode(
                    ring_cells(
                        query_cell_expr(grid_name, F.col("lon"), F.col("lat")),
                        F.lit(r),
                    )
                ).alias("cell_id"),
            )
        )
        dist = _geo_distance(metric, F.col("lon"), F.col("lat"), F.col("c_lon"), F.col("c_lat"))
        scored = pts.join(ringdf, "cell_id").withColumn(dcol, dist)
        w = Window.partitionBy("query_id").orderBy(F.asc(dcol), F.asc("image_id"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "image_id", dcol, F.col("rn").alias("rank"))
        )

    pending = queries
    parts = []
    r = int(ring)
    while True:
        got = one_round(pending, r).localCheckpoint(eager=True)
        if r >= max_ring:
            parts.append(got)
            break
        # exact-global stop: k rows AND the k-th distance strictly inside
        # the ring bound (the Column form of _ring_bound)
        if metric == "sqdeg":
            bound = F.lit(float(r * td) ** 2)
        else:
            worst_lat = F.least(
                F.lit(90.0), F.abs(F.col("lat")) + F.lit(float((r + 1) * td))
            )
            bound = (
                F.lit(float(r * td) * _KM_PER_DEG)
                * F.greatest(F.lit(0.0), F.cos(F.radians(worst_lat)))
            )
        sat = (
            got.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n"), F.max(dcol).alias("dk"))
            .join(F.broadcast(pending.select("query_id", "lat")), "query_id")
            # STRICT <, as on the driver path: boundary ties force one
            # more expansion round instead of stopping early
            .filter((F.col("n") >= k) & (F.col("dk") < bound))
            .select("query_id")
            .localCheckpoint(eager=True)
        )
        parts.append(got.join(F.broadcast(sat), "query_id", "left_semi"))
        pending = pending.join(F.broadcast(sat), "query_id", "left_anti")
        if pending.limit(1).count() == 0:
            break
        r = min(r * 2, int(max_ring))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def voronoi_rasterize(
    points: DataFrame,  # (point_id long, lon double, lat double)
    grid_name: str,
    radius_deg: float,
) -> DataFrame:
    """Discrete Voronoi allocation of the pixel lattice — ``gdal_grid``'s
    nearest-neighbor interpolation, summarized: every pixel whose center
    lies within ``radius_deg`` (planar degrees, like
    ``spatial_join.geo_distance_pairs``'s metric contract) of at least
    one point is assigned to its NEAREST point (ties on exact equal
    squared distance break to the lowest point_id), and the result is
    returned as (cell_id, point_id, n_px) — the discrete Voronoi cell
    area per grid cell, O(points x covered cells) rows, never O(pixels).

    Spark shape: each point explodes to the cell k-ring that can contain
    pixels within the radius (ring = ceil(r / tile) + 1 — a pixel at
    Chebyshev cell distance k is at least (k-1) tiles away, so the ring
    provably over-covers; the kernel's exact d^2 <= r^2 filter discards
    the rest), one groupBy(cell) shuffle of O(points x ring^2) small
    rows, and an Arrow kernel that scans the (points x pixels) distance
    matrix per cell. Pixel centers, d^2 and the radius compare use the
    IDENTICAL double-precision expression sequence as the DuckDB twin
    (no sums — only products, adds and an argmin — so the comparison is
    bit-exact, the `spatial_distance_band` precedent)."""
    grid = G.get_grid(grid_name)
    td, ps, cp = grid.tile_deg, grid.pixel_size, grid.chunk_px
    r2 = float(radius_deg) * float(radius_deg)
    ring = int(np.ceil(float(radius_deg) / td)) + 1

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def ring_cells(lon: pd.Series, lat: pd.Series) -> pd.Series:
        own = G.latlng_to_cell(grid, lon.to_numpy(), lat.to_numpy())
        return pd.Series(
            [G.k_ring(grid, int(c), ring).tolist() for c in own]
        )

    cand = points.select(
        "point_id", "lon", "lat",
        F.explode(ring_cells("lon", "lat")).alias("cell_id"),
    )

    def kernel(key, pdf):
        cell = int(key[0])
        cx, cy = (int(v) for v in G.cell_to_xy(cell))
        x0 = -180.0 + cx * td
        y0 = 90.0 - cy * td
        jj = np.arange(cp, dtype=np.float64)
        lon = x0 + (jj + 0.5) * ps           # (w,)
        lat = y0 - (jj + 0.5) * ps           # (h,)
        best_d2 = np.full((cp, cp), np.inf)
        best_pid = np.full((cp, cp), -1, dtype=np.int64)
        order = pdf.sort_values("point_id")
        for pid, plon, plat in zip(
            order["point_id"], order["lon"], order["lat"]
        ):
            dx = lon - float(plon)           # (w,)
            dy = lat - float(plat)           # (h,)
            d2 = dy[:, None] * dy[:, None] + dx[None, :] * dx[None, :]
            better = d2 < best_d2            # strict: equal keeps lower pid
            best_d2[better] = d2[better]
            best_pid[better] = int(pid)
        labeled = best_d2 <= r2
        if not labeled.any():
            return pd.DataFrame(
                {"cell_id": pd.Series(dtype="int64"),
                 "point_id": pd.Series(dtype="int64"),
                 "n_px": pd.Series(dtype="int64")}
            )
        pids = best_pid[labeled]
        uniq, cnt = np.unique(pids, return_counts=True)
        return pd.DataFrame({
            "cell_id": np.full(len(uniq), cell, dtype=np.int64),
            "point_id": uniq,
            "n_px": cnt.astype(np.int64),
        })

    return (
        cand.groupBy("cell_id")
        .applyInPandas(kernel, "cell_id long, point_id long, n_px long")
    )


# IDW weight quantization: w = min(floor(2^36 / d^2), 2^40). The single
# double division and floor are bit-identical across engines, the cap
# bounds the near-point singularity, and INTEGER weights make every
# downstream sum order-independent — which is what lets the DuckDB twin
# hash-match without rounding tricks.
_IDW_SCALE = float(1 << 36)
_IDW_WMAX = 1 << 40


def idw_interpolate(
    points: DataFrame,  # (point_id long, lon double, lat double, value long)
    grid_name: str,
    radius_deg: float,
    n_buckets: int = 8,
) -> DataFrame:
    """Inverse-distance-weighted interpolation — ``gdal_grid invdist``
    (its default algorithm), with the per-pixel surface summarized as a
    per-cell BUCKET histogram: every pixel within ``radius_deg`` of at
    least one point gets interp = sum(w_i * v_i) / sum(w_i) over the
    in-radius points, reported as bucket = floor(interp * n_buckets /
    v_scale) counts — (cell_id, bucket, n_px), O(cells x buckets) rows,
    never O(pixels). ``v_scale`` is implicit: bucket = (num *
    n_buckets) // den in exact int64, so buckets are in VALUE units
    (bucket b covers [b/n_buckets, (b+1)/n_buckets) of the value range).

    Same plan as :func:`voronoi_rasterize` (provably-covering cell ring
    explode, one groupBy(cell) shuffle, Arrow kernel over the points x
    pixels matrix). Weights are integer-quantized (module note above):
    all sums and the bucket floor-divide are exact integers, so result
    hashes are engine-independent by construction."""
    grid = G.get_grid(grid_name)
    td, ps, cp = grid.tile_deg, grid.pixel_size, grid.chunk_px
    r2 = float(radius_deg) * float(radius_deg)
    ring = int(np.ceil(float(radius_deg) / td)) + 1
    q = int(n_buckets)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def ring_cells(lon: pd.Series, lat: pd.Series) -> pd.Series:
        own = G.latlng_to_cell(grid, lon.to_numpy(), lat.to_numpy())
        return pd.Series(
            [G.k_ring(grid, int(c), ring).tolist() for c in own]
        )

    cand = points.select(
        "point_id", "lon", "lat", "value",
        F.explode(ring_cells("lon", "lat")).alias("cell_id"),
    )

    def kernel(key, pdf):
        cell = int(key[0])
        cx, cy = (int(v) for v in G.cell_to_xy(cell))
        x0 = -180.0 + cx * td
        y0 = 90.0 - cy * td
        jj = np.arange(cp, dtype=np.float64)
        lon = x0 + (jj + 0.5) * ps
        lat = y0 - (jj + 0.5) * ps
        num = np.zeros((cp, cp), np.int64)
        den = np.zeros((cp, cp), np.int64)
        for plon, plat, pval in zip(pdf["lon"], pdf["lat"], pdf["value"]):
            dx = lon - float(plon)
            dy = lat - float(plat)
            d2 = dy[:, None] * dy[:, None] + dx[None, :] * dx[None, :]
            with np.errstate(divide="ignore"):
                wf = np.floor(_IDW_SCALE / d2)  # inf at d2 == 0, capped next
            w = np.minimum(wf, float(_IDW_WMAX)).astype(np.int64)
            inr = d2 <= r2
            num += np.where(inr, w * int(pval), 0)
            den += np.where(inr, w, 0)
        lab = den > 0
        if not lab.any():
            return pd.DataFrame(
                {"cell_id": pd.Series(dtype="int64"),
                 "bucket": pd.Series(dtype="int64"),
                 "n_px": pd.Series(dtype="int64")}
            )
        bucket = (num[lab] * q) // den[lab]
        uniq, cnt = np.unique(bucket, return_counts=True)
        return pd.DataFrame({
            "cell_id": np.full(len(uniq), cell, dtype=np.int64),
            "bucket": uniq,
            "n_px": cnt.astype(np.int64),
        })

    return (
        cand.groupBy("cell_id")
        .applyInPandas(kernel, "cell_id long, bucket long, n_px long")
    )
