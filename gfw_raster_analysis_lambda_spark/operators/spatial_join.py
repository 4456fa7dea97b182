"""Spatial join operators beyond the zonal pipeline.

The north rule adds first-class spatial-join obligations the reference
only has implicitly (its one join is AOI x tile-grid, J1):

- ``cell_expr``            batched point -> cell encoding as a *pure
                           Catalyst expression* (floor + bit packing) —
                           stays inside whole-stage codegen, no Python.
- ``point_in_polygon_join`` filter-refine PIP join: equi-join on cell_id
                           (filter) + vectorized even-odd test (refine).
- ``polygon_cell_join``    AOI x images equi-join with broadcast /
                           shuffle / salted strategies for skew.
- ``salted``               explicit skew salting helper (AQE's skew join
                           handles most cases; salting is for the
                           pathological hot-cell distributions).
"""

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry as geo
from ..functions import grid as G
from ..plans.planner import aoi_cells

_XY_BITS = 27


def cell_expr(grid: G.Grid, lon: Column, lat: Column) -> Column:
    """cell_id of the point — identical packing to
    functions.grid.latlng_to_cell, expressed JVM-side so the encoding of
    billions of points never leaves codegen."""
    td = grid.tile_deg
    x = F.floor((lon + F.lit(180.0)) / F.lit(td)).cast("long")
    y = F.floor((F.lit(90.0) - lat) / F.lit(td)).cast("long")
    x = F.greatest(F.lit(0), F.least(x, F.lit(grid.nx - 1)))
    y = F.greatest(F.lit(0), F.least(y, F.lit(grid.ny - 1)))
    return (
        F.shiftleft(F.lit(grid.index).cast("long"), 2 * _XY_BITS)
        .bitwiseOR(F.shiftleft(x, _XY_BITS))
        .bitwiseOR(y)
        .alias("cell_id")
    )


_MORTON_MASKS = (
    (16, 281470681808895),        # 0x0000FFFF0000FFFF
    (8, 71777214294589695),       # 0x00FF00FF00FF00FF
    (4, 1085102592571150095),     # 0x0F0F0F0F0F0F0F0F
    (2, 3689348814741910323),     # 0x3333333333333333
    (1, 6148914691236517205),     # 0x5555555555555555
)


def _spread_bits(v: Column) -> Column:
    # insert a 0 between consecutive bits of a <=32-bit value (the
    # classic magic-mask doubling sequence), pure codegen
    for shift, mask in _MORTON_MASKS:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def zorder_expr(grid: G.Grid, lon: Column, lat: Column) -> Column:
    """Z-order (Morton) code of the point's grid cell: the x/y bits
    interleaved, so sorting by it clusters 2-D neighbors into the same
    file/row-group — the layout key for write-path clustering (what
    Delta's OPTIMIZE ZORDER and Iceberg's sort orders do). The packed
    ``cell_id`` (grid.py:21) is row-major: x-neighbors sort 2^27 apart,
    destroying y-locality; the Morton code keeps both axes local, so a
    k-ring probe touches O(k^2) row groups instead of O(k * nx).

    27-bit x and y interleave into 54 bits — exact in int64. Pure
    Catalyst bit arithmetic (five mask rounds per axis), mirrorable in
    ANSI SQL for the contract twin."""
    td = grid.tile_deg
    x = F.floor((lon + F.lit(180.0)) / F.lit(td)).cast("long")
    y = F.floor((F.lit(90.0) - lat) / F.lit(td)).cast("long")
    x = F.greatest(F.lit(0), F.least(x, F.lit(grid.nx - 1)))
    y = F.greatest(F.lit(0), F.least(y, F.lit(grid.ny - 1)))
    return _spread_bits(x).bitwiseOR(
        F.shiftleft(_spread_bits(y), 1)
    ).alias("zorder")


_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"  # geohash base32 (no a,i,l,o)


def geohash_expr(lon: Column, lat: Column, precision: int = 6) -> Column:
    """Standard geohash (Niemeyer 2008) of the point, ``precision``
    base32 chars, as pure Catalyst arithmetic: normalize lon/lat to
    [0,1), take the top ceil/floor(5p/2) binary-subdivision bits of each
    axis (one floor-multiply — identical IEEE doubles on any engine),
    interleave lon-first via the magic-mask spread, then map each 5-bit
    group through the base32 alphabet with substr. No UDF, no Python:
    encoding a trillion points stays inside whole-stage codegen.

    Geohash is the INTEROP key (strings, prefix-range queries, every
    geo library speaks it); :func:`zorder_expr` is the LAYOUT key (int64
    on the engine grid). Same bit-interleaving idea, different bases."""
    if not 1 <= precision <= 12:
        raise ValueError("precision must be in [1, 12]")
    bits = 5 * precision
    nlon = (bits + 1) // 2
    nlat = bits // 2
    xf = (lon + F.lit(180.0)) / F.lit(360.0)
    yf = (lat + F.lit(90.0)) / F.lit(180.0)
    lx = F.least(F.floor(xf * F.lit(float(1 << nlon))).cast("long"),
                 F.lit((1 << nlon) - 1))
    ly = F.least(F.floor(yf * F.lit(float(1 << nlat))).cast("long"),
                 F.lit((1 << nlat) - 1))
    lx = F.greatest(lx, F.lit(0))
    ly = F.greatest(ly, F.lit(0))
    if bits % 2 == 0:
        z = F.shiftleft(_spread_bits(lx), 1).bitwiseOR(_spread_bits(ly))
    else:
        z = _spread_bits(lx).bitwiseOR(F.shiftleft(_spread_bits(ly), 1))
    chars = [
        F.substr(
            F.lit(_B32),
            (F.shiftright(z, 5 * (precision - 1 - k)).bitwiseAND(F.lit(31))
             + F.lit(1)).cast("int"),
            F.lit(1),
        )
        for k in range(precision)
    ]
    return F.concat(*chars).alias("geohash")


def tile_xyz_expr(lon: Column, lat: Column, zoom: int) -> Column:
    """Web-mercator slippy-map tile address ``struct(z, x, y)`` (the
    OSM/XYZ scheme every web map and tile CDN speaks — the SERVING key,
    where :func:`zorder_expr` is the layout key and geohash the interop
    key). x = floor((lon+180)/360 · 2^z); y from the Mercator projection
    y = floor((1 − asinh(tan φ)/π)/2 · 2^z), clamped to the valid range
    (poles clamp to the edge tiles, the standard convention).

    Pure Catalyst math — ``asinh(tan(φ))`` is two libm calls inside
    whole-stage codegen; no UDF. Spark evaluates ASINH as
    ``log(t + sqrt(t·t + 1))``, and the DuckDB twin spells exactly that
    identity out (DuckDB has no asinh), so the operation sequences
    match; the residual cross-engine risk is libm log/tan ulp drift,
    which flips a floor() only for points within ~1 ulp of a tile
    boundary — the contract fixture uses generic points nowhere near
    one."""
    if not 0 <= zoom <= 30:
        raise ValueError("zoom must be in [0, 30]")
    n = 1 << zoom
    xf = (lon + F.lit(180.0)) / F.lit(360.0)
    rad = F.radians(lat)
    yf = (F.lit(1.0) - F.asinh(F.tan(rad)) / F.lit(math.pi)) / F.lit(2.0)
    x = F.floor(xf * F.lit(float(n))).cast("long")
    y = F.floor(yf * F.lit(float(n))).cast("long")
    x = F.greatest(F.lit(0), F.least(x, F.lit(n - 1)))
    y = F.greatest(F.lit(0), F.least(y, F.lit(n - 1)))
    return F.struct(
        F.lit(zoom).alias("z"), x.alias("x"), y.alias("y")
    ).alias("xyz")


def quadkey_expr(lon: Column, lat: Column, zoom: int) -> Column:
    """Bing-maps quadkey of the XYZ tile: one base-4 digit per zoom
    level, digit k = the interleaved (x, y) bit pair at level k — so a
    tile's quadkey is PREFIXED by every ancestor's, making prefix match
    the containment test (string-range pruning over tile hierarchies,
    the same trick geohash plays on lon/lat boxes). Pure Catalyst: the
    Morton spread of (x, y) read out two bits at a time."""
    xyz = tile_xyz_expr(lon, lat, zoom)
    z = F.shiftleft(_spread_bits(xyz["y"]), 1).bitwiseOR(
        _spread_bits(xyz["x"])
    )
    digits = [
        F.substr(
            F.lit("0123"),
            (F.shiftright(z, 2 * (zoom - 1 - k)).bitwiseAND(F.lit(3))
             + F.lit(1)).cast("int"),
            F.lit(1),
        )
        for k in range(zoom)
    ]
    return F.concat(*digits).alias("quadkey")


def cluster_by_zorder(
    df: DataFrame,
    grid: G.Grid,
    lon_col: str = "lon",
    lat_col: str = "lat",
    n_partitions: int | None = None,
) -> DataFrame:
    """Layout a point/feature frame for spatial locality: range-partition
    on the Morton code, sort within partitions, drop the helper column.
    Written to parquet, every output file then covers one contiguous
    Z-range = one compact quadtree region, so a bbox/k-ring reader prunes
    to O(region) files via parquet min/max stats on cell_id instead of
    scanning O(nx) row-major stripes. This is the write-path half of the
    spatial index: `repartitionByRange` samples the zorder distribution
    (one lightweight pass) so skewed corpora (cities, coastlines) still
    split into equal-row files — a static grid->file map would put half
    the planet in one file. Scale: one Exchange (range), then a
    per-partition sort, both shuffle-byte linear in rows."""
    z = zorder_expr(grid, F.col(lon_col), F.col(lat_col))
    out = df.withColumn("__z", z)
    if n_partitions is not None:
        out = out.repartitionByRange(n_partitions, "__z")
    else:
        out = out.repartitionByRange("__z")
    return out.sortWithinPartitions("__z").drop("__z")


def cluster_by_hilbert(
    df: DataFrame,
    grid: G.Grid,
    lon_col: str = "lon",
    lat_col: str = "lat",
    order: int = 12,
    n_partitions: int | None = None,
) -> DataFrame:
    """:func:`cluster_by_zorder`'s Hilbert sibling: range-partition and
    sort on the Hilbert code of the point's grid cell. Same write-path
    mechanics (one range Exchange + per-partition sort, disjoint file
    key ranges for parquet min/max pruning), strictly better locality:
    consecutive Hilbert codes are always 4-adjacent cells, so a bbox
    probe's hit set fragments into fewer code runs than under Morton's
    quadrant seams (locality measured head-to-head in
    tests/test_spatial_ops.py)."""
    td = grid.tile_deg
    xs = (
        f"CAST(GREATEST(0, LEAST(FLOOR(({lon_col} + 180) / {td!r}), "
        f"{grid.nx - 1})) AS BIGINT)"
    )
    ys = (
        f"CAST(GREATEST(0, LEAST(FLOOR((90 - {lat_col}) / {td!r}), "
        f"{grid.ny - 1})) AS BIGINT)"
    )
    if max(grid.nx, grid.ny) > (1 << order):
        raise ValueError(f"order {order} cannot index a {grid.nx}x{grid.ny} grid")
    keyed = hilbert_index(
        df.selectExpr("*", f"{xs} AS __hx", f"{ys} AS __hy"),
        order,
        x_col="__hx",
        y_col="__hy",
        keep=df.columns,
    ).withColumnRenamed("hilbert", "__h")
    if n_partitions is not None:
        out = keyed.repartitionByRange(n_partitions, "__h")
    else:
        out = keyed.repartitionByRange("__h")
    return out.sortWithinPartitions("__h").drop("__h")


def hilbert_rounds(order: int) -> list[tuple[list[str], list[str]]]:
    """Per-round SQL expression pairs for the Hilbert xy→d walk
    (Hilbert 1891; the iterative rotate-and-reflect form popularized by
    Warren, Hacker's Delight §16 / the Wikipedia `xy2d` loop). Round
    ``s = 2^(order-1) … 1`` reads quadrant bits, accumulates
    ``d += s²·(3·rx XOR ry)`` and rotates the frame. The XOR is emitted
    as pure arithmetic (``3·rx + ry − 2·rx·ry`` — identical truth table
    on {0,1}) so every expression is portable integer ANSI SQL; both
    the Spark plan and the DuckDB contract twin consume these exact
    strings, leaving nothing for the two engines to disagree on.

    Returns ``[(pre_exprs, post_exprs), …]`` per round: ``pre`` adds
    ``rx, ry`` from the current ``x, y, d``; ``post`` replaces
    ``d, x, y``. Column names are fixed (``x``, ``y``, ``d``)."""
    if not 1 <= order <= 31:
        raise ValueError("order must be in [1, 31]")
    rounds = []
    for level in range(order - 1, -1, -1):
        s = 1 << level
        pre = [
            f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx",
            f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry",
        ]
        post = [
            f"d + {s * s} * (3 * rx + ry - 2 * rx * ry) AS d",
            (
                f"CASE WHEN ry = 0 THEN "
                f"(CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END) "
                f"ELSE x END AS x"
            ),
            (
                f"CASE WHEN ry = 0 THEN "
                f"(CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END) "
                f"ELSE y END AS y"
            ),
        ]
        rounds.append((pre, post))
    return rounds


def hilbert_index(
    df: DataFrame,
    order: int,
    x_col: str = "x",
    y_col: str = "y",
    keep: list[str] | None = None,
) -> DataFrame:
    """Hilbert-curve index of integer grid coordinates, as a linear
    chain of Catalyst projections (``2·order`` selects, all folded into
    ONE whole-stage-codegen span — no UDF, no shuffle). ``x_col``/
    ``y_col`` must already be nonneg integers below ``2^order``.

    Z-order (:func:`zorder_expr`) is one mask cascade but has worst-case
    locality seams: crossing the middle of the curve jumps half the key
    space. The Hilbert walk visits every cell exactly once with EVERY
    consecutive pair 4-adjacent (|Δx|+|Δy| = 1), so range-partitioned
    layout by ``hilbert`` yields strictly fewer fragmented bbox reads —
    the same reason Databricks added Hilbert clustering after Z-order.
    Output column: ``hilbert`` (long, < 4^order)."""
    keep = keep if keep is not None else [
        c for c in df.columns if c not in (x_col, y_col)
    ]
    cur = df.selectExpr(
        *keep,
        f"CAST({x_col} AS BIGINT) AS x",
        f"CAST({y_col} AS BIGINT) AS y",
        "CAST(0 AS BIGINT) AS d",
    )
    for pre, post in hilbert_rounds(order):
        cur = cur.selectExpr(*keep, "x", "y", "d", *pre)
        cur = cur.selectExpr(*keep, *post)
    return cur.selectExpr(*keep, "d AS hilbert")


def hilbert_sql(order: int, source_sql: str, keep: list[str]) -> str:
    """The DuckDB/ANSI twin of :func:`hilbert_index`: nests the SAME
    per-round expression strings (:func:`hilbert_rounds`) as chained
    subqueries over ``source_sql``, which must yield integer columns
    ``x, y`` plus ``keep``. Returns SQL selecting ``keep + [hilbert]``."""
    kp = (", ".join(keep) + ", ") if keep else ""
    cols = kp + "x, y"
    inner = f"SELECT {cols}, CAST(0 AS BIGINT) AS d FROM ({source_sql})"
    for pre, post in hilbert_rounds(order):
        inner = f"SELECT {cols}, d, {', '.join(pre)} FROM ({inner})"
        inner = f"SELECT {kp}{', '.join(post)} FROM ({inner})"
    return f"SELECT {kp}d AS hilbert FROM ({inner})"


def point_in_polygon_join(
    points: DataFrame,  # (..., lon double, lat double)
    aoi: DataFrame,  # (aoi_id string, geom_wkb binary)
    grid_name: str,
) -> DataFrame:
    """Inner join of points to the polygons containing them.

    Filter stage: encode each point's cell (codegen) and equi-join the
    exploded AOI-cell list — this prunes candidates to O(points in AOI
    bbox-ish). Refine stage: exact even-odd containment in an
    Arrow-batched pandas UDF (the P6 kernel on points instead of pixels).
    """
    grid = G.get_grid(grid_name)
    cells = aoi_cells(aoi, grid_name)  # (aoi_id, geom_wkb, cell_id)
    pts = points.withColumn("cell_id", cell_expr(grid, F.col("lon"), F.col("lat")))
    cand = pts.join(F.broadcast(cells), "cell_id")

    @F.pandas_udf(T.BooleanType())
    def contains(geom_wkb: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        lon_v, lat_v = lon.to_numpy(float), lat.to_numpy(float)
        # group by identical geometry payload so each polygon parses once
        by_geom: dict[bytes, list[int]] = {}
        for idx, wkb in enumerate(geom_wkb):
            by_geom.setdefault(bytes(wkb), []).append(idx)
        for wkb, idxs in by_geom.items():
            g = geo.wkb_loads(wkb)
            ii = np.asarray(idxs)
            out[ii] = geo.contains_points(g, lon_v[ii], lat_v[ii])
        return pd.Series(out)

    return cand.filter(contains("geom_wkb", "lon", "lat")).drop("geom_wkb")


def salted(df: DataFrame, key: str, n_salt: int, explode_side: bool) -> DataFrame:
    """Skew salting: the big side gets a deterministic salt from row
    content; the small side is replicated across all salt values so the
    (key, salt) equi-join covers every pair. Use when one join key (a hot
    cell under many AOIs) dwarfs the others and AQE's skew splitting is
    not enough (e.g. a single key larger than one whole executor)."""
    if explode_side:
        return df.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
        )
    return df.withColumn(
        "_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salt))
    )


def polygon_cell_join(
    images: DataFrame,
    aoi: DataFrame,
    grid_name: str,
    strategy: str = "broadcast",  # broadcast | shuffle | salted
    n_salt: int = 8,
) -> DataFrame:
    """The J1 join with explicit strategy selection (SURVEY.md section 4):

    - ``broadcast``: AOI-cell list broadcast; the images scan never
      shuffles (the zonal default — AOI sets are << images).
    - ``shuffle``:   plain equi-join; AQE skew-join splits hot cells.
    - ``salted``:    explicit (cell_id, salt) join for pathological skew.
    """
    cells = aoi_cells(aoi, grid_name)
    if strategy == "broadcast":
        return images.join(F.broadcast(cells), "cell_id")
    if strategy == "shuffle":
        return images.join(cells, "cell_id")
    if strategy == "salted":
        big = salted(images, "cell_id", n_salt, explode_side=False)
        small = salted(cells, "cell_id", n_salt, explode_side=True)
        return big.join(small, ["cell_id", "_salt"]).drop("_salt")
    raise ValueError(f"unknown join strategy {strategy!r}")


PAIR_BROADCAST_WKB_BYTES = 256 * 2**20  # geometry bytes broadcast per side
PAIR_BROADCAST_ROW_LIMIT = 1_000_000    # AOI rows broadcast per side


def broadcast_fits_many(
    dfs: "list[DataFrame]",
    bytes_limit: int = PAIR_BROADCAST_WKB_BYTES,
    row_limit: int = PAIR_BROADCAST_ROW_LIMIT,
) -> "list[bool]":
    """Probe whether each geometry table (``geom_wkb`` column) fits a
    broadcast — row count and total WKB bytes under the limits — in ONE
    Spark job for all of them (union of tagged length projections; no
    geometry crosses the wire). The single broadcast-fitness rule for
    every pair-join operator; change it here, not per call site."""
    probe = None
    for i, d in enumerate(dfs):
        p = d.select(
            F.lit(i).alias("__side"), F.length("geom_wkb").alias("__b")
        )
        probe = p if probe is None else probe.unionByName(p)
    by = {
        r["__side"]: r
        for r in probe.groupBy("__side")
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("__b"), F.lit(0)).alias("b"),
        )
        .collect()
    }
    return [
        i not in by  # empty table: trivially fits
        or (by[i]["n"] <= row_limit and by[i]["b"] <= bytes_limit)
        for i in range(len(dfs))
    ]


def broadcast_fits(
    df: DataFrame,
    bytes_limit: int = PAIR_BROADCAST_WKB_BYTES,
    row_limit: int = PAIR_BROADCAST_ROW_LIMIT,
) -> bool:
    return broadcast_fits_many([df], bytes_limit, row_limit)[0]


def polygon_pairs(
    aoi: DataFrame,
    grid_name: str,
    broadcast_bytes_limit: int = PAIR_BROADCAST_WKB_BYTES,
) -> DataFrame:
    """Vector-overlay SELF-join: every pair of AOI polygons whose
    INTERIORS intersect (boundary-touching neighbors excluded), each
    pair reported once as (a, b) with a < b.

    The reference joins vectors only against the raster grid; a
    polygon-polygon join is the other half of a spatial engine
    (conflict detection, dissolve pre-pass, dedup of re-submitted
    geometries). Spark shape — never a cross join:

    1. ``aoi_cells`` explodes each polygon to its covering cells (the
       same J1 derivation the zonal path uses),
    2. a cell equi-join proposes exactly the pairs sharing a cell — an
       intersecting pair ALWAYS shares the cell containing any interior
       intersection point, so the candidate set is complete,
    3. pairs dedup relationally (DISTINCT on the id pair), geometries
       re-attach via two broadcast joins,
    4. the exact ``interiors_intersect`` predicate (proper edge
       crossings + even-odd mutual containment, numpy) verifies each
       candidate once in an Arrow batch.

    Cost: O(sum cells per polygon) join rows and O(candidate pairs)
    exact tests; hot cells fall under the same AQE skew handling as the
    zonal join.

    Geometry re-attach degrades gracefully past the broadcast bound: the
    AOI table's row count and total WKB bytes are probed RELATIONALLY
    first (one tiny agg job — no geometry crosses the wire), and a batch too large to broadcast
    attaches via plain shuffle hash joins on the id instead — same
    result, two Exchanges of O(candidate pairs) rows, no driver/executor
    OOM from a multi-GB broadcast."""
    cells = aoi_cells(aoi, grid_name).select("aoi_id", "cell_id")
    a = cells.select(F.col("aoi_id").alias("a"), "cell_id")
    b = cells.select(F.col("aoi_id").alias("b"), "cell_id")
    cand = (
        a.join(b, "cell_id")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    fits = broadcast_fits(aoi, broadcast_bytes_limit)
    ga = aoi.select(F.col("aoi_id").alias("a"), F.col("geom_wkb").alias("wkb_a"))
    gb = aoi.select(F.col("aoi_id").alias("b"), F.col("geom_wkb").alias("wkb_b"))
    if fits:
        pairs = cand.join(F.broadcast(ga), "a").join(F.broadcast(gb), "b")
    else:
        pairs = cand.join(ga, "a").join(gb, "b")

    @F.pandas_udf("boolean")
    def hits(wa: pd.Series, wb: pd.Series) -> pd.Series:
        return pd.Series([
            geo.interiors_intersect(geo.wkb_loads(bytes(x)), geo.wkb_loads(bytes(y)))
            for x, y in zip(wa, wb)
        ])

    return (
        pairs.filter(hits(F.col("wkb_a"), F.col("wkb_b")))
        .select("a", "b")
    )


def polygon_pair_overlap(
    aoi: DataFrame,
    grid_name: str,
    broadcast_bytes_limit: int = PAIR_BROADCAST_WKB_BYTES,
) -> DataFrame:
    """MEASURED vector overlay: every AOI pair with interior overlap,
    quantified — (a, b, inter_area, union_area, iou) in planar degree^2
    (a < b, each pair once; zero-overlap candidates dropped). The
    measured form of :func:`polygon_pairs` — conflict AREA ranking,
    IoU-thresholded dedup of re-submitted geometries, overlap matrices —
    via ``geometry.intersection_area``'s slab scanline (exact on
    even-odd inputs, fuzz-verified against the rational oracle).

    Spark shape mirrors :func:`polygon_pairs` (cell equi-join candidate
    generation is provably complete, never a cross join) with one extra
    O(n) pass: per-polygon areas are computed ONCE in an Arrow kernel
    over the AOI table — not per pair — and ride the same
    broadcast-vs-shuffle attach decision as the geometries, so a pair
    costs exactly one intersection_area call. union = |A| + |B| -
    |A&B| and iou = inter/union are pure arithmetic on the attached
    columns (kept in the kernel's float64; rounding is the caller's
    gate-edge concern)."""
    cells = aoi_cells(aoi, grid_name).select("aoi_id", "cell_id")
    a = cells.select(F.col("aoi_id").alias("a"), "cell_id")
    b = cells.select(F.col("aoi_id").alias("b"), "cell_id")
    cand = (
        a.join(b, "cell_id")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )

    @F.pandas_udf("double")
    def area_of(wkb: pd.Series) -> pd.Series:
        return pd.Series([
            geo.region_area(geo.wkb_loads(bytes(x))) for x in wkb
        ])

    withg = aoi.select(
        "aoi_id", "geom_wkb", area_of(F.col("geom_wkb")).alias("area")
    )
    fits = broadcast_fits(aoi, broadcast_bytes_limit)
    ga = withg.select(
        F.col("aoi_id").alias("a"),
        F.col("geom_wkb").alias("wkb_a"),
        F.col("area").alias("area_a"),
    )
    gb = withg.select(
        F.col("aoi_id").alias("b"),
        F.col("geom_wkb").alias("wkb_b"),
        F.col("area").alias("area_b"),
    )
    if fits:
        pairs = cand.join(F.broadcast(ga), "a").join(F.broadcast(gb), "b")
    else:
        pairs = cand.join(ga, "a").join(gb, "b")

    @F.pandas_udf("double")
    def inter_of(wa: pd.Series, wb: pd.Series) -> pd.Series:
        return pd.Series([
            geo.intersection_area(geo.wkb_loads(bytes(x)), geo.wkb_loads(bytes(y)))
            for x, y in zip(wa, wb)
        ])

    return (
        pairs.withColumn("inter_area", inter_of(F.col("wkb_a"), F.col("wkb_b")))
        .filter(F.col("inter_area") > 0.0)
        .withColumn(
            "union_area", F.col("area_a") + F.col("area_b") - F.col("inter_area")
        )
        .withColumn("iou", F.col("inter_area") / F.col("union_area"))
        .select("a", "b", "inter_area", "union_area", "iou")
    )


def dissolve_labels(
    aoi: DataFrame,
    grid_name: str,
) -> DataFrame:
    """Dissolve GROUPING: label every polygon with its connected
    overlay component (transitive closure of ``interiors_intersect``) —
    the relational half of a GIS dissolve. Each group can then be merged
    geometry-side by any union backend; the expensive part at scale is
    exactly this labeling, and it composes from two existing pieces:
    :func:`polygon_pairs` edges + the components engine's
    ``hash_to_min`` pointer-jumping closure (id-type-generic, O(log
    diameter) rounds). Non-overlapping polygons are their own group.
    Returns (aoi_id, dissolve_group) with the group named by its min
    member id."""
    from .components import hash_to_min

    pairs = polygon_pairs(aoi, grid_name)
    edges = pairs.select(F.col("a"), F.col("b")).unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("a"), F.col("b").alias("b"))
    nodes = aoi.select(F.col("aoi_id").alias("id"))
    labeled = hash_to_min(nodes, edges)
    return labeled.select(
        F.col("id").alias("aoi_id"), F.col("component").alias("dissolve_group")
    )


def geo_distance_pairs(
    points: DataFrame,
    radius_deg: float,
    grid_name: str,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    carry: "tuple[str, ...]" = (),
) -> DataFrame:
    """Distance-band spatial SELF-JOIN: every unordered point pair within
    ``radius_deg`` (planar squared-degree metric), as (a, b, dist2) with
    a < b — the epsilon-neighborhood primitive under DBSCAN-style
    clustering, station-pairing, and dedup-by-location, and the "range
    join" Spark's built-in join set lacks. ``carry`` names extra point
    columns to ride the join (emitted as ``a_<col>`` / ``b_<col>``) so
    pair-valued statistics (semivariogram, co-location) need no second
    join back to the point table.

    Plan: points bucket to grid cells (pure Catalyst bit arithmetic);
    the left side explodes its (2r+1)^2 Chebyshev cell neighborhood
    (r = ceil(radius / tile_deg), so NO qualifying pair can sit further
    apart); ONE equi-join on the cell key proposes candidates, and the
    exact polynomial distance filters. Never a cross join; candidate
    fan-out per point is bounded by the (2r+1)^2 neighborhood's
    occupancy, and a hot cell can be salted with the existing
    :func:`salted` helper. dist2 = dx*dx + dy*dy is pure IEEE +,-,* on
    the input doubles, so both engines of the oracle gate compute the
    IDENTICAL double — no trig, no rounding needed.

    For great-circle semantics at this shape see
    :func:`operators.knn.knn_geo` (haversine path); planar degrees keep
    the contract gate exact and suffice for band radii << 1 degree."""
    import math

    grid = G.get_grid(grid_name)
    ring = max(int(math.ceil(float(radius_deg) / grid.tile_deg)), 0)
    xb, yb = G._X_BITS, G._Y_BITS
    cell = cell_expr(grid, F.col(lon_col), F.col(lat_col))
    pts = points.select(
        F.col(id_col).alias("id"), F.col(lon_col).alias("lon"),
        F.col(lat_col).alias("lat"), cell.alias("__cell"),
        *[F.col(c).alias(f"b_{c}") for c in carry],
    )
    x = F.shiftright("__cell", yb).bitwiseAND(F.lit(G._XY_MASK))
    y = F.col("__cell").bitwiseAND(F.lit(G._XY_MASK))
    hi = F.lit(int(grid.index) << (xb + yb)).cast("long")
    neighbors = F.array(*[
        hi + F.shiftleft(x + dx, yb) + (y + dy)
        for dx in range(-ring, ring + 1)
        for dy in range(-ring, ring + 1)
    ])
    left = pts.select(
        F.col("id").alias("a"), F.col("lon").alias("a_lon"),
        F.col("lat").alias("a_lat"), F.explode(neighbors).alias("__cell"),
        *[F.col(f"b_{c}").alias(f"a_{c}") for c in carry],
    )
    dx_ = F.col("a_lon") - F.col("lon")
    dy_ = F.col("a_lat") - F.col("lat")
    d2 = dx_ * dx_ + dy_ * dy_
    r2 = float(radius_deg) * float(radius_deg)
    return (
        left.join(pts, "__cell")
        .filter(F.col("a") < F.col("id"))
        .withColumn("dist2", d2)
        .filter(F.col("dist2") <= F.lit(r2))
        .select(
            "a", F.col("id").alias("b"), "dist2",
            *[f"a_{c}" for c in carry], *[f"b_{c}" for c in carry],
        )
    )


def dbscan_labels(
    points: DataFrame,
    eps_deg: float,
    min_pts: int,
    grid_name: str,
    id_col: str = "image_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """DBSCAN (Ester et al. 1996), composed from two existing engines:
    the epsilon-neighborhood range join (:func:`geo_distance_pairs`,
    never a cross join) and the components engine's ``hash_to_min``
    pointer-jumping closure (O(log diameter) rounds). Exact DBSCAN
    semantics, fully relational, no sampling:

    - **core**: >= ``min_pts`` points within eps (self included);
    - **cluster**: connected components of the core-core epsilon graph,
      labeled by min member id;
    - **border**: non-core within eps of a core — attached to its
      lowest-labeled core neighbor (the deterministic tie rule);
    - **noise**: everything else, label NULL.

    Returns (id, role, label). Border attachment is a deterministic
    variant of the classic algorithm (order-independent, so results are
    reproducible across cluster sizes — plain DBSCAN's border ties
    depend on visit order, which a distributed run cannot honor)."""
    from .components import hash_to_min

    pairs = geo_distance_pairs(
        points, eps_deg, grid_name, id_col, lon_col, lat_col
    ).select("a", "b")
    sym = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("__n"))
    ids = points.select(F.col(id_col).alias("id"))
    core = (
        ids.join(deg.withColumnRenamed("a", "id"), "id", "left")
        .filter(F.coalesce(F.col("__n"), F.lit(0)) + 1 >= min_pts)
        .select("id")
    )
    core_edges = (
        sym.join(core.withColumnRenamed("id", "a"), "a")
        .join(core.withColumnRenamed("id", "b"), "b")
        .select("a", "b")
    )
    labeled_core = hash_to_min(core, core_edges).select(
        F.col("id"), F.col("component").alias("label")
    )
    border = (
        sym.join(core.select(F.col("id").alias("b")), "b")  # neighbor is core
        .join(labeled_core.select(F.col("id").alias("b"), "label"), "b")
        .groupBy("a").agg(F.min("label").alias("label"))
        .join(core.withColumnRenamed("id", "a"), "a", "left_anti")
        .select(F.col("a").alias("id"), "label")
    )
    return (
        ids.join(labeled_core.withColumn("role", F.lit("core")), "id", "left")
        .join(
            border.withColumnRenamed("label", "__blabel")
            .withColumn("__brole", F.lit("border")),
            "id", "left",
        )
        .select(
            "id",
            F.coalesce("role", "__brole", F.lit("noise")).alias("role"),
            F.coalesce("label", "__blabel").alias("label"),
        )
    )


def geometry_dedup_keepers(
    aoi: DataFrame,
    grid_name: str,
    iou_threshold: float = 0.8,
) -> DataFrame:
    """Geometry near-dup KEEPERS — the dedup family's keeper rule
    (operators/dedup.py `minhash_dedup_keepers`) applied to polygons:
    re-submitted / re-digitized AOIs whose interiors overlap with
    IoU >= ``iou_threshold`` collapse to the lowest id. Returns
    ``(aoi_id, keeper, iou)`` for every polygon: keeper = the smallest
    id among its at-or-above-threshold overlap partners (itself when
    none), ``iou`` = the overlap with that keeper (1.0 for self).

    One :func:`polygon_pair_overlap` pass (cell equi-join candidates,
    exact slab-scanline areas) + one windowed min — output O(polygons)
    no matter how duplicated the batch is, the same scale contract as
    the text/image keeper operators. For full transitive closure
    compose the thresholded pairs with ``components.hash_to_min``
    exactly like :func:`dissolve_labels`."""
    from pyspark.sql import Window

    pairs = polygon_pair_overlap(aoi, grid_name).filter(
        F.col("iou") >= F.lit(float(iou_threshold))
    )
    # candidate keepers for b: any >=tau partner a < b
    cand = pairs.select(
        F.col("b").alias("aoi_id"), F.col("a").alias("keeper"), "iou"
    )
    w = Window.partitionBy("aoi_id").orderBy(F.asc("keeper"))
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        aoi.select("aoi_id")
        .join(best, "aoi_id", "left")
        .select(
            "aoi_id",
            F.coalesce(F.col("keeper"), F.col("aoi_id")).alias("keeper"),
            F.coalesce(F.col("iou"), F.lit(1.0)).alias("iou"),
        )
    )


GEOM_PROPS_SCHEMA = (
    "aoi_id string, n_parts int, n_rings int, n_vertices int, "
    "minx double, miny double, maxx double, maxy double, "
    "area_deg2 double, perimeter_deg double"
)


def geometry_props(aoi_df: DataFrame, round_to: int = 6) -> DataFrame:
    """Per-geometry property extraction — the vector-side profiling
    API (shapely's ``.area`` / ``.length`` / ``.bounds`` surface, the
    reference leans on shapely for these; reference geometry.py): part/
    ring/vertex counts, bbox, even-odd region area (degrees^2 — exact
    on self-intersecting bowties where plain shoelace cancels to 0),
    and boundary perimeter. Used to validate ingests, size rasterize
    work (vertex count bounds kernel cost), and route big AOIs to the
    distributed cover path.

    One ``mapInPandas`` over the WKB column — embarrassingly parallel,
    O(1) output per geometry, no shuffle. Area/perimeter are rounded
    to ``round_to`` decimals so twins replaying the analytic values
    compare exactly."""
    from ..functions import geometry as geo

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                g = geo.wkb_loads(bytes(r.geom_wkb))
                e = geo.all_edges(g)
                per = float(
                    np.sqrt((e[:, 2] - e[:, 0]) ** 2 + (e[:, 3] - e[:, 1]) ** 2).sum()
                ) if len(e) else 0.0
                b = geo.bounds(g) if not geo.is_empty(g) else (None,) * 4
                rows.append(
                    (
                        r.aoi_id,
                        len(g),
                        sum(len(p) for p in g),
                        sum(len(ring) for p in g for ring in p),
                        *[float(v) if v is not None else None for v in b],
                        round(geo.region_area(g), round_to),
                        round(per, round_to),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "aoi_id", "n_parts", "n_rings", "n_vertices",
                    "minx", "miny", "maxx", "maxy",
                    "area_deg2", "perimeter_deg",
                ],
            )

    return aoi_df.select("aoi_id", "geom_wkb").mapInPandas(run, GEOM_PROPS_SCHEMA)


# ---------------------------------------------------------------------------
# Distributed convex hull (Andrew 1979 monotone chain + Akl-Toussaint 1978
# relational prune)
# ---------------------------------------------------------------------------

_HULL_DIRS = (
    ("x", "y"),            # E : max x
    ("x + y", "x"),        # NE: max x+y
    ("y", "x"),            # N : max y
    ("y - x", "y"),        # NW: max y-x
    ("-x", "y"),           # W : min x
    ("-x - y", "x"),       # SW: min x+y
    ("-y", "x"),           # S : min y
    ("x - y", "x"),        # SE: max x-y
)


def _hull_chain(pts: "list[tuple[int, int]]") -> "list[tuple[int, int]]":
    """Strict convex hull (collinear mid-edge points dropped) of distinct
    integer points, CCW, via Andrew's monotone chain. Exact: int cross
    products only."""
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return pts

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def convex_hull_stats(
    points: DataFrame,
    group_col: str,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-group convex hull of integer-coordinate points, scaled the
    classic two-phase way:

    - **Akl-Toussaint prune (relational)**: one groupBy computes the 8
      directional extreme points (``max(struct(dot, x, y))`` — the
      lexicographic struct max keeps tie-breaks deterministic), whose
      polygon is INSCRIBED in the hull; a broadcast join back drops
      every point strictly inside it. On uniform data that eliminates
      ~all points with one map-side-combinable agg + one codegen
      filter — the only full-data passes. No hull vertex is ever lost:
      vertices lie on the hull boundary, which the inscribed polygon's
      strict interior cannot touch.
    - **Monotone chain (kernel)**: the O(survivors log survivors) exact
      chain per group in applyInPandas, integer cross products only.

    Output is deliberately ORDER-FREE so a DuckDB twin can verify it
    without reproducing vertex order: ``(group, n_points distinct,
    n_hull, sum_hx, sum_hy, area2)`` with ``area2 = |shoelace|`` exact
    in int64. Strict-hull semantics: collinear mid-edge points are not
    vertices (matches the NOT-EXISTS-triangle SQL characterization)."""
    g = group_col
    pts = (
        points.selectExpr(
            g,
            f"CAST({x_col} AS BIGINT) AS x",
            f"CAST({y_col} AS BIGINT) AS y",
        )
        .filter("x IS NOT NULL AND y IS NOT NULL")
        .distinct()
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_points")]
    for i, (dot, tie) in enumerate(_HULL_DIRS):
        aggs.append(
            F.expr(f"max(struct({dot} AS d, {tie} AS t, x, y))").alias(f"a{i}")
        )
    anchors = pts.groupBy(g).agg(*aggs)
    edges = []
    for i in range(8):
        a, b = f"a{i}", f"a{(i + 1) % 8}"
        # skip degenerate (duplicate-anchor) edges; strict-inside test
        edges.append(
            f"(({a}.x = {b}.x AND {a}.y = {b}.y) OR "
            f"(({b}.x - {a}.x) * (y - {a}.y) - "
            f"({b}.y - {a}.y) * (x - {a}.x)) > 0)"
        )
    inside = " AND ".join(edges)
    # a point equal to any anchor is a candidate by definition — this
    # also covers the all-edges-degenerate case (a single-point group
    # would otherwise read as "strictly inside" its own zero-area hull)
    is_anchor = " OR ".join(
        f"(x = a{i}.x AND y = a{i}.y)" for i in range(8)
    )
    cand = (
        pts.join(F.broadcast(anchors), g)
        .filter(f"({is_anchor}) OR NOT ({inside})")
        .select(g, "x", "y")
    )

    def chain(pdf: pd.DataFrame) -> pd.DataFrame:
        hull = _hull_chain(list(zip(pdf["x"].tolist(), pdf["y"].tolist())))
        n = len(hull)
        area2 = 0
        if n >= 3:
            for k in range(n):
                x1, y1 = hull[k]
                x2, y2 = hull[(k + 1) % n]
                area2 += x1 * y2 - x2 * y1
        return pd.DataFrame(
            {
                g: [pdf[g].iloc[0]],
                "n_hull": [n],
                "sum_hx": [sum(p[0] for p in hull)],
                "sum_hy": [sum(p[1] for p in hull)],
                "area2": [abs(area2)],
            }
        )

    gtype = dict(pts.dtypes)[g]
    schema = (
        f"{g} {gtype}, n_hull long, sum_hx long, sum_hy long, area2 long"
    )
    hulls = cand.groupBy(g).applyInPandas(chain, schema)
    return (
        anchors.select(g, "n_points")
        .join(hulls, g)
        .select(g, "n_points", "n_hull", "sum_hx", "sum_hy", "area2")
    )
