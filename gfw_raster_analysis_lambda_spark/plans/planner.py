"""Planner: ZonalQuery -> executable DataFrame pipeline.

The reference's coordinator (tile fan-out, DynamoDB partials, polling,
merge — reference tiling.py + results_store.py) is replaced by one Spark
plan:

  aoi -> polygon_to_cells                           [J1: theta -> equi join]
      -> AOI-cell lookup per cell, salted when hot  [skew, _aois_per_slice]
      -> pruned tile scan clustered by cell_id      [partition-pruned scan]
      -> per-cell kernel over the cell's AOIs       [operators.zonal]
      -> groupBy(aoi_id, group cols).sum            [A6 final merge, Catalyst]
      -> decode / order / limit                     [P11, O1, O2]

One executor, :func:`run_zonal_queries`, runs every request: a single
query (:func:`run_zonal_query`) is a one-member query set. Each target
grid of the set gets one kernel pass whose rows carry every member's
partials in one layout (``_q`` tags the query, ``vals`` packs its values,
:data:`zonal.KERNEL_SCHEMA`); :func:`split_multi_partials` takes a
member's rows back out for its finalize. Every route below runs that
kernel; they differ only in where the AOI-cell list lives and how the
tile rows reach the kernel.

Reading the AOI batch. The frame is scanned ONCE per target grid: one
bounded query (:func:`plans.driver.read_bounded`) returns either all its
rows or the verdict that the batch is over the driver bounds
(``DRIVER_ENUM_AOI_LIMIT`` rows, ``DRIVER_ENUM_WKB_BYTES`` geometry
bytes); over-bound geometry never reaches the driver. Within the bounds
the driver enumerates polygon->cells itself (aborting past
``BROADCAST_CELL_LIMIT`` AOI-cells), ships the lookup as a broadcast, and
the result is small enough to be sorted in one task instead of through a
range-partitioned global sort. The kernel stage is then the salted cell
plan (one shuffle of tile rows by cell) or the colocated stream over a
cell-sorted layout (no shuffle of tile bytes). Small frames the planner
builds itself (cell lists, the salt dimension, null tile rows) are
``LocalRelation``s, so they never cost a Python job.

Over the bounds (:func:`_build_partials_over_bound`). Nothing is
collected: polygon->cells runs once for the whole query set in a pandas
UDF (:func:`aoi_cells`) whose frame a held query set persists (see
:func:`run_zonal_query`); the AOI-cell rows are salted per cell by a
window count, the tile rows are replicated per salt of their cell, and
``groupBy(cell_id, _salt).cogroup(...)`` feeds each cell's tiles and AOI
slice to the kernel. A cell with AOIs but no tiles arrives with an empty
tile side, which FROM data queries zero-fill. The checkpoint layer runs
its resume remainder through the same route.

The driver route. A job of Python tasks costs ~0.2 s on a 4-core box
whatever its input (a JVM-only job ~0.1 s), plus ~0.07 s of a core per
task. That is with ``worker_daemon`` keeping Spark's archives off the
workers' path; before, each task's ``importlib.invalidate_caches()``
re-read them, ~0.25 s per task. So a small request runs the cell kernel
on the driver instead (:func:`_driver_cell_plan`): one JVM-only Arrow
scan of the pruned tile rows, the kernel per cell, and the partials
handed to the Catalyst finalize as a one-partition ``LocalRelation`` (no
exchange, one job).
The route is taken when the strategy is auto, no query of the grid
selects pixels, the AOI batch has an :class:`AoiIndex`, and the kernel
work (AOI-cell pairs x cell pixels) is at most ``DRIVER_KERNEL_PX_LIMIT``.
Explicit strategies, pixel selects and bigger batches keep the
distributed kernel plans, and so do direct callers of
:func:`build_partials_with_lookup`.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from ..functions import geometry as geo
from ..functions import grid as G
from ..functions.expressions import compile_expression
from ..operators import zonal
from ..sources.catalog import (
    FROM_DATA,
    DataEnvironment,
    DerivedLayer,
    MultiDerivedLayer,
    SourceLayer,
)
from .driver import local_frame, read_bounded
from .ir import Aggregate, ZonalQuery

BROADCAST_CELL_LIMIT = 2_000_000  # aoi-cell rows we are happy to broadcast


def _in_long_set(col: str, ids) -> "F.Column":
    """``col IN (<literal longs>)`` as ONE parsed SQL expression.
    ``Column.isin`` builds a py4j literal per element — one driver<->JVM
    round trip each, ~1 s of plan-construction time for a 2k-cell AOI
    batch. One expr string is one round trip regardless of set size."""
    return F.expr(f"`{col}` IN ({','.join(str(int(c)) for c in ids)})")


# ---------------------------------------------------------------------------
# J1: polygon -> cells (the spatial join key derivation)
# ---------------------------------------------------------------------------

def aoi_cells(aoi_df: DataFrame, grid_name: str) -> DataFrame:
    """(aoi_id, geom_wkb) -> (aoi_id, geom_wkb, cell_id) — one row per
    intersecting cell. The pandas UDF enumerates cells per polygon in a
    batch (H3 polygon_to_cells role); explode turns the intersects-join
    into an equi-join on cell_id."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def cells_of(geoms: pd.Series) -> pd.Series:
        grid = G.get_grid(grid_name)
        out = []
        for wkb in geoms:
            cells = G.polygon_to_cells(grid, geo.wkb_loads(bytes(wkb)))
            out.append(cells.tolist())
        return pd.Series(out)

    return (
        aoi_df.withColumn("cell_id", F.explode(cells_of("geom_wkb")))
    )


# ---------------------------------------------------------------------------
# Full pipeline
# ---------------------------------------------------------------------------

def run_zonal_query(
    spark: SparkSession,
    images: DataFrame,  # must carry layer + cell_id (sources.images.with_derived_keys)
    aoi_df: DataFrame,  # (aoi_id, geom_wkb)
    query: ZonalQuery,
    env: DataEnvironment,
    grid_name: str | None = None,
    strategy: str | None = None,
    aoi_index: "AoiIndex | None" = None,
) -> DataFrame:
    """Execute one zonal query; returns the final result DataFrame with
    one block of rows per AOI (column ``aoi_id`` first). The query runs as
    a one-member set of :func:`run_zonal_queries`, which documents
    ``strategy`` and ``aoi_index``. The caller gets no handle to release
    a cache with, so nothing is left persisted: over the driver bounds the
    AOI-cell frame is not cached, and its two reads in the kernel stage
    each run polygon->cells."""
    return _run_set(spark, images, aoi_df, {"q": query}, env, grid_name, strategy, aoi_index, held=False)["q"]


VALUE_ROLLUP_FUNCS = ("percentile", "mode", "count_distinct", "variance", "stddev")


def _rollup_plan(query: ZonalQuery, env):
    """PERCENTILE/MEDIAN/MODE/COUNT(DISTINCT) as PLAN REWRITES, no kernel
    changes: each is group-by-value counts (the kernel's native bincount
    partial, shuffle volume O(distinct values) not O(pixels)) followed by
    a cheap relational rollup partitioned by the query's group keys:

    - ``percentile``: windowed cumulative-count selection. Discrete-
      percentile semantics match DuckDB's ``quantile_disc`` exactly: the
      1-based ``ceil(p * n)``-th ordered element. Raw numeric layers only.
    - ``mode``: per-(aoi, groups) argmax of the value counts; ties break
      to the SMALLEST value (deterministic, oracle-matchable). Categorical
      layers are allowed — counts are re-summed per decoded meaning first,
      so a many-raw-to-one-meaning table still yields the majority meaning.
    - ``count_distinct``: count of distinct (decoded) values per group.

    SEVERAL such selectors are allowed in one query when they all read
    the SAME layer (``PERCENTILE(x, .25), MEDIAN(x), COUNT(DISTINCT x)``):
    they share one kernel pass and one counts frame, and their per-key
    results join back on the group keys (tiny frames, broadcast-sized
    per key-group). No other aggregates, no isoweek/pixel/order/limit.

    Returns ``(inner_query, finish)`` where ``inner_query`` is the plain
    count-by-value :class:`ZonalQuery` (executable standalone OR as one
    member of a fused :func:`run_zonal_queries` pass — its partials are
    the same bincount rows the fused kernel already produces) and
    ``finish(counts_df)`` maps the finalized inner result to the rollup's
    final frame."""
    from functools import reduce

    aggs = query.aggregates
    if (
        not aggs or query.select_pixels or query.isoweek_layers
        or query.order_by or query.limit
        or any(a.func not in VALUE_ROLLUP_FUNCS for a in aggs)
        or len({a.layer for a in aggs}) != 1
    ):
        raise ValueError(
            "percentile/mode/count_distinct queries take exactly one such "
            "selector (or several over the SAME layer), no other "
            "aggregates, and no isoweek/pixel/order/limit clauses"
        )
    a0 = aggs[0]
    layer = env.get_layer(a0.layer)
    if any(a.func == "percentile" for a in aggs) and (
        getattr(layer, "decode_expression", None) or getattr(layer, "raster_table", None)
    ):
        raise ValueError(
            "percentile is defined over raw numeric layers; "
            f"{a0.layer!r} has a decode/meaning mapping"
        )
    if any(a.func in ("variance", "stddev") for a in aggs):
        if getattr(layer, "decode_expression", None) or getattr(layer, "raster_table", None):
            raise ValueError(
                "variance/stddev are defined over raw numeric layers; "
                f"{a0.layer!r} has a decode/meaning mapping"
            )
        dt = str(getattr(layer, "dtype", "") or "")
        if not (dt.startswith("int") or dt.startswith("uint")):
            # the rewrite promises ENGINE-EXACT results: it folds the
            # bincount into integer (n*s2 - s1^2) before the one float
            # division, which requires integer pixel values. Scale float
            # layers to integer units (the repo-wide cross-engine-float
            # rule) instead of summing doubles in shuffle order.
            raise ValueError(
                f"variance/stddev need an integer raw layer; {a0.layer!r} "
                f"is {dt or 'unknown'} — scale to integer units first"
            )
    if a0.layer in query.group_layers:
        raise ValueError(f"{a0.func} layer cannot also be a GROUP BY key")
    if len({a.alias for a in aggs}) != len(aggs):
        raise ValueError("value-rollup selectors need distinct aliases")
    inner = ZonalQuery(
        base_layer=query.base_layer,
        group_layers=tuple(query.group_layers) + (a0.layer,),
        aggregates=(Aggregate("count", None, "__pc_n"),),
        where=query.where,
    )
    vcol = a0.layer
    keys = ["aoi_id"] + list(query.group_layers)

    def finish(counts: DataFrame) -> DataFrame:
        # ``counts`` is the FINAL (aoi_id, <groups>, <layer>, __pc_n)
        # frame — group-by-value counts straight off the kernel's
        # bincount partial (single-path run_zonal_query or one fused-set
        # member's finalize)
        if len(aggs) == 1:
            return _rollup_one(counts, aggs[0], vcol, keys)
        # shared counts: cache for the per-selector rollups, then eagerly
        # materialize the (tiny, per-key) joined result and RELEASE the
        # cache — no pinned storage survives the call (the round-2 lesson
        # behind ZonalResultSet.close(), applied here where the result is
        # small enough to checkpoint eagerly instead of handing back a
        # handle)
        cached = counts.persist()
        try:
            results = [_rollup_one(cached, a, vcol, keys) for a in aggs]
            # NULL-SAFE reduce-join: a GROUP BY layer with a raster_table
            # but default_meaning=None decodes unmapped raws to NULL, and
            # NULL keys never match under plain equality — such groups
            # would silently vanish from multi-selector results while the
            # single-selector path keeps them. eqNullSafe treats
            # NULL = NULL as a match.
            out = reduce(lambda l, r: _join_nullsafe(l, r, keys), results)
            out = out.select(
                *keys, *[a.alias for a in aggs]
            ).localCheckpoint(eager=True)
        finally:
            cached.unpersist()
        return out

    return inner, finish


def _join_nullsafe(l: DataFrame, r: DataFrame, keys: list) -> DataFrame:
    """Inner join on ``keys`` with NULL-safe equality, keeping one copy of
    each key column (the left's)."""
    from functools import reduce

    renamed = r
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"__r_{k}")
    cond = reduce(
        lambda acc, k: acc & l[k].eqNullSafe(renamed[f"__r_{k}"]),
        keys[1:],
        l[keys[0]].eqNullSafe(renamed[f"__r_{keys[0]}"]),
    )
    return l.join(renamed, cond).drop(*[f"__r_{k}" for k in keys])


def _rollup_one(partials, a: Aggregate, vcol: str, keys: list) -> DataFrame:
    """One rollup selector's per-key result frame from the shared
    group-by-value counts."""
    if a.func in ("variance", "stddev"):
        # population variance from the bincount, ALL-INTEGER until the
        # final division: var = (n*s2 - s1^2) / n^2 with s1 = sum(c*v),
        # s2 = sum(c*v^2). Integer sums are shuffle-order-independent, so
        # the result is bit-identical to any other engine evaluating the
        # same closed form (the float-summation-order trap in the repo
        # memory notes); sqrt is IEEE-correctly-rounded, so stddev
        # inherits the exactness.
        # Accumulate in decimal(38,0), not int64: n*s2 - s1^2 wraps int64
        # silently (non-ANSI) once a uint8 group passes ~3.8e8 pixels —
        # ~5800 256-px tiles, tiny against the 100-TB design point. The
        # per-row products stay in int64 (pc_n is a per-task bincount,
        # <= pixels-per-task ~25M, times v^2 <= 2^32 stays < 2^63); the
        # cross-row sums and the final closed form are exact decimals.
        # Worst case bound: n <= 1e14 px * s2 <= 4.3e23 -> 4.3e37 < 1e38.
        v = F.col(vcol).cast("long")
        dec = "decimal(38,0)"
        stats = partials.groupBy(*keys).agg(
            F.sum(F.col("__pc_n").cast(dec)).cast(dec).alias("__n"),
            F.sum((F.col("__pc_n") * v).cast(dec)).cast(dec).alias("__s1"),
            F.sum((F.col("__pc_n") * v * v).cast(dec)).cast(dec).alias("__s2"),
        )
        var = (
            (F.col("__n") * F.col("__s2") - F.col("__s1") * F.col("__s1"))
            .cast("double") / (F.col("__n") * F.col("__n")).cast("double")
        )
        out = F.sqrt(var) if a.func == "stddev" else var
        return stats.select(*keys, out.alias(a.alias))
    if a.func in ("mode", "count_distinct"):
        # collapse duplicate value rows first: a raster_table can map many
        # raw values to one decoded meaning, and the majority/distinct set
        # is defined over MEANINGS. Re-grouping on the same leading keys
        # reuses the finalize shuffle's hash partitioning (no new Exchange).
        counts = partials.groupBy(*keys, vcol).agg(F.sum("__pc_n").alias("__pc_n"))
        if a.func == "count_distinct":
            return counts.groupBy(*keys).agg(
                F.count(F.lit(1)).cast("long").alias(a.alias)
            )
        w_top = Window.partitionBy(*keys).orderBy(
            F.col("__pc_n").desc(), F.col(vcol).asc()
        )
        return (
            counts.withColumn("__rn", F.row_number().over(w_top))
            .filter(F.col("__rn") == 1)
            .select(*keys, F.col(vcol).alias(a.alias))
        )
    w_cum = (
        Window.partitionBy(*keys).orderBy(F.col(vcol))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(*keys)
    w_rn = Window.partitionBy(*keys).orderBy(F.col(vcol))
    ranked = (
        partials
        .withColumn("__cum", F.sum("__pc_n").over(w_cum))
        .withColumn("__tot", F.sum("__pc_n").over(w_tot))
    )
    return (
        # epsilon guards binary-float overshoot: 0.07*100 = 7.0000000000000009
        # in doubles, and naive ceil would pick the 8th element where
        # quantile_disc picks the 7th. RELATIVE epsilon (a few hundred
        # ulps) plus an absolute floor: a fixed 1e-9 is smaller than one
        # ulp of p*tot once totals pass ~4.5e6 pixels, letting the
        # off-by-one reappear at raster scale
        ranked.filter(
            F.col("__cum") >= F.ceil(
                F.lit(float(a.param)) * F.col("__tot")
                - F.greatest(
                    F.lit(1e-9),
                    F.lit(float(a.param)) * F.col("__tot") * F.lit(1e-13),
                )
            )
        )
        .withColumn("__rn", F.row_number().over(w_rn))
        .filter(F.col("__rn") == 1)
        .select(*keys, F.col(vcol).cast("double").alias(a.alias))
    )


# ---------------------------------------------------------------------------
# Cell-clustered kernel plans (decode-once-per-cell; see operators.zonal)
# ---------------------------------------------------------------------------

DRIVER_ENUM_AOI_LIMIT = 100_000  # AOI rows enumerated driver-side
DRIVER_ENUM_WKB_BYTES = 256 * 2**20  # total geometry bytes collected driver-side
# kernel work (AOI-cell pairs x cell pixels) an auto-strategy aggregate
# request runs on the driver instead of in Python tasks: 32 AOI-cells of
# 256^2 px. On a 4-core box (median of 5 warm requests per size and
# route) the driver route wins at every size up to 64 AOI-cells and
# breaks even between ~64 and ~128 (~3-4 ms per AOI-cell on one core
# against ~0.07 s per Python task with worker_daemon; it was ~64-190
# against ~0.3 s per task before). The margin keeps long serial kernels
# off the driver, which concurrent requests share.
DRIVER_KERNEL_PX_LIMIT = 32 * 256 * 256


def _fits_driver_kernel(idx: "AoiIndex", grid_name: str) -> bool:
    """Whether ``idx``'s kernel work is within ``DRIVER_KERNEL_PX_LIMIT``."""
    px = G.get_grid(grid_name).chunk_px ** 2
    work = 0
    for _, aois in idx.lookup.value.values():
        work += len(aois) * px
        if work > DRIVER_KERNEL_PX_LIMIT:
            return False
    return True


# Hot-cell salting, one rule on every route (the driver lookup and
# _salted_aoi_cells). A cell's kernel work is ``1 + its AOIs`` full-tile
# passes: every AOI that does not cover the cell rasterizes and aggregates
# a full mask (tools/profile_kernel.py on the batch workload, seed 1, three
# runs on a 4-core VM: 1.6-1.9 ms per cell + 0.9-1.2 ms per AOI, r^2
# 0.96-0.97 over 323 cells). A cell whose work is over SALT_TARGET passes
# is split into the fewest slices within it. The 64-AOI count rule this
# replaced split the batch workload's 68-AOI hot cell (69 passes, ~76 ms),
# and the salted plan cost more than the split saved: traced, one request
# ran 10 Spark jobs instead of 8 and 0.4-0.7 s longer. 256 passes (~0.28 s
# of a core, about four Python tasks' fixed cost) keeps such cells whole;
# no cell between 69 and 256 passes has been measured.
SALT_TARGET = 256


def _aois_per_slice() -> int:
    """The most AOIs one slice of a hot cell holds: a cell of ``a`` AOIs
    runs as ``n_salt = ceil(a / per)`` slices ``aois[s::n_salt]``, so each
    slice's work (1 + its AOIs) is within ``SALT_TARGET``, a cell within
    it is never split and a slice holds at least one AOI."""
    return max(1, SALT_TARGET - 1)


def _aoi_lookup_from_aois(spark: SparkSession, rows: list, grid_name: str,
                          cell_limit: int | None = None):
    """Driver-side polygon->cells enumeration — the reference's coordinator
    does exactly this (tiling.py:220-237 enumerates tiles in-process). For
    AOI batches within the broadcast bound this avoids a whole Spark job
    (pandas-UDF workers + collect) per query; the distributed ``aoi_cells``
    path remains for larger batches. ``rows`` are collected
    (aoi_id, geom_wkb) rows.

    Returns ``(lookup, salted)``: a broadcast ``{cell_id: (n_salt,
    [(aoi_id, wkb), ...])}`` with each cell's AOIs sorted by id, and the
    ``{cell_id: n_salt}`` of the hot cells (``n_salt > 1``,
    :func:`_aois_per_slice`) whose AOI loop the planner splits across
    salted replicas.

    With ``cell_limit`` set, enumeration aborts as soon as the total
    aoi-cell count exceeds it and returns ``(None, None)`` — the caller
    must route to the distributed cogroup plan instead of holding an
    over-bound lookup on the driver (a single ">1 billion ha" AOI, the
    reference's own envelope, would otherwise OOM here)."""
    grid = G.get_grid(grid_name)
    by_cell: dict[int, list] = {}
    total = 0
    for r in rows:
        wkb = bytes(r["geom_wkb"])
        cells = G.polygon_to_cells(grid, geo.wkb_loads(wkb)).tolist()
        total += len(cells)
        if cell_limit is not None and total > cell_limit:
            return None, None
        for c in cells:
            by_cell.setdefault(c, []).append((r["aoi_id"], wkb))
    per = _aois_per_slice()
    lookup: dict[int, tuple] = {}
    salted: dict[int, int] = {}
    for c, lst in by_cell.items():
        lst.sort(key=lambda t: t[0])
        n_salt = -(-len(lst) // per)
        lookup[c] = (n_salt, lst)
        if n_salt > 1:
            salted[c] = n_salt
    return spark.sparkContext.broadcast(lookup), salted


class AoiIndex:
    """Driver-prepared AOI->cell index, reusable across queries.

    A real batch workload runs MANY queries over ONE geometry list — the
    reference enumerates tiles once per request and feeds every analysis
    from that list (reference tiling.py:220-237). Preparing the index once
    amortizes the per-query AOI collect + polygon->cells enumeration +
    broadcast (~1-2 s of driver time per query on a 512-AOI batch) across
    the whole query set. Only valid for the grid it was built on."""

    __slots__ = ("grid_name", "lookup", "salted")

    def __init__(self, grid_name: str, lookup, salted: dict):
        self.grid_name = grid_name
        self.lookup = lookup          # Broadcast[{cell: (n_salt, [(aoi, wkb)...])}]
        self.salted = salted          # {cell_id: n_salt} hot-cell summary

    def unpersist(self):
        self.lookup.unpersist()


def prepare_aoi_index(
    spark: SparkSession,
    aoi_df: DataFrame,
    grid_name: str,
) -> AoiIndex | None:
    """Build an :class:`AoiIndex` for ``aoi_df`` on ``grid_name``; returns
    ``None`` when the batch exceeds a driver bound (the executor then
    takes the distributed cogroup route, :func:`_build_partials_over_bound`).

    The AOI frame is read once: one bounded query decides the row-count
    AND total WKB-bytes bounds and returns the rows, so a batch of
    million-vertex country polygons is rejected without a single vertex
    reaching the driver."""
    rows = read_bounded(
        aoi_df, ["aoi_id", "geom_wkb"], DRIVER_ENUM_AOI_LIMIT,
        bytes_col="geom_wkb", max_bytes=DRIVER_ENUM_WKB_BYTES,
    )
    if rows is None:
        return None
    lookup, salted = _aoi_lookup_from_aois(spark, rows, grid_name, cell_limit=BROADCAST_CELL_LIMIT)
    if lookup is None:
        return None
    return AoiIndex(grid_name, lookup, salted)


def _salted_aoi_cells(cells: DataFrame) -> DataFrame:
    """An AOI-cell frame ``(aoi_id, geom_wkb, cell_id)`` (:func:`aoi_cells`)
    with ``_n_salt`` and ``_salt``, computed distributed: ``n_salt =
    ceil(AOIs of the cell / per)`` (:func:`_aois_per_slice`) by a window
    count, and each AOI's slot is the one ``aois[s::n_salt]`` gives it in
    the broadcast lookup (the cell's AOIs sorted by id)."""
    per = _aois_per_slice()
    w = Window.partitionBy("cell_id")
    return (
        cells
        .withColumn("_n_salt", F.ceil(F.count("*").over(w) / per).cast("int"))
        .withColumn(
            "_salt", ((F.row_number().over(w.orderBy("aoi_id")) - 1) % F.col("_n_salt")).cast("int")
        )
    )


def _build_partials_over_bound(
    images: DataFrame,
    cells: DataFrame,
    queries: list,
    env: DataEnvironment,
    grid_name: str,
) -> DataFrame:
    """The kernel stage for an AOI-cell frame ``cells`` (:func:`aoi_cells`,
    or what a checkpoint resume leaves of it) that is not collected to the
    driver (module docstring, "Over the bounds"). ``cells`` is read twice
    (the tile join and the cogroup's AOI side): a persisted
    :func:`aoi_cells` frame, or a frame over one, evaluates polygon->cells
    once. The AOI-cell rows are salted (:func:`_salted_aoi_cells`),
    the tile rows are replicated once per salt of their cell (cells with
    no AOI drop out here), and a cogroup on (cell_id, _salt) hands each
    cell's tiles and AOI slice to the kernel of the whole query set, as
    on every other route."""
    spark = images.sparkSession
    cells = _salted_aoi_cells(cells)
    tiles = (
        _tile_rows(images, env, _source_layers(queries, env), grid_name)
        .join(cells.select("cell_id", "_n_salt").distinct(), "cell_id")
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.col("_n_salt") - 1)))
        .drop("_n_salt")
    )
    kernel = zonal.make_multi_cell_kernel(queries, env.to_json(), grid_name)

    def run(tiles, aois):
        aoi_list = list(zip(aois.column("aoi_id").to_pylist(), aois.column("geom_wkb").to_pylist()))
        if not tiles.num_rows:  # an AOI cell with no stored tile: zero-filled (S2)
            tiles = _null_tile_rows(tiles.schema, aois.column("cell_id").to_numpy()[:1])
        return pa.Table.from_batches([kernel(tiles, aois=aoi_list)])

    # an explicit partition count, exempt from AQE's byte-based coalescing:
    # a tile row is small on the wire and large in kernel CPU
    n = spark.sparkContext.defaultParallelism * 3
    keys = ["cell_id", "_salt"]
    aoi_side = cells.select(*keys, "aoi_id", "geom_wkb").repartition(n, *keys)
    return (
        tiles.repartition(n, *keys).groupBy(*keys)
        .cogroup(aoi_side.groupBy(*keys))
        .applyInArrow(run, from_arrow_schema(kernel.schema))
    )


def resolve_target_grid(query: ZonalQuery, env: DataEnvironment, grid_name: str | None) -> str:
    """The finest-grid rule (reference query.py:196-210): unless overridden,
    the query executes on the minimum-pixel grid among its source layers;
    coarser layers are co-registered by upsampling inside the kernel."""
    if grid_name:
        return grid_name
    names = env.source_layer_names(query.layer_names())
    grids = {env.get_layer(n).grid for n in names}
    if not grids:
        return "4/1024"
    return min(grids, key=lambda g: G.get_grid(g).pixel_size)


def _regrid_images(imgs: DataFrame, env: DataEnvironment, needed: list, target: G.Grid) -> DataFrame:
    """Attach ``src_cell_id`` and remap coarser-grid layers' rows onto the
    target grid's cell ids: each coarse tile row explodes into the
    ratio^2 finer cells it covers (pure Catalyst bit arithmetic on the
    packed (grid, x, y) cell id). Same-grid layers pass through."""
    xb, yb = G._X_BITS, G._Y_BITS
    by_grid: dict[str, list] = {}
    for n in needed:
        by_grid.setdefault(env.get_layer(n).grid, []).append(n)
    parts = []
    for gname, lnames in by_grid.items():
        sub = imgs.filter(F.col("layer").isin(lnames))
        if gname == target.name:
            parts.append(sub.withColumn("src_cell_id", F.col("cell_id")))
            continue
        src = G.get_grid(gname)
        r = G.cell_ratio(src, target)
        x = F.shiftright(F.col("cell_id"), yb).bitwiseAND(F.lit((1 << xb) - 1))
        y = F.col("cell_id").bitwiseAND(F.lit((1 << yb) - 1))
        base = F.lit(target.index << (xb + yb))
        children = F.flatten(F.transform(
            F.sequence(F.lit(0), F.lit(r - 1)),
            lambda i: F.transform(
                F.sequence(F.lit(0), F.lit(r - 1)),
                lambda j: base + F.shiftleft(x * r + i, yb) + (y * r + j),
            ),
        ))
        parts.append(
            sub.withColumn("src_cell_id", F.col("cell_id"))
            .withColumn("cell_id", F.explode(children))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


MAX_EXACT_IN_CELLS = 2048   # below this: one literal IN predicate
MAX_PRUNE_RANGES = 64       # above: OR of <= this many disjoint BETWEENs


def _gap_split_ranges(cell_ids, max_ranges: int = MAX_PRUNE_RANGES) -> list:
    """Split a cell-id set into <= max_ranges disjoint [lo, hi] runs, cut
    at the largest gaps. Packed (grid, x, y) ids are spatially ordered, so
    a real AOI batch — even a scattered one (two countries on opposite
    sides of the world) — collapses into a handful of dense runs; the
    pathological single min/max BETWEEN that spans the whole corpus only
    happens if we refuse to split. Contiguous ids (gap == 1) never split."""
    ids = np.asarray(sorted({int(c) for c in cell_ids}), dtype=np.int64)
    if ids.size == 0:
        return []
    if ids.size == 1:
        return [(int(ids[0]), int(ids[0]))]
    gaps = np.diff(ids)
    k = min(max_ranges - 1, int(gaps.size))
    if k <= 0:
        return [(int(ids[0]), int(ids[-1]))]
    cand = np.argpartition(gaps, -k)[-k:]
    splits = np.sort(cand[gaps[cand] > 1])
    ranges, start = [], 0
    for s in splits:
        ranges.append((int(ids[start]), int(ids[s])))
        start = int(s) + 1
    ranges.append((int(ids[start]), int(ids[-1])))
    return ranges


def _prune_cells(imgs: DataFrame, cell_ids: list) -> DataFrame:
    """Push the AOI-cell set into the tile scan: exact IN for small sets;
    for large ones, an OR of gap-split BETWEEN ranges (pushed to the
    parquet scan for row-group/file pruning — a scattered AOI batch scans
    its footprint, not the corpus) followed by an exact broadcast
    semi-join so non-AOI cells inside a range never cross the kernel
    shuffle either."""
    if not cell_ids:
        return imgs.filter(F.lit(False))
    if len(cell_ids) <= MAX_EXACT_IN_CELLS:
        return imgs.filter(_in_long_set("cell_id", cell_ids))
    ranges = _gap_split_ranges(cell_ids)
    cond = " OR ".join(f"(`cell_id` BETWEEN {lo} AND {hi})" for lo, hi in ranges)
    imgs = imgs.filter(F.expr(cond))
    cells_df = local_frame(
        imgs.sparkSession, {"cell_id": np.asarray(sorted({int(c) for c in cell_ids}), dtype=np.int64)}
    )
    return imgs.join(F.broadcast(cells_df), "cell_id", "left_semi")


def _with_missing_cells(spark, imgs: DataFrame, cell_ids: list) -> DataFrame:
    """Missing-cell tolerance (S2): synthesize one null tile row for each
    AOI cell with no stored tiles, so FROM_DATA queries count them. The
    present cells come to the driver in one JVM-only scan of the (pruned)
    cell column. The missing ones join the kernel's input as a one-
    partition LocalRelation, and not at all when there are none: every
    input partition of the kernel stage costs a Python task, even an
    empty one."""
    present = imgs.select("cell_id").toArrow().column(0).to_numpy()
    missing = np.setdiff1d(np.asarray(cell_ids, dtype=np.int64), present)
    if not missing.size:
        return imgs
    rows = _null_tile_rows(to_arrow_schema(imgs.schema), missing)
    return imgs.unionByName(local_frame(spark, rows, imgs.schema).coalesce(1))


def _null_tile_rows(schema: pa.Schema, cell_ids) -> pa.Table:
    """One tile row per cell with only ``cell_id`` and ``src_cell_id``
    set: the kernel zero-fills such a cell (S2)."""
    ids = pa.array(np.asarray(cell_ids, dtype=np.int64))
    return pa.table(
        [ids if f.name in ("cell_id", "src_cell_id") else pa.nulls(len(ids), f.type) for f in schema],
        schema=schema,
    )


def _cell_runs(table: pa.Table):
    """``(complete runs, trailing run)`` of a table sorted or clustered by
    ``cell_id``: one slice per cell, the last cell's rows held back."""
    ids = table.column("cell_id").to_numpy()
    bounds = [0, *(np.flatnonzero(ids[1:] != ids[:-1]) + 1).tolist(), len(ids)]
    runs = [table.slice(a, b - a) for a, b in zip(bounds[:-2], bounds[1:-1])]
    return runs, table.slice(bounds[-2])


def _driver_cell_plan(spark, imgs: DataFrame, fill_cells, kernel, schema) -> DataFrame:
    """The driver route's kernel stage. The pruned tile rows come over in
    one JVM-only Arrow scan, the kernel runs once per cell right here
    (every AOI of the cell, no salting), and its record batches go back as
    a one-partition ``LocalRelation``, whose finalize needs no exchange.
    Missing cells get their null tile row from the scanned cell set, so
    FROM data costs no extra job."""
    tiles = imgs.toArrow()
    if fill_cells is not None:
        missing = np.setdiff1d(np.asarray(fill_cells, dtype=np.int64), tiles.column("cell_id").to_numpy())
        if missing.size:
            tiles = pa.concat_tables([tiles, _null_tile_rows(tiles.schema, missing)])
    batches = []
    if tiles.num_rows:
        runs, last = _cell_runs(tiles.sort_by("cell_id"))
        batches = [kernel(t) for t in (*runs, last)]
    return local_frame(spark, pa.Table.from_batches(batches, kernel.schema), schema).coalesce(1)


def build_partials_with_lookup(
    images: DataFrame,
    lookup,  # Broadcast[{cell_id: (n_salt, [(aoi_id, wkb)...])}]
    salted: dict,
    queries: list,  # [ZonalQuery] sharing the target grid ``grid_name``
    env: DataEnvironment,
    grid_name: str,
    colocated: bool = False,
    on_driver: bool = False,
) -> DataFrame:
    """The kernel stage over an explicit AOI-cell lookup: one scan, decode
    and per-(aoi, cell) rasterize serving every query of ``queries``
    (:func:`zonal.make_multi_cell_kernel`). Output rows are NARROW: ``_q``
    tags the owning query and ``vals`` packs exactly that query's values;
    split per query with :func:`split_multi_partials`.

    The plan is the driver route (``on_driver``: the kernel runs now, see
    :func:`_driver_cell_plan`), the colocated zero-shuffle stream with
    hot-cell diversion (a cell shared by thousands of AOIs would be ONE
    serial AOI loop in one colocated task, so the cells the salting rule
    splits, ``salted``, take the salted cell plan while everything else
    streams shuffle-free) or the salted cell-clustered shuffle plan.
    FROM data queries give every AOI cell without a stored tile a null
    tile row."""
    spark = images.sparkSession
    cell_ids = list(lookup.value.keys())
    needed = _source_layers(queries, env)
    if colocated and any(env.get_layer(n).grid != grid_name for n in needed):
        raise ValueError(
            "colocated strategy requires a single-grid query (coarse-layer "
            "rows live at other cells' file positions); use strategy='cell'"
        )
    imgs = _prune_cells(_tile_rows(images, env, needed, grid_name), cell_ids)
    fill_cells = cell_ids if any(q.base_layer == FROM_DATA for q in queries) else None
    kernel = zonal.make_multi_cell_kernel(queries, env.to_json(), grid_name, lookup)
    schema = from_arrow_schema(kernel.schema)
    if on_driver:
        return _driver_cell_plan(spark, imgs, fill_cells, kernel, schema)
    if fill_cells is not None:
        imgs = _with_missing_cells(spark, imgs, fill_cells)
    if colocated and salted:
        hot = _in_long_set("cell_id", [int(c) for c in salted])
        cold_part = imgs.filter(~hot).mapInArrow(_streaming_cells(kernel), schema)
        return cold_part.unionByName(_salted_cell_plan(spark, imgs.filter(hot), salted, kernel, schema))
    if colocated:
        return imgs.mapInArrow(_streaming_cells(kernel), schema)
    return _salted_cell_plan(spark, imgs, salted, kernel, schema)


def _source_layers(queries: list, env: DataEnvironment) -> list:
    """The source layers ``queries`` read, each once, in first-use order."""
    return list(dict.fromkeys(n for q in queries for n in env.source_layer_names(q.layer_names())))


def _tile_rows(images: DataFrame, env: DataEnvironment, layers: list, grid_name: str) -> DataFrame:
    """The kernel's tile rows: the column- and layer-pruned scan (Catalyst
    pushes ``layer IN (...)`` down to the parquet/Iceberg scan), with
    ``src_cell_id``, and coarser-grid layers remapped onto ``grid_name``'s
    cells (:func:`_regrid_images`)."""
    imgs = images.select("layer", "cell_id", "bytes", "w", "h", "fmt")
    if layers:
        imgs = imgs.filter(F.col("layer").isin(layers))
    if any(env.get_layer(n).grid != grid_name for n in layers):
        return _regrid_images(imgs, env, layers, G.get_grid(grid_name))
    return imgs.withColumn("src_cell_id", F.col("cell_id"))


def split_multi_partials(partials: DataFrame, qi: int, query: ZonalQuery) -> DataFrame:
    """Project query ``qi``'s rows and columns back out of the narrow
    kernel frame: filter on the ``_q`` tag, then unpack the ``vals`` array
    positionally into the query's named columns (its partial columns,
    which :func:`finalize_partials` takes, or its pixel columns). Packed
    values are all-double; the cast restores each partial column's type
    (count partials are integral doubles, the cast is exact; null
    elements — empty-group min/max — stay NULL). SQL strings keep it to
    one py4j round trip per call (see :func:`_in_long_set`)."""
    cols = [f"CAST(vals[{j}] AS {t}) AS `{n}`" for j, (n, t) in enumerate(zonal._out_columns(query))]
    return partials.filter(f"_q = {int(qi)}").selectExpr("aoi_id", "cell_id", "_ms", *cols)


class ZonalResultSet(dict):
    """{name: result DataFrame} plus an EXPLICIT cleanup handle for the
    query set's shared state (the persisted partial and AOI-cell frames
    and the AOI-index broadcasts this call built). DataFrame-attribute
    stamping is fragile — the attribute vanishes after any further
    transformation — so the handle lives on the returned mapping itself.
    Use as a context manager, or call :meth:`close` after materializing
    the results."""

    def __init__(self, results, partials=None, indexes=(), cells=()):
        super().__init__(results)
        self._partials = partials
        self._indexes = list(indexes)
        self._cells = list(cells)

    def materialize(self, writer=None, parallel: bool = True) -> None:
        """Drive every member's final aggregation, CONCURRENTLY by
        default. The per-query finalizes are independent Spark jobs over
        the same cached partial frame, so running them from a thread pool
        overlaps their (small) shuffles instead of paying them serially —
        the batch-request wall time drops by roughly (n_queries - 1) x
        finalize-latency. The FIRST member runs alone: its action builds
        the shared partial cache as a side effect (one kernel pass,
        pipelined straight into that member's aggregation — cheaper than
        the separate count() pass this used to spend, r6), and only then
        do the remaining members run concurrently, so nothing ever races
        to build a not-yet-materialized persisted frame (which can be
        computed twice under concurrent actions). The pool's jobs carry
        the caller's job group and other local properties. ``writer``
        defaults to a noop-format write (materialize-only); pass e.g.
        ``lambda df: df.write.parquet(...)`` to land results."""
        w = writer or (
            lambda df: df.write.format("noop").mode("overwrite").save()
        )
        vals = list(self.values())
        if parallel and len(vals) > 1:
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            first = 1 if self._partials is not None else 0
            if first:
                w(vals[0])
            spark = vals[0].sparkSession
            with ThreadPoolExecutor(max_workers=min(len(vals), 8)) as ex:
                # one wrap per member: each gets its own copy of the
                # properties, which its SQL execution then sets
                futures = [ex.submit(inheritable_thread_target(spark)(w), df) for df in vals[first:]]
                for f in futures:
                    f.result()
        else:
            for df in vals:
                w(df)

    def close(self) -> None:
        if self._partials is not None:
            self._partials.unpersist()
            self._partials = None
        for idx in self._indexes:
            idx.unpersist()
        self._indexes = []
        for cells in self._cells:
            cells.unpersist()
        self._cells = []

    def __enter__(self) -> "ZonalResultSet":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def run_zonal_queries(
    spark: SparkSession,
    images: DataFrame,
    aoi_df: DataFrame,
    queries: "dict[str, ZonalQuery]",
    env: DataEnvironment,
    grid_name: str | None = None,
    strategy: str | None = None,
    aoi_index: "AoiIndex | None" = None,
) -> "dict[str, DataFrame]":
    """Execute a WHOLE query set over one AOI batch — the reference's
    request shape (each analysis request runs several canned queries over
    the same geostore list, reference lambdas run them serially) — and
    the engine's one zonal executor (:func:`run_zonal_query` runs a
    one-member set).

    The set runs one kernel pass per target grid
    (:func:`resolve_target_grid`): the AOI batch is read and enumerated
    once per grid, and the scan, tile decode and per-(aoi, cell)
    rasterize are shared by the grid's queries. Within the driver bounds
    the AOI-cell lookup is ``aoi_index`` when it was prepared on the grid
    (:func:`prepare_aoi_index` otherwise); over them one
    :func:`aoi_cells` frame feeds one salted cogroup for the grid's
    queries (module docstring, "Over the bounds"). The partial frame is
    persisted when two or more members read it off a distributed plan, so
    each member's final aggregation reads it without re-running the
    kernel.

    ``strategy`` picks the kernel stage's physical plan while the AOI
    batch is within the driver bounds:

    - ``"cell"``: one shuffle of the tile rows clustered by ``cell_id``;
      each cell is decoded ONCE and its AOIs (from a broadcast lookup) are
      looped in the kernel, with explicit salting (tile rows duplicated
      per salt) for a cell whose kernel work is over ``SALT_TARGET``
      full-tile passes (:func:`_aois_per_slice`).
    - ``"colocated"``: ZERO shuffle of tile bytes — requires the images
      input to be cell-sorted on disk (sources.images.write_images_cell_sorted);
      the kernel streams over the scan with mapInArrow and regroups cells
      within each partition. Only partial-aggregate rows ever shuffle.
      Hot cells are diverted to the salted cell plan.
    - ``None``/``"auto"``: ``"colocated"`` for a frame read off a
      cell-sorted layout, ``"cell"`` otherwise; a small aggregate set
      runs the kernel on the driver instead (module docstring, "The
      driver route").

    A grid whose queries read layers stored on another grid always takes
    the cell plan. Returns a :class:`ZonalResultSet` — a plain {name:
    result DataFrame} mapping whose ``close()`` (or context-manager exit)
    releases the persisted partial and AOI-cell frames and the AOI-index
    broadcasts this call built."""
    return _run_set(spark, images, aoi_df, queries, env, grid_name, strategy, aoi_index, held=True)


def _run_set(spark, images, aoi_df, queries, env, grid_name, strategy, aoi_index, held: bool):
    """:func:`run_zonal_queries`; ``held`` says whether the caller gets the
    :class:`ZonalResultSet` to close, which an over-bound AOI-cell frame
    is persisted only for."""
    if strategy not in (None, "auto", "cell", "colocated"):
        raise ValueError(f"unknown strategy {strategy!r}; use auto, cell or colocated")
    # value-rollup members (percentile/median/mode/count_distinct) run
    # through their PLAN REWRITE: the inner group-by-value count query
    # joins the shared kernel pass (its partials are the same bincount
    # rows the kernel already produces) and the relational finisher runs
    # on that member's finalized frame afterwards
    finishers: "dict[str, object]" = {}
    exec_list: "list[ZonalQuery]" = []
    for name, q in queries.items():
        if any(a.func in VALUE_ROLLUP_FUNCS for a in q.aggregates):
            q, finishers[name] = _rollup_plan(q, env)
        exec_list.append(q)
    by_grid: "dict[str, list[int]]" = {}
    for i, q in enumerate(exec_list):
        by_grid.setdefault(resolve_target_grid(q, env, grid_name), []).append(i)
    if aoi_index is not None and aoi_index.grid_name not in by_grid:
        raise ValueError(
            f"aoi_index was prepared on grid {aoi_index.grid_name!r} but the "
            f"queries resolve to {', '.join(map(repr, by_grid))}; prepare one per target grid"
        )
    auto = strategy in (None, "auto")
    # frames read straight off a cell-sorted layout (sources.images
    # sidecar) default to the zero-shuffle colocated scan
    colocated = strategy == "colocated" or (auto and getattr(images, "_gfw_cell_sorted", False))
    frames, built, cached, n_distributed = [], [], [], 0
    place: "dict[int, tuple[int, bool]]" = {}  # exec_list index -> (_q tag, bounded)
    for target, qis in by_grid.items():
        grid_queries = [exec_list[i] for i in qis]
        idx = aoi_index
        if idx is None or idx.grid_name != target:
            idx = prepare_aoi_index(spark, aoi_df, target)
            if idx is not None:
                built.append(idx)
        if idx is None:
            # persisted for a held set: polygon->cells runs once for both
            # reads of the frame, and close() releases it
            cells = aoi_cells(aoi_df, target)
            if held:
                cells = cells.persist()
                cached.append(cells)
            part = _build_partials_over_bound(images, cells, grid_queries, env, target)
            on_driver = False
        else:
            single_grid = all(env.get_layer(n).grid == target for n in _source_layers(grid_queries, env))
            on_driver = (
                auto and not any(q.select_pixels for q in grid_queries)
                and _fits_driver_kernel(idx, target)
            )
            part = build_partials_with_lookup(
                images, idx.lookup, idx.salted, grid_queries, env, target,
                colocated=colocated and single_grid, on_driver=on_driver,
            )
        # a grid's kernel tags its queries 0.., shifted past earlier grids'
        offset = len(place)
        frames.append(part.withColumn("_q", F.col("_q") + offset) if offset else part)
        place.update({i: (offset + j, idx is not None) for j, i in enumerate(qis)})
        n_distributed += 0 if on_driver else len(qis)
    partials = reduce(DataFrame.unionByName, frames)
    persisted = n_distributed >= 2
    if persisted:
        partials = partials.persist()
    out: "dict[str, DataFrame]" = {}
    for i, (name, q) in enumerate(zip(queries, exec_list)):
        k, bounded = place[i]
        part = split_multi_partials(partials, k, q)
        res = _finalize_pixels(part, q) if q.select_pixels else finalize_partials(part, q, env, bounded)
        out[name] = finishers[name](res) if name in finishers else res
    return ZonalResultSet(out, partials=partials if persisted else None, indexes=built, cells=cached)


def _salted_cell_plan(spark, imgs: DataFrame, salted: dict, kernel, schema) -> DataFrame:
    """The shuffle-clustered cell-kernel stage: tile rows repartitioned by
    cell (plus a salt replica per AOI slice of the hot cells in
    ``salted``, :func:`_aois_per_slice`) and fed to the kernel via
    applyInArrow."""
    group_keys = ["cell_id"]
    if salted:
        salt_dim = local_frame(spark, {
            "cell_id": np.fromiter(salted.keys(), dtype=np.int64, count=len(salted)),
            "_n_salt": np.fromiter(salted.values(), dtype=np.int32, count=len(salted)),
        })
        imgs = (
            imgs.join(F.broadcast(salt_dim), "cell_id", "left")
            .withColumn(
                "_salt",
                F.explode(F.sequence(F.lit(0), F.coalesce(F.col("_n_salt"), F.lit(1)) - 1)),
            )
            .drop("_n_salt")
        )
        group_keys = ["cell_id", "_salt"]

    def run(tiles):
        return pa.Table.from_batches([kernel(tiles)])

    n = spark.sparkContext.defaultParallelism * 3
    return imgs.repartition(n, *group_keys).groupBy(*group_keys).applyInArrow(run, schema)


def _streaming_cells(kernel):
    """mapInArrow adapter: regroup a cell-sorted batch stream into
    per-cell kernel calls. Correct whenever each cell's rows are
    contiguous within the partition's stream (guaranteed by
    write_images_cell_sorted: repartitionByRange(cell_id) makes files
    disjoint in cell ranges and sortWithinPartitions makes cells
    contiguous within each file; Arrow scan batches preserve file row
    order). The trailing run of each batch is held back in case the same
    cell continues in the next batch."""
    def run(batches):
        buf = None
        for batch in batches:
            table = pa.Table.from_batches([batch])
            if buf is not None:
                table = pa.concat_tables([buf, table])
            if not table.num_rows:
                continue
            runs, buf = _cell_runs(table)
            for t in runs:
                out = kernel(t)
                if out.num_rows:
                    yield out
        if buf is not None and buf.num_rows:
            out = kernel(buf)
            if out.num_rows:
                yield out

    return run


def finalize_partials(
    partials: DataFrame, query: ZonalQuery, env: DataEnvironment, bounded: bool = False
) -> DataFrame:
    """Final aggregation of partial rows. ``bounded`` says the AOI batch
    was within the driver bounds, so the result is small (see
    :func:`_order_and_limit`)."""
    return _finalize_aggregates(partials.drop("cell_id", "_ms"), query, env, bounded)


# ---------------------------------------------------------------------------
# Final relational shell (all Catalyst)
# ---------------------------------------------------------------------------

def _finalize_aggregates(
    partials: DataFrame, query: ZonalQuery, env: DataEnvironment, bounded: bool = False
) -> DataFrame:
    group_cols = ["aoi_id"]
    for g in query.group_layers:
        if g in query.isoweek_layers:
            # isoweek is folded into the kernel's group key
            # (zonal._CellAggContext); partials already carry the
            # (isoyear, isoweek) key columns
            group_cols += [f"{g}__isoyear", f"{g}__isoweek"]
        else:
            group_cols.append(g)

    aggs = []
    for a in query.aggregates:
        if a.func == "count":
            aggs.append(F.sum(F.col(a.alias)).cast("long").alias(a.alias))
        elif a.func in ("sum",):
            aggs.append(F.sum(a.alias).alias(a.alias))
        elif a.func == "avg":
            if query.compat_avg:
                aggs.append(F.sum(a.alias).alias(a.alias))
            else:
                # try_divide: a group can have ZERO valid pixels (every
                # value NaN-masked, e.g. a ratio layer whose denominator
                # is NoData across a sliver AOI) — SQL semantics say the
                # AVG is NULL, not a divide-by-zero error (ANSI mode)
                aggs.append(
                    F.try_divide(
                        F.sum(f"{a.alias}__sum"), F.sum(f"{a.alias}__cnt")
                    ).alias(a.alias)
                )
        elif a.func == "min":
            aggs.append(F.min(a.alias).alias(a.alias))
        elif a.func == "max":
            aggs.append(F.max(a.alias).alias(a.alias))
    df = partials.groupBy(*group_cols).agg(*aggs)

    # decode group values raw -> meaning (P11); isoweek (F1) already
    # happened inside the kernel
    df = _decode_group_columns(df, query, env)

    return _order_and_limit(df, query, [c for c in group_cols if c in df.columns], bounded)


def _order_and_limit(
    df: DataFrame, query: ZonalQuery, default_sort: list[str], bounded: bool = False
) -> DataFrame:
    """ORDER BY / LIMIT (O1/O2). The reference runs one query per AOI, so
    LIMIT is per-AOI: a windowed top-k partitioned by aoi_id (Catalyst
    rewrites rank-filter windows to a per-partition TopK, no full sort of
    non-surviving rows).

    The presentation order is global. For a ``bounded`` (driver-sized)
    AOI batch the few result rows are sorted in one task, which gives the
    same order without the range sort's sampling job and exchange."""
    order = (
        [F.col(o.column).asc() if o.ascending else F.col(o.column).desc() for o in query.order_by]
        if query.order_by
        else [F.col(c) for c in default_sort if c != "aoi_id"]
    )
    if query.limit is not None:
        # without an order (pixel rows, ungrouped aggregates) any rows of
        # the AOI may survive, but never more than LIMIT per AOI
        w = Window.partitionBy("aoi_id").orderBy(*(order or [F.col("aoi_id")]))
        df = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= query.limit)
            .drop("__rn")
        )
    # deterministic presentation order across the whole batch
    keys = [F.col("aoi_id"), *order]
    if bounded:
        return df.coalesce(1).sortWithinPartitions(*keys)
    return df.orderBy(*keys)


def _decode_group_columns(df: DataFrame, query: ZonalQuery, env: DataEnvironment) -> DataFrame:
    for g in query.group_layers:
        if g in query.isoweek_layers:
            continue  # replaced by __isoyear/__isoweek in the kernel
        layer = env.get_layer(g)
        if not isinstance(layer, (SourceLayer, DerivedLayer, MultiDerivedLayer)):
            continue
        if layer.raster_table:
            # JVM-side decode: CASE map literal + default (broadcast-dim-join
            # equivalent without a join; the table is tiny by construction)
            meanings = layer.raster_table
            all_int = all(isinstance(v, (int, np.integer)) for v in meanings.values())
            pairs = []
            for raw, meaning in meanings.items():
                pairs.extend([F.lit(int(raw)), F.lit(meaning)])
            m = F.create_map(*pairs)[F.col(g).cast("long")]
            if layer.default_meaning is not None:
                m = F.coalesce(m, F.lit(layer.default_meaning))
            df = df.withColumn(g, m.cast("long") if all_int else m)
        elif layer.decode_expression:
            fn_src = layer.decode_expression
            decode = compile_expression(fn_src)

            @F.pandas_udf(T.StringType())
            def decode_udf(vals: pd.Series) -> pd.Series:
                out = decode(vals.to_numpy(dtype=np.int64))
                return pd.Series(np.asarray(out, dtype=object).astype(str))

            df = df.withColumn(g, decode_udf(F.col(g)))
        elif not zonal.layer_is_float(env, g):
            df = df.withColumn(g, F.col(g).cast("long"))
    return df


def _finalize_pixels(df: DataFrame, query: ZonalQuery) -> DataFrame:
    return _order_and_limit(df.drop("cell_id", "_ms"), query, [])
