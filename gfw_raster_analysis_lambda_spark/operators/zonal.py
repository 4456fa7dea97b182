"""The zonal kernel: per-cell vectorized raster statistics.

This is the engine's one custom compute kernel — everything the reference
does per Lambda invocation (reference lambdas/raster_analysis handler ->
DataCube -> QueryExecutor, query_executor.py:23-134) happens here once
per grid cell, entirely in numpy:

  decode tiles -> derive layers -> filter mask (P1-P5) -> base/group
  NoData masks (P7/P8) -> encode group keys (isoweek folded in) ->
  per AOI of the cell: rasterize (P6) -> bincount partial aggregates
  (A1-A5)

The output is a *partial* aggregate per (aoi, cell, group-tuple); Spark's
hash aggregation does the final merge (A6) — the two-phase distributed
aggregation the reference hand-rolls with DynamoDB partials
(tiling.py:125-131) is Catalyst's native partial/final here. One kernel
(:func:`make_multi_cell_kernel`) serves a whole query set, a single query
being a one-member set, and emits one layout (:data:`KERNEL_SCHEMA`);
one aggregation path (:class:`_CellAggContext`) serves every query.

Scale notes:
- One call per cell: the cell's tiles are decoded once and its AOIs are
  looped over them (the vector side intersected per tile, as in Raptor's
  raster-vector join). A giant AOI becomes many independent cell calls;
  a cell shared by many AOIs is split by the planner into salted AOI
  slices, one call each.
- The kernel pre-aggregates 64k-25M pixels down to a handful of group rows
  before anything hits the shuffle, so shuffle volume is O(groups), not
  O(pixels).
- Arrow batches are bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  (tiles per batch) — the per-task memory bound replacing the reference's
  3 GB lambda cap.
- The output of a cell is one ``pyarrow.RecordBatch`` built from the
  kernel's numpy columns, which the planner hands to Spark through its
  Arrow UDF APIs: no pandas object and no per-value Python object sits
  between the kernel and the JVM.
"""

from __future__ import annotations

import math
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa

from ..functions import codecs, geodesy
from ..functions import geometry as geo
from ..functions import grid as G
from ..functions.expressions import compile_expression, evaluate_multi_calc
from ..plans.ir import Aggregate, FilterAnd, FilterLeaf, FilterOr, ZonalQuery
from ..sources.catalog import (
    AREA_HA,
    FROM_DATA,
    LATITUDE,
    LONGITUDE,
    DataEnvironment,
    DerivedLayer,
    MultiDerivedLayer,
    ReservedLayer,
    SourceLayer,
)

_NP_DTYPES = {
    "uint8": np.uint8, "uint16": np.uint16, "uint32": np.uint32,
    "int16": np.int16, "int32": np.int32, "int64": np.int64,
    "float32": np.float32, "float64": np.float64,
}


def _is_nan_nodata(nd) -> bool:
    return nd is not None and isinstance(nd, float) and np.isnan(nd)


def layer_is_float(env: DataEnvironment, name: str) -> bool:
    layer = env.get_layer(name)
    if isinstance(layer, MultiDerivedLayer):
        # a multi-derived layer declares its RESULT dtype (a ratio of int
        # layers is float, so NaN-aware aggregation must apply)
        return layer.dtype.startswith("float")
    src = env.resolve_source(name)
    return src is not None and src.dtype.startswith("float")


# ---------------------------------------------------------------------------
# Partial-aggregate schema (plan-time; must match kernel output exactly)
# ---------------------------------------------------------------------------

def partial_columns(query: ZonalQuery) -> list[tuple[str, str]]:
    """(name, spark_type) pairs of the kernel's output schema.

    isoweek group layers (F1) are *pushed down* into the kernel: the
    partial is keyed by (isoyear, isoweek) instead of the raw date value,
    collapsing ~hundreds of per-tile date groups to ~tens of week groups
    before the shuffle. Semantics-preserving because decode+isoweek is a
    pure per-value function and the reference re-sums after the isoweek
    regroup anyway (reference tiling.py:100-126)."""
    cols: list[tuple[str, str]] = []
    for g in query.group_layers:
        if g in query.isoweek_layers:
            cols.append((f"{g}__isoyear", "long"))
            cols.append((f"{g}__isoweek", "long"))
        else:
            cols.append((g, "double"))
    for a in query.aggregates:
        if a.func not in ("count", "sum", "avg", "min", "max"):
            # percentile/mode/count_distinct are PLAN REWRITES
            # (planner._rollup_plan); they must never reach the
            # partial/kernel machinery, which would silently treat them as
            # sums
            raise ValueError(f"aggregate {a.func!r} has no partial form")
        if a.func == "count":
            cols.append((a.alias, "long"))
        elif a.func == "avg" and not query.compat_avg:
            cols.append((f"{a.alias}__sum", "double"))
            cols.append((f"{a.alias}__cnt", "long"))
        else:  # sum / min / max / compat-avg partial
            cols.append((a.alias, "double"))
    return cols


# ---------------------------------------------------------------------------
# Kernel construction
# ---------------------------------------------------------------------------

def _static_mask(q: ZonalQuery, values: dict, env: DataEnvironment) -> np.ndarray | None:
    """The AOI-independent part of a query's pixel mask, computed once per
    cell: base NoData (P7), the filter (P1-P5) and the group NoData / NaN
    drop (P8, A7; pixel selects have no group layers). None: every pixel
    passes."""
    masks = []
    if q.base_layer != FROM_DATA:
        masks.append(_data_mask(values[q.base_layer], env.nodata_of(q.base_layer)))
    if q.where is not None:
        masks.append(_eval_filter(q.where, values))
    for gname in q.group_layers:
        arr = values[gname]
        if np.issubdtype(np.asarray(arr).dtype, np.floating):
            masks.append(~np.isnan(arr))
        nd = env.nodata_of(gname)
        if nd is not None and not env.keeps_nodata_groups(gname) and not _is_nan_nodata(nd):
            masks.append(arr != nd)
    if not masks:
        return None
    out = masks[0]
    for m in masks[1:]:
        out = out & m
    return out


def _columns(tiles) -> dict:
    """A tile input as ``{column: list of values}``: a pandas frame, a
    ``pyarrow.RecordBatch`` or a ``pyarrow.Table``."""
    if isinstance(tiles, pd.DataFrame):
        return {c: tiles[c].tolist() for c in tiles.columns}
    return tiles.to_pydict()


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and np.isnan(v))


def _cell_body(queries: list, env_json: str, grid_name: str):
    """The per-cell kernel body behind :func:`make_multi_cell_kernel`.

    ``run(cols, aois)`` takes one cell's tile rows (:func:`_columns`) and
    the cell's ``[(aoi_id, wkb), ...]`` (from the broadcast lookup or from
    a cogroup) and returns ``[(query index, rows, columns)]``: per query,
    the index into ``aois`` of each output row and the query's partial
    columns (or its pixel columns) as numpy arrays, NaN where an empty
    group has no MIN/MAX. The tiles are decoded once, each query's static
    mask is built once, and each AOI is rasterized once and shared by
    every query. An AOI that fully contains the cell has the all-True
    zonal mask, so its part is the per-cell constant, computed once and
    reused by every such AOI — the dominant case at scale (tiles interior
    to the AOI).

    The present-layer rule: a scan may hold none of query q's own source
    layers in a cell (a fused scan reads the union of the queries'
    layers; a cogroup hands over a cell with no tiles at all). q runs on
    such a cell only when it reads FROM data, whose missing tiles are
    zero-filled (S2); any other query would see zero-synthesized tiles
    and emit rows (fake full-count rows for no_data=None base layers)
    that a scan of its own layers never produces."""
    union_names: list = []
    for q in queries:
        for n in q.layer_names():
            if n not in union_names:
                union_names.append(n)

    def run(cols: dict, aois) -> list:
        if not aois:
            return []
        env = _env_cache(env_json)
        grid = G.get_grid(grid_name)
        cell_id = int(cols["cell_id"][0])
        x0, y0, ps = G.cell_affine(grid, cell_id)
        lat_c = float(G.cell_centroid_lat(grid, np.array([cell_id]))[0])
        mean_area = float(geodesy.pixel_area_ha(lat_c, ps))
        tile_px = grid.chunk_px
        present = {str(v) for v in cols["layer"] if not _is_null(v)}
        values = _decode_and_derive(cols, env, union_names, grid, cell_id, mean_area)
        active = []  # (query index, query, static mask, aggregation context)
        for qi, q in enumerate(queries):
            if q.base_layer != FROM_DATA and not (set(env.source_layer_names(q.layer_names())) & present):
                continue
            ctx = None if q.select_pixels else _CellAggContext(q, values, mean_area, env)
            active.append((qi, q, _static_mask(q, values, env), ctx))
        if not active:
            return []

        def part_of(q, ctx, mask):
            return ctx.run(mask) if ctx is not None else _select_pixels(q, values, mask, x0, y0, ps)

        lens: list = [[] for _ in active]
        parts: list = [{} for _ in active]
        full: list = [None] * len(active)
        cell_rect = (x0, y0 - tile_px * ps, x0 + tile_px * ps, y0)
        for _, wkb in aois:
            geom, g_edges, g_meta = _geom_edges(bytes(wkb))
            amask = None
            if not geo.covers_rect(geom, *cell_rect, edges=g_edges, meta=g_meta):
                amask = np.ravel(geo.rasterize_mask(geom, x0, y0, ps, tile_px, tile_px, edges=g_edges))
            for k, (_, q, static, ctx) in enumerate(active):
                if amask is None:
                    if full[k] is None:
                        m = static if static is not None else np.ones(tile_px * tile_px, dtype=bool)
                        full[k] = part_of(q, ctx, m)
                    part = full[k]
                else:
                    part = part_of(q, ctx, amask & static if static is not None else amask)
                lens[k].append(len(next(iter(part.values()))) if part else 0)
                for c, v in part.items():
                    parts[k].setdefault(c, []).append(v)

        return [
            (qi, np.repeat(np.arange(len(aois)), lens[k]), {c: np.concatenate(v) for c, v in parts[k].items()})
            for k, (qi, _, _, _) in enumerate(active)
            if parts[k] and sum(lens[k])
        ]

    return run


def _cell_aois(lookup, cols: dict) -> list:
    """The cell's AOIs from a broadcast ``{cell_id: (n_salt, [(aoi_id, wkb),
    ...])}``. When the input carries a ``_salt`` column (planner-side skew
    salting duplicated the tile rows), instance (cell, s) takes the
    deterministic slice ``aois[s::n_salt]``."""
    entry = lookup.value.get(int(cols["cell_id"][0]))
    if entry is None:
        return []
    n_salt, aois = entry
    if "_salt" in cols:
        return aois[int(cols["_salt"][0])::n_salt]
    return aois


# ---------------------------------------------------------------------------
# Kernel output: one Arrow record batch per cell
# ---------------------------------------------------------------------------

# Spark's Arrow form of array<double> (its element field is "element")
_VALS_TYPE = pa.list_(pa.field("element", pa.float64()))

# The Arrow schema of every kernel's output: ``aoi_id``, ``cell_id`` and
# ``_ms`` (the cell's kernel time per output row), then a NARROW tagged
# union: ``_q`` selects the query and ``vals`` packs exactly that query's
# values (:func:`_out_columns` order) as one array<double>. A row carries
# only its own query's values: an all-queries-wide frame would store
# width = sum(all queries' widths) nulls per row, and caching that width
# measurably cost back part of the fusion win. Long partials are integral
# doubles (< 2^53 per tile by construction) cast back at split time;
# empty-group min/max NULLs are element nulls.
KERNEL_SCHEMA = pa.schema([
    pa.field("aoi_id", pa.string()), pa.field("cell_id", pa.int64()),
    pa.field("_ms", pa.float64()), pa.field("_q", pa.int32()), pa.field("vals", _VALS_TYPE),
])


def _out_columns(query: ZonalQuery) -> list[tuple[str, str]]:
    """(name, spark_type) of one query's kernel values: its partial
    columns, or its selected pixel columns."""
    if query.select_pixels:
        return [(n, "double") for n in query.select_pixels]
    return partial_columns(query)


def _arrow_builder(queries: list):
    """``build(cell_id, aoi_ids, blocks, ms)`` turns :func:`_cell_body`'s
    blocks into one record batch of :data:`KERNEL_SCHEMA`. ``vals`` is a
    list array over one flat float64 buffer, each row holding its own
    query's values in :func:`_out_columns` order. NaN becomes null, as a
    pandas UDF's output conversion makes it: an empty group's MIN/MAX is
    NaN here."""
    names = [[n for n, _ in _out_columns(q)] for q in queries]
    empty = pa.RecordBatch.from_pylist([], schema=KERNEL_SCHEMA)

    def build(cell_id: int, aoi_ids: list, blocks: list, ms: float) -> pa.RecordBatch:
        if not blocks:
            return empty
        rows = np.concatenate([r for _, r, _ in blocks])
        n = len(rows)
        flat, null, lengths, tags = [], [], [], []
        for qi, r, cols in blocks:
            m = np.column_stack([np.asarray(cols[c], dtype=np.float64) for c in names[qi]])
            flat.append(m.ravel())
            null.append(np.isnan(m).ravel())
            lengths.append(np.full(len(r), m.shape[1], dtype=np.int32))
            tags.append(np.full(len(r), qi, dtype=np.int32))
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(np.concatenate(lengths), out=offsets[1:])
        values = pa.array(np.concatenate(flat), mask=np.concatenate(null))
        return pa.RecordBatch.from_arrays([
            pa.array(aoi_ids, pa.string()).take(rows),
            pa.array(np.full(n, cell_id, dtype=np.int64)),
            pa.array(np.full(n, ms / n)),
            pa.array(np.concatenate(tags)),
            pa.ListArray.from_arrays(pa.array(offsets), values, type=_VALS_TYPE),
        ], schema=KERNEL_SCHEMA)

    return build


def make_multi_cell_kernel(queries: list, env_json: str, grid_name: str, aoi_lookup=None):
    """The per-cell kernel of a query set (batch request shape: one AOI
    list, many analyses — the reference runs its query set serially per
    request; here every query shares the scan, the decode and the
    per-(aoi, cell) rasterize). A single query is a one-member set.

    ``kernel(tiles, aois=None)`` returns one ``pyarrow.RecordBatch`` of
    :data:`KERNEL_SCHEMA` (also ``kernel.schema``): per query, its partial
    rows or, for a pixel select, its pixel rows. ``tiles`` is one cell's
    tile rows as a pandas frame or an Arrow batch or table. A cell's tiles
    are decoded once per call, however many AOIs the call loops (see
    :func:`_cell_body`); only a salted hot cell is split across calls.

    ``aois`` is the cell's ``[(aoi_id, wkb), ...]``; when omitted it comes
    from ``aoi_lookup``, a Broadcast of ``{cell_id: (n_salt, [(aoi_id,
    wkb), ...])}`` (see :func:`_cell_aois`). Everything the closure
    captures is picklable (the env ships as JSON and is deserialized once
    per process via a module-level cache)."""
    body = _cell_body(queries, env_json, grid_name)
    build = _arrow_builder(queries)

    def kernel(tiles, aois=None) -> pa.RecordBatch:
        t0 = time.perf_counter()
        cols = _columns(tiles)
        if aois is None:
            aois = _cell_aois(aoi_lookup, cols)
        blocks = body(cols, aois)
        ms = (time.perf_counter() - t0) * 1000.0
        return build(int(cols["cell_id"][0]), [a for a, _ in aois], blocks, ms)

    kernel.schema = KERNEL_SCHEMA
    return kernel


# Module caches of the kernel. They live in each Python worker and, on the
# planner's driver route, in the driver, where concurrent requests share
# them: the byte-bounded insert/clear runs under a lock.
_ENV_CACHE: dict[str, DataEnvironment] = {}
_GEOM_CACHE: dict[bytes, tuple] = {}
_GEOM_CACHE_BYTES = 0
_GEOM_CACHE_MAX_BYTES = 256 << 20  # per-process bound on cached edge arrays
_GEOM_CACHE_LOCK = threading.Lock()


def _geom_edges(wkb: bytes):
    """(geometry, precomputed edge array, cover meta) memoized by WKB
    bytes. An AOI overlaps MANY cells, and the colocated stream runs one
    task over many cells sequentially — parsing the WKB and rebuilding ring
    edges per (aoi, cell) pair was pure rework; likewise the per-edge bbox
    arrays that :func:`geo.covers_rect` needs (the full-cover memo probes
    covers_rect once per (aoi, cell), so its O(E) setup has to be hoisted
    here). Bounded by accumulated BYTES (clear-on-overflow), not entry
    count: the large-vertex AOIs this cache exists for are exactly the ones
    whose edge arrays would blow an entry-count bound (a 1M-vertex AOI
    holds ~32 MB of edges)."""
    global _GEOM_CACHE_BYTES
    hit = _GEOM_CACHE.get(wkb)
    if hit is None:
        geom = geo.wkb_loads(wkb)
        edges = geo.all_edges(geom)
        meta = geo.cover_meta(geom, edges)
        hit = (geom, edges, meta)
        # meta holds 4 float64 arrays of len(edges) -> ~2x the edge bytes
        nbytes = 3 * edges.nbytes + len(wkb)
        with _GEOM_CACHE_LOCK:
            if wkb in _GEOM_CACHE:  # another thread built it meanwhile
                return _GEOM_CACHE[wkb]
            if _GEOM_CACHE_BYTES + nbytes > _GEOM_CACHE_MAX_BYTES:
                _GEOM_CACHE.clear()
                _GEOM_CACHE_BYTES = 0
            _GEOM_CACHE[wkb] = hit
            _GEOM_CACHE_BYTES += nbytes
    return hit


def _env_cache(env_json: str) -> DataEnvironment:
    env = _ENV_CACHE.get(env_json)
    if env is None:
        env = DataEnvironment.from_json(env_json)
        _ENV_CACHE[env_json] = env
    return env


def _decode_and_derive(
    cols: dict, env: DataEnvironment, names: list, grid, cell_id: int, mean_area: float
) -> dict[str, np.ndarray]:
    """Decode present tiles, synthesize zeros for missing ones (S2
    missing-tile tolerance, reference window.py:103-119), co-register
    layers stored on a coarser grid onto the target (finest) grid
    (reference query.py:196-210 / window.py:96-101), evaluate derived
    layers, and ravel everything to 1-D pixel columns. ``cols`` is the
    cell's tile rows as :func:`_columns` gives them."""
    tile_px = grid.chunk_px
    has_src = "src_cell_id" in cols
    present: dict[str, np.ndarray] = {}
    src_cells = cols["src_cell_id"] if has_src else [0] * len(cols["cell_id"])
    for lval, b, w, h, fmt, src_cell in zip(
        cols["layer"], cols["bytes"], cols["w"], cols["h"], cols["fmt"], src_cells
    ):
        if _is_null(lval):
            continue  # left-join null: AOI cell with no tiles at all
        lname = str(lval)
        try:
            arr = codecs.decode_tile(bytes(b), int(w), int(h), str(fmt))
        except Exception:
            if not getattr(env, "skip_corrupt_tiles", False):
                raise
            # opt-in failure isolation (reference: a corrupt tile fails
            # one Lambda, not the request): treat as a missing tile —
            # the S2 zero-fill below applies
            continue
        lgrid_name = getattr(env.get_layer(lname), "grid", None)
        if has_src and lgrid_name and lgrid_name != grid.name:
            arr = G.upsample_to_cell(
                arr, G.get_grid(lgrid_name), grid, int(src_cell), cell_id
            )
        present[lname] = arr

    values: dict[str, np.ndarray] = {}
    for name in names:
        layer = env.get_layer(name)
        if isinstance(layer, ReservedLayer):
            continue  # handled at use sites (area__ha / lat / lon)
        if isinstance(layer, SourceLayer):
            arr = present.get(name)
            if arr is None:
                arr = np.zeros((tile_px, tile_px), dtype=_NP_DTYPES.get(layer.dtype, np.uint8))
            values[name] = np.ravel(arr)
        elif isinstance(layer, DerivedLayer):
            src = present.get(layer.source_layer)
            if src is None:
                src_layer = env.get_layer(layer.source_layer)
                src = np.zeros((tile_px, tile_px), dtype=_NP_DTYPES.get(getattr(src_layer, "dtype", "uint8"), np.uint8))
            values[name] = np.ravel(compile_expression(layer.calc)(src, mean_area))
        elif isinstance(layer, MultiDerivedLayer):
            # map algebra over several co-registered layers: sources bind
            # positionally to A, B, C, ... (missing tiles are zeros, the
            # same S2 semantics as everywhere else)
            arrs = []
            for sname in layer.source_layers:
                a = present.get(sname)
                if a is None:
                    sl = env.get_layer(sname)
                    a = np.zeros(
                        (tile_px, tile_px),
                        dtype=_NP_DTYPES.get(getattr(sl, "dtype", "uint8"), np.uint8),
                    )
                arrs.append(a)
            values[name] = np.ravel(evaluate_multi_calc(layer.calc, arrs, mean_area))
    return values


def _data_mask(arr: np.ndarray, nodata) -> np.ndarray:
    """Non-NoData mask of a layer (NaN-aware; None = everything is data)."""
    if nodata is None:
        return np.ones(arr.shape, dtype=bool)
    if _is_nan_nodata(nodata):
        return ~np.isnan(arr)
    m = arr != nodata
    if np.issubdtype(np.asarray(arr).dtype, np.floating):
        m &= ~np.isnan(arr)
    return m


_IN_LUT_CACHE: dict[tuple, np.ndarray] = {}


def _in_mask(arr: np.ndarray, vals) -> np.ndarray:
    """Set-membership pixel mask. ``np.isin`` sorts/searches per call —
    ~40% of flagship kernel time once IN-expanded meaning filters (P5) hit
    every tile. For <=16-bit integer rasters (the norm: categorical and
    thresholded layers are uint8) a cached boolean LUT over the dtype's
    domain turns the test into one fancy-index gather."""
    a = np.asarray(arr)
    if a.dtype.kind in "ui" and a.dtype.itemsize <= 2:
        info = np.iinfo(a.dtype)
        key = (a.dtype.str, tuple(vals))
        hit = _IN_LUT_CACHE.get(key)
        if hit is None:
            if len(_IN_LUT_CACHE) >= 256:  # long-lived executor hygiene
                _IN_LUT_CACHE.clear()
            v = np.asarray(vals, dtype=np.float64)
            v = np.unique(v[(v >= info.min) & (v <= info.max) & (v == np.floor(v))])
            iv = v.astype(np.int64)
            if len(iv) and len(iv) == iv[-1] - iv[0] + 1:
                # contiguous raw-code range (the usual shape of a >=/<
                # meaning filter after IN expansion): two compares beat a
                # 64k-gather ~10x
                hit = ("range", int(iv[0]), int(iv[-1]))
            else:
                lut = np.zeros(int(info.max) - int(info.min) + 1, dtype=bool)
                lut[iv - int(info.min)] = True
                hit = ("lut", lut, int(info.min))
            _IN_LUT_CACHE[key] = hit
        if hit[0] == "range":
            return (a >= hit[1]) & (a <= hit[2])
        lut, lo = hit[1], hit[2]
        if lo == 0:
            return lut[a]
        return lut[a.astype(np.int32) - lo]
    return np.isin(a, np.asarray(vals))


def _eval_filter(node, values: dict[str, np.ndarray]) -> np.ndarray:
    """Filter tree -> boolean pixel mask (P1-P5). Literals are already in
    raw pixel space (encoded at plan time)."""
    if isinstance(node, FilterLeaf):
        arr = values[node.layer]
        if node.op == "in":
            return _in_mask(arr, node.values)
        v = node.values[0]
        ops = {
            ">": np.greater, "<": np.less, ">=": np.greater_equal,
            "<=": np.less_equal, "==": np.equal, "!=": np.not_equal,
        }
        return ops[node.op](arr, v)
    if isinstance(node, FilterAnd):
        out = _eval_filter(node.children[0], values)
        for c in node.children[1:]:
            out = out & _eval_filter(c, values)
        return out
    if isinstance(node, FilterOr):
        out = _eval_filter(node.children[0], values)
        for c in node.children[1:]:
            out = out | _eval_filter(c, values)
        return out
    raise TypeError(f"unknown filter node {type(node)}")


def _select_pixels(query: ZonalQuery, values, mask, x0, y0, ps) -> dict[str, np.ndarray]:
    """Pixel-row extraction (reference `_select`, query_executor.py:175-198):
    lat/lon from the affine + raw layer values for unmasked pixels, as
    float64 columns."""
    idx = np.flatnonzero(mask)
    tile_px = int(np.sqrt(mask.size))
    rows, cols = np.divmod(idx, tile_px)
    out = {}
    for name in query.select_pixels:
        if name == LATITUDE:
            out[name] = y0 - (rows + 0.5) * ps
        elif name == LONGITUDE:
            out[name] = x0 + (cols + 0.5) * ps
        elif name == AREA_HA:
            out[name] = np.full(len(idx), geodesy.pixel_area_ha(y0 - ps / 2, ps))
        else:
            out[name] = np.asarray(values[name], dtype=np.float64)[idx]
    return out


def _empty_columns(q: ZonalQuery, group_names, long_names=()) -> dict[str, np.ndarray]:
    """Zero-row partial columns: ``group_names`` (double, or long when in
    ``long_names``) and every aggregate's partial names."""
    out: dict[str, np.ndarray] = {}
    for g in group_names:
        out[g] = np.empty(0, dtype=np.int64 if g in long_names else np.float64)
    for a in q.aggregates:
        for n in _agg_partial_names(a, q):
            is_long = a.func == "count" or n.endswith("__cnt")
            out[n] = np.empty(0, dtype=np.int64 if is_long else np.float64)
    return out


class _CellAggContext:
    """One query's masked (grouped) partial aggregation over one cell —
    the reference's ravel_multi_index/unique/bincount hash aggregate
    (A1-A5, query_executor.py:52-134), emitted as partial columns under
    the raw group-layer names.

    The group keys are encoded into one small integer per pixel ONCE per
    cell and the aggregate inputs are float64-converted once, so the
    per-AOI work (:meth:`run`) collapses to ``flatnonzero(mask)`` +
    ``bincount``(s). Integer-valued keys are offset-packed while the
    packed domain stays within 2^20 slots (a per-AOI bincount table of at
    most 8 MB); non-integer values, or a larger domain, are dictionary-
    encoded by one ``np.unique`` over the cell's group tuples.

    isoweek group layers (F1) are folded into the PIXEL key: one gather
    through a cached LUT maps each raw date to ``isoyear * 64 + isoweek``
    (:func:`_iso_key_of_raw`), so the bincount groups by week directly and
    the group domain shrinks from O(distinct dates) to O(distinct weeks).

    NaN in a float aggregate layer is excluded inside aggregation (A7): the
    layer's finite mask filters that aggregate's gather only."""

    def __init__(self, query: ZonalQuery, values: dict, mean_area: float, env: DataEnvironment):
        self.query = q = query
        self.mean_area = mean_area
        self.data: dict[str, np.ndarray] = {}
        self.finite: dict[str, np.ndarray] = {}
        for a in q.aggregates:
            if a.func != "count" and a.layer is not None and a.layer != AREA_HA:
                d = np.asarray(values[a.layer])
                self.data[a.layer] = d.astype(np.float64)
                if d.dtype.kind == "f" and np.isnan(d).any():
                    self.finite[a.layer] = ~np.isnan(d)
        cols: list[np.ndarray] = []
        self.keys: list[tuple[str, bool]] = []  # (group layer, is an isoweek key)
        integral = True
        for g in q.group_layers:
            c = np.asarray(values[g])
            is_iso = g in q.isoweek_layers
            if is_iso:
                raw = c if c.dtype.kind in "ui" else np.nan_to_num(c).astype(np.int64)
                c = _iso_key_of_raw(raw, env.get_layer(g))
            elif c.dtype.kind not in "uib":
                f = c.astype(np.float64)
                if np.all(np.isfinite(f)) and np.array_equal(f, np.floor(f)):
                    c = f.astype(np.int64)
                else:
                    c, integral = f, False
            cols.append(c)
            self.keys.append((g, is_iso))
        self.iso_out_names = {f"{g}__iso{p}" for g, iso in self.keys if iso for p in ("year", "week")}
        self.out_group_names = [
            n for g, iso in self.keys for n in ((f"{g}__isoyear", f"{g}__isoweek") if iso else (g,))
        ]
        if not cols:
            return
        self.table = None
        if integral:
            self.mins = [int(c.min()) for c in cols]
            self.dims = [int(c.max()) - m + 1 for c, m in zip(cols, self.mins)]
            total = math.prod(self.dims)
        if not integral or total > (1 << 20):
            self.table, packed = np.unique(np.stack(cols, axis=1), axis=0, return_inverse=True)
            total = len(self.table)
        else:
            packed = None
            for c, m, d in zip(cols, self.mins, self.dims):
                # offsets in the column's own width where it is small (8
                # and 16-bit rasters are the norm): a quarter of the int64
                # traffic
                off = c.astype(np.int32 if c.dtype.itemsize <= 2 else np.int64) - m
                packed = off if packed is None else packed * d + off
        # smallest dtype that fits: the per-AOI gather traffic scales with
        # the packed array's width (uint8 vs int64 = 8x less memory moved)
        for dt in (np.uint8, np.uint16, np.uint32, np.int64):
            if total <= np.iinfo(dt).max + 1:
                packed = packed.astype(dt)
                break
        self.packed, self.total = packed, total

    def _group_columns(self, nz: np.ndarray) -> dict[str, np.ndarray]:
        """The group columns of the packed keys ``nz``."""
        if self.table is not None:
            ucols = [self.table[nz, k] for k in range(len(self.keys))]
        else:
            ucols, rem = [], nz
            for m, d in zip(reversed(self.mins), reversed(self.dims)):
                ucols.append(rem % d + m)
                rem = rem // d
            ucols.reverse()
        out: dict[str, np.ndarray] = {}
        for c, (g, is_iso) in zip(ucols, self.keys):
            if is_iso:
                c = c.astype(np.int64)
                out[f"{g}__isoyear"], out[f"{g}__isoweek"] = c >> 6, c & 63
            else:
                out[g] = c.astype(np.float64)
        return out

    def run(self, mask: np.ndarray) -> dict[str, np.ndarray]:
        """Partial aggregate columns (raw group names) for one AOI mask."""
        q = self.query
        idx = np.flatnonzero(mask)
        n_masked = len(idx)
        if q.group_layers:
            if n_masked == 0:
                return _empty_columns(q, self.out_group_names, self.iso_out_names)
            pk = self.packed[idx]
            counts = np.bincount(pk, minlength=self.total)
            nz = np.flatnonzero(counts)
            counts_nz = counts[nz]
            out = self._group_columns(nz)
        else:
            pk, nz, counts_nz = None, np.array([0]), np.array([n_masked])
            out = {}

        for a in q.aggregates:
            if a.func == "count":
                out[a.alias] = counts_nz.astype(np.int64)
                continue
            if a.layer == AREA_HA:
                sums, cnt = counts_nz * self.mean_area, counts_nz
            else:
                d, pka, cnt = self.data[a.layer][idx], pk, counts_nz
                keep = self.finite.get(a.layer)
                if keep is not None:
                    keep = keep[idx]
                    d = d[keep]
                    if pk is None:
                        cnt = np.array([len(d)])
                    else:
                        pka = pk[keep]
                        cnt = np.bincount(pka, minlength=self.total)[nz]
                if a.func in ("min", "max"):
                    if pka is None:
                        out[a.alias] = np.array([(d.min() if a.func == "min" else d.max()) if len(d) else np.nan])
                    else:
                        acc = np.full(self.total, np.inf if a.func == "min" else -np.inf)
                        (np.minimum if a.func == "min" else np.maximum).at(acc, pka, d)
                        # NaN marks an empty group; the Arrow builder turns
                        # it into a null (Spark treats NaN as the greatest
                        # double, which would poison the final F.max/F.min)
                        out[a.alias] = np.where(np.isfinite(acc[nz]), acc[nz], np.nan)
                    continue
                sums = np.array([d.sum()]) if pka is None else np.bincount(pka, weights=d, minlength=self.total)[nz]
            if a.func == "sum":
                out[a.alias] = sums
            elif q.compat_avg:
                # reference quirk (A3): divide by the tile's total masked count
                out[a.alias] = sums / max(n_masked, 1)
            else:
                out[f"{a.alias}__sum"], out[f"{a.alias}__cnt"] = sums, cnt.astype(np.int64)
        return out


def _agg_partial_names(a: Aggregate, q: ZonalQuery) -> list[str]:
    if a.func == "avg" and not q.compat_avg:
        return [f"{a.alias}__sum", f"{a.alias}__cnt"]
    return [a.alias]


def _iso_of_values(vals: np.ndarray, decode_src) -> tuple[np.ndarray, np.ndarray]:
    """ISO-8601 (year, week) of raw int64 values after date decode. ISO
    math in pure numpy: classify each date by the Thursday of its week
    (1970-01-01 was a Thursday -> Mon=0 weekday is ``(d + 3) % 7``); the
    week number is that Thursday's ordinal within its year."""
    if decode_src:
        decoded = np.asarray(compile_expression(decode_src)(vals))
        days = decoded.astype("datetime64[D]").astype(np.int64)
    else:  # raw values are days since 1970-01-01
        days = vals
    thu = days + 3 - (days + 3) % 7
    years = thu.astype("datetime64[D]").astype("datetime64[Y]")
    iso_year = years.astype(np.int64) + 1970
    iso_week = (thu - years.astype("datetime64[D]").astype(np.int64)) // 7 + 1
    return iso_year, iso_week


_ISO_LUT_CACHE: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}


def _iso_lut(raw: np.ndarray, decode_src) -> tuple | None:
    """The cached (isoyear, isoweek, isoyear * 64 + isoweek) LUTs over
    ``0..max(raw)``, or None when ``raw`` is not a small non-negative
    integer domain (raster date codes are uint16 day offsets)."""
    if not (raw.size and raw.dtype.kind in "ui"):
        return None
    rmin, rmax = int(raw.min()), int(raw.max())
    if rmin < 0 or rmax > (1 << 20):
        return None
    key = decode_src or "__days__"
    lut = _ISO_LUT_CACHE.get(key)
    if lut is None or len(lut[0]) <= rmax:
        if len(_ISO_LUT_CACHE) >= 64:  # long-lived executor hygiene
            _ISO_LUT_CACHE.clear()
        dom = np.arange(max(rmax, 4095) + 1, dtype=np.int64)
        iy, iw = _iso_of_values(dom, decode_src)
        _ISO_LUT_CACHE[key] = lut = (iy, iw, iy * 64 + iw)
    return lut


def _iso_key_of_raw(raw: np.ndarray, layer) -> np.ndarray:
    """``isoyear * 64 + isoweek`` (int64) of RAW group values: one LUT
    gather per pixel; ``key >> 6`` and ``key & 63`` recover the pair
    (ISO weeks are 1..53)."""
    raw = np.asarray(raw)
    lut = _iso_lut(raw, getattr(layer, "decode_expression", None))
    if lut is not None:
        return lut[2][raw]
    iy, iw = _iso_year_week_of_raw(raw, layer)
    return iy * 64 + iw


def _iso_year_week_of_raw(raw: np.ndarray, layer) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized ISO-8601 (year, week) of RAW group values. Raster date
    codes live in a small non-negative integer domain (uint16 day-offsets),
    so the per-pixel path is two gathers through a cached decode LUT over
    ``0..max`` — no 65k-element sort per tile (np.unique's argsort was the
    kernel's top cost on alert-date queries). Values outside the LUT-able
    domain fall back to unique+inverse. :func:`_iso_key_of_raw` gathers
    the same LUT's packed key."""
    raw = np.asarray(raw)
    decode_src = getattr(layer, "decode_expression", None)
    lut = _iso_lut(raw, decode_src)
    if lut is not None:
        return lut[0][raw], lut[1][raw]
    uniq, inv = np.unique(raw, return_inverse=True)
    iy, iw = _iso_of_values(uniq.astype(np.int64), decode_src)
    return iy[inv], iw[inv]
