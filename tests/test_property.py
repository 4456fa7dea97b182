"""Property-based tests (hypothesis) for the pure-numpy leaf kernels —
codecs, cell codec, safe-expression compiler, rasterize parity, geodesy,
multi-grid upsampling. No SparkSession needed."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gfw_raster_analysis_lambda_spark.functions import codecs, expressions, geodesy
from gfw_raster_analysis_lambda_spark.functions import geometry as geo
from gfw_raster_analysis_lambda_spark.functions import grid as G


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 70),
    w=st.integers(1, 70),
    seed=st.integers(0, 2**31 - 1),
    depth=st.sampled_from([8, 16]),
)
def test_png_roundtrip_any_shape(h, w, seed, depth):
    rng = np.random.default_rng(seed)
    if depth == 8:
        arr = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
    else:
        arr = rng.integers(0, 65536, size=(h, w)).astype(np.uint16)
    out = codecs.png_decode(codecs.png_encode(arr))
    assert out.dtype == arr.dtype
    np.testing.assert_array_equal(out, arr)


@settings(max_examples=50, deadline=None)
@given(
    lon=st.floats(-179.999, 179.999),
    lat=st.floats(-89.999, 89.999),
)
def test_cell_codec_roundtrip_and_bounds(lon, lat):
    g = G.GRID_FIXTURE
    c = int(G.latlng_to_cell(g, [lon], [lat])[0])
    minx, miny, maxx, maxy = G.cell_bounds(g, c)
    # float addition at the snap (lon+180)/td can move a point within
    # 1 ulp of a cell edge into the neighbor; allow that representational
    # epsilon — what matters is the containment up to float resolution
    eps = 1e-9 + abs(lon) * 1e-12
    assert minx - eps <= lon < maxx + eps
    eps = 1e-9 + abs(lat) * 1e-12
    assert miny - eps <= lat < maxy + eps
    x, y = G.cell_to_xy(c)
    assert int(G.cell_from_xy(g, int(x), int(y))) == c


@settings(max_examples=30, deadline=None)
@given(
    a=st.integers(0, 9999),
    b=st.integers(1, 10000),
    seed=st.integers(0, 2**31 - 1),
)
def test_expression_compiler_matches_numpy(a, b, seed):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 60000, size=64).astype(np.uint16)
    f = expressions.compile_expression(f"(A + {a}) % {b}")
    # expected = what the reference's raw eval() would produce (same numpy
    # dtype-promotion/wrap semantics, NOT widened to int64)
    np.testing.assert_array_equal(f(arr), (arr + a) % b)
    g = expressions.compile_expression("floor(A / 10000)")
    np.testing.assert_array_equal(g(arr), np.floor(arr / 10000))


@settings(max_examples=25, deadline=None)
@given(
    x1=st.floats(-2, 6),
    y1=st.floats(-2, 6),
    w=st.floats(0.1, 5),
    h=st.floats(0.1, 5),
)
def test_rasterize_box_parity_property(x1, y1, w, h):
    fast = geo.box(x1, y1, x1 + w, y1 + h)
    ring = np.array(
        [[x1, y1], [x1 + w / 2, y1], [x1 + w, y1], [x1 + w, y1 + h], [x1, y1 + h]],
        float,
    )
    mf = geo.rasterize_mask(fast, x0=-2.0, y0=8.0, pixel_size=0.5, width=20, height=20)
    ms = geo.rasterize_mask([[ring]], x0=-2.0, y0=8.0, pixel_size=0.5, width=20, height=20)
    np.testing.assert_array_equal(mf, ms)


@settings(max_examples=40, deadline=None)
@given(lat=st.floats(-89.0, 89.0), ps=st.sampled_from([0.001, 0.00025, 0.0001]))
def test_pixel_area_positive_and_latitude_monotone(lat, ps):
    a = geodesy.pixel_area_ha(lat, ps)
    a_eq = geodesy.pixel_area_ha(0.0, ps)
    assert 0 < a <= a_eq * 1.0000001


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), xf=st.integers(0, 63), yf=st.integers(0, 63))
def test_upsample_to_cell_value_mapping(seed, xf, yf):
    src, dst = G.GRID_FIXTURE_COARSE, G.GRID_FIXTURE
    rng = np.random.default_rng(seed)
    coarse = rng.integers(0, 200, size=(src.chunk_px, src.chunk_px)).astype(np.uint8)
    xc, yc = xf // 2, yf // 2
    src_cell = int(G.cell_from_xy(src, xc, yc))
    dst_cell = int(G.cell_from_xy(dst, xf, yf))
    fine = G.upsample_to_cell(coarse, src, dst, src_cell, dst_cell)
    assert fine.shape == (dst.chunk_px, dst.chunk_px)
    # fine pixel (i, j) reads coarse ((yf%2)*32 + i//2, (xf%2)*32 + j//2)
    i, j = int(rng.integers(0, dst.chunk_px)), int(rng.integers(0, dst.chunk_px))
    assert fine[i, j] == coarse[(yf % 2) * 32 + i // 2, (xf % 2) * 32 + j // 2]


class _Env:
    """The one environment lookup the aggregation context makes: an
    isoweek layer whose raw values are days since 1970-01-01."""

    def get_layer(self, name):
        return object()


@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(2, 300),
    groups=st.sampled_from(["none", "int", "float", "wide", "isoweek"]),
    density=st.sampled_from([0.0, 0.4, 1.0]),
    compat_avg=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_cell_agg_context_matches_pandas_groupby(seed, n, groups, density, compat_avg):
    """zonal._CellAggContext.run — the kernel's one aggregation path —
    equals pandas groupby over the masked pixels for every partial it
    emits: NaN in the float aggregate layer skipped per aggregate (a
    group whose values are all NaN has NULL MIN/MAX and a zero AVG
    count), integer, non-integer and isoweek group keys, a packed key
    domain over 2^20 (dictionary-encoded), empty masks and compat AVG."""
    import pandas as pd

    from gfw_raster_analysis_lambda_spark.operators import zonal
    from gfw_raster_analysis_lambda_spark.plans.ir import Aggregate, ZonalQuery

    rng = np.random.default_rng(seed)
    values = {"v": np.where(rng.random(n) < 0.3, np.nan, rng.normal(size=n))}
    group_layers, iso = (), ()
    if groups == "int":
        values["g"] = rng.integers(0, 4, n).astype(np.uint8)
        values["v"][values["g"] == 3] = np.nan  # an all-NaN group
        group_layers = ("g",)
    elif groups == "float":
        values["g"] = rng.choice([0.5, 1.25, -2.75, 3.0], n)
        group_layers = ("g",)
    elif groups == "wide":
        values["g"] = rng.integers(0, 2000, n).astype(np.int32)
        values["h"] = rng.integers(0, 1000, n).astype(np.int32)
        values["g"][0], values["h"][0], values["g"][-1], values["h"][-1] = 0, 0, 1999, 999
        group_layers = ("g", "h")
    elif groups == "isoweek":
        values["d"] = rng.integers(18000, 19500, n).astype(np.uint16)
        group_layers = iso = ("d",)
    q = ZonalQuery(
        base_layer="v",
        group_layers=group_layers,
        aggregates=(
            Aggregate("count", None, "n"),
            Aggregate("sum", "v", "s"),
            Aggregate("avg", "v", "a"),
            Aggregate("min", "v", "lo"),
            Aggregate("max", "v", "hi"),
            Aggregate("sum", "area__ha", "ha"),
        ),
        isoweek_layers=iso,
        compat_avg=compat_avg,
    )
    mean_area = 0.37
    ctx = zonal._CellAggContext(q, values, mean_area, _Env())
    if groups == "wide":
        assert ctx.table is not None  # 2000 x 1000 keys: dictionary-encoded
    mask = rng.random(n) < density
    got = pd.DataFrame(ctx.run(mask))

    df = pd.DataFrame({k: v[mask] for k, v in values.items()})
    keys = list(group_layers)
    if iso:
        cal = pd.to_datetime(df.pop("d").astype(np.int64), unit="D").dt.isocalendar()
        df["d__isoyear"], df["d__isoweek"] = cal.year.astype(np.int64), cal.week.astype(np.int64)
        keys = ["d__isoyear", "d__isoweek"]
    n_masked = int(mask.sum())
    if keys:
        grp = df.groupby(keys)["v"]
        exp = pd.DataFrame({"n": grp.size(), "s": grp.sum(), "sum": grp.sum(), "cnt": grp.count(),
                            "lo": grp.min(), "hi": grp.max()}).reset_index()
    else:
        v = df["v"]
        exp = pd.DataFrame({"n": [n_masked], "s": [v.sum()], "sum": [v.sum()], "cnt": [v.count()],
                            "lo": [v.min()], "hi": [v.max()]})
    exp["ha"] = exp["n"] * mean_area
    if compat_avg:
        exp["a"] = exp.pop("sum") / max(n_masked, 1)
        exp.pop("cnt")
    else:
        exp = exp.rename(columns={"sum": "a__sum", "cnt": "a__cnt"})
    assert sorted(got.columns) == sorted(exp.columns)
    assert len(got) == len(exp)
    if not len(exp):
        return
    got = got.sort_values(keys).reset_index(drop=True) if keys else got
    for c in exp.columns:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float),
            rtol=1e-12, atol=1e-12, equal_nan=True, err_msg=c,
        )


@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=2, max_size=30),
    st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=60, deadline=None)
def test_phash_banding_recall_property(hashes, seed):
    """Pigeonhole invariant behind dedup.phash_near_duplicates: any two
    64-bit values within hamming <= bands-1 MUST share at least one of the
    4 16-bit bands (the exact-recall regime the operator promises)."""
    rng = np.random.RandomState(seed % (2**31))
    vals = [h & ((1 << 64) - 1) for h in hashes]
    # plant a near pair: flip up to 3 random bits of the first value
    v = vals[0]
    for b in rng.choice(64, size=rng.randint(0, 4), replace=False):
        v ^= 1 << int(b)
    vals.append(v)
    for i, a in enumerate(vals):
        for b in vals[i + 1:]:
            ham = bin(a ^ b).count("1")
            shares = any(
                ((a >> (16 * k)) & 0xFFFF) == ((b >> (16 * k)) & 0xFFFF)
                for k in range(4)
            )
            if ham <= 3:
                assert shares, (hex(a), hex(b), ham)


@given(
    st.integers(min_value=0, max_value=2**20),
    st.integers(min_value=0, max_value=2**20),
)
@settings(max_examples=100, deadline=None)
def test_iso_year_week_of_raw_matches_datetime(days, extra):
    """The zonal kernel's LUT-based ISO year/week equals Python's
    datetime.isocalendar for arbitrary day offsets (raw = days since
    epoch path, no decode expression)."""
    import datetime

    from gfw_raster_analysis_lambda_spark.operators import zonal

    raw = np.array([days % 40000, extra % 40000], dtype=np.int64)
    iy, iw = zonal._iso_year_week_of_raw(raw, object())
    for k, d in enumerate(raw):
        date = datetime.date(1970, 1, 1) + datetime.timedelta(days=int(d))
        iso = date.isocalendar()
        assert (int(iy[k]), int(iw[k])) == (iso[0], iso[1])


@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=10.0, allow_nan=False),
            st.floats(min_value=0.0, max_value=10.0, allow_nan=False),
        ),
        min_size=3,
        max_size=9,
    ),
    st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=40, deadline=None)
def test_rasterize_matches_contains_points(pts, seed):
    """P6 cross-implementation property: the scanline rasterizer (sorted
    crossing counts per row) must agree pixel-for-pixel with the
    independent per-point even-odd crossing test on arbitrary (possibly
    self-intersecting) rings."""
    ring = np.asarray(pts, dtype=np.float64)
    geom = [[ring]]
    rng = np.random.RandomState(seed % (2**31))
    x0 = float(rng.uniform(-1, 8))
    y0 = float(rng.uniform(3, 12))
    ps = float(rng.uniform(0.05, 0.8))
    w = h = 16
    mask = geo.rasterize_mask(geom, x0, y0, ps, w, h)
    cx = x0 + (np.arange(w) + 0.5) * ps
    cy = y0 - (np.arange(h) + 0.5) * ps
    gx, gy = np.meshgrid(cx, cy)
    exp = geo.contains_points(geom, gx.ravel(), gy.ravel()).reshape(h, w)
    np.testing.assert_array_equal(mask, exp)


@given(st.integers(min_value=0, max_value=2**31 - 1), st.floats(min_value=0.2, max_value=0.7))
@settings(max_examples=60, deadline=None)
def test_label_tile_matches_bfs(seed, density):
    """components._label_tile (run-based union-find) equals BFS labeling
    on random masks, both connectivities: same component count and the
    same pixel partition."""
    from gfw_raster_analysis_lambda_spark.operators.components import _label_tile

    rng = np.random.RandomState(seed)
    mask = rng.random((12, 12)) < density
    for diag in (False, True):
        lab = _label_tile(mask, diagonal=diag)
        assert (lab > 0).sum() == mask.sum()
        # BFS partition
        seen = np.zeros_like(mask)
        nbrs = [(-1, 0), (1, 0), (0, -1), (0, 1)] + (
            [(-1, -1), (-1, 1), (1, -1), (1, 1)] if diag else []
        )
        comps = []
        for r in range(12):
            for c in range(12):
                if mask[r, c] and not seen[r, c]:
                    comp = set()
                    stack = [(r, c)]
                    seen[r, c] = True
                    while stack:
                        y, x = stack.pop()
                        comp.add((y, x))
                        for dy, dx in nbrs:
                            yy, xx = y + dy, x + dx
                            if 0 <= yy < 12 and 0 <= xx < 12 and mask[yy, xx] and not seen[yy, xx]:
                                seen[yy, xx] = True
                                stack.append((yy, xx))
                    comps.append(comp)
        # every BFS component must carry exactly one label
        labs_of = [{int(lab[y, x]) for (y, x) in comp} for comp in comps]
        assert all(len(s) == 1 for s in labs_of), (mask, lab, diag)
        assert len({next(iter(s)) for s in labs_of}) == len(comps)
