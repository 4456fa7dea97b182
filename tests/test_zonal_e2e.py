"""End-to-end: Spark zonal engine vs the single-process numpy oracle.

One test per reference e2e shape (SURVEY.md section 5 / FIXTURES.md
section 4): grouped masked sums, ungrouped area sums, categorical decode,
default-meaning groups, NoData semantics, packed-date derivation, isoweek,
order/limit, pixel-row selects, empty extents, degenerate geometry.
Tolerances follow the reference's own tests: exact for counts, rel 1e-9
here (same kernels both sides; the reference uses 1e-2 against *foreign*
goldens)."""

from unittest import mock

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gfw_raster_analysis_lambda_spark import oracle
from gfw_raster_analysis_lambda_spark.plans import planner
from gfw_raster_analysis_lambda_spark.plans.ir import (
    Aggregate,
    FilterAnd,
    FilterLeaf,
    FilterOr,
    OrderBy,
    ZonalQuery,
)
from gfw_raster_analysis_lambda_spark.plans.planner import run_zonal_query
from gfw_raster_analysis_lambda_spark.sources import fixtures
from gfw_raster_analysis_lambda_spark.sources.catalog import DataEnvironment
from gfw_raster_analysis_lambda_spark.sources.images import read_images

GRID_NAME = fixtures.GRID.name


@pytest.fixture(scope="module")
def env():
    return fixtures.fixture_environment()


@pytest.fixture(scope="module")
def tables(spark, corpus):
    images = read_images(spark, corpus["images"])
    aoi = spark.read.parquet(corpus["aoi"])
    return images, aoi


def run_both(spark, tables, env, query, aois=None):
    """(engine result, oracle result). The fixture batches are far below
    the driver bounds, so the engine result comes from a within-bound
    route (the driver kernel for an aggregate). Every query runs again
    over the bounds (``BROADCAST_CELL_LIMIT`` at 0: the cogroup route),
    and an aggregate also with the driver-kernel bound at 0 (the
    distributed kernel plan); each must give the same frame."""
    images, aoi_df = tables
    aois = aois or [a for a in fixtures.fixture_aois()]
    ids = [a[0] for a in aois]
    aoi_df = aoi_df.filter(aoi_df.aoi_id.isin(ids))

    def run():
        return (
            run_zonal_query(spark, images, aoi_df, query, env, GRID_NAME)
            .toPandas()
            .reset_index(drop=True)
        )

    got = run()
    bounds = ["BROADCAST_CELL_LIMIT"] + ([] if query.select_pixels else ["DRIVER_KERNEL_PX_LIMIT"])
    for bound in bounds:
        with mock.patch.object(planner, bound, 0):
            other = run()
        if query.select_pixels and query.limit is not None and not query.order_by:
            # which pixel rows LIMIT keeps without an ORDER BY is unspecified
            per_aoi = other.groupby("aoi_id").size(), got.groupby("aoi_id").size()
            assert per_aoi[0].to_dict() == per_aoi[1].to_dict(), bound
        else:
            assert_frames_match(other, got)
    exp = oracle.run_oracle(query, env, aois)
    return got, exp


def assert_frames_match(got: pd.DataFrame, exp: pd.DataFrame, sort_cols=None):
    assert list(got.columns) == list(exp.columns), f"{got.columns} vs {exp.columns}"
    assert len(got) == len(exp), f"row count {len(got)} vs {len(exp)}\n{got}\n{exp}"
    if len(exp) == 0:
        return
    sort_cols = sort_cols or list(got.columns)
    g = got.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    e = exp.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    for c in got.columns:
        if np.issubdtype(np.asarray(e[c]).dtype, np.number):
            np.testing.assert_allclose(
                g[c].to_numpy(dtype=np.float64),
                e[c].to_numpy(dtype=np.float64),
                rtol=1e-9,
                atol=1e-12,
                err_msg=f"column {c}",
            )
        else:
            assert g[c].astype(str).tolist() == e[c].astype(str).tolist(), f"column {c}"


# 1. grouped masked sum + alias (reference test:269-286)
def test_grouped_masked_area_sum(spark, tables, env):
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(
            Aggregate("sum", "area__ha", "loss_ha"),
            Aggregate("sum", "emissions_Mg", "emissions"),
        ),
        where=FilterAnd(
            (
                FilterLeaf("is_primary", "in", (1,)),  # = 'true' encoded
                FilterLeaf("tcd_threshold", "in", (5, 6, 7)),  # >= 30 encoded
            )
        ),
    )
    got, exp = run_both(spark, tables, env, q)
    assert len(got) > 10
    assert_frames_match(got, exp)


# 2. ungrouped area sum FROM data (reference test:342-352)
def test_ungrouped_area_sum_from_data(spark, tables, env):
    q = ZonalQuery(
        base_layer="data",
        aggregates=(Aggregate("sum", "area__ha", "area_ha"),),
    )
    aois = [a for a in fixtures.fixture_aois() if a[0] == "aoi_box_aligned"]
    got, exp = run_both(spark, tables, env, q, aois)
    assert_frames_match(got, exp)
    # grid-snapped 2x2-cell box: mask = full tiles -> analytic pixel count
    # appears via area: got == 4 tiles * 64*64 px * pixel_area summed per tile
    assert len(got) == 1 and got.area_ha[0] > 0


# 3. OR filter + multi-agg no-group (reference test:476-496)
def test_multi_agg_or_filter(spark, tables, env):
    q = ZonalQuery(
        base_layer="tcl_year",
        aggregates=(
            Aggregate("count", None, "n"),
            Aggregate("sum", "emissions", "em_sum"),
            Aggregate("avg", "emissions", "em_avg"),
            Aggregate("min", "emissions", "em_min"),
            Aggregate("max", "emissions", "em_max"),
        ),
        where=FilterOr(
            (
                FilterLeaf("tcl_year", ">=", (15,)),
                FilterLeaf("is_primary", "in", (1,)),
            )
        ),
    )
    got, exp = run_both(spark, tables, env, q)
    assert_frames_match(got, exp)


# 4. two-column group-by + order (reference test:373-382)
def test_two_column_groupby_order(spark, tables, env):
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year", "tcd_threshold"),
        aggregates=(Aggregate("count", None, "n"),),
        order_by=(
            OrderBy("n", ascending=False),
            OrderBy("tcl_year", ascending=True),  # deterministic tie-break
            OrderBy("tcd_threshold", ascending=True),
        ),
        limit=100,
    )
    got, exp = run_both(spark, tables, env, q)
    # order-by with ties is nondeterministic across engines: compare sets
    assert_frames_match(
        got.sort_values(list(got.columns)).reset_index(drop=True),
        exp.sort_values(list(exp.columns)).reset_index(drop=True),
    )


# 5. categorical decode incl. default_meaning (reference test:431-446, 573-595)
def test_categorical_decode_default_meaning(spark, tables, env):
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("drivers",),
        aggregates=(Aggregate("sum", "area__ha", "area_ha"),),
    )
    got, exp = run_both(spark, tables, env, q)
    assert "Unknown" in set(got["drivers"])  # raw 0 kept via default_meaning
    assert_frames_match(got, exp)


# 6. packed date decode + isoweek regroup (reference test:385-394)
def test_isoweek_count(spark, tables, env):
    q = ZonalQuery(
        base_layer="alert_date_conf",
        group_layers=("alert_date",),
        aggregates=(Aggregate("count", None, "alert_count"),),
        isoweek_layers=("alert_date",),
    )
    got, exp = run_both(spark, tables, env, q)
    assert list(got.columns) == ["aoi_id", "alert_date__isoyear", "alert_date__isoweek", "alert_count"]
    assert_frames_match(got, exp)


# 7. derived __ha auto-layer (reference test:533-548)
def test_auto_ha_derivation(spark, tables, env):
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("sum", "tcl__ha", "tcl_ha"),),
    )
    # tcl__ha should auto-derive from tcl_year via where(A > 0, area, 0)
    got, exp = run_both(spark, tables, env, q)
    assert_frames_match(got, exp)


# 8. NoData=255 + NoData=None semantics (reference test:551-641)
def test_nodata_255_and_none(spark, tables, env):
    q = ZonalQuery(
        base_layer="ttc_percent",
        aggregates=(Aggregate("count", None, "n"), Aggregate("avg", "ttc_percent", "m")),
    )
    got, exp = run_both(spark, tables, env, q)
    assert_frames_match(got, exp)
    # photo has no_data=None: FROM photo masks nothing
    q2 = ZonalQuery(base_layer="photo", aggregates=(Aggregate("count", None, "n"),))
    got2, exp2 = run_both(spark, tables, env, q2)
    assert_frames_match(got2, exp2)


# 9. empty extent -> empty result (reference test:463-473)
def test_empty_extent(spark, tables, env):
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("sum", "area__ha", "a"),),
    )
    aois = [a for a in fixtures.fixture_aois() if a[0] == "aoi_outside"]
    got, exp = run_both(spark, tables, env, q, aois)
    assert len(got) == 0 and len(exp) == 0


# 10. degenerate self-touching polygon still runs (buffer(0) parity)
def test_degenerate_polygon_repair(spark, tables, env):
    q = ZonalQuery(base_layer="data", aggregates=(Aggregate("count", None, "n"),))
    aois = [a for a in fixtures.fixture_aois() if a[0] == "aoi_degenerate"]
    got, exp = run_both(spark, tables, env, q, aois)
    assert_frames_match(got, exp)
    assert got.n[0] > 0


# 11. concave multipolygon with hole + island
def test_concave_hole_geometry(spark, tables, env):
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("count", None, "n"),),
    )
    aois = [a for a in fixtures.fixture_aois() if a[0] == "aoi_concave_hole"]
    got, exp = run_both(spark, tables, env, q, aois)
    assert_frames_match(got, exp)


# 12. pixel-row select with lat/lon (reference test:302-316)
def test_pixel_select_latlon(spark, tables, env):
    q = ZonalQuery(
        base_layer="alert_date_conf",
        select_pixels=("latitude", "longitude", "alert_date", "alert_conf"),
        where=FilterLeaf("alert_conf", "==", (3,)),
    )
    aois = [a for a in fixtures.fixture_aois() if a[0] == "aoi_box_offset"]
    got, exp = run_both(spark, tables, env, q, aois)
    got = got.drop(columns=["aoi_id"])
    exp = exp.drop(columns=["aoi_id"])
    assert_frames_match(got, exp, sort_cols=["latitude", "longitude"])
    assert (got["alert_conf"] == 3.0).all()


# 13. compat AVG quirk (A3): per-group sums divided by tile total
def test_compat_avg_quirk(spark, tables, env):
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("is_primary",),
        aggregates=(Aggregate("avg", "emissions", "m"),),
        compat_avg=True,
    )
    images, aoi_df = (t for t in tables)
    aois = [a for a in fixtures.fixture_aois() if a[0] == "aoi_box_aligned"]
    got, _ = run_both(spark, tables, env, q, aois)
    q2 = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("is_primary",),
        aggregates=(Aggregate("avg", "emissions", "m"),),
        compat_avg=False,
    )
    got2, exp2 = run_both(spark, tables, env, q2, aois)
    assert_frames_match(got2, exp2)
    # the quirk mode gives different (smaller) numbers than the true mean
    assert (got["m"].to_numpy() != got2["m"].to_numpy()).any()


# 14. strategy parity: cell / salted-cell / colocated agree with each
# other and with the oracle
def _parity_query():
    return ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(
            Aggregate("sum", "area__ha", "loss_ha"),
            Aggregate("count", None, "n"),
        ),
        where=FilterLeaf("tcd_threshold", "in", (5, 6, 7)),
    )


def test_strategy_parity_cell_vs_aoi_cell(spark, tables, env):
    images, aoi_df = tables
    q = _parity_query()
    ref = oracle.run_oracle(q, env, fixtures.fixture_aois())
    got = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="cell").toPandas()
    assert_frames_match(got, ref)


def test_prepared_aoi_index_parity(spark, tables, env):
    """A prepared AoiIndex (enumerate+salt+broadcast once, reuse across
    queries) must produce bit-identical results to the per-query path, and
    reject grid mismatches."""
    from gfw_raster_analysis_lambda_spark.plans import planner

    images, aoi_df = tables
    q = _parity_query()
    idx = planner.prepare_aoi_index(spark, aoi_df, GRID_NAME)
    assert idx is not None
    ref = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="cell").toPandas()
    got = run_zonal_query(
        spark, images, aoi_df, q, env, GRID_NAME, strategy="cell", aoi_index=idx
    ).toPandas()
    assert_frames_match(got, ref)
    # second query over the SAME index (the amortization the API exists for)
    q2 = ZonalQuery(
        base_layer="tcl_year",
        aggregates=(Aggregate("count", None, "n"),),
    )
    ref2 = run_zonal_query(spark, images, aoi_df, q2, env, GRID_NAME, strategy="cell").toPandas()
    got2 = run_zonal_query(
        spark, images, aoi_df, q2, env, GRID_NAME, strategy="cell", aoi_index=idx
    ).toPandas()
    assert_frames_match(got2, ref2)
    with pytest.raises(ValueError, match="prepared on grid"):
        run_zonal_query(
            spark, images, aoi_df, q, env, "4/4096", strategy="cell", aoi_index=idx
        )


def test_strategy_parity_salted(spark, tables, env):
    from gfw_raster_analysis_lambda_spark.plans import planner

    images, aoi_df = tables
    q = _parity_query()
    ref = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="cell").toPandas()
    # a salting target of 2 passes -> one AOI per slice: every multi-AOI
    # cell gets salted replicas
    with mock.patch.object(planner, "SALT_TARGET", 2):
        idx = planner.prepare_aoi_index(spark, aoi_df, GRID_NAME)
    assert idx.salted
    salted = run_zonal_query(
        spark, images, aoi_df, q, env, GRID_NAME, strategy="cell", aoi_index=idx
    ).toPandas()
    assert_frames_match(salted, ref)


def test_strategy_parity_colocated(spark, tables, env, tmp_path):
    from gfw_raster_analysis_lambda_spark.sources.images import (
        images_cell_sorted,
        write_images_cell_sorted,
    )

    images, aoi_df = tables
    path = str(tmp_path / "sorted_images")
    write_images_cell_sorted(images.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    ), path, n_files=5)
    assert images_cell_sorted(path)
    sorted_images = read_images(spark, path)
    q = _parity_query()
    ref = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="cell").toPandas()
    got = run_zonal_query(
        spark, sorted_images, aoi_df, q, env, GRID_NAME, strategy="colocated"
    ).toPandas()
    assert_frames_match(got, ref)


def test_strategy_parity_pixel_mode(spark, tables, env):
    images, aoi_df = tables
    q = ZonalQuery(
        base_layer="tcl_year",
        select_pixels=("latitude", "longitude", "tcl_year"),
        where=FilterLeaf("tcd_threshold", "in", (6, 7)),
    )
    ref = oracle.run_oracle(q, env, fixtures.fixture_aois())
    got = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="cell").toPandas()
    assert_frames_match(
        got.sort_values(list(got.columns)).reset_index(drop=True),
        ref.sort_values(list(ref.columns)).reset_index(drop=True),
    )


def test_lookup_paths_agree(spark, tables, monkeypatch):
    """The driver's broadcast lookup (prepare_aoi_index) and the cogroup
    route's salted AOI-cell frame (_salted_aoi_cells) agree per cell on
    the AOI list, n_salt and each AOI's salt slot (aois[s::n_salt]). A
    salting target of 2 passes salts every cell shared by several AOIs."""
    _, aoi_df = tables
    monkeypatch.setattr(planner, "SALT_TARGET", 2)
    idx = planner.prepare_aoi_index(spark, aoi_df, GRID_NAME)
    frame = planner._salted_aoi_cells(planner.aoi_cells(aoi_df, GRID_NAME))
    assert max(n for n, _ in idx.lookup.value.values()) > 1
    _assert_lookup_matches_frame(idx.lookup.value, frame)


def _assert_lookup_matches_frame(lookup, frame):
    """The broadcast lookup ``{cell: (n_salt, [(aoi, wkb)...])}`` and the
    salted AOI-cell frame hold the same AOIs per cell, the same n_salt
    and each AOI in the slot aois[s::n_salt] gives it."""
    by_cell: dict = {}
    for r in frame.select("cell_id", "aoi_id", "_n_salt", "_salt").collect():
        by_cell.setdefault(r["cell_id"], []).append((r["aoi_id"], r["_n_salt"], r["_salt"]))
    assert set(by_cell) == set(lookup)
    for cell, (n_salt, aois) in lookup.items():
        ids = [a for a, _ in aois]
        rows = sorted(by_cell[cell])
        assert [a for a, _, _ in rows] == ids, cell
        assert {n for _, n, _ in rows} == {n_salt}, cell
        for a, _, slot in rows:
            assert a in [x for x, _ in aois[slot::n_salt]], (cell, a)


@settings(max_examples=300, deadline=None)
@given(aois=st.lists(st.integers(1, 5000), min_size=1, max_size=40), target=st.integers(1, 600))
def test_salting_rule_bounds_every_slice(aois, target):
    """For cells of ``aois`` AOIs each and a salting target of ``target``
    passes: a cell whose cost (1 + its AOIs) is within the target is never
    split, no slice aois[s::n_salt] costs more than the target (a target
    below 2 passes still leaves one AOI per slice), every slice holds an
    AOI, and one slice fewer would overrun."""
    assert planner.SALT_TARGET == 256
    with mock.patch.object(planner, "SALT_TARGET", target):
        per = planner._aois_per_slice()
    bound = max(target, 2)
    for a in aois:
        n = -(-a // per)
        slices = [len(range(s, a, n)) for s in range(n)]
        assert min(slices) >= 1 and 1 + max(slices) <= bound, (a, n, target)
        if 1 + a <= target:
            assert n == 1
        if n > 1:
            assert 1 + -(-a // (n - 1)) > bound


def _stacks(stacks):
    """AOI rows: per ``(cell index, k)`` of ``stacks``, k tiny AOIs inside
    that fixture cell."""
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo

    rows = []
    for j, (c, k) in enumerate(stacks):
        lon0, lat0 = 10.0 + (c % 4) * 0.25, 20.0 + (c // 4) * 0.25
        for i in range(k):
            lon = lon0 + 0.01 + (i % 20) * 0.011
            lat = lat0 + 0.01 + (i // 20) * 0.02
            rows.append((f"s{j}_{i:03d}", geo.wkb_dumps(geo.box(lon, lat, lon + 0.009, lat + 0.012))))
    return rows


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    stacks=st.lists(st.tuples(st.integers(0, 15), st.integers(1, 220)), min_size=1, max_size=3),
    target=st.sampled_from([2, 17, 64, 256]),
)
def test_salting_rule_routes_agree(spark, stacks, target):
    """On random stacked AOI batches the driver lookup salts each cell as
    the rule's definition says (:func:`_rule_salts`), and the cogroup
    route's salted frame agrees with it cell by cell and slot by slot."""
    rows = _stacks(stacks)
    with mock.patch.object(planner, "SALT_TARGET", target):
        lookup, salted = planner._aoi_lookup_from_aois(
            spark, [{"aoi_id": a, "geom_wkb": w} for a, w in rows], GRID_NAME
        )
        try:
            rule = _rule_salts(rows)
            assert {c: n for c, (n, _) in lookup.value.items()} == rule
            assert salted == {c: n for c, n in rule.items() if n > 1}
            aoi_df = spark.createDataFrame(rows, "aoi_id string, geom_wkb binary")
            frame = planner._salted_aoi_cells(planner.aoi_cells(aoi_df, GRID_NAME))
            _assert_lookup_matches_frame(lookup.value, frame)
        finally:
            lookup.unpersist()


# 15. finest-grid co-registration: biomass lives on 4/512 (2x coarser);
# querying it with 4/1024 layers must upsample it inside the kernel
def _multigrid_query():
    return ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(
            Aggregate("sum", "biomass", "bio_sum"),
            Aggregate("count", None, "n"),
        ),
        where=FilterLeaf("biomass", ">", (50,)),
    )


def test_multigrid_coarse_layer_upsample(spark, tables, env):
    got, exp = run_both(spark, tables, env, _multigrid_query())
    assert len(got) > 10
    assert_frames_match(got, exp)


def test_multigrid_over_bound_route(spark, tables, env, monkeypatch):
    """Over the driver bounds a multigrid query regrids the coarse tiles
    like every other route (an over-bound plan that joined tiles to AOI
    cells on the raw cell id found no 4/512 tile and returned no rows)."""
    images, aoi_df = tables
    aois = fixtures.fixture_aois()[:3]
    aoi_df = aoi_df.filter(aoi_df.aoi_id.isin([a[0] for a in aois]))
    q = _multigrid_query()
    monkeypatch.setattr(planner, "BROADCAST_CELL_LIMIT", 0)
    got = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME).toPandas()
    exp = oracle.run_oracle(q, env, aois)
    assert len(exp) > 10
    assert_frames_match(got.reset_index(drop=True), exp)


def test_multigrid_target_grid_resolution(spark, tables, env):
    from gfw_raster_analysis_lambda_spark.plans import planner

    # finest rule: biomass-only query resolves to its native 4/512 grid
    q1 = ZonalQuery(base_layer="biomass", aggregates=(Aggregate("count", None, "n"),))
    assert planner.resolve_target_grid(q1, env, None) == "4/512"
    # mixed query resolves to the finest grid among its layers
    q2 = ZonalQuery(
        base_layer="tcl_year",
        aggregates=(Aggregate("sum", "biomass", "b"),),
    )
    assert planner.resolve_target_grid(q2, env, None) == "4/1024"
    assert planner.resolve_target_grid(q2, env, "4/2048") == "4/2048"


def test_streaming_cells_regroup_unit():
    """_streaming_cells must reassemble cells that span Arrow batch
    boundaries (incl. one cell spanning 3 batches) and call the kernel
    exactly once per cell with all its rows."""
    import pyarrow as pa

    from gfw_raster_analysis_lambda_spark.plans.planner import _streaming_cells

    calls = []

    def fake_kernel(tiles):
        cell = tiles.column("cell_id")[0].as_py()
        calls.append((cell, tiles.num_rows))
        return pa.record_batch({"cell_id": [cell], "n": [tiles.num_rows]})

    def batches():
        # cell 1 (2 rows) | cell 2 spans 3 batches (1+2+1) | cell 3 (1 row)
        yield pa.record_batch({"cell_id": pa.array([1, 1, 2], pa.int64())})
        yield pa.record_batch({"cell_id": pa.array([2, 2], pa.int64())})
        yield pa.record_batch({"cell_id": pa.array([2, 3], pa.int64())})
        yield pa.record_batch({"cell_id": pa.array([], pa.int64())})

    out = list(_streaming_cells(fake_kernel)(batches()))
    assert calls == [(1, 2), (2, 4), (3, 1)]
    assert len(out) == 3


def test_local_frame_keeps_rows_after_empty_batch(spark):
    """The driver route hands its per-cell record batches, empty ones
    included, to ``local_frame``; createDataFrame alone drops the rows
    after a zero-row batch that follows a non-empty one."""
    import pyarrow as pa

    from gfw_raster_analysis_lambda_spark.plans.driver import local_frame

    schema = pa.schema([("a", pa.int64())])
    table = pa.Table.from_batches(
        [pa.record_batch([pa.array(v, pa.int64())], schema=schema) for v in ([1], [], [2, 3])],
        schema,
    )
    assert sorted(r.a for r in local_frame(spark, table).collect()) == [1, 2, 3]


def test_geom_cache_concurrent_requests(monkeypatch):
    """The kernel's byte-bounded geometry cache is shared by concurrent
    driver-route requests: with many threads missing the same geometries
    at once and a short switch interval, its byte count still equals the
    bytes of the entries it holds (a double insert or a lost update would
    break that, and with it the bound)."""
    import sys
    import threading

    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.operators import zonal

    wkbs = [geo.wkb_dumps(geo.box(i * 0.01, 0.0, i * 0.01 + 0.5, 0.5)) for i in range(32)]
    monkeypatch.setattr(zonal, "_GEOM_CACHE", {})
    monkeypatch.setattr(zonal, "_GEOM_CACHE_BYTES", 0)
    start = threading.Barrier(16)
    errors = []

    def worker():
        try:
            start.wait(timeout=60)
            for w in wkbs:
                assert zonal._geom_edges(w)[0] is not None
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(zonal._GEOM_CACHE) == len(wkbs)
    held = sum(3 * v[1].nbytes + len(k) for k, v in zonal._GEOM_CACHE.items())
    assert zonal._GEOM_CACHE_BYTES == held


# 16. NaN aggregate layer (once the kernel's generic path) + isoweek
# groups + a zero-masked AOI sharing a cell with a nonzero AOI: the empty
# AOI's column set must match the group names the nonzero AOIs emit
# (regression: mixed g vs g__isoyear/g__isoweek keys crashed the task)
def test_generic_path_isoweek_zero_masked_aoi(spark, tables, env):
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo

    q = ZonalQuery(
        base_layer="alert_date_conf",
        group_layers=("alert_date",),
        aggregates=(Aggregate("sum", "emissions", "em_sum"),),  # NaN aggregate layer
        isoweek_layers=("alert_date",),
    )
    # both AOIs intersect the same fixture cell (lon 10..10.25, lat 20.75..21);
    # the sliver sits between pixel-center columns so it rasterizes to ZERO px
    normal = ("aoi_norm", geo.wkb_dumps(geo.box(10.01, 20.80, 10.20, 20.95)))
    sliver = ("aoi_sliver", geo.wkb_dumps(geo.box(10.0021, 20.80, 10.0035, 20.95)))
    images, _ = tables
    aoi_df = spark.createDataFrame([normal, sliver], "aoi_id string, geom_wkb binary")
    got = (
        run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="cell")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle.run_oracle(q, env, [normal, sliver])
    assert set(got["aoi_id"]) == {"aoi_norm"}  # sliver legitimately empty
    assert_frames_match(got, exp)


# 17. colocated scans must never split a file across tasks (a cell
# straddling a split is processed by two tasks, each zero-filling the
# other's layers). The writer records max_file_bytes; read_images raises
# maxPartitionBytes + openCostInBytes above it (split size is
# min(maxPartitionBytes, max(openCost, bytesPerCore)), and bytesPerCore
# shrinks under pruning, so both knobs matter).
def test_colocated_split_safe_guard(spark, corpus, env, tmp_path):
    from pyspark.sql import functions as F

    from gfw_raster_analysis_lambda_spark.sources.images import (
        _parse_bytes,
        read_images,
        write_images_cell_sorted,
    )

    path = str(tmp_path / "cs_small_groups")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", "16384")  # many row groups per file
    try:
        write_images_cell_sorted(spark.read.parquet(corpus["images"]), path, n_files=1)
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)

    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "65536")
        spark.conf.set(keys[1], "0")

        def cells_spanning_tasks(df):
            return (
                df.select("cell_id")
                .withColumn("pid", F.spark_partition_id())
                .groupBy("cell_id").agg(F.countDistinct("pid").alias("np"))
                .filter("np > 1").count()
            )

        # hazard is real: a guard-less read at this conf splits cells
        assert cells_spanning_tasks(spark.read.parquet(path)) > 0

        # read_images applies the guard: confs bumped, no cell splits,
        # and the colocated result matches the oracle
        images = read_images(spark, path)
        assert _parse_bytes(spark.conf.get(keys[0])) > 65536
        assert _parse_bytes(spark.conf.get(keys[1])) > 0
        assert cells_spanning_tasks(images) == 0

        q = ZonalQuery(
            base_layer="tcl_year",
            group_layers=("tcl_year",),
            aggregates=(Aggregate("count", None, "n"),),
        )
        aois = fixtures.fixture_aois()[:2]
        aoi_df = spark.createDataFrame(aois, "aoi_id string, geom_wkb binary")
        got = (
            run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME,
                            strategy="colocated")
            .toPandas().reset_index(drop=True)
        )
        assert_frames_match(got, oracle.run_oracle(q, env, aois))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# 18. broadcast-volume guard: an AOI batch whose aoi-cell map exceeds
# BROADCAST_CELL_LIMIT must take the distributed cogroup plan — nothing
# collected to the driver — and agree with the broadcast plan
def test_auto_fallback_over_broadcast_limit(spark, tables, env, monkeypatch):
    from gfw_raster_analysis_lambda_spark.plans import planner

    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("count", None, "n"),),
    )
    images, _ = tables
    aois = fixtures.fixture_aois()[:2]
    aoi_df = spark.createDataFrame(aois, "aoi_id string, geom_wkb binary")
    exp = (
        run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="cell")
        .toPandas().reset_index(drop=True)
    )

    monkeypatch.setattr(planner, "BROADCAST_CELL_LIMIT", 2)  # force over-bound
    took = {}
    orig = planner._build_partials_over_bound

    def spy(*a, **k):
        took["cogroup_plan"] = True
        return orig(*a, **k)

    monkeypatch.setattr(planner, "_build_partials_over_bound", spy)

    def no_collect(*a, **k):
        raise AssertionError("over-bound batch collected the cell map to the driver")

    for name in ("_with_missing_cells", "_driver_cell_plan"):
        monkeypatch.setattr(planner, name, no_collect)
    df = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="cell")
    got = df.toPandas().reset_index(drop=True)
    assert took.get("cogroup_plan")
    assert "FlatMapCoGroupsInArrow" in df._jdf.queryExecution().executedPlan().toString()
    assert_frames_match(got, exp)


# 19. colocated hot-cell diversion: a cell stacked with hundreds of AOIs
# must not serialize into one colocated task — it takes the salted cell
# plan while cold cells keep the zero-shuffle stream; results must match
# the oracle
def _stacked_aois(n):
    """``n`` (at most 300) tiny AOIs stacked inside ONE cell (lon
    10..10.25, lat 20.75..21)."""
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo

    rows = []
    for i in range(n):
        lon = 10.01 + (i % 20) * 0.011
        lat = 20.76 + (i // 20) * 0.015
        rows.append((f"hot_{i:03d}", geo.wkb_dumps(geo.box(lon, lat, lon + 0.009, lat + 0.012))))
    return rows


def _hot_cell_aois():
    """300 stacked AOIs, a cell the salting rule splits (into 2 slices at
    its target of 256 passes), plus two normal AOIs."""
    return _stacked_aois(300) + [(a, w) for a, w in fixtures.fixture_aois()[:2]]


def _rule_salts(rows):
    """{cell: n_salt} the salting rule gives the AOI batch ``rows``, worked
    out here from its definition: a cell costs 1 + its AOIs and takes the
    fewest slices aois[s::n] whose cost is within ``planner.SALT_TARGET``
    (one AOI per slice when the target is below 2)."""
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.functions import grid as G

    counts: dict = {}
    for _, wkb in rows:
        for c in G.polygon_to_cells(fixtures.GRID, geo.wkb_loads(wkb)).tolist():
            counts[c] = counts.get(c, 0) + 1
    target = max(planner.SALT_TARGET, 2)
    out = {}
    for c, a in counts.items():
        n = 1
        while 1 + -(-a // n) > target:
            n += 1
        out[c] = n
    return out


def test_colocated_hot_cell_diversion(spark, corpus, env, tmp_path, monkeypatch):
    from gfw_raster_analysis_lambda_spark.plans import planner
    from gfw_raster_analysis_lambda_spark.sources.images import (
        read_images,
        write_images_cell_sorted,
    )

    path = str(tmp_path / "cs_hot")
    write_images_cell_sorted(spark.read.parquet(corpus["images"]), path)
    images = read_images(spark, path)

    rows = _hot_cell_aois()
    aoi_df = spark.createDataFrame(rows, "aoi_id string, geom_wkb binary")

    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("count", None, "n"),),
    )

    took = {}
    orig = planner._salted_cell_plan

    def spy(spark_, imgs_, salted_, wrapped_, schema_):
        took["salted"] = dict(salted_)
        return orig(spark_, imgs_, salted_, wrapped_, schema_)

    monkeypatch.setattr(planner, "_salted_cell_plan", spy)
    got = (
        run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="colocated")
        .toPandas().reset_index(drop=True)
    )
    # the hot cell is diverted and split as the rule says
    rule = {c: n for c, n in _rule_salts(rows).items() if n > 1}
    assert took["salted"] == rule and min(rule.values()) >= 2
    assert_frames_match(got, oracle.run_oracle(q, env, rows))


# 19b. the same hot cell over the driver bounds: the cogroup route salts
# it by a window count into the slices the broadcast lookup would give
# (aois[s::n_salt] of the cell's AOIs sorted by id); results match the
# oracle
def test_hot_cell_over_bound_salting(spark, tables, env, monkeypatch):
    from pyspark.sql import functions as F

    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.functions import grid as G

    images, _ = tables
    rows = _hot_cell_aois()
    aoi_df = spark.createDataFrame(rows, "aoi_id string, geom_wkb binary")
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("count", None, "n"),),
    )
    salted = []
    orig = planner._salted_aoi_cells

    def spy(*a, **k):
        salted.append(orig(*a, **k))
        return salted[-1]

    monkeypatch.setattr(planner, "_salted_aoi_cells", spy)
    monkeypatch.setattr(planner, "BROADCAST_CELL_LIMIT", 0)
    got = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME).toPandas()
    assert len(salted) == 1
    (hot,) = G.polygon_to_cells(fixtures.GRID, geo.wkb_loads(rows[0][1])).tolist()
    slots = (
        salted[0].filter(F.col("cell_id") == hot).select("aoi_id", "_n_salt", "_salt")
        .toPandas().sort_values("aoi_id")
    )
    n_salt = int(slots["_n_salt"].iloc[0])
    assert n_salt == _rule_salts(rows)[hot] >= 2 and slots["_salt"].nunique() == n_salt
    assert slots["_salt"].tolist() == [i % n_salt for i in range(len(slots))]
    assert_frames_match(got.reset_index(drop=True), oracle.run_oracle(q, env, rows))


# 19c. a hot cell whose kernel work is within the salting target is not
# split: 68 stacked AOIs (the batch workload's hotspot, which a 64-AOI
# count rule salted) stream in the one colocated mapInArrow stage
def test_hot_cell_within_salt_target_streams(spark, sorted_images, env, monkeypatch):
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.functions import grid as G

    rows = _stacked_aois(68) + [(a, w) for a, w in fixtures.fixture_aois()[:2]]
    (hot,) = G.polygon_to_cells(fixtures.GRID, geo.wkb_loads(rows[0][1])).tolist()
    assert set(_rule_salts(rows).values()) == {1}
    aoi_df = spark.createDataFrame(rows, "aoi_id string, geom_wkb binary")
    idx = planner.prepare_aoi_index(spark, aoi_df, GRID_NAME)
    assert len(idx.lookup.value[hot][1]) >= 68
    assert idx.salted == {}
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("count", None, "n"),),
    )
    monkeypatch.setattr(planner, "DRIVER_KERNEL_PX_LIMIT", 0)
    df = run_zonal_query(spark, sorted_images, aoi_df, q, env, GRID_NAME, aoi_index=idx)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "FlatMapGroupsInArrow" not in plan
    assert_frames_match(df.toPandas().reset_index(drop=True), oracle.run_oracle(q, env, rows))
    idx.unpersist()


def test_auto_strategy_prefers_colocated_on_sorted_layout(
    spark, tables, env, tmp_path, monkeypatch
):
    """strategy=None over a read_images() frame from a cell-sorted layout
    must take the zero-shuffle colocated plan (MapInArrow, no grouped
    shuffle) and match the explicit cell strategy's results. The fixture
    batch is below the driver-kernel bound, where the kernel runs on the
    driver and the plan has no Python stage at all; the bound is set to 0
    to see the distributed plans."""
    from gfw_raster_analysis_lambda_spark.sources.images import (
        read_images,
        write_images_cell_sorted,
    )

    images, aoi_df = tables
    path = str(tmp_path / "auto_sorted")
    write_images_cell_sorted(images.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    ), path, n_files=5)
    sorted_images = read_images(spark, path)
    q = _parity_query()
    ref = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="cell").toPandas()
    driver = run_zonal_query(spark, sorted_images, aoi_df, q, env, GRID_NAME)
    assert not _python_nodes(driver)
    assert_frames_match(driver.toPandas(), ref)

    monkeypatch.setattr(planner, "DRIVER_KERNEL_PX_LIMIT", 0)
    auto = run_zonal_query(spark, sorted_images, aoi_df, q, env, GRID_NAME)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "FlatMapGroupsIn" not in plan  # no grouped-shuffle kernel
    assert_frames_match(auto.toPandas(), ref)
    # a frame NOT read from a sorted layout keeps the cell plan
    plain = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME)
    plan2 = plain._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan2


def test_fused_multi_query_parity(spark, tables, env, monkeypatch):
    """run_zonal_queries (one fused kernel pass for the whole query set)
    must produce bit-identical results to per-query execution, across a
    mixed set: grouped masked sum, FROM_DATA area (missing-cell union),
    and an isoweek date query — with the kernel on the driver and in the
    distributed kernel stage (driver-kernel bound at 0)."""
    from gfw_raster_analysis_lambda_spark.plans.planner import run_zonal_queries

    images, aoi_df = tables
    qs = {
        "grouped": _parity_query(),
        "from_data": ZonalQuery(
            base_layer="data",
            aggregates=(Aggregate("sum", "area__ha", "area_ha"),
                        Aggregate("count", None, "n_px")),
        ),
        "isoweek": ZonalQuery(
            base_layer="alert_date_conf",
            group_layers=("alert_date",),
            aggregates=(Aggregate("count", None, "alert_count"),),
            isoweek_layers=("alert_date",),
        ),
        "minmax": ZonalQuery(
            base_layer="tcl_year",
            aggregates=(Aggregate("min", "emissions", "em_min"),
                        Aggregate("max", "emissions", "em_max"),
                        Aggregate("avg", "emissions", "em_avg")),
        ),
    }
    for bound in (planner.DRIVER_KERNEL_PX_LIMIT, 0):
        monkeypatch.setattr(planner, "DRIVER_KERNEL_PX_LIMIT", bound)
        fused = run_zonal_queries(spark, images, aoi_df, qs, env, GRID_NAME)
        for name, q in qs.items():
            single = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME).toPandas()
            got = fused[name].toPandas()
            assert_frames_match(got, single)
        # the distributed fused partial frame is cached once, shared by
        # every result, and released through the explicit handle (not a
        # fragile DataFrame attr); the driver-built one is a local frame
        if bound == 0:
            assert fused._partials is not None
            assert fused._partials.storageLevel.useMemory
        fused.close()
        assert fused._partials is None


def test_minmax_empty_groups_are_null(spark, tables, sorted_images, env, monkeypatch):
    """MIN/MAX over a group with no valid value in some cells (``em_north``
    is NaN south of the corpus's middle latitude) or in every cell
    (``em_high`` is NaN below 50, so band 0 never has one): the kernel
    hands Spark NULL partials, never NaN (NaN is Spark's greatest double
    and would win every MAX merge), and the result is NULL exactly where
    the oracle has no value and equal to it elsewhere — on the driver,
    cell, colocated and cogroup routes, single and fused."""
    from gfw_raster_analysis_lambda_spark.functions import geodesy
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.plans.planner import run_zonal_queries
    from gfw_raster_analysis_lambda_spark.sources.catalog import DerivedLayer

    grid = G.get_grid(GRID_NAME)
    cells = G.cell_from_xy(
        grid,
        np.repeat(np.arange(fixtures.X0, fixtures.X0 + fixtures.NX), fixtures.NY),
        np.tile(np.arange(fixtures.Y0, fixtures.Y0 + fixtures.NY), fixtures.NX),
    )
    areas = np.unique(geodesy.pixel_area_ha(
        G.cell_centroid_lat(grid, cells), G.cell_affine(grid, int(cells[0]))[2]
    ))
    cut = float(areas[len(areas) // 2 - 1] + areas[len(areas) // 2]) / 2
    genv = DataEnvironment(list(env.layers) + [
        DerivedLayer("em_band", source_layer="emissions", calc="floor(A / 50)", no_data=None),
        DerivedLayer(
            "em_north", source_layer="emissions", calc=f"where(area > {cut!r}, A, nan)",
            no_data=float("nan"),
        ),
        DerivedLayer(
            "em_high", source_layer="emissions", calc="where(A >= 50, A, nan)", no_data=float("nan")
        ),
    ])
    q = ZonalQuery(
        base_layer="emissions",
        group_layers=("em_band",),
        aggregates=(
            Aggregate("min", "em_north", "lo"),
            Aggregate("max", "em_north", "hi"),
            Aggregate("max", "em_high", "top"),
            Aggregate("count", None, "n"),
        ),
    )
    images, aoi_df = tables
    aois = fixtures.fixture_aois()
    aoi_df = aoi_df.filter(aoi_df.aoi_id.isin([a[0] for a in aois]))
    exp = oracle.run_oracle(q, genv, aois)
    assert exp["top"].isna().any() and exp["top"].notna().any()
    idx = planner.prepare_aoi_index(spark, aoi_df, GRID_NAME)
    lo = [r["lo"] for r in planner.split_multi_partials(planner.build_partials_with_lookup(
        images, idx.lookup, idx.salted, [q], genv, GRID_NAME
    ), 0, q).collect()]
    # em_north's groups are empty in some cells only: NULL partials, no NaN
    assert None in lo and any(v is not None for v in lo)
    assert not any(isinstance(v, float) and np.isnan(v) for v in lo)

    def check(df, route):
        rows = df.collect()
        for c in ("lo", "hi", "top"):
            assert not any(isinstance(r[c], float) and np.isnan(r[c]) for r in rows), (route, c)
        got = pd.DataFrame([r.asDict() for r in rows], columns=df.columns)
        assert_frames_match(got, exp)  # NaN in got is a NULL: same places as the oracle's

    def single(imgs, **kw):
        return run_zonal_query(spark, imgs, aoi_df, q, genv, GRID_NAME, **kw)

    check(single(images), "driver")
    check(single(images, strategy="cell"), "cell")
    check(single(sorted_images, strategy="colocated"), "colocated")
    with mock.patch.object(planner, "BROADCAST_CELL_LIMIT", 0):
        check(single(images), "cogroup")
    other = ZonalQuery(base_layer="tcl_year", aggregates=(Aggregate("count", None, "n"),))
    for bound in (planner.DRIVER_KERNEL_PX_LIMIT, 0):
        monkeypatch.setattr(planner, "DRIVER_KERNEL_PX_LIMIT", bound)
        with run_zonal_queries(
            spark, sorted_images, aoi_df, {"gaps": q, "other": other}, genv, GRID_NAME
        ) as fused:
            check(fused["gaps"], f"fused, driver bound {bound}")


def test_fused_set_with_rollups_shares_kernel(spark, tables, env, monkeypatch):
    """A query set mixing plain aggregates with percentile / mode /
    count_distinct members must FUSE: the rollup members' inner
    count-by-value queries join the one shared kernel pass (their
    partials are the bincount rows the fused kernel already produces)
    and only the cheap relational finisher runs per member. Results are
    bit-identical to per-query execution."""
    from gfw_raster_analysis_lambda_spark.plans import planner
    from gfw_raster_analysis_lambda_spark.plans.ir import Aggregate as Agg
    from gfw_raster_analysis_lambda_spark.plans.planner import run_zonal_queries

    images, aoi_df = tables
    qs = {
        "grouped": _parity_query(),
        "p50": ZonalQuery(
            base_layer="ttc_percent",
            aggregates=(Agg("percentile", "ttc_percent", "p50", param=0.5),),
        ),
        "rollup_multi": ZonalQuery(
            base_layer="ttc_percent",
            aggregates=(
                Agg("percentile", "ttc_percent", "p25", param=0.25),
                Agg("count_distinct", "ttc_percent", "n_vals"),
                Agg("variance", "ttc_percent", "ttc_var"),
                Agg("stddev", "ttc_percent", "ttc_sd"),
            ),
        ),
        "major": ZonalQuery(
            base_layer="tcl_year",
            aggregates=(Agg("mode", "drivers", "major_driver"),),
        ),
    }
    singles = {
        name: run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME).toPandas()
        for name, q in qs.items()
    }
    # spy the kernel entrypoints: the whole set must run ONE fused kernel
    # pass — no per-query kernel builds behind the scenes
    calls = {"multi": 0, "single": 0}
    orig_multi = planner.build_partials_with_lookup

    def spy_multi(*a, **k):
        calls["multi"] += 1
        return orig_multi(*a, **k)

    def spy_single(*a, **k):
        calls["single"] += 1
        raise AssertionError("over-bound kernel build inside a within-bound run")

    monkeypatch.setattr(planner, "build_partials_with_lookup", spy_multi)
    monkeypatch.setattr(planner, "_build_partials_over_bound", spy_single)
    # the distributed kernel stage, whose partial frame is cached and shared
    monkeypatch.setattr(planner, "DRIVER_KERNEL_PX_LIMIT", 0)
    fused = run_zonal_queries(spark, images, aoi_df, qs, env, GRID_NAME)
    assert fused._partials is not None  # fused path, not the fallback
    for name in qs:
        assert_frames_match(fused[name].toPandas(), singles[name])
    assert calls == {"multi": 1, "single": 0}
    # every member's rows came out of the SAME cached partial frame: the
    # lineage _ms stamp rides the fused partials, so each (cell, query)
    # slice is accounted to exactly one kernel invocation
    n_kernel_rows = fused._partials.count()
    assert n_kernel_rows > 0
    fused.close()


def test_over_bound_set_enumerates_aois_once(spark, tables, env, monkeypatch):
    """Over the driver bounds a query set of grouped, FROM data, isoweek
    and rollup members runs polygon->cells once (one aoi_cells frame feeds
    one salted cogroup) and every member, finalized from the one persisted
    partial frame, equals the oracle."""
    from gfw_raster_analysis_lambda_spark.plans.planner import run_zonal_queries

    images, aoi_df = tables
    aois = fixtures.fixture_aois()[:3]
    aoi_df = aoi_df.filter(aoi_df.aoi_id.isin([a[0] for a in aois]))
    qs = {
        "grouped": _parity_query(),
        "from_data": ZonalQuery(
            base_layer="data",
            aggregates=(Aggregate("sum", "area__ha", "area_ha"), Aggregate("count", None, "n")),
        ),
        "isoweek": ZonalQuery(
            base_layer="alert_date_conf",
            group_layers=("alert_date",),
            aggregates=(Aggregate("count", None, "alert_count"),),
            isoweek_layers=("alert_date",),
        ),
        "p50": ZonalQuery(
            base_layer="ttc_percent",
            aggregates=(Aggregate("percentile", "ttc_percent", "p50", param=0.5),),
        ),
    }
    calls = []
    orig = planner.aoi_cells

    def spy(*a, **k):
        calls.append(a)
        return orig(*a, **k)

    monkeypatch.setattr(planner, "aoi_cells", spy)
    monkeypatch.setattr(planner, "BROADCAST_CELL_LIMIT", 0)
    with run_zonal_queries(spark, images, aoi_df, qs, env, GRID_NAME) as res:
        assert len(calls) == 1
        assert res._partials is not None and res._partials.storageLevel.useMemory
        for name, q in qs.items():
            assert_frames_match(res[name].toPandas(), oracle.run_oracle(q, env, aois))
    assert len(calls) == 1


@pytest.mark.parametrize(
    "route", ["run_zonal_queries", "run_zonal_checkpointed", "run_zonal_checkpointed_snapshot"]
)
def test_over_bound_evaluates_aoi_cells_once(spark, tables, env, tmp_path, monkeypatch, route):
    """Over the driver bounds the AOI-cell frame is evaluated once, though
    the tile join, the cogroup's AOI side and (in the checkpoint
    functions) the emptiness check and the done markers all read it: a
    counting UDF on the AOI frame sees each AOI once after the bounded
    read (which the checkpoint functions do not make). The frame's cache
    is released by ``close()`` or when the checkpoint function returns:
    no persisted RDD outlives the call."""
    from pyspark.sql import functions as F

    from gfw_raster_analysis_lambda_spark import checkpoint

    images, _ = tables
    aois = fixtures.fixture_aois()[:3]
    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("binary")
    def counted(wkb: pd.Series) -> pd.Series:
        acc.add(len(wkb))
        return wkb

    aoi_df = spark.createDataFrame(aois, "aoi_id string, geom_wkb binary").select(
        "aoi_id", counted("geom_wkb").alias("geom_wkb")
    )
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("count", None, "n"),),
    )
    read = {"evaluations": 0}
    before = _persisted_rdds(spark)
    if route == "run_zonal_queries":
        orig = planner.prepare_aoi_index

        def spy(*a, **k):
            out = orig(*a, **k)
            read["evaluations"] = acc.value
            return out

        monkeypatch.setattr(planner, "prepare_aoi_index", spy)
        monkeypatch.setattr(planner, "BROADCAST_CELL_LIMIT", 0)
        with planner.run_zonal_queries(spark, images, aoi_df, {"q": q}, env, GRID_NAME) as res:
            got = res["q"].toPandas()
    else:
        run = getattr(checkpoint, route)
        got = run(spark, images, aoi_df, q, env, GRID_NAME, str(tmp_path / "ck")).toPandas()
    assert acc.value - read["evaluations"] == len(aois)
    assert not _persisted_rdds(spark) - before
    assert_frames_match(got.reset_index(drop=True), oracle.run_oracle(q, env, aois))


def _persisted_rdds(spark):
    """The ids of the session's persisted RDDs, cached frames included."""
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def test_run_zonal_query_over_bound_leaves_no_cache(spark, tables, env, monkeypatch):
    """run_zonal_query returns a bare DataFrame, so its caller has no
    ``close()`` to call: over the driver bounds it persists nothing (a
    cached AOI-cell frame would stay in the cache manager for the rest of
    the session and serve later requests over the same AOI plan)."""
    images, aoi_df = tables
    aois = fixtures.fixture_aois()[:3]
    aoi_df = aoi_df.filter(aoi_df.aoi_id.isin([a[0] for a in aois]))
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("count", None, "n"),),
    )
    monkeypatch.setattr(planner, "BROADCAST_CELL_LIMIT", 0)
    before = _persisted_rdds(spark)
    got = run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME).toPandas()
    assert not _persisted_rdds(spark) - before
    assert planner.aoi_cells(aoi_df, GRID_NAME).storageLevel.useMemory is False
    assert_frames_match(got.reset_index(drop=True), oracle.run_oracle(q, env, aois))


def test_fused_disjoint_layer_cells_parity(spark, env):
    """A cell holding only query B's layer must not leak zero-synthesized
    tiles into query A (worst case: A's base layer has no_data=None, so a
    fake zero tile would count every pixel). Fused == serial on a corpus
    where the two queries' layers live in disjoint cells."""
    import numpy as np

    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.plans.planner import run_zonal_queries
    from gfw_raster_analysis_lambda_spark.sources import fixtures

    grid = fixtures.GRID
    chunk = grid.chunk_px
    c1 = int(G.cell_from_xy(grid, 760, 276))  # tcl_year only
    c2 = int(G.cell_from_xy(grid, 761, 276))  # photo only
    arr = np.full((chunk, chunk), 5, dtype=np.uint8)
    rows = []
    for cell, layer in ((c1, "tcl_year"), (c2, "photo")):
        rows.append((
            f"{layer}/{cell:016x}", layer, cell,
            codecs.encode_tile(arr, "png"), chunk, chunk, "png",
        ))
    images = spark.createDataFrame(
        rows,
        "image_id string, layer string, cell_id long, bytes binary, w int, h int, fmt string",
    )
    aoi = spark.createDataFrame(
        [("both", geo.wkb_dumps(geo.box(10.0, 20.75, 10.5, 21.0)))],
        fixtures.AOI_SCHEMA,
    )
    qs = {
        "photo_n": ZonalQuery(base_layer="photo",
                              aggregates=(Aggregate("count", None, "n"),)),
        "tcl_n": ZonalQuery(base_layer="tcl_year",
                            aggregates=(Aggregate("count", None, "n"),)),
    }
    fused = run_zonal_queries(spark, images, aoi, qs, env, GRID_NAME)
    for name, q in qs.items():
        single = run_zonal_query(spark, images, aoi, q, env, GRID_NAME).toPandas()
        assert_frames_match(fused[name].toPandas(), single)
        # each query must see exactly one cell's pixels
        assert single["n"].tolist() == [chunk * chunk]
    fused.close()


def test_percentile_float_hazard_rank(spark, env):
    """p*n that overshoots in binary floats (0.07*100 = 7.000...01) must
    still pick the 7th element like DuckDB quantile_disc, not the 8th."""
    import numpy as np

    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.sources import fixtures

    grid = fixtures.GRID
    chunk = grid.chunk_px
    cell = int(G.cell_from_xy(grid, 760, 276))
    # 100 pixels of values 1..100 (ttc_percent dtype u8, nodata 255 -> the
    # remaining pixels are 255 and masked out)
    arr = np.full((chunk, chunk), 255, dtype=np.uint8)
    arr.flat[:100] = np.arange(1, 101)
    images = spark.createDataFrame(
        [(f"ttc_percent/{cell:016x}", "ttc_percent", cell,
          codecs.encode_tile(arr, "png"), chunk, chunk, "png")],
        "image_id string, layer string, cell_id long, bytes binary, w int, h int, fmt string",
    )
    aoi = spark.createDataFrame(
        [("a", geo.wkb_dumps(geo.box(10.0, 20.75, 10.25, 21.0)))], fixtures.AOI_SCHEMA
    )
    from gfw_raster_analysis_lambda_spark.plans.ir import Aggregate as Agg

    q = ZonalQuery(
        base_layer="ttc_percent",
        aggregates=(Agg("percentile", "ttc_percent", "p", param=0.07),),
    )
    got = run_zonal_query(spark, images, aoi, q, env, GRID_NAME).toPandas()
    import duckdb

    exp = duckdb.sql(
        "SELECT quantile_disc(x, 0.07) FROM (SELECT unnest(range(1, 101)) AS x)"
    ).fetchone()[0]
    assert got["p"].tolist() == [float(exp)] == [7.0]


@pytest.mark.parametrize("seed", [3, 11, 29, 47, 101, 137, 211, 499])
def test_random_query_fuzz_vs_oracle(spark, tables, env, seed, monkeypatch):
    """Randomized query shapes (base/filters/groups/aggs drawn per seed)
    must match the single-process numpy oracle — guards the operator
    COMBINATIONS no hand-written test exercises. Seeds also vary the
    EXECUTION PATH: odd seeds force the multi-range prune (gap-split
    BETWEEN + semi-join) and every 4th seed runs through the fused
    executor. (A one-off 200-seed sweep of the same generator ran clean
    across all path combinations — round 3.)"""
    from gfw_raster_analysis_lambda_spark.plans import planner as _pl

    if seed % 2:
        monkeypatch.setattr(_pl, "MAX_EXACT_IN_CELLS", 2)
    rng = np.random.RandomState(seed)
    bases = ["tcl_year", "ttc_percent", "data", "alert_date_conf"]
    base = bases[rng.randint(len(bases))]
    leaves = [
        FilterLeaf("tcd_threshold", "in", (4, 5, 6, 7)),
        FilterLeaf("tcl_year", ">=", (int(rng.randint(1, 20)),)),
        FilterLeaf("is_primary", "in", (1,)),
        FilterLeaf("drivers", "!=", (0,)),
    ]
    picked = [leaves[i] for i in rng.choice(len(leaves), rng.randint(0, 3), replace=False)]
    where = None
    if len(picked) == 1:
        where = picked[0]
    elif len(picked) == 2:
        where = (FilterAnd if rng.rand() < 0.5 else FilterOr)(tuple(picked))
    group_pool = ["tcl_year", "tcd_threshold", "drivers"]
    groups = tuple(
        group_pool[i] for i in rng.choice(3, rng.randint(0, 3), replace=False)
    )
    agg_pool = [
        Aggregate("count", None, "n"),
        Aggregate("sum", "area__ha", "ha"),
        Aggregate("sum", "emissions", "em"),
        Aggregate("min", "emissions", "em_min"),
        Aggregate("max", "emissions", "em_max"),
        # multi-derived layers: cross-grid float ratio + int product
        Aggregate("sum", "loss_prim", "lp"),
        Aggregate("avg", "em_per_bio", "epb"),
    ]
    kept = [agg_pool[i] for i in rng.choice(len(agg_pool), 1 + rng.randint(3), replace=False)]
    if not any(a.func == "count" for a in kept):
        kept.append(agg_pool[0])
    q = ZonalQuery(
        base_layer=base, group_layers=groups, aggregates=tuple(kept), where=where
    )
    if seed % 4 == 0:
        from gfw_raster_analysis_lambda_spark.plans.planner import run_zonal_queries

        images, aoi_df = tables
        exp = oracle.run_oracle(q, env, fixtures.fixture_aois())
        for bound in (planner.DRIVER_KERNEL_PX_LIMIT, 0):  # driver, distributed
            monkeypatch.setattr(_pl, "DRIVER_KERNEL_PX_LIMIT", bound)
            with run_zonal_queries(spark, images, aoi_df, {"q": q}, env, GRID_NAME) as res:
                got = res["q"].toPandas().reset_index(drop=True)
            assert_frames_match(got, exp)
    else:
        got, exp = run_both(spark, tables, env, q)
        assert_frames_match(got, exp)


# 22. multi-range cell pruning: a scattered AOI batch (two far-apart
# clusters) must scan its footprint, not the min..max span of the corpus.
# Above MAX_EXACT_IN_CELLS the pruner pushes an OR of gap-split BETWEEN
# ranges to the scan and an exact broadcast semi-join before the kernel
# shuffle — nothing outside the clusters crosses the wire.
def test_prune_cells_multirange_footprint(spark, tables, env, monkeypatch):
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.plans import planner

    images, _ = tables
    imgs = images.select("layer", "cell_id", "bytes", "w", "h", "fmt")
    grid, x0, y0 = fixtures.GRID, fixtures.X0, fixtures.Y0
    cluster_a = [int(G.cell_from_xy(grid, x0, y0)), int(G.cell_from_xy(grid, x0, y0 + 1))]
    cluster_b = [int(G.cell_from_xy(grid, x0 + 3, y0 + 2)), int(G.cell_from_xy(grid, x0 + 3, y0 + 3))]
    cells = cluster_a + cluster_b

    # gap-split: two disjoint ranges, together covering a tiny fraction of
    # the min..max span the old single-BETWEEN fallback would have scanned
    ranges = planner._gap_split_ranges(cells)
    assert len(ranges) == 2
    assert ranges[0][1] < ranges[1][0]
    covered = sum(hi - lo + 1 for lo, hi in ranges)
    assert covered * 10 < (max(cells) - min(cells) + 1)

    monkeypatch.setattr(planner, "MAX_EXACT_IN_CELLS", 2)  # force range path
    pruned = planner._prune_cells(imgs, cells)
    got = {r.cell_id for r in pruned.select("cell_id").distinct().collect()}
    assert got == set(cells)
    assert pruned.count() == imgs.filter(imgs.cell_id.isin(cells)).count()

    # what reaches the scan (the range predicates alone) already reads only
    # footprint rows — no corpus-wide span
    cond = " OR ".join(f"(cell_id BETWEEN {lo} AND {hi})" for lo, hi in ranges)
    assert imgs.filter(cond).count() == imgs.filter(imgs.cell_id.isin(cells)).count()


def test_gap_split_ranges_properties():
    import numpy as np

    from gfw_raster_analysis_lambda_spark.plans.planner import _gap_split_ranges

    rng = np.random.RandomState(7)
    clusters = [
        np.arange(1_000_000, 1_001_000),
        np.arange(5_000_000, 5_000_500),
        rng.randint(9_000_000, 9_100_000, size=2000),
    ]
    ids = np.concatenate(clusters)
    ranges = _gap_split_ranges(ids, max_ranges=16)
    assert 1 <= len(ranges) <= 16
    arr = np.sort(np.unique(ids))
    # disjoint, sorted, and every id covered
    for (lo, hi), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert lo <= hi < lo2
    covered = np.zeros(arr.shape, dtype=bool)
    for lo, hi in ranges:
        covered |= (arr >= lo) & (arr <= hi)
    assert covered.all()
    # the two dense runs must not be merged across the 4M gap
    assert len(ranges) >= 3
    assert _gap_split_ranges([]) == []
    assert _gap_split_ranges([42]) == [(42, 42)]
    assert _gap_split_ranges(np.arange(100), max_ranges=4) == [(0, 99)]


# 23. WKB-bytes probe: a batch of few-but-huge polygons must take the
# distributed plan WITHOUT materializing any geometry on the driver —
# the probe is a relational sum(length(geom_wkb)), not a collect.
def test_wkb_bytes_cap_routes_distributed(spark, tables, env, monkeypatch):
    from gfw_raster_analysis_lambda_spark.plans import planner

    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("count", None, "n"),),
    )
    images, _ = tables
    aois = fixtures.fixture_aois()[:2]
    aoi_df = spark.createDataFrame(aois, "aoi_id string, geom_wkb binary")
    exp = (
        run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="cell")
        .toPandas().reset_index(drop=True)
    )

    monkeypatch.setattr(planner, "DRIVER_ENUM_WKB_BYTES", 4)  # force over-bound

    def no_enum(*a, **k):
        raise AssertionError("over-bound WKB batch was enumerated on the driver")

    monkeypatch.setattr(planner, "_aoi_lookup_from_aois", no_enum)
    got = (
        run_zonal_query(spark, images, aoi_df, q, env, GRID_NAME, strategy="cell")
        .toPandas().reset_index(drop=True)
    )
    assert_frames_match(got, exp)
    assert planner.prepare_aoi_index(spark, aoi_df, GRID_NAME) is None


# 24. corrupt-tile tolerance (opt-in): default raises loudly; with
# env.skip_corrupt_tiles the bad tile degrades to MISSING-tile semantics
# (zero-filled), isolating the failure like the reference's per-tile
# Lambda instead of failing the whole analysis.
def test_corrupt_tile_tolerance(spark, env, monkeypatch):
    from gfw_raster_analysis_lambda_spark.sources.catalog import DataEnvironment
    from gfw_raster_analysis_lambda_spark.sources.images import with_derived_keys

    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.sources.fixtures import image_id_for

    rows = fixtures.generate_images_rows()
    # corrupt ONE tcl_year tile INSIDE the queried AOI (box_aligned covers
    # cells x in {760, 761}, y in {277, 278})
    in_aoi = image_id_for(
        "tcl_year", int(G.cell_from_xy(fixtures.GRID, fixtures.X0, fixtures.Y0 + 1))
    )
    bad_idx = next(i for i, r in enumerate(rows) if r[0] == in_aoi)
    bad_id = rows[bad_idx][0]
    corrupted = list(rows)
    r = corrupted[bad_idx]
    corrupted[bad_idx] = (r[0], b"\x89PNGgarbage-not-a-tile", *r[2:])
    images_bad = with_derived_keys(
        spark.createDataFrame(corrupted, fixtures.IMAGES_SCHEMA)
    )
    aois = [a for a in fixtures.fixture_aois() if a[0] == "aoi_box_aligned"]
    aoi_df = spark.createDataFrame(aois, "aoi_id string, geom_wkb binary")
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("count", None, "n"),),
    )
    tol_env = DataEnvironment(env.layers, skip_corrupt_tiles=True)
    # round-trips through the kernel's env_json serialization
    assert DataEnvironment.from_json(tol_env.to_json()).skip_corrupt_tiles
    # expected = the same corpus WITHOUT the corrupt tile (missing-tile path)
    images_missing = with_derived_keys(
        spark.createDataFrame(
            [r for r in rows if r[0] != bad_id], fixtures.IMAGES_SCHEMA
        )
    )
    # the driver route, then the distributed kernel stage
    for bound in (planner.DRIVER_KERNEL_PX_LIMIT, 0):
        monkeypatch.setattr(planner, "DRIVER_KERNEL_PX_LIMIT", bound)
        with pytest.raises(Exception):
            run_zonal_query(spark, images_bad, aoi_df, q, env, GRID_NAME).collect()
        got = (
            run_zonal_query(spark, images_bad, aoi_df, q, tol_env, GRID_NAME)
            .toPandas().reset_index(drop=True)
        )
        exp = (
            run_zonal_query(spark, images_missing, aoi_df, q, env, GRID_NAME)
            .toPandas().reset_index(drop=True)
        )
        assert_frames_match(got, exp)


def test_mode_vs_oracle_counts(spark, tables, env):
    """MODE plan rewrite vs the numpy oracle: expected majority is derived
    from the ORACLE's group-by-value counts (an independent kernel) reduced
    in pandas with the same deterministic tie-break (count desc, value asc)."""
    images, aoi_df = tables
    aois = fixtures.fixture_aois()[:2]
    ids = [a[0] for a in aois]
    aoi_df = aoi_df.filter(aoi_df.aoi_id.isin(ids))
    mode_q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("mode", "drivers", "major_driver"),),
    )
    got = (
        run_zonal_query(spark, images, aoi_df, mode_q, env, GRID_NAME)
        .toPandas()
        .sort_values(["aoi_id", "tcl_year"])
        .reset_index(drop=True)
    )
    inner_q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year", "drivers"),
        aggregates=(Aggregate("count", None, "n"),),
    )
    counts = oracle.run_oracle(inner_q, env, aois)
    # many-raw-to-one-meaning safety: re-sum per decoded meaning first
    counts = counts.groupby(["aoi_id", "tcl_year", "drivers"], as_index=False)["n"].sum()
    exp = (
        counts.sort_values(
            ["aoi_id", "tcl_year", "n", "drivers"],
            ascending=[True, True, False, True],
        )
        .groupby(["aoi_id", "tcl_year"])
        .first()
        .reset_index()[["aoi_id", "tcl_year", "drivers"]]
        .rename(columns={"drivers": "major_driver"})
        .sort_values(["aoi_id", "tcl_year"])
        .reset_index(drop=True)
    )
    assert list(got.columns) == ["aoi_id", "tcl_year", "major_driver"]
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_count_distinct_vs_oracle_counts(spark, tables, env):
    images, aoi_df = tables
    aois = fixtures.fixture_aois()[:2]
    ids = [a[0] for a in aois]
    aoi_df = aoi_df.filter(aoi_df.aoi_id.isin(ids))
    cd_q = ZonalQuery(
        base_layer="alert_date_conf",
        aggregates=(Aggregate("count_distinct", "alert_date", "n_days"),),
        where=FilterLeaf("alert_conf", ">=", (2,)),
    )
    got = (
        run_zonal_query(spark, images, aoi_df, cd_q, env, GRID_NAME)
        .toPandas()
        .sort_values("aoi_id")
        .reset_index(drop=True)
    )
    inner_q = ZonalQuery(
        base_layer="alert_date_conf",
        group_layers=("alert_date",),
        aggregates=(Aggregate("count", None, "n"),),
        where=FilterLeaf("alert_conf", ">=", (2,)),
    )
    counts = oracle.run_oracle(inner_q, env, aois)
    exp = (
        counts.groupby("aoi_id")["alert_date"]
        .nunique()
        .reset_index(name="n_days")
        .sort_values("aoi_id")
        .reset_index(drop=True)
    )
    assert got["n_days"].dtype.kind == "i"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_mode_rejects_bad_shapes(spark, tables, env):
    images, aoi_df = tables
    with pytest.raises(ValueError, match="GROUP BY"):
        run_zonal_query(
            spark, images, aoi_df,
            ZonalQuery(
                base_layer="tcl_year",
                group_layers=("drivers",),
                aggregates=(Aggregate("mode", "drivers", "m"),),
            ),
            env, GRID_NAME,
        )
    with pytest.raises(ValueError, match="exactly one"):
        run_zonal_query(
            spark, images, aoi_df,
            ZonalQuery(
                base_layer="tcl_year",
                aggregates=(
                    Aggregate("mode", "drivers", "m"),
                    Aggregate("count", None, "n"),
                ),
            ),
            env, GRID_NAME,
        )


def test_multi_derived_layer_vs_oracle(spark, tables, env):
    """Multi-layer map algebra (A, B positional): float ratio ACROSS
    grids with NaN-excluded AVG, int product with SUM — engine vs the
    numpy oracle (which evaluates the same whitelisted calc)."""
    q = ZonalQuery(
        base_layer="data",
        aggregates=(
            Aggregate("avg", "em_per_bio", "epb_avg"),
            Aggregate("sum", "loss_prim", "lp_sum"),
            Aggregate("count", None, "n"),
        ),
    )
    got, exp = run_both(spark, tables, env, q)
    assert_frames_match(got, exp)


def test_multi_derived_group_and_filter(spark, tables, env):
    """Multi-derived layers work as GROUP BY keys and in WHERE leaves."""
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("loss_prim",),
        aggregates=(Aggregate("count", None, "n"),),
        where=FilterLeaf("loss_prim", ">=", (10,)),
    )
    got, exp = run_both(spark, tables, env, q)
    assert_frames_match(got, exp)


def test_multi_derived_catalog_roundtrip():
    from gfw_raster_analysis_lambda_spark.sources.catalog import (
        DataEnvironment,
        MultiDerivedLayer,
    )

    env = fixtures.fixture_environment()
    env2 = DataEnvironment.from_json(env.to_json())
    l = env2.get_layer("em_per_bio")
    assert isinstance(l, MultiDerivedLayer)
    assert l.source_layers == ("emissions", "biomass")
    assert l.dtype == "float64"
    # column pruning resolves BOTH sources
    assert set(env2.source_layer_names(["em_per_bio"])) == {"emissions", "biomass"}


def test_rollup_multi_selector_validation(spark, tables, env):
    """Mixed-layer rollup selectors are rejected; same-layer mixes work
    (the oracle gate covers values; here just the contract)."""
    images, aoi_df = tables
    with pytest.raises(ValueError, match="SAME layer"):
        run_zonal_query(
            spark, images, aoi_df,
            ZonalQuery(
                base_layer="ttc_percent",
                aggregates=(
                    Aggregate("percentile", "ttc_percent", "p", param=0.5),
                    Aggregate("mode", "drivers", "m"),
                ),
            ),
            env, GRID_NAME,
        )
    with pytest.raises(ValueError, match="distinct aliases"):
        run_zonal_query(
            spark, images, aoi_df,
            ZonalQuery(
                base_layer="ttc_percent",
                aggregates=(
                    Aggregate("percentile", "ttc_percent", "p", param=0.5),
                    Aggregate("percentile", "ttc_percent", "p", param=0.75),
                ),
            ),
            env, GRID_NAME,
        )


def test_rollup_multi_selector_keeps_null_groups(spark, tables):
    """A GROUP BY layer with a PARTIAL raster_table and default_meaning
    None decodes unmapped raws to NULL; the multi-selector reduce-join
    must keep those groups (NULL-safe equality) — they used to vanish
    while the single-selector path kept them."""
    base = fixtures.fixture_environment()
    from gfw_raster_analysis_lambda_spark.sources.catalog import SourceLayer

    layers = [l for l in base.layers if l.name != "drivers"]
    layers.append(SourceLayer(
        "drivers", grid=GRID_NAME, dtype="uint8", fmt="png", no_data=0,
        # raws 3,4,5 are unmapped and there is NO default -> NULL group
        raster_table={1: "Agriculture", 2: "Forestry"},
    ))
    env2 = DataEnvironment(layers=layers)

    def run(aggs):
        q = ZonalQuery(
            base_layer="ttc_percent", group_layers=("drivers",),
            aggregates=aggs,
        )
        images, aoi_df = tables
        return (
            run_zonal_query(spark, images, aoi_df, q, env2, GRID_NAME)
            .toPandas()
        )

    multi = run((
        Aggregate("percentile", "ttc_percent", "p50", param=0.5),
        Aggregate("percentile", "ttc_percent", "p90", param=0.9),
    ))
    single = run((Aggregate("percentile", "ttc_percent", "p50", param=0.5),))
    assert multi["drivers"].isna().any(), "fixture must produce a NULL group"
    key = ["aoi_id", "drivers"]

    def keyset(df):
        return {tuple(r) for r in df[key].astype(object).where(df[key].notna(), None).itertuples(index=False)}

    assert keyset(multi) == keyset(single)
    merged = multi.merge(single, on=key, how="outer", suffixes=("_m", "_s"))
    assert (merged["p50_m"] == merged["p50_s"]).all()


@pytest.mark.parametrize("seed", range(101, 113))
def test_random_rollup_fuzz_vs_oracle(spark, tables, env, seed):
    """Randomized PERCENTILE/MODE/COUNT(DISTINCT) shapes (single and
    multi-selector, grouped and not, filtered and not) vs the numpy
    oracle's independent pandas reduction."""
    rng = np.random.RandomState(seed)
    # (layer, allowed funcs): percentile needs raw numeric layers
    pools = [
        ("ttc_percent", ["percentile", "mode", "count_distinct"]),
        ("emissions", ["percentile"]),
        ("drivers", ["mode", "count_distinct"]),
    ]
    vlayer, funcs = pools[rng.randint(len(pools))]
    n_sel = 1 + rng.randint(2)
    aggs = []
    for i in range(n_sel):
        f = funcs[rng.randint(len(funcs))]
        if f == "percentile":
            p = float(rng.choice([0.07, 0.25, 0.5, 0.75, 0.9]))
            aggs.append(Aggregate("percentile", vlayer, f"a{i}", param=p))
        else:
            aggs.append(Aggregate(f, vlayer, f"a{i}"))
    base = ["data", "tcl_year"][rng.randint(2)]
    groups = ()
    if vlayer != "drivers" and rng.rand() < 0.5:
        groups = ("tcl_year",)
    where = None
    if rng.rand() < 0.5:
        where = FilterLeaf("is_primary", "in", (1,))
    q = ZonalQuery(
        base_layer=base, group_layers=groups, aggregates=tuple(aggs), where=where
    )
    images, aoi_df = tables
    aois = fixtures.fixture_aois()[:2]
    ids = [a[0] for a in aois]
    got = (
        run_zonal_query(
            spark, images, aoi_df.filter(aoi_df.aoi_id.isin(ids)), q, env, GRID_NAME
        )
        .toPandas()
        .sort_values(["aoi_id", *groups])
        .reset_index(drop=True)
    )
    exp = oracle.run_oracle(q, env, aois)
    assert list(got.columns) == list(exp.columns)
    assert len(got) == len(exp)
    for c in got.columns:
        if got[c].dtype.kind == "f":
            np.testing.assert_allclose(
                got[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float),
                rtol=1e-9, atol=0, err_msg=f"seed {seed} col {c}\n{got}\n{exp}",
            )
        else:
            assert list(got[c].astype(str)) == list(exp[c].astype(str)), (
                f"seed {seed} col {c}\n{got}\n{exp}"
            )


def test_resultset_materialize_parallel_parity(spark, tables, env):
    """ZonalResultSet.materialize drives every member concurrently over
    the one cached partial frame; a collecting writer must see the same
    frames as serial per-member collection, and the cache must be built
    exactly once (partials storage is populated before the pool starts)."""
    import threading

    from gfw_raster_analysis_lambda_spark.plans.planner import run_zonal_queries

    images, aoi_df = tables
    qs = {
        "grouped": _parity_query(),
        "area": ZonalQuery(
            base_layer="data",
            aggregates=(Aggregate("sum", "area__ha", "area_ha"),
                        Aggregate("count", None, "n_px")),
        ),
    }
    fused = run_zonal_queries(spark, images, aoi_df, qs, env, GRID_NAME)
    serial = {name: fused[name].toPandas() for name in qs}
    got = {}
    lock = threading.Lock()

    def writer(df):
        pdf = df.toPandas()
        with lock:
            got[len(got)] = pdf
    fused.materialize(writer=writer, parallel=True)
    assert len(got) == len(qs)
    by_cols = {tuple(sorted(p.columns)): p for p in got.values()}
    for name, exp in serial.items():
        assert_frames_match(by_cols[tuple(sorted(exp.columns))], exp)
    fused.close()


def test_materialize_jobs_carry_callers_job_group(spark, tables, env, monkeypatch):
    """Every job of a fused set's materialize, the pool's finalizes
    included, carries the caller's job group."""
    from gfw_raster_analysis_lambda_spark.plans.planner import run_zonal_queries

    images, aoi_df = tables
    qs = {
        "grouped": _parity_query(),
        "area": ZonalQuery(base_layer="data", aggregates=(Aggregate("sum", "area__ha", "area_ha"),)),
        "n": ZonalQuery(base_layer="tcl_year", aggregates=(Aggregate("count", None, "n"),)),
    }
    monkeypatch.setattr(planner, "DRIVER_KERNEL_PX_LIMIT", 0)
    tracker = spark.sparkContext.statusTracker()
    with run_zonal_queries(spark, images, aoi_df, qs, env, GRID_NAME) as fused:
        assert fused._partials is not None  # the first member runs alone, the rest in the pool
        ungrouped = set(tracker.getJobIdsForGroup())
        _, n_grouped = _count_jobs(spark, fused.materialize)
        stray = set(tracker.getJobIdsForGroup()) - ungrouped
    assert not stray and n_grouped >= len(qs)


# ---------------------------------------------------------------------------
# interactive requests: job budget, driver bounds, typed errors
# ---------------------------------------------------------------------------

def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started), counted under a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def sorted_images(spark, tables, tmp_path_factory):
    """The fixture images in the cell-sorted layout (colocated plan)."""
    from gfw_raster_analysis_lambda_spark.sources.images import write_images_cell_sorted

    path = str(tmp_path_factory.mktemp("sorted") / "images")
    write_images_cell_sorted(tables[0].select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    ), path, n_files=4)
    return read_images(spark, path)


# the interactive Raster-SQL mix: a filtered grouped sum, an isoweek
# count and a FROM data area sum, with the most Spark jobs each may run
# from the call to the collected result
INTERACTIVE_SQL = [
    ("SELECT tcl_year, SUM(area__ha) AS loss_ha, COUNT(*) AS n FROM tcl_year "
     "WHERE tcd_threshold >= 25 AND is_primary = 'true' GROUP BY tcl_year", 4),
    ("SELECT isoweek(alert_date), COUNT(*) AS n FROM alert_date_conf GROUP BY 1", 4),
    ("SELECT SUM(area__ha) AS ha, COUNT(*) AS n FROM data", 4),
]

PYTHON_NODES = (
    "MapInPandas", "FlatMapGroupsInPandas", "MapInArrow", "FlatMapGroupsInArrow", "ArrowEvalPython",
)


def _python_nodes(df):
    """The Python-UDF operators in ``df``'s executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in PYTHON_NODES if n in plan]


def test_single_aoi_request_job_budget(spark, sorted_images, env):
    """A single-AOI request over a createDataFrame(list) frame (pickled
    Python rows: every scan of it is a Python job) scans the AOI once,
    runs the kernel on the driver, skips the range sort, and stays within
    its job budget — with the oracle's result and no Python operator in
    the returned frame's plan."""
    from gfw_raster_analysis_lambda_spark.api import zonal_statistics
    from gfw_raster_analysis_lambda_spark.plans.sql_frontend import parse_raster_sql

    aoi = fixtures.fixture_aois()[1]
    for sql, budget in INTERACTIVE_SQL:
        aoi_df = spark.createDataFrame([aoi], "aoi_id string, geom_wkb binary")
        frames = []

        def request():
            frames.append(zonal_statistics(spark, sorted_images, aoi_df, sql, env, GRID_NAME))
            return frames[0].toPandas()

        got, jobs = _count_jobs(spark, request)
        assert jobs <= budget, (sql, jobs)
        assert not _python_nodes(frames[0]), sql
        exp = oracle.run_oracle(parse_raster_sql(sql, env), env, [aoi])
        assert len(exp)
        assert_frames_match(got.reset_index(drop=True), exp)


def _bound_value(name, aois):
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.functions import grid as G

    if name == "DRIVER_ENUM_AOI_LIMIT":
        return len(aois)
    if name == "DRIVER_ENUM_WKB_BYTES":
        return sum(len(w) for _, w in aois)
    grid = G.get_grid(GRID_NAME)
    aoi_cells = sum(len(G.polygon_to_cells(grid, geo.wkb_loads(w))) for _, w in aois)
    if name == "DRIVER_KERNEL_PX_LIMIT":
        return aoi_cells * grid.chunk_px ** 2
    return aoi_cells


@pytest.mark.parametrize(
    "bound",
    ["DRIVER_ENUM_AOI_LIMIT", "DRIVER_ENUM_WKB_BYTES", "BROADCAST_CELL_LIMIT",
     "DRIVER_KERNEL_PX_LIMIT"],
)
def test_driver_bound_edges(spark, tables, env, monkeypatch, bound):
    """A batch exactly at a driver bound plans on the driver; one unit over
    it takes the distributed route. Both give the same rows in the same
    order (the bounded finalize sorts in one task, the distributed one
    through the global range sort). The driver-kernel bound applies to
    auto-strategy requests: at it the kernel runs on the driver, over it
    in the distributed kernel stage."""
    images, _ = tables
    aois = fixtures.fixture_aois()[:3]
    aoi_df = spark.createDataFrame(aois, "aoi_id string, geom_wkb binary")
    q = _parity_query()
    routes = []
    for name, route in (("_build_partials_over_bound", "distributed"),
                        ("_driver_cell_plan", "driver kernel")):
        def spy(*a, _orig=getattr(planner, name), _route=route, **k):
            routes.append(_route)
            return _orig(*a, **k)

        monkeypatch.setattr(planner, name, spy)
    kernel_bound = bound == "DRIVER_KERNEL_PX_LIMIT"
    expected = (
        {"at": ["driver kernel"], "over": []} if kernel_bound
        else {"at": [], "over": ["distributed"]}
    )
    at = _bound_value(bound, aois)
    out = {}
    for limit in (at, at - 1):
        monkeypatch.setattr(planner, bound, limit)
        routes.clear()
        out[limit] = run_zonal_query(
            spark, images, aoi_df, q, env, GRID_NAME,
            strategy=None if kernel_bound else "cell",
        ).toPandas()
        assert routes == expected["at" if limit == at else "over"], (bound, limit)
    driver, dist = out[at], out[at - 1]
    assert len(driver) and list(driver.columns) == list(dist.columns)
    for c in driver.columns:
        if np.issubdtype(driver[c].dtype, np.number):
            np.testing.assert_allclose(driver[c], dist[c], rtol=1e-9, err_msg=c)
        else:
            assert driver[c].tolist() == dist[c].tolist(), c
    keys = list(zip(driver["aoi_id"], driver["tcl_year"]))
    assert keys == sorted(keys)
    assert_frames_match(driver, oracle.run_oracle(q, env, aois))


def test_limit_without_order_is_per_aoi(spark, tables, env):
    """LIMIT without ORDER BY keeps at most LIMIT rows per AOI, as the
    reference's one-query-per-AOI does, not LIMIT rows of the batch: an
    ungrouped aggregate equals the oracle exactly (both kernel routes),
    and a pixel select keeps the oracle's row count per AOI."""
    from gfw_raster_analysis_lambda_spark.plans.sql_frontend import parse_raster_sql

    aois = fixtures.fixture_aois()[:3]
    q = parse_raster_sql("SELECT SUM(area__ha) AS ha FROM data LIMIT 1", env)
    got, exp = run_both(spark, tables, env, q, aois)
    assert len(exp) == len(aois)
    assert_frames_match(got, exp)

    q = parse_raster_sql("SELECT latitude, longitude, tcl_year FROM tcl_year LIMIT 2", env)
    got, exp = run_both(spark, tables, env, q, aois)
    assert len(exp) == 2 * len(aois)
    assert got.groupby("aoi_id").size().to_dict() == exp.groupby("aoi_id").size().to_dict()


def test_typed_errors_before_any_job(spark, tables, env):
    """Bad SQL and an unknown layer fail with typed errors from the parse,
    before the request starts a single Spark job."""
    from gfw_raster_analysis_lambda_spark.api import zonal_statistics, zonal_statistics_multi
    from gfw_raster_analysis_lambda_spark.plans.sql_frontend import QueryParseError
    from gfw_raster_analysis_lambda_spark.sources.catalog import LayerNotFoundError

    images, _ = tables
    aoi_df = spark.createDataFrame(fixtures.fixture_aois()[:1], "aoi_id string, geom_wkb binary")
    good = "SELECT SUM(area__ha) AS ha FROM data"
    cases = [
        ("SELECT SUM(area__ha FROM data", QueryParseError),
        ("SELECT SUM(no_such_layer) AS s FROM data", LayerNotFoundError),
    ]
    for sql, err in cases:
        calls = [
            lambda: zonal_statistics(spark, images, aoi_df, sql, env, GRID_NAME),
            lambda: zonal_statistics_multi(
                spark, images, aoi_df, {"good": good, "bad": sql}, env, GRID_NAME
            ),
        ]
        for call in calls:
            def attempt():
                with pytest.raises(err):
                    call()
            _, jobs = _count_jobs(spark, attempt)
            assert jobs == 0, sql
