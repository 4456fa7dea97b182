"""Tests: point-in-polygon join, JVM-side cell encoding, salted join
strategies, kNN phash lookup, checkpoint/resume/lineage."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gfw_raster_analysis_lambda_spark import checkpoint, oracle
from gfw_raster_analysis_lambda_spark.functions import geometry as geo
from gfw_raster_analysis_lambda_spark.functions import grid as G
from gfw_raster_analysis_lambda_spark.operators import knn, spatial_join
from gfw_raster_analysis_lambda_spark.plans.ir import Aggregate, ZonalQuery
from gfw_raster_analysis_lambda_spark.sources import fixtures
from gfw_raster_analysis_lambda_spark.sources.images import read_images

from test_zonal_e2e import assert_frames_match

GRID_NAME = fixtures.GRID.name


def test_cell_expr_matches_numpy(spark):
    rng = np.random.default_rng(5)
    lons = rng.uniform(-179.9, 179.9, 500)
    lats = rng.uniform(-89.9, 89.9, 500)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lons, lats)], "lon double, lat double"
    )
    grid = fixtures.GRID
    got = (
        df.withColumn("cell_id", spatial_join.cell_expr(grid, F.col("lon"), F.col("lat")))
        .select("cell_id")
        .toPandas()["cell_id"]
        .to_numpy()
    )
    exp = np.asarray(G.latlng_to_cell(grid, lons, lats))
    np.testing.assert_array_equal(got, exp)


def test_point_in_polygon_join(spark):
    # deterministic points on a lattice; AOI = concave L with hole
    pts = [
        (i, 10.0 + (i % 40) * 0.02, 20.0 + (i // 40) * 0.02)
        for i in range(1600)
    ]
    points = spark.createDataFrame(pts, "pid long, lon double, lat double")
    aois = [a for a in fixtures.fixture_aois() if a[0] in ("aoi_concave_hole", "aoi_box_aligned")]
    aoi_df = spark.createDataFrame(aois, "aoi_id string, geom_wkb binary")
    got = spatial_join.point_in_polygon_join(points, aoi_df, GRID_NAME).toPandas()
    # oracle: direct even-odd containment per polygon
    exp_pairs = set()
    for aoi_id, wkb in aois:
        g = geo.wkb_loads(wkb)
        inside = geo.contains_points(
            g, [p[1] for p in pts], [p[2] for p in pts]
        )
        for (pid, _, _), ok in zip(pts, inside):
            if ok:
                exp_pairs.add((pid, aoi_id))
    got_pairs = set(zip(got["pid"], got["aoi_id"]))
    assert got_pairs == exp_pairs
    assert len(got_pairs) > 100


def test_join_strategies_agree(spark, corpus):
    images = read_images(spark, corpus["images"])
    aoi_df = spark.createDataFrame(
        [a for a in fixtures.fixture_aois() if a[0] == "aoi_box_offset"],
        "aoi_id string, geom_wkb binary",
    )
    counts = {}
    for strat in ("broadcast", "shuffle", "salted"):
        df = spatial_join.polygon_cell_join(images, aoi_df, GRID_NAME, strategy=strat)
        counts[strat] = df.count()
    assert counts["broadcast"] == counts["shuffle"] == counts["salted"] > 0


def test_knn_phash(spark, corpus):
    images = read_images(spark, corpus["images"])
    rows = images.select("image_id", "phash").collect()
    pairs = [(r.image_id, int(r.phash)) for r in rows]
    q_phash = pairs[7][1]
    queries = spark.createDataFrame([("q1", q_phash)], "query_id string, phash long")
    got = knn.knn_phash(images, queries, k=5).toPandas()
    assert list(got["rank"]) == [1, 2, 3, 4, 5]
    assert got["hamming"].iloc[0] == 0  # exact self-match first
    exp = knn.knn_oracle(pairs, q_phash, 5)
    # oracle ties broken identically (distance, image_id)
    d = sorted((knn.hamming64(p, q_phash), iid) for iid, p in pairs)[:5]
    assert got["image_id"].tolist() == [iid for _, iid in d]


def test_knn_phash_pruned(spark, corpus):
    images = read_images(spark, corpus["images"])
    center = int(G.cell_from_xy(fixtures.GRID, fixtures.X0 + 1, fixtures.Y0 + 1))
    r = images.filter(F.col("cell_id") == center).select("phash").first()
    queries = spark.createDataFrame(
        [("q1", int(r.phash), center)], "query_id string, phash long, cell_id long"
    )
    got = knn.knn_phash_pruned(images, queries, k=3, ring=1, grid_name=GRID_NAME).toPandas()
    assert len(got) == 3 and got["hamming"].iloc[0] == 0
    # candidates restricted to the 9-cell neighborhood
    ring_cells = set(G.k_ring(fixtures.GRID, center, 1).tolist())
    cand = images.filter(F.col("cell_id").isin([int(c) for c in ring_cells]))
    pairs = [(x.image_id, int(x.phash)) for x in cand.select("image_id", "phash").collect()]
    d = sorted((knn.hamming64(p, int(r.phash)), iid) for iid, p in pairs)[:3]
    assert got["image_id"].tolist() == [iid for _, iid in d]


def test_checkpoint_resume_and_lineage(spark, corpus, tmp_path):
    images = read_images(spark, corpus["images"])
    env = fixtures.fixture_environment()
    aois = fixtures.fixture_aois()
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("sum", "area__ha", "a"), Aggregate("count", None, "n")),
    )
    ck = str(tmp_path / "ck")
    aoi1 = spark.createDataFrame([aois[0]], "aoi_id string, geom_wkb binary")
    r1 = checkpoint.run_zonal_checkpointed(
        spark, images, aoi1, q, env, GRID_NAME, ck, run_id="r1"
    ).toPandas()

    # resume with a superset of AOIs: only the new AOI computes
    aoi2 = spark.createDataFrame(aois[:2], "aoi_id string, geom_wkb binary")
    r2 = checkpoint.run_zonal_checkpointed(
        spark, images, aoi2, q, env, GRID_NAME, ck, run_id="r2"
    ).toPandas()
    done = spark.read.parquet(f"{ck}/done/q={checkpoint.query_fingerprint(q, env, GRID_NAME)}")
    per_run = {r["run_id"]: r["n"] for r in done.groupBy("run_id").count().withColumnRenamed("count", "n").collect()}
    assert set(per_run) == {"r1", "r2"} and per_run["r2"] > 0

    # a third run with the same AOIs is a pure cache hit (no new markers)
    r3 = checkpoint.run_zonal_checkpointed(
        spark, images, aoi2, q, env, GRID_NAME, ck, run_id="r3"
    ).toPandas()
    done2 = spark.read.parquet(f"{ck}/done/q={checkpoint.query_fingerprint(q, env, GRID_NAME)}")
    assert done2.filter("run_id = 'r3'").count() == 0

    # results identical to the uncached oracle
    exp = oracle.run_oracle(q, env, aois[:2])
    assert_frames_match(
        r3.sort_values(["aoi_id", "tcl_year"]).reset_index(drop=True),
        exp.sort_values(["aoi_id", "tcl_year"]).reset_index(drop=True),
    )
    assert_frames_match(r2.reset_index(drop=True), r3.reset_index(drop=True))
    assert len(r1) > 0

    # lineage recorded per run/partition with kernel timings
    lin = checkpoint.read_lineage(spark, ck).toPandas()
    assert set(lin["run_id"]) == {"r1", "r2"}
    assert (lin["kernel_ms"] > 0).all() and (lin["n_cells"] > 0).all()


def test_batch_failed_aoi_side_output(spark, corpus):
    from gfw_raster_analysis_lambda_spark.api import zonal_statistics_batch
    from gfw_raster_analysis_lambda_spark.sources import fixtures
    from gfw_raster_analysis_lambda_spark.sources.images import read_images

    images = read_images(spark, corpus["images"])
    good = fixtures.fixture_aois()[:2]
    rows = [*good, ("aoi_corrupt", b"\x01\x02\x03not-wkb")]
    aoi = spark.createDataFrame(rows, fixtures.AOI_SCHEMA)
    res, failed = zonal_statistics_batch(
        spark, images, aoi,
        "SELECT tcl_year, COUNT(*) AS n FROM tcl_year GROUP BY tcl_year",
        fixtures.fixture_environment(), fixtures.GRID.name,
    )
    f = failed.toPandas()
    assert f["aoi_id"].tolist() == ["aoi_corrupt"] and f["error"].iloc[0]
    r = res.toPandas()
    assert set(r["aoi_id"]) == {g[0] for g in good}  # batch not aborted


def test_checkpoint_resume_colocated(spark, corpus, tmp_path):
    from gfw_raster_analysis_lambda_spark.checkpoint import run_zonal_checkpointed
    from gfw_raster_analysis_lambda_spark.plans.ir import Aggregate, ZonalQuery
    from gfw_raster_analysis_lambda_spark.sources import fixtures
    from gfw_raster_analysis_lambda_spark.sources.images import (
        read_images,
        write_images_cell_sorted,
    )

    # cell-sorted copy of the corpus for the zero-shuffle resume path
    src = read_images(spark, corpus["images"])
    path = str(tmp_path / "sorted")
    write_images_cell_sorted(
        src.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash"), path, n_files=4
    )
    images = read_images(spark, path)
    env = fixtures.fixture_environment()
    aoi_all = spark.read.parquet(corpus["aoi"])
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("count", None, "n"),),
    )
    ck = str(tmp_path / "ck")
    first = run_zonal_checkpointed(
        spark, images, aoi_all.limit(2), q, env, fixtures.GRID.name, ck
    ).toPandas()
    # resume over the full AOI set: committed pairs must not recompute or
    # double-count; the result covers all AOIs
    full = run_zonal_checkpointed(
        spark, images, aoi_all, q, env, fixtures.GRID.name, ck
    ).toPandas()
    assert set(first["aoi_id"]).issubset(set(full["aoi_id"]))
    direct = run_zonal_checkpointed(
        spark, images, aoi_all, q, env, fixtures.GRID.name, str(tmp_path / "ck2"),
    ).toPandas()
    a = full.sort_values(["aoi_id", "tcl_year"]).reset_index(drop=True)
    b = direct.sort_values(["aoi_id", "tcl_year"]).reset_index(drop=True)
    assert a["n"].tolist() == b["n"].tolist()


@pytest.mark.parametrize("fn", ["run_zonal_checkpointed", "run_zonal_checkpointed_snapshot"])
def test_checkpoint_collects_no_aoi_cells(spark, corpus, tmp_path, monkeypatch, fn):
    """Both checkpoint functions run their resume remainder through the
    cogroup route: no bounded AOI read, no driver-side enumeration and no
    collect of a frame holding geometry, so an AOI batch over every driver
    bound resumes too. Committed pairs are still skipped and the results
    equal the oracle."""
    from pyspark.sql import DataFrame

    from gfw_raster_analysis_lambda_spark.plans import planner

    images = read_images(spark, corpus["images"])
    env = fixtures.fixture_environment()
    aois = fixtures.fixture_aois()[:2]
    q = ZonalQuery(
        base_layer="tcl_year",
        group_layers=("tcl_year",),
        aggregates=(Aggregate("sum", "area__ha", "a"), Aggregate("count", None, "n")),
    )

    def refuse(*a, **k):
        raise AssertionError("checkpoint run read or enumerated the AOI batch on the driver")

    for name in ("read_bounded", "prepare_aoi_index", "_aoi_lookup_from_aois"):
        monkeypatch.setattr(planner, name, refuse)
    orig_collect = DataFrame.collect

    def collect(self):
        assert "geom_wkb" not in self.columns, "collected a frame holding geometry"
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", collect)
    todo = []
    orig_over = planner._build_partials_over_bound

    def spy(images_, cells, *a, **k):
        todo.append(cells)
        return orig_over(images_, cells, *a, **k)

    monkeypatch.setattr(planner, "_build_partials_over_bound", spy)
    run = getattr(checkpoint, fn)
    ck = str(tmp_path / "ck")
    for i, batch in enumerate((aois[:1], aois, aois)):
        aoi_df = spark.createDataFrame(batch, "aoi_id string, geom_wkb binary")
        got = run(spark, images, aoi_df, q, env, GRID_NAME, ck, run_id=f"r{i}").toPandas()
        exp = oracle.run_oracle(q, env, batch)
        assert_frames_match(
            got.sort_values(["aoi_id", "tcl_year"]).reset_index(drop=True),
            exp.sort_values(["aoi_id", "tcl_year"]).reset_index(drop=True),
        )
    # run r1 computed only the new AOI's pairs; run r2 computed nothing
    assert len(todo) == 2
    pairs = todo[1].select("aoi_id", "cell_id").collect()
    n_cells = len(G.polygon_to_cells(fixtures.GRID, geo.wkb_loads(aois[1][1])))
    assert {r["aoi_id"] for r in pairs} == {aois[1][0]} and len(pairs) == n_cells


@pytest.mark.slow
def test_batch_large_distributed_validation(spark, corpus):
    """A batch too large to be comfortable collecting: validation happens in
    a pandas UDF and the good/failed split is relational (api.py no longer
    collects the AOI list to the driver)."""
    from gfw_raster_analysis_lambda_spark.api import zonal_statistics_batch
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.sources import fixtures
    from gfw_raster_analysis_lambda_spark.sources.images import read_images

    images = read_images(spark, corpus["images"])
    rows = []
    n, bad = 20_000, set()
    for i in range(n):
        aid = f"aoi_{i:05d}"
        if i % 997 == 0:
            rows.append((aid, b"\x01\x02\x03not-wkb"))
            bad.add(aid)
        else:
            # deterministic tiny box inside the fixture world (lon 10..11,
            # lat 20..21)
            lon = 10.0 + (i * 37 % 1000) / 1000.0 * 0.9
            lat = 20.05 + (i * 61 % 1000) / 1000.0 * 0.9
            rows.append((aid, geo.wkb_dumps(geo.box(lon, lat, lon + 0.02, lat + 0.02))))
    aoi = spark.createDataFrame(rows, fixtures.AOI_SCHEMA).repartition(8)
    res, failed = zonal_statistics_batch(
        spark, images, aoi,
        "SELECT COUNT(*) AS n FROM tcl_year",
        fixtures.fixture_environment(), fixtures.GRID.name,
    )
    f = failed.toPandas()
    assert set(f["aoi_id"]) == bad and (f["error"].str.len() > 0).all()
    r = res.toPandas()
    assert len(set(r["aoi_id"])) == n - len(bad)  # every good AOI returned
    assert (r["n"] > 0).all()


def test_aoi_from_geojson(spark, corpus, tmp_path):
    """GeoJSON feature-collection ingest (reference preprocessing parity):
    ids resolve from feature id / properties / fallback, degenerate rings
    are repaired away, and the result runs through the batch e2e."""
    import json

    from gfw_raster_analysis_lambda_spark.api import (
        aoi_from_geojson,
        zonal_statistics_batch,
    )
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.sources import fixtures
    from gfw_raster_analysis_lambda_spark.sources.images import read_images

    ring = [[10.01, 20.80], [10.20, 20.80], [10.20, 20.95], [10.01, 20.95], [10.01, 20.80]]
    degenerate = [[10.5, 20.5], [10.5, 20.5], [10.5, 20.5], [10.5, 20.5]]
    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "id": "by_id",
             "geometry": {"type": "Polygon", "coordinates": [ring]}},
            {"type": "Feature", "properties": {"id": "by_prop"},
             "geometry": {"type": "MultiPolygon",
                          "coordinates": [[ring], [degenerate]]}},
            {"type": "Feature", "properties": {},
             "geometry": {"type": "Polygon", "coordinates": [ring]}},
        ],
    }
    path = str(tmp_path / "aoi.geojson")
    with open(path, "w") as f:
        json.dump(fc, f)

    aoi = aoi_from_geojson(spark, path)
    rows = {r["aoi_id"]: bytes(r["geom_wkb"]) for r in aoi.collect()}
    assert set(rows) == {"by_id", "by_prop", "feature_2"}
    # degenerate ring repaired away; surviving polygon identical to by_id's
    assert len(geo.wkb_loads(rows["by_prop"])) == 1
    assert rows["by_prop"] == rows["by_id"]

    # single-feature and bare-geometry shapes
    assert aoi_from_geojson(spark, fc["features"][0]["geometry"]).count() == 1
    assert aoi_from_geojson(spark, fc["features"][0]).count() == 1

    res, failed = zonal_statistics_batch(
        spark, read_images(spark, corpus["images"]), aoi,
        "SELECT tcl_year, COUNT(*) AS n FROM tcl_year GROUP BY tcl_year",
        fixtures.fixture_environment(), fixtures.GRID.name,
    )
    assert failed.count() == 0
    r = res.toPandas()
    assert set(r["aoi_id"]) == {"by_id", "by_prop", "feature_2"}
    # identical geometries -> identical results
    a = r[r.aoi_id == "by_id"].drop(columns="aoi_id").reset_index(drop=True)
    b = r[r.aoi_id == "by_prop"].drop(columns="aoi_id").reset_index(drop=True)
    assert a.equals(b)


def test_build_overviews_matches_numpy(spark):
    """Overview tiles must equal the numpy block-reduction of the
    assembled child window, including zero-fill for missing children and
    NaN-skipping means for float layers."""
    import numpy as np
    import pandas as pd

    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import pyramid

    src, dst = G.GRID_FIXTURE, G.GRID_FIXTURE_COARSE
    chunk = src.chunk_px
    rng = np.random.RandomState(7)
    rows = []
    child_arrays = {}
    # parent (380, 138) covers children x in {760, 761}, y in {276, 277};
    # drop child (761, 277) to exercise the missing-tile zero fill
    for cx in (760, 761):
        for cy in (276, 277):
            if (cx, cy) == (761, 277):
                continue
            arr = rng.randint(0, 200, size=(chunk, chunk)).astype(np.uint8)
            cell = int(G.cell_from_xy(src, cx, cy))
            child_arrays[(cx, cy)] = arr
            rows.append(("u8", cell, codecs.encode_tile(arr, "png"), chunk, chunk, "png"))
    df = spark.createDataFrame(
        rows, "layer string, cell_id long, bytes binary, w int, h int, fmt string"
    )
    for method in ("mean", "nearest", "max"):
        out = pyramid.build_overviews(df, src.name, dst.name, method=method).toPandas()
        assert len(out) == 1
        r = out.iloc[0]
        assert r["w"] == dst.chunk_px and r["fmt"] == "png"
        px, py = G.cell_to_xy(int(r["cell_id"]))
        assert (int(px), int(py)) == (380, 138)
        got = codecs.decode_tile(bytes(r["bytes"]), int(r["w"]), int(r["h"]), "png")
        canvas = np.zeros((2 * chunk, 2 * chunk), dtype=np.uint8)
        for (cx, cy), arr in child_arrays.items():
            canvas[(cy - 276) * chunk:(cy - 275) * chunk,
                   (cx - 760) * chunk:(cx - 759) * chunk] = arr
        blocks = canvas.reshape(dst.chunk_px, 2, dst.chunk_px, 2)
        if method == "mean":
            exp = np.floor(blocks.mean(axis=(1, 3))).astype(np.uint8)
        elif method == "nearest":
            exp = canvas[::2, ::2]
        else:
            exp = blocks.max(axis=(1, 3))
        np.testing.assert_array_equal(got, exp)

    # float layer: NaN holes are skipped by mean, all-NaN blocks stay NaN
    f = np.full((chunk, chunk), 2.5, dtype=np.float32)
    f[0, 0] = np.nan          # partial block -> mean of remaining 3
    f[2:4, 0:2] = np.nan      # full 2x2 block -> NaN
    cell = int(G.cell_from_xy(src, 760, 276))
    fdf = spark.createDataFrame(
        [("f32", cell, codecs.encode_tile(f, "raw_f32"), chunk, chunk, "raw_f32")],
        "layer string, cell_id long, bytes binary, w int, h int, fmt string",
    )
    out = pyramid.build_overviews(fdf, src.name, dst.name, method="mean").toPandas()
    got = codecs.decode_tile(bytes(out.iloc[0]["bytes"]), dst.chunk_px, dst.chunk_px, "raw_f32")
    assert got[0, 0] == np.float32(2.5)      # NaN skipped
    assert np.isnan(got[1, 0])               # all-NaN block
    # missing sibling children zero-fill as NaN for floats -> their
    # quadrants stay NaN instead of diluting to fake zeros
    assert np.isnan(got[0, 32])


def test_tile_diff_two_snapshots(spark):
    """tile_diff across two corpus snapshots: changed pixels counted
    exactly, NaN==NaN treated as unchanged, NaN vs value as changed."""
    import numpy as np

    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import pyramid

    src = G.GRID_FIXTURE
    chunk = src.chunk_px
    cell = int(G.cell_from_xy(src, 700, 100))
    a = np.full((chunk, chunk), 1.0, dtype=np.float32)
    a[0, 0] = np.nan
    a[0, 1] = np.nan
    b = a.copy()
    b[5, 5] = 3.5            # value change
    b[0, 1] = 2.0            # NaN -> value
    rows_a = [("emissions", cell, codecs.encode_tile(a, "raw_f32"), chunk, chunk, "raw_f32")]
    rows_b = [("emissions", cell, codecs.encode_tile(b, "raw_f32"), chunk, chunk, "raw_f32")]
    schema = "layer string, cell_id long, bytes binary, w int, h int, fmt string"
    da = spark.createDataFrame(rows_a, schema)
    db = spark.createDataFrame(rows_b, schema)
    out = pyramid.tile_diff(da, "emissions", "emissions", images_b=db).toPandas()
    r = out.iloc[0]
    assert r["n_px"] == chunk * chunk
    assert r["n_diff"] == 2                     # (5,5) and the NaN->value px
    assert abs(r["max_abs_diff"] - 2.5) < 1e-9  # over non-NaN pixels only


def test_touched_parent_overviews_incremental(spark):
    """Incremental overview maintenance recomputes exactly the parents a
    batch touched, and those tiles are byte-identical to a full rebuild."""
    import numpy as np
    import pandas as pd

    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import pyramid

    src, dst = G.GRID_FIXTURE, G.GRID_FIXTURE_COARSE
    chunk = src.chunk_px
    rng = np.random.RandomState(11)
    rows = []
    # 4x4 child cells -> 2x2 parents, all children present
    for cx in range(760, 764):
        for cy in range(276, 280):
            arr = rng.randint(0, 255, size=(chunk, chunk)).astype(np.uint8)
            rows.append(("u8", int(G.cell_from_xy(src, cx, cy)),
                         codecs.encode_tile(arr, "png"), chunk, chunk, "png"))
    schema = "layer string, cell_id long, bytes binary, w int, h int, fmt string"
    base = spark.createDataFrame(rows, schema)
    # batch touches children of ONE parent (761 -> parent x 380)
    batch = base.filter(F.col("cell_id").isin(
        [int(G.cell_from_xy(src, 761, 277))]
    ))
    inc = pyramid.touched_parent_overviews(base, batch, src.name, dst.name).toPandas()
    full = pyramid.build_overviews(base, src.name, dst.name).toPandas()
    assert len(full) == 4
    assert len(inc) == 1                       # only the touched parent
    fid = inc.iloc[0]["image_id"]
    frow = full[full["image_id"] == fid].iloc[0]
    assert bytes(inc.iloc[0]["bytes"]) == bytes(frow["bytes"])  # bit-identical


def test_choose_overview_grid_routing(spark):
    """Resolution-aware routing picks coarse levels for big AOIs, the base
    level for small ones, and a zonal area sum over the routed overview
    stays within ~2% of the base level on an aligned box."""
    import numpy as np

    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import pyramid
    from gfw_raster_analysis_lambda_spark.api import zonal_statistics
    from gfw_raster_analysis_lambda_spark.sources import fixtures
    from gfw_raster_analysis_lambda_spark.sources.images import read_images, with_derived_keys

    cands = [G.GRID_FIXTURE.name, G.GRID_FIXTURE_COARSE.name]
    # 2x2-cell fixture box (0.5 deg): 16k px at base, 4k at coarse ->
    # the coarse level fails min_pixels and routing stays at base
    small = spark.createDataFrame(
        [("s", geo.wkb_dumps(geo.box(10.0, 20.25, 10.5, 20.75)))],
        fixtures.AOI_SCHEMA,
    )
    assert pyramid.choose_overview_grid(small, cands, min_pixels=10_000) == G.GRID_FIXTURE.name
    # a 10-degree AOI covers plenty of pixels even at the coarse level
    big = spark.createDataFrame(
        [("b", geo.wkb_dumps(geo.box(0.0, 10.0, 10.0, 20.0)))], fixtures.AOI_SCHEMA
    )
    assert (
        pyramid.choose_overview_grid(big, cands, min_pixels=10_000)
        == G.GRID_FIXTURE_COARSE.name
    )

    # integration: area sum over the routed overview approximates base
    images = with_derived_keys(
        spark.createDataFrame(fixtures.generate_images_rows(), fixtures.IMAGES_SCHEMA)
    )
    env = fixtures.fixture_environment()
    ov = pyramid.build_overviews(
        images.select("layer", "cell_id", "bytes", "w", "h", "fmt"),
        G.GRID_FIXTURE.name, G.GRID_FIXTURE_COARSE.name, method="nearest",
    ).withColumn("caption", F.lit(None).cast("string")).withColumn(
        "phash", F.lit(0).cast("long")
    )
    sql = "SELECT SUM(area__ha) AS ha FROM data"
    env_c = fixtures.fixture_environment(grid=G.GRID_FIXTURE_COARSE.name)
    base = zonal_statistics(spark, images, small, sql, env, G.GRID_FIXTURE.name).toPandas()
    coarse = zonal_statistics(
        spark, ov, small, sql, env_c, G.GRID_FIXTURE_COARSE.name
    ).toPandas()
    b, c = float(base["ha"][0]), float(coarse["ha"][0])
    assert abs(b - c) / b < 0.02, (b, c)


def test_connected_components_connectivity(spark):
    """8- vs 4-connectivity, multi-round convergence on a snake, and
    min-label determinism."""
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import components
    from gfw_raster_analysis_lambda_spark.sources import fixtures

    grid = fixtures.GRID
    pts = [(100, 100), (101, 100), (102, 101),     # diagonal link at (101,100)-(102,101)
           (200, 200),                              # isolated
           (300, 300), (301, 300), (302, 300), (302, 301), (302, 302)]  # snake
    cells = {p: int(G.cell_from_xy(grid, *p)) for p in pts}
    df = spark.createDataFrame([(c,) for c in cells.values()], "cell_id long")

    lab8 = components.connected_cell_components(df, diagonal=True).toPandas()
    m8 = dict(zip(lab8["cell_id"], lab8["component"]))
    assert m8[cells[(102, 101)]] == m8[cells[(100, 100)]]       # diagonal merges
    assert m8[cells[(200, 200)]] == cells[(200, 200)]           # singleton keeps own id
    snake = [cells[p] for p in pts[4:]]
    assert all(m8[c] == min(snake) for c in snake)              # converged end-to-end
    assert len(set(m8.values())) == 3

    lab4 = components.connected_cell_components(df, diagonal=False).toPandas()
    m4 = dict(zip(lab4["cell_id"], lab4["component"]))
    assert m4[cells[(102, 101)]] != m4[cells[(100, 100)]]       # no diagonal edge
    assert len(set(m4.values())) == 4


def test_pixel_components_cross_tile(spark):
    """Pixel-level connected components across tile boundaries match a
    single-process BFS over the assembled global mask — blobs spanning
    edges, a corner-only diagonal link, and isolated speckles."""
    import numpy as np

    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import components
    from gfw_raster_analysis_lambda_spark.sources import fixtures

    grid = fixtures.GRID
    chunk = grid.chunk_px
    gw = 2 * chunk
    world = np.zeros((gw, gw), dtype=np.uint8)
    world[10:14, 60:70] = 7          # blob crossing the E/W tile edge
    world[60:70, 20:24] = 7          # blob crossing the S/N tile edge
    world[63, 63] = 7                # corner-only diagonal pair across
    world[64, 64] = 7                #   the four-cells corner point
    world[5:8, 5:8] = 7              # interior blob
    world[100:102, 100:103] = 7      # interior blob in the SE tile
    world[30, 90] = 9                # non-matching value: excluded

    rows = []
    for dx in range(2):
        for dy in range(2):
            arr = world[dy * chunk:(dy + 1) * chunk, dx * chunk:(dx + 1) * chunk]
            cell = int(G.cell_from_xy(grid, 500 + dx, 400 + dy))
            rows.append(("pat", cell, codecs.encode_tile(
                np.ascontiguousarray(arr), "png"), chunk, chunk, "png"))
    df = spark.createDataFrame(
        rows, "layer string, cell_id long, bytes binary, w int, h int, fmt string"
    )

    def bfs_sizes(diag):
        mask = world == 7
        seen = np.zeros_like(mask)
        sizes = []
        nbrs = [(-1, 0), (1, 0), (0, -1), (0, 1)] + (
            [(-1, -1), (-1, 1), (1, -1), (1, 1)] if diag else []
        )
        for r in range(gw):
            for c in range(gw):
                if mask[r, c] and not seen[r, c]:
                    stack, n = [(r, c)], 0
                    seen[r, c] = True
                    while stack:
                        y, x = stack.pop()
                        n += 1
                        for dy2, dx2 in nbrs:
                            yy, xx = y + dy2, x + dx2
                            if 0 <= yy < gw and 0 <= xx < gw and mask[yy, xx] and not seen[yy, xx]:
                                seen[yy, xx] = True
                                stack.append((yy, xx))
                    sizes.append(n)
        return sorted(sizes)

    for diag in (False, True):
        got = components.pixel_components(
            df, "pat", [7], grid.name, diagonal=diag
        ).toPandas()
        assert sorted(got["n_px"].tolist()) == bfs_sizes(diag), f"diagonal={diag}"
    # the corner pair merges ONLY under 8-connectivity
    assert len(bfs_sizes(True)) == len(bfs_sizes(False)) - 1


def test_pixel_components_per_aoi(spark):
    """Per-AOI patch metrics: the AOI mask clips before labeling, so a
    blob straddling an AOI edge splits, and each AOI gets its own patch
    partition (landscape-ecology patch analysis)."""
    import numpy as np

    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import components
    from gfw_raster_analysis_lambda_spark.sources import fixtures

    grid = fixtures.GRID
    chunk = grid.chunk_px
    # one cell at (760, 276): lon [10, 10.25], lat [20.75, 21]
    cell = int(G.cell_from_xy(grid, 760, 276))
    arr = np.zeros((chunk, chunk), dtype=np.uint8)
    arr[10:20, 20:44] = 7           # horizontal bar crossing lon 10.125
    arr[40:44, 50:54] = 7           # second blob, east half only
    df = spark.createDataFrame(
        [("pat", cell, codecs.encode_tile(arr, "png"), chunk, chunk, "png")],
        "layer string, cell_id long, bytes binary, w int, h int, fmt string",
    )
    # west / east half-cell AOIs split at lon 10.125 (col 32)
    aois = spark.createDataFrame(
        [("west", geo.wkb_dumps(geo.box(10.0, 20.75, 10.125, 21.0))),
         ("east", geo.wkb_dumps(geo.box(10.125, 20.75, 10.25, 21.0)))],
        fixtures.AOI_SCHEMA,
    )
    out = components.pixel_components(
        df, "pat", [7], grid.name, diagonal=False, aoi_df=aois
    ).toPandas()
    by_aoi = {a: sorted(g["n_px"].tolist()) for a, g in out.groupby("aoi_id")}
    # bar cols 20..43 (24 wide, 10 tall): west part cols 20..31 = 12x10,
    # east part cols 32..43 = 12x10; second blob 4x4 east only
    assert by_aoi["west"] == [120]
    assert by_aoi["east"] == [16, 120]


def test_hash_to_min_shortcut_log_convergence(spark):
    """Pointer jumping converges a 64-cell path in O(log n) rounds: with
    max_iter=8 the shortcut loop finishes a diameter-64 chain that plain
    hash-to-min provably cannot (it moves labels one hop per round)."""
    from pyspark.sql import functions as F

    from gfw_raster_analysis_lambda_spark.operators import components

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(e + [(b, a) for a, b in e], "a long, b long")
    fast = components.hash_to_min(nodes, edges, max_iter=8, shortcut=True).toPandas()
    assert set(fast["component"]) == {0}
    # one-hop propagation can't finish in 8 rounds — and partially-merged
    # labels must be a loud error, never a silently-wrong result
    with pytest.raises(RuntimeError, match="did not converge"):
        components.hash_to_min(nodes, edges, max_iter=8, shortcut=False)


def test_knn_phash_pruned_auto_expands_ring(spark, corpus):
    """ring=1 at a corner cell cannot supply k rows when k exceeds the
    neighborhood's tile count; the auto variant widens the ring and still
    returns exactly k rows per query, matching a direct wide-ring run.
    A query already satisfied at ring=1 keeps its small-ring result."""
    images = read_images(spark, corpus["images"])
    corner = int(G.cell_from_xy(fixtures.GRID, fixtures.X0, fixtures.Y0))
    n_ring1 = images.filter(
        F.col("cell_id").isin([int(c) for c in G.k_ring(fixtures.GRID, corner, 1)])
    ).count()
    k = n_ring1 + 3  # strictly more than ring-1 can supply
    r0 = images.filter(F.col("cell_id") == corner).select("phash").first()
    queries = spark.createDataFrame(
        [("q1", int(r0.phash), corner)], "query_id string, phash long, cell_id long"
    )
    short = knn.knn_phash_pruned(images, queries, k=k, ring=1, grid_name=GRID_NAME)
    assert short.count() < k  # the documented gap the auto variant closes
    got = knn.knn_phash_pruned_auto(
        images, queries, k=k, ring=1, max_ring=4, grid_name=GRID_NAME
    ).toPandas()
    assert len(got) == k and list(got["rank"]) == list(range(1, k + 1))
    exp = knn.knn_phash_pruned(
        images, queries, k=k, ring=2, grid_name=GRID_NAME
    ).toPandas()
    assert got["image_id"].tolist() == exp["image_id"].tolist()

    # two queries, one satisfied immediately: its rows come from ring 1
    center = int(G.cell_from_xy(fixtures.GRID, fixtures.X0 + 1, fixtures.Y0 + 1))
    r1 = images.filter(F.col("cell_id") == center).select("phash").first()
    q2 = spark.createDataFrame(
        [("qa", int(r0.phash), corner), ("qb", int(r1.phash), center)],
        "query_id string, phash long, cell_id long",
    )
    both = knn.knn_phash_pruned_auto(
        images, q2, k=3, ring=1, max_ring=4, grid_name=GRID_NAME
    ).toPandas()
    ring1 = knn.knn_phash_pruned(images, q2, k=3, ring=1, grid_name=GRID_NAME).toPandas()
    b = both[both["query_id"] == "qb"].sort_values("rank")
    e = ring1[ring1["query_id"] == "qb"].sort_values("rank")
    assert b["image_id"].tolist() == e["image_id"].tolist()


def test_pixel_components_geom_stats_bbox_centroid(spark):
    """geom_stats=True: per-blob global-pixel bbox and exact-integer
    centroid numerators survive the cross-tile stitch (a blob spanning
    an edge merges its per-tile mins/maxes/sums associatively)."""
    import numpy as np

    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import components
    from gfw_raster_analysis_lambda_spark.sources import fixtures

    grid = fixtures.GRID
    chunk = grid.chunk_px
    gw = 2 * chunk
    world = np.zeros((gw, gw), dtype=np.uint8)
    world[10:14, 60:70] = 7          # crosses the E/W tile edge
    world[60:70, 20:24] = 7          # crosses the S/N tile edge
    world[5:8, 5:8] = 7              # interior box

    x0c, y0c = 500, 400
    rows = []
    for dx in range(2):
        for dy in range(2):
            arr = world[dy * chunk:(dy + 1) * chunk, dx * chunk:(dx + 1) * chunk]
            cell = int(G.cell_from_xy(grid, x0c + dx, y0c + dy))
            rows.append(("pat", cell, codecs.encode_tile(
                np.ascontiguousarray(arr), "png"), chunk, chunk, "png"))
    df = spark.createDataFrame(
        rows, "layer string, cell_id long, bytes binary, w int, h int, fmt string"
    )
    out = components.pixel_components(
        df, "pat", [7], grid.name, diagonal=False, geom_stats=True
    ).toPandas()
    bx, by = x0c * chunk, y0c * chunk  # global-pixel origin of the 2x2 window
    got = {
        (int(r.gx_min - bx), int(r.gy_min - by), int(r.gx_max - bx),
         int(r.gy_max - by)): (int(r.n_px), int(r.sum_gx - r.n_px * bx),
                               int(r.sum_gy - r.n_px * by))
        for r in out.itertuples(index=False)
    }
    # brute-force per blob from the world mask
    exp = {}
    for (r0, r1, c0, c1) in [(10, 14, 60, 70), (60, 70, 20, 24), (5, 8, 5, 8)]:
        ys, xs = np.mgrid[r0:r1, c0:c1]
        exp[(c0, r0, c1 - 1, r1 - 1)] = (
            int(ys.size), int(xs.sum()), int(ys.sum())
        )
    assert got == exp


def test_polygon_pair_overlap_measured(spark):
    """polygon_pair_overlap through the full Spark path (cell candidates
    -> area attach -> Arrow intersection kernel) on non-box shapes:
    values must equal the driver-side geometry functions (themselves
    fuzz-verified against the exact rational oracle), IoU must be
    inter/union, and boundary-touching / disjoint-but-cell-sharing
    candidates must drop out."""
    tri = [[np.array([[10.05, 20.05], [10.45, 20.05], [10.05, 20.45]])]]
    bx = geo.box(10.0, 20.0, 10.25, 20.25)
    holed = [[np.array([[10.5, 20.5], [10.9, 20.5], [10.9, 20.9], [10.5, 20.9]]),
              np.array([[10.6, 20.6], [10.8, 20.6], [10.8, 20.8], [10.6, 20.8]])]]
    island = geo.box(10.62, 20.62, 10.78, 20.78)  # strictly inside the hole
    toucher = geo.box(10.9, 20.5, 10.95, 20.9)    # shares holed's east wall
    rows = [
        ("t", geo.wkb_dumps(tri)),
        ("x", geo.wkb_dumps(bx)),
        ("h", geo.wkb_dumps(holed)),
        ("i", geo.wkb_dumps(island)),
        ("w", geo.wkb_dumps(toucher)),
    ]
    aoi = spark.createDataFrame(rows, fixtures.AOI_SCHEMA)
    got = {
        (r["a"], r["b"]): r
        for r in spatial_join.polygon_pair_overlap(aoi, GRID_NAME).collect()
    }
    assert set(got) == {("t", "x")}  # island-in-hole and wall-touch: area 0
    r = got[("t", "x")]
    inter = geo.intersection_area(tri, bx)
    union = geo.region_area(tri) + geo.region_area(bx) - inter
    assert inter > 0
    assert r["inter_area"] == pytest.approx(inter, rel=1e-12)
    assert r["union_area"] == pytest.approx(union, rel=1e-12)
    assert r["iou"] == pytest.approx(inter / union, rel=1e-12)


def test_line_zonal_non_box_aoi(spark):
    """line_zonal through the full Spark path against the driver-side
    kernel on a triangle AOI (the oracle gate only exercises boxes): a
    transect crossing the hypotenuse, a line fully inside, one fully
    outside that still shares cells, and a multi-path MULTILINESTRING."""
    from gfw_raster_analysis_lambda_spark.operators import lines as line_ops

    tri = [[np.array([[10.05, 20.05], [10.85, 20.05], [10.05, 20.85]])]]
    transect = [np.array([[10.0, 20.4], [11.0, 20.4]])]
    inner = [np.array([[10.1, 20.1], [10.3, 20.12]])]
    outer = [np.array([[10.85, 20.85], [10.99, 20.99]])]
    multi = [np.array([[10.1, 20.2], [10.2, 20.2]]),
             np.array([[10.9, 20.9], [10.95, 20.95]])]  # one path in, one out
    aoi = spark.createDataFrame(
        [("tri", geo.wkb_dumps(tri))], fixtures.AOI_SCHEMA
    )
    ldf = spark.createDataFrame(
        [("transect", geo.wkb_dumps_lines(transect)),
         ("inner", geo.wkb_dumps_lines(inner)),
         ("outer", geo.wkb_dumps_lines(outer)),
         ("multi", geo.wkb_dumps_lines(multi))],
        "line_id string, geom_wkb binary",
    )
    got = {r["line_id"]: r["length_deg"]
           for r in line_ops.line_zonal(ldf, aoi, GRID_NAME).collect()}
    assert set(got) == {"transect", "inner", "multi"}
    for name, lines in (("transect", transect), ("inner", inner), ("multi", multi)):
        exp = geo.line_length_in_region(lines, tri)
        assert got[name] == pytest.approx(exp, rel=1e-12), name
    # WKB roundtrip both endiannesses of the reader's own output
    rt = geo.wkb_loads_lines(geo.wkb_dumps_lines(multi))
    assert len(rt) == 2 and all(
        np.array_equal(a, b) for a, b in zip(rt, multi)
    )


def test_snap_points_to_lines_matches_bruteforce(spark):
    """snap_points_to_lines (ring-cell candidates + windowed pick) vs a
    driver-side brute force over ALL lines — candidate generation must
    be complete within the radius; clamped endpoints and the
    (dist2, line_id) tie-break must match."""
    from gfw_raster_analysis_lambda_spark.operators import lines as line_ops

    rng = np.random.default_rng(17)
    lines = {}
    for k in range(8):
        n = int(rng.integers(2, 5))
        pts = np.column_stack([
            rng.uniform(10.05, 10.95, n), rng.uniform(20.05, 20.95, n)
        ])
        lines[f"l{k}"] = [pts]
    pdf_rows = [
        (f"p{k}", float(rng.uniform(10.0, 11.0)), float(rng.uniform(20.0, 21.0)))
        for k in range(40)
    ]
    radius = 0.12
    ldf = spark.createDataFrame(
        [(lid, geo.wkb_dumps_lines(ls)) for lid, ls in lines.items()],
        "line_id string, geom_wkb binary",
    )
    pdf = spark.createDataFrame(pdf_rows, "point_id string, lon double, lat double")
    got = {
        r["point_id"]: (r["line_id"], r["dist2"])
        for r in line_ops.snap_points_to_lines(pdf, ldf, radius, GRID_NAME).collect()
    }

    def seg_d2(px, py, e):
        x1, y1, x2, y2 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
        dx, dy = x2 - x1, y2 - y1
        t = ((px - x1) * dx + (py - y1) * dy) / (dx * dx + dy * dy)
        tc = np.minimum(1.0, np.maximum(0.0, t))
        qx, qy = x1 + tc * dx, y1 + tc * dy
        return float(((px - qx) ** 2 + (py - qy) ** 2).min())

    exp = {}
    for pid, px, py in pdf_rows:
        best = min(
            ((seg_d2(px, py, geo.line_edges(ls)), lid) for lid, ls in lines.items()),
        )
        if best[0] <= radius * radius:
            exp[pid] = (best[1], best[0])
    assert got == exp
    assert len(exp) > 10  # the fixture must actually exercise snapping


def test_pixel_components_perimeter_cross_tile(spark):
    """perim_px against a brute-force whole-world numpy computation on a
    random 2x2-cell world: label globally (8-conn, matching
    diagonal=True), then perimeter = 4n - 2*(4-adjacent same-blob
    pairs). The random world guarantees blobs spanning tile edges, so
    the cross-tile -2 correction is load-bearing."""
    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import components

    grid = fixtures.GRID
    chunk = grid.chunk_px
    rng = np.random.default_rng(23)
    world = (rng.random((2 * chunk, 2 * chunk)) < 0.45).astype(np.uint8) * 7
    rows = []
    for dx in range(2):
        for dy in range(2):
            arr = world[dy * chunk:(dy + 1) * chunk, dx * chunk:(dx + 1) * chunk]
            cell = int(G.cell_from_xy(grid, fixtures.X0 + dx, fixtures.Y0 + dy))
            rows.append(("blob", cell, codecs.encode_tile(
                np.ascontiguousarray(arr), "png"), chunk, chunk, "png"))
    df = spark.createDataFrame(
        rows, "layer string, cell_id long, bytes binary, w int, h int, fmt string"
    )
    got = sorted(
        (r["min_cell"], r["n_px"], r["perim_px"])
        for r in components.pixel_components(
            df, "blob", [7], grid.name, diagonal=True, perimeter=True
        ).collect()
    )

    # independent global labeling (8-conn union-find over the world)
    mask = world == 7
    lab = components._label_tile(mask, diagonal=True)
    per_blob_n = np.bincount(lab.ravel())[1:]
    # 4-adjacent same-blob pairs
    exp_perim = []
    for b in range(1, lab.max() + 1):
        m = lab == b
        adj = int((m[:, 1:] & m[:, :-1]).sum() + (m[1:, :] & m[:-1, :]).sum())
        n = int(m.sum())
        ys, xs = np.nonzero(m)
        cells = {
            int(G.cell_from_xy(grid, fixtures.X0 + x // chunk, fixtures.Y0 + y // chunk))
            for y, x in zip(ys, xs)
        }
        exp_perim.append((min(cells), n, 4 * n - 2 * adj))
    assert got == sorted(exp_perim)
    assert len(got) > 5
    # hand pin: a lone 3x5 rectangle has perimeter 2*(3+5)
    m2 = np.zeros((2 * chunk, 2 * chunk), np.uint8)
    m2[10:13, 20:25] = 7
    rows2 = []
    for dx in range(2):
        for dy in range(2):
            arr = m2[dy * chunk:(dy + 1) * chunk, dx * chunk:(dx + 1) * chunk]
            cell = int(G.cell_from_xy(grid, fixtures.X0 + dx, fixtures.Y0 + dy))
            rows2.append(("blob", cell, codecs.encode_tile(
                np.ascontiguousarray(arr), "png"), chunk, chunk, "png"))
    df2 = spark.createDataFrame(
        rows2, "layer string, cell_id long, bytes binary, w int, h int, fmt string"
    )
    out2 = components.pixel_components(
        df2, "blob", [7], grid.name, perimeter=True
    ).collect()
    assert len(out2) == 1 and out2[0]["perim_px"] == 16


def test_geometry_dedup_keepers_semantics(spark):
    """Keeper rule on non-box shapes: a triangle and its slightly-shifted
    near-duplicate collapse (keeper = smaller id), a rotated distinct
    shape keeps itself, and sub-threshold overlaps stay independent."""
    from gfw_raster_analysis_lambda_spark.operators import spatial_join

    tri = np.array([[10.1, 20.1], [10.5, 20.1], [10.1, 20.5]])
    rows = [
        ("a_tri", geo.wkb_dumps([[tri]])),
        ("b_tri_shift", geo.wkb_dumps([[tri + [0.002, 0.001]]])),
        ("c_half", geo.wkb_dumps(geo.box(10.1, 20.1, 10.3, 20.3))),  # inside tri, low IoU
        ("d_far", geo.wkb_dumps(geo.box(10.7, 20.7, 10.9, 20.9))),
    ]
    aoi = spark.createDataFrame(rows, fixtures.AOI_SCHEMA)
    got = {
        r["aoi_id"]: (r["keeper"], r["iou"])
        for r in spatial_join.geometry_dedup_keepers(aoi, GRID_NAME, 0.8).collect()
    }
    assert set(got) == {"a_tri", "b_tri_shift", "c_half", "d_far"}
    assert got["a_tri"] == ("a_tri", 1.0)
    assert got["b_tri_shift"][0] == "a_tri" and got["b_tri_shift"][1] > 0.95
    assert got["c_half"] == ("c_half", 1.0)  # IoU vs tri = 0.04/0.08 = 0.5 < 0.8
    assert got["d_far"] == ("d_far", 1.0)


def test_pixel_components_value_layer_cross_tile(spark):
    """value_layer sums a second layer's pixels per blob, exactly,
    including blobs spanning tile edges; a missing value tile
    contributes zero (missing-tile tolerance)."""
    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import components

    grid = fixtures.GRID
    chunk = grid.chunk_px
    rng = np.random.default_rng(31)
    world = (rng.random((2 * chunk, 2 * chunk)) < 0.4).astype(np.uint8) * 7
    vals = rng.integers(0, 200, world.shape).astype(np.uint8)
    rows = []
    for dx in range(2):
        for dy in range(2):
            sl = np.s_[dy * chunk:(dy + 1) * chunk, dx * chunk:(dx + 1) * chunk]
            cell = int(G.cell_from_xy(grid, fixtures.X0 + dx, fixtures.Y0 + dy))
            rows.append(("blob", cell, codecs.encode_tile(
                np.ascontiguousarray(world[sl]), "png"), chunk, chunk, "png"))
            if (dx, dy) != (1, 1):  # withhold one value tile
                rows.append(("val", cell, codecs.encode_tile(
                    np.ascontiguousarray(vals[sl]), "png"), chunk, chunk, "png"))
    df = spark.createDataFrame(
        rows, "layer string, cell_id long, bytes binary, w int, h int, fmt string"
    )
    got = sorted(
        (r["min_cell"], r["n_px"], r["val_sum"])
        for r in components.pixel_components(
            df, "blob", [7], grid.name, diagonal=True, value_layer="val"
        ).collect()
    )
    mask = world == 7
    lab = components._label_tile(mask, diagonal=True)
    veff = vals.astype(np.int64).copy()
    veff[chunk:, chunk:] = 0  # the withheld tile
    exp = []
    for b in range(1, lab.max() + 1):
        m = lab == b
        ys, xs = np.nonzero(m)
        cells = {
            int(G.cell_from_xy(grid, fixtures.X0 + x // chunk, fixtures.Y0 + y // chunk))
            for y, x in zip(ys, xs)
        }
        exp.append((min(cells), int(m.sum()), int(veff[m].sum())))
    assert got == sorted(exp)
    assert len(got) > 5


def test_voronoi_rasterize_matches_bruteforce(spark):
    """Random points: per-(cell, point) discrete Voronoi areas must equal
    a brute-force all-pixels argmin over the covering lattice, with the
    (d2, point_id) tie-break and the radius cut."""
    import numpy as np

    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import knn

    grid = G.GRID_FIXTURE
    td, ps, cp = grid.tile_deg, grid.pixel_size, grid.chunk_px
    rng = np.random.default_rng(31)
    cx0, cy0 = 740, 270
    pts = []
    for k in range(25):
        lon = -180.0 + cx0 * td + float(rng.uniform(0.1, 3.9)) * td
        lat = 90.0 - cy0 * td - float(rng.uniform(0.1, 3.9)) * td
        pts.append((k, lon, lat))
    radius = 0.05
    df = spark.createDataFrame(pts, "point_id long, lon double, lat double")
    got = {
        (r["cell_id"], r["point_id"]): r["n_px"]
        for r in knn.voronoi_rasterize(df, grid.name, radius).collect()
    }

    # brute force over a lattice window that over-covers points + radius
    pad = 2
    expect = {}
    r2 = radius * radius
    for cy in range(cy0 - pad, cy0 + 4 + pad):
        for cx in range(cx0 - pad, cx0 + 4 + pad):
            x0 = -180.0 + cx * td
            y0 = 90.0 - cy * td
            jj = np.arange(cp, dtype=np.float64)
            lon = x0 + (jj + 0.5) * ps
            lat = y0 - (jj + 0.5) * ps
            best = np.full((cp, cp), np.inf)
            bpid = np.full((cp, cp), -1, dtype=np.int64)
            for k, plon, plat in pts:
                dx = lon - plon
                dy = lat - plat
                d2 = dy[:, None] * dy[:, None] + dx[None, :] * dx[None, :]
                m = d2 < best
                best[m] = d2[m]
                bpid[m] = k
            lab = best <= r2
            if not lab.any():
                continue
            cell = int(G.cell_from_xy(grid, cx, cy))
            u, c = np.unique(bpid[lab], return_counts=True)
            for pid, n in zip(u, c):
                expect[(cell, int(pid))] = int(n)
    assert got == expect
    assert sum(got.values()) == sum(expect.values()) > 0


def test_idw_interpolate_matches_bruteforce(spark):
    """Random points with values: per-cell IDW bucket histograms must
    equal a brute-force all-pixels evaluation with the same quantized
    integer weights (floor(2^36/d^2) capped at 2^40) and bucket divide."""
    import numpy as np

    from gfw_raster_analysis_lambda_spark.functions import grid as G
    from gfw_raster_analysis_lambda_spark.operators import knn

    grid = G.GRID_FIXTURE
    td, ps, cp = grid.tile_deg, grid.pixel_size, grid.chunk_px
    rng = np.random.default_rng(43)
    cx0, cy0 = 810, 300
    pts = []
    for k in range(20):
        lon = -180.0 + cx0 * td + float(rng.uniform(0.1, 3.9)) * td
        lat = 90.0 - cy0 * td - float(rng.uniform(0.1, 3.9)) * td
        pts.append((k, lon, lat, int(rng.integers(0, 200))))
    radius, q = 0.05, 8
    df = spark.createDataFrame(
        pts, "point_id long, lon double, lat double, value long"
    )
    got = {
        (r["cell_id"], r["bucket"]): r["n_px"]
        for r in knn.idw_interpolate(df, grid.name, radius, q).collect()
    }

    pad = 2
    expect = {}
    r2 = radius * radius
    S, WMAX = float(1 << 36), float(1 << 40)
    for cy in range(cy0 - pad, cy0 + 4 + pad):
        for cx in range(cx0 - pad, cx0 + 4 + pad):
            x0 = -180.0 + cx * td
            y0 = 90.0 - cy * td
            jj = np.arange(cp, dtype=np.float64)
            lon = x0 + (jj + 0.5) * ps
            lat = y0 - (jj + 0.5) * ps
            num = np.zeros((cp, cp), np.int64)
            den = np.zeros((cp, cp), np.int64)
            for k, plon, plat, v in pts:
                dx = lon - plon
                dy = lat - plat
                d2 = dy[:, None] * dy[:, None] + dx[None, :] * dx[None, :]
                w = np.minimum(np.floor(S / d2), WMAX).astype(np.int64)
                inr = d2 <= r2
                num += np.where(inr, w * v, 0)
                den += np.where(inr, w, 0)
            lab = den > 0
            if not lab.any():
                continue
            cell = int(G.cell_from_xy(grid, cx, cy))
            u, c = np.unique((num[lab] * q) // den[lab], return_counts=True)
            for b, n in zip(u, c):
                expect[(cell, int(b))] = int(n)
    assert got == expect
    assert sum(got.values()) == sum(expect.values()) > 0


def test_ripley_k_matches_bruteforce(spark):
    # seeded random points OFF the contract fixture; brute-force O(n^2)
    # numpy oracle for pair counts and the K estimator
    from gfw_raster_analysis_lambda_spark.operators import pointpattern

    rng = np.random.default_rng(11)
    n = 150
    lons = 10.0 + rng.integers(0, 512, n) / 256.0   # exact binary fractions
    lats = 20.0 + rng.integers(0, 512, n) / 256.0
    df = spark.createDataFrame(
        [(i, float(lons[i]), float(lats[i])) for i in range(n)],
        "image_id long, lon double, lat double",
    )
    radii = [0.125, 0.5, 1.0]
    area = 4.0
    got = (
        pointpattern.ripley_k(df, radii, GRID_NAME, area=area)
        .toPandas().sort_values("radius").reset_index(drop=True)
    )
    dx = lons[:, None] - lons[None, :]
    dy = lats[:, None] - lats[None, :]
    d2 = dx * dx + dy * dy
    iu = np.triu_indices(n, 1)
    for i, r in enumerate(radii):
        pc = int(np.count_nonzero(d2[iu] <= r * r))
        assert got.loc[i, "radius"] == r
        assert got.loc[i, "pair_count"] == pc
        k = area * 2.0 * pc / (n * (n - 1))
        assert abs(got.loc[i, "k_hat"] - round(k, 6)) <= 1e-6


def test_semivariogram_matches_bruteforce(spark):
    from gfw_raster_analysis_lambda_spark.operators import pointpattern

    rng = np.random.default_rng(12)
    n = 120
    lons = 10.0 + rng.integers(0, 256, n) / 128.0
    lats = 20.0 + rng.integers(0, 256, n) / 128.0
    z = rng.integers(0, 1000, n)
    df = spark.createDataFrame(
        [(i, float(lons[i]), float(lats[i]), int(z[i])) for i in range(n)],
        "image_id long, lon double, lat double, z long",
    )
    max_lag, n_bins = 1.0, 8
    w = max_lag / n_bins
    got = (
        pointpattern.semivariogram(df, "z", max_lag, n_bins, GRID_NAME)
        .toPandas().sort_values("lag_bin").reset_index(drop=True)
    )
    dx = lons[:, None] - lons[None, :]
    dy = lats[:, None] - lats[None, :]
    d2 = dx * dx + dy * dy
    iu = np.triu_indices(n, 1)
    d2p = d2[iu]
    sq = (z[:, None].astype(np.int64) - z[None, :].astype(np.int64)) ** 2
    sqp = sq[iu]
    keep = d2p <= max_lag * max_lag
    bins = np.minimum(
        np.floor(np.sqrt(d2p[keep]) / w).astype(int), n_bins - 1
    )
    for b in range(n_bins):
        sel = bins == b
        n_pairs = int(np.count_nonzero(sel))
        assert got.loc[b, "n_pairs"] == n_pairs
        assert got.loc[b, "sq_diff_sum"] == int(sqp[keep][sel].sum())
        if n_pairs:
            gamma = float(sqp[keep][sel].sum()) / (2.0 * n_pairs)
            assert abs(got.loc[b, "gamma"] - round(gamma, 6)) <= 1e-6
        else:
            assert got.loc[b, "gamma"] is None or np.isnan(got.loc[b, "gamma"])


def test_kde_cells_matches_bruteforce(spark):
    from gfw_raster_analysis_lambda_spark.operators import pointpattern

    rng = np.random.default_rng(13)
    n = 200
    lons = -3.0 + rng.integers(0, 1024, n) / 128.0
    lats = 40.0 + rng.integers(0, 1024, n) / 128.0
    df = spark.createDataFrame(
        [(i, float(lons[i]), float(lats[i])) for i in range(n)],
        "image_id long, lon double, lat double",
    )
    R = 3
    got = pointpattern.kde_cells(df, R, GRID_NAME).toPandas()
    grid = fixtures.GRID
    acc: dict = {}
    xs = np.floor((lons + 180.0) / grid.tile_deg).astype(np.int64)
    ys = np.floor((90.0 - lats) / grid.tile_deg).astype(np.int64)
    for x0, y0 in zip(xs, ys):
        for dx in range(-R, R + 1):
            for dy in range(-R, R + 1):
                d2 = dx * dx + dy * dy
                if d2 > R * R:
                    continue
                key = (x0 + dx, y0 + dy)
                cnt, dens = acc.get(key, (0, 0))
                acc[key] = (cnt + 1, dens + (R * R + 1 - d2))
    got_map = {
        (int(r.x), int(r.y)): (int(r.n_contrib), int(r.density))
        for r in got.itertuples()
    }
    assert got_map == acc


def test_kde_cells_single_exchange(spark):
    # scatter KDE must be scan -> explode -> ONE Exchange -> final agg
    from gfw_raster_analysis_lambda_spark.operators import pointpattern

    df = spark.range(100).select(
        F.col("id").alias("image_id"),
        (F.col("id") / 64.0).alias("lon"),
        (F.col("id") / 128.0).alias("lat"),
    )
    plan = pointpattern.kde_cells(df, 2, GRID_NAME)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange") == 1


def _morton_np(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Independent bit-by-bit interleave (no magic masks) — the oracle
    for zorder_expr's mask sequence."""
    out = np.zeros_like(x)
    for b in range(27):
        out |= ((x >> b) & 1) << (2 * b)
        out |= ((y >> b) & 1) << (2 * b + 1)
    return out


def test_zorder_expr_matches_numpy(spark):
    rng = np.random.default_rng(11)
    lons = rng.uniform(-179.9, 179.9, 500)
    lats = rng.uniform(-89.9, 89.9, 500)
    grid = fixtures.GRID
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lons, lats)], "lon double, lat double"
    )
    got = np.array(
        df.select(spatial_join.zorder_expr(grid, F.col("lon"), F.col("lat")))
        .toPandas()["zorder"]
    )
    x = np.floor((lons + 180.0) / grid.tile_deg).astype(np.int64)
    y = np.floor((90.0 - lats) / grid.tile_deg).astype(np.int64)
    x = np.clip(x, 0, grid.nx - 1)
    y = np.clip(y, 0, grid.ny - 1)
    assert np.array_equal(got, _morton_np(x, y))


def test_cluster_by_zorder_layout_and_locality(spark):
    # 4096 points over an 8-deg span (32x32 cells of the 4/1024 grid).
    grid = fixtures.GRID
    pts = [
        (i, 10.0 + (i * 13 % 512) / 64.0, 20.0 + (i * 29 % 512) / 64.0)
        for i in range(4096)
    ]
    df = spark.createDataFrame(pts, "image_id long, lon double, lat double")
    n_part = 16
    out = spatial_join.cluster_by_zorder(df, grid, n_partitions=n_part)
    assert out.columns == ["image_id", "lon", "lat"]  # helper column dropped

    # Re-derive the code per row and check: within every output
    # partition codes are sorted, and partition code-ranges are disjoint
    # (range partitioning) — i.e. written files have non-overlapping
    # parquet min/max stats on the layout key.
    rows = (
        out.withColumn("part", F.spark_partition_id())
        .withColumn("z", spatial_join.zorder_expr(grid, F.col("lon"), F.col("lat")))
        .select("part", "z")
        .toPandas()
    )
    ranges = []
    for part, sub in rows.groupby("part", sort=True):
        z = sub["z"].to_numpy()
        assert np.all(np.diff(z) >= 0), f"partition {part} not sorted"
        ranges.append((z.min(), z.max()))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "partition z-ranges overlap"

    # Locality: a small bbox probe (4x4 cells) must touch fewer
    # row-groups under the Morton layout than under row-major cell_id
    # order. Model a row group as 64 consecutive rows of the sorted
    # order; average distinct groups over seeded random probes.
    pdf = df.toPandas()
    x = np.floor((pdf["lon"].to_numpy() + 180.0) / grid.tile_deg).astype(np.int64)
    y = np.floor((90.0 - pdf["lat"].to_numpy()) / grid.tile_deg).astype(np.int64)
    z = _morton_np(x, y)
    rowmajor = x * (1 << 27) + y  # cell_id order (grid.py packing)
    rng = np.random.default_rng(7)
    B = 64

    def groups_touched(key: np.ndarray) -> float:
        order = np.argsort(key, kind="stable")
        grp = np.empty(len(key), dtype=np.int64)
        grp[order] = np.arange(len(key)) // B
        tot = 0
        for _ in range(50):
            cx = rng.integers(x.min(), x.max() - 3)
            cy = rng.integers(y.min(), y.max() - 3)
            hit = (x >= cx) & (x < cx + 4) & (y >= cy) & (y < cy + 4)
            tot += len(np.unique(grp[hit]))
        return tot / 50.0

    g_morton = groups_touched(z)
    g_rowmajor = groups_touched(rowmajor)
    assert g_morton < g_rowmajor, (g_morton, g_rowmajor)


def test_geohash_public_vectors(spark):
    # public reference vectors: u4pruydqqvj (Jutland), ezs42 (the
    # original geohash.org example)
    df = spark.createDataFrame(
        [(10.40744, 57.64911), (-5.6, 42.6), (0.0, 0.0)],
        "lon double, lat double",
    )
    got = df.select(
        spatial_join.geohash_expr(F.col("lon"), F.col("lat"), 11).alias("g11"),
        spatial_join.geohash_expr(F.col("lon"), F.col("lat"), 5).alias("g5"),
    ).collect()
    assert got[0]["g11"] == "u4pruydqqvj"
    assert got[1]["g5"] == "ezs42"
    assert got[2]["g5"] == "s0000"
    # prefix property: higher precision extends, never rewrites
    assert got[0]["g11"].startswith(got[0]["g5"])


def _hilbert_xy2d_ref(order: int, x: int, y: int) -> int:
    # independent loop transcription of the public xy2d algorithm
    # (Hacker's Delight / Wikipedia), NOT sharing the engine's SQL path
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_index_matches_reference_and_is_adjacent(spark):
    order = 5
    n = 1 << order
    df = spark.range(n * n).selectExpr(
        f"id % {n} AS x", f"CAST(id / {n} AS BIGINT) AS y", "id AS pid"
    )
    rows = spatial_join.hilbert_index(df, order, keep=["pid"]).collect()
    got = {}
    for r in rows:
        x, y = r.pid % n, r.pid // n
        assert r.hilbert == _hilbert_xy2d_ref(order, x, y)
        got[r.hilbert] = (x, y)
    # bijection over the full domain
    assert len(got) == n * n
    assert min(got) == 0 and max(got) == n * n - 1
    # THE Hilbert property (what Morton lacks): every consecutive pair
    # of curve positions is 4-adjacent
    for i in range(n * n - 1):
        ax, ay = got[i]
        bx, by = got[i + 1]
        assert abs(ax - bx) + abs(ay - by) == 1, (i, got[i], got[i + 1])


def test_hilbert_sql_twin_matches_engine(spark):
    import duckdb

    order = 6
    n = 1 << order
    src = (
        f"SELECT x * 7 % {n} AS ox, (x * 13 + 5) % {n} AS oy, "
        f"x * 7 % {n} AS x, (x * 13 + 5) % {n} AS y "
        f"FROM generate_series(0, 199) g(x)"
    )
    twin = {
        (r[0], r[1]): r[2]
        for r in duckdb.connect().execute(
            spatial_join.hilbert_sql(order, src, ["ox", "oy"])
        ).fetchall()
    }
    df = spark.range(200).selectExpr(
        f"id * 7 % {n} AS x", f"(id * 13 + 5) % {n} AS y",
        f"id * 7 % {n} AS ox", f"(id * 13 + 5) % {n} AS oy",
    )
    for r in spatial_join.hilbert_index(df, order, keep=["ox", "oy"]).collect():
        assert twin[(r.ox, r.oy)] == r.hilbert


def test_hilbert_index_no_exchange(spark):
    df = spark.range(64).selectExpr("id % 8 AS x", "CAST(id / 8 AS BIGINT) AS y")
    plan = spatial_join.hilbert_index(df, 3, keep=[])._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def _jarvis_hull(pts):
    # independent oracle: gift-wrapping (Jarvis 1973), strict vertices
    # only — shares no code with the engine's monotone chain
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return pts
    if all(
        (b[0] - pts[0][0]) * (c[1] - pts[0][1])
        == (b[1] - pts[0][1]) * (c[0] - pts[0][0])
        for b in pts[1:]
        for c in pts[1:]
    ):
        return [pts[0], pts[-1]]  # fully collinear: the two endpoints
    start = min(pts)
    hull = [start]
    cur = start
    while True:
        nxt = None
        for cand in pts:
            if cand == cur:
                continue
            if nxt is None:
                nxt = cand
                continue
            cr = (nxt[0] - cur[0]) * (cand[1] - cur[1]) - (
                nxt[1] - cur[1]
            ) * (cand[0] - cur[0])
            if cr > 0 or (
                cr == 0
                and (cand[0] - cur[0]) ** 2 + (cand[1] - cur[1]) ** 2
                > (nxt[0] - cur[0]) ** 2 + (nxt[1] - cur[1]) ** 2
            ):
                nxt = cand
        if nxt == start:
            break
        hull.append(nxt)
        cur = nxt
    return hull


def test_convex_hull_stats_matches_jarvis(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    expect = {}
    for g in range(5):
        n = int(rng.integers(5, 60))
        pts = [
            (int(rng.integers(0, 200)), int(rng.integers(0, 200)))
            for _ in range(n)
        ]
        # inject duplicates and a collinear run through the interior
        pts += pts[:3]
        pts += [(50 + 10 * t, 60 + 10 * t) for t in range(4)]
        rows += [(g, x, y) for x, y in pts]
        hull = _jarvis_hull(pts)
        area2 = 0
        for k in range(len(hull)):
            x1, y1 = hull[k]
            x2, y2 = hull[(k + 1) % len(hull)]
            area2 += x1 * y2 - x2 * y1
        expect[g] = (
            len(set(pts)),
            len(hull),
            sum(p[0] for p in hull),
            sum(p[1] for p in hull),
            abs(area2) if len(hull) >= 3 else 0,
        )
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {
        r["g"]: (r["n_points"], r["n_hull"], r["sum_hx"], r["sum_hy"], r["area2"])
        for r in spatial_join.convex_hull_stats(df, "g").collect()
    }
    assert got == expect


def test_convex_hull_prune_never_loses_vertices(spark):
    # clustered blob + far outliers: the 8-direction prune must keep
    # every true hull vertex; verified by comparing against the chain
    # over ALL points
    import numpy as np

    rng = np.random.default_rng(11)
    pts = [(int(rng.integers(90, 110)), int(rng.integers(90, 110)))
           for _ in range(400)]
    pts += [(0, 0), (200, 3), (197, 201), (2, 198), (100, 250)]
    full = spatial_join._hull_chain(pts)
    df = spark.createDataFrame([(0, x, y) for x, y in pts], "g long, x long, y long")
    r = spatial_join.convex_hull_stats(df, "g").collect()[0]
    assert r["n_hull"] == len(full)
    assert r["sum_hx"] == sum(p[0] for p in full)
    assert r["sum_hy"] == sum(p[1] for p in full)


def test_convex_hull_degenerate_groups(spark):
    rows = (
        [(0, 5, 5)]                      # single point
        + [(1, 1, 1), (1, 9, 9)]         # two points
        + [(2, i, 2 * i) for i in range(6)]  # fully collinear
    )
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {r["g"]: r for r in spatial_join.convex_hull_stats(df, "g").collect()}
    assert (got[0]["n_hull"], got[0]["area2"]) == (1, 0)
    assert (got[1]["n_hull"], got[1]["area2"]) == (2, 0)
    assert (got[2]["n_hull"], got[2]["area2"]) == (2, 0)
    assert got[2]["sum_hx"] == 0 + 5 and got[2]["sum_hy"] == 0 + 10


def test_cluster_by_hilbert_layout_and_locality_beats_morton(spark):
    # same harness as the zorder layout test: disjoint sorted partition
    # ranges, plus the head-to-head locality claim — on average over
    # seeded bbox probes, Hilbert order fragments the hit set into no
    # more row groups than Morton (and strictly fewer in total)
    grid = fixtures.GRID
    pts = [
        (i, 10.0 + (i * 13 % 512) / 64.0, 20.0 + (i * 29 % 512) / 64.0)
        for i in range(4096)
    ]
    df = spark.createDataFrame(pts, "image_id long, lon double, lat double")
    out = spatial_join.cluster_by_hilbert(df, grid, n_partitions=16)
    assert out.columns == ["image_id", "lon", "lat"]

    pdf = df.toPandas()
    x = np.floor((pdf["lon"].to_numpy() + 180.0) / grid.tile_deg).astype(np.int64)
    y = np.floor((90.0 - pdf["lat"].to_numpy()) / grid.tile_deg).astype(np.int64)
    h = np.array(
        [_hilbert_xy2d_ref(12, int(a), int(b)) for a, b in zip(x, y)],
        dtype=np.int64,
    )
    z = _morton_np(x, y)
    rng = np.random.default_rng(7)
    B = 64

    def groups_touched(key: np.ndarray) -> float:
        order = np.argsort(key, kind="stable")
        grp = np.empty(len(key), dtype=np.int64)
        grp[order] = np.arange(len(key)) // B
        tot = 0
        for _ in range(50):
            cx = rng.integers(x.min(), x.max() - 3)
            cy = rng.integers(y.min(), y.max() - 3)
            hit = (x >= cx) & (x < cx + 4) & (y >= cy) & (y < cy + 4)
            tot += len(np.unique(grp[hit]))
        return tot / 50.0

    g_h = groups_touched(h)
    g_z = groups_touched(z)
    assert g_h <= g_z, (g_h, g_z)

    # the engine layout matches the reference code order: partition
    # ranges disjoint and sorted on the re-derived hilbert key
    rows = (
        out.withColumn("part", F.spark_partition_id())
        .toPandas()
    )
    xx = np.floor((rows["lon"].to_numpy() + 180.0) / grid.tile_deg).astype(np.int64)
    yy = np.floor((90.0 - rows["lat"].to_numpy()) / grid.tile_deg).astype(np.int64)
    hh = np.array(
        [_hilbert_xy2d_ref(12, int(a), int(b)) for a, b in zip(xx, yy)],
        dtype=np.int64,
    )
    ranges = []
    for part, idx in rows.groupby("part", sort=True).groups.items():
        k = hh[np.asarray(idx)]
        assert np.all(np.diff(k) >= 0), f"partition {part} not sorted"
        ranges.append((k.min(), k.max()))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "partition hilbert-ranges overlap"
