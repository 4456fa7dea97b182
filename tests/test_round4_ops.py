"""Round-4 operators: focal halo exchange, variance/stddev rollups,
duplicated-n-gram stats, aspect bucketing, geographic kNN, temperature
sampling."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gfw_raster_analysis_lambda_spark.operators import focal, knn, multimodal, sampling, text
from gfw_raster_analysis_lambda_spark.sources import fixtures
from gfw_raster_analysis_lambda_spark.sources.images import with_derived_keys
from gfw_raster_analysis_lambda_spark.functions import grid as G

GRID = fixtures.GRID
TILE = GRID.chunk_px
X0, Y0, NX, NY = fixtures.X0, fixtures.Y0, fixtures.NX, fixtures.NY


# ---------------------------------------------------------------------------
# focal halo exchange
# ---------------------------------------------------------------------------

def _world(layer="tcl_year"):
    """The fixture world as one (NY*T, NX*T) array of layer values."""
    fn = fixtures.PIXEL_NUMPY[layer]
    w = np.zeros((NY * TILE, NX * TILE), dtype=np.float64)
    ii, jj = np.meshgrid(np.arange(TILE), np.arange(TILE), indexing="ij")
    for dx in range(NX):
        for dy in range(NY):
            w[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = fn(
                X0 + dx, Y0 + dy, ii, jj
            )
    return w


def _focal_expected(world, present):
    """Direct dense convolution oracle: per-cell focal aggregates, with
    ``present`` = set of (dx, dy) cells that have tiles (absent ones are
    invalid pixels AND produce no output row)."""
    h, w = world.shape
    valid = np.zeros_like(world, dtype=bool)
    for dx, dy in present:
        valid[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = True
    out = {}
    for dx, dy in present:
        fs = fn_ = fm = fmin = 0
        for i in range(dy * TILE, (dy + 1) * TILE):
            for j in range(dx * TILE, (dx + 1) * TILE):
                vals = [
                    world[a, b]
                    for a in range(max(0, i - 1), min(h, i + 2))
                    for b in range(max(0, j - 1), min(w, j + 2))
                    if valid[a, b]
                ]
                fs += sum(vals)
                fn_ += len(vals)
                fm += max(vals)
                fmin += min(vals)
        cell = int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy))
        out[cell] = (TILE * TILE, int(fs), int(fn_), int(fm), int(fmin))
    return out


def _tiles_df(spark, drop=()):
    from gfw_raster_analysis_lambda_spark.functions import codecs

    rows = []
    fn = fixtures.PIXEL_NUMPY["tcl_year"]
    ii, jj = np.meshgrid(np.arange(TILE), np.arange(TILE), indexing="ij")
    for dx in range(NX):
        for dy in range(NY):
            if (dx, dy) in drop:
                continue
            arr = fn(X0 + dx, Y0 + dy, ii, jj).astype(np.uint8)
            rows.append((
                int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
                codecs.encode_tile(arr, "png"), TILE, TILE, "png",
            ))
    return spark.createDataFrame(
        rows, "cell_id long, bytes binary, w int, h int, fmt string"
    )


def test_focal_stats_matches_dense_convolution(spark):
    present = {(dx, dy) for dx in range(NX) for dy in range(NY)}
    got = {
        r["cell_id"]: (r["n_px"], r["focal_sum"], r["focal_n"],
                       r["focal_max_sum"], r["focal_min_sum"])
        for r in focal.focal_stats(_tiles_df(spark), radius=1).collect()
    }
    exp = _focal_expected(_world(), present)
    assert got == exp


def test_focal_stats_missing_tile_shrinks_windows(spark):
    # drop an INTERIOR tile: its neighbors' edge windows lose pixels
    # (focal_n shrinks), and the dropped cell emits no output row
    drop = {(1, 1)}
    present = {(dx, dy) for dx in range(NX) for dy in range(NY)} - drop
    got = {
        r["cell_id"]: (r["n_px"], r["focal_sum"], r["focal_n"],
                       r["focal_max_sum"], r["focal_min_sum"])
        for r in focal.focal_stats(_tiles_df(spark, drop=drop), radius=1).collect()
    }
    exp = _focal_expected(_world(), present)
    assert got == exp
    assert int(G.cell_from_xy(GRID, X0 + 1, Y0 + 1)) not in got


def test_focal_plan_single_exchange(spark):
    plan = focal.focal_stats(_tiles_df(spark), radius=1)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_focal_radius_2_strips_and_guard(spark):
    # radius=2: strips widen but semantics stay the dense convolution's
    world = _world()
    df = focal.focal_stats(_tiles_df(spark), radius=2)
    row = {r["cell_id"]: r for r in df.collect()}
    # spot-check one interior cell against a dense numpy window sum
    cell = int(G.cell_from_xy(GRID, X0 + 1, Y0 + 1))
    i0, j0 = 1 * TILE, 1 * TILE
    fs = fn_ = 0
    for i in range(i0, i0 + TILE):
        for j in range(j0, j0 + TILE):
            win = world[max(0, i - 2):i + 3, max(0, j - 2):j + 3]
            fs += win.sum()
            fn_ += win.size
    assert row[cell]["focal_sum"] == int(fs)
    assert row[cell]["focal_n"] == int(fn_)
    with pytest.raises(ValueError, match="radius"):
        focal.focal_stats(_tiles_df(spark), radius=0)


# ---------------------------------------------------------------------------
# variance / stddev rollups
# ---------------------------------------------------------------------------

def test_zonal_variance_matches_numpy(spark):
    import __spark_entry__ as e

    got = {
        r["aoi_id"]: (r["ttc_var"], r["ttc_sd"])
        for r in e._zonal(
            spark,
            "SELECT variance(ttc_percent) AS ttc_var, stddev(ttc_percent) AS ttc_sd "
            "FROM ttc_percent",
            ["aoi_box_aligned"],
        ).collect()
    }
    # aligned box = cells x in {760, 761}, y in {277, 278}, all pixels
    ii, jj = np.meshgrid(np.arange(TILE), np.arange(TILE), indexing="ij")
    vals = np.concatenate([
        fixtures.PIXEL_NUMPY["ttc_percent"](x, y, ii, jj).ravel()
        for x in (760, 761) for y in (277, 278)
    ]).astype(np.int64)
    vals = vals[vals != 255]
    n, s1, s2 = len(vals), int(vals.sum()), int((vals * vals).sum())
    var = (n * s2 - s1 * s1) / (n * n)
    # python round() is banker's, the engine's F.round is half-away
    # (memory-notes trap): compare pre-rounding values with a sub-round
    # tolerance instead of matching rounding modes
    np.testing.assert_allclose(got["aoi_box_aligned"][0], var, atol=1e-6, rtol=0)
    np.testing.assert_allclose(
        got["aoi_box_aligned"][1], float(np.sqrt(var)), atol=1e-6, rtol=0
    )


def test_variance_rejects_float_and_decoded_layers(spark):
    import __spark_entry__ as e

    with pytest.raises(Exception, match="integer raw layer"):
        e._zonal(
            spark, "SELECT variance(emissions) AS v FROM tcl_year",
            ["aoi_box_aligned"],
        ).collect()
    with pytest.raises(Exception, match="raw numeric"):
        e._zonal(
            spark, "SELECT stddev(drivers) AS v FROM tcl_year",
            ["aoi_box_aligned"],
        ).collect()


# ---------------------------------------------------------------------------
# duplicated n-grams
# ---------------------------------------------------------------------------

def test_dup_ngram_stats_known_case(spark):
    df = spark.createDataFrame(
        [
            (0, "a b c d"),        # grams: "a b c", "b c d"
            (1, "x a b c"),        # grams: "x a b", "a b c"  (shares one)
            (2, "z z z"),          # one gram, unique
            (3, "p q p q p q"),    # within-doc repeats count too
            (4, "hi"),             # shorter than n: 0 grams
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_ngrams"], r["dup_ngrams"], r["dup_frac"])
        for r in text.dup_ngram_stats(df, n=3).collect()
    }
    assert got[0] == (2, 1, 0.5)
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (1, 0, 0.0)
    assert got[3] == (4, 4, 1.0)
    assert got[4] == (0, 0, 0.0)
    with pytest.raises(ValueError):
        text.dup_ngram_stats(df, n=1)


# ---------------------------------------------------------------------------
# aspect buckets
# ---------------------------------------------------------------------------

def test_aspect_bucket_exact_argmin_and_ties(spark):
    from fractions import Fraction

    df = spark.createDataFrame(
        [(i, 256 + (i * 97) % 1800, 256 + (i * 41) % 1800) for i in range(300)]
        + [(1000, 8, 7)],  # exactly between 1:1 and 9:7 -> tie -> bucket 0
        "image_id long, w int, h int",
    )
    got = {r["image_id"]: r["bucket"] for r in
           multimodal.aspect_bucket_assign(df).collect()}
    buckets = multimodal.DEFAULT_ASPECT_BUCKETS
    for iid, w, h in df.collect():
        dists = [abs(Fraction(w, h) - Fraction(bw, bh)) for bw, bh in buckets]
        assert got[iid] == dists.index(min(dists)), (iid, w, h)


def test_aspect_bucket_plan_is_projection_only(spark):
    df = spark.range(100).select(
        F.col("id").alias("image_id"),
        (F.lit(300) + F.col("id")).cast("int").alias("w"),
        F.lit(400).cast("int").alias("h"),
    )
    plan = multimodal.aspect_bucket_assign(df)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# geographic kNN
# ---------------------------------------------------------------------------

def _geo_corpus(spark, drop_cells=()):
    images = with_derived_keys(
        spark.createDataFrame(
            fixtures.generate_images_rows(layers=["photo"]), fixtures.IMAGES_SCHEMA
        )
    )
    if drop_cells:
        images = images.filter(~F.col("cell_id").isin([int(c) for c in drop_cells]))
    return images


def _brute_topk(points, qlon, qlat, k):
    scored = sorted(
        ((qlon - lon) ** 2 + (qlat - lat) ** 2, iid) for iid, lon, lat in points
    )
    return [iid for _, iid in scored[:k]]


def test_knn_geo_matches_global_bruteforce(spark):
    images = _geo_corpus(spark)
    pts = [
        (r["image_id"],
         -180.0 + (r["cell_id"] >> 27 & (1 << 27) - 1) * GRID.tile_deg + GRID.tile_deg / 2,
         90.0 - (r["cell_id"] & (1 << 27) - 1) * GRID.tile_deg - GRID.tile_deg / 2)
        for r in images.select("image_id", "cell_id").collect()
    ]
    qs = [("g0", 10.31, 20.52), ("g1", 10.97, 20.03)]
    out = knn.knn_geo(
        images, spark.createDataFrame(qs, "query_id string, lon double, lat double"),
        k=5, ring=1, max_ring=8, grid_name=GRID.name,
    ).collect()
    by_q = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["image_id"])
    for qid, lon, lat in qs:
        assert by_q[qid] == _brute_topk(pts, lon, lat, 5), qid


def test_knn_geo_expands_ring_past_hole(spark):
    # remove the query's ring-1 neighborhood: ring 1 yields too few / too
    # far candidates, so the exact-global stop rule must widen the ring
    # and still return the true global top-k
    hole = [
        int(G.cell_from_xy(GRID, 760 + dx, 276 + dy))
        for dx in range(2) for dy in range(2)
    ]
    images = _geo_corpus(spark, drop_cells=hole)
    pts = [
        (r["image_id"],
         -180.0 + (r["cell_id"] >> 27 & (1 << 27) - 1) * GRID.tile_deg + GRID.tile_deg / 2,
         90.0 - (r["cell_id"] & (1 << 27) - 1) * GRID.tile_deg - GRID.tile_deg / 2)
        for r in images.select("image_id", "cell_id").collect()
    ]
    qs = [("hole", 10.1, 20.9)]  # inside the removed 2x2 corner
    out = knn.knn_geo(
        images, spark.createDataFrame(qs, "query_id string, lon double, lat double"),
        k=4, ring=1, max_ring=8, grid_name=GRID.name,
    ).collect()
    got = [r["image_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert got == _brute_topk(pts, 10.1, 20.9, 4)


def _centroid_points(images):
    return [
        (r["image_id"],
         -180.0 + (r["cell_id"] >> 27 & (1 << 27) - 1) * GRID.tile_deg + GRID.tile_deg / 2,
         90.0 - (r["cell_id"] & (1 << 27) - 1) * GRID.tile_deg - GRID.tile_deg / 2)
        for r in images.select("image_id", "cell_id").collect()
    ]


def test_knn_geo_query_bound_edges(spark, monkeypatch):
    """A query set exactly at KNN_DRIVER_QUERY_LIMIT runs on the driver;
    one point over it takes the distributed plan. Same rows, ranks and
    (bit-identical) distances either way."""
    images = _geo_corpus(spark)
    qs = spark.createDataFrame(
        [("g0", 10.31, 20.52), ("g1", 10.97, 20.03)], "query_id string, lon double, lat double"
    )
    routes = []
    for name in ("_knn_geo_driver", "_knn_geo_distributed"):
        orig = getattr(knn, name)

        def spy(*a, _orig=orig, _name=name, **kw):
            routes.append(_name)
            return _orig(*a, **kw)

        monkeypatch.setattr(knn, name, spy)
    out = {}
    for limit in (2, 1):
        monkeypatch.setattr(knn, "KNN_DRIVER_QUERY_LIMIT", limit)
        rows = knn.knn_geo(images, qs, k=5, ring=1, max_ring=8, grid_name=GRID.name).collect()
        out[limit] = sorted((r["query_id"], r["rank"], r["image_id"], r["dist2"]) for r in rows)
    assert routes == ["_knn_geo_driver", "_knn_geo_distributed"]
    assert len(out[2]) == 10 and out[2] == out[1]


def test_knn_geo_just_over_query_bound(spark):
    """One query point over the driver bound: the distributed plan's
    answer still equals the global brute force for every point."""
    images = _geo_corpus(spark)
    pts = _centroid_points(images)
    n = knn.KNN_DRIVER_QUERY_LIMIT + 1
    qs = [(f"q{i:02d}", 10.02 + 0.96 * i / n, 20.04 + 0.92 * ((7 * i) % n) / n) for i in range(n)]
    out = knn.knn_geo(
        images, spark.createDataFrame(qs, "query_id string, lon double, lat double"),
        k=3, ring=1, max_ring=8, grid_name=GRID.name,
    ).collect()
    by_q = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["image_id"])
    assert len(by_q) == n
    for qid, lon, lat in qs:
        assert by_q[qid] == _brute_topk(pts, lon, lat, 3), qid


# ---------------------------------------------------------------------------
# temperature sampling
# ---------------------------------------------------------------------------

def test_temperature_sample_deterministic_and_bounded(spark):
    df = spark.createDataFrame(
        [(i, "s" + str(i % 3), 0.1 + 0.05 * (i % 17)) for i in range(400)],
        "doc_id long, source string, q double",
    )
    a = sampling.temperature_sample(df, "q", by="source").collect()
    b = sampling.temperature_sample(df, "q", by="source").collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    assert 0 < len(a) < 400
    assert all(0.0 < r["p_keep"] <= 1.0 for r in a)
    # every per-source max-q row has p = 1 > u, so it is always kept
    kept = {r["doc_id"] for r in a}
    import collections
    best = collections.defaultdict(lambda: (-1.0, None))
    for r in df.collect():
        if r["q"] > best[r["source"]][0]:
            best[r["source"]] = (r["q"], r["doc_id"])
    for _, (q, did) in best.items():
        assert did in kept


def test_focal_mode_matches_dense_numpy(spark):
    from gfw_raster_analysis_lambda_spark.functions import codecs

    fn = fixtures.PIXEL_NUMPY["drivers"]
    ii, jj = np.meshgrid(np.arange(TILE), np.arange(TILE), indexing="ij")
    rows = []
    world = np.zeros((NY * TILE, NX * TILE), dtype=np.int64)
    for dx in range(NX):
        for dy in range(NY):
            arr = fn(X0 + dx, Y0 + dy, ii, jj).astype(np.uint8)
            world[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = arr
            rows.append((
                int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
                codecs.encode_tile(arr, "png"), TILE, TILE, "png",
            ))
    df = spark.createDataFrame(
        rows, "cell_id long, bytes binary, w int, h int, fmt string"
    )
    got = {}
    for r in focal.focal_mode(df, n_values=6, radius=1).collect():
        got.setdefault(r["cell_id"], {})[r["value"]] = r["n_px"]
    h, w = world.shape
    exp = {}
    for dy in range(NY):
        for dx in range(NX):
            cell = int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy))
            hist = {}
            for i in range(dy * TILE, (dy + 1) * TILE):
                for j in range(dx * TILE, (dx + 1) * TILE):
                    win = world[max(0, i - 1):i + 2, max(0, j - 1):j + 2].ravel()
                    counts = np.bincount(win, minlength=6)
                    mode = int(counts.argmax())  # first max = smallest value
                    hist[mode] = hist.get(mode, 0) + 1
            exp[cell] = hist
    assert got == exp


def test_touched_focal_cells(spark):
    c0 = int(G.cell_from_xy(GRID, X0 + 1, Y0 + 1))
    changed = spark.createDataFrame([(c0,)], "cell_id long")
    got = {r["cell_id"] for r in focal.touched_focal_cells(changed).collect()}
    exp = {
        int(G.cell_from_xy(GRID, X0 + 1 + dx, Y0 + 1 + dy))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    }
    assert got == exp


def test_knn_geo_haversine_matches_python_oracle(spark):
    import math

    images = _geo_corpus(spark)
    pts = [
        (r["image_id"],
         -180.0 + (r["cell_id"] >> 27 & (1 << 27) - 1) * GRID.tile_deg + GRID.tile_deg / 2,
         90.0 - (r["cell_id"] & (1 << 27) - 1) * GRID.tile_deg - GRID.tile_deg / 2)
        for r in images.select("image_id", "cell_id").collect()
    ]

    def hav(lon1, lat1, lon2, lat2):
        R = 6371.0088
        p1, p2 = math.radians(lat1), math.radians(lat2)
        a = (math.sin((p2 - p1) / 2) ** 2
             + math.cos(p1) * math.cos(p2)
             * math.sin(math.radians(lon2 - lon1) / 2) ** 2)
        return 2 * R * math.asin(math.sqrt(a))

    qs = [("h0", 10.31, 20.52), ("h1", 10.97, 20.03)]
    out = knn.knn_geo(
        images, spark.createDataFrame(qs, "query_id string, lon double, lat double"),
        k=5, ring=1, max_ring=8, grid_name=GRID.name, metric="haversine",
    ).collect()
    by_q = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["image_id"], r["dist_km"]))
    for qid, lon, lat in qs:
        exp = sorted((hav(lon, lat, plon, plat), iid) for iid, plon, plat in pts)[:5]
        assert [i for i, _ in by_q[qid]] == [i for _, i in exp], qid
        for (gid, gd), (ed, eid) in zip(by_q[qid], exp):
            assert abs(gd - ed) < 1e-9
    with pytest.raises(ValueError, match="metric"):
        knn.knn_geo(images, spark.createDataFrame(qs, "query_id string, lon double, lat double"),
                    k=2, metric="euclid")


def test_ngram_containment_subset_vs_jaccard(spark):
    from gfw_raster_analysis_lambda_spark.operators import dedup

    df = spark.createDataFrame(
        [
            (1, "p q r s"),                       # trigrams subset of doc 2's
            (2, "a b p q r s c d e f g h"),       # superset + extra
            (3, "completely different words here"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["a"], r["b"]): (r["containment"], r["jaccard"])
        for r in dedup.ngram_containment_pairs(df, n=3, threshold=0.9).collect()
    }
    assert set(out) == {(1, 2)}
    cont, jac = out[(1, 2)]
    assert cont == 1.0          # every trigram of doc 1 appears in doc 2
    assert jac < 0.5            # but symmetric Jaccard is diluted


# ---------------------------------------------------------------------------
# SQ8 + MRL retrieval
# ---------------------------------------------------------------------------

def _emb_df(spark, n=200, dim=16, seed=7):
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, dim).astype(np.float32)
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ), vecs


def test_sq8_encode_and_topk_match_numpy(spark):
    from gfw_raster_analysis_lambda_spark.operators import similarity

    df, vecs = _emb_df(spark)
    mins, maxs = similarity.sq8_stats(df, dim=16)
    np.testing.assert_allclose(mins, vecs.astype(np.float64).min(axis=0))
    np.testing.assert_allclose(maxs, vecs.astype(np.float64).max(axis=0))
    enc = similarity.sq8_encode(df, mins, maxs)
    got_codes = {r["id"]: np.array(r["codes"]) for r in enc.collect()}
    mn = np.asarray(mins)
    inv = 255.0 / (np.asarray(maxs) - mn)
    exp_codes = np.clip(
        np.floor((vecs.astype(np.float64) - mn) * inv + 0.5), 0, 255
    ).astype(np.int64)
    for i in range(len(vecs)):
        np.testing.assert_array_equal(got_codes[i], exp_codes[i], str(i))
    # integer-exact top-k matches a numpy brute force, ties on (dist, id)
    qcodes = [(0, [int(c) for c in exp_codes[0]]), (3, [int(c) for c in exp_codes[3]])]
    out = similarity.sq8_topk(enc, qcodes, k=5).collect()
    by_q = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["id"], r["sq_dist"]))
    for qid, qc in qcodes:
        d = ((exp_codes - np.asarray(qc)) ** 2).sum(axis=1)
        exp = sorted(zip(d.tolist(), range(len(d))))[:5]
        assert by_q[qid] == [(i, dist) for dist, i in exp], qid
    # quantized ranking stays close to exact cosine ranking (recall sanity)
    exact = similarity.cosine_topk(
        df, df.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"), k=10)
    exact_ids = {r["id"] for r in exact.collect()}
    sq_ids = {r[0] for r in by_q[0][:5]}
    assert len(sq_ids & exact_ids) >= 3


def test_mrl_prefix_equals_sliced_cosine(spark):
    from gfw_raster_analysis_lambda_spark.operators import similarity

    df, vecs = _emb_df(spark, n=100, dim=16)
    qs = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.mrl_topk(df, qs, d=4, k=5).collect()
    v4 = vecs.astype(np.float64)[:, :4]
    by_q = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["id"])
    for qid in (0, 1):
        cos = (v4 @ v4[qid]) / (
            np.linalg.norm(v4, axis=1) * np.linalg.norm(v4[qid])
        )
        exp = [i for _, i in sorted(zip(-np.round(cos, 6), range(len(cos))))[:5]]
        assert by_q[qid] == exp, qid


def test_global_histeq_consistent_across_tiles(spark):
    """The GLOBAL LUT maps the same source value identically in every
    tile (per-tile equalize does not), and matches a numpy recompute."""
    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.operators import multimodal

    rng = np.random.RandomState(3)
    tiles = [rng.randint(0, 40, (16, 16), dtype=np.uint8) for _ in range(4)]
    rows = [
        (f"t{i}", codecs.encode_tile(t, "png"), 16, 16, "png", "", 0)
        for i, t in enumerate(tiles)
    ]
    df = spark.createDataFrame(rows, fixtures.IMAGES_SCHEMA)
    hist = multimodal.global_histogram(df)
    exp_hist = np.zeros(256, dtype=np.int64)
    for t in tiles:
        exp_hist += np.bincount(t.ravel(), minlength=256)
    assert hist == exp_hist.tolist()
    eq = multimodal.equalize_tiles_global(df, hist)
    got = {
        r["image_id"]: codecs.decode_tile(bytes(r["bytes"]), 16, 16, r["fmt"])
        for r in eq.collect()
    }
    cdf = exp_hist.cumsum()
    n, cmin = int(cdf[-1]), int(cdf[np.nonzero(exp_hist)[0][0]])
    lut = np.floor((cdf - cmin) * 255.0 / (n - cmin) + 0.5).astype(np.uint8)
    for i, t in enumerate(tiles):
        np.testing.assert_array_equal(got[f"t{i}"], lut[t])


def test_reservoir_sample_fixed_count_and_stable(spark):
    from gfw_raster_analysis_lambda_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(300)], "doc_id long, lang string"
    )
    a = sampling.reservoir_sample(df, 7, strata_col="lang").collect()
    assert len(a) == 21
    import collections
    per = collections.Counter(r["lang"] for r in a)
    assert set(per.values()) == {7}
    # growth stability: adding rows only displaces larger-hash members —
    # the sample from a SUBSET is a superset-filtered version of the rank
    # order, so re-running on the same data is identical
    b = sampling.reservoir_sample(df, 7, strata_col="lang").collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    # global (no strata)
    g = sampling.reservoir_sample(df, 5).collect()
    assert len(g) == 5


def test_mrl_rerank_full_cosine_order(spark):
    from gfw_raster_analysis_lambda_spark.operators import similarity

    df, vecs = _emb_df(spark, n=120, dim=16)
    qs = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.mrl_rerank_topk(df, qs, d=4, k_coarse=30, k=5).collect()
    v = vecs.astype(np.float64)
    v4 = v[:, :4]
    by_q = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["id"])
    for qid in (0, 1):
        pre = np.round((v4 @ v4[qid]) / (np.linalg.norm(v4, axis=1) * np.linalg.norm(v4[qid])), 6)
        cand = [i for _, i in sorted(zip(-pre, range(len(pre))))[:30]]
        full = np.round((v @ v[qid]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[qid])), 6)
        exp = sorted(cand, key=lambda i: (-full[i], i))[:5]
        assert by_q[qid] == exp, qid


# ---------------------------------------------------------------------------
# polygon-polygon overlay join
# ---------------------------------------------------------------------------

def test_interiors_intersect_cases():
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo

    b = lambda *a: geo.box(*a)
    ii = geo.interiors_intersect
    assert ii(b(0, 0, 2, 2), b(1, 1, 3, 3))          # partial overlap
    assert ii(b(0, 0, 4, 4), b(1, 1, 2, 2))          # containment
    assert ii(b(1, 1, 2, 2), b(0, 0, 4, 4))          # containment (other way)
    assert not ii(b(0, 0, 1, 1), b(2, 2, 3, 3))      # disjoint
    assert not ii(b(0, 0, 1, 1), b(1, 0, 2, 1))      # edge-touching excluded
    assert not ii(b(0, 0, 1, 1), b(1, 1, 2, 2))      # corner-touching excluded
    # cross shape: overlapping interiors but NO vertex of either inside
    # the other - only the proper-crossing branch catches it
    assert ii(b(1, 0, 2, 3), b(0, 1, 3, 2))
    # polygon with a hole: a box fully inside the hole does NOT intersect
    outer = [np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=np.float64)]
    hole = np.array([[2, 2], [8, 2], [8, 8], [2, 8]], dtype=np.float64)
    holed = [ [outer[0], hole] ]
    assert not ii(holed, b(4, 4, 5, 5))
    assert ii(holed, b(1, 1, 3, 3))                  # straddles the hole edge


def test_polygon_pairs_matches_bruteforce(spark):
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.operators import spatial_join

    rng = np.random.RandomState(11)
    boxes = {}
    for k in range(25):
        x1 = 10.0 + rng.uniform(0, 0.8)
        y1 = 20.0 + rng.uniform(0, 0.8)
        boxes[f"b{k:02d}"] = (x1, y1, x1 + rng.uniform(0.05, 0.25), y1 + rng.uniform(0.05, 0.25))
    aoi = spark.createDataFrame(
        [(k, geo.wkb_dumps(geo.box(*v))) for k, v in boxes.items()],
        fixtures.AOI_SCHEMA,
    )
    got = {(r["a"], r["b"]) for r in
           spatial_join.polygon_pairs(aoi, GRID.name).collect()}
    exp = set()
    ks = sorted(boxes)
    for i, a in enumerate(ks):
        for b_ in ks[i + 1:]:
            A, B = boxes[a], boxes[b_]
            if A[0] < B[2] and B[0] < A[2] and A[1] < B[3] and B[1] < A[3]:
                exp.add((a, b_))
    assert got == exp


def test_rolling_time_features_range_frame(spark):
    from gfw_raster_analysis_lambda_spark.operators import asof

    rows = [
        ("e1", "u1", "2024-01-01 00:00:00", 1.5),
        ("e2", "u1", "2024-01-01 00:05:00", 2.0),
        ("e3", "u1", "2024-01-01 00:09:59", 4.0),   # e1 still inside 10 min
        ("e4", "u1", "2024-01-01 00:10:01", 8.0),   # e1 just dropped out
        ("e5", "u1", "2024-01-01 00:10:01", 16.0),  # same ts: shares e4's frame
        ("e6", "u2", "2024-01-01 00:00:30", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id string, user_id string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["event_id"]: (r["win_n"], r["win_sum"]) for r in
           asof.rolling_time_features(df, window_seconds=600).collect()}
    assert out["e1"] == (1, 1.5)
    assert out["e2"] == (2, 3.5)
    assert out["e3"] == (3, 7.5)
    # e4/e5 share the identical-timestamp frame: {e2, e3, e4, e5}
    assert out["e4"] == (4, 30.0)
    assert out["e5"] == (4, 30.0)
    assert out["e6"] == (1, 1.0)


def test_dissolve_labels_transitive(spark):
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.operators import spatial_join

    # chain a-b-c (a and c do NOT touch) + isolated d: one 3-group + singleton
    boxes = {
        "a": (10.01, 20.01, 10.20, 20.20),
        "b": (10.15, 20.15, 10.40, 20.40),
        "c": (10.35, 20.35, 10.60, 20.60),
        "d": (10.70, 20.70, 10.90, 20.90),
    }
    aoi = spark.createDataFrame(
        [(k, geo.wkb_dumps(geo.box(*v))) for k, v in boxes.items()],
        fixtures.AOI_SCHEMA,
    )
    got = {r["aoi_id"]: r["dissolve_group"] for r in
           spatial_join.dissolve_labels(aoi, GRID.name).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d"}


def test_scrub_pii_known_cases(spark):
    df = spark.createDataFrame(
        [
            (0, "mail me at a.b+c@test.org today"),
            (1, "call +1 555 123 4567 or +44 555 987 6543 x2"),
            (2, "host 192.168.1.10 and 10.0.0.7"),
            (3, "ssn 123-45-6789 ok"),
            (4, "clean document"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.scrub_pii(df).collect()}
    assert out[0]["n_email"] == 1 and "[EMAIL]" in out[0]["text"]
    assert "a.b+c@test.org" not in out[0]["text"]
    assert out[1]["n_phone"] == 2 and out[1]["text"].count("[PHONE]") == 2
    assert out[2]["n_ipv4"] == 2 and out[2]["text"].count("[IPV4]") == 2
    assert out[3]["n_ssn"] == 1 and "[SSN]" in out[3]["text"]
    assert out[4]["n_pii"] == 0 and out[4]["text"] == "clean document"
    assert out[1]["n_pii"] == 2


def test_ivf_pq_scores_only_probed_buckets(spark):
    from gfw_raster_analysis_lambda_spark.operators import similarity

    df, vecs = _emb_df(spark, n=160, dim=16, seed=5)
    qs = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_pq_topk(
        df, qs, k=5, n_centroids=8, n_probe=2, m=4, ksub=8
    ).collect()
    # every result id must live in one of its query's probed buckets
    cents = df.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assign = {r["id"]: r["centroid_id"] for r in
              similarity.ivf_assign(df, cents).collect()}
    v = vecs.astype(np.float64)
    cvecs = v[:8]
    for qid in (0, 1):
        cos = (cvecs @ v[qid]) / (np.linalg.norm(cvecs, axis=1) * np.linalg.norm(v[qid]))
        probed = set(np.lexsort((np.arange(8), -cos))[:2])
        got_ids = [r["id"] for r in out if r["query_id"] == qid]
        assert len(got_ids) == 5
        assert all(assign[i] in probed for i in got_ids), qid
    # ADC ranking is monotone-ish vs exact L2 within the probed set:
    # the top-1 ADC hit for the query's own vector is the query itself
    # (its code distance to itself is the minimum possible)
    for qid in (0, 1):
        top1 = min((r for r in out if r["query_id"] == qid), key=lambda r: r["rank"])
        assert top1["id"] == qid


def test_variance_rollup_no_int64_overflow(spark):
    """n*s2 - s1^2 wraps int64 once a uint8 group passes ~3.8e8 pixels;
    the rollup must accumulate in decimal(38,0) (ADVICE r4). Bincount
    rows stand in for 6e8 pixels — far past the wrap point — and the
    result is checked against exact Python integer arithmetic."""
    from gfw_raster_analysis_lambda_spark.plans.ir import Aggregate
    from gfw_raster_analysis_lambda_spark.plans.planner import _rollup_one

    counts = {0: 200_000_000, 200: 250_000_000, 255: 150_000_000}
    partials = spark.createDataFrame(
        [("g", v, c) for v, c in counts.items()],
        "k string, __v long, __pc_n long",
    )
    n = sum(counts.values())
    s1 = sum(c * v for v, c in counts.items())
    s2 = sum(c * v * v for v, c in counts.items())
    assert n * s2 - s1 * s1 > 2**63  # the test is actually in the wrap regime
    expect = (n * s2 - s1 * s1) / (n * n)
    got = _rollup_one(partials, Aggregate("variance", "__v", "var"), "__v", ["k"]).collect()
    np.testing.assert_allclose(got[0]["var"], expect, rtol=1e-12)
    got_sd = _rollup_one(partials, Aggregate("stddev", "__v", "sd"), "__v", ["k"]).collect()
    np.testing.assert_allclose(got_sd[0]["sd"], expect**0.5, rtol=1e-12)


def test_sq8_topk_boundary_ties_keep_smallest_ids(spark):
    """Rows tying at the k-th integer distance must resolve by (distance,
    id) — the in-batch prune may not drop a tied row with a smaller id
    (ADVICE r4: argpartition kept an arbitrary tied subset)."""
    from gfw_raster_analysis_lambda_spark.operators import similarity

    # 40 corpus rows in ONE partition (one mapInPandas batch) all at the
    # SAME distance from the query except two strictly-closer rows:
    # k=5 needs 3 of the 38 tied rows, and the winners must be ids 0,1,2.
    rows = [(0, [0, 0]), (1, [0, 1])] + [(i, [3, 4]) for i in range(2, 40)]
    enc = spark.createDataFrame(rows, "id long, codes array<int>").coalesce(1)
    out = similarity.sq8_topk(enc, [(7, [0, 0])], k=5).orderBy("rank").collect()
    assert [r["id"] for r in out] == [0, 1, 2, 3, 4]
    assert [r["sq_dist"] for r in out] == [0, 1, 25, 25, 25]


def test_knn_geo_boundary_tie_forces_expansion(spark):
    """dk == ring bound exactly: query at a cell centroid with k=4 makes
    the 4 axis-neighbor centroids land at exactly td (== the r=1 sqdeg
    bound). The stop rule must be STRICT (< bound, ADVICE r4) so the tie
    forces one more expansion round; the result must still equal the
    global brute force and terminate."""
    images = _geo_corpus(spark)
    pts = [
        (r["image_id"],
         -180.0 + (r["cell_id"] >> 27 & (1 << 27) - 1) * GRID.tile_deg + GRID.tile_deg / 2,
         90.0 - (r["cell_id"] & (1 << 27) - 1) * GRID.tile_deg - GRID.tile_deg / 2)
        for r in images.select("image_id", "cell_id").collect()
    ]
    # centroid of cell (761, 277): x lon, y lat on the fixture grid
    qlon = -180.0 + 761 * GRID.tile_deg + GRID.tile_deg / 2
    qlat = 90.0 - 277 * GRID.tile_deg - GRID.tile_deg / 2
    qs = [("ctr", qlon, qlat)]
    out = knn.knn_geo(
        images, spark.createDataFrame(qs, "query_id string, lon double, lat double"),
        k=4, ring=1, max_ring=8, grid_name=GRID.name,
    ).collect()
    got = [r["image_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert got == _brute_topk(pts, qlon, qlat, 4)
    # the k-th distance really is the bound (td^2): the strict rule was hit
    assert abs(sorted(r["dist2"] for r in out)[-1] - GRID.tile_deg**2) < 1e-15


def test_polygon_pairs_shuffle_fallback_parity(spark):
    """Past the broadcast bound the geometry re-attach must degrade to
    shuffle joins with an identical result. Forcing the bound to 0 bytes
    routes every batch down the fallback; parity against the broadcast
    plan on the same AOIs proves the degradation is result-transparent."""
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.operators import spatial_join

    rng = np.random.RandomState(23)
    rows = []
    for k in range(20):
        x1 = 10.0 + rng.uniform(0, 0.6)
        y1 = 20.0 + rng.uniform(0, 0.6)
        rows.append((f"p{k:02d}", geo.wkb_dumps(geo.box(
            x1, y1, x1 + rng.uniform(0.05, 0.3), y1 + rng.uniform(0.05, 0.3)))))
    aoi = spark.createDataFrame(rows, fixtures.AOI_SCHEMA)
    fast = {(r["a"], r["b"]) for r in
            spatial_join.polygon_pairs(aoi, GRID.name).collect()}
    slow_df = spatial_join.polygon_pairs(aoi, GRID.name, broadcast_bytes_limit=0)
    slow = {(r["a"], r["b"]) for r in slow_df.collect()}
    assert fast == slow and len(fast) > 5
    # the fallback drops the broadcast HINT (Catalyst may still pick a
    # broadcast join for this tiny fixture from its own statistics — at
    # scale those statistics exceed the threshold and it plans SMJ; the
    # bug being guarded is the unconditional hint forcing a multi-GB
    # broadcast regardless of size)
    logical = slow_df._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in logical.lower()
    hinted = spatial_join.polygon_pairs(aoi, GRID.name)
    assert "broadcast" in hinted._jdf.queryExecution().analyzed().toString().lower()


def test_ivf_pq_distributed_lut_parity_and_scale(spark):
    """Past max_closure_queries the LUTs must be built distributedly from
    the query vectors riding the candidate join (no driver collect of the
    query log); the scores must be bit-identical to the closure path.
    Also smoke the big-batch path with 100k queries on a tiny corpus —
    the driver holds only the constant codebook, so this completes
    without driver-memory growth."""
    from gfw_raster_analysis_lambda_spark.operators import similarity

    df, _ = _emb_df(spark, n=160, dim=16, seed=5)
    qs = df.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=5, n_centroids=8, n_probe=2, m=4, ksub=8)
    fast = similarity.ivf_pq_topk(df, qs, **kw).orderBy("query_id", "rank").collect()
    slow = similarity.ivf_pq_topk(
        df, qs, max_closure_queries=1, **kw
    ).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]
    assert len(fast) == 12 * 5

    # 100k-query smoke on a 40-vector corpus (~10 candidates/query):
    # forced onto the distributed branch, the query log never hits the
    # driver
    small, _ = _emb_df(spark, n=40, dim=16, seed=9)
    big_qs = (
        spark.range(100_000).select(F.col("id").alias("query_id"))
        .join(F.broadcast(small.limit(8).select(
            (F.col("vec_id")).alias("qmod"), "embedding")),
            F.pmod(F.col("query_id"), F.lit(8)) == F.col("qmod"))
        .select("query_id", "embedding")
    )
    out = similarity.ivf_pq_topk(
        small, big_qs, k=3, n_centroids=4, n_probe=1, m=4, ksub=8,
        max_closure_queries=1000,
    )
    n = out.groupBy().agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    assert n == 100_000 * 3


def test_pii_scrub_broadened_phone_forms(spark):
    """Round-5 phone broadening: unseparated 10-digit, E.164 intl, and
    parenthesized local numbers all redact; 11+-digit integers and SSNs
    must NOT be touched by the phone pattern."""
    rows = [
        (0, "call 5551234567 now"),            # unseparated 10-digit
        (1, "intl +442071838750 line"),        # E.164
        (2, "local (555) 123-4567 desk"),      # parens, no country code
        (3, "order id 55512345678 stays"),     # 11 digits: not a phone
        (4, "ssn 123-45-6789 only"),           # SSN pattern, not phone
        (5, "+1 555 123 0042 classic"),        # original separated form
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.scrub_pii(df).collect()}
    for i in (0, 1, 2, 5):
        assert out[i]["n_phone"] == 1 and "[PHONE]" in out[i]["text"], i
    assert out[3]["n_phone"] == 0 and "55512345678" in out[3]["text"]
    assert out[4]["n_phone"] == 0 and out[4]["n_ssn"] == 1


def test_pii_scrub_property_seeded_corpus(spark):
    """Property test over a seeded synthetic corpus: inject a KNOWN
    number of each PII form at random positions into benign filler and
    assert exact per-class counts and full redaction of every injected
    literal."""
    rng = np.random.default_rng(17)
    forms = {
        "EMAIL": lambda r: f"user{r.integers(1e4)}@host{r.integers(90)}.org",
        "PHONE": lambda r: [
            f"555123{r.integers(1000, 9999)}0"[:10],
            f"+4420{r.integers(10**6, 10**7)}",
            f"({r.integers(200, 999)}) {r.integers(100, 999)}-{r.integers(1000, 9999)}",
        ][int(r.integers(3))],
        "IPV4": lambda r: f"10.{r.integers(256)}.{r.integers(256)}.{r.integers(256)}",
        "SSN": lambda r: f"{r.integers(100, 999)}-{r.integers(10, 99)}-{r.integers(1000, 9999)}",
    }
    words = ["forest", "tile", "alpha", "spark", "window", "query"]
    rows, expect = [], []
    for doc in range(60):
        n_by = {k: int(rng.integers(0, 3)) for k in forms}
        toks, injected = [], []
        for k, n in n_by.items():
            for _ in range(n):
                lit = forms[k](rng)
                injected.append(lit)
                toks.append(lit)
        toks += [words[int(rng.integers(len(words)))] for _ in range(8)]
        rng.shuffle(toks)
        rows.append((doc, " ".join(toks)))
        expect.append((n_by, injected))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.scrub_pii(df).collect()}
    for doc, (n_by, injected) in enumerate(expect):
        r = out[doc]
        for k, n in n_by.items():
            assert r[f"n_{k.lower()}"] == n, (doc, k, r["text"])
        for lit in injected:
            assert lit not in r["text"], (doc, lit)
        assert r["n_pii"] == sum(n_by.values())


def _terrain_expected(world, present, steep2=400):
    """Brute-force Horn oracle: per-cell integer gradient aggregates over
    pixels whose FULL 3x3 window is present. Orientation-SENSITIVE (unlike
    the isotropic focal sums): a transposed or flipped tile changes gx/gy."""
    h, w = world.shape
    valid = np.zeros_like(world, dtype=bool)
    for dx, dy in present:
        valid[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = True
    z = world.astype(np.int64)
    out = {}
    for dx, dy in present:
        n = sx = sy = g2s = steep = 0
        for i in range(dy * TILE, (dy + 1) * TILE):
            for j in range(dx * TILE, (dx + 1) * TILE):
                if i < 1 or j < 1 or i >= h - 1 or j >= w - 1:
                    continue
                if not valid[i - 1:i + 2, j - 1:j + 2].all():
                    continue
                gx = int((z[i - 1, j + 1] + 2 * z[i, j + 1] + z[i + 1, j + 1])
                         - (z[i - 1, j - 1] + 2 * z[i, j - 1] + z[i + 1, j - 1]))
                gy = int((z[i + 1, j - 1] + 2 * z[i + 1, j] + z[i + 1, j + 1])
                         - (z[i - 1, j - 1] + 2 * z[i - 1, j] + z[i - 1, j + 1]))
                n += 1
                sx += gx
                sy += gy
                g2 = gx * gx + gy * gy
                g2s += g2
                steep += g2 >= steep2
        cell = int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy))
        out[cell] = (n, sx, sy, g2s, steep)
    return out


def test_terrain_stats_matches_bruteforce_horn(spark):
    present = {(dx, dy) for dx in range(NX) for dy in range(NY)}
    got = {
        r["cell_id"]: (r["n_grad"], r["gx_sum"], r["gy_sum"],
                       r["grad2_sum"], r["steep_n"])
        for r in focal.terrain_stats(_tiles_df(spark)).collect()
    }
    assert got == _terrain_expected(_world(), present)


def test_terrain_stats_missing_tile_excludes_boundary_windows(spark):
    drop = {(2, 1)}
    present = {(dx, dy) for dx in range(NX) for dy in range(NY)} - drop
    got = {
        r["cell_id"]: (r["n_grad"], r["gx_sum"], r["gy_sum"],
                       r["grad2_sum"], r["steep_n"])
        for r in focal.terrain_stats(_tiles_df(spark, drop=drop)).collect()
    }
    assert got == _terrain_expected(_world(), present)
    assert int(G.cell_from_xy(GRID, X0 + 2, Y0 + 1)) not in got


def test_terrain_zonal_triangle_matches_bruteforce(spark):
    """Per-AOI terrain over a NON-rectangular AOI (the shape the SQL twin
    can't express): gradients from the full DEM, pixels aggregated by an
    independent strict-half-plane membership test at pixel centers."""
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.sources.fixtures import AOI_SCHEMA

    # right triangle; edge offsets not representable on the 1/256-deg
    # pixel-center lattice, so strict half-planes equal even-odd scanline
    tri = np.array([[10.003, 20.251], [10.491, 20.251], [10.003, 20.739]])
    aoi = spark.createDataFrame(
        [("tri", geo.wkb_dumps([[tri]]))], AOI_SCHEMA
    )
    got = {
        r["aoi_id"]: (r["n_grad"], r["grad2_sum"], r["steep_n"])
        for r in focal.terrain_zonal(
            _tiles_df(spark), aoi, GRID.name, steep2_threshold=400
        ).collect()
    }

    world = _world().astype(np.int64)
    h, w = world.shape
    ps = GRID.tile_deg / TILE
    gx = (world[:-2, 2:] + 2 * world[1:-1, 2:] + world[2:, 2:]) - (
        world[:-2, :-2] + 2 * world[1:-1, :-2] + world[2:, :-2])
    gy = (world[2:, :-2] + 2 * world[2:, 1:-1] + world[2:, 2:]) - (
        world[:-2, :-2] + 2 * world[:-2, 1:-1] + world[:-2, 2:])
    g2 = gx * gx + gy * gy
    lon = 10.0 + (np.arange(1, w - 1) + 0.5) * ps
    lat = 21.0 - (np.arange(1, h - 1) + 0.5) * ps
    inside = ((lon[None, :] > 10.003) & (lat[:, None] > 20.251)
              & ((lon[None, :] + lat[:, None]) < 30.742))
    exp = (int(inside.sum()), int(g2[inside].sum()),
           int((g2[inside] >= 400).sum()))
    assert got == {"tri": exp}


def test_hillshade_tiles_seamless_and_deterministic(spark):
    """Hillshade export: output tiles decode to the same values as a
    single-array reference shading of the assembled world (seamless
    across tile edges thanks to the halo), with 0 exactly on the 1-px
    world border (no full window) and 1..255 elsewhere."""
    import math

    from gfw_raster_analysis_lambda_spark.functions import codecs

    out = {
        r["cell_id"]: codecs.decode_tile(
            bytes(r["bytes"]), r["w"], r["h"], r["fmt"]
        )
        for r in focal.hillshade_tiles(_tiles_df(spark)).collect()
    }
    world = _world().astype(np.int64)
    h, w = world.shape
    gx = np.zeros((h, w)); gy = np.zeros((h, w))
    gx[1:-1, 1:-1] = ((world[:-2, 2:] + 2 * world[1:-1, 2:] + world[2:, 2:])
                      - (world[:-2, :-2] + 2 * world[1:-1, :-2] + world[2:, :-2]))
    gy[1:-1, 1:-1] = ((world[2:, :-2] + 2 * world[2:, 1:-1] + world[2:, 2:])
                      - (world[:-2, :-2] + 2 * world[:-2, 1:-1] + world[:-2, 2:]))
    p, q = gx / 8.0, gy / 8.0
    zen, az = math.radians(45.0), math.radians(315.0)
    slope = np.arctan(np.hypot(p, q))
    aspect = np.arctan2(q, -p)
    shade = (np.cos(zen) * np.cos(slope)
             + np.sin(zen) * np.sin(slope) * np.cos(az - aspect))
    exp = (np.clip(np.floor(254.0 * np.maximum(shade, 0.0) + 0.5), 0, 254)
           + 1.0).astype(np.uint8)
    exp[0, :] = exp[-1, :] = 0
    exp[:, 0] = exp[:, -1] = 0
    assembled = np.zeros((h, w), np.uint8)
    for dx in range(NX):
        for dy in range(NY):
            cell = int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy))
            assembled[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = out[cell]
    assert np.array_equal(assembled, exp)


def test_terrain_stats_random_world_fuzz(spark):
    """Seeded fuzz: random uint8 worlds with random missing tiles must
    match the brute-force Horn oracle exactly (integer arithmetic, so
    there is no tolerance to hide behind)."""
    from gfw_raster_analysis_lambda_spark.functions import codecs

    rng = np.random.default_rng(20260818)
    for trial in range(3):
        world = rng.integers(0, 256, size=(NY * TILE, NX * TILE)).astype(np.float64)
        all_tiles = [(dx, dy) for dx in range(NX) for dy in range(NY)]
        n_drop = int(rng.integers(0, 3))
        drop_idx = rng.choice(len(all_tiles), size=n_drop, replace=False)
        drop = {all_tiles[i] for i in drop_idx}
        present = set(all_tiles) - drop
        rows = []
        for dx, dy in present:
            arr = world[dy * TILE:(dy + 1) * TILE,
                        dx * TILE:(dx + 1) * TILE].astype(np.uint8)
            rows.append((
                int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
                codecs.encode_tile(arr, "png"), TILE, TILE, "png",
            ))
        df = spark.createDataFrame(
            rows, "cell_id long, bytes binary, w int, h int, fmt string"
        )
        got = {
            r["cell_id"]: (r["n_grad"], r["gx_sum"], r["gy_sum"],
                           r["grad2_sum"], r["steep_n"])
            for r in focal.terrain_stats(df).collect()
        }
        assert got == _terrain_expected(world, present), f"trial {trial} drop={drop}"


def test_proximity_stats_single_target_bruteforce(spark):
    """proximity_stats on a world with ONE target pixel near a tile
    corner: distances must cross tile boundaries through the 8-px halo,
    pixels outside the circular radius are unreachable, and dropping the
    tile that HOLDS the target empties every neighbor's reach."""
    from gfw_raster_analysis_lambda_spark.functions import codecs

    world = np.zeros((NY * TILE, NX * TILE), np.uint8)
    ty, tx = TILE - 2, TILE - 2      # target 2 px inside tile (0,0)'s SE corner
    world[ty, tx] = 5

    def tiles_from(world, drop=()):
        rows = []
        for dx in range(NX):
            for dy in range(NY):
                if (dx, dy) in drop:
                    continue
                arr = world[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE]
                rows.append((
                    int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
                    codecs.encode_tile(np.ascontiguousarray(arr), "png"),
                    TILE, TILE, "png",
                ))
        return spark.createDataFrame(
            rows, "cell_id long, bytes binary, w int, h int, fmt string"
        )

    got = {
        r["cell_id"]: (r["n_reach"], r["dist2_sum"])
        for r in focal.proximity_stats(
            tiles_from(world), [5], radius=8
        ).collect()
    }
    exp = {}
    for dx in range(NX):
        for dy in range(NY):
            nr = s = 0
            for i in range(dy * TILE, (dy + 1) * TILE):
                for j in range(dx * TILE, (dx + 1) * TILE):
                    d2 = (i - ty) ** 2 + (j - tx) ** 2
                    if d2 <= 64:
                        nr += 1
                        s += d2
            exp[int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy))] = (nr, s)
    assert got == exp
    # the four cells around the corner all reach the target
    assert sum(1 for nr, _ in exp.values() if nr > 0) == 4

    # drop tile (0,0): its pixels (and the target) vanish; every
    # remaining cell's reach is empty
    got2 = {
        r["cell_id"]: (r["n_reach"], r["dist2_sum"])
        for r in focal.proximity_stats(
            tiles_from(world, drop={(0, 0)}), [5], radius=8
        ).collect()
    }
    assert all(v == (0, 0) for v in got2.values())
    assert int(G.cell_from_xy(GRID, X0, Y0)) not in got2


def test_proximity_zonal_triangle_outside_target_pulls_inside(spark):
    """Per-AOI proximity over a triangle AOI with the ONLY target pixel
    OUTSIDE the AOI: pixels inside still reach it (proximity is a
    landscape property), pinned against a strict-half-plane brute force."""
    from gfw_raster_analysis_lambda_spark.functions import codecs
    from gfw_raster_analysis_lambda_spark.functions import geometry as geo
    from gfw_raster_analysis_lambda_spark.sources.fixtures import AOI_SCHEMA

    ps = GRID.tile_deg / TILE
    world = np.zeros((NY * TILE, NX * TILE), np.uint8)
    # triangle over the NW of tile (0,0); target pixel just EAST of its
    # hypotenuse-adjacent bounding region, outside all three half-planes
    tri = np.array([[10.003, 20.751], [10.116, 20.751], [10.003, 20.864]])
    ti, tj = 40, 10          # global pixel (row, col): ~5 px east of the
    #                          hypotenuse at this row — outside, in range
    world[ti, tj] = 5
    lon_t = 10.0 + (tj + 0.5) * ps
    lat_t = 21.0 - (ti + 0.5) * ps
    assert not (lon_t > 10.003 and lat_t > 20.751
                and lon_t + lat_t < 10.003 + 20.864)  # target outside AOI

    rows = []
    for dx in range(NX):
        for dy in range(NY):
            arr = world[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE]
            rows.append((
                int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
                codecs.encode_tile(np.ascontiguousarray(arr), "png"),
                TILE, TILE, "png",
            ))
    tiles = spark.createDataFrame(
        rows, "cell_id long, bytes binary, w int, h int, fmt string"
    )
    aoi = spark.createDataFrame([("tri", geo.wkb_dumps([[tri]]))], AOI_SCHEMA)
    got = {
        r["aoi_id"]: (r["n_px"], r["n_reach"], r["dist2_sum"])
        for r in focal.proximity_zonal(
            tiles, aoi, GRID.name, target_values=[5], radius=8
        ).collect()
    }

    h, w = world.shape
    lon = 10.0 + (np.arange(w) + 0.5) * ps
    lat = 21.0 - (np.arange(h) + 0.5) * ps
    inside = ((lon[None, :] > 10.003) & (lat[:, None] > 20.751)
              & ((lon[None, :] + lat[:, None]) < 10.003 + 20.864))
    ii, jj = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    d2 = (ii - ti) ** 2 + (jj - tj) ** 2
    reach = (d2 <= 64) & inside
    exp = (int(inside.sum()), int(reach.sum()), int(d2[reach].sum()))
    assert got == {"tri": exp}
    assert exp[1] > 0  # the outside target really pulls inside pixels


def test_terrain_and_proximity_plan_single_exchange(spark):
    """The whole focal family must keep the one-Exchange halo plan:
    terrain and proximity are kernels on the same shuffle, not new
    shuffle stages."""
    for df in (
        focal.terrain_stats(_tiles_df(spark)),
        focal.proximity_stats(_tiles_df(spark), [20], radius=8),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan


def _flow_expected(world, present):
    """Brute-force D8 oracle: per-cell direction histogram over pixels
    whose full 3x3 window is present. Independent implementation: float
    slopes with an epsilon-free exact comparison via Fraction."""
    from fractions import Fraction

    h, w = world.shape
    valid = np.zeros_like(world, dtype=bool)
    for dx, dy in present:
        valid[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = True
    z = world.astype(np.int64)
    d8 = [(1, (1, 0)), (2, (1, 1)), (4, (0, 1)), (8, (-1, 1)),
          (16, (-1, 0)), (32, (-1, -1)), (64, (0, -1)), (128, (1, -1))]
    out = {}
    for tx, ty in present:
        hist = {0: 0}
        for c, _ in d8:
            hist[c] = 0
        n_full = 0
        for i in range(ty * TILE, (ty + 1) * TILE):
            for j in range(tx * TILE, (tx + 1) * TILE):
                if i < 1 or j < 1 or i >= h - 1 or j >= w - 1:
                    continue
                if not valid[i - 1:i + 2, j - 1:j + 2].all():
                    continue
                n_full += 1
                # slope^2 = drop^2 / dist^2 as an exact rational
                best, best_code = Fraction(0), 0
                for code, (dx, dy) in d8:
                    drop = int(z[i, j] - z[i + dy, j + dx])
                    if drop <= 0:
                        continue
                    s2 = Fraction(drop * drop, 1 if (dx == 0 or dy == 0) else 2)
                    if s2 > best:
                        best, best_code = s2, code
                hist[best_code] += 1
        cell = int(G.cell_from_xy(GRID, X0 + tx, Y0 + ty))
        out[cell] = (n_full, hist[0], hist[1], hist[2], hist[4], hist[8],
                     hist[16], hist[32], hist[64], hist[128])
    return out


def test_flow_direction_random_world_fuzz(spark):
    """Seeded fuzz: random uint8 DEMs with random missing tiles must
    match a brute-force D8 oracle (exact-rational slope comparison,
    lowest-code tie-break) pixel for pixel."""
    from gfw_raster_analysis_lambda_spark.functions import codecs

    rng = np.random.default_rng(20260819)
    for trial in range(2):
        # values 0..3: a flat-ish world maximizes ties and sinks
        world = rng.integers(0, 4, size=(NY * TILE, NX * TILE)).astype(np.float64)
        all_tiles = [(dx, dy) for dx in range(NX) for dy in range(NY)]
        drop_idx = rng.choice(len(all_tiles), size=int(rng.integers(0, 3)),
                              replace=False)
        drop = {all_tiles[i] for i in drop_idx}
        present = set(all_tiles) - drop
        rows = []
        for dx, dy in present:
            arr = world[dy * TILE:(dy + 1) * TILE,
                        dx * TILE:(dx + 1) * TILE].astype(np.uint8)
            rows.append((
                int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
                codecs.encode_tile(arr, "png"), TILE, TILE, "png",
            ))
        df = spark.createDataFrame(
            rows, "cell_id long, bytes binary, w int, h int, fmt string"
        )
        got = {
            r["cell_id"]: (r["n_full"], r["n_sink"], r["n_e"], r["n_se"],
                           r["n_s"], r["n_sw"], r["n_w"], r["n_nw"],
                           r["n_n"], r["n_ne"])
            for r in focal.flow_direction_stats(df).collect()
        }
        assert got == _flow_expected(world, present), f"trial {trial} drop={drop}"


def _basins_expected(world, present, values=None, val_present=None):
    """Brute-force watershed oracle: follow D8 (exact-rational slope
    compare, lowest-code ties) from every pixel of every present tile
    until a sink (directed pixel with no lower neighbor) or an edge
    pixel (incomplete 3x3 window); aggregate basin sizes by root.
    With ``values`` (+ the set of tiles whose value layer exists), the
    per-basin value sum rides along: missing value tiles contribute 0."""
    from fractions import Fraction

    h, w = world.shape
    valid = np.zeros_like(world, dtype=bool)
    for dx, dy in present:
        valid[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = True
    z = world.astype(np.int64)
    d8 = [(1, (1, 0)), (2, (1, 1)), (4, (0, 1)), (8, (-1, 1)),
          (16, (-1, 0)), (32, (-1, -1)), (64, (0, -1)), (128, (1, -1))]

    def step(i, j):
        """(next_i, next_j) or None if (i, j) is a root."""
        if i < 1 or j < 1 or i >= h - 1 or j >= w - 1:
            return None  # world edge: no full window
        if not valid[i - 1:i + 2, j - 1:j + 2].all():
            return None  # missing neighbor tile
        best, best_d = Fraction(0), None
        for code, (dx, dy) in d8:
            drop = int(z[i, j] - z[i + dy, j + dx])
            if drop <= 0:
                continue
            s2 = Fraction(drop * drop, 1 if (dx == 0 or dy == 0) else 2)
            if s2 > best:
                best, best_d = s2, (dy, dx)
        return None if best_d is None else (i + best_d[0], j + best_d[1])

    basins = {}
    for tx, ty in present:
        has_val = values is not None and (tx, ty) in (val_present or ())
        for i in range(ty * TILE, (ty + 1) * TILE):
            for j in range(tx * TILE, (tx + 1) * TILE):
                ci, cj = i, j
                while True:
                    nxt = step(ci, cj)
                    if nxt is None:
                        break
                    ci, cj = nxt
                is_sink = (
                    1 <= ci < h - 1 and 1 <= cj < w - 1
                    and valid[ci - 1:ci + 2, cj - 1:cj + 2].all()
                )
                key = (GX0 + cj, GY0 + ci, bool(is_sink))
                cnt, vs = basins.get(key, (0, 0))
                basins[key] = (cnt + 1, vs + (int(values[i, j]) if has_val else 0))
    if values is None:
        return {k: c for k, (c, _) in basins.items()}
    return basins


GX0, GY0 = X0 * TILE, Y0 * TILE


def test_drainage_basins_random_world_fuzz(spark):
    """Seeded fuzz incl. a missing tile: basin sizes from the two-level
    engine (in-tile pointer doubling + cross-cell ring-map stitch) must
    equal the brute-force path-following oracle exactly. Wide value
    range makes long cross-cell chains; the missing tile converts its
    ring into edge roots."""
    from gfw_raster_analysis_lambda_spark.functions import codecs

    rng = np.random.default_rng(20260820)
    for trial, n_drop in ((0, 0), (1, 1)):
        world = rng.integers(0, 200, size=(NY * TILE, NX * TILE)).astype(np.float64)
        all_tiles = [(dx, dy) for dx in range(NX) for dy in range(NY)]
        drop_idx = rng.choice(len(all_tiles), size=n_drop, replace=False)
        drop = {all_tiles[i] for i in drop_idx}
        present = set(all_tiles) - drop
        rows = []
        for dx, dy in present:
            arr = world[dy * TILE:(dy + 1) * TILE,
                        dx * TILE:(dx + 1) * TILE].astype(np.uint8)
            rows.append((
                int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
                codecs.encode_tile(arr, "png"), TILE, TILE, "png",
            ))
        df = spark.createDataFrame(
            rows, "cell_id long, bytes binary, w int, h int, fmt string"
        )
        got = {
            (r["root_gx"], r["root_gy"], r["is_sink"]): r["basin_px"]
            for r in focal.drainage_basins(df).collect()
        }
        expect = _basins_expected(world, present)
        assert sum(got.values()) == sum(expect.values()) == len(present) * TILE * TILE
        assert got == expect, f"trial {trial} drop={drop}"


def test_drainage_basins_value_sums(spark):
    """Zonal statistics BY basin: drainage_basins with a co-gridded value
    layer must return per-basin value sums matching the path-following
    oracle exactly — including a DEM cell whose value tile is missing
    (contributes 0, the engine's standard missing-tile tolerance) and a
    missing DEM tile (its value tile is ignored entirely)."""
    from gfw_raster_analysis_lambda_spark.functions import codecs

    rng = np.random.default_rng(20260821)
    world = rng.integers(0, 200, size=(NY * TILE, NX * TILE)).astype(np.float64)
    vals = rng.integers(0, 256, size=(NY * TILE, NX * TILE))
    all_tiles = [(dx, dy) for dx in range(NX) for dy in range(NY)]
    drop_dem = {all_tiles[int(rng.integers(len(all_tiles)))]}
    present = set(all_tiles) - drop_dem
    # one present DEM cell has no value tile; the dropped DEM cell DOES
    # have one (must be ignored: no center tile -> no pixels)
    drop_val = {sorted(present)[0]}
    val_present = (present - drop_val) | drop_dem

    def rows_of(arr2d, cells):
        out = []
        for dx, dy in cells:
            arr = arr2d[dy * TILE:(dy + 1) * TILE,
                        dx * TILE:(dx + 1) * TILE].astype(np.uint8)
            out.append((
                int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
                codecs.encode_tile(arr, "png"), TILE, TILE, "png",
            ))
        return out

    schema = "cell_id long, bytes binary, w int, h int, fmt string"
    dem = spark.createDataFrame(rows_of(world, present), schema)
    vtiles = spark.createDataFrame(rows_of(vals, val_present), schema)
    got = {
        (r["root_gx"], r["root_gy"], r["is_sink"]): (r["basin_px"], r["val_sum"])
        for r in focal.drainage_basins(dem, value_tiles=vtiles).collect()
    }
    expect = _basins_expected(world, present, vals, val_present)
    assert got == expect
    # plain call unchanged: no val_sum column
    plain = focal.drainage_basins(dem)
    assert "val_sum" not in plain.columns


def test_flow_accumulation_random_world_fuzz(spark):
    """Seeded fuzz incl. a missing tile: per-cell flow-accumulation
    stats from the three-phase engine (in-tile scatter-add + binary-
    lifting boundary path-add + cogrouped replay) must equal the
    brute-force path walker exactly. A narrow value range (0..5)
    forces long many-tile chains through the lifting passes; the
    missing tile turns its ring into undirected water-holding pixels."""
    from gfw_raster_analysis_lambda_spark.functions import codecs

    rng = np.random.default_rng(20260822)
    for trial, n_drop, lo_hi in ((0, 0, (0, 6)), (1, 1, (0, 200))):
        world = rng.integers(*lo_hi, size=(NY * TILE, NX * TILE)).astype(
            np.float64
        )
        all_tiles = [(dx, dy) for dx in range(NX) for dy in range(NY)]
        drop_idx = rng.choice(len(all_tiles), size=n_drop, replace=False)
        drop = {all_tiles[i] for i in drop_idx}
        present = set(all_tiles) - drop
        rows = []
        for dx, dy in present:
            arr = world[dy * TILE:(dy + 1) * TILE,
                        dx * TILE:(dx + 1) * TILE].astype(np.uint8)
            rows.append((
                int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
                codecs.encode_tile(arr, "png"), TILE, TILE, "png",
            ))
        df = spark.createDataFrame(
            rows, "cell_id long, bytes binary, w int, h int, fmt string"
        )
        thr = 5
        got = {
            tuple(int(v) for v in G.cell_to_xy(r["cell_id"])):
                (r["n_px"], r["acc_max"], r["acc_sum"], r["stream_px"])
            for r in focal.flow_accumulation_stats(
                df, stream_threshold=thr
            ).collect()
        }
        expect = _flow_acc_expected(world, present, thr)
        assert got == expect, f"trial {trial} drop={drop}"


def test_flow_accumulation_tiles_matches_dense_oracle(spark):
    """The raster-export form re-encodes each tile's per-pixel
    accumulation array; decoded payloads must be bit-identical to the
    brute-force path walker's dense array, including across a missing
    tile (its ring holds water: paths stop there)."""
    from gfw_raster_analysis_lambda_spark.functions import codecs

    rng = np.random.default_rng(20260824)
    world = rng.integers(0, 6, size=(NY * TILE, NX * TILE)).astype(np.float64)
    all_tiles = [(dx, dy) for dx in range(NX) for dy in range(NY)]
    drop = {all_tiles[int(rng.integers(len(all_tiles)))]}
    present = set(all_tiles) - drop
    rows = []
    for dx, dy in present:
        arr = world[dy * TILE:(dy + 1) * TILE,
                    dx * TILE:(dx + 1) * TILE].astype(np.uint8)
        rows.append((
            int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
            codecs.encode_tile(arr, "png"), TILE, TILE, "png",
        ))
    df = spark.createDataFrame(
        rows, "cell_id long, bytes binary, w int, h int, fmt string"
    )
    out = focal.flow_accumulation_tiles(df).collect()
    dense = _flow_acc_dense(world, present)
    got_cells = set()
    for r in out:
        assert (r["w"], r["h"], r["fmt"]) == (TILE, TILE, "raw_i64")
        gx, gy = (int(v) for v in G.cell_to_xy(r["cell_id"]))
        dx, dy = gx - X0, gy - Y0
        got_cells.add((dx, dy))
        arr = codecs.decode_tile(r["bytes"], r["w"], r["h"], "raw_i64")
        exp = dense[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE]
        assert arr.dtype == np.int64
        assert np.array_equal(arr, exp), f"tile {(dx, dy)}"
    assert got_cells == present
    # round-trip through the codec keeps exact int64
    big = np.arange(TILE * TILE, dtype=np.int64).reshape(TILE, TILE) * (
        2 ** 33
    )
    assert np.array_equal(
        codecs.decode_tile(codecs.encode_tile(big, "raw_i64"),
                           TILE, TILE, "raw_i64"), big
    )


def test_focal_median_random_world_fuzz(spark):
    """Seeded fuzz incl. a missing tile: the counting-rank median kernel
    must equal a per-pixel sort-and-pick lower median over the valid
    window (missing-tile neighbors excluded, windows clipped at world
    edges)."""
    from gfw_raster_analysis_lambda_spark.functions import codecs

    rng = np.random.default_rng(20260825)
    nv = 21
    world = rng.integers(0, nv, size=(NY * TILE, NX * TILE))
    all_tiles = [(dx, dy) for dx in range(NX) for dy in range(NY)]
    drop = {all_tiles[int(rng.integers(len(all_tiles)))]}
    present = set(all_tiles) - drop
    valid = np.zeros(world.shape, dtype=bool)
    rows = []
    for dx, dy in present:
        valid[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = True
        rows.append((
            int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
            codecs.encode_tile(
                world[dy * TILE:(dy + 1) * TILE,
                      dx * TILE:(dx + 1) * TILE].astype(np.uint8), "png"
            ), TILE, TILE, "png",
        ))
    df = spark.createDataFrame(
        rows, "cell_id long, bytes binary, w int, h int, fmt string"
    )
    got = {}
    for r in focal.focal_median(df, n_values=nv).collect():
        gx, gy = (int(v) for v in G.cell_to_xy(r["cell_id"]))
        got[(gx - X0, gy - Y0, r["value"])] = r["n_px"]
    h, w = world.shape
    expect = {}
    for tx, ty in present:
        hist = {}
        for i in range(ty * TILE, (ty + 1) * TILE):
            for j in range(tx * TILE, (tx + 1) * TILE):
                vals = sorted(
                    int(world[ii, jj])
                    for ii in range(max(0, i - 1), min(h, i + 2))
                    for jj in range(max(0, j - 1), min(w, j + 2))
                    if valid[ii, jj]
                )
                med = vals[(len(vals) + 1) // 2 - 1]
                hist[med] = hist.get(med, 0) + 1
        for v, n in hist.items():
            expect[(tx, ty, v)] = n
    assert got == expect


def test_morphology_open_close_random_world_fuzz(spark):
    """Seeded fuzz incl. a missing tile: opening (erode->dilate) and
    closing (dilate->erode) as two chained halo passes must equal the
    dense two-pass numpy oracle with clipped valid windows, and obey
    the classical inequalities opening <= identity <= closing."""
    from gfw_raster_analysis_lambda_spark.functions import codecs

    rng = np.random.default_rng(20260826)
    world = rng.integers(0, 200, size=(NY * TILE, NX * TILE))
    all_tiles = [(dx, dy) for dx in range(NX) for dy in range(NY)]
    drop = {all_tiles[int(rng.integers(len(all_tiles)))]}
    present = set(all_tiles) - drop
    valid = np.zeros(world.shape, dtype=bool)
    rows = []
    for dx, dy in present:
        valid[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = True
        rows.append((
            int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
            codecs.encode_tile(
                world[dy * TILE:(dy + 1) * TILE,
                      dx * TILE:(dx + 1) * TILE].astype(np.uint8), "png"
            ), TILE, TILE, "png",
        ))
    df = spark.createDataFrame(
        rows, "cell_id long, bytes binary, w int, h int, fmt string"
    )

    def ext_pass(arr, vmask, use_max):
        h, w = arr.shape
        out = np.full((h, w), -np.inf if use_max else np.inf)
        opf = np.fmax if use_max else np.fmin
        sent = -np.inf if use_max else np.inf
        for i in range(h):
            for j in range(w):
                for ii in range(max(0, i - 1), min(h, i + 2)):
                    for jj in range(max(0, j - 1), min(w, j + 2)):
                        if vmask[ii, jj]:
                            out[i, j] = opf(out[i, j], arr[ii, jj])
        return np.where(vmask, out, sent)

    dense = world.astype(np.float64)
    for op, first_max in (("open", False), ("close", True)):
        mid = ext_pass(dense, valid, first_max)
        fin = ext_pass(mid, valid, not first_max)
        got = {}
        for r in focal.morphology_stats(df, op=op).collect():
            gx, gy = (int(v) for v in G.cell_to_xy(r["cell_id"]))
            got[(gx - X0, gy - Y0)] = (
                r["n_px"], r["morph_sum"], r["morph_min"], r["morph_max"]
            )
        expect = {}
        for tx, ty in present:
            a = fin[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE]
            expect[(tx, ty)] = (
                TILE * TILE, int(a.sum()), int(a.min()), int(a.max())
            )
            core = world[ty * TILE:(ty + 1) * TILE,
                         tx * TILE:(tx + 1) * TILE]
            if op == "open":
                assert (a <= core).all()
            else:
                assert (a >= core).all()
        assert got == expect, op


def test_morans_i_random_world_fuzz(spark):
    """Seeded fuzz incl. a missing tile: the halo-exchange sufficient
    statistics and closed-form Moran's I must equal a direct ordered-
    pair enumeration with float means (computed via exact integer sums,
    so both sides agree bit-for-bit); clustered vs shuffled worlds
    bracket the statistic's sign."""
    from gfw_raster_analysis_lambda_spark.functions import codecs

    rng = np.random.default_rng(20260827)
    # smooth (clustered) world: blocky gradient -> strongly positive I
    base = np.repeat(np.repeat(
        rng.integers(0, 200, size=(NY * 8, NX * 8)), 8, 0), 8, 1)
    worlds = {"clustered": base,
              "shuffled": rng.permutation(base.ravel()).reshape(base.shape)}
    all_tiles = [(dx, dy) for dx in range(NX) for dy in range(NY)]
    drop = {all_tiles[int(rng.integers(len(all_tiles)))]}
    present = set(all_tiles) - drop
    results = {}
    for name, world in worlds.items():
        valid = np.zeros(world.shape, dtype=bool)
        rows = []
        for dx, dy in present:
            valid[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = True
            rows.append((
                int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
                codecs.encode_tile(
                    world[dy * TILE:(dy + 1) * TILE,
                          dx * TILE:(dx + 1) * TILE].astype(np.uint8), "png"
                ), TILE, TILE, "png",
            ))
        df = spark.createDataFrame(
            rows, "cell_id long, bytes binary, w int, h int, fmt string"
        )
        (got,) = focal.morans_i(df).collect()
        # independent oracle: exact integer pair sums over the lattice
        h, w = world.shape
        x = world.astype(object)  # python ints: no overflow anywhere
        n = s1 = s2 = wp = c = d = 0
        for i in range(h):
            for j in range(w):
                if not valid[i, j]:
                    continue
                n += 1
                s1 += int(x[i, j]); s2 += int(x[i, j]) ** 2
                nb = [
                    int(x[ii, jj])
                    for ii in range(max(0, i - 1), min(h, i + 2))
                    for jj in range(max(0, j - 1), min(w, j + 2))
                    if (ii, jj) != (i, j) and valid[ii, jj]
                ]
                wp += len(nb)
                c += int(x[i, j]) * sum(nb)
                d += int(x[i, j]) * len(nb)
        num = n * n * c - 2 * n * s1 * d + wp * s1 * s1
        den = n * n * s2 - n * s1 * s1
        expect_i = round((float(n) / float(wp)) * (float(num) / float(den)), 6)
        assert (got["n_px"], got["s1"], got["s2"], got["w_pairs"],
                got["c_sum"], got["d_sum"]) == (n, s1, s2, wp, c, d), name
        assert got["moran_i"] == expect_i, name
        assert got["e_i"] == round(-1.0 / (n - 1.0), 6)
        results[name] = got["moran_i"]
    assert results["clustered"] > 0.8
    assert abs(results["shuffled"]) < 0.05


def test_contour_stats_random_world_fuzz(spark):
    """Seeded fuzz incl. a missing tile: marching-squares contour
    counts (crossed / segments / saddles per level) from the halo-
    exchange kernel must equal a dense numpy oracle exactly. Squares
    are anchored at their top-left pixel; any missing corner (world
    edge or missing tile) excludes the square on both sides."""
    from gfw_raster_analysis_lambda_spark.functions import codecs

    rng = np.random.default_rng(20260823)
    levels = [40, 100, 180]
    for trial, n_drop in ((0, 0), (1, 1)):
        world = rng.integers(0, 200, size=(NY * TILE, NX * TILE))
        all_tiles = [(dx, dy) for dx in range(NX) for dy in range(NY)]
        drop_idx = rng.choice(len(all_tiles), size=n_drop, replace=False)
        drop = {all_tiles[i] for i in drop_idx}
        present = set(all_tiles) - drop
        valid = np.zeros(world.shape, dtype=bool)
        rows = []
        for dx, dy in present:
            valid[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = True
            rows.append((
                int(G.cell_from_xy(GRID, X0 + dx, Y0 + dy)),
                codecs.encode_tile(
                    world[dy * TILE:(dy + 1) * TILE,
                          dx * TILE:(dx + 1) * TILE].astype(np.uint8), "png"
                ), TILE, TILE, "png",
            ))
        df = spark.createDataFrame(
            rows, "cell_id long, bytes binary, w int, h int, fmt string"
        )
        got = {
            (tuple(int(v) for v in G.cell_to_xy(r["cell_id"])), r["level"]):
                (r["n_crossed"], r["n_segments"], r["n_saddles"])
            for r in focal.contour_stats(df, levels).collect()
        }
        # dense oracle over the full world, masked by corner validity
        h, w = world.shape
        v4 = (valid[:h - 1, :w - 1] & valid[:h - 1, 1:]
              & valid[1:, :w - 1] & valid[1:, 1:])
        expect = {}
        for L in levels:
            b = world >= L
            case = (b[:h - 1, :w - 1].astype(np.int64) * 8
                    + b[:h - 1, 1:] * 4 + b[1:, 1:] * 2 + b[1:, :w - 1])
            crossed = v4 & (case != 0) & (case != 15)
            saddle = v4 & ((case == 5) | (case == 10))
            for dx, dy in present:
                # squares anchored in this tile's core
                sl = (slice(dy * TILE, min((dy + 1) * TILE, h - 1)),
                      slice(dx * TILE, min((dx + 1) * TILE, w - 1)))
                nc, ns = int(crossed[sl].sum()), int(saddle[sl].sum())
                expect[((X0 + dx, Y0 + dy), L)] = (nc, nc + ns, ns)
        assert got == expect, f"trial {trial} drop={drop}"


def _flow_acc_dense(world, present):
    """Brute-force flow-accumulation oracle: walk every present pixel's
    D8 path (same exact-rational compare as _basins_expected) counting
    a visit at every pixel on it. Returns the dense per-pixel int64
    accumulation array over the whole world."""
    from fractions import Fraction

    h, w = world.shape
    valid = np.zeros_like(world, dtype=bool)
    for dx, dy in present:
        valid[dy * TILE:(dy + 1) * TILE, dx * TILE:(dx + 1) * TILE] = True
    z = world.astype(np.int64)
    d8 = [(1, (1, 0)), (2, (1, 1)), (4, (0, 1)), (8, (-1, 1)),
          (16, (-1, 0)), (32, (-1, -1)), (64, (0, -1)), (128, (1, -1))]

    def step(i, j):
        if i < 1 or j < 1 or i >= h - 1 or j >= w - 1:
            return None
        if not valid[i - 1:i + 2, j - 1:j + 2].all():
            return None
        best, best_d = Fraction(0), None
        for code, (dx, dy) in d8:
            drop = int(z[i, j] - z[i + dy, j + dx])
            if drop <= 0:
                continue
            s2 = Fraction(drop * drop, 1 if (dx == 0 or dy == 0) else 2)
            if s2 > best:
                best, best_d = s2, (dy, dx)
        return None if best_d is None else (i + best_d[0], j + best_d[1])

    acc = np.zeros((h, w), dtype=np.int64)
    for tx, ty in present:
        for i in range(ty * TILE, (ty + 1) * TILE):
            for j in range(tx * TILE, (tx + 1) * TILE):
                ci, cj = i, j
                acc[ci, cj] += 1
                while True:
                    nxt = step(ci, cj)
                    if nxt is None:
                        break
                    ci, cj = nxt
                    acc[ci, cj] += 1
    return acc


def _flow_acc_expected(world, present, thr):
    """Per-cell stats over :func:`_flow_acc_dense`."""
    acc = _flow_acc_dense(world, present)
    out = {}
    for tx, ty in present:
        a = acc[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE]
        out[(X0 + tx, Y0 + ty)] = (
            TILE * TILE, int(a.max()), int(a.sum()), int((a >= thr).sum())
        )
    return out
