"""Spatial join operators vs brute-force numpy oracles: PIP, kNN (exactness
certificate), zonal stats, hot-cell salting."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasterkit_spark import kernels as K
from rasterkit_spark.fixtures import corpus as CP
from rasterkit_spark.operators import spatial as SP

RNG = np.random.default_rng(123)


@pytest.fixture(scope="module")
def corpus():
    return CP.build_corpus(n_media=12, n_docs=60, n_queries=15)


@pytest.fixture(scope="module")
def points_pdf():
    n = 3000
    # clustered + uniform mix, including a Zipf-hot cluster
    hot = RNG.normal([10.0, 20.0], 0.05, size=(n // 2, 2))
    uni = np.c_[RNG.uniform(-170, 170, n // 2), RNG.uniform(-80, 80, n // 2)]
    pts = np.vstack([hot, uni])
    return pd.DataFrame({"id": [f"p{i:05d}" for i in range(n)],
                         "lon": pts[:, 0], "lat": pts[:, 1]})


def test_pip_join_matches_bruteforce(spark, corpus, points_pdf):
    # add points clustered around each zone centroid so PIP has hits
    extra = []
    for z in corpus.zones.itertuples():
        xs, ys = SP.parse_wkt_polygon(z.polygon_wkt)
        cx, cy = np.mean(xs), np.mean(ys)
        r = max(max(xs) - min(xs), max(ys) - min(ys))
        pts = RNG.normal([cx, cy], r, size=(50, 2))
        extra.append(pd.DataFrame({
            "id": [f"z{z.zone_id}_{i}" for i in range(50)],
            "lon": pts[:, 0], "lat": pts[:, 1]}))
    points_pdf = pd.concat([points_pdf] + extra, ignore_index=True)
    points = spark.createDataFrame(points_pdf)
    zones = spark.createDataFrame(corpus.zones)
    got = SP.pip_join(points, zones, "id", "lon", "lat",
                      "zone_id", "polygon_wkt", res=8).toPandas()
    got_pairs = set(zip(got.point_id, got.poly_id))
    want_pairs = set()
    for z in corpus.zones.itertuples():
        xs, ys = SP.parse_wkt_polygon(z.polygon_wkt)
        inside = K.points_in_polygon(points_pdf.lon.values,
                                     points_pdf.lat.values,
                                     np.array(xs), np.array(ys))
        for pid in points_pdf.id.values[inside]:
            want_pairs.add((pid, z.zone_id))
    assert got_pairs == want_pairs
    assert len(want_pairs) > 0


def test_wkt_with_interior_ring_raises():
    """A hole cannot be dropped silently: PIP and zonal would count the
    hole's points as inside the polygon."""
    outer = "(0 0, 10 0, 10 10, 0 10, 0 0)"
    assert SP.parse_wkt_polygon(f"POLYGON({outer})") == (
        [0.0, 10.0, 10.0, 0.0], [0.0, 0.0, 10.0, 10.0])
    with pytest.raises(ValueError, match="interior rings"):
        SP.parse_wkt_polygon(
            f"POLYGON({outer}, (4 4, 6 4, 6 6, 4 6, 4 4))")


@pytest.mark.parametrize("k", [1, 5])
def test_knn_join_exact(spark, points_pdf, k):
    queries = pd.DataFrame({
        "qid": [f"q{i}" for i in range(40)],
        "lon": np.r_[RNG.uniform(-170, 170, 30), RNG.normal(10.0, 0.1, 10)],
        "lat": np.r_[RNG.uniform(-80, 80, 30), RNG.normal(20.0, 0.1, 10)],
    })
    got = SP.knn_join(spark.createDataFrame(points_pdf),
                      spark.createDataFrame(queries), k,
                      point_id="id", query_id="qid",
                      x_col="lon", y_col="lat", res=6).toPandas()
    # brute force oracle
    px = points_pdf.lon.values[None, :]
    py = points_pdf.lat.values[None, :]
    qx = queries.lon.values[:, None]
    qy = queries.lat.values[:, None]
    d = np.sqrt((px - qx) ** 2 + (py - qy) ** 2)
    ids = np.array(points_pdf.id.values)
    for qi, qid in enumerate(queries.qid):
        # oracle order: (dist, id) lexicographic — matches the join's tie-break
        order = sorted(range(d.shape[1]), key=lambda j: (d[qi, j], ids[j]))[:k]
        want = [ids[j] for j in order]
        sub = got[got.qid == qid].sort_values("rank")
        assert list(sub.nbr_id) == want, qid
        np.testing.assert_allclose(sub.dist.values,
                                   [d[qi, j] for j in order], rtol=1e-12)


def test_knn_every_query_answered(spark, points_pdf):
    queries = pd.DataFrame({"qid": ["lonely"], "lon": [179.9], "lat": [-89.9]})
    got = SP.knn_join(spark.createDataFrame(points_pdf),
                      spark.createDataFrame(queries), 3,
                      point_id="id", query_id="qid",
                      x_col="lon", y_col="lat", res=6).toPandas()
    assert len(got) == 3  # corner query resolves in the full-frame arm


def test_zonal_stats_matches_oracle(spark, corpus):
    sdfs = corpus.to_spark(spark, ["zones", "media_catalog", "tiles"])
    got = SP.zonal_stats(sdfs["zones"], sdfs["media_catalog"],
                         sdfs["tiles"]).toPandas()
    assert len(got) > 0
    cat = corpus.media_catalog.set_index("media_ref", drop=False)
    checked = 0
    for row in got.itertuples():
        c = cat.loc[row.media_ref]
        z = corpus.zones[corpus.zones.zone_id == row.zone_id].iloc[0]
        xs, ys = SP.parse_wkt_polygon(z.polygon_wkt)
        # oracle: region from kernels, mask on ground-truth pixels
        minx, maxx = min(xs), max(xs)
        miny, maxy = min(ys), max(ys)
        rx, ry, rw, rh = (int(v) for v in K.generic_crs_to_pixel_region(
            minx, miny, maxx, maxy, c.origin_x, c.pixel_sx, c.origin_y,
            -c.pixel_sy, c.width, c.height, 4326, int(c.epsg), None))
        img = corpus.pixels[row.media_ref][0]
        win = img[ry:ry + rh, rx:rx + rw]
        gx = c.origin_x + (rx + np.arange(win.shape[1]) + 0.5) * c.pixel_sx
        gy = c.origin_y - (ry + np.arange(win.shape[0]) + 0.5) * c.pixel_sy
        mx, my = np.meshgrid(gx, gy)
        if int(c.epsg) == 3857:
            lon, lat = K.webmercator_to_wgs84(mx.ravel(), my.ravel())
        else:
            lon, lat = mx.ravel(), my.ravel()
        inside = K.points_in_polygon(lon, lat, np.array(xs),
                                     np.array(ys)).reshape(win.shape)
        vals = win[inside]
        if vals.size:
            assert (row.zmin, row.zmax, row.zsum, row.zcount) == (
                int(vals.min()), int(vals.max()),
                int(vals.sum(dtype=np.int64)), int(vals.size)), (
                row.zone_id, row.media_ref)
            checked += 1
        else:
            assert row.zcount == 0
    assert checked > 0
    # completeness: every (zone, raster) pair the oracle finds pixels for
    # MUST be present — iterating only got's rows would let a silent
    # pair-drop regression pass unnoticed
    got_pairs = set(zip(got.zone_id, got.media_ref))
    for z in corpus.zones.itertuples():
        xs, ys = SP.parse_wkt_polygon(z.polygon_wkt)
        for c in cat[cat.media_kind == "raster"].itertuples():
            rx, ry, rw, rh = (int(v) for v in K.generic_crs_to_pixel_region(
                min(xs), min(ys), max(xs), max(ys), c.origin_x, c.pixel_sx,
                c.origin_y, -c.pixel_sy, c.width, c.height, 4326,
                int(c.epsg), None))
            img = corpus.pixels[c.media_ref][0]
            win = img[ry:ry + rh, rx:rx + rw]
            if win.size == 0:
                continue
            gx = c.origin_x + (rx + np.arange(win.shape[1]) + 0.5) * c.pixel_sx
            gy = c.origin_y - (ry + np.arange(win.shape[0]) + 0.5) * c.pixel_sy
            mx, my = np.meshgrid(gx, gy)
            if int(c.epsg) == 3857:
                lon, lat = K.webmercator_to_wgs84(mx.ravel(), my.ravel())
            else:
                lon, lat = mx.ravel(), my.ravel()
            inside = K.points_in_polygon(lon, lat, np.array(xs), np.array(ys))
            if win.ravel()[inside].size:
                assert (z.zone_id, c.media_ref) in got_pairs, (
                    f"dropped pair {(z.zone_id, c.media_ref)}")


def test_pip_join_salted_smj_same_result(spark, corpus, points_pdf):
    """Shuffle-join + hot-cell salting must give the identical pair set as
    the broadcast path (skew handling changes the plan, never the answer)."""
    points = spark.createDataFrame(points_pdf)
    zones = spark.createDataFrame(corpus.queries_polygon).select(
        F.col("query_id").alias("zone_id"), "polygon_wkt")
    a = SP.pip_join(points, zones, "id", "lon", "lat", "zone_id",
                    "polygon_wkt", res=8, broadcast_polys=True).toPandas()
    b = SP.pip_join(points, zones, "id", "lon", "lat", "zone_id",
                    "polygon_wkt", res=8, broadcast_polys=False,
                    salt_threshold=200, n_salt=4).toPandas()
    assert set(zip(a.point_id, a.poly_id)) == set(zip(b.point_id, b.poly_id))
    assert len(a) > 0


def test_hot_cell_salting(spark, points_pdf):
    pts = SP.index_points(spark.createDataFrame(points_pdf), "lon", "lat", 8)
    hot = SP.hot_cells(pts, threshold=500)
    assert hot.count() >= 1  # the clustered blob is hot
    salted = SP.add_salt(pts, "cell", hot, n_salt=8)
    dist = (salted.join(F.broadcast(hot), "cell", "left_semi")
            .groupBy("cell", "salt").count().toPandas())
    # hot cell fan-out actually spreads rows over several salts
    assert dist.salt.nunique() >= 4
    assert salted.count() == pts.count()


def test_zonal_stats_rgb_rasters_match_oracle(spark):
    """RGB rasters (spp=3) flow through zonal_stats with the sample-aware
    predictor stride + luma8 collapse (A1 grayscale-stats semantics) —
    previously they silently produced wrong geometry/stats."""
    from rasterkit_spark.fixtures import oracle as OR
    c = CP.build_corpus(n_media=6, n_docs=20, n_queries=8, rgb_every=2)
    assert (c.media_catalog.samples_per_pixel == 3).any()
    sdfs = c.to_spark(spark, ["zones", "media_catalog", "tiles"])
    got = SP.zonal_stats(sdfs["zones"], sdfs["media_catalog"],
                         sdfs["tiles"]).toPandas() \
        .sort_values(["zone_id", "media_ref"]).reset_index(drop=True)
    want = OR.expected_zonal(c) \
        .sort_values(["zone_id", "media_ref"]).reset_index(drop=True)
    # at least one RGB raster actually contributes masked pixels
    rgb_refs = set(c.media_catalog[
        c.media_catalog.samples_per_pixel == 3].media_ref)
    assert (want[want.media_ref.isin(rgb_refs)].zcount > 0).any()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_knn_corner_queries_take_the_full_frame(spark, points_pdf,
                                                monkeypatch):
    """Corner queries, whose density-sized ring holds fewer than k points,
    are cross-joined with every point in round 2 and come back exact."""
    queries = pd.DataFrame({
        "qid": [f"q{i}" for i in range(8)],
        "lon": np.r_[RNG.uniform(-170, 170, 4), [179.9, -179.9, 0.0, 10.0]],
        "lat": np.r_[RNG.uniform(-80, 80, 4), [-89.9, 89.9, 0.0, 20.0]],
    })
    whole, split = set(), SP._second_round_arms

    def recording(left, n):
        by_ring, rest = split(left, n)
        whole.update(r.qid_ for r in rest.select("qid_").collect())
        return by_ring, rest

    monkeypatch.setattr(SP, "_second_round_arms", recording)
    got = SP.knn_join(spark.createDataFrame(points_pdf),
                      spark.createDataFrame(queries), 3,
                      point_id="id", query_id="qid",
                      x_col="lon", y_col="lat", res=6).toPandas()
    assert {"q4", "q5"} <= whole, whole
    assert set(got.qid) == set(queries.qid)
    px, py = points_pdf.lon.values, points_pdf.lat.values
    ids = np.array(points_pdf.id.values)
    for r in queries.itertuples():
        d = np.sqrt((px - r.lon) ** 2 + (py - r.lat) ** 2)
        order = sorted(range(len(d)), key=lambda j: (d[j], ids[j]))[:3]
        sub = got[got.qid == r.qid].sort_values("rank")
        assert list(sub.nbr_id) == [ids[j] for j in order], r.qid


def test_knn_join_releases_round_caches(spark, points_pdf):
    """knn_join must not leave its per-round `scored` caches pinned: in a
    long-lived session repeated calls used to accumulate executor storage
    until the session died.  After the call at most ONE new persistent RDD
    may remain — the eager localCheckpoint of the result, which the
    ContextCleaner frees on GC — regardless of how many rounds ran."""
    jsc = spark.sparkContext._jsc.sc()
    before_n = jsc.getPersistentRDDs().size()
    queries = pd.DataFrame({
        "qid": [f"q{i}" for i in range(6)],
        "lon": np.r_[RNG.uniform(-170, 170, 3), [179.9, -179.9, 10.0]],
        "lat": np.r_[RNG.uniform(-80, 80, 3), [-89.9, 89.9, 20.0]],
    })
    out = SP.knn_join(spark.createDataFrame(points_pdf),
                      spark.createDataFrame(queries), 3,
                      point_id="id", query_id="qid",
                      x_col="lon", y_col="lat", res=6)
    assert out.count() == 18  # result fully usable after the release
    n_after = jsc.getPersistentRDDs().size()
    assert n_after - before_n <= 1, (
        f"pinned storage leaked: {n_after} persistent RDDs after knn_join")


def test_zonal_stats_rejects_unplaceable_crs(spark):
    """A raster CRS the 4326-polygon PIP stage cannot place must raise up
    front — it used to be conservatively paired with every zone and
    silently report empty stats (meter pixel centers PIP-tested against
    degree polygons)."""
    c = CP.build_corpus(n_media=4, n_docs=10, n_queries=6)
    sd = c.to_spark(spark, ["zones", "media_catalog", "tiles"])
    bad_ref = c.media_catalog[c.media_catalog.media_kind == "raster"] \
        .media_ref.iloc[0]
    bad_cat = sd["media_catalog"].withColumn(
        "epsg", F.when(F.col("media_ref") == bad_ref, F.lit(32633))
                 .otherwise(F.col("epsg")))
    with pytest.raises(ValueError, match="cannot place"):
        SP.zonal_stats(sd["zones"], bad_cat, sd["tiles"])
    # Mercator aliases are placeable, not unplaceable
    alias_cat = sd["media_catalog"].withColumn(
        "epsg", F.when(F.col("epsg") == 3857, F.lit(3785))
                 .otherwise(F.col("epsg")))
    SP.zonal_stats(sd["zones"], alias_cat, sd["tiles"])  # must not raise


def test_zonal_stats_broadcast_tiles_same_result(spark, corpus, monkeypatch):
    """The three physical strategies — key-broadcast join (default),
    python-broadcast tile map, and the JVM-broadcast fallback above the
    blob-bytes ceiling — must produce identical rows (same partials UDF;
    only where the blob meets the key differs)."""
    sdfs = corpus.to_spark(spark, ["zones", "media_catalog", "tiles"])
    args = (sdfs["zones"], sdfs["media_catalog"], sdfs["tiles"])
    key = ["zone_id", "media_ref"]
    base = SP.zonal_stats(*args).toPandas().sort_values(key) \
        .reset_index(drop=True)
    assert len(base) > 0
    py_bc = SP.zonal_stats(*args, broadcast_tiles=True).toPandas() \
        .sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(base, py_bc)
    # force the JVM-broadcast fallback branch
    from rasterkit_spark.operators import extract as EX
    monkeypatch.setattr(EX, "MAX_PY_TILE_BROADCAST", 0)
    jvm_bc = SP.zonal_stats(*args, broadcast_tiles=True).toPandas() \
        .sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(base, jvm_bc)
