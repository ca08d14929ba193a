"""Phase-1 end-to-end parity: Spark pipeline == numpy oracle, byte-for-byte
on regions, tile assignments, window sha256 and adjusted geotransform —
plus the span-sequence invariant on the docs path."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasterkit_spark.fixtures import corpus as CP
from rasterkit_spark.fixtures import oracle as OR
from rasterkit_spark.operators import extract as EX


@pytest.fixture(scope="module")
def corpus():
    c = CP.build_corpus(n_media=12, n_docs=120, n_queries=25)
    OR.oracle_window_check(c)  # oracle self-check (SURVEY §7 phase 0)
    return c


@pytest.fixture(scope="module")
def sdfs(spark, corpus):
    return corpus.to_spark(spark)


def test_fixture_coverage(corpus):
    cat = corpus.media_catalog
    assert (cat.media_kind == "vector").any()
    assert (cat[cat.media_kind == "raster"].tile_w > 0).any()      # tiled
    assert (cat[cat.media_kind == "raster"].tile_w == 0).any()     # stripped
    assert (cat.rows_per_strip == 0).any()                         # NULL quirk
    assert set(cat[cat.media_kind == "raster"].compression) == {1, 8, 14}
    assert set(cat[cat.media_kind == "raster"].predictor) == {1, 2}


def test_regions_match_oracle(spark, corpus, sdfs):
    got = EX.resolve_regions(sdfs["queries_bbox"], sdfs["media_catalog"]) \
        .select("query_id", "media_ref", "region_x", "region_y",
                "region_w", "region_h", "new_origin_x", "new_origin_y") \
        .toPandas().sort_values("query_id").reset_index(drop=True)
    want = OR.expected_all_bbox(corpus).sort_values("query_id").reset_index(drop=True)
    assert len(got) == len(want)
    for col in ["region_x", "region_y", "region_w", "region_h"]:
        np.testing.assert_array_equal(got[col].values, want[col].values, err_msg=col)
    np.testing.assert_allclose(got.new_origin_x, want.new_origin_x, rtol=0, atol=0)
    np.testing.assert_allclose(got.new_origin_y, want.new_origin_y, rtol=0, atol=0)


def test_tile_assignments_match_oracle(spark, corpus, sdfs):
    regions = EX.resolve_regions(sdfs["queries_bbox"], sdfs["media_catalog"])
    keys = EX.expand_tile_keys(regions)
    joined = EX.join_tiles(keys, sdfs["tiles"])
    got = (joined
           .withColumn("across", F.ceil(F.col("width") / F.col("chunk_w")))
           .withColumn("tile_idx", F.col("tile_y") * F.col("across") + F.col("tile_x"))
           .groupBy("query_id")
           .agg(F.sort_array(F.collect_list("tile_idx")).alias("tiles"))
           .toPandas().set_index("query_id"))
    want = OR.expected_all_bbox(corpus).set_index("query_id")
    for qid in want.index:
        assert list(got.loc[qid, "tiles"]) == list(want.loc[qid, "tile_idx"]), qid


def test_windows_match_oracle(spark, corpus, sdfs):
    out = EX.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                     sdfs["tiles"]).toPandas().set_index("query_id")
    want = OR.expected_all_bbox(corpus).set_index("query_id")
    assert set(out.index) == set(want.index)
    for qid in want.index:
        assert out.loc[qid, "window_sha256"] == want.loc[qid, "window_sha256"], qid
        assert out.loc[qid, "new_origin_x"] == want.loc[qid, "new_origin_x"]
        assert out.loc[qid, "new_origin_y"] == want.loc[qid, "new_origin_y"]


def test_point_radius_queries_e2e(spark, corpus, sdfs):
    """coord+radius path: bbox derived via G3 columns, then same pipeline."""
    from rasterkit_spark.functions import geo
    qp = sdfs["queries_point"].select(
        "query_id", "media_ref", "radius_m", "crs",
        *geo.bbox_from_point_radius(F.col("x"), F.col("y"),
                                    F.col("radius_m"), F.col("crs")))
    out = EX.extract(qp, sdfs["media_catalog"], sdfs["tiles"]).toPandas()
    assert len(out) > 0
    # oracle comparison
    cat = corpus.media_catalog.set_index("media_ref", drop=False)
    qpdf = corpus.queries_point
    checked = 0
    for q in qpdf.itertuples():
        c = cat.loc[q.media_ref]
        if c.media_kind != "raster":
            continue
        minx, miny, maxx, maxy = OR.K.coord_to_bbox(
            q.x, q.y, q.radius_m, q.shape, int(q.crs))

        class QQ:  # bbox-query shim for the oracle
            pass

        qq = QQ()
        qq.minx, qq.miny, qq.maxx, qq.maxy = (
            float(minx), float(miny), float(maxx), float(maxy))
        qq.crs = q.crs
        qq.radius_m = q.radius_m
        exp = OR.expected_window(corpus, qq, c)
        row = out[out.query_id == q.query_id]
        if len(row) == 0:
            continue
        assert row.iloc[0].window_sha256 == exp["sha256"], q.query_id
        checked += 1
    assert checked >= 3  # silently-skipped queries must not gut the test


def test_span_sequence_invariant(spark, corpus, sdfs):
    """input_hint invariant: after explode/join/reassembly each doc's span
    sequence (kind, text, media_ref, order) equals the input exactly."""
    docs = sdfs["docs"]
    exploded = docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
    # shuffle through a repartition + join round-trip, then reassemble
    reassembled = (exploded.repartition(8, "doc_id")
                   .groupBy("doc_id")
                   .agg(F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "span"))),
                       lambda s: s.span).alias("spans2")))
    cmp = docs.join(reassembled, "doc_id")
    bad = cmp.filter(F.col("spans") != F.col("spans2")).count()
    assert bad == 0
    assert cmp.count() == docs.count()


def test_extract_for_docs_runs(spark, sdfs):
    out = EX.extract_for_docs(sdfs["docs"], sdfs["media_catalog"],
                              sdfs["tiles"], sdfs["queries_bbox"])
    assert out.count() > 0
    assert {"doc_id", "pos", "media_ref", "window_sha256"} <= set(out.columns)


# ---------------------------------------------------------------------------
# P6/A2 — RGB pixel path (samples_per_pixel=3, interleaved, stride predictor)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def rgb_corpus():
    c = CP.build_corpus(n_media=8, n_docs=20, n_queries=10, rgb_every=3)
    OR.oracle_window_check(c)  # self-check covers the RGB decode chain too
    return c


@pytest.fixture(scope="module")
def rgb_sdfs(spark, rgb_corpus):
    return rgb_corpus.to_spark(spark, ["queries_bbox", "media_catalog",
                                       "tiles"])


def test_rgb_fixture_has_rgb_rasters(rgb_corpus):
    cat = rgb_corpus.media_catalog
    assert (cat.samples_per_pixel == 3).any()
    assert (cat.samples_per_pixel == 1).any()


def test_rgb_windows_match_oracle(spark, rgb_corpus, rgb_sdfs):
    out = EX.extract(rgb_sdfs["queries_bbox"], rgb_sdfs["media_catalog"],
                     rgb_sdfs["tiles"]).toPandas().set_index("query_id")
    want = OR.expected_all_bbox(rgb_corpus).set_index("query_id")
    cat = rgb_corpus.media_catalog.set_index("media_ref", drop=False)
    rgb_checked = 0
    for qid in want.index:
        assert out.loc[qid, "window_sha256"] == want.loc[qid, "window_sha256"], qid
        spp = int(cat.loc[out.loc[qid, "media_ref"], "samples_per_pixel"])
        assert int(out.loc[qid, "samples_per_pixel"]) == spp
        rgb_checked += spp == 3
    assert rgb_checked > 0


def test_rgb_luma_before_filter_matches_reference_order(spark, rgb_corpus,
                                                        rgb_sdfs):
    """api.extract with a filter collapses RGB windows to luma8 FIRST
    (filter_utils.rs:81 / api.rs:322 order), then filters the luma."""
    from rasterkit_spark import api
    from rasterkit_spark import kernels as K

    out = api.extract(rgb_sdfs["queries_bbox"], rgb_sdfs["media_catalog"],
                      rgb_sdfs["tiles"], filter_range=(40, 200)) \
        .toPandas().set_index("query_id")
    cat = rgb_corpus.media_catalog.set_index("media_ref", drop=False)
    checked = 0
    for qid in out.index:
        row = out.loc[qid]
        ref = row.media_ref
        spp = int(cat.loc[ref, "samples_per_pixel"])
        if spp != 3:
            continue
        exp = OR.expected_window(
            rgb_corpus,
            rgb_corpus.queries_bbox.set_index("query_id").loc[qid],
            cat.loc[ref])
        luma = K.rgb_to_luma8(exp["window"])
        want = K.filter_values(luma, 40, 200)
        got = np.frombuffer(bytes(row.window), dtype=np.uint8).reshape(
            int(row.region_h), int(row.region_w))
        np.testing.assert_array_equal(got, want, err_msg=qid)
        assert int(row.samples_per_pixel) == 1
        checked += 1
    assert checked > 0


def test_rgb_minmax_matches_numpy(spark, rgb_corpus, rgb_sdfs):
    from rasterkit_spark.operators import raster_ops as RO
    windows = EX.extract(rgb_sdfs["queries_bbox"], rgb_sdfs["media_catalog"],
                         rgb_sdfs["tiles"])
    got = RO.rgb_minmax(windows).toPandas().set_index("query_id")
    cat = rgb_corpus.media_catalog.set_index("media_ref", drop=False)
    for qid in got.index:
        ref = got.loc[qid, "media_ref"]
        exp = OR.expected_window(
            rgb_corpus,
            rgb_corpus.queries_bbox.set_index("query_id").loc[qid],
            cat.loc[ref])
        w = exp["window"]
        assert got.loc[qid, "vmin"] == int(w.min()), qid
        assert got.loc[qid, "vmax"] == int(w.max()), qid


def test_predictor_stride_roundtrip():
    from rasterkit_spark import kernels as K
    rng = np.random.default_rng(3)
    raw = rng.integers(0, 256, size=16 * 8 * 3, dtype=np.uint8).tobytes()
    enc = K.apply_horizontal_predictor_encode(raw, 16, 8, 3)
    dec = K.undo_horizontal_predictor(enc, 16, 8, 3)
    assert bytes(dec) == raw
    # stride must matter: decoding with the wrong stride corrupts
    dec1 = K.undo_horizontal_predictor(enc, 48, 8, 1)
    assert bytes(dec1) != raw


# ---------------------------------------------------------------------------
# P2 — explicit pixel-region path with strict reference validation
# ---------------------------------------------------------------------------

def test_pixel_region_strict_validation(spark, corpus, sdfs):
    """determine_extraction_region (tiff_extraction_utils.rs:268-293):
    an explicit region exceeding the image is a hard error; valid regions
    extract the exact slice."""
    cat = corpus.media_catalog
    rec = cat[(cat.media_kind == "raster")].iloc[0]
    ok = pd.DataFrame([dict(query_id="q_ok", media_ref=rec.media_ref,
                            region_x=1, region_y=2, region_w=5, region_h=4)])
    schema = ("query_id string, media_ref string, region_x long,"
              " region_y long, region_w long, region_h long")
    out = EX.extract_pixel_region(
        spark.createDataFrame(ok, schema), sdfs["media_catalog"],
        sdfs["tiles"]).toPandas()
    img = corpus.pixels[rec.media_ref][0]
    want = img[2:6, 1:6]
    got = np.frombuffer(bytes(out.iloc[0].window), dtype=np.uint8) \
        .reshape(4, 5)
    np.testing.assert_array_equal(got, want)

    bad = pd.DataFrame([dict(query_id="q_bad", media_ref=rec.media_ref,
                             region_x=int(rec.width) - 2, region_y=0,
                             region_w=5, region_h=3)])
    with pytest.raises(ValueError, match="exceeds image dimensions"):
        EX.extract_pixel_region(spark.createDataFrame(bad, schema),
                                sdfs["media_catalog"], sdfs["tiles"])


def test_extract_broadcast_tiles_strategy_same_result(spark, corpus, sdfs):
    """The map-side (broadcast-tiles, zero-blob-shuffle) strategy must give
    the identical windows as the group-shuffle strategy."""
    base = EX.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                      sdfs["tiles"]).select(
        "query_id", "media_ref", "window_sha256").toPandas() \
        .sort_values("query_id").reset_index(drop=True)
    alt = EX.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                     sdfs["tiles"], broadcast_tiles=True).select(
        "query_id", "media_ref", "window_sha256").toPandas() \
        .sort_values("query_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(base, alt)


# ---------------------------------------------------------------------------
# S7/§4 — LOD-aware extraction (per-query overview level)
# ---------------------------------------------------------------------------

def test_extract_auto_level_matches_oracle(spark, corpus, sdfs):
    """Each query picks its overview by target resolution; windows must be
    byte-equal to the numpy oracle run against the level-scaled
    geotransform and that level's tile blobs."""
    cat = corpus.media_catalog.set_index("media_ref", drop=False)
    qpdf = corpus.queries_bbox.copy()
    # deterministic per-query target: 1x / 2.5x / 5x the base pixel size
    mult = [1.0, 2.5, 5.0]
    qpdf["target_res"] = [
        float(cat.loc[r.media_ref, "pixel_sx"]) * mult[i % 3]
        for i, r in enumerate(qpdf.itertuples())]
    q = sdfs["queries_bbox"].join(
        spark.createDataFrame(qpdf[["query_id", "target_res"]]), "query_id")
    out = EX.extract_auto_level(q, sdfs["media_catalog"], sdfs["tiles"],
                                max_level=2)
    # the level comes from the window rows themselves, no join-back
    assert out.schema == EX.WINDOW_SCHEMA
    out = out.toPandas().set_index("query_id")
    assert len(out) == len(qpdf)
    lvl_seen = set()
    for i, r in enumerate(qpdf.itertuples()):
        c = cat.loc[r.media_ref]
        want_lvl = int(min(max(np.floor(np.log2(max(
            r.target_res / c.pixel_sx, 1.0))), 0), 2))
        want_lvl = min(want_lvl, max(corpus.pixels[r.media_ref].keys()))
        got = out.loc[r.query_id]
        assert int(got.level) == want_lvl, (r.query_id, got.level, want_lvl)
        lvl_seen.add(want_lvl)
        scaled = c.copy()
        scaled["width"] = int(c.width) >> want_lvl
        scaled["height"] = int(c.height) >> want_lvl
        scaled["pixel_sx"] = c.pixel_sx * (1 << want_lvl)
        scaled["pixel_sy"] = c.pixel_sy * (1 << want_lvl)
        exp = OR.expected_window(corpus, r, scaled, level=want_lvl)
        assert got.window_sha256 == exp["sha256"], r.query_id
        assert got.new_origin_x == exp["new_origin_x"]
    assert {0, 1, 2} <= lvl_seen  # all levels actually exercised


def test_extract_auto_level_shallow_pyramid_falls_back(spark):
    """A target_res that selects a level the pyramid never built must fall
    back to the deepest level WITH tiles — not silently join zero tiles
    (the engine used to drop such queries while the oracle capped at the
    max available level)."""
    c = CP.build_corpus(n_media=4, n_docs=10, n_queries=6, levels=2)
    sd = c.to_spark(spark)
    assert int(c.tiles.level.max()) == 1  # pyramid is shallow by design
    cat = c.media_catalog.set_index("media_ref", drop=False)
    qpdf = c.queries_bbox.copy()
    # huge target resolution → raw level choice is max_level=2 everywhere
    qpdf["target_res"] = [
        float(cat.loc[r.media_ref, "pixel_sx"]) * 8.0
        for r in qpdf.itertuples()]
    q = sd["queries_bbox"].join(
        spark.createDataFrame(qpdf[["query_id", "target_res"]]), "query_id")
    out = EX.extract_auto_level(q, sd["media_catalog"], sd["tiles"],
                                max_level=2).toPandas()
    assert len(out) == len(qpdf)          # nothing vanished
    assert set(out.level) == {1}          # clamped to deepest built level
    # and the windows are the oracle's level-1 windows
    for r in qpdf.itertuples():
        got = out[out.query_id == r.query_id].iloc[0]
        sc = cat.loc[r.media_ref].copy()
        sc["width"] = int(sc.width) >> 1
        sc["height"] = int(sc.height) >> 1
        sc["pixel_sx"] = sc.pixel_sx * 2
        sc["pixel_sy"] = sc.pixel_sy * 2
        exp = OR.expected_window(c, r, sc, level=1)
        assert got.window_sha256 == exp["sha256"], r.query_id


def test_extract_explicit_level_matches_oracle(spark, corpus, sdfs):
    """extract(level=1) must resolve regions against the LEVEL-1
    geotransform/dims (it used to resolve at level 0 and only stamp the
    key — level-0 pixel regions joined onto the half-size level-1 grid,
    silently producing wrong windows)."""
    out = EX.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                     sdfs["tiles"], level=1).toPandas() \
        .set_index("query_id")
    assert len(out) > 0
    assert (out.level == 1).all()
    cat = corpus.media_catalog.set_index("media_ref", drop=False)
    checked = 0
    for r in corpus.queries_bbox.itertuples():
        if r.query_id not in out.index:
            continue  # pyramid shallower than level 1 (documented drop)
        c = cat.loc[r.media_ref]
        sc = c.copy()
        sc["width"] = int(c.width) >> 1
        sc["height"] = int(c.height) >> 1
        sc["pixel_sx"] = c.pixel_sx * 2
        sc["pixel_sy"] = c.pixel_sy * 2
        exp = OR.expected_window(corpus, r, sc, level=1)
        got = out.loc[r.query_id]
        assert got.window_sha256 == exp["sha256"], r.query_id
        assert got.new_origin_x == exp["new_origin_x"], r.query_id
        checked += 1
    assert checked > 0


def test_clamp_case_targets_mercator_raster():
    """Fixture invariant: the i==7 high-latitude bbox (84.9-89.9) must sit
    on a 3857 raster so the G6 inline-Mercator lat clamp actually runs —
    it used to land on a 4326 raster in both standard corpora, leaving
    the clamp quirk with zero coverage."""
    for n_media in (8, 12):
        c = CP.build_corpus(n_media=n_media, n_docs=10, n_queries=10)
        cat = c.media_catalog.set_index("media_ref")
        q7 = c.queries_bbox[c.queries_bbox.query_id == "qb_0007"].iloc[0]
        assert int(q7.crs) == 4326 and q7.maxy > 85.06
        assert int(cat.loc[q7.media_ref].epsg) == 3857


def test_null_rps_cadence_any_value():
    """null_rps_every <= 5 used to produce ZERO null-rps rasters (the
    trigger was hardcoded to j % n == 5)."""
    cat4 = CP.make_media_catalog(n_media=12, null_rps_every=4)
    strips = cat4[(cat4.media_kind == "raster") & (cat4.tile_w == 0)]
    assert (strips.rows_per_strip == 0).any()


def test_extract_python_broadcast_fallback_parity(spark, corpus, sdfs):
    """Force the python-broadcast path below and the shuffle-join
    fallback above the byte ceiling (round 6: the over-ceiling branch is
    the scale-safe shuffle plan, no blob broadcast): identical results
    either way."""
    from rasterkit_spark.operators import extract as EX
    base = EX.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                      sdfs["tiles"]).select(
        "query_id", "media_ref", "window_sha256").toPandas()
    old_cap = EX.MAX_PY_TILE_BROADCAST
    try:
        EX.MAX_PY_TILE_BROADCAST = 0          # force the JVM-join fallback
        via_join = EX.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                              sdfs["tiles"], broadcast_tiles=True).select(
            "query_id", "media_ref", "window_sha256").toPandas()
    finally:
        EX.MAX_PY_TILE_BROADCAST = old_cap
    via_py = EX.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                        sdfs["tiles"], broadcast_tiles=True).select(
        "query_id", "media_ref", "window_sha256").toPandas()
    key = ["query_id", "media_ref"]
    b = base.sort_values(key).reset_index(drop=True)
    j = via_join.sort_values(key).reset_index(drop=True)
    p = via_py.sort_values(key).reset_index(drop=True)
    assert b.equals(j) and b.equals(p)


def test_over_ceiling_guard_never_collects_blobs(spark, corpus, sdfs,
                                                 monkeypatch):
    """broadcast_tiles with an over-ceiling tile table must fall back to
    the shuffle join WITHOUT ever materializing blob rows on the
    driver: the size check is a cluster-side aggregate, so the only
    driver collects carry blob-free rows (ADVICE r4 — the old guard
    collected the full tile table just to measure it)."""
    # patch the concrete class (pyspark>=4 routes instances through
    # sql.classic.dataframe.DataFrame; the abc's method is never bound)
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:                            # pyspark 3.x
        from pyspark.sql import DataFrame

    collected_schemas = []
    orig_collect = DataFrame.collect

    def spy(self):
        collected_schemas.append([f.name for f in self.schema.fields])
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    monkeypatch.setattr(EX, "MAX_PY_TILE_BROADCAST", 0)
    out = EX.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                     sdfs["tiles"], broadcast_tiles=True)
    assert out.count() > 0
    assert collected_schemas, "guard aggregate should collect one row"
    assert all("blob" not in cols for cols in collected_schemas), \
        f"blob rows reached the driver: {collected_schemas}"

    # same contract for the zonal mirror path
    from rasterkit_spark.operators import spatial as SP
    zc = CP.build_corpus()
    zs = {n: spark.createDataFrame(getattr(zc, n))
          for n in ("zones", "media_catalog", "tiles")}
    collected_schemas.clear()
    n = SP.zonal_stats(zs["zones"], zs["media_catalog"], zs["tiles"],
                       broadcast_tiles=True).count()
    assert n > 0
    assert all("blob" not in cols for cols in collected_schemas), \
        f"zonal blob rows reached the driver: {collected_schemas}"
