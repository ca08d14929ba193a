"""Raster post-ops vs kernels/oracle: filter, circle mask, colormap,
compression conversion, min/max stats, pyramid generation, analyze."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasterkit_spark import kernels as K
from rasterkit_spark.fixtures import corpus as CP
from rasterkit_spark.fixtures import oracle as OR
from rasterkit_spark.operators import extract as EX
from rasterkit_spark.operators import raster_ops as RO


@pytest.fixture(scope="module")
def corpus():
    return CP.build_corpus(n_media=12, n_docs=40, n_queries=15)


@pytest.fixture(scope="module")
def sdfs(spark, corpus):
    return corpus.to_spark(spark)


@pytest.fixture(scope="module")
def windows(spark, sdfs):
    return EX.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                      sdfs["tiles"]).cache()


def _expected_windows(corpus):
    want = OR.expected_all_bbox(corpus).set_index("query_id")
    cat = corpus.media_catalog.set_index("media_ref", drop=False)
    out = {}
    for q in corpus.queries_bbox.itertuples():
        c = cat.loc[q.media_ref]
        if c.media_kind != "raster":
            continue
        out[q.query_id] = OR.expected_window(corpus, q, c)["window"]
    return out


def test_apply_filter_matches_kernel(spark, corpus, windows):
    got = RO.apply_filter(windows, 40, 200).toPandas().set_index("query_id")
    for qid, win in _expected_windows(corpus).items():
        exp = K.filter_values(win, 40, 200, 0)
        assert got.loc[qid, "filtered_sha256"] == \
            hashlib.sha256(exp.tobytes()).hexdigest(), qid


def test_apply_circle_mask_matches_kernel(spark, corpus, windows):
    got = RO.apply_circle_mask(windows).toPandas().set_index("query_id")
    for qid, win in _expected_windows(corpus).items():
        exp = K.apply_circle_mask_rgba(win)
        assert got.loc[qid, "rgba_sha256"] == \
            hashlib.sha256(exp.tobytes()).hexdigest(), qid


def test_apply_colormap_matches_kernel(spark, corpus, sdfs, windows):
    qmeta = sdfs["queries_bbox"].select("query_id", "cmap_id")
    w = windows.join(qmeta, "query_id")
    got = RO.apply_colormap_op(w, sdfs["colormaps"]).toPandas() \
        .set_index("query_id")
    cm = corpus.colormaps
    qb = corpus.queries_bbox.set_index("query_id")
    for qid, win in _expected_windows(corpus).items():
        cid = qb.loc[qid, "cmap_id"]
        if cid is None or (isinstance(cid, float) and pd.isna(cid)):
            exp = np.repeat(win[..., None], 3, axis=2)
        else:
            grp = cm[cm.cmap_id == cid].sort_values("value")
            vals, rgb = K.colormap_trim_and_dedup(
                grp.value.to_numpy(), grp[["r", "g", "b"]].to_numpy())
            exp = K.apply_colormap(win.astype(np.uint16), vals,
                                   rgb.astype(np.uint8), grp.map_type.iloc[0])
        assert got.loc[qid, "rgb_sha256"] == \
            hashlib.sha256(exp.tobytes()).hexdigest(), qid


@pytest.mark.parametrize("target", [1, 8, 14])
def test_convert_compression_roundtrip(spark, corpus, sdfs, target):
    out = RO.convert_compression(sdfs["tiles"], sdfs["media_catalog"], target)
    got = out.toPandas()
    assert (got.compression == target).all()
    # decoded pixels identical to the originals, chunk by chunk
    cat = corpus.media_catalog.set_index("media_ref", drop=False)
    orig = corpus.tiles.set_index(["media_ref", "level", "tile_x", "tile_y"])
    for row in got.sample(n=min(60, len(got)), random_state=1).itertuples():
        c = cat.loc[row.media_ref]
        o = orig.loc[(row.media_ref, row.level, row.tile_x, row.tile_y)]
        want = K.decompress(bytes(o.blob), int(c.compression))
        have = K.decompress(bytes(row.blob), target)
        assert want == have


def test_unsupported_compression_rejected(spark, sdfs):
    with pytest.raises(ValueError, match="Unsupported compression"):
        RO.convert_compression(sdfs["tiles"], sdfs["media_catalog"], 5)  # LZW


@pytest.fixture(scope="module")
def rgb_corpus():
    """Every third raster 3-sample RGB."""
    return CP.build_corpus(n_media=8, n_docs=10, n_queries=10, rgb_every=3)


@pytest.fixture(scope="module")
def rgb_sdfs(spark, rgb_corpus):
    return rgb_corpus.to_spark(spark, ["queries_bbox", "media_catalog",
                                       "tiles"])


def _check_minmax(corpus, sdfs):
    got = RO.grayscale_minmax(sdfs["tiles"], sdfs["media_catalog"]) \
        .toPandas().set_index(["media_ref", "level"])
    for ref, levels in corpus.pixels.items():
        for lvl, img in levels.items():
            mn, mx = K.grayscale_stats(img)
            assert got.loc[(ref, lvl), "min_sample_value"] == mn, (ref, lvl)
            assert got.loc[(ref, lvl), "max_sample_value"] == mx, (ref, lvl)


def test_grayscale_minmax_matches_groundtruth(spark, corpus, sdfs):
    _check_minmax(corpus, sdfs)


def test_grayscale_minmax_matches_groundtruth_rgb(spark, rgb_corpus,
                                                  rgb_sdfs):
    """RGB rasters: the byte min/max over all samples (A2) at every level."""
    assert (rgb_corpus.media_catalog.samples_per_pixel == 3).any()
    _check_minmax(rgb_corpus, rgb_sdfs)


def _check_pyramid(corpus, sdfs):
    """Generated level-1 rows must decode to the fixture's level-1 pixels
    (which were produced by box-reducing the full image)."""
    gen = RO.build_pyramid(sdfs["tiles"], sdfs["media_catalog"], 0).toPandas()
    cat = corpus.media_catalog.set_index("media_ref", drop=False)
    fixture_l1 = corpus.tiles[corpus.tiles.level == 1] \
        .set_index(["media_ref", "tile_x", "tile_y"])
    assert len(gen) == len(fixture_l1)
    for row in gen.itertuples():
        c = cat.loc[row.media_ref]
        o = fixture_l1.loc[(row.media_ref, row.tile_x, row.tile_y)]
        want = K.decompress(bytes(o.blob), int(c.compression))
        have = K.decompress(bytes(row.blob), int(c.compression))
        assert want == have, (row.media_ref, row.tile_x, row.tile_y)
    return gen


def test_build_pyramid_matches_fixture_overviews(spark, corpus, sdfs):
    _check_pyramid(corpus, sdfs)


def test_build_pyramid_matches_fixture_overviews_rgb(spark, rgb_corpus,
                                                     rgb_sdfs):
    """RGB rasters reduce per sample and re-encode 3-sample chunks."""
    gen = _check_pyramid(rgb_corpus, rgb_sdfs)
    cat = rgb_corpus.media_catalog.set_index("media_ref")
    assert (cat.loc[gen.media_ref, "samples_per_pixel"] == 3).any()


def test_analyze(spark, sdfs):
    got = RO.analyze(sdfs["media_catalog"]).toPandas()
    assert set(got.compression_name) <= {"None", "Deflate (zlib)", "ZStd"}
    assert set(got.layout) <= {"tiled", "stripped", "vector"}
    assert (got[got.nodata_value.notna()].nodata_value != "").all()
    # ':w 255' quirk normalized, '' defaults to 255
    assert "255" in set(got.nodata_value)


def test_apply_filter_transparency_matches_kernel(spark, corpus, windows):
    got = RO.apply_filter_transparency(windows, 40, 200).toPandas() \
        .set_index("query_id")
    for qid, win in _expected_windows(corpus).items():
        exp = K.filter_values_transparency(win, 40, 200)
        assert got.loc[qid, "rgba_sha256"] == \
            hashlib.sha256(exp.tobytes()).hexdigest(), qid


def test_write_windows_geotiff_executor_side(spark, tmp_path):
    """K1 at scale: clipped windows written as GeoTIFF files by the task
    that holds them; geo tags (pixel scale, adjusted tiepoint, geokeys)
    round-trip through the codec.  RGB windows write 3-sample TIFFs."""
    import numpy as np
    import pandas as pd

    from rasterkit_spark.io import tiffcodec as TC
    from rasterkit_spark.operators import sinks as SK

    rng = np.random.default_rng(3)
    g = rng.integers(0, 256, (8, 11), dtype=np.uint8)
    rgb = rng.integers(0, 256, (6, 7, 3), dtype=np.uint8)
    rows = [
        dict(query_id="q1", media_ref="m1", region_w=11, region_h=8,
             samples_per_pixel=1, window=bytearray(g.tobytes()),
             new_origin_x=100.5, new_origin_y=200.5,
             pixel_sx=0.25, pixel_sy=0.25, epsg=3857),
        dict(query_id="q2", media_ref="m2", region_w=7, region_h=6,
             samples_per_pixel=3, window=bytearray(rgb.tobytes()),
             new_origin_x=-10.0, new_origin_y=20.0,
             pixel_sx=1.0, pixel_sy=1.0, epsg=4326),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out_dir = str(tmp_path / "tifs")
    receipts = SK.write_windows_geotiff(df, out_dir).toPandas() \
        .set_index("query_id")
    assert len(receipts) == 2

    buf = open(receipts.loc["q1", "path"], "rb").read()
    ifds, _, _ = TC.read_tiff(buf)
    ifd = ifds[0]
    assert (ifd.get(TC.TAG_WIDTH), ifd.get(TC.TAG_HEIGHT)) == (11, 8)
    scale = ifd.entries[TC.TAG_PIXEL_SCALE].values
    assert scale[:2] == [0.25, 0.25]
    tie = ifd.entries[TC.TAG_TIEPOINT].values
    assert tie[3:5] == [100.5, 200.5]
    assert TC.epsg_from_geo_keys(TC.parse_geo_key_directory(ifd)) == 3857
    off = ifd.entries[TC.TAG_STRIP_OFFSETS].values[0]
    cnt = ifd.entries[TC.TAG_STRIP_BYTE_COUNTS].values[0]
    np.testing.assert_array_equal(
        np.frombuffer(buf[off:off+cnt], np.uint8).reshape(8, 11), g)

    buf2 = open(receipts.loc["q2", "path"], "rb").read()
    ifd2 = TC.read_tiff(buf2)[0][0]
    assert ifd2.get(TC.TAG_SAMPLES_PER_PIXEL) == 3
    assert ifd2.get(TC.TAG_PHOTOMETRIC) == 2
    off2 = ifd2.entries[TC.TAG_STRIP_OFFSETS].values[0]
    cnt2 = ifd2.entries[TC.TAG_STRIP_BYTE_COUNTS].values[0]
    np.testing.assert_array_equal(
        np.frombuffer(buf2[off2:off2+cnt2], np.uint8).reshape(6, 7, 3), rgb)
    assert TC.epsg_from_geo_keys(TC.parse_geo_key_directory(ifd2)) == 4326


def test_single_band_post_ops_luma_collapse_rgb(spark, rgb_sdfs):
    """apply_filter / transparency / circle mask / colormap / render_windows
    on RGB windows must luma-collapse (the reference grayscales before
    every single-band post-op) — a plain reshape(h, w) on the 3-sample
    buffer used to crash the stage."""
    from rasterkit_spark.operators import sinks as SK
    sd = rgb_sdfs
    w = EX.extract(sd["queries_bbox"], sd["media_catalog"], sd["tiles"])
    assert w.filter("samples_per_pixel = 3").count() > 0
    filt = RO.apply_filter(w, 10, 200).toPandas()
    assert (filt.samples_per_pixel == 1).all()
    RO.apply_filter_transparency(w, 10, 200).toPandas()
    RO.apply_circle_mask(w).toPandas()
    rendered = SK.render_windows(w, "npy").toPandas()
    assert len(rendered) == len(filt)
    key = ["query_id", "media_ref"]
    # parity: op(RGB window) == op(luma(RGB window))
    luma = RO.to_luma_op(w)
    luma_first = RO.apply_filter(luma, 10, 200).toPandas()
    a = filt.set_index(key).filtered_sha256
    b = luma_first.set_index(key).filtered_sha256
    assert a.sort_index().equals(b.sort_index())
    cmaps = spark.createDataFrame(pd.DataFrame({
        "cmap_id": "c", "map_type": "ramp", "value": [0, 128, 255],
        "r": [0, 255, 10], "g": [0, 0, 200], "b": [255, 0, 30]}))
    rgb = RO.apply_colormap_op(w.withColumn("cmap_id", F.lit("c")), cmaps)
    gray = RO.apply_colormap_op(luma.withColumn("cmap_id", F.lit("c")),
                                cmaps)
    a = rgb.toPandas().set_index(key).rgb_sha256
    b = gray.toPandas().set_index(key).rgb_sha256
    assert len(a) == len(filt)
    assert a.sort_index().equals(b.sort_index())
