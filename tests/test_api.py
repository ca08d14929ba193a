"""Public facade smoke + semantics: every reference API call has an engine
twin and composes correctly (filter→colormap→mask order)."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasterkit_spark import api, kernels as K
from rasterkit_spark.fixtures import corpus as CP


@pytest.fixture(scope="module")
def env(spark):
    c = CP.build_corpus(n_media=10, n_docs=20, n_queries=12)
    return c, c.to_spark(spark)


def test_list_compression_methods():
    assert api.list_compression_methods() == [
        (1, "None"), (8, "Deflate (zlib)"), (14, "ZStd")]


def test_analyze_and_extract(env):
    c, sdfs = env
    assert api.analyze(sdfs["media_catalog"]).count() == len(c.media_catalog)
    out = api.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                      sdfs["tiles"])
    assert out.count() > 0


def test_extract_point_queries_via_facade(env):
    c, sdfs = env
    out = api.extract(sdfs["queries_point"], sdfs["media_catalog"],
                      sdfs["tiles"])
    assert out.count() > 0


def test_extract_postop_order(env):
    """Filter then colormap: filtered-to-background pixels must map through
    the colormap as value 0 (reference post-op order,
    extract_command.rs:567-711)."""
    c, sdfs = env
    q = sdfs["queries_bbox"].limit(3)
    out = api.extract(q, sdfs["media_catalog"], sdfs["tiles"],
                      filter_range=(40, 200),
                      colormaps=sdfs["colormaps"]).toPandas()
    cm = c.colormaps
    checked = 0
    for row in out.itertuples():
        if row.cmap_id is None or (isinstance(row.cmap_id, float)
                                   and row.cmap_id != row.cmap_id):
            continue
        win = np.frombuffer(bytes(row.window), dtype=np.uint8) \
            .reshape(row.region_h, row.region_w)
        filt = K.filter_values(win, 40, 200, 0)
        grp = cm[cm.cmap_id == row.cmap_id].sort_values("value")
        vals, rgb = K.colormap_trim_and_dedup(
            grp.value.to_numpy(), grp[["r", "g", "b"]].to_numpy())
        exp = K.apply_colormap(filt.astype(np.uint16), vals,
                               rgb.astype(np.uint8), grp.map_type.iloc[0])
        assert row.rgb_sha256 == hashlib.sha256(exp.tobytes()).hexdigest()
        checked += 1
    assert checked > 0  # at least one colormap row must actually verify


def test_extract_array_and_colormap_sld(env):
    c, sdfs = env
    arr = api.extract_array(sdfs["queries_bbox"].limit(2),
                            sdfs["media_catalog"], sdfs["tiles"], "csv")
    assert arr.count() > 0
    sld = api.extract_colormap(sdfs["colormaps"], "cm_ramp")
    assert "<ColorMapEntry" in sld


def test_build_pyramid_two_levels(env):
    c, sdfs = env
    out = api.build_pyramid(sdfs["tiles"], sdfs["media_catalog"], levels=2)
    pdf = out.toPandas()
    assert set(pdf.level) == {1, 2}
    # level-2 rows decode identically to fixture level-2 tiles
    fixture = c.tiles[c.tiles.level == 2].set_index(
        ["media_ref", "tile_x", "tile_y"])
    cat = c.media_catalog.set_index("media_ref", drop=False)
    gen2 = pdf[pdf.level == 2]
    assert len(gen2) == len(fixture)
    for r in gen2.itertuples():
        crow = cat.loc[r.media_ref]
        want = K.decompress(bytes(fixture.loc[(r.media_ref, r.tile_x,
                                               r.tile_y)].blob),
                            int(crow.compression))
        have = K.decompress(bytes(r.blob), int(crow.compression))
        assert want == have


def test_build_pyramid_stops_below_one_pixel(env):
    """Levels past a raster's last (1-pixel) overview yield no rows for it:
    a 0-pixel-wide strip level used to divide by zero in the parent key."""
    c, sdfs = env
    got = api.build_pyramid(sdfs["tiles"], sdfs["media_catalog"], levels=7) \
        .groupBy("media_ref").agg(F.max("level").alias("top")).toPandas()
    cat = c.media_catalog.set_index("media_ref")
    for r in got.itertuples():
        w, h = cat.loc[r.media_ref, ["width", "height"]]
        assert (int(w) >> r.top) >= 1 and (int(h) >> r.top) >= 1, r
        assert (int(w) >> (r.top + 1)) == 0 or (int(h) >> (r.top + 1)) == 0, r


def test_spatial_facade(env):
    import pandas as pd
    c, sdfs = env
    spark = sdfs["zones"].sparkSession
    pts = spark.createDataFrame(pd.DataFrame({
        "id": ["a", "b"], "lon": [10.0, 20.0], "lat": [5.0, -5.0]}))
    cells = api.index_cells(pts, "lon", "lat", 10)
    assert "cell" in cells.columns
    out = api.knn_join(pts, pts.selectExpr("id as qid", "lon", "lat"), 1,
                       point_id="id", query_id="qid",
                       x_col="lon", y_col="lat", res=4)
    got = out.toPandas()
    assert dict(zip(got.qid, got.nbr_id)) == {"a": "a", "b": "b"}
