"""Region dispatch end to end: ``extract.resolve_regions`` (the staged
Column dispatch) against ``kernels.generic_crs_to_pixel_region`` on
hand-built queries that hit every arm — 4326 on 3857 (G6), same CRS (G5)
and the generic crude-transform path (G7) — in bounds and off the image,
with radius_m NULL, NaN and set.

Off the image, G6 falls back to a centered window.  G7 does not: its
same-CRS step clamps the origin into the image first, so the
bounds-adjust fallback (origin past the edge, or zero size) never fires
for an image with positive dimensions, and an off-image bbox resolves to
a 1-pixel sliver on the nearest edge — in both implementations."""

import numpy as np
import pandas as pd

from rasterkit_spark import kernels as K
from rasterkit_spark.operators import extract as EX

NAN = float("nan")

CATALOG = pd.DataFrame([
    # media_ref, epsg, origin_x, origin_y, pixel, width, height
    ("merc", 3857, 1.19e6, 8.39e6, 100.0, 640, 480),
    ("wgs", 4326, 10.0, 60.0, 0.01, 500, 400),
    ("utm", 32633, 270_000.0, 6.69e6, 100.0, 300, 300),
], columns=["media_ref", "epsg", "origin_x", "origin_y", "pixel_sx",
            "width", "height"]).assign(
    media_kind="raster", pixel_sy=lambda d: d.pixel_sx, tile_w=64,
    tile_h=64, rows_per_strip=0, compression=1, predictor=1)


def _lonlat(x, y):
    lon, lat = K.webmercator_to_wgs84(np.array([x]), np.array([y]))
    return float(lon[0]), float(lat[0])


def _queries() -> list[tuple]:
    """(query_id, media_ref, minx, miny, maxx, maxy, crs, radius_m,
    centered)."""
    lon0, lat0 = _lonlat(1.20e6, 8.36e6)
    lon1, lat1 = _lonlat(1.23e6, 8.38e6)
    rows = []
    for tag, r in (("null", None), ("nan", NAN), ("set", 5_000.0)):
        rows += [
            # G6: 4326 bbox on the 3857 raster, inside and far outside
            (f"g6_in_{tag}", "merc", lon0, lat0, lon1, lat1, 4326, r, False),
            (f"g6_out_{tag}", "merc", -70.0, -40.0, -69.0, -39.0, 4326, r,
             True),
            # G5: same CRS
            (f"g5_{tag}", "merc", 1.20e6, 8.36e6, 1.23e6, 8.38e6, 3857, r,
             False),
            # G7: a 3857 bbox on the 4326 raster (no transform: the
            # coordinates are read as degrees), inside and outside
            (f"g7_in_{tag}", "wgs", 10.5, 57.0, 11.5, 58.5, 3857, r, False),
            (f"g7_out_{tag}", "wgs", 1.2e6, 8.3e6, 1.3e6, 8.4e6, 3857, r,
             False),
            # G7: a 4326 bbox on a UTM raster (crude meters scaling at the
            # center latitude), inside and outside
            (f"g7_tr_in_{tag}", "utm", 4.9, 59.9, 5.2, 60.05, 4326, r,
             False),
            (f"g7_tr_out_{tag}", "utm", 40.0, 10.0, 41.0, 11.0, 4326, r,
             False),
        ]
    return rows


def test_resolve_regions_matches_kernel_dispatch(spark):
    qs = _queries()
    # built from tuples, not pandas: a pandas float column cannot keep a
    # NULL radius apart from a NaN one
    queries = spark.createDataFrame(
        [q[:-1] for q in qs],
        "query_id string, media_ref string, minx double, miny double, "
        "maxx double, maxy double, crs int, radius_m double")
    got = EX.resolve_regions(queries, spark.createDataFrame(CATALOG)) \
        .select("query_id", "region_x", "region_y", "region_w", "region_h") \
        .toPandas().set_index("query_id")
    assert len(got) == len(qs)
    cat = CATALOG.set_index("media_ref")
    for qid, ref, minx, miny, maxx, maxy, crs, radius, centered in qs:
        c = cat.loc[ref]
        want = tuple(int(v) for v in K.generic_crs_to_pixel_region(
            minx, miny, maxx, maxy, c.origin_x, c.pixel_sx, c.origin_y,
            -c.pixel_sy, c.width, c.height, crs, int(c.epsg), radius))
        x, y, w, h = (int(v) for v in got.loc[qid])
        assert (x, y, w, h) == want, qid
        # the row took the intended branch: only G6 fallbacks are centered
        assert (x == c.width // 2 - w // 2
                and y == c.height // 2 - h // 2) == centered, (qid, want)
