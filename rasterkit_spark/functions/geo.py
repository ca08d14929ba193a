"""Coordinate / region math as Spark *Column expressions* (G1-G12).

These are the JVM-side (whole-stage-codegen) twins of the numpy kernels in
:mod:`rasterkit_spark.kernels`.  Same formulas, same reference citations,
same quirks — tests assert the two implementations agree to float precision.
Use these on relational paths (region resolution over millions of query
rows); use the kernels inside ``mapInPandas`` pixel paths.

No UDFs here: everything is built-in ``pyspark.sql.functions``, so Catalyst
can constant-fold, push down, and codegen all of it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels import (
    EARTH_RADIUS,
    LAT_CLAMP_INLINE,
    LAT_CLAMP_TRANSFORMER,
    MERC_MAX_INLINE,
    METERS_PER_DEG_LAT,
)

DOUBLE = "double"


def _clamp(c: Column, lo: float, hi: float) -> Column:
    return F.least(F.greatest(c, F.lit(float(lo))), F.lit(float(hi)))


# ---------------------------------------------------------------------------
# G1 / G1b / G2 — Mercator
# ---------------------------------------------------------------------------

def merc_x(lon: Column) -> Column:
    """x = lon·R·π/180 (src/coordinate/transform.rs:23)."""
    return lon * F.lit(EARTH_RADIUS * math.pi / 180.0)


def merc_y(lat: Column) -> Column:
    """y = ln(tan((90+lat)·π/360))·R, clamp ±85.05 (transform.rs:20-24)."""
    lat_c = _clamp(lat, -LAT_CLAMP_TRANSFORMER, LAT_CLAMP_TRANSFORMER)
    return F.log(F.tan((F.lit(90.0) + lat_c) * F.lit(math.pi / 360.0))) * F.lit(EARTH_RADIUS)


def merc_x_inline(lon: Column) -> Column:
    """x = lon·20037508.34/180 — the inline region-math variant
    (src/utils/image_extraction_utils.rs:264)."""
    return lon * F.lit(MERC_MAX_INLINE / 180.0)


def merc_y_inline(lat: Column) -> Column:
    """y = ln(tan((lat+90)·π/360))·20037508.34/π, clamp ±85.06
    (src/utils/image_extraction_utils.rs:255-269)."""
    lat_c = _clamp(lat, -LAT_CLAMP_INLINE, LAT_CLAMP_INLINE)
    return (F.log(F.tan((lat_c + F.lit(90.0)) * F.lit(math.pi / 360.0)))
            * F.lit(MERC_MAX_INLINE / math.pi))


def inv_merc_lon(x: Column) -> Column:
    """lon = x·180/(R·π) (transform.rs:32)."""
    return x * F.lit(180.0 / (EARTH_RADIUS * math.pi))


def inv_merc_lat(y: Column) -> Column:
    """lat = (2·atan(e^{y/R}) − π/2)·180/π (transform.rs:33)."""
    return (F.atan(F.exp(y / F.lit(EARTH_RADIUS))) * F.lit(2.0)
            - F.lit(math.pi / 2.0)) * F.lit(180.0 / math.pi)


# ---------------------------------------------------------------------------
# G3/G4 — point + radius → bbox
# ---------------------------------------------------------------------------

def meters_per_lon_degree(lat: Column) -> Column:
    """111320·cos(lat) (src/utils/coordinate_utils.rs:178-184)."""
    return F.lit(METERS_PER_DEG_LAT) * F.cos(F.radians(lat))


def bbox_from_point_radius(x: Column, y: Column, radius: Column,
                           epsg: Column) -> list[Column]:
    """Point+radius → (minx, miny, maxx, maxy), per-CRS
    (src/utils/coordinate_utils.rs:30-154).

    Mercator aliases: ±radius in meters.  4326: lat buffer = r/111320,
    lon buffer = r/(111320·cos(lat)).  Generic CRSes use the ellipsoidal
    average series (coordinate_utils.rs:198-232).
    """
    is_merc = epsg.isin(3857, 3785, 900913)
    is_wgs = epsg == 4326

    lat_buf = radius / F.lit(METERS_PER_DEG_LAT)
    lon_buf = radius / meters_per_lon_degree(y)

    lat_rad = F.radians(F.abs(y))
    lat_len = (F.lit(111_132.92) - F.lit(559.82) * F.cos(lat_rad * 2)
               + F.lit(1.175) * F.cos(lat_rad * 4))
    lon_len = F.lit(111_412.84) * F.cos(lat_rad) - F.lit(93.5) * F.cos(lat_rad * 3)
    generic_buf = radius / ((lat_len + lon_len) / 2)

    def pick(m, w, g):
        return F.when(is_merc, m).when(is_wgs, w).otherwise(g)

    return [
        pick(x - radius, x - lon_buf, x - generic_buf).alias("minx"),
        pick(y - radius, y - lat_buf, y - generic_buf).alias("miny"),
        pick(x + radius, x + lon_buf, x + generic_buf).alias("maxx"),
        pick(y + radius, y + lat_buf, y + generic_buf).alias("maxy"),
    ]


# ---------------------------------------------------------------------------
# G5/G6/G7 — bbox → pixel region.  Each formula is written once, as a piece
# over Columns; the per-arm functions compose the pieces into one select,
# the dispatch stages them into successive projections.
# ---------------------------------------------------------------------------

def _pixel_bounds(minx: Column, miny: Column, maxx: Column, maxy: Column,
                  origin_x: Column, pixel_w: Column,
                  origin_y: Column, pixel_h: Column) -> list[Column]:
    """[min_x_px, min_y_px, max_x_px, max_y_px] of a bbox already in the
    raster's CRS (src/utils/image_extraction_utils.rs:193-223).

    Quirk: floor min_x / ceil max_x in X, but floor on *both* Y conversions.
    """
    return [F.floor((minx - origin_x) / pixel_w),
            F.floor((maxy - origin_y) / pixel_h),
            F.ceil((maxx - origin_x) / pixel_w),
            F.floor((miny - origin_y) / pixel_h)]


def _clamped_origin(min_x_px: Column, min_y_px: Column,
                    iw: Column, ih: Column) -> list[Column]:
    return [F.greatest(F.lit(0), F.least(min_x_px, iw - 1)),
            F.greatest(F.lit(0), F.least(min_y_px, ih - 1))]


def _clipped_size(min_x_px: Column, min_y_px: Column, max_x_px: Column,
                  max_y_px: Column, x: Column, y: Column,
                  iw: Column, ih: Column) -> list[Column]:
    return [F.least(F.greatest(max_x_px - min_x_px, F.lit(1)), iw - x),
            F.least(F.greatest(max_y_px - min_y_px, F.lit(1)), ih - y)]


def _merc_in_bounds(min_x_px: Column, min_y_px: Column, max_x_px: Column,
                    max_y_px: Column, iw: Column, ih: Column) -> Column:
    """G6: the projected bbox touches the image (rs:284-292)."""
    return ((min_x_px < iw) & (max_x_px >= 0)
            & (min_y_px < ih) & (max_y_px >= 0))


def _merc_fallback_size(radius_m: Column, pixel_w: Column) -> Column:
    """G6 fallback size: trunc(2r/|pw|) or 1000 px (rs:294-303).  NaN radius
    counts as absent, like the numpy twin (a bare CAST(NaN AS BIGINT) would
    yield 0 — a degenerate region — where the kernel returns 1000 px)."""
    return F.when(radius_m.isNull() | F.isnan(radius_m),
                  F.lit(1000).cast("long")) \
        .otherwise((radius_m * 2 / F.abs(pixel_w)).cast("long"))


def _generic_fallback_size(radius_m: Column, pixel_w: Column) -> Column:
    """G7 fallback size: clamp(ceil(2r/|pw|), 100, 5000) or 100 px
    (rs:341-414)."""
    return F.when(
        radius_m.isNull(), F.lit(100).cast("long")
    ).otherwise(
        F.greatest(F.lit(100).cast("long"),
                   F.least(F.lit(5000).cast("long"),
                           F.ceil(radius_m * 2 / F.abs(pixel_w)))))


def _centered_origin(size: Column, iw: Column, ih: Column) -> list[Column]:
    """Fallback placement, saturating at 0; center and half-size use
    integer division (rs:298,304-305,309-314 and the G7 twin)."""
    half = (size / 2).cast("long")
    return [F.greatest((iw / 2).cast("long") - half, F.lit(0)),
            F.greatest((ih / 2).cast("long") - half, F.lit(0))]


def _crude_transform(minx: Column, miny: Column, maxx: Column, maxy: Column,
                     source_epsg: Column) -> list[Column]:
    """G7 ``try_transform_bbox`` (rs:158-181): 4326 → crude meters scaling
    at the bbox center latitude; every other CRS passes through."""
    is_wgs = source_epsg == 4326
    m_lat = F.lit(METERS_PER_DEG_LAT)
    m_lon = m_lat * F.cos(F.radians((miny + maxy) / 2))
    return [F.when(is_wgs, minx * m_lon).otherwise(minx),
            F.when(is_wgs, miny * m_lat).otherwise(miny),
            F.when(is_wgs, maxx * m_lon).otherwise(maxx),
            F.when(is_wgs, maxy * m_lat).otherwise(maxy)]


_REGION_NAMES = ["region_x", "region_y", "region_w", "region_h"]


def region_same_crs(minx: Column, miny: Column, maxx: Column, maxy: Column,
                    origin_x: Column, pixel_w: Column,
                    origin_y: Column, pixel_h: Column,
                    img_w: Column, img_h: Column) -> list[Column]:
    """``convert_same_crs_to_pixels``
    (src/utils/image_extraction_utils.rs:193-223).

    Returns [x, y, w, h] long columns aliased region_x/y/w/h.
    """
    iw, ih = img_w.cast("long"), img_h.cast("long")
    px = _pixel_bounds(minx, miny, maxx, maxy,
                       origin_x, pixel_w, origin_y, pixel_h)
    x, y = _clamped_origin(px[0], px[1], iw, ih)
    w, h = _clipped_size(*px, x, y, iw, ih)
    return [c.alias(n) for c, n in zip([x, y, w, h], _REGION_NAMES)]


def region_wgs84_on_mercator(minx: Column, miny: Column,
                             maxx: Column, maxy: Column,
                             origin_x: Column, pixel_w: Column,
                             origin_y: Column, pixel_h: Column,
                             img_w: Column, img_h: Column,
                             radius_m: Column) -> list[Column]:
    """``convert_wgs84_to_web_mercator``
    (src/utils/image_extraction_utils.rs:238-328), including the
    centered-fallback when the projected bbox misses the image entirely
    (lines 294-315: size = trunc(2r/pw) or 1000, saturating placement).
    """
    iw, ih = img_w.cast("long"), img_h.cast("long")
    px = _pixel_bounds(merc_x_inline(minx), merc_y_inline(miny),
                       merc_x_inline(maxx), merc_y_inline(maxy),
                       origin_x, pixel_w, origin_y, pixel_h)
    x, y = _clamped_origin(px[0], px[1], iw, ih)
    w, h = _clipped_size(*px, x, y, iw, ih)
    in_bounds = _merc_in_bounds(*px, iw, ih)
    size = _merc_fallback_size(radius_m, pixel_w)
    fb_x, fb_y = _centered_origin(size, iw, ih)
    fb = [fb_x, fb_y, F.least(size, iw), F.least(size, ih)]
    return [F.when(in_bounds, c).otherwise(f).alias(n)
            for c, f, n in zip([x, y, w, h], fb, _REGION_NAMES)]


#: intermediate columns of :func:`region_dispatch_stages`
REGION_STAGE_COLS = [
    "_rg_arm", "_rg_iw", "_rg_ih", "_rg_x0", "_rg_y0", "_rg_x1", "_rg_y1",
    "_rg_px0", "_rg_py0", "_rg_px1", "_rg_py1", "_rg_x", "_rg_y",
    "_rg_size", "_rg_inb", "_rg_w", "_rg_h", "_rg_fx", "_rg_fy", "_rg_cx",
    "_rg_cy", "_rg_ok", "_rg_cw", "_rg_ch", "_rg_fw", "_rg_fh"]


def region_dispatch_stages(minx: Column, miny: Column, maxx: Column,
                           maxy: Column, source_epsg: Column,
                           target_epsg: Column,
                           origin_x: Column, pixel_w: Column,
                           origin_y: Column, pixel_h: Column,
                           img_w: Column, img_h: Column,
                           radius_m: Column) -> list[list[Column]]:
    """Full ``generic_crs_to_pixel_region`` dispatch
    (src/utils/image_extraction_utils.rs:104-147): 4326→3857 special case
    (G6), same-CRS direct (G5), otherwise crude transform + same-CRS +
    ``adjust_region_to_image_bounds`` (G7, lines 126-147 and 341-414 —
    approximate by design, replicated, not fixed).

    Returned as successive narrow projections: apply each list with
    ``df.select("*", *stage)`` in order, then drop
    :data:`REGION_STAGE_COLS`; region_x/y/w/h remain.  Each stage reads the
    previous one's columns by name, so a shared value (the pixel bounds
    feed the origin, the size, the in-bounds test and the fallback) is one
    column, not a subtree copied into every consumer — written as one
    expression per field, the dispatch analyzed to trees of 766 nodes.
    The arms share one pixel-bounds formula over their projected bbox
    (inline Mercator, identity, crude meters scaling).
    """
    c = F.col
    arm, iw, ih = c("_rg_arm"), c("_rg_iw"), c("_rg_ih")
    x, y, w, h = c("_rg_x"), c("_rg_y"), c("_rg_w"), c("_rg_h")
    cx, cy, size = c("_rg_cx"), c("_rg_cy"), c("_rg_size")
    proj = zip([merc_x_inline(minx), merc_y_inline(miny),
                merc_x_inline(maxx), merc_y_inline(maxy)],
               [minx, miny, maxx, maxy],
               _crude_transform(minx, miny, maxx, maxy, source_epsg),
               ["_rg_x0", "_rg_y0", "_rg_x1", "_rg_y1"])
    px = [c("_rg_px0"), c("_rg_py0"), c("_rg_px1"), c("_rg_py1")]
    # G7 bounds adjust: outside or zero-sized → fallback, else clip
    bad = (x >= iw) | (y >= ih) | (w == 0) | (h == 0)
    return [
        # arm: 0 = 4326 bbox on a 3857 raster, 1 = same CRS, 2 = generic
        [F.when((source_epsg == 4326) & (target_epsg == 3857), 0)
          .when(source_epsg == target_epsg, 1).otherwise(2).alias("_rg_arm"),
         img_w.cast("long").alias("_rg_iw"),
         img_h.cast("long").alias("_rg_ih")],
        [F.when(arm == 0, m).when(arm == 1, s).otherwise(g).alias(n)
         for m, s, g, n in proj],
        [p.alias(n) for p, n in zip(
            _pixel_bounds(c("_rg_x0"), c("_rg_y0"), c("_rg_x1"), c("_rg_y1"),
                          origin_x, pixel_w, origin_y, pixel_h),
            ["_rg_px0", "_rg_py0", "_rg_px1", "_rg_py1"])],
        [*(v.alias(n) for v, n in zip(_clamped_origin(px[0], px[1], iw, ih),
                                      ["_rg_x", "_rg_y"])),
         F.when(arm == 0, _merc_fallback_size(radius_m, pixel_w))
          .otherwise(_generic_fallback_size(radius_m, pixel_w))
          .alias("_rg_size"),
         _merc_in_bounds(*px, iw, ih).alias("_rg_inb")],
        [*(v.alias(n) for v, n in zip(_clipped_size(*px, x, y, iw, ih),
                                      ["_rg_w", "_rg_h"])),
         *(v.alias(n) for v, n in zip(_centered_origin(size, iw, ih),
                                      ["_rg_fx", "_rg_fy"])),
         F.when((arm == 2) & (x >= iw), iw - 1).otherwise(x).alias("_rg_cx"),
         F.when((arm == 2) & (y >= ih), ih - 1).otherwise(y).alias("_rg_cy")],
        # _rg_ok: keep the clipped region; F.when reads a NULL test as
        # false, so NULL means "not in bounds" (G6) and "not bad" (G7)
        [F.when(arm == 0, F.coalesce(c("_rg_inb"), F.lit(False)))
          .when(arm == 1, F.lit(True))
          .otherwise(~F.coalesce(bad, F.lit(False))).alias("_rg_ok"),
         F.when(arm == 2, F.greatest(
             F.when(cx + w > iw, iw - cx).otherwise(w), F.lit(1)))
          .otherwise(w).alias("_rg_cw"),
         F.when(arm == 2, F.greatest(
             F.when(cy + h > ih, ih - cy).otherwise(h), F.lit(1)))
          .otherwise(h).alias("_rg_ch"),
         F.when(arm == 0, F.least(size, iw))
          .otherwise(F.least(size, iw - c("_rg_fx"))).alias("_rg_fw"),
         F.when(arm == 0, F.least(size, ih))
          .otherwise(F.least(size, ih - c("_rg_fy"))).alias("_rg_fh")],
        [F.when(c("_rg_ok"), c(f"_rg_c{k}")).otherwise(c(f"_rg_f{k}"))
          .alias(n) for k, n in zip("xywh", _REGION_NAMES)],
    ]


# ---------------------------------------------------------------------------
# G8/G9/G10 — geotransform columns
# ---------------------------------------------------------------------------

def geotransform_cols(scale_x: Column, scale_y: Column,
                      tie_i: Column, tie_j: Column,
                      tie_x: Column, tie_y: Column) -> list[Column]:
    """pw=scale[0], ph=−scale[1], ox=tie[3]−tie[0]·pw, oy=tie[4]+tie[1]·(−ph)
    (src/utils/image_extraction_utils.rs:51-86)."""
    pw = scale_x
    ph = -scale_y
    ox = tie_x - tie_i * pw
    oy = tie_y + tie_j * (-ph)
    return [ox.alias("origin_x"), pw.alias("pixel_w"),
            oy.alias("origin_y"), ph.alias("pixel_h")]


def adjusted_tiepoint_cols(region_x: Column, region_y: Column,
                           origin_x: Column, origin_y: Column,
                           scale_x: Column, scale_y: Column) -> list[Column]:
    """New map origin of an extracted window
    (src/tiff/builders/geo_tags.rs:144-146)."""
    return [
        (origin_x + region_x.cast(DOUBLE) * scale_x).alias("new_origin_x"),
        (origin_y - region_y.cast(DOUBLE) * F.abs(scale_y)).alias("new_origin_y"),
    ]


def bounds_cols(origin_x: Column, origin_y: Column,
                width: Column, height: Column,
                px: Column, py: Column) -> list[Column]:
    """(minx, miny, maxx, maxy) of a raster footprint
    (src/tiff/geo_key_parser.rs:435-446)."""
    return [
        origin_x.alias("minx"),
        (origin_y - height.cast(DOUBLE) * py).alias("miny"),
        (origin_x + width.cast(DOUBLE) * px).alias("maxx"),
        origin_y.alias("maxy"),
    ]


# ---------------------------------------------------------------------------
# J1/J2 — chunk range columns
# ---------------------------------------------------------------------------

def tile_range_cols(region_x: Column, region_y: Column,
                    region_w: Column, region_h: Column,
                    tile_w: Column, tile_h: Column) -> list[Column]:
    """Covered tile ranges, half-open (src/extractor/tile_reader.rs:148-152)."""
    end_x = region_x + region_w
    end_y = region_y + region_h
    return [
        (region_x / tile_w).cast("long").alias("start_tile_x"),
        (region_y / tile_h).cast("long").alias("start_tile_y"),
        ((end_x + tile_w - 1) / tile_w).cast("long").alias("end_tile_x"),
        ((end_y + tile_h - 1) / tile_h).cast("long").alias("end_tile_y"),
    ]


# ---------------------------------------------------------------------------
# G12 — EPSG classification
# ---------------------------------------------------------------------------

def classify_epsg(epsg: Column) -> Column:
    """WGS84 / WebMercator / UTM / Other (src/coordinate/crs.rs:57-65)."""
    return (F.when(epsg == 4326, F.lit("WGS84"))
             .when(epsg.isin(3857, 3785, 900913), F.lit("WebMercator"))
             .when((epsg >= 32601) & (epsg <= 32660), F.lit("UTM-North"))
             .when((epsg >= 32701) & (epsg <= 32760), F.lit("UTM-South"))
             .otherwise(F.lit("Other")))
