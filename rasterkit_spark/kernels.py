"""Shared numpy kernels — the executable spec.

These functions are the *single* implementation of every byte-parity-critical
formula in the engine.  They are used both by the pytest oracle (driving
expected-output fixtures) and inside Arrow-batched pandas UDFs / ``mapInPandas``
on executors, so the oracle and the distributed path can never drift.

Every formula is traced to the reference (mauricemojito/rasterkit,
read-only at /root/reference) by file:line.  Reference quirks are replicated
deliberately, never "fixed" — see the per-function docstrings.

All kernels are vectorized over numpy arrays (no per-row Python in the hot
path, per BASELINE.json ``input_hint``).
"""

from __future__ import annotations

import math
import zlib
from typing import Optional

import numpy as np

# ---------------------------------------------------------------------------
# Constants
# ---------------------------------------------------------------------------

EARTH_RADIUS = 6378137.0  # src/coordinate/transform.rs:14
#: Web-Mercator half-extent used by the *inline* transform the region math
#: actually calls (src/utils/image_extraction_utils.rs:264).  Note this is the
#: rounded 20037508.34, not R*pi — a reference quirk we replicate.
MERC_MAX_INLINE = 20037508.34
#: Latitude clamp used by ``CoordinateTransformer`` (src/coordinate/transform.rs:20)
LAT_CLAMP_TRANSFORMER = 85.05
#: Latitude clamp used by the inline region-math variant
#: (src/utils/image_extraction_utils.rs:255-257).  The two constants differ in
#: the reference; region math uses this one.
LAT_CLAMP_INLINE = 85.06

METERS_PER_DEG_LAT = 111_320.0  # src/utils/coordinate_utils.rs:163-166

# Compression codes (src/compression/factory.rs:14-40): only {1, 8, 14}.
COMPRESSION_NONE = 1
COMPRESSION_DEFLATE = 8
COMPRESSION_ZSTD = 14
SUPPORTED_COMPRESSIONS = (COMPRESSION_NONE, COMPRESSION_DEFLATE, COMPRESSION_ZSTD)

PREDICTOR_HORIZONTAL = 2

try:  # preferred backend when the wheel is present
    import zstandard as _zstd  # type: ignore
except ImportError:
    _zstd = None
try:  # pyarrow ships a bundled zstd codec — no extra wheel needed
    import pyarrow as _pa_codec

    _pa_codec.Codec("zstd")  # raises if arrow was built without zstd
except Exception:  # pragma: no cover
    _pa_codec = None
_HAVE_ZSTD = _zstd is not None or _pa_codec is not None


def _zstd_frame_content_size(blob: bytes) -> int:
    """Frame_Content_Size from a zstd frame header (RFC 8878 §3.1.1).

    pyarrow's ``Codec.decompress`` demands the decompressed size up front;
    one-shot zstd frames (the reference writes those — zstd.rs encodes
    whole chunks) embed it, so parse it instead of threading a size hint
    through every call site."""
    import struct
    if len(blob) < 6 or blob[:4] != b"\x28\xb5\x2f\xfd":
        raise ValueError("not a zstd frame")
    desc = blob[4]
    fcs_flag = desc >> 6
    single_segment = (desc >> 5) & 1
    did_size = (0, 1, 2, 4)[desc & 3]
    pos = 5 + (0 if single_segment else 1) + did_size
    if fcs_flag == 0:
        if not single_segment:
            raise ValueError("zstd frame has no content size field")
        return blob[pos]
    if fcs_flag == 1:
        return struct.unpack("<H", blob[pos:pos + 2])[0] + 256
    if fcs_flag == 2:
        return struct.unpack("<I", blob[pos:pos + 4])[0]
    return struct.unpack("<Q", blob[pos:pos + 8])[0]


def _zstd_decompress(blob: bytes) -> bytes:
    if _zstd is not None:
        return _zstd.ZstdDecompressor().decompress(blob)
    return _pa_codec.Codec("zstd").decompress(
        blob, decompressed_size=_zstd_frame_content_size(blob), asbytes=True)


def _zstd_compress(data: bytes, level: int) -> bytes:
    if _zstd is not None:
        return _zstd.ZstdCompressor(level=level).compress(data)
    return _pa_codec.Codec("zstd", compression_level=level).compress(
        data, asbytes=True)


# ---------------------------------------------------------------------------
# G1/G1b/G2 — Mercator transforms
# ---------------------------------------------------------------------------

def wgs84_to_webmercator(lon, lat):
    """WGS84 → WebMercator, the ``CoordinateTransformer`` variant.

    x = lon·R·π/180 ; y = ln(tan((90+lat)·π/360))·R, lat clamped to ±85.05
    (src/coordinate/transform.rs:17-27).
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64),
                  -LAT_CLAMP_TRANSFORMER, LAT_CLAMP_TRANSFORMER)
    x = lon * EARTH_RADIUS * math.pi / 180.0
    y = np.log(np.tan((90.0 + lat) * math.pi / 360.0)) * EARTH_RADIUS
    return x, y


def wgs84_to_webmercator_inline(lon, lat):
    """WGS84 → WebMercator, the *inline region-math* variant.

    x = lon·20037508.34/180 ; y = ln(tan((lat+90)·π/360))·20037508.34/π,
    lat clamped to ±85.06 (src/utils/image_extraction_utils.rs:255-269).
    This is the variant on the extraction critical path — fixture parity
    follows it, not ``wgs84_to_webmercator``.

    Precision note: near lat≈0 the expression is ill-conditioned —
    tan((lat+90)·π/360) ≈ 1, and log(1+ε) turns a 1-ulp libm difference
    in tan (numpy SIMD vs libm scalar vs Rust's libm) into ~2.2e-16
    absolute, amplified ×20037508.34/π ≈ 6.4e6 to ~1.4e-9 m per ulp.
    Cross-implementation agreement is therefore only to a few nanometers
    of y near the equator; floor/ceil region math is unaffected unless a
    region boundary lands within ~1e-8 m of a pixel edge.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64),
                  -LAT_CLAMP_INLINE, LAT_CLAMP_INLINE)
    x = lon * MERC_MAX_INLINE / 180.0
    y = np.log(np.tan((lat + 90.0) * math.pi / 360.0)) * MERC_MAX_INLINE / math.pi
    return x, y


def webmercator_to_wgs84(x, y):
    """WebMercator → WGS84 (src/coordinate/transform.rs:30-36)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = x * 180.0 / (EARTH_RADIUS * math.pi)
    lat = 180.0 / math.pi * (2.0 * np.arctan(np.exp(y / EARTH_RADIUS)) - math.pi / 2.0)
    return lon, lat


# ---------------------------------------------------------------------------
# G3/G4 — point+radius → bbox
# ---------------------------------------------------------------------------

def meters_per_longitude_degree(lat):
    """111320·cos(lat) (src/utils/coordinate_utils.rs:178-184)."""
    return METERS_PER_DEG_LAT * np.cos(np.asarray(lat, dtype=np.float64) * math.pi / 180.0)


def meters_per_degree_generic(lat):
    """Ellipsoidal-series average (src/utils/coordinate_utils.rs:198-232).

    Used only when EPSG is neither 4326 nor a Mercator alias.
    """
    lat_rad = np.abs(np.asarray(lat, dtype=np.float64)) * math.pi / 180.0
    lat_len = 111_132.92 - 559.82 * np.cos(2.0 * lat_rad) + 1.175 * np.cos(4.0 * lat_rad)
    lon_len = 111_412.84 * np.cos(lat_rad) - 93.5 * np.cos(3.0 * lat_rad)
    return (lat_len + lon_len) / 2.0


_MERC_ALIASES = (3857, 3785, 900913)


def coord_to_bbox(x, y, radius, shape, epsg):
    """Point + radius (meters) → bbox envelope, per shape/CRS.

    Replicates ``coord_to_bbox`` + ``calculate_circle_bbox``
    (src/utils/coordinate_utils.rs:30-154):

    - Mercator aliases (3857/3785/900913): ±radius directly (meters).
    - 4326: lat buffer = r/111320; lon buffer = r/(111320·cos(lat)).
    - otherwise, square uses the *average* meters-per-degree at (lat, epsg)
      via ``meters_per_degree``; circle uses 1/meters_per_degree.
      For 4326 those resolve to (lat+lon)/2 averaging
      (coordinate_utils.rs:209-216) — note circle and square take different
      code paths for 4326 in the reference (circle: per-axis buffers;
      square: also per-axis buffers; generic: averaged). Replicated exactly.

    Returns (min_x, min_y, max_x, max_y) arrays.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    radius = np.asarray(radius, dtype=np.float64)
    is_merc = epsg in _MERC_ALIASES
    if is_merc:
        return x - radius, y - radius, x + radius, y + radius
    if epsg == 4326:
        lat_buf = radius / METERS_PER_DEG_LAT
        lon_buf = radius / meters_per_longitude_degree(y)
        return x - lon_buf, y - lat_buf, x + lon_buf, y + lat_buf
    # generic: shape-independent in effect (both use meters_per_degree avg)
    if shape == "circle":
        half = radius / meters_per_degree_generic(y)
    else:
        half = radius / meters_per_degree_generic(y)
    return x - half, y - half, x + half, y + half


# ---------------------------------------------------------------------------
# G5/G6/G7 — bbox → pixel Region
# ---------------------------------------------------------------------------

def same_crs_to_pixels(minx, miny, maxx, maxy,
                       origin_x, pixel_w, origin_y, pixel_h,
                       img_w, img_h):
    """bbox (raster CRS) → pixel region, ``convert_same_crs_to_pixels``
    (src/utils/image_extraction_utils.rs:193-223).

    Quirk replicated: **floor** on min_x, **ceil** on max_x, but **floor on
    both** y conversions (lines 208-211); clamp x,y into [0, dim-1]; width =
    max(span,1) clipped to remaining image.

    Returns (x, y, w, h) int64 arrays.
    """
    minx, miny, maxx, maxy = (np.asarray(a, dtype=np.float64) for a in (minx, miny, maxx, maxy))
    origin_x = np.asarray(origin_x, dtype=np.float64)
    pixel_w = np.asarray(pixel_w, dtype=np.float64)
    origin_y = np.asarray(origin_y, dtype=np.float64)
    pixel_h = np.asarray(pixel_h, dtype=np.float64)  # usually negative
    img_w = np.asarray(img_w, dtype=np.int64)
    img_h = np.asarray(img_h, dtype=np.int64)

    min_x_pixel = np.floor((minx - origin_x) / pixel_w).astype(np.int64)
    max_y_pixel = np.floor((miny - origin_y) / pixel_h).astype(np.int64)
    max_x_pixel = np.ceil((maxx - origin_x) / pixel_w).astype(np.int64)
    min_y_pixel = np.floor((maxy - origin_y) / pixel_h).astype(np.int64)

    x = np.clip(min_x_pixel, 0, img_w - 1)
    y = np.clip(min_y_pixel, 0, img_h - 1)
    w = np.minimum(np.maximum(max_x_pixel - min_x_pixel, 1), img_w - x)
    h = np.minimum(np.maximum(max_y_pixel - min_y_pixel, 1), img_h - y)
    return x, y, w, h


def wgs84_bbox_to_mercator_pixels(minx, miny, maxx, maxy,
                                  origin_x, pixel_w, origin_y, pixel_h,
                                  img_w, img_h, radius_m=None):
    """bbox (4326) → pixel region on a 3857 raster,
    ``convert_wgs84_to_web_mercator`` (src/utils/image_extraction_utils.rs:238-328).

    Uses the *inline* Mercator (clamp ±85.06, 20037508.34 scaling).  If the
    projected region falls fully outside the image, the reference falls back
    to a **centered** region of size 2·radius/pixel_w (or 1000 px), clipped
    to the image (lines 294-315).  Width uses saturating u32 subtraction.
    """
    minx, miny, maxx, maxy = (np.asarray(a, dtype=np.float64) for a in (minx, miny, maxx, maxy))
    origin_x = np.asarray(origin_x, dtype=np.float64)
    pixel_w = np.asarray(pixel_w, dtype=np.float64)
    origin_y = np.asarray(origin_y, dtype=np.float64)
    pixel_h = np.asarray(pixel_h, dtype=np.float64)
    img_w = np.asarray(img_w, dtype=np.int64)
    img_h = np.asarray(img_h, dtype=np.int64)

    x_min, y_min = wgs84_to_webmercator_inline(minx, miny)
    x_max, y_max = wgs84_to_webmercator_inline(maxx, maxy)

    min_x_pixel = np.floor((x_min - origin_x) / pixel_w).astype(np.int64)
    max_y_pixel = np.floor((y_min - origin_y) / pixel_h).astype(np.int64)
    max_x_pixel = np.ceil((x_max - origin_x) / pixel_w).astype(np.int64)
    min_y_pixel = np.floor((y_max - origin_y) / pixel_h).astype(np.int64)

    x_in = (min_x_pixel < img_w) & (max_x_pixel >= 0)
    y_in = (min_y_pixel < img_h) & (max_y_pixel >= 0)
    in_bounds = x_in & y_in

    # normal path (image_extraction_utils.rs:318-321)
    x = np.clip(min_x_pixel, 0, img_w - 1)
    y = np.clip(min_y_pixel, 0, img_h - 1)
    w = np.minimum(np.maximum(max_x_pixel - min_x_pixel, 1), img_w - x)
    h = np.minimum(np.maximum(max_y_pixel - min_y_pixel, 1), img_h - y)

    # fallback path (image_extraction_utils.rs:294-315): centered region
    if radius_m is None:
        size = np.full_like(img_w, 1000)
    else:
        radius_arr = np.asarray(radius_m, dtype=np.float64)
        size = np.where(np.isnan(radius_arr), 1000,
                        (radius_arr * 2.0 / np.abs(pixel_w))).astype(np.int64)
    center_x = img_w // 2
    center_y = img_h // 2
    fb_x = np.maximum(center_x - size // 2, 0)  # saturating_sub
    fb_y = np.maximum(center_y - size // 2, 0)
    fb_w = np.minimum(size, img_w)
    fb_h = np.minimum(size, img_h)

    x = np.where(in_bounds, x, fb_x)
    y = np.where(in_bounds, y, fb_y)
    w = np.where(in_bounds, w, fb_w)
    h = np.where(in_bounds, h, fb_h)
    return x, y, w, h


def try_transform_bbox(minx, miny, maxx, maxy, source_epsg):
    """Crude 4326 → projected scaling (src/utils/image_extraction_utils.rs:158-181).

    Only the 4326 case transforms; everything else passes through.  Scaling
    uses meters-per-degree at the bbox *center* latitude.
    """
    minx, miny, maxx, maxy = (np.asarray(a, dtype=np.float64) for a in (minx, miny, maxx, maxy))
    if source_epsg != 4326:
        return minx, miny, maxx, maxy
    center_lat = (miny + maxy) / 2.0
    m_lat = METERS_PER_DEG_LAT
    m_lon = METERS_PER_DEG_LAT * np.cos(center_lat * math.pi / 180.0)
    return minx * m_lon, miny * m_lat, maxx * m_lon, maxy * m_lat


def adjust_region_to_image_bounds(x, y, w, h, img_w, img_h,
                                  radius_m, pixel_w):
    """``adjust_region_to_image_bounds`` (src/utils/image_extraction_utils.rs:341-414).

    If the region is outside the image or zero-sized → centered fallback of
    ceil(2r/|pw|) px clamped to [100, 5000] (or 100 px without radius).
    Otherwise clip to image bounds, forcing w/h ≥ 1.
    """
    x, y, w, h = (np.asarray(a, dtype=np.int64) for a in (x, y, w, h))
    img_w = np.asarray(img_w, dtype=np.int64)
    img_h = np.asarray(img_h, dtype=np.int64)
    pixel_w = np.abs(np.asarray(pixel_w, dtype=np.float64))

    bad = (x >= img_w) | (y >= img_h) | (w == 0) | (h == 0)

    if radius_m is None:
        size = np.full_like(img_w, 100)
    else:
        radius_arr = np.asarray(radius_m, dtype=np.float64)
        size = np.where(
            np.isnan(radius_arr), 100,
            np.clip(np.ceil(radius_arr * 2.0 / pixel_w), 100, 5000)
        ).astype(np.int64)
    center_x, center_y = img_w // 2, img_h // 2
    half = size // 2
    fb_x = np.maximum(center_x - half, 0)
    fb_y = np.maximum(center_y - half, 0)
    fb_w = np.minimum(size, img_w - fb_x)
    fb_h = np.minimum(size, img_h - fb_y)

    cx = np.where(x >= img_w, img_w - 1, x)
    cy = np.where(y >= img_h, img_h - 1, y)
    cw = np.where(cx + w > img_w, img_w - cx, w)
    ch = np.where(cy + h > img_h, img_h - cy, h)
    cw = np.maximum(cw, 1)
    ch = np.maximum(ch, 1)

    return (np.where(bad, fb_x, cx), np.where(bad, fb_y, cy),
            np.where(bad, fb_w, cw), np.where(bad, fb_h, ch))


def generic_crs_to_pixel_region(minx, miny, maxx, maxy,
                                origin_x, pixel_w, origin_y, pixel_h,
                                img_w, img_h, source_epsg, target_epsg,
                                radius_m=None):
    """Dispatch of ``generic_crs_to_pixel_region``
    (src/utils/image_extraction_utils.rs:104-147): 4326→3857 special case,
    same-CRS direct, otherwise crude transform + same-CRS + bounds adjust.

    Scalar epsg pair per call (callers group rows by (source, target)).
    """
    if source_epsg == 4326 and target_epsg == 3857:
        return wgs84_bbox_to_mercator_pixels(
            minx, miny, maxx, maxy, origin_x, pixel_w, origin_y, pixel_h,
            img_w, img_h, radius_m)
    if source_epsg == target_epsg:
        return same_crs_to_pixels(minx, miny, maxx, maxy,
                                  origin_x, pixel_w, origin_y, pixel_h,
                                  img_w, img_h)
    tminx, tminy, tmaxx, tmaxy = try_transform_bbox(minx, miny, maxx, maxy, source_epsg)
    x, y, w, h = same_crs_to_pixels(tminx, tminy, tmaxx, tmaxy,
                                    origin_x, pixel_w, origin_y, pixel_h,
                                    img_w, img_h)
    return adjust_region_to_image_bounds(x, y, w, h, img_w, img_h,
                                         radius_m, pixel_w)


# ---------------------------------------------------------------------------
# G8/G9/G10 — geotransform math
# ---------------------------------------------------------------------------

def geotransform_from_tags(scale_x, scale_y, tie_i, tie_j, tie_x, tie_y):
    """[origin_x, pw, 0, origin_y, 0, ph] from pixel-scale + tiepoint
    (src/utils/image_extraction_utils.rs:51-86): pw = scale[0],
    ph = -scale[1], ox = tie[3] - tie[0]·pw, oy = tie[4] + tie[1]·(-ph).
    """
    pw = np.asarray(scale_x, dtype=np.float64)
    ph = -np.asarray(scale_y, dtype=np.float64)
    ox = np.asarray(tie_x, dtype=np.float64) - np.asarray(tie_i, dtype=np.float64) * pw
    oy = np.asarray(tie_y, dtype=np.float64) + np.asarray(tie_j, dtype=np.float64) * (-ph)
    return ox, pw, oy, ph


def adjust_tiepoint_for_region(region_x, region_y, orig_map_x, orig_map_y,
                               scale_x, scale_y):
    """New map origin for an extracted window
    (src/tiff/builders/geo_tags.rs:144-146):
    new_x = ox + region.x·pw ; new_y = oy − region.y·|ph|.
    Pixel scale is preserved unchanged (geo_tags.rs:175-199).
    """
    pw = np.asarray(scale_x, dtype=np.float64)
    ph = np.abs(np.asarray(scale_y, dtype=np.float64))
    new_x = np.asarray(orig_map_x, dtype=np.float64) + np.asarray(region_x, dtype=np.float64) * pw
    new_y = np.asarray(orig_map_y, dtype=np.float64) - np.asarray(region_y, dtype=np.float64) * ph
    return new_x, new_y


# ---------------------------------------------------------------------------
# J1/J2 — chunk range math (tile/strip pruning keys)
# ---------------------------------------------------------------------------

def tile_range_for_region(x, y, w, h, tile_w, tile_h):
    """Covered tile index ranges (src/extractor/tile_reader.rs:148-152):
    start = floor(coord/tile), end = ceil(end/tile) — half-open.
    """
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    end_x = x + np.asarray(w, dtype=np.int64)
    end_y = y + np.asarray(h, dtype=np.int64)
    tile_w = np.asarray(tile_w, dtype=np.int64)
    tile_h = np.asarray(tile_h, dtype=np.int64)
    return (x // tile_w, y // tile_h,
            (end_x + tile_w - 1) // tile_w, (end_y + tile_h - 1) // tile_h)


def strip_range_for_region(y, h, rows_per_strip):
    """Covered strip range (src/extractor/strip_reader.rs:147-149)."""
    y = np.asarray(y, dtype=np.int64)
    end_y = y + np.asarray(h, dtype=np.int64)
    rps = np.asarray(rows_per_strip, dtype=np.int64)
    return y // rps, (end_y + rps - 1) // rps


def tiles_across(img_w, tile_w):
    """ceil division (src/extractor/tile_reader.rs:146)."""
    img_w = np.asarray(img_w, dtype=np.int64)
    tile_w = np.asarray(tile_w, dtype=np.int64)
    return (img_w + tile_w - 1) // tile_w


def default_rows_per_strip(img_w):
    """Reference quirk: missing RowsPerStrip defaults to the image **width**
    (src/extractor/strip_reader.rs:67-68), not the height.
    """
    return np.asarray(img_w, dtype=np.int64)


# ---------------------------------------------------------------------------
# C1-C4 — codecs
# ---------------------------------------------------------------------------

def decompress(blob: bytes, compression: int) -> bytes:
    """Codec dispatch (src/compression/factory.rs:14-40).

    Supported set is exactly {1: none, 8: deflate/zlib, 14: zstd}
    (LZW/JPEG/PackBits are unsupported in the reference too).
    zstd is gated: the ``zstandard`` wheel is not in this sandbox.
    """
    if compression == COMPRESSION_NONE:
        return blob
    if compression == COMPRESSION_DEFLATE:
        return zlib.decompress(blob)  # src/compression/deflate.rs:14-27
    if compression == COMPRESSION_ZSTD:
        if not _HAVE_ZSTD:
            raise NotImplementedError(
                "zstd codec (code 14, src/compression/zstd.rs) needs the "
                "'zstandard' wheel or a pyarrow built with zstd")
        return _zstd_decompress(blob)
    raise ValueError(f"Unsupported compression method: {compression}")


def compress(data: bytes, compression: int, level: Optional[int] = None) -> bytes:
    """Encode side of C1/C2 (deflate default level 6
    src/compression/deflate.rs:29-42; zstd default 3 src/compression/zstd.rs:13-27).
    """
    if compression == COMPRESSION_NONE:
        return data
    if compression == COMPRESSION_DEFLATE:
        return zlib.compress(data, 6 if level is None else level)
    if compression == COMPRESSION_ZSTD:
        if not _HAVE_ZSTD:
            raise NotImplementedError("zstd unavailable; see decompress()")
        return _zstd_compress(data, 3 if level is None else level)
    raise ValueError(f"Unsupported compression method: {compression}")


# ---------------------------------------------------------------------------
# W1 — horizontal-differencing predictor
# ---------------------------------------------------------------------------

def undo_horizontal_predictor(data: np.ndarray, width: int, height: int,
                              samples: int = 1) -> np.ndarray:
    """Reverse per-row differencing: data[i] += data[i-1] wrapping u8
    (src/utils/image_extraction_utils.rs:545-554) — i.e. a per-row cumsum
    mod 256.  Accepts a flat u8 buffer of length ≥ width·height (a short
    final buffer is padded conceptually by the row loop's ``min`` bound).

    ``samples > 1``: TIFF 6.0 predictor-2 differences run per sample
    channel (stride = SamplesPerPixel).  The reference decodes only
    spp = 1 (tile_reader.rs addresses one byte per pixel); the stride
    path generalizes per the spec for the engine's RGB pipeline.
    """
    if samples > 1:
        buf = np.frombuffer(bytes(data), dtype=np.uint8).copy()
        total_row = width * samples
        n = buf.shape[0]
        usable = min(n, width * height * samples)
        rows = usable // total_row
        head = buf[: rows * total_row].reshape(rows, width, samples)
        np.cumsum(head, axis=1, dtype=np.uint8, out=head)
        # partial last row: same per-channel running add (the samples==1
        # branch has always done this; the stride flavor used to leave the
        # tail as raw deltas)
        tail_start = rows * total_row
        tail_px = (usable - tail_start) // samples
        if tail_px > 0:
            tail = buf[tail_start: tail_start + tail_px * samples] \
                .reshape(tail_px, samples)
            np.cumsum(tail, axis=0, dtype=np.uint8, out=tail)
        return buf
    buf = np.frombuffer(bytes(data), dtype=np.uint8).copy()
    n = buf.shape[0]
    full = (width * height <= n)
    usable = width * height if full else n
    rows = usable // width
    head = buf[: rows * width].reshape(rows, width)
    np.cumsum(head, axis=1, dtype=np.uint8, out=head)
    tail_start = rows * width
    if tail_start < usable:  # partial last row, same running add
        tail = buf[tail_start:usable]
        np.cumsum(tail, dtype=np.uint8, out=tail)
    return buf


def apply_horizontal_predictor_encode(data: np.ndarray, width: int,
                                      height: int,
                                      samples: int = 1) -> np.ndarray:
    """Forward differencing (fixture/encode side): inverse of
    ``undo_horizontal_predictor`` mod 256 (per-channel for samples > 1).
    """
    buf = np.frombuffer(bytes(data), dtype=np.uint8).copy() \
        .reshape(height, width * samples)
    out = buf.copy()
    out[:, samples:] = buf[:, samples:] - buf[:, :-samples]  # u8 wraps
    return out.reshape(-1)


# ---------------------------------------------------------------------------
# P1 — window clip (tile/strip → output buffer)
# ---------------------------------------------------------------------------

def clip_chunk_into(out: np.ndarray,
                    chunk: np.ndarray,
                    chunk_w: int, chunk_h: int,
                    chunk_x0: int, chunk_y0: int,
                    rx: int, ry: int, rw: int, rh: int,
                    samples: int = 1) -> None:
    """Copy the intersection of a chunk (tile or strip) with region
    (rx,ry,rw,rh) into ``out`` (shape (rh, rw) u8, or (rh, rw, samples)
    for interleaved multi-sample pixels) — the vectorized analog of
    the reference's per-pixel ``copy_pixel`` loop
    (src/utils/image_extraction_utils.rs:571-599, tile loop
    src/extractor/tile_reader.rs:224-259).  Pixels whose source index lies
    past the chunk buffer are skipped, matching ``data_idx >= data.len()``.
    """
    chunk = np.frombuffer(bytes(chunk), dtype=np.uint8)
    # full rows actually present in the buffer
    row_bytes = chunk_w * samples
    avail_rows = min(chunk_h, chunk.shape[0] // row_bytes) if chunk_w else 0
    gx0 = max(chunk_x0, rx)
    gy0 = max(chunk_y0, ry)
    gx1 = min(chunk_x0 + chunk_w, rx + rw)
    gy1 = min(chunk_y0 + avail_rows, ry + rh)
    if gx1 > gx0 and gy1 > gy0:
        if samples > 1:
            src = chunk[: avail_rows * row_bytes].reshape(
                avail_rows, chunk_w, samples)
        else:
            src = chunk[: avail_rows * chunk_w].reshape(avail_rows, chunk_w)
        out[gy0 - ry: gy1 - ry, gx0 - rx: gx1 - rx] = \
            src[gy0 - chunk_y0: gy1 - chunk_y0,
                gx0 - chunk_x0: gx1 - chunk_x0]
    # partial final row of a short buffer: the reference's copy_pixel
    # skips only pixels with data_idx >= data.len(), so the pixels that
    # ARE present in the last (incomplete) row still copy — whole-row
    # granularity alone would drop them
    rem_px = (chunk.shape[0] - avail_rows * row_bytes) // samples
    py = chunk_y0 + avail_rows
    if rem_px > 0 and avail_rows < chunk_h and ry <= py < ry + rh:
        px0 = max(chunk_x0, rx)
        px1 = min(chunk_x0 + min(rem_px, chunk_w), rx + rw)
        if px1 > px0:
            rowbuf = chunk[avail_rows * row_bytes:
                           avail_rows * row_bytes + rem_px * samples]
            if samples > 1:
                rowsrc = rowbuf.reshape(rem_px, samples)
            else:
                rowsrc = rowbuf
            out[py - ry, px0 - rx: px1 - rx] = \
                rowsrc[px0 - chunk_x0: px1 - chunk_x0]


def decode_chunk(blob: bytes, compression: int, predictor: int,
                 width: int, height: int, samples: int = 1) -> np.ndarray:
    """Full decode chain C→W1 (src/extractor/tile_reader.rs:85-108):
    decompress, then undo predictor if predictor == 2.  ``samples`` is
    SamplesPerPixel — interleaved (chunky) layout, flat return of
    width·height·samples bytes."""
    raw = decompress(blob, compression)
    arr = np.frombuffer(raw, dtype=np.uint8)
    if predictor == PREDICTOR_HORIZONTAL:
        arr = undo_horizontal_predictor(arr, width, height, samples)
    return arr


# ---------------------------------------------------------------------------
# P3 — value-range filter
# ---------------------------------------------------------------------------

def filter_values(window: np.ndarray, lo: int, hi: int, background: int = 0):
    """Keep v∈[lo,hi] else background (src/utils/filter_utils.rs:24-54)."""
    w = np.asarray(window, dtype=np.uint8)
    return np.where((w >= lo) & (w <= hi), w, np.uint8(background))


def filter_values_transparency(window: np.ndarray, lo: int, hi: int):
    """Transparency variant (src/utils/filter_utils.rs:70-111): returns
    (rgba) with value replicated to RGB and alpha=255 inside range, fully
    transparent (0,0,0,0) outside."""
    w = np.asarray(window, dtype=np.uint8)
    keep = (w >= lo) & (w <= hi)
    rgba = np.zeros(w.shape + (4,), dtype=np.uint8)
    for c in range(3):
        rgba[..., c] = np.where(keep, w, 0)
    rgba[..., 3] = np.where(keep, 255, 0)
    return rgba


# ---------------------------------------------------------------------------
# P5 — circle mask
# ---------------------------------------------------------------------------

def circle_mask(width: int, height: int) -> np.ndarray:
    """Boolean mask of the inscribed circle (src/utils/mask_utils.rs:22-60,
    duplicated at src/utils/image_extraction_utils.rs:643-681): center
    (w/2, h/2) in f32, radius = min(w,h)/2 (integer division first!), keep
    dx²+dy² ≤ r².  Computed in float32 to match the reference exactly.
    """
    cx = np.float32(width) / np.float32(2.0)
    cy = np.float32(height) / np.float32(2.0)
    r = np.float32(min(width, height) // 2)
    xs = np.arange(width, dtype=np.float32) - cx
    ys = np.arange(height, dtype=np.float32) - cy
    dist2 = ys[:, None] * ys[:, None] + xs[None, :] * xs[None, :]
    return dist2 <= r * r


def apply_circle_mask_rgba(window: np.ndarray) -> np.ndarray:
    """Grayscale window → RGBA with transparent corners (P5)."""
    w = np.asarray(window, dtype=np.uint8)
    h_, w_ = w.shape
    mask = circle_mask(w_, h_)
    rgba = np.zeros((h_, w_, 4), dtype=np.uint8)
    for c in range(3):
        rgba[..., c] = np.where(mask, w, 0)
    rgba[..., 3] = np.where(mask, 255, 0)
    return rgba


# ---------------------------------------------------------------------------
# J3/W2 — colormap application
# ---------------------------------------------------------------------------

def apply_colormap(values: np.ndarray, entries_value: np.ndarray,
                   entries_rgb: np.ndarray, map_type: str) -> np.ndarray:
    """Vectorized ``find_color_for_value`` (src/utils/colormap_utils.rs:26-51).

    Reference quirks replicated:
    - value 255 → hardcoded white, bypassing the map (lines 28-30);
    - empty colormap → black;
    - exact match wins; then ``ramp`` interpolates between *bracketing*
      entries with u8 **truncation** (lines 61-84: ``as u8`` truncates);
      values below the first / above the last entry clamp to that entry;
    - non-ramp falls to nearest entry, ties → the **earlier** entry
      (strict ``<`` comparison, lines 118-136).

    ``entries_value`` must be sorted ascending (the reference keeps entries
    sorted on insert, src/tiff/colormap.rs:185-189).
    """
    v = np.asarray(values, dtype=np.uint16)
    out = np.zeros(v.shape + (3,), dtype=np.uint8)
    ev = np.asarray(entries_value, dtype=np.int64)
    ergb = np.asarray(entries_rgb, dtype=np.uint8)
    if ev.size == 0:
        out[v == 255] = (255, 255, 255)
        return out

    if map_type == "ramp" and ev.size > 1:
        vv = v.astype(np.float32)
        # bracketing pair: idx of first entry > value, minus 1 (clamped)
        hi_idx = np.searchsorted(ev, v.astype(np.int64), side="right")
        lo_idx = np.clip(hi_idx - 1, 0, ev.size - 1)
        hi_idx = np.clip(hi_idx, 0, ev.size - 1)
        lo_val = ev[lo_idx].astype(np.float32)
        hi_val = ev[hi_idx].astype(np.float32)
        rng = hi_val - lo_val
        t = np.where(rng > 0, (vv - lo_val) / np.where(rng == 0, 1, rng), 0.0)
        t = np.clip(t, 0.0, 1.0).astype(np.float32)
        lo_rgb = ergb[lo_idx].astype(np.float32)
        hi_rgb = ergb[hi_idx].astype(np.float32)
        interp = (lo_rgb * (1.0 - t)[..., None] + hi_rgb * t[..., None])
        out = interp.astype(np.uint8)  # truncation, not rounding (★)
    else:
        # nearest entry, earlier wins ties: distances strictly decrease only
        ins = np.searchsorted(ev, v.astype(np.int64))
        left = np.clip(ins - 1, 0, ev.size - 1)
        right = np.clip(ins, 0, ev.size - 1)
        dl = np.abs(v.astype(np.int64) - ev[left])
        dr = np.abs(v.astype(np.int64) - ev[right])
        # strict '<' scan from index 0 keeps the earlier (left) entry on tie
        pick = np.where(dl <= dr, left, right)
        out = ergb[pick]

    # exact match overrides interpolation/nearest
    ins = np.searchsorted(ev, v.astype(np.int64))
    ins_c = np.clip(ins, 0, ev.size - 1)
    exact = ev[ins_c] == v
    out = np.where(exact[..., None], ergb[ins_c], out)

    # 255 → white, highest priority
    out = np.where((v == 255)[..., None], np.uint8(255), out)
    return out


def colormap_trim_and_dedup(values: np.ndarray, rgb: np.ndarray):
    """A3/A4: strip leading (0,0,0) entries (src/tiff/colormap.rs:293-300),
    then if >256 entries drop later duplicate colors keeping first
    (src/tiff/colormap.rs:303-322).  Input sorted by value.
    """
    values = np.asarray(values, dtype=np.int64)
    rgb = np.asarray(rgb, dtype=np.int64)
    nonblack = ~np.all(rgb == 0, axis=1)
    if not nonblack.any():
        return values[:0], rgb[:0]
    first = np.argmax(nonblack)  # first non-black
    values, rgb = values[first:], rgb[first:]
    if values.size > 256:
        key = rgb[:, 0] * 65536 + rgb[:, 1] * 256 + rgb[:, 2]
        _, keep_idx = np.unique(key, return_index=True)
        keep = np.zeros(values.size, dtype=bool)
        keep[keep_idx] = True
        values, rgb = values[keep], rgb[keep]
    return values, rgb


# ---------------------------------------------------------------------------
# A1/A2 — min/max stats
# ---------------------------------------------------------------------------

def grayscale_stats(window: np.ndarray):
    """(min, max) over the window (src/utils/tiff_extraction_utils.rs:40-58)."""
    w = np.asarray(window, dtype=np.uint8)
    return int(w.min()), int(w.max())


def rgb_stats(window_rgb: np.ndarray):
    """Per-channel min/max then overall min-of-mins / max-of-maxes
    (src/utils/tiff_extraction_utils.rs:70-94)."""
    w = np.asarray(window_rgb, dtype=np.uint8).reshape(-1, 3)
    mins = w.min(axis=0)
    maxs = w.max(axis=0)
    return int(mins.min()), int(maxs.max())


# ---------------------------------------------------------------------------
# A5 — pyramid level reduce
# ---------------------------------------------------------------------------

def box_reduce_2x2(window: np.ndarray) -> np.ndarray:
    """2×2 box average with floor (overview generation; the reference only
    *reads* overviews — src/tiff/types.rs:35-45 — generation is a north-star
    op).  Odd trailing row/col are dropped (GDAL 'nearest-ish' simplest form
    documented for our engine).
    """
    w = np.asarray(window, dtype=np.uint16)
    h2, w2 = w.shape[0] // 2, w.shape[1] // 2
    if h2 == 0 or w2 == 0:
        return w[:max(h2, 1) or 1, :max(w2, 1) or 1].astype(np.uint8)
    c = w[: h2 * 2, : w2 * 2]
    s = c[0::2, 0::2].astype(np.uint32) + c[0::2, 1::2] + c[1::2, 0::2] + c[1::2, 1::2]
    return (s // 4).astype(np.uint8)


# ---------------------------------------------------------------------------
# Luma (P6)
# ---------------------------------------------------------------------------

def rgb_to_luma8(rgb: np.ndarray) -> np.ndarray:
    """RGB→luma the way the Rust ``image`` crate's ``to_luma8`` does it
    for u8 pixels: INTEGER arithmetic with truncating division,
    (2126·R + 7152·G + 722·B) // 10000 (image::color's SRGB_LUMA table;
    pinned for byte parity with src/api.rs:322 under image = "0.25.5").
    A float round() here would be off by one on any pixel whose weighted
    sum mod 10000 ≥ 5000 — e.g. (3,0,0): crate gives 0, round gives 1."""
    w = np.asarray(rgb, dtype=np.uint32)
    luma = (w[..., 0] * 2126 + w[..., 1] * 7152 + w[..., 2] * 722) // 10000
    return luma.astype(np.uint8)


# ---------------------------------------------------------------------------
# Geometry predicates (P7 + new PIP kernel for J5)
# ---------------------------------------------------------------------------

def bbox_contains(minx, miny, maxx, maxy, px, py):
    """Inclusive bbox membership (src/coordinate/bbox.rs:85-88)."""
    return ((np.asarray(px) >= np.asarray(minx)) & (np.asarray(px) <= np.asarray(maxx)) &
            (np.asarray(py) >= np.asarray(miny)) & (np.asarray(py) <= np.asarray(maxy)))


def points_in_polygon(px: np.ndarray, py: np.ndarray,
                      poly_x: np.ndarray, poly_y: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting (new op J5 — the reference only has
    rect/circle membership).  Boundary behavior: half-open edges (standard
    crossing-number), deterministic.  O(P·V) numpy, no per-row Python.
    """
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x1 = np.asarray(poly_x, dtype=np.float64)[None, :]
    y1 = np.asarray(poly_y, dtype=np.float64)[None, :]
    x2 = np.roll(poly_x, -1)[None, :]
    y2 = np.roll(poly_y, -1)[None, :]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
    crossings = np.where(cond, px < xint, False)
    return crossings.sum(axis=1) % 2 == 1


def points_in_polygon_grid(gx: np.ndarray, gy: np.ndarray,
                           poly_x: np.ndarray,
                           poly_y: np.ndarray) -> np.ndarray:
    """Even-odd ray casting over a separable GRID of points: ``gx`` (w,)
    and ``gy`` (h,) 1-D center arrays instead of w·h flattened pairs —
    bitwise-identical mask to ``points_in_polygon(meshgrid(gx, gy))``
    (same float expressions per element; verified by a parity test).

    Why it exists: the meshgrid form allocates O(w·h·V) float64
    temporaries per call (the (points, vertices) broadcast), ~3-4 MB per
    256-px tile — measured as the allocator-bandwidth term that capped
    zonal_stats' two-parallelism scaling at 0.72.  Here the per-edge
    crossing condition and x-intersection depend only on the ROW
    (h·V floats), and only the final per-edge comparison touches w·h —
    one uint8 accumulator plus one bool temp per straddled edge.
    """
    gx = np.asarray(gx, dtype=np.float64)[None, :]       # (1, w)
    gy = np.asarray(gy, dtype=np.float64)[:, None]       # (h, 1)
    x1 = np.asarray(poly_x, dtype=np.float64)[None, :]
    y1 = np.asarray(poly_y, dtype=np.float64)[None, :]
    x2 = np.roll(poly_x, -1)[None, :].astype(np.float64)
    y2 = np.roll(poly_y, -1)[None, :].astype(np.float64)
    cond = (y1 > gy) != (y2 > gy)                         # (h, V)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (gy - y1) / (y2 - y1) + x1     # (h, V)
    count = np.zeros((gy.shape[0], gx.shape[1]), dtype=np.uint8)
    for e in range(x1.shape[1]):
        ce = cond[:, e]
        if not ce.any():
            continue
        # cond=True rows have y1 != y2, so xint is finite there — the
        # NaN rows the flat kernel masks with np.where never reach the
        # comparison here
        count[ce] += gx[0] < xint[ce, e][:, None]
    return (count & 1).astype(bool)
