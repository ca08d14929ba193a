"""Hierarchical spatial cell indexing (G13 — new capability, absent in the
reference, required by the north star: "H3 (res 7-12) and S2 cells").

Two index families:

1. **Grid cells** (primary join index): a Z-free hierarchical quadtree over
   Web-Mercator space.  ``cell = res<<56 | ix<<28 | iy`` with
   ``ix = floor((x + L) / (2L) · 2^res)``.  Implemented entirely with Spark
   built-in Column expressions → whole-stage codegen, no Python on the hot
   path.  Parent/child/neighbor arithmetic is trivial (shift / ±1), which is
   what the kNN ring expansion and hot-cell salting need.  This is the index
   used for all cell-bucketed joins.

2. **S2 cells** (compatibility index): a faithful from-scratch, fully
   numpy-vectorized implementation of the public S2 cell-id scheme
   (face · quadratic s-t projection · Hilbert curve), exposed as a pandas
   UDF.  Levels 0-30, leaf ids odd, parent = prefix — all standard S2
   invariants hold (property-tested).

3. **H3**: the true hexagonal index needs the ``h3`` wheel (not in this
   sandbox).  ``h3_cell_udf`` uses it when importable and otherwise raises
   ``NotImplementedError`` with a pointer to the grid index, which serves
   the same join-bucketing role at the H3-equivalent resolutions.

Resolution guidance (north star res 7-12): grid res r has cell edge
2·20037508m/2^r — grid res 12 ≈ 9.8 km, res 16 ≈ 611 m.  ``GRID_RES_FOR_H3``
maps H3 res 7-12 to grid resolutions of comparable cell area.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..kernels import wgs84_to_webmercator

MERC_LIMIT = 20037508.342789244  # pi * R — full mercator half-extent
GRID_RES_BITS = 56
GRID_IX_SHIFT = 28

#: H3 average hex edge lengths (km) for res 7-12 → nearest grid res by area.
GRID_RES_FOR_H3 = {7: 13, 8: 14, 9: 16, 10: 17, 11: 19, 12: 20}


# ---------------------------------------------------------------------------
# Grid cells — pure Column expressions
# ---------------------------------------------------------------------------

def grid_ix(x_merc: Column, res: int) -> Column:
    n = 1 << res
    scaled = (x_merc + F.lit(MERC_LIMIT)) / F.lit(2.0 * MERC_LIMIT) * F.lit(float(n))
    return F.greatest(F.lit(0), F.least(F.floor(scaled), F.lit(n - 1)))


def grid_cell(x_merc: Column, y_merc: Column, res: int) -> Column:
    """Cell id from Web-Mercator coords at resolution ``res`` (0-27)."""
    ix = grid_ix(x_merc, res)
    iy = grid_ix(y_merc, res)
    return (F.lit(res).cast("long") * F.lit(1 << GRID_RES_BITS)
            + ix * F.lit(1 << GRID_IX_SHIFT) + iy).alias(f"cell_r{res}")


def grid_cell_from_lonlat(lon: Column, lat: Column, res: int) -> Column:
    """Cell id straight from WGS84 lon/lat (built-in Mercator forward)."""
    from . import geo
    return grid_cell(geo.merc_x(lon), geo.merc_y(lat), res)


def grid_parent(cell: Column) -> Column:
    """Parent cell: res-1, ix>>1, iy>>1 — pure arithmetic."""
    res = (cell / F.lit(1 << GRID_RES_BITS)).cast("long")
    ix = (cell / F.lit(1 << GRID_IX_SHIFT)).cast("long") % F.lit(1 << GRID_IX_SHIFT)
    iy = cell % F.lit(1 << GRID_IX_SHIFT)
    return ((res - 1) * F.lit(1 << GRID_RES_BITS)
            + (ix / 2).cast("long") * F.lit(1 << GRID_IX_SHIFT)
            + (iy / 2).cast("long"))


def grid_neighbors(cell: Column, ring: int = 1) -> Column:
    """Array of all cells within Chebyshev distance ``ring`` (the (2r+1)²
    block including the cell itself), clamped to the grid.  Used by kNN ring
    expansion — built-ins only (transform over a sequence)."""
    res = (cell / F.lit(1 << GRID_RES_BITS)).cast("long")
    ix = (cell / F.lit(1 << GRID_IX_SHIFT)).cast("long") % F.lit(1 << GRID_IX_SHIFT)
    iy = cell % F.lit(1 << GRID_IX_SHIFT)
    n = F.pow(F.lit(2.0), res.cast("double")).cast("long")
    side = 2 * ring + 1
    offsets = F.sequence(F.lit(0), F.lit(side * side - 1))
    base = res * F.lit(1 << GRID_RES_BITS)

    def mk(o):
        dx = (o / side).cast("long") - ring
        dy = o % side - ring
        nx = ix + dx
        ny = iy + dy
        ok = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
        return F.when(ok, base + nx * F.lit(1 << GRID_IX_SHIFT) + ny)

    return F.array_compact(F.transform(offsets, mk))


def grid_cells_for_bbox(minx: Column, miny: Column, maxx: Column,
                        maxy: Column, res: int) -> Column:
    """Array of all grid cells covering a Mercator bbox (polyfill for
    rectangles).  Built-ins only: 2-D cover via flattened sequence
    transform.  Cell count is bounded by the caller's choice of res."""
    ix0 = grid_ix(minx, res)
    ix1 = grid_ix(maxx, res)
    iy0 = grid_ix(miny, res)
    iy1 = grid_ix(maxy, res)
    nx = ix1 - ix0 + 1
    ny = iy1 - iy0 + 1
    base = F.lit(res).cast("long") * F.lit(1 << GRID_RES_BITS)
    # inverted bbox (minx > maxx after clamping) → EMPTY cover, not a
    # descending sequence(0, negative) whose negative offsets would mint
    # out-of-grid cell ids that silently join nothing
    offsets = F.when((nx > 0) & (ny > 0),
                     F.sequence(F.lit(0), nx * ny - 1)) \
        .otherwise(F.expr("array()").cast("array<bigint>"))
    return F.transform(
        offsets,
        lambda o: base + (ix0 + (o / ny).cast("long")) * F.lit(1 << GRID_IX_SHIFT)
                  + (iy0 + o % ny))


# ---------------------------------------------------------------------------
# S2 cell ids — vectorized numpy (public algorithm)
# ---------------------------------------------------------------------------

_LOOKUP_BITS = 4
_SWAP_MASK = 1
_INVERT_MASK = 2
_POS_TO_IJ = np.array([[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]],
                      dtype=np.int64)
_POS_TO_ORIENTATION = np.array([_SWAP_MASK, 0, 0, _INVERT_MASK | _SWAP_MASK],
                               dtype=np.int64)


def _build_lookups():
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)

    def init(level, i, j, orig_orientation, pos, orientation):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation
            lookup_ij[(pos << 2) + orig_orientation] = (ij << 2) + orientation
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orientation]
        for index in range(4):
            init(level, i + (int(r[index]) >> 1), j + (int(r[index]) & 1),
                 orig_orientation, pos + index,
                 orientation ^ int(_POS_TO_ORIENTATION[index]))

    for orientation in range(4):
        init(0, 0, 0, orientation, 0, orientation)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _build_lookups()
_S2_MAX_LEVEL = 30
_S2_POS_BITS = 2 * _S2_MAX_LEVEL + 1


def _s2_st_from_uv(u: np.ndarray) -> np.ndarray:
    """Quadratic projection (the s2geometry default)."""
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def s2_cell_id(lat: np.ndarray, lon: np.ndarray, level: int = 30) -> np.ndarray:
    """Vectorized lat/lon (degrees) → S2 cell id at ``level``.

    Face selection, quadratic st projection and the 4-bit Hilbert lookup
    iteration follow the public S2 reference scheme; all steps are numpy
    array ops (8 lookup rounds regardless of input size).
    """
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    x = np.cos(lat) * np.cos(lon)
    y = np.cos(lat) * np.sin(lon)
    z = np.sin(lat)

    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(az >= np.maximum(ax, ay), 2,
                    np.where(ay >= ax, 1, 0)).astype(np.int64)
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face)

    # per-face (u, v)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y], default=-y / z)
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y], default=-x / z)

    max_size = 1 << _S2_MAX_LEVEL
    i = np.clip((max_size * _s2_st_from_uv(u)).astype(np.int64), 0, max_size - 1)
    j = np.clip((max_size * _s2_st_from_uv(v)).astype(np.int64), 0, max_size - 1)

    n = face.astype(np.uint64) << np.uint64(_S2_POS_BITS - 1)
    bits = (face & _SWAP_MASK).astype(np.int64)
    mask = (1 << _LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits += ((i >> (k * _LOOKUP_BITS)) & mask) << (_LOOKUP_BITS + 2)
        bits += ((j >> (k * _LOOKUP_BITS)) & mask) << 2
        bits = _LOOKUP_POS[bits]
        n |= (bits >> 2).astype(np.uint64) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits &= _SWAP_MASK | _INVERT_MASK

    leaf = n * np.uint64(2) + np.uint64(1)
    if level >= _S2_MAX_LEVEL:
        return leaf.astype(np.int64)
    lsb = np.uint64(1) << np.uint64(2 * (_S2_MAX_LEVEL - level))
    return ((leaf & ~(lsb - np.uint64(1))) | lsb).astype(np.int64)


def s2_parent(cell_id: np.ndarray, level: int) -> np.ndarray:
    """Parent at ``level`` (prefix truncation — standard S2 invariant)."""
    cid = np.asarray(cell_id).astype(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (_S2_MAX_LEVEL - level))
    return ((cid & ~(lsb - np.uint64(1))) | lsb).astype(np.int64)


def s2_level(cell_id: np.ndarray) -> np.ndarray:
    """Level from trailing-bit position."""
    cid = np.asarray(cell_id).astype(np.uint64)
    lsb = cid & (~cid + np.uint64(1))
    lvl = _S2_MAX_LEVEL - (np.log2(lsb.astype(np.float64)) / 2).astype(np.int64)
    return lvl


# ---------------------------------------------------------------------------
# H3 — gated on the optional wheel
# ---------------------------------------------------------------------------

def h3_available() -> bool:
    """Feature-detect the ``h3`` wheel (absent in this sandbox).  The
    bench harness uses this to exercise the true-H3 path automatically
    the moment the wheel appears in an environment."""
    try:
        import h3  # type: ignore  # noqa: F401
        return True
    except ImportError:
        return False


def h3_cell_udf(res: int):
    """pandas UDF (lat, lon) → H3 cell (long) at ``res`` if the ``h3`` wheel
    is importable; otherwise raises at construction with guidance to the
    grid index (``GRID_RES_FOR_H3``)."""
    try:
        import h3  # type: ignore
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "true H3 hexagons need the 'h3' package (not in this sandbox); "
            f"use grid_cell(..., res={GRID_RES_FOR_H3.get(res, 15)}) — the "
            "engine's join-bucketing index — instead") from exc

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(LongType())
    def _udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            [h3.str_to_int(h3.latlng_to_cell(a, o, res))
             for a, o in zip(lat, lon)], dtype="int64")

    return _udf


def grid_cell_id_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Numpy twin of :func:`grid_cell_from_lonlat` (oracle/testing)."""
    x, y = wgs84_to_webmercator(lon, lat)
    n = 1 << res
    ix = np.clip(np.floor((x + MERC_LIMIT) / (2 * MERC_LIMIT) * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((y + MERC_LIMIT) / (2 * MERC_LIMIT) * n), 0, n - 1).astype(np.int64)
    return (np.int64(res) << GRID_RES_BITS) | (ix << GRID_IX_SHIFT) | iy
