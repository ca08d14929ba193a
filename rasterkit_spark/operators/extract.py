"""Flagship extraction pipeline (SURVEY.md §3.1 / §7 Phase 1).

Distributed re-expression of the reference's window reads: the
``rasterkit input.tif --extract --bbox=… --crs=…`` path
(src/commands/extract_command.rs:251-291 → src/extractor/tile_reader.rs /
strip_reader.rs → src/tiff/builders/geo_tags.rs:114-201), the explicit
``--region=x,y,WxH`` path and the overview (LOD) read.  Three entry points
— :func:`extract` (bbox at one level), :func:`extract_auto_level`
(per-query level) and :func:`extract_pixel_region` — share one front end
and one back end:

1. **One catalog at a level** — :func:`raster_catalog` at a level given as
   SQL (a literal, or an ``explode`` over several), each row carrying its
   ``level`` and that level's geotransform, dims and chunk geometry
   (:func:`level_geometry`), broadcast-joined to the queries.
2. **One region join** — :func:`resolve_regions`: pure Column expressions
   (:func:`rasterkit_spark.functions.geo.region_dispatch_stages`, applied
   as successive narrow projections), whole-stage codegen, no Python.
   Explicit pixel regions are validated instead of resolved.
3. **One window back end** — :func:`_windows`: each region row explodes
   into its covered ``(media_ref, level, tile_x, tile_y)`` keys (J1/J2;
   strips are tiles with tile_w = image width, so one code path covers
   both layouts), meets its blobs (broadcast key join, or a python-side
   tile map), and the rows are hash-partitioned by ``(query_id,
   media_ref)``, one partition per core, sorted, and streamed through one
   ``mapInPandas`` pass that assembles each run with the *same* numpy
   kernels the oracle uses (C1/C2 → W1 → P1), emitting the clipped window
   bytes, its sha256, its ``level`` and the adjusted geotransform (G9).

One shuffle, the assembly exchange; everything else is narrow or
broadcast.
"""

from __future__ import annotations

import hashlib
import operator
import zlib

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType)

from .. import kernels as K
from ..functions import geo

WINDOW_SCHEMA = StructType([
    StructField("query_id", StringType()),
    StructField("media_ref", StringType()),
    StructField("level", LongType()),
    StructField("region_x", LongType()),
    StructField("region_y", LongType()),
    StructField("region_w", LongType()),
    StructField("region_h", LongType()),
    StructField("window", BinaryType()),
    StructField("window_sha256", StringType()),
    StructField("new_origin_x", DoubleType()),
    StructField("new_origin_y", DoubleType()),
    StructField("samples_per_pixel", LongType()),
])


def level_geometry(level: str) -> dict[str, Column]:
    """The one chunk-geometry definition: ``{width, height, pixel_sx,
    pixel_sy, chunk_w, chunk_h}`` Columns of a catalog row at overview
    ``level``, a SQL expression (a column name or an integer literal),
    for ``withColumns``.

    Dims floor-halve per level (floor halving composes, so dims_ℓ =
    dims >> ℓ, matching A5 pyramid generation) and the pixel scale
    doubles.  Strips are tiles of image width (src/extractor/
    strip_reader.rs:61-71): chunk_w = tile_w or the level width; chunk_h =
    tile_h or rows_per_strip, with the NULL-rows_per_strip quirk
    defaulting to the level **width**.  0 encodes NULL in the catalog
    fixtures.  Every reader of chunk geometry (extract, the pyramid,
    min/max) takes it from here.

    Written as SQL text: built with the Column API, the six Columns and
    their ``withColumns`` cost ~450 py4j round trips per call, ~39 as
    ``F.expr`` (counted on PySpark 4.1.2), and every raster op call
    builds them on the driver."""
    # 2^level as DOUBLE is exact (small powers of two); floor-div keeps the
    # dims integer-exact
    two_l = f"pow(2, {level})"
    width = f"CAST(floor(width / {two_l}) AS INT)"
    return {name: F.expr(sql) for name, sql in {
        "width": width,
        "height": f"CAST(floor(height / {two_l}) AS INT)",
        "pixel_sx": f"pixel_sx * {two_l}",
        "pixel_sy": f"pixel_sy * {two_l}",
        "chunk_w": f"CASE WHEN tile_w > 0 THEN tile_w ELSE {width} END",
        "chunk_h": f"CASE WHEN tile_h > 0 THEN tile_h "  # ← quirk: = width
                   f"WHEN rows_per_strip > 0 THEN rows_per_strip "
                   f"ELSE {width} END",
    }.items()}


def raster_catalog(catalog: DataFrame, level: str | None = None) -> DataFrame:
    """The raster rows of ``catalog`` with the columns chunk reads need
    (``samples_per_pixel`` defaults to 1).

    With ``level``, a SQL expression (an integer literal for one level,
    ``explode(sequence(0, N))`` for one row per level), every row also
    carries ``level``, ``pixel_s0`` (the base pixel size
    :func:`select_level` compares against) and its
    :func:`level_geometry`.  Without, the rows are at level 0 as stored."""
    spp = (F.col("samples_per_pixel") if "samples_per_pixel"
           in catalog.columns else F.lit(1)).alias("samples_per_pixel")
    cat = catalog.filter(F.col("media_kind") == "raster").select(
        "media_ref", "width", "height", "tile_w", "tile_h", "rows_per_strip",
        "epsg", "pixel_sx", "pixel_sy", "origin_x", "origin_y",
        "compression", "predictor", spp)
    if level is None:
        return cat
    return cat.selectExpr("*", "pixel_sx AS pixel_s0", f"{level} AS level") \
        .withColumns(level_geometry("level"))


#: (SparkContext, {has_radius: stages}) — the region Column lists are
#: built once per context: building them costs thousands of py4j round
#: trips, and a Column belongs to the JVM of the context it was made in
_REGION_STAGES: tuple = (None, {})


def _region_stages(has_radius: bool) -> list[list]:
    global _REGION_STAGES
    sc = SparkContext._active_spark_context
    if _REGION_STAGES[0] is not sc:
        _REGION_STAGES = (sc, {})
    cache = _REGION_STAGES[1]
    if has_radius not in cache:
        c = F.col
        stages = geo.region_dispatch_stages(
            c("minx"), c("miny"), c("maxx"), c("maxy"), c("crs"), c("epsg"),
            c("origin_x"), c("pixel_sx"), c("origin_y"), -c("pixel_sy"),
            c("width"), c("height"),
            c("radius_m") if has_radius else F.lit(None).cast("double"))
        stages.append(geo.adjusted_tiepoint_cols(
            c("region_x"), c("region_y"), c("origin_x"), c("origin_y"),
            c("pixel_sx"), c("pixel_sy")))
        cache[has_radius] = stages
    return cache[has_radius]


def resolve_regions(queries: DataFrame, catalog: DataFrame,
                    level: int | str = 0) -> DataFrame:
    """Join bbox queries to the raster catalog at ``level`` (see
    :func:`raster_catalog`) and compute pixel regions against each row's
    level-scaled geotransform and dims (pixel_h = -pixel_sy, G8).

    The catalog is metadata-only (no blobs) → broadcast-join.
    ``queries`` needs columns: query_id, media_ref, minx/miny/maxx/maxy,
    crs, radius_m (nullable).
    """
    cat = raster_catalog(catalog, str(level))
    q = queries.join(F.broadcast(cat), "media_ref", "inner")
    for stage in _region_stages("radius_m" in queries.columns):
        q = q.select("*", *stage)
    return q.drop(*geo.REGION_STAGE_COLS)


#: tile identity: one chunk of one raster at one overview level
TILE_KEY = ["media_ref", "level", "tile_x", "tile_y"]


def expand_tile_keys(regions: DataFrame) -> DataFrame:
    """J1/J2 key expansion: one row per covered chunk.

    The explode is bounded by (w/chunk+2)·(h/chunk+2) per query — narrow,
    no shuffle.  OOB chunk keys simply find no match in the inner join
    (mirrors the reference's index-bounds ``continue``,
    tile_reader.rs:125-129).
    """
    rng = geo.tile_range_cols(F.col("region_x"), F.col("region_y"),
                              F.col("region_w"), F.col("region_h"),
                              F.col("chunk_w"), F.col("chunk_h"))
    r = regions.select("*", *rng)
    r = r.withColumn("tile_y", F.explode(
        F.sequence(F.col("start_tile_y"), F.col("end_tile_y") - 1)))
    r = r.withColumn("tile_x", F.explode(
        F.sequence(F.col("start_tile_x"), F.col("end_tile_x") - 1)))
    return r.drop("start_tile_x", "start_tile_y", "end_tile_x", "end_tile_y")


def join_tiles(keys: DataFrame, tiles: DataFrame) -> DataFrame:
    """Equi-join covered keys against the tile table, broadcasting the
    (small) key side so the big tile table never shuffles."""
    t = tiles.select(*TILE_KEY, "blob")
    return F.broadcast(keys).join(t, TILE_KEY, "inner")


#: per-python-worker decode memo: many queries over the same raster hit
#: the same tiles, and the rows are partitioned by (query_id, media_ref),
#: so one raster's hits land in every task (and, workers being reused, in
#: later tasks and calls on the same worker) — without a cache each
#: (query, tile) match re-inflates the blob (measured: the dominant cost
#: of the COG-regime extract when |queries| ≫ |tiles|).  Keyed by chunk
#: identity INCLUDING a blob crc (tile coords alone could collide across
#: overview levels/corpora); bounded LRU (~cap × chunk bytes, 256×256 u8
#: → ≤ 32 MB/worker); cached arrays are frozen read-only —
#: clip_chunk_into only reads its source.
_DECODE_CACHE: "OrderedDict[tuple, np.ndarray]" = None  # set below
_DECODE_CACHE_CAP = 512


def _decode_chunk_cached(blob: bytes, comp: int, pred: int, cw: int,
                         ch: int, spp: int, media_ref, tx: int,
                         ty: int, level: int = 0) -> np.ndarray:
    global _DECODE_CACHE
    if _DECODE_CACHE is None:
        from collections import OrderedDict
        _DECODE_CACHE = OrderedDict()
    # level is part of the identity: same-coordinate tiles exist at every
    # overview level, and relying on (len, crc32) alone to tell them apart
    # would return the wrong level's pixels on a crc collision (ADVICE r4)
    key = (media_ref, int(level), tx, ty, comp, pred, cw, ch, spp,
           len(blob), zlib.crc32(blob))
    hit = _DECODE_CACHE.get(key)
    if hit is not None:
        _DECODE_CACHE.move_to_end(key)
        return hit
    chunk = K.decode_chunk(blob, comp, pred, cw, ch, spp)
    chunk = np.ascontiguousarray(chunk)
    chunk.flags.writeable = False
    _DECODE_CACHE[key] = chunk
    if len(_DECODE_CACHE) > _DECODE_CACHE_CAP:
        _DECODE_CACHE.popitem(last=False)
    return chunk


def fetch_chunk(row, tile_map: dict | None = None,
                memo: dict | None = None) -> np.ndarray | None:
    """Decoded chunk of ``row``'s tile (media_ref, level, tile_x, tile_y),
    the one chunk read both extract and zonal stats go through.

    The blob is ``row.blob``, or with ``tile_map`` (the rows are keys only)
    the map's entry for the tile; a tile missing from the map (OOB cover,
    shallow pyramid) returns None — inner-join semantics.  ``memo`` is a
    per-task front memo keyed by tile coords, valid only where a broadcast
    tile map pins one blob per key: repeats then skip the worker cache's
    per-call blob crc32 (measured: most of the decode phase)."""
    key = (row.media_ref, int(row.level), int(row.tile_x), int(row.tile_y))
    blob = row.blob if tile_map is None else tile_map.get(key)
    if blob is None:
        return None
    chunk = memo.get(key) if memo is not None else None
    if chunk is None:
        media, lvl, tx, ty = key
        chunk = _decode_chunk_cached(
            bytes(blob), int(row.compression), int(row.predictor),
            int(row.chunk_w), int(row.chunk_h),
            int(row.samples_per_pixel or 1), media, tx, ty, lvl)
        if memo is not None:
            memo[key] = chunk
            if len(memo) > _DECODE_CACHE_CAP:
                memo.pop(next(iter(memo)))
    return chunk


#: output batching bounds for the streaming passes: emit one pandas frame
#: per ~this many records / payload bytes — per-window 1-row DataFrames
#: (plus a groupby+concat per window) were measured round 6 as ~60% of
#: the whole big-raster assembly stage
_ASSEMBLE_OUT_ROWS = 256
_ASSEMBLE_OUT_BYTES = 32 * 1024 * 1024


def sorted_by_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Hash-partition ``df`` by ``keys`` into one partition per core and sort
    each partition by them — the input :func:`key_runs` needs.

    The count is explicit (REPARTITION_BY_NUM, exempt from AQE coalescing):
    the rows are small in BYTES (compressed blobs, or key rows) but costly
    downstream, and AQE's byte-sized coalescing squeezed whole assembly
    stages onto ONE task.  One per core, not more: every Python task pays a
    fixed set-up (dispatch, the worker's per-task protocol and UDF
    unpickling, the Arrow stream), so each extra wave of tasks adds it to
    the wall.  On a 4-core host an identity ``mapInPandas`` over 4,000 tiny
    rows takes 0.14–0.19 s as 4 tasks and 0.26–0.27 s as 12 (min of 9
    collects, with Spark's archives pinned by ``rasterkit_spark._archives``;
    unpinned, Spark's per-task ``importlib.invalidate_caches()`` made it
    0.33 s and 0.91 s).  Measure before raising the count."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys).sortWithinPartitions(*keys)


def key_runs(pdf_iter, keys: list[str]):
    """Runs of consecutive rows with equal ``keys`` over a ``mapInPandas``
    batch iterator sorted by them (:func:`sorted_by_keys`); a run may span
    Arrow batches.  Yields each run as a list of row namedtuples — plain
    tuples, no per-group pandas frame."""
    key_of = operator.attrgetter(*keys)
    run, cur = [], None
    for pdf in pdf_iter:
        for row in pdf.itertuples(index=False):
            k = key_of(row)
            if run and k != cur:
                yield run
                run = []
            cur = k
            run.append(row)
    if run:
        yield run


def batched_frames(records, payload: str | None):
    """Pack dict records (None = no output) into pandas frames of at most
    ``_ASSEMBLE_OUT_ROWS`` rows, cut as soon as their ``payload`` bytes
    reach ``_ASSEMBLE_OUT_BYTES`` (``payload=None``: rows only).  The
    bounds are tested after every record, so a frame holds at most the
    byte bound plus one record."""
    out, nbytes = [], 0
    for rec in records:
        if rec is None:
            continue
        out.append(rec)
        if payload is not None:
            nbytes += len(rec[payload] or b"")
        if len(out) >= _ASSEMBLE_OUT_ROWS or nbytes >= _ASSEMBLE_OUT_BYTES:
            yield pd.DataFrame(out)
            out, nbytes = [], 0
    if out:
        yield pd.DataFrame(out)


_WINDOW_KEY = ["query_id", "media_ref"]
_ASSEMBLE_COLS = ["query_id", "media_ref", "level", "region_x", "region_y",
                  "region_w", "region_h", "chunk_w", "chunk_h",
                  "compression", "predictor", "samples_per_pixel", "tile_x",
                  "tile_y", "new_origin_x", "new_origin_y"]


def _assemble_window(rows: list, emit_window: bool, tile_map: dict | None,
                     memo: dict | None) -> dict | None:
    """One (query_id, media_ref) run: decode every chunk through the shared
    kernels and clip it into the output window (C→W1→P1).

    With ``tile_map`` the rows are keys only and the blobs come from the
    map; a run whose keys all miss it yields no window.  ``memo``: see
    :func:`fetch_chunk`."""
    first = rows[0]
    rx, ry = int(first.region_x), int(first.region_y)
    rw, rh = int(first.region_w), int(first.region_h)
    cw, ch = int(first.chunk_w), int(first.chunk_h)
    spp = int(first.samples_per_pixel or 1)
    out = None
    for row in rows:
        chunk = fetch_chunk(row, tile_map, memo)
        if chunk is None:
            continue
        if out is None:
            out = np.zeros((rh, rw) if spp == 1 else (rh, rw, spp),
                           dtype=np.uint8)
        K.clip_chunk_into(out, chunk, cw, ch, int(row.tile_x) * cw,
                          int(row.tile_y) * ch, rx, ry, rw, rh, spp)
    if out is None:
        return None
    buf = out.tobytes()
    return {
        "query_id": first.query_id,
        "media_ref": first.media_ref,
        "level": int(first.level),
        "region_x": rx, "region_y": ry, "region_w": rw, "region_h": rh,
        "window": bytearray(buf) if emit_window else None,
        "window_sha256": hashlib.sha256(buf).hexdigest(),
        "new_origin_x": float(first.new_origin_x),
        "new_origin_y": float(first.new_origin_y),
        "samples_per_pixel": spp,
    }


def _assemble_stream(pdf_iter, emit_window: bool = True,
                     tile_map: dict | None = None):
    """``mapInPandas`` window assembly over rows partitioned and sorted by
    (query_id, media_ref): one window per key run, emitted in batched
    frames.  ``emit_window=False`` still assembles the full window (the
    sha256 proves it) but returns a null ``window`` column — the
    verification / benchmarking mode, where shipping the pixel payload
    back through Arrow would only measure serialization (real pipelines
    write windows executor-side via a sink).  ``tile_map``: see
    :func:`_assemble_window`."""
    memo = {} if tile_map is not None else None
    yield from batched_frames(
        (_assemble_window(rows, emit_window, tile_map, memo)
         for rows in key_runs(pdf_iter, _WINDOW_KEY)), "window")


#: blob-bytes ceiling for the python-side tile broadcast; above it the
#: key-broadcast join path is used instead (still no blob broadcast)
MAX_PY_TILE_BROADCAST = 512 * 1024 * 1024


def tile_map_broadcast(tiles: DataFrame):
    """Python-side broadcast of the tile table as ``{(media_ref, level,
    tile_x, tile_y): blob}``, or None above ``MAX_PY_TILE_BROADCAST``
    blob bytes.

    The blobs are sized by a cluster-side aggregate BEFORE any driver
    collect: collecting an over-ceiling tile table to *measure* it would
    OOM the driver inside the guard itself.  Under the ceiling each blob
    crosses the wire once per executor; a JVM broadcast join would still
    serialize the matched blob into EVERY (query, tile) Arrow row headed
    for the UDF — |matches| × blob bytes, the dominant cost when queries
    ≫ tiles (measured: ~2× the whole big-raster extract wall).  Over it,
    callers take the key-broadcast join instead: a JVM broadcast of
    >512 MB of blobs is itself a driver/executor memory hazard, and Spark
    hard-caps any broadcast relation at 8 GB / 512M rows."""
    total = tiles.agg(
        F.coalesce(F.sum(F.length("blob")), F.lit(0)).alias("b")
    ).collect()[0]["b"]  # eager: sizes the collect before it runs
    if total > MAX_PY_TILE_BROADCAST:
        return None
    # eager: the tile map is broadcast from the driver
    t_rows = tiles.select(*TILE_KEY, "blob").collect()
    return tiles.sparkSession.sparkContext.broadcast(
        {(r["media_ref"], int(r["level"]), int(r["tile_x"]),
          int(r["tile_y"])): bytes(r["blob"]) for r in t_rows})


def _windows(regions: DataFrame, tiles: DataFrame, emit_window: bool = True,
             broadcast_tiles: bool = False) -> DataFrame:
    """The one window back end: region rows → covered tile keys → one
    exchange of the rows by (query_id, media_ref)
    (:func:`sorted_by_keys`) → one streaming assembly
    (:func:`_assemble_stream`).  The arms differ in where blobs meet keys:

    - default: the key rows broadcast and the big tile table streams
      (:func:`join_tiles`); the matched blobs shuffle into the assembly —
      the 100-TB regime, where tiles dwarf every other side;
    - ``broadcast_tiles=True``: only the key rows shuffle, and assembly
      looks the blobs up in a python-side broadcast of the tile table
      (:func:`tile_map_broadcast`; over its ceiling the default runs) —
      the blob shuffle is the non-scaling term when queries ≫ catalog."""
    keys = expand_tile_keys(regions)
    bc = tile_map_broadcast(tiles) if broadcast_tiles else None
    if bc is None:
        rows = join_tiles(keys, tiles).select(*_ASSEMBLE_COLS, "blob")
    else:
        rows = keys.select(*_ASSEMBLE_COLS)
    return sorted_by_keys(rows, _WINDOW_KEY).mapInPandas(
        lambda it: _assemble_stream(it, emit_window,
                                    None if bc is None else bc.value),
        WINDOW_SCHEMA)


def extract(queries: DataFrame, catalog: DataFrame, tiles: DataFrame,
            level: int = 0, broadcast_tiles: bool = False,
            emit_window: bool = True) -> DataFrame:
    """End-to-end flagship extraction: bbox queries → clipped windows +
    adjusted geotransform at overview ``level``, through the one region
    join (:func:`resolve_regions`) and the one window back end
    (:func:`_windows`, whose arm ``broadcast_tiles`` picks).

    Regions resolve against the LEVEL's geotransform/dims/chunk geometry
    (half-size per level), matching a direct read of that overview IFD —
    resolving against the base level and only stamping the key would put
    level-0 pixel regions onto the half-size grid, silently extracting the
    wrong window.  A raster whose pyramid is shallower than ``level``
    joins zero tiles and is absent from the output (use
    :func:`extract_auto_level` for per-query levels with deepest-available
    fallback).
    """
    return _windows(resolve_regions(queries, catalog, level), tiles,
                    emit_window, broadcast_tiles)


def select_level(pixel_s: Column, target_resolution: Column,
                 max_level: int = 2) -> Column:
    """§4 overview/LOD selection, the level whose effective pixel size best
    reaches ``target_resolution``: clamp(floor(log2(target / pixel_s)),
    0, max_level), since each overview level doubles the pixel size."""
    # vector rows carry pixel_sx=0 → guard the division (ANSI mode aborts)
    ratio = F.when(pixel_s > 0,
                   target_resolution / pixel_s).otherwise(F.lit(1.0))
    lvl = F.floor(F.log2(F.greatest(ratio, F.lit(1.0))))
    return F.least(F.greatest(lvl, F.lit(0)), F.lit(max_level)).cast("int")


def extract_auto_level(queries: DataFrame, catalog: DataFrame,
                       tiles: DataFrame, max_level: int = 2,
                       target_col: str = "target_res",
                       emit_window: bool = True) -> DataFrame:
    """LOD-aware extraction (S7 overview read + §4 level selection, wired
    into the flagship pipeline): each query carries a target resolution
    (map units per output pixel); the overview whose effective pixel size
    best reaches it — level = clamp(floor(log2(target/pixel_s0)), 0,
    max_level) — serves the window, at that level's geotransform.  Each
    window's ``level`` column says which.

    One plan, no per-level driver loop: queries join the catalog at every
    level 0..max_level (:func:`resolve_regions`), keep their selected
    level's row, and flow through the same window back end.

    The chosen level is additionally clamped to the deepest level that
    actually HAS tiles for that raster (pyramids stop once dims < 2, so a
    shallow raster may not reach ``max_level``): a query whose target
    selects a missing level falls back to the deepest available overview
    instead of silently joining zero tiles and vanishing from the output.
    The per-media max level comes from one column-pruned aggregate over
    the tile table ((media_ref, level) only — no blobs are read).
    """
    max_lvl = tiles.groupBy("media_ref").agg(
        F.max("level").alias("_max_tile_level"))
    regions = resolve_regions(
        queries, catalog, f"explode(sequence(0, {int(max_level)}))")
    want = F.least(
        select_level(F.col("pixel_s0"), F.col(target_col), max_level),
        F.col("_max_tile_level"))
    regions = regions.join(F.broadcast(max_lvl), "media_ref", "inner") \
        .filter(F.col("level") == want)
    return _windows(regions, tiles, emit_window)


def extract_pixel_region(queries: DataFrame, catalog: DataFrame,
                         tiles: DataFrame) -> DataFrame:
    """Explicit pixel-region extraction — the reference's ``--region=x,y,WxH``
    path (P2, ``determine_extraction_region``,
    src/utils/tiff_extraction_utils.rs:268-293).

    ``queries`` rows carry (query_id, media_ref, region_x, region_y,
    region_w, region_h), in level-0 pixels.  Validation follows the
    reference exactly: a region whose end exceeds the image dimensions is
    a HARD error — the reference fails the whole command, and this raises
    with the offending rows before any tile is read.  Negative origins are
    rejected too (the reference's Region fields are u32 — the type system
    enforces what we must check).
    """
    q = queries.join(F.broadcast(raster_catalog(catalog, "0")), "media_ref",
                     "inner")
    bad = ((F.col("region_x") < 0) | (F.col("region_y") < 0) |
           (F.col("region_x") + F.col("region_w") > F.col("width")) |
           (F.col("region_y") + F.col("region_h") > F.col("height")))
    first_bad = q.filter(bad).select(
        "query_id", "media_ref", "region_x", "region_y", "region_w",
        "region_h", "width", "height").limit(5)
    offenders = first_bad.collect()  # eager: raises before any read
    if offenders:
        r = offenders[0]
        raise ValueError(
            f"Region ({r.region_x},{r.region_y} - {r.region_w}x"
            f"{r.region_h}) exceeds image dimensions "
            f"({r.width}x{r.height})"
            + (f" (+{len(offenders) - 1} more)"
               if len(offenders) > 1 else ""))
    tie = geo.adjusted_tiepoint_cols(
        F.col("region_x"), F.col("region_y"),
        F.col("origin_x"), F.col("origin_y"),
        F.col("pixel_sx"), F.col("pixel_sy"))
    return _windows(q.select("*", *tie), tiles)


def extract_for_docs(docs: DataFrame, catalog: DataFrame, tiles: DataFrame,
                     queries: DataFrame) -> DataFrame:
    """Corpus entry point (input_hint shape): docs → posexplode(spans) →
    media join → extraction, preserving span order for reassembly (J4).

    Returns one row per (doc_id, span position, query) clipped window; the
    span-sequence invariant is testable by re-aggregating with
    ``array_sort`` on ``pos`` (tests/test_extract_parity.py).
    """
    spans = docs.select(
        "doc_id", F.posexplode("spans").alias("pos", "span"))
    media_spans = spans.filter(F.col("span.kind") == "media").select(
        "doc_id", "pos", F.col("span.media_ref").alias("media_ref"))
    windows = extract(queries, catalog, tiles)
    return media_spans.join(windows, "media_ref", "inner")
