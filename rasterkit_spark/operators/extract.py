"""Flagship extraction pipeline (SURVEY.md §3.1 / §7 Phase 1).

Distributed re-expression of the reference's
``rasterkit input.tif --extract --bbox=… --crs=…`` path
(src/commands/extract_command.rs:251-291 → src/extractor/tile_reader.rs /
strip_reader.rs → src/tiff/builders/geo_tags.rs:114-201):

1. **Region resolution** — pure Column expressions
   (:func:`rasterkit_spark.functions.geo.region_dispatch_stages`, applied
   as successive narrow projections), whole-stage codegen, no Python.
2. **Tile-key expansion** — each query row explodes into the covered
   ``(media_ref, level, tile_x, tile_y)`` keys (J1/J2; strips are tiles with
   tile_w = image width, so one code path covers both layouts).
3. **Tile join** — equi-join against the tile table.  The query side is
   usually tiny → broadcast; at corpus scale both sides are bucketed by
   media_ref (AQE handles residual skew; hot refs can additionally be
   salted — see operators/spatial.py).
4. **Decode + clip + reassemble** — the matched rows are hash-partitioned
   by ``(query_id, media_ref)`` into one partition per core, sorted within
   each partition, and streamed through one ``mapInPandas`` pass that
   assembles each run of equal keys with the *same* numpy kernels the
   oracle uses (C1/C2 → W1 → P1), emitting the clipped window bytes, its
   sha256, and the adjusted geotransform (G9) in batched frames.

Two shuffles total: the tile join (skippable via broadcast) and the
assembly exchange.  Everything else is narrow.
"""

from __future__ import annotations

import hashlib
import operator
import zlib

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType)

from .. import kernels as K
from ..functions import geo

WINDOW_SCHEMA = StructType([
    StructField("query_id", StringType()),
    StructField("media_ref", StringType()),
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


def normalized_chunk_cols() -> list:
    """Strips-as-tiles normalization (src/extractor/strip_reader.rs:61-71):
    chunk_w = tile_w or image width; chunk_h = tile_h or rows_per_strip,
    with the NULL-rows_per_strip quirk defaulting to image **width**.
    0 encodes NULL in the catalog fixtures."""
    tile_w = F.col("tile_w")
    tile_h = F.col("tile_h")
    rps = F.col("rows_per_strip")
    width = F.col("width")
    chunk_w = F.when(tile_w > 0, tile_w).otherwise(width)
    chunk_h = F.when(tile_h > 0, tile_h).otherwise(
        F.when(rps > 0, rps).otherwise(width))  # ← quirk: default = width
    return [chunk_w.alias("chunk_w"), chunk_h.alias("chunk_h")]


def _catalog_select(catalog: DataFrame) -> DataFrame:
    spp = (F.col("samples_per_pixel") if "samples_per_pixel"
           in catalog.columns else F.lit(1)).alias("samples_per_pixel")
    return catalog.filter(F.col("media_kind") == "raster").select(
        "media_ref", "width", "height", "tile_w", "tile_h", "rows_per_strip",
        "epsg", "pixel_sx", "pixel_sy", "origin_x", "origin_y",
        "compression", "predictor", spp, *normalized_chunk_cols())


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


def _resolve_regions_joined(q: DataFrame, has_radius: bool) -> DataFrame:
    """Region + adjusted-tiepoint columns over an already query×catalog
    joined frame (the geotransform columns may be level-scaled;
    pixel_h = -pixel_sy, G8)."""
    for stage in _region_stages(has_radius):
        q = q.select("*", *stage)
    return q.drop(*geo.REGION_STAGE_COLS)


def resolve_regions(queries: DataFrame, catalog: DataFrame) -> DataFrame:
    """Join bbox queries to the raster catalog and compute pixel regions.

    The catalog is metadata-only (no blobs) → broadcast-join.
    ``queries`` needs columns: query_id, media_ref, minx/miny/maxx/maxy,
    crs, radius_m (nullable).
    """
    cat = _catalog_select(catalog)
    q = queries.join(F.broadcast(cat), "media_ref", "inner")
    return _resolve_regions_joined(q, "radius_m" in queries.columns)


def expand_tile_keys(regions: DataFrame, level: int = 0) -> DataFrame:
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
    if "level" not in regions.columns:  # per-row levels (LOD) pass through
        r = r.withColumn("level", F.lit(level))
    return r.drop("start_tile_x", "start_tile_y", "end_tile_x", "end_tile_y")


def join_tiles(keys: DataFrame, tiles: DataFrame,
               broadcast_keys: bool | None = None) -> DataFrame:
    """Equi-join covered keys against the tile table.

    ``broadcast_keys=True`` broadcasts the (small) query side so the big
    tile table never shuffles — the right call when queries ≪ tiles.
    ``None`` lets AQE decide.
    """
    t = tiles.select("media_ref", "level", "tile_x", "tile_y", "blob")
    k = F.broadcast(keys) if broadcast_keys else keys
    return k.join(t, ["media_ref", "level", "tile_x", "tile_y"], "inner")


#: per-python-worker decode memo: many queries over the same raster hit
#: the same tiles, and partitioning by query_id places those hits in the
#: same tasks — without a cache each (query, tile) match re-inflates the
#: blob (measured: the dominant cost of the COG-regime extract when
#: |queries| ≫ |tiles|).  Keyed by chunk identity INCLUDING a blob crc
#: (tile coords alone could collide across overview levels/corpora);
#: bounded LRU (~cap × chunk bytes, 256×256 u8 → ≤ 32 MB/worker); cached
#: arrays are frozen read-only — clip_chunk_into only reads its source.
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
    fixed set-up (Spark 4.1's worker runs ``importlib.invalidate_caches()``
    per task, which re-reads pyspark.zip's directory once per zip
    importer), so each extra wave of tasks adds that cost to the wall.  On
    a 4-core host an identity ``mapInPandas`` over 4,000 tiny rows took
    0.33 s as 4 tasks and 1.03 s as 12; the former ``3 × cores`` count
    paid it in three waves.  Measure before raising the count."""
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


def batched_frames(records, payload: str):
    """Pack dict records (None = no output) into pandas frames of at most
    ``_ASSEMBLE_OUT_ROWS`` rows, cut as soon as their ``payload`` bytes
    reach ``_ASSEMBLE_OUT_BYTES``.  The bounds are tested after every
    record, so a frame holds at most the byte bound plus one record."""
    out, nbytes = [], 0
    for rec in records:
        if rec is None:
            continue
        out.append(rec)
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
    map; keys with no tile (OOB covers, shallow pyramids) are dropped —
    inner-join semantics — and a run left empty yields no window.
    ``memo`` is then a per-task decoded-chunk front memo keyed by tile
    coords — valid because the map pins one blob per key, so repeats skip
    the global cache's per-call blob crc32 (measured: most of the decode
    phase)."""
    first = rows[0]
    media = first.media_ref
    chunks = []
    for row in rows:
        key = (media, int(row.level), int(row.tile_x), int(row.tile_y))
        blob = row.blob if tile_map is None else tile_map.get(key)
        if blob is not None:
            chunks.append((key, blob))
    if not chunks:
        return None
    rx, ry = int(first.region_x), int(first.region_y)
    rw, rh = int(first.region_w), int(first.region_h)
    cw, ch = int(first.chunk_w), int(first.chunk_h)
    comp, pred = int(first.compression), int(first.predictor)
    spp = int(first.samples_per_pixel or 1)
    out = np.zeros((rh, rw) if spp == 1 else (rh, rw, spp), dtype=np.uint8)
    for key, blob in chunks:
        _, lvl, tx, ty = key
        chunk = memo.get(key) if memo is not None else None
        if chunk is None:
            chunk = _decode_chunk_cached(bytes(blob), comp, pred, cw, ch,
                                         spp, media, tx, ty, lvl)
            if memo is not None:
                memo[key] = chunk
                if len(memo) > _DECODE_CACHE_CAP:
                    memo.pop(next(iter(memo)))
        K.clip_chunk_into(out, chunk, cw, ch, tx * cw, ty * ch,
                          rx, ry, rw, rh, spp)
    buf = out.tobytes()
    return {
        "query_id": first.query_id,
        "media_ref": media,
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


def decode_and_clip(joined: DataFrame, emit_window: bool = True) -> DataFrame:
    """Reassemble the matched chunks into clipped windows: one exchange of
    the matched rows (:func:`sorted_by_keys` on (query_id, media_ref)),
    then one streaming ``mapInPandas`` pass (:func:`_assemble_stream`)."""
    rows = sorted_by_keys(joined.select(*_ASSEMBLE_COLS, "blob"), _WINDOW_KEY)
    return rows.mapInPandas(lambda it: _assemble_stream(it, emit_window),
                            WINDOW_SCHEMA)


#: blob-bytes ceiling for the python-side tile broadcast; above it the
#: JVM-broadcast join path is used instead (still no blob shuffle)
MAX_PY_TILE_BROADCAST = 512 * 1024 * 1024


def extract(queries: DataFrame, catalog: DataFrame, tiles: DataFrame,
            level: int = 0, broadcast_keys: bool = True,
            broadcast_tiles: bool = False,
            emit_window: bool = True) -> DataFrame:
    """End-to-end flagship extraction: bbox queries → clipped windows +
    adjusted geotransform.  See module docstring for the physical plan.

    Two physical strategies, picked by which side is small:

    - default (``broadcast_keys``): broadcast the expanded query keys,
      stream the big tile table, then ONE shuffle of the matched blobs
      into the sorted per-(query, media) assembly — the 100-TB regime,
      where tiles dwarf every other side.
    - ``broadcast_tiles=True``: broadcast the tile table and keep the
      blobs where the query keys already live — the matched blobs NEVER
      shuffle (the group shuffle of decoded-size payloads is the
      non-scaling term when queries ≫ catalog).  Only the key rows (tiny)
      are repartitioned and sorted, and assembly looks the blobs up from
      a python-side broadcast of the tile table.

    ``level`` selects an overview: regions resolve against the LEVEL's
    geotransform/dims/chunk geometry (half-size per level), matching a
    direct read of that overview IFD — resolving against the base level
    and only stamping the key would put level-0 pixel regions onto the
    half-size grid, silently extracting the wrong window.  A raster whose
    pyramid is shallower than ``level`` joins zero tiles and is absent
    from the output (use :func:`extract_auto_level` for per-query levels
    with deepest-available fallback).
    """
    if level > 0:
        cat = catalog_at_levels(catalog, level) \
            .filter(F.col("level") == level)
        q = queries.join(F.broadcast(cat), "media_ref", "inner")
        regions = _resolve_regions_joined(q, "radius_m" in queries.columns)
    else:
        regions = resolve_regions(queries, catalog)
    keys = expand_tile_keys(regions, level=level)
    if broadcast_tiles:
        # size the blobs with a cluster-side aggregate BEFORE any driver
        # collect: collecting an over-ceiling tile table to *measure* it
        # would OOM the driver inside the guard itself
        total = tiles.agg(
            F.coalesce(F.sum(F.length("blob")), F.lit(0)).alias("b")
        ).collect()[0]["b"]
        if total <= MAX_PY_TILE_BROADCAST:
            # key rows only (no blobs): partitioned like decode_and_clip
            k = sorted_by_keys(keys.select(*_ASSEMBLE_COLS), _WINDOW_KEY)
            t_rows = tiles.select("media_ref", "level", "tile_x", "tile_y",
                                  "blob").collect()
            # python-side broadcast: the tile bytes cross the wire ONCE
            # per executor.  A JVM broadcast join would still serialize
            # the matched blob into EVERY (query, tile) Arrow row headed
            # for the assembly UDF — |matches| × blob bytes, the actual
            # dominant cost when queries ≫ tiles (measured: ~2× the whole
            # big-raster extract wall)
            bc = keys.sparkSession.sparkContext.broadcast(
                {(r["media_ref"], int(r["level"]), int(r["tile_x"]),
                  int(r["tile_y"])): bytes(r["blob"]) for r in t_rows})
            return k.mapInPandas(
                lambda it: _assemble_stream(it, emit_window, bc.value),
                WINDOW_SCHEMA)
        # over-ceiling tile table: a JVM broadcast of >512 MB of blobs is
        # itself a driver/executor memory hazard and Spark hard-caps any
        # broadcast relation at 8 GB / 512M rows — fall through to the
        # shuffle strategy instead (VERDICT r5 item #3): the blob-free
        # keys broadcast, and the matched blobs cross the wire exactly
        # once, in the group-assembly exchange, which scales.
    joined = join_tiles(keys, tiles, broadcast_keys=broadcast_keys)
    return decode_and_clip(joined, emit_window)


def catalog_at_levels(catalog: DataFrame, max_level: int) -> DataFrame:
    """Raster catalog × overview levels 0..max_level with the level-scaled
    geotransform: dims floor-halve per level (matching A5 pyramid
    generation — floor halving composes, so dims_ℓ = dims >> ℓ) and pixel
    scale doubles; tile dims / rows_per_strip are level-invariant (the
    NULL-rps quirk resolves against the LEVEL width via the normalized
    chunk columns).  Adds ``level`` and keeps ``pixel_s0`` (the base
    resolution LOD selection compares against)."""
    c = _catalog_select(catalog).withColumn(
        "level", F.explode(F.sequence(F.lit(0), F.lit(max_level))))
    # 2^level as DOUBLE is exact (small powers of two); floor-div keeps the
    # dims integer-exact — shiftleft/shiftright need literal bit counts
    two_l = F.pow(F.lit(2.0), F.col("level").cast("double"))
    scaled = (c.withColumn("pixel_s0", F.col("pixel_sx"))
              .withColumn("width",
                          F.floor(F.col("width") / two_l).cast("int"))
              .withColumn("height",
                          F.floor(F.col("height") / two_l).cast("int"))
              .withColumn("pixel_sx", F.col("pixel_sx") * two_l)
              .withColumn("pixel_sy", F.col("pixel_sy") * two_l))
    # re-derive chunk geometry against the level dims (strips: cw = width)
    return scaled.drop("chunk_w", "chunk_h").select(
        "*", *normalized_chunk_cols())


def extract_auto_level(queries: DataFrame, catalog: DataFrame,
                       tiles: DataFrame, max_level: int = 2,
                       target_col: str = "target_res",
                       broadcast_keys: bool = True,
                       emit_window: bool = True) -> DataFrame:
    """LOD-aware extraction (S7 overview read + §4 level selection, wired
    into the flagship pipeline): each query carries a target resolution
    (map units per output pixel); the overview whose effective pixel size
    best reaches it — level = clamp(floor(log2(target/pixel_s0)), 0,
    max_level) — serves the window, at that level's geotransform.

    One plan, no per-level driver loop: queries join the level-expanded
    catalog, keep their selected level's row, and flow through the same
    region→keys→join→decode pipeline with per-row levels.

    The chosen level is additionally clamped to the deepest level that
    actually HAS tiles for that raster (pyramids stop once dims < 2, so a
    shallow raster may not reach ``max_level``): a query whose target
    selects a missing level falls back to the deepest available overview
    instead of silently joining zero tiles and vanishing from the output.
    The per-media max level comes from one column-pruned aggregate over
    the tile table ((media_ref, level) only — no blobs are read).
    """
    cat = catalog_at_levels(catalog, max_level)
    max_lvl = tiles.groupBy("media_ref").agg(
        F.max("level").alias("_max_tile_level"))
    q = (queries.join(F.broadcast(cat), "media_ref", "inner")
         .join(F.broadcast(max_lvl), "media_ref", "inner"))
    ratio = F.when(F.col("pixel_s0") > 0,
                   F.col(target_col) / F.col("pixel_s0")).otherwise(F.lit(1.0))
    want = F.least(
        F.greatest(F.floor(F.log2(F.greatest(ratio, F.lit(1.0)))), F.lit(0)),
        F.lit(max_level),
        F.col("_max_tile_level")).cast("int")
    q = q.filter(F.col("level") == want).drop("_max_tile_level")
    regions = _resolve_regions_joined(q, "radius_m" in queries.columns)
    keys = expand_tile_keys(regions)
    joined = join_tiles(keys, tiles, broadcast_keys=broadcast_keys)
    out = decode_and_clip(joined, emit_window)
    lv = regions.select("query_id", "media_ref", "level")
    return out.join(lv, ["query_id", "media_ref"])


def extract_pixel_region(queries: DataFrame, catalog: DataFrame,
                         tiles: DataFrame, level: int = 0,
                         strict: bool = True,
                         broadcast_keys: bool = True) -> DataFrame:
    """Explicit pixel-region extraction — the reference's ``--region=x,y,WxH``
    path (P2, ``determine_extraction_region``,
    src/utils/tiff_extraction_utils.rs:268-293).

    ``queries`` rows carry (query_id, media_ref, region_x, region_y,
    region_w, region_h).  Validation follows the reference exactly: a
    region whose end exceeds the image dimensions is a HARD error (the
    reference fails the whole command; ``strict=True`` raises with the
    offending rows).  ``strict=False`` drops invalid rows instead —
    the forgiving mode for corpus-scale batch runs.  Negative origins
    are rejected too (the reference's Region fields are u32 — the type
    system enforces what we must check).
    """
    if level > 0:
        # regions are in the overview's pixel grid — validate and clip
        # against the LEVEL dims/chunks (see extract() docstring)
        cat = catalog_at_levels(catalog, level) \
            .filter(F.col("level") == level)
    else:
        cat = _catalog_select(catalog)
    q = queries.join(F.broadcast(cat), "media_ref", "inner")
    bad = ((F.col("region_x") < 0) | (F.col("region_y") < 0) |
           (F.col("region_x") + F.col("region_w") > F.col("width")) |
           (F.col("region_y") + F.col("region_h") > F.col("height")))
    if strict:
        offenders = q.filter(bad).select(
            "query_id", "media_ref", "region_x", "region_y", "region_w",
            "region_h", "width", "height").limit(5).collect()
        if offenders:
            r = offenders[0]
            raise ValueError(
                f"Region ({r.region_x},{r.region_y} - {r.region_w}x"
                f"{r.region_h}) exceeds image dimensions "
                f"({r.width}x{r.height})"
                + (f" (+{len(offenders) - 1} more)"
                   if len(offenders) > 1 else ""))
    else:
        q = q.filter(~bad)
    tie = geo.adjusted_tiepoint_cols(
        F.col("region_x"), F.col("region_y"),
        F.col("origin_x"), F.col("origin_y"),
        F.col("pixel_sx"), F.col("pixel_sy"))
    regions = q.select("*", *tie)
    keys = expand_tile_keys(regions, level=level)
    joined = join_tiles(keys, tiles, broadcast_keys=broadcast_keys)
    return decode_and_clip(joined)


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
