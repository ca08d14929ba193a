"""Distributed spatial joins (SURVEY.md §7 Phase 2 — the genuinely new
capability; the reference has only rect/circle membership,
src/coordinate/bbox.rs:85-88 and src/utils/mask_utils.rs:42-57).

Operators:
- :func:`index_points` — grid-cell indexing (G13) via pure Column math.
- :func:`pip_join` — point-in-polygon: cell-cover semi-join (coarse) +
  exact vectorized ray-cast refinement (J5).
- :func:`knn_join` — exact kNN via cell-ring expansion with a per-query
  correctness certificate: after a ring-r pass, a query's result is final
  only if its Kth candidate distance ≤ the minimum possible distance to any
  unexplored cell; others retry with a wider ring (J6).
- :func:`zonal_stats` — polygon × raster: region → tile join → decode →
  PIP-masked min/max/sum/count per zone (J7; aggregate semantics follow
  A1/A2, src/utils/tiff_extraction_utils.rs:40-94).
- :func:`add_salt` / hot-cell salting for skewed cells (north_rule).

Scale notes: the polygon side is exploded per covering cell and joined on
the cell key — broadcast when small, shuffle otherwise; AQE skew-join plus
explicit salting handles Zipf-hot cells.  All refinement kernels are
Arrow-batched numpy grouped *per polygon* inside each batch (no per-row
Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType, LongType,
                               StringType, StructField, StructType)

from .. import kernels as K
from ..functions import cells as C

#: every published WebMercator code (functions/geo.classify_epsg agrees)
MERC_EPSGS = (3857, 3785, 900913)
#: CRSs the zonal PIP stage can place against 4326 polygons
_ZONAL_PLACEABLE = MERC_EPSGS + (4326,)


# ---------------------------------------------------------------------------
# WKT (tiny, polygon-side only — never on the point/doc side)
# ---------------------------------------------------------------------------

def parse_wkt_polygon(wkt: str):
    """Minimal 'POLYGON((x y, …))' outer-ring parser (fixture WKT dialect)."""
    inner = wkt.strip()[len("POLYGON(("):].split(")")[0]
    xs, ys = [], []
    for pair in inner.split(","):
        x, y = pair.split()
        xs.append(float(x))
        ys.append(float(y))
    if xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    return xs, ys


_WKT_SCHEMA = StructType([StructField("xs", ArrayType(DoubleType())),
                          StructField("ys", ArrayType(DoubleType()))])


@F.pandas_udf(_WKT_SCHEMA)
def wkt_coords_udf(wkt: pd.Series) -> pd.DataFrame:
    parsed = [parse_wkt_polygon(w) for w in wkt]
    return pd.DataFrame({"xs": [p[0] for p in parsed],
                         "ys": [p[1] for p in parsed]})


def polygons_with_cover(polys: DataFrame, wkt_col: str, res: int) -> DataFrame:
    """Parse WKT once, attach bbox + covering grid cells (in Mercator),
    explode to one row per (polygon, cell)."""
    from ..functions import geo
    p = polys.withColumn("_coords", wkt_coords_udf(F.col(wkt_col)))
    p = p.withColumn("_minx", F.array_min("_coords.xs")) \
         .withColumn("_maxx", F.array_max("_coords.xs")) \
         .withColumn("_miny", F.array_min("_coords.ys")) \
         .withColumn("_maxy", F.array_max("_coords.ys"))
    cover = C.grid_cells_for_bbox(
        geo.merc_x(F.col("_minx")), geo.merc_y(F.col("_miny")),
        geo.merc_x(F.col("_maxx")), geo.merc_y(F.col("_maxy")), res)
    return p.withColumn("cell", F.explode(cover))


def index_points(points: DataFrame, lon_col: str, lat_col: str,
                 res: int) -> DataFrame:
    """Attach the grid cell id (pure Column math, codegen)."""
    return points.withColumn(
        "cell", C.grid_cell_from_lonlat(F.col(lon_col), F.col(lat_col), res))


# ---------------------------------------------------------------------------
# Hot-cell salting
# ---------------------------------------------------------------------------

def add_salt(df: DataFrame, key_col: str, hot_keys: DataFrame,
             n_salt: int = 8) -> DataFrame:
    """Salt rows whose key appears in ``hot_keys`` (a pre-pass count above
    threshold): salt = pmod(hash(<row>), n_salt); cold keys get salt 0.
    The other join side must explode 0..n_salt-1 for hot keys."""
    hk = hot_keys.select(F.col(key_col).alias("_hot_key"),
                         F.lit(True).alias("_is_hot"))
    out = df.join(F.broadcast(hk), df[key_col] == hk["_hot_key"], "left")
    return (out.withColumn(
        "salt",
        F.when(F.col("_is_hot").isNotNull(),
               F.pmod(F.hash(*df.columns), F.lit(n_salt)))
         .otherwise(F.lit(0)))
        .drop("_hot_key", "_is_hot"))


def hot_cells(points: DataFrame, threshold: int) -> DataFrame:
    """Pre-pass: cells whose point count exceeds ``threshold``."""
    return (points.groupBy("cell").count()
            .filter(F.col("count") > threshold).select("cell"))


# ---------------------------------------------------------------------------
# J5 — point-in-polygon join
# ---------------------------------------------------------------------------

_PIP_SCHEMA_FIELDS = [
    StructField("point_id", StringType()),
    StructField("poly_id", StringType()),
]
PIP_SCHEMA = StructType(_PIP_SCHEMA_FIELDS)


#: rows accumulated before one grouped ray-cast pass: per-Arrow-batch
#: grouping (1024 rows × ~100 polygon groups) degenerated into tens of
#: thousands of ~10-point kernel calls, each overhead-bound; chunking
#: 64× deeper amortizes the groupby and vectorizes the kernel while
#: keeping task memory bounded (~15 MB of candidate rows)
_PIP_REFINE_CHUNK_ROWS = 65536


def _refine_pip(pdf_iter):
    """mapInPandas refinement: accumulate Arrow batches to a bounded
    chunk, group candidates by polygon, and run the vectorized ray-cast
    once per (chunk, polygon) (kernels.points_in_polygon)."""

    def refine(pdf):
        keep_rows = []
        for poly_id, grp in pdf.groupby("poly_id", sort=False):
            xs = np.asarray(grp.iloc[0].poly_xs, dtype=np.float64)
            ys = np.asarray(grp.iloc[0].poly_ys, dtype=np.float64)
            inside = K.points_in_polygon(grp.px.to_numpy(),
                                         grp.py.to_numpy(), xs, ys)
            sub = grp.loc[inside, ["point_id", "poly_id"]]
            keep_rows.append(sub)
        return pd.concat(keep_rows) if keep_rows else None

    pending, n_pending = [], 0
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        pending.append(pdf)
        n_pending += len(pdf)
        if n_pending >= _PIP_REFINE_CHUNK_ROWS:
            out = refine(pd.concat(pending))
            pending, n_pending = [], 0
            if out is not None:
                yield out
    if pending:
        out = refine(pd.concat(pending))
        if out is not None:
            yield out


def pip_join(points: DataFrame, polys: DataFrame,
             point_id: str, lon_col: str, lat_col: str,
             poly_id: str, wkt_col: str,
             res: int = 12, broadcast_polys: bool = True,
             salt_threshold: int | None = None, n_salt: int = 8) -> DataFrame:
    """Exact point-in-polygon join.

    Coarse: equi-join on grid cell (polygon side exploded over its bbox
    cover — a rectangle superset, so no false negatives).  Fine: ray-cast
    refinement.  Returns (point_id, poly_id) pairs.

    Shuffle-join regime (``broadcast_polys=False``): pass
    ``salt_threshold`` to split Zipf-hot cells across ``n_salt`` shuffle
    keys — the point side gets ``pmod(hash, n_salt)``, the polygon side
    replicates hot-cell rows over every salt (north_rule skew handling,
    complementing AQE's runtime skew-join split).
    """
    from ..session import ensure_parallelism
    pts = index_points(ensure_parallelism(points), lon_col, lat_col, res) \
        .select(
        F.col(point_id).cast("string").alias("point_id"),
        F.col(lon_col).alias("px"), F.col(lat_col).alias("py"), "cell")
    pol = polygons_with_cover(polys, wkt_col, res).select(
        F.col(poly_id).cast("string").alias("poly_id"),
        F.col("_coords.xs").alias("poly_xs"),
        F.col("_coords.ys").alias("poly_ys"),
        "_minx", "_maxx", "_miny", "_maxy", "cell")
    if broadcast_polys:
        cand = pts.join(F.broadcast(pol), "cell", "inner")
    elif salt_threshold is not None:
        hot = hot_cells(pts, salt_threshold)
        pts_s = add_salt(pts, "cell", hot, n_salt)
        hk = hot.withColumn("_hot", F.lit(True))
        pol_s = (pol.join(F.broadcast(hk), "cell", "left")
                 .withColumn("salt", F.explode(
                     F.when(F.col("_hot").isNotNull(),
                            F.sequence(F.lit(0), F.lit(n_salt - 1)))
                      .otherwise(F.array(F.lit(0)))))
                 .drop("_hot"))
        cand = pts_s.join(pol_s, ["cell", "salt"], "inner")
    else:
        cand = pts.join(pol, "cell", "inner")
    # cheap bbox pre-filter before the exact kernel (P7 semantics)
    cand = cand.filter((F.col("px") >= F.col("_minx")) &
                       (F.col("px") <= F.col("_maxx")) &
                       (F.col("py") >= F.col("_miny")) &
                       (F.col("py") <= F.col("_maxy")))
    refined = cand.select("point_id", "poly_id", "px", "py",
                          "poly_xs", "poly_ys").mapInPandas(
        _refine_pip, PIP_SCHEMA)
    return refined.dropDuplicates(["point_id", "poly_id"])


# ---------------------------------------------------------------------------
# J6 — exact kNN join via ring expansion
# ---------------------------------------------------------------------------

def _eq_cell(x: F.Column, y: F.Column, res: int, lo_x: float, span_x: float,
             lo_y: float, span_y: float):
    """Equirectangular cell (ix, iy) at 2^res per axis over a fixed frame —
    kNN runs in the *distance* coordinate space, so the ring-certificate
    math stays exact."""
    n = 1 << res
    ix = F.greatest(F.lit(0), F.least(
        F.floor((x - F.lit(lo_x)) / F.lit(span_x) * n), F.lit(n - 1)))
    iy = F.greatest(F.lit(0), F.least(
        F.floor((y - F.lit(lo_y)) / F.lit(span_y) * n), F.lit(n - 1)))
    return ix.cast("long"), iy.cast("long")


def knn_join(points: DataFrame, queries: DataFrame, k: int,
             point_id: str = "id", query_id: str = "qid",
             x_col: str = "x", y_col: str = "y",
             res: int = 6, max_rounds: int = 8,
             frame=None) -> DataFrame:
    """Exact k-nearest-neighbor join (euclidean in the given coordinates).

    One-shot-biased ring search: ring₀ is sized from global density so the
    expected candidate disk already holds ≥k points within the *certified*
    radius — ≥95% of queries finish in round 1; each later round only
    reprocesses the failures with a 3× ring.  A round is ONE wide job
    (cell-block equi-join + window top-K + per-query certificate, cached
    and materialized together); the done/pending bookkeeping then runs on
    the cached result, so the join is never re-executed per action.

    Certificate: a query is final iff its Kth distance is strictly inside
    ring·min_cell_extent (any unexplored point is at least that far,
    Chebyshev ≤ Euclidean; strict < so an on-boundary unexplored point
    can't tie the Kth candidate and win the id tie-break).

    ``frame=None`` (default) derives (lo_x, span_x, lo_y, span_y) from the
    min/max of both sides in the same action that counts points — an
    explicit frame MUST contain every coordinate, because out-of-frame
    coordinates clamp into edge cells and break the certificate's
    points-lie-inside-their-cells premise (projected-CRS callers with the
    old lon/lat default hit exactly that).
    """
    import math as _math

    from pyspark.sql import Window

    from ..session import ensure_parallelism
    points = ensure_parallelism(points)
    n = 1 << res

    p_xy = points.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"),
                         F.lit(1).alias("is_pt"))
    q_xy = queries.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"),
                          F.lit(0).alias("is_pt"))
    # ONE bounds/count action carries everything the bookkeeping needs:
    # point count (ring sizing), query count (the per-round remaining
    # arithmetic below — so no per-round anti-join count job), bbox
    row = p_xy.unionByName(q_xy).agg(
        F.sum("is_pt"), F.count("*"), F.min("x"), F.max("x"),
        F.min("y"), F.max("y")
    ).first()
    n_points = int(row[0] or 0)
    n_queries = int(row[1] or 0) - n_points
    if frame is None:
        eps = 1e-9
        lo_x = float(row[2])
        span_x = max(float(row[3]) - lo_x, eps)
        lo_y = float(row[4])
        span_y = max(float(row[5]) - lo_y, eps)
    else:
        lo_x, span_x, lo_y, span_y = frame
        # an out-of-frame coordinate clamps into an edge cell and silently
        # breaks the certificate's points-lie-inside-their-cells premise —
        # hard-error instead (the same agg that counts points already
        # carries both sides' min/max, so this costs nothing extra)
        if row[2] is not None:
            mnx, mxx = float(row[2]), float(row[3])
            mny, mxy = float(row[4]), float(row[5])
            if (mnx < lo_x or mxx > lo_x + span_x or
                    mny < lo_y or mxy > lo_y + span_y):
                raise ValueError(
                    f"knn_join: explicit frame {frame} does not contain all "
                    f"coordinates (data bbox x=[{mnx}, {mxx}], "
                    f"y=[{mny}, {mxy}]); pass frame=None to derive it")
    cell_w = span_x / n
    cell_h = span_y / n
    min_extent = min(cell_w, cell_h)

    ix, iy = _eq_cell(F.col(x_col), F.col(y_col), res, lo_x, span_x, lo_y, span_y)
    pts = points.select(
        F.col(point_id).alias("nbr_id"),
        F.col(x_col).alias("px"), F.col(y_col).alias("py"),
        ix.alias("pix"), iy.alias("piy"))
    # NOT cached up front: ≥95% of queries certify in round 1 by
    # construction, and in the common single-round call both sides are
    # read exactly once — an eager cache is then a pure storage-write
    # tax on the wide join's input (measured as part of the knn_big
    # fixed tail, VERDICT r5 item #5).  A second round caches pts then.
    pts = pts.withColumn("pcell", F.col("pix") * n + F.col("piy"))
    pts_cached = False

    qix, qiy = _eq_cell(F.col(x_col), F.col(y_col), res, lo_x, span_x, lo_y, span_y)
    pending = queries.select(
        F.col(query_id).alias("qid_"),
        F.col(x_col).alias("qx"), F.col(y_col).alias("qy"),
        qix.alias("qix"), qiy.alias("qiy"))
    pending_cached = False

    results = []
    round_caches = []
    # ring₀ for one-round certification: k expected points inside the
    # certified DISK of radius ring·min_extent (π r² · per-cell density ≥ k),
    # doubled as a skew margin
    density = max(n_points / float(n * n), 1e-12)
    ring = max(1, min(n, int(_math.ceil(
        2.0 * _math.sqrt(k / (_math.pi * density))))))
    remaining = n_queries
    for round_i in range(max_rounds):
        # exactness guarantee: the last budgeted round always scans the
        # full frame — exhausting max_rounds used to silently DROP every
        # still-uncertified query from an "exact" join result
        if round_i == max_rounds - 1:
            ring = n
        if round_i == 1:
            # a second round exists: pin the point side now — every later
            # round re-joins it (round 1 already paid its one scan)
            pts = pts.cache()
            pts_cached = True
        if ring >= n:
            # exhaustive round: the pending set is small (certification
            # failures only) — cross-join it against pts directly instead
            # of synthesizing the (2n+1)² ≈ 16k-element cell-cover array
            # per query (which dominates the round's cost when only a
            # handful of queries remain)
            cand = pending.crossJoin(pts)
        else:
            side = 2 * ring + 1
            offs = F.sequence(F.lit(0), F.lit(side * side - 1))
            cand_cells = F.transform(
                offs,
                lambda o: (F.greatest(F.lit(0), F.least(
                    F.col("qix") + (o / side).cast("long") - ring,
                    F.lit(n - 1))) * n
                    + F.greatest(F.lit(0), F.least(
                        F.col("qiy") + o % side - ring, F.lit(n - 1)))))
            q_cells = pending.withColumn(
                "pcell", F.explode(F.array_distinct(cand_cells)))
            cand = q_cells.join(pts, "pcell", "inner")
        # dist via plain multiplication (not pow): bitwise-identical to the
        # SQL oracle's (dx*dx + dy*dy) so distance ties break identically
        dx = F.col("px") - F.col("qx")
        dy = F.col("py") - F.col("qy")
        cand = cand.withColumn("dist", F.sqrt(dx * dx + dy * dy))
        w = Window.partitionBy("qid_").orderBy("dist", "nbr_id")
        wq = Window.partitionBy("qid_")
        full_frame = ring >= n
        certified_radius = ring * min_extent
        kth = F.max(F.when(F.col("rank") == k, F.col("dist"))).over(wq)
        certified = (F.lit(full_frame) |
                     (kth.isNotNull() & (kth < F.lit(certified_radius))))
        # ONE materialization per round: topk + certificate flag together —
        # done/pending bookkeeping below reads this cache, never re-runs
        # the join (the old stats→broadcast→semi-join shape re-executed the
        # wide plan 2-3× per round).  The rank filter runs FIRST so the
        # kth/certified window scans k rows per query instead of every
        # candidate (same exchange — Window+Filter preserve the qid_
        # partitioning), and the cache keeps only result columns, not the
        # join's coordinate/cell scaffolding.
        scored = (cand.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("qid_", "nbr_id", "rank", "dist")
                  .withColumn("certified", certified)
                  .cache())
        round_caches.append(scored)
        scored.count()
        results.append(scored.filter("certified").select(
            F.col("qid_").alias(query_id), "nbr_id", "rank", "dist"))
        done_ids = scored.filter("certified").select("qid_").distinct()
        # remaining bookkeeping from the CACHED round result alone:
        # certified qids ⊆ this round's pending, so one cheap distinct
        # count replaces the old per-round anti-join count job — and the
        # next pending set is only built at all when a next round runs
        remaining -= done_ids.count()
        if full_frame or remaining == 0:
            break
        nxt = pending.join(F.broadcast(done_ids), "qid_", "left_anti").cache()
        if pending_cached:
            pending.unpersist()
        pending, pending_cached = nxt, True
        ring = min(n, ring * 3)
    if pts_cached:
        pts.unpersist()
    if pending_cached:
        pending.unpersist()  # result unions reference `scored`, not pending
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    # materialize the union (one eager localCheckpoint, reading straight
    # from the round caches) and RELEASE every per-round `scored` cache —
    # the old shape left them pinned for the session's lifetime, so a
    # long-lived session accumulated k·|queries| rows of executor storage
    # per kNN call.  The checkpoint block itself is freed by the
    # ContextCleaner when the returned DataFrame is GC'd.
    out = out.localCheckpoint(eager=True)
    for c in round_caches:
        c.unpersist()
    return out


# ---------------------------------------------------------------------------
# J7 — zonal stats (raster ↔ vector)
# ---------------------------------------------------------------------------

ZONAL_SCHEMA = StructType([
    StructField("zone_id", StringType()),
    StructField("media_ref", StringType()),
    StructField("zmin", LongType()),
    StructField("zmax", LongType()),
    StructField("zsum", LongType()),
    StructField("zcount", LongType()),
])


_ZONAL_PARTIAL_SCHEMA = StructType([
    StructField("zone_id", StringType()),
    StructField("media_ref", StringType()),
    StructField("pmin", LongType()),
    StructField("pmax", LongType()),
    StructField("psum", LongType()),
    StructField("pcount", LongType()),
])


def _zonal_partials_lookup(pdf_iter, tile_map):
    """Partials over KEY rows only: blobs come from the python-broadcast
    tile map (one copy per executor), never through Arrow per matched
    row — the zonal mirror of extract._assemble_stream's tile-map path.
    Keys with no tile (OOB covers) are dropped: inner-join semantics, and
    the caller's left join restores the pair with zmin/zmax=-1.

    The DECODED chunk is fetched by TILE KEY through a per-task memo —
    the blob bytes are touched once per (task, tile), never per row.
    The earlier shape assigned the blob into the pandas frame and
    re-copied + re-crc'd it per (zone, tile) row: with zones ≫ tiles
    that is |rows| × blob-size of pure memory traffic, measured as a
    ~5 s parallelism-independent wall on the big-raster config (the bus
    saturates — stream ceiling ~0.27 — so it cannot scale)."""
    from .extract import _decode_chunk_cached

    # no per-task raw-chunk layer here: the caller's post-luma memo
    # (bounded by bytes) fronts this getter, so it only runs on gray
    # misses — a raw-chunk LRU in between would retain up to 3× the luma
    # bytes for ~no extra hit rate; cross-task reuse is the global
    # crc-keyed _DECODE_CACHE's job
    def get_chunk(row, comp, pred, cw, ch_, spp):
        key = (row.media_ref, int(getattr(row, "level", 0) or 0),
               int(row.tile_x), int(row.tile_y))
        blob = tile_map.get(key)
        if blob is None:
            return None              # OOB cover: inner-join semantics
        return _decode_chunk_cached(blob, comp, pred, cw, ch_, spp,
                                    key[0], key[2], key[3], key[1])

    yield from _zonal_tile_partials(pdf_iter, get_chunk)


#: per-task post-luma memo budget in BYTES (an entry-count cap lets 256
#: large-strip arrays grow to GBs; bytes are what the executor runs out
#: of).  64 MB ≈ a thousand 256-px tiles or sixteen 2048² luma strips.
_ZONAL_TASK_MEMO_BYTES = 64 * 1024 * 1024


#: per-worker memo of the per-TILE CRS-converted pixel-center arrays:
#: they depend only on (raster, level, tile) geometry — never on the zone —
#: yet the pre-memo code rebuilt cols/rows + meshgrid + Mercator trig for
#: every (zone, tile) row.  The r4 scaling bisection pinned zonal's 0.72
#: two-parallelism efficiency on exactly that allocator+trig traffic.
#: Bounded LRU: 2 float64 vectors per tile (~4 KB for 256-px tiles).
_TILE_LL_CACHE: "OrderedDict[tuple, tuple]" = None
_TILE_LL_CACHE_CAP = 4096


def _tile_lonlat(media_ref, level, tx, ty, tx0, ty0, w, h,
                 ox, oy, psx, psy, epsg):
    """(lon[w], lat[h]) center arrays for one tile, CRS-converted to 4326.
    Bit-equal to the meshgrid path: each element is the same float
    expression ox + (global_px + 0.5)·psx (global int indices are exact
    in float64), and the WebMercator inverse is separable (lon = f(x),
    lat = g(y) — kernels.webmercator_to_wgs84)."""
    global _TILE_LL_CACHE
    if _TILE_LL_CACHE is None:
        from collections import OrderedDict
        _TILE_LL_CACHE = OrderedDict()
    key = (media_ref, level, tx, ty, ox, oy, psx, psy, epsg)
    hit = _TILE_LL_CACHE.get(key)
    if hit is not None:
        _TILE_LL_CACHE.move_to_end(key)
        return hit
    cols = ox + (tx0 + np.arange(w) + 0.5) * psx
    rows_ = oy - (ty0 + np.arange(h) + 0.5) * psy
    if epsg in MERC_EPSGS:
        lon, _ = K.webmercator_to_wgs84(cols, np.zeros(1))
        _, lat = K.webmercator_to_wgs84(np.zeros(1), rows_)
    elif epsg == 4326:
        lon, lat = cols, rows_
    else:
        raise ValueError(
            f"zonal_stats: raster {media_ref} has CRS EPSG:{epsg}, which "
            f"the 4326-polygon PIP stage cannot place (expected "
            f"WebMercator or 4326)")
    _TILE_LL_CACHE[key] = (lon, lat)
    if len(_TILE_LL_CACHE) > _TILE_LL_CACHE_CAP:
        _TILE_LL_CACHE.popitem(last=False)
    return lon, lat


def _zonal_tile_partials(pdf_iter, chunk_getter=None):
    """mapInPandas: one partial (min/max/sum/count of the PIP-masked slice)
    per (zone, raster, tile) row.  No zone×raster window is ever
    materialized — peak memory is one decoded chunk plus the byte-capped
    post-luma memo (_ZONAL_TASK_MEMO_BYTES) — and there is no group
    fan-in: rows are independent, the final reduce is a groupBy.
    Pixel-center arithmetic is the exact expression the whole-window
    path used (ox + (global_px + 0.5)·scale), so results are bit-equal.

    Multi-sample (RGB, spp=3) chunks decode with the sample-aware
    predictor stride and collapse to luma8 before the stats — the
    reference's grayscale-stats semantics (A1 calls ``to_luma8()`` first,
    src/utils/tiff_extraction_utils.rs:41).  Other spp values raise."""
    # per-worker decode memo (extract._decode_chunk_cached): many zones
    # overlap the same tile, and the hot-zone replication re-decodes it
    # once per (zone, tile) row without the cache
    from collections import OrderedDict

    from .extract import _decode_chunk_cached

    # per-task memo of the POST-luma 2-D chunk: the luma collapse is
    # zone-independent, and converting the full 3·cw·ch chunk per
    # (zone, tile) row re-created exactly the per-row full-chunk memory
    # traffic the decode memo removed.  Keyed by tile coords — safe
    # within one task (one job, one tile table); the cross-job global
    # cache is the one that needs the blob crc.  Evicted by BYTES
    # (_ZONAL_TASK_MEMO_BYTES): an entry-count cap would retain GBs of
    # large strips and break the bounded-peak-memory contract.
    gray: "OrderedDict[tuple, np.ndarray]" = OrderedDict()
    gray_bytes = 0

    for pdf in pdf_iter:
        out = []
        for row in pdf.itertuples():
            cw, ch = int(row.chunk_w), int(row.chunk_h)
            spp = int(getattr(row, "samples_per_pixel", 1) or 1)
            if spp not in (1, 3):
                raise ValueError(
                    f"zonal_stats: unsupported samples_per_pixel={spp} "
                    f"for {row.media_ref} (expected 1 or 3)")
            gkey = (row.media_ref, int(getattr(row, "level", 0) or 0),
                    int(row.tile_x), int(row.tile_y))
            chunk = gray.get(gkey)
            if chunk is None:
                if chunk_getter is not None:
                    raw = chunk_getter(row, int(row.compression),
                                       int(row.predictor), cw, ch, spp)
                    if raw is None:
                        continue
                else:
                    raw = _decode_chunk_cached(
                        bytes(row.blob), int(row.compression),
                        int(row.predictor), cw, ch, spp,
                        row.media_ref, int(row.tile_x), int(row.tile_y),
                        int(getattr(row, "level", 0) or 0))
                chunk = (K.rgb_to_luma8(raw.reshape(-1, cw, 3))
                         if spp == 3 else raw.reshape(-1, cw))
                gray[gkey] = chunk
                gray_bytes += chunk.nbytes
                while gray_bytes > _ZONAL_TASK_MEMO_BYTES and len(gray) > 1:
                    _, ev = gray.popitem(last=False)
                    gray_bytes -= ev.nbytes
            else:
                gray.move_to_end(gkey)
            rx, ry = int(row.region_x), int(row.region_y)
            rw, rh = int(row.region_w), int(row.region_h)
            tx0, ty0 = int(row.tile_x) * cw, int(row.tile_y) * ch
            gx0, gx1 = max(rx, tx0), min(rx + rw, tx0 + chunk.shape[1])
            gy0, gy1 = max(ry, ty0), min(ry + rh, ty0 + chunk.shape[0])
            if gx0 >= gx1 or gy0 >= gy1:
                continue
            sub = chunk[gy0 - ty0: gy1 - ty0, gx0 - tx0: gx1 - tx0]
            ox, oy = float(row.origin_x), float(row.origin_y)
            psx, psy = float(row.pixel_sx), float(row.pixel_sy)
            # polygon is in 4326: the per-TILE memo holds the centers
            # already converted (Mercator aliases or raw 4326; anything
            # else raises there — comparing meter coordinates against
            # degree polygons would be silently all-outside).  Slicing by
            # global pixel index is bit-equal to rebuilding the arrays
            # for the zone's window.
            lon_t, lat_t = _tile_lonlat(
                row.media_ref, int(getattr(row, "level", 0) or 0),
                int(row.tile_x), int(row.tile_y), tx0, ty0,
                chunk.shape[1], chunk.shape[0], ox, oy, psx, psy,
                int(row.epsg))
            inside = K.points_in_polygon_grid(
                lon_t[gx0 - tx0: gx1 - tx0], lat_t[gy0 - ty0: gy1 - ty0],
                np.asarray(row.poly_xs), np.asarray(row.poly_ys))
            vals = sub[inside]
            if vals.size:
                out.append((row.zone_id, row.media_ref, int(vals.min()),
                            int(vals.max()), int(vals.sum(dtype=np.int64)),
                            int(vals.size)))
        if out:
            yield pd.DataFrame(out, columns=[
                "zone_id", "media_ref", "pmin", "pmax", "psum", "pcount"])


def zonal_footprint_pairs(zq: DataFrame, catalog: DataFrame,
                          res: int = 6) -> DataFrame:
    """Candidate (query_id, media_ref) pairs whose bboxes share a covering
    grid cell in Mercator — the footprint-overlap pre-join that replaces a
    zone × raster cartesian (with millions of rasters the cartesian is the
    scale-killer; the cell cover is a rectangle superset, so no false
    negatives).  Rasters in a CRS the cell grid can't place (neither 3857
    nor 4326) are conservatively paired with every zone."""
    from ..functions import geo
    zc = zq.select(
        "query_id",
        F.explode(C.grid_cells_for_bbox(
            geo.merc_x(F.col("minx")), geo.merc_y(F.col("miny")),
            geo.merc_x(F.col("maxx")), geo.merc_y(F.col("maxy")),
            res)).alias("cell"))
    rasters = catalog.filter(F.col("media_kind") == "raster")
    rb = rasters.select(
        "media_ref", "epsg",
        *geo.bounds_cols(F.col("origin_x"), F.col("origin_y"),
                         F.col("width"), F.col("height"),
                         F.col("pixel_sx"), F.col("pixel_sy")))
    is_merc = F.col("epsg").isin(*MERC_EPSGS)
    placeable = rb.filter(F.col("epsg").isin(*_ZONAL_PLACEABLE))
    mx0 = F.when(is_merc, F.col("minx")).otherwise(geo.merc_x(F.col("minx")))
    mx1 = F.when(is_merc, F.col("maxx")).otherwise(geo.merc_x(F.col("maxx")))
    my0 = F.when(is_merc, F.col("miny")).otherwise(geo.merc_y(F.col("miny")))
    my1 = F.when(is_merc, F.col("maxy")).otherwise(geo.merc_y(F.col("maxy")))
    rc = placeable.select(
        "media_ref",
        F.explode(C.grid_cells_for_bbox(mx0, my0, mx1, my1, res))
        .alias("cell"))
    pairs = (zc.join(rc, "cell")
             .select("query_id", "media_ref").distinct())
    unplaceable = rb.filter(~F.col("epsg").isin(*_ZONAL_PLACEABLE)) \
        .select("media_ref")
    fallback = zq.select("query_id").crossJoin(F.broadcast(unplaceable))
    return pairs.unionByName(fallback)


def zonal_stats(zones: DataFrame, catalog: DataFrame, tiles: DataFrame,
                cover_res: int = 6,
                broadcast_keys: bool = True,
                broadcast_tiles: bool = False,
                balance: bool = False,
                on_unplaceable: str = "error") -> DataFrame:
    """min/max/sum/count of raster values per (zone polygon, raster).

    ``on_unplaceable``: rasters whose CRS is neither WebMercator (any
    alias) nor 4326 cannot be compared against the 4326 zone polygons —
    ``"error"`` (default) raises up front naming offenders (one tiny
    catalog-only action); ``"skip"`` silently excludes them.  Before this
    screen they were conservatively paired with every zone and the PIP
    stage compared meter coordinates against degree polygons — all-outside,
    silently-empty stats.

    Pipeline: zone bbox (from WKT) → footprint-overlap pre-join (cell
    cover equi-join — never zone × raster cartesian) → region on each
    candidate raster (G5/G6 dispatch) → tile-key expansion → tile join →
    per-tile decode + PIP-masked partials → groupBy reduce.

    ``broadcast_tiles=True`` (zones ≫ catalog regime): python-broadcast
    the tile map and run the partials over key rows only, so each blob
    crosses the wire once per executor instead of once per matched
    (zone, tile) row — results are identical (same partials UDF after
    blob lookup); falls back to the scale-safe shuffle join above
    extract.MAX_PY_TILE_BROADCAST blob bytes (blobs cross the wire once
    in the partials exchange — never a multi-GB JVM broadcast).

    Output contract: one row per candidate pair whose bboxes overlap a
    shared cover cell; pairs whose polygons touch no pixel report
    zmin/zmax = −1, zsum/zcount = 0.  Fully disjoint (zone, raster)
    pairs are absent — at raster-catalog scale enumerating them is the
    cartesian this version exists to avoid.  Callers who truly need the
    disjoint pairs too (small catalogs, dense reports) enumerate them
    explicitly and left-join this result::

        all_pairs = zones.select("zone_id").crossJoin(
            catalog.filter(F.col("media_kind") == "raster")
                   .select("media_ref"))
        full = all_pairs.join(zonal_stats(zones, catalog, tiles),
                              ["zone_id", "media_ref"], "left") \\
                        .fillna({"zmin": -1, "zmax": -1,
                                 "zsum": 0, "zcount": 0})
    """
    from . import extract as EX
    bad = (catalog.filter(F.col("media_kind") == "raster")
           .filter(~F.col("epsg").isin(*_ZONAL_PLACEABLE)))
    if on_unplaceable == "error":
        offenders = [r.media_ref
                     for r in bad.select("media_ref").limit(3).collect()]
        if offenders:
            raise ValueError(
                "zonal_stats: catalog contains rasters whose CRS the "
                f"4326-polygon PIP stage cannot place (e.g. {offenders}); "
                "reproject them or pass on_unplaceable='skip'")
    elif on_unplaceable == "skip":
        catalog = catalog.filter(
            (F.col("media_kind") != "raster")
            | F.col("epsg").isin(*_ZONAL_PLACEABLE))
    else:
        raise ValueError(
            f"on_unplaceable must be 'error' or 'skip', got {on_unplaceable!r}")
    z = zones.withColumn("_coords", wkt_coords_udf(F.col("polygon_wkt")))
    zq = z.select(
        F.col("zone_id").alias("query_id"),
        F.col("_coords.xs").alias("poly_xs"),
        F.col("_coords.ys").alias("poly_ys"),
        F.array_min("_coords.xs").alias("minx"),
        F.array_max("_coords.xs").alias("maxx"),
        F.array_min("_coords.ys").alias("miny"),
        F.array_max("_coords.ys").alias("maxy"),
        F.coalesce(F.col("epsg"), F.lit(4326)).alias("crs"),
        F.lit(None).cast("double").alias("radius_m"))
    # materialize the (query_id, media_ref) candidate-pair table once:
    # it is consumed TWICE — feeding the region/key chain AND restoring
    # no-pixel pairs in _zonal_finish — and left lazy each consumer
    # re-ran the whole WKT-parse + double-explode footprint join +
    # distinct subtree (measured round 6: the partials UDF is ~9 core-s
    # while the zonal wall is 7-12 s — the wall is this plan/stage
    # latency, not pixel work).  The table is one id pair per candidate,
    # the same cardinality class as the output itself.
    pairs = zonal_footprint_pairs(zq, catalog, cover_res) \
        .localCheckpoint(eager=True)
    zr = zq.join(pairs, "query_id")
    regions = EX.resolve_regions(zr, catalog)
    keys = EX.expand_tile_keys(regions)
    cols = ["query_id", "media_ref", "level", "region_x", "region_y",
            "region_w", "region_h", "chunk_w", "chunk_h", "compression",
            "predictor", "samples_per_pixel", "tile_x", "tile_y", "blob",
            "origin_x", "origin_y", "pixel_sx", "pixel_sy", "epsg",
            "poly_xs", "poly_ys"]
    if broadcast_tiles:
        # cluster-side size aggregate BEFORE any collect — measuring an
        # over-ceiling tile table by collecting it would OOM the driver
        # inside the guard (ADVICE r4)
        total = tiles.agg(
            F.coalesce(F.sum(F.length("blob")), F.lit(0)).alias("b")
        ).collect()[0]["b"]
        if total <= EX.MAX_PY_TILE_BROADCAST:
            # zones ≫ catalog regime (the mirror of extract's
            # broadcast_tiles): every (zone, tile) matched row would carry
            # the tile blob through the Arrow boundary — |matches| × blob
            # bytes, the dominant, memory-bandwidth-bound term when many
            # zones overlap each tile.  Broadcasting the
            # (small-by-contract, ≤MAX_PY_TILE_BROADCAST) tile map to the
            # python workers ships each blob once per EXECUTOR instead;
            # only tiny key rows cross Arrow.  Explicit repartition: key
            # rows are tiny, so AQE would coalesce the exchange to ~1
            # partition by byte size and serialize the decode.
            n_parts = keys.sparkSession.sparkContext.defaultParallelism * 3
            # balance composes with broadcast_tiles: key rows are blob-free
            # here, so a round-robin spread of the (zone, tile) work units
            # is free of blob-shuffle cost — use it instead of the query_id
            # hash when the caller asked for balancing (ADVICE r4)
            k = keys.repartition(n_parts) if balance \
                else keys.repartition(n_parts, "query_id")
            t_rows = tiles.select("media_ref", "level", "tile_x", "tile_y",
                                  "blob").collect()
            bc = keys.sparkSession.sparkContext.broadcast(
                {(r["media_ref"], int(r["level"]), int(r["tile_x"]),
                  int(r["tile_y"])): bytes(r["blob"]) for r in t_rows})
            nb_cols = [c for c in cols if c != "blob"]
            partials = (k.select(*nb_cols)
                        .withColumnRenamed("query_id", "zone_id")
                        .mapInPandas(
                            lambda it: _zonal_partials_lookup(it, bc.value),
                            _ZONAL_PARTIAL_SCHEMA))
            return _zonal_finish(partials, pairs)
        # over-ceiling tile table: the old fallback JVM-broadcast the
        # whole >512 MB blob table — a driver/executor hazard with a hard
        # 8 GB broadcast cap — so fall through to the shuffle strategy
        # below instead (VERDICT r5 item #3): blob-free keys broadcast,
        # blobs cross the wire once in the partials exchange.
    # the partials stage inherits the tile side's partitioning (stream side
    # of the broadcast join) — a small cached tile table in few partitions
    # would serialize the decode; widen it (no-op on already-wide tables)
    from ..session import ensure_parallelism
    joined = EX.join_tiles(keys, ensure_parallelism(tiles, 3),
                           broadcast_keys=broadcast_keys)
    if balance:
        # the per-row partial cost varies with chunk size (a whole-image
        # strip is ~64x a 256-px tile) and hot zones replicate hot tiles —
        # a round-robin repartition of the matched rows evens the stage at
        # the price of one shuffle of matched blobs.  Off by default: at
        # raster-corpus scale prefer salting the hot media_refs instead.
        n = tiles.sparkSession.sparkContext.defaultParallelism * 4
        joined = joined.repartition(n)
    partials = (joined.select(*cols)
                .withColumnRenamed("query_id", "zone_id")
                .mapInPandas(_zonal_tile_partials, _ZONAL_PARTIAL_SCHEMA))
    return _zonal_finish(partials, pairs)


def _zonal_finish(partials: DataFrame, pairs: DataFrame) -> DataFrame:
    """groupBy reduce of per-tile partials + the left join that restores
    candidate pairs whose polygons touched no pixel (zmin/zmax=-1).

    ``pairs`` is the checkpointed footprint-pair table (query_id,
    media_ref) — already distinct, and exactly the region chain's pair
    set (resolve_regions only inner-joins the catalog rows every pair
    came from), so reusing it here skips a full recompute of the WKT +
    footprint-join subtree per call."""
    agg = partials.groupBy("zone_id", "media_ref").agg(
        F.min("pmin").alias("zmin"), F.max("pmax").alias("zmax"),
        F.sum("psum").alias("zsum"), F.sum("pcount").alias("zcount"))
    all_pairs = pairs.select(F.col("query_id").alias("zone_id"),
                             "media_ref")
    return (all_pairs.join(agg, ["zone_id", "media_ref"], "left")
            .select("zone_id", "media_ref",
                    F.coalesce(F.col("zmin"), F.lit(-1)).alias("zmin"),
                    F.coalesce(F.col("zmax"), F.lit(-1)).alias("zmax"),
                    F.coalesce(F.col("zsum"), F.lit(0)).alias("zsum"),
                    F.coalesce(F.col("zcount"), F.lit(0)).alias("zcount")))
