"""Distributed spatial joins (SURVEY.md §7 Phase 2 — the genuinely new
capability; the reference has only rect/circle membership,
src/coordinate/bbox.rs:85-88 and src/utils/mask_utils.rs:42-57).

Operators:
- :func:`index_points` — grid-cell indexing (G13) via pure Column math.
- :func:`polygons` / :func:`polygon_cover` — J5's and J7's polygon front
  end: each WKT parsed once per call, then exploded over its cell cover.
- :func:`pip_join` — point-in-polygon: cell-cover semi-join (coarse) +
  exact vectorized ray-cast refinement (J5).
- :func:`knn_join` — exact kNN in at most two rounds: a density-sized
  cell ring with a per-query certificate, then, for uncertified queries,
  a ring sized by each one's round-1 Kth distance (J6).
- :func:`zonal_stats` — polygon × raster: extract's read path (region →
  tile keys → tile join or broadcast tile map → one chunk decode per run
  of equal tile keys) over zone × raster pairs that carry the polygon,
  with a PIP mask in place of the window clip, then min/max/sum/count per
  zone (J7; aggregates follow A1/A2, src/utils/tiff_extraction_utils.rs).
- :func:`add_salt` / hot-cell salting for skewed cells (north_rule).

Scale notes: the polygon side is exploded per covering cell and joined on
the cell key — broadcast when small, shuffle otherwise; AQE skew-join plus
explicit salting handles Zipf-hot cells.  The PIP refinement is
Arrow-batched numpy grouped *per polygon* inside each batch; zonal's
partials are grouped *per tile* (one decode per run of equal tile keys).
Neither runs per-row Python over pixels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

from .. import kernels as K
from ..functions import cells as C
from ..plans.materialize import materialize, observe
from . import extract as EX

#: every published WebMercator code (functions/geo.classify_epsg agrees)
MERC_EPSGS = (3857, 3785, 900913)


# ---------------------------------------------------------------------------
# WKT (tiny, polygon-side only — never on the point/doc side)
# ---------------------------------------------------------------------------

def parse_wkt_polygon(wkt: str):
    """Minimal 'POLYGON((x y, …))' parser (fixture WKT dialect).  Only a
    single outer ring is supported: a polygon with interior rings raises
    ``ValueError``, since dropping a hole would count its points inside."""
    outer, _, rest = wkt.strip()[len("POLYGON(("):].partition(")")
    if "(" in rest:
        raise ValueError(f"interior rings (holes) are unsupported: {wkt!r}")
    xs, ys = [], []
    for pair in outer.split(","):
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


# nondeterministic so the optimizer cannot duplicate it: pip_join's bbox
# filter infers isnotnull(minx…), which Catalyst would push below the
# UDF's projection, evaluating the UDF a second time there
wkt_coords_udf = wkt_coords_udf.asNondeterministic()


def polygons(df: DataFrame, id_col: Column, wkt_col: str,
             *keep: Column) -> DataFrame:
    """One row per polygon: ``id_col``, the ring as ``poly_xs``/``poly_ys``,
    its bbox ``minx``/``maxx``/``miny``/``maxy`` and the ``keep`` columns.
    The only WKT parse of the polygon operators, evaluated once per row."""
    p = df.select(id_col, *keep, wkt_coords_udf(F.col(wkt_col)).alias("_c"))
    xs, ys = F.col("_c.xs"), F.col("_c.ys")
    return p.withColumns({
        "poly_xs": xs, "poly_ys": ys,
        "minx": F.array_min(xs), "maxx": F.array_max(xs),
        "miny": F.array_min(ys), "maxy": F.array_max(ys)}).drop("_c")


def polygon_cover(polys: DataFrame, res: int) -> DataFrame:
    """``polys`` exploded to one row per grid cell (``cell``, in Mercator)
    covering its bbox: a rectangle superset of the polygon, so a join on
    the cell has no false negatives."""
    from ..functions import geo
    return polys.withColumn("cell", F.explode(C.grid_cells_for_bbox(
        geo.merc_x(F.col("minx")), geo.merc_y(F.col("miny")),
        geo.merc_x(F.col("maxx")), geo.merc_y(F.col("maxy")), res)))


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
    pol = polygon_cover(polygons(
        polys, F.col(poly_id).cast("string").alias("poly_id"), wkt_col), res)
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
    cand = cand.filter(F.col("px").between(F.col("minx"), F.col("maxx")) &
                       F.col("py").between(F.col("miny"), F.col("maxy")))
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


def _ring_cells(ring: F.Column, n: int) -> F.Column:
    """Cell ids (ix·n + iy) within Chebyshev distance ``ring`` of the
    query cell (qix, qiy), clamped to the n×n frame: the clamped
    rectangle is enumerated directly, so an edge query lists each cell
    once."""
    x0 = F.greatest(F.col("qix") - ring, F.lit(0))
    y0 = F.greatest(F.col("qiy") - ring, F.lit(0))
    wx = F.least(F.col("qix") + ring, F.lit(n - 1)) - x0 + 1
    wy = F.least(F.col("qiy") + ring, F.lit(n - 1)) - y0 + 1
    return F.transform(
        F.sequence(F.lit(0).cast("long"), wx * wy - 1),
        lambda o: (x0 + (o / wy).cast("long")) * n + y0 + o % wy)


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """The k nearest candidates per query by (dist, nbr_id), ranked 1..k."""
    # dist via plain multiplication (not pow): bitwise-identical to the
    # SQL oracle's (dx*dx + dy*dy) so distance ties break identically
    dx = F.col("px") - F.col("qx")
    dy = F.col("py") - F.col("qy")
    w = Window.partitionBy("qid_").orderBy("dist", "nbr_id")
    return (cand.withColumn("dist", F.sqrt(dx * dx + dy * dy))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _second_round_arms(left: DataFrame,
                       n: int) -> tuple[DataFrame, DataFrame]:
    """Round-2 queries split by arm: (those searching their own ring,
    those cross-joined with every point, whose ring covers the frame)."""
    qix, qiy = F.col("qix"), F.col("qiy")
    spans = F.col("ring") >= F.greatest(qix, qiy, n - 1 - qix, n - 1 - qiy)
    return left.filter(~spans), left.filter(spans)


def knn_join(points: DataFrame, queries: DataFrame, k: int,
             point_id: str = "id", query_id: str = "qid",
             x_col: str = "x", y_col: str = "y",
             res: int = 6, frame=None) -> DataFrame:
    """Exact k-nearest-neighbor join (euclidean in the given coordinates),
    in at most two rounds.

    Round 1 searches a ring sized from global density, so ≥95% of queries
    hold ≥k points within the *certified* radius.  Certificate: a query
    is final iff its Kth distance is strictly inside ring·min_cell_extent
    (any unexplored point is at least that far, Chebyshev ≤ Euclidean;
    strict < so an on-boundary unexplored point can't tie the Kth
    candidate and win the id tie-break).  The round is one eager
    checkpoint, which also counts the certified queries.

    Round 2 runs, lazily, only for the uncertified queries.  One with k
    round-1 candidates searches its own ring ⌊d_k / min_extent⌋ + 1, d_k
    its round-1 Kth distance: the true Kth distance is at most d_k, and
    every point within d_k, ties included, lies inside that ring, so no
    certificate is needed.  One with fewer candidates, or whose ring
    covers the frame, is cross-joined with every point.

    Every qid must be non-NULL and unique (``ValueError`` otherwise): a
    duplicate would merge two queries' candidates under one id.  A point
    or query with a NULL coordinate takes no part.

    ``frame=None`` (default) derives (lo_x, span_x, lo_y, span_y) from the
    min/max of both sides in the same action that counts points — an
    explicit frame MUST contain every coordinate, because out-of-frame
    coordinates clamp into edge cells and break the certificate's
    points-lie-inside-their-cells premise (projected-CRS callers with the
    old lon/lat default hit exactly that).
    """
    import math as _math

    from ..session import ensure_parallelism
    # a NULL coordinate has no distance, so its row takes no part (a cross
    # join would rank it first, with dist NULL)
    points = ensure_parallelism(points).dropna(subset=[x_col, y_col])
    queries = queries.dropna(subset=[x_col, y_col])
    n = 1 << res

    p_xy = points.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"),
                         F.lit(1).alias("is_pt"))
    q_xy = queries.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"),
                          F.lit(0).alias("is_pt"), F.col(query_id).alias("q"))
    # ONE bounds action carries everything the rounds need: point count
    # (ring sizing), query count and its qid census, bbox
    bounds = p_xy.unionByName(q_xy, allowMissingColumns=True).agg(
        F.sum("is_pt"), F.count("*"), F.min("x"), F.max("x"),
        F.min("y"), F.max("y"), F.count("q"), F.countDistinct("q"))
    row = bounds.first()  # eager: the frame and ring₀ are plan constants
    n_points = int(row[0] or 0)
    n_queries = int(row[1] or 0) - n_points
    if not n_queries == row[6] == row[7]:
        raise ValueError(
            f"knn_join: {query_id!r} must be non-NULL and unique "
            f"({n_queries} queries, {row[6]} non-NULL, {row[7]} distinct)")
    if frame is None:
        lo_x, lo_y = float(row[2]), float(row[4])
        span_x = max(float(row[3]) - lo_x, 1e-9)
        span_y = max(float(row[5]) - lo_y, 1e-9)
    else:
        lo_x, span_x, lo_y, span_y = frame
        # an out-of-frame coordinate clamps into an edge cell and silently
        # breaks the certificate's points-lie-inside-their-cells premise
        if row[2] is not None and (
                row[2] < lo_x or row[3] > lo_x + span_x
                or row[4] < lo_y or row[5] > lo_y + span_y):
            raise ValueError(
                f"knn_join: explicit frame {frame} does not contain all "
                f"coordinates (data bbox x=[{row[2]}, {row[3]}], "
                f"y=[{row[4]}, {row[5]}]); pass frame=None to derive it")
    min_extent = min(span_x / n, span_y / n)

    ix, iy = _eq_cell(F.col(x_col), F.col(y_col), res, lo_x, span_x, lo_y, span_y)
    pts = points.select(
        F.col(point_id).alias("nbr_id"),
        F.col(x_col).alias("px"), F.col(y_col).alias("py"),
        (ix * n + iy).alias("pcell"))
    pending = queries.select(
        F.col(query_id).alias("qid_"),
        F.col(x_col).alias("qx"), F.col(y_col).alias("qy"),
        ix.alias("qix"), iy.alias("qiy"))
    result = ["qid_", "nbr_id", "rank", "dist"]

    # round 1: ring₀ puts k expected points inside the certified DISK of
    # radius ring·min_extent (π r² · per-cell density ≥ k), doubled as a
    # skew margin; a ring that spans the frame is a cross join
    density = max(n_points / float(n * n), 1e-12)
    ring = max(1, min(n, int(_math.ceil(
        2.0 * _math.sqrt(k / (_math.pi * density))))))
    if ring >= n:
        cand, certified = pending.crossJoin(pts), F.lit(True)
    else:
        cand = pending.withColumn(
            "pcell", F.explode(_ring_cells(F.lit(ring), n))).join(pts, "pcell")
        kth = F.max(F.when(F.col("rank") == k, F.col("dist"))) \
            .over(Window.partitionBy("qid_"))
        certified = kth.isNotNull() & (kth < F.lit(ring * min_extent))
    # the rank filter runs before the certificate, so its window scans k
    # rows per query (same exchange)
    scored, m = materialize(
        _top_k(cand, k).select(*result).withColumn("certified", certified),
        certified=F.count_if(F.col("certified") & (F.col("rank") == 1)))
    out = scored.filter("certified").select(*result)
    if m["certified"] < n_queries:
        # round 2: each uncertified query's ring from its round-1 Kth
        # distance; none (fewer than k candidates) means the whole frame
        kth_rows = scored.filter(F.col("rank") == k) \
            .select("qid_", F.col("dist").alias("dk"), "certified")
        ring2 = F.coalesce(
            F.floor(F.col("dk") / F.lit(min_extent)).cast("long") + 1,
            F.lit(n))
        by_ring, whole = _second_round_arms(
            pending.join(kth_rows, "qid_", "left")
            .filter(~F.coalesce(F.col("certified"), F.lit(False)))
            .withColumn("ring", ring2), n)
        cols = ["qid_", "qx", "qy", "nbr_id", "px", "py"]
        by_ring = by_ring.withColumn(
            "pcell", F.explode(_ring_cells(F.col("ring"), n))) \
            .join(pts, "pcell").select(*cols)
        whole = whole.crossJoin(pts).select(*cols)
        out = out.unionByName(
            _top_k(by_ring.unionByName(whole), k).select(*result))
    return out.withColumnRenamed("qid_", query_id)


# ---------------------------------------------------------------------------
# J7 — zonal stats (raster ↔ vector)
# ---------------------------------------------------------------------------

_ZONAL_PARTIAL_SCHEMA = StructType([
    StructField("zone_id", StringType()),
    StructField("media_ref", StringType()),
    StructField("pmin", LongType()),
    StructField("pmax", LongType()),
    StructField("psum", LongType()),
    StructField("pcount", LongType()),
])


def _tile_lonlat(first, tx0: int, ty0: int, w: int, h: int):
    """(lon[w], lat[h]) pixel-center arrays of one tile, converted to the
    zone polygons' 4326.  Each element is the expression the whole-window
    path used, ox + (global_px + 0.5)·psx (global int indices are exact
    in float64), and the WebMercator inverse is separable (lon = f(x),
    lat = g(y) — kernels.webmercator_to_wgs84), so slicing a zone's
    window out of them is bit-equal to rebuilding it.  Any other CRS
    raises: meter coordinates against degree polygons would be silently
    all-outside."""
    ox, oy = float(first.origin_x), float(first.origin_y)
    psx, psy = float(first.pixel_sx), float(first.pixel_sy)
    epsg = int(first.epsg)
    cols = ox + (tx0 + np.arange(w) + 0.5) * psx
    rows_ = oy - (ty0 + np.arange(h) + 0.5) * psy
    if epsg in MERC_EPSGS:
        lon, _ = K.webmercator_to_wgs84(cols, np.zeros(1))
        _, lat = K.webmercator_to_wgs84(np.zeros(1), rows_)
        return lon, lat
    if epsg == 4326:
        return cols, rows_
    raise ValueError(
        f"zonal_stats: raster {first.media_ref} has CRS EPSG:{epsg}, which "
        f"the 4326-polygon PIP stage cannot place (expected "
        f"WebMercator or 4326)")


def _zonal_run(rows: list, tile_map: dict | None):
    """Partials of one run of (zone, tile) rows sharing a tile key: the
    chunk is fetched (:func:`extract.fetch_chunk`), luma-collapsed and
    lon/lat-projected once, then every zone row in the run reduces its
    PIP-masked slice of it to one (min, max, sum, count) record.

    Multi-sample (RGB, spp=3) chunks decode with the sample-aware
    predictor stride and collapse to luma8 before the stats — the
    reference's grayscale-stats semantics (A1 calls ``to_luma8()`` first,
    src/utils/tiff_extraction_utils.rs:41).  Other spp values raise.
    With ``tile_map`` the rows are keys only; a key with no tile (OOB
    cover) yields nothing — inner-join semantics, and the caller's left
    join restores the pair with zmin/zmax=-1."""
    first = rows[0]
    cw, ch = int(first.chunk_w), int(first.chunk_h)
    spp = int(first.samples_per_pixel or 1)
    if spp not in (1, 3):
        raise ValueError(
            f"zonal_stats: unsupported samples_per_pixel={spp} "
            f"for {first.media_ref} (expected 1 or 3)")
    raw = EX.fetch_chunk(first, tile_map)
    if raw is None:
        return
    chunk = (K.rgb_to_luma8(raw.reshape(-1, cw, 3))
             if spp == 3 else raw.reshape(-1, cw))
    h, w = chunk.shape
    tx0, ty0 = int(first.tile_x) * cw, int(first.tile_y) * ch
    lon, lat = _tile_lonlat(first, tx0, ty0, w, h)
    for row in rows:
        rx, ry = int(row.region_x), int(row.region_y)
        gx0, gx1 = max(rx, tx0), min(rx + int(row.region_w), tx0 + w)
        gy0, gy1 = max(ry, ty0), min(ry + int(row.region_h), ty0 + h)
        if gx0 >= gx1 or gy0 >= gy1:
            continue
        xs, ys = slice(gx0 - tx0, gx1 - tx0), slice(gy0 - ty0, gy1 - ty0)
        inside = K.points_in_polygon_grid(
            lon[xs], lat[ys], np.asarray(row.poly_xs),
            np.asarray(row.poly_ys))
        vals = chunk[ys, xs][inside]
        if vals.size:
            yield {"zone_id": row.zone_id, "media_ref": row.media_ref,
                   "pmin": int(vals.min()), "pmax": int(vals.max()),
                   "psum": int(vals.sum(dtype=np.int64)),
                   "pcount": int(vals.size)}


def _zonal_partials(pdf_iter, tile_map: dict | None = None):
    """``mapInPandas``: one partial per (zone, raster, tile) row, computed
    per run of equal tile keys (:func:`extract.key_runs`), so the chunk
    work is paid once per run, not once per zone.  No zone×raster window
    is ever materialized — peak memory is one decoded chunk — and a tile
    split across runs costs only a decode-cache hit, never a wrong row:
    the final reduce is a groupBy."""
    yield from EX.batched_frames(
        (rec for rows in EX.key_runs(pdf_iter, EX.TILE_KEY)
         for rec in _zonal_run(rows, tile_map)), None)


#: grid-cell resolution of the zone/raster footprint cover
_ZONAL_COVER_RES = 6


def zonal_footprint_pairs(zq: DataFrame, catalog: DataFrame) -> DataFrame:
    """Candidate (query_id, media_ref) pairs whose bboxes share a covering
    grid cell in Mercator — the footprint-overlap pre-join that replaces a
    zone × raster cartesian (with millions of rasters the cartesian is the
    scale-killer; the cell cover is a rectangle superset, so no false
    negatives) over :func:`polygons` rows ``zq`` and WebMercator or 4326
    rasters.  Each pair carries the min and max of its zone rows' columns
    as structs ``zone`` and ``_zone_max``, unequal if one id names two
    polygons."""
    from ..functions import geo
    rb = catalog.filter(F.col("media_kind") == "raster").select(
        "media_ref", "epsg",
        *geo.bounds_cols(F.col("origin_x"), F.col("origin_y"),
                         F.col("width"), F.col("height"),
                         F.col("pixel_sx"), F.col("pixel_sy")))
    is_merc = F.col("epsg").isin(*MERC_EPSGS)

    def merc(c, to_merc):
        return F.when(is_merc, F.col(c)).otherwise(to_merc(F.col(c)))
    rc = rb.select("media_ref", F.explode(C.grid_cells_for_bbox(
        merc("minx", geo.merc_x), merc("miny", geo.merc_y),
        merc("maxx", geo.merc_x), merc("maxy", geo.merc_y),
        _ZONAL_COVER_RES)).alias("cell"))
    zone = F.struct(*[c for c in zq.columns if c != "query_id"])
    return polygon_cover(zq, _ZONAL_COVER_RES).join(rc, "cell") \
        .groupBy("query_id", "media_ref") \
        .agg(F.min(zone).alias("zone"), F.max(zone).alias("_zone_max"))


def zonal_stats(zones: DataFrame, catalog: DataFrame, tiles: DataFrame,
                broadcast_tiles: bool = False) -> DataFrame:
    """min/max/sum/count of raster values per (zone polygon, raster).

    A catalog raster whose CRS is neither WebMercator (any alias) nor 4326
    cannot be compared against the 4326 zone polygons, so it raises
    ``ValueError`` naming offenders, counted by aggregates that the
    candidate-pair checkpoint's job evaluates
    (:func:`~rasterkit_spark.plans.materialize.materialize`), at no job
    of their own.  No such raster reaches the PIP stage, which would
    compare meter coordinates against degree polygons — all-outside,
    silently-empty stats.

    Each paired ``zone_id`` must be non-NULL and name one polygon, or
    ``ValueError`` (counted on the same job); duplicate rows count once.

    Pipeline: zone polygon and bbox (:func:`polygons`, the one WKT parse)
    → footprint-overlap pre-join (cell cover equi-join — never zone ×
    raster cartesian), checkpointed as (zone, raster) pairs carrying the
    polygon → region on each pair (G5/G6 dispatch) → tile-key expansion →
    one ``mapInPandas`` pass over runs of equal tile keys (each tile's
    chunk is decoded and projected once per run, then every zone row in
    the run takes its PIP-masked partial) → groupBy reduce.  This is
    extract's read path (:func:`extract.fetch_chunk`,
    :func:`extract.key_runs`) with a PIP mask in place of the window clip.
    The two arms differ only in where the blob meets the key rows:

    - default: the blob-free key rows broadcast and the tile table
      streams, so the join already emits each tile's zone rows together —
      the runs need no exchange of their own;
    - ``broadcast_tiles=True`` (zones ≫ catalog regime): the tile map is
      python-broadcast (:func:`extract.tile_map_broadcast`) and only the
      key rows cross Arrow, hash-partitioned by zone into three tasks per
      core and sorted by tile key within each task, so each blob crosses
      the wire once per executor instead of once per matched (zone, tile)
      row, and a tile decodes once per task that holds its zones.
      Above ``extract.MAX_PY_TILE_BROADCAST`` blob bytes it falls back to
      the default arm.  Both arms return identical rows.

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
    from ..session import ensure_parallelism
    # the CRSs the PIP stage can place against 4326 polygons
    placeable = (F.col("media_kind") != "raster") \
        | F.col("epsg").isin(*MERC_EPSGS, 4326)
    # counted on the pairs checkpoint's own job: the observed node sits on
    # the catalog input, upstream of the placeable filter and the joins,
    # so it counts every bad raster, paired or not
    bad = ~placeable
    ref = F.when(bad, F.col("media_ref"))
    screen = {"n": F.count_if(bad), "lo": F.min(ref),
              "any": F.any_value(ref, ignoreNulls=True), "hi": F.max(ref)}
    observed, probe = observe(catalog, **screen)
    zq = polygons(zones, F.col("zone_id").alias("query_id"), "polygon_wkt",
                  F.coalesce(F.col("epsg"), F.lit(4326)).alias("crs"))
    # materialize the candidate pairs once, each carrying its polygon: the
    # region/key chain and _zonal_finish both read them, and nothing after
    # the checkpoint parses WKT.  The same job counts bad zone_ids.  No
    # unplaceable raster reaches the pairs, so resolve_regions never meets one
    pairs, ids = observe(
        zonal_footprint_pairs(zq, observed.filter(placeable)),
        null_ids=F.count_if(F.col("query_id").isNull()),
        split_ids=F.count_if(F.col("zone") != F.col("_zone_max")))
    pairs, m = materialize(pairs.select("query_id", "media_ref", "zone.*"),
                           ids, probe)
    if m["n"] is None:
        # no job ran the catalog subtree (the optimizer prunes it when
        # there are no zones), so the screen needs a job of its own
        own = catalog.agg(*[c.alias(k) for k, c in screen.items()])
        m |= own.first().asDict()  # eager: the screen's own job
    if m["n"]:
        offenders = sorted({m["lo"], m["any"], m["hi"]} - {None})
        raise ValueError(
            f"zonal_stats: catalog contains {m['n']} raster(s) whose CRS "
            f"the 4326-polygon PIP stage cannot place (e.g. {offenders}); "
            "reproject them")
    if m["null_ids"] or m["split_ids"]:
        raise ValueError(
            f"zonal_stats: zone_id must be non-NULL and name one polygon "
            f"(pairs with a NULL id: {m['null_ids']}, with two polygons: "
            f"{m['split_ids']})")
    keys = EX.expand_tile_keys(EX.resolve_regions(pairs, catalog)) \
        .withColumnRenamed("query_id", "zone_id")
    cols = ["zone_id", "media_ref", "level", "region_x", "region_y",
            "region_w", "region_h", "chunk_w", "chunk_h", "compression",
            "predictor", "samples_per_pixel", "tile_x", "tile_y",
            "origin_x", "origin_y", "pixel_sx", "pixel_sy", "epsg",
            "poly_xs", "poly_ys"]
    bc = EX.tile_map_broadcast(tiles) if broadcast_tiles else None
    if bc is not None:
        # spread by zone, not by tile: by tile, all zone rows of a hot tile
        # share one task (bench.py big mode, zones x768, 4 cores: longest
        # task ~34 s by tile, ~11 s by zone).  Explicit count: the key rows
        # are tiny, and AQE would coalesce them onto ~1 task.
        n_parts = keys.sparkSession.sparkContext.defaultParallelism * 3
        partials = keys.select(*cols).repartition(n_parts, "zone_id") \
            .sortWithinPartitions(*EX.TILE_KEY) \
            .mapInPandas(lambda it: _zonal_partials(it, bc.value),
                         _ZONAL_PARTIAL_SCHEMA)
    else:
        # the partials stage inherits the tile side's partitioning (stream
        # side of the key broadcast join) — a small cached tile table in
        # few partitions would serialize the decode; widen it (no-op on
        # already-wide tables)
        partials = EX.join_tiles(keys, ensure_parallelism(tiles, 3)) \
            .select(*cols, "blob") \
            .mapInPandas(_zonal_partials, _ZONAL_PARTIAL_SCHEMA)
    return _zonal_finish(partials, pairs)


def _zonal_finish(partials: DataFrame, pairs: DataFrame) -> DataFrame:
    """groupBy reduce of per-tile partials + the left join that restores
    candidate pairs whose polygons touched no pixel (zmin/zmax=-1).
    ``pairs``, the checkpointed pair table, holds one row per pair: the
    region chain's pair set, since resolve_regions only inner-joins it."""
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
