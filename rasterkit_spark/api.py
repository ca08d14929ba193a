"""Public engine facade — the distributed twin of the reference's
``RasterKit`` API (src/api.rs; CLI flags src/main.rs:14-156).

Reference → engine mapping (SURVEY.md §2.11):

| reference (src/api.rs)        | engine                                   |
|-------------------------------|------------------------------------------|
| analyze (37-67)               | :func:`analyze`                          |
| extract (94-185)              | :func:`extract` (bbox= / coordinate=+radius=, crs=, shape=, filter=, colormap=) |
| extract_to_array (355-371)    | :func:`extract_array` (fmt csv/json/npy) |
| extract → output file (94-185) | :func:`extract_to_files` (executor-side GeoTIFF sink) |
| convert_compression (246-258) | :func:`convert_compression`              |
| extract_colormap (268-270)    | :func:`extract_colormap`                 |
| extract_with_colormap (285-334)| ``extract(..., colormaps=...)``         |
| list_compression_methods (340-343) | :func:`list_compression_methods`    |
| — (north-star additions)      | :func:`index_cells`, :func:`spatial_join`, :func:`knn_join`, :func:`zonal_stats`, :func:`build_pyramid` |

Every function takes/returns DataFrames; nothing collects to the driver
except the tiny colormap table.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, functions as F

from . import kernels as K
from .functions import geo
from .operators import colormap_io, extract as _ex, raster_ops, sinks, spatial
from .plans.materialize import materialize


def analyze(catalog: DataFrame) -> DataFrame:
    """Metadata describe (AnalyzeCommand, src/commands/analyze_command.rs)."""
    return raster_ops.analyze(catalog)


def list_compression_methods() -> list[tuple[int, str]]:
    """Supported set {1, 8, 14} (src/compression/factory.rs:14-40)."""
    from .functions.strings import COMPRESSION_NAMES
    return [(c, COMPRESSION_NAMES[c]) for c in K.SUPPORTED_COMPRESSIONS]


def extract(queries: DataFrame, catalog: DataFrame, tiles: DataFrame,
            *, colormaps: DataFrame | None = None,
            filter_range: tuple[int, int] | None = None,
            circle_mask: bool = False, level: int = 0) -> DataFrame:
    """Flagship extraction (ExtractCommand path, SURVEY.md §3.1).

    ``queries`` rows carry either a bbox (minx/miny/maxx/maxy) or a point
    (x, y, radius_m, shape) — point rows are converted via G3 first.
    Post-ops in the reference's order (extract_command.rs:567-711):
    value filter (P3) → colormap (J3) → circle mask (P5).
    """
    cols = set(queries.columns)
    if {"x", "y", "radius_m"} <= cols and "minx" not in cols:
        queries = queries.select(
            "*", *geo.bbox_from_point_radius(
                F.col("x"), F.col("y"), F.col("radius_m"), F.col("crs")))
    out = _ex.extract(queries, catalog, tiles, level=level)
    if filter_range is not None or colormaps is not None:
        # the reference converts to luma8 before every filter/colormap step
        # (filter_utils.rs:81, api.rs:322) — RGB windows collapse here,
        # grayscale windows pass through byte-identical
        out = raster_ops.to_luma_op(out)
    if filter_range is not None:
        out = raster_ops.apply_filter(out, *filter_range)
    if colormaps is not None:
        qmeta = queries.select("query_id", "cmap_id")
        out = raster_ops.apply_colormap_op(out.join(qmeta, "query_id"),
                                           colormaps)
    if circle_mask:
        out = raster_ops.apply_circle_mask(out)
    return out


def extract_array(queries: DataFrame, catalog: DataFrame, tiles: DataFrame,
                  fmt: str = "npy") -> DataFrame:
    """extract_to_array / array sinks K4-K6."""
    return sinks.render_windows(_ex.extract(queries, catalog, tiles), fmt)


def extract_to_files(queries: DataFrame, catalog: DataFrame,
                     tiles: DataFrame, out_dir: str) -> DataFrame:
    """Extract + write each window as a GeoTIFF file executor-side (K1 at
    scale — payloads never return to the driver; see
    sinks.write_windows_geotiff).  Returns the (query_id, media_ref, path,
    nbytes) receipts.  Geo tags come from the window's adjusted tiepoint
    plus the catalog's pixel scale / EPSG."""
    windows = _ex.extract(queries, catalog, tiles)
    meta = catalog.select("media_ref", "pixel_sx", "pixel_sy", "epsg")
    return sinks.write_windows_geotiff(
        windows.join(F.broadcast(meta), "media_ref"), out_dir)


def convert_compression(tiles: DataFrame, catalog: DataFrame,
                        target: int) -> DataFrame:
    return raster_ops.convert_compression(tiles, catalog, target)


def extract_colormap(colormaps: DataFrame, cmap_id: str,
                     layer_name: str = "layer") -> str:
    """Colormap → SLD text (extract_colormap + K7)."""
    pdf = colormaps.filter(F.col("cmap_id") == cmap_id).toPandas()
    return colormap_io.colormap_to_sld(pdf, layer_name)


def index_cells(df: DataFrame, lon_col: str, lat_col: str,
                res: int) -> DataFrame:
    """G13: attach the grid cell id (see functions/cells.py for S2/H3)."""
    return spatial.index_points(df, lon_col, lat_col, res)


def spatial_join(points: DataFrame, polygons: DataFrame, *,
                 point_id: str, lon_col: str, lat_col: str,
                 poly_id: str, wkt_col: str, res: int = 12) -> DataFrame:
    """Point-in-polygon join (J5)."""
    return spatial.pip_join(points, polygons, point_id, lon_col, lat_col,
                            poly_id, wkt_col, res=res)


def knn_join(points: DataFrame, queries: DataFrame, k: int,
             **kw) -> DataFrame:
    """Exact kNN join (J6, cell-ring expansion)."""
    return spatial.knn_join(points, queries, k, **kw)


def zonal_stats(zones: DataFrame, catalog: DataFrame,
                tiles: DataFrame) -> DataFrame:
    """Raster↔vector zonal min/max/sum/count (J7)."""
    return spatial.zonal_stats(zones, catalog, tiles)


def build_pyramid(tiles: DataFrame, catalog: DataFrame,
                  levels: int = 2) -> DataFrame:
    """Generate overview levels 1..levels (A5); returns the union of all
    generated levels.  Each level is reduced from the one before it only;
    every level but the last is materialized, so no level's plan
    recomputes the levels under it."""
    out = []
    current = tiles.filter(F.col("level") == 0)
    for lvl in range(levels):
        current = raster_ops.build_pyramid(current, catalog, source_level=lvl)
        if lvl < levels - 1:
            current, _ = materialize(current)
        out.append(current)
    return functools.reduce(DataFrame.unionByName, out)
