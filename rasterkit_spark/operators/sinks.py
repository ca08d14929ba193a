"""Array/window sinks (SURVEY.md §2.1 K3-K6).

Each sink renders a clipped window (binary u8 row-major + w/h) into the
reference's array formats.  Formats are produced per-row inside
``mapInPandas`` (distributed) or via the pure helpers (tests/driver side).
"""

from __future__ import annotations

import io as _io
import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (BinaryType, LongType, StringType, StructField,
                               StructType)


# ---------------------------------------------------------------------------
# K4 — CSV: header "row/col,0,1,..." then "y,v,v,..."
# (src/extractor/array_strategy.rs:99-127)
# ---------------------------------------------------------------------------

def window_to_csv(window: np.ndarray) -> str:
    h, w = window.shape
    lines = ["row/col," + ",".join(str(x) for x in range(w))]
    for y in range(h):
        lines.append(str(y) + "," + ",".join(str(int(v)) for v in window[y]))
    return "\n".join(lines) + "\n"


# ---------------------------------------------------------------------------
# K5 — JSON: {"width","height","data":[[...]]}
# (src/extractor/array_strategy.rs:136-176)
# ---------------------------------------------------------------------------

def window_to_json(window: np.ndarray) -> str:
    h, w = window.shape
    return json.dumps({"width": w, "height": h,
                       "data": [[int(v) for v in row] for row in window]})


# ---------------------------------------------------------------------------
# K6 — NPY: '<u1', shape=(h, w).  The reference hand-rolls the v1.0 header
# (src/extractor/array_strategy.rs:185-212) with home-grown length math;
# parity is np.load equivalence, not byte equality (SURVEY.md §2.1 K6 note).
# ---------------------------------------------------------------------------

def window_to_npy(window: np.ndarray) -> bytes:
    buf = _io.BytesIO()
    np.save(buf, window.astype(np.uint8))
    return buf.getvalue()


# ---------------------------------------------------------------------------
# K3 — PNG extension forcing for transparent (circle-masked) outputs
# (src/utils/mask_utils.rs:72-116)
# ---------------------------------------------------------------------------

def ensure_png_extension(path: str) -> str:
    if path.lower().endswith(".png"):
        return path
    stem = path.rsplit(".", 1)[0] if "." in path.rsplit("/", 1)[-1] else path
    return stem + ".png"


# ---------------------------------------------------------------------------
# distributed sink: render every window row to the chosen format
# ---------------------------------------------------------------------------

_SINK_SCHEMA = StructType([
    StructField("query_id", StringType()),
    StructField("media_ref", StringType()),
    StructField("format", StringType()),
    StructField("payload", BinaryType()),
])


def render_windows(windows: DataFrame, fmt: str) -> DataFrame:
    """fmt ∈ {csv, json, npy}; one payload per window row.  RGB windows
    collapse to luma first — the reference's array strategies emit one
    value per pixel (src/extractor/array_strategy.rs:99-127); see
    raster_ops.window_2d."""
    from .raster_ops import window_2d
    if fmt not in ("csv", "json", "npy"):
        raise ValueError(f"Unknown array format '{fmt}' (csv|json|npy)")

    def gen(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                win = window_2d(r)
                if fmt == "csv":
                    payload = window_to_csv(win).encode()
                elif fmt == "json":
                    payload = window_to_json(win).encode()
                else:
                    payload = window_to_npy(win)
                rows.append((r.query_id, r.media_ref, fmt, bytearray(payload)))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              _SINK_SCHEMA.fields])

    return windows.mapInPandas(gen, _SINK_SCHEMA)


# ---------------------------------------------------------------------------
# K1 at scale — executor-side GeoTIFF window file sink
# ---------------------------------------------------------------------------

WINDOW_FILE_SCHEMA = StructType([
    StructField("query_id", StringType()),
    StructField("media_ref", StringType()),
    StructField("path", StringType()),
    StructField("nbytes", LongType()),
])


def write_windows_geotiff(windows: DataFrame, out_dir: str) -> DataFrame:
    """Write each clipped window as a GeoTIFF file FROM THE TASK THAT HOLDS
    IT (K1 at corpus scale): window payloads never travel to the driver —
    the driver only sees (query_id, media_ref, path, nbytes) receipts.
    ``out_dir`` must be executor-visible (shared FS / fuse mount; plain
    local path in local mode).

    Geo metadata rides along when the frame carries it: pixel scale (S9),
    the adjusted tiepoint from ``new_origin_x/y`` (G9), and the GeoKey
    directory from ``epsg`` (S8).  RGB windows (samples_per_pixel=3) write
    interleaved 3-sample TIFFs."""
    import os

    from ..io import tiffcodec as TC

    cols = set(windows.columns)
    has_scale = "pixel_sx" in cols and "pixel_sy" in cols
    has_origin = "new_origin_x" in cols and "new_origin_y" in cols
    has_epsg = "epsg" in cols

    def gen(it):
        os.makedirs(out_dir, exist_ok=True)
        for pdf in it:
            out = []
            for row in pdf.itertuples():
                w, h = int(row.region_w), int(row.region_h)
                spp = int(getattr(row, "samples_per_pixel", 1) or 1)
                arr = np.frombuffer(bytes(row.window), dtype=np.uint8)
                arr = arr.reshape((h, w) if spp == 1 else (h, w, spp))
                extra = []
                if has_scale:
                    extra.append(TC.Entry(TC.TAG_PIXEL_SCALE, TC.T_DOUBLE,
                                          [float(row.pixel_sx),
                                           float(row.pixel_sy), 0.0]))
                if has_origin:
                    extra.append(TC.Entry(TC.TAG_TIEPOINT, TC.T_DOUBLE,
                                          [0.0, 0.0, 0.0,
                                           float(row.new_origin_x),
                                           float(row.new_origin_y), 0.0]))
                if has_epsg and row.epsg is not None:
                    extra.extend(TC.geokey_entries(int(row.epsg)))
                buf = TC.write_tiff(arr, extra)
                name = f"{row.query_id}__{row.media_ref}.tif"
                path = os.path.join(out_dir, name)
                with open(path, "wb") as f:
                    f.write(buf)
                out.append((str(row.query_id), str(row.media_ref),
                            path, len(buf)))
            if out:
                yield pd.DataFrame(out, columns=[
                    "query_id", "media_ref", "path", "nbytes"])

    return windows.mapInPandas(gen, WINDOW_FILE_SCHEMA)
