"""Colormap sources and sinks (SURVEY.md §2.1 S11-S14 / K7) plus
metadata-only reprojection (G11).

Sources parse into the engine's colormap DataFrame shape
``(cmap_id, map_type, value, r, g, b, label)``; sinks render back out.
All are metadata-scale (≤ a few hundred rows) → plain Python parsing into
``spark.createDataFrame`` is the right tool; pixels never pass through
here."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.strings import hex_to_rgb, rgb_to_hex, xml_escape, xml_attr


# ---------------------------------------------------------------------------
# S12 — SLD XML source (line-oriented attribute scrape, like the reference:
# src/tiff/colormap.rs:347-372,831-866 — not a real XML parser on purpose)
# ---------------------------------------------------------------------------

def colormap_from_sld(text: str, cmap_id: str = "sld") -> pd.DataFrame:
    map_type = "ramp"
    rows = []
    for line in text.splitlines():
        s = line.strip()
        if "<ColorMap" in s:
            t = xml_attr(s, "type")
            if t:
                map_type = t
        if "ColorMapEntry" not in s:
            continue
        q = xml_attr(s, "quantity")
        c = xml_attr(s, "color")
        label = xml_attr(s, "label")
        if q is None or c is None:
            continue
        r, g, b = hex_to_rgb(c)
        rows.append(dict(cmap_id=cmap_id, map_type=map_type,
                         value=int(float(q)), r=r, g=g, b=b, label=label))
    rows.sort(key=lambda x: x["value"])
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# S13 — CSV source: value,hex | value,hex,label | value,r,g,b[,label];
# '#'-comment lines skipped (src/tiff/colormap.rs:402-431,869-925)
# ---------------------------------------------------------------------------

def colormap_from_csv(text: str, cmap_id: str = "csv",
                      map_type: str = "values") -> pd.DataFrame:
    rows = []
    for line in text.splitlines():
        s = line.strip()
        if not s or s.startswith("#"):
            continue
        parts = [p.strip() for p in s.split(",")]
        label = None
        # every malformed row skips (like 3-field non-hex junk always
        # did) instead of ValueError-aborting the whole read: hex rows
        # with a comma-bearing label, truncated numeric rows, etc.
        try:
            if len(parts) >= 2 and parts[1].startswith("#"):
                value, (r, g, b) = int(float(parts[0])), hex_to_rgb(parts[1])
                label = ",".join(parts[2:]) or None
            elif len(parts) == 2:
                value, (r, g, b) = int(float(parts[0])), hex_to_rgb(parts[1])
            elif len(parts) >= 4:
                value = int(float(parts[0]))
                r, g, b = int(parts[1]), int(parts[2]), int(parts[3])
                # rejoin comma-bearing labels like the hex branch does —
                # keeping only parts[4] silently truncated "50,5,6,7,my,
                # label" to "my"
                label = ",".join(parts[4:]) or None
            else:
                continue
        except ValueError:
            continue
        rows.append(dict(cmap_id=cmap_id, map_type=map_type, value=value,
                         r=r, g=g, b=b, label=label))
    rows.sort(key=lambda x: x["value"])
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# S11 — TIFF palette source: 3×2^bits u16 planes (R,G,B), scaled /257 to u8,
# leading-black trim + >256 dedup (src/tiff/colormap.rs:224-290,804-828)
# ---------------------------------------------------------------------------

def colormap_from_tiff_palette(palette_u16: np.ndarray,
                               cmap_id: str = "tiff") -> pd.DataFrame:
    from .. import kernels as K
    n = palette_u16.shape[0] // 3
    r = (palette_u16[:n] // 257).astype(np.int64)
    g = (palette_u16[n:2 * n] // 257).astype(np.int64)
    b = (palette_u16[2 * n:3 * n] // 257).astype(np.int64)
    values = np.arange(n, dtype=np.int64)
    rgb = np.stack([r, g, b], axis=1)
    values, rgb = K.colormap_trim_and_dedup(values, rgb)
    return pd.DataFrame(dict(cmap_id=cmap_id, map_type="values",
                             value=values, r=rgb[:, 0], g=rgb[:, 1],
                             b=rgb[:, 2], label=None))


# ---------------------------------------------------------------------------
# S14 — format sniffing (src/tiff/colormap.rs:693-719,765-800)
# ---------------------------------------------------------------------------

def read_colormap(path_or_text: str, content: str | None = None,
                  cmap_id: str = "cmap") -> pd.DataFrame:
    name = path_or_text.lower()
    if content is None:
        with open(path_or_text) as f:
            content = f.read()
    if name.endswith(".sld"):
        return colormap_from_sld(content, cmap_id)
    if name.endswith(".csv"):
        return colormap_from_csv(content, cmap_id)
    # content-based guess: XML-ish → SLD, else CSV
    if "<" in content.lstrip()[:1] or "ColorMapEntry" in content:
        return colormap_from_sld(content, cmap_id)
    return colormap_from_csv(content, cmap_id)


# ---------------------------------------------------------------------------
# K7 — SLD sink (src/tiff/colormap.rs:532-577): one ColorMapEntry per row
# ---------------------------------------------------------------------------

def colormap_to_sld(cmap: pd.DataFrame, layer_name: str = "layer") -> str:
    map_type = cmap.map_type.iloc[0] if len(cmap) else "ramp"
    lines = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<StyledLayerDescriptor version="1.0.0">',
        "  <NamedLayer>",
        f"    <Name>{xml_escape(layer_name)}</Name>",
        "    <UserStyle>",
        "      <FeatureTypeStyle>",
        "        <Rule>",
        "          <RasterSymbolizer>",
        f'            <ColorMap type="{map_type}">',
    ]
    # an entry-less source (empty SLD/CSV) yields a zero-COLUMN frame —
    # sort_values('value') would KeyError; emit an empty <ColorMap>
    rows = cmap.sort_values("value") if len(cmap) else cmap
    for row in rows.itertuples():
        label = f' label="{xml_escape(row.label)}"' if row.label else ""
        lines.append(
            f'              <ColorMapEntry color="{rgb_to_hex(row.r, row.g, row.b)}"'
            f' quantity="{row.value}"{label}/>')
    lines += ["            </ColorMap>", "          </RasterSymbolizer>",
              "        </Rule>", "      </FeatureTypeStyle>",
              "    </UserStyle>", "  </NamedLayer>",
              "</StyledLayerDescriptor>"]
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# G11 — metadata-only reprojection (src/utils/reprojection_utils.rs:36-156;
# the reference's update_projection_code is an acknowledged placeholder,
# 265-286: pixels are untouched, only the EPSG label changes)
# ---------------------------------------------------------------------------

def reproject_metadata(catalog: DataFrame, target_epsg: int) -> DataFrame:
    """Relabel the CRS; pixel data untouched — replicating the reference's
    semantics, not fixing them (SURVEY.md §2.8 G11: true resampling is out
    of parity scope)."""
    return catalog.withColumn("source_epsg", F.col("epsg")) \
                  .withColumn("epsg", F.lit(target_epsg))
