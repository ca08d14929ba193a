"""String / XML / parsing scalar functions (SURVEY.md §2.9 X1-X8)."""

from __future__ import annotations

# ---------------------------------------------------------------------------
# X1 — bbox / coordinate / filter-range string parsing
# (src/coordinate/bbox.rs:48-64, src/utils/coordinate_utils.rs:35-46,
#  src/utils/filter_utils.rs:120-146)
# ---------------------------------------------------------------------------

def parse_bbox_str(s: str):
    parts = [p.strip() for p in s.split(",")]
    if len(parts) != 4:
        raise ValueError(f"Invalid bounding box format '{s}'")
    return tuple(float(p) for p in parts)


def parse_filter_range(s: str):
    """'min,max' u8 with min ≤ max (filter_utils.rs:120-146)."""
    parts = [p.strip() for p in s.split(",")]
    if len(parts) != 2:
        raise ValueError(f"Invalid filter range format '{s}'. Expected 'min,max'")
    lo, hi = int(parts[0]), int(parts[1])
    if not (0 <= lo <= 255 and 0 <= hi <= 255):
        raise ValueError("Expected a number between 0-255")
    if lo > hi:
        raise ValueError(f"Invalid range: min ({lo}) is greater than max ({hi})")
    return lo, hi


# ---------------------------------------------------------------------------
# X2 — hex color parse/format (src/tiff/colormap.rs:50-85)
# ---------------------------------------------------------------------------

def hex_to_rgb(s: str):
    s = s.strip().lstrip("#")
    if len(s) != 6:
        raise ValueError(f"Invalid hex color '{s}'")
    return int(s[0:2], 16), int(s[2:4], 16), int(s[4:6], 16)


def rgb_to_hex(r: int, g: int, b: int) -> str:
    return f"#{r:02X}{g:02X}{b:02X}"


# ---------------------------------------------------------------------------
# X3/X4 — XML attribute scrape / escape / GDALMetadata item surgery
# (string-split based, like src/utils/xml_utils.rs:9-52 and
#  src/tiff/colormap.rs:940-951,971-977 — deliberately not a real XML parser)
# ---------------------------------------------------------------------------

def xml_attr(line: str, name: str):
    marker = f'{name}="'
    i = line.find(marker)
    if i < 0:
        return None
    j = line.find('"', i + len(marker))
    if j < 0:
        return None
    return line[i + len(marker): j]


def xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
             .replace("'", "&apos;").replace('"', "&quot;"))


def replace_gdal_metadata_item(xml: str, name: str, value: str) -> str:
    """Replace (or append) an <Item name="..."> in a GDALMetadata blob via
    string surgery (xml_utils.rs:9-52)."""
    open_tag = f'<Item name="{name}"'
    new_item = f'<Item name="{name}">{xml_escape(value)}</Item>'
    i = xml.find(open_tag)
    if i < 0:
        j = xml.find("</GDALMetadata>")
        if j < 0:
            return f"<GDALMetadata>{new_item}</GDALMetadata>"
        return xml[:j] + new_item + xml[j:]
    j = xml.find("</Item>", i)
    return xml[:i] + new_item + xml[j + len("</Item>"):]


# ---------------------------------------------------------------------------
# X6/X8 — code→name translators (src/utils/tiff_code_translators.rs:10-73,
# src/tiff/geo_key_parser.rs:299-346); the display-name registries
# ---------------------------------------------------------------------------

COMPRESSION_NAMES = {1: "None", 2: "CCITT RLE", 5: "LZW", 6: "JPEG (old)",
                     7: "JPEG", 8: "Deflate (zlib)", 14: "ZStd",
                     32773: "PackBits"}
EPSG_DESCRIPTIONS = {
    # geographic
    4326: "WGS 84 geographic (lat/lon)",
    4269: "NAD83 geographic",
    4267: "NAD27 geographic",
    4258: "ETRS89 geographic",
    4283: "GDA94 geographic",
    4490: "CGCS2000 geographic",
    4612: "JGD2000 geographic",
    4619: "SWEREF99 geographic",
    4674: "SIRGAS 2000 geographic",
    4759: "NAD83(NSRS2007) geographic",
    # projected / web
    3857: "WGS 84 / Pseudo-Mercator (Web Mercator)",
    3785: "Popular Visualisation CRS / Mercator (deprecated)",
    900913: "Google Web Mercator (unofficial)",
    2154: "RGF93 / Lambert-93 (France)",
    2180: "ETRS89 / Poland CS92",
    3035: "ETRS89-extended / LAEA Europe",
    3031: "WGS 84 / Antarctic Polar Stereographic",
    3413: "WGS 84 / NSIDC Sea Ice Polar Stereographic North",
    3577: "GDA94 / Australian Albers",
    3578: "NAD83 / Yukon Albers",
    5070: "NAD83 / Conus Albers",
    5071: "NAD83(HARN) / Conus Albers",
    6933: "WGS 84 / NSIDC EASE-Grid 2.0 Global",
    25832: "ETRS89 / UTM zone 32N",
    25833: "ETRS89 / UTM zone 33N",
    27700: "OSGB36 / British National Grid",
    28355: "GDA94 / MGA zone 55",
    29902: "TM65 / Irish Grid",
    31370: "BD72 / Belgian Lambert 72",
    2056: "CH1903+ / LV95 (Switzerland)",
    21781: "CH1903 / LV03 (Switzerland)",
}


def epsg_description(code: int) -> str:
    """X8: EPSG → human description.  Named entries + algorithmic ranges
    (UTM / NAD83 / ETRS89 UTM families), written fresh from the public
    EPSG registry — the reference hard-codes per-PCS strings
    (src/tiff/geotags.rs:162-222); the ranges below cover the same codes
    and more without a table per zone."""
    if code in EPSG_DESCRIPTIONS:
        return EPSG_DESCRIPTIONS[code]
    if 32601 <= code <= 32660:
        return f"WGS 84 / UTM zone {code - 32600}N"
    if 32701 <= code <= 32760:
        return f"WGS 84 / UTM zone {code - 32700}S"
    if 26901 <= code <= 26923:
        return f"NAD83 / UTM zone {code - 26900}N"
    if 26703 <= code <= 26722:
        return f"NAD27 / UTM zone {code - 26700}N"
    if 25828 <= code <= 25838:
        return f"ETRS89 / UTM zone {code - 25800}N"
    if 28348 <= code <= 28358:
        return f"GDA94 / MGA zone {code - 28300}"
    if 31466 <= code <= 31469:
        return f"DHDN / 3-degree Gauss-Kruger zone {code - 31464}"
    # full public GeoTIFF 6.3 registry (X7/X8): every named GCS/PCS/datum/
    # ellipsoid/projection/vertical code the reference's TOML names
    from .geotiff_registry import registry_name
    name = registry_name(code)
    if name is not None:
        return name
    return f"EPSG:{code}"


# ---------------------------------------------------------------------------
# X7 — TIFF/GeoTIFF tag-name registry.  The TIFF tag names below are
# written fresh from the public TIFF 6.0 / GeoTIFF 1.1 specs; the full
# section-6.3 code tables (GCS/PCS/datum/ellipsoid/projection/vertical —
# the reference's 1785-entry geotiff_tags.toml) live in
# functions/geotiff_registry.py, generated from the published registry by
# tools/gen_geotiff_registry.py.
# ---------------------------------------------------------------------------

TAG_NAMES = {
    # TIFF 6.0 baseline
    254: "NewSubfileType", 255: "SubfileType",
    256: "ImageWidth", 257: "ImageLength", 258: "BitsPerSample",
    259: "Compression", 262: "PhotometricInterpretation",
    263: "Threshholding", 264: "CellWidth", 265: "CellLength",
    266: "FillOrder", 269: "DocumentName", 270: "ImageDescription",
    271: "Make", 272: "Model", 273: "StripOffsets", 274: "Orientation",
    277: "SamplesPerPixel", 278: "RowsPerStrip", 279: "StripByteCounts",
    280: "MinSampleValue", 281: "MaxSampleValue", 282: "XResolution",
    283: "YResolution", 284: "PlanarConfiguration", 285: "PageName",
    286: "XPosition", 287: "YPosition", 288: "FreeOffsets",
    289: "FreeByteCounts", 290: "GrayResponseUnit", 291: "GrayResponseCurve",
    292: "T4Options", 293: "T6Options", 296: "ResolutionUnit",
    297: "PageNumber", 301: "TransferFunction", 305: "Software",
    306: "DateTime", 315: "Artist", 316: "HostComputer", 317: "Predictor",
    318: "WhitePoint", 319: "PrimaryChromaticities", 320: "ColorMap",
    321: "HalftoneHints", 322: "TileWidth", 323: "TileLength",
    324: "TileOffsets", 325: "TileByteCounts", 326: "BadFaxLines",
    327: "CleanFaxData", 328: "ConsecutiveBadFaxLines", 330: "SubIFDs",
    332: "InkSet", 333: "InkNames", 334: "NumberOfInks", 336: "DotRange",
    337: "TargetPrinter", 338: "ExtraSamples", 339: "SampleFormat",
    340: "SMinSampleValue", 341: "SMaxSampleValue", 342: "TransferRange",
    343: "ClipPath", 344: "XClipPathUnits", 345: "YClipPathUnits",
    346: "Indexed", 347: "JPEGTables", 351: "OPIProxy",
    512: "JPEGProc", 513: "JPEGInterchangeFormat",
    514: "JPEGInterchangeFormatLength", 515: "JPEGRestartInterval",
    517: "JPEGLosslessPredictors", 518: "JPEGPointTransforms",
    519: "JPEGQTables", 520: "JPEGDCTables", 521: "JPEGACTables",
    529: "YCbCrCoefficients", 530: "YCbCrSubSampling",
    531: "YCbCrPositioning", 532: "ReferenceBlackWhite",
    700: "XMP", 32781: "ImageID", 33432: "Copyright",
    # EXIF / GPS pointers
    34665: "ExifIFDPointer", 34853: "GPSInfoIFDPointer",
    40965: "InteroperabilityIFDPointer",
    # GeoTIFF 1.1
    33550: "ModelPixelScaleTag", 33922: "ModelTiepointTag",
    34264: "ModelTransformationTag", 34735: "GeoKeyDirectoryTag",
    34736: "GeoDoubleParamsTag", 34737: "GeoAsciiParamsTag",
    # GDAL + common extension tags
    42112: "GDAL_METADATA", 42113: "GDAL_NODATA",
    50674: "LercParameters", 50844: "RPCCoefficientTag",
    34377: "Photoshop", 34661: "IPTC",
    # DNG core (common in aerial pipelines)
    50706: "DNGVersion", 50707: "DNGBackwardVersion",
    50708: "UniqueCameraModel", 50721: "ColorMatrix1",
    50722: "ColorMatrix2", 50730: "BaselineExposure",
    50731: "BaselineNoise", 50732: "BaselineSharpness",
}

def tag_name(tag: int) -> str:
    return TAG_NAMES.get(tag, f"Tag{tag}")


def geokey_value_name(key_id: int, code: int) -> str:
    """Registry name for a geokey's VALUE (full §6.3 tables) —
    e.g. (2048, 4267) → "GCS_NAD27"; falls back to the bare code."""
    from .geotiff_registry import geokey_value_name as _gvn
    return _gvn(key_id, code) or str(code)
