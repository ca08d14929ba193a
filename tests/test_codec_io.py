"""TIFF codec, colormap sources/sinks, string utils, array sinks."""

import json

import numpy as np
import pandas as pd
import pytest

from rasterkit_spark.functions import strings as S
from rasterkit_spark.io import tiffcodec as TC
from rasterkit_spark.operators import colormap_io as CIO
from rasterkit_spark.operators import sinks as SK


def test_tiff_write_read_roundtrip():
    img = np.arange(48, dtype=np.uint8).reshape(6, 8)
    buf = TC.write_tiff(img, extra_entries=[
        TC.Entry(TC.TAG_PIXEL_SCALE, TC.T_DOUBLE, [2.0, 2.0, 0.0]),
        TC.Entry(TC.TAG_TIEPOINT, TC.T_DOUBLE, [0, 0, 0, 100.0, 200.0, 0]),
        TC.Entry(TC.TAG_GDAL_NODATA, TC.T_ASCII, ["255"])])
    ifds, bo, big = TC.read_tiff(buf)
    assert bo == "<" and not big and len(ifds) == 1
    ifd = ifds[0]
    assert ifd.get(TC.TAG_WIDTH) == 8
    assert ifd.get(TC.TAG_HEIGHT) == 6
    assert ifd.get(TC.TAG_ROWS_PER_STRIP) == 6       # single strip (K2)
    assert ifd.entries[TC.TAG_PIXEL_SCALE].values == [2.0, 2.0, 0.0]
    assert ifd.entries[TC.TAG_GDAL_NODATA].values == ["255"]
    off = ifd.get(TC.TAG_STRIP_OFFSETS)
    count = ifd.get(TC.TAG_STRIP_BYTE_COUNTS)
    assert off % 4 == 0  # 4-byte alignment (write_utils.rs:15-34)
    assert np.array_equal(
        np.frombuffer(buf[off:off + count], dtype=np.uint8).reshape(6, 8), img)


def test_tiff_big_endian_and_format_detect():
    img = np.zeros((2, 2), dtype=np.uint8)
    buf = TC.write_tiff(img, byte_order=">")
    assert buf[:2] == b"MM"
    ifds, bo, big = TC.read_tiff(buf)
    assert bo == ">" and ifds[0].get(TC.TAG_WIDTH) == 2
    with pytest.raises(ValueError, match="byte order"):
        TC.detect_byte_order(b"XX\x00*")
    with pytest.raises(ValueError, match="version"):
        TC.detect_format(b"II\x2c\x00....")


def test_unique_sorted_entries_keeps_last():
    es = [TC.Entry(259, TC.T_SHORT, [1]), TC.Entry(256, TC.T_LONG, [10]),
          TC.Entry(259, TC.T_SHORT, [8])]
    out = TC.unique_sorted_entries(es)
    assert [e.tag for e in out] == [256, 259]
    assert out[1].values == [8]  # keep-last (write_utils.rs:41-61)


def test_colormap_sld_roundtrip():
    pdf = pd.DataFrame([
        dict(cmap_id="c", map_type="ramp", value=0, r=0, g=0, b=255, label="low"),
        dict(cmap_id="c", map_type="ramp", value=100, r=255, g=0, b=0,
             label="a<b&c")])
    sld = CIO.colormap_to_sld(pdf, "lyr")
    assert 'type="ramp"' in sld and "&lt;" in sld and "&amp;" in sld
    back = CIO.colormap_from_sld(sld, "c")
    assert list(back.value) == [0, 100]
    assert list(back.r) == [0, 255]
    # the reference's attr scrape keeps raw (escaped) text — replicated
    # (src/tiff/colormap.rs:940-951 does no entity decoding)
    assert back.label.iloc[1] == "a&lt;b&amp;c"


def test_colormap_csv_variants():
    text = "# comment\n0,#0000FF\n50,#FF0000,hot\n100,1,2,3\n200,4,5,6,label6\n"
    pdf = CIO.colormap_from_csv(text)
    assert list(pdf.value) == [0, 50, 100, 200]
    assert (pdf.iloc[1].r, pdf.iloc[1].g, pdf.iloc[1].b) == (255, 0, 0)
    assert pdf.iloc[3].label == "label6"
    # comma-bearing labels rejoin in BOTH branches (the numeric branch
    # used to truncate "my,label" to "my")
    both = CIO.colormap_from_csv("50,5,6,7,my,label\n60,#010203,hex,label\n")
    assert both.iloc[0].label == "my,label"
    assert both.iloc[1].label == "hex,label"


def test_colormap_tiff_palette():
    n = 8
    pal = np.zeros(3 * n, dtype=np.uint32)
    pal[0:n] = [0, 0, 257 * 10, 257 * 20, 257 * 30, 0, 257 * 40, 257 * 50]
    pdf = CIO.colormap_from_tiff_palette(pal)
    assert pdf.value.iloc[0] == 2  # leading black trimmed
    assert pdf.r.iloc[0] == 10


def test_colormap_sniffing():
    sld = '<ColorMap type="values"><ColorMapEntry color="#010203" quantity="5"/></ColorMap>'
    assert list(CIO.read_colormap("x.bin", sld).value) == [5]
    assert list(CIO.read_colormap("x.bin", "7,#040506").value) == [7]


def test_string_utils():
    assert S.parse_bbox_str("1, 2,3 ,4") == (1.0, 2.0, 3.0, 4.0)
    assert S.parse_filter_range("15,160") == (15, 160)
    with pytest.raises(ValueError, match="greater than max"):
        S.parse_filter_range("200,100")
    assert S.hex_to_rgb("#A1B2C3") == (161, 178, 195)
    assert S.rgb_to_hex(161, 178, 195) == "#A1B2C3"
    assert S.xml_attr('<E color="#fff" label="x"/>', "label") == "x"
    assert S.epsg_description(32633) == "WGS 84 / UTM zone 33N"
    assert S.tag_name(33550) == "ModelPixelScaleTag"
    xml = "<GDALMetadata><Item name=\"NODATA_VALUES\">0</Item></GDALMetadata>"
    out = S.replace_gdal_metadata_item(xml, "NODATA_VALUES", "255")
    assert ">255<" in out and out.count("<Item") == 1


def test_array_sinks():
    win = np.array([[1, 2], [3, 255]], dtype=np.uint8)
    csv = SK.window_to_csv(win)
    assert csv.splitlines()[0] == "row/col,0,1"
    assert csv.splitlines()[2] == "1,3,255"
    j = json.loads(SK.window_to_json(win))
    assert j == {"width": 2, "height": 2, "data": [[1, 2], [3, 255]]}
    import io
    loaded = np.load(io.BytesIO(SK.window_to_npy(win)))
    assert loaded.dtype == np.uint8 and np.array_equal(loaded, win)
    assert SK.ensure_png_extension("/a/b/out.tif") == "/a/b/out.png"
    assert SK.ensure_png_extension("x.png") == "x.png"


def test_render_windows_distributed(spark):
    from rasterkit_spark.fixtures import corpus as CP
    from rasterkit_spark.operators import extract as EX
    c = CP.build_corpus(n_media=6, n_docs=10, n_queries=6)
    sdfs = c.to_spark(spark, ["queries_bbox", "media_catalog", "tiles"])
    wins = EX.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                      sdfs["tiles"])
    out = SK.render_windows(wins, "json").toPandas()
    assert len(out) > 0
    rec = json.loads(bytes(out.iloc[0].payload).decode())
    assert set(rec) == {"width", "height", "data"}


def test_reproject_metadata_and_lod(spark):
    from pyspark.sql import functions as F
    from rasterkit_spark.fixtures import corpus as CP
    from rasterkit_spark.operators import extract as EX
    c = CP.build_corpus(n_media=6, n_docs=5, n_queries=5)
    cat = spark.createDataFrame(c.media_catalog)
    re = CIO.reproject_metadata(cat, 3857).toPandas()
    assert (re.epsg == 3857).all()
    assert "source_epsg" in re.columns
    lvl = cat.select(EX.select_level(F.col("pixel_sx"), F.lit(1000.0))
                     .alias("lvl")).toPandas()
    assert lvl.lvl.between(0, 2).all()


def test_geokey_directory_roundtrip():
    """S8: GeoKeyDirectoryTag write → read → EPSG, for both the projected
    and geographic splits, with double/ascii param indirection
    (geo_key_parser.rs:33-142)."""
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    for epsg, expect_model in [(3857, 1), (4326, 2), (32633, 1)]:
        buf = TC.write_tiff(img, extra_entries=[
            TC.Entry(TC.TAG_PIXEL_SCALE, TC.T_DOUBLE, [10.0, 10.0, 0.0]),
            TC.Entry(TC.TAG_TIEPOINT, TC.T_DOUBLE,
                     [0.0, 0.0, 0.0, 500.0, 4000.0, 0.0]),
            *TC.geokey_entries(epsg, citation=f"EPSG:{epsg}",
                               inv_flattening=298.257223563),
        ])
        ifds, _, _ = TC.read_tiff(buf)
        keys = TC.parse_geo_key_directory(ifds[0])
        by_id = {k.key_id: k for k in keys}
        assert by_id[TC.GKEY_MODEL_TYPE].value_offset == expect_model
        assert TC.epsg_from_geo_keys(keys) == epsg
        # value-location dispatch: inline short / double params / ascii
        assert TC.geo_key_value_as_string(
            ifds[0], by_id[TC.GKEY_RASTER_TYPE]) == "1"
        assert TC.geo_key_value_as_string(
            ifds[0], by_id[TC.GKEY_GEOG_INV_FLATTENING]) == "298.257223563"
        assert TC.geo_key_value_as_string(
            ifds[0], by_id[TC.GKEY_CITATION]) == f"EPSG:{epsg}"


def test_geokey_missing_and_invalid():
    img = np.zeros((4, 4), dtype=np.uint8)
    ifds, _, _ = TC.read_tiff(TC.write_tiff(img))
    assert TC.parse_geo_key_directory(ifds[0]) == []  # no tag → empty
    bad = TC.Ifd()
    bad.entries[TC.TAG_GEO_KEY_DIRECTORY] = TC.Entry(
        TC.TAG_GEO_KEY_DIRECTORY, TC.T_SHORT, [1, 1])
    import pytest as _pt
    with _pt.raises(ValueError, match="Invalid GeoKey directory header"):
        TC.parse_geo_key_directory(bad)


def test_catalog_row_from_tiff_ingestion():
    """End-to-end EPSG ingestion: TIFF bytes → catalog row (S8+S9+S10)."""
    img = np.arange(48, dtype=np.uint8).reshape(6, 8)
    buf = TC.write_tiff(img, extra_entries=[
        TC.Entry(TC.TAG_PIXEL_SCALE, TC.T_DOUBLE, [50.0, 50.0, 0.0]),
        TC.Entry(TC.TAG_TIEPOINT, TC.T_DOUBLE,
                 [0.0, 0.0, 0.0, -20000.0, 150000.0, 0.0]),
        TC.Entry(TC.TAG_GDAL_NODATA, TC.T_ASCII, ["255"]),
        *TC.geokey_entries(3857),
    ])
    row = TC.catalog_row_from_tiff(buf)
    assert row["epsg"] == 3857
    assert row["width"] == 8 and row["height"] == 6
    assert row["pixel_sx"] == 50.0 and row["origin_y"] == 150000.0
    assert row["nodata"] == "255"
    assert row["samples_per_pixel"] == 1


def test_geokey_projected_interlopers_in_4xxx():
    """EPSG 4087 (World Equidistant Cylindrical) is projected despite the
    4xxx code; the writer must emit ProjectedCSTypeGeoKey/GTModelType=1
    for it, geographic keys for true 4xxx GCS codes, and honor an
    explicit flag override."""
    from rasterkit_spark.io import tiffcodec as TC

    def model_and_key(entries):
        shorts = entries[0].values
        keys = {shorts[4 + i * 4]: shorts[7 + i * 4]
                for i in range(shorts[3])}
        return keys

    k = model_and_key(TC.geokey_entries(4087))
    assert k[TC.GKEY_MODEL_TYPE] == 1           # projected
    assert k[TC.GKEY_PROJECTED_CS_TYPE] == 4087
    k = model_and_key(TC.geokey_entries(4326))
    assert k[TC.GKEY_MODEL_TYPE] == 2           # geographic
    assert k[TC.GKEY_GEOGRAPHIC_TYPE] == 4326
    k = model_and_key(TC.geokey_entries(4500))  # CGCS2000 Gauss-Kruger
    assert k[TC.GKEY_MODEL_TYPE] == 1
    # explicit flag wins over the heuristic
    k = model_and_key(TC.geokey_entries(4087, geographic=True))
    assert k[TC.GKEY_MODEL_TYPE] == 2


def test_geotiff_registry_full_parity_vs_published_toml():
    """X7: the generated registry must name every code the reference's
    copy of the published GeoTIFF 6.3 registry names — sampled across all
    code sections (≥50 uncommon codes), full names compared exactly."""
    import os
    import tomllib

    from rasterkit_spark.functions import geotiff_registry as R

    toml_path = "/root/reference/geotiff_tags.toml"
    if not os.path.exists(toml_path):
        import pytest as _pt
        _pt.skip("published registry copy not present")
    with open(toml_path, "rb") as f:
        pub = tomllib.load(f)

    sections = {
        "geographic_cs_codes": (R.GCS, "GCS_"),
        "geodetic_datum_codes": (R.DATUMS, "Datum_"),
        "ellipsoid_codes": (R.ELLIPSOIDS, "Ellipse_"),
        "prime_meridian_codes": (R.PRIME_MERIDIANS, "PM_"),
        "projected_cs_codes": (R.PCS, "PCS_"),
        "projection_codes": (R.PROJECTIONS, "Proj_"),
        "coord_transformation_codes": (R.COORD_TRANSFORMS, "CT_"),
        "vertical_cs_codes": (R.VERTICAL_CS, "VertCS_"),
        "linear_unit_codes": (R.LINEAR_UNITS, "Linear_"),
        "angular_unit_codes": (R.ANGULAR_UNITS, "Angular_"),
    }
    checked = 0
    for sec, (table, prefix) in sections.items():
        entries = sorted(pub[sec].items(), key=lambda kv: int(kv[0]))
        # full count parity per section, then exact names on a spread sample
        assert len(table) == len(entries), sec
        step = max(1, len(entries) // 8)
        for code_s, want in entries[::step]:
            code = int(code_s)
            got = R._full(table.get(code), prefix)
            assert got == want, (sec, code, got, want)
            checked += 1
    assert checked >= 50
    # bare-code classification resolves across ranges (uncommon picks)
    for code in (20137, 21500, 24200, 29177, 31300, 10404, 11832,
                 4223, 6277, 7008, 8903, 5024, 9015, 9107):
        assert R.registry_name(code) is not None, code
    # and epsg_description now surfaces registry names past its ranges
    from rasterkit_spark.functions import strings as S
    assert S.epsg_description(20137) == "PCS_Adindan_UTM_zone_37N"
    assert S.epsg_description(7030) == "Ellipse_WGS_84"
    assert S.geokey_value_name(2048, 4267) == "GCS_NAD27"
    assert S.geokey_value_name(3075, 7) == "CT_Mercator"


def test_colormap_csv_malformed_rows_skip_not_crash():
    """Hex rows with comma-bearing labels parse; truncated/junk rows skip
    (they used to ValueError-abort the whole read)."""
    from rasterkit_spark.operators import colormap_io as CIO
    text = "\n".join([
        "10,#FF0000,my,label",       # hex + label containing a comma
        "20,#00FF00,plain",
        "30,zz",                     # junk 2-field -> skip
        "40,1,2",                    # truncated numeric -> skip
        "50,5,6,7,lbl",
    ])
    df = CIO.colormap_from_csv(text)
    assert df.value.tolist() == [10, 20, 50]
    assert df[df.value == 10].label.iloc[0] == "my,label"


def test_colormap_sld_empty_roundtrip():
    from rasterkit_spark.operators import colormap_io as CIO
    empty = CIO.colormap_from_sld(
        "<StyledLayerDescriptor></StyledLayerDescriptor>")
    out = CIO.colormap_to_sld(empty)
    assert "<ColorMap" in out and "ColorMapEntry" not in out


def test_registry_names_gcse_range():
    """GCSE_* ellipsoid-based geographic CS codes (4001-4095) resolve —
    the GCS range used to start at 4096 and returned None for all 35."""
    from rasterkit_spark.functions.geotiff_registry import registry_name
    assert registry_name(4030) == "GCSE_WGS84"
    assert registry_name(4267) == "GCS_NAD27"
    assert registry_name(2048) is None          # geokey id, not a code
    assert registry_name(32633) == "PCS_WGS84_UTM_zone_33N"
