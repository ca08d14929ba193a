"""zonal_stats' partials pass: per-run parity in-process (no Spark) and the
plan / job budget of both physical arms.

The partials UDF reduces every zone row of a run of equal tile keys
against one fetched chunk.  A tile's rows may arrive split across Arrow
batches or runs; the groupBy that follows must then still see the same
sums, so the in-process tests compare groupBy-summed partials against a
per-row numpy reference that decodes and masks each row on its own."""

import re

import numpy as np
import pandas as pd
import pytest
from budget import arrow_udf_names, census, count_jobs

from rasterkit_spark import kernels as K
from rasterkit_spark.fixtures import corpus as CP
from rasterkit_spark.operators import extract as EX
from rasterkit_spark.operators import spatial as SP

CW = CH = 16
DEFLATE = 8


def _blob(pixels: np.ndarray) -> bytes:
    return K.compress(np.ascontiguousarray(pixels).tobytes(), DEFLATE)


def _polygon(cx, cy, r, n=7):
    t = np.linspace(0, 2 * np.pi, n + 1)[:-1]
    return list(cx + r * np.cos(t)), list(cy + r * np.sin(t))


def _raster(media_ref, epsg, spp, ox, oy, psx, psy, seed):
    """Two side-by-side 16-px tiles of one raster as {tile_x: blob}, plus
    the geometry every row of that raster carries."""
    rng = np.random.default_rng(seed)
    shape = (CH, CW) if spp == 1 else (CH, CW, spp)
    tiles = {tx: _blob(rng.integers(0, 256, size=shape, dtype=np.uint8))
             for tx in (0, 1)}
    geom = dict(media_ref=media_ref, level=0, chunk_w=CW, chunk_h=CH,
                compression=DEFLATE, predictor=1, samples_per_pixel=spp,
                origin_x=ox, origin_y=oy, pixel_sx=psx, pixel_sy=psy,
                epsg=epsg)
    return tiles, geom


def _rows(tiles, geom, zones):
    """(zone, tile) key rows: each zone's pixel region crossed with every
    tile it covers, blob attached — the default arm's input shape."""
    rows = []
    for zone_id, (rx, ry, rw, rh), (xs, ys) in zones:
        for tx in (0, 1):
            if rx + rw <= tx * CW or rx >= (tx + 1) * CW:
                continue
            rows.append(dict(geom, zone_id=zone_id, region_x=rx,
                             region_y=ry, region_w=rw, region_h=rh,
                             tile_x=tx, tile_y=0, poly_xs=np.array(xs),
                             poly_ys=np.array(ys), blob=tiles[tx]))
    return rows


def _zones_4326():
    # raster at lon 10..10.5, lat 20..19.75 (1/64 degree pixels)
    return [
        ("za", (2, 1, 26, 14), _polygon(10.23, 19.875, 0.2)),
        ("zb", (0, 0, 12, 16), _polygon(10.09, 19.88, 0.09)),
        ("zc", (14, 3, 18, 10), _polygon(10.37, 19.87, 0.12, n=5)),
        ("zd", (20, 0, 4, 4), _polygon(10.345, 19.97, 0.03)),
    ]


def _reference(rows):
    """Per-row numpy: decode the row's own blob, build the pixel centers
    of its tile∩region by meshgrid, mask with the point-list PIP kernel."""
    out = {}
    for r in rows:
        raw = K.decode_chunk(r["blob"], r["compression"], r["predictor"],
                             CW, CH, r["samples_per_pixel"])
        chunk = (K.rgb_to_luma8(raw.reshape(CH, CW, 3))
                 if r["samples_per_pixel"] == 3 else raw.reshape(CH, CW))
        tx0, ty0 = r["tile_x"] * CW, r["tile_y"] * CH
        gx = np.arange(max(r["region_x"], tx0),
                       min(r["region_x"] + r["region_w"], tx0 + CW))
        gy = np.arange(max(r["region_y"], ty0),
                       min(r["region_y"] + r["region_h"], ty0 + CH))
        if not gx.size or not gy.size:
            continue
        X, Y = np.meshgrid(r["origin_x"] + (gx + 0.5) * r["pixel_sx"],
                           r["origin_y"] - (gy + 0.5) * r["pixel_sy"])
        if r["epsg"] == 3857:
            X, Y = K.webmercator_to_wgs84(X, Y)
        inside = K.points_in_polygon(X.ravel(), Y.ravel(), r["poly_xs"],
                                     r["poly_ys"]).reshape(X.shape)
        vals = chunk[np.ix_(gy - ty0, gx - tx0)][inside].astype(np.int64)
        if not vals.size:
            continue
        k = (r["zone_id"], r["media_ref"])
        lo, hi, s, n = out.get(k, (255, 0, 0, 0))
        out[k] = (min(lo, vals.min()), max(hi, vals.max()),
                  s + vals.sum(), n + vals.size)
    return out


def _partials(batches, tile_map=None):
    frames = list(SP._zonal_partials(
        (pd.DataFrame(b) for b in batches), tile_map))
    return pd.concat(frames) if frames else pd.DataFrame(
        columns=["zone_id", "media_ref", "pmin", "pmax", "psum", "pcount"])


def _summed(partials):
    """The groupBy reduce zonal_stats runs after the partials."""
    agg = partials.groupby(["zone_id", "media_ref"]).agg(
        pmin=("pmin", "min"), pmax=("pmax", "max"),
        psum=("psum", "sum"), pcount=("pcount", "sum"))
    return {k: tuple(int(v) for v in r)
            for k, r in zip(agg.index, agg.itertuples(index=False))}


@pytest.fixture
def fetches(monkeypatch):
    """Count chunk fetches: the pass must fetch once per run."""
    calls = []
    real = EX.fetch_chunk

    def counted(row, *a, **kw):
        calls.append((row.media_ref, int(row.level), int(row.tile_x),
                      int(row.tile_y)))
        return real(row, *a, **kw)

    monkeypatch.setattr(EX, "fetch_chunk", counted)
    return calls


def _by_tile(rows):
    return sorted(rows, key=lambda r: (r["tile_x"], r["zone_id"]))


def test_split_runs_sum_to_the_grouped_run_and_reference(fetches):
    tiles, geom = _raster("r_gray", 4326, 1, 10.0, 20.0, 1 / 64, 1 / 64, 5)
    rows = _rows(tiles, geom, _zones_4326())
    want = _reference(rows)
    assert len(want) == 4 and all(v[3] > 0 for v in want.values())

    grouped = _by_tile(rows)
    got_grouped = _summed(_partials([grouped]))
    assert fetches == [("r_gray", 0, 0, 0), ("r_gray", 0, 1, 0)]

    # each tile's rows split across two batches and interleaved with the
    # other tile's: runs t0, t1 (spanning the batch cut), t0, t1
    t0 = [r for r in grouped if r["tile_x"] == 0]
    t1 = [r for r in grouped if r["tile_x"] == 1]
    assert len(t0) == len(t1) == 3
    fetches.clear()
    got_split = _summed(_partials([t0[:2] + t1[:1],
                                   t1[1:2] + t0[2:] + t1[2:]]))
    assert [k[2] for k in fetches] == [0, 1, 0, 1]
    assert got_grouped == got_split == want


def test_rgb_mercator_run_matches_reference():
    # 3857 raster near lon 10°, lat 20°: 500 m pixels
    ox, oy = K.wgs84_to_webmercator(np.array([10.0]), np.array([20.0]))
    tiles, geom = _raster("r_rgb", 3857, 3, float(ox[0]), float(oy[0]),
                          500.0, 500.0, 9)
    zones = [("za", (1, 2, 25, 12), _polygon(10.05, 19.96, 0.04)),
             ("zb", (10, 0, 12, 16), _polygon(10.07, 19.965, 0.025))]
    rows = _rows(tiles, geom, zones)
    want = _reference(rows)
    assert want and all(v[3] > 0 for v in want.values())
    assert _summed(_partials([_by_tile(rows)])) == want
    assert _summed(_partials([rows[::-1]])) == want


def test_unsupported_samples_per_pixel_raises():
    tiles, geom = _raster("r4", 4326, 4, 10.0, 20.0, 1 / 64, 1 / 64, 3)
    rows = _rows(tiles, geom, _zones_4326()[:1])
    with pytest.raises(ValueError, match="samples_per_pixel=4"):
        _partials([rows])


def test_tile_map_lookup_and_miss():
    """Key rows with a broadcast tile map: a hit gives the blob arm's
    partials; a key the map lacks (OOB cover) yields nothing."""
    tiles, geom = _raster("r_gray", 4326, 1, 10.0, 20.0, 1 / 64, 1 / 64, 5)
    rows = _by_tile(_rows(tiles, geom, _zones_4326()))
    keys = [{k: v for k, v in r.items() if k != "blob"} for r in rows]
    tile_map = {("r_gray", 0, tx, 0): tiles[tx] for tx in (0, 1)}
    assert _summed(_partials([keys], tile_map)) == _reference(rows)
    assert _partials([keys], {}).empty
    only_t1 = {("r_gray", 0, 1, 0): tiles[1]}
    assert _summed(_partials([keys], only_t1)) == _reference(
        [r for r in rows if r["tile_x"] == 1])


# ---------------------------------------------------------------------------
# plan and job budget, both arms
# ---------------------------------------------------------------------------

# measured with the fixture below: jobs the zonal_stats call runs (pairs
# checkpoint, which also counts unplaceable rasters and bad zone ids
# through Observations; tile-map sizing and collect) and jobs its collect
# runs.  The parent ran (6, 9) and (9, 9): it re-parsed and re-joined the
# zones after the checkpoint
JOBS = {"default": (5, 6), "broadcast_tiles": (8, 6)}
# default arm plan census on the same code: shuffle Exchanges,
# BroadcastExchanges and MapInPandas nodes (the parent's was (4, 2, 1))
DEFAULT_ARM_CENSUS = (2, 2, 1)


@pytest.mark.parametrize("arm", ["default", "broadcast_tiles"])
def test_zonal_plan_and_job_budget(spark, arm):
    c = CP.build_corpus(n_media=6, n_docs=20, n_queries=6)
    sd = c.to_spark(spark, ["zones", "media_catalog", "tiles"])
    df, call_jobs = count_jobs(
        spark, f"zonal-{arm}-call", lambda: SP.zonal_stats(
            sd["zones"], sd["media_catalog"], sd["tiles"],
            broadcast_tiles=arm == "broadcast_tiles"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    _, collect_jobs = count_jobs(spark, f"zonal-{arm}-collect", df.collect)
    assert (call_jobs, collect_jobs) == JOBS[arm], \
        (arm, call_jobs, collect_jobs)
    # the checkpointed pairs carry the polygons: nothing after them parses
    assert arrow_udf_names(plan) == [], plan
    if arm == "default":
        assert census(plan) == DEFAULT_ARM_CENSUS, plan
        assert "REPARTITION_BY_NUM" not in plan, plan
        return
    n = spark.sparkContext.defaultParallelism
    # key rows spread by zone into three tasks per core and sorted by tile
    # key within each task; no exchange by tile key
    by_zone = re.findall(
        rf"Exchange hashpartitioning\(zone_id#\d+, {3 * n}\), "
        r"REPARTITION_BY_NUM", plan)
    assert len(by_zone) == 1, plan
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    # the level column is the literal 0 here, which the plan prints folded
    assert re.search(r"Sort \[media_ref#\d+ ASC NULLS FIRST, "
                     r"(?:level#\d+L? ASC NULLS FIRST, )?tile_x#\d+L? ASC "
                     r"NULLS FIRST, tile_y#\d+L? ASC NULLS FIRST\], false",
                     plan), plan


@pytest.mark.parametrize("case", ["off_every_zone", "no_zones"])
def test_unplaceable_raster_outside_every_zone_still_raises(spark, case,
                                                           monkeypatch):
    """The default screen counts unplaceable rasters on the catalog input
    of the pairs checkpoint, so it raises for a raster no zone overlaps
    and, when there are no zones to pair with, for a catalog the pairs
    job never reads.  The pairs job itself never pairs the bad raster
    with the zones it is about to reject."""
    from pyspark.sql import functions as F
    c = CP.build_corpus(n_media=4, n_docs=10, n_queries=6)
    sd = c.to_spark(spark, ["zones", "media_catalog", "tiles"])
    bad_ref = c.media_catalog[c.media_catalog.media_kind == "raster"] \
        .media_ref.iloc[0]
    is_bad = F.col("media_ref") == bad_ref
    bad_cat = sd["media_catalog"] \
        .withColumn("epsg", F.when(is_bad, F.lit(32633))
                    .otherwise(F.col("epsg"))) \
        .withColumn("origin_x", F.when(is_bad, F.lit(5.0e6))
                    .otherwise(F.col("origin_x")))
    zones = sd["zones"] if case == "off_every_zone" \
        else sd["zones"].limit(0)
    DataFrame = type(zones)
    checkpointed, orig = [], DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        checkpointed.append(orig(self, *args, **kwargs))
        return checkpointed[-1]

    with monkeypatch.context() as m, \
            pytest.raises(ValueError, match=rf"1 raster.*\['{bad_ref}'\]"):
        m.setattr(DataFrame, "localCheckpoint", recording)
        SP.zonal_stats(zones, bad_cat, sd["tiles"])
    assert len(checkpointed) == 1
    pairs = checkpointed[0]
    assert (pairs.count() > 0) == (case == "off_every_zone")
    assert pairs.filter(F.col("media_ref") == bad_ref).count() == 0
    # a placeable catalog passes in both cases
    SP.zonal_stats(zones, sd["media_catalog"], sd["tiles"]).collect()


# ---------------------------------------------------------------------------
# zone_id screen
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def screen_inputs(spark):
    """The zones, catalog and tiles of a small corpus whose every zone
    overlaps a raster."""
    c = CP.build_corpus(n_media=4, n_docs=10, n_queries=6)
    sd = c.to_spark(spark, ["media_catalog", "tiles"])
    return c.zones, sd["media_catalog"], sd["tiles"]


def _zonal(spark, zones, catalog, tiles):
    return SP.zonal_stats(spark.createDataFrame(zones), catalog, tiles)


def test_null_zone_id_raises(spark, screen_inputs):
    zones, cat, tiles = screen_inputs
    zones = zones.astype({"zone_id": object})
    zones.loc[0, "zone_id"] = None
    with pytest.raises(ValueError, match=r"with a NULL id: [1-9]"):
        _zonal(spark, zones, cat, tiles)


def test_two_polygons_under_one_zone_id_raise(spark, screen_inputs):
    zones, cat, tiles = screen_inputs
    z0 = zones.iloc[0].to_dict()
    xs, ys = SP.parse_wkt_polygon(z0["polygon_wkt"])
    # over the same raster: a smaller ring around the same centroid
    cx, cy = np.mean(xs), np.mean(ys)
    shrunk = ", ".join(f"{cx + (x - cx) / 2} {cy + (y - cy) / 2}"
                       for x, y in zip(xs + xs[:1], ys + ys[:1]))
    twin = pd.DataFrame([dict(z0, polygon_wkt=f"POLYGON(({shrunk}))")])
    with pytest.raises(ValueError, match=r"with two polygons: [1-9]"):
        _zonal(spark, pd.concat([zones, twin]), cat, tiles)


def test_identical_duplicate_zone_rows_count_once(spark, screen_inputs):
    zones, cat, tiles = screen_inputs
    key = ["zone_id", "media_ref"]
    once = _zonal(spark, zones, cat, tiles).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert (once.zcount > 0).any()
    twice = _zonal(spark, pd.concat([zones, zones.iloc[:2]]), cat, tiles) \
        .toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(once, twice)
