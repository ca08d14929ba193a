"""Seeded workloads for ``perfbench/run.py``.

A workload owns four things:

- ``generate()``: builds every input from the seed with numpy and writes the
  tables to parquet under the work directory.  Nothing here calls the engine.
- ``load(spark)``: reads those files into DataFrames and caches them.
- ``invoke(op, i)`` / ``force(op, df)``: one call of a public engine function
  on draw ``i``, then one action that reads the whole result.
- ``check(op, i, rows)``: compares the forced result with a reference built
  from the generated inputs alone (numpy, the fixture oracle, raw texts).

Engine entry points used: ``rasterkit_spark.api`` (extract, zonal_stats,
build_pyramid, extract_to_files, spatial_join, knn_join) and
``rasterkit_spark.operators.dedup`` (minhash_lsh_pairs, dup_clusters,
shared_span_pairs).  Input generation and references also use
``rasterkit_spark.fixtures`` (corpus generator, numpy oracle).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: chunk edge of every generated raster; strips are sized to the same
#: 65,536 pixels (width × rows_per_strip), so a chunk row is one tile's work
TILE = 256
#: per-worker decode LRU entries in operators/extract.py (_DECODE_CACHE_CAP)
DECODE_LRU_ENTRIES = 512

#: sizes per workload and scale; ``tiny`` is the self-test scale
SIZES = {
    "raster_cold": {
        # many small windows rather than a few large ones: the assembly
        # shuffle hashes (query, raster) groups over 2 × cores partitions,
        # and with a dozen groups the straggler partition, hence the wall,
        # changed by ±25% with the seed
        "full": dict(n_media=44, px=2048, fresh_draws=True, queries=36,
                     win=(240, 304), zones=4, zone_px=(32, 64)),
        "tiny": dict(n_media=4, px=512, fresh_draws=True, queries=3,
                     win=(64, 200), zones=2, zone_px=(24, 64)),
    },
    "raster_hot": {
        "full": dict(n_media=4, px=2048, fresh_draws=False, queries=12,
                     win=(416, 480), zones=4, zone_px=(32, 64)),
        "tiny": dict(n_media=4, px=512, fresh_draws=False, queries=3,
                     win=(64, 200), zones=2, zone_px=(24, 64)),
    },
    "vector_join": {
        "full": dict(points=60_000, hot_share=0.25, polygons=60,
                     queries=4_000, knn_sample=200, k=10, pip_res=8),
        "tiny": dict(points=4_000, hot_share=0.25, polygons=12,
                     queries=200, knn_sample=40, k=10, pip_res=8),
    },
    "text_dedup": {
        "full": dict(base_docs=1_600, clusters=160, words=(50, 110),
                     vocab=3_000, span_docs=600),
        "tiny": dict(base_docs=60, clusters=8, words=(30, 60), vocab=400,
                     span_docs=40),
    },
}


SIZES["text_spans"] = SIZES["text_dedup"]


def _write_parquet(table: pd.DataFrame, path: str, files: int,
                   schema: pa.Schema) -> str:
    """Write ``table`` as ``files`` parquet files under directory ``path``,
    so the scan starts with that many partitions."""
    os.makedirs(path, exist_ok=True)
    for j, part in enumerate(np.array_split(np.arange(len(table)), files)):
        chunk = table.iloc[part] if len(part) else table.iloc[:0]
        pq.write_table(pa.Table.from_pandas(chunk, schema=schema,
                                            preserve_index=False),
                       os.path.join(path, f"part-{j:03d}.parquet"))
    return path


def _octagon_wkt(xs, ys) -> str:
    ring = [f"{x:.9f} {y:.9f}" for x, y in zip(xs, ys)]
    return "POLYGON((" + ", ".join(ring + ring[:1]) + "))"


class Workload:
    name = ""
    ops: tuple[str, ...] = ()
    unit = ""

    def __init__(self, seed: int, work_dir: str, scale: str, cores: int):
        self.seed = int(seed)
        self.work = work_dir
        self.size = SIZES[self.name][scale]
        self.cores = cores
        self.corrupt: str | None = None   # self-test: op whose check must fail

    def describe(self) -> dict:
        return {}

    def useful(self, op: str, rows) -> float:
        """Useful outcomes of a call, the numerator of its operation's
        useful-work ratio (perfbench/layers.py YIELDS)."""
        return 0.0

    def kernel_inputs(self) -> dict:
        """Inputs of the kernel microbenchmarks.  Workloads without pixels
        or points of their own use a seeded control set, so their kernel
        figures act as a same-host calibration."""
        return _control_kernel_inputs(self.seed)


def _control_kernel_inputs(seed: int) -> dict:
    from rasterkit_spark.fixtures import corpus as CP

    c = CP.build_corpus(n_media=4, n_docs=1, n_queries=1, seed=seed,
                        sizes=(512,), tile_size=TILE,
                        rps_choices=(TILE * TILE // 512,), levels=1,
                        null_rps_every=0)
    rng = np.random.default_rng([seed, 49979687])
    t = np.linspace(0, 2 * np.pi, 9)[:-1]
    rr = rng.uniform(0.6, 1.0, size=8)
    ref = c.media_catalog.media_ref.iloc[0]
    return dict(chunks=_chunk_sample(c, rng, 32),
                points=(rng.uniform(-1, 1, 200_000),
                        rng.uniform(-1, 1, 200_000)),
                polygon=(rr * np.cos(t), rr * np.sin(t)),
                window=c.pixels[ref][0][:512, :512])


def _chunk_sample(corpus, rng, n: int) -> list:
    """``n`` seeded level-0 chunks as (blob, compression, predictor, w, h)."""
    cat = corpus.media_catalog.set_index("media_ref")
    t0 = corpus.tiles[corpus.tiles.level == 0]
    out = []
    for j in rng.choice(len(t0), min(n, len(t0)), replace=False):
        t = t0.iloc[int(j)]
        r = cat.loc[t.media_ref]
        if int(r.tile_w) > 0:
            w, h = int(r.tile_w), int(r.tile_h)
        else:
            w, h = int(r.width), int(r.rows_per_strip)
        out.append((bytes(t.blob), int(r.compression), int(r.predictor),
                    w, h))
    return out


# ---------------------------------------------------------------------------
# raster workloads
# ---------------------------------------------------------------------------

class RasterWorkload(Workload):

    def generate(self) -> None:
        from rasterkit_spark.fixtures import corpus as CP

        s = self.size
        self.corpus = CP.build_corpus(
            n_media=s["n_media"], n_docs=1, n_queries=1, seed=self.seed,
            sizes=(s["px"],), tile_size=TILE,
            rps_choices=(TILE * TILE // s["px"],), levels=1,
            null_rps_every=0)
        cat = self.corpus.media_catalog
        self.rasters = cat[cat.media_kind == "raster"].reset_index(drop=True)
        tiles = self.corpus.tiles
        self.level0_chunks = int((tiles.level == 0).sum())
        base = os.path.join(self.work, "inputs")
        self.paths = {
            "catalog": _write_parquet(cat, os.path.join(base, "catalog"), 1,
                                      _CATALOG_SCHEMA),
            "tiles": _write_parquet(tiles, os.path.join(base, "tiles"),
                                    2 * self.cores, _TILES_SCHEMA),
        }
        self._draw_cache: dict[int, dict] = {}
        self._refs: dict[tuple, object] = {}

    def describe(self) -> dict:
        return dict(rasters=len(self.rasters), raster_px=self.size["px"],
                    tile_px=TILE, level0_chunks=self.level0_chunks,
                    lru_entries_x_workers=DECODE_LRU_ENTRIES * self.cores,
                    queries_per_call=self.size["queries"],
                    fresh_draw_per_call=self.size["fresh_draws"],
                    **({"zones_per_call": self.size["zones"]}
                       if "zonal" in self.ops else {}))

    def load(self, spark) -> None:
        self.spark = spark
        self.catalog = spark.read.parquet(self.paths["catalog"]).cache()
        self.tiles = spark.read.parquet(self.paths["tiles"]).cache()
        self.catalog.count()
        self.tiles.count()

    # -- seeded draws --------------------------------------------------------

    def _draw(self, i: int) -> dict:
        """Call ``i``'s inputs: a fresh seeded draw per call on the cold
        workload, the same draw on every call of the hot one."""
        d = i if self.size["fresh_draws"] else 0
        if d in self._draw_cache:
            return self._draw_cache[d]
        from rasterkit_spark import kernels as K

        s = self.size
        rng = np.random.default_rng([self.seed, 7919, d])
        recs = self.rasters
        # stratified by codec (none / deflate / zstd), so every call decodes
        # the same mix whatever the seed
        by_codec = [recs[recs.compression == c] for c in
                    sorted(recs.compression.unique())]
        q_rows = []
        for j in range(s["queries"]):
            group = by_codec[j % len(by_codec)]
            r = group.iloc[int(rng.integers(len(group)))]
            w, h = (int(v) for v in rng.integers(s["win"][0], s["win"][1],
                                                 size=2))
            # every fourth window hangs off the image edge (clipped window)
            lo = -w // 3 if j % 4 == 3 else 0
            x0 = int(rng.integers(lo, r.width - w + 1))
            y0 = int(rng.integers(0, r.height - h + 1))
            minx = r.origin_x + x0 * r.pixel_sx
            maxx = r.origin_x + (x0 + w) * r.pixel_sx
            maxy = r.origin_y - y0 * r.pixel_sy
            miny = r.origin_y - (y0 + h) * r.pixel_sy
            crs = int(r.epsg)
            if crs == 3857 and j % 2 == 0:   # the 4326 → 3857 path
                (minx, maxx), (miny, maxy) = K.webmercator_to_wgs84(
                    np.array([minx, maxx]), np.array([miny, maxy]))
                crs = 4326
            q_rows.append(dict(
                query_id=f"d{d}q{j:03d}", media_ref=r.media_ref,
                minx=float(minx), miny=float(miny), maxx=float(maxx),
                maxy=float(maxy), crs=crs, proj=None, filter_lo=None,
                filter_hi=None, filter_transparency=False, cmap_id=None,
                shape="square", radius_m=None))
        z_rows = []
        for j in range(s["zones"]):
            r = recs.iloc[int(rng.integers(len(recs)))]
            rad = float(rng.uniform(*s["zone_px"]))
            cx = float(rng.uniform(rad, r.width - rad))
            cy = float(rng.uniform(rad, r.height - rad))
            t = np.linspace(0, 2 * np.pi, 9)[:-1]
            jitter = rng.uniform(0.6, 1.0, size=8)
            mx = r.origin_x + (cx + rad * jitter * np.cos(t)) * r.pixel_sx
            my = r.origin_y - (cy + rad * jitter * np.sin(t)) * r.pixel_sy
            if int(r.epsg) == 3857:
                mx, my = K.webmercator_to_wgs84(mx, my)
            z_rows.append(dict(zone_id=f"d{d}z{j:02d}",
                               polygon_wkt=_octagon_wkt(mx, my), epsg=4326))
        # one deflate-tiled and one stripped raster, so every call encodes
        # the same chunk-layout and codec mix
        tiled = (recs.tile_w > 0) & (recs.compression == 8)
        pyr = [str(rng.choice(recs.media_ref[tiled])),
               str(rng.choice(recs.media_ref[recs.tile_w == 0]))]
        draw = dict(queries=pd.DataFrame(q_rows), zones=pd.DataFrame(z_rows),
                    pyramid=pyr)
        self._draw_cache[d] = draw
        return draw

    def _df(self, pdf: pd.DataFrame, ddl: str):
        return self.spark.createDataFrame(
            [tuple(None if (v is None or v != v) else v for v in row)
             for row in pdf.itertuples(index=False, name=None)], ddl)

    # -- references (fixture oracle / ground-truth pixels) --------------------

    def _ref_windows(self, i: int) -> dict:
        from rasterkit_spark.fixtures import oracle as O

        key = ("extract", i if self.size["fresh_draws"] else 0)
        if key not in self._refs:
            q = self._draw(i)["queries"]
            exp = O.expected_all_bbox(replace(self.corpus, queries_bbox=q))
            self._refs[key] = {
                (r.query_id, r.media_ref): r.window_sha256
                for r in exp.itertuples()}
        return self._refs[key]

    def _ref_zonal(self, i: int) -> set:
        from rasterkit_spark.fixtures import oracle as O

        key = ("zonal", i if self.size["fresh_draws"] else 0)
        if key not in self._refs:
            z = self._draw(i)["zones"]
            exp = O.expected_zonal(replace(self.corpus, zones=z))
            self._refs[key] = {tuple(r) for r in exp[
                ["zone_id", "media_ref", "zmin", "zmax", "zsum",
                 "zcount"]].itertuples(index=False, name=None)}
        return self._refs[key]

    def _ref_pyramid(self, ref: str) -> dict:
        """Expected level-1 chunks {(tile_x, tile_y): pixels}: a 2×2 floor
        average of the ground-truth image (odd trailing row/column
        dropped), cut into the raster's chunk layout."""
        r = self.rasters.set_index("media_ref").loc[ref]
        a = self.corpus.pixels[ref][0].astype(np.uint16)
        h, w = a.shape[0] // 2 * 2, a.shape[1] // 2 * 2
        img = ((a[0:h:2, 0:w:2] + a[1:h:2, 0:w:2] + a[0:h:2, 1:w:2]
                + a[1:h:2, 1:w:2]) // 4).astype(np.uint8)
        tiled = int(r.tile_w) > 0
        cw = int(r.tile_w) if tiled else img.shape[1]
        ch = int(r.tile_h) if tiled else int(r.rows_per_strip)
        out = {}
        for ty in range(-(-img.shape[0] // ch)):
            for tx in range(-(-img.shape[1] // cw)):
                sub = img[ty * ch:(ty + 1) * ch, tx * cw:(tx + 1) * cw]
                if tiled:   # tiles are stored full-size, zero-padded
                    chunk = np.zeros((ch, cw), dtype=np.uint8)
                    chunk[:sub.shape[0], :sub.shape[1]] = sub
                    sub = chunk
                out[(tx, ty)] = sub
        return out

    # -- operations ----------------------------------------------------------

    def prepare(self, op: str, i: int) -> None:
        """Build the call's input frames and references before the timer."""
        d = self._draw(i)
        if op == "extract":
            self._ref_windows(i)
            self._input = self._df(d["queries"], _QUERY_DDL)
        elif op == "zonal":
            self._ref_zonal(i)
            self._input = self._df(d["zones"], _ZONE_DDL)
        else:
            from pyspark.sql import functions as F
            self._input = self.tiles.filter(
                F.col("media_ref").isin(d["pyramid"]))

    def invoke(self, op: str, i: int):
        from rasterkit_spark import api

        if op == "extract":
            return api.extract(self._input, self.catalog, self.tiles)
        if op == "zonal":
            return api.zonal_stats(self._input, self.catalog, self.tiles)
        return api.build_pyramid(self._input, self.catalog, levels=1)

    def force(self, op: str, df):
        if op == "extract":
            return df.select("query_id", "media_ref", "region_w", "region_h",
                             "window_sha256").collect()
        if op == "zonal":
            return df.select("zone_id", "media_ref", "zmin", "zmax", "zsum",
                             "zcount").collect()
        return df.select("media_ref", "level", "tile_x", "tile_y",
                         "blob").collect()

    def units(self, op: str, rows) -> int:
        """Query windows returned plus zones summarized; a pyramid call
        completes no query unit (its wall still counts)."""
        if op == "extract":
            return len(rows)
        return self.size["zones"] if op == "zonal" else 0

    def useful(self, op: str, rows) -> float:
        """extract: window pixels in chunk units, against the chunk rows
        the assembly UDF decodes."""
        if op != "extract":
            return 0.0
        return sum(r["region_w"] * r["region_h"] for r in rows) / TILE ** 2

    def kernel_inputs(self) -> dict:
        rng = np.random.default_rng([self.seed, 49979687])
        zone = self._draw(0)["zones"].polygon_wkt.iloc[0]
        pairs = zone[len("POLYGON(("):-2].split(", ")[:-1]
        xs = np.array([float(p.split()[0]) for p in pairs])
        ys = np.array([float(p.split()[1]) for p in pairs])
        n = 200_000
        ref = self.rasters.media_ref.iloc[0]
        return dict(chunks=_chunk_sample(self.corpus, rng, 32),
                    points=(rng.uniform(xs.min(), xs.max(), n),
                            rng.uniform(ys.min(), ys.max(), n)),
                    polygon=(xs, ys),
                    window=self.corpus.pixels[ref][0][:512, :512])

    def check(self, op: str, i: int, rows) -> bool:
        if op == "extract":
            got = {(r["query_id"], r["media_ref"]): r["window_sha256"]
                   for r in rows}
            if self.corrupt == op and got:
                k = next(iter(got))
                got[k] = hashlib.sha256(got[k].encode()).hexdigest()
            return len(rows) == len(got) and got == self._ref_windows(i)
        if op == "zonal":
            got = [tuple(r) for r in rows]
            return len(got) == len(set(got)) and set(got) == self._ref_zonal(i)
        return self._check_pyramid(i, rows)

    def _check_pyramid(self, i: int, rows) -> bool:
        from rasterkit_spark import kernels as K

        cat = self.rasters.set_index("media_ref")
        want = {(ref, tx, ty): px for ref in self._draw(i)["pyramid"]
                for (tx, ty), px in self._ref_pyramid(ref).items()}
        got = set()
        for r in rows:
            key = (r["media_ref"], r["tile_x"], r["tile_y"])
            if r["level"] != 1 or key not in want or key in got:
                return False
            c, exp = cat.loc[r["media_ref"]], want[key]
            h, w = exp.shape
            px = K.decode_chunk(bytes(r["blob"]), int(c.compression),
                                int(c.predictor), w, h)
            if not np.array_equal(np.asarray(px).reshape(h, w), exp):
                return False
            got.add(key)
        return got == set(want)


class RasterCold(RasterWorkload):
    name = "raster_cold"
    ops = ("extract", "pyramid")
    unit = "query windows"


class RasterHot(RasterWorkload):
    name = "raster_hot"
    ops = ("extract", "zonal")
    unit = "query windows + zones"


_QUERY_DDL = ("query_id string, media_ref string, minx double, miny double,"
              " maxx double, maxy double, crs int, proj int, filter_lo int,"
              " filter_hi int, filter_transparency boolean, cmap_id string,"
              " shape string, radius_m double")
_ZONE_DDL = "zone_id string, polygon_wkt string, epsg int"
_CATALOG_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("media_kind", pa.string()),
    ("width", pa.int32()), ("height", pa.int32()), ("tile_w", pa.int32()),
    ("tile_h", pa.int32()), ("rows_per_strip", pa.int32()),
    ("epsg", pa.int32()), ("pixel_sx", pa.float64()),
    ("pixel_sy", pa.float64()), ("origin_x", pa.float64()),
    ("origin_y", pa.float64()), ("compression", pa.int32()),
    ("predictor", pa.int32()), ("nodata", pa.string()),
    ("bits_per_sample", pa.int32()), ("samples_per_pixel", pa.int32()),
    ("geometry_wkt", pa.string())])
_TILES_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("level", pa.int32()),
    ("tile_x", pa.int32()), ("tile_y", pa.int32()),
    ("tile_idx", pa.int32()), ("blob", pa.binary()),
    ("byte_count", pa.int32())])


# ---------------------------------------------------------------------------
# vector_join
# ---------------------------------------------------------------------------

class VectorJoin(Workload):
    name = "vector_join"
    ops = ("pip_join", "knn_join")
    unit = "points"

    def generate(self) -> None:
        s = self.size
        rng = np.random.default_rng([self.seed, 104729])
        n = s["points"]
        n_hot = int(n * s["hot_share"])
        hot = rng.uniform(-40, 40), rng.uniform(-30, 30)
        # one dense cluster (~a tenth of a degree across) holds hot_share of
        # the points: one grid cell carries most of the join's rows
        lon = np.concatenate([rng.uniform(-60, 60, n - n_hot),
                              hot[0] + rng.normal(0, 0.05, n_hot)])
        lat = np.concatenate([rng.uniform(-45, 45, n - n_hot),
                              hot[1] + rng.normal(0, 0.05, n_hot)])
        order = rng.permutation(n)
        self.px, self.py = lon[order], lat[order]
        self.ids = np.arange(n, dtype=np.int64)
        polys = []
        for j in range(s["polygons"]):
            if j == 0:
                cx, cy, rad = hot[0], hot[1], 0.12
            else:
                cx, cy = rng.uniform(-58, 58), rng.uniform(-43, 43)
                rad = rng.uniform(0.5, 4.0)
            t = np.linspace(0, 2 * np.pi, 9)[:-1]
            rr = rad * rng.uniform(0.55, 1.0, size=8)
            polys.append((f"p{j:04d}", cx + rr * np.cos(t),
                          cy + rr * np.sin(t)))
        self.polys = polys
        # kNN queries are uniform: a query inside the cluster would make
        # its first ring hold the whole cluster (a quadratic candidate set)
        nq = s["queries"]
        qx = rng.uniform(-60, 60, nq)
        qy = rng.uniform(-45, 45, nq)
        self.qx, self.qy = qx, qy
        self.qids = np.arange(nq, dtype=np.int64) + 10_000_000
        base = os.path.join(self.work, "inputs")
        files = 2 * self.cores
        self.paths = {
            "points": _write_parquet(
                pd.DataFrame(dict(id=self.ids, lon=self.px, lat=self.py)),
                os.path.join(base, "points"), files, _xy_schema("id")),
            "queries": _write_parquet(
                pd.DataFrame(dict(qid=self.qids, lon=qx, lat=qy)),
                os.path.join(base, "queries"), files, _xy_schema("qid")),
            "polygons": _write_parquet(
                pd.DataFrame(dict(
                    poly_id=[p[0] for p in polys],
                    wkt=[_octagon_wkt(p[1], p[2]) for p in polys])),
                os.path.join(base, "polygons"), 1,
                pa.schema([("poly_id", pa.string()), ("wkt", pa.string())])),
        }
        self._pip_ref = None
        self._knn_ref = None

    def describe(self) -> dict:
        s = self.size
        return dict(points=s["points"], hot_share=s["hot_share"],
                    polygons=s["polygons"], knn_queries=s["queries"],
                    k=s["k"], knn_checked_queries=s["knn_sample"],
                    pip_res=s["pip_res"])

    def load(self, spark) -> None:
        self.spark = spark
        self.points = spark.read.parquet(self.paths["points"])
        self.queries = spark.read.parquet(self.paths["queries"])
        self.polygons = spark.read.parquet(self.paths["polygons"])

    def prepare(self, op: str, i: int) -> None:
        if op == "pip_join":
            self.pip_reference()
        else:
            self.knn_reference()

    def pip_reference(self):
        """Brute force: bbox candidates, then kernels.points_in_polygon."""
        if self._pip_ref is None:
            from rasterkit_spark import kernels as K
            codes = []
            for j, (_, xs, ys) in enumerate(self.polys):
                m = ((self.px >= xs.min()) & (self.px <= xs.max())
                     & (self.py >= ys.min()) & (self.py <= ys.max()))
                idx = np.nonzero(m)[0]
                inside = K.points_in_polygon(self.px[idx], self.py[idx],
                                             xs, ys)
                codes.append(self.ids[idx[inside]] * 4096 + j)
            self._pip_ref = np.sort(np.concatenate(codes))
        return self._pip_ref

    def knn_reference(self):
        """numpy brute force over every point for a seeded query sample."""
        if self._knn_ref is None:
            rng = np.random.default_rng([self.seed, 15485863])
            k = self.size["k"]
            pick = rng.choice(len(self.qids), self.size["knn_sample"],
                              replace=False)
            ref = {}
            for q in pick:
                d = np.hypot(self.px - self.qx[q], self.py - self.qy[q])
                near = np.argpartition(d, k)[:k]
                near = near[np.argsort(d[near], kind="stable")]
                ref[int(self.qids[q])] = (d[near], self.ids[near])
            self._knn_ref = ref
        return self._knn_ref

    def invoke(self, op: str, i: int):
        from rasterkit_spark import api

        if op == "pip_join":
            return api.spatial_join(self.points, self.polygons,
                                    point_id="id", lon_col="lon",
                                    lat_col="lat", poly_id="poly_id",
                                    wkt_col="wkt", res=self.size["pip_res"])
        return api.knn_join(self.points, self.queries, self.size["k"],
                            point_id="id", query_id="qid", x_col="lon",
                            y_col="lat")

    def force(self, op: str, df):
        from pyspark.sql import functions as F

        if op == "pip_join":
            return df.select("point_id", "poly_id").toPandas()
        sample = list(self.knn_reference())
        # one job reads every row: total count plus the sampled queries'
        # neighbour lists
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(
                F.col("qid").isin(sample),
                F.struct("qid", "nbr_id", "rank", "dist"))).alias("s"),
        ).first()
        return row

    def units(self, op: str, rows) -> int:
        return len(self.ids) if op == "pip_join" else len(self.qids)

    def check(self, op: str, i: int, rows) -> bool:
        if op == "pip_join":
            poly_idx = {p[0]: j for j, p in enumerate(self.polys)}
            got = np.sort(rows.point_id.astype(np.int64).to_numpy() * 4096
                          + rows.poly_id.map(poly_idx).to_numpy())
            if self.corrupt == op:
                got = got[1:]
            return np.array_equal(got, self.pip_reference())
        k = self.size["k"]
        if rows["n"] != len(self.qids) * k:
            return False
        got: dict[int, list] = {}
        for r in rows["s"]:
            got.setdefault(int(r["qid"]), []).append(r)
        for qid, (dist, ids) in self.knn_reference().items():
            lst = sorted(got.get(qid, []), key=lambda r: r["rank"])
            if [r["rank"] for r in lst] != list(range(1, k + 1)):
                return False
            d = np.array([r["dist"] for r in lst])
            if not np.allclose(d, dist, rtol=1e-9, atol=1e-12):
                return False
            # ids must match wherever the distance is not tied
            for r, want_id, wd in zip(lst, ids, dist):
                if int(r["nbr_id"]) != int(want_id) and \
                        np.sum(np.isclose(dist, wd, rtol=1e-12)) == 1:
                    return False
        return True

    def useful(self, op: str, rows) -> float:
        return float(len(rows)) if op == "pip_join" else 0.0

    def kernel_inputs(self) -> dict:
        ctl = _control_kernel_inputs(self.seed)
        big = max(self.polys, key=lambda p: np.ptp(p[1]))
        return dict(ctl, points=(self.px, self.py), polygon=big[1:])


def _xy_schema(id_name: str) -> pa.Schema:
    return pa.schema([(id_name, pa.int64()), ("lon", pa.float64()),
                      ("lat", pa.float64())])


# ---------------------------------------------------------------------------
# text_dedup
# ---------------------------------------------------------------------------

MINHASH = dict(threshold=0.7, n_hashes=32, bands=8, shingle_n=3,
               use_words=True)
SPAN_MIN_LEN = 40


class TextDedup(Workload):
    name = "text_dedup"
    ops = ("minhash", "dup_clusters")
    unit = "documents"

    def generate(self) -> None:
        s = self.size
        rng = np.random.default_rng([self.seed, 32452843])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = sorted({"".join(rng.choice(letters, int(rng.integers(2, 9))))
                        for _ in range(s["vocab"])})
        p = 1.0 / np.arange(1, len(vocab) + 1)
        p /= p.sum()
        vocab = np.array(vocab)

        def doc():
            return list(vocab[rng.choice(len(vocab),
                                         int(rng.integers(*s["words"])),
                                         p=p)])

        texts = [doc() for _ in range(s["base_docs"])]
        # planted near-duplicate clusters of mixed sizes: each member is its
        # seed document with up to three words replaced, inserted or
        # dropped.  Sizes and edit counts follow a fixed schedule, so every
        # seed plants the same cluster structure.
        sizes = (2, 2, 2, 3, 3, 4, 5, 8)
        seeds = rng.choice(s["base_docs"], s["clusters"], replace=False)
        members = []
        for c, seed_idx in enumerate(seeds):
            seed_doc = texts[int(seed_idx)]
            members.append([int(seed_idx)])
            for m in range(sizes[c % len(sizes)] - 1):
                words = list(seed_doc)
                for _ in range((c + m) % 4):
                    pos = int(rng.integers(len(words)))
                    kind = int(rng.integers(3))
                    if kind == 0:
                        words[pos] = str(vocab[int(rng.integers(len(vocab)))])
                    elif kind == 1:
                        words.insert(pos, str(vocab[int(rng.integers(
                            len(vocab)))]))
                    elif len(words) > 10:
                        del words[pos]
                members[-1].append(len(texts))
                texts.append(words)
        order = rng.permutation(len(texts))
        self.texts = {int(k): " ".join(texts[j]) for k, j in enumerate(order)}
        doc_of = np.argsort(order)   # text index -> doc id
        self.graph_pairs = _planted_graph(
            [sorted(int(doc_of[j]) for j in m) for m in members])
        self.doc_ids = np.array(sorted(self.texts), dtype=np.int64)
        self.span_ids = set(self.doc_ids[:s["span_docs"]].tolist())
        table = pd.DataFrame(dict(doc_id=self.doc_ids,
                                  text=[self.texts[int(i)]
                                        for i in self.doc_ids]))
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        base = os.path.join(self.work, "inputs")
        self.paths = {
            "docs": _write_parquet(table, os.path.join(base, "docs"),
                                   2 * self.cores, schema),
            "span_docs": _write_parquet(
                table[table.doc_id.isin(self.span_ids)],
                os.path.join(base, "span_docs"), 2 * self.cores, schema),
        }
        self._shingles: dict[int, set] = {}
        self.first_pairs: dict[str, frozenset] = {}

    def describe(self) -> dict:
        return dict(documents=len(self.doc_ids),
                    planted_clusters=self.size["clusters"],
                    span_documents=len(self.span_ids), **MINHASH,
                    span_min_len=SPAN_MIN_LEN)

    def load(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.paths["docs"]).cache()
        self.span_docs = spark.read.parquet(self.paths["span_docs"]).cache()
        self.graph = self.spark.createDataFrame(
            self.graph_pairs, "id_a long, id_b long").cache()
        self.docs.count()
        self.span_docs.count()
        self.graph.count()
        self._clusters = None

    def prepare(self, op: str, i: int) -> None:
        if op == "dup_clusters":
            self.cluster_reference()

    def cluster_reference(self) -> dict:
        """Driver-side union-find over the set-up pair graph."""
        if self._clusters is None:
            parent = {int(d): int(d) for d in self.doc_ids}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in self.graph_pairs:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            roots = {d: find(d) for d in parent}
            sizes = pd.Series(list(roots.values())).value_counts().to_dict()
            self._clusters = {d: (r, sizes[r]) for d, r in roots.items()}
        return self._clusters

    def invoke(self, op: str, i: int):
        from rasterkit_spark.operators import dedup as DD

        if op == "minhash":
            return DD.minhash_lsh_pairs(self.docs, **MINHASH)
        if op == "dup_clusters":
            return DD.dup_clusters(self.docs, self.graph)
        return DD.shared_span_pairs(self.span_docs, min_len=SPAN_MIN_LEN)

    def force(self, op: str, df):
        if op == "minhash":
            return df.select("id_a", "id_b", "jaccard_e6").collect()
        if op == "dup_clusters":
            return df.select("doc_id", "cluster_id", "cluster_size").collect()
        return df.select("id_a", "id_b", "max_span_len").collect()

    def units(self, op: str, rows) -> int:
        return len(self.span_ids) if op == "shared_spans" \
            else len(self.doc_ids)

    def useful(self, op: str, rows) -> float:
        return float(len(rows)) if op == "minhash" else 0.0

    def _sh(self, d: int) -> set:
        if d not in self._shingles:
            w = self.texts[d].strip().split(" ")
            n = MINHASH["shingle_n"]
            self._shingles[d] = {" ".join(w[j:j + n])
                                 for j in range(max(len(w) - n + 1, 1))}
        return self._shingles[d]

    def check(self, op: str, i: int, rows) -> bool:
        if op == "dup_clusters":
            want = self.cluster_reference()
            got = {int(r["doc_id"]): (int(r["cluster_id"]),
                                      int(r["cluster_size"])) for r in rows}
            return len(rows) == len(got) and got == want
        pairs = frozenset((int(r["id_a"]), int(r["id_b"])) for r in rows)
        if self.corrupt == op and pairs:
            pairs = pairs - {min(pairs)}
        if len(pairs) != len(rows):
            return False
        if op == "minhash":
            thr = int(MINHASH["threshold"] * 1e6)
            for r in rows:
                a, b = self._sh(int(r["id_a"])), self._sh(int(r["id_b"]))
                inter = len(a & b)
                j = (inter * 1_000_000) // (len(a) + len(b) - inter)
                if not (r["id_a"] < r["id_b"] and j == r["jaccard_e6"]
                        and j >= thr):
                    return False
        else:
            for r in rows:
                a, b = self.texts[int(r["id_a"])], self.texts[int(r["id_b"])]
                m = int(r["max_span_len"])
                if not (r["id_a"] < r["id_b"] and m >= SPAN_MIN_LEN
                        and _share_substring(a, b, m)
                        and not _share_substring(a, b, m + 1)):
                    return False
        first = self.first_pairs.setdefault(op, pairs)
        return pairs == first


def _planted_graph(clusters: list[list[int]]) -> list[tuple[int, int]]:
    """The pair graph dup_clusters resolves: every planted cluster wired as
    a path over its members in a fixed order of their id ranks, one order
    per cluster size.  The connected-components rounds compare ids only, so
    every seed needs the same number of rounds; on the minhash pairs of the
    generated texts that number depends on where the seeded doc ids fall
    in each cluster (2 or 3 rounds for eight members in a path)."""
    pairs = []
    for ids in clusters:
        path = [ids[r] for r in np.random.default_rng(len(ids)).permutation(
            len(ids))]
        pairs += [(min(a, b), max(a, b)) for a, b in zip(path, path[1:])]
    return sorted(pairs)


class TextSpans(TextDedup):
    """The text_dedup inputs with exact shared-substring spans."""
    name = "text_spans"
    ops = ("shared_spans",)


def _share_substring(a: str, b: str, n: int) -> bool:
    if n > min(len(a), len(b)):
        return False
    grams = {a[j:j + n] for j in range(len(a) - n + 1)}
    return any(b[j:j + n] in grams for j in range(len(b) - n + 1))


WORKLOADS = {w.name: w for w in (RasterCold, RasterHot, VectorJoin,
                                 TextDedup, TextSpans)}
