"""Physical-plan regression tests: the plan properties the 100-TB design
depends on, asserted so a refactor can't silently lose them.

- broadcast joins stay broadcast (no surprise shuffle of the big side)
- no CartesianProduct anywhere in the hot paths (the zonal fallback is
  the one documented broadcast nested loop, bounded by unplaceable-CRS
  rasters)
- parquet scans receive pushed filters + pruned column lists
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasterkit_spark.fixtures import corpus as CP


@pytest.fixture(scope="module")
def corpus():
    return CP.build_corpus(n_media=6, n_docs=20, n_queries=6)


@pytest.fixture(scope="module")
def sdfs(spark, corpus):
    return corpus.to_spark(spark)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_plan_broadcasts_keys_no_cartesian(spark, sdfs):
    from rasterkit_spark.operators import extract as EX
    df = EX.extract(sdfs["queries_bbox"], sdfs["media_catalog"],
                    sdfs["tiles"])
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan      # catalog + key joins broadcast
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zonal_plan_no_cartesian_on_placeable_rasters(spark, sdfs):
    from rasterkit_spark.operators import spatial as SP
    df = SP.zonal_stats(sdfs["zones"], sdfs["media_catalog"], sdfs["tiles"])
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    # every raster reaching the footprint join is placeable, so no zone is
    # crossed with a raster: no nested-loop join of either flavor
    assert "NestedLoopJoin" not in plan


def test_pip_join_plan_broadcasts_polygons(spark):
    from rasterkit_spark.operators import spatial as SP
    pts = spark.createDataFrame(pd.DataFrame({
        "id": list(range(100)),
        "lon": list(np.linspace(-10, 10, 100)),
        "lat": list(np.linspace(-5, 5, 100))}))
    polys = spark.createDataFrame(pd.DataFrame({
        "zone_id": ["z0"],
        "polygon_wkt": ["POLYGON((-1 -1, 1 -1, 1 1, -1 1, -1 -1))"]}))
    df = SP.pip_join(pts, polys, "id", "lon", "lat", "zone_id",
                     "polygon_wkt", res=7)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_parquet_scan_pushdown_and_pruning(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters: [" in plan and "l_quantity" in \
        plan.split("PushedFilters:")[1][:200]          # filter reaches scan
    rs = plan.split("ReadSchema:")[1][:200]
    assert "l_orderkey" in rs and "l_comment" not in rs  # columns pruned


def test_ivf_plan_no_pairwise_candidate_join(spark):
    """The IVF scorer must stay the cogroup shape (FlatMapCoGroups...) —
    no per-candidate equi-join that would ship one array pair per
    candidate."""
    from rasterkit_spark.operators import similarity as SIM
    rng = np.random.default_rng(1)
    pdf = pd.DataFrame({
        "vec_id": list(range(300)),
        "embedding": [rng.normal(size=16).tolist() for _ in range(300)]})
    e = spark.createDataFrame(pdf)
    q = e.limit(5).selectExpr("vec_id as qid", "embedding")
    df = SIM.ivf_topk(e, q, 3, n_lists=4, nprobe=2)
    plan = plan_of(df)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_corpus_pipeline_plan_shuffle_census(spark):
    """The pipeline module docstring promises a fixed shuffle census:
    no CartesianProduct, no corpus self-join on text, and a bounded
    number of exchanges (quality/mix/split are projection+filter;
    dedup one agg + one semi-join; decontamination one gram join + one
    agg + one filter-join; packing one per-shard window)."""
    from rasterkit_spark.operators.pipeline import corpus_pipeline

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(60),
        "source": [f"s{i % 2}" for i in range(60)],
        "text": [f"w{i} w{i+1} w{i+2} common tail words" for i in
                 range(60)]}))
    out = corpus_pipeline(docs.filter("doc_id % 7 != 0"),
                          docs.filter("doc_id % 7 = 0"),
                          min_quality=0, max_contamination_e6=1_000_000,
                          seq_len=32)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every join must be an equi-join (hash or sort-merge or broadcast)
    n_exchange = plan.count("Exchange hashpartitioning") \
        + plan.count("Exchange rangepartitioning")
    # agg(md5) + semi-join + gram join + per-doc agg + overlap join +
    # window partition — with AQE reuse this stays a small constant;
    # the bound catches an accidental extra corpus-wide shuffle
    assert n_exchange <= 12, plan[:4000]


def test_over_ceiling_fallback_never_broadcasts_blobs(spark, sdfs,
                                                      monkeypatch):
    """VERDICT r5 #3: above MAX_PY_TILE_BROADCAST the broadcast_tiles
    paths must fall back to the SHUFFLE plan, never a JVM broadcast of
    the blob table (a >512 MB broadcast is a driver/executor hazard and
    Spark hard-caps broadcast relations at 8 GB).  Assert no
    BroadcastExchange in either plan carries the blob column — the only
    broadcasts left are blob-free key/catalog sides."""
    import io
    import re
    import sys

    from rasterkit_spark.operators import extract as EX
    from rasterkit_spark.operators import spatial as SP

    def formatted(df) -> str:
        buf, old = io.StringIO(), sys.stdout
        sys.stdout = buf
        try:
            df.explain("formatted")
        finally:
            sys.stdout = old
        return buf.getvalue()

    monkeypatch.setattr(EX, "MAX_PY_TILE_BROADCAST", 0)
    plans = {
        "extract": formatted(EX.extract(
            sdfs["queries_bbox"], sdfs["media_catalog"], sdfs["tiles"],
            broadcast_tiles=True)),
        "zonal": formatted(SP.zonal_stats(
            sdfs["zones"], sdfs["media_catalog"], sdfs["tiles"],
            broadcast_tiles=True)),
    }
    pat = re.compile(r"\(\d+\) BroadcastExchange\s*\nInput(?: \[\d+\])?"
                     r":\s*\[([^\]]*)\]")
    for name, txt in plans.items():
        hits = pat.findall(txt)
        assert hits, f"{name}: expected blob-free broadcasts in the plan"
        for cols in hits:
            assert "blob" not in cols, \
                f"{name}: blob column inside a BroadcastExchange: {cols}"
