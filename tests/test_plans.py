"""Physical-plan regression tests: pushdown, pruning, and join strategy
must stay the plans we designed (SURVEY.md §4), not whatever drifts in."""

import re
import tempfile

import pytest

from rasterkit_spark.fixtures import corpus as CP
from rasterkit_spark.operators import extract as EX
from rasterkit_spark.operators import raster_ops as RO


@pytest.fixture(scope="module")
def parquet_tables(spark):
    c = CP.build_corpus(n_media=8, n_docs=20, n_queries=10)
    d = tempfile.mkdtemp()
    sdfs = c.to_spark(spark, ["queries_bbox", "media_catalog", "tiles"])
    out = {}
    for k, df in sdfs.items():
        df.write.mode("overwrite").parquet(f"{d}/{k}")
        out[k] = spark.read.parquet(f"{d}/{k}")
    return out


def _formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_extract_plan_pushdown_and_broadcast(spark, parquet_tables):
    t = parquet_tables
    out = EX.extract(t["queries_bbox"], t["media_catalog"], t["tiles"])
    plan = _formatted_plan(spark, out)
    # catalog filter reaches the parquet scan
    assert "EqualTo(media_kind,raster)" in plan
    # level predicate reaches the tile scan (partition-pruning analog)
    assert "EqualTo(level,0)" in plan
    # tile scan is column-pruned to exactly what decode needs (no blob-less
    # metadata columns dragged along)
    m = re.search(r"ReadSchema: struct<media_ref:string,level:(big)?int,"
                  r"tile_x:(big)?int,tile_y:(big)?int,blob:binary>", plan)
    assert m, "tile scan no longer column-pruned"
    # small sides broadcast; no sort-merge join in the small-query regime
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_region_math_stays_jvm_side(spark, parquet_tables):
    t = parquet_tables
    regions = EX.resolve_regions(t["queries_bbox"], t["media_catalog"])
    plan = _formatted_plan(spark, regions)
    # no Python evaluation in region resolution — pure column expressions
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def _max_expression_nodes(df) -> int:
    """Largest expression tree in the analyzed plan, in nodes (one
    ``treeString()`` line per node)."""
    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    best, todo = 0, [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        for e in seq(node.expressions()):
            best = max(best, len(e.treeString().splitlines()))
        todo.extend(seq(node.children()))
    return best


@pytest.mark.parametrize("with_radius", [True, False])
def test_region_expressions_stay_small(spark, parquet_tables, with_radius):
    """The region dispatch is staged through narrow projections; written as
    one expression per field it analyzed to trees of 766 nodes, and the
    driver paid for building and analyzing them on every call."""
    q = parquet_tables["queries_bbox"]
    if not with_radius:
        q = q.drop("radius_m")
    regions = EX.resolve_regions(q, parquet_tables["media_catalog"])
    assert _max_expression_nodes(regions) <= 64


def _assert_one_streaming_pass(spark, df, keys):
    """Exactly one Python stage — a MapInPandas over one exchange that
    pins one partition per core by ``keys`` (REPARTITION_BY_NUM, which AQE
    never coalesces) — and no grouped-map stage."""
    plan = _formatted_plan(spark, df)
    # formatted mode prints each operator twice: tree + detail → count
    # distinct ids
    assert len(set(re.findall(r"\bMapInPandas \((\d+)\)", plan))) == 1
    assert "FlatMapGroupsInPandas" not in plan
    exchanges = re.findall(r"Arguments: hashpartitioning\(([^)]*)\), (\w+)",
                           plan)
    assert len(exchanges) == 1, exchanges
    args, mode = exchanges[0]
    *cols, n = (a.split("#")[0] for a in args.split(", "))
    assert (cols, int(n), mode) == (
        keys, spark.sparkContext.defaultParallelism, "REPARTITION_BY_NUM")


def test_decode_is_single_grouped_pandas_stage(spark, parquet_tables):
    t = parquet_tables
    out = EX.extract(t["queries_bbox"], t["media_catalog"], t["tiles"])
    _assert_one_streaming_pass(spark, out, ["query_id", "media_ref"])


def test_pyramid_is_single_streaming_pass(spark, parquet_tables):
    t = parquet_tables
    out = RO.build_pyramid(t["tiles"], t["media_catalog"], 0)
    _assert_one_streaming_pass(spark, out, ["media_ref", "ptx", "pty"])
