"""Job and plan budgets of the two raster_cold operators, extract and
build_pyramid, and of extract's other entry points (an explicit overview
level, per-query auto level, explicit pixel regions): jobs per call and
per collect (counted under a job group), and the plan's shuffle Exchange,
BroadcastExchange and MapInPandas nodes.  The inputs mirror the perfbench
workload's shapes on a small fixture: cached catalog and tile tables,
query frames built on the driver, and a pyramid over the level-0 tiles of
a few rasters."""

import pytest
from pyspark.sql import functions as F
from budget import census, count_jobs

from rasterkit_spark import api
from rasterkit_spark.fixtures import corpus as CP
from rasterkit_spark.operators import extract as EX

# measured on this fixture before the worker archive pin (which must not
# move them): (call jobs, collect jobs) and (shuffle Exchanges,
# BroadcastExchanges, MapInPandas nodes) of the executed plan.  A
# three-level pyramid materializes levels 1 and 2 in the call (3 jobs
# each) and leaves one level's reduce in the plan; when every level's plan
# held the levels under it, it ran (0, 15) jobs over 7 box-reduce nodes.
# When auto-level joined its windows back to its regions (the windows had
# no level column), it ran (0, 11) jobs over a (5, 5, 1) census
BUDGETS = {
    "extract": {"jobs": (0, 4), "census": (1, 2, 1)},
    "extract_level1": {"jobs": (0, 4), "census": (1, 2, 1)},
    "extract_auto_level": {"jobs": (0, 6), "census": (2, 3, 1)},
    "extract_pixel_region": {"jobs": (3, 4), "census": (1, 2, 1)},
    "pyramid": {"jobs": (0, 3), "census": (1, 1, 1)},
    "pyramid3": {"jobs": (6, 3), "census": (1, 1, 1)},
}


@pytest.fixture(scope="module")
def raster_inputs(spark):
    c = CP.build_corpus(n_media=6, n_docs=20, n_queries=8)
    sd = c.to_spark(spark, ["queries_bbox", "media_catalog", "tiles"])
    for name in ("media_catalog", "tiles"):
        sd[name] = sd[name].cache()
        sd[name].count()
    refs = sorted(c.media_catalog[c.media_catalog.media_kind == "raster"]
                  .media_ref)[:3]
    sd["pyramid_tiles"] = sd["tiles"].filter(F.col("media_ref").isin(refs))
    sd["target_queries"] = sd["queries_bbox"].withColumn(
        "target_res", F.lit(5.0))
    sd["pixel_queries"] = spark.createDataFrame(
        [(f"p{i}", ref, 1, 2, 5, 4) for i, ref in enumerate(refs)],
        "query_id string, media_ref string, region_x long, region_y long,"
        " region_w long, region_h long")
    yield sd
    for name in ("media_catalog", "tiles"):
        sd[name].unpersist()


CALLS = {
    "extract": lambda sd: api.extract(sd["queries_bbox"], sd["media_catalog"],
                                      sd["tiles"]),
    "extract_level1": lambda sd: api.extract(
        sd["queries_bbox"], sd["media_catalog"], sd["tiles"], level=1),
    "extract_auto_level": lambda sd: EX.extract_auto_level(
        sd["target_queries"], sd["media_catalog"], sd["tiles"], max_level=2),
    "extract_pixel_region": lambda sd: EX.extract_pixel_region(
        sd["pixel_queries"], sd["media_catalog"], sd["tiles"]),
    "pyramid": lambda sd: api.build_pyramid(sd["pyramid_tiles"],
                                            sd["media_catalog"], levels=1),
    "pyramid3": lambda sd: api.build_pyramid(sd["pyramid_tiles"],
                                             sd["media_catalog"], levels=3),
}


@pytest.mark.parametrize("op", sorted(CALLS))
def test_raster_op_plan_and_job_budget(spark, raster_inputs, op):
    df, call_jobs = count_jobs(spark, f"{op}-budget-call",
                          lambda: CALLS[op](raster_inputs))
    plan = df._jdf.queryExecution().executedPlan().toString()
    rows, collect_jobs = count_jobs(spark, f"{op}-budget-collect", df.collect)
    assert rows, op
    budget = BUDGETS[op]
    assert (call_jobs, collect_jobs) == budget["jobs"], \
        f"{op}: (call, collect) jobs {(call_jobs, collect_jobs)}"
    assert census(plan) == budget["census"], \
        f"{op}: (Exchange, BroadcastExchange, MapInPandas) " \
        f"{census(plan)}\n{plan}"
