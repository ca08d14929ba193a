"""Counters shared by the job and plan budget tests: the Spark jobs a
call runs, counted under a job group, and the plan nodes that cost a
shuffle, a broadcast or a Python boundary."""

import re

#: Python-UDF evaluation nodes of a physical plan
PY_UDF_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas)\b")


def count_jobs(spark, group, fn):
    """(fn's result, number of Spark jobs it ran), counted under a job
    group once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def census(plan: str):
    """(shuffle Exchanges, BroadcastExchanges, MapInPandas nodes)."""
    return (len(re.findall(r"(?<!Broadcast)Exchange ", plan)),
            plan.count("BroadcastExchange"), plan.count("MapInPandas"))


def arrow_udf_names(plan: str) -> list[str]:
    """Names of the Python UDFs the plan's ArrowEvalPython nodes evaluate,
    one entry per node and UDF, so a UDF listed twice runs twice."""
    return [name for node in re.findall(r"ArrowEvalPython \[(.*)\], \[", plan)
            for name in re.findall(r"(\w+)\([^\[\]]*?\)#\d+", node)]


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()
