"""Job and plan budgets of the vector and span operators: knn_join,
pip_join and shared_span_pairs.  Each call is counted under a job group
(jobs the call itself runs, then jobs its collect runs), and the plan
of the returned DataFrame is censused for shuffle Exchanges,
BroadcastExchanges, MapInPandas nodes and Python-UDF nodes."""

import re

import numpy as np
import pandas as pd
import pytest
from budget import (PY_UDF_NODES, arrow_udf_names, census, count_jobs,
                    executed_plan)

from rasterkit_spark.fixtures import corpus as CP
from rasterkit_spark.operators import dedup as DD
from rasterkit_spark.operators import spatial as SP


def _knn_inputs():
    """test_spatial's 3,000 points, its 40 exactness queries (k=5) and
    its 6 corner-heavy queries (k=3), drawn in that order."""
    rng = np.random.default_rng(123)
    n = 3000
    hot = rng.normal([10.0, 20.0], 0.05, size=(n // 2, 2))
    uni = np.c_[rng.uniform(-170, 170, n // 2), rng.uniform(-80, 80, n // 2)]
    pts = np.vstack([hot, uni])
    points = pd.DataFrame({"id": [f"p{i:05d}" for i in range(n)],
                           "lon": pts[:, 0], "lat": pts[:, 1]})
    q40 = pd.DataFrame({
        "qid": [f"q{i}" for i in range(40)],
        "lon": np.r_[rng.uniform(-170, 170, 30), rng.normal(10.0, 0.1, 10)],
        "lat": np.r_[rng.uniform(-80, 80, 30), rng.normal(20.0, 0.1, 10)]})
    corner = pd.DataFrame({
        "qid": [f"q{i}" for i in range(6)],
        "lon": np.r_[rng.uniform(-170, 170, 3), [179.9, -179.9, 10.0]],
        "lat": np.r_[rng.uniform(-80, 80, 3), [-89.9, 89.9, 20.0]]})
    return points, {"q40": (q40, 5), "corner": (corner, 3)}


def _budget(spark, name, call):
    """((call jobs, collect jobs), (Exchange, BroadcastExchange,
    MapInPandas), Python-UDF nodes, rows, the UDFs of the plan's
    ArrowEvalPython nodes)."""
    df, call_jobs = count_jobs(spark, f"{name}-call", call)
    plan = executed_plan(df)
    rows, collect_jobs = count_jobs(spark, f"{name}-collect", df.collect)
    return ((call_jobs, collect_jobs), census(plan),
            len(PY_UDF_NODES.findall(plan)), rows, arrow_udf_names(plan))


# (call jobs, collect jobs), plan census, Python-UDF nodes.  The parent
# of the two-round knn_join ran (20, 1) on q40 and (30, 1) on the corner
# queries: a cached round per ring, counts per round, a final checkpoint
KNN_BUDGETS = {
    "q40": ((6, 6), (4, 2, 0), 0),
    "corner": ((6, 5), (1, 4, 0), 0),
}


@pytest.mark.parametrize("fixture", sorted(KNN_BUDGETS))
def test_knn_join_plan_and_job_budget(spark, fixture):
    points, queries = _knn_inputs()
    q, k = queries[fixture]
    pdf, qdf = spark.createDataFrame(points), spark.createDataFrame(q)
    jobs, plan_census, udf_nodes, rows, _ = _budget(
        spark, f"knn-{fixture}", lambda: SP.knn_join(
            pdf, qdf, k, point_id="id", query_id="qid", x_col="lon",
            y_col="lat", res=6))
    assert len(rows) == k * len(q)
    assert (jobs, plan_census, udf_nodes) == KNN_BUDGETS[fixture], \
        f"knn_join {fixture}: {jobs}, {plan_census}, {udf_nodes}"


# measured on the fixture below: the call is lazy; the collect runs the
# polygon-side broadcast, the dedup's shuffle and, once pairs survive the
# refinement, the result stage after that shuffle (world-uniform points
# joined none, and AQE skipped it: 2 collect jobs).  Python-UDF nodes: the refinement MapInPandas and
# the WKT-parse Arrow UDF, evaluated once (evaluated twice it was 3 nodes)
PIP_BUDGET = ((0, 3), (1, 1, 1), 2)


def test_pip_join_plan_and_job_budget(spark):
    """2,000 points drawn inside the 8 corpus zones' bboxes, so the
    refinement emits rows (world-uniform points joined none)."""
    c = CP.build_corpus(n_media=6, n_docs=20, n_queries=6)
    rng = np.random.default_rng(5)
    pts = []
    for wkt in c.zones.polygon_wkt:
        xy = np.array(re.findall(r"-?[\d.]+", wkt), float).reshape(-1, 2)
        pts.append(rng.uniform(xy.min(0), xy.max(0), size=(250, 2)))
    pts = np.vstack(pts)
    points = spark.createDataFrame(pd.DataFrame({
        "id": [f"p{i}" for i in range(len(pts))],
        "lon": pts[:, 0], "lat": pts[:, 1]}))
    zones = spark.createDataFrame(c.zones)
    jobs, plan_census, udf_nodes, rows, arrow_udfs = _budget(
        spark, "pip", lambda: SP.pip_join(
            points, zones, "id", "lon", "lat", "zone_id", "polygon_wkt",
            res=8))
    assert rows, "no point joined a zone"
    assert arrow_udfs == ["wkt_coords_udf"], arrow_udfs
    assert (jobs, plan_census, udf_nodes) == PIP_BUDGET, \
        f"pip_join: {jobs}, {plan_census}, {udf_nodes}"


# measured on the fixture below (the same as before the byte-sized
# broadcast): the call is the anchor checkpoint, which also observes the
# anchors' bytes; the collect runs the gram side's broadcast, the
# shuffles of the run window and the groupBys, and the result stage
SPANS_BUDGET = ((1, 4), (2, 1, 0), 0)


def test_shared_spans_plan_and_job_budget(spark):
    span = "the quick brown fox jumps over the lazy dog near a river"
    docs = spark.createDataFrame(pd.DataFrame([
        {"doc_id": 1, "text": "A" * 40 + span + "B" * 40},
        {"doc_id": 2, "text": "C" * 28 + span + "D" * 48},
        {"doc_id": 3, "text": "unrelated content without any overlap " * 4},
        {"doc_id": 4, "text": span + " " + span[::-1]},
    ]))
    jobs, plan_census, udf_nodes, rows, _ = _budget(
        spark, "spans", lambda: DD.shared_span_pairs(docs, min_len=40))
    assert len(rows) == 3
    assert (jobs, plan_census, udf_nodes) == SPANS_BUDGET, \
        f"shared_spans: {jobs}, {plan_census}, {udf_nodes}"
