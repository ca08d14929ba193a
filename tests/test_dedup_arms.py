"""Forced-arm parity and job budgets for the size-driven dedup switches:
connected components (star rounds vs the driver finish), shared spans
(broadcast vs sort-merge gram join), plus exact verification's handling of
zero-overlap candidates."""

import contextlib
import itertools

import numpy as np
import pandas as pd
import pytest

from rasterkit_spark.operators import dedup as DD

# CC_DRIVER_EDGE_CAP per arm: never finish on the driver, finish at entry,
# and a cap the 12-clique's 66 entry edges exceed while round 1's 11-edge
# star does not (entry → one star round → driver finish)
CC_ARMS = {"rounds": -1, "driver": 10 ** 9, "rounds_then_driver": 11}


def _random_graphs():
    rng = np.random.default_rng(17)
    out = {}
    for trial in range(4):
        n = int(rng.integers(5, 60))
        m = int(rng.integers(1, 3 * n))
        edges = [(int(rng.integers(0, n)), int(rng.integers(0, n)))
                 for _ in range(m)]
        out[f"random{trial}"] = ("long", edges)
    return out


PATH8 = [15, 12, 17, 11, 18, 13, 16, 14]
GRAPHS = {
    "lone_edge": ("long", [(6, 7)]),
    "hub": ("long", [(100, 100 + i) for i in range(1, 9)]
                    + [(250, 240 + i) for i in range(10)]),
    "clique12": ("long", list(itertools.combinations(range(20, 32), 2))),
    "path8": ("long", list(zip(PATH8, PATH8[1:]))),
    "string_ids": ("string", [("doc-b", "doc-a"), ("doc-b", "doc-c"),
                              ("Zeta", "doc-c"), ("é-1", "e-2"),
                              ("e-2", "￯")]),
    "binary_ids": ("binary", [(b"\x02", b"\xff"), (b"\xff", b"\x01\x00"),
                              (b"\x80", b"\x7f")]),
    "null_and_self_loop": ("long", [(None, 5), (5, None), (None, None),
                                    (5, 5), (6, 7), (7, 7), (9, 6)]),
    **_random_graphs(),
}

EXTRA_DOC = {"long": 10 ** 6, "string": "zz-single", "binary": b"\xfe\xfe"}


def _components(edges):
    """Union-find reference: node → min id of its component (NULL ends
    and self-loops carry no edge)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _docs(kind, comp):
    """The graph's nodes minus the global min (a component min absent from
    docs), with the max id twice (a duplicate doc id) and one singleton."""
    nodes = sorted(comp)
    return nodes[1:] + nodes[-1:] + [EXTRA_DOC[kind]]


def _clusters(doc_ids, comp):
    cid = [comp.get(d, d) for d in doc_ids]
    size = {c: cid.count(c) for c in cid}
    return sorted((d, c, size[c]) for d, c in zip(doc_ids, cid))


def _native(row):
    return tuple(bytes(x) if isinstance(x, bytearray) else x for x in row)


def _rows(df):
    return sorted(_native(r) for r in df.collect())


@contextlib.contextmanager
def _arm(monkeypatch, cap):
    """Pin CC_DRIVER_EDGE_CAP and record how many star rounds and driver
    finishes ran."""
    seen = {"rounds": 0, "driver": 0}
    small_star, driver = DD._small_star, DD._driver_components

    def counted_small_star(e):
        seen["rounds"] += 1
        return small_star(e)

    def counted_driver(e):
        seen["driver"] += 1
        return driver(e)

    with monkeypatch.context() as m:
        m.setattr(DD, "CC_DRIVER_EDGE_CAP", cap)
        m.setattr(DD, "_small_star", counted_small_star)
        m.setattr(DD, "_driver_components", counted_driver)
        yield seen


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_cc_arms_match_union_find(spark, monkeypatch, graph):
    kind, edges = GRAPHS[graph]
    comp = _components(edges)
    pairs = spark.createDataFrame(edges, f"id_a {kind}, id_b {kind}")
    doc_ids = _docs(kind, comp)
    docs = spark.createDataFrame([(d,) for d in doc_ids], f"doc_id {kind}")
    want_cc = sorted(comp.items())
    want_dc = _clusters(doc_ids, comp)
    for arm, cap in CC_ARMS.items():
        with _arm(monkeypatch, cap) as seen:
            got_cc = _rows(DD.connected_components(pairs))
            got_dc = _rows(DD.dup_clusters(docs, pairs))
        assert got_cc == want_cc, f"{graph}/{arm}: {got_cc} != {want_cc}"
        assert got_dc == want_dc, f"{graph}/{arm}: {got_dc} != {want_dc}"
        if arm == "rounds":
            assert seen["driver"] == 0 and seen["rounds"] >= 2
        elif arm == "driver":
            assert seen == {"rounds": 0, "driver": 2}
        elif graph == "clique12":
            assert seen == {"rounds": 2, "driver": 2}


def test_cc_float_ids_take_the_star_rounds(spark, monkeypatch):
    """Python's float order is not Spark's (NaN, -0.0), so double ids never
    finish on the driver, whatever the cap."""
    pairs = spark.createDataFrame([(2.5, 0.5), (0.5, 1.5), (7.0, 8.0)],
                                  "id_a double, id_b double")
    with _arm(monkeypatch, 10 ** 9) as seen:
        got = _rows(DD.connected_components(pairs))
    assert seen["driver"] == 0 and seen["rounds"] >= 1
    assert got == [(0.5, 0.5), (1.5, 0.5), (2.5, 0.5), (7.0, 7.0),
                   (8.0, 7.0)]


def _jobs(spark, group, fn):
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


# call jobs of the star-round loop on the budget test's graph as measured
# before the edge count was observed and the driver finish existed: the
# forced rounds arm must run exactly as many (the observe adds no job)
ROUNDS_ARM_CALL_JOBS = 20


def test_dup_clusters_job_budget(spark, monkeypatch):
    """Jobs per dup_clusters call, split into the call itself (eager
    checkpoints, counts, collects) and the forcing collect."""
    edges = GRAPHS["hub"][1] + GRAPHS["clique12"][1] + GRAPHS["path8"][1]
    comp = _components(edges)
    doc_ids = _docs("long", comp)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").cache()
    docs = spark.createDataFrame([(d,) for d in doc_ids],
                                 "doc_id long").cache()
    pairs.count()
    docs.count()
    want = _clusters(doc_ids, comp)
    jobs = {}
    for arm in ("driver", "rounds"):
        with _arm(monkeypatch, CC_ARMS[arm]):
            df, jobs[arm, "call"] = _jobs(
                spark, f"cc-budget-{arm}-call",
                lambda: DD.dup_clusters(docs, pairs))
            rows, jobs[arm, "collect"] = _jobs(
                spark, f"cc-budget-{arm}-collect", lambda: _rows(df))
        assert rows == want, arm
    pairs.unpersist()
    docs.unpersist()
    assert jobs["driver", "call"] <= 3, jobs
    assert jobs["rounds", "call"] == ROUNDS_ARM_CALL_JOBS, jobs


SPAN = "the quick brown fox jumps over the lazy dog near a river"


def test_shared_spans_sort_merge_arm_matches_broadcast(spark, monkeypatch):
    """SPANS_BROADCAST_ANCHOR_CAP = 0 forces the sort-merge gram join;
    its rows must equal the default broadcast arm's."""
    docs = spark.createDataFrame(pd.DataFrame([
        {"doc_id": 1, "text": "A" * 40 + SPAN + "B" * 40},
        {"doc_id": 2, "text": "C" * 28 + SPAN + "D" * 48},
        {"doc_id": 3, "text": "unrelated content without any overlap " * 4},
        {"doc_id": 4, "text": SPAN + " " + SPAN[::-1]},
        {"doc_id": 5, "text": "b" * 50},
        {"doc_id": 6, "text": "b" * 70},
        {"doc_id": 7, "text": "short"},
    ]))

    def run():
        df = DD.shared_span_pairs(docs, min_len=40)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return _rows(df), plan

    broadcast_rows, broadcast_plan = run()
    with monkeypatch.context() as m:
        m.setattr(DD, "SPANS_BROADCAST_ANCHOR_CAP", 0)
        merge_rows, merge_plan = run()
    assert "BroadcastHashJoin" in broadcast_plan
    assert "SortMergeJoin" in merge_plan
    assert "BroadcastHashJoin" not in merge_plan
    assert merge_rows == broadcast_rows
    assert [r[:2] for r in broadcast_rows] == [(1, 2), (1, 4), (2, 4),
                                               (5, 6)]


def test_verify_candidates_drops_zero_overlap_pairs(spark):
    """A candidate pair sharing no shingle is no near-dup even at
    threshold 0; an overlapping pair stays."""
    docs = spark.createDataFrame(pd.DataFrame([
        {"doc_id": 1, "text": "alpha beta gamma delta epsilon"},
        {"doc_id": 2, "text": "one two three four five"},
        {"doc_id": 3, "text": "alpha beta gamma zeta eta"},
    ]))
    cand = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    got = DD._verify_candidates(cand, docs, 0.0, shingle_n=3,
                                use_words=True, text_col="text",
                                id_col="doc_id").collect()
    # docs 1 and 3 share one of 5 distinct word 3-grams
    assert [tuple(r) for r in got] == [(1, 3, 200_000)]
