"""knn_join's arms, each forced and checked against a numpy (dist, id)
brute force: round 1 alone, a round-2 ring sized by the query's round-1
Kth distance, the round-2 cross join with every point (fewer than k
round-1 candidates, or a ring that covers the frame), fewer than k
points in the whole input, and NULL or duplicate qids, which raise."""

import contextlib

import numpy as np
import pandas as pd
import pytest

from rasterkit_spark.operators import spatial as SP

RNG = np.random.default_rng(7)

# res=3: an 8 × 8 cell frame over [0, 100]², cell extent 12.5.  205
# points give k=3 a round-1 ring of 2 cells: 201 in the corner cell, a
# trio at (25, 25), and (0, 0) and (100, 100) fix the frame
LAYOUT = np.vstack([[[0.0, 0.0]], RNG.uniform(0.0, 10.0, size=(200, 2)),
                    [[25.0, 25.0], [25.5, 25.0], [25.0, 25.5]],
                    [[100.0, 100.0]]])
# query → the arm it takes on LAYOUT with k=3
LAYOUT_QUERIES = {
    "inside": ((5.0, 5.0), "round1"),
    # round 1 finds only the trio (d_k ≈ 35.4 > the certified 25); ring
    # ⌊35.4 / 12.5⌋ + 1 = 3 around cell 4 covers cells 1..7, not the frame
    "ring": ((50.0, 50.0), "ring"),
    # the trio again, d_k ≈ 49.5: ring 4 around cell 4 covers the frame
    "spanning": ((60.0, 60.0), "whole"),
    # no point within round 1's ring at all
    "empty": ((45.0, 90.0), "whole"),
}


def _frame(xy, prefix):
    return pd.DataFrame({"id": [f"{prefix}{i:04d}" for i in range(len(xy))],
                         "x": xy[:, 0], "y": xy[:, 1]})


def _brute(points, queries, k):
    """{qid: [(nbr_id, dist), …]} in (dist, id) order."""
    px, py = points.x.to_numpy(), points.y.to_numpy()
    ids = points.id.to_numpy()
    out = {}
    for q in queries.itertuples():
        dx, dy = px - q.x, py - q.y
        d = np.sqrt(dx * dx + dy * dy)
        order = sorted(range(len(d)), key=lambda j: (d[j], ids[j]))[:k]
        out[q.qid] = [(ids[j], d[j]) for j in order]
    return out


def _got(df):
    out = {}
    for r in sorted(df.collect(), key=lambda r: (r.qid, r["rank"])):
        out.setdefault(r.qid, []).append((r.nbr_id, r.dist))
    return out


def _assert_exact(got, want):
    assert set(got) == set(want)
    for qid, rows in want.items():
        assert [i for i, _ in got[qid]] == [i for i, _ in rows], qid
        np.testing.assert_allclose([d for _, d in got[qid]],
                                   [d for _, d in rows], rtol=1e-12)


@contextlib.contextmanager
def _arms(monkeypatch):
    """Record the qids of each round-2 arm (empty when no round 2 ran)."""
    seen = {"ring": set(), "whole": set()}
    split = SP._second_round_arms

    def recording(left, n):
        by_ring, whole = split(left, n)
        seen["ring"] |= {r.qid_ for r in by_ring.select("qid_").collect()}
        seen["whole"] |= {r.qid_ for r in whole.select("qid_").collect()}
        return by_ring, whole

    with monkeypatch.context() as m:
        m.setattr(SP, "_second_round_arms", recording)
        yield seen


def _knn(spark, points, queries, k, res):
    return SP.knn_join(spark.createDataFrame(points),
                       spark.createDataFrame(queries), k,
                       point_id="id", query_id="qid", x_col="x", y_col="y",
                       res=res)


def test_knn_arms_match_brute_force(spark, monkeypatch):
    """Round-1 rows and both round-2 arms' rows in one result, each query
    in the arm LAYOUT_QUERIES names."""
    points = _frame(LAYOUT, "p")
    queries = pd.DataFrame({"qid": list(LAYOUT_QUERIES),
                            "x": [v[0][0] for v in LAYOUT_QUERIES.values()],
                            "y": [v[0][1] for v in LAYOUT_QUERIES.values()]})
    with _arms(monkeypatch) as seen:
        got = _got(_knn(spark, points, queries, 3, res=3))
    assert seen == {arm: {q for q, (_, a) in LAYOUT_QUERIES.items()
                          if a == arm} for arm in ("ring", "whole")}
    _assert_exact(got, _brute(points, queries, 3))


def test_knn_dense_queries_finish_in_round_one(spark, monkeypatch):
    points = _frame(np.vstack([RNG.uniform(0, 100, size=(2000, 2)),
                               RNG.normal(50, 1, size=(500, 2))]), "p")
    qxy = RNG.normal(50, 0.5, size=(12, 2))
    queries = pd.DataFrame({"qid": [f"q{i}" for i in range(12)],
                            "x": qxy[:, 0], "y": qxy[:, 1]})
    with _arms(monkeypatch) as seen:
        got = _got(_knn(spark, points, queries, 5, res=5))
    assert seen == {"ring": set(), "whole": set()}
    _assert_exact(got, _brute(points, queries, 5))


def test_knn_fewer_points_than_k(spark, monkeypatch):
    """Two points, k=4: round 1 cross-joins the frame and every query
    gets both, in (dist, id) order."""
    points = _frame(np.array([[0.0, 0.0], [3.0, 4.0]]), "p")
    queries = pd.DataFrame({"qid": ["a", "b"], "x": [1.0, 3.0],
                            "y": [1.0, 3.0]})
    with _arms(monkeypatch) as seen:
        got = _got(_knn(spark, points, queries, 4, res=4))
    assert seen == {"ring": set(), "whole": set()}
    want = _brute(points, queries, 4)
    assert all(len(v) == 2 for v in want.values())
    _assert_exact(got, want)


@pytest.mark.parametrize("qids, census", [
    (["a", None, "c"], "3 queries, 2 non-NULL, 2 distinct"),
    (["a", "b", "a"], "3 queries, 3 non-NULL, 2 distinct"),
])
def test_knn_rejects_null_and_duplicate_qids(spark, qids, census):
    points = _frame(RNG.uniform(0, 10, size=(20, 2)), "p")
    queries = pd.DataFrame({"qid": qids, "x": [1.0, 2.0, 3.0],
                            "y": [1.0, 2.0, 3.0]})
    with pytest.raises(ValueError, match=f"non-NULL and unique .{census}"):
        _knn(spark, points, queries, 2, res=3)


def test_knn_null_coordinates_take_no_part(spark):
    """A point with a NULL coordinate is nobody's neighbor, in the ring
    and the cross-join arms alike; a query with one gets no rows."""
    xy = np.array([[0.0, 0.0], [3.0, 4.0], [np.nan, 1.0], [50.0, 50.0]])
    points = _frame(xy, "p")
    points.loc[2, "x"] = None
    queries = pd.DataFrame({"qid": ["a", "b", "c"], "x": [1.0, 45.0, None],
                            "y": [1.0, 45.0, 2.0]})
    got = _got(_knn(spark, points, queries, 2, res=3))
    assert got.keys() == {"a", "b"}
    _assert_exact(got, _brute(points.drop(2), queries.iloc[:2], 2))
