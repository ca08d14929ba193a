"""Forced-arm parity and job budgets for the size-driven dedup switches:
connected components (star rounds vs the driver finish) and shared spans
(broadcast vs sort-merge gram join), plus exact verification's handling
of zero-overlap candidates and MinHash's band-key parity with the SQL
spec, exact verify, plan and job budget, and NULL-text docs kept out of
its band joins."""

import contextlib
import itertools
import re

import numpy as np
import pandas as pd
import pytest
from budget import PY_UDF_NODES, count_jobs

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
            df, jobs[arm, "call"] = count_jobs(
                spark, f"cc-budget-{arm}-call",
                lambda: DD.dup_clusters(docs, pairs))
            rows, jobs[arm, "collect"] = count_jobs(
                spark, f"cc-budget-{arm}-collect", lambda: _rows(df))
        assert rows == want, arm
    pairs.unpersist()
    docs.unpersist()
    assert jobs["driver", "call"] <= 3, jobs
    assert jobs["rounds", "call"] == ROUNDS_ARM_CALL_JOBS, jobs


SPAN = "the quick brown fox jumps over the lazy dog near a river"


def test_shared_spans_sort_merge_arm_matches_broadcast(spark, monkeypatch):
    """SPANS_BROADCAST_BYTES = 0 forces the sort-merge gram join;
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
        m.setattr(DD, "SPANS_BROADCAST_BYTES", 0)
        merge_rows, merge_plan = run()
    assert "BroadcastHashJoin" in broadcast_plan
    assert "SortMergeJoin" in merge_plan
    assert "BroadcastHashJoin" not in merge_plan
    assert merge_rows == broadcast_rows
    assert [r[:2] for r in broadcast_rows] == [(1, 2), (1, 4), (2, 4),
                                               (5, 6)]


def test_shared_spans_long_string_ids_sort_merge(spark, monkeypatch):
    """The gram join is sized in bytes, ids included: at a cap of 24 B per
    anchor (the old row cap's estimate), long-id anchors broadcast and the
    same anchors under 64-char string ids sort-merge, with equal rows."""
    texts = ["A" * 40 + SPAN + "B" * 40, "C" * 28 + SPAN + "D" * 48,
             SPAN + " " + SPAN[::-1]]
    n_anchors = sum(len(t) - 39 for t in texts)
    prefix = "doc-" + "x" * 59

    def run(ids):
        docs = spark.createDataFrame(pd.DataFrame(
            {"doc_id": ids, "text": texts}))
        df = DD.shared_span_pairs(docs, min_len=40)
        return _rows(df), df._jdf.queryExecution().executedPlan().toString()

    with monkeypatch.context() as m:
        m.setattr(DD, "SPANS_BROADCAST_BYTES", 24 * n_anchors)
        long_rows, long_plan = run([1, 2, 3])
        str_rows, str_plan = run([f"{prefix}{i}" for i in (1, 2, 3)])
    assert "BroadcastHashJoin" in long_plan
    assert "SortMergeJoin" in str_plan
    assert "BroadcastHashJoin" not in str_plan
    assert [(int(a[-1]), int(b[-1]), *rest) for a, b, *rest in str_rows] \
        == long_rows
    assert [r[:2] for r in long_rows] == [(1, 2), (1, 3), (2, 3)]


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


# ---------------------------------------------------------------------------
# MinHash: band-key parity, exact verify, plan and job budget
# ---------------------------------------------------------------------------

MH_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "ab",                                # shorter than shingle_n
    None,
    "",
    "  padded  by spaces and  doubled gaps  ",
    "\ttab first, newline last\n",
    "zürich café naïve – ünïcödé shingles ✓",
    "aaaaaaaaaaaa aaaaaaaaaaaa",         # one distinct char shingle
]


def _spec_band_rows(docs, n_hashes, bands, shingle_n, use_words):
    """(id, band, bsig) from the SQL-spec Columns the oracle replays:
    shingle_hashes → minhash_sigs_from_hashes → concat_ws per band."""
    from pyspark.sql import functions as F
    rows = n_hashes // bands
    sig = docs.select(
        F.col("doc_id").alias("id"),
        DD.shingle_hashes(F.col("text"), shingle_n, use_words).alias("h")) \
        .select("id", DD.minhash_sigs_from_hashes(F.col("h"), n_hashes)
                .alias("sig"))
    b = sig.select("id", F.explode(F.array(*[
        F.struct(F.lit(bnd).alias("band"), F.concat_ws("_", *[
            F.element_at("sig", bnd * rows + r + 1) for r in range(rows)])
            .alias("bsig")) for bnd in range(bands)])).alias("b"))
    return b.select("id", "b.band", "b.bsig")


@pytest.mark.parametrize("use_words", [False, True], ids=["chars", "words"])
def test_minhash_index_band_keys_match_sql_spec(spark, use_words):
    """build_minhash_index's keys are byte-identical to the SQL spec's, so
    stored indexes keep probing: NULL text gives empty keys, a text shorter
    than shingle_n one partial shingle, and word splitting trims spaces
    only."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(MH_TEXTS)], "doc_id long, text string")
    n_hashes, bands, shingle_n = 32, 16, 3
    got = _rows(DD.build_minhash_index(docs, n_hashes, bands, shingle_n,
                                       use_words=use_words))
    want = _rows(_spec_band_rows(docs, n_hashes, bands, shingle_n,
                                 use_words))
    assert len(got) == len(MH_TEXTS) * bands
    assert got == want
    null_id = MH_TEXTS.index(None)
    assert {r[2] for r in got if r[0] == null_id} == {""}


def _mh_corpus():
    """60 docs of 40-60 words from a 200-word vocabulary, 12 planted
    near-dups (one word replaced), a NULL text and a two-word text."""
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(200)]
    texts = [" ".join(rng.choice(vocab, int(rng.integers(40, 60))))
             for _ in range(60)]
    for i in range(12):
        words = texts[i].split(" ")
        words[int(rng.integers(len(words)))] = "planted"
        texts.append(" ".join(words))
    texts += [None, "w1 w2"]
    return texts


def _mh_docs(spark, texts, first_id=0):
    return spark.createDataFrame(pd.DataFrame(
        {"doc_id": np.arange(first_id, first_id + len(texts), dtype=np.int64),
         "text": texts}))


def _jaccard_e6(a, b, n=3):
    def sh(t):
        w = t.strip(" ").split(" ")
        return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}
    sa, sb = sh(a), sh(b)
    inter = len(sa & sb)
    return inter * 1_000_000 // (len(sa) + len(sb) - inter)


@contextlib.contextmanager
def _checkpoint_plans(spark, monkeypatch):
    """Record the physical plan of every DataFrame localCheckpoint-ed
    inside the block: plans an operator runs during its call."""
    DataFrame = type(spark.range(1))  # the session's concrete class
    plans = []
    orig = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "localCheckpoint", recording)
        yield plans


MH_ARGS = dict(threshold=0.7, n_hashes=32, bands=8, shingle_n=3,
               use_words=True)


def test_minhash_pairs_are_exact_jaccard(spark):
    """minhash_lsh_pairs emits the planted near-dups, each pair once with
    id_a < id_b and its exact word 3-gram Jaccard."""
    texts = _mh_corpus()
    got = _rows(DD.minhash_lsh_pairs(_mh_docs(spark, texts), **MH_ARGS))
    # 10 of the 12 planted pairs (Jaccard 0.87-0.95) collide: h_k =
    # (2k+1)h + b never wraps mod M61 for 48-bit h, so every permutation
    # keeps the same min shingle and a pair collides with probability J,
    # in all bands or in none
    planted = {(i, 60 + i) for i in range(12)}
    found = {r[:2] for r in got}
    assert found <= planted and len(found) == len(got) >= 10, got
    for a, b, j in got:
        assert a < b and j == _jaccard_e6(texts[a], texts[b]) >= 700_000


# call and collect jobs of minhash_lsh_pairs on the budget test's corpus:
# the call is the one eager checkpoint; the collect runs the band join,
# the distinct, the verify repartition and the two verify joins' shuffles
MH_JOBS = (1, 5)


def test_minhash_plan_and_job_budget(spark, monkeypatch):
    """One Python-UDF node across the whole call, one eager checkpoint, the
    verify fed by a REPARTITION_BY_NUM exchange on id_a alone, and the
    call's and collect's job counts."""
    docs = _mh_docs(spark, _mh_corpus()).cache()
    docs.count()
    with _checkpoint_plans(spark, monkeypatch) as plans:
        df, call_jobs = count_jobs(spark, "minhash-budget-call",
                              lambda: DD.minhash_lsh_pairs(docs, **MH_ARGS))
    plan = df._jdf.queryExecution().executedPlan().toString()
    rows, collect_jobs = count_jobs(spark, "minhash-budget-collect",
                               lambda: _rows(df))
    docs.unpersist()
    assert len(rows) >= 10
    udf_nodes = sum(len(PY_UDF_NODES.findall(p)) for p in plans + [plan])
    assert udf_nodes == 1, plans
    assert len(plans) == 1, plans
    n = 2 * spark.sparkContext.defaultParallelism
    by_id_a = re.findall(
        rf"Exchange hashpartitioning\(id_a#\d+L?, {n}\), REPARTITION_BY_NUM",
        plan)
    assert len(by_id_a) == 1 and plan.count("REPARTITION_BY_NUM") == 1, plan
    assert (call_jobs, collect_jobs) == MH_JOBS, \
        (call_jobs, collect_jobs)


def _recording(monkeypatch, name):
    """Candidate frames passed to dedup's verify function ``name``."""
    cands, orig = [], getattr(DD, name)

    def recording(cand, *args, **kwargs):
        cands.append(cand)
        return orig(cand, *args, **kwargs)

    monkeypatch.setattr(DD, name, recording)
    return cands


N_NULL = 300


def test_null_text_docs_add_no_minhash_candidates(spark, monkeypatch):
    """NULL text's band keys are all "" (the spec's); 300 more NULL-text
    docs leave the pairs unchanged and add no candidate row, in the
    self-join and against a stored index, instead of pairing every NULL
    doc with every other."""
    texts = _mh_corpus()
    nulls = [None] * N_NULL
    cands = _recording(monkeypatch, "_jaccard_verify")
    base = _rows(DD.minhash_lsh_pairs(_mh_docs(spark, texts), **MH_ARGS))
    more = _rows(DD.minhash_lsh_pairs(_mh_docs(spark, texts + nulls),
                                      **MH_ARGS))
    assert more == base and len(base) >= 10
    assert [c.count() for c in cands] == [cands[0].count()] * 2

    # against an index: corpus = the 60 originals, batch = the 12 planted
    # near-dups; NULL docs on both sides
    cands = _recording(monkeypatch, "_verify_candidates")
    runs = []
    for n in (0, N_NULL):
        corpus = _mh_docs(spark, texts[:60] + nulls[:n])
        batch = _mh_docs(spark, texts[60:72] + nulls[:n], first_id=1000)
        index = DD.build_minhash_index(
            corpus, **{k: v for k, v in MH_ARGS.items() if k != "threshold"})
        runs.append(_rows(DD.minhash_pairs_against_index(
            batch, index, corpus, **MH_ARGS)))
    assert runs[1] == runs[0] and len(runs[0]) >= 10
    assert [c.count() for c in cands] == [cands[0].count()] * 2
