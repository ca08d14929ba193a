"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — exact brute-force cosine top-k, the correctness
  baseline: query side broadcast, dot products via higher-order functions
  (JVM-side), window top-k.  O(Q·N) but embarrassingly parallel.
- :func:`ivf_topk` — the scale path: IVF-style inverted-file index.
  Centroids are learned driver-side on a seeded sample (k-means, a few
  Lloyd iterations — the classic sample-fit/broadcast-assign pattern),
  vectors are assigned to their nearest centroid (one narrow pandas UDF),
  and each query probes only the ``nprobe`` nearest lists.  Recall < 1 by
  construction; pair with :func:`cosine_topk` on a sample to measure it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import IntegerType

from ..plans.materialize import materialize
from .dedup import cosine_sim


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "qid", qvec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine: (qid, nbr_id, rank, cos_e6).

    Ties broken by neighbor id; cosine scaled ×1e6 floor for float-free
    comparison.  Self-matches are not excluded (callers filter if needed).
    """
    from ..session import ensure_parallelism
    e = ensure_parallelism(embeddings).select(F.col(id_col).alias("nbr_id"),
                          F.col(vec_col).alias("v"))
    q = queries.select(F.col(qid_col).alias("qid"),
                       F.col(qvec_col).alias("qv"))
    cand = e.crossJoin(F.broadcast(q))
    cos = cosine_sim(F.col("qv"), F.col("v"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_e6"), F.col("nbr_id"))
    return (cand.withColumn("cos_e6", F.floor(cos * 1e6).cast("long"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nbr_id", "rank", "cos_e6"))


def _collect_queries(queries: DataFrame, qid_col: str, qvec_col: str,
                     max_query_rows: int, fn_name: str) -> list:
    """Bounded driver-collect of the query side.

    ``cosine_topk_fast``/``cosine_topk_exact`` broadcast Q by contract —
    a corpus-scale query side would OOM the driver, so one cheap bounded
    action (limit N+1 → count) enforces the contract and redirects the
    caller to :func:`ivf_topk`, whose probe side is fully distributed."""
    if max_query_rows is not None:
        # eager: bounds the query collect below
        n = queries.limit(max_query_rows + 1).count()
        if n > max_query_rows:
            raise ValueError(
                f"{fn_name}: query side exceeds max_query_rows="
                f"{max_query_rows} (the query table is collected to the "
                "driver by contract). For a corpus-scale query side use "
                "ivf_topk, whose probe side is fully distributed, or "
                "raise max_query_rows explicitly.")
    # eager: the query side is broadcast from the driver
    return queries.select(qid_col, qvec_col).collect()


def _topk_ids(col: np.ndarray, ids: np.ndarray, kk: int) -> list:
    """Exact per-batch top-k index selection under (value desc, id asc).

    argpartition finds the kk-th value, then EVERY index tied at that
    threshold joins the candidate set before the final (value, id) sort —
    a fixed-size superset (the previous kk*4 heuristic) can exclude a
    lower-id tie when more than its size share the boundary value, which
    would diverge from the oracle's ROW_NUMBER (ORDER BY val DESC, id)."""
    n = len(col)
    kk = min(kk, n)
    if kk == n:
        idx = range(n)
    else:
        part = np.argpartition(-col, kk - 1)[:kk]
        thresh = col[part].min()
        idx = np.nonzero(col >= thresh)[0]
    return sorted(idx, key=lambda i: (-col[i], ids[i]))[:kk]


_PARTIAL_COLS = ["qid", "nbr_id", "cos_e6"]


def _score_block(Q: np.ndarray, na: np.ndarray, qids: np.ndarray,
                 V: np.ndarray, ids: np.ndarray, k: int) -> pd.DataFrame:
    """Per-query partial top-k (qid, nbr_id, cos_e6) of one block of vectors
    ``V`` (ids ``ids``) against the queries ``Q`` (norms ``na``), with
    oracle-parity values: norms via sequential cumsum, dots via one matmul,
    and any pair whose e6 value lands within 1e-5 of an integer (≫
    matmul-vs-sequential ulp drift) re-scored with the exact sequential
    expression the HOF/oracle computes.  Zero-norm vectors have no cosine
    and are left out."""
    V = V.astype(np.float64)
    nb = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
    if (nb == 0).any():
        V, ids, nb = V[nb > 0], ids[nb > 0], nb[nb > 0]
        if len(V) == 0:
            return pd.DataFrame(columns=_PARTIAL_COLS)
    e6 = (Q @ V.T) / (na[:, None] * nb[None, :]) * 1e6  # (nq, nv)
    fr = np.abs(e6 - np.rint(e6))
    qb, vb = np.nonzero(fr < 1e-5)  # boundary pairs → exact re-score
    if len(qb):
        dseq = np.cumsum(Q[qb] * V[vb], axis=1)[:, -1]
        e6[qb, vb] = dseq / (na[qb] * nb[vb]) * 1e6
    ce6 = np.floor(e6).astype(np.int64)
    out_q, out_i, out_c = [], [], []
    kk = min(k, ce6.shape[1])
    for qi in range(ce6.shape[0]):
        col = ce6[qi]
        for i in _topk_ids(col, ids, kk):
            out_q.append(qids[qi])
            out_i.append(ids[i])
            out_c.append(int(col[i]))
    return pd.DataFrame({"qid": out_q, "nbr_id": out_i, "cos_e6": out_c})


def cosine_topk_fast(embeddings: DataFrame, queries: DataFrame, k: int,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "qid",
                     qvec_col: str = "embedding",
                     max_query_rows: int = 100_000) -> DataFrame:
    """Exact top-k by cosine, numpy fast path.

    Same result set as :func:`cosine_topk` up to float-summation order
    (numpy matmul blocks vs sequential HOF aggregation — can flip cos_e6 by
    one ulp near ties): per-partition batch matmul against the broadcast
    query matrix, partial top-k per batch, exact global top-k merge.
    ~10-50× the HOF flavor, which Spark evaluates interpreted.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from ..session import ensure_parallelism

    q_rows = _collect_queries(queries, qid_col, qvec_col, max_query_rows,
                              "cosine_topk_fast")
    qids = [r[0] for r in q_rows]
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    if (qn == 0).any():
        raise ValueError("cosine_topk_fast: zero-norm query vector — "
                         "cosine similarity is undefined for it")
    Qn = Q / qn

    # real id dtypes: stringified ids would tie-break "10" < "2" in the
    # global window merge and diverge from cosine_topk's (id asc) order
    schema = StructType([
        StructField("qid", queries.schema[qid_col].dataType),
        StructField("nbr_id", embeddings.schema[id_col].dataType),
        StructField("cos_e6", LongType()),
    ])

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            ids = pdf["nbr_id"].to_numpy()
            en = np.linalg.norm(E, axis=1)
            if (en == 0).any():  # undefined cosine → excluded from top-k
                E, ids, en = E[en > 0], ids[en > 0], en[en > 0]
                if len(E) == 0:
                    continue
            En = E / en[:, None]
            S = np.floor(En @ Qn.T * 1e6).astype(np.int64)  # (b, qn)
            rows = []
            kk = min(k, S.shape[0])
            for qi in range(S.shape[1]):
                col = S[:, qi]
                # exact top-k by (cos desc, id asc), tie-complete
                for i in _topk_ids(col, ids, kk):
                    rows.append((qids[qi], ids[i], int(col[i])))
            yield pd.DataFrame(rows, columns=["qid", "nbr_id", "cos_e6"])

    e = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("v"))
    partials = e.mapInPandas(gen, schema)
    w = Window.partitionBy("qid").orderBy(F.desc("cos_e6"), F.col("nbr_id"))
    return (partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nbr_id", "rank", "cos_e6"))


def cosine_topk_exact(embeddings: DataFrame, queries: DataFrame, k: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      qid_col: str = "qid",
                      qvec_col: str = "embedding",
                      max_query_rows: int = 100_000) -> DataFrame:
    """Exact top-k by cosine at matmul speed WITH oracle-parity values —
    returns the same (qid, nbr_id, rank, cos_e6) rows as :func:`cosine_topk`
    bit-for-bit, unlike :func:`cosine_topk_fast` (which normalizes first
    and may flip cos_e6 by one ulp near integer boundaries).

    Each partition batch is one :func:`_score_block` (ivf_topk's scorer
    too) against the broadcast query matrix: partial top-k per batch,
    global window merge — O(Q·N) by contract (the exact baseline;
    ivf_topk is the scale path)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..session import ensure_parallelism

    q_rows = _collect_queries(queries, qid_col, qvec_col, max_query_rows,
                              "cosine_topk_exact")
    qids = np.array([r[0] for r in q_rows])
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    na = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])  # oracle-parity norms
    if (na == 0).any():
        raise ValueError("cosine_topk_exact: zero-norm query vector — "
                         "cosine similarity is undefined for it")

    schema = StructType([
        StructField("qid", queries.schema[qid_col].dataType),
        StructField("nbr_id", embeddings.schema[id_col].dataType),
        StructField("cos_e6", LongType()),
    ])

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            out = _score_block(Q, na, qids,
                               np.stack(pdf["v"].to_numpy()),
                               pdf["nbr_id"].to_numpy(), k)
            if len(out):
                yield out

    e = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).cast("array<double>").alias("v"))
    partials = e.mapInPandas(gen, schema)
    w = Window.partitionBy("qid").orderBy(F.desc("cos_e6"), F.col("nbr_id"))
    return (partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nbr_id", "rank", "cos_e6"))


def _kmeans_fit(sample: np.ndarray, n_lists: int, iters: int = 5,
                seed: int = 42) -> np.ndarray:
    """Seeded Lloyd iterations, distances via the expanded form
    |s|² − 2s·c + |c|² (one dgemm) instead of materializing the
    (n, k, dim) difference tensor — the fit is DRIVER-side serial work,
    and at (2000, 48, 256) the tensor form cost ~3 s per call (a 26%
    Amdahl serial fraction in ivf_topk); the dgemm form is ~10 ms.
    The oracle imports this same function, so the (float-rounding-level)
    assignment differences vs the old form stay engine/oracle-consistent."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(n_lists, len(sample)),
                     replace=False)
    cents = sample[idx].astype(np.float64)
    s2 = np.einsum("ij,ij->i", sample, sample)
    for _ in range(iters):
        d = (s2[:, None] - 2.0 * (sample @ cents.T)
             + np.einsum("ij,ij->i", cents, cents)[None, :])
        assign = d.argmin(1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = sample[m].mean(0)
    return cents


QUANT_SCALE = 65536  # 2^16: |v| < 1 ⇒ |vq| < 2^16, 64-dim ∑(Δ²) < 2^40 ≪ 2^53


def quantize(v: np.ndarray, scale: int = QUANT_SCALE) -> np.ndarray:
    """floor(v·scale + 0.5) — NOT round(): numpy rounds half-to-even while
    SQL engines round half-away, so the shared grid must use floor(+0.5)
    (the convention every cross-engine kernel in this repo uses)."""
    return np.floor(np.asarray(v, dtype=np.float64) * scale + 0.5)


def fit_centroids(embeddings: DataFrame, n_lists: int,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  sample_rows: int = 2000, seed: int = 42) -> np.ndarray:
    """Deterministic centroid fit: the sample is the first ``sample_rows``
    vectors by ``id_col`` (orderBy before limit — a bare limit is
    partitioning-dependent), k-means in float64.  Any process reading the
    same table gets bit-identical centroids (the oracle relies on this)."""
    rows = (embeddings.select(id_col, vec_col).orderBy(id_col)
            .limit(sample_rows).collect())  # eager: k-means on the driver
    sample = np.array([r[1] for r in rows], dtype=np.float64)
    return _kmeans_fit(sample, n_lists, seed=seed)


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int,
             n_lists: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "qid", qvec_col: str = "embedding",
             sample_rows: int = 2000, seed: int = 42) -> DataFrame:
    """Approximate top-k: centroid-bucketed search probing ``nprobe`` lists.

    Physical plan: assignment AND probing are narrow Arrow-batched passes
    (the query table is never collected to the driver, so corpus-scale Q
    works; centroids are a tiny closure).  Scoring COGROUPS both sides by
    ``list_id`` — each vector crosses the wire once per list and each
    query once per probe, instead of a candidate equi-join that ships one
    (qv, v) array pair per candidate (~1 KB/row × |lists touched| × |list
    size| — measured 60× more Arrow traffic and slower than the exact
    scan).  Inside each list: one matmul for all (query, vector) dots,
    per-query partial top-k, then a global window merge.  Size ``n_lists``
    ~ √N so one list's vectors fit an executor comfortably; hot lists are
    AQE's shuffle-skew case.

    Determinism: vectors and centroids are quantized to an integer grid
    (×2^16) and assignment/probing argmins run in exact int64 arithmetic
    with list_id tie-break, so list membership is reproducible across
    engines and partitionings.  Scoring is floor(cos×1e6) with the HOF/
    oracle's sequential-summation doubles: norms come from cumsum, dots
    from matmul with a boundary band — any pair whose e6 value lands
    within 1e-5 of an integer (≫ the ≤ ~2e-8 matmul-vs-sequential ulp
    drift at dim≲10³) is re-scored with the exact cumsum expression, so
    the floored value always equals the oracle's (e.g. exact self-matches
    floor to the same side)."""
    # (build_ivf_index / ivf_topk_against_index widen narrow inputs via
    # ensure_parallelism themselves)
    cents = fit_centroids(embeddings, n_lists, id_col, vec_col,
                          sample_rows, seed)
    # NO cast to array<double> here: the cogroup below shuffles these
    # columns, and float32→float64 widening is EXACT, so casting after the
    # shuffle (score_list's astype) yields bit-identical cos_e6 while a
    # float32 corpus — the standard embedding storage dtype — crosses the
    # wire at half the bytes.  The local-mode scaling bisection showed the
    # vector transport is memory-bandwidth-bound; halving it is the one
    # lever that also halves per-node shuffle volume on a real cluster.
    # (The no-cast invariant lives inside build_ivf_index /
    # ivf_topk_against_index — ONE definition each; this function is
    # just their composition with an inline index.)
    index = build_ivf_index(embeddings, cents, id_col, vec_col)
    return ivf_topk_against_index(queries, index, cents, k, nprobe,
                                  qid_col, qvec_col)


def _assign_udf(cents: "np.ndarray"):
    """Arrow-batched nearest-centroid assignment.  int64 distances via
    the expanded |m|² − 2m·c + |c|² — EXACT integer arithmetic, so
    assignment is bit-identical to the difference-tensor form (and to
    the oracle SQL, which computes this expanded expression) while
    skipping the (batch, lists, dim) temporary.  First-min = low id."""
    from pyspark.sql.functions import pandas_udf

    cq = quantize(cents).astype(np.int64)
    cq2 = (cq * cq).sum(1)

    @pandas_udf(IntegerType())
    def assign(v: pd.Series) -> pd.Series:
        m = quantize(np.stack(v.to_numpy())).astype(np.int64)
        d = (m * m).sum(1)[:, None] - 2 * (m @ cq.T) + cq2[None, :]
        return pd.Series(d.argmin(1).astype(np.int32))

    # the math is deterministic; the marker only stops the optimizer
    # DUPLICATING the evaluation (guide §4.4): ivf_topk filters the index
    # on this UDF's column (the static isin prune), and Catalyst pushes
    # that filter below the projection — re-running the full-corpus
    # centroid matmul a second time above it (measured round 6:
    # two ArrowEvalPython[assign] nodes in the one-shot ivf_topk plan)
    return assign.asNondeterministic()


def _probe_udf(cents: "np.ndarray", nprobe: int):
    """Arrow-batched nprobe-nearest-lists probe; stable argsort ties to
    the lower list_id — same order the SQL oracle's ROW_NUMBER
    (ORDER BY d, list_id) produces."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType

    cq = quantize(cents).astype(np.int64)
    cq2 = (cq * cq).sum(1)

    @pandas_udf(ArrayType(IntegerType()))
    def probe(v: pd.Series) -> pd.Series:
        m = quantize(np.stack(v.to_numpy())).astype(np.int64)
        d = (m * m).sum(1)[:, None] - 2 * (m @ cq.T) + cq2[None, :]
        idx = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in idx])

    return probe


def _score_lists_cogrouped(e: DataFrame, probes: DataFrame, k: int,
                           qid_type, nid_type) -> DataFrame:
    """Shared IVF scoring tail: cogroup (nbr_id, v, list_id) with
    (qid, qv, list_id) by list, one matmul per list for all dots,
    per-query partial top-k, global window merge.  Used by both the
    one-shot :func:`ivf_topk` and the persisted-index probe."""
    from pyspark.sql.types import LongType, StructField, StructType

    partial_schema = StructType([
        StructField("qid", qid_type),
        StructField("nbr_id", nid_type),
        StructField("cos_e6", LongType()),
    ])

    def score_list(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(columns=_PARTIAL_COLS)
        Q = np.stack(right["qv"].to_numpy()).astype(np.float64)
        na = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])  # oracle-parity norms
        if (na == 0).any():
            raise ValueError("ivf_topk: zero-norm query vector — cosine "
                             "similarity is undefined for it")
        return _score_block(Q, na, right["qid"].to_numpy(),
                            np.stack(left["v"].to_numpy()),
                            left["nbr_id"].to_numpy(), k)

    partials = (e.groupBy("list_id")
                .cogroup(probes.groupBy("list_id"))
                .applyInPandas(lambda l, r: score_list(l, r), partial_schema))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_e6"), F.col("nbr_id"))
    return (partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nbr_id", "rank", "cos_e6"))


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> float:
    """Mean fraction of exact top-k recovered by the approximate result.

    The denominator is the number of EXACT rows, not n_queries × k — on a
    corpus smaller than k a perfect approximate result must score 1.0,
    not |corpus|/k."""
    ex = exact.filter(F.col("rank") <= k).select("qid", "nbr_id")
    ap = approx.filter(F.col("rank") <= k).select("qid", "nbr_id")
    n_exact = ex.count()  # eager: the metric is a driver number
    if n_exact == 0:
        return 1.0
    # eager: the metric is a driver number
    total_hits = ex.join(ap, ["qid", "nbr_id"]).count()
    return float(total_hits) / n_exact


def build_ivf_index(embeddings: DataFrame, cents: "np.ndarray",
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Write-once IVF index of an embedding corpus snapshot:
    (nbr_id, v, list_id) — the ANN analog of the dedup ops'
    :func:`~rasterkit_spark.operators.dedup.build_minhash_index`.

    The 100-TB pattern: assigning 10¹² vectors to centroid lists is the
    dominant ANN cost and it never changes between queries — persist this
    table PARTITIONED BY list_id (so a probe touches only nprobe lists'
    files — partition pruning does the candidate selection) and store the
    small ``cents`` matrix alongside (e.g. as npy/parquet); every query
    batch then runs :func:`ivf_topk_against_index` at cost ∝ |batch| ×
    nprobe list scans, never re-assigning the corpus.  ``cents`` comes
    from :func:`fit_centroids` (or any fit) — the same array MUST be
    passed to the probe, or list membership silently disagrees."""
    from ..session import ensure_parallelism

    embeddings = ensure_parallelism(embeddings)
    return embeddings.select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("v"),
        _assign_udf(cents)(F.col(vec_col)).alias("list_id"))


def ivf_topk_against_index(queries: DataFrame, index: DataFrame,
                           cents: "np.ndarray", k: int, nprobe: int = 4,
                           qid_col: str = "qid",
                           qvec_col: str = "embedding") -> DataFrame:
    """Top-k of a query batch against a stored :func:`build_ivf_index`:
    only the BATCH is assigned to lists (narrow Arrow pass); scoring is
    the same per-list cogroup matmul as :func:`ivf_topk`.  ``cents``
    must be the matrix the index was built with.

    The index side is pruned to the probed lists BEFORE the cogroup —
    a bare cogroup would exchange the FULL index per batch.  The probed
    set (≤ n_lists ints) is observed on the probe table's checkpoint and
    applied as a STATIC ``isin`` predicate, so a list_id-partitioned
    index table skips unprobed partitions at planning time; batch cost is
    ∝ the probed lists' rows, not the corpus.  Pruning only drops lists
    with zero probes, whose cogroups emit nothing — the result set is
    bit-identical."""
    from ..session import ensure_parallelism

    queries = ensure_parallelism(queries)
    probes = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(qvec_col).alias("qv"),
        F.explode(_probe_udf(cents, nprobe)(F.col(qvec_col)))
        .alias("list_id"))
    # materialize the probe table once (∝ |batch| × nprobe): left lazy,
    # a non-deterministic queries DataFrame (sample(), re-read mutable
    # source) could prune lists the cogroup pass actually probes,
    # silently dropping neighbors (ADVICE r5)
    probes, m = materialize(probes, lists=F.collect_set("list_id"))
    probed = m["lists"]
    pruned = index.filter(F.col("list_id").isin(probed)) if probed \
        else index.filter(F.lit(False))
    return _score_lists_cogrouped(
        pruned, probes, k, queries.schema[qid_col].dataType,
        index.schema["nbr_id"].dataType)
