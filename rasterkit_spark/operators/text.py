"""Text-analysis operators over the ``documents`` table — the training-data
pipeline ops the north star adds on top of RasterKit parity: language ID,
quality scoring, token counting, document fingerprinting.

Every operator here is expressed with *portable* relational primitives
(length / replace / md5 / integer arithmetic) so the DuckDB oracle in
``__spark_entry__.py`` can run the byte-identical formula.  A second,
richer regex tokenizer is provided for engine use where oracle parity
isn't required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..plans.materialize import materialize

# tiny marker lexicons per language (stopword-style voting)
LANG_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "es": ["el", "la", "de", "y"],
    "fr": ["le", "la", "et", "des"],
    "de": ["der", "die", "und", "das"],
    "zh": ["的", "是", "了", "在"],
}

#: languages written WITHOUT inter-word spaces: their markers must be
#: counted as bare substrings — the space-delimited needle " 的 " never
#: occurs in unsegmented Chinese prose, structurally pinning score_zh to 0
NONSPACED_LANGS = {"zh"}


def marker_needle(code: str, word: str) -> str:
    """The literal needle counted for a marker word — space-delimited for
    space-segmented languages, bare substring for NONSPACED_LANGS.  Both
    the engine Columns and the DuckDB oracle derive needles HERE, so the
    two sides cannot drift."""
    return word if code in NONSPACED_LANGS else f" {word} "


STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]

FINGERPRINT_MOD = 1_000_000_007


def ws_token_count(text: Column) -> Column:
    """Whitespace token count via pure length arithmetic (portable):
    tokens = len(trim) - len(remove-spaces(trim)) + 1 for non-empty text.
    Robust to engine-specific split semantics."""
    t = F.trim(text)
    n_spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(n_spaces + 1)


def token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish sub-word estimate (~chars/4, the
    common byte-pair heuristic) per doc."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        ws_token_count(t).cast("long").alias("ws_tokens"),
        F.ceil(F.length(t) / 4).cast("long").alias("bpe_tokens_est"),
    )


def count_occurrences(text: Column, needle: str) -> Column:
    """Occurrences of a literal substring via length arithmetic (portable)."""
    return ((F.length(text)
             - F.length(F.replace(text, F.lit(needle), F.lit(""))))
            / len(needle)).cast("long")


def quality_score(docs: DataFrame, text_col: str = "text",
                  passthrough: tuple[str, ...] = (),
                  id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword-ratio quality heuristics.

    All ratios are scaled to integers (×1e6, floor) so float formatting can
    never break oracle comparison.  score = 100 − penalties.
    ``passthrough`` columns are copied to the output so a caller filtering
    on the score keeps the doc payload without a self-join (the whole op
    stays one narrow projection)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    tokens = ws_token_count(t)
    punct = sum([count_occurrences(t, c) for c in [".", ",", "!", "?", ";"]],
                F.lit(0).cast("long"))
    stop_hits = sum(
        [count_occurrences(F.concat(F.lit(" "), t, F.lit(" ")), f" {w} ")
         for w in STOPWORDS], F.lit(0).cast("long"))
    mean_word_len = F.when(tokens > 0, n_chars / tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(tokens > 0, stop_hits / tokens).otherwise(F.lit(0.0))
    score = (F.lit(100.0)
             - F.when(n_chars < 50, 30.0).otherwise(0.0)
             - F.when(punct_ratio > 0.1, 20.0).otherwise(0.0)
             - F.when(stop_ratio < 0.05, 15.0).otherwise(0.0)
             - F.when(mean_word_len > 12.0, 10.0).otherwise(0.0))
    return docs.select(
        id_col,
        n_chars.cast("long").alias("n_chars_m"),
        tokens.cast("long").alias("ws_tokens"),
        F.floor(punct_ratio * 1e6).cast("long").alias("punct_ratio_e6"),
        F.floor(stop_ratio * 1e6).cast("long").alias("stop_ratio_e6"),
        F.floor(mean_word_len * 1e6).cast("long").alias("mean_word_len_e6"),
        score.cast("long").alias("quality_score"),
        *[F.col(c) for c in passthrough],
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word voting language ID: count lexicon hits per language in
    the padded text; argmax with deterministic code tie-break."""
    t = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    scores = []
    for code, words in sorted(LANG_MARKERS.items()):
        s = sum([count_occurrences(t, marker_needle(code, w))
                 for w in words], F.lit(0).cast("long"))
        scores.append((code, s))
    # argmax via greatest + chained when (ties → alphabetically first code)
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("unknown")
    for code, s in reversed(scores):
        pred = F.when((s == best) & (best > 0), F.lit(code)).otherwise(pred)
    return docs.select("doc_id", *[s.alias(f"score_{c}") for c, s in scores],
                       pred.alias("lang_pred"))


def doc_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Position-weighted rolling-hash-style fingerprint, fully portable:
    fp = Σ_i (1+i)·code(text[i]) mod 1e9+7 over the first 256 chars.

    Implemented with sequence+transform+aggregate (higher-order functions,
    JVM-side) — the per-char weight makes it order-sensitive like a rolling
    hash while staying an associative SUM underneath."""
    t = F.substring(F.col(text_col), 1, 256)
    idx = F.sequence(F.lit(1), F.greatest(F.length(t), F.lit(1)))
    terms = F.transform(
        idx, lambda i: i.cast("long") * F.ascii(F.substring(t, i, 1)).cast("long"))
    fp = F.aggregate(terms, F.lit(0).cast("long"),
                     lambda acc, x: (acc + x) % FINGERPRINT_MOD)
    return docs.select(
        "doc_id",
        F.when(F.length(t) == 0, F.lit(0)).otherwise(fp).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------

#: default flag thresholds (Rae et al., "Scaling Language Models: ...
#: Gopher" §A1.1 repetition filters, adapted to the word/n-gram shapes of
#: this corpus — the documents table carries no newlines, so the line-level
#: rules don't apply here)
#: thresholds in ×1e6 integer form — the flag compares the FLOORED e6
#: columns, so the cutoff is integer-exact on both engines (a float
#: threshold like 0.2*1e6 = 200000.00000000003 would straddle)
TOP_WORD_FRAC_MAX_E6 = 200_000
TOP_2GRAM_CHARS_FRAC_MAX_E6 = 200_000
DUP_3GRAM_FRAC_MAX_E6 = 300_000
#: docs shorter than this many words never flag: a 1-word doc has
#: top_word_frac exactly 1.0 by construction — Gopher pairs its
#: repetition rules with a minimum-length gate for the same reason
MIN_WORDS_FOR_FLAG = 10


def _gram_array(ws: Column, n: int) -> Column:
    """Word n-grams from an already-split word array — delegates to the
    single gram-rule definition in :mod:`.dedup` (oracle replays depend
    on both modules producing identical grams)."""
    from .dedup import word_shingles_from_array

    return word_shingles_from_array(ws, n)


def repetition_signals(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition statistics for quality filtering:

    - ``top_word_frac_e6``  — occurrences of the most frequent word over
      total words;
    - ``top_2gram_chars_frac_e6`` — characters covered by the most frequent
      word 2-gram (count × gram length, capped at 1.0) over total chars,
      deterministic argmax (count DESC, gram ASC);
    - ``dup_3gram_frac_e6`` — fraction of word-3-gram occurrences that are
      repeats (1 − distinct/total);
    - ``repetition_flag``   — 1 when any signal crosses its Gopher-style
      threshold.

    Scale shape: explode → two groupBys keyed by (doc_id[, gram]) — all
    map-side-combinable equi-shuffles on well-distributed keys; no windows
    over the corpus, the only window is per-doc top-1 on the 2-gram counts.
    All ratios are ×1e6-floored BIGINTs (cross-engine float policy)."""
    base = docs.select(
        F.col(id_col), F.length(text_col).alias("n_chars"),
        F.split(F.trim(F.col(text_col)), " ").alias("ws"))

    wc = (base.select(id_col, F.explode("ws").alias("w"))
          .groupBy(id_col, "w").agg(F.count("*").alias("cnt")))
    wstats = wc.groupBy(id_col).agg(
        F.sum("cnt").alias("total_words"),
        F.max("cnt").alias("top_word_cnt"))

    g2 = (base.select(id_col, F.explode(_gram_array(F.col("ws"), 2))
                      .alias("g"))
          .groupBy(id_col, "g").agg(F.count("*").alias("cnt")))
    w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("g"))
    top2 = (g2.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, F.col("cnt").alias("top2_cnt"),
                    F.length("g").alias("top2_len")))

    g3 = (base.select(id_col, F.explode(_gram_array(F.col("ws"), 3))
                      .alias("g"))
          .groupBy(id_col, "g").agg(F.count("*").alias("cnt")))
    g3stats = g3.groupBy(id_col).agg(
        F.sum("cnt").alias("total_3grams"),
        F.count("*").alias("uniq_3grams"))

    joined = (base.select(id_col, "n_chars")
              .join(wstats, id_col).join(top2, id_col).join(g3stats, id_col))
    d = lambda c: c.cast("double")
    top_word_frac = d(F.col("top_word_cnt")) * 1e6 / F.col("total_words")
    top2_frac = F.least(
        d(F.col("top2_cnt") * F.col("top2_len")) / F.greatest("n_chars",
                                                              F.lit(1)),
        F.lit(1.0)) * 1e6
    dup3_frac = (d(F.col("total_3grams") - F.col("uniq_3grams")) * 1e6
                 / F.col("total_3grams"))
    tw_e6 = F.floor(top_word_frac).cast("long")
    t2_e6 = F.floor(top2_frac).cast("long")
    d3_e6 = F.floor(dup3_frac).cast("long")
    flag = (((tw_e6 > TOP_WORD_FRAC_MAX_E6)
             | (t2_e6 > TOP_2GRAM_CHARS_FRAC_MAX_E6)
             | (d3_e6 > DUP_3GRAM_FRAC_MAX_E6))
            & (F.col("total_words") >= MIN_WORDS_FOR_FLAG))
    return joined.select(
        id_col,
        tw_e6.alias("top_word_frac_e6"),
        t2_e6.alias("top_2gram_chars_frac_e6"),
        d3_e6.alias("dup_3gram_frac_e6"),
        flag.cast("long").alias("repetition_flag"))


# ---------------------------------------------------------------------------
# Document chunking (embedding-pipeline windows)
# ---------------------------------------------------------------------------

def chunk_documents(docs: DataFrame, chunk_words: int = 64,
                    overlap: int = 16, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split each doc into word windows of ``chunk_words`` with ``overlap``
    words carried between consecutive chunks → (doc_id, chunk_id,
    chunk_text, n_words).  The unit every embedding/RAG pipeline feeds its
    encoder; chunk_id is the 0-based window index, so (doc_id, chunk_id)
    is a stable global key.

    Stride = chunk_words − overlap; the last window may be shorter and a
    doc shorter than one chunk yields exactly one window.  Edge case: an
    empty/whitespace-only doc emits ONE chunk with chunk_text='' and
    n_words=0 (docs are never silently dropped; filter n_words=0 rows
    downstream if empty chunks are undesired).  Pure narrow ops: split + sequence + transform +
    posexplode — no shuffle, no UDF; at 100 TB this is a flatMap the
    optimizer pipelines into the scan."""
    if not 0 <= overlap < chunk_words:
        raise ValueError("need 0 <= overlap < chunk_words")
    stride = chunk_words - overlap
    ws = F.split(F.trim(F.col(text_col)), " ")
    nw = F.size(ws)
    # number of windows: 1 + ceil(max(nw - chunk_words, 0) / stride)
    extra = F.greatest(nw - chunk_words, F.lit(0))
    n_chunks = F.lit(1) + F.ceil(extra.cast("double") / stride).cast("int")
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        starts, lambda i: F.array_join(
            F.slice(ws, i * stride + 1, chunk_words), " "))
    out = docs.select(F.col(id_col), F.posexplode(chunks)
                      .alias("chunk_id", "chunk_text"))
    n_words = F.when(F.col("chunk_text") == "", 0).otherwise(
        F.size(F.split(F.col("chunk_text"), " ")))
    return out.select(id_col, F.col("chunk_id").cast("long"),
                      "chunk_text", n_words.cast("long").alias("n_words"))


def corpus_stats(docs: DataFrame, text_col: str = "text",
                 stratum_col: str = "source") -> DataFrame:
    """Per-source corpus profile — the "know your data" report every
    mixture decision starts from: doc count, total whitespace tokens,
    and the mean/p50/p90 of doc length in chars (×1e6-floored).

    percentile() is Spark's EXACT linear-interpolated percentile, which
    matches DuckDB's quantile_cont bit-for-bit on integer inputs (both
    sort and interpolate in float64 — verified, not assumed).  One
    map-side-combinable groupBy; the exact percentile keeps per-group
    value lists, so group count must be small relative to rows (true for
    source strata); at extreme cardinality swap in percentile_approx."""
    t = F.col(text_col)
    return (docs.groupBy(stratum_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(ws_token_count(t)).alias("total_words"),
        F.floor(F.avg(F.length(t)) * 1e6).cast("long")
         .alias("avg_chars_e6"),
        # one percentile() call for both quantiles: the exact percentile
        # buffers + sorts each group's values once instead of twice
        F.expr(f"percentile(length({text_col}), array(0.5D, 0.9D))")
         .alias("_pcts"))
        .select(stratum_col, "n_docs", "total_words", "avg_chars_e6",
                F.floor(F.element_at("_pcts", 1) * 1e6).cast("long")
                 .alias("p50_chars_e6"),
                F.floor(F.element_at("_pcts", 2) * 1e6).cast("long")
                 .alias("p90_chars_e6"))
        .select(stratum_col, F.col("n_docs").cast("long"),
                F.col("total_words").cast("long"),
                "avg_chars_e6", "p50_chars_e6", "p90_chars_e6"))


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction + counts)
# ---------------------------------------------------------------------------

#: deliberately simple ASCII patterns that parse identically under Java
#: regex (Spark) and RE2 (DuckDB) — no lookaround, no unicode classes
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{7,15}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Redact emails / international phone numbers / IPv4 literals →
    (doc_id, clean_text, n_emails, n_phones, n_ips).

    The standard pre-release scrub pass.  Counts are taken on the
    ORIGINAL text (each pattern independently), then redaction applies
    email → phone → ip in that fixed order, so the output is
    deterministic.  Detection is intentionally high-precision/ASCII-only
    (patterns portable between Java regex and RE2); a production pass
    would chain model-based NER behind this cheap filter.  Pure narrow
    projection — no shuffle, no UDF."""
    t = F.col(text_col)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE, "<PHONE>"),
        PII_IPV4_RE, "<IP>")
    return docs.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long")
         .alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long")
         .alias("n_phones"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("long").alias("n_ips"))


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------

def tfidf_keywords(docs: DataFrame, k: int = 3, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Top-k characteristic terms per doc by TF-IDF →
    (doc_id, rank, term, tf, df, tfidf_e4).

    tfidf = tf · ln(N / df) with tf the in-doc term count, df the number
    of docs containing the term, N the corpus size.  Ranking uses the
    ×1e4-FLOORED integer score (ties → term asc), never the raw double:
    mathematically-tied scores reached through different ln() shapes
    (2·ln(10) vs ln(100)) can order differently across libm
    implementations, so only the floored integer is portable — the
    repo's cross-engine float policy applied to ORDER BY, not just
    output.

    Plan shape: explode → groupBy(doc, term) for tf (map-side partial) →
    groupBy(term) for df → equi-join df onto tf on term → per-doc top-k
    window.  The df join is deliberately UNHINTED: a web corpus's
    vocabulary is itself billions of distinct terms, so a forced
    broadcast of the df table is an executor/driver OOM at scale, while
    the unhinted join is a well-distributed hash join on ``term`` that
    AQE will still turn into a broadcast when df is measured small.
    N comes from a count() action — one cheap job, no collect of data
    rows."""
    n_docs = docs.count()  # eager: N is a literal in the idf expression
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("term")) \
        .filter(F.length("term") > 0)
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df, "term").select(
        id_col, "term", "tf", "df",
        F.floor(F.col("tf").cast("double")
                * F.log(F.lit(float(n_docs)) / F.col("df"))
                * 1e4).cast("long").alias("tfidf_e4"))
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf_e4"),
                                           F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, F.col("rank").cast("long"), "term",
                    F.col("tf").cast("long"), F.col("df").cast("long"),
                    "tfidf_e4"))


def pack_sequences(docs: DataFrame, seq_len: int = 1024,
                   text_col: str = "text", id_col: str = "doc_id",
                   shard_col: str = "source",
                   passthrough: tuple[str, ...] = (),
                   shard_buckets: int | None = None) -> DataFrame:
    """GPT-style pretraining packing map: within each shard, docs are
    concatenated in id order with one EOS token between docs and the
    stream is cut into fixed ``seq_len``-token training sequences.
    Returns, per doc, where its tokens land → (doc_id, shard, n_tokens,
    start_tok, seq_first, seq_last, n_seqs) — the index a writer uses to
    emit packed sequence shards without materializing the token stream.

    Token rule is the portable whitespace count (:func:`ws_token_count`).
    The running offset is a per-SHARD window cumsum — the shard is the
    parallel unit (real pipelines pack within files/shards precisely so
    no global order exists); a corpus-wide ordered window would funnel
    everything through one partition and is deliberately absent.  An
    empty doc contributes only its EOS slot and lands in exactly the one
    sequence holding that slot.  ``passthrough`` columns ride along
    (inside the same window stage — no extra join).

    ``shard_buckets`` (opt-in, VERDICT r5 #6): one HOT shard — a single
    giant source/split — still funnels its whole token census through
    one window task's sort.  ``shard_buckets=N`` computes the identical
    cumsum as a two-level prefix sum instead: range-partition by
    (shard, id) into N buckets, local cumsum per (shard, bucket),
    broadcast the per-bucket prefix offsets back — no single-partition
    sort, bit-identical ``end_tok``.  The bucketed table is materialized
    once (localCheckpoint, eager) so both consumers of the bucket id see
    the same range boundaries; default None keeps the one-window lazy
    plan (the right shape when shards are many and even)."""
    nt = ws_token_count(F.col(text_col))
    d = docs.select(F.col(id_col), F.col(shard_col).alias("shard"),
                    nt.alias("n_tokens"),
                    *[F.col(c) for c in passthrough])
    if shard_buckets is not None and int(shard_buckets) > 1:
        d, _ = materialize(
            d.repartitionByRange(int(shard_buckets), "shard", id_col)
            .withColumn("_b", F.spark_partition_id()))
        wl = (Window.partitionBy("shard", "_b").orderBy(id_col)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        d = d.withColumn("_le", F.sum(F.col("n_tokens") + 1).over(wl))
        totals = d.groupBy("shard", "_b").agg(F.max("_le").alias("_tot"))
        wo = (Window.partitionBy("shard").orderBy("_b")
              .rowsBetween(Window.unboundedPreceding, -1))
        offs = totals.select(
            "shard", "_b",
            F.coalesce(F.sum("_tot").over(wo), F.lit(0)).alias("_off"))
        d = d.join(F.broadcast(offs), ["shard", "_b"]) \
             .withColumn("end_tok", F.col("_le") + F.col("_off")) \
             .drop("_b", "_le", "_off")
    else:
        w = (Window.partitionBy("shard").orderBy(id_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        d = d.withColumn("end_tok", F.sum(F.col("n_tokens") + 1).over(w))
    d = d.withColumn("start_tok",
                     F.col("end_tok") - F.col("n_tokens") - 1)
    last_tok = F.greatest(F.col("start_tok") + F.col("n_tokens") - 1,
                          F.col("start_tok"))
    d = (d.withColumn("seq_first",
                      F.floor(F.col("start_tok") / seq_len).cast("long"))
         .withColumn("seq_last", F.floor(last_tok / seq_len).cast("long")))
    return d.select(
        F.col(id_col), F.col("shard"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("start_tok").cast("long").alias("start_tok"),
        "seq_first", "seq_last",
        (F.col("seq_last") - F.col("seq_first") + 1).cast("long")
        .alias("n_seqs"),
        *[F.col(c) for c in passthrough])


def materialize_sequences(docs: DataFrame, seq_len: int = 1024,
                          eos: str = "</s>", text_col: str = "text",
                          id_col: str = "doc_id",
                          shard_col: str = "source") -> DataFrame:
    """The packed training sequences themselves → (shard, seq_id,
    seq_text, n_tokens): per shard, docs concatenate in id order with one
    ``eos`` token between them and the stream is cut every ``seq_len``
    tokens (the writer-side complement of :func:`pack_sequences`, which
    returns only the per-doc index).

    Plan: the per-doc window offsets from pack_sequences' cumsum, then a
    narrow posexplode of each doc over the sequences it spans (slice of
    its word array per sequence — pure higher-order functions), then ONE
    groupBy (shard, seq_id) that stitches each sequence from its ≤
    (docs-spanning-it) fragments.  No sequence ever holds more than
    seq_len tokens, so group state is bounded by seq_len regardless of
    corpus size; the shuffle key (shard, seq_id) is uniform by
    construction.  The final sequence of a shard may be short (no
    padding is added — writers pad with their own pad token)."""
    idx = pack_sequences(docs.withColumn("_w",
                                         F.split(F.trim(F.col(text_col)),
                                                 " ")),
                         seq_len, text_col, id_col, shard_col,
                         passthrough=("_w",))
    # doc's stream slot = its words + one EOS; empty docs contribute
    # only the EOS (split('') yields [''], dropped here)
    toks = F.when(F.col("n_tokens") == 0, F.array(F.lit(eos))) \
        .otherwise(F.concat(F.col("_w"), F.array(F.lit(eos))))
    d = idx.withColumn("_t", toks)
    seqs = F.sequence(F.col("seq_first"),
                      # the EOS slot may spill one sequence past seq_last
                      # (seq_last covers only the doc BODY)
                      F.floor((F.col("start_tok") + F.col("n_tokens"))
                              / seq_len).cast("long"))
    e = d.select("shard", F.col("start_tok"), F.col("_t"),
                 F.explode(seqs).alias("seq_id"))
    # slice of this doc's slot tokens that lands in sequence seq_id
    lo = F.greatest(F.col("seq_id") * seq_len - F.col("start_tok"),
                    F.lit(0))
    hi = F.least((F.col("seq_id") + 1) * seq_len - F.col("start_tok"),
                 F.size("_t"))
    frag = e.select(
        "shard", "seq_id",
        (F.col("start_tok") + lo).alias("frag_start"),
        F.slice("_t", (lo + 1).cast("int"),
                F.greatest(hi - lo, F.lit(0)).cast("int")).alias("frag")) \
        .filter(F.size("frag") > 0)
    agg = frag.groupBy("shard", "seq_id").agg(
        F.array_sort(F.collect_list(F.struct("frag_start", "frag")))
        .alias("parts"))
    flat = F.flatten(F.transform(F.col("parts"), lambda s: s["frag"]))
    return agg.select(
        "shard", F.col("seq_id").cast("long").alias("seq_id"),
        F.array_join(flat, " ").alias("seq_text"),
        F.size(flat).cast("long").alias("n_tokens"))
