"""Lexical retrieval scoring: TF-IDF document frequencies and BM25
(Robertson et al.; the Lucene-practical variant) over the corpus — the
query-side companion to the curation stage (mining demonstration/eval
examples out of a training corpus by keyword relevance is a routine
pipeline task the reference's grep-like filters only approximate).

Scale design — the whole scorer is TWO corpus passes and no wide shuffle:

- pass 1 (``_corpus_stats``): ONE aggregate row computes N, total token
  count, and per-query-term document frequencies as conditional sums
  (``array_contains`` per term — Q extra map-side counters, not an
  explode), all combined map-side;
- pass 2: the single stats row is cross-joined back (1-row broadcast),
  per-document term frequencies come from in-row array filters over one
  tokenization (let-bound so Catalyst cannot re-evaluate the split per
  term), and the BM25 sum folds in-row — pure codegen;
- ``bm25_topk`` orders by (score desc, id) with a LIMIT, which Spark
  executes as TakeOrderedAndProject (per-partition heaps + driver merge
  of k·partitions rows — no global sort).

``doc_frequencies`` (the corpus-wide df table for offline IDF models) is
the one shuffling variant: explode of per-doc DISTINCT terms, then a
map-side-combined count per term — the shuffle carries (term, partial
count) pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import let, tokens


def doc_frequencies(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, df) over the corpus: the number of DISTINCT documents
    containing each whitespace token. Explode ships each doc's distinct
    terms once; the count aggregates with map-side partial combine.
    The offline-IDF table of SURVEY, "BM25 retrieval scoring"."""
    return (
        docs.select(
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )


def _corpus_stats(docs: DataFrame, terms: list[str], text_col: str) -> DataFrame:
    """One row: (n_docs, sum_dl, df_0 … df_{Q−1}) in a single map-side
    aggregated pass — per-term df is a conditional count over
    ``array_contains``, so no explode and no per-term scan.

    The token array is PROJECTED once before the aggregation: embedding
    ``tokens(text)`` into each aggregate expression would re-run the
    split + interpreted HOF filter Q+1 times per row (the no-codegen-CSE
    hazard ``functions.text.let`` documents)."""
    toked = docs.select(tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    aggs = [
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("sum_dl"),
    ]
    for i, t in enumerate(terms):
        aggs.append(
            F.sum(
                F.when(F.array_contains(toks, t), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias(f"df_{i}")
        )
    return toked.agg(*aggs)


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 relevance of every matching document against a bag of query
    terms: score = Σₜ idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the Lucene variant
    (always positive, so stopword-frequency terms cannot flip sign).
    Returns (``id_col``, score) for documents containing ≥ 1 query term.

    ``query_terms`` is a literal query-sized list — the per-term df
    counters and idf constants ride in the plan, not in a join.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    stats = _corpus_stats(docs, query_terms, text_col)
    joined = docs.crossJoin(F.broadcast(stats))

    def score(toks):
        dl = F.size(toks).cast("double")
        avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
        total = F.lit(0.0)
        for i, t in enumerate(query_terms):
            df = F.col(f"df_{i}").cast("double")
            n = F.col("n_docs").cast("double")
            idf = F.log(F.lit(1.0) + (n - df + 0.5) / (df + 0.5))
            tf = F.size(F.filter(toks, lambda x: x == F.lit(t))).cast("double")
            total = total + idf * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dl / avgdl)
            )
        return total

    return (
        joined.select(
            F.col(id_col),
            let(tokens(F.col(text_col)), score).alias("score"),
        )
        .filter(F.col("score") > 0.0)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k by (score ROUNDED to 6 decimals desc, id asc) — the rounding
    collapses float near-ties so membership at the k boundary cannot
    depend on accumulation order, and the id tie-break makes the result
    engine-stable (same rule as the index path, so the two paths return
    identical rows). The LIMIT-under-sort plan is TakeOrderedAndProject
    (no global sort). SURVEY, "BM25 retrieval scoring"."""
    if k <= 0:
        raise ValueError("k must be positive")
    return (
        bm25_scores(docs, query_terms, k1=k1, b=b, id_col=id_col, text_col=text_col)
        .withColumn("_sk", F.round(F.col("score"), 6))
        .orderBy(F.col("_sk").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("_sk")
    )


# ---------------------------------------------------------------------------
# Inverted index — the scale path beyond full-scan BM25
# ---------------------------------------------------------------------------


def build_inverted_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
):
    """(postings, stats) — the offline index build.

    ``postings`` is the FLAT posting table (term, doc_id, tf, dl), one
    row per DISTINCT term per document, generated ENTIRELY in-row
    (distinct terms + per-term tf from one let-bound tokenization, then
    explode — zero shuffle; no array-typed posting lists, whose hot-term
    skew breaks at corpus scale). In production, write it partitioned/
    bucketed by term so a query's candidate fetch prunes to the query
    terms' buckets instead of scanning the corpus. ``stats`` is the
    1-row (n_docs, sum_dl) table persisted beside the index.
    """
    toked = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    empty = F.array().cast("array<struct<term:string,tf:long>>")

    # run-length encode the SORTED token array: O(n log n) per doc.
    # (filter-count per distinct term is O(n · n_distinct) — a 10k-token
    # doc with 5k distinct terms would do ~50M interpreted comparisons.)
    def post(t):
        def runs(s):
            n = F.size(s)
            bounds = F.filter(
                F.sequence(F.lit(1), n),
                lambda i: (i == 1)
                | (
                    F.element_at(s, i.cast("int"))
                    != F.element_at(s, (i - 1).cast("int"))
                ),
            )
            ends = F.concat(
                F.slice(bounds, 2, F.size(bounds)), F.array(n + 1)
            )
            return F.zip_with(
                bounds,
                ends,
                lambda st, en: F.struct(
                    F.element_at(s, st.cast("int")).alias("term"),
                    (en - st).cast("long").alias("tf"),
                ),
            )

        return F.when(F.size(t) > 0, let(F.array_sort(t), runs)).otherwise(empty)

    postings = toked.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        F.explode(let(toks, post)).alias("p"),
    ).select(F.col("p.term").alias("term"), "doc_id", F.col("p.tf").alias("tf"), "dl")
    stats = toked.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("sum_dl"),
    )
    return postings, stats


_PARTIAL_SCALE = 10**9


def _bm25_partial_fp(k1: float, b: float):
    """Per-(doc, term) BM25 partial, quantized to fixed-point LONGS
    (floor(x·1e9 + 0.5)) before any cross-row sum: a distributed float
    sum's accumulation order is nondeterministic, and an oracle-compared
    score must not depend on it (the quality-classifier rationale — only
    exact integer sums cross rows). Reads columns df/tf/dl and the
    broadcast stats row (n_docs, sum_dl). One definition serves both
    index query paths AND the SQL oracles mirror it constant-for-
    constant — edit here and there together."""
    n = F.col("n_docs").cast("double")
    df = F.col("df").cast("double")
    idf = F.log(F.lit(1.0) + (n - df + 0.5) / (df + 0.5))
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    partial = idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    return F.floor(partial * _PARTIAL_SCALE + 0.5).cast("long")


def index_bm25_topk(
    postings: DataFrame,
    stats: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k against the inverted index: candidates = the query
    terms' posting rows ONLY (partition-pruned when the index is written
    partitioned by term — the corpus text is never touched), per-term df
    counted from those same rows (query-sized aggregate, broadcast
    back), per-(doc, term) partial scores summed per doc. Identical
    results to the full-scan ``bm25_topk`` — OR-semantics candidates are
    exactly the nonzero-score docs — at the cost of reading O(candidate
    postings) instead of O(corpus).

    The top-k orders by the score ROUNDED to 6 decimals with an id
    tie-break: raw keys are float sums whose association order differs
    between the index path, the full-scan fold, and any oracle engine —
    rounding collapses ulp noise so row MEMBERSHIP is engine-stable.
    Returns (doc_id, score), score rounded.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    if k <= 0:
        raise ValueError("k must be positive")
    cand = postings.filter(F.col("term").isin(list(query_terms)))
    dfs = cand.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = cand.join(F.broadcast(dfs), "term").crossJoin(F.broadcast(stats))
    return (
        scored.select("doc_id", _bm25_partial_fp(k1, b).alias("pfp"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum("pfp").cast("double") / float(_PARTIAL_SCALE), 6
            ).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def index_bm25_batch(
    postings: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k for a TABLE of queries at once — the distributed
    retrieval pattern (one literal query per job does not scale to
    mining millions of training examples): ``queries`` is (query_id,
    terms array<string>); terms explode to skinny (query_id, term) rows
    that join the posting table on term, so each query touches only its
    terms' postings and the whole batch shares one pass. Per-term df
    comes from a vocab-keyed aggregate over the SAME candidate postings
    (term-co-partitioned — no extra corpus scan), partials sum per
    (query, doc), and the per-query top-k windows on the 6-decimal-
    rounded score with a doc_id tie-break (engine-stable membership, the
    index_bm25_topk rationale). Returns (query_id, doc_id, score, rank).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    # distinct BOTH within a query's term list (array_distinct) and
    # across rows: a queries table with duplicate (query_id, term) rows
    # would otherwise join each matching posting twice and double-count
    # that term's contribution
    qt = queries.select(
        F.col("query_id"), F.explode(F.array_distinct("terms")).alias("term")
    ).distinct()
    # candidate postings: only terms any query mentions survive the join;
    # postings are one row per (term, doc), so a plain count IS the
    # document frequency
    cand = postings.join(qt.select("term").distinct(), "term")
    dfs = cand.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = (
        qt.join(cand, "term")
        .join(dfs, "term")
        .crossJoin(F.broadcast(stats))
    )
    per_doc = (
        scored.select("query_id", "doc_id", _bm25_partial_fp(k1, b).alias("pfp"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum("pfp").cast("double") / float(_PARTIAL_SCALE), 6
            ).alias("score")
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def mine_hard_negatives(
    retrieved: DataFrame,
    positives: DataFrame,
    n_neg: int = 5,
) -> DataFrame:
    """DPR-style hard-negative mining (Karpukhin et al. 2020 §4.2): from
    a per-query retrieval ranking, drop each query's known POSITIVE docs
    (anti-join on (query_id, doc_id) — skinny, no broadcast hint: the
    positives table is training-set-sized) and keep the ``n_neg``
    highest-ranked survivors — lexically close but wrong, the negatives
    that actually move a dual encoder. Input ``retrieved`` is
    (query_id, doc_id, score, rank) from :func:`index_bm25_batch`;
    returns the same columns with rank re-numbered 1..n_neg."""
    if n_neg <= 0:
        raise ValueError("n_neg must be positive")
    from pyspark.sql import Window as W

    surv = retrieved.join(
        positives.select("query_id", "doc_id"),
        ["query_id", "doc_id"],
        "left_anti",
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        surv.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_neg)
        .select("query_id", "doc_id", "score", "rank")
    )
