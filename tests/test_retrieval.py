"""BM25 / TF-IDF retrieval operators: hand-computed fixtures and plan
shape (one map-side stats row, in-row scoring, TakeOrderedAndProject)."""

from __future__ import annotations

import math

import pytest

from vlm_data_pipeline_spark.operators import retrieval


def _idf(n_docs: int, df: int) -> float:
    """The Lucene idf the BM25 column expression computes, as a scalar."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _docs(spark):
    rows = [
        (1, "spark join window"),
        (2, "spark spark spark"),
        (3, "table scan merge"),
        (4, "join join spark table"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_doc_frequencies(spark):
    df = {
        r.term: r.df for r in retrieval.doc_frequencies(_docs(spark)).collect()
    }
    assert df["spark"] == 3 and df["join"] == 2 and df["window"] == 1
    assert df["table"] == 2


def test_bm25_hand_computed(spark):
    """Single-term query: score must equal the scalar formula exactly."""
    docs = _docs(spark)
    got = {
        r.doc_id: r.score
        for r in retrieval.bm25_scores(docs, ["spark"]).collect()
    }
    n, avgdl = 4, (3 + 3 + 3 + 4) / 4.0
    idf = _idf(n, 3)

    def expect(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    assert set(got) == {1, 2, 4}  # doc 3 has no query term
    assert got[1] == pytest.approx(expect(1, 3), rel=1e-12)
    assert got[2] == pytest.approx(expect(3, 3), rel=1e-12)
    assert got[4] == pytest.approx(expect(1, 4), rel=1e-12)
    # more occurrences of the term → higher score at equal length
    assert got[2] > got[1]


def test_bm25_multi_term_and_topk(spark):
    docs = _docs(spark)
    top = retrieval.bm25_topk(docs, ["spark", "join"], k=2).collect()
    assert len(top) == 2
    # doc 4 carries both terms (join twice) → must beat the single-term docs
    assert top[0].doc_id == 4
    scores = [r.score for r in top]
    assert scores == sorted(scores, reverse=True)

    plan = (
        retrieval.bm25_topk(docs, ["spark"], k=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # LIMIT under ORDER BY must be the heap-merge, not a global sort
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_bm25_validation(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError, match="non-empty"):
        retrieval.bm25_scores(docs, [])
    with pytest.raises(ValueError, match="distinct"):
        retrieval.bm25_scores(docs, ["a", "a"])
    with pytest.raises(ValueError, match="positive"):
        retrieval.bm25_topk(docs, ["a"], k=0)


def test_bm25_idf_penalizes_common_terms(spark):
    """A term in every doc scores below a rare term at equal tf/dl."""
    rows = [(i, "common " + ("rare" if i == 0 else "filler")) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.score
        for r in retrieval.bm25_scores(docs, ["common", "rare"]).collect()
    }
    # doc 0 has both; its margin over the common-only docs is the rare idf
    assert got[0] > max(v for k, v in got.items() if k != 0)
    assert _idf(6, 6) < _idf(6, 1)


def test_corpus_stats_tokenizes_once(spark):
    """The token array must stay a single projected column under the
    aggregate — embedding tokens() into each aggregate would re-run the
    split + interpreted HOF filter Q+1 times per row."""
    from vlm_data_pipeline_spark.operators.retrieval import _corpus_stats

    st = _corpus_stats(_docs(spark), ["spark", "join", "window"], "text")
    opt = st._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1, opt[:1500]


def test_inverted_index_postings_shape(spark):
    """One posting row per distinct term per doc; tf counts occurrences;
    dl is the doc length; the build is zero-shuffle."""
    from vlm_data_pipeline_spark.operators.retrieval import build_inverted_index

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b")], "doc_id long, text string"
    )
    postings, stats = build_inverted_index(docs)
    rows = {(r.term, r.doc_id): (r.tf, r.dl) for r in postings.collect()}
    assert rows == {("a", 1): (2, 3), ("b", 1): (1, 3), ("b", 2): (1, 1)}
    s = stats.collect()[0]
    assert (s.n_docs, s.sum_dl) == (2, 4)
    plan = postings._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1200]


def test_index_topk_equals_full_scan(spark, sf_dir):
    """The index path returns exactly the full-scan bm25_topk result on
    the real documents table (same ids, scores equal to 6dp)."""
    from vlm_data_pipeline_spark.operators.retrieval import (
        bm25_topk,
        build_inverted_index,
        index_bm25_topk,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = ["spark", "window", "join"]
    postings, stats = build_inverted_index(docs)
    idx = [
        (r.doc_id, r.score)
        for r in index_bm25_topk(postings, stats, terms, k=10).collect()
    ]
    full = [
        (r.doc_id, round(r.score, 6))
        for r in bm25_topk(docs, terms, k=10).collect()
    ]
    assert idx == full
    assert len(idx) == 10


def test_index_topk_candidate_pruning_and_validation(spark):
    """The query plan filters postings to the literal query terms before
    any join/aggregate (the partition-pruning predicate at scale), and
    the usual argument validation applies."""
    import pytest as _pt

    from vlm_data_pipeline_spark.operators.retrieval import (
        build_inverted_index,
        index_bm25_topk,
    )

    docs = spark.createDataFrame(
        [(1, "x y"), (2, "z")], "doc_id long, text string"
    )
    postings, stats = build_inverted_index(docs)
    df = index_bm25_topk(postings, stats, ["x", "y"], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the isin predicate must appear as an actual IN filter on term —
    # asserting on bare substrings ("term", "x") is vacuous since both
    # occur in every plan string
    assert "IN (x,y)" in plan or "IN (x, y)" in plan, plan[:1500]
    assert [r.doc_id for r in df.collect()] == [1]
    with _pt.raises(ValueError):
        index_bm25_topk(postings, stats, [], k=5)
    with _pt.raises(ValueError):
        index_bm25_topk(postings, stats, ["x", "x"], k=5)
    with _pt.raises(ValueError):
        index_bm25_topk(postings, stats, ["x"], k=0)


def test_index_bm25_batch_matches_single_query_path(spark):
    """Each query's batch result equals the single-query index path (and
    so the full scan) — same ids, same 6dp scores."""
    from vlm_data_pipeline_spark.operators.retrieval import (
        build_inverted_index,
        index_bm25_batch,
        index_bm25_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark window join spark"),
            (2, "window only here"),
            (3, "nothing relevant at all"),
            (4, "join join join window spark extra words padding here"),
            (5, "spark alone"),
        ],
        "doc_id long, text string",
    )
    postings, stats = build_inverted_index(docs)
    q = spark.createDataFrame(
        [("q1", ["spark", "join"]), ("q2", ["window"])],
        "query_id string, terms array<string>",
    )
    batch = index_bm25_batch(postings, stats, q, k=3).collect()
    for qid, terms in (("q1", ["spark", "join"]), ("q2", ["window"])):
        got = sorted(
            (r.doc_id, r.score, r.rank) for r in batch if r.query_id == qid
        )
        want = sorted(
            (r.doc_id, r.score, i + 1)
            for i, r in enumerate(
                index_bm25_topk(postings, stats, terms, k=3).collect()
            )
        )
        assert got == want, qid


def test_mine_hard_negatives_excludes_positives(spark):
    from vlm_data_pipeline_spark.operators.retrieval import mine_hard_negatives

    ret = spark.createDataFrame(
        [
            ("q", 10, 3.0, 1),
            ("q", 11, 2.5, 2),
            ("q", 12, 2.0, 3),
            ("q", 13, 1.0, 4),
        ],
        "query_id string, doc_id long, score double, rank int",
    )
    pos = spark.createDataFrame(
        [("q", 10), ("q", 12)], "query_id string, doc_id long"
    )
    neg = mine_hard_negatives(ret, pos, n_neg=2).collect()
    assert [(r.doc_id, r.rank) for r in sorted(neg, key=lambda r: r.rank)] == [
        (11, 1),
        (13, 2),
    ]
    import pytest as _pt

    with _pt.raises(ValueError):
        mine_hard_negatives(ret, pos, 0)


def test_index_bm25_batch_duplicate_query_terms_collapse(spark):
    """array_distinct on the query side: repeated terms in one query must
    not double-count the partials."""
    from vlm_data_pipeline_spark.operators.retrieval import (
        build_inverted_index,
        index_bm25_batch,
    )

    docs = spark.createDataFrame(
        [(1, "spark spark other"), (2, "other words")],
        "doc_id long, text string",
    )
    postings, stats = build_inverted_index(docs)
    q1 = spark.createDataFrame(
        [("a", ["spark", "spark"])], "query_id string, terms array<string>"
    )
    q2 = spark.createDataFrame(
        [("a", ["spark"])], "query_id string, terms array<string>"
    )
    r1 = index_bm25_batch(postings, stats, q1, k=5).collect()
    r2 = index_bm25_batch(postings, stats, q2, k=5).collect()
    assert [(r.doc_id, r.score) for r in r1] == [(r.doc_id, r.score) for r in r2]


def test_index_bm25_batch_duplicate_query_rows_no_double_count(spark):
    """Review-pass regression: duplicate (query_id, term) ROWS in the
    queries table (not just within one terms array) must not double the
    affected scores."""
    from vlm_data_pipeline_spark.operators.retrieval import (
        build_inverted_index,
        index_bm25_batch,
    )

    docs = spark.createDataFrame(
        [(1, "spark spark other"), (2, "other words here")],
        "doc_id long, text string",
    )
    postings, stats = build_inverted_index(docs)
    dup = spark.createDataFrame(
        [("a", ["spark"]), ("a", ["spark"])],
        "query_id string, terms array<string>",
    )
    one = spark.createDataFrame(
        [("a", ["spark"])], "query_id string, terms array<string>"
    )
    r_dup = [(r.doc_id, r.score) for r in index_bm25_batch(postings, stats, dup, k=5).collect()]
    r_one = [(r.doc_id, r.score) for r in index_bm25_batch(postings, stats, one, k=5).collect()]
    assert sorted(r_dup) == sorted(r_one)


def test_build_inverted_index_empty_and_repeated_docs(spark):
    """Empty/whitespace docs emit no postings (and never crash); heavy
    within-doc repetition run-length encodes correctly."""
    from vlm_data_pipeline_spark.operators.retrieval import build_inverted_index

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "z z z z z a z")],
        "doc_id long, text string",
    )
    postings, stats = build_inverted_index(docs)
    rows = {(r.term, r.doc_id): r.tf for r in postings.collect()}
    assert rows == {("z", 3): 6, ("a", 3): 1}
    s = stats.collect()[0]
    assert (s.n_docs, s.sum_dl) == (3, 7)
