"""Structural properties of the dedup / similarity operators that the
value-hash oracle can't express: LSH recall vs. brute force, fingerprint
sensitivity, ANN subset relation."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from vlm_data_pipeline_spark.operators import dedup, similarity


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_minhash_lsh_full_recall_on_planted_pairs(spark, sf_dir):
    """At threshold 0.8 the banding S-curve collides ~97% of true pairs;
    on the planted near-dups (Jaccard ≥ 0.97) recall must be total."""
    docs = _docs(spark, sf_dir)
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, block_cols=[], threshold=0.8
        ).collect()
    }
    assert exact, "test data must contain planted near-duplicates"
    assert lsh == exact


def test_exact_dedup_winner_is_min_id(spark, sf_dir):
    groups = dedup.exact_dedup_groups(_docs(spark, sf_dir)).collect()
    assert groups, "planted bag-fingerprint duplicates expected"
    assert all(g.n_dups >= 1 for g in groups)


def test_simhash_near_dups_are_hamming_close(spark, sf_dir):
    """Planted near-dup pairs should have far smaller Hamming distance
    between SimHash fingerprints than random pairs."""
    docs = _docs(spark, sf_dir)
    fps = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(docs).collect()}
    pairs = dedup.ngram_jaccard_pairs(docs, block_cols=[], threshold=0.9).collect()
    assert pairs

    def ham(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    near = [ham(fps[p.id_a], fps[p.id_b]) for p in pairs]
    ids = sorted(fps)
    random_pairs = [(ids[i], ids[i + 7]) for i in range(0, 200, 11)]
    far = [ham(fps[a], fps[b]) for a, b in random_pairs]
    assert max(near) < min(16, sum(far) / len(far)), (near, far)


def test_simhash_plan_has_no_exchange(spark, sf_dir):
    """SimHash is a per-row computation — the in-row bit-vote fold must
    compile to a plan with NO shuffle (the explode+groupBy form moved one
    row per token through an exchange, corpus-wide)."""
    fps = dedup.simhash_fingerprints(_docs(spark, sf_dir))
    plan = fps._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]


def test_lsh_ann_results_subset_of_brute_force_universe(spark, sf_dir):
    """Every LSH neighbor must carry the same cosine the brute-force path
    computes, and per-query results are ranked prefixes of the bucket."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    brute = similarity.brute_force_topk(emb, queries, k=1000)
    lsh = similarity.lsh_ann_topk(emb, queries, dim=64, k=5)
    b = {(r.query_id, r.neighbor_id): r.cosine for r in brute.collect()}
    for r in lsh.collect():
        assert (r.query_id, r.neighbor_id) in b
        assert abs(b[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-12


def test_exact_pair_cosine_matches_brute_force(spark, sf_dir):
    """exact_pair_cosine scores ONLY the requested pairs (ADVICE r12 —
    replaces the k=2^30 brute sweep in the ivf witness) and must agree
    bit-for-bit with brute_force_topk's integer-scaled arithmetic, in
    both the unhinted and the bounded-broadcast (max_pairs) shape; a
    pair whose ids are absent from the corpus yields no row (the
    caller's left-join then sees NULL → rerank_exact false)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    brute = similarity.brute_force_topk(emb, queries, k=3)
    expected = {
        (r.query_id, r.neighbor_id): r.cosine for r in brute.collect()
    }
    pairs = brute.select("query_id", "neighbor_id")
    for kw in ({}, {"max_pairs": len(expected)}):
        got = {
            (r.query_id, r.neighbor_id): r.cosine
            for r in similarity.exact_pair_cosine(emb, pairs, **kw).collect()
        }
        assert got == expected, kw
    # unknown ids drop out instead of fabricating a score
    ghost = spark.createDataFrame(
        [(-1, -2)], "query_id long, neighbor_id long"
    )
    assert similarity.exact_pair_cosine(emb, ghost, max_pairs=4).count() == 0


def test_exact_pair_cosine_bounded_plan_broadcasts_pairs(spark, sf_dir):
    """With max_pairs the pair side must be the broadcast build side —
    the 100 TB shape: two broadcast probes of the bounded pair list
    against the streaming corpus, corpus scans never under an
    unbounded BroadcastExchange (tools/plan_digest.py gate rationale)."""
    from tools.plan_digest import count_fact_scan_broadcasts

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    pairs = similarity.brute_force_topk(emb, queries, k=3).select(
        "query_id", "neighbor_id"
    )
    out = similarity.exact_pair_cosine(emb, pairs, max_pairs=1 << 20)
    jplan = out._jdf.queryExecution().executedPlan()
    assert count_fact_scan_broadcasts(jplan) == 0
    assert jplan.toString().count("BroadcastHashJoin") >= 2


def test_ivf_ann_recall_vs_brute_force(spark, sf_dir):
    """IVF with nprobe lists probed: cosines must agree exactly with the
    brute-force path on shared pairs, and recall@5 must be reasonable
    (clustered corpus → most true neighbors share the query's list)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    centroids = similarity.ivf_index(emb, n_lists=8)
    ivf_rows = similarity.ivf_ann_topk(
        emb, queries, centroids=centroids, k=5, nprobe=3
    ).collect()
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_rows}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.5, f"recall@5 = {recall}"
    # exact rerank: every cosine matches brute-force arithmetic
    b_cos = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.brute_force_topk(emb, queries, k=1000).collect()
    }
    for r in ivf_rows:
        assert abs(b_cos[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-12
    # exhaustive probing degenerates to exact search
    full = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_ann_topk(
            emb, queries, centroids=similarity.ivf_index(emb, n_lists=4), k=5, nprobe=4
        ).collect()
    }
    assert full == brute


def test_ivf_kmeans_centroids_full_probe_equals_brute_force(spark, sf_dir):
    """KMeans-trained centroids with every list probed: the IVF search is
    exhaustive, so its rows (neighbors, cosines, ranks) equal brute force's
    row for row."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    ivf = similarity.ivf_ann_topk(
        emb, queries, centroids=similarity.ivf_index(emb, n_lists=8), k=5, nprobe=8
    )
    brute = similarity.brute_force_topk(emb, queries, k=5)
    assert ivf.columns == brute.columns
    rows = sorted(map(tuple, ivf.collect()))
    assert rows and rows == sorted(map(tuple, brute.collect()))


def test_semantic_dedup_one_list_equals_unblocked_embedding_pairs(spark, sf_dir):
    """With one coarse list, SemDeDup's within-cluster pairs are every pair
    over the threshold: the same rows the embedding pair join gives over a
    constant block column (both run the one salted block join)."""
    emb = _emb(spark, sf_dir)
    sem = similarity.semantic_dedup_pairs(emb, threshold=0.35, n_lists=1)
    blocked = dedup.embedding_neardup_pairs(
        emb.withColumn("one", F.lit(0)), block_col="one", threshold=0.35
    )
    rows = sorted(map(tuple, sem.collect()))
    assert rows and rows == sorted(map(tuple, blocked.collect()))


def test_embedding_neardup_salted_plan(spark, sf_dir):
    """The cosine self-join must carry the skew salt: side A repartitioned
    on _salt (hashpartitioning exchange), side B replicated via explode —
    same shape ngram_jaccard_pairs documents. Pair semantics unchanged:
    every (a < b) pair forms exactly once."""
    pairs = dedup.embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.5)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the salt must appear in a hash-partitioning exchange — since the
    # merge hint (the sf10 broadcast-hazard fix), the user repartition
    # collapses into the join's own (blk, _salt) requirement, which
    # spreads each block's quadratic verify exactly the same way
    assert re.search(r"hashpartitioning\([^)]*_salt", plan), plan[:2000]
    assert "SortMergeJoin" in plan, plan[:2000]  # never a static broadcast

    rows = pairs.collect()
    keys = [(r.id_a, r.id_b) for r in rows]
    assert len(keys) == len(set(keys))          # no duplicate pairs from salting
    assert all(a < b for a, b in keys)          # orientation preserved


def test_decontaminate_flags_planted_overlap(spark):
    """A corpus doc sharing a 4-gram with the benchmark is flagged with the
    right hit count; clean docs are absent."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox yesterday evening"),  # 1 shared 4-gram
            (2, "quick brown fox jumps right over everything"),   # 1 shared
            (3, "completely unrelated text with no overlap here"),
            (4, "the quick brown fox jumps again and again"),     # 2 shared
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_hits for r in dedup.decontaminate(corpus, bench, n=4).collect()}
    assert out == {1: 1, 2: 1, 4: 2}


def test_subword_count_shape(spark):
    from vlm_data_pipeline_spark.functions.text import subword_count
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("hello world",), ("it's 42 degrees!",), ("",)], "text string"
    )
    vals = [r.n for r in df.select(subword_count(F.col("text")).alias("n")).collect()]
    # "hello","​ world" = 2; "it","'s"," 42"," degrees","!" = 5; "" = 0
    assert vals == [2, 5, 0]


def test_decontaminate_respects_id_col(spark):
    """Output id column is named after id_col, per the docstring contract
    (callers passing id_col='sample_id' must get 'sample_id' back)."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "sample_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "we saw the quick brown fox yesterday evening")],
        "sample_id long, text string",
    )
    out = dedup.decontaminate(corpus, bench, n=4, id_col="sample_id")
    assert out.columns == ["sample_id", "n_hits"]
    assert {r.sample_id: r.n_hits for r in out.collect()} == {1: 1}


def test_ws_chunk_count_degenerate_rows(spark):
    """The registered n_ws_chunks expression must agree with the DuckDB
    oracle on empty and whitespace-only text (the documents tables happen
    to contain neither, so the driver check can't see a divergence)."""
    import duckdb

    texts = ["", "   ", " a b ", "a b", "\tx\n"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    spark_n = [
        r.n
        for r in df.select(
            F.size(
                F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
            ).alias("n")
        ).collect()
    ]
    duck_n = [
        duckdb.sql(
            "SELECT len(list_filter(string_split_regex(?, '\\s+'),"
            " t -> t <> ''))",
            params=[t],
        ).fetchone()[0]
        for t in texts
    ]
    assert spark_n == duck_n == [0, 0, 2, 2, 1]


# four well-separated clusters of 12 float vectors in 3-d
_IVF_ROWS = [
    (c * 12 + i, [10.0 * c + (i % 3 - 1) * 0.5, (i % 4) * 0.25, -3.0 * c])
    for c in range(4)
    for i in range(12)
]
_IVF_SCHEMA = "vec_id long, embedding array<float>"


def _int_scaled(x: float) -> int:
    """Spark's ``round(x * SCALE)``: half away from zero."""
    v = x * similarity.SCALE
    return int(math.copysign(math.floor(abs(v) + 0.5), v))


def test_ivf_index_assigns_every_row_to_its_nearest_centroid(spark):
    """KMeans fits ``n_lists`` centroids on the plain array column (the
    session loads no MLlib extension, so ``array_to_vector`` would not
    resolve) and returns only them; the search assigns every vector to
    the integer-scaled squared-L2 argmin, ties to the lowest list id."""
    corpus = spark.createDataFrame(_IVF_ROWS, _IVF_SCHEMA)
    centroids = similarity.ivf_index(corpus, n_lists=4)
    assert centroids.dtypes == [("list_id", "int"), ("centroid", "array<double>")]
    cents = {
        r.list_id: [_int_scaled(x) for x in r.centroid] for r in centroids.collect()
    }
    assert sorted(cents) == [0, 1, 2, 3]

    def assign(cent_table):
        arr = similarity._centroid_array(corpus, cent_table, 4, "vec_id", "embedding")
        return {
            r.vec_id: r.list_id
            for r in similarity._assign_lists(
                corpus, arr, "vec_id", "embedding", "vec_id"
            ).collect()
        }

    assigned = assign(centroids)
    assert sorted(assigned) == [r[0] for r in _IVF_ROWS]
    for vec_id, vec in _IVF_ROWS:
        iv = [_int_scaled(x) for x in vec]
        d2 = {
            lid: sum((x - y) ** 2 for x, y in zip(iv, c)) for lid, c in cents.items()
        }
        assert assigned[vec_id] == min(d2, key=lambda lid: (d2[lid], lid)), d2
    assert len(set(assigned.values())) == 4  # one list per cluster
    # vec 13 = (10, 0.25, -3) is equidistant from both centroids and joins
    # the lower list id; vec 12 = (9.5, 0, -3) is nearer list 1
    tie = spark.createDataFrame(
        [(1, [9.0, 0.25, -3.0]), (0, [11.0, 0.25, -3.0])],
        "list_id int, centroid array<double>",
    )
    assert (assign(tie)[13], assign(tie)[12]) == (0, 1)


@pytest.mark.parametrize(
    "bad", [(99, [1.0, None, 2.0]), (99, None)], ids=["null_element", "null_row"]
)
def test_ivf_index_raises_on_null_vectors(spark, bad):
    """A NULL element or a NULL vector fails the fit: it is never dropped
    or read as zero."""
    corpus = spark.createDataFrame([*_IVF_ROWS, bad], _IVF_SCHEMA)
    with pytest.raises(Exception, match="NULL"):
        similarity.ivf_index(corpus, n_lists=4)


def test_ivf_fixed_centroids_recall_and_degenerate_exactness(spark, sf_dir):
    """Deterministic-quantizer IVF: with nprobe == n_lists every list is
    probed, so the result must EQUAL brute force; with nprobe < n_lists
    recall@5 stays reasonable and cosines agree exactly on shared pairs."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    brute = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.ivf_ann_topk(
            emb, queries, k=5, n_lists=8, nprobe=8
        ).collect()
    }
    assert exact == brute  # all lists probed == exhaustive search
    part = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.ivf_ann_topk(
            emb, queries, k=5, n_lists=8, nprobe=3
        ).collect()
    }
    recall = len(set(part) & set(brute)) / len(brute)
    assert recall >= 0.4, f"recall@5 = {recall}"
    for key, cos in part.items():
        if key in brute:
            assert cos == brute[key]


def test_neardup_components_transitive_collapse(spark):
    """A~B and B~C (no A~C edge) must land in ONE component keyed by the
    min id; isolated pairs stay separate; the keep filter retains exactly
    one doc per cluster plus all unclustered docs."""
    pairs = spark.createDataFrame(
        [(1, 5, 0.9), (5, 9, 0.85), (20, 21, 0.95)],
        "id_a long, id_b long, jaccard double",
    )
    comp = {r.doc_id: r.component_id for r in dedup.neardup_components(pairs).collect()}
    assert comp == {1: 1, 5: 1, 9: 1, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 5, 9, 20, 21, 33]], "doc_id long, text string"
    )
    kept = sorted(
        r.doc_id
        for r in dedup.dedup_keep_filter(
            docs, dedup.neardup_components(pairs)
        ).collect()
    )
    assert kept == [1, 20, 33]


def test_repetition_features_analytic(spark):
    """Planted repetition with hand-computed expected fractions."""
    from vlm_data_pipeline_spark.functions.text import repetition_features

    # doc 1: lines [aa, bb, aa, cc] -> dup occurrences 2/4; dup chars 4/8.
    # tokens = the same 4 words; top 2-gram "aa_bb" count 1 (ties -> lex
    # first of the three singletons), len 4; tok_chars 8 -> 0.5.
    # 3-grams all distinct -> dup_3gram 0.
    d1 = "aa bb\naa cc"
    # doc 2: "x y x y x y" -> 2-gram x_y count 3 of 5, len 2, tok chars 6
    # -> 3*2/6 = 1.0; 3-grams: x_y_x (2), y_x_y (2) -> dup chars
    # (2+2)*3... each gram len 3 chars (x,y,x minus seps) -> (2*3 + 2*3)/6
    # = 2.0 (the documented non-overlap-corrected overshoot).
    d2 = "x y x y x y"
    df = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    feats = repetition_features(F.col("text"))
    out = {
        r.doc_id: r
        for r in df.select("doc_id", *[c.alias(k) for k, c in feats.items()]).collect()
    }
    r1 = out[1]
    assert r1.n_lines == 2  # "aa bb", "aa cc" -> no duplicate LINES
    assert r1.dup_line_fraction == 0.0
    assert r1.top_2gram_char_fraction == pytest.approx(4 / 8)
    assert r1.dup_3gram_char_fraction == 0.0
    r2 = out[2]
    assert r2.top_2gram_char_fraction == pytest.approx(1.0)
    assert r2.dup_3gram_char_fraction == pytest.approx(2.0)

    dup_lines = spark.createDataFrame(
        [(3, "same\nsame\nother")], "doc_id long, text string"
    )
    r3 = dup_lines.select(
        *[c.alias(k) for k, c in repetition_features(F.col("text")).items()]
    ).collect()[0]
    assert r3.n_lines == 3
    assert r3.dup_line_fraction == pytest.approx(2 / 3)
    assert r3.dup_line_char_fraction == pytest.approx(8 / 13)


def test_repetition_features_zero_shuffle(spark, sf_dir):
    from vlm_data_pipeline_spark.functions.text import repetition_features

    docs = _docs(spark, sf_dir)
    feats = repetition_features(F.col("text"))
    out = docs.select("doc_id", *[c.alias(k) for k, c in feats.items()])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark n-gram set is dimension-sized by construction — the
    hit check must be a broadcast join (a shuffled join here would move
    the corpus' exploded n-grams through an exchange at 100 TB)."""
    docs = _docs(spark, sf_dir)
    out = dedup.decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        n=4,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan[:1500]


def test_ivf_fixed_probes_broadcast(spark, sf_dir):
    """Fixed-centroid IVF: probes (queries × nprobe) broadcast into the
    inverted lists; the corpus side must never shuffle for the join."""
    emb = _emb(spark, sf_dir)
    out = similarity.ivf_ann_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=5, n_lists=8, nprobe=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_pq_ann_recall_and_determinism(spark, sf_dir):
    """PQ is lossy by design — on the clustered corpus its top-5 must
    still recover a reasonable fraction of the true neighbors, and the
    codes/scores must be invariant under repartitioning (integer-exact
    codebook math)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    pq_rows = similarity.pq_ann_topk(emb, queries, dim=64, m=8, ksub=16, k=5).collect()
    pq = {(r.query_id, r.neighbor_id) for r in pq_rows}
    recall = len(brute & pq) / len(brute)
    # untrained (seeded) codebooks: correctness-baseline recall only
    assert recall >= 0.08, f"seeded recall@5 = {recall}"
    again = similarity.pq_ann_topk(
        emb.repartition(13), queries, dim=64, m=8, ksub=16, k=5
    ).collect()
    assert sorted(map(tuple, pq_rows)) == sorted(map(tuple, again))
    # sample-trained codebooks (the production path) at a finer grid
    # (m=16, ksub=64 -> 96-bit codes, still 10x+ compression) must beat
    # seeding substantially — this is where PQ earns its keep; the
    # synthetic vectors are near-orthogonal (hard mode for PQ)
    books = similarity.train_pq_codebooks(emb, dim=64, m=16, ksub=64)
    trained = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_ann_topk(
            emb, queries, dim=64, m=16, ksub=64, k=5, codebooks=books
        ).collect()
    }
    trained_recall = len(brute & trained) / len(brute)
    assert trained_recall >= 0.4, f"trained recall@5 = {trained_recall}"
    assert trained_recall > recall


def test_components_and_keep_filter_degenerate_inputs(spark):
    """No pairs -> empty components, keep filter passes everything; a
    self-loop edge (defensive input) must not corrupt labels."""
    empty = spark.createDataFrame([], "id_a long, id_b long, jaccard double")
    assert dedup.neardup_components(empty).count() == 0
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(4)], "doc_id long, text string"
    )
    kept = dedup.dedup_keep_filter(docs, dedup.neardup_components(empty))
    assert kept.count() == 4

    selfloop = spark.createDataFrame(
        [(5, 5, 1.0), (5, 6, 0.9)], "id_a long, id_b long, jaccard double"
    )
    comp = {r.doc_id: r.component_id for r in dedup.neardup_components(selfloop).collect()}
    assert comp == {5: 5, 6: 5}


def test_neardup_components_string_ids(spark):
    """Non-numeric ids propagate natively (no silent cast-to-long →
    NULL → empty graph): component id = lexicographic min."""
    pairs = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-b", "doc-c")], "id_a string, id_b string"
    )
    comp = {r.doc_id: r.component_id for r in dedup.neardup_components(pairs).collect()}
    assert comp == {"doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a"}


def test_neardup_components_rejects_bad_id_types(spark):
    import pytest as _pytest

    mixed = spark.createDataFrame([(1, "a")], "id_a long, id_b string")
    with _pytest.raises(TypeError, match="differ"):
        dedup.neardup_components(mixed)
    arrays = spark.createDataFrame([([1], [2])], "id_a array<int>, id_b array<int>")
    with _pytest.raises(TypeError, match="integral or string"):
        dedup.neardup_components(arrays)


def test_neardup_components_nonconvergence_raises(spark):
    """A chain deeper than max_iter must RAISE, not return a silently
    unconverged (wrong) labeling."""
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    # converges fine with enough rounds...
    comp = {
        r.doc_id: r.component_id
        for r in dedup.neardup_components(chain, max_iter=25).collect()
    }
    assert set(comp.values()) == {0}
    # ...raises when cut off before the fixpoint
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.neardup_components(chain, max_iter=1)


def test_dedup_paragraphs_first_occurrence_wins(spark):
    """Hand-checked: shared boilerplate keeps its (min doc, min pos)
    occurrence only; docs rebuild in original paragraph order; a doc
    reduced to nothing drops out."""
    docs = spark.createDataFrame(
        [
            (1, "alpha\nFOOTER\nbeta"),
            (2, "FOOTER\ngamma\nFOOTER"),   # in-doc repeat too
            (3, "FOOTER"),                   # nothing survives
            (4, "delta\n\nalpha"),           # empty para ignored; 'alpha' is doc 1's
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in dedup.dedup_paragraphs(docs).collect()}
    assert out == {1: "alpha\nFOOTER\nbeta", 2: "gamma", 4: "delta"}


def test_dedup_paragraphs_window_group_limit_is_map_side(spark):
    """Scale shape: the winner window's rank-1 limit must push map-side
    (Partial WindowGroupLimit) so massive duplicates never flood one
    reducer."""
    docs = spark.createDataFrame(
        [(i, "same para\nother") for i in range(10)], "doc_id long, text string"
    )
    plan = (
        dedup.dedup_paragraphs(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "row_number(), 1, Partial" in plan, plan[:2000]


def test_dedup_paragraphs_literal_separator(spark):
    """sep is a LITERAL, not a regex: '.' must split on dots, and regex
    metacharacters must not explode the text into characters."""
    docs = spark.createDataFrame(
        [(1, "alpha.beta"), (2, "beta.gamma")], "doc_id long, text string"
    )
    out = {r.doc_id: r.text for r in dedup.dedup_paragraphs(docs, sep=".").collect()}
    assert out == {1: "alpha.beta", 2: "gamma"}


def test_neardup_components_rejects_nonpositive_max_iter(spark):
    import pytest as _pytest

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _pytest.raises(ValueError, match="max_iter"):
        dedup.neardup_components(pairs, max_iter=0)


def test_semantic_dedup_planted_clusters(spark):
    """Hand-planted semantic dupes: two clusters, three near-copies of
    v1 and one of v2; min-id keeper per component survives, the
    orthogonal vector passes untouched."""
    from vlm_data_pipeline_spark.operators import similarity

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.9999, 0.01, 0.0, 0.0]),    # dup of 1
        (4, [0.0, 0.9999, 0.01, 0.0]),    # dup of 2
        (5, [0.0, 0.0, 1.0, 0.0]),        # orthogonal — no pair
        (6, [0.9998, 0.015, 0.0, 0.0]),   # dup of 1 (and of 3)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = similarity.semantic_dedup_pairs(emb, threshold=0.9, n_lists=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 3), (1, 6), (3, 6), (2, 4)}

    comp = dedup.neardup_components(pairs)
    kept = sorted(
        r.vec_id
        for r in dedup.dedup_keep_filter(emb, comp, id_col="vec_id").collect()
    )
    assert kept == [1, 2, 5]


def test_semantic_dedup_salted_plan(spark, sf_dir):
    """The within-cluster self-join must carry the skew salt (same shape
    as embedding_neardup_pairs): without it, each cluster's quadratic
    pair generation lands on the one task owning its list_id partition
    and parallelism caps at n_lists. Side A repartitioned on _salt,
    side B replicated via explode; pair semantics unchanged."""
    from vlm_data_pipeline_spark.operators import similarity

    # threshold -1 on a bounded sample: every within-cluster pair
    # survives, so the bucket-spread assertion below is non-vacuous.
    emb = _emb(spark, sf_dir).orderBy("vec_id").limit(120)
    pairs = similarity.semantic_dedup_pairs(emb, threshold=-1.0, n_lists=4)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # see test_embedding_neardup_salted_plan: the salt now rides the
    # join's own (list_id, _salt) exchange (merge hint, sf10 fix)
    assert re.search(r"hashpartitioning\([^)]*_salt", plan), plan[:2000]
    assert "SortMergeJoin" in plan, plan[:2000]  # never a static broadcast

    rows = pairs.collect()
    keys = [(r.id_a, r.id_b) for r in rows]
    assert len(keys) == len(set(keys))          # no duplicate pairs from salting
    assert all(a < b for a, b in keys)          # orientation preserved

    # Pair generation actually spreads: with the salt, the surviving
    # pairs' side-A ids hash across many salt buckets, not one.
    from pyspark.sql import functions as F

    n_buckets = (
        pairs.select(F.pmod(F.hash("id_a"), F.lit(32)).alias("s"))
        .distinct()
        .count()
    )
    assert n_buckets > 1, "all pairs landed in one salt bucket"


def test_dedup_incremental_loop_invariant(spark):
    """Three-batch ingestion: store grows by each batch's survivor
    fingerprints; cross-batch copies drop, within-batch copies keep the
    min id, and re-ingesting an already-cleaned batch drops everything."""
    from vlm_data_pipeline_spark.operators.dedup import dedup_incremental

    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    s1 = dedup_incremental(b1, None)
    assert sorted(r.doc_id for r in s1.collect()) == [1, 2]

    store = s1.select("fp")
    b2 = spark.createDataFrame(
        [
            (10, "gamma beta alpha"),      # bag-of-words copy of doc 1 -> drop
            (11, "zeta eta theta"),        # new -> keep
            (12, "zeta eta theta"),        # within-batch copy -> drop
        ],
        "doc_id long, text string",
    )
    s2 = dedup_incremental(b2, store)
    assert sorted(r.doc_id for r in s2.collect()) == [11]

    store = store.unionByName(s2.select("fp"))
    # re-ingesting batch 2 against the updated store yields nothing
    assert dedup_incremental(b2, store).count() == 0


def test_dedup_incremental_null_text_passes_through(spark):
    """Null-text rows (extraction failures) must survive, not vanish: a
    null fingerprint can't dedup against anything, and the equality
    semi-join would otherwise evaluate NULL == NULL to NULL and delete
    the whole group."""
    from vlm_data_pipeline_spark.operators.dedup import dedup_incremental

    b = spark.createDataFrame(
        [(1, None), (2, "real text here"), (3, None)],
        "doc_id long, text string",
    )
    got = sorted(r.doc_id for r in dedup_incremental(b, None).collect())
    assert got == [1, 2, 3]


def test_minhash_incremental_store_and_batch_paths(spark):
    """Cross-batch near-dups surface via the signature store (text never
    needed), within-batch ones via the self-join; the estimator agrees
    with exact Jaccard at the extremes (identical → 1.0, disjoint → no
    pair)."""
    from vlm_data_pipeline_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )

    t1 = "the quick brown fox jumps over the lazy dog again and again ok"
    prior = spark.createDataFrame(
        [(100, t1)], "doc_id long, text string"
    )
    store = minhash_signatures(prior)
    batch = spark.createDataFrame(
        [
            (1, t1),                                  # exact copy of stored
            (2, "completely different words about spark shuffles here yes"),
            (3, t1 + " extra"),                       # near-copy of doc 1
        ],
        "doc_id long, text string",
    )
    rows = minhash_incremental_pairs(batch, store, threshold=0.8).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, set()).add((r.id_a, r.id_b))
    assert (1, 100) in by_source.get("store", set())
    assert (1, 3) in by_source.get("batch", set())
    exact_copy = [r for r in rows if (r.id_a, r.id_b) == (1, 100)][0]
    assert exact_copy.est_jaccard == 1.0
    assert not any(r.id_a == 2 or r.id_b == 2 for r in rows)

    # first batch with no store: within-batch pairs only
    first = minhash_incremental_pairs(batch, None, threshold=0.8).collect()
    assert {r.source for r in first} == {"batch"}


def test_minhash_incremental_banded_store_and_custom_id(spark):
    """The persisted store format (banded_signatures output) feeds the
    probe directly — same pairs as the raw-signature form — and the loop
    round-trips under a non-default id column name."""
    from vlm_data_pipeline_spark.operators.dedup import (
        banded_signatures,
        minhash_incremental_pairs,
        minhash_signatures,
    )

    t1 = "the quick brown fox jumps over the lazy dog again and again ok"
    prior = spark.createDataFrame([(100, t1)], "asset_id long, text string")
    batch = spark.createDataFrame(
        [(1, t1), (2, "unrelated words about shuffles and exchanges here")],
        "asset_id long, text string",
    )
    raw_store = minhash_signatures(prior, id_col="asset_id")
    assert raw_store.columns == ["asset_id", "sig"]
    banded_store = banded_signatures(raw_store, 12, 4, id_col="asset_id")

    raw_pairs = {
        (r.id_a, r.id_b, r.source)
        for r in minhash_incremental_pairs(
            batch, raw_store, id_col="asset_id"
        ).collect()
    }
    banded_pairs = {
        (r.id_a, r.id_b, r.source)
        for r in minhash_incremental_pairs(
            batch, banded_store, id_col="asset_id"
        ).collect()
    }
    assert raw_pairs == banded_pairs == {(1, 100, "store")}

    # re-ingesting a doc whose id is already stored yields no (x, x)
    # self-pair (the exact sibling's anti-join semantics)
    re_batch = spark.createDataFrame([(100, t1)], "asset_id long, text string")
    again = minhash_incremental_pairs(
        re_batch, raw_store, id_col="asset_id"
    ).collect()
    assert not any(r.id_a == r.id_b for r in again)


def test_span_removal_owner_keeps_copy_loses(spark):
    """The lexicographically-minimal (doc_id, pos) occurrence of each
    duplicated k-gram survives; every other copy is excised. Doc 4 (a
    verbatim copy of doc 1) empties out; doc 2's embedded copy is cut
    while its unique prefix/suffix survive; doc 3 is untouched."""
    from vlm_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "x y z a b c d e f g h i j q r"),
            (3, "unique words only here nothing shared at all ok fine"),
            (4, "a b c d e f g h i j"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, k=5).collect()}
    assert out[1].text == "a b c d e f g h i j" and out[1].n_removed == 0
    assert out[2].text == "x y z q r" and out[2].n_removed == 10
    assert out[3].n_removed == 0
    assert out[4].text == "" and out[4].n_removed == 10
    assert all(out[d].n_tokens in (10, 15) for d in out)


def test_span_removal_within_doc_repetition(spark):
    """A doc that repeats its own phrase keeps the FIRST occurrence:
    self-repetition is deduplicated too (same fp, two positions)."""
    from vlm_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "p q r s t MID p q r s t")], "doc_id long, text string"
    )
    r = remove_duplicate_spans(docs, k=5).collect()[0]
    assert r.text == "p q r s t MID"
    assert r.n_removed == 5


def test_span_removal_interval_merge_overlaps(spark):
    """A long verbatim repeat produces a RUN of overlapping duplicated
    windows; the sorted interval fold merges them into one span, and the
    removed-token count equals the run length (no double counting)."""
    from vlm_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    shared = " ".join(f"s{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, f"one {shared} tail1"), (2, f"two other {shared} tail2")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, k=4).collect()}
    assert out[1].n_removed == 0
    assert out[2].n_removed == 12
    assert out[2].text == "two other tail2"


def test_span_removal_min_count_threshold(spark):
    """min_count=3: a span shared by only two docs survives everywhere."""
    from vlm_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    pair = "c1 c2 c3 c4 c5"
    trip = "t1 t2 t3 t4 t5"
    docs = spark.createDataFrame(
        [
            (1, f"{pair} {trip}"),
            (2, f"alpha beta {pair} gamma"),
            (3, f"delta {trip} epsilon"),
            (4, f"zeta {trip} eta"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(docs, k=5, min_count=3).collect()
    }
    # the pair-shared span occurs twice -> below threshold -> kept
    assert out[2].n_removed == 0
    # the triple-shared span occurs 3x -> doc 1 owns it, docs 3/4 lose it
    assert out[1].n_removed == 0
    assert out[3].text == "delta epsilon"
    assert out[4].text == "zeta eta"


def test_span_removal_short_docs_pass_through(spark):
    """Docs shorter than k emit no window and survive verbatim (with
    whitespace-normalized text, the documented canonicalization)."""
    from vlm_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "  just   three  tokens "), (2, "just three tokens")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, k=8).collect()}
    assert out[1].text == "just three tokens" and out[1].n_removed == 0
    assert out[2].n_removed == 0


def test_span_removal_shuffle_budget(spark):
    """The whole pass costs three exchanges (fp window, per-doc regroup,
    corpus join) — the text column never appears in any exchange."""
    from vlm_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4} w{i+5}") for i in range(30)],
        "doc_id long, text string",
    )
    plan = (
        remove_duplicate_spans(docs, k=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:2000]


def test_winnow_guarantee_and_density(spark):
    """Schleimer et al.'s two invariants on random docs: (a) any verbatim
    match of >= w+k-1 tokens yields a shared fingerprint; (b) selection
    density is well below 1 (≈ 2/(w+1) of k-gram hashes)."""
    import random

    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.functions.text import tokens, winnow_fingerprints

    rng = random.Random(7)
    k, w = 4, 5
    shared = " ".join(f"m{i}" for i in range(k + w - 1))  # exactly w+k-1 tokens
    mk = lambda n, p: " ".join(f"{p}{rng.randrange(10**6)}" for _ in range(n))
    docs = spark.createDataFrame(
        [
            (1, f"{mk(40, 'a')} {shared} {mk(40, 'b')}"),
            (2, f"{mk(25, 'c')} {shared} {mk(55, 'd')}"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            winnow_fingerprints(tokens(F.col("text")), k=k, w=w).alias("sel"),
            (F.size(tokens(F.col("text"))) - (k - 1)).alias("n_grams"),
        ).collect()
    }
    fps1 = {s.fp for s in out[1].sel}
    fps2 = {s.fp for s in out[2].sel}
    assert fps1 & fps2, "guaranteed match of length w+k-1 not detected"
    for d in (1, 2):
        density = len(out[d].sel) / out[d].n_grams
        assert density < 0.5  # 2/(w+1) = 1/3 expected; generous bound


def test_winnow_rightmost_tie_break(spark):
    """Identical k-grams inside one window tie on hash; the paper's rule
    selects the RIGHTMOST minimum. 'z z z z z z' has one distinct 2-gram
    hash, so every window resolves to its last position."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.functions.text import tokens, winnow_fingerprints

    docs = spark.createDataFrame([(1, "z z z z z z")], "doc_id long, text string")
    sel = docs.select(
        winnow_fingerprints(tokens(F.col("text")), k=2, w=3).alias("s")
    ).collect()[0].s
    # 5 hashes, windows [1..3],[2..4],[3..5] -> rightmost min = 3,4,5
    assert [x.pos for x in sel] == [3, 4, 5]
    assert len({x.fp for x in sel}) == 1


def test_winnow_short_docs_still_select(spark):
    """Docs with 1..w-1 k-gram hashes form a single short window and
    still emit their minimum; docs below k tokens emit nothing."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.functions.text import tokens, winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id",
            winnow_fingerprints(tokens(F.col("text")), k=2, w=8).alias("s"),
        ).collect()
    }
    assert len(out[1]) == 1  # two hashes, one short window, one min
    assert len(out[2]) == 1  # single 2-gram
    assert out[2][0].pos == 1


def test_winnow_kernel_zero_shuffle(spark):
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.functions.text import tokens, winnow_fingerprints

    docs = spark.createDataFrame([(1, "some words here ok")], "doc_id long, text string")
    plan = (
        docs.select(winnow_fingerprints(tokens(F.col("text"))).alias("s"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:1200]


def test_winnow_pairs_overlap_and_boilerplate_cull(spark):
    """Two docs sharing a long span pair up; a fingerprint present in
    every doc (boilerplate) is culled by max_df and creates no pairs."""
    from vlm_data_pipeline_spark.operators.dedup import winnow_pairs

    boiler = "standard header line for every document in this corpus yes"
    shared = " ".join(f"s{i}" for i in range(18))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta {shared}"),
            (2, f"{boiler} gamma delta {shared} extra"),
            (3, f"{boiler} totally different body content here now ok"),
            (4, f"{boiler} yet another unrelated body of words here"),
        ],
        "doc_id long, text string",
    )
    # max_df=3: the boilerplate fps (df=4) are culled; shared-span fps (df=2) pair
    rows = winnow_pairs(docs, k=4, w=3, max_df=3, min_shared=2).collect()
    pairs = {(r.id_a, r.id_b) for r in rows}
    assert pairs == {(1, 2)}
    r = rows[0]
    assert r.n_shared >= 2 and r.n_a > r.n_shared and r.n_b > r.n_shared


def _unit2(x, y):
    n = math.hypot(x, y)
    return [x / n, y / n]


def test_density_filter_drops_most_prototypical(spark):
    """Two planted clusters around the two centroid vectors: ranks order
    by centroid cosine (ties impossible here), and drop 1/2 removes the
    two centroid-nearest members of each cluster."""
    from vlm_data_pipeline_spark.operators import similarity as sim

    rows = [
        (0, _unit2(1, 0.0)), (1, _unit2(0, 1.0)),  # lowest ids = centroids
        (2, _unit2(1, 0.05)), (3, _unit2(1, 0.3)), (4, _unit2(1, 0.6)),
        (5, _unit2(0.05, 1)), (6, _unit2(0.3, 1)), (7, _unit2(0.6, 1)),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p = {r.id: r for r in sim.prototypicality(emb, n_lists=2).collect()}
    assert p[0].proto_rank == 1 and p[0].proto_cos == 1.0
    assert p[1].proto_rank == 1 and p[1].list_id != p[0].list_id
    assert [p[i].proto_rank for i in (2, 3, 4)] == [2, 3, 4]
    survivors = {
        r.id for r in sim.density_filter(emb, 1, 2, n_lists=2).collect()
    }
    assert survivors == {3, 4, 6, 7}


def test_density_filter_integer_floor_edges(spark):
    """floor(n·num/den) in pure integers: n=5, drop 1/4 -> floor(1.25)=1
    dropped per cluster; n=5, drop 3/5 -> exactly 3 dropped (the exact-
    boundary case a float threshold can flip)."""
    from vlm_data_pipeline_spark.operators import similarity as sim

    rows = [(i, _unit2(1, 0.1 * i)) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert sim.density_filter(emb, 1, 4, n_lists=1).count() == 4
    assert sim.density_filter(emb, 3, 5, n_lists=1).count() == 2
    assert sim.density_filter(emb, 0, 1, n_lists=1).count() == 5
    import pytest as _pt

    with _pt.raises(ValueError):
        sim.density_filter(emb, 1, 0)


def test_prototypicality_single_exchange(spark):
    """Assignment and the centroid dot are in-row; the only exchange is
    the per-cluster rank window."""
    from vlm_data_pipeline_spark.operators import similarity as sim

    rows = [(i, _unit2(1, 0.1 * i)) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan = (
        sim.prototypicality(emb, n_lists=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_canonical_url_rules(spark):
    """Every normalization rule pinned: fragment, case, www, default
    ports, trailing slash, tracking params, param sort — and the things
    that must NOT normalize (path case, non-default ports, params whose
    name merely starts with a tracked prefix)."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.operators.dedup import canonical_url

    cases = [
        ("https://www.Site.com/a/b/?utm_source=f&x=1&b=2", "https://site.com/a/b?b=2&x=1"),
        ("HTTPS://SITE.com:443/a/b?b=2&x=1", "https://site.com/a/b?b=2&x=1"),
        ("https://site.com/a/b?x=1&b=2&utm_campaign=z#frag", "https://site.com/a/b?b=2&x=1"),
        ("http://example.com:80/path/", "http://example.com/path"),
        ("http://example.com:8080/path", "http://example.com:8080/path"),
        ("https://site.com/a/B", "https://site.com/a/B"),  # path case kept
        ("https://site.com/?ref=abc", "https://site.com"),
        ("https://site.com/?reference=abc", "https://site.com?reference=abc"),
        ("https://site.com:80/x", "https://site.com:80/x"),  # 80 not default for https
        ("no-scheme/path?ref=a&z=9#f", "no-scheme/path?z=9"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [e for _, e in cases]


def test_url_dedup_groups_and_zero_shuffle_canon(spark):
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.operators.dedup import (
        canonical_url,
        url_dedup_groups,
    )

    df = spark.createDataFrame(
        [
            (1, "https://www.page.com/x/?utm_source=a"),
            (2, "https://page.com/x"),
            (3, "HTTP://Other.com/y"),
        ],
        "doc_id long, url string",
    )
    groups = url_dedup_groups(df).collect()
    assert len(groups) == 1
    assert groups[0].keep_id == 1 and groups[0].n_dups == 1
    plan = (
        df.select(canonical_url(F.col("url")))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_sentences_split_rules(spark):
    """Terminal punctuation splits, runs stay attached, no-punctuation
    text is one sentence, leading/trailing whitespace trims."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.functions.text import sentences

    df = spark.createDataFrame(
        [
            (1, "One here. Two there! Three maybe? Four"),
            (2, "Wow!!! Next one."),
            (3, "no terminal punctuation at all"),
            (4, "  Padded.   Sentence two.  "),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.s
        for r in df.select("doc_id", sentences(F.col("text")).alias("s")).collect()
    }
    assert got[1] == ["One here.", "Two there!", "Three maybe?", "Four"]
    assert got[2] == ["Wow!!!", "Next one."]
    assert got[3] == ["no terminal punctuation at all"]
    assert got[4] == ["Padded.", "Sentence two."]


def test_dedup_sentence_spans_c4_rule(spark):
    """The C4 rule end-to-end: a 3-sentence span shared by two docs
    survives only in the min-id owner; spans of fewer shared sentences
    are untouched."""
    from vlm_data_pipeline_spark.operators.dedup import dedup_sentence_spans

    docs = spark.createDataFrame(
        [
            (1, "Shared one. Shared two. Shared three. Mine stays."),
            (2, "Other head! Shared one. Shared two. Shared three."),
            (3, "Shared one. Shared two. Different third one here."),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_sentence_spans(docs, n_sent=3).collect()}
    assert out[1].n_removed == 0 and out[1].n_sentences == 4
    assert out[2].n_removed == 3 and out[2].text == "Other head!"
    assert out[3].n_removed == 0  # only a 2-sentence overlap


def test_span_removal_empty_docs_pass_through(spark):
    """Review-pass regression: empty and whitespace-only docs must pass
    through (token AND sentence variants) instead of crashing the task
    with INVALID_ARRAY_INDEX_IN_ELEMENT_AT from sequence(1, 0)."""
    from vlm_data_pipeline_spark.operators.dedup import (
        dedup_sentence_spans,
        remove_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [(1, "real words in here today fine ok now"), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    tok = {r.doc_id: r for r in remove_duplicate_spans(docs, k=5).collect()}
    assert tok[2].n_tokens == 0 and tok[2].n_removed == 0 and tok[2].text == ""
    assert tok[3].n_tokens == 0 and tok[3].text == ""
    sent = {r.doc_id: r for r in dedup_sentence_spans(docs).collect()}
    assert sent[2].n_sentences == 0 and sent[2].text == ""


def test_span_serialization_is_injective(spark):
    """Review-pass regression: units containing the separator must not
    alias across window boundaries — ['a\\x1fb','c'] and ['a','b\\x1fc']
    are DIFFERENT 2-windows (length-prefixed encoding), so neither doc
    loses content."""
    from vlm_data_pipeline_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "a\x1fb c"), (2, "a b\x1fc")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, k=2).collect()}
    assert out[1].n_removed == 0 and out[2].n_removed == 0


def test_corpus_overlap_hand_computed(spark):
    """A: docs {x, y, y}, B: docs {y, z}: distinct_a=2, distinct_b=2,
    intersection {y} -> jaccard 1/3; B docs already in A = 1."""
    from vlm_data_pipeline_spark.operators.dedup import corpus_overlap

    a = spark.createDataFrame(
        [(1, "x words here"), (2, "y other words"), (3, "y other words")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(10, "y other words"), (11, "z unseen content")],
        "doc_id long, text string",
    )
    r = corpus_overlap(a, b).collect()[0]
    assert (r.n_a, r.n_b) == (3, 2)
    assert (r.distinct_a, r.distinct_b, r.inter_distinct) == (2, 2, 1)
    assert r.jaccard == round(1 / 3, 6)
    assert r.b_docs_in_a == 1
    # disjoint corpora: zero everywhere, no divide-by-zero
    empty = corpus_overlap(
        a, spark.createDataFrame([], "doc_id long, text string")
    ).collect()[0]
    assert empty.inter_distinct == 0 and empty.b_docs_in_a == 0


def test_minhash_hot_bucket_cap_culls_mass_duplicates(spark):
    """Mass-duplicated content (m identical docs → one bucket per band)
    must NOT pair quadratically: groups above max_bucket are culled
    (the exact dedup pass owns exact-dup-level similarity), while
    genuine near-dups in normal-size buckets still pair."""
    same = [(i, "the exact same viral boilerplate page body") for i in range(50)]
    near = [
        (1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1001, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    docs = spark.createDataFrame(same + near, "doc_id long, text string")
    capped = dedup.minhash_lsh_pairs(docs, threshold=0.5, max_bucket=8).collect()
    assert {(r.id_a, r.id_b) for r in capped} == {(1000, 1001)}
    # raise the cap above the hot group: the identical docs pair again
    uncapped = dedup.minhash_lsh_pairs(docs, threshold=0.5, max_bucket=64)
    assert uncapped.count() == 50 * 49 // 2 + 1


def test_minhash_lsh_no_bucket_self_join(spark):
    """Plan pin for the in-row pair expansion: candidate generation is a
    collect_list per (band, bucket) group, NOT a self-join on the bucket
    key — no join operator in the plan may condition on band/bucket."""
    docs = spark.createDataFrame(
        [(i, f"word{i} text body shared tokens here now") for i in range(30)],
        "doc_id long, text string",
    )
    plan = (
        dedup.minhash_lsh_pairs(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "collect_list" in plan
    for line in plan.splitlines():
        if "Join" in line:
            assert "bucket" not in line and "band" not in line, line


def test_minhash_incremental_hot_bucket_cap(spark):
    """Both sides of the incremental probe cull over-full (band, bucket)
    groups: a store of 40 identical docs produces no cross pairs at
    max_bucket=8, while a genuine cross-batch near-dup still fires."""
    store_docs = spark.createDataFrame(
        [(i, "the exact same viral boilerplate page body") for i in range(40)]
        + [(900, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (2000, "the exact same viral boilerplate page body"),
            (2001, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        ],
        "doc_id long, text string",
    )
    store = dedup.minhash_signatures(store_docs)
    out = dedup.minhash_incremental_pairs(
        batch, store, threshold=0.5, max_bucket=8
    ).collect()
    assert {(r.id_a, r.id_b, r.source) for r in out} == {(2001, 900, "store")}
    # cap above the hot group: the boilerplate batch doc matches all 40
    wide = dedup.minhash_incremental_pairs(
        batch, store, threshold=0.5, max_bucket=64
    )
    assert wide.filter(F.col("id_a") == 2000).count() == 40


def test_dedup_incremental_store_antijoin_aqe_skew_split(spark):
    """Skew story for the store anti-join: mass-duplicated content makes
    one fp a hot key on the BATCH side. With skew-join thresholds scaled
    to test data, AQE re-plans the sort-merge LEFT ANTI with the hot
    partition split (skew=true in the final plan) — the documented
    no-salting-needed claim, proven rather than asserted.

    forceOptimizeSkewedJoin pins the decision: at KB-scale test sizes
    the rule's extra-shuffle cost validation is marginal and flips run
    to run (measured ~50% without the flag — stage-materialization
    order dependent), while at production sizes (hot partitions vs the
    256MB default threshold) detection is unambiguous. The flag only
    bypasses that cost check; the skew DETECTION and the split both
    still have to happen for skew=true to appear."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        batch = spark.createDataFrame(
            [(i, "the same viral page body " * 20) for i in range(4000)]
            + [(10_000 + i, f"unique doc {i} body") for i in range(200)],
            "doc_id long, text string",
        )
        seen = spark.createDataFrame(
            [(f"fp{i:08d}",) for i in range(500)], "fp string"
        )
        out = dedup.dedup_incremental(batch, seen)
        # execute THIS dataframe so its AdaptiveSparkPlan finalizes
        assert len(out.collect()) == 1 + 200  # one viral winner + uniques
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_winnow_pairs_two_exchanges_single_fold(spark):
    """Plan pin: pair generation is in-row per fp group, so the whole
    operator costs TWO hash exchanges (fp groupBy + pair groupBy) and
    the winnowing fold subtree appears in ONE chain — no self-join that
    would re-derive it on both sides."""
    from vlm_data_pipeline_spark.operators.dedup import winnow_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} shared span words here") for i in range(20)],
        "doc_id long, text string",
    )
    plan = (
        winnow_pairs(docs, k=3, w=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2, plan[:2000]
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
