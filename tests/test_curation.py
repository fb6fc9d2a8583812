"""Curation operators: quality filtering rules and stratified sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vlm_data_pipeline_spark.operators import curation


def test_quality_filter_rules(spark):
    docs = spark.createDataFrame(
        [
            (1, "the data pipeline reads the parquet files quickly today"),  # ok
            (2, "hi"),                                    # too few tokens
            (3, "spam spam spam spam spam spam spam"),    # uniq_ratio too low
            (4, "a " * 200 + "bb"),                       # mean word len < 2
            (5, "alpha beta gamma delta epsilon zeta"),   # < 2 stopwords
        ],
        "doc_id long, text string",
    )
    kept = [r.doc_id for r in curation.quality_filter(docs).collect()]
    assert kept == [1]

    audit = curation.quality_audit(docs).collect()[0]
    assert audit.n_docs == 5
    assert audit.n_survivors == 1
    assert audit.n_tokens_in_band == 4          # doc 2 fails the band
    assert audit.n_uniq_ok == 3                 # docs 3 and 4 fail diversity
    # the Gopher stopword floor (≥ 2 stopwords) is a real rule, not the
    # vacuous ratio >= 0.0 default: doc 5 fails it and nothing else
    assert audit.n_stopword_count_ok == 2       # only docs 1 and 4 pass
    assert audit.n_stopword_ok == 5             # ratio floor stays opt-in


def test_quality_filter_zero_shuffle(spark):
    docs = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    plan = (
        curation.quality_filter(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:1200]


def test_stratified_sample_quota_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}", "en" if i % 3 else "fr") for i in range(100)],
        "doc_id long, text string, lang string",
    )
    s1 = curation.stratified_sample(docs, "lang", 10)
    rows1 = sorted((r.lang, r.doc_id) for r in s1.collect())
    per_lang = {}
    for lang, _ in rows1:
        per_lang[lang] = per_lang.get(lang, 0) + 1
    assert per_lang == {"en": 10, "fr": 10}
    # deterministic across runs and repartitionings
    rows2 = sorted(
        (r.lang, r.doc_id)
        for r in curation.stratified_sample(docs.repartition(13), "lang", 10).collect()
    )
    assert rows1 == rows2
    # a different seed draws a different sample
    rows3 = sorted(
        (r.lang, r.doc_id)
        for r in curation.stratified_sample(docs, "lang", 10, seed="other").collect()
    )
    assert rows1 != rows3
    # quota larger than the stratum returns the whole stratum
    small = curation.stratified_sample(docs.filter("doc_id < 5"), "lang", 10)
    assert small.count() == 5


def test_scrub_pii_patterns(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@corp.io or visit https://ex.com/a?b=1 ok"),
            (2, "server 192.168.0.1 phone 555 123 4567 and 555-123-4567"),
            (3, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.clean
        for r in df.select(
            "doc_id", curation.scrub_pii(F.col("text")).alias("clean")
        ).collect()
    }
    assert out[1] == "mail me at <EMAIL> or visit <URL> ok"
    assert out[2] == "server <IP> phone <PHONE> and <PHONE>"
    assert out[3] == "no pii here at all"


def test_pack_sequences_invariants(spark):
    docs = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1)) for i in range(200)], "doc_id long, text string"
    )
    packed = curation.pack_sequences(docs, max_tokens=10, n_shards=4).collect()
    assert len(packed) == 200
    by_shard: dict[int, list] = {}
    for r in packed:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(4))
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.tokens_before)
        # running totals are consistent and bins are the floor rule
        acc = 0
        for r in rows:
            assert r.tokens_before == acc
            assert r.bin == acc // 10
            acc += r.n_tokens
    # deterministic under repartitioning
    again = sorted(
        (r.shard, r.bin, r.doc_id)
        for r in curation.pack_sequences(
            docs.repartition(17), max_tokens=10, n_shards=4
        ).collect()
    )
    assert again == sorted((r.shard, r.bin, r.doc_id) for r in packed)


def test_bigram_lm_analytic(spark):
    """Hand-computed add-one-smoothed bigram scores on a 3-doc corpus."""
    import math

    from vlm_data_pipeline_spark.operators import lm

    ref = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    model = lm.train_bigram_lm(ref)
    # unigrams: a=3, b=3, c=1 (V=3); bigrams: a_b=3, b_a=1, b_c=1
    assert model.vocab_size == 3
    assert model.unigrams == {"a": 3, "b": 3, "c": 1}
    assert model.bigrams == {"a\x1fb": 3, "b\x1fa": 1, "b\x1fc": 1}

    score_df = spark.createDataFrame(
        [(10, "a b"), (11, "c c"), (12, "a")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.mean_nlp
        for r in lm.score_corpus(score_df, model).collect()
    }
    # P(b|a) = (3+1)/(3+3) = 2/3 -> -ln(2/3)
    assert out[10] == pytest.approx(-math.log((3 + 1) / (3 + 3)))
    # unseen bigram over unseen... c_c: (0+1)/(1+3) = 1/4
    assert out[11] == pytest.approx(-math.log(1 / 4))
    # single token -> not scored
    assert 12 not in out


def test_lm_scoring_zero_shuffle(spark):
    """Scoring joins the token pairs against BOTH count tables broadcast;
    the only shuffle is the one hash exchange on the document id."""
    from vlm_data_pipeline_spark.operators import lm

    ref = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    model = lm.train_bigram_lm(ref)
    docs = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    out = lm.score_corpus(docs, model)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 2, plan[:2000]
    assert plan.count("Exchange hashpartitioning(") == 1, plan[:2000]
    assert "Exchange hashpartitioning(doc_id" in plan, plan[:2000]
    assert plan.count("Exchange") == 3, plan[:2000]


def test_stratified_sample_two_phase_no_stratum_reducer(spark):
    """Scale shape: the FULL input is windowed per (stratum, shard) —
    n_shards-way parallel — and only the ≤ n_shards×n survivors hit the
    per-stratum window. No corpus-sized single-stratum reducer exists."""
    docs = spark.createDataFrame(
        [(i, f"t{i}", "en") for i in range(50)], "doc_id long, text string, lang string"
    )
    plan = (
        curation.stratified_sample(docs, "lang", 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # two row_number windows: phase 1 partitions by (lang, __shard),
    # phase 2 by lang — and Spark's WindowGroupLimit adds map-side
    # Partial limits before each exchange on top
    assert plan.count("+- Window [") == 2, plan[:2000]
    assert "hashpartitioning(lang" in plan
    assert "__shard" in plan
    assert "row_number(), 5, Partial" in plan

    # output == the naive single-window sample (union-of-shard-top-n
    # containment), for quotas straddling shard boundaries
    from pyspark.sql import Window as W

    key = F.md5(
        F.concat_ws(
            "\x1f", F.lit("strata"), F.col("lang"), F.col("doc_id").cast("string")
        )
    )
    w = W.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    for quota in (1, 5, 49, 50, 60):
        naive = (
            docs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= quota)
            .drop("rn")
        )
        got = curation.stratified_sample(docs, "lang", quota)
        assert sorted(r.doc_id for r in got.collect()) == sorted(
            r.doc_id for r in naive.collect()
        ), f"quota={quota}"


def test_scrub_pii_url_with_embedded_email(spark):
    """Pattern ORDER: URLs first, so an address inside a URL is swallowed
    by <URL> instead of leaving a half-scrubbed mailto host."""
    df = spark.createDataFrame(
        [(1, "see https://ex.com/mail?to=a@b.co for info x@y.io end")],
        "doc_id long, text string",
    )
    out = df.select(curation.scrub_pii(F.col("text")).alias("c")).collect()[0].c
    assert out == "see <URL> for info <EMAIL> end"


def test_bigram_lm_unseen_tokens(spark):
    """A doc of entirely unseen tokens scores with pure smoothing mass:
    -ln(1 / (0 + V)) per pair — finite, no nulls, no crashes."""
    import math

    from vlm_data_pipeline_spark.operators import lm

    model = lm.train_bigram_lm(
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    )
    docs = spark.createDataFrame([(2, "zz qq zz")], "doc_id long, text string")
    out = lm.score_corpus(docs, model).collect()[0].mean_nlp
    assert out == pytest.approx(-math.log(1 / 3))  # V = 3, c1 = 0, c12 = 0


def test_pack_sequences_oversized_doc_overflows_own_bin(spark):
    """A doc larger than the budget is never split: it starts in the bin
    its running total lands on and overflows it (documented contract)."""
    docs = spark.createDataFrame(
        [(1, "w " * 25), (2, "w w"), (3, "w w w")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in curation.pack_sequences(
        docs, max_tokens=10, n_shards=1
    ).collect()}
    assert len(rows) == 3
    acc = 0
    for r in sorted(rows.values(), key=lambda x: x.tokens_before):
        assert r.bin == r.tokens_before // 10
        acc += r.n_tokens
    assert acc == 30


def test_bigram_lm_collect_is_bounded(spark):
    """On a corpus with unbounded vocabulary (every token unique) the
    driver collect is hard-capped by max_vocab/max_bigrams, and the caps
    keep the deterministic top-K order (count desc, key asc)."""
    from vlm_data_pipeline_spark.operators import lm

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(20))) for i in range(50)],
        "doc_id long, text string",
    )
    model = lm.train_bigram_lm(docs, max_vocab=100, max_bigrams=150)
    assert len(model.unigrams) == 100
    assert len(model.bigrams) == 150
    assert model.vocab_size == 100
    # all counts are 1 here, so the retained keys are the lexicographic head
    all_tokens = sorted(f"tok{i}_{j}" for i in range(50) for j in range(20))
    assert sorted(model.unigrams) == all_tokens[:100]
    # min_count pruning drops the whole singleton vocabulary
    pruned = lm.train_bigram_lm(docs, min_count=2)
    assert pruned.unigrams == {} and pruned.bigrams == {}


def test_lm_score_corpus_matches_python_reference(spark):
    """score_corpus equals a pure-Python add-one scorer to the LAST BIT on
    a model of 30,000 count entries (well past what a plan literal could
    carry): pairs summed in text order, then divided by n - 1."""
    import math

    from vlm_data_pipeline_spark.operators import lm

    uni = {f"w{i}": 1 + i % 13 for i in range(18_000)}
    bi = {f"w{i}\x1fw{(i * 7) % 18_000}": 1 + i % 5 for i in range(12_000)}
    model = lm.BigramLM(unigrams=uni, bigrams=bi, vocab_size=len(uni))
    texts = {
        i: " ".join(f"w{(i * 31 + j * (i % 9 + 1) * 7) % 18_500}"
                    for j in range(2 + i % 9))
        for i in range(300)
    }
    texts[300] = "w3 w21 w3 w21"  # seen bigrams (w3 -> w21 is in bi)
    texts[301] = "only"  # < 2 tokens: not scored
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def py_score(text):
        t = text.split()
        total = 0.0
        for a, b in zip(t, t[1:]):
            c12 = bi.get(f"{a}\x1f{b}", 0)
            c1 = uni.get(a, 0)
            total += -math.log(float(c12 + 1) / float(c1 + model.vocab_size))
        return total / float(len(t) - 1)

    got = {r.doc_id: r.mean_nlp for r in lm.score_corpus(docs, model).collect()}
    want = {i: py_score(t) for i, t in texts.items() if len(t.split()) >= 2}
    assert got == want  # exact float equality, no tolerance


def test_mixing_plan_exact_integer_allocation(spark):
    """Hand-checked targets/epochs/residuals; weights normalize as exact
    rationals; unweighted strata get target 0."""
    docs = spark.createDataFrame(
        # en: 2 docs x 4 tokens; fr: 1 doc x 3 tokens; de: unweighted
        [(1, "a b c d", "en"), (2, "e f g h", "en"), (3, "x y z", "fr"),
         (4, "u v w", "de")],
        "doc_id long, text string, lang string",
    )
    plan = {
        r.lang: r
        for r in curation.mixing_plan(
            docs, "lang", {"en": 0.75, "fr": 0.25}, budget_tokens=100
        ).collect()
    }
    en, fr, de = plan["en"], plan["fr"], plan["de"]
    assert (en.n_docs, en.n_tokens, en.target_tokens) == (2, 8, 75)
    assert (en.epochs, en.residual_tokens) == (9, 3)       # 75 = 9*8 + 3
    assert (fr.n_docs, fr.n_tokens, fr.target_tokens) == (1, 3, 25)
    assert (fr.epochs, fr.residual_tokens) == (8, 1)       # 25 = 8*3 + 1
    assert (de.target_tokens, de.epochs, de.residual_tokens) == (0, 0, 0)

    # weights needn't sum to 1: 3:1 normalizes identically
    plan2 = {
        r.lang: r.target_tokens
        for r in curation.mixing_plan(
            docs, "lang", {"en": 3, "fr": 1}, budget_tokens=100
        ).collect()
    }
    assert plan2 == {"en": 75, "fr": 25, "de": 0}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        curation.mixing_plan(docs, "lang", {}, 10)


def test_apply_mixing_plan_replicates_and_samples(spark):
    """Every doc appears epochs or epochs+1 times; zero-target strata
    drop; the mix is deterministic across repartitionings."""
    docs = spark.createDataFrame(
        [(i, "tok " * 5, "en") for i in range(40)]
        + [(100 + i, "tok " * 5, "de") for i in range(5)],
        "doc_id long, text string, lang string",
    )
    plan = curation.mixing_plan(docs, "lang", {"en": 1.0}, budget_tokens=500)
    # en: 40 docs x 5 tokens = 200 avail, target 500 -> epochs 2, residual 100
    p = {r.lang: r for r in plan.collect()}
    assert (p["en"].epochs, p["en"].residual_tokens) == (2, 100)

    out = curation.apply_mixing_plan(docs, plan, "lang").collect()
    assert all(r.lang == "en" for r in out)                 # de dropped
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.epoch)
    assert set(per_doc) == set(range(40))                   # every doc present
    for epochs in per_doc.values():
        assert sorted(epochs) in ([1, 2], [1, 2, 3])        # 2 or 3 copies
    n_extra = sum(1 for e in per_doc.values() if len(e) == 3)
    assert 0 < n_extra < 40                                 # residual sampled some

    again = sorted(
        (r.doc_id, r.epoch)
        for r in curation.apply_mixing_plan(
            docs.repartition(7), plan, "lang"
        ).collect()
    )
    assert again == sorted((r.doc_id, r.epoch) for r in out)


def test_quality_rules_nonterminating_threshold_no_overflow(spark):
    """A custom threshold like 1/3 has a 10^16 exact-rational denominator;
    the cross-multiplication must run in decimal128, not overflow BIGINT
    under ANSI mode."""
    docs = spark.createDataFrame(
        [(1, "the data pipeline reads the parquet files quickly today " * 50)],
        "doc_id long, text string",
    )
    out = curation.quality_filter(
        docs, rules={"max_dup_3gram_char_fraction": 1 / 3,
                     "min_uniq_ratio": 0.1 + 0.2}  # 0.30000000000000004
    ).count()
    assert out in (0, 1)  # no ArithmeticException is the property


def test_mixing_plan_rejects_unknown_weight_keys(spark):
    docs = spark.createDataFrame(
        [(1, "a b", "en")], "doc_id long, text string, lang string"
    )
    with pytest.raises(ValueError, match="english"):
        curation.mixing_plan(docs, "lang", {"english": 1.0}, 10)


def test_apply_mixing_plan_tolerates_colliding_doc_columns(spark):
    """A docs table that itself carries n_tokens (pack_sequences output
    does) must join the plan unambiguously; a pre-existing epoch column
    raises instead of being silently shadowed."""
    docs = spark.createDataFrame(
        [(i, "tok tok", "en", 2) for i in range(4)],
        "doc_id long, text string, lang string, n_tokens long",
    )
    plan = curation.mixing_plan(docs, "lang", {"en": 1.0}, budget_tokens=16)
    out = curation.apply_mixing_plan(docs, plan, "lang").collect()
    assert len(out) == 8  # 8 tokens avail, target 16 -> exactly 2 epochs
    assert all(r.n_tokens == 2 for r in out)  # docs' own column survives

    with pytest.raises(ValueError, match="epoch"):
        curation.apply_mixing_plan(
            docs.withColumn("epoch", F.lit(1)), plan, "lang"
        )


def test_chunk_documents_sliding_windows(spark):
    """Hand-checked sliding windows: max 4, overlap 1 -> stride 3;
    10 tokens -> starts 1,4,7,10 -> lengths 4,4,4,1."""
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    out = {}
    for r in curation.chunk_documents(docs, max_tokens=4, overlap=1).collect():
        out.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens, r.chunk))
    for v in out.values():
        v.sort()
    assert out[1] == [
        (0, 4, "w0 w1 w2 w3"),
        (1, 4, "w3 w4 w5 w6"),
        (2, 4, "w6 w7 w8 w9"),
        (3, 1, "w9"),
    ]
    assert out[2] == [(0, 2, "a b")]
    assert 3 not in out  # empty doc -> no chunks

    # overlapping windows cover every token; empty overlap partitions
    flat = curation.chunk_documents(docs, max_tokens=4, overlap=0).collect()
    doc1 = sorted(
        (r.chunk_idx, r.chunk) for r in flat if r.doc_id == 1
    )
    assert " ".join(c for _, c in doc1).split() == [f"w{i}" for i in range(10)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        curation.chunk_documents(docs, max_tokens=4, overlap=4)


def test_chunk_documents_zero_shuffle(spark):
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = (
        curation.chunk_documents(docs, max_tokens=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:1200]


def test_filter_blocked_domains_suffix_match(spark):
    """Blocked registrable domains ban every subdomain; similar-looking
    but distinct hosts (notbad.net) survive; docs without a URL are kept."""
    docs = spark.createDataFrame(
        [
            (1, "https://ok.org/x"),
            (2, "https://bad.net/x"),
            (3, "https://cdn.ads.bad.net/y"),   # subdomain of banned
            (4, "https://notbad.net/z"),        # suffix is 'bad.net'? NO —
                                                # dot-suffixes only
            (5, "no url in this text"),
            (6, "HTTPS://BAD.NET/CAPS"),        # case-insensitive...
        ],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame([("bad.net",)], "domain string")
    kept = sorted(
        r.doc_id
        for r in curation.filter_blocked_domains(docs, blocked).collect()
    )
    # 6 is kept: the regex requires lowercase scheme (planted URLs are
    # normalized); host case is folded AFTER extraction
    assert kept == [1, 4, 5, 6]

    lower6 = docs.withColumn(
        "url", F.when(F.col("doc_id") == 6, "https://BAD.NET/CAPS").otherwise(
            F.col("url")
        )
    )
    kept2 = sorted(
        r.doc_id
        for r in curation.filter_blocked_domains(lower6, blocked).collect()
    )
    assert kept2 == [1, 4, 5]  # host case folded -> blocked


def test_filter_blocked_domains_broadcasts_blocklist(spark):
    docs = spark.createDataFrame(
        [(1, "https://a.b/x")], "doc_id long, url string"
    )
    blocked = spark.createDataFrame([("b",)], "domain string")
    plan = (
        curation.filter_blocked_domains(docs, blocked)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_clean_lines_rules(spark):
    """Each C4 rule on a hand-built doc: punctuation, min-words,
    javascript marker, brace/lorem doc kills, min-lines doc drop."""
    from vlm_data_pipeline_spark.operators.curation import clean_lines

    rows = [
        # doc 1: 3 good lines, 3 bad ones
        (1, "A good first sentence here.\nno punctuation on this line\n"
            "Tiny.\nPlease enable JavaScript now.\nSecond good line stays!\n"
            'He said "fine."'),
        # doc 2: brace anywhere kills the whole doc
        (2, "A perfectly fine sentence here.\n{ config }"),
        # doc 3: lorem ipsum (any case) kills the whole doc
        (3, "A perfectly fine sentence here.\nLorem IPSUM dolor."),
        # doc 4: only one good line -> below min_lines=2
        (4, "Only one good sentence here.\nnope"),
        # doc 5: trailing/leading spaces are trimmed before the rules
        (5, "  Padded good sentence one.  \n  Padded good sentence two!  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in clean_lines(docs, min_words=3, min_lines=2).collect()
    }
    assert set(out) == {1, 5}
    assert out[1].n_lines == 6 and out[1].n_kept == 3
    assert out[1].text == (
        "A good first sentence here.\nSecond good line stays!\n"
        'He said "fine."'
    )
    assert out[5].n_kept == 2
    assert out[5].text == (
        "Padded good sentence one.\nPadded good sentence two!"
    )


def test_clean_lines_zero_shuffle(spark, sf_dir):
    from vlm_data_pipeline_spark.operators.curation import clean_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        clean_lines(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_clean_lines_crlf_and_closing_brace(spark):
    """CRLF documents must clean exactly like LF ones (the \\r?\\n split;
    a space-only trim would leave trailing \\r and wipe the doc), and a
    closing brace alone kills a doc just like an opening one (C4 drops
    pages containing curly brackets, either side)."""
    from vlm_data_pipeline_spark.operators.curation import clean_lines

    rows = [
        (1, "A good crlf sentence one.\r\nA good crlf sentence two!\r\n"),
        (2, "A good sentence here.\nAnother good one stays.\n...config } end."),
        (3, "A good sentence here.\nAnother good one stays.\n{ config start"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in clean_lines(docs, min_lines=2).collect()}
    assert set(out) == {1}
    assert out[1].n_kept == 2
    assert out[1].text == (
        "A good crlf sentence one.\nA good crlf sentence two!"
    )


def test_clean_lines_idempotent(spark, sf_dir):
    """Cleaning a cleaned corpus is a no-op: every surviving line already
    passes every line rule and every surviving doc passes the doc rules
    — the fixed-point property that makes the stage safe to re-run in a
    resumed pipeline."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.operators.curation import clean_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(".\nA planted good second sentence here."),
            F.lit("\nno terminal punctuation so this one drops"),
        ).alias("text"),
    )
    once = clean_lines(docs, min_lines=1)
    twice = clean_lines(
        once.select("doc_id", "text"), min_lines=1
    )
    a = {(r.doc_id, r.n_kept, r.text) for r in once.collect()}
    b = {(r.doc_id, r.n_kept, r.text) for r in twice.collect()}
    assert a == b
    assert all(r.n_lines == r.n_kept for r in twice.collect())


def test_clean_lines_fuzz_invariants(spark):
    """Random unicode text never crashes the stage, and the structural
    invariants hold: n_kept <= n_lines, output text contains exactly
    n_kept newline-joined lines, every kept line passes every rule."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vlm_data_pipeline_spark.operators.curation import clean_lines

    texts = st.lists(
        st.text(alphabet=st.characters(codec="utf-8"), max_size=60),
        min_size=1,
        max_size=6,
    )

    @settings(max_examples=30, deadline=None)
    @given(parts=texts)
    def run(parts):
        text = "\n".join(parts)
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = clean_lines(docs, min_words=2, min_lines=1).collect()
        assert len(rows) <= 1
        if rows:
            r = rows[0]
            assert 1 <= r.n_kept <= r.n_lines
            kept = r.text.split("\n")
            assert len(kept) == r.n_kept
            ascii_ws = " \t\n\r\x0b\x0c"
            for line in kept:
                # Spark/RE2 \s is ASCII-only; unicode spaces (\xa0) are
                # deliberately NOT stripped, so compare against the same
                # ASCII-whitespace strip, not Python's unicode strip()
                assert line == line.strip(ascii_ws) and line
                assert line[-1] in '.!?"'
                assert len(line.split()) >= 2
                assert "javascript" not in line.lower()

    run()


def test_dsir_feature_buckets_count_occurrences(spark):
    """DSIR features are NON-distinct hashed bigrams: 'x y x y' emits
    three bigrams (x_y, y_x, x_y) so the x_y bucket appears twice; a
    one-token doc emits none."""
    docs = spark.createDataFrame(
        [(1, "x y x y"), (2, "solo")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r.fb
        for r in docs.select(
            "doc_id",
            curation.dsir_feature_buckets(F.col("text"), 16).alias("fb"),
        ).collect()
    }
    assert rows[2] == []
    assert len(rows[1]) == 3
    # x_y hashed twice -> identical bucket twice
    assert len(set(rows[1])) == 2
    assert all(0 <= b < 16 for b in rows[1])


def test_dsir_ratios_and_scores_match_formula(spark):
    """log_ratios reproduces the add-one-smoothed formula exactly (every
    bucket present), and dsir_scores equals the pure-Python sum of
    per-occurrence log ratios."""
    import math

    B = 8
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta gamma"),
            (2, "delta epsilon delta"),
            (3, "alpha beta"),
            (4, "zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    target = docs.filter(F.col("doc_id") <= 2)
    raw = docs.filter(F.col("doc_id") > 2)
    feats = {
        r.doc_id: r.fb
        for r in docs.select(
            "doc_id", curation.dsir_feature_buckets(F.col("text"), B).alias("fb")
        ).collect()
    }
    ct, cr = [0] * B, [0] * B
    for d in (1, 2):
        for b in feats[d]:
            ct[b] += 1
    for d in (3, 4):
        for b in feats[d]:
            cr[b] += 1
    nt, nr = sum(ct), sum(cr)
    expect_lr = [
        math.log((ct[b] + 1) / (nt + B)) - math.log((cr[b] + 1) / (nr + B))
        for b in range(B)
    ]

    ratios = curation.dsir_log_ratios(target, raw, n_buckets=B)
    got = {r.bucket: r.log_ratio for r in ratios.collect()}
    assert sorted(got) == list(range(B))
    for b in range(B):
        assert got[b] == pytest.approx(expect_lr[b], abs=1e-12)

    scored = {
        r.doc_id: r.score
        for r in curation.dsir_scores(raw, ratios, n_buckets=B).collect()
    }
    for d in (3, 4):
        assert scored[d] == pytest.approx(
            sum(expect_lr[b] for b in feats[d]), abs=1e-9
        )


def test_dsir_scores_zero_shuffle(spark):
    """The scoring pass is an in-row fold against the ONE-row broadcast
    ratio array: no shuffle Exchange, one BroadcastExchange."""
    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}") for i in range(20)],
        "doc_id long, text string",
    )
    ratios = curation.dsir_log_ratios(
        docs.limit(5), docs, n_buckets=8
    )
    plan = (
        curation.dsir_scores(docs, ratios, n_buckets=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastExchange") == 1, plan[:1200]
    assert plan.count("Exchange") == 1, plan[:1200]


def test_dsir_scores_match_python_at_paper_scale(spark):
    """DSIR's published configuration is 10k hashed buckets. The score
    must equal, to the LAST BIT, the pure-Python sum of the collected
    log ratios over the doc's buckets in ascending order; a featureless
    doc scores 0.0."""
    B = 10_000
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i + 1) % 5} w{i % 3} w{(i * 3) % 11}") for i in range(60)]
        + [(999, "solo")],  # < 2 tokens → featureless, must score 0.0
        "doc_id long, text string",
    )
    ratios = curation.dsir_log_ratios(docs.limit(9), docs, n_buckets=B)
    lr = {r.bucket: r.log_ratio for r in ratios.collect()}
    feats = {
        r.doc_id: r.fb
        for r in docs.select(
            "doc_id", curation.dsir_feature_buckets(F.col("text"), B).alias("fb")
        ).collect()
    }
    want = {}
    for d, fb in feats.items():
        acc = 0.0
        for b in sorted(fb):
            acc += lr[b]
        want[d] = acc
    got = {
        r.doc_id: r.score
        for r in curation.dsir_scores(docs, ratios, n_buckets=B).collect()
    }
    assert got == want  # exact float equality, no tolerance
    assert got[999] == 0.0


def test_dsir_scores_rejects_wrong_bucket_count(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    ratios = curation.dsir_log_ratios(docs, docs, n_buckets=8)
    with pytest.raises(ValueError, match="exactly once"):
        curation.dsir_scores(docs, ratios, n_buckets=16)


def test_dsir_scores_broadcast_path_validates_ratio_table(spark):
    """A malformed ratio table fails at call time, before the broadcast
    row is built: a missing bucket would null scores, a duplicated or
    out-of-range one would shift every later lookup."""
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    good = curation.dsir_log_ratios(docs, docs, n_buckets=8)
    missing = good.filter(F.col("bucket") != 3)
    duplicated = good.union(good.limit(1))
    out_of_range = good.withColumn(
        "bucket", F.when(F.col("bucket") == 7, 8).otherwise(F.col("bucket"))
    )
    for bad in (missing, duplicated, out_of_range):
        with pytest.raises(ValueError, match="exactly once"):
            curation.dsir_scores(docs, bad, n_buckets=8)
    # and the well-formed table still scores
    assert curation.dsir_scores(docs, good, n_buckets=8).count() == 1


def test_quality_classifier_separates_planted_corpus(spark):
    """Linearly separable corpus: after a few iterations positives score
    near 1 and negatives near 0, with a clean margin."""
    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, 1, "good clean prose flows here nicely with structure today"))
        else:
            rows.append((i, 0, "spam junk buy now click here free offer winner prize"))
    docs = spark.createDataFrame(rows, "doc_id long, label int, text string")
    w = curation.train_quality_classifier(docs, n_buckets=64, iters=8, lr=200.0)
    scored = {
        r.doc_id: r.score
        for r in curation.quality_classifier_scores(docs, w).collect()
    }
    pos = [scored[i] for i in range(0, 40, 2)]
    neg = [scored[i] for i in range(1, 40, 2)]
    assert min(pos) > 0.9 and max(neg) < 0.1


def test_quality_classifier_one_step_hand_computed(spark):
    """One gradient step on a two-doc corpus, replicated exactly in pure
    Python over the collected feature buckets (the fixed-point floor
    quantization makes the update integer-reproducible)."""
    import math

    from pyspark.sql import functions as F

    B, LR, S = 16, 10.0, 10**12
    docs = spark.createDataFrame(
        [(1, 1, "alpha beta gamma"), (2, 0, "delta epsilon zeta eta")],
        "doc_id long, label int, text string",
    )
    feats = {
        r.doc_id: r.fb
        for r in docs.select(
            "doc_id", curation.dsir_feature_buckets(F.col("text"), B).alias("fb")
        ).collect()
    }
    expect = [0] * B
    grads: dict[int, int] = {}
    for d, y in ((1, 1.0), (2, 0.0)):
        q = math.floor((0.5 - y) * S / len(feats[d]) + 0.5)
        for b in feats[d]:
            grads[b] = grads.get(b, 0) + q
    for b, g in grads.items():
        expect[b] -= math.floor(LR * g / 2 + 0.5)

    got = curation.train_quality_classifier(docs, n_buckets=B, iters=1, lr=LR)
    assert got == expect


def test_quality_classifier_deterministic_across_partitionings(spark):
    docs = spark.createDataFrame(
        [(i, i % 3 == 0, f"w{i} w{i+1} w{i+2} w{i%5} common words here") for i in range(60)],
        "doc_id long, label boolean, text string",
    )
    w1 = curation.train_quality_classifier(docs, n_buckets=32, iters=3, lr=25.0)
    w2 = curation.train_quality_classifier(
        docs.repartition(13), n_buckets=32, iters=3, lr=25.0
    )
    assert w1 == w2


def test_quality_classifier_scoring_zero_shuffle_and_featureless(spark):
    docs = spark.createDataFrame(
        [(1, "two words here ok"), (2, "solo")], "doc_id long, text string"
    )
    w = [0] * 16
    w[3] = 10**12
    scored = curation.quality_classifier_scores(docs, w)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan[:1200]
    out = {r.doc_id: r.score for r in scored.collect()}
    assert out[2] == 0.5  # < 2 tokens -> no bigram features -> sigma(0)


def test_quality_classifier_empty_training_raises(spark):
    docs = spark.createDataFrame([(1, 1, "solo")], "doc_id long, label int, text string")
    with pytest.raises(ValueError, match="no feature-bearing"):
        curation.train_quality_classifier(docs, n_buckets=8)


def test_dsir_sample_extreme_scores_dominate(spark):
    """With overwhelming score separation the Gumbel noise (typically in
    [-2, 6]) cannot flip selection: the 5 high-score docs are always
    picked."""
    rows = [(i, 100.0 if i < 5 else -100.0) for i in range(50)]
    scored = spark.createDataFrame(rows, "doc_id long, score double")
    picked = {r.doc_id for r in curation.dsir_sample(scored, 5).collect()}
    assert picked == {0, 1, 2, 3, 4}


def test_dsir_sample_deterministic_and_seeded(spark):
    scored = spark.createDataFrame(
        [(i, 0.0) for i in range(200)], "doc_id long, score double"
    )
    a = sorted(r.doc_id for r in curation.dsir_sample(scored, 20).collect())
    b = sorted(
        r.doc_id
        for r in curation.dsir_sample(scored.repartition(7), 20).collect()
    )
    assert a == b  # partitioning-independent
    c = sorted(
        r.doc_id
        for r in curation.dsir_sample(scored, 20, seed="other").collect()
    )
    assert a != c  # seed actually enters the draw


def test_dsir_sample_plan_is_take_ordered(spark):
    scored = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "doc_id long, score double"
    )
    df = curation.dsir_sample(scored, 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1200]
    with pytest.raises(ValueError):
        curation.dsir_sample(scored, 0)


def test_dsir_sample_proportionality(spark):
    """Statistical sanity over 40 seeds: docs with score ln(4) are
    selected ~4x as often as score-0 docs (importance resampling,
    not top-k by score)."""
    import math

    rows = [(i, math.log(4.0) if i < 50 else 0.0) for i in range(500)]
    scored = spark.createDataFrame(rows, "doc_id long, score double")
    hi = lo = 0
    for s in range(40):
        picked = curation.dsir_sample(scored, 50, seed=f"s{s}").collect()
        for r in picked:
            if r.doc_id < 50:
                hi += 1
            else:
                lo += 1
    # E[hi per draw]: 50 docs at weight 4 vs 450 at weight 1 -> expected
    # hi fraction ~ 4*50/(4*50+450) = 0.307 per pick without replacement
    # effects; allow a generous band around 0.3
    frac = hi / (hi + lo)
    assert 0.2 < frac < 0.45, frac


def test_dsir_scores_rejects_duplicate_or_gapped_buckets(spark):
    """Review-pass regression: a ratio table with the right row COUNT but
    a duplicated bucket (and so a missing one) must fail fast with a
    clear error, not a runtime duplicate-map-key crash or silent nulls."""
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    bad = spark.createDataFrame(
        [(0, 0.1), (1, 0.2), (1, 0.3), (3, 0.4)],
        "bucket long, log_ratio double",
    )
    with pytest.raises(ValueError, match="exactly once"):
        curation.dsir_scores(docs, bad, n_buckets=4)


def test_pareto_select_monotone_and_deterministic(spark):
    """Survival is monotone in score (same draws, higher score keeps a
    superset), near-1 scores almost always survive, near-0 scores almost
    never, and the kept set is partitioning-independent."""
    ids = list(range(500))
    hi = spark.createDataFrame([(i, 0.999) for i in ids], "doc_id long, score double")
    lo = spark.createDataFrame([(i, 0.01) for i in ids], "doc_id long, score double")
    mid = spark.createDataFrame([(i, 0.5) for i in ids], "doc_id long, score double")
    n_hi = curation.pareto_select(hi).count()
    n_lo = curation.pareto_select(lo).count()
    n_mid = curation.pareto_select(mid).count()
    assert n_hi > 480  # pareto draw > 0.001 almost surely
    assert n_lo < 20
    assert n_lo <= n_mid <= n_hi
    kept1 = {r.doc_id for r in curation.pareto_select(mid).collect()}
    kept2 = {r.doc_id for r in curation.pareto_select(mid.repartition(7)).collect()}
    assert kept1 == kept2
    with pytest.raises(ValueError):
        curation.pareto_select(mid, alpha=0)


def test_pareto_select_zero_shuffle(spark):
    docs = spark.createDataFrame([(1, 0.9)], "doc_id long, score double")
    plan = (
        curation.pareto_select(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:800]


def test_shuffle_shards_is_a_permutation(spark):
    """Every doc lands in exactly one (shard, pos); positions are dense
    1..|shard|; the assignment is partitioning-independent and changes
    with the seed."""
    from vlm_data_pipeline_spark.operators.curation import shuffle_shards

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(200)], "doc_id long, text string"
    )
    out = shuffle_shards(docs, n_shards=8).collect()
    assert len(out) == 200
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    total = 0
    for shard, poses in by_shard.items():
        assert sorted(poses) == list(range(1, len(poses) + 1)), shard
        total += len(poses)
    assert total == 200
    again = shuffle_shards(docs.repartition(13), n_shards=8).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in again} == {
        (r.doc_id, r.shard, r.pos) for r in out
    }
    other = shuffle_shards(docs, n_shards=8, seed="other").collect()
    assert {(r.doc_id, r.shard, r.pos) for r in other} != {
        (r.doc_id, r.shard, r.pos) for r in out
    }
    with pytest.raises(ValueError):
        shuffle_shards(docs, 0)


def test_gopher_extended_rules_hand_computed(spark):
    """Each of the four remaining Gopher rules fires on its planted doc
    and passes on clean prose; empty denominators pass vacuously."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "clean prose with words\nanother normal line here"),
            (2, "- one\n- two\n- three\n* four\n• five"),  # 5/5 bullets
            (3, "ends here...\nalso dots...\nand…\nplain"),   # 3/4 ellipsis
            (4, "12 34 56 78 90 xx"),                          # 1/6 alpha
            (5, "few words # ### ..."),                        # 5 symbols / 5 words
            (6, ""),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            *[
                v.alias(k)
                for k, v in curation.gopher_extended_predicates(
                    F.col("text")
                ).items()
            ],
        ).collect()
    }
    assert all(
        rows[1][k] for k in ("bullet_ok", "ellipsis_ok", "alpha_ok", "symbol_ok")
    )
    assert not rows[2].bullet_ok          # 5/5 = 1.0 > 0.9
    assert not rows[3].ellipsis_ok        # 3/4 > 0.3
    assert not rows[4].alpha_ok           # 1/6 < 0.8
    assert not rows[5].symbol_ok          # 5/6 > 0.1
    assert all(
        rows[6][k] for k in ("bullet_ok", "ellipsis_ok", "alpha_ok", "symbol_ok")
    )


def test_hash_split_exact_widths_and_stability(spark):
    """Quantized interval widths are exact integers (remainder to the
    last split); assignment is identical under repartitioning; guards
    reject bad fraction maps."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.operators.curation import hash_split

    df = spark.createDataFrame([(i,) for i in range(3000)], "doc_id long")
    out = hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # hash buckets approximate the fractions (binomial, n=3000)
    assert abs(counts["train"] - 2400) < 150
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            df.repartition(13), {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert a == b
    # a doc's split never changes when the corpus around it changes
    sub = hash_split(
        df.filter(F.col("doc_id") < 100), {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    assert all(a[r["doc_id"]] == r["split"] for r in sub.collect())
    with _pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, {"train": 0.5, "val": 0.4})
    with _pytest.raises(ValueError, match="non-empty"):
        hash_split(df, {})
    # uneven denominator remainder: 1/3 splits still cover every bucket
    thirds = hash_split(df, {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})
    assert thirds.filter(F.col("split").isNull()).count() == 0


def test_perplexity_buckets_equal_counts_and_stability(spark):
    """Equal-count cuts per language (sizes differ by <= 1), identical
    assignment under repartitioning, global mode works, label guard."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.operators.curation import perplexity_buckets

    rows = [(i, "en" if i % 3 else "fr", float((i * 37) % 101) / 10) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, s double")
    out = perplexity_buckets(df, "s", lang_col="lang")
    sizes = {
        (r["lang"], r["bucket"]): r["n"]
        for r in out.groupBy("lang", "bucket").agg(F.count("*").alias("n")).collect()
    }
    for lang, total in (("en", 133), ("fr", 67)):
        per = [sizes[(lang, b)] for b in ("head", "middle", "tail")]
        assert sum(per) == total
        assert max(per) - min(per) <= 1
    # low scores land in head
    en_head = out.filter((F.col("lang") == "en") & (F.col("bucket") == "head"))
    en_tail = out.filter((F.col("lang") == "en") & (F.col("bucket") == "tail"))
    assert en_head.agg(F.max("s")).collect()[0][0] <= \
        en_tail.agg(F.min("s")).collect()[0][0]
    a = {r["doc_id"]: r["bucket"] for r in out.collect()}
    b = {
        r["doc_id"]: r["bucket"]
        for r in perplexity_buckets(df.repartition(11), "s", lang_col="lang").collect()
    }
    assert a == b
    halves = perplexity_buckets(df, "s", labels=("keep", "drop"))
    n_by = {r["bucket"]: r["n"] for r in
            halves.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    assert n_by == {"keep": 100, "drop": 100}
    with _pytest.raises(ValueError, match="labels"):
        perplexity_buckets(df, "s", labels=("only",))


def test_fix_encoding_restores_sloppy_cp1252(spark):
    """Round-trip: UTF-8 bytes mis-decoded by sloppy-cp1252 (unmapped
    bytes pass through — how â€(9d) arises) are fully restored for
    every sequence in the table; clean text is untouched (idempotent)."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.functions.text import fix_encoding

    UNMAPPED = {0x81, 0x8D, 0x8F, 0x90, 0x9D}

    def sloppy(b: bytes) -> str:
        return "".join(
            bytes([x]).decode("cp1252") if x not in UNMAPPED else chr(x)
            for x in b
        )

    goods = [
        "it’s “fine” — ok… café",
        "touché señor – naïve mañana",  # en dash + ñ
        "plain ascii stays put",
        "﻿BOM and zero​width go",
    ]
    rows = [(i, sloppy(g.encode("utf-8")) if i < 2 else g) for i, g in enumerate(goods)]
    df = spark.createDataFrame(rows, "i int, t string")
    out = {r["i"]: r["f"] for r in
           df.select("i", fix_encoding(F.col("t")).alias("f")).collect()}
    assert out[0] == goods[0]
    assert out[1] == goods[1]
    assert out[2] == goods[2]
    assert out[3] == "BOM and zerowidth go"
    # idempotent: fixing already-fixed text changes nothing
    df2 = spark.createDataFrame([(g,) for g in out.values()], "t string")
    again = [r["f"] for r in
             df2.select(fix_encoding(F.col("t")).alias("f")).collect()]
    assert sorted(again) == sorted(out.values())


def test_html_to_text_strips_boilerplate(spark):
    """Script/style content dies entirely, comments vanish, block
    structure becomes newlines, entities decode one level, whitespace
    collapses; plain text passes through unchanged."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.functions.text import html_to_text

    html = (
        '<html><head><script>var x = "<secret>";</script>'
        "<style>body{color:red}</style></head><body>"
        "<!-- hidden -->"
        '<nav>Home | About</nav>'
        "<p>first\t\tpara</p>"
        "<ul><li>one</li><li>two</li></ul>"
        "<p>a &amp;amp; b stays half-encoded</p>"
        "<P>UPPER closer</P></body></html>"
    )
    df = spark.createDataFrame([(1, html), (2, "no markup at all")], "i int, t string")
    out = {r["i"]: r["x"] for r in
           df.select("i", html_to_text(F.col("t")).alias("x")).collect()}
    got = out[1]
    assert "secret" not in got and "color" not in got and "hidden" not in got
    assert "Home | About" in got
    assert "first para" in got  # tabs collapsed
    assert "one\ntwo" in got  # list items on their own lines
    assert "a &amp; b stays half-encoded" in got  # exactly one decode level
    assert "UPPER closer" in got  # case-insensitive tag handling
    assert out[2] == "no markup at all"


def test_fix_encoding_idempotent_on_mixed_artifacts(spark):
    """The review counterexample: 'Ã¢€™' (a â€™ whose first byte was
    itself re-encoded) repairs fully in ONE pass because the Ã-block
    runs before the â€-block; a second pass changes nothing."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.functions.text import fix_encoding

    mixed = chr(0xC3) + chr(0xA2) + chr(0x20AC) + chr(0x2122)
    df = spark.createDataFrame([(mixed,)], "t string")
    once = df.select(fix_encoding(F.col("t")).alias("f")).collect()[0]["f"]
    assert once == chr(0x2019)  # fully repaired in one pass
    twice = (
        spark.createDataFrame([(once,)], "t string")
        .select(fix_encoding(F.col("t")).alias("f"))
        .collect()[0]["f"]
    )
    assert twice == once


def test_hash_split_rounds_widths_exactly(spark):
    """0.57*10000 is 5699.999… as a double — widths must round, not
    truncate, and a 0.0 fraction must receive zero rows."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.operators.curation import hash_split

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = hash_split(df, {"a": 0.57, "b": 0.43})
    # boundary check via the library's own hash: bucket 5699 is 'a'
    from vlm_data_pipeline_spark.functions.text import seeded_hash60

    b = df.select(
        "doc_id",
        F.pmod(
            seeded_hash60(F.lit("split"), F.col("doc_id").cast("string")),
            F.lit(10000),
        ).alias("b"),
    )
    joined = {r["doc_id"]: r["split"] for r in out.collect()}
    for r in b.collect():
        want = "a" if r["b"] < 5700 else "b"
        assert joined[r["doc_id"]] == want, (r["doc_id"], r["b"])
    zero = hash_split(df, {"x": 0.5, "y": 0.5, "z": 0.0})
    assert zero.filter(F.col("split") == "z").count() == 0


def test_hash_split_pathological_rounding_fails_loudly(spark):
    """Round-6 advice: three 0.3335 fractions at denominator 1000 each
    round UP (334*3 = 1002 > 1000) — the remainder assignment would
    silently make the last split unreachable; it must raise instead.
    Likewise a positive fraction that quantizes to zero buckets."""
    from vlm_data_pipeline_spark.operators.curation import hash_split

    df = spark.createDataFrame([(1,)], "doc_id long")
    # 0.351/0.351/0.251 at denominator 10 round to 4+4+3 = 11 buckets,
    # driving the remainder width of 'd' to -1
    with pytest.raises(ValueError, match="raise denominator"):
        hash_split(
            df, {"a": 0.351, "b": 0.351, "c": 0.251, "d": 0.047},
            denominator=10,
        )
    with pytest.raises(ValueError, match="zero buckets"):
        hash_split(
            df, {"a": 0.9996, "b": 0.0004}, denominator=1000
        )


def test_corpus_diff_classifies_all_statuses(spark):
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.operators.curation import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B!"), (4, None), (5, "new"), (6, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {
        1: "same",
        2: "changed",
        3: "removed",
        4: "same",  # NULL == NULL null-safely
        5: "added",
        6: "added",
    }
