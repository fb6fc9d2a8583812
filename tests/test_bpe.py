"""BPE tokenizer training/encoding: the classic Sennrich fixture with
hand-computed merges, leftmost-greedy semantics, and scale-shape checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vlm_data_pipeline_spark.operators.lm import (
    apply_bpe,
    symbol_pair_counts,
    train_bpe,
)


def test_train_bpe_classic_corpus(spark):
    """Sennrich's running example shape: a corpus dominated by 'low'-
    family words learns the l+o, lo+w fusions first (weighted by word
    frequency), then the shared er suffix."""
    rows = [(1, "low low low low low lower lower newest widest")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(docs, num_merges=4)
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")
    # after low fuses, the most frequent remaining pairs involve the
    # 'est' suffix (newest+widest) and 'lower'
    assert len(merges) == 4
    assert all(isinstance(a, str) and isinstance(b, str) for a, b in merges)


def test_apply_bpe_hand_computed(spark):
    merges = [("l", "o"), ("lo", "w"), ("e", "r")]
    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "new newer wider")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.bpe_tokens for r in apply_bpe(docs, merges).collect()
    }
    assert got[1] == ["low", "low", "er", "low", "e", "s", "t"]
    assert got[2] == ["n", "e", "w", "n", "e", "w", "er", "w", "i", "d", "er"]


def test_merge_leftmost_greedy_overlap(spark):
    """'a a a' under merge (a, a) → [aa, a], never [a, aa] or [aa, aa]'s
    phantom re-merge — the overlap rule that distinguishes BPE from a
    global string replace."""
    docs = spark.createDataFrame([(1, "aaa aaaa")], "doc_id long, text string")
    got = apply_bpe(docs, [("a", "a")]).collect()[0].bpe_tokens
    assert got == ["aa", "a", "aa", "aa"]


def test_apply_bpe_zero_shuffle(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        apply_bpe(docs, [("t", "h"), ("th", "e")])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_symbol_pair_counts_weighted(spark):
    words = spark.createDataFrame(
        [(5, ["a", "b", "c"]), (2, ["b", "c"])],
        "freq long, syms array<string>",
    )
    got = {
        (r.a, r.b): r["count"] for r in symbol_pair_counts(words).collect()
    }
    assert got == {("a", "b"): 5, ("b", "c"): 7}


def test_train_bpe_validation_and_early_stop(spark):
    docs = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    with pytest.raises(ValueError, match="num_merges"):
        train_bpe(docs, 0)
    # single-char words only → no pairs → training stops early, no crash
    assert train_bpe(docs, 5) == []


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece)
# ---------------------------------------------------------------------------


def test_unigram_seed_vocab_hand_computed(spark):
    """Corpus 'ab ab b': substr counts — 'a':2, 'b':3, 'ab':2; all chars
    kept, multi-char pieces fill remaining slots by freq."""
    from vlm_data_pipeline_spark.operators.lm import unigram_seed_vocab

    docs = spark.createDataFrame([(1, "ab ab b")], "doc_id long, text string")
    got = {
        r.piece: r.freq
        for r in unigram_seed_vocab(docs, vocab_size=3, max_piece_len=2).collect()
    }
    assert got == {"a": 2, "b": 3, "ab": 2}
    # vocab_size below the char count is a coverage violation
    import pytest as _pt

    with _pt.raises(ValueError, match="coverage"):
        unigram_seed_vocab(docs, vocab_size=1, max_piece_len=2).collect()


def test_unigram_viterbi_hand_computed():
    """Model {'ab': -1, 'a': -2, 'b': -2, 'c': -2.5}: word 'abc' costs
    3.5 via ab+c vs 6.5 via a+b+c -> Viterbi picks ['ab', 'c']."""
    from vlm_data_pipeline_spark.operators.lm import _py_viterbi_word

    model = {"ab": -1.0, "a": -2.0, "b": -2.0, "c": -2.5}
    prices = {p: -lp for p, lp in model.items()}
    assert _py_viterbi_word("abc", prices, 4, 20.0) == ["ab", "c"]
    assert _py_viterbi_word("", prices, 4, 20.0) == []


def test_unigram_viterbi_tie_breaks_shorter_last_piece():
    """'aa' with p(aa) = p(a)·p(a): equal cost -> the documented
    tie-break keeps the larger back pointer (shorter last piece)."""
    from vlm_data_pipeline_spark.operators.lm import _py_viterbi_word

    model = {"aa": -4.0, "a": -2.0}
    prices = {p: -lp for p, lp in model.items()}
    assert _py_viterbi_word("aa", prices, 4, 20.0) == ["a", "a"]


def test_unigram_em_learns_whole_words(spark):
    """Hard EM on a repetitive corpus promotes whole-word pieces: the
    trained model segments 'abab' as ONE piece."""
    from vlm_data_pipeline_spark.operators.lm import (
        train_unigram_lm,
        unigram_encode,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab abc"), (2, "abab baba")], "doc_id long, text string"
    )
    m = train_unigram_lm(docs, vocab_size=20, iters=2, max_piece_len=4)
    enc = {r.doc_id: r.pieces for r in unigram_encode(docs, m, 4).collect()}
    assert enc[1] == ["abab", "abab", "abc"]
    assert enc[2] == ["abab", "baba"]


def test_unigram_encode_total_and_concatenation(spark):
    """Encoding is TOTAL (unknown chars fall back to the UNK floor) and
    pieces always concatenate back to the original words."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.functions.text import tokens
    from vlm_data_pipeline_spark.operators.lm import (
        train_unigram_lm,
        unigram_encode,
    )

    train = spark.createDataFrame([(1, "abc abc ab")], "doc_id long, text string")
    m = train_unigram_lm(train, vocab_size=16, iters=1, max_piece_len=3)
    test = spark.createDataFrame(
        [(1, "abc zq xyzzy"), (2, "")], "doc_id long, text string"
    )
    enc = unigram_encode(test, m, 3)
    joined = enc.join(
        test.select(
            "doc_id", F.concat_ws("", tokens(F.col("text"))).alias("glued")
        ),
        "doc_id",
    ).collect()
    for r in joined:
        assert "".join(r.pieces) == r.glued
    got = {r.doc_id: r.n_pieces for r in enc.collect()}
    assert got[2] == 0


def test_unigram_encode_zero_shuffle(spark):
    from vlm_data_pipeline_spark.operators.lm import unigram_encode

    docs = spark.createDataFrame([(1, "ab ba")], "doc_id long, text string")
    plan = (
        unigram_encode(docs, {"a": -1.0, "b": -1.0}, 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan, plan[:1200]


def test_unigram_unk_is_a_penalty_not_a_reward(spark):
    """Review-pass regression: a model covering 'ab' but NOT its single
    chars must still segment 'ab' as the in-vocab piece — the UNK floor
    is a PENALTY (price above every in-vocab price), not a negative-
    cost reward that beats real pieces."""
    from vlm_data_pipeline_spark.operators.lm import unigram_encode

    docs = spark.createDataFrame([(1, "ab zq")], "doc_id long, text string")
    r = unigram_encode(docs, {"ab": -1.0}, 3).collect()[0]
    assert r.pieces == ["ab", "z", "q"]


def test_unigram_train_empty_corpus_clear_error(spark):
    from vlm_data_pipeline_spark.operators.lm import (
        train_unigram_lm,
        unigram_encode,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty corpus"):
        train_unigram_lm(docs, vocab_size=8, iters=1)
    with pytest.raises(ValueError, match="empty model"):
        unigram_encode(docs, {})
    # log p >= 10 everywhere would make the UNK floor a reward
    with pytest.raises(ValueError, match="must be positive"):
        unigram_encode(docs, {"a": 11.0})


def test_apply_bpe_matches_sequential_reference(spark):
    """apply_bpe's substring-indexed encode must equal the plain BPE rule
    — every merge of a TRAINED table (composite-on-composite ranks
    included) applied in rank order, leftmost-greedy, over the word's
    characters — and map NULL text to NULL."""
    from vlm_data_pipeline_spark.operators import lm

    texts = {
        1: "abab abab ababab abc cab",
        2: "banana bandana ban and anna nab",
        3: "aaa aa aaaa xyxy xy yx",
        4: "low low low lower lower newest widest",
        5: None,
    }
    corpus = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    merges = lm.train_bpe(corpus, num_merges=20)
    assert len(merges) == 20

    def reference(text):
        if text is None:
            return None
        out = []
        for w in text.split():
            syms = list(w)
            for a, b in merges:
                syms = lm._py_merge_pass(syms, a, b)
            out.extend(syms)
        return out

    got = {r.doc_id: r.bpe_tokens for r in lm.apply_bpe(corpus, merges).collect()}
    assert got == {i: reference(t) for i, t in texts.items()}


def test_apply_bpe_non_bmp_chars_are_one_symbol(spark):
    """A character outside the Basic Multilingual Plane is ONE initial
    symbol (a code point), never two UTF-16 surrogate halves, so a merge
    over it fires and no half-character token is emitted."""
    docs = spark.createDataFrame(
        [(1, "a\U0001F600b x\U0001F600\U0001F600")], "doc_id long, text string"
    )
    got = apply_bpe(docs, [("\U0001F600", "\U0001F600")]).collect()[0].bpe_tokens
    assert got == ["a", "\U0001F600", "b", "x", "\U0001F600\U0001F600"]


def test_apply_bpe_32k_merge_table(spark):
    """A production-size (32k-merge) table must encode: the table is
    broadcast, never in the plan, and per-word cost is substring-indexed
    and vocab-size-independent. Planted applicable merges still fire in
    rank order."""
    from vlm_data_pipeline_spark.operators import lm

    # 32k junk merges that can never apply, with real ones interleaved
    merges = [(f"q{i}x", f"z{i}w") for i in range(32_000)]
    merges[17] = ("a", "b")      # rank 17: ab
    merges[40] = ("ab", "ab")    # rank 40: abab (composite-on-composite)
    merges[99] = ("c", "d")      # rank 99: cd
    docs = spark.createDataFrame(
        [(1, "ababab cdcd plain")], "doc_id long, text string"
    )
    out = lm.apply_bpe(docs, merges).collect()[0]
    assert out.bpe_tokens == ["abab", "ab", "cd", "cd", "p", "l", "a", "i", "n"]


def test_train_bpe_local_matches_spark_loop(spark):
    """The driver-local incremental trainer (train_bpe) and the
    per-merge Spark-aggregation loop (train_bpe_iterative) must learn
    the IDENTICAL merge list — same winners, same (count desc, a asc,
    b asc) tie-breaks — on a corpus dense with ties and
    composite-on-composite merges."""
    from vlm_data_pipeline_spark.operators import lm

    corpus = spark.createDataFrame(
        [
            (1, "abab abab ababab abc cab"),
            (2, "banana bandana ban and anna nab"),
            (3, "aaa aa aaaa xyxy xy yx"),
            (4, "low low low lower lower newest widest"),
        ],
        "doc_id long, text string",
    )
    local = lm.train_bpe(corpus, num_merges=30)
    spark_loop = lm.train_bpe_iterative(corpus, num_merges=30)
    assert local == spark_loop
    # early-stop parity: ask for more merges than pairs exist
    docs1 = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    assert lm.train_bpe(docs1, 50) == lm.train_bpe_iterative(docs1, 50)


def test_train_bpe_non_bmp_word_matches_spark_loop(spark):
    """A non-BMP character (an emoji, a surrogate pair in Java) is ONE
    symbol on both trainers: the same merges, and the emoji fuses whole."""
    from vlm_data_pipeline_spark.operators import lm

    corpus = spark.createDataFrame(
        [(1, "a\U0001F600b a\U0001F600b x\U0001F600\U0001F600 ab")],
        "doc_id long, text string",
    )
    split = corpus.select(
        F.explode(F.split("text", " ")).alias("w")
    ).select(lm._chars(F.col("w")).alias("c"))
    assert [r.c for r in split.collect()][2] == ["x", "\U0001F600", "\U0001F600"]
    local = lm.train_bpe(corpus, num_merges=6)
    assert local == lm.train_bpe_iterative(corpus, num_merges=6)
    assert local[0] == ("a", "\U0001F600")


def test_train_bpe_production_merge_count(spark):
    """num_merges at production scale (2k here; the shape is identical
    at 32k) must cost ONE Spark job — the word-frequency aggregation —
    not one job per merge. Wall-clock is the witness: the old loop ran
    ~0.5s of cluster work PER MERGE; the local trainer must finish the
    whole table in seconds. The sf corpus' vocabulary fuses completely
    after ~90 merges, so plant a high-entropy synthetic one."""
    import random

    from vlm_data_pipeline_spark.operators import lm

    rng = random.Random(0)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(6, 12)))
        for _ in range(4_000)
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i * 40 : (i + 1) * 40])) for i in range(100)],
        "doc_id long, text string",
    )
    merges = lm.train_bpe(docs, num_merges=2_000)
    assert len(merges) == 2_000
    assert len(set(merges)) == 2_000  # a pair is never learned twice
    # every learned merge's parts are buildable from earlier merges or
    # single characters (well-formedness of the merge table)
    known = set()
    for a, b in merges:
        assert len(a) == 1 or a in known
        assert len(b) == 1 or b in known
        known.add(a + b)
    # and the table actually encodes (vocab-size-independent)
    out = lm.apply_bpe(docs.limit(20), merges).select("bpe_tokens").collect()
    assert all(r.bpe_tokens is not None for r in out)


def test_unigram_encode_is_min_cost_segmentation(spark):
    """Every word's pieces concatenate back to the word, and their summed
    price (−log p, added left to right; an unknown single char costs the
    UNK price 10 nats above the worst piece) equals, bit for bit, the
    minimum over ALL segmentations into pieces of at most max_piece_len
    chars — brute force, independent of the Viterbi DP."""
    import itertools

    from vlm_data_pipeline_spark.operators import lm

    corpus = spark.createDataFrame(
        [(i, "banana bandana ban and anna nab") for i in range(3)],
        "doc_id long, text string",
    )
    model = lm.train_unigram_lm(corpus, vocab_size=24, iters=2)
    max_len = 6
    unk = -min(model.values()) + 10.0

    def price(piece):
        if piece in model:
            return -model[piece]
        return unk if len(piece) == 1 else float("inf")

    def total(pieces):
        c = 0.0
        for p in pieces:
            c += price(p)
        return c

    def brute_min(word):
        best = float("inf")
        for cuts in itertools.product((0, 1), repeat=len(word) - 1):
            pieces, start = [], 0
            for i, cut in enumerate(cuts, 1):
                if cut:
                    pieces.append(word[start:i])
                    start = i
            pieces.append(word[start:])
            if max(map(len, pieces)) <= max_len:
                best = min(best, total(pieces))
        return best

    words = sorted(
        {"banana", "bandana", "ban", "and", "anna", "nab", "nabz", "abba", "q"}
    )
    docs = spark.createDataFrame(list(enumerate(words)), "doc_id long, text string")
    got = {r.doc_id: r.pieces for r in lm.unigram_encode(docs, model, max_len).collect()}
    for i, w in enumerate(words):
        assert "".join(got[i]) == w
        assert total(got[i]) == brute_min(w), (w, got[i])


def test_train_unigram_lm_beyond_10k_pieces(spark):
    """Training is not capped by plan size: a 12,000-piece seed vocabulary
    trains, and the trained model segments every word back to itself."""
    import random

    from vlm_data_pipeline_spark.operators import lm

    rng = random.Random(0)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(6, 10)))
        for _ in range(3_000)
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i * 30 : (i + 1) * 30])) for i in range(100)],
        "doc_id long, text string",
    )
    model = lm.train_unigram_lm(docs, vocab_size=12_000, iters=1, max_piece_len=4)
    assert model
    enc = lm.unigram_encode(docs, model, 4).collect()
    rebuilt = {r.doc_id: "".join(r.pieces) for r in enc}
    assert rebuilt == {
        i: "".join(words[i * 30 : (i + 1) * 30]) for i in range(100)
    }


def test_unigram_encode_32k_piece_model(spark):
    """SentencePiece production vocabs are 32k–100k pieces: encoding must
    work (the table is broadcast, never in the plan), stay total (concat
    of pieces rebuilds each word), and prefer planted high-prob pieces."""
    from vlm_data_pipeline_spark.operators import lm

    model = {f"xx{i:05d}": -20.0 for i in range(32_000)}
    model.update({c: -3.0 for c in "abcdehlnopr"})
    model["hello"] = -1.0
    model["ban"] = -1.5
    model["ana"] = -1.5
    docs = spark.createDataFrame(
        [(1, "hello banana"), (2, "unseen chars 123")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.pieces for r in lm.unigram_encode(docs, model).collect()}
    assert rows[1] == ["hello", "ban", "ana"]
    assert "".join(rows[2]) == "unseenchars123"  # total via UNK floor


def test_tokenizer_artifact_round_trips(spark, tmp_path):
    """BPE merge tables and unigram models survive the JSON artifact
    round-trip exactly — order, strings, and double log-probs — so a
    reloaded model encodes identically."""
    from vlm_data_pipeline_spark.operators.lm import (
        apply_bpe,
        load_bpe_merges,
        load_unigram_model,
        save_bpe_merges,
        save_unigram_model,
        train_bpe,
        train_unigram_lm,
        unigram_encode,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab abc"), (2, "abab baba")], "doc_id long, text string"
    )
    merges = train_bpe(docs, num_merges=4)
    p1 = str(tmp_path / "merges")
    save_bpe_merges(spark, merges, p1)
    assert load_bpe_merges(spark, p1) == merges
    enc_a = apply_bpe(docs, merges).select("doc_id", "bpe_tokens").collect()
    enc_b = apply_bpe(docs, load_bpe_merges(spark, p1)).select(
        "doc_id", "bpe_tokens"
    ).collect()
    assert sorted(map(tuple, enc_a)) == sorted(map(tuple, enc_b))

    model = train_unigram_lm(docs, vocab_size=20, iters=2, max_piece_len=4)
    p2 = str(tmp_path / "unigram")
    save_unigram_model(spark, model, p2)
    loaded = load_unigram_model(spark, p2)
    assert loaded == model  # bit-exact doubles
    e1 = unigram_encode(docs, model, 4).collect()
    e2 = unigram_encode(docs, loaded, 4).collect()
    assert sorted((r.doc_id, tuple(r.pieces)) for r in e1) == sorted(
        (r.doc_id, tuple(r.pieces)) for r in e2
    )


# ---------------------------------------------------------------------------
# WordPiece (BERT tokenizer family)
# ---------------------------------------------------------------------------


def test_wordpiece_likelihood_beats_raw_count(spark):
    """The trainer's defining difference from BPE: with pair counts
    count(t,h)=12 and count(q,z)=3 but q/z occurring ONLY together,
    the likelihood score 3/(3*3) beats 12/(100*40) — WordPiece fuses
    'qz' first where BPE would fuse 'th'."""
    from vlm_data_pipeline_spark.operators import lm

    # 'th' appears in many contexts (t and h also frequent alone);
    # 'qz' appears rarely but exclusively together
    rows = [(1, " ".join(["th"] * 12 + ["ta"] * 44 + ["ha"] * 28 + ["qz"] * 3))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = lm.train_wordpiece(docs, num_merges=1)
    assert "qz" in vocab          # likelihood argmax
    assert "th" not in vocab      # the raw-count argmax lost
    merges = lm.train_bpe(docs, num_merges=1)
    assert merges[0] != ("q", "##z")  # and BPE indeed picks differently


def test_wordpiece_continuation_convention(spark):
    """Fused pieces drop the right part's ## marker; word-internal
    pieces keep theirs — 'hello'-family words must yield 'he' (initial)
    and '##ll'-style internals."""
    from vlm_data_pipeline_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "hell hell hello hello hella")], "doc_id long, text string"
    )
    vocab = lm.train_wordpiece(docs, num_merges=6)
    assert all(not p.startswith("##") or len(p) > 2 for p in vocab if p != "##")
    # initial chars bare, internals marked
    assert "h" in vocab and "##e" in vocab


def test_wordpiece_encode_longest_match_and_unk():
    from vlm_data_pipeline_spark.operators.lm import _py_encode_word_wp

    vocab = {"un", "##able", "##avail", "able", "unavail", "a", "##b"}
    # longest FIRST piece wins: 'unavail' beats 'un'
    assert _py_encode_word_wp("unavailable", vocab, 7) == ["unavail", "##able"]
    assert _py_encode_word_wp("unable", vocab, 7) == ["un", "##able"]
    assert _py_encode_word_wp("able", vocab, 7) == ["able"]
    # uncoverable position -> whole word is [UNK] (BERT semantics)
    assert _py_encode_word_wp("abxyz", vocab, 7) == ["[UNK]"]


def test_apply_wordpiece_end_to_end(spark):
    from vlm_data_pipeline_spark.operators import lm

    vocab = ["un", "##able", "##avail", "able", "w", "##ow"]
    docs = spark.createDataFrame(
        [(1, "unable unavailable wow"), (2, "able mystery"), (3, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.wp_tokens for r in lm.apply_wordpiece(docs, vocab).collect()}
    assert got[1] == ["un", "##able", "un", "##avail", "##able", "w", "##ow"]
    assert got[2] == ["able", "[UNK]"]
    assert got[3] is None
    # zero shuffle: narrow per-row transform
    plan = (
        lm.apply_wordpiece(docs, vocab)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_apply_wordpiece_production_vocab_size(spark):
    """A 30k-piece vocabulary must encode without riding the plan —
    per-word cost is O(len * max_piece_len) probes, vocab-independent."""
    from vlm_data_pipeline_spark.operators import lm

    vocab = [f"junk{i}x" for i in range(30_000)] + ["he", "##llo", "h"]
    docs = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    out = lm.apply_wordpiece(docs, vocab).collect()
    assert out[0].wp_tokens == ["he", "##llo"]


def test_wordpiece_vocab_round_trip(spark, tmp_path):
    from vlm_data_pipeline_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "banana bandana ban and anna nab")], "doc_id long, text string"
    )
    vocab = lm.train_wordpiece(docs, num_merges=8)
    p = str(tmp_path / "wp_vocab")
    lm.save_wordpiece_vocab(spark, vocab, p)
    assert lm.load_wordpiece_vocab(spark, p) == sorted(vocab)
    e1 = lm.apply_wordpiece(docs, vocab).collect()
    e2 = lm.apply_wordpiece(docs, lm.load_wordpiece_vocab(spark, p)).collect()
    assert sorted(map(tuple, e1)) == sorted(map(tuple, e2))


def test_unigram_seed_vocab_no_global_window(spark):
    """VERDICT r9 #1: top-`budget` piece selection must plan as
    TakeOrderedAndProject (parallel partial top-K per partition), NOT a
    partition-less row_number WindowExec — that form moves the entire
    distinct-piece table through Exchange SinglePartition and sorts it
    on one task, a hard wall when a 100 TB corpus has billions of
    distinct word substrings. Values are identical either way (the
    (freq desc, piece asc) order is total, so the top-K cut is unique —
    pinned by test_unigram_seed_vocab_hand_computed)."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "..", "tools"
        ),
    )
    from plan_digest import digest

    from vlm_data_pipeline_spark.operators.lm import unigram_seed_vocab

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps") for i in range(50)],
        "doc_id long, text string",
    )
    seed = unigram_seed_vocab(docs, vocab_size=40, max_piece_len=4)
    plan = seed._jdf.queryExecution().executedPlan().toString()
    assert digest(plan)["global_windows"] == 0, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_unigram_word_table_spread_and_model_unchanged(spark, monkeypatch):
    """A word table of at least _SPREAD_MIN_WORDS rows spans
    spark.sql.shuffle.partitions partitions (not the single partition the
    top-K limit leaves), a small one stays in one partition, and the
    model is identical to training on one partition: piece counts are
    integer sums, so layout cannot move a log-prob."""
    from vlm_data_pipeline_spark.operators import lm

    n_docs = lm._SPREAD_MIN_WORDS // 20 + 1  # 20 distinct words per doc
    docs = spark.createDataFrame(
        [
            (d, " ".join(f"ab{d * 20 + j} ba{j % 3}" for j in range(20)))
            for d in range(n_docs)
        ],
        "doc_id long, text string",
    ).repartition(4)
    small = spark.createDataFrame(
        [(i, f"abab abc baba w{i % 7} cab{i % 3}") for i in range(40)],
        "doc_id long, text string",
    ).repartition(4)
    seen = []
    seed_vocab = lm.unigram_seed_vocab

    def spy(*args, words=None, **kw):
        seen.append(words.rdd.getNumPartitions())
        return seed_vocab(*args, words=words, **kw)

    monkeypatch.setattr(lm, "unigram_seed_vocab", spy)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "6")
        spread = lm.train_unigram_lm(docs, vocab_size=24, iters=2, max_piece_len=4)
        lm.train_unigram_lm(small, vocab_size=24, iters=2, max_piece_len=4)
        spark.conf.set(key, "1")
        single = lm.train_unigram_lm(docs, vocab_size=24, iters=2, max_piece_len=4)
    finally:
        spark.conf.set(key, old)
    assert seen == [6, 1, 1]
    assert spread == single
