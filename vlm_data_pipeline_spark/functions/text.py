"""Text-analysis column library for LLM-corpus pipelines (SURVEY §7.1 step 7
scale extensions; no reference analogue — the reference is vision-only).

Everything here is a pure Column expression (JVM-side, whole-stage codegen):
no Python UDFs in any hot path. The hash primitives are md5-derived so an
external engine (the DuckDB oracle) can reproduce them bit-for-bit —
``xxhash64`` would be faster but is Spark-private; at cluster scale swap
``HASH_IMPL`` to xxhash64 and regenerate oracles accordingly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(bound: Column, body: Callable[[Column], Column]) -> Column:
    """Functional let-binding: evaluate ``bound`` ONCE, reference it many
    times inside ``body``.

    Why this exists: Catalyst's CollapseProject freely re-inlines a
    projected expression into later expressions, and a subexpression
    referenced *inside a higher-order-function lambda* is then re-evaluated
    per array element (HOFs run interpreted — no codegen CSE). A shingle
    expression like ``element_at(tokens(text), i)`` silently re-runs the
    whole split per element: measured 4-8× slowdowns on the dedup pipeline.

    The fix is a literal let: wrap the value in a 1-element array and bind
    it to a lambda variable — lambda variables are evaluated at binding
    time, so every reference in the body is an O(1) variable lookup that no
    optimizer rule can re-inline.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)

# ---------------------------------------------------------------------------
# Portable deterministic hashes
# ---------------------------------------------------------------------------


def hash32(col: Column) -> Column:
    """First 8 hex chars of md5 → int in [0, 2^32). Portable to any engine."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hash60(col: Column) -> Column:
    """First 15 hex chars of md5 → int in [0, 2^60). Positive BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def seeded_hash60(seed: Column, col: Column) -> Column:
    return hash60(F.concat(seed.cast("string"), F.lit(":"), col))


# ---------------------------------------------------------------------------
# Tokenization / shingling
# ---------------------------------------------------------------------------


# Java \s == [ \t\n\x0B\f\r] but RE2 (DuckDB) \s LACKS \x0B — every
# whitespace regex that an oracle mirrors spells the class out explicitly
# in BOTH engines so a vertical tab cannot split tokens in one engine only
WS_CLASS = r"[ \t\n\x0B\f\r]"


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped. ArrayType(StringType)."""
    return F.filter(F.split(text, WS_CLASS + "+"), lambda t: t != "")


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams joined with '_'. Empty array when < n tokens.

    let-bound: the token array is referenced per generated shingle, which
    without the binding re-evaluates the upstream tokenization per element.
    """

    def mk(t: Column) -> Column:
        joined = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(
                "_", *[F.element_at(t, (i + off).cast("int")) for off in range(n)]
            ),
        )
        return F.when(F.size(t) >= n, F.array_distinct(joined)).otherwise(
            F.array().cast("array<string>")
        )

    return let(toks, mk)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-style pretokenizer shape: contractions, space-prefixed letter runs,
# digit runs, punctuation runs. Both Java regex (Spark) and RE2 (DuckDB)
# support \p{L}/\p{N}, so the same pattern serves the oracle.
BPE_ISH_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+"
)


def subword_count(text: Column) -> Column:
    """BPE-ish token count: matches of the GPT-2 pretokenizer shape —
    the cheap LLM-budget estimator (a real BPE merges within these
    pretokens, so this lower-bounds and tracks the true count)."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


# ---------------------------------------------------------------------------
# Document fingerprinting (exact-dedup key)
# ---------------------------------------------------------------------------


def doc_fingerprint(text: Column) -> Column:
    """md5 of the sorted distinct token multiset — a canonical bag-of-words
    fingerprint: word-order-insensitive, duplication-insensitive. Two docs
    that are shuffles/near-copies of the same vocabulary collide, which is
    exactly the normalization an exact-dedup pass wants before the more
    expensive MinHash stage."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


def rolling_fingerprint(toks: Column) -> Column:
    """Order-SENSITIVE polynomial fingerprint: sum(hash32(token) * position).

    Distinguishes reorderings that ``doc_fingerprint`` collapses. Exact
    BIGINT arithmetic → portable and associativity-safe.
    """
    return let(
        toks,
        lambda tk: F.aggregate(
            F.zip_with(
                tk,
                F.sequence(F.lit(1), F.size(tk)),
                lambda t, i: hash32(t) * i.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

# A small English stopword core: enough signal for ratio features.
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def quality_counts(text: Column) -> dict[str, Column]:
    """The INTEGER numerators/denominators behind the quality ratios.

    Exposed separately so threshold rules can compare by integer
    cross-multiplication (``10 * total_len >= 20 * n_tokens``) instead of
    double quotients — a ratio that lands exactly on a threshold must not
    flip with engine-specific last-ulp division (the knife edge behind
    the CORRECTNESS_r03 ``curation_quality_audit`` hash mismatch).
    """
    toks = tokens(text)
    return {
        "n_tokens": F.size(toks).cast("long"),
        "n_chars": F.length(text).cast("long"),
        "n_stop": F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long"),
        "n_uniq": F.size(F.array_distinct(toks)).cast("long"),
        "total_len": F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ),
    }


def quality_features(text: Column) -> dict[str, Column]:
    """Length / lexical-diversity / stopword features, all exact ratios of
    integers (deterministic doubles). Derived from :func:`quality_counts`."""
    c = quality_counts(text)
    n = c["n_tokens"]
    nd = n.cast("double")
    return {
        "n_tokens": n.cast("int"),
        "n_chars": F.length(text),
        "stopword_ratio": F.when(n > 0, c["n_stop"].cast("double") / nd).otherwise(
            0.0
        ),
        "uniq_ratio": F.when(n > 0, c["n_uniq"].cast("double") / nd).otherwise(0.0),
        "mean_word_len": F.when(
            n > 0, c["total_len"].cast("double") / nd
        ).otherwise(0.0),
    }


# ---------------------------------------------------------------------------
# Language identification (n-gram/stopword heuristic)
# ---------------------------------------------------------------------------

# Tiny per-language marker lexicons (public common-word lists). The heuristic
# votes by marker hits; ties broken by language code order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "es": ("el", "la", "los", "las", "es", "y", "que", "de"),
    "fr": ("le", "la", "les", "et", "est", "que", "une", "dans"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "bu4"),
}


def lang_marker_hits(text: Column) -> dict[str, Column]:
    toks = tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters, Rae et al. 2021 §A1.1)
# ---------------------------------------------------------------------------


def word_ngrams(toks: Column, n: int) -> Column:
    """ALL word n-grams joined with '_' (repetitions kept — the counting
    sibling of :func:`word_shingles`, whose array_distinct would erase
    exactly the signal the repetition filters measure)."""

    def mk(t: Column) -> Column:
        joined = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(
                "_", *[F.element_at(t, (i + off).cast("int")) for off in range(n)]
            ),
        )
        return F.when(F.size(t) >= n, joined).otherwise(
            F.array().cast("array<string>")
        )

    return let(toks, mk)


def repetition_counts(text: Column) -> dict[str, Column]:
    """The INTEGER numerators/denominators behind the repetition ratios
    (see :func:`quality_counts` for why integer counts are the primitive):
    duplicate-line occurrence/char counts, total line chars, the dominant
    2-gram's occurrence×char product, duplicated-3-gram chars, and total
    token chars. Conventions, chosen to be integer-exact and
    oracle-reproducible:

    - lines = newline split, empties dropped; a line's weight is its
      character length;
    - ``dup_line_fraction``: duplicated line OCCURRENCES / lines;
    - ``dup_line_char_fraction``: characters inside lines whose text
      occurs ≥ 2× / characters in all lines;
    - ``top_2gram_char_fraction``: occurrences of the most frequent
      2-gram × its character length / total token characters (ties →
      lexicographically-first 2-gram);
    - ``dup_3gram_char_fraction``: Σ over 3-grams occurring ≥ 2× of
      count × char length / total token characters (the simple
      non-overlap-corrected variant; overlapping occurrences can push
      the numerator past the denominator on degenerate inputs).

    Everything is an in-row array program: zero shuffle at any corpus
    size. Ratios are exact integer quotients cast at the end.
    """
    lines = F.filter(F.split(text, r"\n"), lambda l: l != "")
    toks = tokens(text)

    def occ_stats(arr: Column, min_count: int, sep_discount: int = 0) -> Column:
        """struct(total_chars, dup_chars, n, n_dup_occurrences);
        ``sep_discount`` removes the join separators from an n-gram's
        character length (n-1 underscores), so gram chars count source
        characters only.

        Sort + run-length fold, O(n log n): the previous
        filter-per-distinct formulation was O(n·distinct) INTERPRETED
        (HOFs never codegen) — on sf0.1's ~500-token docs that meant
        ~250K string compares per document for the 3-gram stats alone,
        measured as the dominant cost of the whole quality stage (5.5s
        → 1.3s after this rewrite, round 12). Counts are identical:
        equal elements are adjacent after array_sort, so a run's length
        IS the occurrence count.

        NULL elements are filtered before the fold: eqNullSafe would
        group them into a run and _flush_chars would then compute
        run × (length(NULL) − sep), poisoning dup_chars/n_dup to NULL —
        the old filter-per-distinct formulation contributed 0 for nulls
        (ADVICE r12). No current caller produces null tokens/grams, but
        the helper is generic."""
        zero = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("dup_chars"),
            F.lit(0).cast("long").alias("n_dup"),
            F.lit(0).cast("long").alias("total"),
        )

        def _flush_chars(acc: Column) -> Column:
            # chars contributed by the just-ended run (0 unless dup);
            # run >= min_count >= 2 implies prev is a real element
            return F.when(
                acc["run"] >= min_count,
                acc["run"]
                * (F.length(acc["prev"]) - sep_discount).cast("long"),
            ).otherwise(F.lit(0).cast("long"))

        def _flush_occ(acc: Column) -> Column:
            return F.when(acc["run"] >= min_count, acc["run"]).otherwise(
                F.lit(0).cast("long")
            )

        def mk(a: Column) -> Column:
            def step(acc: Column, x: Column) -> Column:
                same = acc["prev"].eqNullSafe(x)
                return F.struct(
                    x.alias("prev"),
                    F.when(same, acc["run"] + 1)
                    .otherwise(F.lit(1).cast("long"))
                    .alias("run"),
                    F.when(same, acc["dup_chars"])
                    .otherwise(acc["dup_chars"] + _flush_chars(acc))
                    .alias("dup_chars"),
                    F.when(same, acc["n_dup"])
                    .otherwise(acc["n_dup"] + _flush_occ(acc))
                    .alias("n_dup"),
                    (acc["total"] + F.length(x)).alias("total"),
                )

            def fin(acc: Column) -> Column:
                return F.struct(
                    acc["total"].alias("total_chars"),
                    (acc["dup_chars"] + _flush_chars(acc)).alias("dup_chars"),
                    F.size(a).cast("long").alias("n"),
                    (acc["n_dup"] + _flush_occ(acc)).alias("n_dup_occ"),
                )

            return F.aggregate(F.array_sort(a), zero, step, fin)

        return let(F.filter(arr, lambda x: x.isNotNull()), mk)

    line_stats = occ_stats(lines, 2)
    g3_stats = occ_stats(word_ngrams(toks, 3), 2, sep_discount=2)

    # top 2-gram: highest count, lexicographically-first on ties; char
    # length excludes the (n-1) join separators
    def top2(a: Column) -> Column:
        # same sort + run-length shape as occ_stats (was O(n·distinct)
        # interpreted). Strictly-greater update over ascending runs keeps
        # the lexicographically-FIRST gram on count ties — identical to
        # the old sort-by-(-cnt, gram) rule. Empty input → NULL cnt/len
        # (preserved: top2_chars coalesces to 0 downstream).
        zero = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best_cnt"),
            F.lit(None).cast("string").alias("best_gram"),
        )

        def mk(g: Column) -> Column:
            def step(acc: Column, x: Column) -> Column:
                same = acc["prev"].eqNullSafe(x)
                better = (~same) & (acc["run"] > acc["best_cnt"])
                return F.struct(
                    x.alias("prev"),
                    F.when(same, acc["run"] + 1)
                    .otherwise(F.lit(1).cast("long"))
                    .alias("run"),
                    F.when(better, acc["run"])
                    .otherwise(acc["best_cnt"])
                    .alias("best_cnt"),
                    F.when(better, acc["prev"])
                    .otherwise(acc["best_gram"])
                    .alias("best_gram"),
                )

            def fin(acc: Column) -> Column:
                better = acc["run"] > acc["best_cnt"]
                cnt = F.when(better, acc["run"]).otherwise(acc["best_cnt"])
                gram = F.when(better, acc["prev"]).otherwise(
                    acc["best_gram"]
                )
                return F.struct(
                    F.when(gram.isNotNull(), cnt).alias("cnt"),
                    (F.length(gram) - 1).cast("long").alias("len"),
                )

            return F.aggregate(F.array_sort(g), zero, step, fin)

        # null grams filtered for the same reason as occ_stats above
        return let(F.filter(a, lambda x: x.isNotNull()), mk)

    t2 = top2(word_ngrams(toks, 2))
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )

    return {
        "n_lines": line_stats["n"],
        "dup_line_occ": line_stats["n_dup_occ"],
        "dup_line_chars": line_stats["dup_chars"],
        "line_chars": line_stats["total_chars"],
        "top2_chars": F.coalesce(t2["cnt"] * t2["len"], F.lit(0).cast("long")),
        "g3_dup_chars": g3_stats["dup_chars"],
        "tok_chars": tok_chars,
    }


def repetition_features(text: Column) -> dict[str, Column]:
    """Ratio view of :func:`repetition_counts` — the Gopher-style
    repetition signals as exact integer quotients cast at the end."""
    c = repetition_counts(text)

    def ratio(num: Column, den: Column) -> Column:
        return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(0.0)

    return {
        "n_lines": c["n_lines"],
        "dup_line_fraction": ratio(c["dup_line_occ"], c["n_lines"]),
        "dup_line_char_fraction": ratio(c["dup_line_chars"], c["line_chars"]),
        "top_2gram_char_fraction": ratio(c["top2_chars"], c["tok_chars"]),
        "dup_3gram_char_fraction": ratio(c["g3_dup_chars"], c["tok_chars"]),
    }


def winnow_fingerprints(toks: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    k-gram, then in each window of ``w`` consecutive hashes select the
    minimum (RIGHTMOST position on ties, the paper's rule), and distinct
    the selections. Guarantees any verbatim match of length >= w + k - 1
    tokens shares a fingerprint, while keeping only ~2/(w+1) of the
    k-gram hashes — the density/recall dial for plagiarism-style overlap
    detection at corpus scale.

    Pure in-row array program (zero shuffle): returns
    array<struct<pos:long, fp:long>> of selected (1-based k-gram
    position, hash60). Docs with fewer than ``k`` tokens return an empty
    array; docs with 1..w-1 k-grams are treated as a single short window
    (their minimum is still selected, so short docs remain matchable).
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    sep = "\x1f"
    empty = F.array().cast("array<struct<pos:long,fp:long>>")
    # sentinel above any hash60 value (< 2^60)
    init = F.struct(
        F.lit(0).cast("long").alias("pos"), F.lit(1 << 62).cast("long").alias("fp")
    )

    def pick(h: Column) -> Column:
        m = F.size(h)
        starts = F.sequence(F.lit(1), F.greatest(F.lit(1), m - (w - 1)))
        sel = F.transform(
            starts,
            lambda j: F.aggregate(
                F.sequence(j, F.least(j + (w - 1), m.cast("long"))),
                init,
                lambda acc, i: F.when(
                    F.element_at(h, i.cast("int")) <= acc["fp"],
                    F.struct(
                        i.cast("long").alias("pos"),
                        F.element_at(h, i.cast("int")).alias("fp"),
                    ),
                ).otherwise(acc),
            ),
        )
        return F.array_distinct(sel)

    def grams(t: Column) -> Column:
        # length-prefixed units: raw separator joins are not injective
        # when a token can contain the separator (see dedup._unit_enc)
        def enc(u: Column) -> Column:
            return F.concat(F.length(u).cast("string"), F.lit(":"), u)

        hashes = F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: hash60(
                F.concat_ws(
                    sep,
                    *[enc(F.element_at(t, (i + off).cast("int"))) for off in range(k)],
                )
            ),
        )
        return F.when(F.size(t) >= k, let(hashes, pick)).otherwise(empty)

    return let(toks, grams)


def corpus_report(df, text_col: str = "text", zipf_top: int = 100):
    """One-row corpus health report — the aggregate audit a curation run
    logs before/after each stage: doc count, token count, corpus vocab,
    type-token ratio, the modal word, and the ZIPF SLOPE — the least-
    squares slope of ln(freq) vs ln(rank) over the ``zipf_top`` most
    frequent words. Natural language tracks slope ≈ −1 (Zipf's law);
    boilerplate-heavy or synthetic corpora deviate sharply, which makes
    the slope a one-number naturalness alarm.

    Shape: ONE (word, count) aggregation provides tokens+vocab+top-K in
    a single shuffle (map-side combined, skinny rows); doc stats are a
    second map-side aggregate. Ranking the zipf_top rows uses
    TakeOrderedAndProject (parallel partial top-K) + a bounded in-row
    posexplode — NOT a partition-less row_number window, which would
    plan an Exchange SinglePartition over its whole input (the
    anti-pattern class VERDICT r9 #1 banned registry-wide; here the
    input is already ≤ zipf_top rows, but the plan gate is absolute).
    Returns (n_docs, n_tokens, vocab_size, type_token_ratio, top_word,
    top_freq, zipf_slope).
    """
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    totals = counts.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    # (-c, w) sorts ascending as (c desc, w asc); rank = position + 1.
    # The collect_list agg sees at most zipf_top rows by construction.
    top = (
        counts.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(zipf_top)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct((-F.col("c")).alias("negc"), F.col("w"))
                )
            ).alias("arr")
        )
        .select(F.posexplode("arr").alias("pos", "s"))
        .select(
            F.col("s.w").alias("w"),
            (-F.col("s.negc")).cast("long").alias("c"),
            (F.col("pos") + 1).cast("int").alias("rank"),
        )
    )
    slope = top.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
        F.col("w"),
        F.col("c"),
        F.col("rank"),
    ).agg(
        (
            (F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y"))
            / (F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x"))
        ).alias("zipf_slope"),
        F.min_by("w", "rank").alias("top_word"),
        F.max("c").cast("long").alias("top_freq"),
    )
    docs = df.agg(F.count("*").cast("long").alias("n_docs"))
    return (
        docs.crossJoin(totals)
        .crossJoin(slope)
        .select(
            "n_docs",
            "n_tokens",
            "vocab_size",
            F.round(
                F.col("vocab_size").cast("double") / F.col("n_tokens"), 6
            ).alias("type_token_ratio"),
            "top_word",
            "top_freq",
            F.round("zipf_slope", 4).alias("zipf_slope"),
        )
    )


def sentences(text: Column) -> Column:
    """RE2-safe sentence split (works verbatim in the DuckDB oracle — no
    lookbehind): a record separator is inserted after every terminal
    punctuation mark ([.!?]) followed by whitespace, then the text
    splits on it; sentences are stripped of ALL leading/trailing
    whitespace (regexp — F.trim removes spaces only, tabs/newlines
    would leak through) and empties dropped. Terminal runs ("wow!!!")
    stay inside their sentence (the marker lands after the last mark).
    ArrayType(StringType)."""
    marked = F.regexp_replace(text, r"([.!?])" + WS_CLASS + "+", "$1\x1e")
    return F.filter(
        F.transform(
            F.split(marked, "\x1e"),
            lambda s: F.regexp_replace(
                s, "^" + WS_CLASS + "+|" + WS_CLASS + "+$", ""
            ),
        ),
        lambda s: s != "",
    )


def gopher_line_counts(text: Column) -> dict[str, Column]:
    """INTEGER numerators/denominators behind the four Gopher §A1.1
    rules not covered by :func:`quality_counts` (Rae et al. 2021):
    bullet-line fraction, ellipsis-line fraction, alphabetic-word
    fraction, symbol-to-word ratio. Conventions (integer-exact,
    oracle-reproducible):

    - lines = newline split, empties dropped, leading/trailing
      whitespace stripped (explicit class — the WS_CLASS parity rule)
      before the bullet/ellipsis test;
    - bullet line: starts with '-', '*' or '•';
    - ellipsis line: ends with '...' or '…';
    - alphabetic word: contains >= 1 Unicode letter (\\p{L} — Java and
      RE2 agree);
    - symbols: '#' characters plus non-overlapping '...' matches plus
      '…' characters (the Gopher hash/ellipsis set).

    Pure in-row array programs, zero shuffle."""
    strip = lambda l: F.regexp_replace(  # noqa: E731
        l, "^" + WS_CLASS + "+|" + WS_CLASS + "+$", ""
    )
    lines = F.filter(
        F.transform(F.split(text, r"\n"), strip), lambda l: l != ""
    )
    toks = tokens(text)
    count_char = lambda c: (  # noqa: E731
        F.length(text) - F.length(F.replace(text, F.lit(c), F.lit("")))
    ).cast("long")
    return {
        "n_lines": F.size(lines).cast("long"),
        "n_bullet_lines": F.size(
            F.filter(
                lines,
                lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"),
            )
        ).cast("long"),
        "n_ellipsis_lines": F.size(
            F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
        ).cast("long"),
        "n_words": F.size(toks).cast("long"),
        "n_alpha_words": F.size(
            F.filter(toks, lambda t: t.rlike(r"\p{L}"))
        ).cast("long"),
        "n_symbols": (
            count_char("#")
            + F.regexp_count(text, F.lit(r"\.\.\."))
            + count_char("…")
        ).cast("long"),
    }


# ---------------------------------------------------------------------------
# Encoding repair (ftfy-lite)
# ---------------------------------------------------------------------------

# The classic UTF-8-bytes-decoded-as-cp1252 mojibake sequences a web
# crawl accumulates (the core of what ftfy fixes, table-driven so the
# Spark chain and any SQL oracle derive the SAME replace cascade from
# one list). ORDER MATTERS: longer/more-specific sequences first, so
# 'â€”' wins before any 2-char prefix could. Pairs are code-point
# tuples, never literals — no source-encoding ambiguity.
ENCODING_FIXES: tuple[tuple[tuple[int, ...], tuple[int, ...]], ...] = (
    # 2-char Ã-block FIRST: repairing Ã¢ → â can complete a partially
    # re-encoded â€-sequence, which the â€-block then fixes in the SAME
    # pass — this ordering is what makes the cascade idempotent (no
    # â€-pattern contains 0xC3 and no replacement emits 0xC3, so the
    # Ã-rules can never destroy or recreate later work)
    ((0xC3, 0xA9), (0xE9,)),  # Ã© → é
    ((0xC3, 0xA8), (0xE8,)),  # Ã¨ → è
    ((0xC3, 0xAA), (0xEA,)),  # Ãª → ê
    ((0xC3, 0xBC), (0xFC,)),  # Ã¼ → ü
    ((0xC3, 0xB6), (0xF6,)),  # Ã¶ → ö
    ((0xC3, 0xB1), (0xF1,)),  # Ã± → ñ
    ((0xC3, 0xA7), (0xE7,)),  # Ã§ → ç
    ((0xC3, 0xA0), (0xE0,)),  # Ã  → à
    # the rest of the common Latin-1 vowel block follows the uniform
    # (0xC3, b) → chr(b + 0x40) shape (bytes 0xA0-0xBF are identity
    # under cp1252, so the mojibake second char IS the raw byte)
    ((0xC3, 0xA1), (0xE1,)),  # Ã¡ → á
    ((0xC3, 0xA2), (0xE2,)),  # Ã¢ → â
    ((0xC3, 0xA4), (0xE4,)),  # Ã¤ → ä
    ((0xC3, 0xAB), (0xEB,)),  # Ã« → ë
    ((0xC3, 0xAD), (0xED,)),  # Ã­ → í
    ((0xC3, 0xAF), (0xEF,)),  # Ã¯ → ï
    ((0xC3, 0xB3), (0xF3,)),  # Ã³ → ó
    ((0xC3, 0xB4), (0xF4,)),  # Ã´ → ô
    ((0xC3, 0xBA), (0xFA,)),  # Ãº → ú
    # 3-char â€-block second
    ((0xE2, 0x20AC, 0x2122), (0x2019,)),  # â€™ → right single quote
    ((0xE2, 0x20AC, 0x153), (0x201C,)),  # â€œ → left double quote
    ((0xE2, 0x20AC, 0x9D), (0x201D,)),  # â€(9d) → right double quote
    ((0xE2, 0x20AC, 0x201C), (0x2013,)),  # â€“ → en dash
    ((0xE2, 0x20AC, 0x201D), (0x2014,)),  # â€” → em dash
    ((0xE2, 0x20AC, 0xA6), (0x2026,)),  # â€¦ → ellipsis
    # zero-width strips last
    ((0xFEFF,), ()),  # BOM / zero-width no-break space: drop
    ((0x200B,), ()),  # zero-width space: drop
)


def fix_encoding(text: Column) -> Column:
    """ftfy-lite: undo the cp1252-mojibake table above, in order, as a
    chain of in-row ``replace`` calls (zero shuffle, codegen-friendly —
    the cascade is ~16 nested string ops, far below expression-tree
    limits). NOT a general ftfy: only the enumerated unambiguous
    sequences are touched, so the operator is idempotent and
    SQL-oracle-portable; extend the table, not the logic."""
    out = text
    for bad, good in ENCODING_FIXES:
        out = F.replace(
            out,
            F.lit("".join(map(chr, bad))),
            F.lit("".join(map(chr, good))),
        )
    return out


def d_chr_concat(points: tuple[int, ...]) -> str:
    """Code points → a DuckDB string expression built from chr() calls
    (empty tuple → ''). The ONE spelling used by every oracle that
    plants or fixes non-ASCII sequences — no literal survives an
    encoding hop, and no second copy can drift."""
    return " || ".join(f"chr({p})" for p in points) if points else "''"


def d_fix_encoding(expr: str) -> str:
    """The DuckDB mirror of :func:`fix_encoding`: the same cascade
    generated from the same table, pattern/replacement spelled via
    :func:`d_chr_concat`."""
    out = expr
    for bad, good in ENCODING_FIXES:
        out = f"replace({out}, {d_chr_concat(bad)}, {d_chr_concat(good)})"
    return out


# ---------------------------------------------------------------------------
# HTML → text extraction (the crawl pipeline's first content stage)
# ---------------------------------------------------------------------------

# regex steps as (pattern-core, replacement, flags): Spark runs the
# core with inline (?flags) (Java replaces globally by default), the
# SQL mirror passes flags + 'g' as DuckDB options. Cores are RE2-safe
# AND Java-safe: explicit classes only (never \s — Java's includes
# \x0B, RE2's does not), non-greedy dotall for the container blocks.
_HTML_STEPS: tuple[tuple[str, str, str], ...] = (
    (r"<script[^>]*>.*?</script>", "", "is"),  # script blocks, content too
    (r"<style[^>]*>.*?</style>", "", "is"),  # style blocks, content too
    (r"<!--.*?-->", "", "s"),  # comments
    # block-level closers/breaks become newlines so paragraphs survive
    (
        r"<(?:br|/p|/div|/li|/tr|/h[1-6]|/nav|/ul|/ol|/table|/section"
        r"|/article|/header|/footer|/blockquote|/pre)[^>]*>",
        "\n",
        "i",
    ),
    (r"<[^>]*>", "", ""),  # every remaining tag
    (r"[ \t]+", " ", ""),  # collapse runs of spaces/tabs
    (r"[ \t]*\n[ \t]*", "\n", ""),  # trim around newlines
    (r"\n{3,}", "\n\n", ""),  # at most one blank line
)

# entity decode AFTER tag removal; &amp; must come LAST so double-
# encoded entities (&amp;lt;) decode exactly one level per pass
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_to_text(html: Column) -> Column:
    """Boilerplate-stripping HTML → text (trafilatura-lite): drop
    script/style/comment blocks with their content, turn block closers
    into newlines, strip every remaining tag, decode the core entities,
    normalize whitespace. Pure in-row regex/replace cascade — zero
    shuffle, one pass over the markup; the SQL mirror
    (:func:`d_html_to_text`) is generated from the SAME step tables.
    Not a browser: malformed nesting degrades to over-stripping, never
    to leaked markup."""
    out = html
    for core, rep, flags in _HTML_STEPS:
        pat = f"(?{flags}){core}" if flags else core
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(out)


def d_html_to_text(expr: str) -> str:
    """DuckDB mirror of :func:`html_to_text` — same tables, DuckDB
    spells flags as the options argument (plus 'g': Java replaces
    globally by default, DuckDB only with the flag)."""
    out = expr
    for core, rep, flags in _HTML_STEPS:
        # DuckDB plain '...' literals keep backslashes VERBATIM (no
        # escape processing), so the regex source passes through as-is;
        # only quotes need doubling. (Doubling backslashes here once
        # turned [ \t]+ into a class matching the letter t.)
        pat = core.replace("'", "''")
        r = rep.replace("'", "''")
        out = f"regexp_replace({out}, '{pat}', '{r}', '{flags}g')"
    for ent, ch in HTML_ENTITIES:
        c = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{c}')"
    return f"trim({out})"
