"""Corpus curation operators: rule-based quality filtering and stratified
deterministic sampling (scale extensions per SURVEY §7.1 step 7 — the
operations a training-data pipeline runs AFTER dedup/decontamination).

Scale design:

- **quality_filter**: every rule is an in-row predicate over
  ``functions.text`` features — one scan, zero shuffle, scales with
  splits. Rules follow the published Gopher heuristics (Rae et al. 2021
  §A1.1): word-count band, mean-word-length band, stopword floor,
  lexical-diversity floor, repetition ceilings.
- **stratified_sample**: per-stratum quotas with a DETERMINISTIC
  hash-derived order (functions.detrandom rationale): the sample is a
  pure function of (doc id, seed), independent of partitioning and
  engine. One shuffle on the stratum key — unavoidable for exact
  quotas; at 100 TB strata are few (languages/domains) and the window
  carries only (stratum, hash, id).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import quality_counts, repetition_counts

# Gopher-shaped default thresholds (Rae et al. 2021 §A1.1), tuned only
# where the synthetic corpus' scale differs; deployments override.
# ``min_stopword_count`` is the Gopher floor proper (a document must
# contain at least 2 stopwords); ``min_stopword_ratio`` defaults to 0.0
# (vacuously true) and is an opt-in tightening on top of the count floor.
DEFAULT_RULES: dict[str, float] = {
    "min_tokens": 5,
    "max_tokens": 100_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "min_stopword_count": 2,
    "min_stopword_ratio": 0.0,
    "min_uniq_ratio": 0.2,
    "max_dup_line_char_fraction": 0.3,
    "max_top_2gram_char_fraction": 0.6,
    "max_dup_3gram_char_fraction": 0.8,
}


def rule_fraction(threshold: float) -> Fraction:
    """Threshold as an exact rational (via its decimal repr): 0.3 → 3/10.

    Every ratio rule compares by integer cross-multiplication
    (``num * denominator <op> den * numerator``) so a document landing
    exactly on a threshold evaluates identically in every engine — double
    quotients differ in the last ulp between Spark and DuckDB, which is
    what flipped one audit counter in CORRECTNESS_r03.
    """
    return Fraction(str(threshold))


def quality_predicates(
    text: Column, rules: dict[str, float] | None = None
) -> dict[str, Column]:
    """One boolean Column per rule (True = passes). Exposed separately so
    audits can count per-rule rejection rates, not just the conjunction.

    All comparisons are INTEGER-exact: counts from ``quality_counts`` /
    ``repetition_counts`` cross-multiplied against the rule's exact
    rational threshold — no double division anywhere. Empty-denominator
    conventions mirror the ratio view (ratio = 0.0 when the denominator
    is 0).
    """
    r = {**DEFAULT_RULES, **(rules or {})}
    q = quality_counts(text)
    rep = repetition_counts(text)
    n, tok_chars, line_chars = q["n_tokens"], rep["tok_chars"], rep["line_chars"]

    # Cross-multiply in decimal(38,0): counts are <= ~2^63 and a float
    # threshold's exact-rational denominator can reach 10^16 (e.g. 1/3 →
    # 3333…/10^16), so the products overflow BIGINT — ANSI mode would
    # kill the job on a perfectly legitimate custom rule. decimal128
    # holds count·denominator up to ~10^35 exactly; the oracle mirrors
    # with HUGEINT.
    def _d(x: Column | int) -> Column:
        return (F.lit(x) if isinstance(x, int) else x).cast("decimal(38,0)")

    def ge(num: Column, den: Column, thr: float) -> Column:
        f = rule_fraction(thr)
        return _d(num) * _d(f.denominator) >= _d(den) * _d(f.numerator)

    def le(num: Column, den: Column, thr: float) -> Column:
        f = rule_fraction(thr)
        return _d(num) * _d(f.denominator) <= _d(den) * _d(f.numerator)

    one = F.lit(1).cast("long")
    lo, hi = rule_fraction(r["min_mean_word_len"]), rule_fraction(r["max_mean_word_len"])
    return {
        "tokens_in_band": ge(n, one, r["min_tokens"]) & le(n, one, r["max_tokens"]),
        "mean_word_len_in_band": F.when(
            n > 0,
            ge(q["total_len"], n, r["min_mean_word_len"])
            & le(q["total_len"], n, r["max_mean_word_len"]),
        ).otherwise(F.lit(lo <= 0 <= hi)),
        "stopword_count_ok": q["n_stop"] >= int(r["min_stopword_count"]),
        "stopword_ok": F.when(
            n > 0, ge(q["n_stop"], n, r["min_stopword_ratio"])
        ).otherwise(F.lit(rule_fraction(r["min_stopword_ratio"]) <= 0)),
        "uniq_ok": F.when(n > 0, ge(q["n_uniq"], n, r["min_uniq_ratio"])).otherwise(
            F.lit(rule_fraction(r["min_uniq_ratio"]) <= 0)
        ),
        "dup_line_ok": F.when(
            line_chars > 0,
            le(rep["dup_line_chars"], line_chars, r["max_dup_line_char_fraction"]),
        ).otherwise(F.lit(rule_fraction(r["max_dup_line_char_fraction"]) >= 0)),
        "top_2gram_ok": F.when(
            tok_chars > 0,
            le(rep["top2_chars"], tok_chars, r["max_top_2gram_char_fraction"]),
        ).otherwise(F.lit(rule_fraction(r["max_top_2gram_char_fraction"]) >= 0)),
        "dup_3gram_ok": F.when(
            tok_chars > 0,
            le(rep["g3_dup_chars"], tok_chars, r["max_dup_3gram_char_fraction"]),
        ).otherwise(F.lit(rule_fraction(r["max_dup_3gram_char_fraction"]) >= 0)),
    }


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    rules: dict[str, float] | None = None,
) -> DataFrame:
    """Keep documents passing EVERY rule — one in-row conjunction, no
    shuffle. The reference pipeline has no text-quality stage (vision
    corpus); this is the LLM-corpus extension the engine exists for."""
    preds = quality_predicates(F.col(text_col), rules)
    keep = F.lit(True)
    for p in preds.values():
        keep = keep & p
    return docs.filter(keep)


def quality_audit(
    docs: DataFrame,
    text_col: str = "text",
    rules: dict[str, float] | None = None,
) -> DataFrame:
    """Per-rule pass counts + overall survivors over one scan (map-side
    partial aggregation; output is one row)."""
    preds = quality_predicates(F.col(text_col), rules)
    keep = F.lit(True)
    for p in preds.values():
        keep = keep & p
    aggs = [
        F.sum(F.when(p, 1).otherwise(0)).cast("long").alias(f"n_{name}")
        for name, p in preds.items()
    ]
    return docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        *aggs,
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_survivors"),
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    seed: str = "strata",
    n_shards: int = 64,
) -> DataFrame:
    """Exactly min(n, |stratum|) docs per stratum, chosen by a
    deterministic md5-derived order (ties impossible: the id breaks
    them) — the data-mixing primitive (fixed per-language/domain quotas)
    with reproducibility independent of partitioning, engine, and run.

    TWO-PHASE at scale: a naive ``row_number() OVER (PARTITION BY
    stratum)`` funnels every row of a stratum through ONE reducer —
    strata are few (languages/domains), so that's corpus/|strata| rows
    per task at 100 TB. Phase 1 takes the per-(stratum, shard) top-n by
    the same key (``n_shards``× parallel, each window sees ≤
    |stratum|/n_shards rows); phase 2 re-windows over the ≤ n_shards×n
    survivors per stratum. Identical output: the global top-n of a total
    order is contained in the union of shard top-ns.
    """
    from ..functions.text import hash32

    # \x1f unit separator keeps ("ab","c") != ("a","bc") — the
    # detrandom seed convention; the oracle mirrors it with chr(31)
    key = F.md5(
        F.concat_ws(
            "\x1f",
            F.lit(seed),
            F.col(strata_col).cast("string"),
            F.col(id_col).cast("string"),
        )
    )
    shard = (hash32(F.col(id_col).cast("string")) % n_shards).cast("int")
    staged = docs.withColumn("__k", key).withColumn("__shard", shard)
    w1 = W.partitionBy(strata_col, "__shard").orderBy(
        F.col("__k").asc(), F.col(id_col).asc()
    )
    survivors = (
        staged.withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= n_per_stratum)
        .drop("__rn1")
    )
    w2 = W.partitionBy(strata_col).orderBy(F.col("__k").asc(), F.col(id_col).asc())
    return (
        survivors.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn", "__k", "__shard")
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB) share:
# no lookaround, no backrefs. Order matters: emails before URLs would leave
# 'mailto:' hosts half-scrubbed, so URLs go first, then emails, IPs, phones.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://[^ \t\n\x0B\f\r]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def scrub_pii(text: Column) -> Column:
    """Redact URLs, emails, IPv4s, and US-style phone numbers with typed
    placeholder tokens — the standard pre-training privacy pass. One
    chained regexp_replace per pattern: in-row, zero shuffle, and the
    patterns are RE2-compatible so the oracle replays them verbatim."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 64,
    seed: str = "pack",
) -> DataFrame:
    """Assign documents to fixed-token-budget training bins — the
    sequence-packing stage of an LLM pre-training pipeline — fully
    deterministically and without a global sort.

    Layout: shard = hash-derived bucket of the doc id (``n_shards`` of
    them, so the per-shard window sort never sees more than corpus/shards
    rows — the 100 TB knob); within a shard docs take a deterministic
    md5 order and a running token total; a doc lands in bin
    ``floor(tokens_before / max_tokens)``. Contiguous packing: a bin can
    overflow by its last (straddling) document — consumers truncate at
    the token budget; documents are never split here.

    Returns (shard, bin, ``id_col``, n_tokens, tokens_before) — the
    assignment table a downstream concat/tokenize stage joins on.
    """
    from ..functions.text import hash32, token_count

    key = F.md5(
        F.concat_ws("\x1f", F.lit(seed), F.col(id_col).cast("string"))
    )
    shard = (hash32(F.col(id_col).cast("string")) % n_shards).cast("int")
    staged = docs.select(
        F.col(id_col),
        shard.alias("shard"),
        key.alias("__k"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy(F.col("__k").asc(), F.col(id_col).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return (
        staged.withColumn("tokens_before", before)
        .withColumn(
            "bin", F.floor(F.col("tokens_before") / max_tokens).cast("long")
        )
        .select("shard", "bin", id_col, "n_tokens", "tokens_before")
    )


# ---------------------------------------------------------------------------
# Data mixing: per-stratum token budgeting + deterministic replicate/sample
# ---------------------------------------------------------------------------


def mixing_plan(
    docs: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    budget_tokens: int,
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum token-budget plan — the data-mixing stage of an LLM
    pre-training run (The Pile / DoReMi-style domain weights): given a
    total token budget and per-stratum weights, compute each stratum's
    available docs/tokens, its integer token allocation, and the exact
    replicate/sample knobs :func:`apply_mixing_plan` consumes.

    All arithmetic is INTEGER-exact: weights normalize to exact
    rationals (Fraction over their sum), ``target_tokens`` =
    floor(budget · w), ``epochs`` = target // available (full corpus
    repeats — upsampling), ``residual_tokens`` = target % available (the
    partial pass, applied as an exact hash-threshold sample). No
    floating division anywhere, so the plan value-oracles bit-for-bit.
    Strata absent from ``weights`` get target 0 (dropped downstream).

    EAGER by design: the one distributed groupBy collects the
    strata-sized counts (the dimension-table contract), the plan math
    runs in exact Python integers on the driver, and the result is a
    small materialized DataFrame — so downstream ``show``/write/
    broadcast consumers never re-run the corpus aggregation, and weight
    keys naming no observed stratum FAIL FAST (a typo'd domain weight
    must not silently evaporate its share of the budget).
    """
    from ..functions.text import token_count

    total_w = sum((Fraction(str(w)) for w in weights.values()), Fraction(0))
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    counts = (
        docs.groupBy(strata_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count(F.col(text_col)).cast("long")).alias("n_tokens"),
        )
        .collect()
    )
    observed = {str(r[strata_col]) for r in counts}
    unknown = sorted(str(s) for s in weights if str(s) not in observed)
    if unknown:
        raise ValueError(
            f"weight keys match no observed stratum: {unknown} "
            f"(observed: {sorted(observed)})"
        )
    targets = {
        str(s): (budget_tokens * (Fraction(str(w)) / total_w).numerator)
        // (Fraction(str(w)) / total_w).denominator
        for s, w in weights.items()
    }
    rows = []
    for r in counts:
        tgt = int(targets.get(str(r[strata_col]), 0))
        n_tok = int(r["n_tokens"] or 0)
        rows.append(
            (
                r[strata_col],
                int(r["n_docs"]),
                n_tok,
                tgt,
                tgt // n_tok if n_tok > 0 else 0,
                tgt % n_tok if n_tok > 0 else 0,
            )
        )
    stype = docs.schema[strata_col].dataType.simpleString()
    # backticks: a strata column named e.g. 'lang-id' must survive the
    # DDL round-trip like it survived the old groupBy projection
    schema = (
        f"`{strata_col}` {stype}, n_docs long, n_tokens long, "
        "target_tokens long, epochs long, residual_tokens long"
    )
    return docs.sparkSession.createDataFrame(rows, schema)


def apply_mixing_plan(
    docs: DataFrame,
    plan: DataFrame,
    strata_col: str,
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Materialize a :func:`mixing_plan`: every doc appears ``epochs``
    times plus one more copy with probability residual/available —
    decided by an EXACT hash threshold (md5-derived 32-bit uniform,
    compared by decimal cross-multiplication: u · n_tokens <
    residual · 2^32 — no float anywhere), so the mix is a pure function
    of (seed, stratum, id): reproducible across engines, partitionings,
    and runs, and expected sampled tokens ≈ residual_tokens per stratum.

    Output = input columns + ``epoch`` (1-based copy index). Scale
    shape: the plan broadcasts (strata-sized); the replicate is an
    in-row explode — zero shuffle beyond the broadcast.

    The plan's knob columns are renamed behind a ``__mix_`` prefix
    before the join, so a docs table that itself carries ``n_tokens``/
    ``epochs``/… (pack_sequences output does) joins unambiguously;
    ``epoch`` colliding with an input column raises.
    """
    from ..functions.text import hash32

    if "epoch" in docs.columns:
        raise ValueError(
            "docs already has an 'epoch' column — rename it before mixing"
        )
    knobs = plan.select(
        strata_col,
        F.col("n_tokens").alias("__mix_n_tokens"),
        F.col("epochs").alias("__mix_epochs"),
        F.col("residual_tokens").alias("__mix_residual"),
    )
    joined = docs.join(F.broadcast(knobs), strata_col, "inner")
    u = hash32(
        F.concat_ws(
            "\x1f",
            F.lit(seed),
            F.col(strata_col).cast("string"),
            F.col(id_col).cast("string"),
        )
    )
    extra = (
        u.cast("decimal(38,0)") * F.col("__mix_n_tokens").cast("decimal(38,0)")
    ) < (
        F.col("__mix_residual").cast("decimal(38,0)")
        * F.lit(4294967296).cast("decimal(38,0)")
    )
    n_copies = (F.col("__mix_epochs") + F.when(extra, 1).otherwise(0)).cast("int")
    return (
        joined.filter(n_copies > 0)
        .select(
            *[F.col(c) for c in docs.columns],
            F.explode(F.sequence(F.lit(1), n_copies)).alias("epoch"),
        )
    )


# ---------------------------------------------------------------------------
# Long-document chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split long documents into fixed-token-window chunks with optional
    overlap — the long-document complement of :func:`pack_sequences`
    (packing joins short docs; chunking splits long ones; a pre-training
    pipeline runs both). Standard sliding-window semantics: chunk k
    starts at token k·(max_tokens − overlap); the last chunk may be
    short; token-joined text (single spaces — token-level chunking does
    not preserve original whitespace).

    In-row: one ``transform(sequence)`` + explode per document — zero
    shuffle at any corpus size. Returns (``id_col``, chunk_idx,
    n_tokens, chunk).
    """
    from ..functions.text import let, tokens

    if overlap >= max_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than max_tokens ({max_tokens})"
        )
    stride = max_tokens - overlap

    def chunks(t: Column) -> Column:
        windows = F.transform(
            F.sequence(F.lit(1), F.size(t), F.lit(stride)),
            lambda start, k: F.struct(
                k.cast("long").alias("chunk_idx"),
                F.size(F.slice(t, start, max_tokens)).cast("long").alias(
                    "n_tokens"
                ),
                F.array_join(F.slice(t, start, max_tokens), " ").alias("chunk"),
            ),
        )
        # sequence(1, 0) is illegal — a token-less doc yields NULL, which
        # explode drops (no chunks), instead of crashing the task
        return F.when(F.size(t) > 0, windows)

    return (
        docs.select(
            F.col(id_col),
            F.explode(let(tokens(F.col(text_col)), chunks)).alias("c"),
        )
        .select(id_col, "c.chunk_idx", "c.n_tokens", "c.chunk")
    )


# ---------------------------------------------------------------------------
# Domain blocklist filtering (C4-style)
# ---------------------------------------------------------------------------


def extract_domain(url: Column) -> Column:
    """Lower-cased host of an http(s) URL ('' when not a URL) — in-row."""
    return F.lower(
        F.regexp_extract(url, r"^https?://([^/:?# \t\n\x0B\f\r]+)", 1)
    )


def domain_suffixes(domain: Column) -> Column:
    """All dot-suffixes of a host: 'a.b.c' → ['a.b.c', 'b.c', 'c'] —
    blocklists ban registrable domains and every subdomain must match."""

    from ..functions.text import let

    def mk(parts: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.size(parts)),
            lambda i: F.array_join(
                F.slice(parts, i, F.size(parts) - i + 1), "."
            ),
        )

    return let(F.split(domain, r"\."), mk)


def filter_blocked_domains(
    docs: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    domain_col: str = "domain",
) -> DataFrame:
    """Drop documents whose URL's host — or ANY parent domain of it —
    appears in the blocklist (the C4 'bad domains' stage; Raffel et al.
    2020 §2.2 filter corpora by source host).

    Scale shape: suffixes are generated in-row (≤ label-count per doc);
    the skinny (id, suffix) explode semi-joins the BROADCAST blocklist
    (blocklists are list-sized, not corpus-sized), and the resulting
    blocked-id set anti-joins back — the corpus text never shuffles.
    Documents with no parseable host are KEPT (no URL ≠ banned URL).
    Batch-only (like mixing/paragraph dedup): the anti-join's right side
    derives from the input, which streaming does not support.
    """
    sufs = docs.select(
        F.col(id_col).alias("__bid"),
        F.explode(domain_suffixes(extract_domain(F.col(url_col)))).alias(
            "__suffix"
        ),
    )
    bl = blocked.select(F.lower(F.col(domain_col)).alias("__suffix")).distinct()
    blocked_ids = (
        sufs.join(F.broadcast(bl), "__suffix", "semi")
        .select("__bid")
        .distinct()
    )
    return docs.join(
        blocked_ids, docs[id_col] == F.col("__bid"), "left_anti"
    )


def clean_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_lines: int = 1,
) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020 §2.2), the
    sub-document sibling of ``quality_filter``'s doc-level rules:

    - a LINE is kept iff it ends in terminal punctuation (``. ! ? "``),
      has ≥ ``min_words`` whitespace words, and does not mention
      ``javascript`` (case-insensitive) — the cookie/JS-warning filter;
    - a DOCUMENT is dropped wholesale if it contains a curly brace or
      the phrase ``lorem ipsum`` anywhere (case-insensitive), or keeps
      fewer than ``min_lines`` lines.

    Returns (``id_col``, n_lines, n_kept, text) with ``text`` rebuilt
    from the kept lines in original order (newline-joined).

    Scale shape: every rule is an in-row array program over one split —
    one scan, zero shuffle, scales with input splits. Streaming-safe
    (pure per-row transform).
    """
    from ..functions.text import let

    def word_count(line):
        from ..functions.text import WS_CLASS

        return F.size(
            F.filter(F.split(line, WS_CLASS + "+"), lambda w: w != "")
        )

    def keep_line(line):
        punct = (
            line.endswith(".")
            | line.endswith("!")
            | line.endswith("?")
            | line.endswith('"')
        )
        return (
            punct
            & (word_count(line) >= min_words)
            & ~F.lower(line).contains("javascript")
        )

    # split on \r?\n, then strip ALL ASCII whitespace from line ends —
    # F.trim strips spaces only, so a trailing \r (CRLF corpora) or \t
    # would fail every terminal-punctuation check and silently wipe
    # valid lines
    def strip_ws(l: Column) -> Column:
        from ..functions.text import WS_CLASS

        return F.regexp_replace(l, "^" + WS_CLASS + "+|" + WS_CLASS + "+$", "")

    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\r?\n"), strip_ws),
        lambda l: l != "",
    )

    def mk(ls):
        kept = F.filter(ls, keep_line)
        return F.struct(
            F.size(ls).alias("n_lines"),
            F.size(kept).alias("n_kept"),
            F.array_join(kept, "\n").alias("text"),
        )

    doc_ok = (
        ~F.col(text_col).contains("{")
        & ~F.col(text_col).contains("}")
        & ~F.lower(F.col(text_col)).contains("lorem ipsum")
    )
    out = docs.filter(doc_ok).select(
        F.col(id_col), let(lines, mk).alias("_c")
    )
    return out.filter(F.col("_c.n_kept") >= min_lines).select(
        id_col,
        F.col("_c.n_lines").alias("n_lines"),
        F.col("_c.n_kept").alias("n_kept"),
        F.col("_c.text").alias("text"),
    )


# ---------------------------------------------------------------------------
# DSIR data selection (Xie et al. 2023)
# ---------------------------------------------------------------------------


def dsir_feature_buckets(
    text: Column, n_buckets: int, n: int = 2
) -> Column:
    """Hashed word n-gram features (DSIR's representation): NON-distinct
    adjacent n-grams (counts matter — the importance weight is a product
    over feature OCCURRENCES), each hashed into one of ``n_buckets``
    buckets. In-row; empty for docs with < n tokens."""
    from ..functions.text import hash60, let, tokens

    if n != 2:
        raise ValueError("hashed bigrams only (the DSIR paper default)")

    def mk(w: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat(
                F.element_at(w, i + 1), F.lit("_"), F.element_at(w, i + 2)
            ),
        )
        return F.when(
            F.size(w) >= 2,
            F.transform(grams, lambda g: F.pmod(hash60(g), F.lit(n_buckets))),
        ).otherwise(F.array().cast("array<long>"))

    return let(tokens(text), mk)


def dsir_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """(bucket, log_ratio) — DSIR's importance model (Xie et al. 2023,
    Data Selection for Language Models via Importance Resampling):
    add-one-smoothed hashed-bigram distributions over the TARGET corpus
    (what we want more of) and the RAW corpus, log_ratio =
    ln p̂_target(b) − ln p̂_raw(b). Every bucket appears exactly once
    (missing counts smooth to the floor), so downstream lookups are
    total. Two skinny aggregations (bucket, count) + a B-row build —
    the model is ``n_buckets``-sized by construction, the shippable-
    model contract the bigram LM documents."""
    spark = target.sparkSession

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(
                F.explode(
                    dsir_feature_buckets(F.col(text_col), n_buckets)
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias(name))
        )

    ct, cr = counts(target, "ct"), counts(raw, "cr")
    buckets = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    joined = (
        buckets.join(F.broadcast(ct), "bucket", "left")
        .join(F.broadcast(cr), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ct", F.lit(0)).cast("long").alias("ct"),
            F.coalesce("cr", F.lit(0)).cast("long").alias("cr"),
        )
    )
    tot = joined.agg(
        F.sum("ct").cast("long").alias("nt"), F.sum("cr").cast("long").alias("nr")
    )
    j = joined.crossJoin(F.broadcast(tot))
    lr = F.log(
        (F.col("ct") + 1).cast("double") / (F.col("nt") + n_buckets).cast("double")
    ) - F.log(
        (F.col("cr") + 1).cast("double") / (F.col("nr") + n_buckets).cast("double")
    )
    return j.select("bucket", lr.alias("log_ratio"))


def dsir_scores(
    docs: DataFrame,
    ratios: DataFrame,
    n_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document DSIR importance: Σ over the doc's hashed-bigram
    occurrences of log_ratio(bucket) — the log importance weight; sample
    proportionally (Gumbel-top-k via functions.detrandom, or feed
    stratified_sample on score buckets) to select raw data that looks
    like the target.

    The ``n_buckets``-row ratio table is collected and checked once on
    the driver, then ships as ONE broadcast row holding the ratios as an
    ``array<double>`` indexed by bucket; each doc folds
    ``lr[bucket]`` over its SORTED feature buckets. No shuffle, an O(1)
    lookup per occurrence at any bucket count, and no literal per bucket
    in the plan. The ascending-bucket fold makes the double summation
    order a pure function of the data (oracle-bit-stable). Docs with
    < 2 tokens score 0.0.
    """
    rows = sorted(ratios.collect(), key=lambda r: r[0])
    if [int(r[0]) for r in rows] != list(range(n_buckets)):
        raise ValueError(
            f"ratio table must cover buckets 0..{n_buckets - 1} exactly "
            f"once (got {len(rows)} rows); a duplicate or out-of-range "
            "bucket would score against the wrong ratio and a missing one "
            "would null out scores"
        )
    ratio_row = docs.sparkSession.createDataFrame(
        [([float(r[1]) for r in rows],)], "__dsir_lr array<double>"
    )
    feats = dsir_feature_buckets(F.col(text_col), n_buckets)
    score = F.aggregate(
        F.array_sort(feats),
        F.lit(0.0),
        lambda acc, b: acc + F.element_at(F.col("__dsir_lr"), (b + 1).cast("int")),
    )
    return docs.crossJoin(F.broadcast(ratio_row)).select(
        F.col(id_col), score.alias("score")
    )


# ---------------------------------------------------------------------------
# Hashed-ngram logistic quality classifier (fastText-style; GPT-3 §A /
# C4-style "looks like high-quality reference text" filtering)
# ---------------------------------------------------------------------------

_CLF_SCALE = 10**12  # fixed-point weight scale (micro-units of 1e-12)


def _clf_score_expr(fb: Column, lookup: Column) -> Column:
    """σ(Σ_occurrences w[b] / (n·SCALE)) from integer-scaled weights.
    The weight fold is exact long arithmetic (order-free, engine-
    portable); only the final division and sigmoid are floating point,
    computed identically from identical inputs in any engine. Docs with
    no features score σ(0) = 0.5."""
    from ..functions.text import let

    def z(f: Column) -> Column:
        s = F.aggregate(
            f,
            F.lit(0).cast("long"),
            lambda acc, b: acc + F.coalesce(F.element_at(lookup, b), F.lit(0)),
        )
        return F.when(
            F.size(f) > 0,
            s.cast("double") / (F.size(f).cast("double") * float(_CLF_SCALE)),
        ).otherwise(F.lit(0.0))

    return let(fb, lambda f: F.lit(1.0) / (F.lit(1.0) + F.exp(-z(f))))


def _clf_lookup(weights: list[int]) -> Column:
    entries: list[Column] = []
    for b, w in enumerate(weights):
        if w != 0:
            entries.append(F.lit(b).cast("long"))
            entries.append(F.lit(int(w)).cast("long"))
    if not entries:  # all-zero model: empty map still scores (coalesce 0)
        return F.map_from_arrays(
            F.array().cast("array<long>"), F.array().cast("array<long>")
        )
    return F.create_map(*entries)


def train_quality_classifier(
    df: DataFrame,
    label_col: str = "label",
    n_buckets: int = 256,
    iters: int = 2,
    lr: float = 50.0,
    text_col: str = "text",
) -> list[int]:
    """Hashed-bigram logistic regression by full-batch gradient descent —
    the fastText-shaped quality classifier GPT-3 (Brown et al. 2020,
    Appendix A) and CCNet-style pipelines use to keep raw text that
    "looks like" a high-quality target corpus. Features are DSIR's
    hashed-bigram buckets (counts matter), x_d = counts/n_d.

    Every accumulation that crosses rows is EXACT integer arithmetic in
    fixed point (``_CLF_SCALE``): per-doc residuals quantize to longs
    via floor(x+0.5) before the gradient sum, so the distributed Σ is
    order-independent and the whole training run is reproducible — and,
    for small ``iters``, re-derivable in plain SQL (the value-oracle
    contract). Per iteration: one in-row scoring pass over the cached
    feature table + one skinny (bucket, Σq) aggregation collected to the
    driver — the model is ``n_buckets``-sized by construction (the
    bigram-LM shippable-model pattern). Returns the scaled weight vector
    (list of ints, index = bucket).
    """
    import math

    feats = (
        df.select(
            F.col(label_col).cast("double").alias("y"),
            dsir_feature_buckets(F.col(text_col), n_buckets).alias("fb"),
        )
        .filter(F.size("fb") > 0)
        .persist()
    )
    n_docs = feats.count()
    if n_docs == 0:
        raise ValueError("no feature-bearing docs to train on")
    w = [0] * n_buckets
    try:
        for _ in range(iters):
            lookup = _clf_lookup(w)
            score = _clf_score_expr(F.col("fb"), lookup)
            q = F.floor(
                (score - F.col("y")) * float(_CLF_SCALE) / F.size("fb") + 0.5
            ).cast("long")
            grad = (
                feats.withColumn("q", q)
                .select(F.explode("fb").alias("b"), "q")
                .groupBy("b")
                .agg(F.sum("q").alias("g"))
                .collect()
            )
            for r in grad:
                w[r.b] -= math.floor(lr * r.g / n_docs + 0.5)
    finally:
        feats.unpersist()
    return w


def quality_classifier_scores(
    df: DataFrame,
    weights: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, score) — σ of the hashed-bigram linear model, computed
    entirely in-row with the scaled weights riding in the plan as a map
    literal (zero shuffle, zero join). Threshold or importance-sample on
    the score downstream (GPT-3 kept docs by a Pareto draw against it)."""
    lookup = _clf_lookup(weights)
    return df.select(
        F.col(id_col),
        _clf_score_expr(
            dsir_feature_buckets(F.col(text_col), len(weights)), lookup
        ).alias("score"),
    )


def dsir_sample(
    scored: DataFrame,
    n: int,
    id_col: str = "doc_id",
    score_col: str = "score",
    seed: str = "dsir",
) -> DataFrame:
    """DSIR's resampling half (Xie et al. 2023 §2): select ``n`` docs
    WITHOUT replacement with probability ∝ exp(log-importance-weight),
    via the Gumbel-top-k identity — key = score + Gumbel(0,1), take the
    n largest keys. The Gumbel draw is a pure function of (seed, id)
    (functions.detrandom rationale: partitioning/order independent,
    engine-reproducible; the +0.5 offset keeps u in (0,1) so -ln(-ln u)
    is always finite). The selection key is ROUNDED to 6 decimals with
    an id tie-break before the top-n: the raw key is a sum of ln()
    calls, and a last-ulp ln() divergence between engines on the
    rank-n/n+1 boundary would otherwise flip row MEMBERSHIP — the
    float-threshold class the oracle protocol forbids; after rounding,
    near-ties collapse and resolve by id identically everywhere. Top-n
    compiles to TakeOrderedAndProject — per-partition heaps, no global
    sort, driver holds n rows only."""
    from ..functions.detrandom import seeded_unit_uniform

    if n <= 0:
        raise ValueError("n must be positive")
    u = seeded_unit_uniform(seed, F.col(id_col))
    gumbel = -F.log(-F.log(u))
    return (
        scored.withColumn("_k", F.round(F.col(score_col) + gumbel, 6))
        .orderBy(F.col("_k").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("_k")
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle + sharding (the pre-training final step)
# ---------------------------------------------------------------------------


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    seed: str = "shuffle",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle into ``n_shards`` interleaved shards —
    the last step before a training run (data loaders stream shards in
    order, so corpus order must be a reproducible pseudo-random
    permutation, never ingestion order). Each row draws a hash key from
    (seed, id) — partitioning/order independent, re-derivable by any
    engine (functions.detrandom rationale) — lands in shard
    hash mod n_shards, and receives its position by key order WITHIN the
    shard. ONE exchange (the per-shard window); no global sort. Write
    with ``.write.partitionBy("shard")`` and readers stream
    (shard, pos) order. Returns the input columns + (shard, pos)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from ..functions.text import seeded_hash60
    from pyspark.sql import Window

    key = seeded_hash60(F.lit(seed), F.col(id_col).cast("string"))
    w = Window.partitionBy("shard").orderBy(
        F.col("_key").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_key", key)
        .withColumn("shard", F.pmod(F.col("_key"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_key")
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions — the audit every
    iterative dataset build wants before shipping v(N+1): which ids
    were added, removed, or changed (content fingerprint moved), and
    how many stayed byte-identical. Returns (id, status) with status in
    {'added', 'removed', 'changed', 'same'}.

    Shape: each side reduces to (id, md5(text)) BEFORE the full-outer
    join, so only 16-byte fingerprints shuffle, never content; one
    exchange per side on the id. NULL texts compare null-safely (two
    NULLs are 'same', NULL vs text is 'changed').
    """
    of = old.select(
        F.col(id_col).alias("__cd_id"), F.md5(F.col(text_col)).alias("__cd_o")
    )
    nf = new.select(
        F.col(id_col).alias("__cd_id"), F.md5(F.col(text_col)).alias("__cd_n")
    )
    o = of.alias("o")
    n = nf.alias("n")
    j = o.join(n, F.col("o.__cd_id") == F.col("n.__cd_id"), "full_outer")
    return j.select(
        F.coalesce(F.col("o.__cd_id"), F.col("n.__cd_id")).alias(id_col),
        F.when(F.col("o.__cd_id").isNull(), F.lit("added"))
        .when(F.col("n.__cd_id").isNull(), F.lit("removed"))
        .when(
            F.col("o.__cd_o").eqNullSafe(F.col("n.__cd_n")), F.lit("same")
        )
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def perplexity_buckets(
    scored: DataFrame,
    score_col: str,
    lang_col: str | None = None,
    id_col: str = "doc_id",
    labels: tuple[str, ...] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet's perplexity terciles (Wenzek et al. 2020 §4.3): within
    each language, rank documents by LM score ascending (low perplexity
    = closest to the reference corpus) and cut the ranking into
    ``len(labels)`` equal-count buckets — head/middle/tail is the
    split CCNet publishes and downstream recipes sample from (e.g.
    head+middle for LLaMA-style pretraining). Adds ``bucket``.

    Bucket = ((rank − 1) · n_buckets) div count — pure integer
    arithmetic on a (score, id)-ordered row_number, so assignment is
    deterministic and engine-portable; callers must pass an
    engine-stable score (the rounded fixed-decimal mean_nlp the LM
    scorer emits — raw float sums would tie-break differently across
    engines).

    Scale shape: ONE exchange on the language key + a per-language
    window sort — the same per-language sharding CCNet itself uses;
    a language's documents sort within its partition (Spark spills
    window sorts to disk, so a giant language is slow, not fatal).
    With ``lang_col=None`` the whole corpus is one ranking — only for
    monolingual corpora small enough for a single sort domain.
    """
    if len(labels) < 2:
        raise ValueError(f"need >= 2 bucket labels, got {labels!r}")
    from pyspark.sql import Window

    part = Window.partitionBy(*( [lang_col] if lang_col else [] ))
    w = part.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    n = len(labels)
    idx = ((F.row_number().over(w) - 1) * n).cast("long")
    cnt = F.count(F.lit(1)).over(part)
    bucket_ix = F.expr("__pb_num div __pb_den")
    out = (
        scored.withColumn("__pb_num", idx)
        .withColumn("__pb_den", cnt.cast("long"))
        .withColumn(
            "bucket",
            F.element_at(
                F.array(*[F.lit(x) for x in labels]),
                (bucket_ix + 1).cast("int"),
            ),
        )
        .drop("__pb_num", "__pb_den")
    )
    return out


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "split",
    denominator: int = 10_000,
) -> DataFrame:
    """Deterministic train/val/test assignment — the universal last
    fork of a dataset build. Each row draws an integer bucket in
    [0, denominator) from (seed, id) via the engine-wide portable hash
    (partitioning/order independent, re-derivable by any engine — the
    functions.detrandom rationale), and the split label is the first
    cumulative-fraction interval containing it, with fractions
    quantized to EXACT integer bucket counts (round(frac*denominator)
    — nearest, not truncation, so 0.57*10000's 5699.999… double still
    yields 5700 — remainder to the last split) so boundaries are
    integer comparisons — no float threshold can flip between engines.
    Adds ``split`` (NULL for NULL ids — mirrored by the oracle);
    zero shuffle, pure in-row expression. Membership is stable under
    any re-partitioning, appends, or re-runs: a document can never
    migrate between splits across pipeline versions, which is the
    property that keeps eval sets uncontaminated over time.
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    if any(f < 0 for f in fractions.values()):
        raise ValueError(f"fractions must be >= 0, got {fractions}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total!r}")
    names = list(fractions)
    # round-to-nearest, NOT int(): 0.57 * 10000 is 5699.999… as a
    # double, and truncation would shift the boundary bucket — the
    # float-representation trap this operator exists to avoid
    widths = [round(fractions[n] * denominator) for n in names]
    widths[-1] = denominator - sum(widths[:-1])  # exact remainder
    # pathological rounding must fail loudly, not silently skew: three
    # 0.3335 fractions at denominator 1000 each round UP, driving the
    # remainder negative (unreachable last split, over-weighted
    # predecessors); a positive fraction quantizing to zero buckets
    # would likewise silently drop its split
    if widths[-1] < 0:
        raise ValueError(
            f"fractions round to more than denominator={denominator} "
            f"buckets ({dict(zip(names, widths))}); raise denominator"
        )
    for name, width in zip(names, widths):
        if width == 0 and fractions[name] > 0:
            raise ValueError(
                f"fraction {fractions[name]!r} for split {name!r} "
                f"quantizes to zero buckets at denominator={denominator}; "
                "raise denominator"
            )
    from ..functions.text import seeded_hash60

    bucket = F.pmod(
        seeded_hash60(F.lit(seed), F.col(id_col).cast("string")),
        F.lit(denominator),
    )
    hi = 0
    expr = None
    for name, width in zip(names, widths):
        hi += width
        cond = bucket < F.lit(hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("split", expr)


def pareto_select(
    scored: DataFrame,
    alpha: float = 9.0,
    id_col: str = "doc_id",
    score_col: str = "score",
    seed: str = "pareto",
) -> DataFrame:
    """GPT-3's quality-score document selection (Brown et al. 2020,
    Appendix A): keep a document iff ``pareto_draw(alpha) > 1 − score``
    — high-scoring docs almost always survive, low-scoring docs survive
    occasionally (a smooth lottery instead of a hard threshold, which
    preserves tail diversity). The Pareto draw is inverse-transform
    sampled from a DETERMINISTIC (seed, id) uniform —
    x = (1 − u)^(−1/α) − 1, the functions.detrandom rationale — so the
    kept set is a pure function of the data, independent of
    partitioning and engine. The survival MARGIN (draw − (1 − score))
    is rounded to 6 decimals before the comparison: pow() is a
    transcendental whose last ulp may differ between engines, and an
    oracle-compared membership test must not sit on that edge (the
    dsir_sample Gumbel-key rule; an exactly-zero rounded margin drops).
    Pure in-row filter, zero shuffle."""
    from ..functions.detrandom import seeded_unit_uniform

    if alpha <= 0:
        raise ValueError("alpha must be positive")
    u = seeded_unit_uniform(seed, F.col(id_col))
    draw = F.pow(F.lit(1.0) - u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    margin = F.round(draw - (F.lit(1.0) - F.col(score_col)), 6)
    return scored.filter(margin > 0.0)


# Remaining Gopher §A1.1 rules (Rae et al. 2021) beyond DEFAULT_RULES —
# kept as a SEPARATE predicate set so the long-green quality_audit
# oracle stays byte-identical.
GOPHER_EXTENDED_RULES: dict[str, float] = {
    "max_bullet_line_fraction": 0.9,
    "max_ellipsis_line_fraction": 0.3,
    "min_alpha_word_fraction": 0.8,
    "max_symbol_word_ratio": 0.1,
}


def gopher_extended_predicates(
    text: Column, rules: dict[str, float] | None = None
) -> dict[str, Column]:
    """One boolean per remaining Gopher rule (True = passes), compared by
    integer cross-multiplication against the rule's exact rational (the
    quality_predicates hazard note) — no double division anywhere.
    Empty denominators pass (a doc with no lines/words fails the core
    rules already)."""
    from ..functions.text import gopher_line_counts

    r = {**GOPHER_EXTENDED_RULES, **(rules or {})}
    c = gopher_line_counts(text)

    # decimal(38,0) cross-multiplication — same guard as
    # quality_predicates: a custom threshold like 1/3 has a 10^16
    # rational denominator, and count·denominator overflows BIGINT
    # (ANSI mode kills the job; non-ANSI silently wraps)
    def _d(x: Column | int) -> Column:
        return (F.lit(x) if isinstance(x, int) else x).cast("decimal(38,0)")

    def le(num: Column, den: Column, thr: float) -> Column:
        f = rule_fraction(thr)
        return F.when(
            den > 0, _d(num) * _d(f.denominator) <= _d(den) * _d(f.numerator)
        ).otherwise(F.lit(True))

    def ge(num: Column, den: Column, thr: float) -> Column:
        f = rule_fraction(thr)
        return F.when(
            den > 0, _d(num) * _d(f.denominator) >= _d(den) * _d(f.numerator)
        ).otherwise(F.lit(True))

    return {
        "bullet_ok": le(
            c["n_bullet_lines"], c["n_lines"], r["max_bullet_line_fraction"]
        ),
        "ellipsis_ok": le(
            c["n_ellipsis_lines"], c["n_lines"], r["max_ellipsis_line_fraction"]
        ),
        "alpha_ok": ge(
            c["n_alpha_words"], c["n_words"], r["min_alpha_word_fraction"]
        ),
        "symbol_ok": le(
            c["n_symbols"], c["n_words"], r["max_symbol_word_ratio"]
        ),
    }


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (extension; round 8)
# ---------------------------------------------------------------------------


def compression_ratio_ppm(text: Column, level: int = 6) -> Column:
    """zlib-compressed size over raw UTF-8 size, as integer
    parts-per-million (NULL text → NULL).

    The classic repetition/boilerplate detector (used alongside the
    Gopher rules in web-corpus curation): machine-generated or
    template-stamped text compresses far below prose (ratio well under
    ~300_000 ppm), while random/binary-ish payloads sit near or above
    1_000_000. Complements :func:`quality_predicates`' n-gram repetition
    ceilings — zlib's LZ77 window catches long-range and cross-line
    repetition the fixed-size n-gram rules cannot.

    Execution: Arrow-batched pandas_udf; the per-row Python loop only
    dispatches into zlib's C compressor (measured ~100 MB/s/core at
    level 6 — one scan, no shuffle, embarrassingly parallel). Integer
    ppm (size ratios are exact rationals) keeps downstream threshold
    predicates engine-stable — the rule_fraction rationale. zlib output
    length is deterministic for a pinned level within a zlib build;
    tests pin ORDERING properties (repetitive < prose < random), not
    exact byte counts.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _kern(s: pd.Series) -> pd.Series:
        import zlib

        out = []
        for v in s:
            if v is None:
                out.append(None)
                continue
            raw = v.encode("utf-8")
            if not raw:
                out.append(1_000_000)
                continue
            out.append(len(zlib.compress(raw, level)) * 1_000_000 // len(raw))
        return pd.Series(out, dtype="object")

    _kern.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_kern, "long")(text)


def compression_gate(
    docs: DataFrame,
    text_col: str = "text",
    min_ppm: int = 250_000,
    max_ppm: int = 1_050_000,
    level: int = 6,
) -> DataFrame:
    """Flag documents by compressibility band: ``too_repetitive``
    (below ``min_ppm`` — template spam, stutter loops),
    ``too_incompressible`` (above ``max_ppm`` — binary junk,
    encrypted/encoded blobs), else ``ok``. Adds ``compression_ppm``
    and ``compression_flag``; filtering is the caller's policy
    decision (the audit-then-filter pattern of quality_audit).

    Zero-length text gets its own ``empty_text`` flag: the ppm kernel
    maps it to the 1_000_000 sentinel (0/0 has no ratio), which would
    otherwise land inside the default ``ok`` band and silently pass
    empty documents through the quality gate."""
    ppm = compression_ratio_ppm(F.col(text_col), level)
    return docs.withColumn("compression_ppm", ppm).withColumn(
        "compression_flag",
        F.when(F.col("compression_ppm").isNull(), F.lit("null_text"))
        .when(F.length(F.col(text_col)) == 0, F.lit("empty_text"))
        .when(F.col("compression_ppm") < min_ppm, F.lit("too_repetitive"))
        .when(
            F.col("compression_ppm") > max_ppm, F.lit("too_incompressible")
        )
        .otherwise(F.lit("ok")),
    )
