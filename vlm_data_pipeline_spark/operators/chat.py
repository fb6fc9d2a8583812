"""Conversation (SFT/chat) data operators: validation, template
flattening, prompt-level dedup.

Modern training-data pipelines spend a large share of their time on
conversation-shaped data — arrays of (role, content) turns destined
for supervised fine-tuning. The operations are the same three the
plain-text side has, re-expressed over the turn structure: structural
VALIDATION (roles alternate, user speaks first, assistant speaks last,
nothing empty — the malformed-conversation filters every SFT recipe
applies before templating), TEMPLATE FLATTENING (turns → one training
string under a chat template), and PROMPT DEDUP (SFT sets accumulate
many responses to the same prompt; dedup keys on the first user turn,
not the whole conversation).

Schema contract: a conversation is a column of
``array<struct<role: string, content: string>>``. Every operator here
is a pure in-row Column program over that array (zero shuffle except
the dedup groupBy, which ships only (prompt-fingerprint, id) — the
standard fingerprints-not-content rule), so they run unchanged under
Structured Streaming and their SQL mirrors are plain list/struct
expressions.

Extension past reference parity (the reference is a vision pipeline);
design follows the published SFT-data practice (e.g. the cleaning
steps described for OpenAssistant/Tulu-style mixes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import hash60

ROLE_USER = "user"
ROLE_ASSISTANT = "assistant"


def conversation_flags(turns: Column) -> dict[str, Column]:
    """Structural-validity flags, one boolean Column each (True = ok):

    - ``starts_user``: first turn's role is 'user'
    - ``ends_assistant``: last turn's role is 'assistant'
    - ``alternates``: no two consecutive turns share a role
    - ``no_empty``: every turn has non-empty content
    - ``has_turns``: at least 2 turns (a prompt alone trains nothing)

    All in-row array folds; combine with :func:`valid_conversation`
    or audit per-flag rejection rates like the Gopher quality rules.
    """
    n = F.size(turns)
    first_role = F.element_at(turns, 1)["role"]
    last_role = F.element_at(turns, -1)["role"]
    pairs_ok = F.forall(
        F.zip_with(
            F.slice(turns, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(turns, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: a["role"] != b["role"],
        ),
        lambda ok: ok,
    )
    return {
        "has_turns": n >= 2,
        "starts_user": F.when(n > 0, first_role == ROLE_USER).otherwise(False),
        "ends_assistant": F.when(n > 0, last_role == ROLE_ASSISTANT).otherwise(
            False
        ),
        "alternates": F.when(n >= 2, pairs_ok).otherwise(F.lit(True)),
        "no_empty": F.forall(
            turns, lambda t: t["content"].isNotNull() & (t["content"] != "")
        ),
    }


def valid_conversation(turns: Column) -> Column:
    """The conjunction of every flag — the SFT keep-predicate."""
    keep = F.lit(True)
    for flag in conversation_flags(turns).values():
        keep = keep & flag
    return keep


def apply_chat_template(
    turns: Column,
    open_fmt: str = "<|{role}|>",
    close: str = "<|end|>",
) -> Column:
    """Turns → ONE training string: ``<|role|>content<|end|>`` per
    turn, concatenated in order — the ChatML shape with the role
    spliced into ``open_fmt``. A pure in-row fold (aggregate over the
    array); the tokenizer/packing stages downstream consume the result
    exactly like any other document text."""
    before, sep, after = open_fmt.partition("{role}")
    if not sep:
        raise ValueError(
            f"open_fmt must contain a {{role}} placeholder, got {open_fmt!r}"
        )
    return F.aggregate(
        turns,
        F.lit("").cast("string"),
        lambda acc, t: F.concat(
            acc, F.lit(before), t["role"], F.lit(after), t["content"],
            F.lit(close),
        ),
    )


def first_user_prompt(turns: Column) -> Column:
    """Content of the first 'user' turn (NULL if none) — the dedup key
    for SFT sets, where many conversations share a prompt but diverge
    in responses."""
    users = F.filter(turns, lambda t: t["role"] == ROLE_USER)
    return F.when(F.size(users) > 0, F.element_at(users, 1)["content"])


def prompt_dedup_groups(
    convs: DataFrame, turns_col: str = "turns", id_col: str = "doc_id"
) -> DataFrame:
    """Prompt-level dedup: group conversations by the 60-bit fingerprint
    of their first user turn, report (prompt_fp, keep_id, n_dups) for
    groups of size > 1 — the delete/keep list shape shared with
    exact_dedup_groups / url_dedup_groups. Only (fingerprint, id) pairs
    shuffle; conversations without a user turn are skipped (they fail
    validation anyway)."""
    key = first_user_prompt(F.col(turns_col))
    return (
        convs.select(
            F.col(id_col).alias("__pd_id"), hash60(key).alias("prompt_fp")
        )
        .filter(F.col("prompt_fp").isNotNull())
        .groupBy("prompt_fp")
        .agg(
            F.min("__pd_id").alias("keep_id"),
            (F.count(F.lit(1)) - 1).alias("n_dups"),
        )
        .filter(F.col("n_dups") > 0)
    )


def preference_pairs(
    scored: DataFrame,
    prompt_col: str = "prompt_fp",
    id_col: str = "doc_id",
    completion_col: str = "completion",
    score_col: str = "score",
    min_margin: int = 1,
) -> DataFrame:
    """DPO/RLHF preference-pair construction: per prompt, ``chosen`` =
    the highest-scored completion (smallest id on ties), ``rejected`` =
    the lowest-scored (largest id on ties — the opposite corner, so a
    two-way tie still yields two DISTINCT rows), emitted only when the
    score margin is >= ``min_margin``. Scores should be the engine's
    usual fixed-point longs — float scores would make the margin
    threshold engine-dependent.

    Shape: one exchange on the prompt key, two row_number windows over
    the (small) per-prompt completion groups, then a self-join of the
    two rank-1 rows — no group ever exceeds its completion count, so
    the windows never see corpus-scale partitions (prompts with a
    single completion produce no pair: chosen == rejected is filtered
    by the margin/id guard).

    Output: (prompt, chosen_id, chosen, rejected_id, rejected, margin).
    """
    from pyspark.sql import Window

    p, i = F.col(prompt_col), F.col(id_col)
    top = Window.partitionBy(prompt_col).orderBy(
        F.col(score_col).desc(), i.asc()
    )
    bot = Window.partitionBy(prompt_col).orderBy(
        F.col(score_col).asc(), i.desc()
    )
    ranked = scored.select(
        p.alias("__pp_prompt"),
        i.alias("__pp_id"),
        F.col(completion_col).alias("__pp_text"),
        F.col(score_col).alias("__pp_score"),
        F.row_number().over(top).alias("__pp_top"),
        F.row_number().over(bot).alias("__pp_bot"),
    )
    c = ranked.filter(F.col("__pp_top") == 1).select(
        F.col("__pp_prompt").alias(prompt_col),
        F.col("__pp_id").alias("chosen_id"),
        F.col("__pp_text").alias("chosen"),
        F.col("__pp_score").alias("__pp_cs"),
    )
    r = ranked.filter(F.col("__pp_bot") == 1).select(
        F.col("__pp_prompt").alias(prompt_col),
        F.col("__pp_id").alias("rejected_id"),
        F.col("__pp_text").alias("rejected"),
        F.col("__pp_score").alias("__pp_rs"),
    )
    return (
        c.join(r, prompt_col)
        .filter(
            (F.col("__pp_cs") - F.col("__pp_rs") >= min_margin)
            & (F.col("chosen_id") != F.col("rejected_id"))
        )
        .select(
            prompt_col, "chosen_id", "chosen", "rejected_id", "rejected",
            (F.col("__pp_cs") - F.col("__pp_rs")).alias("margin"),
        )
    )


TURNS_SCHEMA = "array<struct<role: string, content: string>>"


def parse_conversation_json(json_col: Column) -> Column:
    """JSON string → the turns array (SFT corpora ship as JSONL with a
    'messages'/'conversation' list). Accepts either a bare array
    ``[{"role": …, "content": …}, …]`` or an object wrapping it under
    ``messages``; anything unparseable yields NULL (feed to
    :func:`valid_conversation`, which rejects NULL turns via its
    flags). Pure ``from_json`` — JVM-side, no UDF. SURVEY, "JSONL
    conversation ingestion via pure from_json"."""
    # discriminate on the first character rather than coalescing: the
    # permissive from_json parses an OBJECT against an array schema as
    # [null-struct] (not NULL), which would shadow the wrapped parse
    trimmed = F.ltrim(json_col)
    bare = F.from_json(json_col, TURNS_SCHEMA)
    wrapped = F.from_json(
        json_col, f"struct<messages: {TURNS_SCHEMA}>"
    )["messages"]
    return F.when(trimmed.startswith("["), bare).when(
        trimmed.startswith("{"), wrapped
    )
