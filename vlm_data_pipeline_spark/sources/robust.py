"""Decode-failure policy for binary-file sources (S5/S6/S8 + tf.Example).

At cluster scale one corrupt file in a million must not kill a
1000-executor job: every binary reader takes ``on_error``:

- ``"fail"`` (default): raise — the debugging/CI mode, where a corrupt
  fixture IS the bug;
- ``"skip"``: drop the file's rows and keep going — the production mode.
  Skipping is SILENT by design (a metric-side count would double-count
  under task retries); pair it with :func:`file_decode_errors`, which
  audits the same tree as a first-class DataFrame query.

This mirrors Spark's own PERMISSIVE/FAILFAST reader modes, adapted to
custom mapInPandas decoders whose output schemas have no room for a
``_corrupt_record`` column.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

ON_ERROR_MODES = ("fail", "skip")


def check_on_error(on_error: str) -> None:
    """Reject an unknown policy on the driver, before any job runs."""
    if on_error not in ON_ERROR_MODES:
        raise ValueError(f"on_error must be one of {ON_ERROR_MODES}, got {on_error!r}")


def guard(
    parse: Callable[..., list[dict[str, Any]]], on_error: str
) -> Callable[..., list[dict[str, Any]]]:
    """Wrap a per-file parser with the decode-failure policy."""
    check_on_error(on_error)
    if on_error == "fail":
        return parse

    def safe(*args: Any) -> list[dict[str, Any]]:
        try:
            return parse(*args)
        except Exception:
            return []

    return safe


DECODE_ERRORS = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("error", T.StringType()),
    ]
)


def file_decode_errors(
    spark: SparkSession,
    pattern: str,
    glob: str,
    probe: Callable[[str, bytes], Any],
) -> DataFrame:
    """Audit a binary tree: one row per file whose ``probe(path, content)``
    raises, with the exception text. The operational complement of
    ``on_error='skip'`` — run it as a query to know exactly what a
    permissive ingest dropped and why. SURVEY, "decode-failure policy for
    every binary source"."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    probe(path, content)
                except Exception as exc:  # noqa: BLE001 — the point is the audit
                    rows.append(
                        {"path": path, "error": f"{type(exc).__name__}: {exc}"}
                    )
            yield pd.DataFrame(rows, columns=["path", "error"])

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(pattern)
        .select("path", "content")
    )
    return binary.mapInPandas(decode, schema=DECODE_ERRORS)
