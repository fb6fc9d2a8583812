"""WARC (Web ARChive, ISO 28500) ingestion — the head of the web-corpus
funnel the engine already owns the tail of (URL canonicalization →
TrustRank → Bloom decontamination → ``html_to_text`` → Gopher rules →
dedup). Common Crawl — the dominant public LLM-corpus source — ships
as ``.warc.gz`` files of per-record gzip members; a 100 TB pretraining
build starts exactly here.

Reference scope note: the reference pipeline ingests curated research
dumps (JSON/COCO/HDF5/protobuf — SURVEY §2.1) and has no crawl reader;
this module is part of the brief's "operations a large-scale
training-data pipeline would need" extension surface, like the rest of
the curation family.

Two parse paths, ONE framing semantics (header block terminated by
CRLFCRLF, payload framed by ``Content-Length`` — never by searching
for a delimiter, because payloads legally contain blank lines):

- :func:`read_warc` — the production scan. ``binaryFile`` over
  ``.warc``/``.warc.gz`` trees → ``mapInPandas`` STREAMING record
  splitter (:func:`iter_warc_records` through
  :func:`batched_record_frames`): gzip members decompress lazily one
  member at a time (:func:`split_gzip_members` is a generator),
  records framed by BYTE Content-Length per spec, HTTP response
  envelopes stripped executor-side, and records flush in bounded
  frames (record-count OR payload-byte cap) so a 3-5 GB decompressed
  segment peaks at ~64 MiB per task, not the whole segment. Payload
  bytes stay inside the Arrow batch — only the (bounded) fields the
  caller selects cross to the JVM. Input-split
  parallelism comes from the file listing (Common Crawl segments are
  ~1 GB each, thousands per crawl: natural partition grain); one
  corrupt segment follows the ``sources.robust`` skip policy instead
  of killing the job.
- :func:`warc_fields` / :func:`http_fields` — in-row Column programs
  over a record-per-row STRING column (a record already split out and
  decoded, e.g. by the splitter above or a text-mode exporter). Pure
  ``regexp_extract``/``substring`` — zero shuffle, codegen-friendly,
  and mirrored expression-for-expression by the DuckDB oracle
  (``plans.star_queries_llm.warc_parse_records``). These frame by
  CHARACTERS (the column is decoded text); the byte-exact path is the
  reader above, and the equivalence of the two on ASCII records is
  pinned by ``tests/test_warc.py``.

Record layout parsed (WARC/1.0 and 1.1)::

    WARC/1.0\r\n
    WARC-Type: response\r\n
    WARC-Record-ID: <urn:uuid:...>\r\n
    WARC-Date: 2025-01-01T00:00:00Z\r\n
    WARC-Target-URI: https://...\r\n
    Content-Type: application/http; msgtype=response\r\n
    Content-Length: <n>\r\n
    \r\n
    <n bytes of payload>\r\n
    \r\n

For ``response`` records the payload is an HTTP/1.x message; the
status line and headers are split off at the FIRST CRLFCRLF and the
body is what the content stages (``functions.text.html_to_text``)
consume.
"""

from __future__ import annotations

import zlib
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import robust

__all__ = [
    "split_gzip_members",
    "encode_warc_record",
    "read_warc",
    "warc_fields",
    "http_fields",
    "WARC_RECORDS",
]

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"


def split_gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress a concatenated-gzip stream member by member (the
    Common Crawl ``.warc.gz`` layout: ONE gzip member per record, so
    byte-range readers can start at any member boundary). Plain
    uncompressed input is yielded whole."""
    if data[:2] != b"\x1f\x8b":
        yield data
        return
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        yield d.decompress(data[pos:])
        tail = d.unused_data
        if not d.eof:
            raise ValueError("truncated gzip member in WARC stream")
        pos = len(data) - len(tail)
        if tail[:2] != b"\x1f\x8b":
            if tail.strip(b"\x00"):
                raise ValueError("trailing garbage after gzip member")
            return


def _parse_headers(block: bytes) -> dict[str, str]:
    """WARC named fields: ``Name: value`` per line, names
    case-insensitive per spec (normalized to lower here)."""
    headers: dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" not in line:
            continue
        name, _, value = line.partition(b":")
        headers[name.strip().lower().decode("ascii")] = value.strip().decode(
            "utf-8", "replace"
        )
    return headers


def _split_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) from an HTTP/1.x message; (None,
    None, payload) when the payload isn't one."""
    if not payload.startswith(b"HTTP/1."):
        return None, None, payload
    head, sep, body = payload.partition(_HDR_END)
    if not sep:
        return None, None, payload
    lines = head.split(_CRLF)
    parts = lines[0].split(b" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, payload
    ctype = None
    for line in lines[1:]:
        name, _, value = line.partition(b":")
        if name.strip().lower() == b"content-type":
            ctype = value.strip().decode("utf-8", "replace")
            break
    return status, ctype, body


def iter_warc_records(path: str, content: bytes):
    """Split one WARC file (possibly multi-member gzip) into record
    dicts, LAZILY — gzip members decompress one at a time
    (:func:`split_gzip_members` is itself a generator) and each record
    dict is yielded as soon as it is framed, so peak memory is one
    member + one payload, not the decompressed segment. Framing is
    strict: ``Content-Length`` BYTES of payload, then CRLFCRLF (the
    final record may omit the trailer). Unknown or missing named fields
    become NULLs, never errors — crawls are messy; a record with no
    Content-Length at all is the one malformation that raises (the
    stream offset is lost)."""
    for member in split_gzip_members(content):
        off = 0
        n = len(member)
        while off < n:
            # tolerate stray CRLFs between records
            while off < n and member[off : off + 2] == _CRLF:
                off += 2
            if off >= n:
                break
            if not member.startswith(b"WARC/", off):
                raise ValueError(f"not a WARC record at offset {off} in {path}")
            hdr_end = member.find(_HDR_END, off)
            if hdr_end < 0:
                raise ValueError(f"unterminated WARC header block in {path}")
            headers = _parse_headers(member[off:hdr_end])
            try:
                clen = int(headers["content-length"])
            except (KeyError, ValueError):
                raise ValueError(
                    f"WARC record without valid Content-Length in {path}"
                ) from None
            payload = member[hdr_end + 4 : hdr_end + 4 + clen]
            if len(payload) < clen:
                raise ValueError(f"truncated WARC payload in {path}")
            status, http_ctype, body = _split_http(payload)
            yield {
                "path": path,
                "record_id": headers.get("warc-record-id"),
                "warc_type": headers.get("warc-type"),
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_type": headers.get("content-type"),
                "content_length": clen,
                "http_status": status,
                "http_content_type": http_ctype,
                "body": bytes(body),
            }
            off = hdr_end + 4 + clen


def encode_warc_record(headers: dict[str, str], payload: bytes) -> bytes:
    """The writer half (tests/fixtures round-trip through the engine's
    own encoder, like every codec in ``sources``): Content-Length is
    computed, callers pass the named fields only.
    A test reference: the round-trip witness the decoder tests compare
    against."""
    lines = ["WARC/1.0"]
    lines += [f"{k}: {v}" for k, v in headers.items()]
    lines.append(f"Content-Length: {len(payload)}")
    head = ("\r\n".join(lines)).encode("utf-8") + _HDR_END
    return head + payload + _HDR_END


WARC_RECORDS = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("body", T.BinaryType()),
    ]
)


# bounded-batch defaults for the streaming splitter: flush when EITHER
# cap trips, so peak in-flight decompressed payload per task is
# ~BATCH_BYTES + one record regardless of segment size
WARC_BATCH_RECORDS = 2048
WARC_BATCH_BYTES = 64 << 20  # 64 MiB of payload per emitted frame


def batched_record_frames(
    files,
    on_error: str = "fail",
    batch_records: int = WARC_BATCH_RECORDS,
    batch_bytes: int = WARC_BATCH_BYTES,
) -> Iterator[pd.DataFrame]:
    """(path, content) pairs → bounded-size record DataFrames. The
    worker half of :func:`read_warc`, module-level so the bounding
    property is unit-testable without Spark. A frame flushes when
    either cap trips; caps apply ACROSS file boundaries (many small
    files coalesce into one frame, one huge segment spreads over
    many).

    ``on_error='skip'`` semantics under streaming: a file is dropped
    from its FIRST corrupt record onward — records before the
    corruption that already left in a flushed frame cannot be
    retracted (the memory bound is the point). An eager decode under
    ``robust.guard(..., 'skip')`` drops whole files;
    :func:`robust.file_decode_errors` audits identically for both."""
    robust.check_on_error(on_error)
    cols = [f.name for f in WARC_RECORDS.fields]
    buf: list[dict[str, Any]] = []
    held = 0
    for path, content in files:
        records = iter_warc_records(path, bytes(content))
        while True:
            try:
                rec = next(records)
            except StopIteration:
                break
            except Exception:
                if on_error == "fail":
                    raise
                break  # skip: drop this file from the corrupt record on
            buf.append(rec)
            held += int(rec["content_length"] or 0)
            if len(buf) >= batch_records or held >= batch_bytes:
                yield pd.DataFrame(buf, columns=cols)
                buf, held = [], 0
    if buf:
        yield pd.DataFrame(buf, columns=cols)


def read_warc(
    spark: SparkSession,
    pattern: str,
    glob: str = "*.warc*",
    on_error: str = "fail",
    batch_records: int = WARC_BATCH_RECORDS,
    batch_bytes: int = WARC_BATCH_BYTES,
) -> DataFrame:
    """Scan a WARC tree to one row per record. Scale shape: binaryFile
    gives one task per file (Common Crawl's ~1 GB segment grain);
    records never leave their file's task, bodies cross only the Arrow
    boundary in BOUNDED frames (the streaming splitter above — a 3-5 GB
    decompressed segment peaks at ~batch_bytes per task, not the whole
    segment); everything downstream is a column program. No shuffle.
    SURVEY round 7, "WARC splitter streams bounded batches"."""
    robust.check_on_error(on_error)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pairs = (
            (path, content)
            for pdf in batches
            for path, content in zip(pdf["path"], pdf["content"])
        )
        yield from batched_record_frames(
            pairs, on_error, batch_records, batch_bytes
        )

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(pattern)
        .select("path", "content")
    )
    return binary.mapInPandas(decode, schema=WARC_RECORDS)


# ---------------------------------------------------------------------------
# In-row Column programs (record-per-row string column)
# ---------------------------------------------------------------------------

_CRLF_S = "\r\n"
_HDR_END_S = "\r\n\r\n"


def _named_field(rec: Column, name: str) -> Column:
    """One WARC named field out of the header block. Anchored to a line
    start (string start or CRLF) so a value containing ``Name:`` can't
    spoof it; header block only, because payloads may contain
    header-shaped lines — callers pass the pre-sliced block."""
    out = F.regexp_extract(rec, rf"(?:^|\r\n){name}: ?([^\r\n]*)", 1)
    return F.when(out == "", None).otherwise(out)


def warc_fields(rec: Column) -> dict[str, Column]:
    """Parse one WARC record string into its fields, in-row. Framing
    mirrors :func:`iter_warc_records` exactly (CRLFCRLF header
    terminator, Content-Length-framed payload) but counts CHARACTERS —
    the column is decoded text. ``payload`` is sliced by the declared
    length, so blank lines INSIDE payloads do not break framing (the
    demo corpus plants them on purpose)."""
    hdr_len = F.instr(rec, _HDR_END_S)  # 1-based index of the CRLFCRLF
    block = F.substring(rec, F.lit(1), hdr_len - 1)
    clen = _named_field(block, "Content-Length").cast("long")
    payload = rec.substr(hdr_len + 4, clen)
    return {
        "record_id": _named_field(block, "WARC-Record-ID"),
        "warc_type": _named_field(block, "WARC-Type"),
        "target_uri": _named_field(block, "WARC-Target-URI"),
        "warc_date": _named_field(block, "WARC-Date"),
        "content_type": _named_field(block, "Content-Type"),
        "content_length": clen,
        "payload": payload,
    }


def http_fields(payload: Column) -> dict[str, Column]:
    """Split an HTTP/1.x response payload into (status, content_type,
    body), in-row. Non-HTTP payloads yield NULL status/ctype and the
    payload unchanged as body — same contract as the byte path."""
    is_http = payload.startswith("HTTP/1.")
    status_s = F.regexp_extract(payload, r"^HTTP/1\.[01] ([0-9]{3})", 1)
    status = F.when(is_http & (status_s != ""), status_s.cast("int"))
    head_end = F.instr(payload, _HDR_END_S)
    head = F.substring(payload, F.lit(1), head_end - 1)
    ctype = F.when(
        status.isNotNull(), _named_field(head, "Content-Type")
    )
    body = F.when(
        status.isNotNull() & (head_end > 0),
        payload.substr(head_end + 4, F.length(payload)),
    ).otherwise(payload)
    return {"http_status": status, "http_content_type": ctype, "body": body}
