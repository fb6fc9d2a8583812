"""WARC ingestion: record framing (Content-Length, not delimiters),
gzip member splitting (Common Crawl per-record layout), HTTP envelope
stripping, malformed-input policy, the binaryFile→mapInPandas scan
end-to-end, and byte-path ≡ in-row-Column-path equivalence on ASCII
records."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from vlm_data_pipeline_spark.sources.warc import (
    encode_warc_record,
    http_fields,
    iter_warc_records,
    read_warc,
    split_gzip_members,
    warc_fields,
)


def parse_warc_bytes(path: str, content: bytes) -> list[dict]:
    """Every record of one WARC file at once."""
    return list(iter_warc_records(path, content))


def _http_response(body: bytes, status: int = 200) -> bytes:
    return (
        f"HTTP/1.1 {status} OK\r\n"
        "Content-Type: text/html; charset=utf-8\r\n"
        "X-Robots-Tag: none\r\n\r\n"
    ).encode() + body


def _response_record(uri: str, body: bytes, status: int = 200) -> bytes:
    return encode_warc_record(
        {
            "WARC-Type": "response",
            "WARC-Record-ID": f"<urn:uuid:{hash(uri) & 0xFFFF:04x}>",
            "WARC-Date": "2025-01-01T00:00:00Z",
            "WARC-Target-URI": uri,
            "Content-Type": "application/http; msgtype=response",
        },
        _http_response(body, status),
    )


REQ = encode_warc_record(
    {
        "WARC-Type": "request",
        "WARC-Target-URI": "https://example.com/a",
        "Content-Type": "application/http; msgtype=request",
    },
    b"GET /a HTTP/1.1\r\nHost: example.com\r\n\r\n",
)
INFO = encode_warc_record(
    {"WARC-Type": "warcinfo", "Content-Type": "application/warc-fields"},
    b"software: vlm-tests\r\n",
)
# body with a blank CRLF line INSIDE — delimiter-based framing would
# truncate it; Content-Length framing must not
TRICKY_BODY = b"<html><p>first</p>\r\n\r\n<p>second</p></html>"
RESP = _response_record("https://example.com/a", TRICKY_BODY)
RESP2 = _response_record("https://example.com/b", b"<html>gone</html>", 404)


def test_roundtrip_uncompressed_multi_record():
    rows = parse_warc_bytes("f.warc", INFO + REQ + RESP + RESP2)
    assert [r["warc_type"] for r in rows] == [
        "warcinfo",
        "request",
        "response",
        "response",
    ]
    r = rows[2]
    assert r["target_uri"] == "https://example.com/a"
    assert r["http_status"] == 200
    assert r["http_content_type"] == "text/html; charset=utf-8"
    assert r["body"] == TRICKY_BODY
    assert rows[3]["http_status"] == 404
    # non-HTTP payloads pass through with NULL status
    assert rows[0]["http_status"] is None
    assert rows[0]["body"] == b"software: vlm-tests\r\n"
    # request payloads are HTTP but not responses: status line is a
    # method, so status stays NULL and the payload is the body
    assert rows[1]["http_status"] is None


def test_gzip_member_per_record_layout():
    # Common Crawl: one gzip member per record, concatenated
    blob = b"".join(gzip.compress(r) for r in (INFO, RESP, RESP2))
    members = list(split_gzip_members(blob))
    assert len(members) == 3
    rows = parse_warc_bytes("f.warc.gz", blob)
    assert len(rows) == 3 and rows[1]["body"] == TRICKY_BODY


def test_whole_file_gzip_and_plain_equivalent():
    plain = parse_warc_bytes("f", INFO + RESP)
    whole = parse_warc_bytes("f", gzip.compress(INFO + RESP))
    for a, b in zip(plain, whole):
        assert {**a, "path": None} == {**b, "path": None}


def test_malformed_raises():
    with pytest.raises(ValueError, match="truncated WARC payload"):
        parse_warc_bytes("f", RESP[:-10])
    with pytest.raises(ValueError, match="not a WARC record"):
        parse_warc_bytes("f", b"HTTP/1.1 200 OK\r\n\r\n")
    bad = RESP.replace(b"Content-Length:", b"Content-Size:")
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc_bytes("f", bad)
    with pytest.raises(ValueError, match="truncated gzip"):
        parse_warc_bytes("f", gzip.compress(RESP)[:-6])


def test_read_warc_scan_and_skip_policy(spark, tmp_path):
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg0.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in (INFO, REQ, RESP))
    )
    (d / "seg1.warc").write_bytes(RESP2)
    (d / "seg2.warc.gz").write_bytes(b"\x1f\x8bgarbage-not-gzip")
    with pytest.raises(Exception):
        read_warc(spark, str(d)).count()
    df = read_warc(spark, str(d), on_error="skip")
    rows = {r["target_uri"]: r for r in df.collect() if r["warc_type"] == "response"}
    assert set(rows) == {"https://example.com/a", "https://example.com/b"}
    assert bytes(rows["https://example.com/a"]["body"]) == TRICKY_BODY
    assert rows["https://example.com/b"]["http_status"] == 404
    # seg2 dropped silently: 4 surviving records total
    assert df.count() == 4


def test_read_warc_rejects_bad_on_error_at_call(spark, tmp_path):
    """An unknown policy fails when read_warc is called, on the driver
    — no action runs here, so the error cannot come from a worker."""
    (tmp_path / "seg.warc").write_bytes(RESP2)
    with pytest.raises(ValueError, match="on_error"):
        read_warc(spark, str(tmp_path), on_error="explode")


def test_streaming_splitter_bounds_batches():
    """Round-6 verdict #4: the splitter must yield MULTIPLE bounded
    frames under a small cap — never one segment-sized materialization
    — with identical total output. Caps also coalesce across files."""
    from vlm_data_pipeline_spark.sources.warc import batched_record_frames

    records = [
        _response_record(f"https://example.com/{i}", b"x" * 300)
        for i in range(20)
    ]
    blob = b"".join(gzip.compress(r) for r in records)
    # byte cap: 300-byte-ish payloads, 1000-byte cap -> >= 5 frames
    frames = list(
        batched_record_frames(
            [("seg.warc.gz", blob)], batch_bytes=1000, batch_records=10**9
        )
    )
    assert len(frames) >= 5
    assert all(len(f) <= 4 for f in frames)  # ~3 records trip the cap
    # record cap path
    frames_rc = list(
        batched_record_frames(
            [("seg.warc.gz", blob)], batch_records=7, batch_bytes=1 << 40
        )
    )
    assert [len(f) for f in frames_rc] == [7, 7, 6]
    # identical total output either way (and vs the eager parse)
    import pandas as pd

    eager = pd.DataFrame(parse_warc_bytes("seg.warc.gz", blob))
    for split in (frames, frames_rc):
        total = pd.concat(split, ignore_index=True)
        assert len(total) == len(eager)
        assert list(total["target_uri"]) == list(eager["target_uri"])
        assert [bytes(b) for b in total["body"]] == [
            bytes(b) for b in eager["body"]
        ]
    # cross-file coalescing: two tiny files land in ONE frame
    two = list(
        batched_record_frames(
            [("a.warc", RESP), ("b.warc", RESP2)],
            batch_records=100,
            batch_bytes=1 << 40,
        )
    )
    assert len(two) == 1 and len(two[0]) == 2


def test_streaming_skip_drops_from_first_corrupt_record():
    """Documented streaming-skip semantics: records before the corrupt
    point stay (memory bound means no retraction), the remainder of the
    file drops, later files still parse."""
    from vlm_data_pipeline_spark.sources.warc import batched_record_frames

    corrupt = RESP + b"not-a-warc-record" + RESP2
    frames = list(
        batched_record_frames(
            [("bad.warc", corrupt), ("ok.warc", RESP2)], on_error="skip"
        )
    )
    import pandas as pd

    total = pd.concat(frames, ignore_index=True)
    assert list(total["path"]) == ["bad.warc", "ok.warc"]
    assert list(total["target_uri"]) == [
        "https://example.com/a", "https://example.com/b",
    ]
    with pytest.raises(ValueError):
        list(batched_record_frames([("bad.warc", corrupt)], on_error="fail"))


def test_read_warc_respects_batch_caps(spark, tmp_path):
    """End-to-end through mapInPandas with a tiny byte cap: same rows,
    same values — the bound changes frame boundaries only."""
    d = tmp_path / "crawl"
    d.mkdir()
    records = [
        _response_record(f"https://example.com/{i}", b"y" * 200)
        for i in range(12)
    ]
    (d / "seg.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in records)
    )
    df = read_warc(spark, str(d), batch_bytes=500, batch_records=3)
    assert df.count() == 12
    uris = sorted(r["target_uri"] for r in df.select("target_uri").collect())
    assert uris == sorted(f"https://example.com/{i}" for i in range(12))


def test_inrow_matches_byte_path(spark):
    records = [INFO, REQ, RESP, RESP2]
    byte_rows = parse_warc_bytes("f", b"".join(records))
    df = spark.createDataFrame(
        [(i, r.decode("utf-8")) for i, r in enumerate(records)], "i int, rec string"
    )
    w = warc_fields(F.col("rec"))
    h = http_fields(w["payload"])
    got = (
        df.select(
            "i",
            *[w[k].alias(k) for k in ("record_id", "warc_type", "target_uri",
                                      "warc_date", "content_type", "content_length")],
            *[h[k].alias(k) for k in ("http_status", "http_content_type", "body")],
        )
        .orderBy("i")
        .collect()
    )
    assert len(got) == len(byte_rows)
    for spark_r, py_r in zip(got, byte_rows):
        for k in ("record_id", "warc_type", "target_uri", "warc_date",
                  "content_type", "content_length", "http_status",
                  "http_content_type"):
            assert spark_r[k] == py_r[k], k
        assert spark_r["body"] == py_r["body"].decode("utf-8")


def test_writer_is_length_exact():
    rec = _response_record("https://e.com/x", TRICKY_BODY)
    head = rec.split(b"\r\n\r\n", 1)[0].decode()
    clen = int([l for l in head.splitlines() if l.startswith("Content-Length")][0]
               .split(":")[1])
    assert clen == len(_http_response(TRICKY_BODY))
