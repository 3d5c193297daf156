"""WARC source (sources/warc.py): record round trips (plain + gzip
member-per-record), structural-damage errors, HTTP payload split, and the
file-parallel distributed scan."""

from __future__ import annotations

import gzip

import pytest

from copernicusdata_jl_spark.sources.warc import (
    parse_warc_bytes,
    scan_warc,
    split_http_response,
    write_warc,
)


def _records(n=3):
    return [
        {
            "warc_type": "response",
            "target_uri": f"https://example.com/p{i}",
            "warc_date": "2024-01-02T03:04:05Z",
            "content_type": "application/http;msgtype=response",
            "payload": (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + f"<html>page {i} é</html>".encode()
            ),
        }
        for i in range(n)
    ]


def test_round_trip_plain_and_gzip(tmp_path):
    for name in ("a.warc", "a.warc.gz"):
        path = str(tmp_path / name)
        assert write_warc(path, _records()) == 3
        raw = open(path, "rb").read()
        recs = list(parse_warc_bytes(raw))
        assert [r["headers"]["warc-target-uri"] for r in recs] == [
            f"https://example.com/p{i}" for i in range(3)
        ]
        for i, r in enumerate(recs):
            assert r["version"] == "WARC/1.0"
            assert int(r["headers"]["content-length"]) == len(r["payload"])
            status, body = split_http_response(r["payload"])
            assert status == 200
            assert body.decode() == f"<html>page {i} é</html>"


def test_gzip_is_member_per_record(tmp_path):
    """The .gz flavor must be CONCATENATED members (one per record) — the
    Common Crawl convention — not one stream over the whole file."""
    path = str(tmp_path / "m.warc.gz")
    write_warc(path, _records(3))
    raw = open(path, "rb").read()
    assert raw.count(b"\x1f\x8b\x08") >= 3
    # the first member alone must decode to exactly one whole record
    first = gzip.decompress(raw[: raw.index(b"\x1f\x8b\x08", 1)])
    assert len(list(parse_warc_bytes(first))) == 1


def test_structural_damage_raises(tmp_path):
    path = str(tmp_path / "x.warc")
    write_warc(path, _records(1))
    raw = open(path, "rb").read()
    with pytest.raises(ValueError, match="truncated"):
        list(parse_warc_bytes(raw[:-10]))
    with pytest.raises(ValueError, match="version line"):
        list(parse_warc_bytes(b"NOT-WARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n"))
    with pytest.raises(ValueError, match="Content-Length"):
        list(parse_warc_bytes(b"WARC/1.0\r\nWARC-Type: metadata\r\n\r\n\r\n\r\n"))


def test_split_http_response_non_http_passthrough():
    status, body = split_http_response(b"just bytes")
    assert status is None and body == b"just bytes"


def test_distributed_scan_matches_files(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    want = {}
    for f in range(3):
        recs = [
            {
                "warc_type": "response",
                "target_uri": f"https://example.com/f{f}/p{i}",
                "content_type": "application/http;msgtype=response",
                "payload": b"HTTP/1.1 200 OK\r\n\r\n" + f"body {f}-{i}".encode(),
            }
            for i in range(4)
        ]
        write_warc(str(d / f"f{f}.warc.gz"), recs)
        for i in range(4):
            want[f"https://example.com/f{f}/p{i}"] = f"body {f}-{i}"
    df = scan_warc(spark, str(d), glob="*.warc.gz")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan  # record split runs on executors
    rows = df.select("target_uri", "http_status", "payload").collect()
    got = {r.target_uri: bytes(r.payload).decode() for r in rows}
    assert got == want
    assert {r.http_status for r in rows} == {200}
