"""WARC shard build/parse unit + property tests (q196's machinery).

The two load-bearing properties of the Common Crawl layout are pinned
here: shards split at gzip member boundaries WITHOUT decompression
context, and any single record round-trips from its bare
``data[offset:offset+length]`` slice alone.
"""

from __future__ import annotations

import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bigdataflink_spark.sources.warc import (
    http_response,
    iter_gzip_members,
    iter_warc_records,
    parse_http_response,
    parse_warc_record,
    warc_build_shard,
)


def _shard(payloads, statuses=None):
    recs = []
    for i, p in enumerate(payloads):
        status = statuses[i] if statuses else 200
        recs.append((f"https://x.example/{i}", status, [], p))
    return warc_build_shard(recs, shard_id=7)


def test_round_trip_including_crlf_and_empty_payloads():
    payloads = [b"plain text", b"", b"embedded\r\n\r\nseparator",
                b"\x00\xffbinary\x01", b"a" * 70000]
    statuses = [200, 404, 200, 500, 200]
    shard = _shard(payloads, statuses)
    recs = list(iter_warc_records(shard))
    assert recs[0][2]["type"] == "warcinfo"
    assert b"warc-shard: 7" in recs[0][2]["body"]
    got = []
    for _off, _len, rec in recs[1:]:
        status, headers, payload = parse_http_response(rec["body"])
        got.append((status, payload))
        assert headers["content-type"].startswith("text/plain")
        assert int(headers["content-length"]) == len(payload)
        assert rec["version"] == "WARC/1.0"
    assert got == list(zip(statuses, payloads))


def test_single_record_fetch_by_offset_and_length():
    """The CC random-access property: each member decompresses and
    parses standalone from its (offset, length) slice."""
    payloads = [bytes([i]) * (i * 13 + 1) for i in range(20)]
    shard = _shard(payloads)
    members = list(iter_warc_records(shard))
    assert len(members) == 21  # warcinfo + 20 responses
    offs = [o for o, _, _ in members]
    lens = [ln for _, ln, _ in members]
    assert offs == sorted(offs) and offs[0] == 0
    assert offs[-1] + lens[-1] == len(shard)
    for (off, ln, rec) in members:
        raw = zlib.decompress(shard[off:off + ln], 31)
        assert parse_warc_record(raw) == rec


def test_truncated_shard_raises():
    shard = _shard([b"hello world"])
    with pytest.raises(ValueError, match="truncated"):
        list(iter_gzip_members(shard[:-10]))


def test_corrupt_member_crc_raises():
    shard = bytearray(_shard([b"hello world" * 100]))
    shard[len(shard) // 2] ^= 0x40  # flip a bit mid-deflate-stream
    # round 7: zlib.error is wrapped as the module's controlled
    # ValueError so callers see one corruption exception type
    with pytest.raises(ValueError, match="corrupt"):
        list(iter_gzip_members(bytes(shard)))


def test_bad_content_length_and_missing_terminator():
    rec = b"WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: 99\r\n\r\nshort\r\n\r\n"
    with pytest.raises(ValueError, match="overruns"):
        parse_warc_record(rec)
    rec = b"WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: 5\r\n\r\nshortXXXX"
    with pytest.raises(ValueError, match="closing CRLF"):
        parse_warc_record(rec)
    with pytest.raises(ValueError, match="version"):
        parse_warc_record(b"HTTP/1.1 200 OK\r\n\r\n\r\n\r\n")


def test_wild_record_header_case_and_warc_11():
    """Foreign writers vary header case and may emit WARC/1.1; the
    HTTP payload may carry trailing padding past Content-Length."""
    body = b"HTTP/1.1 301 Moved Permanently\r\ncontent-LENGTH: 4\r\nSERVER: x\r\n\r\nwxyzPADDING"
    raw = (b"WARC/1.1\r\n"
           b"warc-type:   response\r\n"
           b"WARC-TARGET-URI: https://wild.example/\r\n"
           b"content-length: " + str(len(body)).encode() + b"\r\n"
           b"\r\n" + body + b"\r\n\r\n")
    rec = parse_warc_record(raw)
    assert rec["version"] == "WARC/1.1"
    assert rec["type"] == "response"
    assert rec["headers"]["warc-target-uri"] == "https://wild.example/"
    status, headers, payload = parse_http_response(rec["body"])
    assert (status, payload) == (301, b"wxyz")
    assert headers["server"] == "x"


def test_http_content_length_overrun_raises():
    with pytest.raises(ValueError, match="overruns"):
        parse_http_response(b"HTTP/1.1 200 OK\r\nContent-Length: 10\r\n\r\nabc")


def test_unknown_compression_raises():
    """Shards are gzip only: any other writer compression and any
    other leading magic — including a zstd frame's ``28 b5 2f fd`` —
    are rejected before a single record is parsed."""
    recs = [("https://x/doc/0", 200, [], b"payload 0")]
    with pytest.raises(ValueError, match="unknown WARC compression"):
        warc_build_shard(recs, 0, compression="lz4")
    with pytest.raises(ValueError, match="unknown WARC shard"):
        list(iter_warc_records(b"\x00\x01\x02\x03junk"))
    member = zlib.decompress(warc_build_shard(recs, 0), 31)
    with pytest.raises(ValueError, match="unknown WARC shard compression"):
        list(iter_warc_records(b"\x28\xb5\x2f\xfd" + member))


@settings(max_examples=40, deadline=None)
@given(
    payloads=st.lists(st.binary(min_size=0, max_size=400), min_size=1, max_size=8),
    statuses=st.lists(st.sampled_from([200, 301, 403, 404, 500]), min_size=8, max_size=8),
)
def test_property_round_trip_arbitrary_binary_payloads(payloads, statuses):
    shard = _shard(payloads, statuses[:len(payloads)])
    recs = list(iter_warc_records(shard))
    assert len(recs) == len(payloads) + 1
    for i, (off, ln, rec) in enumerate(recs[1:]):
        status, _headers, payload = parse_http_response(rec["body"])
        assert payload == payloads[i]
        assert status == statuses[i]
        raw = zlib.decompress(shard[off:off + ln], 31)
        assert parse_warc_record(raw)["body"] == rec["body"]
