"""WARC (Web ARChive, ISO 28500) shard builder + parser.

Web-scale training corpora arrive as ``.warc.gz`` shards in the
Common Crawl layout: every record is compressed as its OWN gzip
member and the members are concatenated, so (a) a shard splits at
member boundaries without decompressing, and (b) any single record
is fetchable by ``(offset, length)`` alone — the two properties that
make the format work at 100 TB, and the two properties this parser
preserves and the tests pin (a record re-parsed from its bare
``data[off:off+len]`` slice must equal the full-stream parse).

Reference parity: the reference ingests newline JSON over Kafka
(``/root/reference/flink/stream_to_star.py:200-260``); it has no
archive-shard reader. This module is part of the training-data
extension suite (SURVEY.md §7 build plan, ingest family beside
``sources/csv_sales.py`` / ``sources/kafkadump.py``).

Build side is generative-fixture machinery (tests + q196's closed
forms); parse side is the real ingest path — at scale it runs
against foreign shards read as binary columns, so it verifies
everything it can locally: gzip member CRCs (zlib checks them),
WARC version line, Content-Length against physical record bounds,
the closing CRLF CRLF, and the HTTP section's own Content-Length.

Everything here is stdlib (zlib + uuid); records round-trip
byte-exactly because WARC length-prefixes its bodies (binary
payloads containing ``\\r\\n\\r\\n`` need no escaping).
"""

from __future__ import annotations

import uuid
import zlib
from collections.abc import Iterator

_CRLF = b"\r\n"
_HTTP_REASON = {200: "OK", 301: "Moved Permanently", 404: "Not Found",
                403: "Forbidden", 500: "Internal Server Error"}
_WARC_DATE_DEFAULT = "2026-01-01T00:00:00Z"


# ---------------------------------------------------------------------------
# build side
# ---------------------------------------------------------------------------

def _gzip_member(raw: bytes) -> bytes:
    """One complete gzip member (RFC 1952) for one WARC record.

    zlib's gzip wrapper (wbits=31) writes mtime=0 and no filename —
    byte-deterministic, unlike the gzip module's default now()-mtime.
    """
    c = zlib.compressobj(9, zlib.DEFLATED, 31)
    return c.compress(raw) + c.flush()


def _warc_record(
    rec_type: str,
    headers: list[tuple[str, str]],
    body: bytes,
    date: str,
) -> bytes:
    """One uncompressed WARC/1.0 record: version line, named fields,
    Content-Length'd body, closing CRLF CRLF (ISO 28500 §4)."""
    rid = uuid.uuid5(uuid.NAMESPACE_URL, f"warc:{rec_type}:{date}:"
                     + ":".join(v for _, v in headers))
    head = [b"WARC/1.0",
            f"WARC-Type: {rec_type}".encode(),
            f"WARC-Date: {date}".encode(),
            f"WARC-Record-ID: <urn:uuid:{rid}>".encode()]
    head += [f"{k}: {v}".encode() for k, v in headers]
    head.append(f"Content-Length: {len(body)}".encode())
    return _CRLF.join(head) + _CRLF * 2 + body + _CRLF * 2


def http_response(
    status: int, headers: list[tuple[str, str]], payload: bytes
) -> bytes:
    """An HTTP/1.1 response head + payload (the body of a WARC
    ``response`` record)."""
    lines = [f"HTTP/1.1 {status} {_HTTP_REASON.get(status, 'Unknown')}".encode(),
             b"Content-Type: text/plain; charset=utf-8"]
    lines += [f"{k}: {v}".encode() for k, v in headers]
    lines.append(f"Content-Length: {len(payload)}".encode())
    return _CRLF.join(lines) + _CRLF * 2 + payload


def warc_build_shard(
    records: list[tuple[str, int, list[tuple[str, str]], bytes]],
    shard_id: int,
    date: str = _WARC_DATE_DEFAULT,
    compression: str = "gzip",
) -> bytes:
    """Build one ``.warc.gz`` shard: a leading ``warcinfo`` record
    (Common Crawl convention) then one ``response`` record per
    (target_uri, http_status, extra_http_headers, payload) tuple, each
    as its own gzip member so every record stays fetchable by
    (offset, length)."""
    if compression != "gzip":
        raise ValueError(f"unknown WARC compression {compression!r}")
    info = (f"software: bigdataflink-spark-warc/1.0\r\n"
            f"format: WARC File Format 1.0\r\n"
            f"warc-shard: {shard_id}\r\n").encode()
    members = [_gzip_member(_warc_record(
        "warcinfo",
        [("Content-Type", "application/warc-fields")],
        info, date,
    ))]
    for uri, status, extra, payload in records:
        body = http_response(status, extra, payload)
        members.append(_gzip_member(_warc_record(
            "response",
            [("WARC-Target-URI", uri),
             ("Content-Type", "application/http;msgtype=response")],
            body, date,
        )))
    return b"".join(members)


# ---------------------------------------------------------------------------
# parse side
# ---------------------------------------------------------------------------

def iter_gzip_members(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Split a multi-member gzip stream at member boundaries,
    yielding ``(offset, compressed_length, decompressed_bytes)``.

    Feeds fixed 64 KiB chunks so the whole walk is O(n) (a naive
    ``decompress(data[pos:])`` + ``unused_data`` rewind copies the
    remaining tail once per member — quadratic in members). zlib
    verifies each member's CRC-32 and ISIZE trailer; corruption
    raises instead of yielding silently wrong bytes.
    """
    mv = memoryview(data)
    n, pos = len(data), 0
    while pos < n:
        d = zlib.decompressobj(31)
        start, out = pos, []
        while not d.eof:
            if pos >= n:
                raise ValueError(
                    f"truncated gzip member at offset {start}"
                )
            chunk = mv[pos:pos + 65536]
            try:
                out.append(d.decompress(chunk))
            except zlib.error as exc:  # CRC/format corruption
                raise ValueError(
                    f"gzip member at offset {start} is corrupt: {exc}"
                ) from exc
            pos += len(chunk)
        pos -= len(d.unused_data)
        yield start, pos - start, b"".join(out)


def parse_warc_record(raw: bytes) -> dict:
    """Parse one uncompressed WARC record into
    ``{version, type, headers (lower-cased keys), body}``, verifying
    the version line, Content-Length, and the closing CRLF CRLF."""
    sep = raw.find(_CRLF * 2)
    if sep < 0:
        raise ValueError("WARC record has no header/body separator")
    head_lines = raw[:sep].split(_CRLF)
    version = head_lines[0].decode("ascii", "replace")
    if version not in ("WARC/1.0", "WARC/1.1"):
        raise ValueError(f"bad WARC version line {version!r}")
    headers: dict[str, str] = {}
    for line in head_lines[1:]:
        k, _, v = line.partition(b":")
        headers[k.decode("ascii").strip().lower()] = \
            v.decode("utf-8", "replace").strip()
    try:
        clen = int(headers["content-length"])
    except (KeyError, ValueError):
        raise ValueError("missing or non-integer WARC Content-Length")
    body_start = sep + 4
    if body_start + clen + 4 > len(raw):
        raise ValueError("WARC Content-Length overruns the record")
    if raw[body_start + clen:body_start + clen + 4] != _CRLF * 2:
        raise ValueError("WARC record missing closing CRLF CRLF")
    return {
        "version": version,
        "type": headers.get("warc-type", ""),
        "headers": headers,
        "body": raw[body_start:body_start + clen],
    }


def parse_http_response(body: bytes) -> tuple[int, dict[str, str], bytes]:
    """Parse the HTTP section of a ``response`` record:
    ``(status, headers (lower-cased keys), payload)``. The payload is
    cut by the HTTP Content-Length when present (trailing bytes after
    it are ignored, as wild captures sometimes pad), else runs to the
    end of the section."""
    sep = body.find(_CRLF * 2)
    if sep < 0:
        raise ValueError("HTTP section has no header/body separator")
    lines = body[:sep].split(_CRLF)
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"bad HTTP status line {lines[0]!r}")
    status = int(parts[1])
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        headers[k.decode("ascii").strip().lower()] = \
            v.decode("utf-8", "replace").strip()
    payload = body[sep + 4:]
    if "content-length" in headers:
        clen = int(headers["content-length"])
        if clen > len(payload):
            raise ValueError("HTTP Content-Length overruns the record")
        payload = payload[:clen]
    return status, headers, payload


def iter_warc_records(
    shard: bytes,
) -> Iterator[tuple[int, int, dict]]:
    """Walk a ``.warc.gz`` shard: ``(member_offset,
    member_compressed_length, parsed_record)`` per record. Any leading
    magic other than gzip's ``1f 8b`` is rejected."""
    if shard[:2] != b"\x1f\x8b":
        raise ValueError(
            f"unknown WARC shard compression (magic {shard[:4]!r})"
        )
    for off, length, raw in iter_gzip_members(shard):
        yield off, length, parse_warc_record(raw)
