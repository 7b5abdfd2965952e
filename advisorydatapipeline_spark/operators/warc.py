"""WARC 1.1 container walk with per-record gzip members — the
Common-Crawl input format (ISO 28500 / IIPC warc-specifications;
CC ships .warc.gz with each record as its own gzip member so readers
can seek). Stdlib only: zlib (wbits=31) handles the gzip framing,
the record grammar is CRLF header blocks + Content-Length-delimited
bodies.

- :func:`build_warc_gz` — fixture writer: warcinfo + request +
  response records (the response wraps a real HTTP/1.1 message whose
  body is the caller's HTML), each record individually gzip-
  compressed and concatenated — byte-identical layout to a CC crawl
  shard.
- :func:`parse_warc_gz` — the reader: multi-member gzip walk via
  ``decompressobj.unused_data`` (member boundaries come from the
  DEFLATE stream end, not from any length field), WARC version
  check, header parse, Content-Length-sliced bodies with mandatory
  CRLFCRLF record terminators, HTTP status/header split for
  response records. ValueError-only corruption contract (zlib
  errors are re-raised as ValueError).

Correctness strategy: compression bytes are never compared — the
gate pins the DECODED side (record counts, target URI, HTTP status,
body octet length), which the DuckDB oracle replays from the same
HTML fixture expression via ``strlen`` (bytes, not chars). A
mid-stream byte flip breaks the DEFLATE stream or the record
grammar -> 'unknown' row.

Reference twin: none (no media/crawl code in the reference);
north-star web-corpus surface.
"""

from __future__ import annotations

import zlib

WARC_VERSION = b"WARC/1.1"
HTTP_HEADER = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"


def _record(headers: list[tuple[str, str]], body: bytes) -> bytes:
    head = WARC_VERSION + b"\r\n"
    for k, v in headers:
        head += f"{k}: {v}\r\n".encode()
    head += f"Content-Length: {len(body)}\r\n\r\n".encode()
    return head + body + b"\r\n\r\n"


def build_warc_gz(doc_id: int, html: bytes) -> bytes:
    """warcinfo + request + response for one synthetic capture, each
    record its own gzip member (CC layout)."""
    uri = f"https://site{doc_id % 50}.com/page{doc_id}"
    recs = [
        _record(
            [
                ("WARC-Type", "warcinfo"),
                ("WARC-Record-ID", f"<urn:adp:{doc_id}:0>"),
            ],
            b"software: advisorydatapipeline-fixture\r\n",
        ),
        _record(
            [
                ("WARC-Type", "request"),
                ("WARC-Target-URI", uri),
                ("WARC-Record-ID", f"<urn:adp:{doc_id}:1>"),
            ],
            f"GET /page{doc_id} HTTP/1.1\r\nHost: site{doc_id % 50}"
            ".com\r\n\r\n".encode(),
        ),
        _record(
            [
                ("WARC-Type", "response"),
                ("WARC-Target-URI", uri),
                ("WARC-Record-ID", f"<urn:adp:{doc_id}:2>"),
            ],
            HTTP_HEADER + html,
        ),
    ]
    out = bytearray()
    for r in recs:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        out += co.compress(r) + co.flush()
    return bytes(out)


def _parse_record(rec: bytes) -> tuple[dict[str, str], bytes]:
    sep = rec.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("record missing header terminator")
    head, rest = rec[:sep], rec[sep + 4 :]
    lines = head.split(b"\r\n")
    if lines[0] != WARC_VERSION:
        raise ValueError("unsupported WARC version")
    hdrs: dict[str, str] = {}
    for ln in lines[1:]:
        k, _, v = ln.partition(b":")
        if not _:
            raise ValueError("malformed WARC header line")
        hdrs[k.strip().decode("ascii", "strict")] = v.strip().decode(
            "utf-8", "strict"
        )
    try:
        clen = int(hdrs["Content-Length"])
    except (KeyError, ValueError) as ex:
        raise ValueError("bad Content-Length") from ex
    if clen < 0 or clen + 4 != len(rest):
        raise ValueError("Content-Length disagrees with body")
    if rest[clen:] != b"\r\n\r\n":
        raise ValueError("record missing body terminator")
    return hdrs, rest[:clen]


def parse_warc_gz(payload: bytes):
    """[(headers, body)] for every record of a per-record-gzipped
    WARC stream. ValueError-only corruption contract."""
    if not payload:
        raise ValueError("empty payload")
    records = []
    data = payload
    guard = 0
    while data:
        d = zlib.decompressobj(wbits=31)
        try:
            rec = d.decompress(data)
            tail = d.flush()
        except zlib.error as ex:
            raise ValueError(f"bad gzip member: {ex}") from ex
        rec += tail
        if not d.eof:
            raise ValueError("truncated gzip member")
        records.append(_parse_record(rec))
        data = d.unused_data
        guard += 1
        if guard > 1 << 20:
            raise ValueError("runaway member walk")
    return records


def warc_stats(records) -> tuple[int, int, str, int, int]:
    """(n_members, n_response, target_uri, http_status,
    payload_octets) for the capture's single response record."""
    n_resp = 0
    uri = None
    status = None
    octets = None
    for hdrs, body in records:
        if hdrs.get("WARC-Type") == "response":
            n_resp += 1
            uri = hdrs.get("WARC-Target-URI")
            sep = body.find(b"\r\n\r\n")
            if sep < 0:
                raise ValueError("response missing HTTP terminator")
            line0 = body[:sep].split(b"\r\n")[0].split(b" ")
            if len(line0) < 2 or not line0[0].startswith(b"HTTP/"):
                raise ValueError("bad HTTP status line")
            status = int(line0[1])
            octets = len(body) - sep - 4
    if n_resp != 1 or uri is None:
        raise ValueError("expected exactly one response record")
    return len(records), n_resp, uri, status, octets


def decode_warc_stats(media_df):
    """Per-payload WARC walk; NULL-row contract
    (operators/multimodal.py)."""
    from advisorydatapipeline_spark.operators.multimodal import (
        map_payloads,
        unknown_row,
    )

    def decode(b: bytes) -> dict:
        n, nr, uri, st, octets = warc_stats(parse_warc_gz(b))
        return {"container": "warc", "n_members": n, "n_response": nr,
                "target_uri": uri, "http_status": st,
                "payload_octets": octets}

    return map_payloads(
        media_df,
        "media_id long, container string, n_members int, "
        "n_response int, target_uri string, http_status int, "
        "payload_octets long",
        decode,
        null_row=unknown_row,
    )
