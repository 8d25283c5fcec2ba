"""WARC → HTTP → HTML text ingestion — the web-scrape path, pure
Python/stdlib.

The canonical 100 TB training-corpus input is not parquet, it is
WARC: web-archive containers of raw HTTP exchanges (ISO 28500 — the
Common Crawl distribution format). This module owns the three layers
between a WARC byte blob and the text operators the repo already
has:

- **WARC records** (`parse_warc`): WARC/1.0-1.1 version line, header
  block, Content-Length byte framing, CRLF CRLF terminators — plus
  the per-record-gzip convention (each record its own gzip member,
  the form `.warc.gz` files actually use), decoded member-by-member
  via zlib's ``unused_data`` chaining.
- **HTTP responses** (`parse_http_response`): status line, headers,
  chunked transfer-encoding reassembly, gzip/deflate
  Content-Encoding decompression.
- **HTML text** (`extract_html_text`): stdlib ``html.parser`` walk —
  script/style/noscript/template subtrees dropped, block-level tags
  emit newlines, entities decoded by the parser, whitespace
  collapsed per line; <title> and href counts surface as metadata.
  This is the DETERMINISTIC tag-level contract (what trafilatura
  calls baseline extraction); boilerplate-removal HEURISTICS beyond
  it belong to the quality operators downstream (text.py already
  scores link density and repetition on the extracted text).

Spark surface: `synthesize_warc_docs` (deterministic fixture WARCs,
gzipped per record) and `extract_warc_features` — a one-to-many
Arrow-batched ``mapInPandas`` (each WARC yields one row per response
record, the frame-sampling shape), memory bounded by the batch.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import re
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from rta_registrations_pyspark_glue_spark.operators.legs import DECODE_ERRORS, synth_leg

# ---------------------------------------------------------------------------
# WARC container


def _split_gzip_members(content: bytes) -> list[bytes]:
    """Decompress a multi-member gzip stream into its members (each
    WARC record is its own member in real .warc.gz files — that is
    what makes them seekable/splittable at scale)."""
    out = []
    rest = content
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(rest))
        except zlib.error as e:
            raise ValueError(f"bad gzip member in WARC: {e}") from None
        if not d.eof:
            raise ValueError("truncated gzip member in WARC")
        rest = d.unused_data
    if rest.strip(b"\r\n\x00"):
        raise ValueError("trailing garbage after gzip members")
    return out


def parse_warc(content: bytes) -> list[dict]:
    """bytes → [{"type", "url", "date", "headers", "body"}] — one per
    WARC record. Accepts plain and per-record-gzip forms. ValueError
    on malformed framing."""
    if content[:2] == b"\x1f\x8b":
        chunks = _split_gzip_members(content)
        content = b"".join(chunks)
    records = []
    pos = 0
    n = len(content)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and content[pos] in b"\r\n":
            pos += 1
        if pos >= n:
            break
        if not content.startswith(b"WARC/", pos):
            raise ValueError(f"WARC: bad version line at offset {pos}")
        head_end = content.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("WARC: unterminated header block")
        head = content[pos:head_end].decode("utf-8", "replace")
        lines = head.split("\r\n")
        headers: dict[str, str] = {}
        for line in lines[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("WARC: missing/bad Content-Length") from None
        body_start = head_end + 4
        if body_start + length > n:
            raise ValueError("WARC: record body truncated")
        records.append(
            {
                "type": headers.get("warc-type", ""),
                "url": headers.get("warc-target-uri"),
                "date": headers.get("warc-date"),
                "headers": headers,
                "body": content[body_start : body_start + length],
            }
        )
        pos = body_start + length
    return records


# ---------------------------------------------------------------------------
# HTTP response layer


def parse_http_response(raw: bytes) -> tuple[int, dict[str, str], bytes]:
    """Raw captured HTTP response → (status, headers, decoded body):
    chunked transfer-encoding reassembled, gzip/deflate
    Content-Encoding decompressed."""
    head_end = raw.find(b"\r\n\r\n")
    if head_end < 0:
        raise ValueError("HTTP: no header terminator")
    head = raw[:head_end].decode("latin-1")
    lines = head.split("\r\n")
    m = re.match(r"HTTP/\d\.\d\s+(\d{3})", lines[0])
    if not m:
        raise ValueError(f"HTTP: bad status line {lines[0]!r}")
    status = int(m.group(1))
    headers: dict[str, str] = {}
    for line in lines[1:]:
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    body = raw[head_end + 4 :]
    if headers.get("transfer-encoding", "").lower() == "chunked":
        body = _dechunk(body)
    enc = headers.get("content-encoding", "").lower()
    if enc == "gzip":
        body = gzip.decompress(body)
    elif enc == "deflate":
        try:
            body = zlib.decompress(body)
        except zlib.error:
            body = zlib.decompress(body, -15)  # raw-deflate servers
    return status, headers, body


def _dechunk(body: bytes) -> bytes:
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("HTTP: bad chunk size line")
        size_tok = body[pos:eol].split(b";")[0].strip()
        size = int(size_tok, 16)
        pos = eol + 2
        if size == 0:
            return bytes(out)
        out += body[pos : pos + size]
        pos += size + 2  # trailing CRLF


def decode_html_bytes(body: bytes, content_type: str | None = None) -> str:
    """Charset-aware HTML byte decoding, WHATWG precedence: a BOM wins,
    then the transport layer (Content-Type charset=), then the HTML5
    meta prescan over the first 1024 bytes (<meta charset=...> or the
    http-equiv form); utf-8-with-replacement is the fallback. Unknown
    labels fall through to the next source rather than failing — a
    curation pass decodes what it can."""
    if body[:3] == b"\xef\xbb\xbf":
        return body[3:].decode("utf-8", "replace")
    if body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return body.decode("utf-16", "replace")

    def try_charset(label: str | None) -> str | None:
        if not label:
            return None
        try:
            return body.decode(label.strip().strip("\"'").lower(), "replace")
        except (LookupError, ValueError):
            return None

    if content_type:
        m = re.search(r"charset=([^;\s]+)", content_type, re.I)
        if m:
            got = try_charset(m.group(1))
            if got is not None:
                return got
    head = body[:1024].decode("latin-1", "replace")
    m = re.search(r"<meta[^>]+charset\s*=\s*[\"']?([A-Za-z0-9_-]+)", head, re.I)
    if m:
        got = try_charset(m.group(1))
        if got is not None:
            return got
    return body.decode("utf-8", "replace")


# ---------------------------------------------------------------------------
# HTML text extraction

_BLOCK_TAGS = {
    "p", "div", "br", "li", "ul", "ol", "table", "tr", "h1", "h2",
    "h3", "h4", "h5", "h6", "section", "article", "header", "footer",
    "blockquote", "pre", "hr", "td", "th", "nav", "aside", "main",
}
_DROP_TAGS = {"script", "style", "noscript", "template", "svg", "head"}


def extract_html_text(html: str) -> dict:
    """HTML → {"title", "text", "n_links"}: script/style/head subtrees
    dropped, block tags break lines, inline whitespace collapsed —
    the deterministic tag-level extraction; statistical boilerplate
    scoring runs downstream on the result (text.py)."""
    from html.parser import HTMLParser

    class _Extractor(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.parts: list[str] = []
            self.title_parts: list[str] = []
            self.n_links = 0
            self._drop = 0
            self._in_title = False

        def handle_starttag(self, tag, attrs):
            if tag in _DROP_TAGS:
                self._drop += 1
            elif tag == "title":
                self._in_title = True
            elif tag == "a":
                self.n_links += 1
            if tag in _BLOCK_TAGS:
                self.parts.append("\n")

        def handle_endtag(self, tag):
            if tag in _DROP_TAGS and self._drop:
                self._drop -= 1
            elif tag == "title":
                self._in_title = False
            if tag in _BLOCK_TAGS:
                self.parts.append("\n")

        def handle_data(self, data):
            if self._in_title:
                self.title_parts.append(data)
            elif not self._drop:
                self.parts.append(data)

    p = _Extractor()
    p.feed(html)
    p.close()
    lines = []
    for line in "".join(p.parts).split("\n"):
        collapsed = " ".join(line.split())
        if collapsed:
            lines.append(collapsed)
    return {
        "title": " ".join("".join(p.title_parts).split()) or None,
        "text": "\n".join(lines),
        "n_links": p.n_links,
    }


# ---------------------------------------------------------------------------
# Fixture encoder


def encode_warc(
    pages: list[tuple[str, str]],
    *,
    gzip_records: bool = True,
    chunked: bool = False,
    content_gzip: bool = False,
) -> bytes:
    """Fixture WARC: a warcinfo record then one response record per
    (url, html) pair — raw HTTP captures with optional chunked
    transfer-encoding and gzip Content-Encoding, each record its own
    gzip member when ``gzip_records``."""

    def record(rtype: str, url: str | None, body: bytes, ctype: str) -> bytes:
        # stable digest, not hash(): PYTHONHASHSEED salts str hashes per
        # process, and fixture bytes must be identical across executors
        rid = hashlib.md5(f"{rtype}|{url}".encode()).hexdigest()[:12]
        head = [
            "WARC/1.0",
            f"WARC-Type: {rtype}",
            "WARC-Date: 2024-01-01T00:00:00Z",
            f"WARC-Record-ID: <urn:uuid:{rid}>",
            f"Content-Type: {ctype}",
            f"Content-Length: {len(body)}",
        ]
        if url:
            head.insert(3, f"WARC-Target-URI: {url}")
        return (
            "\r\n".join(head).encode() + b"\r\n\r\n" + body + b"\r\n\r\n"
        )

    out = []
    out.append(
        record(
            "warcinfo", None,
            b"software: rta_registrations_pyspark_glue_spark-fixture\r\n",
            "application/warc-fields",
        )
    )
    for url, html in pages:
        payload = html.encode("utf-8")
        headers = ["HTTP/1.1 200 OK", "Content-Type: text/html; charset=utf-8"]
        if content_gzip:
            payload = gzip.compress(payload, mtime=0)
            headers.append("Content-Encoding: gzip")
        if chunked:
            headers.append("Transfer-Encoding: chunked")
            chunks = bytearray()
            for i in range(0, len(payload), 61):
                part = payload[i : i + 61]
                chunks += f"{len(part):x}".encode() + b"\r\n" + part + b"\r\n"
            chunks += b"0\r\n\r\n"
            payload = bytes(chunks)
        else:
            headers.append(f"Content-Length: {len(payload)}")
        http = "\r\n".join(headers).encode() + b"\r\n\r\n" + payload
        out.append(
            record(
                "response", url, http, "application/http; msgtype=response"
            )
        )
    if gzip_records:
        return b"".join(gzip.compress(r, mtime=0) for r in out)
    return b"".join(out)


# ---------------------------------------------------------------------------
# Spark surface

WARC_SCHEMA = (
    "doc_id bigint, rec_idx int, url string, status int, title string, "
    "text string, n_links int, parse_ok boolean"
)


def synthesize_warc_docs(docs: DataFrame, pages_per_doc: int = 2) -> DataFrame:
    """(doc_id, content): a per-record-gzipped WARC per doc with
    ``pages_per_doc`` HTML responses. Page p of doc d:
    url http://example.com/d/p, title 'Page d-p', one heading and one
    paragraph with closed-form text, a nav block (boilerplate the
    extractor keeps tag-level — scoring is downstream), a script the
    extractor must DROP, and (d+p) %% 3 links. Every doc alternates
    the transfer shape: d %% 3 == 0 plain, == 1 chunked, == 2 gzip
    Content-Encoding — all three HTTP paths run inside the gate."""

    def encode(d: int) -> bytes:
        pages = []
        for p in range(pages_per_doc):
            links = "".join(
                f'<a href="/l{i}">link {i}</a> ' for i in range((d + p) % 3)
            )
            html = (
                f"<html><head><title>Page {d}-{p}</title>"
                f"<script>var x = {d};</script></head>"
                f"<body><h1>Doc {d} page {p}</h1>"
                f"<p>Gamma {(d * 19 + p) % 997} text body.</p>"
                f"<div>{links}</div>"
                f"</body></html>"
            )
            pages.append((f"http://example.com/{d}/{p}", html))
        return encode_warc(
            pages, gzip_records=True, chunked=(d % 3 == 1), content_gzip=(d % 3 == 2)
        )

    return synth_leg(docs, encode)


def extract_warc_features(df: DataFrame) -> DataFrame:
    """WARC blob → one row per response record (the one-to-many
    mapInPandas shape): URL, HTTP status, extracted title/text/link
    count. Non-response records contribute no rows; undecodable blobs
    yield a single parse_ok=false row so failures stay visible."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, urls, statuses, titles, texts, links, oks = (
                [], [], [], [], [], [], [], [],
            )
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                try:
                    recs = parse_warc(bytes(content))
                    rows = []
                    for rec in recs:
                        if rec["type"] != "response":
                            continue
                        status, h, body = parse_http_response(rec["body"])
                        got = extract_html_text(
                            decode_html_bytes(body, h.get("content-type"))
                        )
                        rows.append((rec["url"], status, got))
                except DECODE_ERRORS:
                    ids.append(doc_id)
                    idxs.append(None)
                    urls.append(None)
                    statuses.append(None)
                    titles.append(None)
                    texts.append(None)
                    links.append(None)
                    oks.append(False)
                    continue
                for i, (url, status, got) in enumerate(rows):
                    ids.append(doc_id)
                    idxs.append(i)
                    urls.append(url)
                    statuses.append(status)
                    titles.append(got["title"])
                    texts.append(got["text"])
                    links.append(got["n_links"])
                    oks.append(True)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "rec_idx": pd.array(idxs, dtype="Int32"),
                    "url": pd.Series(urls, dtype="object"),
                    "status": pd.array(statuses, dtype="Int32"),
                    "title": pd.Series(titles, dtype="object"),
                    "text": pd.Series(texts, dtype="object"),
                    "n_links": pd.array(links, dtype="Int32"),
                    "parse_ok": pd.array(oks, dtype="boolean"),
                }
            )

    return df.select("doc_id", "content").mapInPandas(op, WARC_SCHEMA)
