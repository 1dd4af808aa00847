"""Crawl-ingestion front end: WARC record parsing + HTML→text
extraction — the first two stages every web-scale training corpus
runs before any quality gate or dedup.

HTML stripping is a PURE JVM expression chain
(:func:`strip_html_expr` — ordered ``regexp_replace`` passes), so at
100 TB it fuses into the scan like the x9/x24 normalizers: no Python
in the hot path, and the identical regex chain replays in DuckDB
(:data:`STRIP_HTML_STEPS` is shared verbatim with the oracle SQL
builder :func:`strip_html_sql`). Patterns stick to the Java∩RE2
subset (backslash classes, ``(?i)``/``(?s)`` flags, lazy ``*?``) —
the same contract ``text.py`` documents for its shared regexes.

WARC (ISO 28500) parsing is bytes-level record slicing —
``Content-Length``-driven, so it never scans payloads — and runs in
the Arrow-batched ``mapInPandas`` media tier like the image/audio
codecs. Gzip-member WARCs (the common ``.warc.gz`` layout: one gzip
member per record) are handled via stdlib zlib. This is a REAL
parser for the real format, including chunked transfer encoding
(RFC 9112 §7.1): :func:`http_body` dechunks via a deterministic
size-line walk. Chunk extensions and non-empty trailers — rare,
and a place where permissive parsing invites smuggling bugs — are
refused loudly (None), as is any malformed framing. Compressed
codings (``Content-Encoding: gzip``/``x-gzip``/``deflate`` — zlib
wrapped with the raw-deflate legacy fallback — and the composite
``Transfer-Encoding: gzip, chunked``) inflate via stdlib zlib
behind an 8 MB decompression-bomb cap; ``br``/``zstd``/
stacked/unknown codings are refused loudly, never passed through
compressed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Ordered (pattern, replacement) passes shared VERBATIM between the
#: Spark expression chain and the DuckDB oracle. Order matters:
#: containers with content first (script/style swallow their body),
#: then comments, then block-level tags to newline (so words in
#: adjacent blocks don't fuse), then every remaining tag, then
#: entities, then whitespace collapse.
#: XML/HTML entity decode rows, ordered with ``&amp;`` LAST — the
#: standard double-decode guard ('&amp;lt;' means the literal text
#: '&lt;' and must NOT end up as '<'; decoding &amp; first does
#: exactly that). Shared by the strip chain below and by sitemap
#: <loc> decoding (catalog x54). Extending = adding rows.
XML_ENTITY_STEPS: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", "\""),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
]

STRIP_HTML_STEPS: list[tuple[str, str]] = [
    ("(?is)<script\\b[^>]*>.*?</script>", " "),
    ("(?is)<style\\b[^>]*>.*?</style>", " "),
    ("(?s)<!--.*?-->", " "),
    ("(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)\\b[^>]*>",
     "\n"),
    ("<[^>]*>", " "),
    ("&nbsp;", " "),
    *XML_ENTITY_STEPS,
    ("[ \\t]+", " "),
    ("\\s*\\n\\s*", "\n"),
]


def xml_unescape_expr(col: "str | Column") -> "Column":
    """Entity decode as a JVM chain, guarded by one ``contains('&')``
    (the rows can only match on '&', and most text has none)."""
    c = F.col(col) if isinstance(col, str) else col
    decoded = c
    for ent, ch in XML_ENTITY_STEPS:
        decoded = F.regexp_replace(decoded, ent, ch)
    return F.when(c.contains("&"), decoded).otherwise(c)


def strip_html_expr(col: str | Column) -> Column:
    """HTML → visible text as one JVM ``regexp_replace`` chain — the
    boilerplate-stripping front stage of a crawl pipeline, scale-safe
    by construction (fuses into the scan, no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, rep in STRIP_HTML_STEPS:
        c = F.regexp_replace(c, pat, rep)
    return F.trim(c)


#: An anchor's rel value contains the ``nofollow`` token (RFC 8288
#: link relations are space-separated tokens — substring matching
#: would wrongly drop rel="nofollowable").
_REL_NOFOLLOW_RX = (
    "(?i)\\brel\\s*=\\s*(\"[^\"]*\\bnofollow\\b[^\"]*\""
    "|'[^']*\\bnofollow\\b[^']*')"
)
_HREF_RX = "(?i)\\bhref\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)')"


def anchor_hrefs_expr(
    col: str | Column, honor_nofollow: bool = True
) -> Column:
    """``array<string>`` of anchor hrefs in an HTML column — the
    link-discovery edge, honoring per-link politeness: anchors whose
    ``rel`` carries the ``nofollow`` token (any case, either quote
    style, any attribute ORDER — rel-before-href is as common as
    after) are dropped before the href is even extracted, so a
    production frontier never sees them (a crawler that follows
    nofollow links violates the one politeness channel page authors
    control directly). Pure JVM: one regexp_extract_all over the
    anchor TAGS + a higher-order filter/transform — fuses into the
    scan, no Python, no shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    tags = F.regexp_extract_all(c, F.lit("(?i)<a\\s[^>]*>"), 0)
    if honor_nofollow:
        tags = F.filter(tags, lambda t: ~t.rlike(_REL_NOFOLLOW_RX))
    hrefs = F.transform(
        tags,
        lambda t: F.coalesce(
            F.nullif(F.regexp_extract(t, _HREF_RX, 1), F.lit("")),
            F.regexp_extract(t, _HREF_RX, 2),
        ),
    )
    return F.filter(hrefs, lambda h: h != "")


#: The document's <base href> — two capture groups, one per quote
#: style; ``<base\b`` keeps <basefont> from matching.
_BASE_HREF_RX = (
    "(?i)<base\\b[^>]*\\bhref\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)')"
)


def base_href_expr(col: str | Column) -> Column:
    """The page's effective base URL override: the FIRST ``<base
    href=...>`` in the document (per the HTML spec only the first
    base element with an href counts), either quote style, any
    attribute order/case, or NULL when absent — callers
    ``coalesce`` it over the page's own URL before resolving
    relative references (a resolver that ignores <base> rewrites
    every relative link on the page to the wrong host/directory,
    silently corrupting the link graph). ``<basefont>`` and a
    ``<base>`` without href must NOT match. Pure JVM (one
    regexp_extract per group), fuses into the scan."""
    c = F.col(col) if isinstance(col, str) else col
    dq = F.regexp_extract(c, _BASE_HREF_RX, 1)
    sq = F.regexp_extract(c, _BASE_HREF_RX, 2)
    return F.coalesce(
        F.nullif(dq, F.lit("")), F.nullif(sq, F.lit(""))
    )


#: rel attribute carrying the ``canonical`` link type as a
#: SPACE-DELIMITED token (HTML rel is a token list): either quote
#: style or unquoted-single-token; ``canonical-x`` / ``canonicalish``
#: must NOT match (a \b boundary alone would accept the hyphenated
#: decoy), ``alternate canonical`` must.
_REL_CANONICAL_RX = (
    "(?i)\\brel\\s*=\\s*(?:"
    "\"(?:[^\"]*\\s)?canonical(?:\\s[^\"]*)?\""
    "|'(?:[^']*\\s)?canonical(?:\\s[^']*)?'"
    "|canonical(?=[\\s/>]))"
)


def rel_canonical_expr(col: str | Column) -> Column:
    """The page's declared canonical URL — the ``<link
    rel="canonical" href=...>`` head element (RFC 6596), the
    CONTENT-level URL-alias signal every dedup pipeline needs: CDNs,
    tracking parameters, and mirrored paths serve one document under
    many URLs, and the canonical link is how the page itself says
    which spelling is authoritative. FIRST matching link wins (the
    consuming-first convention, same as <base href>); any attribute
    order, any case, either quote style or an unquoted value; the
    ``rel`` token list matches ``canonical`` as a whole
    space-delimited token (``rel="alternate canonical"`` counts,
    ``rel="canonical-x"`` must not); stylesheet/alternate links and
    canonical-less pages yield NULL — callers ``coalesce`` over the
    page's own URL. The href is RAW: resolve (it is legally
    relative) and canonicalize through the shared chains before
    using it as a dedup key. Pure JVM: one regexp_extract_all over
    <link> tags + a higher-order filter + F.get (NULL out-of-bounds
    even under ANSI) — fuses into the scan, no Python, no
    shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    tags = F.regexp_extract_all(c, F.lit("(?i)<link\\s[^>]*>"), 0)
    canon_tags = F.filter(tags, lambda t: t.rlike(_REL_CANONICAL_RX))
    first = F.get(canon_tags, 0)
    return F.coalesce(
        F.nullif(F.regexp_extract(first, _HREF_RX, 1), F.lit("")),
        F.nullif(F.regexp_extract(first, _HREF_RX, 2), F.lit("")),
    )


def meta_robots_expr(col: str | Column, directive: str) -> Column:
    """True when the page's ``<meta name="robots">`` content carries
    ``directive`` (``noindex`` / ``nofollow`` / ...) as a
    comma-separated token, any case, any attribute order, either
    quote style. A ``noindex`` page must drop at the INDEXING edge
    and a meta-``nofollow`` page contributes NO outlinks at the
    DISCOVERY edge — the page-level complement of the per-anchor
    rel gate. Only ``name="robots"`` tags count: content= on any
    other meta (description, generator) must not trigger. Pure JVM
    predicate (one rlike), fuses into the scan."""
    c = F.col(col) if isinstance(col, str) else col
    d = directive.lower()
    # one tag carrying BOTH name=robots and content~directive, in
    # either attribute order, [^>]* confining the match to one tag
    both = (
        "(?i)<meta\\s(?=[^>]*\\bname\\s*=\\s*[\"']robots[\"'])"
        "(?=[^>]*\\bcontent\\s*=\\s*[\"'][^\"'>]*\\b" + d
        + "\\b)[^>]*>"
    )
    return c.rlike(both)


def strip_html_sql(expr: str) -> str:
    """The SAME chain as DuckDB SQL over ``expr`` — oracle parity by
    shared data, not re-implementation."""
    out = expr
    for pat, rep in STRIP_HTML_STEPS:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''").replace("\n", "' || chr(10) || '")
        out = f"regexp_replace({out}, '{p}', '{r}', 'gs')"
    return f"trim({out})"


# ------------------------------------------------------------------ #
# WARC                                                                #
# ------------------------------------------------------------------ #


def warc_build(records: list[tuple[dict, bytes]], gzip_members: bool = False) -> bytes:
    """Serialize WARC/1.0 records (header dict + content bytes).
    With ``gzip_members=True`` each record becomes its own gzip
    member — the standard ``.warc.gz`` layout readers seek within."""
    import zlib

    out = bytearray()
    for headers, body in records:
        h = bytearray(b"WARC/1.0\r\n")
        hdrs = dict(headers)
        hdrs["Content-Length"] = str(len(body))
        for k, v in hdrs.items():
            h += f"{k}: {v}\r\n".encode()
        h += b"\r\n"
        rec = bytes(h) + body + b"\r\n\r\n"
        if gzip_members:
            co = zlib.compressobj(6, zlib.DEFLATED, 16 + 15)
            rec = co.compress(rec) + co.flush()
        out += rec
    return bytes(out)


def warc_records(payload: bytes) -> list[tuple[dict, bytes]] | None:
    """Parse a WARC/1.0 stream (plain or per-record gzip members)
    into ``(headers, content)`` records. ``Content-Length`` drives
    the slicing — payload bytes are never scanned for delimiters.
    Returns None on malformed input (bad magic, missing
    Content-Length, truncated record) rather than guessing."""
    import zlib

    d = payload
    if d[:2] == b"\x1f\x8b":  # gzip members: inflate them all
        out = bytearray()
        pos = 0
        while pos < len(d):
            dec = zlib.decompressobj(16 + 15)
            try:
                out += dec.decompress(d[pos:])
            except zlib.error:
                return None
            consumed = len(d) - pos - len(dec.unused_data)
            if consumed <= 0:
                return None
            pos += consumed
        d = bytes(out)
    records = []
    pos = 0
    while pos < len(d):
        # skip inter-record blank lines
        while d[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= len(d):
            break
        if not d[pos:].startswith(b"WARC/"):
            return None
        hdr_end = d.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            return None
        headers: dict = {}
        for line in d[pos:hdr_end].split(b"\r\n")[1:]:
            if b":" not in line:
                return None
            k, v = line.split(b":", 1)
            headers[k.decode().strip()] = v.decode().strip()
        if "Content-Length" not in headers:
            return None
        try:
            clen = int(headers["Content-Length"])
        except ValueError:
            return None
        body_start = hdr_end + 4
        if body_start + clen > len(d):
            return None
        records.append((headers, d[body_start:body_start + clen]))
        pos = body_start + clen
    return records


def http_chunk_encode(body: bytes, chunk_size: int) -> bytes:
    """Encode ``body`` with HTTP/1.1 chunked transfer encoding
    (RFC 9112 §7.1): ``chunk_size``-byte data chunks (last one
    shorter), lowercase-hex size lines, the zero-size terminal
    chunk, no extensions, empty trailer section. The exact inverse
    of the dechunker in :func:`http_body` (roundtrip-tested)."""
    if chunk_size < 1:
        raise ValueError("http_chunk_encode: chunk_size must be >= 1")
    out = bytearray()
    for pos in range(0, len(body), chunk_size):
        piece = body[pos:pos + chunk_size]
        out += format(len(piece), "x").encode() + b"\r\n"
        out += piece + b"\r\n"
    out += b"0\r\n\r\n"
    return bytes(out)


def _dechunk(body: bytes) -> tuple[bytes, int] | None:
    """Deterministic chunked-body walk → (decoded bytes, number of
    data chunks), or None on anything outside the strict grammar:
    non-hex size line, chunk extension (``;`` in the size line),
    missing CRLF after a chunk, truncation, bytes after the
    terminator, or a non-empty trailer section. Refusing the long
    tail loudly beats guessing — a mis-framed chunk feeds size lines
    into the text pipeline downstream."""
    import re

    out = bytearray()
    pos = 0
    n_chunks = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            return None
        size_line = body[pos:eol]
        # RFC 9112 chunk-size is 1*HEXDIG, nothing else: int(x, 16)
        # alone would also admit '0x4', '+4', ' 4', '1_0' — exactly
        # the permissive-parse disagreements smuggling exploits
        if not size_line or not re.fullmatch(
            rb"[0-9A-Fa-f]+", size_line
        ):
            return None  # empty/extension/non-HEXDIG size: refused
        size = int(size_line, 16)
        pos = eol + 2
        if size == 0:
            # terminal chunk: the ONLY accepted tail is the empty
            # trailer section's CRLF, ending the body exactly.
            if body[pos:] != b"\r\n":
                return None
            return bytes(out), n_chunks
        if pos + size + 2 > len(body):
            return None
        out += body[pos:pos + size]
        if body[pos + size:pos + size + 2] != b"\r\n":
            return None
        pos += size + 2
        n_chunks += 1


#: Bounded inflate cap for gzip HTTP bodies. A coding that inflates
#: past it is a decompression bomb: refused (None), never streamed on.
_MAX_INFLATE = 8 * 1024 * 1024


def _bounded_inflate(data: bytes, wbits: int) -> bytes | None:
    """Inflate ONE member under ``wbits`` framing, bounded by
    :data:`_MAX_INFLATE`. Refuses (None) on: zlib framing errors,
    output past the cap, a truncated member (no eof), or ANY bytes
    after the member — multi-member / trailing-garbage bodies are
    outside what an HTTP content coding legitimately produces, and
    permissive tails are where smuggling bugs live."""
    import zlib

    dec = zlib.decompressobj(wbits)
    try:
        out = dec.decompress(data, _MAX_INFLATE)
        if dec.unconsumed_tail and len(out) == _MAX_INFLATE:
            # A body that inflates to EXACTLY the cap stops here with
            # the member trailer still unconsumed (max_length halts
            # before the framing bytes), which reads as a bomb. One
            # more byte decides: any further output means the member
            # truly exceeds the cap; zero bytes means the tail was
            # only framing and eof/unused_data below judge as usual.
            if dec.decompress(dec.unconsumed_tail, 1):
                return None
    except zlib.error:
        return None
    if dec.unconsumed_tail or not dec.eof or dec.unused_data:
        return None
    return out


def _bounded_gunzip(data: bytes) -> bytes | None:
    """gzip-member view of :func:`_bounded_inflate` (wbits 16+15)."""
    return _bounded_inflate(data, 16 + 15)


def _bounded_deflate(data: bytes) -> bytes | None:
    """``Content-Encoding: deflate`` per RFC 9110 means a ZLIB
    (RFC 1950) wrapped stream; some legacy servers send RAW deflate
    (RFC 1951) instead. Both decode here — zlib framing first, raw
    as the fallback (the WHATWG fetch behavior browsers apply) —
    each under the same bomb cap and exact-tail discipline. A body
    valid under NEITHER framing refuses."""
    out = _bounded_inflate(data, 15)
    if out is not None:
        return out
    return _bounded_inflate(data, -15)


def http_response(record_content: bytes) -> tuple[bytes, int, bool] | None:
    """Split an HTTP response record's content into headers + body
    and undo its codings: ``Transfer-Encoding`` first (``chunked``
    via the strict :func:`_dechunk` walk; ``gzip, chunked`` —
    applied by the sender in that order, so the receiver dechunks
    THEN inflates — via the bounded gunzip), then a
    ``Content-Encoding`` content coding: ``gzip`` (the common
    spelling in real captures; ``x-gzip`` is its RFC 9110 alias) or
    ``deflate`` (zlib-wrapped per RFC 9110, with the raw-deflate
    fallback legacy servers need — see :func:`_bounded_deflate`).
    Header spellings are case/whitespace-insensitive.

    Returns ``(body, n_data_chunks, gzipped)`` — 0 chunks for a
    non-chunked body, ``gzipped`` True when either coding layer
    inflated — or None for non-HTTP content, a coding this module
    cannot undo faithfully (``br``, ``zstd``, stacked or unknown
    tokens: refused loudly, never passed through compressed —
    compressed bytes fed to the text pipeline as document text are
    worse than a dropped record), a chunk-grammar violation, or a
    compressed body that is malformed, trailing-garbage-bearing, or
    inflates past the 8 MB bomb cap."""
    import re

    sep = record_content.find(b"\r\n\r\n")
    if sep < 0 or not record_content.startswith(b"HTTP/"):
        return None
    head = record_content[:sep].lower()
    raw = record_content[sep + 4:]

    def header_tokens(name: bytes) -> list[bytes]:
        return [
            t.strip()
            for m in re.finditer(
                rb"^" + name + rb"[ \t]*:([^\r\n]*)", head, re.M
            )
            for t in m.group(1).split(b",")
            if t.strip()
        ]

    codings = header_tokens(b"transfer-encoding")
    gzipped = False
    if not codings or codings == [b"identity"]:
        body, n_chunks = raw, 0
    elif codings == [b"chunked"]:
        got = _dechunk(raw)
        if got is None:
            return None
        body, n_chunks = got
    elif codings in ([b"gzip", b"chunked"], [b"x-gzip", b"chunked"]):
        got = _dechunk(raw)
        if got is None:
            return None
        inflated = _bounded_gunzip(got[0])
        if inflated is None:
            return None
        body, n_chunks = inflated, got[1]
        gzipped = True
    else:
        return None  # deflate/br/unknown/mis-ordered: refused loudly

    content_codings = header_tokens(b"content-encoding")
    if content_codings and content_codings != [b"identity"]:
        if content_codings in ([b"gzip"], [b"x-gzip"]):
            body2 = _bounded_gunzip(body)
        elif content_codings == [b"deflate"]:
            body2 = _bounded_deflate(body)
        else:
            return None  # br/zstd/stacked codings: refused loudly
        if body2 is None:
            return None
        body, gzipped = body2, True
    return body, n_chunks, gzipped


_STATUS_LINE_RX = re.compile(rb"^HTTP/1\.[01] (\d{3})")
_LOCATION_RX = re.compile(
    rb"^location[ \t]*:[ \t]*([^\r\n]*)", re.I | re.M
)


def http_status_location(
    record_content: bytes,
) -> tuple[int, str | None] | None:
    """``(status, location)`` of an HTTP response record — the
    redirect-following view: a crawl spends a large share of its
    fetches on 3xx responses whose ``Location`` (often RELATIVE,
    legal since RFC 7231) must resolve against the request URL and
    re-enter the frontier. The header NAME matches
    case-insensitively but the VALUE keeps its exact bytes — URL
    paths are case-significant, and lowering the target (as the
    body-decoding path does to the whole head) corrupts it. First
    Location wins; absent/empty → None; non-HTTP content → None."""
    sep = record_content.find(b"\r\n\r\n")
    if sep < 0 or not record_content.startswith(b"HTTP/"):
        return None
    head = record_content[:sep]
    m = _STATUS_LINE_RX.match(head)
    if m is None:
        return None
    lm = _LOCATION_RX.search(head)
    loc = lm.group(1).strip().decode("latin-1") if lm else ""
    return int(m.group(1)), (loc or None)


_ETAG_RX = re.compile(rb"^etag[ \t]*:[ \t]*([^\r\n]*)", re.I | re.M)
_LASTMOD_RX = re.compile(
    rb"^last-modified[ \t]*:[ \t]*([^\r\n]*)", re.I | re.M
)


def http_validators(
    record_content: bytes,
) -> tuple[int, str | None, str | None] | None:
    """``(status, etag, last_modified)`` of an HTTP response record
    — the conditional-revalidation view (RFC 9110 §8.8, §13.1): a
    production crawler spends most of its refetch budget on
    conditional requests (``If-None-Match`` / ``If-Modified-Since``
    built from these two validators), and a ``304 Not Modified``
    answer keeps the stored copy without re-downloading the body.
    Header NAMES match case-insensitively; VALUES keep their exact
    bytes — entity tags are case-SENSITIVE opaque quoted strings
    (lowercasing ``"AbC"`` fabricates a different tag) and the
    ``W/`` weak-validator prefix must survive for weak comparison.
    First header of each name wins; absent/empty → None; non-HTTP
    content → None."""
    sep = record_content.find(b"\r\n\r\n")
    if sep < 0 or not record_content.startswith(b"HTTP/"):
        return None
    head = record_content[:sep]
    m = _STATUS_LINE_RX.match(head)
    if m is None:
        return None
    em = _ETAG_RX.search(head)
    etag = em.group(1).strip().decode("latin-1") if em else ""
    lm = _LASTMOD_RX.search(head)
    lmod = lm.group(1).strip().decode("latin-1") if lm else ""
    return int(m.group(1)), (etag or None), (lmod or None)


_RETRY_AFTER_RX = re.compile(
    rb"^retry-after[ \t]*:[ \t]*([^\r\n]*)", re.I | re.M
)


def http_retry_after(
    record_content: bytes,
) -> tuple[int, str | None] | None:
    """``(status, retry_after)`` of an HTTP response record — the
    backoff view (RFC 9110 §10.2.3): 429/503 answers carry
    ``Retry-After`` as either delta-seconds or an IMF-fixdate, and
    a scheduler that ignores it hammers a throttling host. Header
    NAME matches case-insensitively, the VALUE keeps its exact
    bytes (interpretation — digits vs date vs malformed — is the
    scheduler's CASE, not the parser's guess). First header wins;
    absent/empty → None; non-HTTP content → None."""
    sep = record_content.find(b"\r\n\r\n")
    if sep < 0 or not record_content.startswith(b"HTTP/"):
        return None
    head = record_content[:sep]
    m = _STATUS_LINE_RX.match(head)
    if m is None:
        return None
    rm = _RETRY_AFTER_RX.search(head)
    ra = rm.group(1).strip().decode("latin-1") if rm else ""
    return int(m.group(1)), (ra or None)


def http_body_chunks(record_content: bytes) -> tuple[bytes, int] | None:
    """The ``(body, n_data_chunks)`` view of :func:`http_response` —
    kept as the stable name for callers that don't care whether a
    gzip layer was inflated."""
    got = http_response(record_content)
    return None if got is None else (got[0], got[1])


def http_body(record_content: bytes) -> bytes | None:
    """The body-only view of :func:`http_response` — kept as the
    stable public name; chunked and gzip-coded responses are decoded
    rather than refused (refusal dropped every such capture, and
    real WARC corpora contain both in volume)."""
    got = http_response(record_content)
    return None if got is None else got[0]
