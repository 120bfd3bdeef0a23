"""WARC / WET web-archive readers — the Common Crawl ingestion path.

A 100 TB pre-training corpus starts life as WARC ("Web ARChive", ISO 28500)
files: the raw crawl (`.warc.gz`, HTTP request/response records) and the
text extraction (`.wet.gz`, `conversion` records holding extracted plain
text). This module reads both into DataFrames that feed directly into the
quality/dedup/selection operators (textstats.gopher_filter, dedup.minhash_dedup,
selection.dsir_select) — making the engine end-to-end from crawl archive to
training shard.

Format (public spec, iipc/warc-specifications):

    WARC/1.0\\r\\n
    WARC-Type: response\\r\\n
    WARC-Target-URI: https://example.com/\\r\\n
    Content-Length: <payload bytes>\\r\\n
    \\r\\n
    <payload>\\r\\n\\r\\n

`.warc.gz` files are *member-gzipped*: every record is its own gzip member,
concatenated. That convention exists exactly so archives can be processed
record-at-a-time; stdlib zlib handles it via `decompressobj.unused_data`
(no external codec).

Spark design — same stance as `sources/vecs.py`: ONE TASK PER FILE. Gzip
members are not splittable without an external index, and a crawl ships as
tens of thousands of ~1 GB files (Common Crawl: ~64k WARCs per monthly
crawl), so across-file parallelism saturates any cluster while each task
stream-parses its own file. Filters on `warc_type` happen inside the parser
(rows never materialized), and the projected columns are the only ones
built — the Python-side equivalent of pushdown for a non-columnar source.

Parsing IS streaming, end to end: `_iter_decompressed` gunzips member-at-a-
time via `zlib.decompressobj` (never the whole archive), `iter_warc_records`
frames records out of a compacting bytearray (peak = one record + chunk
slack), and `read_warc` flushes pandas batches every `batch_bytes` of body
payload. For locally-readable paths (file:) the task opens the file itself
and never materializes even the COMPRESSED blob — binaryFile is used only to
LIST (column-pruned to `path`); peak memory per task is one record batch.
Object-store schemes (s3a:, gs:, hdfs:) stream the same way through an
Arrow-native filesystem opener (`_ArrowFsOpener`: chunked reads + positional
`read_at` for ranged fetch) — how real clusters read `s3a://commoncrawl`
directly; only a scheme with no reachable filesystem driver at all falls
back to a whole-blob binaryFile row (compressed blob + one batch peak, the
last resort). For 100 TB: point `read_warc` at the crawl prefix; size
executors for one record batch (`batch_bytes`, default 64 MB), not the
file.

No counterpart in the reference (it ingests from Postgres tables); this is
part of the beyond-reference training-pipeline surface (SURVEY.md §2.8).
"""

from __future__ import annotations

import io
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lantern_extras_spark.session import local_frame

_CRLF = b"\r\n"


def _iter_decompressed(chunks: Iterator[bytes]) -> Iterator[bytes]:
    """Incrementally decompress a (possibly member-gzipped) byte stream.

    Takes an iterator of raw byte chunks (from disk reads or a single
    in-memory blob) and yields decompressed chunks as they become available
    — the whole decompressed archive NEVER exists in memory at once. Member
    boundaries (the .warc.gz record-per-member convention) are crossed via
    `decompressobj.unused_data`; a member magic split across chunk reads is
    handled by carrying the partial prefix forward. Plain (non-gzip) input
    passes through untouched. Fail-loud on truncated members and non-gzip
    trailing garbage: silently dropped bytes would mean silently dropped
    crawl records."""
    it = iter(chunks)
    d = None  # active decompressor; None between members
    carry = b""  # unconsumed bytes awaiting a new member's magic check
    sniffed = False
    while True:
        data = carry
        carry = b""
        if not data:
            nxt = next(it, None)
            if nxt is None:
                break
            if not nxt:
                continue
            data = nxt
        if not sniffed:
            while len(data) < 2:  # need 2 bytes to sniff the gzip magic
                nxt = next(it, None)
                if nxt is None:
                    break
                data += nxt
            sniffed = True
            if not data.startswith(b"\x1f\x8b"):
                if data:
                    yield bytes(data)
                for c in it:
                    if c:
                        yield c
                return
        if d is None:
            while len(data) < 2:  # member magic may straddle a chunk read
                nxt = next(it, None)
                if nxt is None:
                    raise ValueError("truncated gzip member in WARC blob")
                data += nxt
            if not data.startswith(b"\x1f\x8b"):
                raise ValueError("trailing non-gzip bytes after WARC gzip member")
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out = d.decompress(data)
        except zlib.error as e:
            raise ValueError(f"bad gzip member in WARC blob: {e}") from e
        if out:
            yield out
        if d.eof:
            carry = d.unused_data
            d = None
    if d is not None:
        raise ValueError("truncated gzip member in WARC blob")


def _gunzip_members(blob: bytes) -> bytes:
    """Decompress a (possibly multi-member) gzip blob with stdlib zlib.

    Whole-blob convenience over `_iter_decompressed` — used only for small
    payloads (HTTP body content-encoding) and tests, never for archives."""
    return b"".join(_iter_decompressed(iter([blob])))


def _parse_http_payload(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """Split an HTTP/1.x message into (status, content-type, body).

    Handles Transfer-Encoding: chunked (raw captures keep the wire form).
    Returns (None, None, payload) when the payload is not an HTTP response —
    fail-soft here because WARC `response` records for non-HTTP schemes
    (dns:, whois:) are legal."""
    head_end = payload.find(b"\r\n\r\n")
    if head_end < 0 or not payload[:5] in (b"HTTP/", b"http/"):
        return None, None, payload
    head = payload[:head_end].decode("latin-1", "replace")
    body = payload[head_end + 4 :]
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, payload
    ctype = None
    chunked = False
    cenc = None
    for ln in lines[1:]:
        if ":" not in ln:
            continue
        k, v = ln.split(":", 1)
        k = k.strip().lower()
        v = v.strip()
        if k == "content-type":
            ctype = v
        elif k == "transfer-encoding" and "chunked" in v.lower():
            chunked = True
        elif k == "content-encoding":
            cenc = v.lower()
    if chunked:
        # fail-soft like the content-encoding branches below: Common Crawl
        # routinely truncates payloads (WARC-Truncated), so a chunked body
        # cut mid-chunk is normal data — keep the raw wire bytes rather than
        # killing a ~1 GB archive task over one capture
        try:
            body = _dechunk(body)
        except ValueError:
            pass
    # wire compression: captures store the body as sent. gzip/deflate are
    # zlib-decodable here; anything else (br, zstd) is left as-is — the
    # caller sees compressed bytes rather than a silently-dropped record
    if cenc in ("gzip", "x-gzip"):
        try:
            body = _gunzip_members(body)
        except ValueError:
            pass  # truncated capture: keep raw bytes, don't kill the record
    elif cenc == "deflate":
        try:
            body = zlib.decompress(body)
        except zlib.error:
            try:
                body = zlib.decompress(body, -15)  # raw-deflate servers exist
            except zlib.error:
                pass
    return status, ctype, body


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked body; malformed chunk framing is an error
    (a silently-wrong body would poison dedup hashes downstream)."""
    out = io.BytesIO()
    off = 0
    n = len(body)
    while True:
        eol = body.find(_CRLF, off)
        if eol < 0:
            raise ValueError("chunked body: missing chunk-size line")
        size_tok = body[off:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError as e:
            raise ValueError(f"chunked body: bad chunk size {size_tok!r}") from e
        off = eol + 2
        if size == 0:
            return out.getvalue()
        if off + size > n:
            raise ValueError("chunked body: chunk extends past payload")
        out.write(body[off : off + size])
        off += size
        if body[off : off + 2] != _CRLF:
            raise ValueError("chunked body: missing chunk terminator")
        off += 2


def _parse_warc_headers(raw: bytes) -> dict[str, str]:
    """Parse the WARC named-field block. WARC 1.0 permits folded
    continuation lines (leading SP/TAB joins the previous field's value);
    anything else without a colon is malformed framing — fail loud."""
    headers: dict[str, str] = {}
    last_key: str | None = None
    for ln in raw.split(_CRLF):
        if not ln:
            continue
        if ln[:1] in (b" ", b"\t"):
            if last_key is None:
                raise ValueError(f"WARC continuation line before any header: {ln!r}")
            headers[last_key] += " " + ln.strip().decode("latin-1", "replace")
            continue
        if b":" not in ln:
            raise ValueError(f"WARC header without colon: {ln!r}")
        k, v = ln.split(b":", 1)
        last_key = k.strip().decode("latin-1").lower()
        headers[last_key] = v.strip().decode("latin-1", "replace")
    return headers


def iter_warc_records(
    chunks: Iterator[bytes],
    types: tuple[str, ...] | None = None,
    max_records: int | None = None,
) -> Iterator[dict]:
    """Stream-parse WARC records from an iterator of raw byte chunks.

    The 100 TB kernel: gzip (single- or member-compressed, auto-detected by
    magic) is decompressed incrementally, records are framed out of a
    compacting buffer, and each record dict is yielded as soon as its
    payload is complete — peak memory is ONE record plus chunk slack, never
    the archive. Each dict: `record_id, warc_type, target_uri, warc_date,
    content_type, content_length, http_status, http_content_type, body`
    (body = HTTP body for response records, raw payload otherwise). `types`
    filters records before any payload decode work. Malformed WARC framing
    is a ValueError — a crawl file that frames wrong should fail the task,
    not emit silently-truncated documents (payload-level damage inside a
    well-framed record fails soft instead; see `_parse_http_payload`)."""
    want = None if types is None else {t.lower() for t in types}
    src = _iter_decompressed(chunks)
    buf = bytearray()
    done = False
    emitted = 0

    def fill(need: int) -> bool:
        # grow buf to >= need bytes; False when the stream ends first
        nonlocal done
        while not done and len(buf) < need:
            nxt = next(src, None)
            if nxt is None:
                done = True
            else:
                buf.extend(nxt)
        return len(buf) >= need

    while max_records is None or emitted < max_records:
        # tolerate inter-record padding (spec: two CRLFs; be lenient)
        pos = 0
        while True:
            if pos >= len(buf) and not fill(pos + 1):
                return  # clean EOF at a record boundary
            if buf[pos] in (0x0D, 0x0A):
                pos += 1
            else:
                break
        del buf[:pos]
        while True:  # find the header terminator, reading as needed
            hdr_end = buf.find(b"\r\n\r\n")
            if hdr_end >= 0:
                break
            if not fill(len(buf) + 1):
                raise ValueError("WARC record: unterminated header block")
        ver_end = buf.find(_CRLF)
        if not bytes(buf[:ver_end]).startswith(b"WARC/"):
            raise ValueError("expected WARC/x.y version line at record start")
        headers = _parse_warc_headers(bytes(buf[ver_end + 2 : hdr_end]))
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError("WARC record missing/invalid Content-Length") from e
        payload_start = hdr_end + 4
        if not fill(payload_start + clen):
            raise ValueError("WARC record payload extends past end of file")
        wtype = headers.get("warc-type", "").lower()
        if want is None or wtype in want:
            payload = bytes(buf[payload_start : payload_start + clen])
            status, http_ctype, body = (
                _parse_http_payload(payload)
                if wtype == "response"
                else (None, None, payload)
            )
            yield {
                "record_id": headers.get("warc-record-id"),
                "warc_type": wtype,
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_type": headers.get("content-type"),
                "content_length": clen,
                "http_status": status,
                "http_content_type": http_ctype,
                "body": bytes(body),
            }
            emitted += 1
        del buf[: payload_start + clen]  # compact: memory stays one-record-deep


def parse_warc_bytes(
    blob: bytes,
    types: tuple[str, ...] | None = None,
    max_records: int | None = None,
) -> list[dict]:
    """Whole-blob convenience over `iter_warc_records` (tests, small files).
    The Spark readers use the iterator directly — never call this on a
    full-size archive; the list IS the materialization it avoids."""
    return list(iter_warc_records(iter([blob]), types=types, max_records=max_records))


_WARC_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("record_id", StringType()),
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("content_type", StringType()),
        StructField("content_length", LongType()),
        StructField("http_status", IntegerType()),
        StructField("http_content_type", StringType()),
        StructField("body", BinaryType()),
    ]
)


_READ_CHUNK = 4 << 20  # 4 MB disk reads: large enough to amortize syscalls


def _local_fs_path(uri: str) -> str | None:
    """file:-scheme (or bare) URI → filesystem path; None for object stores."""
    from urllib.parse import unquote, urlparse

    u = urlparse(uri)
    if u.scheme in ("", "file"):
        return unquote(u.path) or uri
    return None


def _file_chunks(fspath: str) -> Iterator[bytes]:
    with open(fspath, "rb") as f:
        while True:
            b = f.read(_READ_CHUNK)
            if not b:
                return
            yield b


def _is_http(uri: str) -> bool:
    from urllib.parse import urlparse

    return urlparse(uri).scheme in ("http", "https")


class _LocalOpener:
    """Archive accessor for locally-readable paths: streaming chunks plus
    seek+read ranged access over one persistent handle."""

    def __init__(self, fspath: str):
        self._fspath = fspath
        self._fh = None

    def chunks(self) -> Iterator[bytes]:
        return _file_chunks(self._fspath)

    def read_range(self, offset: int, length: int) -> bytes:
        if self._fh is None:
            self._fh = open(self._fspath, "rb")
        self._fh.seek(offset)
        data = self._fh.read(length)
        if len(data) != length:
            raise ValueError(
                f"short read at {offset}+{length} in {self._fspath}: "
                f"got {len(data)} bytes (stale index?)"
            )
        return data

    def close(self) -> None:
        if self._fh is not None:
            self._fh.close()
            self._fh = None


_HTTP_RETRIES = 3
_HTTP_BACKOFF_S = 0.5
_HTTP_TIMEOUT_S = 60.0  # per-socket-op; a black-holed GET must not hang a task
_HTTP_SLEEP_SCALE = [1.0]  # tests shrink this to avoid real sleeps


class _HttpOpener:
    """Archive accessor over HTTP(S) — how the public Common Crawl buckets
    are actually consumed: full streaming GET for scans, `Range:` requests
    for the index-driven selective-read path. Fail-loud when the server
    ignores `Range` (a 200 full-body response would silently re-download
    the whole archive per record — the exact failure mode the index is
    there to prevent). Transient failures (connection errors, 5xx, 429)
    retry with linear backoff — at crawl scale some blips per million GETs
    are a certainty and must not fail whole tasks; 4xx responses raise
    immediately (retrying a wrong request can't fix it). A stream that
    breaks MID-body RESUMES from the exact consumed offset via a
    `Range: bytes=<consumed>-` request (a ~1 GB archive GET that dies at
    byte 900M must not restart the task) — fail-loud if the server won't
    honor the resume. stdlib urllib only; object-store SDKs would plug in
    at this same seam."""

    def __init__(self, url: str):
        self.url = url

    def _request(self, headers: dict) -> "object":
        import time
        import urllib.error
        import urllib.request

        last: Exception | None = None
        for attempt in range(_HTTP_RETRIES):
            try:
                req = urllib.request.Request(
                    self.url, headers={"Accept-Encoding": "identity", **headers}
                )
                # without a timeout the retry machinery below can never
                # engage on a stalled connection — the task just hangs
                return urllib.request.urlopen(req, timeout=_HTTP_TIMEOUT_S)
            except urllib.error.HTTPError as e:
                if e.code < 500 and e.code != 429:
                    raise
                last = e
            except (urllib.error.URLError, ConnectionError, TimeoutError, OSError) as e:
                last = e
            if attempt < _HTTP_RETRIES - 1:
                time.sleep(
                    _HTTP_BACKOFF_S * (attempt + 1) * float(_HTTP_SLEEP_SCALE[0])
                )
        raise IOError(
            f"GET {self.url} failed after {_HTTP_RETRIES} attempts: {last}"
        ) from last

    def _content_range_start(self, r) -> tuple[int, int | None]:
        """Parse a 206's `Content-Range: bytes <start>-<end>/<total>` into
        (start, total or None for `*`). A 206 without a parsable
        Content-Range cannot be trusted to start where the request asked —
        fail loud rather than splice bytes at an assumed offset."""
        import re

        cr = r.headers.get("Content-Range") if getattr(r, "headers", None) else None
        m = re.fullmatch(r"bytes (\d+)-(\d+)/(\d+|\*)", (cr or "").strip())
        if not m:
            raise ValueError(
                f"206 from {self.url} without a parsable Content-Range "
                f"({cr!r}) — cannot verify where the partial body starts"
            )
        total = None if m.group(3) == "*" else int(m.group(3))
        return int(m.group(1)), total

    def chunks(self) -> Iterator[bytes]:
        import http.client
        import time
        import urllib.error

        consumed = 0
        failures = 0
        expected = None  # total stream length, once any response reveals it
        while True:
            hdrs = {} if consumed == 0 else {"Range": f"bytes={consumed}-"}
            # connection establishment has its OWN retry budget inside
            # _request — only mid-stream breaks are handled here, so the
            # two layers never compound
            try:
                resp = self._request(hdrs)
            except urllib.error.HTTPError as e:
                if e.code == 416 and consumed > 0 and expected is None:
                    # a resume pointed exactly at EOF of an UNKNOWN-length
                    # stream (no Content-Length): servers answer 416 — but
                    # only treat it as clean EOF when the 416's
                    # `Content-Range: bytes */<total>` CONFIRMS every byte
                    # was consumed. A bare 416 (range-rejecting server, or
                    # the resource replaced by a shorter one between
                    # requests) could mask genuinely missing bytes — fail
                    # loud rather than silently truncate the stream. With a
                    # known length the loop returns before ever resuming at
                    # EOF, so a mid-file 416 always raises.
                    import re as _re

                    cr = e.headers.get("Content-Range") if e.headers else None
                    m = _re.fullmatch(r"bytes \*/(\d+)", (cr or "").strip())
                    if m and int(m.group(1)) == consumed:
                        return
                    raise ValueError(
                        f"resume of {self.url} at offset {consumed} got 416 "
                        f"but Content-Range {cr!r} does not confirm "
                        "stream-end — bytes may be missing"
                    ) from e
                raise
            try:
                with resp as r:
                    if consumed:
                        if getattr(r, "status", 200) != 206:
                            raise ValueError(
                                f"server for {self.url} ignored the mid-body "
                                f"resume Range (HTTP {getattr(r, 'status', '?')}"
                                ") — cannot continue a broken stream without "
                                "re-reading consumed bytes"
                            )
                        # trust-but-verify the 206: a partial body that does
                        # not start at the consumed offset would silently
                        # splice wrong bytes into the stream (WARC members
                        # are independently gzipped — a whole-member
                        # misalignment can still parse)
                        start, _ = self._content_range_start(r)
                        if start != consumed:
                            raise ValueError(
                                f"resume Range for {self.url} asked for "
                                f"bytes={consumed}- but the 206 starts at "
                                f"{start} (Content-Range) — refusing to "
                                "splice a misaligned partial body"
                            )
                    # http.client returns b'' on a premature close instead
                    # of raising (read(amt) never IncompleteReads), so EOF
                    # must be checked against Content-Length ourselves
                    remaining = getattr(r, "length", None)
                    if remaining is not None:
                        expected = consumed + remaining
                    while True:
                        b = r.read(_READ_CHUNK)
                        if not b:
                            if expected is not None and consumed < expected:
                                raise http.client.IncompleteRead(
                                    b"", expected - consumed
                                )
                            return
                        consumed += len(b)
                        failures = 0  # forward progress resets the budget
                        yield b
            except (
                ConnectionError,
                TimeoutError,
                OSError,
                http.client.HTTPException,
            ) as e:
                if expected is not None and consumed >= expected:
                    # the break landed AFTER the final byte (e.g. an abortive
                    # close at EOF) — nothing is missing, don't resume
                    return
                failures += 1
                if failures >= _HTTP_RETRIES:
                    raise IOError(
                        f"GET {self.url} kept breaking mid-body at offset "
                        f"{consumed} ({_HTTP_RETRIES} consecutive failures "
                        f"with no progress): {e}"
                    ) from e
                time.sleep(
                    _HTTP_BACKOFF_S * failures * float(_HTTP_SLEEP_SCALE[0])
                )

    def read_range(self, offset: int, length: int) -> bytes:
        """Ranged GET with the same resilience contract as `chunks()`: a
        transient mid-body break (or a short body under a clean close)
        re-requests the REMAINING sub-range rather than failing the task —
        the selective-fetch path issues thousands of these per archive, so
        it must be at least as robust as the bulk path. Forward progress
        resets the consecutive-failure budget. Fail-loud stays for the
        non-transient cases: a 200 (Range ignored), a misaligned 206
        (Content-Range start ≠ requested), and a range that extends past
        the server-reported total size (stale index)."""
        import http.client
        import time

        out = bytearray()
        failures = 0
        while len(out) < length:
            lo = offset + len(out)
            hdr = {"Range": f"bytes={lo}-{offset + length - 1}"}
            # _request has its OWN retry budget (and raises immediately on
            # 4xx — HTTPError is an OSError subclass, so it must never reach
            # the mid-body except below or a 404 would be "retried")
            resp = self._request(hdr)
            try:
                with resp as r:
                    if getattr(r, "status", 200) != 206:
                        raise ValueError(
                            f"server for {self.url} ignored the Range request "
                            f"(HTTP {getattr(r, 'status', '?')}, expected 206 "
                            "Partial Content) — refusing to stream the full "
                            "archive per record"
                        )
                    start, total = self._content_range_start(r)
                    if start != lo:
                        raise ValueError(
                            f"ranged GET {self.url} asked for bytes={lo}- but "
                            f"the 206 starts at {start} (Content-Range) — "
                            "refusing a misaligned partial body"
                        )
                    if total is not None and offset + length > total:
                        raise ValueError(
                            f"ranged GET {self.url} [{offset}, +{length}) "
                            f"extends past the archive's {total} bytes "
                            "(stale index?)"
                        )
                    while len(out) < length:
                        b = r.read(min(_READ_CHUNK, length - len(out)))
                        if not b:
                            break  # short body: retry the remainder below
                        out.extend(b)
                        failures = 0  # forward progress resets the budget
            except (
                ConnectionError,
                TimeoutError,
                OSError,
                http.client.HTTPException,
            ) as e:
                failures += 1
                if failures >= _HTTP_RETRIES:
                    raise IOError(
                        f"ranged GET {self.url} [{offset}, +{length}) kept "
                        f"breaking at byte {len(out)} ({_HTTP_RETRIES} "
                        f"consecutive failures with no progress): {e}"
                    ) from e
                time.sleep(
                    _HTTP_BACKOFF_S * failures * float(_HTTP_SLEEP_SCALE[0])
                )
                continue
            if len(out) < length:
                # clean close short of the requested range (no exception):
                # transient under the same budget — the stale-index case is
                # already excluded by the Content-Range total check above
                failures += 1
                if failures >= _HTTP_RETRIES:
                    raise ValueError(
                        f"ranged GET {self.url} [{offset}, +{length}) returned "
                        f"{len(out)} bytes after {_HTTP_RETRIES} attempts"
                    )
                time.sleep(
                    _HTTP_BACKOFF_S * failures * float(_HTTP_SLEEP_SCALE[0])
                )
        return bytes(out)

    def close(self) -> None:
        pass


_ARROW_SCHEME_MAP = {"s3a": "s3", "s3n": "s3"}  # Hadoop spellings → Arrow's


def _arrow_uri(uri: str) -> str:
    """Normalize Hadoop object-store scheme spellings (s3a:, s3n:) to the
    ones Arrow's filesystem layer registers (s3:)."""
    scheme, sep, rest = uri.partition("://")
    mapped = _ARROW_SCHEME_MAP.get(scheme.lower())
    return f"{mapped}{sep}{rest}" if sep and mapped else uri


def _arrow_forced() -> bool:
    """Test/ops knob: route even locally-readable paths through
    `_ArrowFsOpener` so the object-store code path is exercisable (and
    benchmarkable) against `file:` URIs — the Arrow local filesystem drives
    the IDENTICAL open_input_stream / read_at code the S3/GCS/HDFS
    filesystems do."""
    import os

    return bool(os.environ.get("LANTERN_SPARK_FORCE_ARROW_FS"))


class _ArrowFsOpener:
    """Archive accessor over an Arrow-native filesystem (S3, GCS, HDFS,
    local) — the object-store leg of the opener seam: `open_input_stream`
    for full scans (chunked reads, background readahead — the archive is
    NEVER materialized as one blob) and positional `read_at` over one
    persistent random-access handle for the index-driven selective-fetch
    path. This is what makes `s3a://commoncrawl/...` stream and
    range-fetch exactly like the HTTP(S) path instead of falling back to
    whole-blob binaryFile rows (~1 GB per task). Construction fails where
    the scheme is genuinely unreachable (no credentials/region/libhdfs) —
    `_opener_for` treats that as "no opener" and the binaryFile fallback
    carries the task, so a misconfigured executor degrades to the old
    behavior rather than failing the job."""

    def __init__(self, uri: str):
        import pyarrow.fs as pafs

        self.uri = uri
        self._fs, self._path = pafs.FileSystem.from_uri(_arrow_uri(uri))
        self._fh = None

    def chunks(self) -> Iterator[bytes]:
        # compression=None: Arrow's 'detect' default would transparently
        # gunzip .gz paths, but the WARC kernels do their own member-gzip
        # handling and the index offsets refer to COMPRESSED bytes
        with self._fs.open_input_stream(self._path, compression=None) as f:
            while True:
                b = f.read(_READ_CHUNK)
                if not b:
                    return
                yield bytes(b)

    def read_range(self, offset: int, length: int) -> bytes:
        if self._fh is None:
            self._fh = self._fs.open_input_file(self._path)
        data = bytes(self._fh.read_at(length, offset))
        if len(data) != length:
            raise ValueError(
                f"short read at {offset}+{length} in {self.uri}: "
                f"got {len(data)} bytes (stale index?)"
            )
        return data

    def close(self) -> None:
        if self._fh is not None:
            self._fh.close()
            self._fh = None


def _try_arrow_opener(uri: str):
    try:
        return _ArrowFsOpener(uri)
    except Exception:
        # no Arrow filesystem for this scheme here (missing libhdfs,
        # credentials, network): the caller falls back to binaryFile
        return None


def _opener_for(uri: str):
    """URI → archive accessor: local seek+read, http(s) streaming
    GET+Range, or an Arrow-native filesystem (s3/s3a/gs/hdfs — streaming
    reads + positional `read_at`). None only when no leg can reach the URI
    (e.g. hdfs: without libhdfs) — those paths arrive through binaryFile
    as whole blobs instead."""
    if _arrow_forced():
        op = _try_arrow_opener(uri)
        if op is not None:
            return op
    fspath = _local_fs_path(uri)
    if fspath is not None:
        return _LocalOpener(fspath)
    if _is_http(uri):
        return _HttpOpener(uri)
    return _try_arrow_opener(uri)


def _warc_parse_fn(
    types: tuple[str, ...] | None,
    max_records_per_file: int | None,
    batch_bytes: int,
):
    """Shared mapInPandas kernel for batch + streaming readers: per input
    file, stream records via `iter_warc_records` and flush a pandas frame
    every `batch_bytes` of body payload — peak task memory is one batch (plus
    the compressed blob only when the file isn't locally readable)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                opener = _opener_for(row["path"])
                if opener is None and "content" not in row:
                    raise IOError(
                        f"no archive opener for {row['path']} on this "
                        "executor, and the scan was planned without the "
                        "binaryFile content fallback (the driver could "
                        "resolve the scheme; this executor cannot)"
                    )
                chunks = (
                    opener.chunks()
                    if opener is not None
                    else iter([bytes(row["content"])])
                )
                recs: list[dict] = []
                size = 0
                for rec in iter_warc_records(
                    chunks, types=types, max_records=max_records_per_file
                ):
                    recs.append(rec)
                    size += len(rec["body"]) + 256
                    if size >= batch_bytes:
                        out = pd.DataFrame(recs)
                        out.insert(0, "path", row["path"])
                        yield out
                        recs, size = [], 0
                if recs:
                    out = pd.DataFrame(recs)
                    out.insert(0, "path", row["path"])
                    yield out

    return parse


def _paths_df(spark: SparkSession, path) -> DataFrame:
    """Archive listing → one-column `path` DataFrame. Local/glob paths list
    through binaryFile (column-pruned to `path`; the task streams the file
    itself). http(s) URLs — how Common Crawl is consumed, via the
    `warc.paths` manifests — have no listing protocol, so pass the explicit
    URL(s); each becomes one task and the task streams the response body.
    Object-store schemes (s3a:, gs:) list through binaryFile but stay
    column-pruned to `path` when an Arrow filesystem can reach the scheme
    (the task streams through `_ArrowFsOpener`); only schemes with no
    opener at all (e.g. hdfs: without libhdfs) carry the whole-blob
    `content` column as the last-resort fallback."""
    paths = list(path) if isinstance(path, (list, tuple)) else [path]
    if any(_is_http(p) for p in paths):
        if not all(_is_http(p) for p in paths):
            raise ValueError("mixed http(s) and non-http paths in one read")
        df = local_frame(spark, [(p,) for p in paths], "path string")
        return df.repartition(len(paths))
    if len(paths) != 1:
        raise ValueError("pass multiple paths only as http(s) URLs; local "
                         "reads take one (glob) path")
    streamable = _local_fs_path(paths[0]) is not None or (
        _try_arrow_opener(paths[0]) is not None  # driver-side probe
    )
    cols = ["path"] if streamable else ["path", "content"]
    return spark.read.format("binaryFile").load(paths[0]).select(*cols)


def read_warc(
    spark: SparkSession,
    path,
    types: tuple[str, ...] = ("response",),
    max_records_per_file: int | None = None,
    batch_bytes: int = 64 << 20,
) -> DataFrame:
    """Read WARC file(s) (plain or .gz) into records — one task per file
    (gzip members are not splittable, crawls are many-file). Default keeps
    only `response` records, the training-data payload; pass `types=None`
    for everything (warcinfo/request/metadata/...). `path` is a local/glob
    path or http(s) URL(s) (a str or a list — e.g. entries from a Common
    Crawl `warc.paths` manifest).

    Memory contract: records stream out in ≤`batch_bytes` pandas batches.
    For file:-scheme paths the task opens the file itself, so binaryFile is
    column-pruned to `path` only and not even the compressed blob is
    materialized; http(s) URLs stream the same way over a GET body; for
    object-store schemes the compressed blob is the one whole-file
    allocation (binaryFile row) — decompression and parsing stay
    incremental either way."""
    binary = _paths_df(spark, path)
    parse = _warc_parse_fn(types, max_records_per_file, batch_bytes)
    return binary.mapInPandas(parse, _WARC_SCHEMA)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Read WET extracted-text file(s) → (path, record_id, target_uri,
    warc_date, text). WET is WARC whose `conversion` records carry UTF-8
    plain text; decoding uses errors='replace' (crawl text is dirty by
    nature — a single bad byte must not kill a 1 GB task)."""
    recs = read_warc(spark, path, types=("conversion",))
    from pyspark.sql import functions as F

    # NOT F.decode(..., "UTF-8"): Spark 4's decode THROWS on malformed bytes,
    # and one bad byte must not kill a 1 GB task — route through the lenient
    # cast + make_valid_utf8 (undecodable bytes become U+FFFD)
    return recs.select(
        "path",
        "record_id",
        "target_uri",
        "warc_date",
        F.make_valid_utf8(F.col("body").cast("string")).alias("text"),
    )


def _iter_members_with_offsets(chunks: Iterator[bytes]):
    """Walk a member-gzipped stream yielding (compressed_offset,
    compressed_length, decompressed_member_bytes) per member — the kernel
    behind `index_warc`. Offsets are what make the .warc.gz member
    convention a random-access format: (offset, length) + one gunzip
    recovers a single record without touching the rest of the archive.
    Streaming: one member in memory at a time."""
    it = iter(chunks)
    buf = b""
    base = 0  # absolute compressed offset of buf[0]
    d = None
    start = 0
    out = bytearray()
    while True:
        if not buf:
            nxt = next(it, None)
            if nxt is None:
                break
            buf = nxt
            continue
        if d is None:
            while len(buf) < 2:  # member magic may straddle a read
                nxt = next(it, None)
                if nxt is None:
                    raise ValueError("truncated gzip member in WARC blob")
                buf += nxt
            if not buf.startswith(b"\x1f\x8b"):
                raise ValueError("index_warc requires member-gzip (.warc.gz)")
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            start = base
            out = bytearray()
        try:
            data = d.decompress(buf)
        except zlib.error as e:
            raise ValueError(f"bad gzip member in WARC blob: {e}") from e
        out.extend(data)
        if d.eof:
            rest = d.unused_data
            base += len(buf) - len(rest)
            buf = bytes(rest)
            yield start, base - start, bytes(out)
            d = None
        else:
            base += len(buf)
            buf = b""
    if d is not None:
        raise ValueError("truncated gzip member in WARC blob")


_INDEX_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_type", StringType()),
        StructField("record_id", StringType()),
        StructField("warc_date", StringType()),
        StructField("http_status", IntegerType()),
        StructField("http_content_type", StringType()),
        StructField("digest", StringType()),
        StructField("warc_offset", LongType()),
        StructField("warc_length", LongType()),
    ]
)


_INDEX_BATCH_ROWS = 50_000  # ≈10 MB of ~200 B index rows per flushed frame


def index_warc(
    spark: SparkSession, path, index_batch_rows: int = _INDEX_BATCH_ROWS
) -> DataFrame:
    """Build a CDX-style index over member-gzipped WARC archives: one row
    per record with (target_uri, type, http status/content-type, a
    `sha1:<base32>` payload digest — Common Crawl's digest convention — and
    the member's compressed offset+length). This is the operator that makes
    the 100 TB access pattern work END TO END in this engine: index once
    (full scan), then every later query dedups/filters ON THE INDEX (~1% of
    the bytes) and `read_warc_ranges` fetches only the surviving records.
    `path` is a local/glob path or http(s) URL(s) — indexing streams the
    GET body, same as `read_warc`. One task per archive; members stream
    one-at-a-time and index rows flush every `_INDEX_BATCH_ROWS` (same
    bounded-batch contract as the record readers)."""
    binary = _paths_df(spark, path).select("path")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p in pdf["path"]:
                opener = _opener_for(p)
                if opener is None:
                    raise NotImplementedError(
                        f"index_warc has no streaming opener for {p!r} "
                        "(local, http(s), and Arrow-reachable object-store "
                        "schemes are supported); expose the bucket over one "
                        "of those, or install the missing filesystem driver "
                        "(e.g. libhdfs for hdfs:)"
                    )
                yield from _index_frames(p, opener, index_batch_rows)

    return binary.mapInPandas(build, _INDEX_SCHEMA)


def _index_frames(
    p: str, opener, batch_rows: int
) -> Iterator[pd.DataFrame]:
    """Per-archive index kernel behind `index_warc`: stream members, emit
    index-row frames of ≤`batch_rows` — peak memory is one frame no matter
    how record-dense the archive is (module-level so the bound is pinnable
    by a driver-side tracemalloc test)."""
    import base64
    import hashlib

    rows: list[dict] = []
    for off, ln, member in _iter_members_with_offsets(opener.chunks()):
        for rec in iter_warc_records(iter([member])):
            digest = (
                "sha1:"
                + base64.b32encode(hashlib.sha1(rec["body"]).digest()).decode()
            )
            rows.append(
                {
                    "path": p,
                    "target_uri": rec["target_uri"],
                    "warc_type": rec["warc_type"],
                    "record_id": rec["record_id"],
                    "warc_date": rec["warc_date"],
                    "http_status": rec["http_status"],
                    "http_content_type": rec["http_content_type"],
                    "digest": digest,
                    "warc_offset": off,
                    "warc_length": ln,
                }
            )
            if len(rows) >= batch_rows:
                yield pd.DataFrame(rows)
                rows = []
    if rows:
        yield pd.DataFrame(rows)


def read_warc_ranges(
    spark: SparkSession,
    ranges: DataFrame,
    path_col: str = "path",
    offset_col: str = "warc_offset",
    length_col: str = "warc_length",
    max_gap: int = 256 << 10,
) -> DataFrame:
    """Selective record fetch: given index rows (from `index_warc`, or the
    public Common Crawl CDX via `read_cdx`), read ONLY those byte ranges —
    fetch + one-member gunzip per record, never the archive. THE scale
    path: status/mime/digest-dedup filtering happens on the index
    (columnar, pushdown-friendly), and archive IO is proportional to the
    SURVIVING records, not the crawl. Ranges are repartitioned by archive
    and fetched in offset order (sequential-ish IO per file, one accessor
    per archive per task). Local paths seek+read; http(s) paths issue one
    `Range:` GET per coalesced span (fail-loud if the server ignores
    Range); Arrow-reachable object stores `read_at` — all through the same
    `_opener_for` seam.

    Coalescing is GAP-TOLERANT (r12 verdict #2): members separated by up
    to `max_gap` bytes of non-selected filler are fetched as ONE span and
    the filler discarded — at billion-record selections the per-request
    overhead (an S3 GET costs ~RTT·bandwidth ≈ a megabyte of streaming)
    dominates the wasted bytes, and clustered selections (status/mime
    filters keep same-host RUNS of records) collapse to one request per
    run. Only the selected members' exact byte slices are parsed, so
    filler records are never emitted. The trade is explicit: request
    count falls, fetched bytes rise by the filler crossed — `max_gap=0`
    restores exact-touching coalescing (minimum bytes, maximum requests);
    the 64 MB span cap bounds peak task memory either way."""
    from pyspark.sql import functions as F

    cols = [path_col, offset_col, length_col]

    batch_bytes = 64 << 20
    if max_gap < 0:
        raise ValueError(f"max_gap must be >= 0, got {max_gap}")

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values([path_col, offset_col])
            rows: list[dict] = []
            size = 0
            cur_path, opener = None, None
            try:
                for p, grp in pdf.groupby(path_col, sort=False):
                    if p != cur_path:
                        if opener is not None:
                            opener.close()
                        opener = _opener_for(p)
                        if opener is None:
                            raise NotImplementedError(
                                f"read_warc_ranges has no ranged-read opener "
                                f"for {p!r} (local seek+read, http(s) Range "
                                "GETs, and Arrow-reachable object-store "
                                "schemes are supported)"
                            )
                        cur_path = p
                    # coalesce members ≤ max_gap apart into single spans
                    # (≤ one batch each): [span_start, span_end, members]
                    spans: list[list] = []
                    for off, ln in zip(grp[offset_col], grp[length_col]):
                        off, ln = int(off), int(ln)
                        if (
                            spans
                            and off >= spans[-1][1]
                            and off - spans[-1][1] <= max_gap
                            and off + ln - spans[-1][0] <= batch_bytes
                        ):
                            spans[-1][1] = off + ln
                            spans[-1][2].append((off, ln))
                        else:
                            spans.append([off, off + ln, [(off, ln)]])
                    for s_off, s_end, members in spans:
                        blob = opener.read_range(s_off, s_end - s_off)
                        # parse ONLY the selected members' slices — filler
                        # bytes crossed by gap-tolerant spans are discarded,
                        # never emitted as records
                        for m_off, m_len in members:
                            lo = m_off - s_off
                            member = blob[lo : lo + m_len]
                            for rec in iter_warc_records(iter([member])):
                                rows.append({"path": p, **rec})
                                size += len(rec["body"]) + 256
                                if size >= batch_bytes:
                                    yield pd.DataFrame(rows)
                                    rows, size = [], 0
            finally:
                if opener is not None:
                    opener.close()
            if rows:
                yield pd.DataFrame(rows)

    return (
        ranges.select(*cols)
        .repartition(F.col(path_col))
        .mapInPandas(fetch, _WARC_SCHEMA)
    )


def read_cdx(spark: SparkSession, path) -> DataFrame:
    """Read CDXJ crawl-index lines (`urlkey timestamp {json}` — the public
    Common Crawl index format) into typed columns: (urlkey, timestamp, url,
    mime, status, digest, warc_filename, warc_offset, warc_length,
    languages). The index is the cheap pre-filter BEFORE touching archive
    bytes: select status=200 text/html rows, dedup by content digest, THEN
    fetch only the needed (filename, offset, length) ranges via
    `read_warc_ranges` — at 100 TB the index scan is ~1% of the crawl's
    bytes and prunes most of the rest. For crawls without a published
    index, `index_warc` builds one.
    Local/glob paths go through plain `spark.read.text` + native
    from_json/split: splittable, pushdown-friendly, no Python workers.
    http(s) URL(s) — the public index shards are themselves served over
    HTTP (`cdx-*.gz`) — stream each shard's GET body through the opener
    seam (gzip members handled), one task per shard. Lines that don't
    parse yield null JSON fields rather than killing the scan (crawl
    indexes carry occasional malformed entries)."""
    from pyspark.sql import functions as F

    paths = list(path) if isinstance(path, (list, tuple)) else [path]
    if any(_is_http(p) for p in paths):

        def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # bounded: one decompressed chunk + ≤50k pending lines in
            # memory — public index shards are 100s of MB decompressed
            for pdf in batches:
                for p in pdf["path"]:
                    carry = b""
                    out: list[str] = []
                    for chunk in _iter_decompressed(_opener_for(p).chunks()):
                        carry += chunk
                        *full, carry = carry.split(b"\n")
                        out.extend(l.decode("utf-8", "replace") for l in full)
                        if len(out) >= 50_000:
                            yield pd.DataFrame({"value": out})
                            out = []
                    if carry:
                        out.append(carry.decode("utf-8", "replace"))
                    if out:
                        yield pd.DataFrame({"value": out})

        lines = _paths_df(spark, path).mapInPandas(fetch, "value string")
    else:
        lines = spark.read.text(path)
    parts = F.split(F.col("value"), " ", 3)
    js = F.from_json(
        F.element_at(parts, 3),
        "url string, mime string, status string, digest string, "
        "filename string, offset string, length string, languages string",
    )
    return lines.select(
        F.element_at(parts, 1).alias("urlkey"),
        F.element_at(parts, 2).alias("timestamp"),
        js["url"].alias("url"),
        js["mime"].alias("mime"),
        js["status"].cast("int").alias("status"),
        js["digest"].alias("digest"),
        js["filename"].alias("warc_filename"),
        js["offset"].cast("long").alias("warc_offset"),
        js["length"].cast("long").alias("warc_length"),
        js["languages"].alias("languages"),
    )


def read_paths_manifest(source: str, base_url: str) -> list[str]:
    """Load a crawl path manifest (`warc.paths` / `wet.paths` /
    `cdx.paths`, optionally .gz) into full archive URLs — the entry point
    of the public-crawl loop: manifest → URL list → `read_warc` /
    `index_warc` / `read_cdx` (all of which take http(s) URL lists).
    Driver-side on purpose: a monthly crawl's manifest is ~64k short
    lines (a few MB), and the result IS the task list. `source` is a
    local path or http(s) URL; `base_url` is the crawl's data root the
    manifest lines are relative to."""
    opener = _opener_for(source)
    if opener is None:
        raise ValueError(f"unreachable manifest source {source!r}")
    blob = b"".join(_iter_decompressed(opener.chunks()))
    root = base_url.rstrip("/")
    return [
        f"{root}/{ln.strip()}"
        for ln in blob.decode("utf-8", "replace").splitlines()
        if ln.strip()
    ]


def read_cdx_ranges(
    spark: SparkSession, cdx: DataFrame, base_url: str, max_gap: int = 256 << 10
) -> DataFrame:
    """The canonical public-crawl access pattern end to end: CDX index rows
    (from `read_cdx` — already filtered/deduped index-side) name each
    record's archive (`warc_filename`, relative to the crawl root) and
    member byte range; prefix the crawl's base URL and fetch EXACTLY those
    members via `read_warc_ranges` (Range GETs over http(s), seek+read for
    a local mirror). Archive IO ∝ surviving index rows, never the crawl."""
    from pyspark.sql import functions as F

    rows = cdx.select(
        F.concat(
            F.lit(base_url.rstrip("/") + "/"), F.col("warc_filename")
        ).alias("path"),
        "warc_offset",
        "warc_length",
    )
    return read_warc_ranges(spark, rows, max_gap=max_gap)


def http_body_text(body="body", content_type="http_content_type"):
    """Charset-aware HTTP body → string, as a native Column expression: the
    charset is pulled from the Content-Type header value
    (`text/html; charset=ISO-8859-1`), normalized, and routed to the
    matching `decode()` — crawls are NOT all UTF-8 (the long tail is
    latin-1/windows-1252, still ~1-2% of the web). Unknown or missing
    charsets fall back to UTF-8. Stays JVM-side (a CASE over decode calls,
    no Python workers). Lenient by construction: the UTF-8 path goes through
    make_valid_utf8 (undecodable bytes become U+FFFD — Spark 4's decode()
    throws on malformed input, the wrong failure mode for dirty crawl
    bytes), single-byte charsets cannot fail, ascii routes through latin-1
    (same result for valid ASCII). The one strict branch is a DECLARED
    utf-16 (no lenient JVM-side utf-16 exists; such pages are BOM-framed in
    practice)."""
    from pyspark.sql import functions as F

    b = F.col(body) if isinstance(body, str) else body
    ct = F.col(content_type) if isinstance(content_type, str) else content_type
    cs = F.lower(F.regexp_extract(F.coalesce(ct, F.lit("")), r"(?i)charset=[\"']?([A-Za-z0-9_\-]+)", 1))
    # Spark's decode() supports a fixed charset list without windows-1252;
    # cp1252 = ISO-8859-1 (a bijective byte -> U+00XX map) with 27 code
    # points in 0x80-0x9F remapped — decode latin-1 then translate them.
    cp1252_src, cp1252_dst = [], []
    for byte in range(0x80, 0xA0):
        ch = bytes([byte]).decode("cp1252", errors="ignore")
        if ch:
            cp1252_src.append(chr(byte))
            cp1252_dst.append(ch)
    win1252 = F.translate(F.decode(b, "ISO-8859-1"), "".join(cp1252_src), "".join(cp1252_dst))
    lenient_utf8 = F.make_valid_utf8(b.cast("string"))
    return (
        F.when(
            cs.isin("iso-8859-1", "latin-1", "latin1", "us-ascii", "ascii"),
            F.decode(b, "ISO-8859-1"),
        )
        .when(cs.isin("windows-1252", "cp1252"), win1252)
        .when(cs.isin("utf-16", "utf16"), F.decode(b, "UTF-16"))
        .otherwise(lenient_utf8)
    )


def read_warc_stream(
    spark: SparkSession,
    path: str,
    types: tuple[str, ...] = ("response",),
    glob: str = "*.warc.gz",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Structured-Streaming twin of `read_warc`: a crawl DROPS files
    continuously (Common Crawl publishes in waves; an in-house fetcher lands
    a .warc.gz per worker per few minutes), so ingestion is a file stream —
    each new archive becomes one task, parsed with the SAME
    `parse_warc_bytes` kernel, and flows into the streaming dedup/quality/
    index stores (streaming/stateful.py) with exactly-once file tracking
    from the checkpoint. `binaryFile` is a streaming-capable file source;
    `maxFilesPerTrigger` is the backpressure lever (archives are ~1 GB — cap
    files, not bytes). Returns an unbounded DataFrame; pair with
    `trigger(availableNow=True)` for backfill runs."""
    # streaming file sources need an explicit schema; binaryFile's is fixed
    reader = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    binary = reader.load(path)
    local = _local_fs_path(path) is not None
    cols = ["path"] if local else ["path", "content"]
    parse = _warc_parse_fn(types, None, 64 << 20)
    return binary.select(*cols).mapInPandas(parse, _WARC_SCHEMA)


def write_warc_shards(
    df: DataFrame,
    path: str,
    uri_col: str = "target_uri",
    body_col: str = "body",
    content_type_col: str | None = None,
    record_type: str = "resource",
    warc_date: str = "2026-01-01T00:00:00Z",
    records_per_shard: int = 10_000,
    n_shards: int | None = None,
) -> list:
    """Distributed WARC EXPORT — the symmetry of `read_warc`, mirroring
    `write_webdataset_shards`: shard a (uri, body) frame into member-gzipped
    `shard-NNNNNN.warc.gz` files under `path`, one archive per task via
    groupBy(shard).applyInPandas. `record_type='resource'` is the spec's
    direct-content record (no HTTP framing); use `'conversion'` for derived
    text (the WET convention — `read_wet` reads it back). Shard assignment
    is deterministic (xxhash64(uri) mod n) and record ids are content-
    derived (sha1 of uri+date), so re-runs produce byte-identical shards.
    Each shard opens with a `warcinfo` member, per the crawl convention.
    `path` must be a filesystem every executor can reach (same contract as
    any Spark file sink). Returns the collected manifest
    [(shard, file, n_records, n_bytes)] — one row per shard, bounded.
    Memory: records stream member-by-member to the open file; peak is one
    record, the same contract as the reader."""
    import hashlib
    import math
    import os

    from pyspark.sql import functions as F

    if record_type not in ("resource", "conversion", "response", "metadata"):
        raise ValueError(f"unsupported WARC record type {record_type!r}")
    count = df.count()
    if count == 0:
        return []
    n = n_shards or max(1, math.ceil(count / records_per_shard))
    os.makedirs(path, exist_ok=True)
    cols = [F.col(uri_col).alias("uri"), F.col(body_col).alias("body")]
    cols.append(
        (F.col(content_type_col) if content_type_col else F.lit(None).cast("string"))
        .alias("ctype")
    )
    asg = df.select(*cols).withColumn(
        "__shard", F.pmod(F.xxhash64(F.col("uri")), F.lit(n))
    )

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import gzip as _gzip

        shard = int(pdf["__shard"].iloc[0])
        fname = os.path.join(path, f"shard-{shard:06d}.warc.gz")
        pdf = pdf.sort_values("uri")
        n_bytes = 0

        def member(wtype: str, payload: bytes, extra: list) -> bytes:
            rid = hashlib.sha1(
                (wtype + "\x00" + warc_date).encode() + payload[:256]
            ).hexdigest()
            hdrs = [
                ("WARC-Type", wtype),
                ("WARC-Record-ID", f"<urn:sha1:{rid}>"),
                ("WARC-Date", warc_date),
                *extra,
                ("Content-Length", str(len(payload))),
            ]
            head = b"WARC/1.0\r\n" + b"".join(
                f"{k}: {v}\r\n".encode() for k, v in hdrs
            ) + b"\r\n"
            return _gzip.compress(head + payload + b"\r\n\r\n", mtime=0)

        with open(fname, "wb") as f:
            info = (
                b"software: lantern_extras_spark write_warc_shards\r\n"
                b"format: WARC File Format 1.0\r\n"
            )
            blob = member(
                "warcinfo", info, [("Content-Type", "application/warc-fields")]
            )
            f.write(blob)
            n_bytes += len(blob)
            for _, row in pdf.iterrows():
                body = bytes(row["body"]) if row["body"] is not None else b""
                extra = [("WARC-Target-URI", row["uri"])]
                if row["ctype"]:
                    extra.append(("Content-Type", row["ctype"]))
                # record ids must differ per record: key them on the uri
                rid = hashlib.sha1(
                    (row["uri"] + "\x00" + warc_date).encode()
                ).hexdigest()
                hdrs = [
                    ("WARC-Type", record_type),
                    ("WARC-Record-ID", f"<urn:sha1:{rid}>"),
                    ("WARC-Date", warc_date),
                    *extra,
                    ("Content-Length", str(len(body))),
                ]
                head = b"WARC/1.0\r\n" + b"".join(
                    f"{k}: {v}\r\n".encode() for k, v in hdrs
                ) + b"\r\n"
                blob = _gzip.compress(head + body + b"\r\n\r\n", mtime=0)
                f.write(blob)
                n_bytes += len(blob)
        return pd.DataFrame(
            [{"shard": shard, "file": fname, "n_records": len(pdf), "n_bytes": n_bytes}]
        )

    manifest = asg.groupBy("__shard").applyInPandas(
        write_group, "shard long, file string, n_records long, n_bytes long"
    )
    return sorted(manifest.collect(), key=lambda r: r["shard"])


def write_warc(
    path: str,
    records: list[dict],
    gzip_per_record: bool = True,
) -> None:
    """Test helper: write a spec-shaped WARC file (mirrors `write_fvecs`).

    Each record dict: warc_type (required), payload (bytes, required), plus
    optional target_uri / record_id / warc_date / content_type. With
    `gzip_per_record` (the .warc.gz convention) every record becomes its own
    gzip member."""
    import gzip as _gzip

    out = io.BytesIO()
    for i, rec in enumerate(records):
        payload = rec["payload"]
        hdrs = [
            ("WARC-Type", rec["warc_type"]),
            ("WARC-Record-ID", rec.get("record_id", f"<urn:uuid:rec-{i}>")),
            ("WARC-Date", rec.get("warc_date", "2026-01-01T00:00:00Z")),
        ]
        if rec.get("target_uri"):
            hdrs.append(("WARC-Target-URI", rec["target_uri"]))
        if rec.get("content_type"):
            hdrs.append(("Content-Type", rec["content_type"]))
        hdrs.append(("Content-Length", str(len(payload))))
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode() for k, v in hdrs
        ) + b"\r\n"
        member = head + payload + b"\r\n\r\n"
        out.write(_gzip.compress(member) if gzip_per_record else member)
    with open(path, "wb") as f:
        f.write(out.getvalue())
