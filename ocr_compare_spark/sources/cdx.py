"""CDX(J) source: Common Crawl's per-capture URL index tier.

The fourth Common Crawl artifact tier (with WARC = raw responses,
WAT = metadata JSON, WET = extracted text): ``cdx-*.gz`` shards of
the per-crawl URL index, one text line per capture::

    <urlkey> <14-digit timestamp> {"url": ..., "mime": ..., ...}

where ``urlkey`` is the SURT sort key (functions/url.surt_key), the
timestamp is ``yyyyMMddHHmmss``, and the JSON carries the capture
record: original url, mime, HTTP status, SHA-1 payload ``digest``,
and the (``filename``, ``offset``, ``length``) triple locating the
record inside its WARC file. Numeric fields are JSON *strings* in
the real index; this reader casts them.

Why a pipeline wants the index BEFORE touching any WARC byte:

- crawl-delta planning: join this crawl's digests against the cache
  to find which payloads actually changed (plans/incremental.py) —
  unchanged pages are skipped without downloading their WARC range;
- snapshot selection: ``dedup.latest_snapshot`` over (urlkey, ts)
  picks the newest capture per page across stacked crawls;
- corpus scoping: status/mime/language filters prune the fetch list
  to e.g. ``status=200 AND mime='text/html'``.

Spark-first: the tier is LINE-ORIENTED text, so — unlike the
WARC reader, which needs a Python framing pass — this one is
100% JVM-side: ``spark.read.text`` (splittable for plain shards,
per-file for ``.gz``) + one regexp split + ``from_json`` with a
partial schema. Zero Python anywhere; malformed lines are dropped
(an index line without a parseable key locates nothing).
"""

from __future__ import annotations

import gzip as _gzip
import hashlib
import json
import os
import re
import zlib

from pyspark.sql import DataFrame, SparkSession, functions as F

#: Partial schema of the CDXJ JSON — only the fields the pipeline
#: reads (Spark's JSON parser prunes the rest). All strings in the
#: real index; casts happen in _parse_lines.
CDX_JSON_SCHEMA = (
    "STRUCT<url: STRING, mime: STRING, `mime-detected`: STRING, status: STRING,"
    " digest: STRING, length: STRING, offset: STRING, filename: STRING,"
    " languages: STRING, charset: STRING>"
)

def _parse_lines(lines: DataFrame) -> DataFrame:
    # ONE pass per line: a 3-way space split (the urlkey and the
    # 14-digit timestamp cannot contain spaces; the JSON remainder
    # keeps its spaces under the split limit) — a 3-group regexp
    # would re-run the anchored scan once per extracted group
    parts = F.split(F.col("value"), " ", 3)
    # F.get is null-on-missing (element_at would raise under ANSI on
    # a line with fewer than two spaces)
    framed = lines.select(
        F.get(parts, 0).alias("urlkey"),
        F.get(parts, 1).alias("_ts"),
        F.get(parts, 2).alias("_json"),
        F.size(parts).alias("_n"),
    ).filter(
        # a line that doesn't frame (no key / bad timestamp / no JSON
        # object) locates nothing — dropped, unlike the WARC-tier
        # readers where a kept row still carries the page identity
        (F.col("_n") == 3)
        & (F.col("urlkey") != "")
        & F.col("_ts").rlike(r"^\d{14}$")
        & F.col("_json").startswith("{")
    )
    j = F.from_json(F.col("_json"), CDX_JSON_SCHEMA)
    return framed.select(
        "urlkey",
        F.to_timestamp(F.col("_ts"), "yyyyMMddHHmmss").alias("ts"),
        j["url"].alias("url"),
        F.coalesce(j["mime-detected"], j["mime"]).alias("mime"),
        j["status"].cast("int").alias("status"),
        j["digest"].alias("digest"),
        j["length"].cast("long").alias("length"),
        j["offset"].cast("long").alias("offset"),
        j["filename"].alias("filename"),
        j["languages"].alias("languages"),
    ).filter(F.col("url").isNotNull())


def cdx_entries(spark: SparkSession, path: str) -> DataFrame:
    """Read CDXJ shard(s) at ``path`` (glob ok, ``.gz`` transparent)
    into one row per capture:
    ``(urlkey, ts, url, mime, status, digest, length, offset,
    filename, languages)``."""
    return _parse_lines(spark.read.text(path))


# ---------------------------------------------------------------------------
# Deterministic test twin

# compiled from the canonical list so the mirror cannot drift from
# the Spark expression (functions/url.py owns the pattern)
from ocr_compare_spark.functions.url import TRACKING_PARAM_PATTERN

_TRACKING_RE = re.compile(TRACKING_PARAM_PATTERN)


def surt_key_py(url: str) -> str:
    """Pure-Python mirror of functions/url.surt_key (same contract,
    documented there) — used by build_cdxj and pinned equal to the
    Spark expression in tests/test_sources_cdx.py."""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://(.*)$", url, re.S)
    if not m:
        return url
    scheme = m.group(1).lower()
    rest = m.group(2)
    am = re.match(r"^([^/?#]*)(.*)$", rest, re.S)
    authority, tail = am.group(1), am.group(2)
    tail = tail.split("#", 1)[0]
    host = authority.split("@", 1)[1] if "@" in authority else authority
    port = ""
    if host.startswith("["):
        hm = re.match(r"^(\[[^\]]*\])(?::(\d+))?$", host)
        if hm:
            host, port = hm.group(1), hm.group(2) or ""
    elif ":" in host:
        h, p = host.rsplit(":", 1)
        if p.isdigit():
            host, port = h, p
    host = host.lower()
    if (scheme, port) in (("http", "80"), ("https", "443")):
        port = ""
    path, _, query = tail.partition("?")
    if path == "":
        path = "/"
    query_part = ""
    if query:
        kept = sorted(p for p in query.split("&") if p and not _TRACKING_RE.match(p))
        if kept:
            query_part = "?" + "&".join(kept)
    h2 = re.sub(r"^www\d*\.(?=[^.]+\.)", "", host)
    if re.match(r"^\d+\.\d+\.\d+\.\d+$", h2) or h2.startswith("["):
        rev = h2
    else:
        rev = ",".join(reversed(h2.split(".")))
    return rev + (":" + port if port else "") + ")" + (path + query_part).lower()


def build_cdxj(records, gzip_file: bool = False) -> bytes:
    """Serialize (url, ts, fields-dict) tuples as a CDXJ shard — the
    deterministic twin of ``cdx_entries``. ``fields`` are the JSON
    extras (mime/status/digest/length/offset/filename/languages, as
    strings like the real index); the urlkey is computed with
    surt_key_py.

    Byte layout is pinned to the DISTRIBUTED writer
    (:func:`write_cdx_index`): compact separators, alphabetical key
    order, non-ASCII unescaped — json.dumps configured to Jackson's
    (Spark ``to_json``) conventions, so the same records serialize
    byte-identically through either path
    (tests/test_cdx_index.py pins it)."""
    lines = []
    for url, ts, fields in records:
        payload = {"url": url, **fields}
        lines.append(
            f"{surt_key_py(url)} {ts.strftime('%Y%m%d%H%M%S')} "
            + json.dumps(
                payload, sort_keys=True, separators=(",", ":"), ensure_ascii=False
            )
            + "\n"
        )
    data = "".join(lines).encode("utf-8")
    return _gzip.compress(data, mtime=0) if gzip_file else data


# ---------------------------------------------------------------------------
# Index GENERATION: WARC archives -> CDXJ shards (the write side)

#: Alphabetical JSON field order (== json.dumps(sort_keys=True), the
#: build_cdxj parity contract). All values are STRINGS, like the real
#: index; to_json drops null fields, json.dumps omits absent keys —
#: same effect.
_CDX_JSON_FIELDS = (
    "digest", "filename", "languages", "length", "mime", "offset", "status", "url",
)

ENTRIES_SCHEMA = (
    "urlkey string, ts timestamp, url string, mime string, status int,"
    " digest string, length long, offset long, filename string, languages string"
)


def _http_meta(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) of an HTTP response payload.
    Non-HTTP payloads: (None, None, payload)."""
    if payload[:5] != b"HTTP/":
        return None, None, payload
    sep = payload.find(b"\r\n\r\n")
    head = payload[: sep if sep >= 0 else len(payload)]
    body = payload[sep + 4:] if sep >= 0 else b""
    lines = head.decode("utf-8", errors="replace").split("\r\n")
    status: int | None = None
    m = re.match(r"^HTTP/\d(?:\.\d)?\s+(\d{3})", lines[0])
    if m:
        status = int(m.group(1))
    ctype: str | None = None
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip().split(";")[0].strip() or None
            break
    return status, ctype, body


def iter_warc_spans(data: bytes):
    """Yield (offset, length, record_bytes) per WARC record of one
    archive file, where [offset, offset+length) is the byte range in
    the file AS STORED that a random-access reader fetches to get the
    record back:

    - member-gzipped archives (Common Crawl layout, one record per
      gzip member): the compressed member's span; record_bytes is the
      decompressed member;
    - plain archives: the record's own span (headers + payload +
      trailing CRLF pair when present).

    This is the offset source for CDX generation — the (filename,
    offset, length) triple in the real index is exactly this span, so
    ``open(f).seek(offset); read(length)`` + gunzip re-yields the
    record without touching the rest of the archive.
    """
    from ocr_compare_spark.sources.warc import _GZ_MAGIC

    if data[:2] == _GZ_MAGIC:
        pos = 0
        while data[pos:pos + 2] == _GZ_MAGIC:
            d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
            try:
                out = d.decompress(data[pos:])
            except zlib.error:
                break  # corrupt member: stop at the last good span
            if not d.eof:
                break  # truncated final member
            consumed = len(data) - pos - len(d.unused_data)
            yield pos, consumed, out
            pos += consumed
        return
    # plain archive: frame on the version magic, spans include the
    # record separator so the slice re-frames standalone
    pos = 0
    while True:
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        hdr_end = data.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            return
        block = data[start:hdr_end].decode("utf-8", errors="replace")
        clen = None
        for line in block.split("\r\n")[1:]:
            k, _, v = line.partition(":")
            if k.strip().lower() == "content-length":
                try:
                    clen = int(v.strip())
                except ValueError:
                    pass
                break
        if clen is None:
            pos = hdr_end + 4
            continue
        body_end = hdr_end + 4 + clen
        if body_end > len(data):
            return  # truncated record
        end = body_end + 4 if data[body_end:body_end + 4] == b"\r\n\r\n" else body_end
        yield start, end - start, data[start:end]
        pos = body_end


def index_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC file(s) at ``path`` -> CDX entries with REAL
    (filename, offset, length) locators — the index-generation step
    that turns a crawl's archives into its URL index tier.

    Output schema == :func:`cdx_entries` (the reader), so
    ``cdx_entries(write_cdx_index(index_warc(...)))`` round-trips.
    Per real-index convention only ``WARC-Type: response`` records
    with a target URI are indexed; ``digest`` is the SHA-1 of the
    HTTP body as lowercase hex (the real index uses base32 of the
    same hash — a namespace choice; reader and writer here agree);
    ``mime`` prefers the HTTP Content-Type, falling back to payload
    magic (%PDF -> application/pdf, else text/html).

    Scale shape mirrors :func:`ocr_compare_spark.sources.warc.warc_pages`:
    distributed ``binaryFile`` scan, one Python framing pass per
    file, parallelism per file (a CC monthly has ~64k files — more
    splits than executors). The html bytes never leave the task;
    only the slim entry rows do.
    """
    import pandas as pd

    from ocr_compare_spark.sources.warc import parse_warc_date

    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def gen(batches):
        from ocr_compare_spark.sources.warc import iter_warc_records

        for pdf in batches:
            rows: list[tuple] = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                fname = os.path.basename(str(fpath))
                for off, length, rec in iter_warc_spans(bytes(content)):
                    # a span holds exactly one record in both layouts;
                    # re-frame it standalone (tolerates either form)
                    for headers, payload in iter_warc_records(rec):
                        if headers.get("warc-type") != "response":
                            continue
                        url = headers.get("warc-target-uri")
                        if not url:
                            continue
                        status, ctype, body = _http_meta(payload)
                        if ctype is None:
                            ctype = (
                                "application/pdf"
                                if body[:4] == b"%PDF"
                                else "text/html"
                            )
                        rows.append((
                            surt_key_py(url),
                            parse_warc_date(headers.get("warc-date")),
                            url,
                            ctype,
                            status,
                            hashlib.sha1(body).hexdigest(),
                            length,
                            off,
                            fname,
                            None,
                        ))
            yield pd.DataFrame(
                rows,
                columns=[
                    "urlkey", "ts", "url", "mime", "status", "digest",
                    "length", "offset", "filename", "languages",
                ],
            )

    return files.mapInPandas(gen, ENTRIES_SCHEMA)


def cdx_lines(entries: DataFrame) -> DataFrame:
    """Entries (schema of :func:`cdx_entries` / :func:`index_warc`)
    -> one-column ``value`` DataFrame of CDXJ text lines, all JVM
    expressions: numeric fields cast to string (the real index's
    convention), JSON via ``to_json`` over an alphabetically-ordered
    struct (null fields dropped) — byte-identical to
    :func:`build_cdxj` on the same records."""
    cols = {
        "digest": F.col("digest"),
        "filename": F.col("filename"),
        "languages": F.col("languages"),
        "length": F.col("length").cast("string"),
        "mime": F.col("mime"),
        "offset": F.col("offset").cast("string"),
        "status": F.col("status").cast("string"),
        "url": F.col("url"),
    }
    j = F.to_json(F.struct(*[cols[k].alias(k) for k in _CDX_JSON_FIELDS]))
    return entries.select(
        F.col("urlkey"),
        F.col("ts"),
        F.concat_ws(
            " ", F.col("urlkey"), F.date_format("ts", "yyyyMMddHHmmss"), j
        ).alias("value"),
    )


def write_cdx_index(
    entries: DataFrame,
    out_dir: str,
    num_shards: int = 1,
    gzip_shards: bool = True,
) -> list[tuple[str, str, str]]:
    """Write entries as a GLOBALLY SORTED CDXJ index: ``num_shards``
    text shards in (urlkey, ts) order plus a ``cluster.idx`` routing
    file — the ZipNum layout that makes the real index binary-
    searchable without reading it.

    Distributed shape (the canonical Spark global-sort):
    ``repartitionByRange(num_shards, urlkey, ts)`` samples range
    boundaries, ONE shuffle places every entry in its range,
    ``sortWithinPartitions`` orders each shard — shard *i*'s keys all
    precede shard *i+1*'s, so concatenating shards in filename order
    IS the sorted index. The text sink is JVM-native (no Python on
    the write path); gzip shards trade splittability for size like
    the real ``cdx-*.gz`` (the sort already happened — shard files
    are the unit of downstream access anyway).

    ``cluster.idx``: one ``<first-urlkey> <first-ts>\\t<shard-file>``
    line per non-empty shard, in shard order (driver reads ONE line
    per shard — O(num_shards), bounded by the caller). Route a lookup
    with :func:`route_cdx_key`. Returns the idx triples.

    Shard-count guidance at scale: one shard per ~1 GB of index text
    (the real index's granularity); range boundaries come from
    Spark's reservoir sampling, so heavily duplicated urlkeys land
    contiguously but a single pathological key spanning shards still
    routes correctly (route_cdx_key returns the FIRST candidate
    shard; scan forward while the key persists).
    """
    lines = cdx_lines(entries)
    sharded = lines.repartitionByRange(
        num_shards, F.col("urlkey"), F.col("ts")
    ).sortWithinPartitions("urlkey", "ts").select("value")
    w = sharded.write.mode("overwrite")
    if gzip_shards:
        w = w.option("compression", "gzip")
    w.text(out_dir)

    idx: list[tuple[str, str, str]] = []
    for name in sorted(os.listdir(out_dir)):
        if not name.startswith("part-"):
            continue
        full = os.path.join(out_dir, name)
        opener = _gzip.open if name.endswith(".gz") else open
        with opener(full, "rb") as f:
            first = f.readline().decode("utf-8").rstrip("\n")
        if not first:
            continue  # empty range partition -> empty shard, routes nothing
        key, ts14 = first.split(" ", 2)[:2]
        idx.append((key, ts14, name))
    with open(os.path.join(out_dir, "cluster.idx"), "w", encoding="utf-8") as f:
        for key, ts14, name in idx:
            f.write(f"{key} {ts14}\t{name}\n")
    return idx


def route_cdx_key(idx: list[tuple[str, str, str]], urlkey: str) -> str | None:
    """Binary-search the cluster.idx triples for the shard whose range
    holds ``urlkey`` — the last shard whose first key is <= urlkey
    (the first shard when urlkey precedes everything; None only for
    an empty index). This is the lookup a fetch planner runs per key
    BEFORE opening any shard."""
    if not idx:
        return None
    import bisect

    keys = [k for k, _, _ in idx]
    i = bisect.bisect_right(keys, urlkey) - 1
    return idx[max(i, 0)][2]
