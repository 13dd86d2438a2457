"""WARC source: Common-Crawl-style crawl archives -> pages table.

The pipeline's canonical input is a lakehouse table with
(url, warc_ts, html, ...) columns (BASELINE input_hint; reference
analog: the executor's document-bytes entry point,
src/ocrtool/ocr_executor.py:92-106 — bytes in, parsed doc out). Real
crawls, however, arrive as WARC files (ISO 28500): this source turns
a directory of ``*.warc`` / ``*.warc.gz`` files into exactly that
pages shape, Spark-first:

- file scan via ``spark.read.format("binaryFile")`` (distributed,
  pushdown on path glob, no driver-side listing of contents),
- ONE ``mapInPandas`` over file contents doing the record framing in
  pure Python: WARC header block, Content-Length-delimited payload,
  member-wise gunzip for ``.warc.gz`` (Common Crawl compresses each
  record as its own gzip member precisely so readers can split
  without global decompression).

Scale notes (10^12 docs): parallelism is per FILE — a Common Crawl
monthly ships ~64k segment files of ~1 GB, far more splits than
executors, so per-file granularity saturates a 1000-executor cluster
without an offset index. Records stream through one pandas batch per
file; peak memory is one decompressed file per task (~5 GB worst
case — size executor memory or pre-split oversized files). Malformed
records are skipped, truncated tails dropped — a crawl source must
never fail the task on one bad record.
"""

from __future__ import annotations

import gzip
import hashlib
import zlib
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary"

_GZ_MAGIC = b"\x1f\x8b"


def gunzip_members(data: bytes) -> bytes:
    """Concatenated-member gzip decompress (zlib streaming; stdlib
    gzip.decompress handles multi-member too, but this variant stops
    cleanly at a truncated trailing member instead of raising)."""
    parts: list[bytes] = []
    while data:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        try:
            parts.append(d.decompress(data))
        except zlib.error:
            break  # corrupt member: keep what we have
        if not d.eof:
            break  # truncated final member
        data = d.unused_data
    return b"".join(parts)


def iter_warc_records(data: bytes):
    """Yield (headers: dict[lower->value], payload: bytes) per record.

    Framing per ISO 28500: ``WARC/1.x`` version line, CRLF header
    block, blank line, Content-Length payload bytes, CRLF CRLF.
    Tolerant: records are located by the version magic, so garbage
    between records (or a missing trailing CRLF pair) is skipped.
    """
    if data[:2] == _GZ_MAGIC:
        data = gunzip_members(data)
    pos = 0
    while True:
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        hdr_end = data.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            return
        headers: dict[str, str] = {}
        block = data[start:hdr_end].decode("utf-8", errors="replace")
        for line in block.split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            # unparseable length: resync on the next version magic
            pos = hdr_end + 4
            continue
        body_start = hdr_end + 4
        if body_start + clen > len(data):
            return  # truncated record
        yield headers, data[body_start:body_start + clen]
        pos = body_start + clen


def http_body(payload: bytes) -> bytes:
    """A response record's payload is an HTTP message; the page bytes
    follow the first blank line. Non-HTTP payloads pass through."""
    if payload[:5] == b"HTTP/":
        sep = payload.find(b"\r\n\r\n")
        if sep >= 0:
            return payload[sep + 4:]
    return payload


def parse_warc_date(v: str | None) -> datetime | None:
    """ISO 8601 Zulu (WARC-Date) -> naive UTC datetime (the session
    pins spark.sql.session.timeZone=UTC, so naive == UTC)."""
    if not v:
        return None
    try:
        dt = datetime.fromisoformat(v.replace("Z", "+00:00"))
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read WARC file(s) at ``path`` (glob ok) into the pages shape
    (url, warc_ts, html). Only ``WARC-Type: response`` records with a
    target URI become rows; warcinfo/request/metadata records and
    malformed entries are skipped."""
    return frame_warc_files(spark.read.format("binaryFile").load(path))


def frame_warc_files(files: DataFrame) -> DataFrame:
    """(content binary) file rows -> framed response records."""
    files = files.select("content")

    def gen(batches):
        for pdf in batches:
            urls: list[str] = []
            tss: list = []
            bodies: list[bytes] = []
            for content in pdf["content"]:
                for headers, payload in iter_warc_records(bytes(content)):
                    if headers.get("warc-type") != "response":
                        continue
                    url = headers.get("warc-target-uri")
                    if not url:
                        continue
                    urls.append(url)
                    tss.append(parse_warc_date(headers.get("warc-date")))
                    bodies.append(http_body(payload))
            yield pd.DataFrame(
                {"url": urls, "warc_ts": tss, "html": bodies},
                columns=["url", "warc_ts", "html"],
            )

    return files.mapInPandas(gen, PAGES_SCHEMA)


def warc_revisits(spark: SparkSession, path: str) -> DataFrame:
    """Read the DEDUP MAP of an archive written with revisit records:
    one row per ``WARC-Type: revisit``, ``(url, warc_ts, digest,
    ref_url, ref_ts)`` — this capture's payload is byte-identical to
    the (ref_url, ref_ts) response record. Compose with
    :func:`warc_pages` via :func:`resolve_revisits` to rebuild the
    full crawl, or feed (url, digest) straight to the incremental
    plan (plans/incremental.py) — a revisit IS a content-hash cache
    hit, no payload needed."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in ("url", "warc_ts", "digest", "ref_url", "ref_ts")}
            for content in pdf["content"]:
                for headers, _payload in iter_warc_records(bytes(content)):
                    if headers.get("warc-type") != "revisit":
                        continue
                    url = headers.get("warc-target-uri")
                    if not url:
                        continue
                    rows["url"].append(url)
                    rows["warc_ts"].append(parse_warc_date(headers.get("warc-date")))
                    rows["digest"].append(headers.get("warc-payload-digest"))
                    rows["ref_url"].append(headers.get("warc-refers-to-target-uri"))
                    rows["ref_ts"].append(
                        parse_warc_date(headers.get("warc-refers-to-date"))
                    )
            pdf_out = pd.DataFrame(rows, columns=list(rows))
            # empty batches otherwise materialize float64 columns,
            # which Arrow refuses to cast to timestamp
            pdf_out["warc_ts"] = pd.to_datetime(pdf_out["warc_ts"])
            pdf_out["ref_ts"] = pd.to_datetime(pdf_out["ref_ts"])
            yield pdf_out

    return files.mapInPandas(
        gen,
        "url string, warc_ts timestamp, digest string,"
        " ref_url string, ref_ts timestamp",
    )


def resolve_revisits(pages: DataFrame, revisits: DataFrame) -> DataFrame:
    """Rebuild the FULL crawl from a dedup'd archive: the response
    rows (unique payloads) plus every revisit row re-hydrated by an
    equi-join on its (ref_url, ref_ts) capture. One join keyed on the
    reference pair; payload bytes ship once per distinct payload plus
    once per revisit output row (unavoidable — that's the expansion
    being asked for)."""
    ref = revisits.select(
        F.col("url").alias("_u"),
        F.col("warc_ts").alias("_t"),
        "ref_url",
        "ref_ts",
    )
    hydrated = ref.join(
        pages.select(
            F.col("url").alias("ref_url"),
            F.col("warc_ts").alias("ref_ts"),
            "html",
        ),
        ["ref_url", "ref_ts"],
    ).select(F.col("_u").alias("url"), F.col("_t").alias("warc_ts"), "html")
    return pages.unionByName(hydrated)


# ------------------------------------------------------------- builder


def _record_id(url: str, ts: datetime) -> str:
    # deterministic (synth contract: no randomness anywhere)
    return hashlib.md5(f"{url}|{ts.isoformat()}".encode()).hexdigest()


#: WARC 1.1 §6.7.2 revisit profile: this capture's payload is
#: byte-identical to a prior capture, located by the Refers-To pair.
REVISIT_PROFILE = "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"


def payload_digest(body: bytes) -> str:
    """Common Crawl's payload digest convention: SHA-1, base32."""
    import base64

    return "sha1:" + base64.b32encode(hashlib.sha1(body).digest()).decode()


def _warc_date(ts: datetime) -> str:
    # WARC-Date keeps sub-second precision when present (WARC/1.1
    # fractional form; parse_warc_date's fromisoformat reads it
    # back) — truncating would break the write->read round-trip
    # for microsecond timestamps
    return ts.strftime("%Y-%m-%dT%H:%M:%S") + (
        f".{ts.microsecond:06d}" if ts.microsecond else ""
    ) + "Z"


def build_warc(
    records,
    gzip_members: bool = False,
    with_warcinfo: bool = True,
    dedup_within: bool = False,
    known_digests: dict | None = None,
) -> bytes:
    """Serialize (url, ts, body_bytes, content_type) tuples as a WARC
    byte stream — the deterministic twin of ``iter_warc_records`` for
    tests and local fixtures. ``gzip_members`` compresses each record
    as its own gzip member (the Common Crawl layout).

    Digest dedup (the web archive's storage dedup — WARC 1.1 §6.7
    ``revisit``, identical-payload-digest profile): with
    ``dedup_within``, a payload whose SHA-1 matches an earlier record
    in THIS stream is written as a revisit record — full WARC + HTTP
    headers, NO payload bytes — referring to the first capture via
    WARC-Refers-To-Target-URI/-Date. ``known_digests`` seeds the
    first-seen map from prior crawls (``{digest: (url, ts)}``, e.g.
    off the CDX tier) so unchanged pages re-crawled today cost zero
    archive bytes; the map is updated in place, so chaining calls
    accumulates. When either is active, response records also carry
    WARC-Payload-Digest (the dedup key must be in-band for readers);
    the default path stays byte-identical to the historical format.
    """
    chunks: list[bytes] = []
    dedup = dedup_within or known_digests is not None
    seen = known_digests if known_digests is not None else ({} if dedup_within else None)

    def emit(rec: bytes) -> None:
        chunks.append(gzip.compress(rec, mtime=0) if gzip_members else rec)

    if with_warcinfo:
        info_body = b"software: ocr_compare_spark synth\r\n"
        emit(
            (
                "WARC/1.0\r\n"
                "WARC-Type: warcinfo\r\n"
                "WARC-Date: 2025-01-01T00:00:00Z\r\n"
                "Content-Type: application/warc-fields\r\n"
                f"Content-Length: {len(info_body)}\r\n\r\n"
            ).encode()
            + info_body
            + b"\r\n\r\n"
        )
    for url, ts, body, ctype in records:
        wdate = _warc_date(ts)
        http_head = (
            b"HTTP/1.1 200 OK\r\nContent-Type: "
            + ctype.encode()
            + b"\r\nContent-Length: "
            + str(len(body)).encode()
            + b"\r\n\r\n"
        )
        if dedup:
            dg = payload_digest(body)
            ref = seen.get(dg)
            if ref is not None:
                ref_url, ref_ts = ref
                emit(
                    (
                        "WARC/1.0\r\n"
                        "WARC-Type: revisit\r\n"
                        f"WARC-Target-URI: {url}\r\n"
                        f"WARC-Date: {wdate}\r\n"
                        f"WARC-Record-ID: <urn:uuid:{_record_id(url, ts)}>\r\n"
                        f"WARC-Profile: {REVISIT_PROFILE}\r\n"
                        f"WARC-Payload-Digest: {dg}\r\n"
                        f"WARC-Refers-To-Target-URI: {ref_url}\r\n"
                        f"WARC-Refers-To-Date: {_warc_date(ref_ts)}\r\n"
                        "Content-Type: application/http; msgtype=response\r\n"
                        f"Content-Length: {len(http_head)}\r\n\r\n"
                    ).encode()
                    + http_head
                    + b"\r\n\r\n"
                )
                continue
            seen[dg] = (url, ts)
            digest_hdr = f"WARC-Payload-Digest: {dg}\r\n"
        else:
            digest_hdr = ""
        http = http_head + body
        emit(
            (
                "WARC/1.0\r\n"
                "WARC-Type: response\r\n"
                f"WARC-Target-URI: {url}\r\n"
                f"WARC-Date: {wdate}\r\n"
                f"WARC-Record-ID: <urn:uuid:{_record_id(url, ts)}>\r\n"
                + digest_hdr +
                "Content-Type: application/http; msgtype=response\r\n"
                f"Content-Length: {len(http)}\r\n\r\n"
            ).encode()
            + http
            + b"\r\n\r\n"
        )
    return b"".join(chunks)


# -------------------------------------------------------------- writer


def write_warc(
    pages: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    body_col: str = "html",
    num_files: int | None = None,
    gzip_members: bool = True,
    dedup: bool = False,
) -> DataFrame:
    """Distributed WARC sink: pages -> ``out_dir/part-<key>.warc[.gz]``,
    one archive per task, serialized with the same :func:`build_warc`
    framing :func:`iter_warc_records` parses (round-trip pinned in
    pytest) — the engine can re-emit crawls in the interchange format
    it ingests.

    Mechanics (the standard custom-format sink shape — Spark has no
    binary-file writer):

    - ``num_files`` repartitions by url hash and sorts within
      partitions by (url, ts), so the file SET is deterministic and
      rerun-identical for a given file count (gzip mtime pinned to 0
      by build_warc);
    - each task accumulates its partition and writes ONE archive —
      peak memory is one partition of payload bytes, the writer-side
      mirror of the reader's one-file-per-task note; size partitions
      accordingly;
    - files are named ``part-<partition_id>-<md5 of the first
      record's (url, ts)>`` — the partition id makes names unique
      even when duplicated (url, ts) rows lead two partitions, the
      content digest keeps them deterministic, no randomness — and
      written to a temp name then os.replace'd, so a retried/
      speculated task overwrites ATOMICALLY with identical bytes
      instead of corrupting a half-written archive;
    - existing ``part-*`` archives in ``out_dir`` are removed first
      (overwrite semantics, like a DataFrame writer): reruns with
      changed input would otherwise leave STALE archives behind that
      a later ``warc_pages(out_dir/part-*)`` would read alongside
      the fresh ones;
    - content type per record: ``application/pdf`` for %PDF magic,
      ``text/html`` otherwise (the mime-routing rule the extractors
      use);
    - ``dedup=True``: identical-payload storage dedup (WARC revisit
      records, :func:`build_warc`). Rows are repartitioned by
      payload SHA-1 instead of url so identical payloads co-locate
      and per-task dedup is GLOBAL: exactly one response record per
      distinct payload (its (url, ts)-first capture), every other
      capture a headers-only revisit pointing at it. Read the pages
      back with :func:`warc_pages` (revisits skipped) and the dedup
      map with :func:`warc_revisits`.

    Returns the collected manifest as a small DataFrame
    (path, n_records, n_bytes) — an action has already run (the
    write is the point), so the manifest is materialized.
    """
    import os

    spark = pages.sparkSession
    df = pages.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("warc_ts"),
        F.col(body_col).alias("html"),
    )
    if dedup:
        # co-locate identical payloads so per-task revisit dedup IS
        # global dedup (the deterministic (url, ts)-first capture of
        # each distinct payload keeps the bytes; every other capture
        # becomes a headers-only revisit record). One payload shuffle
        # — the price of the storage dedup, paid where the real
        # archive pays it (at index build).
        n = num_files or spark.sparkContext.defaultParallelism
        df = df.repartition(n, F.sha1(F.col("html"))).sortWithinPartitions(
            "url", "warc_ts"
        )
    elif num_files:
        df = df.repartition(num_files, "url").sortWithinPartitions("url", "warc_ts")
    df = df.withColumn("_pid", F.spark_partition_id())
    os.makedirs(out_dir, exist_ok=True)
    import glob as _glob

    for stale in _glob.glob(os.path.join(out_dir, "part-*")):
        os.remove(stale)
    suffix = ".warc.gz" if gzip_members else ".warc"
    gz = gzip_members
    dd = dedup

    def gen(batches):
        recs: list[tuple] = []
        pid = 0
        for pdf in batches:
            if len(pdf):
                pid = int(pdf["_pid"].iloc[0])
            for url, ts, body in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
                body = bytes(body) if body is not None else b""
                ctype = "application/pdf" if body[:4] == b"%PDF" else "text/html"
                recs.append((url, ts.to_pydatetime(), body, ctype))
        if not recs:
            return
        blob = build_warc(
            recs, gzip_members=gz, with_warcinfo=True, dedup_within=dd
        )
        name = f"part-{pid:05d}-{_record_id(recs[0][0], recs[0][1])}{suffix}"
        tmp = os.path.join(out_dir, f".tmp-{name}")
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, os.path.join(out_dir, name))
        yield pd.DataFrame(
            {"path": [os.path.join(out_dir, name)],
             "n_records": [len(recs)], "n_bytes": [len(blob)]}
        )

    manifest = df.mapInPandas(gen, "path string, n_records long, n_bytes long")
    rows = manifest.collect()
    return spark.createDataFrame(rows, "path string, n_records long, n_bytes long")
