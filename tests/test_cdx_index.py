"""CDX index GENERATION: WARC -> entries with real offsets ->
globally sorted CDXJ shards + cluster.idx routing (sources/cdx.py
write side)."""

from __future__ import annotations

import gzip
import hashlib
import os
from datetime import datetime

from ocr_compare_spark.sources.cdx import (
    ENTRIES_SCHEMA,
    build_cdxj,
    cdx_entries,
    cdx_lines,
    index_warc,
    iter_warc_spans,
    route_cdx_key,
    write_cdx_index,
)
from ocr_compare_spark.sources.warc import build_warc, http_body, iter_warc_records

T1 = datetime(2025, 3, 1, 10, 30, 0)
T2 = datetime(2025, 6, 15, 4, 5, 6)

# (urlkey is derived, so entries carry the raw fields; length/offset
# typed per ENTRIES_SCHEMA, stringified on serialization)
ENTRY_ROWS = [
    ("com,example)/about?a=1&b=2", T1, "https://www.example.com/About?b=2&a=1",
     "text/html", 200, "aaaa1111", 1200, 0, "seg1.warc.gz", "eng"),
    ("com,example,sub)/page", T1, "https://sub.example.com/page",
     "text/html", 200, "bbbb2222", 900, 1200, "seg1.warc.gz", None),
    ("org,other)/doc.pdf", T2, "https://other.org/doc.pdf",
     "application/pdf", 200, "cccc3333", 5000, 2100, "seg1.warc.gz", None),
]


def _entries_df(spark, rows=ENTRY_ROWS):
    return spark.createDataFrame(rows, ENTRIES_SCHEMA)


def test_cdx_lines_byte_parity_with_build_cdxj(spark):
    """The JVM to_json line builder and the python twin serialize the
    same records byte-identically (compact separators, alphabetical
    keys, nulls dropped)."""
    got = sorted(r["value"] for r in cdx_lines(_entries_df(spark)).collect())
    py_records = []
    for (urlkey, ts, url, mime, status, digest, length, offset, fname,
         langs) in ENTRY_ROWS:
        fields = {"mime": mime, "status": str(status), "digest": digest,
                  "length": str(length), "offset": str(offset),
                  "filename": fname}
        if langs is not None:
            fields["languages"] = langs
        py_records.append((url, ts, fields))
    # build_cdxj recomputes the urlkey from the url — same keys
    exp = sorted(build_cdxj(py_records).decode().rstrip("\n").split("\n"))
    assert got == exp


def _corpus_entries(spark, n=60):
    """n entries across hosts/paths/timestamps, deliberately out of
    order, with a duplicated urlkey at two timestamps."""
    rows = []
    for i in range(n):
        host = f"h{i % 7}.example{i % 3}.com"
        url = f"https://{host}/p/{(i * 37) % n}"
        ts = datetime(2025, 1 + i % 12, 1 + i % 28, i % 24, 0, 0)
        rows.append((None, ts, url, "text/html", 200,
                     f"d{i:04d}", 100 + i, i * 10, "s.warc.gz", None))
    # same url at two timestamps -> same urlkey, ts breaks the tie
    rows.append((None, T1, "https://h0.example0.com/p/0", "text/html", 200,
                 "dup1", 50, 999, "s.warc.gz", None))
    df = spark.createDataFrame(rows, ENTRIES_SCHEMA)
    from ocr_compare_spark.functions.url import surt_key

    return df.withColumn("urlkey", surt_key("url"))


def test_write_cdx_index_globally_sorted_and_routable(spark, tmp_path):
    out = str(tmp_path / "idx")
    entries = _corpus_entries(spark)
    idx = write_cdx_index(entries, out, num_shards=4)
    # cluster.idx lines: "<first-urlkey> <first-ts14>\t<shard-file>"
    on_disk = []
    with open(os.path.join(out, "cluster.idx"), encoding="utf-8") as f:
        for line in f:
            head, _, name = line.rstrip("\n").partition("\t")
            key, _, ts14 = head.partition(" ")
            on_disk.append((key, ts14, name))
    assert idx == on_disk
    assert 1 < len(idx) <= 4  # non-degenerate sharding

    # concatenating shards in cluster.idx order IS the sorted index
    all_lines = []
    per_shard: dict[str, list[str]] = {}
    for _, _, name in idx:
        opener = gzip.open if name.endswith(".gz") else open
        with opener(os.path.join(out, name), "rb") as f:
            lines = f.read().decode().rstrip("\n").split("\n")
        per_shard[name] = lines
        all_lines.extend(lines)
    keyed = [(ln.split(" ", 2)[0], ln.split(" ", 2)[1]) for ln in all_lines]
    assert keyed == sorted(keyed)
    assert len(all_lines) == entries.count()

    # cluster.idx routes every key to a shard that contains it
    for key, ts14 in keyed:
        shard = route_cdx_key(idx, key)
        assert any(
            ln.startswith(f"{key} ") for ln in per_shard[shard]
        ), f"{key} routed to {shard} which lacks it"
    # a key before the first shard's first key routes to shard 0
    assert route_cdx_key(idx, "") == idx[0][2]

    # read-back round-trip: the reader yields the same entries
    back = cdx_entries(spark, os.path.join(out, "part-*"))
    a = sorted(map(tuple, back.collect()))
    b = sorted(map(tuple, entries.select(*back.columns).collect()))
    assert a == b


BODIES = [
    ("https://a.example.com/x", T1, b"<html><body><p>alpha beta</p></body></html>"),
    ("https://b.example.com/y", T1, b"%PDF-1.4 fake pdf bytes"),
    ("https://a.example.com/z", T2, b"<html><p>gamma</p></html>"),
]


def _write_archives(tmp_path):
    recs = [(u, t, b, "application/pdf" if b[:4] == b"%PDF" else "text/html")
            for u, t, b in BODIES]
    (tmp_path / "arc-plain.warc").write_bytes(build_warc(recs, gzip_members=False))
    (tmp_path / "arc-gz.warc.gz").write_bytes(build_warc(recs, gzip_members=True))


def test_iter_warc_spans_random_access(tmp_path):
    """(offset, length) spans support true random access: seek+read+frame
    re-yields the record without the rest of the file — both layouts."""
    _write_archives(tmp_path)
    for name in ("arc-plain.warc", "arc-gz.warc.gz"):
        data = (tmp_path / name).read_bytes()
        spans = list(iter_warc_spans(data))
        assert len(spans) == 4  # warcinfo + 3 responses
        by_url = {u: b for u, _, b in BODIES}
        seen = 0
        for off, length, _ in spans:
            chunk = data[off:off + length]
            if name.endswith(".gz"):
                chunk = gzip.decompress(chunk)
            for headers, payload in iter_warc_records(chunk):
                if headers.get("warc-type") != "response":
                    continue
                url = headers["warc-target-uri"]
                assert http_body(payload) == by_url[url]
                seen += 1
        assert seen == 3


def test_index_warc_entries_and_roundtrip(spark, tmp_path):
    _write_archives(tmp_path)
    entries = index_warc(spark, str(tmp_path / "arc-*"))
    rows = entries.collect()
    # 3 responses per archive x 2 layouts; warcinfo not indexed
    assert len(rows) == 6
    by_url = {u: b for u, t, b in BODIES}
    for r in rows:
        body = by_url[r["url"]]
        assert r["digest"] == hashlib.sha1(body).hexdigest()
        assert r["status"] == 200
        exp_mime = "application/pdf" if body[:4] == b"%PDF" else "text/html"
        assert r["mime"] == exp_mime
        assert r["filename"] in ("arc-plain.warc", "arc-gz.warc.gz")
        # the locator is REAL: fetch the span and re-extract the body
        data = (tmp_path / r["filename"]).read_bytes()
        chunk = data[r["offset"]:r["offset"] + r["length"]]
        if r["filename"].endswith(".gz"):
            chunk = gzip.decompress(chunk)
        got = [http_body(p) for h, p in iter_warc_records(chunk)
               if h.get("warc-type") == "response"]
        assert got == [body]

    # full tier loop: archives -> index -> sorted shards -> reader
    out = str(tmp_path / "cdx")
    idx = write_cdx_index(entries, out, num_shards=2)
    back = cdx_entries(spark, os.path.join(out, "part-*"))
    a = sorted(map(tuple, back.collect()))
    b = sorted(map(tuple, entries.select(*back.columns).collect()))
    assert a == b
    # and the routing file finds a real page's shard
    key = a[0][0]
    assert route_cdx_key(idx, key) is not None
