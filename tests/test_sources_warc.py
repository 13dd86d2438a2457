"""WARC source (sources/warc.py): framing roundtrip + Spark read
matching the synth pages table byte-for-byte."""

from __future__ import annotations

import gzip
from datetime import datetime, timedelta

import pytest

from ocr_compare_spark import synth
from ocr_compare_spark.sources.warc import (
    build_warc,
    gunzip_members,
    http_body,
    iter_warc_records,
    parse_warc_date,
    warc_pages,
)

T0 = datetime(2025, 1, 1)


def _recs(n=5):
    return [
        (f"https://h{i}.example.com/p/{i}", T0 + timedelta(minutes=i),
         f"<p>body {i}</p>".encode(), "text/html")
        for i in range(n)
    ]


def _responses(data: bytes):
    return [
        (h, p) for h, p in iter_warc_records(data)
        if h.get("warc-type") == "response"
    ]


@pytest.mark.parametrize("gz", [False, True])
def test_warc_roundtrip(gz):
    recs = _recs()
    data = build_warc(recs, gzip_members=gz)
    got = _responses(data)
    assert len(got) == len(recs)
    for (url, ts, body, _), (h, payload) in zip(recs, got):
        assert h["warc-target-uri"] == url
        assert parse_warc_date(h["warc-date"]) == ts
        assert http_body(payload) == body
    # warcinfo record present and skipped by the response filter
    assert any(h.get("warc-type") == "warcinfo" for h, _ in iter_warc_records(data))


def test_warc_tolerates_garbage_and_truncation():
    recs = _recs(3)
    data = build_warc(recs, with_warcinfo=False)
    # garbage between records
    one = build_warc(recs[:1], with_warcinfo=False)
    littered = b"JUNK" + one + b"\x00\x00garbage" + build_warc(recs[1:], with_warcinfo=False)
    assert [h["warc-target-uri"] for h, _ in _responses(littered)] == [r[0] for r in recs]
    # truncated final record: the complete prefix still parses
    assert len(_responses(data[: len(data) - 40])) == 2
    # unparseable Content-Length resyncs on the next record
    bad = one.replace(b"Content-Length: ", b"Content-Length: x", 1) + build_warc(
        recs[1:2], with_warcinfo=False
    )
    assert [h["warc-target-uri"] for h, _ in _responses(bad)] == [recs[1][0]]
    # truncated gzip stream: never raises, complete members survive
    # (cutting only the trailer may still yield the final payload)
    gz = build_warc(recs, gzip_members=True, with_warcinfo=False)
    assert 1 <= len(_responses(gz[: len(gz) // 2])) < 3
    assert 2 <= len(_responses(gz[: len(gz) - 10])) <= 3


def test_gunzip_members_matches_stdlib():
    recs = _recs(4)
    gz = build_warc(recs, gzip_members=True)
    assert gunzip_members(gz) == gzip.decompress(gz) == build_warc(recs)


def test_warc_pages_matches_synth_pages(spark, sf_dir, tmp_path):
    """WARC files built from the synth corpus read back into exactly
    the pages_from_documents rows (same url -> same bytes), and the
    extraction downstream is byte-identical."""
    import duckdb

    from ocr_compare_spark.operators.extract import run_engines_fused

    rows = duckdb.sql(
        f"select doc_id, text from '{sf_dir}/documents.parquet' order by doc_id limit 100"
    ).fetchall()
    recs = []
    for doc_id, text in rows:
        payload = synth.build_pdf(doc_id, text) if synth.is_pdf_doc(doc_id) else synth.build_html(doc_id, text)
        ts = datetime.utcfromtimestamp(synth.EPOCH_2025 + (doc_id % synth.TS_SPAN_MIN) * 60)
        ctype = "application/pdf" if synth.is_pdf_doc(doc_id) else "text/html"
        recs.append((synth.url_of(doc_id), ts, payload, ctype))
    # two files, one plain + one per-member-gzipped (Common Crawl layout)
    (tmp_path / "a.warc").write_bytes(build_warc(recs[:50]))
    (tmp_path / "b.warc.gz").write_bytes(build_warc(recs[50:], gzip_members=True))

    pages = warc_pages(spark, str(tmp_path) + "/*.warc*")
    got = {r["url"]: r for r in pages.collect()}
    assert len(got) == len(recs)
    for url, ts, payload, _ in recs:
        assert bytes(got[url]["html"]) == payload
        assert got[url]["warc_ts"] == ts

    # downstream byte-identity on a handful of docs
    res = run_engines_fused(pages.withColumn("lang", pages.url.substr(0, 0))).collect()
    texts = {d: t for d, t in rows}
    import re

    checked = 0
    for r in res[:60]:
        doc_id = int(re.findall(r"\d+", r["url"])[-1])
        exp = {
            "dom": synth.expected_dom_text,
            "density": synth.expected_density_text,
            "pdf": synth.expected_pdf_text,
        }[r["engine"]](texts[doc_id], doc_id)
        assert r["doc_text"] == exp
        checked += 1
    assert checked


def test_write_warc_roundtrip_and_determinism(spark, sf_dir, tmp_path):
    """Distributed WARC sink: synth pages -> archives -> warc_pages
    reads back the identical (url, ts, html) set; reruns produce
    byte-identical file sets; manifest counts match."""
    import glob
    import hashlib as _hl

    from ocr_compare_spark import synth
    from ocr_compare_spark.sources.warc import warc_pages, write_warc

    pages = synth.pages_from_documents(spark, sf_dir).select("url", "warc_ts", "html")
    out1 = str(tmp_path / "w1")
    m = write_warc(pages, out1, num_files=4).collect()
    assert sum(r.n_records for r in m) == pages.count()
    files = sorted(glob.glob(f"{out1}/part-*.warc.gz"))
    assert len(files) == len(m) <= 4

    back = warc_pages(spark, f"{out1}/part-*.warc.gz")
    want = {(r.url, r.warc_ts, bytes(r.html)) for r in pages.collect()}
    got = {(r.url, r.warc_ts, bytes(r.html)) for r in back.collect()}
    assert got == want

    # rerun: identical file names AND bytes (gzip mtime pinned,
    # content-derived names, sorted partitions)
    out2 = str(tmp_path / "w2")
    write_warc(pages, out2, num_files=4).collect()
    def digest(d):
        return {
            p.split("/")[-1]: _hl.md5(open(p, "rb").read()).hexdigest()
            for p in glob.glob(f"{d}/part-*")
        }
    assert digest(out1) == digest(out2)

    # pdf payloads carry the pdf content type in the http envelope
    from ocr_compare_spark.sources.warc import iter_warc_records
    ctypes = set()
    for p in files:
        for headers, payload in iter_warc_records(open(p, "rb").read()):
            if headers.get("warc-type") == "response":
                head = payload.split(b"\r\n\r\n", 1)[0].decode()
                ctypes.add("pdf" if "application/pdf" in head else "html")
    assert ctypes == {"pdf", "html"}


# ------------------------------------------------------- revisit dedup


def _dup_recs():
    """Five captures, three distinct payloads: p0 appears at three
    (url, ts) captures, p1 twice."""
    p0, p1, p2 = b"<p>alpha</p>", b"%PDF-1.4 beta", b"<p>gamma</p>"
    return [
        ("https://a.com/x", T0, p0, "text/html"),
        ("https://a.com/y", T0 + timedelta(minutes=1), p1, "application/pdf"),
        ("https://b.com/x-copy", T0 + timedelta(minutes=2), p0, "text/html"),
        ("https://b.com/y-copy", T0 + timedelta(minutes=3), p1, "application/pdf"),
        ("https://c.com/x-copy2", T0 + timedelta(minutes=4), p0, "text/html"),
    ]


def test_build_warc_revisit_dedup_within():
    from ocr_compare_spark.sources.warc import REVISIT_PROFILE, payload_digest

    data = build_warc(_dup_recs(), dedup_within=True)
    resp = _responses(data)
    revs = [(h, p) for h, p in iter_warc_records(data)
            if h.get("warc-type") == "revisit"]
    # one response per distinct payload, first capture keeps the bytes
    assert [h["warc-target-uri"] for h, _ in resp] == [
        "https://a.com/x", "https://a.com/y"]
    assert [h["warc-target-uri"] for h, _ in revs] == [
        "https://b.com/x-copy", "https://b.com/y-copy", "https://c.com/x-copy2"]
    # revisit refs point at the first capture; digests carried in-band
    for h, payload in revs:
        assert h["warc-profile"] == REVISIT_PROFILE
        assert h["warc-refers-to-target-uri"] in ("https://a.com/x", "https://a.com/y")
        assert h["warc-payload-digest"].startswith("sha1:")
        assert http_body(payload) == b""  # headers only, no payload bytes
    # response records carry the matching digest
    for h, payload in resp:
        assert h["warc-payload-digest"] == payload_digest(http_body(payload))
    # known_digests seeding: a "prior crawl" map turns everything into revisits
    known = {payload_digest(b): (u, t) for u, t, b, _ in _dup_recs()[:2]}
    known[payload_digest(b"<p>gamma</p>")] = ("https://prior.example/g", T0)
    data2 = build_warc(_dup_recs(), known_digests=known)
    assert len(_responses(data2)) == 0
    assert len([1 for h, _ in iter_warc_records(data2)
                if h.get("warc-type") == "revisit"]) == 5
    # default path unchanged: byte-identical to the historical format
    assert build_warc(_dup_recs()) == build_warc(_dup_recs(), dedup_within=False)


def test_write_warc_dedup_global_roundtrip(spark, tmp_path):
    """dedup=True across MULTIPLE archives: payload-hash partitioning
    makes per-task dedup global — exactly one response per distinct
    payload in the whole output, and resolve_revisits rebuilds the
    full crawl byte-for-byte."""
    from ocr_compare_spark.sources.warc import (
        resolve_revisits, warc_revisits, write_warc,
    )

    rows = [(u, t, b) for u, t, b, _ in _dup_recs()]
    # add bulk so both output files are non-empty
    rows += [(f"https://bulk.example/{i}", T0 + timedelta(hours=i),
              f"<p>bulk {i}</p>".encode()) for i in range(20)]
    pages = spark.createDataFrame(rows, ["url", "warc_ts", "html"])
    out = str(tmp_path / "warcs")
    manifest = write_warc(pages, out, num_files=3, dedup=True)
    assert manifest.count() >= 2  # really distributed over several archives

    got_pages = warc_pages(spark, f"{out}/part-*")
    revs = warc_revisits(spark, f"{out}/part-*")
    # global dedup: 23 distinct payloads, 2 revisits... (3 dup captures)
    assert got_pages.count() == 22
    assert revs.count() == 3
    assert got_pages.select("html").distinct().count() == 22
    # rebuild the full crawl: every original (url, ts, bytes) row back
    full = resolve_revisits(got_pages, revs)
    a = sorted((r.url, r.warc_ts, bytes(r.html)) for r in full.collect())
    b = sorted((u, t, bytes(x)) for u, t, x in rows)
    assert a == b
    # determinism: a rerun produces identical archive bytes
    import glob as g
    first = {p: open(p, "rb").read() for p in g.glob(f"{out}/part-*")}
    write_warc(pages, out, num_files=3, dedup=True)
    second = {p: open(p, "rb").read() for p in g.glob(f"{out}/part-*")}
    assert first == second
