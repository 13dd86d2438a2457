"""The workloads: set-up, one timed iteration, and its output check.

``setup`` generates the seeded inputs and materializes them as
parquet tables that the timed iterations read back, so payload
building is never timed. ``run`` is one timed iteration: it calls the
library's public functions, one traced layer per call, and writes
every output as a staged parquet table. ``check`` reads those tables with pyarrow (no Spark jobs) and
returns the documents whose output was wrong; ``reset`` clears staged
outputs and caches so that every iteration does the same work.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

import gen

#: recrawl: planted-pair recall below this fails every planted url
RECALL_FLOOR = 0.9


def _rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def _row_count(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def expected_texts(doc_id: int, text: str) -> dict[str, str]:
    """Engine -> doc_text that synth's closed form predicts."""
    from ocr_compare_spark import synth

    if synth.is_pdf_doc(doc_id):
        return {"pdf": synth.expected_pdf_text(text, doc_id)}
    return {
        "density": synth.expected_density_text(text, doc_id),
        "dom": synth.expected_dom_text(text, doc_id),
    }


def expected_winner(doc_id: int, text: str) -> str:
    exp = expected_texts(doc_id, text)
    return exp["pdf"] if "pdf" in exp else exp["density"]


# ------------------------------------------------------------------ checks


def check_winners(rows: list[dict], expected: dict[str, str]) -> set[str]:
    """Urls whose winner is missing, duplicated or has the wrong text."""
    seen: dict[str, int] = {}
    bad = set()
    for r in rows:
        url = r["url"]
        seen[url] = seen.get(url, 0) + 1
        if expected.get(url) != r["doc_text"]:
            bad.add(url)
    bad.update(u for u, n in seen.items() if n != 1)
    bad.update(u for u in expected if u not in seen)
    return bad


def check_pairs(rows: list[dict], html_urls: set[str]) -> set[str]:
    """Urls that break "every HTML url yields exactly one (density,
    dom) pair with its metrics set, and no other url yields a pair"."""
    count: dict[str, int] = {}
    bad = set()
    for r in rows:
        url = r["url"]
        count[url] = count.get(url, 0) + 1
        pair = (r["engine_a"], r["engine_b"])
        if url not in html_urls or pair != ("density", "dom") or r["cer"] is None or r["wer"] is None:
            bad.add(url)
    bad.update(u for u in html_urls if count.get(u) != 1)
    return bad


def check_engine_texts(rows: list[dict], expected: dict[str, dict[str, str]]) -> set[str]:
    """Urls whose (engine -> doc_text) rows differ from ``expected``."""
    got: dict[str, dict[str, str]] = {}
    bad = set()
    for r in rows:
        per_url = got.setdefault(r["url"], {})
        if r["engine"] in per_url:
            bad.add(r["url"])
        per_url[r["engine"]] = r["doc_text"]
    bad.update(u for u, exp in expected.items() if got.get(u) != exp)
    bad.update(u for u in got if u not in expected)
    return bad


def planted_components(clusters: list[dict], copies: list[dict]) -> list[list[int]]:
    """Groups of ids that should dedup together: each planted cluster,
    merged with the copy ids that serve one of its docs' text, and each
    other source doc with its copies."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        parent[find(a)] = find(b)

    heads: dict[int, int] = {}
    for r in clusters:
        union(r["doc_id"], heads.setdefault(r["cluster"], r["doc_id"]))
    for r in copies:
        union(r["copy_id"], r["src_doc_id"])
    groups: dict[int, list[int]] = {}
    for x in parent:
        groups.setdefault(find(x), []).append(x)
    return [sorted(g) for g in groups.values() if len(g) > 1]


def planted_pairs(components: list[list[int]]) -> set[tuple[int, int]]:
    return {(a, b) for ids in components for a in ids for b in ids if a < b}


def check_dedup(
    pair_rows: list[dict], keep_rows: list[dict], planted: set[tuple[int, int]], planted_ids: set[int], ids: list[int]
) -> tuple[set[int], float]:
    """(failed ids, planted-pair recall). An unplanted id that is
    dropped or missing fails; when recall is under RECALL_FLOOR every
    planted id fails too."""
    found = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in pair_rows}
    recall = len(found & planted) / len(planted) if planted else 1.0
    kept = {r["doc_id"]: r["keep"] for r in keep_rows}
    bad = {d for d in ids if d not in planted_ids and kept.get(d) is not True}
    if recall < RECALL_FLOOR:
        bad |= planted_ids
    return bad, recall


# --------------------------------------------------------------- workloads


class Workload:
    name = ""
    #: engines the workload's extract calls run on every document
    engines: tuple[str, ...] = ()

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.par = spark.sparkContext.defaultParallelism

    def setup(self) -> None:
        """Generate the inputs under the root, materialize them as the
        tables the iterations read, and derive the expected outputs."""
        self.tables = gen.generate(self.name, self.seed)
        gen.write(self.tables, self.path("inputs"))
        self.prepare()

    def prepare(self) -> None:
        raise NotImplementedError

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def materialize_pages(self, stem: str) -> str:
        from ocr_compare_spark import synth

        out = self.path(f"pages_{stem}")
        synth.pages_from_documents(self.spark, self.path("inputs", stem)).write.mode("overwrite").parquet(out)
        return out

    def reset(self) -> None:
        shutil.rmtree(self.path("out"), ignore_errors=True)

    @property
    def docs(self) -> int:
        raise NotImplementedError

    def sample_docs(self) -> list[tuple[int, str]]:
        """(doc_id, text) of the documents the engines see."""
        d = self.tables["documents"]
        return list(zip(d.column("doc_id").to_pylist(), d.column("text").to_pylist()))


class Flagship(Workload):
    """The plans/job.py shape with its assemble phase:
    run_engines_fused -> staged parquet -> pick_winner ->
    pairwise_compare(with_alignment=True), then
    extract_spans_stream(dom, ASSEMBLY_SPAN_FIELDS) -> staged span
    table -> assemble_doc_text over the same pages."""

    name = "flagship"
    #: engine runs of the extract calls: the fused call, then dom again with spans
    engines = ("dom", "density", "pdf", "dom")

    def prepare(self) -> None:
        from ocr_compare_spark import synth

        self.pages = self.spark.read.parquet(self.materialize_pages("documents"))
        docs = self.sample_docs()
        self.winner = {synth.url_of(d): expected_winner(d, t) for d, t in docs}
        self.html_urls = {synth.url_of(d) for d, _ in docs if not synth.is_pdf_doc(d)}
        self.dom = {synth.url_of(d): {"dom": synth.expected_dom_text(t, d)} for d, t in docs if not synth.is_pdf_doc(d)}

    @property
    def docs(self) -> int:
        return len(self.winner)

    def run(self, tracer) -> None:
        from ocr_compare_spark.operators.assemble import assemble_doc_text
        from ocr_compare_spark.operators.compare import pairwise_compare
        from ocr_compare_spark.operators.extract import ASSEMBLY_SPAN_FIELDS, extract_spans_stream, run_engines_fused
        from ocr_compare_spark.operators.winner import pick_winner

        spark = self.spark
        with tracer.layer("extract"):
            run_engines_fused(self.pages, with_spans=False, num_partitions=self.par).drop("spans").write.mode(
                "overwrite"
            ).parquet(self.path("out", "staged"))
        with tracer.layer("winner"):
            staged = spark.read.parquet(self.path("out", "staged"))
            pick_winner(staged).write.mode("overwrite").parquet(self.path("out", "winners"))
        with tracer.layer("compare"):
            # as plans/job.py: keep the alignment stage at full width
            key = "spark.sql.adaptive.coalescePartitions.enabled"
            spark.conf.set(key, "false")
            try:
                pairwise_compare(staged, with_alignment=True).drop("lcs_spans", "text_a", "text_b").write.mode(
                    "overwrite"
                ).parquet(self.path("out", "compare"))
            finally:
                spark.conf.set(key, "true")
        with tracer.layer("extract_spans"):
            extract_spans_stream(
                self.pages, engines=("dom",), num_partitions=self.par, fields=ASSEMBLY_SPAN_FIELDS
            ).write.mode("overwrite").parquet(self.path("out", "spans"))
        with tracer.layer("assemble"):
            spans = spark.read.parquet(self.path("out", "spans"))
            assemble_doc_text(spans).write.mode("overwrite").parquet(self.path("out", "assembled"))

    def check(self) -> tuple[set, dict]:
        bad = check_winners(_rows(self.path("out", "winners")), self.winner)
        pairs = pq.read_table(self.path("out", "compare"), columns=["url", "engine_a", "engine_b", "cer", "wer"])
        bad |= check_pairs(pairs.to_pylist(), self.html_urls)
        bad |= check_engine_texts(_rows(self.path("out", "assembled")), self.dom)
        counts = {
            "extract.rows_out": _row_count(self.path("out", "staged")),
            "extract.span_rows": _row_count(self.path("out", "spans")),
            "compare.pairs": pairs.num_rows,
        }
        return bad, counts


MIRROR = "https://mirror.example.org/copy/"


class Recrawl(Workload):
    """cached_extract(return_fresh=True) over snapshot 2 against a cache
    primed with snapshot 1, then pick_winner; then
    lsh_candidates(verify_threshold=0.5) -> staged pairs ->
    dedup_keep_list over the snapshot-2 text of every url."""

    name = "recrawl"

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from ocr_compare_spark import synth
        from ocr_compare_spark.sources.cache import cached_extract

        spark = self.spark
        pages1 = spark.read.parquet(self.materialize_pages("documents"))
        cached_extract(spark, pages1, self.path("primed_cache"), num_partitions=self.par)

        # snapshot 2: every doc again (a seeded share with new text),
        # plus copy urls serving the snapshot-2 bytes of another doc
        pages2 = spark.read.parquet(self.materialize_pages("documents2"))
        copies = spark.read.parquet(self.path("inputs", "copies"))
        doc_id = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        mirrored = pages2.join(copies, doc_id == F.col("src_doc_id")).select(
            F.concat(F.lit(MIRROR), F.col("copy_id").cast("string")).alias("url"),
            "warc_ts",
            "html",
            "text",
            "lang",
        )
        pages2.unionByName(mirrored).write.mode("overwrite").parquet(self.path("pages_snapshot2"))
        self.pages = spark.read.parquet(self.path("pages_snapshot2"))
        self.texts = spark.read.parquet(self.path("inputs", "texts"))

        d1, d2 = self.tables["documents"], self.tables["documents2"]
        texts2 = dict(zip(d2.column("doc_id").to_pylist(), d2.column("text").to_pylist()))
        self.changed = sum(a != b for a, b in zip(d1.column("text").to_pylist(), d2.column("text").to_pylist()))
        self.url_of = {d: synth.url_of(d) for d in texts2}
        src_of = {d: d for d in texts2}
        for r in self.tables["copies"].to_pylist():
            self.url_of[r["copy_id"]] = f"{MIRROR}{r['copy_id']}"
            src_of[r["copy_id"]] = r["src_doc_id"]
        self.expected = {self.url_of[i]: expected_texts(d, texts2[d]) for i, d in src_of.items()}
        self.winner = {self.url_of[i]: expected_winner(d, texts2[d]) for i, d in src_of.items()}
        components = planted_components(self.tables["clusters"].to_pylist(), self.tables["copies"].to_pylist())
        self.planted = planted_pairs(components)
        self.planted_ids = {i for ids in components for i in ids}

    @property
    def docs(self) -> int:
        return len(self.expected)

    def sample_docs(self) -> list[tuple[int, str]]:
        d = self.tables["documents2"]
        return list(zip(d.column("doc_id").to_pylist(), d.column("text").to_pylist()))

    def reset(self) -> None:
        from ocr_compare_spark.operators.dedup import release_lsh_cache

        release_lsh_cache()
        super().reset()
        shutil.copytree(self.path("primed_cache"), self.path("out", "cache"))

    def run(self, tracer) -> None:
        from ocr_compare_spark.operators.dedup import dedup_keep_list, lsh_candidates
        from ocr_compare_spark.operators.winner import pick_winner
        from ocr_compare_spark.sources.cache import cached_extract

        spark = self.spark
        with tracer.layer("cache"):
            served, fresh = cached_extract(
                spark, self.pages, self.path("out", "cache"), num_partitions=self.par, return_fresh=True
            )
            served.write.mode("overwrite").parquet(self.path("out", "served"))
            self.fresh_payloads = fresh.select("url").distinct().count()
        with tracer.layer("winner"):
            staged = spark.read.parquet(self.path("out", "served"))
            pick_winner(staged).write.mode("overwrite").parquet(self.path("out", "winners"))
        with tracer.layer("dedup_lsh"):
            lsh_candidates(
                self.texts, "doc_id", "text", verify_threshold=0.5, num_partitions=self.par
            ).write.mode("overwrite").parquet(self.path("out", "pairs"))
        with tracer.layer("dedup_cc"):
            pairs = spark.read.parquet(self.path("out", "pairs"))
            dedup_keep_list(self.texts, pairs, "doc_id").select("doc_id", "component", "keep").write.mode(
                "overwrite"
            ).parquet(self.path("out", "keep"))

    def check(self) -> tuple[set, dict]:
        served = pq.read_table(self.path("out", "served"), columns=["url", "engine", "doc_text"])
        bad = check_engine_texts(served.to_pylist(), self.expected)
        bad |= check_winners(_rows(self.path("out", "winners")), self.winner)
        if self.fresh_payloads != self.changed:
            bad |= set(self.expected)
        pairs = _rows(self.path("out", "pairs"))
        bad_ids, recall = check_dedup(
            pairs, _rows(self.path("out", "keep")), self.planted, self.planted_ids, list(self.url_of)
        )
        bad |= {self.url_of[i] for i in bad_ids}
        counts = {
            "cache.fresh_payloads": self.fresh_payloads,
            "cache.recompute_ratio": self.fresh_payloads / self.changed if self.changed else 0.0,
            "dedup.pairs": len(pairs),
            "dedup.planted_recall": recall,
        }
        return bad, counts


WORKLOADS = {w.name: w for w in (Flagship, Recrawl)}
