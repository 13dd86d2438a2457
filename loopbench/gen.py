"""Seeded input generator for the extract -> compare -> winner benchmark.

Writes documents-shaped tables ``(doc_id, text, lang, source, n_chars)``
that the library's ``synth.pages_from_documents`` turns into the pages
table, plus the side tables the recrawl workload needs. Every
byte is a function of ``(workload spec, seed)``: the same seed gives
byte-identical files, another seed gives other files.

Texts keep synth's whitespace contract: tokens are lowercase ASCII
words joined by single spaces, nothing else. Document lengths are
log-normal in tokens, clipped to ``[min_tokens, 10 x median]``.

    python3 loopbench/gen.py --workload flagship --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import itertools
import math
import os
import random
import statistics
import sys
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es")
VOCAB_SIZE = 4096
SIGMA = 0.9  # log-normal shape: ~0.5% of documents reach the 10x clip
TAIL = 10  # longest document = TAIL x median tokens
MIN_TOKENS = 8
#: planted cluster bases are at least this long, so that two variants
#: of one base stay above the 0.5 shingle-Jaccard verify threshold
CLUSTER_MIN_TOKENS = 64

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


@dataclass(frozen=True)
class Spec:
    """Input shape of one workload. Only ``docs`` and ``median_tokens``
    apply to every workload; the rest are read by recrawl only."""

    docs: int
    median_tokens: int
    changed_share: float = 0.0  # docs whose text changes in snapshot 2
    copy_share: float = 0.0  # extra urls serving a copy of another doc
    cluster_share: float = 0.0  # docs that belong to a planted cluster
    cluster_max: int = 0  # planted clusters hold 2..cluster_max docs
    edit_rate: float = 0.0  # share of tokens replaced in each variant


SPECS = {
    "flagship": Spec(docs=1000, median_tokens=48),
    "recrawl": Spec(
        docs=1000,
        median_tokens=48,
        changed_share=0.1,
        copy_share=0.05,
        cluster_share=0.2,
        cluster_max=6,
        edit_rate=0.03,
    ),
}


def vocabulary(rng: random.Random) -> list[str]:
    """VOCAB_SIZE distinct lowercase words of 2-9 letters."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(2, 9))))
    return sorted(words)


class TextSource:
    """Zipf-weighted word draws and log-normal document lengths.

    Lengths are stratified: ``quantiles(n)`` are the n mid-quantiles of
    the clipped log-normal, so every seed draws the same multiset of
    lengths (the same amount of work, heavy tail included)."""

    def __init__(self, rng: random.Random, median_tokens: int):
        self.rng = rng
        self.words = vocabulary(rng)
        self.cum = list(itertools.accumulate(1.0 / rank for rank in range(1, VOCAB_SIZE + 1)))
        self.median = median_tokens

    def quantiles(self, n: int) -> list[int]:
        """The n mid-quantile lengths, ascending."""
        z = statistics.NormalDist()
        return [
            max(MIN_TOKENS, min(TAIL * self.median, round(self.median * math.exp(SIGMA * z.inv_cdf((i + 0.5) / n)))))
            for i in range(n)
        ]

    def tokens(self, n: int) -> list[str]:
        return self.rng.choices(self.words, cum_weights=self.cum, k=n)

    def text(self, n: int) -> str:
        return " ".join(self.tokens(n))


def documents_table(ids: list[int], texts: list[str], rng: random.Random) -> pa.Table:
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in ids],
            "source": ["loopbench"] * len(ids),
            "n_chars": [len(t) for t in texts],
        },
        schema=DOC_SCHEMA,
    )


def generate(workload: str, seed: int) -> dict[str, pa.Table]:
    """All input tables of one workload, keyed by file stem.

    - every workload: ``documents`` (snapshot 1 for recrawl)
    - recrawl:
      - ``documents2``: snapshot 2, same doc_ids; a fixed share of the
        unplanted docs get new words of the same length
      - ``copies`` ``(copy_id, src_doc_id)``: extra urls serving the
        snapshot-2 bytes of another doc
      - ``clusters`` ``(doc_id, cluster)``: every doc of a planted
        near-duplicate cluster (the same in both snapshots)
      - ``texts`` ``(doc_id, text)``: the snapshot-2 text of every url,
        copies included, keyed by doc_id or copy_id; the dedup input
    """
    spec = SPECS[workload]
    rng = random.Random(f"loopbench/{workload}/{seed}")
    # The layout -- which doc_id gets which length, which docs are
    # planted, changed or copied -- is the same for every seed, so the
    # engines, the shuffles and the slowest task see the same work; the
    # seed draws the words. Otherwise the 10% of PDF ids drawing a few
    # tail lengths or not moves docs_per_s by more than run-to-run noise.
    layout = random.Random(f"loopbench/{workload}/layout")
    src = TextSource(rng, spec.median_tokens)
    ids = list(range(spec.docs))
    out: dict[str, pa.Table] = {}
    if workload == "recrawl":
        texts, cluster_of = planted_texts(spec, src, layout)
    else:
        lengths = src.quantiles(spec.docs)
        layout.shuffle(lengths)
        texts = [src.text(n) for n in lengths]
    out["documents"] = documents_table(ids, texts, rng)
    if workload == "recrawl":
        unplanted = [i for i in ids if i not in cluster_of]
        changed = set(layout.sample(unplanted, round(spec.changed_share * spec.docs)))
        texts2 = [src.text(len(t.split(" "))) if i in changed else t for i, t in zip(ids, texts)]
        out["documents2"] = documents_table(ids, texts2, random.Random(f"{seed}/lang"))
        n_copies = round(spec.copy_share * spec.docs)
        copy_ids = list(range(spec.docs, spec.docs + n_copies))
        src_ids = sorted(layout.sample(ids, n_copies))
        out["copies"] = pa.table(
            {"copy_id": copy_ids, "src_doc_id": src_ids},
            schema=pa.schema([("copy_id", pa.int64()), ("src_doc_id", pa.int64())]),
        )
        planted = sorted(cluster_of)
        out["clusters"] = pa.table(
            {"doc_id": planted, "cluster": [cluster_of[d] for d in planted]},
            schema=pa.schema([("doc_id", pa.int64()), ("cluster", pa.int64())]),
        )
        out["texts"] = pa.table(
            {"doc_id": ids + copy_ids, "text": texts2 + [texts2[s] for s in src_ids]},
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        )
    return out


def planted_texts(spec: Spec, src: TextSource, layout: random.Random) -> tuple[list[str], dict[int, int]]:
    """Texts with planted near-duplicate clusters. Cluster sizes cycle
    through 2..cluster_max until ``cluster_share`` of the docs are
    planted; a cluster is a base text (at least CLUSTER_MIN_TOKENS
    long) plus variants that each replace ``edit_rate`` of its tokens.
    Sizes pair with base lengths in a fixed order and ``layout`` places
    members and the other lengths, so every seed plants the same amount
    of text at the same doc_ids. Returns (texts by doc_id,
    {doc_id: cluster id} for planted docs)."""
    n = spec.docs
    target = round(spec.cluster_share * n)
    sizes: list[int] = []
    for size in itertools.cycle(range(2, spec.cluster_max + 1)):
        if sum(sizes) >= target:
            break
        sizes.append(min(size, max(2, target - sum(sizes))))
    slots = list(range(n))
    layout.shuffle(slots)
    texts: list[str] = [""] * n
    cluster_of: dict[int, int] = {}
    pos = 0
    for c, (size, length) in enumerate(zip(sizes, src.quantiles(len(sizes)))):
        base = src.tokens(max(length, CLUSTER_MIN_TOKENS))
        n_edit = max(1, round(spec.edit_rate * len(base)))
        for k in range(size):
            toks = list(base)
            if k:
                for i in src.rng.sample(range(len(toks)), n_edit):
                    toks[i] = src.tokens(1)[0]
            texts[slots[pos]] = " ".join(toks)
            cluster_of[slots[pos]] = c
            pos += 1
    rest = src.quantiles(n - pos)
    layout.shuffle(rest)
    for doc_id, length in zip(slots[pos:], rest):
        texts[doc_id] = src.text(length)
    return texts, cluster_of


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table into a directory of its own under ``out_dir``:
    documents tables as ``<stem>/documents.parquet`` (the layout
    ``synth.pages_from_documents`` reads), others as
    ``<stem>/<stem>.parquet``."""
    for stem, tbl in tables.items():
        d = os.path.join(out_dir, stem)
        os.makedirs(d, exist_ok=True)
        name = "documents.parquet" if stem.startswith("documents") else f"{stem}.parquet"
        pq.write_table(tbl, os.path.join(d, name), compression="none")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    write(generate(args.workload, args.seed), args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
