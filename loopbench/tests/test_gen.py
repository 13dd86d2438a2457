"""The seeded input generator: determinism and the input properties
the workloads rely on."""

import hashlib
import os

import pytest

import gen


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.SPECS))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    gen.write(gen.generate(workload, 7), str(tmp_path / "a"))
    gen.write(gen.generate(workload, 7), str(tmp_path / "b"))
    gen.write(gen.generate(workload, 8), str(tmp_path / "c"))
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys()
    # the words differ; the layout tables (clusters, copies) do not
    assert all(a[k] != c[k] for k in a if "documents" in k or "texts" in k)


@pytest.mark.parametrize("workload", sorted(gen.SPECS))
def test_whitespace_contract_and_length_tail(workload):
    spec = gen.SPECS[workload]
    docs = gen.generate(workload, 3)["documents"]
    assert docs.num_rows == spec.docs
    lengths = []
    for text, n_chars in zip(docs.column("text").to_pylist(), docs.column("n_chars").to_pylist()):
        toks = text.split(" ")
        assert all(t and t.isalpha() and t.islower() for t in toks)  # single spaces only
        assert n_chars == len(text)
        lengths.append(len(toks))
    assert min(lengths) >= gen.MIN_TOKENS
    assert max(lengths) <= gen.TAIL * spec.median_tokens
    assert max(lengths) > 4 * spec.median_tokens  # the heavy tail is there


def test_recrawl_snapshot_two():
    spec = gen.SPECS["recrawl"]
    t = gen.generate("recrawl", 5)
    a = t["documents"].column("text").to_pylist()
    b = t["documents2"].column("text").to_pylist()
    assert t["documents2"].column("doc_id").to_pylist() == t["documents"].column("doc_id").to_pylist()
    changed = {i for i, (x, y) in enumerate(zip(a, b)) if x != y}
    assert len(changed) == round(spec.changed_share * spec.docs)
    assert all(len(a[i].split(" ")) == len(b[i].split(" ")) for i in changed)
    copies = t["copies"].to_pylist()
    assert len(copies) == round(spec.copy_share * spec.docs)
    assert all(0 <= c["src_doc_id"] < spec.docs <= c["copy_id"] for c in copies)
    # the dedup input: every snapshot-2 text, then each copy's source text
    texts = dict(zip(t["texts"].column("doc_id").to_pylist(), t["texts"].column("text").to_pylist()))
    assert len(texts) == spec.docs + len(copies)
    assert all(texts[i] == b[i] for i in range(spec.docs))
    assert all(texts[c["copy_id"]] == b[c["src_doc_id"]] for c in copies)


def test_recrawl_planted_clusters():
    spec = gen.SPECS["recrawl"]
    t = gen.generate("recrawl", 5)
    clusters = t["clusters"].to_pylist()
    assert len(clusters) >= round(spec.cluster_share * spec.docs)
    sizes = {}
    for r in clusters:
        sizes[r["cluster"]] = sizes.get(r["cluster"], 0) + 1
    assert all(2 <= n <= spec.cluster_max for n in sizes.values())
    a = t["documents"].column("text").to_pylist()
    b = t["documents2"].column("text").to_pylist()
    assert len(set(a)) == spec.docs  # every document distinct
    assert all(a[r["doc_id"]] == b[r["doc_id"]] for r in clusters)  # clusters survive the recrawl


def test_layout_is_the_same_for_every_seed():
    """Seeds change the words, not which doc_ids are long, planted,
    changed or copied."""
    x, y = gen.generate("recrawl", 1), gen.generate("recrawl", 2)
    for stem in ("clusters", "copies"):
        assert x[stem].equals(y[stem])
    n_tokens = [[len(t.split(" ")) for t in g["documents"].column("text").to_pylist()] for g in (x, y)]
    assert n_tokens[0] == n_tokens[1]
