"""Each output check accepts a correct result and rejects a corrupted one."""

import json
import os

import metrics
import workloads as wl
from ocr_compare_spark import synth
from tracing import GroupStats, Span

DOCS = [(3, "alpha beta gamma delta epsilon zeta eta theta"), (7, "one two three four five six seven eight")]


def _winners():
    return {synth.url_of(d): wl.expected_winner(d, t) for d, t in DOCS}


def test_winner_check():
    expected = _winners()
    rows = [{"url": u, "doc_text": t} for u, t in expected.items()]
    assert wl.check_winners(rows, expected) == set()
    url = synth.url_of(3)
    wrong = [dict(r, doc_text=r["doc_text"] + "x") if r["url"] == url else r for r in rows]
    assert wl.check_winners(wrong, expected) == {url}
    assert wl.check_winners(rows[1:], expected) == {rows[0]["url"]}
    assert wl.check_winners(rows + rows[:1], expected) == {rows[0]["url"]}


def test_pair_check():
    html, pdf = synth.url_of(3), synth.url_of(7)
    good = [{"url": html, "engine_a": "density", "engine_b": "dom", "cer": 0.1, "wer": 0.2}]
    assert wl.check_pairs(good, {html}) == set()
    assert wl.check_pairs([], {html}) == {html}
    assert wl.check_pairs(good + [dict(good[0], url=pdf)], {html}) == {pdf}
    assert wl.check_pairs([dict(good[0], engine_b="pdf")], {html}) == {html}
    assert wl.check_pairs([dict(good[0], cer=None)], {html}) == {html}


def test_engine_text_check():
    expected = {synth.url_of(d): wl.expected_texts(d, t) for d, t in DOCS}
    rows = [{"url": u, "engine": e, "doc_text": t} for u, per in expected.items() for e, t in per.items()]
    assert wl.check_engine_texts(rows, expected) == set()
    url = synth.url_of(3)
    corrupt = [dict(r, doc_text="") if r["url"] == url and r["engine"] == "dom" else r for r in rows]
    assert wl.check_engine_texts(corrupt, expected) == {url}
    assert wl.check_engine_texts(rows + [{"url": "https://x/doc/1", "engine": "dom", "doc_text": ""}], expected) == {
        "https://x/doc/1"
    }


def test_planted_components_merge_clusters_and_copies():
    clusters = [{"doc_id": 0, "cluster": 0}, {"doc_id": 1, "cluster": 0}, {"doc_id": 5, "cluster": 1}, {"doc_id": 6, "cluster": 1}]
    copies = [{"copy_id": 10, "src_doc_id": 1}, {"copy_id": 11, "src_doc_id": 3}]
    assert sorted(wl.planted_components(clusters, copies)) == [[0, 1, 10], [3, 11], [5, 6]]
    assert wl.planted_pairs([[0, 1, 10]]) == {(0, 1), (0, 10), (1, 10)}


def test_dedup_check():
    planted = wl.planted_pairs([[0, 1, 2]])
    planted_ids = {0, 1, 2}
    ids = list(range(5))
    pairs = [{"id_a": a, "id_b": b, "jaccard": 0.8} for a, b in planted]
    keep = [{"doc_id": d, "keep": d in (0, 3, 4)} for d in ids]
    assert wl.check_dedup(pairs, keep, planted, planted_ids, ids) == (set(), 1.0)
    dropped = [dict(r, keep=False) if r["doc_id"] == 4 else r for r in keep]
    assert wl.check_dedup(pairs, dropped, planted, planted_ids, ids)[0] == {4}
    assert wl.check_dedup(pairs, keep[:-1], planted, planted_ids, ids)[0] == {4}
    bad, recall = wl.check_dedup(pairs[:1], keep, planted, planted_ids, ids)
    assert recall < wl.RECALL_FLOOR and bad == planted_ids


def test_layer_metrics_merge_and_cover():
    spans = [
        Span("extract", 0.0, 1.0, group="g/extract"),
        Span("winner", 1.0, 1.5, group="g/winner"),
        Span("extract_spans", 1.5, 2.5, group="g/extract_spans"),
    ]
    stats = {
        "extract": GroupStats(jobs=1, job_intervals=[(0.1, 0.9)], task_run_s=3.0),
        "winner": GroupStats(jobs=2, job_intervals=[(1.0, 1.5)], shuffle_write_mb=1.0),
        "extract_spans": GroupStats(jobs=1, job_intervals=[(1.5, 2.0)], task_run_s=2.0),
    }
    m = metrics.iteration_layers(2.5, spans, stats, {"extract.span_rows": 9}, udf_compute_s=1.5)
    assert m["extract.wall_s"] == 2.0
    assert m["extract.jobs"] == 2
    assert m["extract.boundary_s"] == 5.0 - 1.5
    assert abs(m["extract.driver_s"] - (0.2 + 0.5)) < 1e-9
    assert m["winner.driver_s"] == 0.0
    assert m["iter.layer_cover"] == 1.0
    assert m["spark.jobs"] == 4
    assert m["extract.span_rows"] == 9


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(os.path.dirname(wl.__file__), os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(metrics.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} == set(wl.WORKLOADS)
