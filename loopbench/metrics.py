"""Metric names, units and directions: the source of truth that
BENCHMARK.json repeats, and the derivation of the per-layer metrics
from one traced iteration."""

from __future__ import annotations

import statistics

from tracing import GroupStats, Span, covered_s

#: (name, unit, better) printed with --trace 0
END_TO_END = (
    ("ref_cpu_ms_per_doc", "ms", "lower"),
    ("setup_s", "s", "lower"),
)

#: (name, unit, better) printed with --trace 1; a layer a workload does
#: not call reads 0
PER_LAYER = (
    ("engines.dom.parse_us", "us", "lower"),
    ("engines.density.parse_us", "us", "lower"),
    ("engines.pdf.parse_us", "us", "lower"),
    ("extract.wall_s", "s", "lower"),
    ("extract.task_run_s", "s", "lower"),
    ("extract.task_cpu_s", "s", "lower"),
    ("extract.udf_compute_s", "s", "lower"),
    ("extract.boundary_s", "s", "lower"),
    ("extract.driver_s", "s", "lower"),
    ("extract.jobs", "count", "lower"),
    ("extract.rows_out", "count", "higher"),
    ("extract.span_rows", "count", "higher"),
    ("extract.shuffle_write_mb", "MB", "lower"),
    ("winner.wall_s", "s", "lower"),
    ("winner.driver_s", "s", "lower"),
    ("winner.shuffle_write_mb", "MB", "lower"),
    ("compare.wall_s", "s", "lower"),
    ("compare.pairs", "count", "higher"),
    ("compare.align_us", "us", "lower"),
    ("compare.tasks", "count", "lower"),
    ("compare.task_skew", "ratio", "lower"),
    ("compare.shuffle_write_mb", "MB", "lower"),
    ("assemble.wall_s", "s", "lower"),
    ("assemble.jobs", "count", "lower"),
    ("assemble.shuffle_write_mb", "MB", "lower"),
    ("assemble.spill_mb", "MB", "lower"),
    ("cache.wall_s", "s", "lower"),
    ("cache.driver_s", "s", "lower"),
    ("cache.jobs", "count", "lower"),
    ("cache.fresh_payloads", "count", "lower"),
    ("cache.recompute_ratio", "ratio", "lower"),
    ("cache.read_mb", "MB", "lower"),
    ("cache.write_mb", "MB", "lower"),
    ("dedup.lsh_wall_s", "s", "lower"),
    ("dedup.pairs", "count", "higher"),
    ("dedup.planted_recall", "ratio", "higher"),
    ("dedup.shuffle_write_mb", "MB", "lower"),
    ("dedup.cc_wall_s", "s", "lower"),
    ("dedup.cc_jobs", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("iter.wall_s", "s", "lower"),
    ("iter.cpu_s", "s", "lower"),
    ("iter.layer_cover", "ratio", "higher"),
    ("jvm.jit_cpu_s", "s", "lower"),
    ("run.docs_per_s", "1/s", "higher"),
    ("run.peak_rss_mb", "MB", "lower"),
    ("trace.docs_per_s", "1/s", "higher"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("host.steal_pct", "%", "lower"),
    ("host.calibration_ms", "ms", "lower"),
)

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}

#: span name -> layer, where a layer is called more than once per iteration
LAYER_OF = {"extract_spans": "extract"}


def driver_s(span: Span, st: GroupStats) -> float:
    """Part of the span's wall that none of its Spark jobs cover."""
    inside = [(max(a, span.start), min(b, span.end)) for a, b in st.job_intervals if b > span.start and a < span.end]
    return max(0.0, span.wall_s - covered_s(inside))


def iteration_layers(
    iter_wall: float, spans: list[Span], stats: dict[str, GroupStats], counts: dict, udf_compute_s: float
) -> dict[str, float]:
    """Per-layer metrics of one traced iteration. ``stats`` holds the
    status-store harvest of each span's job group, by span name.
    Micro-timings and run-level figures are added by the caller."""
    wall: dict[str, float] = {}
    drv: dict[str, float] = {}
    st: dict[str, GroupStats] = {}
    for s in spans:
        layer = LAYER_OF.get(s.name, s.name)
        wall[layer] = wall.get(layer, 0.0) + s.wall_s
        drv[layer] = drv.get(layer, 0.0) + driver_s(s, stats[s.name])
        st[layer] = st[layer].plus(stats[s.name]) if layer in st else stats[s.name]
    m: dict[str, float] = {}
    if "extract" in st:
        x = st["extract"]
        m.update({
            "extract.wall_s": wall["extract"],
            "extract.task_run_s": x.task_run_s,
            "extract.task_cpu_s": x.task_cpu_s,
            "extract.udf_compute_s": udf_compute_s,
            "extract.boundary_s": x.task_run_s - udf_compute_s,
            "extract.driver_s": drv["extract"],
            "extract.jobs": x.jobs,
            "extract.shuffle_write_mb": x.shuffle_write_mb,
        })
    if "winner" in st:
        m.update({
            "winner.wall_s": wall["winner"],
            "winner.driver_s": drv["winner"],
            "winner.shuffle_write_mb": st["winner"].shuffle_write_mb,
        })
    if "compare" in st:
        x = st["compare"]
        tasks = x.heaviest_stage_tasks_s
        mid = statistics.median(tasks) if tasks else 0.0
        m.update({
            "compare.wall_s": wall["compare"],
            "compare.tasks": x.tasks,
            "compare.task_skew": max(tasks) / mid if mid > 0 else 0.0,
            "compare.shuffle_write_mb": x.shuffle_write_mb,
        })
    if "assemble" in st:
        x = st["assemble"]
        m.update({
            "assemble.wall_s": wall["assemble"],
            "assemble.jobs": x.jobs,
            "assemble.shuffle_write_mb": x.shuffle_write_mb,
            "assemble.spill_mb": x.spill_mb,
        })
    if "cache" in st:
        x = st["cache"]
        m.update({
            "cache.wall_s": wall["cache"],
            "cache.driver_s": drv["cache"],
            "cache.jobs": x.jobs,
            "cache.read_mb": x.input_mb,
            "cache.write_mb": x.output_mb,
        })
    if "dedup_lsh" in st:
        m.update({
            "dedup.lsh_wall_s": wall["dedup_lsh"],
            "dedup.cc_wall_s": wall["dedup_cc"],
            "dedup.cc_jobs": st["dedup_cc"].jobs,
            "dedup.shuffle_write_mb": st["dedup_lsh"].shuffle_write_mb + st["dedup_cc"].shuffle_write_mb,
        })
    m.update({k: v for k, v in counts.items() if k in UNITS})
    m["spark.jobs"] = sum(x.jobs for x in st.values())
    m["spark.gc_s"] = sum(x.gc_s for x in st.values())
    m["spark.failed_tasks"] = sum(x.failed_tasks for x in st.values())
    m["iter.wall_s"] = iter_wall
    m["iter.layer_cover"] = sum(wall.values()) / iter_wall if iter_wall > 0 else 0.0
    return m
