"""Seeded benchmark of the extract -> compare -> winner loop.

Run from the root of a checkout:

    python3 loopbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

One process, one local Spark session with one task thread per core.
Set-up starts the session, generates the seeded inputs and
materializes them as parquet; ``setup_s`` is the wall from process
start to the first timed iteration. Iterations then run until their
wall reaches ``--seconds`` (at least one), every output is checked,
and the last line of stdout is one JSON object:

    {"correct": ..., "attempted": docs, "failed": docs, "metrics": {...}}

There is no warm-up: the first iteration is the first pass of the
loop in a fresh session, as a batch job sees it.

``--trace 0`` reports the end-to-end metrics: ``ref_cpu_ms_per_doc``
and ``setup_s``. ``ref_cpu_ms_per_doc`` is the CPU time of the whole
process tree -- driver, JVM, Python workers -- per input document,
median over iterations, with two corrections for a shared host:

- The JVM's JIT compiler threads are left out. In the first pass of a
  fresh session they burn more CPU than the loop itself (about 33 of
  62 s on a recrawl iteration, 28 of 53 s on a flagship one), and how
  much of that lands inside the iteration follows the host's load, not
  the program. Their time is the per-layer ``jvm.jit_cpu_s``.
- It is scaled to a reference host speed: a sampler thread times a
  fixed piece of interpreter- and memory-bound work on each vCPU in
  turn through the iteration (``sysinfo.SpeedSampler``), and the CPU
  time is multiplied by REF_UNIT_MS over the mean of those timings. A
  vCPU runs about twice as fast while the core it shares on the host
  is otherwise idle, so the CPU a document costs follows the
  co-tenants. Over ten seeds on a 4-vCPU VM the quartiles of the raw
  figure lay 10-14% of its median apart, those of the scaled one 3-4%.
  The raw median is printed on the summary line; the timing is the
  per-layer ``host.calibration_ms``.

Wall-clock ``docs_per_s`` is printed on the summary line and reported per layer
(``run.docs_per_s``) but carries no bound: on a shared host it follows
the hypervisor's CPU steal (on a 4-vCPU VM, 0.3% -> 16% steal turned
a 15 s flagship iteration into 23 s), while the CPU a document costs
moves about half as much. ``--trace 1`` runs untraced and traced
iterations in turn (at least untraced, traced, untraced, traced) and
reports the per-layer metrics; the spans, the status-store harvest and
the micro-timings are written to ``.loopbench_work/traces/``. Everything
the run writes stays under ``.loopbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

WORK_DIR = ".loopbench_work"
DRIVER_MEM = "1g"
MICRO_SAMPLE = 200
#: mean calibration-unit time during an iteration on the reference
#: host (4-vCPU VM, little steal); ref_cpu_ms_per_doc is CPU time at it
REF_UNIT_MS = 5.0


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="extract -> compare -> winner benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(root: str, work: str) -> None:
    """Pin every Spark and Python scratch path inside the run's work
    directory, size the session to this box, and let Python workers
    import the library from the checkout."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_LOCAL_DIRS_OVERRIDE": local,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        }
    )


def start_session(work: str):
    from ocr_compare_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="loopbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # compiler threads stay alive, so sysinfo.jit_cpu_s sees all their time
            "spark.driver.extraJavaOptions": (
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )


def stop_jvm() -> None:
    """Stop the Spark context and the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


@dataclass
class Iteration:
    wall_s: float
    cpu_s: float  # process-tree CPU seconds
    jit_s: float  # of which the JVM's JIT compiler threads
    unit_s: float  # mean calibration-unit CPU time during the iteration
    docs: int
    failed: int
    counts: dict
    spans: list
    steal_pct: float


def run_iteration(wl, tracer, run_id: str) -> Iteration:
    import sysinfo

    wl.reset()
    ticks = sysinfo.cpu_ticks()
    cpu0 = sysinfo.tree_cpu_s(os.getpid())
    jit0 = sysinfo.jit_cpu_s(os.getpid())
    tracer.begin_iteration(run_id)
    t0 = time.perf_counter()
    ok = True
    with sysinfo.SpeedSampler() as speed:
        try:
            wl.run(tracer)
        except Exception:  # a failed Spark job fails every document of the iteration
            traceback.print_exc()
            ok = False
    wall = time.perf_counter() - t0
    cpu = sysinfo.tree_cpu_s(os.getpid()) - cpu0 - speed.cpu_s
    jit = sysinfo.jit_cpu_s(os.getpid()) - jit0
    spans = tracer.end_iteration()
    steal = sysinfo.steal_pct(ticks, sysinfo.cpu_ticks())
    bad, counts = set(), {}
    if ok:
        try:
            bad, counts = wl.check()
        except Exception:  # missing or unreadable output
            traceback.print_exc()
            ok = False
    failed = wl.docs if not ok else min(len(bad), wl.docs)
    return Iteration(wall, cpu, jit, speed.unit_s, wl.docs, failed, counts, spans, steal)


def micro_timings(wl) -> dict:
    """In-process timing of the engines' and the aligner's pure-Python
    public functions on a sample of this workload's documents. Returns
    per-engine median and mean seconds per payload and the median
    alignment time per (density, dom) pair."""
    from ocr_compare_spark import synth
    from ocr_compare_spark.engines import create_engine
    from ocr_compare_spark.operators.compare import align_metrics

    from workloads import expected_texts

    sample = wl.sample_docs()[:MICRO_SAMPLE]
    payloads = {
        "html": [synth.build_html(d, t) for d, t in sample if not synth.is_pdf_doc(d)],
        "pdf": [synth.build_pdf(d, t) for d, t in sample if synth.is_pdf_doc(d)],
    }
    out = {}
    for name in ("dom", "density", "pdf"):
        spec = create_engine(name)
        times = []
        for p in payloads[spec.handles]:
            t0 = time.perf_counter()
            spec.parse(p)
            times.append(time.perf_counter() - t0)
        out[name] = {
            "median_s": statistics.median(times) if times else 0.0,
            "mean_s": statistics.fmean(times) if times else 0.0,
        }
    align = []
    for d, t in sample:
        exp = expected_texts(d, t)
        if "dom" in exp:
            t0 = time.perf_counter()
            align_metrics(exp["density"], exp["dom"])
            align.append(time.perf_counter() - t0)
    out["align_median_s"] = statistics.median(align) if align else 0.0
    return out


def udf_compute_s(wl, micro: dict) -> float:
    """Engine parse seconds the extract call's payloads need: payloads
    per engine x mean in-process parse time."""
    from ocr_compare_spark import synth
    from ocr_compare_spark.engines import create_engine

    ids = [d for d, _ in wl.sample_docs()]
    n_pdf = sum(synth.is_pdf_doc(d) for d in ids)
    n = {"pdf": n_pdf, "html": len(ids) - n_pdf}
    return sum(n[create_engine(e).handles] * micro[e]["mean_s"] for e in wl.engines)


def rate(iters: list[Iteration]) -> float:
    """Median over iterations of documents completed per second."""
    return statistics.median(i.docs / i.wall_s for i in iters)


def cpu_ms_per_doc(iters: list[Iteration], scaled: bool = True) -> float:
    """Median over iterations of process-tree CPU milliseconds per
    document, the JIT compiler threads' share left out; ``scaled``
    brings each iteration's figure to the reference host speed."""
    return statistics.median(
        1000.0 * (i.cpu_s - i.jit_s) / i.docs * (REF_UNIT_MS / (1e3 * i.unit_s) if scaled else 1.0) for i in iters
    )


def metric(name: str, value: float) -> dict:
    from metrics import UNITS

    return {"value": float(value), "unit": UNITS[name]}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ocr_compare_spark", "__init__.py")):
        print("loopbench: no ocr_compare_spark package here; run from the root of a checkout", file=sys.stderr)
        return 2
    import sysinfo

    started = sysinfo.process_start_monotonic()
    work = os.path.join(root, WORK_DIR, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    configure_env(root, work)
    sys.path.insert(0, root)
    try:
        return bench(args, work, started)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: str, started: float) -> int:
    import metrics
    import sysinfo
    import tracing
    from workloads import WORKLOADS

    host = sysinfo.host_record()
    print("loopbench host " + json.dumps(host), flush=True)
    cls = WORKLOADS[args.workload]
    with sysinfo.RssSampler() as rss:
        spark = start_session(work)
        wl = cls(spark, os.path.join(work, "data"), args.seed)
        session_s = time.monotonic() - started
        wl.setup()
        setup_s = time.monotonic() - started

        sc = spark.sparkContext
        tracer = tracing.Tracer(sc) if args.trace else None
        iters: list[Iteration] = []
        layer_rows: list[tuple[Iteration, dict]] = []
        harvest: list[dict] = []
        # iterate until the timed wall reaches --seconds; a traced run
        # brackets a warm plain iteration with two traced ones
        timed = 0.0
        while timed < args.seconds or len(iters) < 1 + 3 * args.trace:
            traced = bool(args.trace) and len(iters) % 2 == 1
            it = run_iteration(wl, tracer if traced else tracing.NullTracer(), f"i{len(iters)}")
            iters.append(it)
            timed += it.wall_s
            if traced:
                stats = {s.name: tracing.group_stats(sc, s.group, with_tasks=s.name == "compare") for s in it.spans}
                harvest.append({name: vars(st) for name, st in stats.items()})
                layer_rows.append((it, stats))
        peak_mb = rss.peak_mb

    attempted = sum(i.docs for i in iters)
    failed = sum(i.failed for i in iters)
    plain = iters[::2] if args.trace else iters
    docs_per_s = rate(plain)
    print(
        f"loopbench {args.workload} seed={args.seed} iterations={len(iters)} "
        f"docs_per_s={docs_per_s:.2f} 1/s ref_cpu_ms_per_doc={cpu_ms_per_doc(plain):.2f} ms "
        f"raw_cpu_ms_per_doc={cpu_ms_per_doc(plain, scaled=False):.2f} ms "
        f"failed_frac={failed / attempted:.6f} "
        f"peak_rss_mb={peak_mb:.1f} MB ({len(rss.hwm)} processes) setup_s={setup_s:.3f} s "
        f"(session {session_s:.2f} s) "
        f"iteration walls {' '.join(f'{i.wall_s:.2f}' for i in iters)} s "
        f"cpu {' '.join(f'{i.cpu_s:.2f}' for i in iters)} s "
        f"jit {' '.join(f'{i.jit_s:.2f}' for i in iters)} s "
        f"unit {' '.join(f'{1e3 * i.unit_s:.4f}' for i in iters)} ms "
        f"steal_pct={statistics.median(i.steal_pct for i in iters):.3f}",
        flush=True,
    )
    if not args.trace:
        out = {
            "ref_cpu_ms_per_doc": metric("ref_cpu_ms_per_doc", cpu_ms_per_doc(plain)),
            "setup_s": metric("setup_s", setup_s),
        }
    else:
        micro = micro_timings(wl)
        compute = udf_compute_s(wl, micro)
        rows = [
            metrics.iteration_layers(it.wall_s, it.spans, stats, it.counts, compute) for it, stats in layer_rows
        ]
        values = {name: 0.0 for name, _, _ in metrics.PER_LAYER}
        for name in values:
            got = [r[name] for r in rows if name in r]
            if got:
                values[name] = statistics.median(got)
        for e in ("dom", "density", "pdf"):
            values[f"engines.{e}.parse_us"] = micro[e]["median_s"] * 1e6
        values["compare.align_us"] = micro["align_median_s"] * 1e6
        # the first iteration is cold: compare traced with later plain ones
        traced_rate, plain_rate = rate([it for it, _ in layer_rows]), rate(plain[1:])
        values["trace.docs_per_s"] = traced_rate
        values["trace.overhead_frac"] = (plain_rate - traced_rate) / plain_rate
        values["run.docs_per_s"] = rate(iters[:1])
        values["run.peak_rss_mb"] = peak_mb
        values["iter.cpu_s"] = statistics.median(it.cpu_s for it, _ in layer_rows)
        values["jvm.jit_cpu_s"] = statistics.median(it.jit_s for it, _ in layer_rows)
        values["host.steal_pct"] = statistics.median(i.steal_pct for i in iters)
        values["host.calibration_ms"] = statistics.median(1e3 * i.unit_s for i in iters)
        out = {name: metric(name, v) for name, v in values.items()}
        write_trace(args, host, setup_s, iters, tracer.spans, harvest, micro, values)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


def write_trace(args, host, setup_s, iters, spans, harvest, micro, values) -> None:
    d = os.path.join(os.getcwd(), WORK_DIR, "traces")
    os.makedirs(d, exist_ok=True)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "setup_s": setup_s,
        "iterations": [
            {
                "wall_s": i.wall_s,
                "cpu_s": i.cpu_s,
                "jit_s": i.jit_s,
                "unit_s": i.unit_s,
                "docs": i.docs,
                "failed": i.failed,
                "steal_pct": i.steal_pct,
                "counts": i.counts,
            }
            for i in iters
        ],
        "spans": [vars(s) for s in spans],
        "harvest": harvest,
        "micro": micro,
        "per_layer": values,
    }
    path = os.path.join(d, f"{args.workload}-s{args.seed}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
