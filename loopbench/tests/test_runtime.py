"""The speed sampler; the status-store reader, the tracer and the
JIT-time reader against a live local session; and the refusal to run
outside a checkout."""

import os
import time

import pytest

import run
import sysinfo
import tracing


def test_refuses_to_run_outside_a_checkout(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "flagship", "--seed", "1", "--seconds", "1"]) == 2
    assert capsys.readouterr().out == ""


def test_speed_sampler_times_the_unit_and_leaves_the_caller_on_every_cpu():
    cpus = os.sched_getaffinity(0)
    with sysinfo.SpeedSampler(interval_s=0.01) as speed:
        time.sleep(0.5)
    assert len(speed.samples) >= 2
    assert speed.unit_s > 0
    assert 0 < speed.cpu_s < 0.5
    assert os.sched_getaffinity(0) == cpus


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("loopbench"))
    saved = dict(os.environ)
    run.configure_env(os.path.dirname(run.HERE), work)
    session = run.start_session(work)
    try:
        yield session
    finally:
        run.stop_jvm()
        os.environ.clear()
        os.environ.update(saved)


def test_status_store_reports_task_time_for_a_trivial_job(spark):
    sc = spark.sparkContext
    tracer = tracing.Tracer(sc)
    tracer.begin_iteration("t0")
    with tracer.layer("sum"):
        spark.range(0, 4_000_000, numPartitions=2).selectExpr("sum(id % 7)").collect()
    (span,) = tracer.end_iteration()
    st = tracing.group_stats(sc, span.group, with_tasks=True)
    assert st.jobs >= 1
    assert st.tasks >= 2
    assert st.task_cpu_s > 0
    assert st.task_run_s > 0
    assert st.heaviest_stage_tasks_s
    assert 0 < tracing.covered_s(st.job_intervals) <= span.wall_s + 0.01
    # a group that ran nothing harvests as empty
    assert tracing.group_stats(sc, "no-such-group").jobs == 0


def test_jit_time_is_a_nonzero_part_of_the_tree_cpu(spark):
    spark.range(0, 1_000_000, numPartitions=2).selectExpr("sum(id % 7)").collect()
    jit = sysinfo.jit_cpu_s(os.getpid())
    assert 0 < jit < sysinfo.tree_cpu_s(os.getpid())
