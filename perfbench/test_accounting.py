"""Tests for the CPU and memory accounting helper against known loads.

Run from the repository root:

    python3 -m pytest perfbench/test_accounting.py -q -p no:cacheprovider
"""

from __future__ import annotations

import multiprocessing
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from accounting import TreeSampler, busy_cpu, jvm_gc_seconds, tree_stats  # noqa: E402


def test_driver_busy_loop_is_counted():
    with TreeSampler() as s:
        before, _ = s.totals()
        used = busy_cpu(0.5)
        after, workers = s.totals()
    assert used >= 0.5
    # the sampler thread itself adds a little CPU
    assert 0.45 <= after - before <= used + 0.3
    assert workers == 0.0


def test_exited_child_is_counted():
    """A child that exits between two readings keeps its CPU."""
    ctx = multiprocessing.get_context("spawn")
    with TreeSampler() as s:
        before, _ = s.totals()
        child = ctx.Process(target=busy_cpu, args=(0.6,))
        child.start()
        child.join(timeout=30)
        assert not child.is_alive()
        after, _ = s.totals()
    assert after - before >= 0.5


def test_peak_rss_sees_an_allocation():
    with TreeSampler() as s:
        s.reset_peak_rss()
        base = s.peak_rss_mb
        block = bytearray(200 * 2**20)
        block[:: 4096] = b"x" * len(block[:: 4096])  # touch every page
        s.sample()
        peak = s.peak_rss_mb
        del block
    assert peak - base >= 150


@pytest.fixture(scope="module")
def spark():
    from thoth_spark.session import get_spark

    # the workers unpickle _spin_partition by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, os.environ.get("PYTHONPATH")) if p
    )
    session = get_spark(
        app_name="accounting-test",
        master="local[2]",
        extra_conf={
            # every task's Python worker exits when the task ends
            "spark.python.worker.reuse": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
        },
    )
    yield session
    session.stop()


def _spin_partition(batches):
    busy_cpu(0.5)
    yield from batches


def test_pandas_udf_workers_are_counted_after_they_exit(spark):
    me = os.getpid()
    df = spark.range(4).repartition(4)
    df.count()  # start the daemon before measuring
    with TreeSampler() as s:
        naive_before = sum(v[0] for v in tree_stats(me).values())
        before, w_before = s.totals()
        rows = df.mapInPandas(_spin_partition, "id long").collect()
        after, w_after = s.totals()
        naive_after = sum(v[0] for v in tree_stats(me).values())
    assert len(rows) == 4
    workers = w_after - w_before
    # four tasks of 0.5 s busy loop each, plus worker start-up
    assert 1.8 <= workers <= 2.0 + 4 * 1.5
    assert after - before >= workers
    # summing the live tree twice loses the workers that exited: at
    # least their busy loops
    assert (after - before) - (naive_after - naive_before) >= 1.5


def test_jvm_gc_seconds_is_monotone(spark):
    g0 = jvm_gc_seconds(spark)
    spark.range(2_000_000).selectExpr("uuid() as u").groupBy("u").count().count()
    assert jvm_gc_seconds(spark) >= g0 >= 0.0
