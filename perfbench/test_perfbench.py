"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/test_perfbench.py -q

The first three need no Spark. The last one starts a local session, runs
one streaming key and checks that job-id ranges see the micro-batch jobs
that a job group misses.
"""

from __future__ import annotations

import argparse
import decimal
import os
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, os.path.dirname(BENCH_DIR))

import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from run import error_accounting  # noqa: E402


def _samples(keys, passes):
    return [{"key": k, "pass": p, "error": None} for p in range(passes) for k in keys]


def test_one_oracle_mismatch_raises_error_rate():
    keys = ["a", "b"]
    samples = _samples(keys, passes=3)
    good = (["x"], [(1.5,)])
    assert oracle.compare(*good, ["X"], [(1.5,)]) is None
    assert error_accounting(samples, {}) == (6, 0)

    why = oracle.compare(*good, ["x"], [(1.5000000000000002,)])
    assert why and why.startswith("values differ")
    attempted, failed = error_accounting(samples, {"b": why})
    assert (attempted, failed) == (6, 3)
    assert failed / attempted > 0


def test_canonical_form_keeps_types_and_scale():
    # Decimal scale, Decimal vs float, and int vs float all differ.
    assert oracle.norm_cell(decimal.Decimal("1.050000")) != oracle.norm_cell(
        decimal.Decimal("1.05")
    )
    assert oracle.norm_cell(decimal.Decimal("1.05")) != oracle.norm_cell(1.05)
    assert oracle.norm_cell(5) != oracle.norm_cell(5.0)
    assert oracle.compare(["n"], [(5,)], ["n"], [(5.0,)]) is not None
    assert oracle.compare(["n"], [(1,), (2,)], ["n"], [(2,), (1,)]) is None


def test_check_reports_each_wrong_key_with_its_cause(tmp_path):
    """The oracle check runs each key's SQL in DuckDB over the run's input
    files and names every key whose collected result differs."""
    datagen.write_tables(str(tmp_path), 0.001, seed=7)
    args = argparse.Namespace(workload="lakehouse_rw_sf001", data_dir=str(tmp_path))
    r = run.Run(args, str(tmp_path))
    r.keys = ["good", "stale", "raised"]
    r.oracles = {k: "SELECT count(*) AS n FROM region" for k in r.keys}
    r.results = {
        "good": (["n"], [(5,)]),
        "stale": (["n"], [(4,)]),
        "raised": "RuntimeError: boom",
    }
    bad = r.check()
    assert sorted(bad) == ["raised", "stale"]
    assert bad["stale"].startswith("values differ")
    assert bad["raised"] == "spark error RuntimeError: boom"


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    from presto_truffle_spark.session import get_spark

    s = get_spark("perfbench-test", cpus="2")
    yield s
    s.stop()


def test_streaming_micro_batches_escape_job_group(spark, tmp_path):
    """``availableNow`` micro-batches run on the stream's own thread, so a
    job group set around the builder misses some of their jobs; the
    job-id range the benchmark uses sees all of them."""
    import probes
    from presto_truffle_spark.registry import get_queries

    datagen.write_tables(str(tmp_path), 0.001, seed=7)
    fn = get_queries()["streaming_stream_stream_join"]
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-test", "streaming key")
    try:
        lo = probes.next_job_id(spark)
        fn(spark, str(tmp_path))
        hi = probes.next_job_id(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    probes.drain_listener(spark)
    grouped = set(sc._jsc.sc().statusTracker().getJobIdsForGroup("perfbench-test"))
    in_range = set(range(lo, hi))
    assert grouped <= in_range
    assert len(in_range) > len(grouped)
    assert probes.job_counts(spark, lo, hi)["jobs"] == hi - lo
