"""Closed-loop benchmark of the presto_truffle_spark query engine.

    python3 perfbench/run.py --workload headline_sf001 --seed 1 --seconds 20 --trace 0

One client thread sends the next query only after the previous one has
returned. Each query is a registered builder ``fn(spark, sf_dir)`` (or,
for ``q6_inmem``, the reference's Q6 over cached generated rows),
materialized through the ``noop`` sink. A run:

1. writes the input tables (untimed), then sets up once: Spark session
   with its JVM launch, registry import and, for ``q6_inmem``, the cached
   rows;
2. runs one cold pass over the workload's keys, then untimed warm-up
   passes; the last warm-up pass collects each key's result;
3. runs as many measured passes as ``--seconds`` holds at the workload's
   nominal pass time, each in a seed-shuffled key order;
4. checks every collected result against its DuckDB oracle (untimed).

With ``--trace 0`` it reports the end-to-end metrics; with ``--trace 1``
it alternates untraced and traced warm passes and reports the per-layer
metrics, the span self times and the tracing overhead. The last line of
standard output is one JSON object; README.md lists every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "presto_truffle_spark"
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import oracle  # noqa: E402
import probes  # noqa: E402
from spans import Tracer  # noqa: E402

# bench.py's HEADLINE set, copied so that a change there cannot move
# this benchmark's numbers.
HEADLINE = [
    "q6",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_topk_per_group",
    "events_session_window",
    "events_asof_join",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_tfidf_top_terms",
]
# Keys that write files and read them back within the same query: a CSV
# round trip, a partitioned parquet sink, and the merge-upsert and CDC
# lakehouse patterns.
LAKEHOUSE = [
    "source_csv_roundtrip",
    "sink_partitioned_parquet",
    "lakehouse_merge_upsert",
    "lakehouse_cdc_apply",
]
Q6_KEY = "q6_inmem"
Q6_ROWS = 5_000_000
Q6_ORACLE = """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS passing_rows
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""

# "warmup" is the number of untimed passes between the cold pass and the
# measured ones; the last of them collects the results for the oracle. The
# JIT speeds the sf0.01 keys up most between their first and third run,
# and Q6 over the cached rows for about twenty runs; the per-pass medians
# of end_to_end() absorb a first measured pass that is still a little
# slow, and more warm-up would not fit the run-time budget (README.md,
# "Scope"). "pass_s" is a warm pass's wall time on a 4-core host, which
# sets how many measured passes --seconds holds.
WORKLOADS = {
    "q6_inmem": {"sf": None, "keys": [Q6_KEY], "warmup": 20, "pass_s": 0.4},
    "headline_sf001": {"sf": 0.01, "keys": HEADLINE, "warmup": 1, "pass_s": 6.5},
    "lakehouse_rw_sf001": {"sf": 0.01, "keys": LAKEHOUSE, "warmup": 1, "pass_s": 5.0},
}
# The input data is the same in every run, as the fixtures are (they too
# are generated with seed 42); --seed decides the key order of each pass.
DATA_SEED = 42
EMPTY_JOBS = 5
# Printed in the table but left out of the result line: a healthy run reads
# an error rate of 0, and peak RSS moves by 30 % from run to run with the
# JVM's heap growth (memory_mb, read after a full GC, is the steady form).
TABLE_ONLY = ("error_rate", "peak_rss_mb")


def median(v):
    return statistics.median(v) if v else 0.0


def p90(v):
    if len(v) < 2:
        return v[0] if v else 0.0
    return statistics.quantiles(v, n=10, method="inclusive")[-1]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def q6_inmem(li):
    """TPC-H Q6 as the reference runs it over in-memory rows, with the
    repository's oracle convention of rounding float sums on both sides."""
    from pyspark.sql import functions as F

    return li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("date"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("passing_rows"),
    )


class Run:
    """State of one benchmark run: session, inputs, samples and spans."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.keys = self.wl["keys"]
        self.work = work
        self.data_dir = args.data_dir or os.path.join(work, "data")
        self.tmp_dir = os.path.join(ROOT, ".tmp")
        self.cpus = str(len(os.sched_getaffinity(0)))
        self.tracer = Tracer()
        self.spark = None
        self.samples: list[dict] = []
        self.passes: list[dict] = []
        self.setup: dict = {}
        self.results: dict = {}  # key -> (columns, rows) or error text
        self.tables: list[str] = []  # catalog tables the oracles name

    # -- set-up ---------------------------------------------------------
    def prepare_data(self) -> None:
        """Write the input tables; untimed, as the fixtures exist before a
        session starts."""
        t0 = time.perf_counter()
        if self.wl["sf"] is not None and not self.args.data_dir:
            datagen.write_tables(self.data_dir, self.wl["sf"], DATA_SEED)
        self.setup["datagen_s"] = time.perf_counter() - t0

    def start(self) -> None:
        """The timed set-up: session (launching the JVM), registry import
        and, for ``q6_inmem``, generating and caching the rows."""
        t0 = time.perf_counter()
        from presto_truffle_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}", cpus=self.cpus)
        t1 = time.perf_counter()
        from presto_truffle_spark import registry

        queries = registry.get_queries()
        self.oracles = registry.get_oracles()
        t2 = time.perf_counter()
        if self.wl["sf"] is None:
            from presto_truffle_spark.sources.generator import generate_lineitem_df

            li = generate_lineitem_df(self.spark, Q6_ROWS, seed=DATA_SEED)
            li.cache().count()
            self.builders = {Q6_KEY: lambda spark, sf_dir: q6_inmem(li)}
            self.q6_rows = li
        else:
            self.builders = {k: queries[k] for k in self.keys}
            self.tables = sorted(set().union(
                *(oracle.tables_in(self.oracles.get(k, ""), datagen.TABLES) for k in self.keys)
            ))
        t3 = time.perf_counter()
        self.setup.update(session_s=t1 - t0, registry_s=t2 - t1, data_s=t3 - t2,
                          total_s=t3 - t0)

    # -- one query ------------------------------------------------------
    def run_query(self, key: str, pass_no: int, phase: str, traced: bool):
        """Build and materialize one key; returns its sample."""
        spark, fn = self.spark, self.builders[key]
        s = {"key": key, "pass": pass_no, "phase": phase, "traced": traced,
             "error": None}
        try:
            if not traced:
                t0 = time.perf_counter()
                df = fn(spark, self.data_dir)
                t1 = time.perf_counter()
                materialize(df)
                t2 = time.perf_counter()
                s.update(total_s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)
                return s
            tr = self.tracer
            j0 = probes.next_job_id(spark)
            with tr.span("query", key=key, pass_no=pass_no) as q:
                with tr.span("build", q) as b:
                    df = fn(spark, self.data_dir)
                j1 = probes.next_job_id(spark)
                with tr.span("plan", q) as pl:
                    phases = probes.plan_phases_ms(df)
                j2 = probes.next_job_id(spark)
                with tr.span("exec", q) as ex:
                    materialize(df)
                j3 = probes.next_job_id(spark)
            probes.drain_listener(spark)
            b["jobs"], pl["jobs"] = j1 - j0, j2 - j1
            ex.update(probes.job_counts(spark, j2, j3))
            s.update(
                total_s=q["end"] - q["start"],
                build_s=b["end"] - b["start"],
                exec_s=ex["end"] - ex["start"],
                build_jobs=b["jobs"],
                exec_jobs=ex["jobs"],
                exec_stages=ex["stages"],
                exec_tasks=ex["tasks"],
                phases=phases,
            )
        except Exception as e:  # a failing query is counted, not fatal
            s["error"] = short_error(e)
        return s

    # -- passes ---------------------------------------------------------
    def order(self, pass_no: int) -> list[str]:
        """The cold pass runs the keys in their listed order, as a
        correctness run that walks the registry does (which key goes first decides who pays
        the JVM and Python-worker warm-up); later passes in a seeded
        shuffle."""
        if pass_no == 0:
            return list(self.keys)
        rng = random.Random(f"{self.args.seed}:{pass_no}")
        return rng.sample(self.keys, len(self.keys))

    def run_pass(self, pass_no: int, phase: str, traced: bool = False) -> dict:
        """One pass over the keys."""
        p = {"pass": pass_no, "phase": phase, "traced": traced}
        if traced:
            p.update(self.layer_probes())
        tmp_before = probes.dir_bytes(self.tmp_dir)
        wall0 = time.time()
        t0 = time.perf_counter()
        for key in self.order(pass_no):
            self.samples.append(self.run_query(key, pass_no, phase, traced))
        p["wall_s"] = time.perf_counter() - t0
        p["query_s"] = sum(s.get("total_s", 0.0) for s in self.samples
                           if s["pass"] == pass_no)
        p["tmp_written_mb"] = probes.dir_bytes(self.tmp_dir, since=wall0) / 2**20
        p["tmp_growth_mb"] = (probes.dir_bytes(self.tmp_dir) - tmp_before) / 2**20
        if traced:
            p["cached_mb"] = probes.cached_mb(self.spark)
        self.passes.append(p)
        return p

    def layer_probes(self) -> dict:
        """Catalog loads and the scheduler floor, timed between passes."""
        spark, tr = self.spark, self.tracer
        out = {"load_table_ms": [], "load_table_jobs": 0, "empty_job_ms": []}
        from presto_truffle_spark.catalog import load_table

        for t in sorted(self.tables):
            j0 = probes.next_job_id(spark)
            with tr.span("catalog.load_table", table=t) as s:
                load_table(spark, self.data_dir, t)
            out["load_table_ms"].append((s["end"] - s["start"]) * 1e3)
            out["load_table_jobs"] += probes.next_job_id(spark) - j0
        for _ in range(EMPTY_JOBS):
            with tr.span("sched.empty_job") as s:
                probes.run_empty_job(spark)
            out["empty_job_ms"].append((s["end"] - s["start"]) * 1e3)
        return out

    # -- oracle -----------------------------------------------------------
    def collect_results(self) -> None:
        """The last warm-up pass: build and collect every key, untimed.
        Each key has run at least once before in the same session, so
        state that its earlier runs left behind (memos, files it wrote)
        and that it reads stale changes this result."""
        for key in self.keys:
            try:
                got = collect(self.builders[key](self.spark, self.data_dir))
            except Exception as e:
                got = short_error(e)
            self.results[key] = got

    def check(self) -> dict[str, str]:
        """Compare each key's collected result with DuckDB; returns
        key -> cause for every key that does not match."""
        if self.wl["sf"] is None:
            dump = os.path.join(self.work, "q6_rows")
            self.q6_rows.write.mode("overwrite").parquet(dump)
            con = oracle.duck_connect(dump, [])
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{dump}/*.parquet'")
            sqls = {Q6_KEY: Q6_ORACLE}
        else:
            con = oracle.duck_connect(self.data_dir, datagen.TABLES)
            sqls = self.oracles
        bad = {}
        for key in self.keys:
            got = self.results[key]
            if isinstance(got, str):
                bad[key] = f"spark error {got}"
            elif key not in sqls:
                bad[key] = "no oracle registered"
            else:
                try:
                    why = oracle.compare(*got, *oracle.run_duck(con, sqls[key]))
                except Exception as e:
                    why = f"duckdb error {short_error(e)}"
                if why:
                    bad[key] = why
        con.close()
        return bad


def short_error(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"


def collect(df):
    """(columns, rows) of ``df``, or the error text if collecting fails."""
    try:
        return df.columns, [tuple(r) for r in df.collect()]
    except Exception as e:
        return short_error(e)


def error_accounting(samples: list[dict], bad: dict[str, str]) -> tuple[int, int]:
    """(attempted, failed): a query fails if it raised or if its key's
    result did not match the oracle."""
    failed = sum(1 for s in samples if s["error"] or s["key"] in bad)
    return len(samples), failed


def end_to_end(run: Run, plain: list[dict], mem: dict,
               attempted: int, failed: int) -> dict:
    """The warm metrics are each measured pass's p50, p90 and queries per
    second of pass wall time, and then the median over the untraced
    measured passes, so that one pass slowed by the host moves none of
    them."""
    cold = [p for p in run.passes if p["phase"] == "cold"]
    p50s, p90s, qps = [], [], []
    for p in run.passes:
        if p["phase"] != "measure" or p["traced"]:
            continue
        times = [s["total_s"] for s in plain if s["pass"] == p["pass"]]
        if times:
            p50s.append(median(times))
            p90s.append(p90(times))
            qps.append(len(times) / p["wall_s"])
    return {
        "setup_s": (run.setup["total_s"], "s"),
        "cold_pass_s": (cold[0]["query_s"], "s"),
        "query_p50_s": (median(p50s), "s"),
        "query_p90_s": (median(p90s), "s"),
        "throughput_qps": (median(qps), "1/s"),
        "memory_mb": (mem["python_peak_rss"] + mem["heap"] + mem["non_heap"], "MB"),
        "peak_rss_mb": (mem["python_peak_rss"] + mem["jvm_peak_rss"], "MB"),
        "error_rate": (failed / attempted, "ratio"),
    }


def per_layer(run: Run, warm: list[dict], plain: list[dict]) -> dict:
    traced_passes = [p for p in run.passes if p["traced"]]
    tq = [s for s in warm if s["traced"]]

    def per_pass(field):
        return median(
            [sum(s[field] for s in tq if s["pass"] == p["pass"]) for p in traced_passes]
        )

    selfs = run.tracer.self_times_ms()
    load_ms = [x for p in traced_passes for x in p["load_table_ms"]]
    return {
        "session.get_spark_s": (run.setup["session_s"], "s"),
        "registry.get_queries_s": (run.setup["registry_s"], "s"),
        "catalog.load_table_p50_ms": (median(load_ms), "ms"),
        "catalog.load_table_calls": (len(run.tables), "count"),
        "catalog.load_table_jobs": (median([p["load_table_jobs"] for p in traced_passes]), "count"),
        "build_p50_ms": (median([s["build_s"] * 1e3 for s in tq]), "ms"),
        "build_jobs": (per_pass("build_jobs"), "count"),
        "plan.analysis_ms": (median([s["phases"]["analysis"] for s in tq]), "ms"),
        "plan.optimization_ms": (median([s["phases"]["optimization"] for s in tq]), "ms"),
        "plan.planning_ms": (median([s["phases"]["planning"] for s in tq]), "ms"),
        "exec_p50_ms": (median([s["exec_s"] * 1e3 for s in tq]), "ms"),
        "exec_jobs": (per_pass("exec_jobs"), "count"),
        "exec_stages": (per_pass("exec_stages"), "count"),
        "exec_tasks": (per_pass("exec_tasks"), "count"),
        "sched.empty_job_ms": (median([x for p in traced_passes for x in p["empty_job_ms"]]), "ms"),
        "storage.cached_mb": (median([p["cached_mb"] for p in traced_passes]), "MB"),
        "sink.bytes_written_mb": (median([p["tmp_written_mb"] for p in run.passes if p["pass"]]), "MB"),
        "sink.tmp_growth_mb": (median([p["tmp_growth_mb"] for p in run.passes if p["pass"]]), "MB"),
        "trace.overhead_ms": (
            (median([s["total_s"] for s in tq]) - median([s["total_s"] for s in plain])) * 1e3,
            "ms",
        ),
        "self.query_ms": (selfs.get("query", 0.0), "ms"),
        "self.plan_ms": (selfs.get("plan", 0.0), "ms"),
    }


def confine_scratch(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the run directory."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.chdir(work)  # spark-warehouse / metastore files land here


def stop_spark(spark) -> None:
    """Stop the session and the JVM that PySpark launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", help="read the input tables from this directory of "
                    "<table>.parquet files instead of generating them")
    args = ap.parse_args(argv)
    if args.data_dir:
        args.data_dir = os.path.abspath(args.data_dir)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
    out_dir = os.path.join(BENCH_DIR, ".out")
    os.makedirs(out_dir, exist_ok=True)
    config = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "loadavg_start": probes.loadavg(),
    }
    confine_scratch(work)
    run = Run(args, work)
    try:
        run.prepare_data()
        run.start()
        spark = run.spark
        config.update(
            nproc=run.cpus,
            spark_version=spark.version,
            jvm_version=spark._jvm.java.lang.System.getProperty("java.version"),
            data_dir=None if run.wl["sf"] is None else run.data_dir,
            data_seed=None if args.data_dir else DATA_SEED,
            scale_factor=run.wl["sf"],
            q6_rows=Q6_ROWS if run.wl["sf"] is None else None,
        )
        run.run_pass(0, "cold")
        warmup = run.wl["warmup"]
        for n in range(1, warmup):
            run.run_pass(n, "warmup")
        run.collect_results()
        # Measured passes: as many as --seconds holds at the workload's
        # nominal pass time, so that a busy host does not change how much a
        # run measures; at least one (two when tracing, untraced and traced
        # in turn).
        n_measure = max(1 + args.trace, round(args.seconds / run.wl["pass_s"]))
        for n in range(1, n_measure + 1):
            run.run_pass(warmup + n, "measure", traced=bool(args.trace) and n % 2 == 0)
        config["jvm_gc_end"] = probes.gc_totals(spark)
        mem = {"python_peak_rss": probes.peak_rss_mb([os.getpid()]),
               "jvm_peak_rss": probes.peak_rss_mb([probes.jvm_pid(spark)]),
               **probes.jvm_retained_mb(spark)}
        bad = run.check()
        config.update(
            loadavg_1min_end=probes.loadavg()[0],
            mem_available_mb_end=probes.mem_available_mb(),
        )
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        os.chdir(BENCH_DIR)
        shutil.rmtree(work, ignore_errors=True)

    warm = [s for s in run.samples if s["phase"] == "measure" and not s["error"]]
    plain = [s for s in warm if not s["traced"]]
    attempted, failed = error_accounting(run.samples, bad)
    e2e = end_to_end(run, plain, mem, attempted, failed)
    metrics = per_layer(run, warm, plain) if args.trace else e2e
    growth = [p["tmp_growth_mb"] for p in run.passes if p["pass"]]
    tmp_defect = bool(growth) and min(growth) > 0

    tag = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(
            {"config": config, "memory_mb": mem, "setup": run.setup, "passes": run.passes,
             "samples": run.samples, "oracle_failures": bad,
             "end_to_end": e2e, "metrics": metrics, "tmp_growth_defect": tmp_defect},
            f, indent=1, default=str,
        )
    if args.trace:
        run.tracer.write(os.path.join(out_dir, tag + ".spans.jsonl"))

    n_plain = len(plain)
    n_passes = len({s["pass"] for s in plain})
    print(f"perfbench {tag}")
    print("config " + json.dumps(config, default=str))
    for name, (value, unit) in metrics.items():
        extra = ""
        if name in ("query_p50_s", "query_p90_s", "throughput_qps"):
            extra = f"n={n_plain} over {n_passes} passes"
        elif name == "error_rate":
            extra = f"attempted={attempted} failed={failed}"
        print(f"  {name:<28} {value:>14.6f} {unit:<6} {extra}")
    for key, why in sorted(bad.items()):
        print(f"FAIL {key}: {why}")
    for s in run.samples:
        if s["error"]:
            print(f"ERROR {s['key']} pass {s['pass']}: {s['error']}")
    if tmp_defect:
        print(f"DEFECT .tmp grew on every warm pass: {growth} MB")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()
                    if n not in TABLE_ONLY},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
