"""Query registry: the single source of truth for ``__spark_entry__``.

Every operator module registers its queries with the ``@query`` decorator;
``queries()`` / ``oracle_sql()`` in ``__spark_entry__.py`` read the
assembled dicts. Keeping the Spark implementation and its DuckDB oracle SQL
adjacent (same decorator call) is our version of the reference's
golden-value-in-a-comment test strategy (``TpchQuery6.java:38-39``), scaled
up to differential testing per SURVEY.md §5.2.

Conventions (FIXTURES.md "Oracle conventions"):
  * every computed/aggregate column aliased identically on both sides;
  * float aggregates rounded on both sides (hash is exact-match);
  * queries with no SQL-expressible oracle register ``oracle=None`` and get
    the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as queries()[name], with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


_LOADED = False


def load_all_modules() -> None:
    """Import every operator module so decorators run. Idempotent."""
    global _LOADED
    if _LOADED:
        return
    # Imports are inside the function to avoid circular imports (operator
    # modules import `query` from this module).
    #
    # ORDER MATTERS: the driver hard-verifies queries in registration order
    # (= import order here) and in round 1 only reached the first 50.  Round 2
    # therefore registers the previously-unverified surface FIRST — the
    # LLM-pipeline block (dedup/similarity/text/multimodal/pipelines), the
    # TPC-H battery, coverage extras, sources, rewrites, streaming — and
    # rotates the round-1-verified relational/agg/join/window/setop/scalar
    # modules to the end.
    from presto_truffle_spark.operators import (  # noqa: F401
        dedup,
        similarity,
        text,
        multimodal,
        pipelines,
        tpch,
        coverage_round2,
        timeseries,
        aggregates,
        corpus_ops,
    )
    from presto_truffle_spark.plans import rewrites  # noqa: F401
    from presto_truffle_spark.operators import coverage_extras  # noqa: F401
    from presto_truffle_spark.sources import io  # noqa: F401
    from presto_truffle_spark.streaming import (  # noqa: F401
        stateful,
        windows as streaming_windows,
    )
    from presto_truffle_spark.operators import (  # noqa: F401
        relational,
        joins,
        windows,
        setops,
        scalar_funcs,
    )
    # Late-r2 additions — registered last so the driver's round-2 window
    # (first 50) is untouched; rotate forward in round 3.
    from presto_truffle_spark.operators import quality_ops  # noqa: F401

    # Round-3 additions — registered after the (exactly-50) round-3 verify
    # window, which is fully claimed by the never-verified backlog; these
    # queue for the round-4 rotation. Selfcheck covers them meanwhile.
    from presto_truffle_spark.operators import tpch_round3  # noqa: F401
    from presto_truffle_spark.operators import timeseries_advanced  # noqa: F401
    from presto_truffle_spark.operators import matching_ops  # noqa: F401
    from presto_truffle_spark.operators import lakehouse_ops  # noqa: F401

    _LOADED = True


# The driver hard-verifies the FIRST 50 queries in dict order per round.
# Round 8 proved a hand-edited window can silently freeze (the round ran 0
# turns and the scheduled rotation never executed), so since round 9 the
# window is DERIVED from the checked-in driver evidence itself
# (CORRECTNESS_r*.json): a stalled round still advances evidence the next
# time the registry is imported, because the ledger on disk has moved.
#
# Priority order (matches tools/rotation_helper.py):
#   1. _FORCE_HEAD — rows whose CODE changed since their last green driver
#      row ("stale greens": r4 proved selfcheck-green != driver-green).
#      Code staleness needs git archaeology and stays a hand-maintained
#      list; keep it SHORT and prune entries once re-greened.
#   2. never-green rows (no passing row in any CORRECTNESS file), in
#      registration order — new registrations land here automatically.
#   3. everything else by OLDEST last-green round, registration order as
#      the tie-break — evidence re-confirmation cycles oldest-first.
#
# tests/test_registry_rotation.py recomputes this independently from the
# same JSON files and asserts the promoted window matches.
# name -> the latest ledger round whose green row the code change
# invalidated. The entry auto-unpins once a LATER round shows the query
# green (the driver re-verified the staled code); until then it heads
# the window. A further code change bumps the number by hand.
_FORCE_HEAD: dict[str, int] = {
    # Staled at 18: every key whose @query block changed when the
    # session-state helpers were consolidated (cache.session_memo,
    # session.scoped_conf, io._scoped_scratch used directly).
    # Scratch paths now come from io._scoped_scratch directly:
    "source_schema_evolution": 18,
    "sink_zorder_layout": 18,
    "sink_zorder_incremental": 18,
    "lakehouse_incremental_agg": 18,
    "lakehouse_merge_upsert": 18,
    "lakehouse_incremental_join": 18,
    "lakehouse_deletion_vectors": 18,
    "lakehouse_clustering_depth": 18,
    "lakehouse_write_audit_publish": 18,
    "streaming_semantic_dedup_indexed": 18,
    # Memo now cache.session_memo:
    "cached_columnar_scan": 18,
    # Conf blocks now session.scoped_conf:
    "rewrite_bloom_filter_join": 18,
    "sql_scripting_threshold": 18,
    "sql_recursive_hierarchy": 18,
    "sql_session_variables": 18,  # docstring reference only
    "streaming_stateful_profile": 18,
    "streaming_foreachbatch_upsert": 18,
    "source_python_stream_datasource": 18,
    # its conf block lives in _tws_profile, which only this key calls
    "streaming_transform_with_state": 18,
}

_WINDOW = 50
_DERIVED: Optional[tuple[str, ...]] = None


def _last_green_rounds() -> dict[str, int]:
    """Latest round with a fully-passing driver row, per query name."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(f.rsplit("_r", 1)[1].split(".")[0])
            data = json.load(open(f))
        except Exception:
            continue  # unreadable ledger file: skip, never crash the registry
        for k, v in data.items():
            ok = (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match", True)
                and not v.get("err")
            )
            if ok:
                out[k] = rnd
    return out


def _verify_first() -> tuple[str, ...]:
    """The derived verify window (cached; QUERIES must be loaded)."""
    global _DERIVED
    if _DERIVED is None:
        last_green = _last_green_rounds()
        # A pin auto-unpins once a round LATER than the one it staled
        # shows the query green: the driver has re-verified the changed
        # code. Entries still failing (or not yet re-run) stay pinned.
        head = [
            q
            for q, staled in _FORCE_HEAD.items()
            if q in QUERIES and last_green.get(q, -1) <= staled
        ]
        rest = [q for q in QUERIES if q not in head]
        # sorted() is stable, so registration order breaks ties within a
        # round; never-green rows (-1) sort before every real round.
        rest.sort(key=lambda q: last_green.get(q, -1))
        _DERIVED = tuple((head + rest)[:_WINDOW])
    return _DERIVED


def _promote(d: dict) -> dict:
    out = {k: d[k] for k in _verify_first() if k in d}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def get_queries() -> dict[str, QueryFn]:
    load_all_modules()
    return _promote(QUERIES)


def get_oracles() -> dict[str, str]:
    load_all_modules()
    return _promote(ORACLES)
