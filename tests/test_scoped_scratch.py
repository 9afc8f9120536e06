"""Scratch dirs used by write-then-read queries must be session-scoped.

r8 verdict: ``ann_ivfpq_index_build`` wrote its index to a FIXED path, so
a driver correctness run and a concurrent selfcheck could read each
other's half-written parquet. All write→read scratch call sites now go
through ``_scoped_scratch`` (applicationId-suffixed, stale-session sweep
on entry).
"""

from __future__ import annotations

import ast
import os

from presto_truffle_spark.sources.io import _SCRATCH, _scoped_scratch


def test_scoped_path_carries_application_id(spark):
    p = _scoped_scratch(spark, "scoped_test_op")
    assert p.endswith(f"scoped_test_op_app-{spark.sparkContext.applicationId}")
    assert os.path.dirname(p) == _SCRATCH


def test_stale_session_dirs_swept_on_entry(spark):
    """Only dirs OLDER than the age gate are swept: a fresh foreign dir
    may belong to a live concurrent session (driver_env_sim r9 caught an
    unconditional sweep deleting a live session's files mid-query)."""
    from presto_truffle_spark.sources.io import _SWEEP_AGE_S

    stale = os.path.join(_SCRATCH, "scoped_test_op_app-application_000_dead")
    fresh = os.path.join(_SCRATCH, "scoped_test_op_app-application_001_live")
    os.makedirs(stale, exist_ok=True)
    os.makedirs(fresh, exist_ok=True)
    old = __import__("time").time() - _SWEEP_AGE_S - 60
    os.utime(stale, (old, old))
    live = _scoped_scratch(spark, "scoped_test_op")
    os.makedirs(live, exist_ok=True)
    _scoped_scratch(spark, "scoped_test_op")
    assert not os.path.exists(stale)  # old foreign dir: swept
    assert os.path.exists(fresh)  # recent foreign dir: possibly live, kept
    assert os.path.exists(live)
    os.rmdir(fresh)


def test_sweep_is_prefix_exact(spark):
    """An op whose name extends another's must not sweep the other's dirs,
    even when they are old enough to qualify."""
    from presto_truffle_spark.sources.io import _SWEEP_AGE_S

    other = os.path.join(_SCRATCH, "scoped_test_op_extended_app-application_x")
    os.makedirs(other, exist_ok=True)
    old = __import__("time").time() - _SWEEP_AGE_S - 60
    os.utime(other, (old, old))
    _scoped_scratch(spark, "scoped_test_op")
    assert os.path.exists(other)
    os.rmdir(other)


PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "presto_truffle_spark")


def _package_trees():
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                yield os.path.relpath(path, PKG), ast.parse(open(path).read())


def test_no_query_module_uses_unscoped_scratch():
    """Every write→read query goes through the app-scoped helper; the bare
    ``_scratch`` survives only for single-session test fixtures."""
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, tree in _package_trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "_scratch"
    ]
    assert not offenders, f"unscoped scratch call sites: {offenders}"


def test_session_state_has_one_home():
    """Confs are read only by ``session.scoped_conf`` (and ``session.py``);
    operators key no state on the application id themselves — cached frames
    go through ``cache.session_memo``/``scoped_persist`` and scratch dirs
    through ``io._scoped_scratch``."""
    offenders = []
    for rel, tree in _package_trees():
        for node in ast.walk(tree):
            if (
                rel != "session.py"
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "get"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
            ):
                offenders.append(f"{rel}:{node.lineno} reads a conf")
            if (
                rel.startswith("operators" + os.sep)
                and isinstance(node, ast.Attribute)
                and node.attr == "applicationId"
            ):
                offenders.append(f"{rel}:{node.lineno} reads applicationId")
    assert not offenders, offenders
