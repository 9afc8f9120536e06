"""scoped_persist bounds live caches to one frame per call site
(ADVICE r5: bare persists inside query builders accumulated storage
across the 197-query battery with no unpersist point); session_memo
shares one cached frame per key within an application; scoped_conf
leaves the session's confs as it found them."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from presto_truffle_spark.cache import _LIVE, input_bytes, scoped_persist, session_memo
from presto_truffle_spark.session import scoped_conf


def _storage_fraction_used(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_reinvocation_releases_previous_cache(spark):
    a = spark.range(100).selectExpr("id", "id * 2 AS v")
    b = spark.range(100).selectExpr("id", "id * 3 AS v")

    ca = scoped_persist(spark, "test.site", a)
    ca.count()  # materialize the cache
    assert _storage_fraction_used(ca)

    cb = scoped_persist(spark, "test.site", b)
    # the previous frame was unpersisted on re-entry
    assert not _storage_fraction_used(ca)
    assert _storage_fraction_used(cb)
    assert _LIVE["test.site"][1] is cb

    # distinct sites coexist
    cc = scoped_persist(spark, "test.site2", a)
    assert _storage_fraction_used(cb) and _storage_fraction_used(cc)

    scoped_persist(spark, "test.site", spark.range(1)).unpersist()
    cc.unpersist()
    _LIVE.pop("test.site", None)
    _LIVE.pop("test.site2", None)


def test_persisting_queries_register_exactly_one_frame_per_site(spark, sf_dir):
    """Running a scoped-persist query N times leaves ONE live cache entry
    for its site, not N. (``df.storageLevel`` can't test this — the
    CacheManager resolves it by plan equality, and successive invocations
    build identical plans — so count the materialized persistent RDDs.)"""
    from presto_truffle_spark.operators.timeseries_advanced import (
        events_rolling_distinct_users,
    )

    spark.catalog.clearCache()
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(3):
        events_rolling_distinct_users(spark, sf_dir).count()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - baseline <= 1  # 3 runs, at most one live cache
    _LIVE["tsa.rolling_distinct.user_days"][1].unpersist()
    _LIVE.pop("tsa.rolling_distinct.user_days", None)


def test_input_bytes_matches_on_disk_size(sf_dir):
    n = input_bytes(sf_dir, "documents")
    assert n > 0
    # sf0.001 documents is well under the 256 MiB tfidf persist gate
    assert n < 256 << 20


def test_parameterized_sql_binding_drops_cache_substitution_pinned(spark, sf_dir):
    """r10 gotcha, found LIVE by agg_theta_sketch_setops' rescan audit
    (9 FileScans, 0 InMemoryTableScan): binding a PERSISTED DataFrame
    into parameterized SQL — spark.sql("... FROM {df}", df=df) — drops
    the cache entry, and every LATER derivation of the persisted frame
    replans against the raw scan. Operators must stay on the DataFrame
    API (F.expr for SQL-only functions) downstream of a scoped_persist;
    this test pins the behavior so a Spark version that fixes it is
    noticed."""
    from pyspark.sql import functions as F

    spark.catalog.clearCache()
    df = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "user_id")
        .distinct()
    )
    cached = df.persist()
    pre = cached.filter(F.col("event_type") == "click")
    assert "InMemoryRelation" in pre._jdf.queryExecution().optimizedPlan().toString()
    spark.sql("SELECT count(*) AS c FROM {d}", d=cached)
    post = cached.filter(F.col("event_type") == "click")
    # the pinned (current) behavior: substitution is GONE after binding
    assert (
        "InMemoryRelation"
        not in post._jdf.queryExecution().optimizedPlan().toString()
    )
    cached.unpersist()


def _counting_build(spark, calls: list):
    def build():
        calls.append(1)
        return spark.range(10).selectExpr("id", "id * 5 AS v").cache()

    return build


def test_session_memo_returns_the_same_frame_within_an_application(spark):
    calls: list = []
    first = session_memo(spark, ("test.memo", "sf_a"), _counting_build(spark, calls))
    second = session_memo(spark, ("test.memo", "sf_a"), _counting_build(spark, calls))
    assert second is first
    assert len(calls) == 1
    first.unpersist()
    _LIVE.pop(("test.memo", "sf_a"))


def test_session_memo_miss_evicts_other_applications(spark):
    dead_key = ("test.memo", "dead_app")
    dead = spark.range(10).selectExpr("id", "id * 7 AS v").cache()
    dead.count()
    _LIVE[dead_key] = ("application_000_dead", dead)
    assert dead.storageLevel != StorageLevel.NONE

    live = session_memo(spark, ("test.memo", "sf_a"), _counting_build(spark, []))
    assert dead_key not in _LIVE
    assert dead.storageLevel == StorageLevel.NONE  # unpersisted, not just dropped
    assert _LIVE[("test.memo", "sf_a")][1] is live
    live.unpersist()
    _LIVE.pop(("test.memo", "sf_a"))


def test_session_memo_keeps_distinct_keys_side_by_side(spark):
    calls: list = []
    a = session_memo(spark, ("test.memo", "sf_a"), _counting_build(spark, calls))
    b = session_memo(spark, ("test.memo", "sf_b"), _counting_build(spark, calls))
    assert a is not b
    assert session_memo(spark, ("test.memo", "sf_a"), _counting_build(spark, calls)) is a
    assert session_memo(spark, ("test.memo", "sf_b"), _counting_build(spark, calls)) is b
    assert len(calls) == 2
    for k, df in ((("test.memo", "sf_a"), a), (("test.memo", "sf_b"), b)):
        df.unpersist()
        _LIVE.pop(k)


_KEY_A = "spark.prestotruffle.test.scopedA"
_KEY_B = "spark.prestotruffle.test.scopedB"


def test_scoped_conf_restores_a_set_key(spark):
    spark.conf.set(_KEY_A, "before")
    with scoped_conf(spark, {_KEY_A: "inside"}):
        assert spark.conf.get(_KEY_A) == "inside"
    assert spark.conf.get(_KEY_A) == "before"
    spark.conf.unset(_KEY_A)


def test_scoped_conf_unsets_an_unset_key(spark):
    assert spark.conf.get(_KEY_A, None) is None
    with scoped_conf(spark, {_KEY_A: "inside"}):
        assert spark.conf.get(_KEY_A) == "inside"
    assert spark.conf.get(_KEY_A, None) is None


def test_scoped_conf_restores_when_the_body_raises(spark):
    spark.conf.set(_KEY_A, "before")
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {_KEY_A: "inside", _KEY_B: "inside"}):
            raise RuntimeError("boom")
    assert spark.conf.get(_KEY_A) == "before"
    assert spark.conf.get(_KEY_B, None) is None
    spark.conf.unset(_KEY_A)


def test_scoped_conf_sets_and_restores_several_keys(spark):
    spark.conf.set(_KEY_A, "before")
    with scoped_conf(spark, {_KEY_A: "a", _KEY_B: "b"}):
        assert (spark.conf.get(_KEY_A), spark.conf.get(_KEY_B)) == ("a", "b")
    assert spark.conf.get(_KEY_A) == "before"
    assert spark.conf.get(_KEY_B, None) is None
    spark.conf.unset(_KEY_A)
