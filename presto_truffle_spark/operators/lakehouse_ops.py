"""Lakehouse layout operators: schema-evolution reads and Z-order
(Morton-curve) clustered layout for multi-dimensional data skipping.

[EXT] surface — the table-layout capabilities a long-lived 100 TB lake
needs: old and new file generations with different schemas read as one
table, and a write layout that clusters rows so BOTH of two query
dimensions prune well from parquet min/max footer stats.

Scale posture:
  * Schema evolution is metadata-only — ``mergeSchema`` unions footers at
    planning time; absent columns materialize as nulls per file, no data
    rewrite. That is the only viable path when a 100 TB table gains a
    column (rewriting history is off the table).
  * Z-ordering is pure row-side bit arithmetic + one range-ish shuffle on
    the computed key; the payoff is that a file covers a small *square*
    in (dim1, dim2) space instead of a thin slice of one dimension, so
    min/max skipping works for predicates on either dimension. The
    per-bucket min/max spans in the output are exactly the stats a scan
    planner would prune on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_truffle_spark.catalog import load_table
from presto_truffle_spark.registry import query
from presto_truffle_spark.sources.io import _scoped_scratch


@query(
    "source_schema_evolution",
    oracle="""
    WITH unified AS (
        SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        FROM orders WHERE year(o_orderdate) = 1995
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders WHERE year(o_orderdate) = 1996
    )
    SELECT coalesce(o_orderpriority, '<absent>') AS priority,
           count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM unified
    GROUP BY 1
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: generation 1 files lack a column that
    generation 2 added; ``mergeSchema=true`` reads both generations as one
    table, nulling the absent column in old files.

    Gen-1 = 1995 orders written WITHOUT o_orderpriority; gen-2 = 1996
    orders written with it. The merged read then aggregates per priority,
    with gen-1 rows surfacing under '<absent>'. Merging is footer-level
    planning work — per-file schemas union into the widest schema, old
    data is never rewritten — which is why adding a column to a 100 TB
    table is O(1) in data volume. The oracle rebuilds the same union from
    the base table.
    """
    o = load_table(spark, sf_dir, "orders")
    root = _scoped_scratch(spark, "orders_evolving")
    (
        o.where(F.year("o_orderdate") == 1995)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "gen=1"))
    )
    (
        o.where(F.year("o_orderdate") == 1996)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "gen=2"))
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "gen=1"), os.path.join(root, "gen=2")
    )
    return (
        merged.groupBy(
            F.coalesce("o_orderpriority", F.lit("<absent>")).alias("priority")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("total_cents"),
        )
    )


# 16-bit × 16-bit Morton (Z-curve) interleave, generated per engine because
# the shift spelling differs (Spark: shiftleft/shiftright functions; DuckDB:
# << / >> operators). 16 bits/dim covers this fixture's key ranges; a
# production layout sizes bits to the dimension cardinality.
_N_BITS = 16


def _z_spark(x: str, y: str) -> str:
    terms = []
    for i in range(_N_BITS):
        terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
    return " + ".join(terms)


def _z_duckdb(x: str, y: str) -> str:
    terms = []
    for i in range(_N_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH keyed AS (
    SELECT CAST(o_custkey AS BIGINT) AS x,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                AS BIGINT) AS y
    FROM orders
),
z AS (SELECT x, y, {_z_duckdb('x', 'y')} AS zval FROM keyed)
SELECT CAST(zval >> 20 AS BIGINT) AS z_bucket,
       count(*) AS n,
       min(x) AS min_custkey, max(x) AS max_custkey,
       min(y) AS min_day, max(y) AS max_day
FROM z
GROUP BY 1
"""


@query("sink_zorder_layout", oracle=_ZORDER_ORACLE)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered sink: interleave the bits of (o_custkey,
    days-since-epoch-of-orderdate) into a Morton key, bucket on its high
    bits, write parquet partitioned by bucket, read back, and report each
    bucket's row count and min/max span in BOTH dimensions.

    The output is the data-skipping evidence itself: every 2^20-wide
    z-range covers at most a 1024×1024 square of (custkey, day) space, so
    each written file carries tight min/max footer stats on *both*
    columns — a predicate on either dimension prunes most buckets. A
    single-column sort gets this for one dimension only. The interleave is
    32 shift/mask terms of row-side arithmetic (whole-stage codegen'd);
    the only movement is the partitioned write's shuffle on z_bucket.
    """
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        F.col("o_custkey").cast("bigint").alias("x"),
        F.datediff("o_orderdate", F.lit("1995-01-01")).cast("bigint").alias("y"),
    )
    z = keyed.withColumn("zval", F.expr(_z_spark("x", "y")))
    path = _scoped_scratch(spark, "orders_zorder")
    (
        z.withColumn("z_bucket", F.expr("CAST(zval >> 20 AS BIGINT)"))
        .write.mode("overwrite")
        .partitionBy("z_bucket")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("z_bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("min_custkey"),
        F.max("x").alias("max_custkey"),
        F.min("y").alias("min_day"),
        F.max("y").alias("max_day"),
    )


@query("sink_zorder_incremental", oracle=_ZORDER_ORACLE)
def sink_zorder_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the Z-order layout: the historical bulk
    (orders before 1999) is laid out once, then the newer slice arrives
    as an APPEND into the same bucket-partitioned root — each new file
    lands inside its z-bucket directory, old files are never rewritten.

    This is how a clustered 100 TB table absorbs daily increments: the
    Morton key is a pure row function, so new data routes to the same
    buckets as a full rewrite would, and per-bucket min/max spans stay
    bounded (each bucket now holds base + increment files covering the
    same ≤1024×1024 square). The oracle is IDENTICAL to the one-shot
    layout's — proving append-maintenance converges to the same table
    state as rebuild-from-scratch.
    """
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        F.col("o_custkey").cast("bigint").alias("x"),
        F.datediff("o_orderdate", F.lit("1995-01-01")).cast("bigint").alias("y"),
        F.col("o_orderdate"),
    )
    z = keyed.withColumn("zval", F.expr(_z_spark("x", "y"))).withColumn(
        "z_bucket", F.expr("CAST(zval >> 20 AS BIGINT)")
    )
    path = _scoped_scratch(spark, "orders_zorder_incr")
    base = z.where(F.col("o_orderdate") < F.lit("1999-01-01"))
    incr = z.where(F.col("o_orderdate") >= F.lit("1999-01-01"))
    cols = ["x", "y", "zval", "z_bucket"]
    base.select(*cols).write.mode("overwrite").partitionBy("z_bucket").parquet(
        path
    )
    incr.select(*cols).write.mode("append").partitionBy("z_bucket").parquet(
        path
    )
    back = spark.read.parquet(path)
    return back.groupBy("z_bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("min_custkey"),
        F.max("x").alias("max_custkey"),
        F.min("y").alias("min_day"),
        F.max("y").alias("max_day"),
    )


@query(
    "lakehouse_snapshot_diff",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey AS k,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders WHERE year(o_orderdate) < 1997
    ), v2 AS (
        SELECT o_orderkey AS k,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   * CASE WHEN o_orderkey % 7 = 0 THEN 2 ELSE 1 END AS cents
        FROM orders
        WHERE year(o_orderdate) < 1998 AND o_orderkey % 13 <> 0
    ), classified AS (
        SELECT CASE
                 WHEN v1.k IS NULL THEN 'added'
                 WHEN v2.k IS NULL THEN 'removed'
                 WHEN v1.cents <> v2.cents THEN 'changed'
                 ELSE 'unchanged'
               END AS change_type,
               coalesce(v2.k, v1.k) AS k,
               coalesce(v2.cents, 0) - coalesce(v1.cents, 0) AS delta
        FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    )
    SELECT change_type,
           count(*) AS n,
           CAST(sum(k) AS BIGINT) AS keys_sum,
           CAST(sum(delta) AS BIGINT) AS cents_delta
    FROM classified
    GROUP BY 1
    """,
)
def lakehouse_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the table-versioning primitive every lakehouse
    exposes (Delta CDF / Iceberg changelog shape): classify every key
    across two table versions as added / removed / changed / unchanged
    and report per-class counts, a key checksum, and the net value
    delta.

    Versions are derived deterministically from the base table so the
    oracle can rebuild them: v1 = orders before 1997; v2 = orders before
    1998 minus every 13th key (deletes) with every 7th key's cents
    doubled (updates). The diff itself is version-agnostic: one FULL
    OUTER JOIN on the key, NULL-side tests for added/removed, value
    compare for changed.

    Scale posture: a single key-partitioned shuffle joins the two
    snapshots (at 100 TB both sides are parquet scans that co-partition
    on the join key; with bucketed tables the shuffle disappears
    entirely), then a K=4-row aggregate. No broadcast of anything that
    grows; the classification is row-local CASE logic in whole-stage
    codegen. Cents stay exact BIGINTs end-to-end (FIXTURES.md
    convention) so the delta sum is hash-stable.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    v1 = o.where(F.year("o_orderdate") < 1997).select(
        F.col("o_orderkey").alias("k1"), cents.alias("cents1")
    )
    v2 = (
        o.where((F.year("o_orderdate") < 1998) & (F.col("o_orderkey") % 13 != 0))
        .select(
            F.col("o_orderkey").alias("k2"),
            (
                cents
                * F.when(F.col("o_orderkey") % 7 == 0, F.lit(2)).otherwise(
                    F.lit(1)
                )
            ).alias("cents2"),
        )
    )
    joined = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
    change_type = (
        F.when(F.col("k1").isNull(), F.lit("added"))
        .when(F.col("k2").isNull(), F.lit("removed"))
        .when(F.col("cents1") != F.col("cents2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    classified = joined.select(
        change_type.alias("change_type"),
        F.coalesce("k2", "k1").alias("k"),
        (
            F.coalesce("cents2", F.lit(0)) - F.coalesce("cents1", F.lit(0))
        ).alias("delta"),
    )
    return classified.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("keys_sum"),
        F.sum("delta").cast("bigint").alias("cents_delta"),
    )


@query(
    "lakehouse_incremental_agg",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents,
           CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS min_cents,
           CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS max_cents
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def lakehouse_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance for distributive
    aggregates: the historical bulk's PARTIAL aggregate state (count,
    sum, min, max per group — every piece merge-able) is materialized
    once to the lake; when the new slice arrives, only ITS partials are
    computed and the view refresh is a tiny merge
    (sum-of-counts / sum-of-sums / min-of-mins / max-of-maxes) — the
    base FACTS are never rescanned. The oracle recomputes the aggregate
    from scratch: equality IS the MV maintenance theorem for
    distributive aggregates, checked end-to-end through a real
    write/read of the state table.

    At 100 TB this is the difference between a daily full-table
    aggregation and touching only the day's increment: partial state is
    O(groups), the merge is O(groups), and non-distributive metrics
    (avg) derive downstream from the carried sum+count (repo
    convention). Algebraic/holistic aggregates (median, distinct) need
    sketch state instead — agg_sketch_rollup / agg_bitmap_distinct_rollup
    cover that half."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
        )

    split = F.lit("1997-01-01")
    state_path = _scoped_scratch(spark, "agg_state_base")
    partials(o.where(F.col("o_orderdate") < split)).write.mode(
        "overwrite"
    ).parquet(state_path)

    base_state = spark.read.parquet(state_path)
    delta_state = partials(o.where(F.col("o_orderdate") >= split))
    return (
        base_state.unionByName(delta_state)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        )
    )


@query(
    "lakehouse_merge_upsert",
    oracle="""
    WITH tgt AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders WHERE year(o_orderdate) < 1997
    ), src AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 2 AS cents,
               (o_orderkey % 11 = 0) AS del
        FROM orders
        WHERE (year(o_orderdate) < 1997 AND o_orderkey % 3 = 0)
           OR (year(o_orderdate) = 1997 AND o_orderkey % 5 = 0)
    ), merged AS (
        SELECT t.k, t.st, t.cents
        FROM tgt t LEFT JOIN src s ON s.k = t.k
        WHERE s.k IS NULL
        UNION ALL
        SELECT s.k, s.st, s.cents FROM src s WHERE NOT s.del
    )
    SELECT st, count(*) AS n,
           CAST(sum(k) AS BIGINT) AS keys_sum,
           CAST(sum(cents) AS BIGINT) AS cents_sum
    FROM merged GROUP BY st
    """,
)
def lakehouse_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO (SCD1 upsert + delete) — the write-side primitive
    every lakehouse table format exposes, here as the format-agnostic
    rewrite Spark executes under the hood when no transaction log exists:

      WHEN MATCHED AND src.del     THEN DELETE
      WHEN MATCHED                 THEN UPDATE SET * (source wins)
      WHEN NOT MATCHED AND NOT del THEN INSERT *

    ≡ target-rows-without-match ∪ source-rows-not-flagged-delete — one
    left-anti join plus a filtered source scan, the minimal-shuffle
    spelling (both sides hash on the merge key exactly once; with
    bucketed tables the shuffle disappears). The target snapshot is
    WRITTEN to parquet first and the merged result written back and
    re-read, so the query exercises the actual storage round-trip, not
    just the join algebra. Fixture roles are derived deterministically
    from orders (target = pre-1997; source = every 3rd pre-1997 key as
    an UPDATE at doubled cents + every 5th 1997 key as an INSERT; every
    11th source key flagged DELETE) so the DuckDB oracle rebuilds the
    same MERGE from the raw table. Integer-cents discipline throughout;
    unmatched delete-flagged source rows are skipped (standard MERGE).
    The batch twin of streaming_foreachbatch_upsert's per-batch logic."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    year = F.year("o_orderdate")
    tgt = o.filter(year < 1997).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        cents.alias("cents"),
    )
    src = (
        o.filter(
            ((year < 1997) & (F.col("o_orderkey") % 3 == 0))
            | ((year == 1997) & (F.col("o_orderkey") % 5 == 0))
        )
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("st"),
            (cents * 2).alias("cents"),
            (F.col("o_orderkey") % 11 == 0).alias("del"),
        )
    )
    base_path = _scoped_scratch(spark, "merge_target")
    tgt.write.mode("overwrite").parquet(base_path)
    target = spark.read.parquet(base_path)
    merged = target.join(
        src.select("k"), "k", "left_anti"
    ).unionByName(
        src.filter(~F.col("del")).select("k", "st", "cents")
    )
    out_path = _scoped_scratch(spark, "merge_result")
    merged.write.mode("overwrite").parquet(out_path)
    back = spark.read.parquet(out_path)
    return back.groupBy("st").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("keys_sum"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )


_IVM_SPLIT = "2001-06-01"  # history < split; delta >= split (~3% of facts)


@query(
    "lakehouse_incremental_join",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS qty_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def lakehouse_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-backed materialized view — the
    delta algebra d(A⋈B) = dA⋈B ∪ A_old⋈dB (with dA⋈dB inside the first
    term when B is taken post-delta) — composed with the distributive-
    aggregate merge of `lakehouse_incremental_agg`. The orders/lineitem
    facts split at 2001-06-01 (_IVM_SPLIT) into history and delta; the HISTORY
    join's aggregate state is materialized to the lake (real parquet
    write/read through the scoped-scratch discipline) and never
    recomputed; the refresh computes aggregates over only the two delta
    join terms — new orders against ALL lineitems, old orders against
    new lineitems — and merges by group-wise addition. The oracle is the
    from-scratch join over the full tables: equality is the IVM theorem
    for joins + distributive aggregates, end-to-end through storage.

    Scale: the delta terms join a ~3% slice against the facts — at
    100 TB these are the only joins that run per refresh, sized by the
    delta, with AQE free to broadcast the delta side (no hard hint: a
    backfill delta can be huge — the scale doctrine). Integer quantity
    cents keep the merge exact in any order."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qcents = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
    old_o = o.filter(F.to_date("o_orderdate") < F.lit(_IVM_SPLIT))
    new_o = o.filter(F.to_date("o_orderdate") >= F.lit(_IVM_SPLIT))
    old_l = li.filter(F.to_date("l_shipdate") < F.lit(_IVM_SPLIT))
    new_l = li.filter(F.to_date("l_shipdate") >= F.lit(_IVM_SPLIT))

    def agg(pairs: DataFrame) -> DataFrame:
        return pairs.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(qcents).cast("long").alias("qty_cents"),
        )

    base_path = os.path.join(
        _scoped_scratch(spark, "ivm_join_base"), "base_mv.parquet"
    )
    agg(
        old_o.join(old_l, F.col("o_orderkey") == F.col("l_orderkey"))
    ).write.mode("overwrite").parquet(base_path)
    base_mv = spark.read.parquet(base_path)

    d1 = new_o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    d2 = old_o.join(new_l, F.col("o_orderkey") == F.col("l_orderkey"))
    delta_mv = agg(d1.unionByName(d2))

    b = base_mv.select(
        "o_orderpriority",
        F.col("n_pairs").alias("bn"),
        F.col("qty_cents").alias("bq"),
    )
    dm = delta_mv.select(
        "o_orderpriority",
        F.col("n_pairs").alias("dn"),
        F.col("qty_cents").alias("dq"),
    )
    z = F.lit(0).cast("long")
    return (
        b.join(dm, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (F.coalesce(F.col("bn"), z) + F.coalesce(F.col("dn"), z)).alias(
                "n_pairs"
            ),
            (F.coalesce(F.col("bq"), z) + F.coalesce(F.col("dq"), z)).alias(
                "qty_cents"
            ),
        )
    )


@query(
    "lakehouse_cdc_apply",
    oracle="""
    WITH snap AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders WHERE o_orderkey % 4 <> 0
    ), log AS (
        SELECT l_orderkey AS k,
               CAST(l_linenumber AS BIGINT) * 10000000000
                 + CAST(round(l_extendedprice * 100) AS BIGINT) * 10
                 + CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS enc
        FROM lineitem WHERE l_quantity <= 30
    ), last AS (
        SELECT k, max(enc) AS enc FROM log GROUP BY k
    ), dec AS (
        SELECT k,
               CASE WHEN enc % 10 = 1 THEN 'D' ELSE 'U' END AS op,
               (enc % 10000000000) // 10 AS new_price
        FROM last
    ), merged AS (
        SELECT coalesce(s.k, l.k) AS k,
               CASE WHEN l.k IS NULL THEN 'kept' ELSE 'upserted' END AS action,
               CASE WHEN l.k IS NULL THEN s.price_cents
                    ELSE l.new_price END AS price_cents
        FROM snap s FULL OUTER JOIN dec l ON s.k = l.k
        WHERE l.op IS NULL OR l.op <> 'D'
    )
    SELECT k % 16 AS bucket, action,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
    FROM merged
    GROUP BY bucket, action
    """,
)
def lakehouse_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture log application — the lakehouse ingest
    primitive one level up from single-op MERGE (lakehouse_merge_upsert):
    a log of SEQUENCED ops per key (U upsert / D delete) collapses to
    its latest op per key, then applies against the snapshot in one
    pass: last-op-D keys vanish (a delete of a key absent from the
    snapshot is a no-op, not an error), last-op-U keys take the log's
    newest value whether or not the snapshot had them (update vs insert
    is the SAME branch — what makes MERGE-free CDC apply possible),
    untouched keys keep their snapshot row. This is how Debezium/Delta
    CDF feeds compact into a table.

    The per-key collapse uses max() over an INTEGER-ENCODED total order
    ``seq*1e10 + price_cents*10 + is_delete`` rather than arg-max on the
    bare sequence: the fixture's lineitem (like any at-least-once CDC
    feed) carries duplicate sequence numbers per key (4944 collisions at
    sf0.01), and bare arg-max tie-breaks are engine-dependent — the
    encoding makes the winner a pure-integer max, bit-identical
    everywhere, with content as the documented tie-break. Decode is two
    modulo ops.

    Scale shape: the log collapses FIRST (one map-side-combinable
    groupBy-max, log-sized, never snapshot-sized), then ONE full-outer
    key join applies it; no per-op iteration. At 100 TB the snapshot
    arrives hash-partitioned on the key from the previous apply, so only
    the collapsed delta shuffles. Output folds the merged state to 16
    key-bucket checksums (count + exact cent sum per action) —
    value-verifying without shipping the corpus. The l_quantity <= 30
    gate leaves some orders logless so the 'kept' branch engages."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    snap = o.filter(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias("sk"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    enc = (
        F.col("l_linenumber").cast("long") * F.lit(10000000000).cast("long")
        + F.round(F.col("l_extendedprice") * 100).cast("long") * 10
        + F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    )
    log = li.filter(F.col("l_quantity") <= 30).select(
        F.col("l_orderkey").alias("k"), enc.alias("enc")
    )
    dec = (
        log.groupBy("k")
        .agg(F.max("enc").alias("enc"))
        .select(
            "k",
            F.when(F.col("enc") % 10 == 1, "D").otherwise("U").alias("op"),
            F.expr("(enc % 10000000000L) div 10")
            .cast("long")
            .alias("new_price"),
        )
    )
    merged = (
        snap.join(dec, snap.sk == dec.k, "full_outer")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce(F.col("sk"), F.col("k")).alias("k"),
            F.when(F.col("op").isNull(), "kept")
            .otherwise("upserted")
            .alias("action"),
            F.when(F.col("op").isNull(), F.col("price_cents"))
            .otherwise(F.col("new_price"))
            .alias("price_cents"),
        )
    )
    return merged.groupBy(
        (F.col("k") % 16).alias("bucket"), "action"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("price_cents").cast("long").alias("sum_price_cents"),
    )


@query(
    "lakehouse_deletion_vectors",
    oracle="""
    WITH base AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               (o_orderstatus = 'F' AND o_orderkey % 10 = 3) AS deleted
        FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_base,
           CAST(count(CASE WHEN deleted THEN 1 END) AS BIGINT) AS n_deleted,
           CAST(count(CASE WHEN NOT deleted THEN 1 END) AS BIGINT)
               AS n_live,
           CAST(sum(CASE WHEN NOT deleted THEN cents ELSE 0 END)
                AS BIGINT) AS live_sum_cents,
           true AS mor_equals_cow
    FROM base
    """,
)
def lakehouse_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors — the Delta/Iceberg-v2 soft-delete mechanism:
    instead of rewriting data files to delete rows, a sidecar table of
    deleted row ids is applied at READ time (merge-on-read), and a
    background rewrite (copy-on-write compaction) later folds the
    deletes into fresh files. This op runs BOTH paths against real
    storage and proves them equivalent:

      1. write the base table to scratch parquet (the data files);
      2. write the deletion vector (orderkeys of 'F'-status rows with
         key%10=3 — ~5% of rows) as its own small parquet sidecar;
      3. merge-on-read: scan base, LEFT ANTI join the DV (the DV side
         broadcasts at any realistic deletion rate);
      4. copy-on-write: materialize base-minus-DV to NEW files, scan
         those;
      5. emit counts + exact live-cent sums from BOTH paths and the
         equality verdict.

    The oracle recomputes the expected counts and live sum straight
    from the logical predicate (storage-free) and pins the equality
    flag TRUE — the envelope convention (cf. agg_approx_distinct): the
    STORED artifacts are Spark-side reality, the oracle checks the
    numbers they must reproduce. Anti-join-on-broadcast is exactly how
    engines apply DVs at scale: the scan stays a full-speed columnar
    scan and the delete filter costs one hash probe per row, versus
    copy-on-write's full rewrite amortized over later reads."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 == 3)
        ).alias("deleted"),
    )
    base_path = _scoped_scratch(spark, "dv_base")
    dv_path = _scoped_scratch(spark, "dv_sidecar")
    cow_path = _scoped_scratch(spark, "dv_rewritten")
    od.select("o_orderkey", "cents").write.mode("overwrite").parquet(
        base_path
    )
    od.filter("deleted").select("o_orderkey").write.mode(
        "overwrite"
    ).parquet(dv_path)
    base = spark.read.parquet(base_path)
    dv = spark.read.parquet(dv_path)
    mor = base.join(F.broadcast(dv), "o_orderkey", "left_anti")
    mor.write.mode("overwrite").parquet(cow_path)
    cow = spark.read.parquet(cow_path)
    m = mor.agg(
        F.count(F.lit(1)).cast("long").alias("n_mor"),
        F.sum("cents").cast("long").alias("s_mor"),
    )
    c = cow.agg(
        F.count(F.lit(1)).cast("long").alias("n_cow"),
        F.sum("cents").cast("long").alias("s_cow"),
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_base")
    ).crossJoin(
        F.broadcast(
            dv.agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
        )
    )
    return (
        tot.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(c))
        .select(
            "n_base",
            "n_deleted",
            F.col("n_mor").alias("n_live"),
            F.col("s_mor").alias("live_sum_cents"),
            (
                (F.col("n_mor") == F.col("n_cow"))
                & (
                    F.coalesce(F.col("s_mor"), F.lit(0))
                    == F.coalesce(F.col("s_cow"), F.lit(0))
                )
            ).alias("mor_equals_cow"),
        )
    )


@query(
    "lakehouse_clustering_depth",
    oracle="""
    SELECT 'clustered' AS layout,
           CAST(count(*) AS BIGINT) AS n_rows,
           true AS depth_in_expected_band
    FROM orders
    UNION ALL
    SELECT 'unsorted', CAST(count(*) AS BIGINT), true
    FROM orders
    ORDER BY layout
    """,
)
def lakehouse_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering DEPTH — the metric behind Delta/Iceberg OPTIMIZE
    decisions: for a probe grid of keys, how many files' [min, max]
    key ranges contain each key (depth 1 = perfectly clustered, a scan
    for one key opens one file; depth = n_files = every file spans the
    whole range and pruning is useless). The op writes the SAME rows in
    two layouts — repartitionByRange(8, custkey) vs hash repartition(8)
    — reads ONLY the parquet footers back (the
    source_parquet_footer_audit discipline), and measures average probe
    depth over a 64-point key grid for each.

    Oracle shape is the envelope convention (agg_approx_distinct): file
    assignment under hash repartition isn't a cross-engine-reproducible
    value, so the oracle pins the exact ROW COUNTS both layouts must
    preserve plus the expected-band verdicts the measured depths must
    satisfy (range layout <= 1.5 — boundary files may touch; unsorted
    >= half the file count), which is precisely the regression a
    clustering-health dashboard alerts on."""
    import glob as _glob

    import pyarrow.parquet as _pq

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    p_clu = _scoped_scratch(spark, "depth_clustered")
    p_uns = _scoped_scratch(spark, "depth_unsorted")
    od.repartitionByRange(8, "o_custkey").write.mode("overwrite").parquet(
        p_clu
    )
    od.repartition(8).write.mode("overwrite").parquet(p_uns)

    def depth_stats(path: str) -> tuple[int, float]:
        spans = []
        for f in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
            md = _pq.ParquetFile(f).metadata
            idx = {
                md.schema.column(i).path: i for i in range(md.num_columns)
            }
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["o_custkey"]).statistics
                if st is None or not st.has_min_max:
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                spans.append((lo, hi))
        if not spans:
            return 0, 0.0
        gmin = min(s[0] for s in spans)
        gmax = max(s[1] for s in spans)
        step = max(1, (gmax - gmin) // 63)
        probes = [gmin + i * step for i in range(64)]
        depths = [
            sum(1 for lo, hi in spans if lo <= k <= hi) for k in probes
        ]
        return len(spans), sum(depths) / len(depths)

    nf_c, d_c = depth_stats(p_clu)
    nf_u, d_u = depth_stats(p_uns)
    n_c = spark.read.parquet(p_clu).count()
    n_u = spark.read.parquet(p_uns).count()
    rows = [
        ("clustered", n_c, d_c <= 1.5),
        ("unsorted", n_u, d_u >= nf_u / 2.0),
    ]
    return spark.createDataFrame(
        rows, "layout string, n_rows long, depth_in_expected_band boolean"
    ).orderBy("layout")


@query(
    "lakehouse_write_audit_publish",
    oracle="""
    WITH batch AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 4 = 0
    )
    SELECT 'gate_dup_keys' AS step,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n,
           count(*) - count(DISTINCT o_orderkey) = 0 AS passed
    FROM batch
    UNION ALL
    SELECT 'gate_nonempty', CAST(count(*) AS BIGINT), count(*) > 0
    FROM batch
    UNION ALL
    SELECT 'gate_null_keys',
           CAST(count(*) - count(o_orderkey) AS BIGINT),
           count(*) - count(o_orderkey) = 0
    FROM batch
    UNION ALL
    SELECT 'gate_positive_amounts',
           CAST(count(CASE WHEN cents <= 0 THEN 1 END) AS BIGINT),
           count(CASE WHEN cents <= 0 THEN 1 END) = 0
    FROM batch
    UNION ALL
    SELECT 'published', CAST(count(*) AS BIGINT), count(*) > 0
    FROM batch
    ORDER BY step
    """,
)
def lakehouse_write_audit_publish(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write-Audit-Publish (WAP) — the Iceberg/dbt governance pattern
    that keeps bad batches out of consumer-visible tables: (1) WRITE
    the incoming batch (every 4th order — the simulated CDC slice) to a
    STAGING location; (2) AUDIT the staged files themselves (not the
    source!) with machine-checkable gates — non-empty, no NULL keys, no
    duplicate keys, no non-positive amounts (quality_constraint_audit's
    gates wired into a workflow); (3) PUBLISH by rewriting the audited
    staging data to the consumer path ONLY if every gate passed, then
    report what consumers can now see. The op returns the audit ledger
    plus the published count — the artifact a data-platform run log
    records per batch.

    All gates are conditional aggregates in ONE pass over the staged
    read; the publish is gated on the collected verdict (a driver-side
    boolean over a 4-row ledger — the one acceptable collect shape).
    The oracle recomputes every gate from the logical slice, proving
    the staged files faithfully carry it; counts exact BIGINTs."""
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 4 == 0
    ).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    staging = _scoped_scratch(spark, "wap_staging")
    published = _scoped_scratch(spark, "wap_published")
    od.write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    ledger = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("long").alias("n_keys"),
        F.count("o_orderkey").cast("long").alias("n_nonnull"),
        F.count(F.when(F.col("cents") <= 0, 1))
        .cast("long")
        .alias("n_nonpositive"),
    ).collect()[0]
    gates = [
        (
            "gate_dup_keys",
            ledger.n_rows - ledger.n_keys,
            ledger.n_rows - ledger.n_keys == 0,
        ),
        ("gate_nonempty", ledger.n_rows, ledger.n_rows > 0),
        (
            "gate_null_keys",
            ledger.n_rows - ledger.n_nonnull,
            ledger.n_rows - ledger.n_nonnull == 0,
        ),
        ("gate_positive_amounts", ledger.n_nonpositive,
         ledger.n_nonpositive == 0),
    ]
    all_pass = all(g[2] for g in gates)
    n_published = 0
    if all_pass:
        staged.write.mode("overwrite").parquet(published)
        n_published = spark.read.parquet(published).count()
    gates.append(("published", n_published, n_published > 0))
    return spark.createDataFrame(
        gates, "step string, n long, passed boolean"
    ).orderBy("step")


@query(
    "lakehouse_vacuum_plan",
    oracle="""
    WITH ledger AS (
        SELECT o_orderkey // 30 AS file_id,
               CAST(min(o_orderkey) % 8 AS BIGINT) AS added_snap,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS size_bytes
        FROM orders GROUP BY 1
    ), files AS (
        SELECT file_id, added_snap, size_bytes,
               CASE WHEN file_id % 3 = 0
                    THEN added_snap + 1 + file_id % 4
                    ELSE NULL END AS removed_snap
        FROM ledger
    )
    SELECT CASE
             WHEN removed_snap IS NULL THEN 'live'
             WHEN removed_snap <= 7 THEN 'vacuum'
             ELSE 'retained_for_time_travel'
           END AS status,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           CAST(min(removed_snap) AS BIGINT) AS min_removed_snap,
           CAST(max(removed_snap) AS BIGINT) AS max_removed_snap
    FROM files
    GROUP BY 1
    """,
)
def lakehouse_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM / expire-snapshots PLANNING — the lakehouse lifecycle
    decision Delta's VACUUM and Iceberg's expire_snapshots make before
    touching storage: given the table's file ledger (file → snapshot
    added, snapshot removed-or-NULL, bytes) and a retention horizon
    (keep snapshots > 7 here — 'current minus retained history'),
    classify every file as `live` (still referenced by the head),
    `vacuum` (removed at-or-before the horizon — no retained snapshot
    can reference it; safe to GC) or `retained_for_time_travel`
    (removed, but a retained snapshot still needs it), and report the
    reclaimable bytes — the number a storage-cost dashboard actually
    wants BEFORE the destructive pass runs. Complements
    `lakehouse_snapshot_diff` (which diffs two snapshots' CONTENT;
    this op plans the file-level GC the snapshot history implies) and
    `lakehouse_write_audit_publish` (same ledger discipline, write
    side).

    The ledger is derived deterministically from orders (the
    snapshot_diff precedent, so the oracle rebuilds it exactly):
    file grain = 30 orders, added_snap = min(key) % 8, every 3rd file
    removed at added+1+(file_id%4) — giving all three classes at any
    SF. Pure integer arithmetic end to end.

    Scale shape: one map-combinable aggregate to file grain (the
    ledger IS metadata scale — ~1 row per data file, exactly what a
    real manifest holds), then row-local CASE + a ≤3-row aggregate.
    At 100 TB the ledger is millions of rows, not billions — this
    plan never reads data files at all."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    ledger = o.groupBy(
        F.expr("o_orderkey DIV 30").cast("long").alias("file_id")
    ).agg(
        (F.min("o_orderkey") % 8).cast("long").alias("added_snap"),
        F.sum(cents).cast("long").alias("size_bytes"),
    )
    files = ledger.withColumn(
        "removed_snap",
        F.when(
            F.col("file_id") % 3 == 0,
            F.col("added_snap") + 1 + F.col("file_id") % 4,
        ),
    )
    status = (
        F.when(F.col("removed_snap").isNull(), F.lit("live"))
        .when(F.col("removed_snap") <= 7, F.lit("vacuum"))
        .otherwise(F.lit("retained_for_time_travel"))
    )
    return files.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("size_bytes").cast("long").alias("total_bytes"),
        F.min("removed_snap").cast("long").alias("min_removed_snap"),
        F.max("removed_snap").cast("long").alias("max_removed_snap"),
    )
