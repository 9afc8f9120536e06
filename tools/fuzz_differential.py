"""Random-query differential fuzzer: Spark vs DuckDB on random frames.

SURVEY §5.2 generalized — the 200 registered queries differential-test
FIXED plans; this harness derives the query itself from a seed: a random
table (int measures, low-cardinality string keys, NULLs) written to
parquet, then a random filter + group-by + aggregate query rendered
TWICE from one AST — as a Spark DataFrame chain and as DuckDB SQL — and
compared with the driver-faithful canonicalization from selfcheck.

Grammar is deliberately confined to constructs with identical
cross-engine semantics: integer arithmetic/comparisons, IS [NOT] NULL,
AND/OR, string equality, count/count(distinct)/sum/min/max over ints,
two-table INNER/LEFT/FULL equi-joins on a NULL-bearing string key
(filter applied after the join in both spellings), HAVING over grouped
counts, UNION/INTERSECT/EXCEPT with and without ALL (bag vs set
semantics over NULL rows), deterministic ORDER BY + LIMIT top-k
(explicit NULLS placement + unique tie-break), window functions,
EXISTS/NOT EXISTS/IN/NOT IN subquery predicates over a NULL-bearing
inner set (NOT IN with inner NULLs must yield zero rows — 3-valued
logic), correlated scalar subqueries in the SELECT list (max-NULL vs
count-0 on no-match rows — the decorrelation "COUNT bug"),
ROLLUP/CUBE/GROUPING SETS through the DataFrame API with
GROUPING() discriminators over NULL-bearing keys (empty input is a
PINNED divergence — see run_grouping_case), date functions over a
probed safe set spanning 1960-2100 (dow is PINNED off-by-one and
excluded; date_trunc / date±INTERVAL result-type skew cast away — see
gen_date_exprs), LIKE/NOT LIKE/ILIKE over metacharacter-bearing
strings with ESCAPE '!' (backslash string literals are PINNED
divergent — Spark C-style escapes vs DuckDB SQL-standard — see
run_like_case), exact DECIMAL arithmetic with derived-scale parity
and outer-CAST-pinned aggregate types (avg excluded — DuckDB routes
it through DOUBLE; see run_decimal_case), window functions OVER join results (join
multiplicity and outer-join null extension inside frames — see
run_join_window_case), higher-order array lambdas through paired
per-engine templates (transform/filter/aggregate vs
list_transform/list_filter/list_reduce; zip_with excluded — DuckDB's
list_zip builds structs, not a lambda twin — see run_hof_case), map
higher-order functions (lookup/cardinality/transform_values/map_filter;
DuckDB map extraction returns a one-element LIST — PINNED, the DuckDB
side appends [1] — and has no map lambdas, so its twin goes through
map_values + list lambdas — see run_map_hof_case), multi-level
correlated subqueries (scalar-in-scalar, EXISTS inside correlated
scalars, EXISTS-in-EXISTS — see run_nested_subquery_case), EXISTS/IN
under CASE incl. inside aggregate arguments (run_exists_in_case_case),
interval month-end clamping over 1996-2100 with leap/century edges
(DuckDB lacks negative INTERVAL literals and add_months — PINNED, its
side spells to_months(k) — see run_month_interval_case), struct field
access incl. nested and array-of-struct element paths
(named_struct ↔ struct-literal paired templates — run_struct_case),
array set operations (union/intersect/except/distinct/contains —
DuckDB's list_distinct/list_intersect DROP NULLs where Spark keeps
them as distinct values, PINNED; elements coalesced non-null — see
run_array_setop_case), try_cast string parsing (sign/whitespace/
garbage/empty/overflow agree; DuckDB's decimal-ROUNDING, hex and
scientific parses are PINNED divergences excluded from the generator —
see run_try_cast_case), explode/UNNEST lateral expansion (inner/
outer multiplicity over variable-length arrays, positional expansion —
posexplode 0-based vs generate_subscripts 1-based, PINNED — and
GROUP BY ALL over exploded rows — see run_explode_case), and
double aggregates restricted to exactly-representable
quarter values (float64 sums stay bit-exact) — no arbitrary doubles in
aggregates (ULP), no collation-sensitive ordering, no zone-dependent
time functions. NULL semantics (3-valued logic in filters,
null-skipping aggregates, NULL group keys, never-joining NULL keys,
outer-join null extension) are fully in scope — that is where engines
classically diverge.

Usage: python tools/fuzz_differential.py [n_cases] [base_seed]
Prints per-case PASS/FAIL + a summary; exit 1 on any mismatch.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from tools.selfcheck import canon

KEYS = ["k1", "k2"]
MEASURES = ["m1", "m2", "m3"]


def gen_rows(rng: random.Random, n: int):
    rows = []
    for _ in range(n):
        rows.append(
            (
                rng.choice(["a", "b", "c", None]),
                rng.choice(["x", "y", None]),
                rng.choice([None, *range(-5, 20)]),
                rng.choice([None, *range(0, 1000, 7)]),
                rng.randint(-(10**6), 10**6),
            )
        )
    return rows


def gen_predicate(rng: random.Random) -> str:
    """One boolean term over the columns, SQL spelling shared by both
    engines (Spark parses it via F.expr)."""
    c = rng.random()
    if c < 0.25:
        col = rng.choice(MEASURES)
        op = rng.choice(["<", "<=", ">", ">=", "=", "<>"])
        return f"{col} {op} {rng.randint(-10, 25)}"
    if c < 0.45:
        col = rng.choice(KEYS + MEASURES)
        return f"{col} IS {'NOT ' if rng.random() < 0.5 else ''}NULL"
    if c < 0.65:
        col = rng.choice(KEYS)
        return f"{col} = '{rng.choice(['a', 'b', 'c', 'x', 'y'])}'"
    if c < 0.85:
        a, b = rng.sample(MEASURES, 2)
        return f"{a} + {b} > {rng.randint(-10, 30)}"
    col = rng.choice(MEASURES)
    return f"{col} % {rng.randint(2, 7)} = {rng.randint(0, 1)}"


def gen_query(rng: random.Random):
    """Returns (where_sql, group_cols, agg_specs) where each agg spec is
    (alias, sql_expr, spark_builder_name, col)."""
    n_pred = rng.randint(1, 3)
    parts = [gen_predicate(rng) for _ in range(n_pred)]
    glue = [rng.choice([" AND ", " OR "]) for _ in range(n_pred - 1)]
    where = parts[0]
    for g, p in zip(glue, parts[1:]):
        where += g + p
    group_cols = rng.sample(KEYS, rng.randint(0, 2))
    aggs = [("cnt", "count(*)")]
    for i in range(rng.randint(1, 3)):
        col = rng.choice(MEASURES)
        fn = rng.choice(["sum", "min", "max", "count", "count_distinct"])
        if fn == "count_distinct":
            aggs.append((f"a{i}", f"count(DISTINCT {col})"))
        else:
            aggs.append((f"a{i}", f"{fn}({col})"))
    if rng.random() < 0.5:
        # double aggregate over EXACTLY-REPRESENTABLE values: quarters of
        # ints sum exactly in float64 (|sum| << 2^51), so the comparison
        # stays bit-exact while the DOUBLE pipeline (spark double vs duck
        # DOUBLE) is genuinely exercised. The CAST to DOUBLE is explicit
        # on the operand: a bare 0.25/"/4" literal would pull one engine
        # into DECIMAL arithmetic (the r5 decimal-literal lesson).
        col = rng.choice(MEASURES)
        fn = rng.choice(["sum", "min", "max"])
        aggs.append(
            (f"d{len(aggs)}", f"{fn}(CAST({col} AS DOUBLE) / 4)", "double")
        )
    return where, group_cols, aggs


def gen_join_rows(rng: random.Random, n: int):
    """Right-side table: string key (shared value space with t.k1, plus
    values that never match, plus NULLs — NULL keys must not join in
    either engine) and one int measure."""
    return [
        (rng.choice(["a", "b", "c", "z", None]), rng.randint(-100, 100))
        for _ in range(n)
    ]


def gen_window_exprs(rng: random.Random) -> list[str]:
    """Window expressions with a TOTAL order (rid is unique per row, so
    rank/lag/frames are deterministic in both engines). Rendered once and
    fed verbatim to DuckDB SQL and Spark selectExpr."""
    out = []
    for i in range(rng.randint(1, 3)):
        part = rng.choice(["", "PARTITION BY k1 ", "PARTITION BY k1, k2 "])
        # NULLS FIRST is spelled explicitly: fuzzing WITHOUT it found a
        # real cross-engine divergence — Spark defaults ascending NULLS
        # FIRST, DuckDB NULLS LAST, so any window ordered on a nullable
        # column silently reorders between engines (now a FIXTURES.md
        # oracle convention).
        order = f"ORDER BY {rng.choice(['m1', 'm2'])} NULLS FIRST, rid"
        frame = rng.choice(
            [
                "",
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
                f" ROWS BETWEEN {rng.randint(1, 3)} PRECEDING AND CURRENT ROW",
                f" ROWS BETWEEN 1 PRECEDING AND {rng.randint(1, 2)} FOLLOWING",
            ]
        )
        fn = rng.choice(
            [
                "row_number()",
                "rank()",
                "dense_rank()",
                f"sum({rng.choice(MEASURES)})",
                f"min({rng.choice(MEASURES)})",
                f"count({rng.choice(MEASURES)})",
                "lag(m1, 1)",
                "lead(m2, 1)",
            ]
        )
        if fn in ("row_number()", "rank()", "dense_rank()") or fn.startswith(
            ("lag", "lead")
        ):
            frame = ""  # ranking/offset functions take no frame
        elif rng.random() < 0.3:
            # RANGE (value-based, peer-inclusive) frames — a genuinely
            # different semantics surface from ROWS: duplicates of the
            # order value form peer groups, so frame aggregates stay
            # deterministic even with ties (probed equal cross-engine,
            # r7). RANGE with an offset allows exactly ONE order column;
            # coalesce keeps NULL order keys out of the peer arithmetic.
            order = f"ORDER BY coalesce({rng.choice(['m1', 'm2'])}, 0)"
            frame = rng.choice(
                [
                    f" RANGE BETWEEN {rng.randint(1, 20)} PRECEDING"
                    " AND CURRENT ROW",
                    " RANGE BETWEEN CURRENT ROW AND"
                    f" {rng.randint(1, 20)} FOLLOWING",
                    f" RANGE BETWEEN {rng.randint(1, 10)} PRECEDING"
                    f" AND {rng.randint(1, 10)} FOLLOWING",
                ]
            )
        out.append(
            f"CAST({fn} OVER ({part}{order}{frame}) AS BIGINT) AS w{i}"
        )
    return out


def run_window_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Window-function case: per-row output over a totally ordered frame,
    identical SQL text on both engines."""
    rows = [(i, *r) for i, r in enumerate(gen_rows(rng, rng.randint(0, 200)))]
    schema = "rid long, k1 string, k2 string, m1 long, m2 long, m3 long"
    path = os.path.join(tmp, f"fuzz_{case_id}_w.parquet")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)

    where = gen_predicate(rng)
    wexprs = gen_window_exprs(rng)
    sel = ", ".join(["rid", *wexprs])
    sql = f"SELECT {sel} FROM t WHERE {where}"

    sdf = spark.read.parquet(path).where(where).selectExpr("rid", *wexprs)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    res = con.execute(sql)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    if len(spark_rows) != len(duck_rows):
        return f"rowcount {len(spark_rows)} vs {len(duck_rows)} [{sql}]"
    a = canon(spark_rows, spark_cols)
    b = canon(duck_rows, duck_cols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"values {diff} [{sql}]"
    return None


def _compare(spark_df, con, sql: str) -> str | None:
    spark_cols = [c.lower() for c in spark_df.columns]
    spark_rows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(sql)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} vs {sorted(duck_cols)} [{sql}]"
    if len(spark_rows) != len(duck_rows):
        return f"rowcount {len(spark_rows)} vs {len(duck_rows)} [{sql}]"
    a = canon(spark_rows, spark_cols)
    b = canon(duck_rows, duck_cols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"values {diff} [{sql}]"
    return None


def run_setop_case(spark, con, rng: random.Random, tmp: str, case_id: int) -> str | None:
    """Set-operation case: two filters of one table combined with
    UNION/INTERSECT/EXCEPT [ALL] — bag vs set semantics with NULL rows
    is another classic divergence surface."""
    rows = gen_rows(rng, rng.randint(0, 300))
    path = os.path.join(tmp, f"fuzz_{case_id}_s.parquet")
    spark.createDataFrame(
        rows, "k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    w1, w2 = gen_predicate(rng), gen_predicate(rng)
    op = rng.choice(
        ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL", "EXCEPT", "EXCEPT ALL"]
    )
    cols = "k1, m1, m2"
    sql = (
        f"SELECT {cols} FROM t WHERE {w1} {op} "
        f"SELECT {cols} FROM t WHERE {w2}"
    )
    base = spark.read.parquet(path)
    a = base.where(w1).selectExpr("k1", "m1", "m2")
    b = base.where(w2).selectExpr("k1", "m1", "m2")
    sdf = {
        "UNION": lambda: a.union(b).distinct(),
        "UNION ALL": lambda: a.union(b),
        "INTERSECT": lambda: a.intersect(b),
        "INTERSECT ALL": lambda: a.intersectAll(b),
        "EXCEPT": lambda: a.subtract(b),
        "EXCEPT ALL": lambda: a.exceptAll(b),
    }[op]()
    return _compare(sdf, con, sql)


def run_order_limit_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Top-k case: ORDER BY over a nullable measure with explicit NULLS
    placement and a unique tie-break, then LIMIT — the selected SET must
    match (canon is order-insensitive, so determinism of membership is
    what's tested)."""
    rows = [(i, *r) for i, r in enumerate(gen_rows(rng, rng.randint(0, 300)))]
    path = os.path.join(tmp, f"fuzz_{case_id}_o.parquet")
    spark.createDataFrame(
        rows, "rid long, k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    where = gen_predicate(rng)
    col = rng.choice(["m1", "m2"])
    direction = rng.choice(["ASC", "DESC"])
    nulls = "NULLS FIRST" if direction == "ASC" else "NULLS LAST"
    k = rng.randint(1, 20)
    sql = (
        f"SELECT rid, k1, {col} FROM t WHERE {where} "
        f"ORDER BY {col} {direction} {nulls}, rid LIMIT {k}"
    )
    from pyspark.sql import functions as F

    oc = (
        F.col(col).asc_nulls_first()
        if direction == "ASC"
        else F.col(col).desc_nulls_last()
    )
    sdf = (
        spark.read.parquet(path)
        .where(where)
        .orderBy(oc, F.col("rid"))
        .limit(k)
        .select("rid", "k1", col)
    )
    return _compare(sdf, con, sql)


def gen_scalar_exprs(rng: random.Random) -> list[str]:
    """Per-row scalar expressions with identical cross-engine NULL
    semantics. `||` is used for concatenation, NEVER concat(): DuckDB's
    concat() SKIPS NULL arguments while Spark's returns NULL — a live
    divergence this fuzzer's probe confirmed (FIXTURES.md r6). substr
    start stays >= 1 (0/negative starts differ)."""
    out = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 5)
        if kind == 0:
            out.append(f"upper(k1) || '_' || coalesce(k2, 'NA') AS s{i}")
        elif kind == 1:
            out.append(
                f"substr(k1 || k1 || 'xyz', {rng.randint(1, 4)}, "
                f"{rng.randint(1, 5)}) AS s{i}"
            )
        elif kind == 2:
            out.append(f"CAST(length(k1 || coalesce(k2, '')) AS BIGINT) AS s{i}")
        elif kind == 3:
            out.append(f"coalesce(nullif(k1, 'a'), k2, 'zz') AS s{i}")
        elif kind == 4:
            out.append(
                f"CASE WHEN m1 > {rng.randint(-5, 10)} THEN k1 ELSE k2 END AS s{i}"
            )
        else:
            out.append(f"lower(k1) || CAST(m1 AS STRING) AS s{i}")
    return out


def run_scalar_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Scalar-projection case: per-row string/conditional expressions,
    identical SQL text on both engines."""
    rows = [(i, *r) for i, r in enumerate(gen_rows(rng, rng.randint(0, 250)))]
    path = os.path.join(tmp, f"fuzz_{case_id}_c.parquet")
    spark.createDataFrame(
        rows, "rid long, k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    where = gen_predicate(rng)
    exprs = gen_scalar_exprs(rng)
    sel = ", ".join(["rid", *exprs])
    sql = f"SELECT {sel} FROM t WHERE {where}"
    sdf = spark.read.parquet(path).where(where).selectExpr("rid", *exprs)
    return _compare(sdf, con, sql)


def _materialize_pair(
    spark,
    con,
    tmp: str,
    tag: str,
    t_rows,
    t_schema: str,
    u_rows,
    u_schema: str,
) -> None:
    """Write the (t, u) table pair to parquet and register BOTH engines'
    views — the one copy of the two-table temp-view boilerplate (the
    subquery and join-window families; a glob/registration fix lands
    once). The base aggregate family keeps its own single-table +
    optional-u setup: it drives Spark through DataFrame chains, not
    temp views."""
    tpath = os.path.join(tmp, f"{tag}_t.parquet")
    upath = os.path.join(tmp, f"{tag}_u.parquet")
    spark.createDataFrame(t_rows, t_schema).write.mode("overwrite").parquet(
        tpath
    )
    spark.createDataFrame(u_rows, u_schema).write.mode("overwrite").parquet(
        upath
    )
    spark.read.parquet(tpath).createOrReplaceTempView("t")
    spark.read.parquet(upath).createOrReplaceTempView("u")
    # Spark writes a DIRECTORY of part files; DuckDB reads via glob
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{tpath}/*.parquet'"
    )
    con.execute(
        f"CREATE OR REPLACE VIEW u AS SELECT * FROM '{upath}/*.parquet'"
    )


def run_subquery_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Subquery-predicate case: EXISTS / NOT EXISTS / IN / NOT IN
    against a NULL-bearing inner table, IDENTICAL SQL text through
    spark.sql (temp views) and DuckDB. NOT IN over an inner set
    containing NULL must yield zero rows in standard 3-valued logic —
    the classic subquery trap — and correlated EXISTS exercises the
    decorrelation machinery on the Spark side."""
    _materialize_pair(
        spark,
        con,
        tmp,
        f"fuzz_{case_id}_q",
        gen_rows(rng, rng.randint(0, 250)),
        "k1 string, k2 string, m1 long, m2 long, m3 long",
        gen_join_rows(rng, rng.randint(0, 40)),
        "uk string, n1 long",
    )
    kind = rng.randint(0, 5)
    if kind >= 4:
        # correlated SCALAR subquery in the SELECT list — exercises
        # Spark's decorrelation into a left outer aggregate join. The
        # no-match row must surface NULL for max but 0 for count(*) —
        # the classic decorrelation "COUNT bug": a naive outer-join
        # rewrite yields NULL for both, and only the engine's
        # null-to-zero compensation projection distinguishes them.
        inner = (
            "(SELECT CAST(max(u.n1) AS BIGINT) FROM u WHERE u.uk = t.k1)"
            if kind == 4
            else (
                "(SELECT CAST(count(*) AS BIGINT) FROM u WHERE u.uk = t.k1 "
                f"AND u.n1 > {rng.randint(-50, 50)})"
            )
        )
        extra = gen_predicate(rng)
        sql = (
            f"SELECT k1, m1, {inner} AS sub FROM t WHERE ({extra})"
        )
        return _compare(spark.sql(sql), con, sql)
    if kind == 0:
        pred = "EXISTS (SELECT 1 FROM u WHERE u.uk = t.k1)"
    elif kind == 1:
        pred = (
            "NOT EXISTS (SELECT 1 FROM u WHERE u.uk = t.k1 "
            f"AND u.n1 > {rng.randint(-50, 50)})"
        )
    elif kind == 2:
        pred = "k1 IN (SELECT uk FROM u)"
    else:
        pred = "k1 NOT IN (SELECT uk FROM u)"
    extra = gen_predicate(rng)
    sql = (
        "SELECT k1, count(*) AS n, CAST(sum(m1) AS BIGINT) AS s "
        f"FROM t WHERE ({pred}) AND ({extra}) GROUP BY k1"
    )
    return _compare(spark.sql(sql), con, sql)


def run_join_window_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Composition case: a window function evaluated OVER a join result.
    The single-table window family can't see partition keys whose
    cardinality the join changed (duplicate right keys multiply rows;
    outer joins add null-extended rows into frames), and the join
    family never runs post-join windows. rid stays unique per LEFT row
    but duplicates across join multiplicity, so the total order needs
    (rid, un) — un being the right side's unique id."""
    _materialize_pair(
        spark,
        con,
        tmp,
        f"fuzz_{case_id}_jw",
        [(i, *r) for i, r in enumerate(gen_rows(rng, rng.randint(0, 150)))],
        "rid long, k1 string, k2 string, m1 long, m2 long, m3 long",
        [
            (i, k, n)
            for i, (k, n) in enumerate(gen_join_rows(rng, rng.randint(0, 40)))
        ],
        "un long, uk string, n1 long",
    )
    join = rng.choice(["JOIN", "LEFT JOIN"])
    part = rng.choice(["k1", "uk", "k1, k2"])
    fn = rng.choice(
        [
            "row_number()",
            "rank()",
            "sum(n1)",
            "count(n1)",
            "lag(m1, 1)",
            "min(m2)",
        ]
    )
    frame = (
        ""
        if fn in ("row_number()", "rank()") or fn.startswith("lag")
        else " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    order = "ORDER BY m1 NULLS FIRST, rid, un NULLS FIRST"
    where = gen_predicate(rng)
    sql = (
        f"SELECT rid, un, CAST({fn} OVER (PARTITION BY {part} {order}{frame})"
        f" AS BIGINT) AS w FROM (SELECT * FROM t {join} u ON t.k1 = u.uk"
        f" WHERE {where})"
    )
    return _compare(spark.sql(sql), con, sql)


def run_hof_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Higher-order array-lambda case: transform / filter / reduce /
    sort / size over per-row integer arrays, rendered as PAIRED
    per-engine templates from one set of random parameters (Spark's
    transform/filter/aggregate vs DuckDB's list_transform /
    list_filter / list_reduce — same semantics, different names; probed
    equal, while zip_with has NO DuckDB lambda twin — list_zip builds
    structs — and stays out of the family). Array RESULTS serialize via
    array_join/array_to_string (canon cannot hash lists — the
    registered-oracle convention applies to the fuzzer too); elements
    are coalesced non-null so the two serializers' NULL-skipping
    never matters."""
    rows = gen_rows(rng, rng.randint(0, 200))
    path = os.path.join(tmp, f"fuzz_{case_id}_h.parquet")
    spark.createDataFrame(
        rows, "k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    arr_s = "array(coalesce(m1,0), coalesce(m2,1), coalesce(m3,2), {k})"
    arr_d = "[coalesce(m1,0), coalesce(m2,1), coalesce(m3,2), {k}]"
    exprs = []
    for i in range(rng.randint(1, 3)):
        k = rng.randint(-5, 5)
        a_s, a_d = arr_s.format(k=k), arr_d.format(k=k)
        kind = rng.randint(0, 4)
        # coalesce on the DuckDB serializer: array_to_string of an
        # EMPTY list is NULL while Spark's array_join is '' — a live
        # divergence this family's seed 72000/63 found (now a pinned
        # FIXTURES.md convention for any oracle serializing a
        # possibly-empty array)
        if kind == 0:
            m, c = rng.randint(-3, 3), rng.randint(-10, 10)
            s = f"array_join(transform({a_s}, x -> x * {m} + {c}), ',')"
            d = (
                f"coalesce(array_to_string(list_transform({a_d},"
                f" x -> x * {m} + {c}), ','), '')"
            )
        elif kind == 1:
            md = rng.randint(2, 5)
            s = f"array_join(filter({a_s}, x -> x % {md} = 0), ',')"
            d = (
                f"coalesce(array_to_string(list_filter({a_d},"
                f" x -> x % {md} = 0), ','), '')"
            )
        elif kind == 2:
            # init must be BIGINT: Spark requires the fold's merge type
            # to equal the zero's type exactly (no coercion on lambdas)
            s = (
                f"CAST(aggregate({a_s}, CAST(0 AS BIGINT),"
                " (a, x) -> a + x) AS BIGINT)"
            )
            d = f"CAST(list_reduce([0] || {a_d}, (a, x) -> a + x) AS BIGINT)"
        elif kind == 3:
            s = f"array_join(sort_array({a_s}), ',')"
            d = f"coalesce(array_to_string(list_sort({a_d}), ','), '')"
        else:
            md = rng.randint(2, 4)
            s = f"CAST(size(filter({a_s}, x -> x % {md} = 0)) AS BIGINT)"
            d = f"CAST(len(list_filter({a_d}, x -> x % {md} = 0)) AS BIGINT)"
        exprs.append((f"{s} AS h{i}", f"{d} AS h{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_fold_order_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """NON-COMMUTATIVE scalar-fold family (r11): the struct-accumulator
    list_reduce fork (FIXTURES.md r11, found by events_holt_smoothing)
    proved DuckDB's lambda folds deserve order-sensitive scrutiny — the
    existing hof family's fold is a commutative sum, blind to order.
    This family folds with a*m + x (mod p, non-negative elements) and
    with string concatenation, forward and REVERSED, where any
    left/right-fold or element-order divergence changes the result.
    Spark spells aggregate(arr, init, merge); DuckDB list_reduce over
    the init-prepended list (IEEE/arithmetic sequence identical —
    SCALAR accumulators fold correctly in both engines; struct
    accumulators remain a pinned divergence, excluded here)."""
    rows = gen_rows(rng, rng.randint(0, 200))
    path = os.path.join(tmp, f"fuzz_{case_id}_fo.parquet")
    spark.createDataFrame(
        rows, "k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    # non-negative elements keep % sign semantics out of scope
    arr_s = (
        "array(abs(coalesce(m1,0)) % 97, abs(coalesce(m2,1)) % 97,"
        " abs(coalesce(m3,2)) % 97, {k})"
    )
    arr_d = (
        "[abs(coalesce(m1,0)) % 97, abs(coalesce(m2,1)) % 97,"
        " abs(coalesce(m3,2)) % 97, {k}]"
    )
    exprs = []
    for i in range(rng.randint(1, 3)):
        k = rng.randint(0, 96)
        a_s, a_d = arr_s.format(k=k), arr_d.format(k=k)
        m = rng.randint(2, 5)
        init = rng.randint(0, 9)
        kind = rng.randint(0, 2)
        if kind == 0:
            s = (
                f"CAST(aggregate({a_s}, CAST({init} AS BIGINT),"
                f" (a, x) -> (a * {m} + x) % 1000003) AS BIGINT)"
            )
            d = (
                f"CAST(list_reduce([CAST({init} AS BIGINT)] || {a_d},"
                f" (a, x) -> (a * {m} + x) % 1000003) AS BIGINT)"
            )
        elif kind == 1:
            s = (
                f"CAST(aggregate(reverse({a_s}), CAST({init} AS BIGINT),"
                f" (a, x) -> (a * {m} + x) % 1000003) AS BIGINT)"
            )
            d = (
                f"CAST(list_reduce([CAST({init} AS BIGINT)] ||"
                f" list_reverse({a_d}),"
                f" (a, x) -> (a * {m} + x) % 1000003) AS BIGINT)"
            )
        else:
            s = (
                f"aggregate(transform({a_s}, x -> CAST(x AS STRING)),"
                f" '{init}', (a, x) -> concat(a, '-', x))"
            )
            d = (
                f"list_reduce(['{init}'] || list_transform({a_d},"
                f" x -> CAST(x AS VARCHAR)), (a, x) -> a || '-' || x)"
            )
        exprs.append((f"{s} AS f{i}", f"{d} AS f{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_hof_nested_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """NESTED / composed HOF-lambda family (r12, VERDICT r11 #6): the
    r11 struct-fold fork proved the lambda surface hides engine
    divergences, and the flat hof/fold_order families never compose
    lambdas. Five shapes, probed before registration:
      0. lambda-captures-the-array: transform whose body embeds a
         filter+fold over the SAME array (inner empty-filter folds to
         the init via DuckDB's [init] || list prepend);
      1. index lambdas — Spark's two-arg (x, i) with 0-based i vs the
         DuckDB mirror list_transform(generate_series(1, len(a)),
         i -> a[i] ...) with 1-based i (offset folded into the
         template so both compute the identical linear form);
      2. exists/forall vs the len(list_filter(...)) spellings, cast to
         BIGINT on both sides so the hash compares integers;
      3. lambdas capturing an OUTER COLUMN (correlated lambda bodies —
         both engines resolve the capture, probed);
      4. Spark's 4-arg aggregate finish lambda vs applying the finish
         outside DuckDB's list_reduce.
    Array results serialize via array_join / coalesced array_to_string
    (the empty-array NULL-vs-'' pinned convention)."""
    rows = gen_rows(rng, rng.randint(0, 200))
    path = os.path.join(tmp, f"fuzz_{case_id}_hn.parquet")
    spark.createDataFrame(
        rows, "k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    arr_s = "array(coalesce(m1,0), coalesce(m2,1), coalesce(m3,2), {k})"
    arr_d = "[coalesce(m1,0), coalesce(m2,1), coalesce(m3,2), {k}]"
    exprs = []
    for i in range(rng.randint(1, 3)):
        k = rng.randint(-5, 5)
        a_s, a_d = arr_s.format(k=k), arr_d.format(k=k)
        kind = rng.randint(0, 4)
        if kind == 0:
            mm, md = rng.randint(-3, 3), rng.randint(2, 5)
            s = (
                f"array_join(transform({a_s}, x -> x * {mm} +"
                f" aggregate(filter({a_s}, y -> y % {md} = 0),"
                " CAST(0 AS BIGINT), (a, y) -> a + y)), ',')"
            )
            d = (
                f"coalesce(array_to_string(list_transform({a_d},"
                f" x -> x * {mm} + list_reduce([CAST(0 AS BIGINT)] ||"
                f" list_filter({a_d}, y -> y % {md} = 0),"
                " (a, y) -> a + y)), ','), '')"
            )
        elif kind == 1:
            m, c = rng.randint(-3, 3), rng.randint(-4, 4)
            s = (
                f"array_join(transform({a_s},"
                f" (x, i) -> x * {m} + (i + 1) * {c}), ',')"
            )
            d = (
                "coalesce(array_to_string(list_transform("
                f"generate_series(1, len({a_d})),"
                f" i -> {a_d}[i] * {m} + i * {c}), ','), '')"
            )
        elif kind == 2:
            md, thr = rng.randint(2, 5), rng.randint(-5, 5)
            if rng.random() < 0.5:
                s = f"CAST(exists({a_s}, x -> x % {md} = 0) AS BIGINT)"
                d = (
                    f"CAST(len(list_filter({a_d}, x -> x % {md} = 0)) > 0"
                    " AS BIGINT)"
                )
            else:
                s = f"CAST(forall({a_s}, x -> x > {thr}) AS BIGINT)"
                d = (
                    f"CAST(len(list_filter({a_d},"
                    f" x -> NOT (x > {thr}))) = 0 AS BIGINT)"
                )
        elif kind == 3:
            cap = rng.choice(["coalesce(m1,0)", "coalesce(m2,1)"])
            if rng.random() < 0.5:
                s = f"array_join(transform({a_s}, x -> x + {cap}), ',')"
                d = (
                    f"coalesce(array_to_string(list_transform({a_d},"
                    f" x -> x + {cap}), ','), '')"
                )
            else:
                s = f"array_join(filter({a_s}, x -> x <= {cap}), ',')"
                d = (
                    f"coalesce(array_to_string(list_filter({a_d},"
                    f" x -> x <= {cap}), ','), '')"
                )
        else:
            init, p = rng.randint(0, 9), rng.choice([97, 101, 1009])
            s = (
                f"CAST(aggregate({a_s}, CAST({init} AS BIGINT),"
                f" (a, x) -> a + x, a -> abs(a) % {p}) AS BIGINT)"
            )
            d = (
                f"CAST(abs(list_reduce([CAST({init} AS BIGINT)] || {a_d},"
                f" (a, x) -> a + x)) % {p} AS BIGINT)"
            )
        exprs.append((f"{s} AS hn{i}", f"{d} AS hn{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_try_agg_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """TRY-aggregate family (r12): Spark's try_sum returns NULL when the
    BIGINT sum overflows; DuckDB's sum promotes to HUGEINT and never
    does — the mirror sums in HUGEINT and NULLs outside the int64 range.
    Values are NON-NEGATIVE by construction: with mixed signs Spark's
    partial sums can overflow transiently in a partition-order-dependent
    way even when the total fits (same-sign addition is monotone, so
    overflow happens iff the TOTAL overflows — deterministic). The row
    expression is capped at (x % 10) * C ≤ 8.1e18 so the per-row product
    never overflows on either engine; C is drawn so some groups overflow
    and some don't. try_avg is probed non-overflowing (internal wide
    accumulator), so its kind sticks to <2^53-exact sums where IEEE
    division matches bit-for-bit."""
    rows = gen_rows(rng, rng.randint(0, 200))
    path = os.path.join(tmp, f"fuzz_{case_id}_ta.parquet")
    spark.createDataFrame(
        rows, "k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 2)
        if kind == 0:
            c = rng.choice(
                [9_000_000_000_000_000, 90_000_000_000_000_000,
                 900_000_000_000_000_000]
            )
            val = f"(abs(coalesce(m3, 0)) % 10) * CAST({c} AS BIGINT)"
            s = f"try_sum({val})"
            d = (
                f"CASE WHEN sum(CAST({val} AS HUGEINT))"
                " BETWEEN -9223372036854775808 AND 9223372036854775807"
                f" THEN CAST(sum(CAST({val} AS HUGEINT)) AS BIGINT)"
                " END"
            )
        elif kind == 1:
            val = "coalesce(m3, 0) % 100000"
            s = f"round(try_avg({val}), 6)"
            d = f"round(avg({val}), 6)"
        else:
            md = rng.randint(2, 5)
            c = rng.choice(
                [9_000_000_000_000_000, 900_000_000_000_000_000]
            )
            val = f"(abs(coalesce(m3, 0)) % 10) * CAST({c} AS BIGINT)"
            s = f"try_sum({val}) FILTER (WHERE coalesce(m2, 0) % {md} = 0)"
            d = (
                f"CASE WHEN sum(CAST({val} AS HUGEINT))"
                f" FILTER (coalesce(m2, 0) % {md} = 0)"
                " BETWEEN -9223372036854775808 AND 9223372036854775807"
                f" THEN CAST(sum(CAST({val} AS HUGEINT))"
                f" FILTER (coalesce(m2, 0) % {md} = 0) AS BIGINT)"
                " END"
            )
        exprs.append((f"{s} AS ta{i}", f"{d} AS ta{i}"))
    ssql = "SELECT k1, " + ", ".join(e[0] for e in exprs) + " FROM t GROUP BY k1"
    dsql = "SELECT k1, " + ", ".join(e[1] for e in exprs) + " FROM t GROUP BY k1"
    return _compare(spark.sql(ssql), con, dsql)


def run_sort_comparator_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Comparator-lambda array_sort family (r12): Spark's two-arg
    comparator `array_sort(a, (x, y) -> CASE ...)` has NO DuckDB
    twin — list_sort takes no lambda — so the mirror is the
    sort-by-injective-key emulation: transform to a key that encodes
    both the sort field and the original value, list_sort, invert.
    Any comparator-vs-key-order divergence (including how Spark
    resolves comparator ties — avoided here by injective keys) flips
    element order and fails the hash. Values are bounded to (-500,
    500) so the key arithmetic is collision-free by construction."""
    rows = gen_rows(rng, rng.randint(0, 200))
    path = os.path.join(tmp, f"fuzz_{case_id}_sc.parquet")
    spark.createDataFrame(
        rows, "k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    arr_s = (
        "array(coalesce(m1,0) % 500, coalesce(m2,1) % 500,"
        " coalesce(m3,2) % 500, {k})"
    )
    arr_d = (
        "[coalesce(m1,0) % 500, coalesce(m2,1) % 500,"
        " coalesce(m3,2) % 500, {k}]"
    )
    exprs = []
    for i in range(rng.randint(1, 3)):
        k = rng.randint(-499, 499)
        a_s, a_d = arr_s.format(k=k), arr_d.format(k=k)
        kind = rng.randint(0, 2)
        if kind == 0:
            # sort by |x|, original value as the injective tie-break
            s = (
                f"array_join(array_sort({a_s}, (x, y) -> CASE"
                " WHEN abs(x) * 1000 + x < abs(y) * 1000 + y THEN -1"
                " WHEN abs(x) * 1000 + x > abs(y) * 1000 + y THEN 1"
                " ELSE 0 END), ',')"
            )
            d = (
                f"coalesce(array_to_string(list_transform(list_sort("
                f"list_transform({a_d}, x -> abs(x) * 1000 + x + 500)),"
                " e -> (e % 1000) - 500), ','), '')"
            )
        elif kind == 1:
            # descending
            s = (
                f"array_join(array_sort({a_s}, (x, y) -> CASE"
                " WHEN x > y THEN -1 WHEN x < y THEN 1 ELSE 0 END), ',')"
            )
            d = (
                f"coalesce(array_to_string(list_reverse(list_sort({a_d}"
                ")), ','), '')"
            )
        else:
            md = rng.randint(2, 7)
            # sort by pmod(x, md) (non-negative on BOTH sides — a
            # signed % would make the DuckDB key negative and break
            # the %-based inversion, found live by seed 0 case 2),
            # then x as the injective tie-break
            s = (
                f"array_join(array_sort({a_s}, (x, y) -> CASE"
                f" WHEN pmod(x, {md}) * 10000 + x <"
                f" pmod(y, {md}) * 10000 + y THEN -1"
                f" WHEN pmod(x, {md}) * 10000 + x >"
                f" pmod(y, {md}) * 10000 + y THEN 1 ELSE 0 END), ',')"
            )
            d = (
                f"coalesce(array_to_string(list_transform(list_sort("
                f"list_transform({a_d},"
                f" x -> ((x % {md} + {md}) % {md}) * 10000 + x + 5000)),"
                " e -> (e % 10000) - 5000), ','), '')"
            )
        exprs.append((f"{s} AS sc{i}", f"{d} AS sc{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_decimal_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Exact-decimal arithmetic case (the r5 decimal-literal lesson as a
    grammar): int measures cast to DECIMAL(18,3), combined with
    +, *, % and terminating division (divisors 2/4/5/8/10 keep every
    quotient exact within scale 6), plus sum/min/max/avg aggregates —
    every result whose derived TYPE could differ between engines is
    pinned by an explicit outer CAST (sum: Spark precision+10 vs
    DuckDB's 38; division/avg: different intermediate scales), because
    the driver hash is type/format-exact and Decimal scale is part of
    the rendering. Probed: the uncast +/*/%/min/max derive matching
    scales in both engines."""
    rows = gen_rows(rng, rng.randint(0, 250))
    path = os.path.join(tmp, f"fuzz_{case_id}_dec.parquet")
    spark.createDataFrame(
        rows, "k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    where = gen_predicate(rng)

    def dcol():
        return f"CAST({rng.choice(MEASURES)} AS DECIMAL(18,3))"

    if rng.random() < 0.5:
        # projection shape (row-exact values, derived scales match)
        exprs = []
        for i in range(rng.randint(1, 3)):
            kind = rng.randint(0, 3)
            if kind == 0:
                exprs.append(
                    f"{dcol()} * CAST({rng.randint(-9, 9)} AS DECIMAL(9,2)) AS e{i}"
                )
            elif kind == 1:
                exprs.append(
                    f"{dcol()} + CAST({rng.randint(-999, 999)}"
                    f" * 0.125 AS DECIMAL(12,3)) AS e{i}"
                )
            elif kind == 2:
                exprs.append(
                    f"CAST({dcol()} / {rng.choice([2, 4, 5, 8, 10])}"
                    f" AS DECIMAL(38,6)) AS e{i}"
                )
            else:
                exprs.append(
                    f"{dcol()} % CAST({rng.randint(2, 9)} AS DECIMAL(9,0)) AS e{i}"
                )
        rid_free = ", ".join(["k1", *exprs])
        sql = f"SELECT {rid_free} FROM t WHERE {where}"
        sdf = spark.read.parquet(path).where(where).selectExpr("k1", *exprs)
        return _compare(sdf, con, sql)
    # aggregate shape — outer CAST pins precision AND scale. avg is
    # deliberately excluded: DuckDB's avg(DECIMAL) goes through DOUBLE
    # while Spark's stays exact decimal, so a non-terminating mean can
    # flip the last cast digit between engines.
    fn = rng.choice(["sum", "min", "max"])
    group = rng.random() < 0.6
    agg = f"CAST({fn}({dcol()}) AS DECIMAL(38,6)) AS a0"
    gb = " GROUP BY k1" if group else ""
    sel = ("k1, " if group else "") + f"CAST(count(*) AS BIGINT) AS cnt, {agg}"
    sql = f"SELECT {sel} FROM t WHERE {where}{gb}"
    spark.read.parquet(path).createOrReplaceTempView("t")
    return _compare(spark.sql(sql), con, sql)


def run_like_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """LIKE / NOT LIKE / ILIKE case over strings containing the
    metacharacters themselves (%, _, !) plus empties and NULLs.
    Patterns are built WITHOUT backslashes and use ESCAPE '!' when a
    metacharacter is matched literally: Spark processes C-style
    backslash escapes inside SQL string literals by default while
    DuckDB is SQL-standard (a backslash is a character), so any
    backslash in shared SQL text silently denotes DIFFERENT strings —
    pinned in tests/test_fuzz_differential.py; '!' carries no escape
    meaning in either literal syntax."""
    alphabet = ["ab", "a%b", "a_b", "aXb", "", "A%B", "xy!z", "aab", "b"]
    rows = [
        (i, rng.choice([*alphabet, None]))
        for i in range(rng.randint(0, 200))
    ]
    path = os.path.join(tmp, f"fuzz_{case_id}_l.parquet")
    spark.createDataFrame(rows, "rid long, s string").write.mode(
        "overwrite"
    ).parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    pats = []
    for _ in range(rng.randint(1, 2)):
        kind = rng.randint(0, 4)
        if kind == 0:
            pat, esc = rng.choice(["a%", "%b", "a_b", "%X%", "_", "%"]), ""
        elif kind == 1:
            pat, esc = rng.choice(["a!%b", "a!_b", "%!%%"]), " ESCAPE '!'"
        elif kind == 2:
            pat, esc = rng.choice(["A%", "a%B", "A!_B"]), (
                " ESCAPE '!'" if rng.random() < 0.5 else ""
            )
            pats.append(f"s {'NOT ' if rng.random() < 0.3 else ''}ILIKE '{pat}'{esc if '!' in pat else ''}")
            continue
        else:
            pat, esc = rng.choice(["ab", "aab", ""]), ""
        neg = "NOT " if rng.random() < 0.3 else ""
        pats.append(f"s {neg}LIKE '{pat}'{esc}")
    where = " OR ".join(pats)
    sql = f"SELECT rid, s FROM t WHERE {where}"
    sdf = spark.read.parquet(path).where(where).select("rid", "s")
    return _compare(sdf, con, sql)


def gen_date_exprs(rng: random.Random) -> list[str]:
    """Date expressions with probed cross-engine parity (see
    tests/test_fuzz_differential.py): date_trunc agrees for
    month/week/quarter/year (Monday-start weeks in BOTH engines) but
    Spark returns TIMESTAMP where DuckDB returns DATE — hence the
    explicit CAST AS DATE; extract agrees for
    year/month/day/quarter/week/doy but NOT dow (Spark Sunday=1,
    DuckDB Sunday=0 — pinned, excluded); interval arithmetic and
    last_day agree including leap days and month-end clamping."""
    out = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 4)
        if kind == 0:
            unit = rng.choice(["month", "week", "quarter", "year"])
            out.append(f"CAST(date_trunc('{unit}', d) AS DATE) AS e{i}")
        elif kind == 1:
            part = rng.choice(["year", "month", "day", "quarter", "week", "doy"])
            out.append(f"CAST(extract({part} FROM d) AS BIGINT) AS e{i}")
        elif kind == 2:
            out.append(f"last_day(d) AS e{i}")
        elif kind == 3:
            # CAST required: Spark keeps DATE ± INTERVAL a DATE, DuckDB
            # widens it to TIMESTAMP (found by seeds 5208/5209 — the
            # same result-TYPE divergence class as date_trunc)
            n = rng.randint(1, 40)
            unit = rng.choice(["DAY", "MONTH"])
            sign = rng.choice(["+", "-"])
            out.append(f"CAST(d {sign} INTERVAL {n} {unit} AS DATE) AS e{i}")
        else:
            lit = rng.choice(["1995-03-31", "2000-02-29", "2024-12-31"])
            fn = rng.choice(["greatest", "least"])
            out.append(f"{fn}(d, DATE '{lit}') AS e{i}")
    return out


def run_date_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Date-function case over random dates spanning 1960-2100 (leap
    days, century boundary, pre-epoch) with NULLs, identical SQL text on
    both engines."""
    import datetime

    from pyspark.sql import functions as F

    base = datetime.date(1960, 1, 1)
    rows = [
        (
            i,
            None
            if rng.random() < 0.1
            else base + datetime.timedelta(days=rng.randint(0, 51100)),
        )
        for i in range(rng.randint(0, 200))
    ]
    path = os.path.join(tmp, f"fuzz_{case_id}_d.parquet")
    spark.createDataFrame(rows, "rid long, d date").write.mode(
        "overwrite"
    ).parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    where = rng.choice(
        [
            "d IS NOT NULL",
            "d IS NULL OR d < DATE '2050-01-01'",
            f"extract(month FROM d) = {rng.randint(1, 12)}",
            "TRUE",
        ]
    )
    if rng.random() < 0.35:
        # GROUP BY a truncated date — the rollup-reporting composition
        # (bucket per month/week/etc., NULL dates forming a NULL group)
        unit = rng.choice(["month", "week", "quarter", "year"])
        g = f"CAST(date_trunc('{unit}', d) AS DATE)"
        sql = (
            f"SELECT {g} AS g, CAST(count(*) AS BIGINT) AS cnt, "
            f"CAST(count(d) AS BIGINT) AS nn FROM t WHERE {where} GROUP BY {g}"
        )
        sdf = (
            spark.read.parquet(path)
            .where(where)
            .groupBy(F.expr(g).alias("g"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.count("d").cast("bigint").alias("nn"),
            )
        )
        return _compare(sdf, con, sql)
    exprs = gen_date_exprs(rng)
    sel = ", ".join(["rid", *exprs])
    sql = f"SELECT {sel} FROM t WHERE {where}"
    sdf = spark.read.parquet(path).where(where).selectExpr("rid", *exprs)
    return _compare(sdf, con, sql)


def run_grouping_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Multi-dimensional aggregation case: ROLLUP / CUBE / GROUPING SETS
    through the DataFrame API (df.rollup / df.cube / df.groupingSets)
    vs the SQL spelling in DuckDB. The trap under test: super-aggregate
    rows spell their grouped-out keys NULL, and k1/k2 REALLY contain
    NULLs — only the GROUPING() discriminator separates a genuine NULL
    group from a rollup total, so both engines must agree on it per row.
    """
    from pyspark.sql import functions as F

    rows = gen_rows(rng, rng.randint(0, 300))
    path = os.path.join(tmp, f"fuzz_{case_id}_g.parquet")
    spark.createDataFrame(
        rows, "k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    where = gen_predicate(rng)
    mcol = rng.choice(MEASURES)
    kind = rng.randint(0, 2)
    sets_sql = {
        0: "ROLLUP (k1, k2)",
        1: "CUBE (k1, k2)",
        2: "GROUPING SETS ((k1), (k2), ())",
    }[kind]
    sql = (
        "SELECT k1, k2, CAST(GROUPING(k1) AS BIGINT) AS g1, "
        "CAST(GROUPING(k2) AS BIGINT) AS g2, "
        "CAST(count(*) AS BIGINT) AS cnt, "
        f"CAST(sum({mcol}) AS BIGINT) AS s "
        f"FROM t WHERE {where} GROUP BY {sets_sql}"
    )
    base = spark.read.parquet(path).where(where)
    grouped = {
        0: lambda: base.rollup("k1", "k2"),
        1: lambda: base.cube("k1", "k2"),
        2: lambda: base.groupingSets(
            [["k1"], ["k2"], []], F.col("k1"), F.col("k2")
        ),
    }[kind]()
    sdf = grouped.agg(
        F.grouping("k1").cast("bigint").alias("g1"),
        F.grouping("k2").cast("bigint").alias("g2"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(mcol).cast("bigint").alias("s"),
    )
    if base.limit(1).count() == 0:
        # PINNED cross-engine divergence (FIXTURES.md r6): on EMPTY
        # input, grouping-set shapes containing the empty set () emit
        # the SQL-standard global super-aggregate row in DuckDB
        # (count=0, like Postgres) but ZERO rows in Spark. Assert the
        # divergence holds exactly this shape rather than comparing.
        n_spark = sdf.count()
        n_duck = len(con.execute(sql).fetchall())
        if (n_spark, n_duck) != (0, 1):
            return (
                f"empty-input grouping divergence changed shape: "
                f"spark={n_spark} duck={n_duck} [{sql}]"
            )
        return None
    return _compare(sdf, con, sql)


def _materialize_single(spark, con, rng, tmp, tag: str, n_max: int = 200):
    """Single-table setup shared by the r7 expression families: random
    (k1,k2,m1..m3) rows to parquet, `t` registered in both engines."""
    rows = gen_rows(rng, rng.randint(0, n_max))
    path = os.path.join(tmp, f"{tag}.parquet")
    spark.createDataFrame(
        rows, "k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )


def run_map_hof_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Map higher-order-function case (r7): per-row maps built from the
    integer measures, exercised through lookup / cardinality / key-value
    serialization / transform_values / map_filter, as paired per-engine
    templates (DuckDB has no map lambdas — its side spells the same
    semantics through map_values + list lambdas). PINNED divergence
    found on landing (FIXTURES.md): DuckDB map extraction (`m[k]`,
    element_at) yields a one-element LIST, not the value — every DuckDB
    lookup template appends `[1]`; a missing key is then `[][1]` = NULL,
    matching Spark's NULL."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_m")
    m_s = "map('a', coalesce(m1,0), 'b', coalesce(m2,1), 'c', coalesce(m3,2))"
    m_d = "map(['a','b','c'], [coalesce(m1,0), coalesce(m2,1), coalesce(m3,2)])"
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 6)
        if kind == 0:
            key = rng.choice(["a", "b", "c", "z"])  # 'z' misses → NULL
            s = f"CAST({m_s}['{key}'] AS BIGINT)"
            d = f"CAST({m_d}['{key}'][1] AS BIGINT)"
        elif kind == 1:
            s = f"CAST(cardinality({m_s}) AS BIGINT)"
            d = f"CAST(cardinality({m_d}) AS BIGINT)"
        elif kind == 2:
            which = rng.choice(["map_keys", "map_values"])
            s = f"array_join({which}({m_s}), ',')"
            d = f"coalesce(array_to_string({which}({m_d}), ','), '')"
        elif kind == 3:
            mul, c = rng.randint(-3, 3), rng.randint(-10, 10)
            key = rng.choice(["a", "b", "c"])
            s = (
                f"CAST(transform_values({m_s},"
                f" (k, v) -> v * {mul} + {c})['{key}'] AS BIGINT)"
            )
            d = f"CAST({m_d}['{key}'][1] * {mul} + {c} AS BIGINT)"
        elif kind == 4:
            md = rng.randint(2, 5)
            s = (
                f"CAST(cardinality(map_filter({m_s},"
                f" (k, v) -> v % {md} = 0)) AS BIGINT)"
            )
            d = (
                f"CAST(len(list_filter(map_values({m_d}),"
                f" x -> x % {md} = 0)) AS BIGINT)"
            )
        elif kind == 5:
            # r12: map_zip_with over PARTIALLY-OVERLAPPING key sets —
            # DuckDB has no map lambdas, so the mirror unions the key
            # lists and rebuilds each value via m[k][1] lookups; both
            # serialize as sorted key=value strings
            m2_s = "map('b', coalesce(m2,1), 'd', coalesce(m1,0))"
            m2_d = "map(['b','d'], [coalesce(m2,1), coalesce(m1,0)])"
            al, be = rng.randint(-3, 3), rng.randint(-3, 3)
            s = (
                f"array_join(transform(array_sort(map_entries("
                f"map_zip_with({m_s}, {m2_s},"
                f" (k, v1, v2) -> coalesce(v1, 0) * {al}"
                f" + coalesce(v2, 0) * {be}))),"
                " e -> concat(e.key, '=', CAST(e.value AS STRING))), ',')"
            )
            d = (
                "array_to_string(list_transform(list_sort(list_distinct("
                f"map_keys({m_d}) || map_keys({m2_d}))),"
                f" k -> k || '=' || CAST(coalesce({m_d}[k][1], 0) * {al}"
                f" + coalesce({m2_d}[k][1], 0) * {be} AS VARCHAR)), ',')"
            )
        else:
            # r12: transform_keys — DuckDB mirror derives the new key
            # strings from the key list + per-key value lookups
            md = rng.randint(2, 5)
            s = (
                f"array_join(array_sort(map_keys(transform_keys({m_s},"
                f" (k, v) -> concat(k, '#',"
                f" CAST(pmod(v, {md}) AS STRING))))), ',')"
            )
            d = (
                "array_to_string(list_sort(list_transform("
                f"map_keys({m_d}), k -> k || '#' ||"
                f" CAST((({m_d}[k][1] % {md}) + {md}) % {md}"
                " AS VARCHAR))), ',')"
            )
        exprs.append((f"{s} AS p{i}", f"{d} AS p{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def _materialize_triple(spark, con, rng, tmp, tag: str) -> None:
    """(t, u, v) setup for the multi-level subquery families: the outer
    table, a middle table keyed by uk, and an inner table keyed by vk —
    all NULL-bearing."""
    _materialize_pair(
        spark,
        con,
        tmp,
        tag,
        gen_rows(rng, rng.randint(0, 150)),
        "k1 string, k2 string, m1 long, m2 long, m3 long",
        gen_join_rows(rng, rng.randint(0, 40)),
        "uk string, n1 long",
    )
    vpath = os.path.join(tmp, f"{tag}_v.parquet")
    vrows = [
        (r[0], r[1] if r[1] is None else r[1] * 3 - 7)
        for r in gen_join_rows(rng, rng.randint(0, 30))
    ]
    spark.createDataFrame(vrows, "vk string, vn long").write.mode(
        "overwrite"
    ).parquet(vpath)
    spark.read.parquet(vpath).createOrReplaceTempView("v")
    con.execute(
        f"CREATE OR REPLACE VIEW v AS SELECT * FROM '{vpath}/*.parquet'"
    )


def run_nested_subquery_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Multi-level correlated subqueries (r7): scalar-inside-scalar
    (the inner subquery correlates to the MIDDLE table), EXISTS inside
    a correlated scalar (the COUNT-bug surface one level deeper), and
    EXISTS-in-EXISTS — identical SQL text through both engines, every
    integer aggregate CAST-pinned."""
    _materialize_triple(spark, con, rng, tmp, f"fuzz_{case_id}_n")
    c1, c2 = rng.randint(-50, 50), rng.randint(-20, 20)
    kind = rng.randint(0, 3)
    if kind == 0:
        sql = (
            "SELECT k1, m1, (SELECT CAST(max(u.n1) AS BIGINT) FROM u "
            "WHERE u.uk = t.k1 AND u.n1 > (SELECT coalesce(min(v.vn), "
            f"{c2}) FROM v WHERE v.vk = u.uk)) AS sub "
            f"FROM t WHERE ({gen_predicate(rng)})"
        )
    elif kind == 1:
        sql = (
            "SELECT k1, m1, (SELECT CAST(count(*) AS BIGINT) FROM u "
            "WHERE u.uk = t.k1 AND EXISTS (SELECT 1 FROM v WHERE "
            "v.vk = u.uk AND v.vn > u.n1)) AS sub "
            f"FROM t WHERE ({gen_predicate(rng)})"
        )
    elif kind == 2:
        sql = (
            "SELECT k1, count(*) AS n, CAST(sum(m1) AS BIGINT) AS s "
            "FROM t WHERE EXISTS (SELECT 1 FROM u WHERE u.uk = t.k1 "
            "AND EXISTS (SELECT 1 FROM v WHERE v.vk = u.uk AND "
            f"v.vn > {c1})) AND ({gen_predicate(rng)}) GROUP BY k1"
        )
    else:
        sql = (
            "SELECT k1, count(*) AS n FROM t WHERE NOT EXISTS "
            "(SELECT 1 FROM u WHERE u.uk = t.k1 AND u.n1 > "
            f"(SELECT coalesce(max(v.vn), {c2}) FROM v WHERE "
            f"v.vk = u.uk)) AND ({gen_predicate(rng)}) GROUP BY k1"
        )
    return _compare(spark.sql(sql), con, sql)


def run_exists_in_case_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """EXISTS / IN subqueries inside CASE expressions (r7): in the
    SELECT list, multi-branch with a correlated EXISTS and an
    uncorrelated IN, and under an aggregate (sum of CASE WHEN EXISTS) —
    identical SQL text through both engines. Exercises Spark's
    decorrelation of predicate subqueries OUTSIDE filter position."""
    _materialize_pair(
        spark,
        con,
        tmp,
        f"fuzz_{case_id}_e",
        gen_rows(rng, rng.randint(0, 200)),
        "k1 string, k2 string, m1 long, m2 long, m3 long",
        gen_join_rows(rng, rng.randint(0, 40)),
        "uk string, n1 long",
    )
    c1, c2 = rng.randint(-50, 50), rng.randint(-50, 50)
    kind = rng.randint(0, 2)
    if kind == 0:
        sql = (
            "SELECT k1, m1, CASE WHEN EXISTS (SELECT 1 FROM u WHERE "
            f"u.uk = t.k1 AND u.n1 > {c1}) THEN coalesce(m1, 0) "
            "ELSE -coalesce(m1, 0) END AS c "
            f"FROM t WHERE ({gen_predicate(rng)})"
        )
    elif kind == 1:
        sql = (
            "SELECT k1, CASE WHEN EXISTS (SELECT 1 FROM u WHERE "
            f"u.uk = t.k1 AND u.n1 > {c1}) THEN 1 "
            f"WHEN k1 IN (SELECT uk FROM u WHERE n1 <= {c2}) THEN 2 "
            "ELSE 3 END AS bucket, m1 "
            f"FROM t WHERE ({gen_predicate(rng)})"
        )
    else:
        sql = (
            "SELECT k1, CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM u "
            f"WHERE u.uk = t.k1 AND u.n1 > {c1}) THEN 1 ELSE 0 END) "
            "AS BIGINT) AS s, count(*) AS n "
            f"FROM t WHERE ({gen_predicate(rng)}) GROUP BY k1"
        )
    return _compare(spark.sql(sql), con, sql)


def run_month_interval_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Interval month-arithmetic clamping battery (r7): dates BIASED to
    month ends (days 28-31, Feb-29 leap edges) ± random month counts.
    Both engines clamp to the target month's last day (Jan 31 + 1 month
    = Feb 28/29) — probed equal — but the SPELLINGS differ: DuckDB has
    no `INTERVAL -3 MONTH` literal (parser error) and no add_months, so
    its side uses to_months(k); Spark's side runs both the interval
    literal AND add_months (probed identical to each other). last_day
    composes on top in both."""
    years = list(range(1996, 2101, 7)) + [2000, 2024, 2100]  # 2100: no leap
    rows = []
    for i in range(rng.randint(1, 120)):
        y = rng.choice(years)
        mo = rng.randint(1, 12)
        # bias to month-end; clamp day to the month's real length
        dmax = [31, 29 if (y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)) else 28,
                31, 30, 31, 30, 31, 31, 30, 31, 30, 31][mo - 1]
        day = min(rng.choice([28, 29, 30, 31, rng.randint(1, 28)]), dmax)
        rows.append((i, y, mo, day, rng.randint(-40, 40)))
    if not rows:
        return None
    path = os.path.join(tmp, f"fuzz_{case_id}_d.parquet")
    spark.createDataFrame(
        rows, "rid long, y int, mo int, day int, k long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    base = "make_date(y, mo, day)"
    kind = rng.randint(0, 2)
    if kind == 0:
        s = f"CAST(add_months({base}, k) AS DATE) AS d"
        d = f"CAST({base} + to_months(CAST(k AS INT)) AS DATE) AS d"
    elif kind == 1:
        n = rng.randint(-30, 30)
        s = f"CAST({base} + INTERVAL {n} MONTH AS DATE) AS d"
        d = f"CAST({base} + to_months({n}) AS DATE) AS d"
    else:
        s = f"last_day(add_months({base}, k)) AS d"
        d = f"last_day({base} + to_months(CAST(k AS INT))) AS d"
    ssql = f"SELECT rid, {s} FROM t"
    dsql = f"SELECT rid, {d} FROM t"
    return _compare(spark.sql(ssql), con, dsql)


def run_struct_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Struct field access (r7): named structs (Spark named_struct vs
    DuckDB struct literals), nested structs, and array-of-struct element
    access — paired per-engine templates, field values from the
    NULL-bearing measures."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_s")
    st_s = (
        "named_struct('f1', coalesce(m1, 0), 'f2', coalesce(k1, ''), "
        "'g', named_struct('h', coalesce(m2, 1)))"
    )
    st_d = (
        "{'f1': coalesce(m1, 0), 'f2': coalesce(k1, ''), "
        "'g': {'h': coalesce(m2, 1)}}"
    )
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 3)
        if kind == 0:
            s = f"CAST({st_s}.f1 AS BIGINT)"
            d = f"CAST({st_d}.f1 AS BIGINT)"
        elif kind == 1:
            s = f"CAST({st_s}.g.h AS BIGINT)"
            d = f"CAST({st_d}.g.h AS BIGINT)"
        elif kind == 2:
            s = f"{st_s}.f2"
            d = f"{st_d}.f2"
        else:
            mul = rng.randint(-3, 3)
            s = (
                f"CAST(element_at(array({st_s}), 1).f1 * {mul} AS BIGINT)"
            )
            d = f"CAST([{st_d}][1].f1 * {mul} AS BIGINT)"
        exprs.append((f"{s} AS p{i}", f"{d} AS p{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_array_setop_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Array set-operation case (r7): union / intersect / except /
    distinct / contains over per-row integer arrays, paired per-engine
    templates. PINNED divergence (FIXTURES.md r7): DuckDB's
    list_distinct / list_intersect DROP NULL elements while Spark's
    array_distinct / array_intersect keep NULL as a distinct value — so
    the family's arrays coalesce every element non-null, and the NULL
    behavior itself is pinned in tests/test_fuzz_differential.py.
    DuckDB also has no list_union/list_except — its twins spell
    concat+distinct and distinct+filter(NOT contains)."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_a")
    ka, kb = rng.randint(-5, 5), rng.randint(-5, 5)
    a_s = f"array(coalesce(m1,0), coalesce(m2,1), coalesce(m3,2), {ka})"
    a_d = f"[coalesce(m1,0), coalesce(m2,1), coalesce(m3,2), {ka}]"
    b_s = f"array(coalesce(m2,1), coalesce(m3,2), {kb}, {ka})"
    b_d = f"[coalesce(m2,1), coalesce(m3,2), {kb}, {ka}]"
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 4)
        if kind == 0:
            s = f"array_join(array_sort(array_union({a_s}, {b_s})), ',')"
            d = (
                "coalesce(array_to_string(list_sort(list_distinct("
                f"list_concat({a_d}, {b_d}))), ','), '')"
            )
        elif kind == 1:
            s = f"array_join(array_sort(array_intersect({a_s}, {b_s})), ',')"
            d = (
                "coalesce(array_to_string(list_sort(list_intersect("
                f"{a_d}, {b_d})), ','), '')"
            )
        elif kind == 2:
            s = f"array_join(array_sort(array_except({a_s}, {b_s})), ',')"
            d = (
                "coalesce(array_to_string(list_sort(list_filter("
                f"list_distinct({a_d}), x -> NOT list_contains({b_d}, x)))"
                ", ','), '')"
            )
        elif kind == 3:
            s = f"array_join(array_sort(array_distinct({a_s})), ',')"
            d = (
                "coalesce(array_to_string(list_sort(list_distinct("
                f"{a_d})), ','), '')"
            )
        else:
            probe = rng.randint(-5, 5)
            s = f"CAST(array_contains({a_s}, {probe}) AS INT)"
            d = f"CAST(list_contains({a_d}, {probe}) AS INT)"
        exprs.append((f"{s} AS p{i}", f"{d} AS p{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_distinct_window_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """DISTINCT-over-window family (r13): Spark's window clause has no
    COUNT/SUM(DISTINCT) OVER, so the engine's rolling-distinct ops use
    EMULATIONS (collect_list over the frame → array_distinct → fold);
    DuckDB supports DISTINCT window aggregates NATIVELY (probed r13) —
    which makes it the perfect oracle for exactly those emulation
    patterns. Frames are RANGE-based on purpose: with duplicate order
    keys a ROWS frame's content depends on the tiebreak (engines would
    legitimately disagree), while RANGE frames are value-based and
    tie-stable. The distinct-ed value is coalesced non-null: Spark's
    collect_list DROPS NULLs and DuckDB's DISTINCT aggregates ignore
    them — same outcome, but the equivalence is not worth leaning on."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_dw")
    okey = "coalesce(m1, 0) % 50"
    x = f"abs(coalesce(m2, 0)) % {rng.randint(3, 9)}"
    exprs = []
    for i in range(rng.randint(1, 2)):
        kind = rng.randint(0, 2)
        if kind == 0:
            c = rng.randint(0, 20)
            frame = (
                f"PARTITION BY k1 ORDER BY {okey} "
                f"RANGE BETWEEN {c} PRECEDING AND CURRENT ROW"
            )
            s = (
                f"size(array_distinct(collect_list({x}) "
                f"OVER ({frame})))"
            )
            d = f"CAST(count(DISTINCT {x}) OVER ({frame}) AS INT)"
        elif kind == 1:
            frame = (
                f"PARTITION BY k1 ORDER BY {okey} "
                "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            )
            s = (
                f"size(array_distinct(collect_list({x}) "
                f"OVER ({frame})))"
            )
            d = f"CAST(count(DISTINCT {x}) OVER ({frame}) AS INT)"
        else:
            c = rng.randint(0, 20)
            frame = (
                f"PARTITION BY k1 ORDER BY {okey} "
                f"RANGE BETWEEN {c} PRECEDING AND CURRENT ROW"
            )
            s = (
                f"aggregate(array_distinct(collect_list({x}) "
                f"OVER ({frame})), 0L, (acc, v) -> acc + v)"
            )
            d = (
                f"CAST(coalesce(sum(DISTINCT {x}) OVER ({frame}), 0) "
                "AS BIGINT)"
            )
        exprs.append((f"{s} AS dw{i}", f"{d} AS dw{i}"))
    ssql = (
        f"SELECT k1, {okey} AS ok, "
        + ", ".join(e[0] for e in exprs)
        + " FROM t"
    )
    dsql = (
        f"SELECT k1, {okey} AS ok, "
        + ", ".join(e[1] for e in exprs)
        + " FROM t"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_array_battery_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """array_position / array_remove / array_insert battery (r13,
    VERDICT r12 #6). Probed + pinned semantics this family is built on
    (tests/test_fuzz_differential.py):

      * array_position ≡ list_position with missing → 0 on BOTH
        engines (coalesce kept anyway — older DuckDB returned NULL);
        first occurrence wins on both.
      * array_remove(a, v) removes ALL occurrences ≡ list_filter
        (x -> x != v); elements are non-null by construction (the
        array_setop family's NULL-element pin applies here too).
      * array_insert: Spark pos is 1-based; pos 0 ERRORS; pos past
        len+1 pads with NULLs (excluded — pos drawn in [1, len+1]);
        NEGATIVE pos p maps to insert position len+2+p (probed:
        -1 appends, -len-1 prepends; p < -(len+1) pads — excluded).
        DuckDB has no list_insert — the twin is slice concatenation
        a[1:p-1] || [v] || a[p:len].
      * array_append/array_prepend ≡ list || [v] / [v] || list.
    Arrays are fixed length 4 with a REPEATED element so position and
    remove exercise multi-occurrence paths."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_ab")
    k = rng.randint(-2, 4)
    # c1 repeats at slots 1 and 3: first-occurrence + remove-all paths
    elems_s = [
        "coalesce(m1, 0) % 5",
        "coalesce(m2, 1) % 5",
        "coalesce(m1, 0) % 5",
        str(k),
    ]
    a_s = "array(" + ", ".join(elems_s) + ")"
    a_d = "[" + ", ".join(elems_s) + "]"
    n = 4
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 4)
        probe = rng.randint(-2, 6)
        v = rng.randint(-9, 9)
        if kind == 0:
            s = f"CAST(array_position({a_s}, {probe}) AS BIGINT)"
            d = f"CAST(coalesce(list_position({a_d}, {probe}), 0) AS BIGINT)"
        elif kind == 1:
            s = f"array_join(array_remove({a_s}, {probe}), ',')"
            d = (
                "coalesce(array_to_string(list_filter("
                f"{a_d}, x -> x != {probe}), ','), '')"
            )
        elif kind == 2:
            p = rng.randint(1, n + 1)
            s = f"array_join(array_insert({a_s}, {p}, {v}), ',')"
            d = (
                f"array_to_string({a_d}[1:{p - 1}] || [{v}] || "
                f"{a_d}[{p}:{n}], ',')"
            )
        elif kind == 3:
            p = rng.randint(-(n + 1), -1)
            q = n + 2 + p
            s = f"array_join(array_insert({a_s}, {p}, {v}), ',')"
            d = (
                f"array_to_string({a_d}[1:{q - 1}] || [{v}] || "
                f"{a_d}[{q}:{n}], ',')"
            )
        else:
            if rng.random() < 0.5:
                s = f"array_join(array_append({a_s}, {v}), ',')"
                d = f"array_to_string({a_d} || [{v}], ',')"
            else:
                s = f"array_join(array_prepend({a_s}, {v}), ',')"
                d = f"array_to_string([{v}] || {a_d}, ',')"
        exprs.append((f"{s} AS ab{i}", f"{d} AS ab{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_str_map_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """str_to_map / map_concat / map_from_entries / element_at battery
    (r13). Probed + pinned semantics the family is built on
    (tests/test_fuzz_differential.py):

      * str_to_map: a trailing delimiter yields value '' while an
        entry WITHOUT the kv-delimiter yields value NULL ('a:1,b:,c'
        → {a:'1', b:'', c:NULL}) — the DuckDB twin is string_split
        twice (split[2] is NULL/'' the same way);
      * DUPLICATE keys ERROR on Spark (mapKeyDedupPolicy=EXCEPTION
        default) for both str_to_map and map_concat — the family
        generates unique/disjoint keys by construction;
      * map comparison is CANONICAL-STRING only (sorted
        'k=coalesce(v)' entry join) — engines serialize maps
        differently (DuckDB fetches {key:[...], value:[...]});
      * DuckDB map extraction m[k] returns a LIST ([] on miss) — the
        scalar twin is m[k][1]; Spark element_at on a missing key is
        NULL (non-ANSI-erroring, probed); this DuckDB has no
        map_contains — the twin is list_contains(map_keys(m), k).
    """
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_sm")
    v1 = "CAST(abs(coalesce(m1, 0)) % 100 AS STRING)"
    v2 = "CAST(abs(coalesce(m2, 1)) % 100 AS STRING)"
    v3 = "CAST(abs(coalesce(m3, 2)) % 100 AS STRING)"
    d1 = v1.replace("STRING", "VARCHAR")
    d2 = v2.replace("STRING", "VARCHAR")
    d3 = v3.replace("STRING", "VARCHAR")
    canon_s = (
        "array_join(transform(array_sort(map_entries({m})), "
        "e -> concat(e.key, '=', coalesce(e.value, '?'))), ',')"
    )
    canon_d = (
        "array_to_string(list_sort(list_transform(map_entries({m}), "
        "e -> e.key || '=' || coalesce(e.value, '?'))), ',')"
    )
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 4)
        if kind == 0:
            # parse string incl. empty-value ('d:') and valueless ('e')
            raw_s = f"concat('a:', {v1}, ',b:', {v2}, ',d:,e')"
            raw_d = f"('a:' || {d1} || ',b:' || {d2} || ',d:,e')"
            s = canon_s.format(m=f"str_to_map({raw_s}, ',', ':')")
            d = canon_d.format(
                m=(
                    f"map(list_transform(string_split({raw_d}, ','), "
                    "x -> string_split(x, ':')[1]), "
                    f"list_transform(string_split({raw_d}, ','), "
                    "x -> string_split(x, ':')[2]))"
                )
            )
        elif kind == 1:
            m_s = f"map_concat(map('a', {v1}), map('b', {v2}, 'c', {v3}))"
            m_d = f"map(['a','b','c'], [{d1}, {d2}, {d3}])"
            s = (
                f"concat(CAST(cardinality({m_s}) AS STRING), '|', "
                + canon_s.format(m=m_s)
                + ")"
            )
            d = (
                f"concat(CAST(cardinality({m_d}) AS VARCHAR), '|', "
                + canon_d.format(m=m_d)
                + ")"
            )
        elif kind == 2:
            m_s = (
                f"map_from_entries(array(struct('b', {v2}), "
                f"struct('a', {v1})))"
            )
            m_d = f"map(['b','a'], [{d2}, {d1}])"
            s = canon_s.format(m=m_s)
            d = canon_d.format(m=m_d)
        elif kind == 3:
            probe = rng.choice(["'a'", "'z'"])
            m_s = f"map('a', {v1}, 'b', {v2})"
            m_d = f"map(['a','b'], [{d1}, {d2}])"
            s = f"coalesce(element_at({m_s}, {probe}), '<miss>')"
            d = f"coalesce(({m_d})[{probe}][1], '<miss>')"
        else:
            probe = rng.choice(["'a'", "'z'"])
            s = (
                f"CAST(map_contains_key(map('a', {v1}), {probe}) AS INT)"
            )
            d = (
                f"CAST(list_contains(map_keys(map(['a'], [{d1}])), "
                f"{probe}) AS INT)"
            )
        exprs.append((f"{s} AS sm{i}", f"{d} AS sm{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_filter_agg_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Aggregate-FILTER-clause + boolean/bitwise aggregate family (r13,
    51st). Probed + pinned semantics this family is built on
    (tests/test_fuzz_differential.py):

      * `agg(x) FILTER (WHERE p)` agrees on both engines, including
        with COUNT(DISTINCT) and with a NULL-yielding predicate (NULL
        excludes the row, 3-valued, same as WHERE);
      * bool_and/bool_or skip NULL booleans on both and return NULL
        for all-NULL groups; Spark's every/some are aliases — the
        DuckDB twin spells bool_and/bool_or;
      * Spark count_if(p) ≡ DuckDB count(*) FILTER (WHERE p) (TRUE
        rows only; NULL predicate not counted);
      * bit_and/bit_or/bit_xor skip NULLs on both, NULL for all-NULL
        groups; operands kept small non-negative so int-width
        promotion never engages.
    Groups by the NULL-bearing k1 so filtered aggregates see NULL
    groups and empty-after-filter groups (count→0, sum→NULL)."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_fa")
    exprs = []
    for i in range(rng.randint(2, 4)):
        kind = rng.randint(0, 5)
        p = gen_predicate(rng)
        if kind == 0:
            s = d = f"count(*) FILTER (WHERE {p})"
        elif kind == 1:
            col = rng.choice(MEASURES)
            fn = rng.choice(["sum", "min", "max"])
            s = d = f"{fn}({col}) FILTER (WHERE {p})"
            if fn == "sum":
                s = f"CAST({s} AS BIGINT)"
                d = f"CAST({d} AS BIGINT)"
        elif kind == 2:
            col = rng.choice(MEASURES)
            s = d = f"count(DISTINCT {col}) FILTER (WHERE {p})"
        elif kind == 3:
            b = f"({rng.choice(MEASURES)} > {rng.randint(-5, 15)})"
            if rng.random() < 0.5:
                sfn = rng.choice(["bool_and", "every"])
                s = f"CAST({sfn}({b}) AS INT)"
                d = f"CAST(bool_and({b}) AS INT)"
            else:
                sfn = rng.choice(["bool_or", "some"])
                s = f"CAST({sfn}({b}) AS INT)"
                d = f"CAST(bool_or({b}) AS INT)"
        elif kind == 4:
            s = f"count_if({p})"
            d = f"count(*) FILTER (WHERE {p})"
        else:
            col = rng.choice(MEASURES)
            fn = rng.choice(["bit_and", "bit_or", "bit_xor"])
            arg = f"abs(coalesce({col}, 0)) % 64"
            nn = f"CASE WHEN {col} IS NULL THEN NULL ELSE {arg} END"
            s = d = f"CAST({fn}({nn}) AS BIGINT)"
        exprs.append((f"{s} AS fa{i}", f"{d} AS fa{i}"))
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + " FROM t GROUP BY k1"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + " FROM t GROUP BY k1"
    )
    return _compare(spark.sql(ssql), con, dsql)


# strdist family: the three non-ASCII chars the generator may emit and
# the ASCII placeholders the DuckDB twin remaps them to (chosen outside
# the generator alphabet so the remap is injective on any generated
# string). Spark levenshtein counts CHARACTERS while DuckDB counts
# BYTES (probed: lev('é','a') = 1 vs 2, lev('日本語','日本') = 1 vs 3 —
# the r12 matching_edit_distance_profile pin); the remap makes every
# char single-byte so DuckDB's byte distance IS the char distance.
_STRDIST_REMAP = [("é", "1"), ("ü", "2"), ("日", "3")]


def _strdist_remap_sql(col: str) -> str:
    out = col
    for src, dst in _STRDIST_REMAP:
        out = f"replace({out}, '{src}', '{dst}')"
    return out


def run_strdist_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """String-distance family over MULTIBYTE strings (r13, 52nd) — the
    byte-normalized levenshtein twin the r12 edit-distance pin called
    for, live as working code. Spark's levenshtein/length/instr are
    character-based; DuckDB's levenshtein is BYTE-based while its
    length/strpos are character-based (probed). The DuckDB twin
    single-byte-remaps the three non-ASCII alphabet chars
    (_STRDIST_REMAP) before levenshtein, making byte distance equal
    char distance exactly; length/instr need no remap. Also exercises
    Spark's 3-arg levenshtein threshold form (distance > t → -1; the
    DuckDB twin is a CASE over the full distance) and the char/byte
    length axis (length ≡ length, octet_length ≡ strlen)."""
    alphabet = ["a", "b", "c", "x", "é", "ü", "日"]

    def rand_str():
        return "".join(
            rng.choice(alphabet) for _ in range(rng.randint(0, 8))
        )

    rows = [(rand_str(), rand_str()) for _ in range(rng.randint(5, 40))]
    path = os.path.join(tmp, f"fuzz_{case_id}_sd.parquet")
    spark.createDataFrame(rows, "sa string, sb string").write.mode(
        "overwrite"
    ).parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("sd")
    con.execute(
        f"CREATE OR REPLACE VIEW sd AS SELECT * FROM '{path}/*.parquet'"
    )
    ra, rb = _strdist_remap_sql("sa"), _strdist_remap_sql("sb")
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 3)
        if kind == 0:
            s = "levenshtein(sa, sb)"
            d = f"levenshtein({ra}, {rb})"
        elif kind == 1:
            t = rng.randint(0, 6)
            s = f"levenshtein(sa, sb, {t})"
            d = (
                f"CASE WHEN levenshtein({ra}, {rb}) > {t} THEN -1 "
                f"ELSE levenshtein({ra}, {rb}) END"
            )
        elif kind == 2:
            s = "length(sa) + 100 * octet_length(sb)"
            d = "length(sa) + 100 * strlen(sb)"
        else:
            ch = rng.choice(alphabet)
            s = f"instr(sa, '{ch}') + 100 * CAST(contains(sb, '{ch}') AS INT)"
            d = (
                f"strpos(sa, '{ch}') + 100 * "
                f"CAST(contains(sb, '{ch}') AS INT)"
            )
        exprs.append((f"CAST({s} AS INT) AS sd{i}", f"CAST({d} AS INT) AS sd{i}"))
    ssql = (
        "SELECT sa, sb, " + ", ".join(e[0] for e in exprs) + " FROM sd"
    )
    dsql = (
        "SELECT sa, sb, " + ", ".join(e[1] for e in exprs) + " FROM sd"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_seq_battery_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """sequence/generate_series + greatest/least battery (r13, 53rd).
    Probed + pinned semantics (tests/test_fuzz_differential.py):

      * Spark sequence(a, b, step) ≡ DuckDB generate_series(a, b,
        step) — both INCLUSIVE of the end bound when hit exactly,
        both support negative steps, both yield a single element when
        a = b; a DIRECTION-INCONSISTENT step (a < b with step < 0)
        ERRORS on Spark but returns [] on DuckDB — PINNED, the
        generator derives the step's sign from the bounds;
      * greatest/least SKIP NULL arguments on both engines (NULL only
        when every argument is NULL) — unlike ANSI, where any NULL
        poisons; fuzzed with NULL-bearing measures.
    Bounds are derived from row values mod small constants so list
    lengths stay ≤ ~25."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_sq")
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 2)
        if kind == 0:
            lo = f"(coalesce(m1, 0) % 10)"
            hi = f"({lo} + abs(coalesce(m2, 1)) % 20)"
            st = rng.randint(1, 4)
            s = f"array_join(sequence({lo}, {hi}, {st}), ',')"
            d = f"array_to_string(generate_series({lo}, {hi}, {st}), ',')"
        elif kind == 1:
            hi = f"(coalesce(m1, 0) % 10)"
            lo = f"({hi} - abs(coalesce(m3, 1)) % 20)"
            st = -rng.randint(1, 4)
            s = (
                f"CAST(size(sequence({hi}, {lo}, {st})) AS INT)"
            )
            d = (
                f"CAST(len(generate_series({hi}, {lo}, {st})) AS INT)"
            )
        else:
            args = ", ".join(
                rng.choice(MEASURES + [str(rng.randint(-9, 9))])
                for _ in range(rng.randint(2, 4))
            )
            fn = rng.choice(["greatest", "least"])
            s = d = f"{fn}({args})"
        exprs.append((f"{s} AS sq{i}", f"{d} AS sq{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_quantile_battery_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Quantile/percentile battery (r13, 54th). Values are QUARTER
    multiples (m%k * 0.25) and probe fractions quarter-valued, so the
    linear interpolation (1−h)·a + h·b stays in small dyadic rationals
    — bit-exact on BOTH engines regardless of each engine's formula
    association (probed: percentile ≡ quantile_cont, median ≡ median,
    and the ANSI percentile_cont/percentile_disc WITHIN GROUP spelling
    parses identically on both). mode() is EXCLUDED — tie-breaking is
    engine-arbitrary (probed: Spark returned the last-inserted value
    on an all-distinct column)."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_qb")
    v = f"(CAST(abs(coalesce({rng.choice(MEASURES)}, 0)) % 40 AS DOUBLE) * 0.25)"
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 3)
        p = rng.choice(["0", "0.25", "0.5", "0.75", "1.0"])
        if kind == 0:
            s = f"percentile({v}, {p})"
            d = f"quantile_cont({v}, {p})"
        elif kind == 1:
            s = d = f"percentile_cont({p}) WITHIN GROUP (ORDER BY {v})"
        elif kind == 2:
            s = d = f"percentile_disc({p}) WITHIN GROUP (ORDER BY {v})"
        else:
            s = d = f"median({v})"
        exprs.append((f"{s} AS qb{i}", f"{d} AS qb{i}"))
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + " FROM t GROUP BY k1"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + " FROM t GROUP BY k1"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_ignore_nulls_window_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """IGNORE NULLS window-function family (r13, 55th):
    first_value/last_value/nth_value over ROWS frames and lead/lag,
    all with IGNORE NULLS — probed identical VALUES across engines
    with different SPELLING position (Spark: `fn(v, n) IGNORE NULLS
    OVER ...`; DuckDB: `fn(v, n IGNORE NULLS) OVER ...` — the modifier
    sits inside the parens). Determinism with ROWS frames: the ORDER
    BY lists EVERY column (NULLS FIRST), so tied rows are full-row
    duplicates — any tiebreak permutes identical rows and every
    window output is invariant. The nullable value derives from a
    sort column (m2), so equal-sort rows carry equal values."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_inw")
    v = "(CASE WHEN m2 IS NULL THEN NULL ELSE m2 % 7 END)"
    order = (
        "m1 NULLS FIRST, m2 NULLS FIRST, m3 NULLS FIRST, "
        "k1 NULLS FIRST, k2 NULLS FIRST"
    )
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 4)
        if kind in (0, 1):
            fn = "first_value" if kind == 0 else "last_value"
            c = rng.randint(0, 20)
            lo = rng.choice(["UNBOUNDED PRECEDING", f"{c} PRECEDING"])
            frame = (
                f"PARTITION BY k1 ORDER BY {order} "
                f"ROWS BETWEEN {lo} AND CURRENT ROW"
            )
            s = f"{fn}({v}) IGNORE NULLS OVER ({frame})"
            d = f"{fn}({v} IGNORE NULLS) OVER ({frame})"
        elif kind == 2:
            n = rng.randint(1, 3)
            frame = (
                f"PARTITION BY k1 ORDER BY {order} "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            )
            s = f"nth_value({v}, {n}) IGNORE NULLS OVER ({frame})"
            d = f"nth_value({v}, {n} IGNORE NULLS) OVER ({frame})"
        else:
            fn = "lead" if kind == 3 else "lag"
            n = rng.randint(1, 3)
            over = f"PARTITION BY k1 ORDER BY {order}"
            s = f"{fn}({v}, {n}) IGNORE NULLS OVER ({over})"
            d = f"{fn}({v}, {n} IGNORE NULLS) OVER ({over})"
        exprs.append((f"{s} AS iw{i}", f"{d} AS iw{i}"))
    ssql = (
        "SELECT k1, m1, m2, m3, "
        + ", ".join(e[0] for e in exprs)
        + " FROM t"
    )
    dsql = (
        "SELECT k1, m1, m2, m3, "
        + ", ".join(e[1] for e in exprs)
        + " FROM t"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_pad_trim_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """lpad/rpad/trim/translate/repeat battery (r13, 56th). Probed
    parity (tests/test_fuzz_differential.py): lpad/rpad with
    MULTI-char pads cycle the pad string identically, truncate when
    len < strlen, and return '' at len 0 on both engines; multi-char
    ltrim/rtrim strip a CHARACTER SET (not a prefix string) on both —
    but the argument order is MIRRORED (Spark ltrim(trimstr, str),
    DuckDB ltrim(str, chars)) and Spark's two-sided trim spells
    TRIM(BOTH chars FROM str); translate and repeat are identical."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_pt")
    base = "concat(coalesce(k1, 'n'), coalesce(k2, 'm'), CAST(abs(coalesce(m1, 0)) % 100 AS STRING))"
    base_d = base.replace("STRING", "VARCHAR")
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 4)
        if kind == 0:
            fn = rng.choice(["lpad", "rpad"])
            n = rng.randint(0, 12)
            pad = rng.choice(["'#'", "'xy'", "'.-='"])
            s = f"{fn}({base}, {n}, {pad})"
            d = f"{fn}({base_d}, {n}, {pad})"
        elif kind == 1:
            chars = rng.choice(["'a'", "'ax'", "'xy0'"])
            side = rng.randint(0, 2)
            if side == 0:
                s = f"TRIM(BOTH {chars} FROM {base})"
                d = f"trim({base_d}, {chars})"
            elif side == 1:
                s = f"ltrim({chars}, {base})"
                d = f"ltrim({base_d}, {chars})"
            else:
                s = f"rtrim({chars}, {base})"
                d = f"rtrim({base_d}, {chars})"
        elif kind == 2:
            s = f"translate({base}, 'abx', '123')"
            d = f"translate({base_d}, 'abx', '123')"
        elif kind == 3:
            n = rng.randint(0, 3)
            s = f"repeat({base}, {n})"
            d = f"repeat({base_d}, {n})"
        else:
            s = f"reverse({base})"
            d = f"reverse({base_d})"
        exprs.append((f"{s} AS pt{i}", f"{d} AS pt{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_array_slice_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """array slice/flatten/compact/min-max battery (r13, 57th).
    Probed + pinned conventions (tests/test_fuzz_differential.py):

      * Spark slice(a, start, LEN) ↔ DuckDB list_slice(a, start,
        STOP) with inclusive stop = start+len-1; both clamp past the
        end; NEGATIVE starts are end-relative on both, but mixing a
        negative start with a positive stop breaks the DuckDB twin —
        the generator keeps len ≤ |start| so the stop stays negative;
      * array_compact ≡ list_filter(x -> x IS NOT NULL);
      * flatten ≡ flatten;
      * array_min/array_max ≡ list_min/list_max (NULL elements
        skipped on both; NULL only for all-NULL).
    All-NULL array_join('' vs NULL) stays coalesced per the r10 pin."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_asl")
    elems = [
        "coalesce(m1, 0) % 7",
        "CASE WHEN m2 IS NULL THEN NULL ELSE m2 % 5 END",
        "coalesce(m3, 1) % 9",
        str(rng.randint(-3, 3)),
        "coalesce(m1, 2) % 4",
    ]
    a_s = "array(" + ", ".join(elems) + ")"
    a_d = "[" + ", ".join(elems) + "]"
    n_len = 5
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 4)
        if kind == 0:
            s0 = rng.randint(1, n_len)
            ln = rng.randint(1, n_len)
            s = f"coalesce(array_join(slice({a_s}, {s0}, {ln}), ','), '')"
            d = (
                f"coalesce(array_to_string(list_slice({a_d}, {s0}, "
                f"{s0 + ln - 1}), ','), '')"
            )
        elif kind == 1:
            s0 = -rng.randint(1, n_len)
            ln = rng.randint(1, -s0)
            s = f"coalesce(array_join(slice({a_s}, {s0}, {ln}), ','), '')"
            d = (
                f"coalesce(array_to_string(list_slice({a_d}, {s0}, "
                f"{s0 + ln - 1}), ','), '')"
            )
        elif kind == 2:
            s = f"coalesce(array_join(array_compact({a_s}), ','), '')"
            d = (
                f"coalesce(array_to_string(list_filter({a_d}, "
                "x -> x IS NOT NULL), ','), '')"
            )
        elif kind == 3:
            s = (
                f"coalesce(array_join(flatten(array({a_s}, {a_s})), ','), '')"
            )
            d = (
                f"coalesce(array_to_string(flatten([{a_d}, {a_d}]), ','), '')"
            )
        else:
            fn = rng.choice([("array_min", "list_min"), ("array_max", "list_max")])
            s = f"{fn[0]}({a_s})"
            d = f"{fn[1]}({a_d})"
        exprs.append((f"{s} AS asl{i}", f"{d} AS asl{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_bit_shift_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Bitwise operator/shift family (r13, 58th). Probed + pinned
    (tests/test_fuzz_differential.py):

      * `^` is XOR on Spark but POWER on DuckDB (5^3 = 6 vs 125.0 — a
        SILENT value fork, not an error) — the DuckDB twin is
        xor(a, b); `&`, `|`, `~` agree;
      * shiftleft/shiftright ≡ `<<`/`>>` on BIGINT for counts in
        [0, 63]; an out-of-range count WRAPS on Spark (masked mod 64:
        1<<65 = 2) but ERRORS on DuckDB, and DuckDB also ERRORS
        left-shifting a NEGATIVE number where Spark wraps (found LIVE
        by this family's first 40 seeds) — the generator bounds
        counts to [0, 62] and keeps `<<` operands non-negative;
        `>>` is arithmetic (sign-propagating) on both and accepts
        negatives; shiftrightunsigned has no DuckDB twin (excluded).
    Operands cast to BIGINT and kept small so `<<` never overflows."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_bs")
    a = "CAST(coalesce(m1, 0) % 1000 AS BIGINT)"
    a_nn = "CAST(abs(coalesce(m1, 0)) % 1000 AS BIGINT)"
    b = "CAST(coalesce(m2, 1) % 1000 AS BIGINT)"
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 4)
        if kind == 0:
            n = rng.randint(0, 40)
            s = f"shiftleft({a_nn}, {n})"
            d = f"({a_nn} << {n})"
        elif kind == 1:
            n = rng.randint(0, 62)
            s = f"shiftright({a}, {n})"
            d = f"({a} >> {n})"
        elif kind == 2:
            s = f"({a} ^ {b})"
            d = f"xor({a}, {b})"
        elif kind == 3:
            op = rng.choice(["&", "|"])
            s = d = f"({a} {op} {b})"
        else:
            s = d = f"(~{a})"
        exprs.append((f"CAST({s} AS BIGINT) AS bs{i}",
                      f"CAST({d} AS BIGINT) AS bs{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_split_part_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """split_part family (r13, 59th) — probed FULL agreement: 1-based
    index, NEGATIVE index counts from the end, out-of-range index
    yields '' (not NULL, not error), empty fields between adjacent
    delimiters are real '' parts on both engines. Strings built from
    row values with repeated and adjacent delimiters."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_sp")
    body = (
        "concat(coalesce(k1, ''), ',', CAST(abs(coalesce(m1, 0)) % 100 "
        "AS STRING), ',,', coalesce(k2, 'z'), ',', "
        "CAST(abs(coalesce(m2, 1)) % 10 AS STRING))"
    )
    body_d = body.replace("STRING", "VARCHAR")
    exprs = []
    for i in range(rng.randint(1, 3)):
        n = rng.choice([1, 2, 3, 4, 5, 6, 9, -1, -2, -5, -9])
        s = f"split_part({body}, ',', {n})"
        d = f"split_part({body_d}, ',', {n})"
        exprs.append((f"{s} AS sp{i}", f"{d} AS sp{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_to_json_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """to_json canonicalization family (r13, 60th). Probed + pinned
    (tests/test_fuzz_differential.py): with Spark's
    ignoreNullFields=false option the JSON text is BYTE-IDENTICAL to
    DuckDB's to_json across nested arrays/maps/structs, null fields,
    doubles ("2.0" both) and string escaping (quote → \\", tab → \\t,
    '/' unescaped, non-ASCII literal). Spark's DEFAULT to_json DROPS
    null fields (the pinned divergence the option neutralizes).
    Field order follows construction order on both (the struct family
    convention: never reorder across engines)."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_tj")
    nullable_int = "CASE WHEN m2 IS NULL THEN NULL ELSE m2 % 50 END"
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 2)
        if kind == 0:
            s = (
                f"to_json(struct(coalesce(m1, 0) % 9 AS a, "
                f"{nullable_int} AS b, k1 AS c), "
                "map('ignoreNullFields', 'false'))"
            )
            d = (
                f"to_json({{'a': coalesce(m1, 0) % 9, "
                f"'b': {nullable_int}, 'c': k1}})"
            )
        elif kind == 1:
            s = (
                "to_json(struct(array(coalesce(m1, 0) % 5, "
                f"{nullable_int}) AS e, struct(k2 AS x) AS s), "
                "map('ignoreNullFields', 'false'))"
            )
            d = (
                "to_json({'e': [coalesce(m1, 0) % 5, "
                f"{nullable_int}], 's': {{'x': k2}}}})"
            )
        else:
            s = (
                "to_json(struct(concat(coalesce(k1, ''), '\"', "
                "coalesce(k2, '')) AS q, "
                "CAST(coalesce(m3, 0) % 7 AS DOUBLE) / 2.0 AS d), "
                "map('ignoreNullFields', 'false'))"
            )
            d = (
                "to_json({'q': concat(coalesce(k1, ''), '\"', "
                "coalesce(k2, '')), "
                "'d': CAST(coalesce(m3, 0) % 7 AS DOUBLE) / 2.0})"
            )
        exprs.append((f"{s} AS tj{i}", f"{d} AS tj{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_from_json_mismatch_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """from_json schema-mismatch family (r13, 61st). Probed + pinned
    (tests/test_fuzz_differential.py):

      * Spark's from_json is TYPE-STRICT for numeric schema fields —
        a JSON string "7", a double 1.9, or a bool under 'a INT'
        all yield NULL (no coercion, no truncation); the DuckDB twin
        gates on json_type(j, path) IN ('BIGINT', 'UBIGINT') before
        try_cast;
      * a STRING schema field COERCES any scalar (1 → '1', true →
        'true') ≡ DuckDB json_extract_string;
      * missing keys are NULL on both; array indexing via the schema
        path ≡ json_extract '$.arr[i]' (0-based in both spellings
        used here);
      * MALFORMED input is the pinned fork: Spark yields an all-NULL
        struct, DuckDB json_extract ERRORS — the generator only
        emits valid JSON.
    The value type of field "a" rotates through int/double/string/
    bool so the strictness gate actually engages."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_fj")
    a_variants = [
        "CAST(coalesce(m1, 0) % 50 AS STRING)",           # JSON int
        "concat(CAST(coalesce(m1, 0) % 9 AS STRING), '.5')",  # double
        "concat('\"', coalesce(k1, 'n'), '\"')",          # string
        "CASE WHEN coalesce(m2, 0) % 2 = 0 THEN 'true' ELSE 'false' END",
    ]
    a_expr = rng.choice(a_variants)
    j_s = (
        "concat('{\"a\": ', " + a_expr + ", "
        "', \"arr\": [', CAST(abs(coalesce(m2, 0)) % 9 AS STRING), ',', "
        "CAST(abs(coalesce(m3, 1)) % 9 AS STRING), ']}')"
    )
    j_d = j_s.replace("AS STRING", "AS VARCHAR")
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 3)
        if kind == 0:
            s = f"from_json({j_s}, 'a bigint').a"
            d = (
                f"CASE WHEN json_type({j_d}, '$.a') IN "
                "('BIGINT', 'UBIGINT') THEN "
                f"try_cast(json_extract({j_d}, '$.a') AS BIGINT) END"
            )
        elif kind == 1:
            s = f"from_json({j_s}, 'a string').a"
            d = f"json_extract_string({j_d}, '$.a')"
        elif kind == 2:
            # index 2 is out of range -> NULL; Spark's bare arr[i]
            # ERRORS under ANSI, so the twin is try_element_at
            # (1-based) vs json path [i] (0-based)
            idx = rng.randint(0, 2)
            s = (
                f"try_element_at(from_json({j_s}, "
                f"'arr array<bigint>').arr, {idx + 1})"
            )
            d = (
                f"try_cast(json_extract({j_d}, '$.arr[{idx}]') AS BIGINT)"
            )
        else:
            s = f"from_json({j_s}, 'missing string').missing"
            d = f"json_extract_string({j_d}, '$.missing')"
        exprs.append((f"{s} AS fj{i}", f"{d} AS fj{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_make_date_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Datetime CONSTRUCTION battery (r13, 62nd) — the date family
    fuzzes date arithmetic/extraction; this one fuzzes building dates
    and timestamps from components. Probed + pinned
    (tests/test_fuzz_differential.py):

      * make_date ≡ make_date over 1960-2099 with leap-day components;
        INVALID components ERROR on BOTH engines (agreement — the
        generator still only emits valid triples: day ≤ 28 unless the
        month/year pair provably admits more);
      * Spark make_timestamp_ntz ≡ DuckDB make_timestamp (the NTZ
        spelling keeps the family zone-proof; fractional seconds kept
        quarter-valued → exact microseconds);
      * last_day / date ± n agree; Spark datediff(end, start) ≡
        DuckDB date_diff('day', start, end) — ARG ORDER MIRRORED."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_md")
    y = "(1960 + abs(coalesce(m1, 0)) % 140)"
    mo = "(1 + abs(coalesce(m2, 0)) % 12)"
    d = "(1 + abs(coalesce(m3, 0)) % 28)"
    y2 = "(1970 + abs(coalesce(m2, 7)) % 100)"
    mo2 = "(1 + abs(coalesce(m3, 2)) % 12)"
    d2 = "(1 + abs(coalesce(m1, 5)) % 28)"
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 4)
        if kind == 0:
            s = d_ = f"make_date({y}, {mo}, {d})"
        elif kind == 1:
            h = "(abs(coalesce(m2, 0)) % 24)"
            mi = "(abs(coalesce(m3, 0)) % 60)"
            sec = f"(abs(coalesce(m1, 0)) % 60 + {rng.choice([0, 0.25, 0.5, 0.75])})"
            s = f"make_timestamp_ntz({y}, {mo}, {d}, {h}, {mi}, {sec})"
            d_ = f"make_timestamp({y}, {mo}, {d}, {h}, {mi}, {sec})"
        elif kind == 2:
            s = d_ = f"last_day(make_date({y}, {mo}, {d}))"
        elif kind == 3:
            n = rng.randint(-500, 500)
            s = (
                f"date_add(make_date({y}, {mo}, {d}), {n})"
                if n >= 0
                else f"date_sub(make_date({y}, {mo}, {d}), {-n})"
            )
            d_ = f"(make_date({y}, {mo}, {d}) + {n})"
        else:
            s = (
                f"datediff(make_date({y}, {mo}, {d}), "
                f"make_date({y2}, {mo2}, {d2}))"
            )
            d_ = (
                f"date_diff('day', make_date({y2}, {mo2}, {d2}), "
                f"make_date({y}, {mo}, {d}))"
            )
            s = f"CAST({s} AS BIGINT)"
            d_ = f"CAST({d_} AS BIGINT)"
        exprs.append((f"{s} AS md{i}", f"{d_} AS md{i}"))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


# (java-pattern, strptime-pattern, python-strftime) triples for the
# csv_ts_format family — each row is one timestamp FORMAT DIALECT pair
# (Spark reads with Java DateTimeFormatter patterns, DuckDB with
# strptime patterns; python renders the ground-truth text).
_CSV_TS_FORMATS = [
    ("MM/dd/yyyy HH:mm:ss", "%m/%d/%Y %H:%M:%S"),
    ("yyyy-MM-dd HH:mm:ss", "%Y-%m-%d %H:%M:%S"),
    ("dd.MM.yyyy HH:mm", "%d.%m.%Y %H:%M"),
    ("yyyy/MM/dd'T'HH-mm-ss", "%Y/%m/%dT%H-%M-%S"),
]


def run_ts_seq_anchor_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Month-interval SEQUENCE stepping (r14, 64th) — the fresh shared
    surface the r14 probe found: Spark `sequence(ts, stop, INTERVAL n
    MONTH)` anchors every element to the ORIGINAL day-of-month
    (Jan 31 → Feb 29 → Mar 31: per-element one-shot addition from the
    anchor), while DuckDB `generate_series(ts, stop, INTERVAL n
    MONTH)` steps CUMULATIVELY from the previous element — once
    clamped, forever clamped (Jan 31 → Feb 29 → Mar 29). OPPOSITE
    element values on any month-end anchor (pinned in
    test_month_sequence_anchor_vs_sticky_clamp_pinned). The DuckDB
    twin therefore replicates Spark's anchor semantics with
    list_filter/list_transform over an index range: element i =
    anchor + (i·step) months as ONE addition — single-shot month
    addition agrees between engines (the month_interval family's
    pinned surface). Anchors are biased toward day 26–31 so the clamp
    actually engages; both ascending and descending sequences run."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_sq")
    y = "(2018 + abs(coalesce(m1, 0)) % 12)"
    mo = "(1 + abs(coalesce(m2, 0)) % 12)"
    if rng.random() < 0.5:
        d_raw = f"(26 + abs(coalesce(m3, 0)) % 6)"  # clamp-engaging band
    else:
        d_raw = f"(1 + abs(coalesce(m3, 0)) % 28)"
    # Valid-by-construction day: clamp to the month's length (identical
    # spelling on both engines; make_date errors on invalid days).
    day_s = f"least({d_raw}, day(last_day(make_date({y}, {mo}, 1))))"
    h = "(abs(coalesce(m2, 0)) % 24)"
    step = rng.randint(1, 3)
    n = rng.randint(3, 8)
    span = step * n
    exprs = []
    for i in range(rng.randint(1, 2)):
        desc = rng.random() < 0.3
        if desc:
            s = (
                f"transform(sequence(make_timestamp_ntz({y}, {mo}, {day_s}, {h}, 0, 0), "
                f"make_timestamp_ntz({y}, {mo}, {day_s}, {h}, 0, 0) - INTERVAL {span} MONTH, "
                f"INTERVAL -{step} MONTH), x -> CAST(x AS STRING))"
            )
            d_ = (
                f"list_transform(list_filter(range(0, {n} + 1), i -> "
                f"make_timestamp({y}, {mo}, {day_s}, {h}, 0, 0.0) - (i*{step}) * INTERVAL 1 MONTH >= "
                f"make_timestamp({y}, {mo}, {day_s}, {h}, 0, 0.0) - INTERVAL {span} MONTH), "
                f"i -> strftime(make_timestamp({y}, {mo}, {day_s}, {h}, 0, 0.0) "
                f"- (i*{step}) * INTERVAL 1 MONTH, '%Y-%m-%d %H:%M:%S'))"
            )
        else:
            s = (
                f"transform(sequence(make_timestamp_ntz({y}, {mo}, {day_s}, {h}, 0, 0), "
                f"make_timestamp_ntz({y}, {mo}, {day_s}, {h}, 0, 0) + INTERVAL {span} MONTH, "
                f"INTERVAL {step} MONTH), x -> CAST(x AS STRING))"
            )
            d_ = (
                f"list_transform(list_filter(range(0, {n} + 1), i -> "
                f"make_timestamp({y}, {mo}, {day_s}, {h}, 0, 0.0) + (i*{step}) * INTERVAL 1 MONTH <= "
                f"make_timestamp({y}, {mo}, {day_s}, {h}, 0, 0.0) + INTERVAL {span} MONTH), "
                f"i -> strftime(make_timestamp({y}, {mo}, {day_s}, {h}, 0, 0.0) "
                f"+ (i*{step}) * INTERVAL 1 MONTH, '%Y-%m-%d %H:%M:%S'))"
            )
        exprs.append((
            f"array_join({s}, ',') AS sq{i}",
            f"array_to_string({d_}, ',') AS sq{i}",
        ))
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_regr_battery_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """SQL:2016 linear-regression aggregate battery (r14, 65th):
    regr_slope/intercept/r2/count/avgx/avgy/sxx/syy/sxy + corr +
    covar_samp/covar_pop — IDENTICAL SQL text on both engines, values
    agreeing to ~1e-13 (different accumulation orders), canonicalized
    by micro-unit floor. NULL on EITHER coordinate skips the pair on
    both engines (probed). Zero-variance groups are excluded BY
    CONSTRUCTION — x strictly increasing, rows 0/1 anchor two
    distinct y per group — because `corr` FORKS there (Spark ANSI
    DIVIDE_BY_ZERO vs DuckDB NULL); the regr_* aggregates themselves
    agree even degenerate, including the shared r2 = 1.0 constant-y
    convention (pinned in test_regr_degenerate_group_fork_pinned)."""
    # 0.3-step grids, NOT 0.25: binary-exact quarter inputs make the
    # statistics land EXACTLY on decimal half-points (two seeds found
    # sxy = -1988.2890625 and covar = -114.66406250000001-vs-exact),
    # where no fixed canonicalization can absorb the engines' ~1-ulp
    # accumulation differences; binary-INEXACT steps push every
    # landing off the boundary by ≫ 1 ulp.
    groups = ["a", "b"][: rng.randint(1, 2)]
    rows = []
    for gi, g in enumerate(groups):
        n = rng.randint(2, 25)
        slope = rng.choice([0, 1, 2, -1])
        for i in range(n):
            x = i * 0.3 + gi * 0.1
            if i == 0:
                y = 0.0
            elif i == 1:
                y = 1000.3
            elif rng.random() < 0.15:
                y = None
            else:
                y = rng.randint(-40, 40) * 0.3 + x * slope
            rows.append((g, x, y))
    path = os.path.join(tmp, f"fuzz_{case_id}_rg.parquet")
    spark.createDataFrame(
        rows, "g string, x double, y double"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    # Canonicalization: micro-unit floor (CAST(floor(v·1e6 + 0.5) AS
    # BIGINT)) instead of round(v, 6) — quarter-grid inputs make the
    # statistics land EXACTLY on decimal half-points (sxy =
    # -1988.2890625 found by seed 180000+20), where the engines'
    # round() half-modes fork; floor over the identical IEEE product
    # is bit-deterministic on both engines (the repo's
    # floor(price·100+0.5) cents precedent).
    def mu(e):
        return f"CAST(floor(({e}) * 1000000 + 0.5) AS BIGINT)"

    fns = [
        mu("regr_slope(y, x)"),
        mu("regr_intercept(y, x)"),
        mu("regr_r2(y, x)"),
        "CAST(regr_count(y, x) AS BIGINT)",
        mu("CAST(regr_avgx(y, x) AS DOUBLE)"),
        mu("CAST(regr_avgy(y, x) AS DOUBLE)"),
        mu("regr_sxx(y, x)"),
        mu("regr_syy(y, x)"),
        mu("regr_sxy(y, x)"),
        mu("corr(x, y)"),
        mu("covar_samp(x, y)"),
        mu("covar_pop(x, y)"),
    ]
    picked = rng.sample(fns, rng.randint(2, 4))
    sel = ", ".join(f"{e} AS e{i}" for i, e in enumerate(picked))
    if rng.random() < 0.5:
        sql = f"SELECT g, {sel} FROM t GROUP BY g"
    else:
        sql = f"SELECT {sel} FROM t"
    return _compare(spark.sql(sql), con, sql)


def run_argminmax_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """min_by/max_by ≡ arg_min/arg_max battery (r14, 66th). Ordering
    keys are UNIQUE among non-nulls by construction (extremal-row
    selection is only differential-testable when the winner is
    unambiguous) and NULL ordering keys are skipped by BOTH engines
    (probed). The pinned fork this family mirrors around
    (test_argminmax_null_value_fork_pinned): when the WINNING row's
    value argument is NULL, Spark returns that NULL, while DuckDB's
    arg_min/arg_max skip null-valued rows and answer from the best
    surviving row — the DuckDB twin wraps the value in a struct
    (never NULL) and extracts after, replicating Spark exactly."""
    groups = ["a", "b", "c"][: rng.randint(1, 3)]
    rows, o_seq = [], list(range(200))
    rng.shuffle(o_seq)
    k = 0
    for g in groups:
        n = rng.randint(1, 20)
        for i in range(n):
            o = o_seq[k]
            k += 1
            if i > 0 and rng.random() < 0.15:
                o = None
            s = f"s{rng.randint(0, 9)}"
            w = None if rng.random() < 0.3 else rng.randint(-50, 50)
            rows.append((g, s, o, w))
    path = os.path.join(tmp, f"fuzz_{case_id}_am.parquet")
    spark.createDataFrame(
        rows, "g string, s string, o long, w long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    pairs = [
        ("min_by(s, o)", "arg_min(s, o)"),
        ("max_by(s, o)", "arg_max(s, o)"),
        ("min_by(w, o)", "(arg_min({'w': w}, o)).w"),
        ("max_by(w, o)", "(arg_max({'w': w}, o)).w"),
        # (w as the ORDERING key is deliberately absent: w repeats, and
        # tie-broken extremal selection is nondeterministic on Spark.)
    ]
    picked = rng.sample(pairs, rng.randint(2, len(pairs)))
    sel_s = ", ".join(f"{p[0]} AS e{i}" for i, p in enumerate(picked))
    sel_d = ", ".join(f"{p[1]} AS e{i}" for i, p in enumerate(picked))
    if rng.random() < 0.5:
        ssql = f"SELECT g, {sel_s} FROM t GROUP BY g"
        dsql = f"SELECT g, {sel_d} FROM t GROUP BY g"
    else:
        ssql = f"SELECT {sel_s} FROM t"
        dsql = f"SELECT {sel_d} FROM t"
    return _compare(spark.sql(ssql), con, dsql)


def run_map_lastwin_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Duplicate-map-key battery under the LAST_WIN dedup policy (r15,
    67th — VERDICT r14 #5 asked for a live twin of the pinned
    map_concat dup-key fork). Probed semantics the family is built on:

      * Spark DEFAULT (mapKeyDedupPolicy=EXCEPTION) raises
        DUPLICATED_MAP_KEY for ALL four dup-key constructors
        (map_concat / str_to_map / map_from_entries / map_from_arrays);
        DuckDB's in-literal dup (`MAP{'a':1,'a':2}`) likewise errors
        ('Map keys must be unique') — the BOTH-ERROR regime, asserted
        by one case kind;
      * under LAST_WIN all four Spark constructors keep the LAST value
        per key; DuckDB map_concat across maps is natively last-wins
        (probed: {a:1,b:5}+{a:2} -> a:2,b:5), so the map_concat kind is
        a direct twin while the other three pair against a DuckDB map
        CONSTRUCTED with the known-surviving values (the fork pin,
        expressed as an expectation);
      * the conf is applied via session.scoped_conf AROUND the
        collect (Spark SQL is lazy — setting it only at build time
        would fuzz the wrong policy) and restored after, so the shared
        session never leaks LAST_WIN into later cases/queries.

    Map comparison is canonical-string only (sorted 'k=v' join), same
    as the str_map family — engines serialize maps differently."""
    from presto_truffle_spark.session import scoped_conf

    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_lw")
    v1 = "CAST(abs(coalesce(m1, 0)) % 100 AS STRING)"
    v2 = "CAST(abs(coalesce(m2, 1)) % 100 AS STRING)"
    v3 = "CAST(abs(coalesce(m3, 2)) % 100 AS STRING)"
    d1, d2, d3 = (v.replace("STRING", "VARCHAR") for v in (v1, v2, v3))
    canon_s = (
        "array_join(transform(array_sort(map_entries({m})), "
        "e -> concat(e.key, '=', coalesce(e.value, '?'))), ',')"
    )
    canon_d = (
        "array_to_string(list_sort(list_transform(map_entries({m}), "
        "e -> e.key || '=' || coalesce(e.value, '?'))), ',')"
    )
    if rng.random() < 0.15:
        # BOTH-ERROR kind: dup keys under each engine's default.
        s_err = d_err = None
        try:
            spark.sql(
                f"SELECT str_to_map(concat('a:', {v1}, ',a:', {v2}), "
                "',', ':') AS m FROM t LIMIT 1"
            ).collect()
        except Exception as e:
            s_err = str(e)
        try:
            con.execute(
                f"SELECT MAP {{'a': {d1}, 'a': {d2}}} AS m FROM t LIMIT 1"
            ).fetchall()
        except Exception as e:
            d_err = str(e)
        # an EMPTY t never builds a dup map on either engine: both None
        # is agreement too (both engines short-circuit identically).
        n_rows = con.execute("SELECT count(*) FROM t").fetchone()[0]
        if n_rows == 0:
            if s_err is None and d_err is None:
                return None
            return f"empty-table dup-key errs ({s_err!r} vs {d_err!r})"
        if s_err is None or "DUPLICATED_MAP_KEY" not in s_err:
            return f"spark default dup-key did not error: {s_err!r}"
        if d_err is None or "unique" not in d_err:
            return f"duckdb literal dup-key did not error: {d_err!r}"
        return None
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 3)
        if kind == 0:
            # direct twin: map_concat overlap is last-wins on BOTH
            m_s = (
                f"map_concat(map('a', {v1}, 'b', {v2}), map('a', {v3}))"
            )
            m_d = (
                f"map_concat(MAP {{'a': {d1}, 'b': {d2}}}, "
                f"MAP {{'a': {d3}}})"
            )
        elif kind == 1:
            m_s = f"str_to_map(concat('a:', {v1}, ',b:', {v2}, ',a:', {v3}), ',', ':')"
            m_d = f"map(['a','b'], [{d3}, {d2}])"  # a keeps the LAST ({d3})
        elif kind == 2:
            m_s = (
                f"map_from_entries(array(struct('a', {v1}), "
                f"struct('b', {v2}), struct('a', {v3})))"
            )
            m_d = f"map(['a','b'], [{d3}, {d2}])"
        else:
            m_s = (
                f"map_from_arrays(array('a', 'b', 'a'), "
                f"array({v1}, {v2}, {v3}))"
            )
            m_d = f"map(['a','b'], [{d3}, {d2}])"
        exprs.append(
            (
                canon_s.format(m=m_s) + f" AS lw{i}",
                canon_d.format(m=m_d) + f" AS lw{i}",
            )
        )
    where = gen_predicate(rng)
    ssql = (
        "SELECT k1, " + ", ".join(e[0] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    dsql = (
        "SELECT k1, " + ", ".join(e[1] for e in exprs)
        + f" FROM t WHERE {where}"
    )
    with scoped_conf(spark, {"spark.sql.mapKeyDedupPolicy": "LAST_WIN"}):
        return _compare(spark.sql(ssql), con, dsql)


def run_sort_nulls_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Array-sort NULL-placement battery (r15, 68th — the live twin of
    the pinned array-sort null-placement fork, VERDICT r14 #5). The
    fork is IN-ENGINE on Spark: `array_sort(a)` places NULLs LAST
    while `sort_array(a)` (ascending) places them FIRST and
    `sort_array(a, false)` (descending) places them LAST — three
    different placements from two same-looking functions. DuckDB's
    default null order is a SETTING (default_null_order), so every
    DuckDB twin spells the placement explicitly
    (`list_sort(l, dir, 'NULLS FIRST'|'NULLS LAST')`); relying on the
    default would fuzz the installation, not the engine. Order is the
    signal, so canonicalization is a position-preserving join with a
    '?' NULL sentinel — NOT the sorted-set canon other array families
    use."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_sn")
    # m1..m3 are NULL-bearing by construction (gen_rows); mix in ties.
    arr_s = "array(m1, m2, m3, m1)"
    arr_d = "[m1, m2, m3, m1]"
    join_s = (
        "array_join(transform({a}, x -> coalesce(CAST(x AS STRING), '?')),"
        " ',')"
    )
    join_d = (
        "array_to_string(list_transform({a}, "
        "x -> coalesce(CAST(x AS VARCHAR), '?')), ',')"
    )
    pairs = [
        # Spark array_sort: ASC, NULLS LAST
        (
            join_s.format(a=f"array_sort({arr_s})"),
            join_d.format(a=f"list_sort({arr_d}, 'ASC', 'NULLS LAST')"),
        ),
        # Spark sort_array asc: NULLS FIRST
        (
            join_s.format(a=f"sort_array({arr_s})"),
            join_d.format(a=f"list_sort({arr_d}, 'ASC', 'NULLS FIRST')"),
        ),
        # Spark sort_array desc: NULLS LAST
        (
            join_s.format(a=f"sort_array({arr_s}, false)"),
            join_d.format(a=f"list_sort({arr_d}, 'DESC', 'NULLS LAST')"),
        ),
        # reverse of array_sort: DESC with NULLS FIRST
        (
            join_s.format(a=f"reverse(array_sort({arr_s}))"),
            join_d.format(a=f"list_sort({arr_d}, 'DESC', 'NULLS FIRST')"),
        ),
        # string-typed arrays hit the collation-independent ASCII path
        (
            join_s.format(
                a="array_sort(array(k1, k2, CAST(m1 AS STRING)))"
            ),
            join_d.format(
                a="list_sort([k1, k2, CAST(m1 AS VARCHAR)], "
                "'ASC', 'NULLS LAST')"
            ),
        ),
    ]
    picked = rng.sample(pairs, rng.randint(2, len(pairs)))
    sel_s = ", ".join(f"{p[0]} AS sn{i}" for i, p in enumerate(picked))
    sel_d = ", ".join(f"{p[1]} AS sn{i}" for i, p in enumerate(picked))
    where = gen_predicate(rng)
    ssql = f"SELECT k1, {sel_s} FROM t WHERE {where}"
    dsql = f"SELECT k1, {sel_d} FROM t WHERE {where}"
    return _compare(spark.sql(ssql), con, dsql)


def run_width_bucket_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """width_bucket battery (r16, 69th — the banked arithmetic-CASE
    twin from TODO r15). DuckDB ships NO width_bucket (probed:
    Catalog Error), so the twin SPELLS the documented conventions as
    exact integer arithmetic: NULL value -> NULL, v < lo -> 0,
    v >= hi -> n+1, else (n*(v-lo)) // (hi-lo) + 1. Spark evaluates
    in doubles ((n.toDouble*(v-min))/(max-min)).toLong+1 — exact-twin
    agreement holds because every product here is << 2^53 and a
    double quotient cannot cross an integer boundary at these
    magnitudes (|numerator| <= ~4e7, denominator <= 500). Bounds stay
    lo < hi: Spark supports REVERSED buckets when lo > hi (a Spark
    extension with no conventions to twin). Literal edge pins ride
    along: v=lo -> 1, v=hi -> n+1, v<lo -> 0."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_wb")
    exprs = []
    for i in range(rng.randint(2, 4)):
        v = rng.choice(["m1", "m2", "m3", "(m1 + m2)", "(m2 - m1)"])
        lo = rng.randint(-100, 100)
        hi = lo + rng.randint(1, 500)
        n = rng.randint(1, 20)
        s = f"width_bucket(CAST({v} AS DOUBLE), {lo}, {hi}, {n})"
        d = (
            f"CASE WHEN {v} IS NULL THEN NULL "
            f"WHEN {v} < {lo} THEN 0 "
            f"WHEN {v} >= {hi} THEN {n + 1} "
            f"ELSE ({n} * ({v} - {lo})) // ({hi} - {lo}) + 1 END"
        )
        exprs.append((f"wb{i}", s, d))
    # convention pins as literals (cheap, every case re-proves them)
    lo = rng.randint(-50, 50)
    hi = lo + rng.randint(1, 100)
    n = rng.randint(1, 9)
    for alias, v, want in (
        ("wb_lo", lo, 1),
        ("wb_hi", hi, n + 1),
        ("wb_under", lo - 1, 0),
    ):
        exprs.append(
            (
                alias,
                f"width_bucket(CAST({v} AS DOUBLE), {lo}, {hi}, {n})",
                str(want),
            )
        )
    sel_s = ", ".join(f"CAST({s} AS BIGINT) AS {a}" for a, s, _ in exprs)
    sel_d = ", ".join(f"CAST({d} AS BIGINT) AS {a}" for a, _, d in exprs)
    where = gen_predicate(rng)
    ssql = f"SELECT k1, {sel_s} FROM t WHERE {where}"
    dsql = f"SELECT k1, {sel_d} FROM t WHERE {where}"
    return _compare(spark.sql(ssql), con, dsql)


def run_csv_ts_format_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """CSV timestampFormat reader-option family (r13, 63rd): the same
    timestamp TEXT parsed through each engine's format DIALECT —
    Spark's Java DateTimeFormatter pattern (timestampNTZFormat, so the
    parse stays zone-proof) vs DuckDB's strptime pattern
    (timestampformat on read_csv) — must yield identical timestamps.
    Ground truth is rendered by Python's strftime; seconds-less
    formats truncate identically. Pinned in
    test_csv_ts_format_dialects_pinned."""
    import datetime

    java_fmt, strp_fmt = rng.choice(_CSV_TS_FORMATS)
    rows = []
    for k in range(rng.randint(3, 25)):
        ts = datetime.datetime(
            rng.randint(1960, 2099),
            rng.randint(1, 12),
            rng.randint(1, 28),
            rng.randint(0, 23),
            rng.randint(0, 59),
            rng.randint(0, 59),
        )
        if "%S" not in strp_fmt:
            ts = ts.replace(second=0)
        rows.append((k, ts))
    path = os.path.join(tmp, f"fuzz_{case_id}_ct.csv")
    with open(path, "w") as f:
        for k, ts in rows:
            f.write(f"{k}|{ts.strftime(strp_fmt)}\n")
    sdf = (
        spark.read.schema("k long, ts timestamp_ntz")
        .option("sep", "|")
        .option("timestampNTZFormat", java_fmt)
        .csv(path)
    )
    dsql = (
        f"SELECT k, ts FROM read_csv('{path}', delim='|', header=false, "
        "columns={'k': 'BIGINT', 'ts': 'TIMESTAMP'}, "
        f"timestampformat='{strp_fmt}')"
    )
    err = _compare(sdf, con, dsql)
    if err:
        return f"[fmt {java_fmt!r}] {err}"
    # both must also equal the python ground truth
    got = sorted((r.k, r.ts) for r in sdf.collect())
    if got != sorted(rows):
        return f"spark parse != ground truth [fmt {java_fmt!r}]"
    return None


def _gen_castable_string(rng: random.Random) -> str:
    """A random string for the try_cast family, drawn ONLY from classes
    whose BIGINT parse semantics AGREE across engines (probed + pinned:
    DuckDB ROUNDS decimal strings ('1.5'→2), parses hex ('0x1A'→26) and
    scientific ('1e3'→1000) where Spark yields NULL — those classes are
    excluded here and pinned in tests/test_fuzz_differential.py)."""
    kind = rng.randint(0, 6)
    digits = str(rng.randint(0, 10 ** rng.randint(1, 18)))
    if kind == 0:
        return digits
    if kind == 1:
        return f"-{digits}"
    if kind == 2:
        return f"+{digits}"
    if kind == 3:
        return f"  {digits} "  # surrounding whitespace: trimmed by both
    if kind == 4:
        return ""  # NULL in both
    if kind == 5:
        return rng.choice(["abc", "12a", "a12", "--5", "++5", "1 2"])
    return str(rng.randint(2**63, 2**64))  # int64 overflow: NULL in both


def run_try_cast_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """try_cast parsing case (r7): random strings through
    try_cast(AS BIGINT/DOUBLE), identical SQL text in both engines —
    sign/whitespace/garbage/empty/overflow classes agree; the divergent
    classes (decimal rounding, hex, scientific→BIGINT) are excluded by
    the generator and pinned as tests."""
    n = rng.randint(0, 150)
    rows = [
        (i, _gen_castable_string(rng), rng.choice(["1.5", "2.25", "x", ""]))
        for i in range(n)
    ]
    path = os.path.join(tmp, f"fuzz_{case_id}_c.parquet")
    spark.createDataFrame(rows, "rid long, s string, f string").write.mode(
        "overwrite"
    ).parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    sql = (
        "SELECT rid, try_cast(s AS BIGINT) AS b, "
        "try_cast(f AS DOUBLE) AS dd, "
        "CAST(try_cast(s AS BIGINT) IS NULL AS INT) AS isn "
        "FROM t"
    )
    return _compare(spark.sql(sql), con, sql)


def run_explode_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Explode/UNNEST multiplicity case (r7): variable-length per-row
    arrays (0..4 elements via slice) through inner and OUTER lateral
    expansion, positional expansion, and GROUP BY ALL over the exploded
    rows — paired templates (Spark LATERAL VIEW [OUTER] explode /
    posexplode vs DuckDB comma-UNNEST / LEFT JOIN UNNEST ON true /
    generate_subscripts). Probed agreements: empty and NULL arrays drop
    the row under inner expansion and null-extend under outer in BOTH
    engines. PINNED divergence: positions are 0-based in Spark's
    posexplode, 1-based in DuckDB's generate_subscripts — the Spark
    side spells pos + 1."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_x")
    ln = "((coalesce(m1, 0) % 5) + 5) % 5"
    arr_s = (
        f"slice(array(coalesce(m1,0), coalesce(m2,1), coalesce(m3,2), 9), 1, {ln})"
    )
    arr_d = (
        f"list_slice([coalesce(m1,0), coalesce(m2,1), coalesce(m3,2), 9], 1, {ln})"
    )
    where = gen_predicate(rng)
    kind = rng.randint(0, 3)
    if kind == 0:
        ssql = (
            f"SELECT k1, u FROM t LATERAL VIEW explode({arr_s}) x AS u "
            f"WHERE {where}"
        )
        dsql = f"SELECT k1, u FROM t, UNNEST({arr_d}) AS x(u) WHERE {where}"
    elif kind == 1:
        ssql = (
            "SELECT k1, u FROM t "
            f"LATERAL VIEW OUTER explode({arr_s}) x AS u WHERE {where}"
        )
        dsql = (
            f"SELECT k1, u FROM t LEFT JOIN UNNEST({arr_d}) AS x(u) ON true "
            f"WHERE {where}"
        )
    elif kind == 2:
        ssql = (
            "SELECT k1, pos + 1 AS pos, u FROM t "
            f"LATERAL VIEW posexplode({arr_s}) x AS pos, u WHERE {where}"
        )
        dsql = (
            f"SELECT k1, generate_subscripts({arr_d}, 1) AS pos, "
            f"unnest({arr_d}) AS u FROM t WHERE {where}"
        )
    else:
        ssql = (
            "SELECT k1, u % 3 AS g, count(*) AS n, CAST(sum(u) AS BIGINT) AS s "
            f"FROM t LATERAL VIEW explode({arr_s}) x AS u WHERE {where} "
            "GROUP BY ALL"
        )
        dsql = (
            "SELECT k1, u % 3 AS g, count(*) AS n, CAST(sum(u) AS BIGINT) AS s "
            f"FROM t, UNNEST({arr_d}) AS x(u) WHERE {where} GROUP BY ALL"
        )
    return _compare(spark.sql(ssql), con, dsql)


def run_group_by_all_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """GROUP BY ALL case (r9): both engines infer the grouping keys from
    the non-aggregate select items. The shapes under test: computed key
    expressions (not just bare columns), keys mentioned in mixed order,
    aggregates interleaved between keys, and NULL-producing key
    expressions — the inference must pick the SAME key set on both
    engines or counts split/merge visibly."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_gba")
    where = gen_predicate(rng)
    key_pool = [
        "k1",
        "k2",
        "coalesce(k2, 'zz') AS k2z",
        "upper(k1) AS ku",
        "concat(coalesce(k1, '-'), coalesce(k2, '-')) AS kk",
        "CAST(m1 % 3 AS BIGINT) AS kb",
    ]
    keys = rng.sample(key_pool, rng.randint(1, 3))
    mcol = rng.choice(MEASURES)
    aggs = rng.sample(
        [
            "CAST(count(*) AS BIGINT) AS cnt",
            f"CAST(sum({mcol}) AS BIGINT) AS s",
            f"CAST(min({mcol}) AS BIGINT) AS mn",
            f"CAST(max({mcol}) AS BIGINT) AS mx",
            f"CAST(count({mcol}) AS BIGINT) AS cnn",
        ],
        rng.randint(1, 3),
    )
    # interleave keys and aggregates so inference can't rely on position
    items = keys + aggs
    rng.shuffle(items)
    sql = f"SELECT {', '.join(items)} FROM t WHERE {where} GROUP BY ALL"
    return _compare(spark.sql(sql), con, sql)


def run_window_exclude_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Window frame EXCLUDE case (r9). PINNED divergence: Spark does not
    PARSE the SQL-standard EXCLUDE clause at all
    (tests/test_fuzz_differential.py pins the parse error), so the Spark
    side runs the compositional rewrite over RANGE frames — where the
    full peer group is always inside the frame, EXCLUDE is frame-window
    algebra minus peer-window algebra:

      cf/sf = count/sum over the RANGE frame, cp/sp = over the peer
      group (PARTITION BY part, ord):
        EXCLUDE CURRENT ROW -> c = cf-1,     s = NULL if c=0 else sf-v
        EXCLUDE GROUP       -> c = cf-cp,    s = NULL if c=0 else sf-sp
        EXCLUDE TIES        -> c = cf-cp+1,  s = sf-sp+v   (c >= 1)

    (sum over an emptied frame is NULL, matching DuckDB's native
    behavior, probed r9). Order keys are filtered non-NULL — NULL peer
    groups under RANGE frames are out of scope; the measure column m3 is
    never NULL by construction, so the subtraction algebra is total."""
    rows = [(i, *r) for i, r in enumerate(gen_rows(rng, rng.randint(0, 250)))]
    schema = "rid long, k1 string, k2 string, m1 long, m2 long, m3 long"
    path = os.path.join(tmp, f"fuzz_{case_id}_we.parquet")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'")

    ord_col = rng.choice(["m1", "m2"])
    a, b = rng.randint(0, 6), rng.randint(0, 6)
    mode = rng.choice(["CURRENT ROW", "GROUP", "TIES"])
    frame = f"RANGE BETWEEN {a} PRECEDING AND {b} FOLLOWING"
    over_f = f"OVER (PARTITION BY k1 ORDER BY {ord_col} {frame})"
    over_p = f"OVER (PARTITION BY k1, {ord_col})"
    if mode == "CURRENT ROW":
        c_emul = f"count(*) {over_f} - 1"
        s_emul = (
            f"CASE WHEN {c_emul} = 0 THEN NULL "
            f"ELSE sum(m3) {over_f} - m3 END"
        )
    elif mode == "GROUP":
        c_emul = f"count(*) {over_f} - count(*) {over_p}"
        s_emul = (
            f"CASE WHEN {c_emul} = 0 THEN NULL "
            f"ELSE sum(m3) {over_f} - sum(m3) {over_p} END"
        )
    else:  # TIES
        c_emul = f"count(*) {over_f} - count(*) {over_p} + 1"
        s_emul = f"sum(m3) {over_f} - sum(m3) {over_p} + m3"
    ssql = (
        f"SELECT rid, CAST({c_emul} AS BIGINT) AS c, "
        f"CAST({s_emul} AS BIGINT) AS s "
        f"FROM t WHERE {ord_col} IS NOT NULL"
    )
    dsql = (
        f"SELECT rid, "
        f"CAST(count(*) OVER (PARTITION BY k1 ORDER BY {ord_col} {frame} "
        f"EXCLUDE {mode}) AS BIGINT) AS c, "
        f"CAST(sum(m3) OVER (PARTITION BY k1 ORDER BY {ord_col} {frame} "
        f"EXCLUDE {mode}) AS BIGINT) AS s "
        f"FROM t WHERE {ord_col} IS NOT NULL"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_collation_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Collation-explicit ordering case (r9): mixed-case ASCII strings
    ordered and compared under an explicit case-insensitive collation —
    Spark spells it UTF8_LCASE/UNICODE_CI, DuckDB NOCASE; for the ASCII
    alphabet both equal lower()-comparison, with the binary column as a
    deterministic tie-break. Equality shapes (count DISTINCT, CI join of
    dict words) spell the DuckDB side with lower(): PINNED divergence —
    DuckDB silently IGNORES a COLLATE inside count(DISTINCT ...), while
    Spark's collation participates in DISTINCT (4 vs 2 on
    'a','A','b','B'; tests/test_fuzz_differential.py)."""
    words = ["a", "A", "ab", "aB", "Ab", "AB", "b", "B", "ba", "Ba", "cc", "CC"]
    rows = [
        (i, rng.choice(words + [None]), rng.randint(-100, 100))
        for i in range(rng.randint(0, 200))
    ]
    path = os.path.join(tmp, f"fuzz_{case_id}_coll.parquet")
    spark.createDataFrame(rows, "rid long, c string, m long").write.mode(
        "overwrite"
    ).parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'")
    kind = rng.randint(0, 4)
    sp_coll = rng.choice(["UTF8_LCASE", "UNICODE_CI"])
    if kind == 3:
        # TRUE collated GROUP BY (r12 — the r9 family only grouped by
        # lower()): the CI key partitions the rows, the EMITTED columns
        # are collation-independent (binary min/max + integer folds) so
        # group-representative selection can't flake the hash
        ssql = (
            "SELECT CAST(count(*) AS BIGINT) AS n,"
            " CAST(sum(m) AS BIGINT) AS s, min(c) AS mn, max(c) AS mx"
            f" FROM t WHERE c IS NOT NULL GROUP BY c COLLATE {sp_coll}"
        )
        dsql = (
            "SELECT CAST(count(*) AS BIGINT) AS n,"
            " CAST(sum(m) AS BIGINT) AS s, min(c) AS mn, max(c) AS mx"
            " FROM t WHERE c IS NOT NULL GROUP BY c COLLATE NOCASE"
        )
        return _compare(spark.sql(ssql), con, dsql)
    if kind == 4:
        # CI self-join (r12): both sides collated (mixed-collation
        # comparisons raise COLLATION_MISMATCH on Spark); fold to
        # count + integer sum so the pair blow-up stays 1 row
        ssql = (
            "SELECT CAST(count(*) AS BIGINT) AS n,"
            " CAST(sum(a.m + b.m) AS BIGINT) AS s FROM t a JOIN t b"
            f" ON a.c COLLATE {sp_coll} = b.c COLLATE {sp_coll}"
            " AND a.rid <= b.rid"
        )
        dsql = (
            "SELECT CAST(count(*) AS BIGINT) AS n,"
            " CAST(sum(a.m + b.m) AS BIGINT) AS s FROM t a JOIN t b"
            " ON lower(a.c) = lower(b.c) AND a.rid <= b.rid"
        )
        return _compare(spark.sql(ssql), con, dsql)
    if kind == 0:
        # ordering: CI collation major, binary value + rid as tie-breaks;
        # ordered compare via the rid projection (canon preserves order)
        n = rng.randint(1, 50)
        ssql = (
            f"SELECT rid, c FROM t ORDER BY c COLLATE {sp_coll} ASC NULLS LAST, "
            f"c ASC, rid LIMIT {n}"
        )
        dsql = (
            f"SELECT rid, c FROM t ORDER BY c COLLATE NOCASE ASC NULLS LAST, "
            f"c ASC, rid LIMIT {n}"
        )
        return _compare(spark.sql(ssql), con, dsql)
    if kind == 1:
        # equality under collation: CI distinct + CI filter
        w = rng.choice(words)
        ssql = (
            f"SELECT CAST(count(DISTINCT c COLLATE {sp_coll}) AS BIGINT) AS n, "
            f"CAST(count_if(c COLLATE {sp_coll} = '{w}') AS BIGINT) AS hits "
            "FROM t"
        )
        dsql = (
            "SELECT CAST(count(DISTINCT lower(c)) AS BIGINT) AS n, "
            f"CAST(count(*) FILTER (lower(c) = lower('{w}')) AS BIGINT) AS hits "
            "FROM t"
        )
        return _compare(spark.sql(ssql), con, dsql)
    # CI grouping with a canonicalized key (lower) so the emitted key is
    # deterministic on both engines
    ssql = (
        "SELECT lower(c) AS k, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(m) AS BIGINT) AS s FROM t WHERE c IS NOT NULL GROUP BY ALL"
    )
    dsql = ssql
    return _compare(spark.sql(ssql), con, dsql)


def run_qualify_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """QUALIFY case (r9). PINNED divergence: Spark does not parse the
    QUALIFY clause (nor DISTINCT ON); DuckDB runs both natively. The
    Spark side spells the standard-SQL expansion — window function in a
    subquery, predicate in the outer WHERE — which is exactly what
    QUALIFY desugars to, so values must match row-for-row."""
    rows = [(i, *r) for i, r in enumerate(gen_rows(rng, rng.randint(0, 200)))]
    schema = "rid long, k1 string, k2 string, m1 long, m2 long, m3 long"
    path = os.path.join(tmp, f"fuzz_{case_id}_q.parquet")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'")
    where = gen_predicate(rng)
    n = rng.randint(1, 4)
    fn = rng.choice(["row_number()", "rank()", "dense_rank()"])
    over = "OVER (PARTITION BY k1 ORDER BY m3, rid)"
    if rng.random() < 0.5:
        # windowed top-n per group via QUALIFY
        dsql = (
            f"SELECT rid, k1, CAST({fn} {over} AS BIGINT) AS rn "
            f"FROM t WHERE {where} QUALIFY rn <= {n}"
        )
        ssql = (
            f"SELECT rid, k1, rn FROM (SELECT rid, k1, "
            f"CAST({fn} {over} AS BIGINT) AS rn FROM t WHERE {where}) "
            f"WHERE rn <= {n}"
        )
    else:
        # DISTINCT ON (first row per key under a total order)
        dsql = (
            "SELECT DISTINCT ON (k1) k1, rid, m3 FROM t "
            f"WHERE {where} ORDER BY k1, m3, rid"
        )
        ssql = (
            "SELECT k1, rid, m3 FROM (SELECT k1, rid, m3, "
            f"row_number() {over} AS rn FROM t WHERE {where}) WHERE rn = 1"
        )
    return _compare(spark.sql(ssql), con, dsql)


def run_order_by_all_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """ORDER BY ALL case (r9): both engines sort by every select item
    left-to-right. Shapes: ASC and DESC, NULL-bearing keys, LIMIT on
    the totally ordered result (rid last makes the order total, so the
    limited prefix is deterministic), and ORDER BY ALL over a GROUP BY
    ALL aggregate. PINNED divergence: the BARE form's default NULL
    placement differs (Spark ASC = NULLS FIRST, DuckDB ASC = NULLS
    LAST), so shared text always spells NULLS FIRST/LAST explicitly —
    supported by both (probed r9; tests/test_fuzz_differential.py)."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_oba")
    where = gen_predicate(rng)
    n = rng.randint(1, 40)
    direction = rng.choice([" NULLS FIRST", " NULLS LAST",
                            " DESC NULLS FIRST", " DESC NULLS LAST"])
    if rng.random() < 0.5:
        sql = (
            f"SELECT k1, k2, m1, m2 % 7 AS m7, rid FROM "
            f"(SELECT *, row_number() OVER (ORDER BY m3, k1 NULLS FIRST, "
            f"k2 NULLS FIRST, m1 NULLS FIRST, m2) AS rid FROM t) "
            f"WHERE {where} ORDER BY ALL{direction} LIMIT {n}"
        )
    else:
        sql = (
            f"SELECT k1, CAST(count(*) AS BIGINT) AS cnt, "
            f"CAST(sum(m3) AS BIGINT) AS s FROM t WHERE {where} "
            f"GROUP BY ALL ORDER BY ALL{direction} LIMIT {n}"
        )
    return _compare(spark.sql(sql), con, sql)


def run_window_filter_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Window-aggregate FILTER case (r9). PINNED divergence: Spark raises
    'Window aggregate function with filter predicate is not supported
    yet' while DuckDB evaluates agg(x) FILTER (WHERE p) OVER (...)
    natively. The Spark side runs the CASE-WHEN rewrite —
    agg(CASE WHEN p THEN x END) OVER (...) — which is semantics-exact
    for null-skipping aggregates (sum/min/max/count(expr))."""
    rows = [(i, *r) for i, r in enumerate(gen_rows(rng, rng.randint(0, 200)))]
    schema = "rid long, k1 string, k2 string, m1 long, m2 long, m3 long"
    path = os.path.join(tmp, f"fuzz_{case_id}_wf.parquet")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'")
    pred = gen_predicate(rng)
    agg = rng.choice(["sum", "min", "max", "count"])
    a, b = rng.randint(0, 5), rng.randint(0, 5)
    over = (
        f"OVER (PARTITION BY k1 ORDER BY rid "
        f"ROWS BETWEEN {a} PRECEDING AND {b} FOLLOWING)"
    )
    dsql = (
        f"SELECT rid, CAST({agg}(m3) FILTER (WHERE {pred}) {over} AS BIGINT) "
        f"AS v FROM t"
    )
    ssql = (
        f"SELECT rid, CAST({agg}(CASE WHEN {pred} THEN m3 END) {over} "
        f"AS BIGINT) AS v FROM t"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_asof_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """ASOF JOIN case (r9): DuckDB's NATIVE ASOF [LEFT] JOIN vs the
    repo's as-of composition (candidate equi+range join → argmax by
    event time) — the independent-implementation check for the central
    time-series operator (`events_asof_join` / `rewrite_asof_*`).
    Right-side (key, ts) pairs are generated UNIQUE because DuckDB
    breaks exact-ts ties arbitrarily (probed r9); with unique ts both
    formulations are deterministic and must agree row-for-row. Strict
    and non-strict bounds, inner and left variants, NULL keys on the
    probe side (drop under inner, null-extend under left on BOTH
    engines)."""
    nq, nr = rng.randint(0, 150), rng.randint(0, 100)
    qrows = [
        (
            i,
            rng.randint(0, 4) if rng.random() > 0.1 else None,
            rng.randint(0, 500),
        )
        for i in range(nq)
    ]
    seen, rrows = set(), []
    for j in range(nr):
        k, ts = rng.randint(0, 4), rng.randint(0, 500)
        if (k, ts) not in seen:
            seen.add((k, ts))
            rrows.append((j, k, ts))
    qp = os.path.join(tmp, f"fuzz_{case_id}_aq.parquet")
    rp = os.path.join(tmp, f"fuzz_{case_id}_ar.parquet")
    spark.createDataFrame(qrows, "qid long, k long, qts long").write.mode(
        "overwrite"
    ).parquet(qp)
    spark.createDataFrame(rrows, "rid long, rk long, rts long").write.mode(
        "overwrite"
    ).parquet(rp)
    con.execute(f"CREATE OR REPLACE VIEW aq AS SELECT * FROM '{qp}/*.parquet'")
    con.execute(f"CREATE OR REPLACE VIEW ar AS SELECT * FROM '{rp}/*.parquet'")
    op = rng.choice(["<=", "<"])
    left = rng.random() < 0.5
    join_kw = "ASOF LEFT JOIN" if left else "ASOF JOIN"
    dsql = (
        f"SELECT aq.qid, ar.rid, ar.rts "
        f"FROM aq {join_kw} ar ON aq.k = ar.rk AND ar.rts {op} aq.qts"
    )
    q = spark.read.parquet(qp)
    r = spark.read.parquet(rp)
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    cond = (q.k == r.rk) & F.expr(f"rts {op} qts")
    cand = q.join(r, cond)
    w = W.partitionBy("qid").orderBy(F.col("rts").desc())
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", "rid", "rts")
    )
    if left:
        best = q.select("qid").join(best, "qid", "left").select(
            "qid", "rid", "rts"
        )
    return _compare(best, con, dsql)

def run_daytime_interval_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Day-time interval battery (r9 continuation of the month family):
    whole-second TIMESTAMP_NTZ values +/- random SECOND/MINUTE/HOUR/DAY
    counts, and unit differences between two timestamps. Probed parity:
    Spark timestampadd(U, k, ts) == DuckDB ts + to_<u>s(k), and Spark
    timestampdiff (COMPLETE units, ChronoUnit.between) == DuckDB
    date_sub — NOT DuckDB date_diff, which counts boundary CROSSINGS
    (date_diff('hour', 10:59, 11:01) = 1 vs timestampdiff = 0; pinned in
    tests/test_fuzz_differential.py). NTZ end-to-end so no zone ever
    enters; operands stay whole-second per the fractional-second
    counting fork pinned by events_decayed_counts."""
    import datetime

    base = datetime.datetime(1995, 1, 3, 0, 0, 0)
    rows = []
    for i in range(rng.randint(1, 150)):
        t1 = base + datetime.timedelta(seconds=rng.randint(0, 1_300_000_000))
        t2 = (
            t1
            + datetime.timedelta(seconds=rng.randint(-400_000, 400_000))
            if rng.random() < 0.7
            else base + datetime.timedelta(seconds=rng.randint(0, 1_300_000_000))
        )
        rows.append(
            (
                i,
                None if rng.random() < 0.08 else t1,
                None if rng.random() < 0.08 else t2,
                rng.randint(-2000, 2000),
            )
        )
    path = os.path.join(tmp, f"fuzz_{case_id}_dt.parquet")
    spark.createDataFrame(
        rows, "rid long, t1 timestamp_ntz, t2 timestamp_ntz, k long"
    ).write.mode("overwrite").parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    unit_s, unit_d = rng.choice(
        [
            ("SECOND", "to_seconds"),
            ("MINUTE", "to_minutes"),
            ("HOUR", "to_hours"),
            ("DAY", "to_days"),
        ]
    )
    kind = rng.randint(0, 2)
    if kind == 0:
        s = f"timestampadd({unit_s}, CAST(k AS INT), t1) AS e"
        d = f"t1 + {unit_d}(CAST(k AS INT)) AS e"
    elif kind == 1:
        s = f"CAST(timestampdiff({unit_s}, t1, t2) AS BIGINT) AS e"
        d = f"CAST(date_sub('{unit_s.lower()}', t1, t2) AS BIGINT) AS e"
    else:
        # composition: shift then full-unit difference back to the start
        s = (
            f"CAST(timestampdiff({unit_s}, t1, "
            f"timestampadd({unit_s}, CAST(k AS INT), t1)) AS BIGINT) AS e"
        )
        d = (
            f"CAST(date_sub('{unit_s.lower()}', t1, "
            f"t1 + {unit_d}(CAST(k AS INT))) AS BIGINT) AS e"
        )
    dsql = f"SELECT rid, {d} FROM t"
    return _compare(spark.read.parquet(path).selectExpr("rid", s), con, dsql)

def run_string_edge_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """String-function edge battery (r9): substring/left/right/pad/
    split_part/instr/repeat/replace over adversarial strings (empty,
    NULL, repeated chars, delimiter-heavy). Probing found SIX forks, all
    pinned in tests/test_fuzz_differential.py and excluded here by
    construction: substring start 0 (Spark clamps to 1 and keeps the
    full length; DuckDB treats position 0 as consuming length),
    left/right with NEGATIVE n (DuckDB drops n chars from the other
    end; Spark returns ''), split_part index 0 (Spark raises
    INVALID_INDEX_OF_ZERO; DuckDB returns ''), split_part with EMPTY
    delimiter (DuckDB splits per-char; Spark returns ''), and lpad/rpad
    with EMPTY pad (DuckDB raises; Spark truncate-or-identity). The
    family fuzzes the agreeing region: substring with start in
    [-len..-1] or [1..len+2], non-negative left/right/pad lengths,
    non-empty delimiters and pads, split_part index in +/-[1..4]."""
    alpha = "abcxy,;| "
    def rs():
        if rng.random() < 0.1:
            return ""
        return "".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))

    rows = [
        (i, None if rng.random() < 0.08 else rs())
        for i in range(rng.randint(1, 150))
    ]
    path = os.path.join(tmp, f"fuzz_{case_id}_s.parquet")
    spark.createDataFrame(rows, "rid long, s string").write.mode(
        "overwrite"
    ).parquet(path)
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    exprs = []
    for i in range(rng.randint(1, 3)):
        kind = rng.randint(0, 6)
        if kind == 0:
            p0 = rng.choice([-3, -2, -1, 1, 2, 3, 5, 9])
            n = rng.randint(0, 6)
            exprs.append(f"substring(s, {p0}, {n}) AS e{i}")
        elif kind == 1:
            fn = rng.choice(["left", "right"])
            exprs.append(f"{fn}(s, {rng.randint(0, 8)}) AS e{i}")
        elif kind == 2:
            fn = rng.choice(["lpad", "rpad"])
            pad = rng.choice(["x", "xy", "#9"])
            exprs.append(f"{fn}(s, {rng.randint(0, 12)}, '{pad}') AS e{i}")
        elif kind == 3:
            d = rng.choice([",", ";", "|", "x"])
            ix = rng.choice([1, 2, 3, 4, -1, -2, -3])
            # coalesce: DuckDB split_part is NOT null-propagating
            # (NULL string -> '', NULL delim -> input; pinned) — found
            # LIVE by this family's first run, seeds 910027/910035/910036
            exprs.append(f"split_part(coalesce(s, ''), '{d}', {ix}) AS e{i}")
        elif kind == 4:
            sub = rng.choice(["a", "b", "c", ",", "zz", ""])
            exprs.append(f"CAST(instr(s, '{sub}') AS BIGINT) AS e{i}")
        elif kind == 5:
            exprs.append(f"repeat(s, {rng.randint(0, 3)}) AS e{i}")
        else:
            a = rng.choice(["a", "b", ",", "x"])
            b = rng.choice(["", "Z", "QQ"])
            exprs.append(f"replace(s, '{a}', '{b}') AS e{i}")
    sel = ", ".join(["rid", *exprs])
    dsql = f"SELECT {sel} FROM t"
    return _compare(spark.read.parquet(path).selectExpr("rid", *exprs), con, dsql)


def run_alias_ordinal_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Alias-visibility / ordinal-reference family (r9): SELECT-list
    aliases referenced from GROUP BY, HAVING and ORDER BY; lateral
    alias reuse inside the SELECT list; GROUP BY / ORDER BY by ordinal
    position. Probed: all of those agree between the engines — the ONE
    fork is aliases in WHERE, which DuckDB resolves and Spark rejects
    (UNRESOLVED_COLUMN; pinned in tests/test_fuzz_differential.py), so
    WHERE always references base columns here."""
    rows = [
        (
            i,
            rng.randint(-20, 20),
            None if rng.random() < 0.1 else rng.randint(0, 9),
        )
        for i in range(rng.randint(1, 200))
    ]
    path = os.path.join(tmp, f"fuzz_{case_id}_a.parquet")
    spark.createDataFrame(rows, "rid long, x long, y long").write.mode(
        "overwrite"
    ).parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    kind = rng.randint(0, 3)
    if kind == 0:
        k = rng.randint(2, 5)
        sql = (
            f"SELECT x % {k} AS g, CAST(count(*) AS BIGINT) AS c, "
            f"CAST(sum(coalesce(y, 0)) AS BIGINT) AS s "
            f"FROM t WHERE x > {rng.randint(-15, 0)} "
            f"GROUP BY g HAVING c > {rng.randint(0, 3)}"
        )
    elif kind == 1:
        k = rng.randint(2, 4)
        sql = (
            f"SELECT x % {k} AS g, CAST(count(*) AS BIGINT) AS c "
            f"FROM t GROUP BY 1 ORDER BY 1 NULLS FIRST, 2"
        )
    elif kind == 2:
        a = rng.randint(1, 5)
        sql = (
            f"SELECT rid, x + {a} AS a1, a1 * 2 AS a2, a2 - x AS a3 "
            f"FROM t WHERE y IS NOT NULL"
        )
    else:
        sql = (
            f"SELECT rid, abs(x) AS e FROM t "
            f"ORDER BY e DESC, rid LIMIT {rng.randint(1, 12)}"
        )
    return _compare(spark.sql(sql), con, sql)



def run_ts_month_interval_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Month-unit arithmetic on TIMESTAMPS (r9; the r7 month family
    covered DATEs): whole-second NTZ timestamps biased to month-end
    days +/- random month/quarter/year counts. Probed parity:
    timestampadd(MONTH|QUARTER|YEAR, k, ts) == ts + to_months/to_years
    including end-of-month clamping WITH time-of-day preserved
    (Jan 31 13:45 + 1 month = Feb 28/29 13:45 on both engines). The
    FORK this family must avoid: month-unit timestampDIFF — Spark's
    ChronoUnit.MONTHS yields 0 for Jan-31 -> Feb-29 where DuckDB
    date_sub('month', ...) says 1 (clamp-aware completion); pinned in
    tests/test_fuzz_differential.py, so the family fuzzes ADDS only."""
    import datetime

    rows = []
    for i in range(rng.randint(1, 120)):
        y = rng.randint(1996, 2096)
        mo = rng.randint(1, 12)
        dmax = [31, 29 if (y % 4 == 0 and (y % 100 != 0 or y % 400 == 0))
                else 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31][mo - 1]
        day = min(rng.choice([28, 29, 30, 31, rng.randint(1, 28)]), dmax)
        t = datetime.datetime(
            y, mo, day, rng.randint(0, 23), rng.randint(0, 59),
            rng.randint(0, 59),
        )
        rows.append((i, None if rng.random() < 0.08 else t,
                     rng.randint(-40, 40)))
    path = os.path.join(tmp, f"fuzz_{case_id}_tm.parquet")
    spark.createDataFrame(
        rows, "rid long, t timestamp_ntz, k long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    unit, mult = rng.choice(
        [("MONTH", 1), ("QUARTER", 3), ("YEAR", 12)]
    )
    sq = f"SELECT rid, timestampadd({unit}, CAST(k AS INT), t) AS e FROM t"
    dq = (
        f"SELECT rid, t + to_months(CAST(k * {mult} AS INT)) AS e FROM t"
    )
    return _compare(spark.sql(sq), con, dq)


def run_try_arith_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """TRY-arithmetic case (r9). Spark's try_divide/try_mod exist because
    ANSI mode raises on division by zero; DuckDB has NO try_* scalar
    functions but its plain `/` and `%` yield NULL on zero divisors
    natively — so the shared semantics pair Spark's try_* with DuckDB's
    bare operators. PINNED divergence (tests): int64 OVERFLOW is where
    they part — Spark try_add/try_multiply return NULL, DuckDB's
    add/multiply RAISE (HUGEINT promotion must be explicit) — so this
    family keeps operands in non-overflowing ranges and the divergence
    is pinned, not fuzzed."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_try")
    where = gen_predicate(rng)
    a, b = rng.sample(MEASURES, 2)
    shape = rng.randint(0, 2)
    if shape == 0:
        # per-row floor-round BEFORE the sum: integer accumulation is
        # order-independent and sidesteps both the float-sum ULP tail
        # and the CAST convention split (Spark truncates toward zero,
        # DuckDB rounds — FIXTURES.md)
        ssql = (
            f"SELECT k1, CAST(sum(CAST(floor(try_divide({a} * 1000.0, "
            f"{b} % 5) + 0.5) AS BIGINT)) AS BIGINT) AS v "
            f"FROM t WHERE {where} GROUP BY k1"
        )
        dsql = (
            f"SELECT k1, CAST(sum(CAST(floor({a} * 1000.0 / ({b} % 5) "
            f"+ 0.5) AS BIGINT)) AS BIGINT) AS v "
            f"FROM t WHERE {where} GROUP BY k1"
        )
    elif shape == 1:
        ssql = (
            f"SELECT k1, CAST(sum(try_mod({a}, {b} % 7)) AS BIGINT) AS v "
            f"FROM t WHERE {where} GROUP BY k1"
        )
        dsql = (
            f"SELECT k1, CAST(sum({a} % ({b} % 7)) AS BIGINT) AS v "
            f"FROM t WHERE {where} GROUP BY k1"
        )
    else:
        # non-overflowing add/multiply: try_* must equal plain arithmetic
        ssql = (
            f"SELECT k1, CAST(sum(try_add({a}, {b})) AS BIGINT) AS s, "
            f"CAST(sum(try_multiply({a} % 100, {b} % 100)) AS BIGINT) AS p "
            f"FROM t WHERE {where} GROUP BY k1"
        )
        dsql = (
            f"SELECT k1, CAST(sum({a} + {b}) AS BIGINT) AS s, "
            f"CAST(sum(({a} % 100) * ({b} % 100)) AS BIGINT) AS p "
            f"FROM t WHERE {where} GROUP BY k1"
        )
    return _compare(spark.sql(ssql), con, dsql)


def run_ordered_agg_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Ordered-aggregation case (r9). PINNED spelling divergence: Spark
    rejects ORDER BY inside array_agg/string_agg but has SQL:2016
    `listagg(...) WITHIN GROUP (ORDER BY ...)`; DuckDB rejects listagg
    but has `string_agg(... ORDER BY ...)` / `array_agg(... ORDER BY
    ...)`. Same semantics, mirrored syntax — the family pairs the
    spellings under a TOTAL order (tie-broken by the value) so the
    concatenation/array is deterministic; arrays ride array_join so the
    compare stays scalar."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_oagg")
    where = gen_predicate(rng)
    m = rng.choice(MEASURES)
    direction = rng.choice(["ASC", "DESC"])
    pick = rng.random()
    if pick < 0.2:
        # DISTINCT ordered aggregation (r13 extension): Spark has no
        # DISTINCT inside collect_list and no ORDER BY inside
        # collect_set — the deterministic twin is sort-after-distinct
        # on both engines (ASC only: array_sort has no direction arg).
        ssql = (
            f"SELECT k1, array_join(array_sort(collect_set({m})), ',') AS v "
            f"FROM t WHERE {where} AND {m} IS NOT NULL GROUP BY k1"
        )
        dsql = (
            f"SELECT k1, array_to_string(list_sort(list_distinct("
            f"array_agg({m}))), ',') AS v "
            f"FROM t WHERE {where} AND {m} IS NOT NULL GROUP BY k1"
        )
    elif pick < 0.6:
        ssql = (
            f"SELECT k1, listagg(CAST({m} AS STRING), ',') "
            f"WITHIN GROUP (ORDER BY {m} {direction}) AS v "
            f"FROM t WHERE {where} AND {m} IS NOT NULL GROUP BY k1"
        )
        dsql = (
            f"SELECT k1, string_agg(CAST({m} AS VARCHAR), ',' "
            f"ORDER BY {m} {direction}) AS v "
            f"FROM t WHERE {where} AND {m} IS NOT NULL GROUP BY k1"
        )
    else:
        # order by ANOTHER column: Spark spells sort-of-structs
        o = rng.choice([c for c in MEASURES if c != m])
        ssql = (
            f"SELECT k1, array_join(transform(array_sort("
            f"collect_list(struct({o} AS o, {m} AS m))), s -> s.m), ',') AS v "
            f"FROM t WHERE {where} AND {m} IS NOT NULL AND {o} IS NOT NULL "
            f"GROUP BY k1"
        )
        dsql = (
            f"SELECT k1, array_to_string(array_agg({m} ORDER BY {o}, {m}), ',')"
            f" AS v FROM t WHERE {where} AND {m} IS NOT NULL AND {o} IS NOT NULL"
            f" GROUP BY k1"
        )
    return _compare(spark.sql(ssql), con, dsql)


def run_pivot_sql_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """SQL PIVOT/UNPIVOT case (r9): the standard relational spellings
    share text across engines (probed r9 — Spark's quoted IN values and
    DuckDB's produce identical x/y column names), including NULL cells
    for absent combinations and NULL group keys. PINNED divergence
    (found by a fuzz seed): a COUNT pivot over an ABSENT (key, value)
    combination is NULL in Spark but 0 in DuckDB — shared text must
    coalesce or stick to the NULL-agreeing aggregates (sum/min/max), as
    this family does. The third shape is UNION BY NAME — mirrored
    syntax: DuckDB spells `UNION ALL BY NAME` in SQL, Spark only has
    DataFrame `unionByName` (SQL is a ParseException; pinned)."""
    _materialize_single(spark, con, rng, tmp, f"fuzz_{case_id}_pv")
    where = gen_predicate(rng)
    m = rng.choice(MEASURES)
    agg = rng.choice(["sum", "min", "max"])
    shape = rng.randint(0, 2)
    if shape == 0:
        sql = (
            f"SELECT k1, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y "
            f"FROM (SELECT k1, k2, {m} FROM t WHERE {where}) "
            f"PIVOT ({agg}({m}) FOR k2 IN ('x', 'y'))"
        )
        return _compare(spark.sql(sql), con, sql)
    if shape == 1:
        # pivot → unpivot roundtrip drops NULL cells on both engines
        sql = (
            f"SELECT k1, c, CAST(v AS BIGINT) AS v FROM ("
            f"SELECT k1, x, y FROM (SELECT k1, k2, {m} FROM t WHERE {where}) "
            f"PIVOT ({agg}({m}) FOR k2 IN ('x', 'y'))) "
            f"UNPIVOT (v FOR c IN (x, y))"
        )
        return _compare(spark.sql(sql), con, sql)
    a, b = rng.sample(MEASURES, 2)
    dsql = (
        f"SELECT k1, CAST({a} AS BIGINT) AS u, CAST({b} AS BIGINT) AS w "
        f"FROM t WHERE {where} "
        f"UNION ALL BY NAME "
        f"SELECT CAST({b} AS BIGINT) AS w, k2 AS k1, CAST({a} AS BIGINT) AS u "
        f"FROM t WHERE {where}"
    )
    s1 = spark.sql(
        f"SELECT k1, CAST({a} AS BIGINT) AS u, CAST({b} AS BIGINT) AS w "
        f"FROM t WHERE {where}"
    )
    s2 = spark.sql(
        f"SELECT CAST({b} AS BIGINT) AS w, k2 AS k1, CAST({a} AS BIGINT) AS u "
        f"FROM t WHERE {where}"
    )
    return _compare(s1.unionByName(s2), con, dsql)


def run_limit_offset_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """LIMIT ... OFFSET case (r9). The page [n, n+k) of a total order is
    only well-defined when the ORDER BY is total, so every case carries
    the unique rid tie-break — the fuzzer probes that both engines cut
    the SAME page under nullable sort keys, explicit NULLS placement,
    ties in the primary key, and page boundaries past the end of the
    input (OFFSET >= rowcount must yield empty, not error). The Spark
    side runs BOTH spellings — SQL `LIMIT k OFFSET n` and the DataFrame
    `.offset(n).limit(k)` chain (offset-then-limit is the page shape:
    Spark applies offset first, so `.limit(k)` after it takes the page)
    — and both must match DuckDB's `LIMIT k OFFSET n`."""
    rows = [(i, *r) for i, r in enumerate(gen_rows(rng, rng.randint(0, 300)))]
    path = os.path.join(tmp, f"fuzz_{case_id}_lo.parquet")
    spark.createDataFrame(
        rows, "rid long, k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'")
    where = gen_predicate(rng)
    col = rng.choice(["m1", "m2"])
    direction = rng.choice(["ASC", "DESC"])
    nulls = rng.choice(["NULLS FIRST", "NULLS LAST"])
    k = rng.randint(1, 20)
    # page start: usually in range, sometimes deliberately past the end
    off = rng.choice([0, rng.randint(1, 30), rng.randint(250, 400)])
    order = f"ORDER BY {col} {direction} {nulls}, rid"
    sql = f"SELECT rid, k1, {col} FROM t WHERE {where} {order} LIMIT {k} OFFSET {off}"
    err = _compare(spark.sql(sql), con, sql)
    if err:
        return f"sql-spelling: {err}"

    from pyspark.sql import functions as F

    oc = F.col(col)
    oc = oc.asc_nulls_first() if direction == "ASC" else oc.desc_nulls_first()
    if nulls == "NULLS LAST":
        oc = (
            F.col(col).asc_nulls_last()
            if direction == "ASC"
            else F.col(col).desc_nulls_last()
        )
    sdf = (
        spark.read.parquet(path)
        .where(where)
        .orderBy(oc, F.col("rid"))
        .offset(off)
        .limit(k)
        .select("rid", "k1", col)
    )
    err = _compare(sdf, con, sql)
    return f"df-spelling: {err}" if err else None


def run_groups_frame_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """GROUPS frame-mode case (r9). PINNED fact: NEITHER engine
    implements the SQL-standard `GROUPS BETWEEN n PRECEDING AND m
    FOLLOWING` frame mode — Spark fails to parse it, DuckDB raises
    "GROUPS mode ... not implemented yet" (both errors pinned in
    tests/test_fuzz_differential.py), so there is no native side to
    differentially verify against. What CAN be verified is the
    compositional rewrite both engines would need — GROUPS frames count
    PEER GROUPS of the order key, and dense_rank() numbers exactly those
    peer groups consecutively, so

        agg OVER (PARTITION BY p ORDER BY o GROUPS BETWEEN a PRECEDING
                  AND b FOLLOWING)
      = agg OVER (PARTITION BY p ORDER BY dr RANGE BETWEEN a PRECEDING
                  AND b FOLLOWING)   where dr = dense_rank() over (p, o)

    — an exact identity, not an approximation. This case runs the SAME
    rewrite SQL on both engines: a differential over nested-window
    composition + RANGE frames on the synthetic rank key, including NULL
    order keys (they form one peer group; dense_rank gives them one
    rank). NULLS placement is explicit since the engines' defaults
    differ (the r9 ORDER BY ALL find)."""
    rows = [(i, *r) for i, r in enumerate(gen_rows(rng, rng.randint(0, 250)))]
    schema = "rid long, k1 string, k2 string, m1 long, m2 long, m3 long"
    path = os.path.join(tmp, f"fuzz_{case_id}_gf.parquet")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'")

    ord_col = rng.choice(["m1", "m2"])
    direction = rng.choice(["ASC", "DESC"])
    nulls = "NULLS FIRST" if direction == "ASC" else "NULLS LAST"
    a, b = rng.randint(0, 5), rng.randint(0, 5)
    frame = f"BETWEEN {a} PRECEDING AND {b} FOLLOWING"
    ssql = (
        f"SELECT rid, CAST(sum(m3) OVER w AS BIGINT) AS s, "
        f"CAST(count(*) OVER w AS BIGINT) AS c "
        f"FROM (SELECT *, dense_rank() OVER (PARTITION BY k1 "
        f"ORDER BY {ord_col} {direction} {nulls}) AS dr FROM t) "
        f"WINDOW w AS (PARTITION BY k1 ORDER BY dr RANGE {frame})"
    )
    return _compare(spark.sql(ssql), con, ssql)


def run_lateral_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Correlated LATERAL subquery case (r9). `FROM t, LATERAL (...)` and
    `LEFT JOIN LATERAL (...) ON true` are shared syntax (probed r9,
    identical inner + left null-extension semantics), so both engines run
    the SAME SQL: per-row top-j of the correlated side with an inner
    predicate, explicit NULLS placement, and (crucially) a projection
    limited to the ORDER BY column — duplicate (uk, n1) rows make a
    LIMIT under ties nondeterministic as a ROW choice, but the projected
    MULTISET is identical whichever duplicate wins, so the comparison
    stays exact without a unique key on the build side."""
    rows = [(i, *r) for i, r in enumerate(gen_rows(rng, rng.randint(0, 150)))]
    path = os.path.join(tmp, f"fuzz_{case_id}_lt.parquet")
    spark.createDataFrame(
        rows, "rid long, k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    upath = os.path.join(tmp, f"fuzz_{case_id}_lu.parquet")
    urows = gen_join_rows(rng, rng.randint(0, 80))
    spark.createDataFrame(urows, "uk string, n1 long").write.mode(
        "overwrite"
    ).parquet(upath)
    spark.read.parquet(path).createOrReplaceTempView("t")
    spark.read.parquet(upath).createOrReplaceTempView("u")
    con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'")
    con.execute(f"CREATE OR REPLACE VIEW u AS SELECT * FROM '{upath}/*.parquet'")

    j = rng.randint(1, 4)
    direction = rng.choice(["ASC", "DESC"])
    nulls = rng.choice(["NULLS FIRST", "NULLS LAST"])
    inner_pred = rng.choice(
        ["", f" AND n1 > {rng.randint(-50, 50)}", " AND n1 % 2 = 0"]
    )
    lat = (
        f"(SELECT n1 FROM u WHERE u.uk = t.k1{inner_pred} "
        f"ORDER BY n1 {direction} {nulls} LIMIT {j})"
    )
    if rng.random() < 0.5:
        sql = f"SELECT t.rid, l.n1 FROM t, LATERAL {lat} l"
    else:
        sql = (
            f"SELECT t.rid, l.n1 FROM t LEFT JOIN LATERAL {lat} l ON true"
        )
    return _compare(spark.sql(sql), con, sql)


_REGEX_SAFE_ATOMS = [
    "[0-9]+",
    "[a-z]+",
    "[A-Za-z]{2,4}",
    "[0-9a-f]+",
    ".",
    "..",
    "x",
    "b",
    "(?:ab|ba)",
    "(?:x|yy)",
]


def _gen_safe_regex(rng: random.Random) -> str:
    """Regex from the cross-engine-safe subset: NO backslashes (the SAME
    SQL text parses differently — Spark's string literal consumes one
    escape level, DuckDB's standard string does not; pinned in
    FIXTURES.md), no quotes, Perl-common atoms only. One capture group
    around a random atom, optional prefix/suffix atoms."""
    pre = rng.choice(_REGEX_SAFE_ATOMS + [""])
    grp = rng.choice(_REGEX_SAFE_ATOMS)
    suf = rng.choice(_REGEX_SAFE_ATOMS + [""])
    return f"{pre}({grp}){suf}"


def run_regex_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Regex dialect family (r9 continuation): regexp_extract over a
    constrained common-subset grammar, identical SQL text in both
    engines. Spark compiles java.util.regex; DuckDB compiles RE2 —
    within the subset (character classes, quantifiers incl. bounded
    repetition, dot, non-capturing alternation, one capture group) the
    leftmost-first semantics agree; the known text-level fork is the
    backslash escape (Spark's SQL literal consumes one level, DuckDB's
    does not — '([a-z])\\.' extracts different groups), excluded here
    and pinned in tests/FIXTURES.md."""
    alpha = "ab xy019-f."
    n = rng.randint(0, 120)
    rows = [
        (i, "".join(rng.choice(alpha) for _ in range(rng.randint(0, 14))))
        for i in range(n)
    ]
    path = os.path.join(tmp, f"fuzz_{case_id}_re.parquet")
    spark.createDataFrame(rows, "rid long, s string").write.mode(
        "overwrite"
    ).parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    pat = _gen_safe_regex(rng)
    sql = (
        f"SELECT rid, regexp_extract(s, '{pat}', 1) AS ex, "
        f"length(regexp_extract(s, '{pat}', 1)) AS exlen "
        "FROM t"
    )
    return _compare(spark.sql(sql), con, sql)


def run_regexp_replace_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """regexp_replace dialect family (r10): Spark replaces ALL matches by
    default; DuckDB replaces only the FIRST unless the 'g' flag is given
    (probed: regexp_replace('aXbXc','X','_') = 'a_b_c' Spark vs 'a_bXc'
    DuckDB) — so the family mirrors the spelling (bare vs ',''g''') and
    fuzzes the agreeing global region. Second pinned fork folded in: the
    backreference syntax is $1 in Spark (java.util.regex) but \\1 in
    DuckDB (RE2) — DuckDB leaves '$1' LITERALLY in the output — so
    backref cases mirror the replacement string too."""
    alpha = "ab xy019-f."
    n = rng.randint(0, 120)
    rows = [
        (i, "".join(rng.choice(alpha) for _ in range(rng.randint(0, 14))))
        for i in range(n)
    ]
    path = os.path.join(tmp, f"fuzz_{case_id}_rr.parquet")
    spark.createDataFrame(rows, "rid long, s string").write.mode(
        "overwrite"
    ).parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    pat = _gen_safe_regex(rng)
    if rng.random() < 0.4:
        # backref replacement: group 1 wrapped in a literal marker
        rep_s, rep_d = "<$1>", "<\\1>"
    else:
        rep = "".join(
            rng.choice("_=+Q") for _ in range(rng.randint(0, 3))
        )
        rep_s = rep_d = rep
    ssql = (
        f"SELECT rid, regexp_replace(s, '{pat}', '{rep_s}') AS rp, "
        f"length(regexp_replace(s, '{pat}', '{rep_s}')) AS rplen FROM t"
    )
    dsql = (
        f"SELECT rid, regexp_replace(s, '{pat}', '{rep_d}', 'g') AS rp, "
        f"length(regexp_replace(s, '{pat}', '{rep_d}', 'g')) AS rplen FROM t"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_map_roundtrip_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """MAP constructor round-trip family (r10): per-row maps built from
    key/value columns, probed lookups (hit AND guaranteed-miss), size,
    and order-canonicalized key/value lists. Mirrored spellings: Spark
    map_from_arrays(array(..),array(..)) vs DuckDB map([..],[..]);
    Spark element_at(m,k) (NULL on miss) vs DuckDB m[k][1] (map extract
    returns a LIST — empty on miss, so [1] yields NULL). Keys are
    distinct by construction: BOTH engines raise on duplicate map keys
    (Spark mapKeyDedupPolicy=EXCEPTION default; DuckDB 'map keys must
    be unique'), which is parity, not a fork. Key lists are compared
    SORTED — insertion order agrees here (both preserve the array
    order) but sorted comparison keeps the family about content.

    Pinned fork found by this family's FIRST 12 seeds (3 hits): both
    engines SKIP null elements when string-joining a list, but on an
    ALL-null list Spark's array_join returns '' while DuckDB's
    array_to_string returns NULL — mirrored with a duck-side COALESCE
    and pinned in tests/FIXTURES.md."""
    keys = ["ka", "kb", "kc", "kd", "ke"]
    n = rng.randint(0, 100)
    rows = []
    for i in range(n):
        k1, k2 = rng.sample(keys, 2)  # distinct: dup keys raise in BOTH
        rows.append(
            (
                i,
                k1,
                k2,
                None if rng.random() < 0.1 else rng.randint(-50, 50),
                None if rng.random() < 0.1 else rng.randint(-50, 50),
            )
        )
    path = os.path.join(tmp, f"fuzz_{case_id}_mp.parquet")
    spark.createDataFrame(
        rows, "rid long, k1 string, k2 string, v1 long, v2 long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    probe = rng.choice(keys)  # may hit or miss per row
    smap = "map_from_arrays(array(k1, k2), array(v1, v2))"
    dmap = "map([k1, k2], [v1, v2])"
    ssql = (
        f"SELECT rid, element_at({smap}, '{probe}') AS hit, "
        f"element_at({smap}, 'zz') AS miss, "
        f"CAST(cardinality({smap}) AS BIGINT) AS sz, "
        f"array_join(sort_array(map_keys({smap})), ',') AS ks, "
        f"array_join(sort_array(map_values({smap})), ',') AS vs "
        "FROM t"
    )
    dsql = (
        f"SELECT rid, ({dmap})['{probe}'][1] AS hit, "
        f"({dmap})['zz'][1] AS miss, "
        f"CAST(cardinality({dmap}) AS BIGINT) AS sz, "
        f"array_to_string(list_sort(map_keys({dmap})), ',') AS ks, "
        f"COALESCE(array_to_string(list_sort(map_values({dmap})), ','), '')"
        " AS vs "
        "FROM t"
    )
    return _compare(spark.sql(ssql), con, dsql)


def run_distinct_order_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """DISTINCT + ORDER BY + LIMIT/OFFSET interaction family (r10):
    SELECT DISTINCT over 1-2 expressions, ordered by ALL selected
    columns with EXPLICIT NULLS placement (the engines' bare defaults
    differ: Spark ASC=NULLS FIRST, DuckDB ASC=NULLS LAST — the ORDER BY
    ALL variant of this fork is already pinned), then a paging tail.
    Ordering by every output column makes the distinct row set a total
    order, so the LIMIT/OFFSET page is a deterministic SET (canon is
    order-insensitive; membership is what's tested)."""
    rows = gen_rows(rng, rng.randint(0, 300))
    path = os.path.join(tmp, f"fuzz_{case_id}_do.parquet")
    spark.createDataFrame(
        rows, "k1 string, k2 string, m1 long, m2 long, m3 long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    exprs = rng.sample(
        ["k1", "k2", "m1 % 5", "m2 % 3", "CAST(m3 > 0 AS INT)"],
        rng.randint(1, 2),
    )
    sel = ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    order = ", ".join(
        f"c{i} {rng.choice(['ASC', 'DESC'])} "
        f"NULLS {rng.choice(['FIRST', 'LAST'])}"
        for i in range(len(exprs))
    )
    page = ""
    if rng.random() < 0.7:
        page = f" LIMIT {rng.randint(0, 8)}"
        if rng.random() < 0.5:
            page += f" OFFSET {rng.randint(0, 6)}"
    where = gen_predicate(rng)
    sql = (
        f"SELECT DISTINCT {sel} FROM t WHERE {where} "
        f"ORDER BY {order}{page}"
    )
    return _compare(spark.sql(sql), con, sql)


def run_mixed_interval_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """Mixed year-month + day-time interval chains (r10; closes the gap
    between the month family and the day-time family): ts ± INTERVAL
    terms drawn from YEAR/MONTH/DAY/HOUR/MINUTE applied in random order
    — order MATTERS (month-add clamps to month-end before day terms
    shift across it: '2024-01-31' +1 MONTH +3 DAY = Mar 3 but +3 DAY
    +1 MONTH = Mar 3 vs Feb 29+3d... both engines apply LEFT TO RIGHT,
    probed identical incl. the Jan-31→Feb-29 clamp). Shared SQL text:
    INTERVAL 'k' UNIT parses in both; negative counts spelled with the
    binary minus. NTZ column read from parquet so no zone enters."""
    import datetime

    base = datetime.datetime(1995, 1, 3, 0, 0, 0)
    rows = [
        (
            i,
            None
            if rng.random() < 0.08
            else base
            + datetime.timedelta(seconds=rng.randint(0, 1_300_000_000)),
        )
        for i in range(rng.randint(1, 150))
    ]
    path = os.path.join(tmp, f"fuzz_{case_id}_mi.parquet")
    spark.createDataFrame(rows, "rid long, t1 timestamp_ntz").write.mode(
        "overwrite"
    ).parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    units = ["YEAR", "MONTH", "DAY", "HOUR", "MINUTE"]
    terms = []
    for _ in range(rng.randint(2, 4)):
        u = rng.choice(units)
        k = rng.randint(0, 40 if u in ("YEAR", "MONTH") else 2000)
        terms.append(f"{rng.choice(['+', '-'])} INTERVAL '{k}' {u}")
    chain = " ".join(terms)
    sql = f"SELECT rid, t1 {chain} AS e FROM t"
    return _compare(spark.sql(sql), con, sql)


def run_range_interval_frame_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """RANGE-frame-over-timestamp family (r10): window aggregates with
    INTERVAL bounds — the time-windowed running-aggregate surface
    (`events_velocity_windows`' machinery) fuzzed over shared SQL text.
    Probed parity: `RANGE BETWEEN INTERVAL 'k' UNIT PRECEDING/FOLLOWING`
    parses identically and the frame membership (value-based, inclusive
    at both interval endpoints) agrees on whole-second NTZ timestamps.
    Timestamps are kept NON-NULL (NULL ordering inside a RANGE frame is
    a peer-group question this family doesn't pose) and ascending —
    bounds are drawn from the four standard shapes."""
    import datetime

    base = datetime.datetime(2001, 3, 7, 0, 0, 0)
    key_pool = ["g1", "g2", "g3"]
    rows = []
    for i in range(rng.randint(1, 200)):
        rows.append(
            (
                i,
                rng.choice(key_pool),
                base
                + datetime.timedelta(seconds=rng.randint(0, 3_000_000)),
                None if rng.random() < 0.1 else rng.randint(-50, 50),
            )
        )
    path = os.path.join(tmp, f"fuzz_{case_id}_rif.parquet")
    spark.createDataFrame(
        rows, "rid long, k string, t timestamp_ntz, v long"
    ).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("t")
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    unit = rng.choice(["SECOND", "MINUTE", "HOUR", "DAY"])
    k1 = rng.randint(0, 2000)
    k2 = rng.randint(0, 2000)
    frame = rng.choice(
        [
            f"INTERVAL '{k1}' {unit} PRECEDING AND CURRENT ROW",
            f"CURRENT ROW AND INTERVAL '{k2}' {unit} FOLLOWING",
            f"INTERVAL '{k1}' {unit} PRECEDING"
            f" AND INTERVAL '{k2}' {unit} FOLLOWING",
            f"UNBOUNDED PRECEDING AND INTERVAL '{k2}' {unit} FOLLOWING",
        ]
    )
    part = "PARTITION BY k " if rng.random() < 0.5 else ""
    agg = rng.choice(["sum(v)", "count(v)", "min(v)", "max(v)", "count(*)"])
    sql = (
        f"SELECT rid, CAST({agg} OVER ({part}ORDER BY t RANGE BETWEEN "
        f"{frame}) AS BIGINT) AS w FROM t"
    )
    return _compare(spark.sql(sql), con, sql)


def run_base_agg_case(
    spark, con, rng: random.Random, tmp: str, case_id: int
) -> str | None:
    """The original mixed aggregate/join family (filter + optional join +
    groupBy/agg + HAVING over random long columns)."""
    from pyspark.sql import functions as F

    rows = gen_rows(rng, rng.randint(0, 400))
    schema = "k1 string, k2 string, m1 long, m2 long, m3 long"
    path = os.path.join(tmp, f"fuzz_{case_id}.parquet")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)

    where, group_cols, aggs = gen_query(rng)
    join_type = rng.choice([None, "JOIN", "LEFT JOIN", "FULL JOIN"])
    join_sql = ""
    src = spark.read.parquet(path)
    if join_type is not None:
        upath = os.path.join(tmp, f"fuzz_{case_id}_u.parquet")
        urows = gen_join_rows(rng, rng.randint(0, 60))
        spark.createDataFrame(urows, "uk string, n1 long").write.mode(
            "overwrite"
        ).parquet(upath)
        con.execute(
            f"CREATE OR REPLACE VIEW u AS SELECT * FROM '{upath}/*.parquet'"
        )
        join_sql = f" {join_type} u ON t.k1 = u.uk"
        how = {"JOIN": "inner", "LEFT JOIN": "left", "FULL JOIN": "full_outer"}[
            join_type
        ]
        src = src.join(
            spark.read.parquet(upath), F.col("k1") == F.col("uk"), how
        )
        # joins widen the aggregate surface to the right side too
        if rng.random() < 0.7:
            aggs.append(("j0", rng.choice(["sum(n1)", "count(n1)", "min(n1)"])))
        if rng.random() < 0.3:
            group_cols = group_cols + ["uk"]

    # every integer aggregate wrapped CAST(... AS BIGINT): count() is
    # bigint in both engines but DuckDB types sum(BIGINT) as HUGEINT
    # (the r6 gate class) — the cast is the registered-oracle
    # convention; double aggregates (3-tuples) stay DOUBLE on both sides
    sel = ", ".join(
        [
            *group_cols,
            *(
                f"CAST({a[1]} AS {'DOUBLE' if len(a) > 2 else 'BIGINT'}) AS {a[0]}"
                for a in aggs
            ),
        ]
    )
    gb = f" GROUP BY {', '.join(group_cols)}" if group_cols else ""
    # WHERE applies AFTER the join in both spellings (deliberate: the
    # same placement, so outer-join null-extension then filter semantics
    # are exercised identically)
    having = ""
    if group_cols and rng.random() < 0.4:
        having = f" HAVING count(*) > {rng.randint(0, 3)}"
    sql = f"SELECT {sel} FROM t{join_sql} WHERE {where}{gb}{having}"

    sdf = src.where(where)
    agg_cols = [
        F.expr(a[1]).cast("double" if len(a) > 2 else "bigint").alias(a[0])
        for a in aggs
    ]
    sdf = (
        sdf.groupBy(*group_cols).agg(*agg_cols)
        if group_cols
        else sdf.agg(*agg_cols)
    )
    if having:
        # HAVING count(*) filters on the already-aliased cnt column
        sdf = sdf.where(f"cnt > {having.rsplit('> ', 1)[1]}")
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    # Spark writes a DIRECTORY of part files; DuckDB reads it via glob
    con.execute(
        f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'"
    )
    res = con.execute(sql)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} vs {sorted(duck_cols)} [{sql}]"
    if len(spark_rows) != len(duck_rows):
        return f"rowcount {len(spark_rows)} vs {len(duck_rows)} [{sql}]"
    a = canon(spark_rows, spark_cols)
    b = canon(duck_rows, duck_cols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"values {diff} [{sql}]"
    return None


# Weighted family table (r10 rebalance — the r9 threshold cascade gave the
# newest families 1e-4..5e-6 slices, i.e. ~1% chance of ONE execution in a
# 60-case mixed run; they were dead code as regression protection). Every
# family now gets >=1.5% mass so a 60-case run expects ~1 execution of
# each, and `--family NAME N` runs any single family reproducibly.
_CORE_FAMILIES = [
    ("window", 0.04),
    ("scalar", 0.035),
    ("subquery", 0.035),
    ("setop", 0.03),
    ("order_limit", 0.03),
    ("grouping", 0.03),
    ("date", 0.03),
    ("like", 0.03),
    ("decimal", 0.03),
    ("join_window", 0.03),
    ("hof", 0.03),
    ("map_hof", 0.025),
    ("nested_subquery", 0.025),
    ("exists_in_case", 0.025),
    ("month_interval", 0.025),
    ("struct", 0.025),
    ("array_setop", 0.025),
    ("try_cast", 0.025),
    ("explode", 0.025),
    ("group_by_all", 0.02),
    ("window_exclude", 0.02),
    ("collation", 0.02),
    ("qualify", 0.02),
    ("order_by_all", 0.02),
    ("window_filter", 0.02),
    ("asof", 0.02),
    ("try_arith", 0.02),
    ("ordered_agg", 0.02),
    ("pivot_sql", 0.02),
    ("limit_offset", 0.02),
    ("groups_frame", 0.02),
    ("lateral", 0.02),
    ("regex", 0.02),
    ("daytime_interval", 0.02),
    ("string_edge", 0.02),
    ("alias_ordinal", 0.02),
    ("ts_month_interval", 0.02),
    # --- r10 families ---
    ("regexp_replace", 0.015),
    ("map_roundtrip", 0.015),
    ("distinct_order", 0.015),
    ("mixed_interval", 0.015),
    ("range_interval_frame", 0.015),
    ("fold_order", 0.015),
    # --- r12 families ---
    ("hof_nested", 0.015),
    ("sort_comparator", 0.015),
    ("try_agg", 0.015),
    # --- r13 families ---
    ("array_battery", 0.015),
    ("str_map", 0.015),
    ("distinct_window", 0.015),
    ("filter_agg", 0.015),
    ("strdist", 0.015),
    ("seq_battery", 0.015),
    ("quantile_battery", 0.015),
    ("ignore_nulls_window", 0.015),
    ("pad_trim", 0.015),
    ("array_slice", 0.015),
    ("bit_shift", 0.015),
    ("split_part", 0.015),
    ("to_json", 0.015),
    ("from_json_mismatch", 0.015),
    ("make_date", 0.015),
    ("csv_ts_format", 0.015),
    # --- r14 families ---
    ("ts_seq_anchor", 0.015),
    ("regr_battery", 0.015),
    ("argminmax", 0.015),
    # --- r15 families ---
    ("map_lastwin", 0.015),
    ("sort_nulls", 0.015),
    # --- r16 families ---
    ("width_bucket", 0.015),
    ("base_agg", 0.03),
]

# Weights are RELATIVE masses, normalized at pick time (r14 fix: the r13
# table's absolute weights summed to ~1.285, so the cumulative scan in
# run_case crossed 1.0 at fold_order and every later family — including
# all 13 r13 additions — was unreachable in mixed mode).
_FAMILY_WEIGHT_TOTAL = sum(w for _, w in _CORE_FAMILIES)


def _family_runners() -> dict:
    g = globals()
    out = {}
    for name, _ in _CORE_FAMILIES:
        fn = g[f"run_{name}_case"] if name != "base_agg" else run_base_agg_case
        out[name] = fn
    return out


def pick_family(pick: float) -> str:
    """Map a uniform [0,1) draw to a family name via normalized weights.

    Exposed separately so tests can assert every family is reachable
    (the r13 bug: un-normalized weights made the tail unreachable).
    """
    acc = 0.0
    for name, w in _CORE_FAMILIES:
        acc += w / _FAMILY_WEIGHT_TOTAL
        if pick < acc:
            return name
    return "base_agg"


def run_case(spark, con, rng: random.Random, tmp: str, case_id: int) -> str | None:
    """Returns None on agreement, else a description of the mismatch."""
    runners = _family_runners()
    name = pick_family(rng.random())
    return runners[name](spark, con, rng, tmp, case_id)


def main() -> int:
    from presto_truffle_spark.session import get_spark

    argv = list(sys.argv[1:])
    family = None
    if "--list-families" in argv:
        for name, w in _CORE_FAMILIES:
            print(name, f"{w / _FAMILY_WEIGHT_TOTAL:.4f}")
        return 0
    if "--family" in argv:
        i = argv.index("--family")
        family = argv[i + 1]
        del argv[i : i + 2]
        if family not in {n for n, _ in _CORE_FAMILIES}:
            print(f"unknown family {family!r}; see --list-families")
            return 2
    n_cases = int(argv[0]) if len(argv) > 0 else 40
    base_seed = int(argv[1]) if len(argv) > 1 else 0

    spark = get_spark("fuzz-differential", cpus="8")
    con = duckdb.connect()
    tmp = tempfile.mkdtemp(prefix="fuzz_diff_")
    failures = []
    runner = _family_runners()[family] if family else run_case
    try:
        for i in range(n_cases):
            rng = random.Random(base_seed * 100003 + i)
            err = runner(spark, con, rng, tmp, i)
            if err:
                print(f"FAIL  case {i}: {err}")
                failures.append(i)
            else:
                print(f"PASS  case {i}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    label = f" [{family}]" if family else ""
    print(
        f"\n{n_cases - len(failures)} pass, {len(failures)} fail"
        f" of {n_cases}{label}"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
