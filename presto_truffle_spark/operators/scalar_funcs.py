"""Scalar function battery: string / date / math / array / map / JSON.

[EXT] surface (the reference's only scalar expression is the O4 multiply,
``TpchQuery6.java:32``). Everything here is built-in ``pyspark.sql.functions``
— JVM-side, inside whole-stage codegen, no Python in the row path. That is
the engine's rule: a scalar function only becomes a pandas UDF when no
builtin composition exists (see similarity/multimodal modules).

Cross-engine oracle notes: DuckDB ``year()``/``len()``/``datediff`` return
BIGINT where Spark returns INT — casts applied in the SQL; Spark ``log`` is
natural log ≡ DuckDB ``ln``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_truffle_spark.catalog import load_table, register_views
from presto_truffle_spark.registry import query
from presto_truffle_spark.session import scoped_conf


@query(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           lower(p_type) AS type_lower,
           CAST(length(p_name) AS INTEGER) AS name_len,
           substring(p_name, 1, 8) AS name_prefix,
           concat(p_brand, ':', p_type) AS brand_type,
           trim(p_name) AS name_trimmed,
           replace(p_type, ' ', '_') AS type_snake,
           CASE WHEN p_type LIKE '%BRUSHED%' THEN 1 ELSE 0 END AS is_brushed,
           regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/lower/length/substring/concat/trim/replace/LIKE/regexp_extract."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.trim("p_name").alias("name_trimmed"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.when(F.col("p_type").like("%BRUSHED%"), 1).otherwise(0).alias("is_brushed"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
    )


@query(
    "scalar_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(month(o_orderdate) AS INTEGER) AS o_month,
           CAST(day(o_orderdate) AS INTEGER) AS o_day,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS o_dow,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(datediff('day', o_orderdate, TIMESTAMP '1998-12-01') AS INTEGER)
               AS days_to_cutoff,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders
    WHERE o_orderkey <= 5000
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day/dayofweek/date_trunc/date_add/datediff/format.

    DuckDB ``dayofweek`` is 0=Sunday; Spark ``dayofweek`` is 1=Sunday —
    reconciled with +1 on the DuckDB side.

    ``o_orderdate`` loads as TIMESTAMP_NTZ (naive parquet timestamp), so
    month truncation goes through ``trunc`` on DATE and the yyyy-MM label
    through printf — ``date_trunc``/``date_format`` would implicitly cast
    NTZ->LTZ in the driver-owned session zone (tztime.py).
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 5000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.dayofweek("o_orderdate").alias("o_dow"),
        F.trunc(F.col("o_orderdate").cast("date"), "month")
        .cast("timestamp_ntz")
        .alias("month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.datediff(F.lit("1998-12-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_cutoff"
        ),
        F.printf(
            F.lit("%04d-%02d"), F.year("o_orderdate"), F.month("o_orderdate")
        ).alias("ym"),
    )


@query(
    "scalar_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_extendedprice - 30000), 2) AS abs_dev,
           round(pow(l_discount, 2), 6) AS disc_sq,
           round(ln(l_extendedprice), 6) AS ln_price,
           round(sqrt(l_quantity), 6) AS sqrt_qty,
           CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct_ceil,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_kbucket,
           CAST(l_quantity AS BIGINT) % 7 AS qty_mod7,
           round(greatest(l_discount, l_tax), 2) AS max_rate,
           round(least(l_discount, l_tax), 2) AS min_rate,
           CAST(sign(l_extendedprice - 30000) AS DOUBLE) AS dev_sign
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs/pow/ln/sqrt/ceil/floor/mod/greatest/least/sign."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 30000), 2).alias("abs_dev"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.ceil(F.col("l_tax") * 100).alias("tax_pct_ceil"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_kbucket"),
        (F.col("l_quantity").cast("long") % 7).alias("qty_mod7"),
        F.round(F.greatest("l_discount", "l_tax"), 2).alias("max_rate"),
        F.round(F.least("l_discount", "l_tax"), 2).alias("min_rate"),
        F.signum(F.col("l_extendedprice") - 30000).alias("dev_sign"),
    )


@query(
    "scalar_array_funcs",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           string_split(text, ' ')[1] AS first_token,
           list_contains(string_split(text, ' '), 'data') AS has_data,
           list_sort(list_distinct(string_split(text, ' ')))[1] AS min_token,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
               AS n_unique_tokens,
           array_to_string(list_transform(string_split(text, ' ')[1:2],
                                          t -> upper(t)), '|') AS head_upper
    FROM documents
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface: split/size/element_at/array_contains/array_distinct/
    array_sort/slice/transform — all JVM-side higher-order functions, no
    explode needed (no row blow-up at scale)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_contains(toks, "data").alias("has_data"),
        F.element_at(F.array_sort(F.array_distinct(toks)), 1).alias("min_token"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.array_join(F.transform(F.slice(toks, 1, 2), lambda t: F.upper(t)), "|").alias(
            "head_upper"
        ),
    )


@query(
    "scalar_json_funcs",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 AS k_gt_50
    FROM events
    WHERE props IS NOT NULL
    """,
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column
    (``get_json_object`` ≡ DuckDB ``json_extract_string``). For fixed-schema
    props, ``from_json`` with an explicit schema beats repeated path
    extraction at scale (single parse per row) — see events_from_json."""
    e = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id",
        k.alias("k_str"),
        k.cast("long").alias("k_int"),
        (k.cast("long") > 50).alias("k_gt_50"),
    )


@query(
    "events_from_json",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def events_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured parse of the JSON props (one ``from_json`` with explicit
    schema — permissive mode, malformed rows become NULL not failures) then
    aggregate over the extracted field."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.withColumn("p", F.from_json("props", "k BIGINT"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.col("p.k")), 4).alias("avg_k"),
    )


@query(
    "scalar_null_handling",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_masked,
           c_acctbal IS NULL AS bal_is_null,
           ifnull(NULL, c_acctbal) AS bal_filled,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END
               AS bal_nonneg
    FROM customer
    """,
)
def scalar_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / nullif / isNull / ifnull / NULL-producing CASE — the
    reference has no NULL support at all (SURVEY.md §2.3)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("MACHINERY")), F.lit("OTHER")).alias(
            "segment_masked"
        ),
        F.col("c_acctbal").isNull().alias("bal_is_null"),
        F.ifnull(F.lit(None).cast("double"), F.col("c_acctbal")).alias("bal_filled"),
        F.when(F.col("c_acctbal") < 0, F.lit(None).cast("double"))
        .otherwise(F.round("c_acctbal", 2))
        .alias("bal_nonneg"),
    )


@query(
    "scalar_variant_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k,
           'OBJECT<k: BIGINT>' AS vschema
    FROM events
    """,
)
def scalar_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured type (Spark 4): parse_json into the binary
    variant encoding, typed extraction via try_variant_get, and
    schema_of_variant introspection. Variant is the scale answer to
    schemaless columns: parsed ONCE at ingest into a shredded binary form,
    then every downstream path access is a cheap binary probe — vs
    get_json_object re-parsing the string per expression per row (the
    scalar_json_funcs battery shows that older path). The oracle reads the
    same fields with DuckDB's JSON operators; the inferred-schema string is
    constant for the fixture's uniform {"k": int} payloads."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.try_variant_get("v", "$.k", "int").alias("k"),
        F.schema_of_variant("v").alias("vschema"),
    )


@query(
    "scalar_parameterized_sql",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                                    + 0.5) AS BIGINT)) AS BIGINT) / 100.0
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_quantity < 25 AND l_discount BETWEEN 0.02 AND 0.08
    GROUP BY l_returnflag
    """,
)
def scalar_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (Spark 4 ``spark.sql(..., args=...)``): the
    injection-safe plumbing every query service needs — parameters bind as
    typed literals in the parser, so Catalyst constant-folds and pushes
    them down exactly like hand-inlined constants (same PushedFilters), and
    the query TEXT stays cacheable/auditable while values vary per call.
    The oracle inlines the same values."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n,
               CAST(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                        * 100 + 0.5) AS BIGINT)) AS BIGINT)
                    / 100.0 AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_quantity < :max_qty AND l_discount BETWEEN :lo AND :hi
        GROUP BY l_returnflag
        """,
        args={"max_qty": 25, "lo": 0.02, "hi": 0.08},
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents,
           CAST(floor(avg(l_quantity) * 1000000 + 0.5) AS BIGINT)
               AS avg_qty_micro
    FROM lineitem
    WHERE year(l_shipdate) = 1995 AND l_quantity < 30
    GROUP BY l_returnflag
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-scripting surface in one query: PIPE syntax (`FROM t
    |> WHERE ... |> AGGREGATE ... GROUP BY ...`), a session VARIABLE
    (DECLARE/SET VARIABLE) bound inside the pipe's WHERE, and a SQL UDF
    (CREATE FUNCTION ... RETURN <expr>) applying the repo's exact-cents
    convention inside the aggregate. All three resolve at analysis time:
    the variable folds to a literal (same PushedFilters as inlining),
    the SQL UDF inlines into the expression tree (no Python round-trip —
    it stays whole-stage codegen), and the pipe operators desugar to the
    ordinary logical plan, so the oracle is the plain-SQL spelling.
    DECLARE/CREATE are session-scoped and OR REPLACE-idempotent — safe
    under the driver's repeated invocations."""
    register_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE pt_pipe_max_qty INT DEFAULT 30")
    spark.sql("SET VARIABLE pt_pipe_max_qty = 30")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION pt_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(x * 100 + 0.5) AS BIGINT)"
    )
    return spark.sql(
        """
        FROM lineitem
        |> WHERE year(l_shipdate) = 1995 AND l_quantity < pt_pipe_max_qty
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(pt_cents(l_extendedprice)) AS BIGINT)
                         AS price_cents,
                     CAST(floor(avg(l_quantity) * 1000000 + 0.5) AS BIGINT)
                         AS avg_qty_micro
           GROUP BY l_returnflag
        """
    )


@query(
    "sql_scripting_threshold",
    oracle="""
    WITH f AS (
        SELECT o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderstatus = 'F'
    ), thr AS (
        SELECT CAST(quantile_disc(cents, 0.9) AS BIGINT) AS threshold_cents
        FROM f
    )
    SELECT CAST(count(*) AS BIGINT) AS n_above,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           thr.threshold_cents
    FROM f CROSS JOIN thr
    WHERE f.cents > thr.threshold_cents
    GROUP BY thr.threshold_cents
    """,
)
def sql_scripting_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN…END, DECLARE, SET from a scalar
    subquery) composed with a SQL TABLE FUNCTION (CREATE FUNCTION …
    RETURNS TABLE) — the two remaining Spark 4 SQL-surface pieces
    `sql_pipe_syntax` doesn't cover. The script is the canonical
    two-step parameterized report: a table function slices finished
    orders, the script DECLAREs a threshold, SETs it to the slice's
    exact 90th-percentile cents, and the final SELECT (the script's
    return value) aggregates the above-threshold tail. Both constructs
    resolve to ordinary plans: the table function inlines its body (no
    Python round-trip), and the script executes statements sequentially
    in-session with the variable folding to a literal in the last
    query — so the oracle is the equivalent single SQL. CREATE OR
    REPLACE + DECLARE OR REPLACE keep repeated driver invocations
    idempotent; `spark.sql.scripting.enabled` is a parse-time conf,
    scoped to this call with set/restore (verified empirically: the
    returned DataFrame collects fine after the restore — the script
    executes and the variable folds during ``spark.sql``)."""
    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION pt_finished_orders()
        RETURNS TABLE(o_custkey BIGINT, cents BIGINT)
        RETURN SELECT o_custkey,
                      CAST(round(o_totalprice * 100) AS BIGINT)
               FROM orders WHERE o_orderstatus = 'F'
        """
    )
    with scoped_conf(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
        BEGIN
          DECLARE pt_thr BIGINT DEFAULT 0;
          SET pt_thr = (SELECT CAST(percentile_disc(0.9) WITHIN GROUP
                                    (ORDER BY cents) AS BIGINT)
                        FROM pt_finished_orders());
          -- GROUP BY the (constant) variable so the no-surviving-rows
          -- case yields ZERO groups on both engines (an ungrouped agg
          -- here would emit a 1-row (0, NULL) answer where the
          -- oracle's GROUP BY emits none — a shape fork if every cents
          -- value tied at the percentile)
          SELECT CAST(count(*) AS BIGINT) AS n_above,
                 CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
                 CAST(sum(cents) AS BIGINT) AS sum_cents,
                 pt_thr AS threshold_cents
          FROM pt_finished_orders()
          WHERE cents > pt_thr
          GROUP BY pt_thr;
        END
        """
        )


@query(
    "sql_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE chain(k, cur, d) AS (
        SELECT c_custkey, c_custkey, CAST(0 AS BIGINT) FROM customer
        UNION ALL
        SELECT k, cur // 10, d + 1 FROM chain WHERE cur >= 10
    ), leaf AS (
        SELECT k, cur AS root_key, d AS depth FROM chain WHERE cur < 10
    )
    SELECT root_key, depth,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(min(k) AS BIGINT) AS min_key,
           CAST(max(k) AS BIGINT) AS max_key
    FROM leaf GROUP BY 1, 2
    """,
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 RECURSIVE CTE surface (`WITH RECURSIVE`, new in 4.0) on
    the classic hierarchy-walk shape — the BOM-explosion / org-chart /
    folder-tree traversal SQL engines are asked for daily and Spark
    historically could NOT express (the pre-4.0 answer was a driver
    loop of self-joins): walk every customer key up its ancestor chain
    (parent = key DIV 10 — a deterministic 10-ary tree over the key
    space, depth ≈ log10(maxkey), engaging 4 levels at sf0.01 and 5 at
    sf0.1), stop at the single-digit root, and fold the per-(root,
    depth) population. Purely integer arithmetic — no float anywhere —
    so the oracle is the byte-identical DuckDB recursion (`//` for
    DIV, the one token that differs).

    Scale shape: each recursion level is one self-contained map step
    over the surviving frontier (rows leave the recursion as soon as
    they hit the root — the frontier SHRINKS 10× per level); Spark
    executes levels iteratively under TWO backstops:
    cteRecursionLevelLimit (default 100; depth here ≤ ~7 at any key
    range) and cteRecursionRowLimit (default 1e6 TOTAL rows across
    levels — which a mere 150k-customer run legitimately exceeds at
    ~Σ n/10^k ≈ 1.1·n rows; found live by the 10× scale audit). The
    row limit is a runaway guard, not a semantic bound, so the op
    raises it explicitly — the deliberate, visible opt-in the error
    message demands — to the conf's int32 ceiling (the knob is a JVM
    int), covering ~1.9e9 frontier rows ≈ a 1.7e9-key hierarchy per
    executor pass. The raise is SCOPED (ADVICE r12): the conf is read
    at ACTION time (verified empirically), so the op runs the
    recursion eagerly inside the scope and materializes the ≤ ~70-row
    (roots × depth) grid via ``localCheckpoint`` (the quality_ops CC /
    rewrites.py precedent), restoring the session's runaway backstop
    before returning."""
    register_views(spark, sf_dir)
    # Σ frontier rows = n·(1 + 1/10 + 1/100 + …) < 1.12·n; the conf is
    # a JVM int, so int32-max is the largest visible opt-in available.
    with scoped_conf(spark, {"spark.sql.cteRecursionRowLimit": str((1 << 31) - 1)}):
        return spark.sql(
            """
            WITH RECURSIVE chain(k, cur, d) AS (
                SELECT c_custkey, c_custkey, CAST(0 AS BIGINT) FROM customer
                UNION ALL
                SELECT k, cur DIV 10, d + 1 FROM chain WHERE cur >= 10
            ), leaf AS (
                SELECT k, cur AS root_key, d AS depth FROM chain WHERE cur < 10
            )
            SELECT root_key, depth,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   CAST(min(k) AS BIGINT) AS min_key,
                   CAST(max(k) AS BIGINT) AS max_key
            FROM leaf GROUP BY 1, 2
            """
        ).localCheckpoint(eager=True)


@query(
    "sql_session_variables",
    oracle="""
    SELECT 'narrow' AS band, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
    UNION ALL
    SELECT 'wide' AS band, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.09
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SESSION VARIABLES surface (DECLARE / SET VARIABLE /
    ``session.``-qualified references / IDENTIFIER() table binding —
    all new in 4.0): the dbt-style parameterized-report pattern where
    one query text runs under different bindings, WITHOUT string
    interpolation (the injection-prone alternative) and WITHOUT the
    literal-array plumbing of `scalar_parameterized_sql` (this op's
    sibling: that one covers spark.sql(..., args), this one the
    in-SQL variable surface). A Q6-flavored revenue probe is DECLAREd
    against variable date/discount bounds and a variable TABLE NAME
    (resolved via IDENTIFIER(session.tbl) — catalog-safe dynamic SQL),
    run under a narrow discount band, re-bound with SET VARIABLE, and
    run again — the union proves re-binding changes ANALYSIS-time
    resolution, not just values.

    Contract probed: variables are resolved when spark.sql() analyzes
    the statement (eager), so the returned union is immune to the
    DROP TEMPORARY VARIABLE cleanup that follows — the op leaves NO
    session residue (same hygiene discipline as session.scoped_conf; the
    selfcheck SET-drift assertion stays clean because variables live
    outside the conf namespace, and we drop them anyway).

    Scale shape: identical to q6 — two codegen scans with pushed
    predicates; the variable machinery is pure parse/analysis-time."""
    register_views(spark, sf_dir)
    stmts = [
        "DECLARE OR REPLACE VARIABLE tbl STRING DEFAULT 'lineitem'",
        "DECLARE OR REPLACE VARIABLE ship_lo DATE DEFAULT DATE '1996-01-01'",
        "DECLARE OR REPLACE VARIABLE ship_hi DATE DEFAULT DATE '1997-01-01'",
        "DECLARE OR REPLACE VARIABLE disc_lo DOUBLE DEFAULT 0.05",
        "DECLARE OR REPLACE VARIABLE disc_hi DOUBLE DEFAULT 0.07",
        "DECLARE OR REPLACE VARIABLE band_label STRING DEFAULT 'narrow'",
    ]
    probe = """
        SELECT session.band_label AS band,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM IDENTIFIER(session.tbl)
        WHERE l_shipdate >= session.ship_lo
          AND l_shipdate < session.ship_hi
          AND l_discount BETWEEN session.disc_lo AND session.disc_hi
    """
    try:
        for s in stmts:
            spark.sql(s)
        narrow = spark.sql(probe)  # analysis binds the current values
        spark.sql("SET VARIABLE band_label = 'wide'")
        spark.sql("SET VARIABLE disc_lo = 0.02")
        spark.sql("SET VARIABLE disc_hi = 0.09")
        wide = spark.sql(probe)  # re-analysis binds the NEW values
        return narrow.unionAll(wide)
    finally:
        for v in ("tbl", "ship_lo", "ship_hi", "disc_lo", "disc_hi",
                  "band_label"):
            spark.sql(f"DROP TEMPORARY VARIABLE IF EXISTS {v}")
