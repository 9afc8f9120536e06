"""Matching & data-quality operators: sparse cosine similarity pair-join
via an inverted index, blocked fuzzy (edit-distance) matching, a
deequ-style declarative data-quality audit, exact-envelope approx top-k,
and per-group top-k via SQL LATERAL.

[EXT] surface — entity-resolution / data-quality capabilities a corpus
pipeline needs beyond the hash/MinHash dedup family in ``dedup.py``:
similarity joins that never materialize all-pairs, fuzzy key matching
with blocking, and machine-checkable quality constraints over tables.

Scale posture:
  * ``text_cosine_pairs`` is the classic inverted-index similarity join:
    candidate work is Σ_token df², bounded by the document-frequency cap
    that drops stopword-grade tokens before the self-join (the prefix-
    filtering idea from DIMSUM / all-pairs similarity search). Nothing
    ever enumerates the n² document pairs.
  * ``fuzzy_match_blocked`` compares names only inside blocking buckets
    (first/last character × length band, two passes unioned) — the
    standard entity-resolution trick that turns O(n²) edit-distance
    matching into per-block work.
  * ``quality_constraint_audit`` computes every constraint as a
    conditional aggregate, one scan per table, unioned into a tiny
    metrics table — the shape of a deequ/great-expectations run over
    100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_truffle_spark.cache import session_memo
from presto_truffle_spark.catalog import load_table, register_views
from presto_truffle_spark.registry import query

# Tokens are dropped before the posting-list self-join when their document
# frequency exceeds EITHER cap (stopword-grade tokens dominate Σ df² while
# contributing almost no cosine signal). The relative cap keeps selectivity
# stable across scale factors; the ABSOLUTE cap is the scale-safety bound —
# it limits every posting list to ≤ _DF_CAP_ABS entries, so candidate work
# is ≤ kept_tokens · cap² no matter how large the corpus grows. (The 10×
# scale audit OOM'd a relative-only cap: with corpus-constant token df,
# nothing got dropped and Σ df² exploded — the same failure mode a real
# mid-frequency-heavy corpus hits.) The oracle mirrors both caps.
_DF_CAP_FRAC = 0.2
_DF_CAP_ABS = 1000
_COSINE_THRESHOLD = 0.6

def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Df-capped posting list (doc_id, token), cached and memoized per
    (session, sf_dir) — same pattern as dedup._lsh_tables. Three parts of
    the cosine pair-join read it (both self-join sides + the per-doc set
    sizes); uncached, Spark re-runs the tokenize+df-filter subtree (and
    its 1-row corpus-count broadcast) once per consumer. At 100 TB the
    postings table is the materialized inverted index every similarity
    pipeline keeps."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        tok = (
            docs.select(
                "doc_id",
                F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
            )
            .where(F.col("token") != "")
        )
        n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
        kept = (
            tok.groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .where(
                (F.col("df") <= _DF_CAP_FRAC * F.col("n_docs"))
                & (F.col("df") <= _DF_CAP_ABS)
            )
            .select("token")
        )
        return tok.join(kept, "token").cache()

    return session_memo(spark, ("postings", sf_dir), build)


@query(
    "text_cosine_pairs",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    kept AS (
        SELECT token FROM tok2 GROUP BY token
        HAVING count(*) <= {_DF_CAP_FRAC} * (SELECT count(*) FROM documents)
           AND count(*) <= {_DF_CAP_ABS}
    ),
    p AS (SELECT t.doc_id, t.token FROM tok2 t JOIN kept USING (token)),
    n AS (SELECT doc_id, count(*) AS n FROM p GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM p a JOIN p b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared,
           floor(shared * 1.0 / sqrt(na.n * nb.n) * 1000000 + 0.5) / 1000000
               AS cosine
    FROM shared
    JOIN n na ON shared.doc_a = na.doc_id
    JOIN n nb ON shared.doc_b = nb.doc_id
    WHERE shared * 1.0 / sqrt(na.n * nb.n) >= {_COSINE_THRESHOLD}
    """,
)
def text_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with binary-vector cosine ≥ 0.6, computed with an
    inverted-index (posting-list) self-join — never an all-pairs product.

    cos(A, B) = |A∩B| / sqrt(|A|·|B|) over each document's *distinct*
    token set. Stages: tokenize+distinct (1 shuffle) → df filter drops
    tokens with df > 20% of the corpus (bounds the per-token self-join
    at df², and the 1-row corpus count joins in as a broadcast) →
    postings self-join on token → pair-count aggregate → join per-doc
    set sizes → threshold. All arithmetic is integer counts + one IEEE
    sqrt/divide, so Spark and DuckDB agree bit-for-bit at the threshold
    boundary. At 100 TB the df cap is the knob that keeps Σ df² linear-ish
    in corpus size; hot tokens are exactly the ones carrying no signal.
    """
    p = _postings(spark, sf_dir)
    n = p.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = p.select(F.col("doc_id").alias("doc_a"), "token")
    b = p.select(F.col("doc_id").alias("doc_b"), "token")
    shared = (
        a.join(b, "token")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    cos = F.col("shared") / F.sqrt(F.col("na.n") * F.col("nb.n"))
    return (
        shared.join(n.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(n.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .where(cos >= _COSINE_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            "shared",
            (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000).alias("cosine"),
        )
    )


@query(
    "text_cosine_pairs_weighted",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    dfreq AS (
        SELECT token, count(*) AS df FROM tok2 GROUP BY token
    ),
    kept AS (
        SELECT token, 1000000 // df AS w FROM dfreq
        WHERE df <= {_DF_CAP_FRAC} * (SELECT count(*) FROM documents)
          AND df <= {_DF_CAP_ABS}
    ),
    p AS (
        SELECT t.doc_id, t.token, k.w
        FROM tok2 t JOIN kept k USING (token)
    ),
    norms AS (SELECT doc_id, sum(w * w) AS n2 FROM p GROUP BY 1),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               sum(a.w * b.w) AS dot
        FROM p a JOIN p b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           floor(dot * 1.0 / sqrt(na.n2 * nb.n2) * 1000000 + 0.5) / 1000000
               AS cosine
    FROM dots
    JOIN norms na ON dots.doc_a = na.doc_id
    JOIN norms nb ON dots.doc_b = nb.doc_id
    WHERE dot * 1.0 / sqrt(na.n2 * nb.n2) >= {_COSINE_THRESHOLD}
    """,
)
def text_cosine_pairs_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted variant of the inverted-index similarity join: tokens carry
    an inverse-document-frequency weight, so rare shared vocabulary drives
    similarity and common tokens barely count — the DIMSUM/tf-idf shape.

    Determinism trick: the weight is the RATIONAL idf ``1e6 div df``
    (integer division — monotone in 1/df like log-idf, but exact), so dot
    products and squared norms are exact BIGINT sums in any aggregation
    order; FP appears only in the final sqrt/divide, an identical IEEE
    sequence on both engines. Same candidate bound as the binary variant
    (shared df caps); weights ≤ 1e6 keep every SUM far under 2⁶³ — but
    the norm PRODUCT n2a·n2b is not (found live by the r13 rich-fixture
    sweep: rare tokens ⇒ w up to 1e6 ⇒ n2 ~ 1e14 ⇒ product ~ 1e28,
    ANSI long overflow), so the product is taken in DOUBLE. Parity: each
    n2 < 2⁵³ is exactly representable, and IEEE multiply of two exact
    doubles is the correctly-rounded exact product — bit-identical to
    DuckDB's exact HUGEINT product cast to double at sqrt.
    """
    p = _postings(spark, sf_dir)
    dfreq = p.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    weighted = p.join(
        dfreq.select("token", F.expr("1000000 div df").alias("w")), "token"
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    a = weighted.select(F.col("doc_id").alias("doc_a"), "token", F.col("w").alias("wa"))
    b = weighted.select(F.col("doc_id").alias("doc_b"), "token", F.col("w").alias("wb"))
    dots = (
        a.join(b, "token")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    cos = F.col("dot") / F.sqrt(
        F.col("na.n2").cast("double") * F.col("nb.n2").cast("double")
    )
    return (
        dots.join(norms.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(norms.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .where(cos >= _COSINE_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000).alias("cosine"),
        )
    )


@query(
    "fuzzy_match_blocked",
    oracle="""
    WITH names AS (
        SELECT p_name AS name, count(*) AS n_rows
        FROM part GROUP BY 1
    ),
    blocked AS (
        SELECT name, n_rows, substr(name, 1, 1) AS bkey,
               CAST(floor(length(name) / 3) AS INTEGER) AS lband
        FROM names
        UNION ALL
        SELECT name, n_rows, substr(name, length(name), 1) AS bkey,
               CAST(floor(length(name) / 3) AS INTEGER) AS lband
        FROM names
    )
    SELECT DISTINCT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS edit_distance,
           a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
    FROM blocked a
    JOIN blocked b
      ON a.bkey = b.bkey AND a.lband = b.lband AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 2
    """,
)
def fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: distinct part names within edit distance ≤ 2,
    compared only inside blocking buckets (two passes: first-character and
    last-character, each × a length band; pair lists unioned + deduped).

    Blocking is what makes edit-distance matching feasible at scale —
    levenshtein is not indexable, so the only lever is shrinking the
    candidate set. Two complementary single-character block keys give
    recall against edits at either end of the string while keeping each
    bucket tiny; the documented residual miss is a ≤2-edit pair differing
    in BOTH its first and last characters. Spark and DuckDB implement the
    same Wagner-Fischer edit distance, so the predicate agrees exactly.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    lband = F.floor(F.length("name") / 3).cast("int").alias("lband")
    first = names.select(
        "name", "n_rows", F.substring("name", 1, 1).alias("bkey"), lband
    )
    last = names.select(
        "name",
        "n_rows",
        F.expr("substr(name, length(name), 1)").alias("bkey"),
        lband,
    )
    blocked = first.unionAll(last)
    a = blocked.alias("a")
    b = blocked.alias("b")
    lev = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.lband") == F.col("b.lband"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .where(lev <= 2)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            lev.cast("int").alias("edit_distance"),
            F.col("a.n_rows").alias("n_rows_a"),
            F.col("b.n_rows").alias("n_rows_b"),
        )
        .distinct()
    )


@query(
    "quality_constraint_audit",
    oracle="""
    WITH m AS (
        SELECT 'completeness_c_acctbal' AS constraint,
               floor(count(c_acctbal) * 1.0 / count(*) * 1000000 + 0.5)
                   / 1000000 AS metric,
               count(c_acctbal) = count(*) AS passed
        FROM customer
        UNION ALL
        SELECT 'uniqueness_o_orderkey',
               floor(count(DISTINCT o_orderkey) * 1.0 / count(*) * 1000000
                     + 0.5) / 1000000,
               count(DISTINCT o_orderkey) = count(*)
        FROM orders
        UNION ALL
        SELECT 'ri_orders_customer_violations',
               CAST(count(*) FILTER (
                   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
               ) AS DOUBLE),
               count(*) FILTER (
                   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
               ) = 0
        FROM orders
        UNION ALL
        SELECT 'accepted_values_c_mktsegment',
               CAST(count(*) FILTER (WHERE c_mktsegment NOT IN
                   ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD',
                    'MACHINERY')) AS DOUBLE),
               count(*) FILTER (WHERE c_mktsegment NOT IN
                   ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD',
                    'MACHINERY')) = 0
        FROM customer
        UNION ALL
        SELECT 'range_l_quantity_1_50',
               CAST(count(*) FILTER (
                   WHERE l_quantity < 1 OR l_quantity > 50) AS DOUBLE),
               count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) = 0
        FROM lineitem
    )
    SELECT * FROM m
    """,
)
def quality_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (deequ / great-expectations shape):
    each constraint evaluates to one (constraint, metric, passed) row —
    completeness, key uniqueness, referential integrity, accepted values,
    and a numeric range check.

    One aggregation pass per table, NOT one per constraint: each table's
    constraints compute inside a single 1-row aggregate which ``stack()``
    unpivots into (constraint, metric, passed) rows. The r4 UNION ALL
    spelling re-scanned customer 3× and orders 2× — Catalyst does NOT
    collapse same-source aggregates across union branches (r5 rescan
    audit, SCALING.md), and SQL CTEs inline per reference so a WITH
    block would not dedupe either. The RI check rides the SAME orders
    pass as key uniqueness, with the build side deduped to its key SET
    (``SELECT DISTINCT c_custkey``) so the left join preserves orders'
    row count BY CONSTRUCTION — count(*)/count(DISTINCT) are
    join-invariant even if customer ever carried duplicate keys, instead
    of silently assuming the PK (ADVICE r5; the DuckDB oracle computes
    uniqueness from bare orders, so a duplicate-key build side would
    otherwise have diverged the engines). The key-set distinct is
    dimension-sized and map-side-combined; customer's appearance is the
    single-column pruned join build side. 4 scans total (was 6) — the
    single-pass property that makes constraint suites affordable on a
    100 TB table. Ratios are floor-rounded to 6 places on both engines.
    """
    register_views(spark, sf_dir)
    cust = spark.sql(
        """
        SELECT CAST(floor(count(c_acctbal) * 1.0 / count(*) * 1000000 + 0.5)
                    / 1000000 AS DOUBLE) AS completeness,
               count(c_acctbal) = count(*) AS completeness_ok,
               CAST(count(CASE WHEN c_mktsegment NOT IN
                   ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD',
                    'MACHINERY') THEN 1 END) AS DOUBLE) AS bad_segments
        FROM customer
        """
    ).selectExpr(
        "stack(2, 'completeness_c_acctbal', completeness, completeness_ok,"
        "         'accepted_values_c_mktsegment', bad_segments,"
        "         bad_segments = CAST(0 AS DOUBLE))"
        " AS (constraint, metric, passed)"
    )
    ords = spark.sql(
        """
        SELECT CAST(floor(count(DISTINCT o_orderkey) * 1.0 / count(*)
                          * 1000000 + 0.5) / 1000000 AS DOUBLE) AS uniq,
               count(DISTINCT o_orderkey) = count(*) AS uniq_ok,
               CAST(count(CASE WHEN c.c_custkey IS NULL THEN 1 END)
                    AS DOUBLE) AS ri_violations
        FROM orders
        LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
               ON o_custkey = c.c_custkey
        """
    ).selectExpr(
        "stack(2, 'uniqueness_o_orderkey', uniq, uniq_ok,"
        "         'ri_orders_customer_violations', ri_violations,"
        "         ri_violations = CAST(0 AS DOUBLE))"
        " AS (constraint, metric, passed)"
    )
    li = spark.sql(
        """
        SELECT 'range_l_quantity_1_50' AS constraint,
               CAST(count(CASE WHEN l_quantity < 1 OR l_quantity > 50
                   THEN 1 END) AS DOUBLE) AS metric,
               count(CASE WHEN l_quantity < 1 OR l_quantity > 50
                   THEN 1 END) = 0 AS passed
        FROM lineitem
        """
    )
    return cust.unionByName(ords).unionByName(li)


@query(
    "agg_approx_top_k",
    oracle="""
    SELECT event_type AS item, count(*) AS cnt
    FROM events
    GROUP BY 1
    """,
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter sketch: Spark 4's ``approx_top_k`` over event_type,
    exploded back to (item, cnt) rows.

    Exact-envelope design (same idea as the HLL/percentile envelope
    oracles in aggregates.py): k and maxItemsTracked are set far above the
    column's distinct cardinality, a regime where the frequent-items
    sketch is *exact by construction* — every distinct item is tracked, no
    eviction, so counts equal the true counts and the DuckDB oracle is a
    plain GROUP BY. The sketch is the single-pass, fixed-memory, mergeable
    path for heavy hitters over 100 TB where a full GROUP BY would shuffle
    the long tail; under-k cardinality here lets the driver hash-check it.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.explode(
                F.expr("approx_top_k(event_type, 100, 10000)")
            ).alias("entry")
        )
        .select(
            F.col("entry.item").alias("item"),
            F.col("entry.count").alias("cnt"),
        )
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH cents AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price,
               CAST(l_quantity AS BIGINT) AS w,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    cum AS (
        SELECT flag, price, w,
               sum(w) OVER (
                   PARTITION BY flag
                   ORDER BY price, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(w) OVER (PARTITION BY flag) AS tw
        FROM cents
    ),
    hit AS (
        SELECT flag, price, cw, tw,
               row_number() OVER (
                   PARTITION BY flag ORDER BY cw, price) AS rn
        FROM cum
        WHERE 2 * cw >= tw
    )
    SELECT flag, CAST(price AS BIGINT) AS weighted_median_cents,
           CAST(tw AS BIGINT) AS total_weight
    FROM hit WHERE rn = 1
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest price
    whose cumulative quantity weight reaches half the total — the
    weighted-percentile primitive (here q=0.5) that plain percentile()
    cannot express.

    Pure integer arithmetic end to end: cent prices, integer weights, a
    cumulative-sum window ordered by (price, orderkey, linenumber) — the
    key tie-break makes the cumulative sequence, and therefore the
    selected row, fully deterministic on both engines. One shuffle on the
    group key; the two window passes and the final pick reuse it. At
    100 TB this is the sort-based weighted-quantile shape (one sorted
    pass per group), the same plan a hand-written TDigest replacement
    would need anyway for an EXACT answer.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    from pyspark.sql import Window as W

    cum_w = (
        W.partitionBy("flag")
        .orderBy("price", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot_w = W.partitionBy("flag")
    cum = cents.select(
        "flag",
        "price",
        F.sum("w").over(cum_w).alias("cw"),
        F.sum("w").over(tot_w).alias("tw"),
    )
    pick = W.partitionBy("flag").orderBy("cw", "price")
    return (
        cum.where(2 * F.col("cw") >= F.col("tw"))
        .withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "flag",
            F.col("price").cast("bigint").alias("weighted_median_cents"),
            F.col("tw").cast("bigint").alias("total_weight"),
        )
    )


@query(
    "corpus_importance_resample",
    oracle="""
    WITH weighted AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               least(1.0, greatest(0.1,
                   len(string_split(text, ' ')) / 500.0)) AS keep_prob,
               substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8)
                   AS u_hex
        FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(keep_prob * 1000000 + 0.5) AS BIGINT) AS keep_prob_ppm
    FROM weighted
    WHERE u_hex < lpad(lower(to_hex(
        CAST(floor(keep_prob * 4294967296) AS BIGINT))), 8, '0')
    """,
)
def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling for corpus curation: each document is kept
    with probability proportional to a quality weight (here length-based:
    clamp(n_tokens/500, 0.1, 1.0)) — the standard way to up-weight long /
    high-quality documents without a second copy of the data.

    The Bernoulli draw is DERANDOMIZED: u = first 8 hex chars of
    md5(doc_id | text) is a uniform 32-bit value, and the keep decision is
    the lexicographic compare u_hex < hex(floor(p·2³²)) — equal-width
    lowercase hex compare ≡ numeric compare, md5 is bit-identical in both
    engines, so the sample is reproducible run-to-run, engine-to-engine,
    and under any partitioning (the property a resumable 100 TB curation
    job needs; rand()-based sampling has none of these). Pure row-side
    map, no shuffle at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    keep_prob = F.least(
        F.lit(1.0), F.greatest(F.lit(0.1), n_tokens / F.lit(500.0))
    )
    u_hex = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text"))),
        1,
        8,
    )
    threshold = F.lpad(
        F.lower(F.hex(F.floor(keep_prob * F.lit(4294967296.0)).cast("bigint"))),
        8,
        "0",
    )
    return (
        docs.select(
            "doc_id",
            n_tokens.cast("bigint").alias("n_tokens"),
            F.floor(keep_prob * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("keep_prob_ppm"),
            u_hex.alias("u_hex"),
            threshold.alias("threshold"),
        )
        .where(F.col("u_hex") < F.col("threshold"))
        .drop("u_hex", "threshold")
    )


@query(
    "text_bigram_surprisal",
    oracle="""
    WITH bg AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> {'w1': string_split(text, ' ')[i],
                         'w2': string_split(text, ' ')[i+1]})) AS b
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    db AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM db GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
    scored AS (
        SELECT db.doc_id,
               (c2.c2 * 1000000000) // c1.c1 AS p_ppb
        FROM db
        JOIN c2 ON db.w1 = c2.w1 AND db.w2 = c2.w2
        JOIN c1 ON db.w1 = c1.w1
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           CAST(sum(p_ppb) // count(*) AS BIGINT) AS mean_prob_ppb,
           CAST(min(p_ppb) AS BIGINT) AS min_prob_ppb
    FROM scored
    GROUP BY 1
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring: each document scored against the
    corpus's own bigram statistics — mean and minimum transition
    probability P(w2|w1) = C(w1,w2)/Σ_w C(w1,w) per doc. Low mean ⇒
    unusual/low-quality text; min pinpoints the single rarest transition.
    This is the classic model-free perplexity proxy used to filter
    training corpora.

    Determinism by construction: probabilities are integer parts-per-
    billion (``c2 * 1e9 div c1`` — pure BIGINT arithmetic, no
    transcendentals, no FP summation order), so Spark and DuckDB agree
    exactly. Plan: bigram explode → corpus counts (shuffle on (w1,w2)) →
    context counts (re-aggregate the count table, 1/60th the rows, same
    trick as the rollup cascade) → two equi-joins back to doc bigrams →
    per-doc aggregate. The count tables are vocabulary²-bounded and the
    join on (w1,w2) is stopword-skewed at corpus scale — AQE skew-split
    handles it, or pre-broadcast c1 (vocabulary-sized). No all-pairs
    anywhere; every stage is linear in total bigrams.

    ``c2`` is persisted (vocabulary²-bounded — a REDUCED intermediate per
    the SCALING.md rescan rule): c1 derives from it and the scored join
    probes it, and without the cache each consumer re-ran the whole
    bigram explode+count pipeline. The doc-bigram probe side ``db`` is
    deliberately NOT cached — it is corpus-scale, and its recompute is
    one map-side explode, the cheap half of the pipeline. Cached via
    ``scoped_persist`` — one live frame per site (ADVICE r5).
    """
    from presto_truffle_spark.cache import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    db = (
        docs.where(F.size(toks) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(toks, 1, F.size(toks) - 1).alias("w1"),
                    F.slice(toks, 2, F.size(toks) - 1).alias("w2"),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c2 = scoped_persist(
        spark,
        "matching.bigram_surprisal.c2",
        db.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")),
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (
        db.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .select(
            "doc_id",
            F.expr("(c2 * 1000000000) div c1").alias("p_ppb"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("sum(p_ppb) div count(*)").cast("bigint").alias("mean_prob_ppb"),
        F.min("p_ppb").cast("bigint").alias("min_prob_ppb"),
    )


@query(
    "scalar_url_funcs",
    oracle="""
    WITH u AS (
        SELECT o_orderkey,
               'https://shop.example.com/o/' || o_orderkey
                   || '?p=' || lower(translate(o_orderpriority, '- ', '__'))
                   || '&k=' || o_orderkey % 7 AS url
        FROM orders
    )
    SELECT o_orderkey,
           'shop.example.com' AS host,
           '/o/' || o_orderkey AS path,
           'p=' || lower(translate(
               (SELECT o_orderpriority FROM orders o2
                WHERE o2.o_orderkey = u.o_orderkey), '- ', '__'))
               || '&k=' || o_orderkey % 7 AS query,
           CAST(o_orderkey % 7 AS VARCHAR) AS k_param
    FROM u
    """,
)
def scalar_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing battery: build a synthetic URL per order row, then take
    it apart again with Spark's ``parse_url`` (HOST / PATH / QUERY /
    QUERY-parameter extraction) — the log-analytics scalar surface.

    DuckDB has no parse_url, so the oracle reconstructs the expected
    components from the same inputs — valid because the URLs are built
    from clean alphanumerics (no percent-encoding ambiguity), making the
    parse exactly invertible. parse_url is a row-side JVM expression:
    the whole query is a map over the scan, no shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://shop.example.com/o/"),
        F.col("o_orderkey").cast("string"),
        F.lit("?p="),
        F.lower(F.translate(F.col("o_orderpriority"), "- ", "__")),
        F.lit("&k="),
        (F.col("o_orderkey") % 7).cast("string"),
    )
    with_url = o.select("o_orderkey", url.alias("url"))
    return with_url.select(
        "o_orderkey",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("k")).alias("k_param"),
    )


_LATERAL_TOPK_SQL = """
SELECT n.n_name, s.c_name, s.c_acctbal
FROM nation n, LATERAL (
    SELECT c_name, c_acctbal
    FROM customer
    WHERE c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 3
) AS s
"""


@query("join_lateral_topk", oracle=_LATERAL_TOPK_SQL)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via a correlated LATERAL subquery with ORDER BY +
    LIMIT — identical SQL text runs on Spark 4 and DuckDB.

    This is the SQL-standard spelling of window_topk_per_group
    (windows.py:65): Catalyst decorrelates the lateral into a
    partition-limit plan rather than executing the subquery per outer row,
    so at scale it behaves like the rank-filter form — one shuffle on the
    correlation key. Ties on c_acctbal are broken by c_custkey, keeping
    the top-3 deterministic on both engines.
    """
    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_TOPK_SQL)


_FS_SQL = """
    WITH base AS (
        SELECT CAST(floor(c_acctbal / 100) AS BIGINT) AS f_band,
               c_mktsegment AS f_seg, c_name AS f_name,
               c_nationkey AS f_nat
        FROM {table}
    ), hist AS (
        SELECT grouping(f_band) AS g_band, grouping(f_seg) AS g_seg,
               grouping(f_name) AS g_name,
               CAST(count(*) AS BIGINT) AS c
        FROM base
        GROUP BY GROUPING SETS ((f_band), (f_seg), (f_name), (f_nat))
    ), fields AS (
        SELECT CASE WHEN g_band = 0 THEN 'acctbal_band'
                    WHEN g_seg = 0 THEN 'mktsegment'
                    WHEN g_name = 0 THEN 'name'
                    ELSE 'nationkey' END AS field,
               c
        FROM hist
    ), folded AS (
        SELECT field,
               CAST(count(*) AS BIGINT) AS n_distinct_values,
               CAST(sum(c * (c - 1)) AS BIGINT) AS coll,
               CAST(sum(c) AS BIGINT) AS n
        FROM fields GROUP BY field
    ), probs AS (
        SELECT field, n_distinct_values,
               CAST(CASE field WHEN 'acctbal_band' THEN 0.7
                    WHEN 'mktsegment' THEN 0.95
                    WHEN 'name' THEN 0.9
                    ELSE 0.95 END AS DOUBLE) AS m_prob,
               CAST(coll + 1.0 AS DOUBLE)
                   / CAST(n * (n - 1) + 1.0 AS DOUBLE) AS u_raw
        FROM folded
    )
    SELECT field, n_distinct_values, m_prob,
           round(u_raw, 9) AS u_prob,
           round(ln(m_prob / u_raw) / ln(2.0), 6) AS agreement_weight,
           round(ln((1 - m_prob) / (1 - u_raw)) / ln(2.0), 6)
               AS disagreement_weight
    FROM probs
"""


@query(
    "matching_fellegi_sunter",
    oracle=_FS_SQL.format(table="customer"),
)
def matching_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage calibration (Fellegi & Sunter 1969;
    the model behind Splink and every census-style probabilistic
    matcher): for each comparison field, the match weight evidence an
    AGREEMENT contributes is log2(m/u) and a DISAGREEMENT contributes
    log2((1-m)/(1-u)). This op computes the u-probabilities — the chance
    two random NON-matching records agree on the field — exactly from
    the field's value-frequency histogram: u = sum_v c_v*(c_v-1) /
    (N*(N-1)), add-one smoothed on both terms so an all-unique field
    (c_name) yields a large finite weight instead of log(inf). That
    frequency-based u estimation is precisely how production linkers
    bootstrap (random pairing agrees by chance at the collision rate of
    the value distribution); m-probabilities need labeled pairs or EM,
    so they are declared priors here (literal per field, documented) —
    the output is the weight TABLE a scorer joins against, like
    corpus_quantile_normalize emits the mapping rather than the mapped
    corpus.

    ONE corpus scan for all four fields: GROUP BY GROUPING SETS
    ((band),(segment),(name),(nationkey)) plans a single Expand (4x
    rows) into a single shuffle — the r9 rescan audit caught the
    original per-field spelling scanning customer four times. grouping()
    flags label which set each histogram row belongs to; the collision
    folds then run over the tiny distinct-value table. The SQL text is
    byte-identical on both engines (grouping sets, grouping(), ln are
    shared spellings); exact integer collision sums, weights the only
    doubles, 6dp."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "pt_fs_customer"
    )
    return spark.sql(_FS_SQL.format(table="pt_fs_customer"))


_EDP_BLOCK_CAP = 1000  # max block size compared; larger blocks reported


@query(
    "matching_edit_distance_profile",
    oracle=f"""
    WITH p AS (
        SELECT p_partkey, p_name,
               string_split(p_name, ' ')[1] AS blk_w,
               len(p_name) AS blk_l
        FROM part
    ), blocks AS (
        SELECT blk_w, blk_l, CAST(count(*) AS BIGINT) AS n_b
        FROM p GROUP BY 1, 2
    ), bstat AS (
        SELECT CAST(count(CASE WHEN n_b <= {_EDP_BLOCK_CAP} THEN 1 END)
                    AS BIGINT) AS n_blocks_compared,
               CAST(count(CASE WHEN n_b > {_EDP_BLOCK_CAP} THEN 1 END)
                    AS BIGINT) AS n_blocks_skipped
        FROM blocks
    ), kept AS (
        SELECT p.* FROM p
        JOIN blocks b ON b.blk_w = p.blk_w AND b.blk_l = p.blk_l
        WHERE b.n_b <= {_EDP_BLOCK_CAP}
    ), pairs AS (
        SELECT CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS d
        FROM kept a JOIN kept b
          ON a.blk_w = b.blk_w AND a.blk_l = b.blk_l
         AND a.p_partkey < b.p_partkey
    )
    SELECT least(d, 5) AS edit_distance,
           CAST(count(*) AS BIGINT) AS n_pairs,
           n_blocks_compared, n_blocks_skipped
    FROM pairs CROSS JOIN bstat
    GROUP BY 1, 3, 4
    """,
)
def matching_edit_distance_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocked edit-distance PROFILE — the threshold-calibration pass a
    record-linkage pipeline runs before committing to a fuzzy-match
    cutoff (Fellegi-Sunter upstream: 'at distance ≤ k, how many
    candidate pairs would I accept?'): block part names on (first
    token, exact length) — the classic cheap blocking key; equal
    length means the distance is pure substitutions — compute
    levenshtein inside blocks of ≤ _EDP_BLOCK_CAP rows only, and emit
    the distance HISTOGRAM (capped at 5+, ≤6 rows) plus the
    compared/skipped block counts — never the pair list (probed: d≤2
    alone matches 3.1M pairs at sf0.1; the profile is the decision
    artifact). Sibling disambiguation: `fuzzy_match_blocked` is the
    MATCHER — it commits to d ≤ 2 and emits the pair list; this op is
    the calibration pass run BEFORE that commitment (full distance
    distribution + block-size safety audit the matcher lacks).

    The block CAP is the scale contract (the dedup_minhash_lsh_capped
    precedent): in-block comparisons are inherently C(n_b, 2), so an
    oversized block (a too-coarse key) must be DETECTED and skipped,
    not ground through — the n_blocks_skipped column is the signal to
    refine the key. Probed engagement: 0 skipped at either driver
    SF (max block 106 at sf0.01, 977 at sf0.1 — both profiles real),
    while the 10× replication (names unchanged ⇒ blocks ~9770) is
    EXACTLY the pathological case it guards: every block skipped,
    n_blocks_skipped says so, and uncapped the first ladder attempt
    ran 100× the pairs and timed out.

    Engine-parity note (probed, pinned in FIXTURES.md r12): Spark's
    levenshtein counts CHARACTERS, DuckDB's counts BYTES — they
    diverge on any non-ASCII input ('héllo'→'hello' = 1 vs 2). The
    part-name fixture is ASCII by construction; the byte-normalized
    twin for non-ASCII corpora exists as working code in the r13
    `strdist` fuzz family (tools/fuzz_differential._strdist_remap_sql
    — single-byte remap of the multibyte alphabet before DuckDB's
    levenshtein; 80 seeds green over é/ü/日-bearing strings).

    Scale shape: one shuffle on the blocking key; pair volume bounded
    by n_blocks × C(cap, 2) regardless of corpus size; output is the
    fixed ≤6-row histogram."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ").getItem(0).alias("blk_w"),
        F.length("p_name").alias("blk_l"),
    )
    from presto_truffle_spark.cache import scoped_persist

    p = scoped_persist(spark, "match.edp.p", p)
    blocks = p.groupBy("blk_w", "blk_l").agg(
        F.count(F.lit(1)).cast("long").alias("n_b")
    )
    blocks = scoped_persist(spark, "match.edp.blocks", blocks)
    bstat = blocks.agg(
        F.count(F.when(F.col("n_b") <= _EDP_BLOCK_CAP, 1))
        .cast("long")
        .alias("n_blocks_compared"),
        F.count(F.when(F.col("n_b") > _EDP_BLOCK_CAP, 1))
        .cast("long")
        .alias("n_blocks_skipped"),
    )
    kept = p.join(
        F.broadcast(blocks.filter(F.col("n_b") <= _EDP_BLOCK_CAP)),
        ["blk_w", "blk_l"],
    )
    a = kept.select(
        "blk_w",
        "blk_l",
        F.col("p_partkey").alias("ka"),
        F.col("p_name").alias("na"),
    )
    b = kept.select(
        "blk_w",
        "blk_l",
        F.col("p_partkey").alias("kb"),
        F.col("p_name").alias("nb"),
    )
    pairs = a.join(b, ["blk_w", "blk_l"]).filter(F.col("ka") < F.col("kb"))
    d = F.levenshtein(F.col("na"), F.col("nb")).cast("long")
    return (
        pairs.select(F.least(d, F.lit(5)).alias("edit_distance"))
        .groupBy("edit_distance")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .crossJoin(F.broadcast(bstat))
    )


# Byte-normalizing remap for the DuckDB oracle twin (the r13 `strdist`
# fuzz family's _strdist_remap_sql, lifted into a registered op per
# VERDICT r13 #4): each multibyte char maps to a distinct single-byte
# placeholder OUTSIDE the part-name alphabet ([a-z ] by construction,
# audited below), so DuckDB's BYTE-based levenshtein on the remapped
# twin equals the character distance exactly.
_MB_REMAP = [("é", "1"), ("ü", "2"), ("日", "3")]


def _mb_remap_sql(col: str) -> str:
    out = col
    for src, dst in _MB_REMAP:
        out = f"replace({out}, '{src}', '{dst}')"
    return out


_MB_BUILD_SQL = (
    "replace(replace(replace({c}, 'a', 'é'), 'o', 'ü'), 'e', '日')"
)


@query(
    "matching_multibyte_edit_distance",
    oracle=f"""
    WITH p AS (
        SELECT p_partkey,
               {_MB_BUILD_SQL.format(c="p_name")} AS mb
        FROM part
    ), pairs AS (
        SELECT CAST(levenshtein({_mb_remap_sql("a.mb")},
                                {_mb_remap_sql("b.mb")}) AS BIGINT) AS d,
               CAST(strlen(a.mb) - length(a.mb)
                    + strlen(b.mb) - length(b.mb) AS BIGINT) AS xb
        FROM p a JOIN p b ON b.p_partkey = a.p_partkey + 1
    )
    SELECT least(d, 10) AS edit_distance,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(xb) AS BIGINT) AS extra_mb_bytes
    FROM pairs
    GROUP BY 1
    """,
)
def matching_multibyte_edit_distance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTIBYTE edit-distance histogram — the registered end-to-end
    exercise of the Spark-chars/DuckDB-bytes levenshtein fork (VERDICT
    r13 #4; probed r12: Spark lev('héllo','hello') = 1 chars, DuckDB
    = 2 bytes). The driver fixture is ASCII by construction, so the op
    CONSTRUCTS a non-ASCII corpus deterministically in-query: an
    injective char→char remap (a→é, o→ü, e→日 — one 2-byte and one
    3-byte char) applied to part names on BOTH engines, then the
    character edit distance over consecutive-key pairs. Unit-cost
    Levenshtein is invariant under injective per-char remaps, so
    Spark's CHARACTER distance on the multibyte strings equals the
    ASCII distance — while a byte-based computation would inflate it
    (each é↔a substitution costs 2 byte-edits). The DuckDB oracle
    therefore computes on the byte-NORMALIZED twin: each multibyte
    char remapped to a distinct single-byte placeholder outside the
    name alphabet (the r13 `strdist` fuzz family's recipe, 80 seeds
    green), making byte distance ≡ char distance. `extra_mb_bytes`
    (Σ octet_length − char_length over each pair) proves the inputs
    really are multibyte — it is positive for every histogram row and
    byte-exact on both engines (DuckDB strlen/length are byte/char
    respectively; Spark octet_length/length likewise).

    Pairing is consecutive-partkey (b = a+1): one equi-join, linear in
    the corpus — no blocking needed because pair volume is n−1 by
    construction (the blocked profile sibling handles the C(n,2)
    shape; this op's job is the ENCODING fork, not blocking).

    Scale shape: one key-shifted equi-join (AQE-broadcastable at small
    SF, shuffle-on-key at scale), then a ≤11-row histogram fold.
    100 TB-safe: everything is per-pair local after the join."""
    mb = F.replace(
        F.replace(
            F.replace(F.col("p_name"), F.lit("a"), F.lit("é")),
            F.lit("o"),
            F.lit("ü"),
        ),
        F.lit("e"),
        F.lit("日"),
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", mb.alias("mb")
    )
    a = p.select(F.col("p_partkey").alias("ka"), F.col("mb").alias("ma"))
    b = p.select(F.col("p_partkey").alias("kb"), F.col("mb").alias("mb_"))
    pairs = a.join(b, F.col("kb") == F.col("ka") + 1)
    d = F.levenshtein(F.col("ma"), F.col("mb_")).cast("long")
    xb = (
        F.octet_length("ma")
        - F.length("ma")
        + F.octet_length("mb_")
        - F.length("mb_")
    ).cast("long")
    return (
        pairs.select(
            F.least(d, F.lit(10)).alias("edit_distance"), xb.alias("xb")
        )
        .groupBy("edit_distance")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("xb").cast("long").alias("extra_mb_bytes"),
        )
    )
