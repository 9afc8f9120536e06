"""Sources & sinks beyond the parquet scan: CSV, JSON, partitioned and
bucketed parquet writes, and the in-memory range source.

The reference's only source is an in-memory generator (O8,
``TpchDataGenerator.java:19-27``) and its only sink is stdout (O9). This
module covers the SURVEY.md §2.2 scans/sources/sinks rows. Round-trip
queries write to the repo's gitignored scratch dir and read back, so the
oracle checks the FULL write→read cycle, not just the read.

Scale posture: every write is partitioned (``partitionBy`` for pruning,
``bucketBy`` for shuffle-free joins); CSV/JSON readers always get explicit
schemas — runtime inference is a full extra pass over 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_truffle_spark.catalog import load_table
from presto_truffle_spark.registry import query

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".tmp")


def _scratch(name: str) -> str:
    os.makedirs(_SCRATCH, exist_ok=True)
    return os.path.join(_SCRATCH, name)


_SWEEP_AGE_S = 2 * 3600


def _scoped_scratch(spark, name: str) -> str:
    """applicationId-suffixed scratch dir under ``_SCRATCH``, the one
    ``.tmp`` root, used by every write→read query: two concurrent
    sessions — e.g. the driver's correctness run and a selfcheck — get
    disjoint paths, so one can't read the other's half-written parquet. Dead sessions' dirs for the same op are swept
    on entry so .tmp stays bounded — but only once OLDER than
    _SWEEP_AGE_S: an app-id mismatch alone doesn't mean the other
    session is dead, and an unconditional sweep deletes a LIVE
    concurrent session's files mid-query (caught by driver_env_sim r9:
    a background audit swept the vanilla phase's binary_docs between
    its write and its read)."""
    import shutil
    import time

    app_id = spark.sparkContext.applicationId
    os.makedirs(_SCRATCH, exist_ok=True)
    now = time.time()
    for entry in os.listdir(_SCRATCH):
        if entry.startswith(name + "_app-") and not entry.endswith(app_id):
            p = os.path.join(_SCRATCH, entry)
            try:
                stale = now - os.path.getmtime(p) > _SWEEP_AGE_S
            except OSError:
                continue
            if stale:
                shutil.rmtree(p, ignore_errors=True)
    return os.path.join(_SCRATCH, f"{name}_app-{app_id}")


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV (header) → read back with an EXPLICIT schema →
    aggregate. Proves the CSV source/sink preserves types well enough to
    reproduce the parquet-derived answer. Timestamps ride ISO-8601 strings."""
    o = load_table(spark, sf_dir, "orders")
    path = _scoped_scratch(spark, "orders_csv")
    o.write.mode("overwrite").option("header", True).csv(path)
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    back = spark.read.schema(schema).option("header", True).csv(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@query(
    "source_json_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → JSON lines → read back (explicit schema) → aggregate."""
    c = load_table(spark, sf_dir, "customer")
    path = _scoped_scratch(spark, "customer_json")
    c.write.mode("overwrite").json(path)
    schema = (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("c_acctbal"), 4).alias("avg_bal")
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           round(sum(l_extendedprice), 2) AS total_price,
           CAST(sum(l_quantity) AS BIGINT) AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → ORC → read back → aggregate. ORC is Spark's other native
    columnar format (vectorized reader, predicate pushdown, zlib/zstd) —
    the lossless sibling of the parquet path, so the roundtrip must
    reproduce the parquet-derived answer exactly, no explicit schema
    needed. At 100 TB this is the interchange path with Hive-era
    warehouses; per-file stripes give the same split-parallel scan as
    parquet row groups."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    path = _scoped_scratch(spark, "lineitem_orc")
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.sum("l_quantity").cast("bigint").alias("total_qty"),
    )


@query(
    "sink_partitioned_parquet",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE year(o_orderdate) >= 1997
    GROUP BY 1
    """,
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → parquet partitioned by year → read back with a partition
    filter. The read's WHERE on the partition column prunes directories
    before any file I/O (partition pruning) — THE layout decision that
    makes 100 TB time-range queries cheap. `.explain` shows the pruned
    `PartitionFilters`."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = _scoped_scratch(spark, "orders_by_year")
    o.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_year") >= 1997)
    return back.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "sink_bucketed_join",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed tables: lineitem and orders both written bucketed on
    orderkey (8 buckets), then joined. Because bucket layouts match, the
    join is exchange-free on both sides — at 100 TB, bucketing standing
    fact tables on their join key removes the single largest shuffle a
    star-schema pipeline pays, at the cost of one write-time shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # External tables with explicit paths: bucketing metadata lives in the
    # session catalog; data lands in the scratch dir (warehouse.dir is a
    # static conf we cannot set on the driver's session).
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", _scoped_scratch(spark, "li_bucketed"))
        .saveAsTable("li_bucketed")
    )
    (
        o.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", _scoped_scratch(spark, "o_bucketed"))
        .saveAsTable("o_bucketed")
    )
    lib = spark.table("li_bucketed")
    ob = spark.table("o_bucketed")
    return (
        lib.join(ob, lib.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


@query(
    "source_range_generator",
    oracle="""
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(sum(i) AS BIGINT) AS total
    FROM (SELECT unnest(generate_series(0, 99999)) AS i)
    GROUP BY 1
    """,
)
def source_range_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory generated source (``spark.range`` ≡ the reference's O8
    generator as a source primitive): rows are synthesized per-partition on
    executors — no input I/O at any scale."""
    return (
        spark.range(0, 100000)
        .select((F.col("id") % 10).alias("bucket"), F.col("id").alias("i"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("i").alias("total"))
    )


@query(
    "sink_compaction",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS total
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: write lineitem fragmented (64 files), compact
    with a single repartition to 4 files, read back and verify the data
    survived byte-exact (the oracle is the aggregate over the original).

    The small-files problem is THE silent 100 TB operations tax — a
    streaming ingest leaving 10k×1MB files per partition makes every scan
    pay 10k opens + footer reads; periodic repartition(N)-rewrite is the
    fix (table formats automate exactly this loop). A pytest asserts the
    file-count drop; here the query asserts zero data change."""
    li = load_table(spark, sf_dir, "lineitem")
    frag = _scoped_scratch(spark, "li_fragmented")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    compacted = _scoped_scratch(spark, "li_compacted")
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compacted)
    back = spark.read.parquet(compacted)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("total"),
    )


@query(
    "source_binary_files",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    WHERE doc_id < 64
    """,
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-object ingestion via the ``binaryFile`` source — the entry point
    of every multimodal pipeline: a directory of opaque blobs (images,
    audio, here doc texts written as one file each) becomes a DataFrame of
    (path, length, content) without any parser in the loop. Downstream is
    the multimodal.py pattern: extract typed metadata early, never shuffle
    payloads.

    The fixture blobs are written executor-side (foreachPartition — on a
    cluster each task writes its partition's objects to shared storage;
    no driver collect), then read back and reduced to (doc_id parsed from
    the path, byte length, md5) — which the oracle recomputes from the
    source table, checking the write→read cycle byte-for-byte. 64 docs
    keep the fixture light; the plan shape (one file = one row, metadata
    only) is what matters. At scale, ``pathGlobFilter``/
    ``recursiveFileLookup`` prune the listing, and
    ``spark.sql.files.maxPartitionBytes`` bounds per-task payload memory
    exactly as in the multimodal ops."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    path = _scoped_scratch(spark, "binary_docs")
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    def write_part(rows):
        # nested fn: pickles by value (driver cwd independence, FIXTURES.md)
        for r in rows:
            with open(os.path.join(path, f"{r.doc_id}.txt"), "wb") as f:
                f.write(r.text.encode("utf-8"))

    d.select("doc_id", "text").foreachPartition(write_part)
    back = spark.read.format("binaryFile").load(f"{path}/*.txt")
    return back.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


_PYDS_PARTS = 8
_PYDS_ROWS = 2000


@query(
    "source_python_datasource",
    oracle=f"""
    WITH g AS (
        SELECT unnest(generate_series(0, {_PYDS_PARTS * _PYDS_ROWS} - 1)) AS id
    )
    SELECT CAST(id % 7 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(id % 50 + 1) AS BIGINT) AS total_qty,
           CAST(sum((id * 97) % 1000000) AS BIGINT) AS total_cents
    FROM g GROUP BY 1
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON data source (Spark 4 DataSource API): a partitioned
    deterministic row generator registered as a first-class ``format()`` —
    the idiomatic Spark-4 rendition of the reference's in-memory TPC-H
    generator (O8, TpchDataGenerator.java:19-27): schema declared up
    front, one InputPartition per split so the scan parallelizes like any
    file source, rows yielded lazily per partition (never materialized on
    the driver). This is the extension point for feeds Spark has no
    connector for — internal services, bespoke formats — and the same API
    scales by adding partitions. Arithmetic rows (qty = id%50+1, cents =
    id·97 mod 1e6) keep the oracle a pure generate_series rebuild.

    Classes are nested so cloudpickle ships them by VALUE — executors
    must not need this repo importable (same rule as the UDF specimens,
    FIXTURES.md)."""
    del sf_dir  # synthetic source; signature kept uniform
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class GenReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(_PYDS_PARTS)]

        def read(self, part):
            # Arrow RecordBatch yield (optimization guide §4): one
            # columnar batch per partition instead of _PYDS_ROWS pickled
            # tuples through the Python↔JVM boundary — same rows, same
            # int64 values, ~10× faster boundary (r17; warm aggregate
            # 1.2 s → 0.11 s). The tuple-yield form this replaces is
            # what the API also accepts for row-at-a-time sources.
            import pyarrow as pa

            base = part.value * _PYDS_ROWS
            ids = list(range(base, base + _PYDS_ROWS))
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    pa.array([i % 50 + 1 for i in ids], pa.int64()),
                    pa.array([(i * 97) % 1000000 for i in ids], pa.int64()),
                ],
                names=["id", "qty", "cents"],
            )

    class GenSource(DataSource):
        @classmethod
        def name(cls):
            return "tpch_pygen"

        def schema(self):
            return "id bigint, qty bigint, cents bigint"

        def reader(self, schema):
            return GenReader()

    spark.dataSource.register(GenSource)
    df = spark.read.format("tpch_pygen").load()
    return df.groupBy((F.col("id") % 7).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qty").alias("total_qty"),
        F.sum("cents").alias("total_cents"),
    )


@query(
    "source_xml_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS bal_cents
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → XML files (built-in xml format, Spark 4) → read back
    with an EXPLICIT schema → aggregate. Completes the text-format source
    matrix (csv/json/xml) — XML is the interchange format the enterprise
    side of a migration still ships. Explicit schema as everywhere:
    inference is an extra full pass at scale; balances aggregate as
    integer cents for cross-engine exactness."""
    c = load_table(spark, sf_dir, "customer")
    path = _scoped_scratch(spark, "customer_xml")
    c.write.mode("overwrite").option("rowTag", "cust").format("xml").save(path)
    schema = (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )
    back = (
        spark.read.option("rowTag", "cust").schema(schema).format("xml").load(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")).alias(
            "bal_cents"
        ),
    )


@query(
    "source_csv_quoting_edge",
    oracle="""
    WITH v AS (
        SELECT doc_id, doc_id % 5 AS grp,
               'v,' || substr(text, 1, 8) || '"x""y"' || chr(10) || 'tail'
                   AS s,
               CASE WHEN doc_id % 7 = 0 THEN '' ELSE 'nz' END AS e,
               CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 'val' END AS m
        FROM documents
    )
    SELECT grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(length(s)) AS BIGINT) AS s_len,
           CAST(sum(CASE WHEN e = '' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_empty,
           CAST(sum(CASE WHEN m IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
           min(s) AS min_s
    FROM v GROUP BY grp
    """,
)
def source_csv_quoting_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV quoting round-trip under ADVERSARIAL values — embedded field
    delimiters, embedded double quotes, embedded NEWLINES, and the
    empty-string-vs-NULL distinction (the four things that actually
    break CSV pipelines; the plain roundtrip above never exercises
    them). Values are derived deterministically from documents, written
    through Spark's CSV sink and read back with an explicit schema +
    ``multiLine`` (required: a quoted embedded newline spans physical
    lines) + an explicit ``nullValue`` ('\\N') plus
    ``emptyValue`` = '""' ON WRITE — serializing '' as a QUOTED empty
    field is the only spelling Spark reads back as '' rather than NULL
    (probed: an unquoted empty field is NULL on read regardless of read
    options — the classic silent corruption).
    The oracle recomputes the aggregate straight from parquet, so any
    mangling in quote escaping, newline handling, or empty/NULL
    round-tripping breaks counts, lengths, or the min string."""
    d = load_table(spark, sf_dir, "documents")
    v = d.select(
        "doc_id",
        (F.col("doc_id") % 5).alias("grp"),
        F.concat(
            F.lit("v,"),
            F.substring("text", 1, 8),
            F.lit('"x""y"'),
            F.lit("\n"),
            F.lit("tail"),
        ).alias("s"),
        F.when(F.col("doc_id") % 7 == 0, "").otherwise("nz").alias("e"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(None).cast("string"))
        .otherwise("val")
        .alias("m"),
    )
    path = _scoped_scratch(spark, "csv_quoting_edge")
    (
        v.write.mode("overwrite")
        .option("header", True)
        .option("nullValue", "\\N")
        .option("emptyValue", '""')
        .csv(path)
    )
    back = (
        spark.read.schema("doc_id bigint, grp bigint, s string, e string, m string")
        .option("header", True)
        .option("multiLine", True)
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .csv(path)
    )
    return back.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("s")).cast("long").alias("s_len"),
        F.sum(F.when(F.col("e") == "", 1).otherwise(0)).cast("long").alias(
            "n_empty"
        ),
        F.sum(F.when(F.col("m").isNull(), 1).otherwise(0)).cast("long").alias(
            "n_null"
        ),
        F.min("s").alias("min_s"),
    )


@query(
    "source_parquet_footer_audit",
    oracle="""
    SELECT 'l_linenumber' AS column_name,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(count(*) - count(l_linenumber) AS BIGINT) AS null_count,
           CAST(min(l_linenumber) AS BIGINT) AS stat_min,
           CAST(max(l_linenumber) AS BIGINT) AS stat_max
    FROM lineitem
    UNION ALL
    SELECT 'l_orderkey', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_orderkey) AS BIGINT),
           CAST(min(l_orderkey) AS BIGINT), CAST(max(l_orderkey) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_partkey', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_partkey) AS BIGINT),
           CAST(min(l_partkey) AS BIGINT), CAST(max(l_partkey) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_suppkey', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_suppkey) AS BIGINT),
           CAST(min(l_suppkey) AS BIGINT), CAST(max(l_suppkey) AS BIGINT)
    FROM lineitem
    """,
)
def source_parquet_footer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER statistics audit: write the fact table with Spark,
    read back ONLY the file footers (pyarrow metadata — column chunk
    num_values / null_count / min / max aggregated across files and row
    groups), and let the oracle recompute the same numbers from the DATA.
    Equality is precisely the property every min/max-pruning scan
    (Spark's PushedFilters row-group skip, Z-order clustering,
    compaction planners) silently relies on: if footers lie, pruning
    drops live rows — this query is the trust-but-verify for O1/O7-style
    statistics-driven scans (reference: columnar scan + typed readers,
    ``TpchQuery6.java:19-33``).

    Footer reads are DRIVER-side pyarrow by design, not a Spark job:
    metadata is O(KB) per file regardless of data scale, and reading
    footers without touching row data is the entire point (a compaction
    planner at 100 TB lists footers for thousands of files; the
    per-file loop distributes trivially via a binaryFiles->mapPartitions
    pass when the file count outgrows the driver, with this exact
    aggregation as the reduce).

    Restricted to the four integer columns so stat min/max compare as
    exact BIGINTs (double/timestamp footer stats add representation
    forks without adding coverage)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    li = load_table(spark, sf_dir, "lineitem")
    path = _scoped_scratch(spark, "li_footer_audit")
    li.repartition(4).write.mode("overwrite").parquet(path)
    cols = ["l_linenumber", "l_orderkey", "l_partkey", "l_suppkey"]
    acc = {c: [0, 0, None, None] for c in cols}  # n, nulls, min, max
    for f in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
        md = _pq.ParquetFile(f).metadata
        name_to_idx = {
            md.schema.column(i).path: i for i in range(md.num_columns)
        }
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            for c in cols:
                col = group.column(name_to_idx[c])
                a = acc[c]
                # Thrift ColumnMetaData.num_values INCLUDES nulls
                # (probed: 5 rows with 2 nulls -> num_values 5)
                a[0] += col.num_values
                if col.statistics is None:
                    continue
                st = col.statistics
                a[1] += st.null_count
                if st.has_min_max:
                    a[2] = st.min if a[2] is None else min(a[2], st.min)
                    a[3] = st.max if a[3] is None else max(a[3], st.max)
    rows = [
        (c, acc[c][0], acc[c][1], acc[c][2], acc[c][3]) for c in sorted(cols)
    ]
    return spark.createDataFrame(
        rows,
        "column_name string, n_values long, null_count long, "
        "stat_min long, stat_max long",
    )


@query(
    "source_python_datasource_sink",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def source_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source WRITER (Spark 4 DataSource API) — the
    sink half of `source_python_datasource` / the r10 streaming reader:
    a first-class ``df.write.format(...)`` target whose per-partition
    `write(iterator)` runs ON THE EXECUTORS (one JSONL file per task,
    named by TaskContext partition id), returns a WriterCommitMessage
    per task, and whose driver-side `commit(messages)` publishes a
    manifest only after every task reported in — the real two-phase
    commit protocol every production sink (and lakehouse WAP) builds
    on. Round-trip: documents (doc_id, lang, n_chars) → custom sink →
    read back with an EXPLICIT schema → aggregate by lang; the oracle
    aggregates the source table directly, so any row lost or
    duplicated by the sink's task/commit plumbing forks the hash.

    Local-mode note: executors share one filesystem, so plain paths
    work; on a cluster the same class writes to shared storage — the
    PROTOCOL (executor-side write, message, driver commit) is
    identical. Classes nested so cloudpickle ships them by value."""
    import json as _json

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class JsonlCommit(WriterCommitMessage):
        def __init__(self, path: str, rows: int):
            self.path = path
            self.rows = rows

    class JsonlWriter(DataSourceWriter):
        def __init__(self, path: str):
            self.path = path

        def write(self, iterator):
            import os as _os

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            _os.makedirs(self.path, exist_ok=True)
            out = f"{self.path}/part-{pid:05d}.jsonl"
            n = 0
            with open(out, "w") as fh:
                for row in iterator:
                    fh.write(
                        _json.dumps(
                            {
                                "doc_id": row[0],
                                "lang": row[1],
                                "n_chars": row[2],
                            }
                        )
                        + "\n"
                    )
                    n += 1
            return JsonlCommit(out, n)

        def commit(self, messages):
            import os as _os

            _os.makedirs(self.path, exist_ok=True)
            manifest = {
                "files": sorted(m.path for m in messages),
                "rows": sum(m.rows for m in messages),
            }
            with open(f"{self.path}/_MANIFEST.json", "w") as fh:
                fh.write(_json.dumps(manifest))

        def abort(self, messages):
            pass  # scratch dir is app-scoped; nothing durable to undo

    class JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "docs_jsonl_sink"

        def writer(self, schema, overwrite):
            return JsonlWriter(self.options["path"])

    spark.dataSource.register(JsonlSink)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    path = _scoped_scratch(spark, "pyds_sink")
    (
        d.repartition(4)
        .write.format("docs_jsonl_sink")
        .mode("append")
        .option("path", path)
        .save()
    )
    back = spark.read.schema(
        "doc_id bigint, lang string, n_chars bigint"
    ).json(f"{path}/part-*.jsonl")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "source_csv_permissive_corrupt",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN o_orderkey % 7 = 0 OR o_orderkey % 13 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0 OR o_orderkey % 13 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_parsed,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0 OR o_orderkey % 13 = 0
                         THEN o_orderkey ELSE 0 END) AS BIGINT)
               AS keys_sum,
           CAST(sum(CASE WHEN o_orderkey % 13 <> 0
                         THEN CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT) ELSE 0 END)
                AS BIGINT) AS price_cents_parsed
    FROM orders
    """,
)
def source_csv_permissive_corrupt(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CSV PERMISSIVE-mode corrupt-record handling — the CSV twin of
    `events_malformed_json_robust`: a deliberately dirty CSV (every
    7th key field non-numeric, every 13th line missing its price
    column) is read back with an explicit schema +
    columnNameOfCorruptRecord, and the audit reports exactly what a
    dirty-ingest pipeline needs: total lines, corrupt-marked lines,
    and the sums that survive. Semantics PROBED and leaned on: Spark's
    PERMISSIVE CSV keeps PARTIAL parses — a bad key field nulls only
    that field (the price still parses and is counted), a short line
    nulls the missing trailing field — while _corrupt captures the raw
    line for either anomaly; nothing is silently dropped (the
    DROPMALFORMED alternative loses the partial data AND the
    evidence). The oracle rebuilds every count from the clean source
    table and the same key rules — the driver therefore differentially
    verifies the reader's corrupt-marking against ground truth.
    Overlap rule (found live by this op's first selfcheck): keys
    divisible by BOTH 7 and 13 take the missing-price branch, so
    their key field parses — 'keys parsed' is %7≠0 OR %13=0, not
    simply %7≠0.

    Scale shape: text write + schema'd CSV scan, both
    partition-parallel; one global audit row. At 100 TB this is a
    plain distributed scan — the corrupt column is row-local."""
    o = load_table(spark, sf_dir, "orders")
    lines = o.select(
        F.when(
            F.col("o_orderkey") % 13 == 0,
            # missing price column entirely: the line is just the key
            F.col("o_orderkey").cast("string"),
        )
        .when(
            F.col("o_orderkey") % 7 == 0,
            F.concat(
                F.lit("bad"),
                F.col("o_orderkey").cast("string"),
                F.lit(","),
                F.col("o_totalprice").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(","),
                F.col("o_totalprice").cast("string"),
            )
        )
        .alias("value")
    )
    path = _scoped_scratch(spark, "orders_dirty_csv")
    lines.write.mode("overwrite").text(path)
    back = (
        spark.read.schema("k long, price double, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_keys_parsed"),
        F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("keys_sum"),
        F.coalesce(
            F.sum(F.floor(F.col("price") * 100 + F.lit(0.5))), F.lit(0)
        )
        .cast("long")
        .alias("price_cents_parsed"),
    )


@query(
    "source_csv_dropmalformed",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines_written,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0 AND o_orderkey % 13 <> 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN o_orderkey % 7 = 0 OR o_orderkey % 13 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0 AND o_orderkey % 13 <> 0
                         THEN o_orderkey ELSE 0 END) AS BIGINT)
               AS keys_sum_kept,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0 AND o_orderkey % 13 <> 0
                         THEN CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT) ELSE 0 END)
                AS BIGINT) AS price_cents_kept
    FROM orders
    """,
)
def source_csv_dropmalformed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CSV DROPMALFORMED-mode twin of `source_csv_permissive_corrupt`
    (VERDICT r13 #5) — SAME dirty fixture (every 7th key field
    non-numeric, every 13th line missing its price column), read back
    in DROPMALFORMED mode, differentially proving what the mode
    SILENTLY discards. Probed semantics this op pins: DROPMALFORMED
    drops the whole row on ANY anomaly — a short line, an unparseable
    key, or an unparseable value — so unlike PERMISSIVE (which keeps
    the partial parse: a %7 line's price still counts), the %7 lines'
    valid prices are LOST here. The oracle recomputes the kept set
    from the clean source (%7≠0 AND %13≠0) — n_dropped is the
    evidence PERMISSIVE keeps and this mode erases, which is why the
    PERMISSIVE sibling is the recommended ingest posture and this op
    is the measured warning label.

    Scale shape: text write + schema'd CSV scan, both
    partition-parallel; one global audit row + one text-count scan.
    At 100 TB this is two distributed scans, no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    lines = o.select(
        F.when(
            F.col("o_orderkey") % 13 == 0,
            F.col("o_orderkey").cast("string"),
        )
        .when(
            F.col("o_orderkey") % 7 == 0,
            F.concat(
                F.lit("bad"),
                F.col("o_orderkey").cast("string"),
                F.lit(","),
                F.col("o_totalprice").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(","),
                F.col("o_totalprice").cast("string"),
            )
        )
        .alias("value")
    )
    path = _scoped_scratch(spark, "orders_dirty_csv_dm")
    lines.write.mode("overwrite").text(path)
    total = spark.read.text(path).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines_written")
    )
    back = (
        spark.read.schema("k long, price double")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    kept = back.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.coalesce(F.sum("k"), F.lit(0))
        .cast("long")
        .alias("keys_sum_kept"),
        F.coalesce(
            F.sum(F.floor(F.col("price") * 100 + F.lit(0.5))), F.lit(0)
        )
        .cast("long")
        .alias("price_cents_kept"),
    )
    return total.crossJoin(kept).select(
        "n_lines_written",
        "n_kept",
        (F.col("n_lines_written") - F.col("n_kept"))
        .cast("long")
        .alias("n_dropped"),
        "keys_sum_kept",
        "price_cents_kept",
    )
