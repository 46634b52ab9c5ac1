"""Core relational operators: scan, project, filter, sort, top-k, limit.

SURVEY §2.2 Q1-Q6 — the engine-native stand-in for the ad-hoc query role
the reference delegates to Athena/Redshift (reference ``README.md:21``).

Scale notes baked into each plan:
- Projections/filters are expressed declaratively so Catalyst pushes them
  into the parquet scan (check ``PushedFilters``/``ReadSchema`` in
  ``.explain``) — at 100 TB this is the difference between reading 2
  columns and reading 11.
- Top-k never global-sorts: ``orderBy().limit(k)`` compiles to
  ``TakeOrderedAndProject`` (per-partition heap + driver merge of k·parts
  rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.numeric import dround
from ..registry import register
from ..tables import table
from .sinks import _scratch_dir


@register(
    "q01_scan_explicit_schema",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    tags=("relational", "Q1"),
)
def q01_scan_explicit_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: parquet scan with explicit column contract (reference R1/R3).

    The reference pins an 11-field projection at the source
    (``etls/reddit_etl.py:22,55``); here the scan itself carries the
    schema and the select prunes to it.
    """
    return table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "q01_csv_scan",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    tags=("relational", "Q1", "csv"),
)
def q01_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (CSV form): header-CSV sink → explicit-schema CSV scan (R10).

    The reference's wire format is header CSV (``etls/reddit_etl.py:
    109-117``); this round-trips a table through it with an EXPLICIT
    StructType on the read — never ``inferSchema``, which costs an extra
    full pass over 100 TB and can silently mis-type columns. Values are
    oracle-checked against the parquet original, so the CSV
    serialization itself is under the gate.
    """
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    src = table(spark, sf_dir, "nation")
    path = _scratch_dir("csv_scan")
    src.write.mode("overwrite").option("header", True).csv(path)
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType(), True),
            StructField("n_name", StringType(), True),
            StructField("n_regionkey", IntegerType(), True),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .csv(path)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@register(
    "q01_json_scan",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
    tags=("relational", "Q1", "json"),
)
def q01_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (JSON form): JSON-lines sink → explicit-schema JSON scan.

    The third lake wire format after parquet and header CSV: newline-
    delimited JSON, written and re-read with an EXPLICIT StructType —
    ``inferSchema`` on JSON costs a full extra pass at 100 TB and can
    demote longs to doubles on mixed shards. Doubles survive the text
    round trip bit-exactly (Spark writes shortest-round-trip decimal),
    which the oracle hash against the parquet original proves.
    """
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src = table(spark, sf_dir, "customer")
    path = _scratch_dir("json_scan")
    src.write.mode("overwrite").json(path)
    schema = StructType(
        [
            StructField("c_custkey", LongType(), True),
            StructField("c_name", StringType(), True),
            StructField("c_nationkey", IntegerType(), True),
            StructField("c_acctbal", DoubleType(), True),
            StructField("c_mktsegment", StringType(), True),
        ]
    )
    return (
        spark.read.schema(schema)
        .json(path)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    )


@register(
    "q01_orc_scan",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
    tags=("relational", "Q1", "orc"),
)
def q01_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (ORC form): ORC sink → ORC scan, the second columnar lake format.

    ORC carries its own typed schema (no inference pass needed, unlike
    the text formats) and the same pushdown surface as parquet —
    Catalyst pushes filters and prunes columns into the ORC reader too,
    so a 100 TB lake standardized on ORC loses nothing against the
    parquet plans pinned in ``tests/test_plans.py``. Values are
    oracle-checked against the parquet original, putting the ORC
    round-trip itself (including double bit-exactness) under the gate.
    """
    src = table(spark, sf_dir, "supplier")
    path = _scratch_dir("orc_scan")
    src.write.mode("overwrite").orc(path)
    return spark.read.orc(path).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


@register(
    "q01_xml_scan",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
    FROM part
    """,
    tags=("relational", "Q1", "xml"),
)
def q01_xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (XML form): rowTag XML sink → explicit-schema XML scan.

    Spark 4's built-in XML source (no external package) — the
    interchange format feeds/exports still arrive in. Read with an
    EXPLICIT StructType like the other text formats: schema inference
    on XML is an extra full pass at scale. The oracle hash against the
    parquet original proves the angle-bracket round trip preserves
    longs, ints, and doubles exactly.
    """
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src = table(spark, sf_dir, "part")
    path = _scratch_dir("xml_scan")
    (
        src.write.mode("overwrite")
        .option("rowTag", "part")
        .format("xml")
        .save(path)
    )
    schema = StructType(
        [
            StructField("p_partkey", LongType(), True),
            StructField("p_name", StringType(), True),
            StructField("p_brand", StringType(), True),
            StructField("p_type", StringType(), True),
            StructField("p_size", IntegerType(), True),
            StructField("p_retailprice", DoubleType(), True),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("rowTag", "part")
        .format("xml")
        .load(path)
        .select(
            "p_partkey", "p_name", "p_brand", "p_type", "p_size",
            "p_retailprice",
        )
    )


@register(
    "q02_projection_pruning",
    oracle="""
    SELECT
        l_orderkey,
        l_linenumber,
        round(l_extendedprice * (1 - l_discount) * 100.0) / 100.0 AS net_price,
        round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100.0) / 100.0 AS charged
    FROM lineitem
    """,
    tags=("relational", "Q2"),
)
def q02_projection_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: computed projection over a pruned scan (reference R3).

    Reads 5 of 11 lineitem columns — ``ReadSchema`` in the physical plan
    must show only those five; at 100 TB the other six are never
    deserialized.
    """
    li = table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        dround(net).alias("net_price"),
        dround(net * (1 + F.col("l_tax"))).alias("charged"),
    )


@register(
    "q03_filter_predicates",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
      AND o_totalprice >= 1000.0
      AND o_totalprice < 50000.0
      AND o_orderpriority LIKE '%URGENT%'
      AND o_custkey IS NOT NULL
    """,
    tags=("relational", "Q3"),
)
def q03_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: predicate battery — =, IN, range, LIKE, IS NULL.

    All five predicates are Catalyst-pushable; the parquet scan shows them
    under ``PushedFilters`` so row groups outside the ranges are skipped
    via min/max statistics (partition-pruning analog of the reference's
    server-side ``time_filter``, ``etls/reddit_etl.py:43,49``).
    """
    o = table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "O")
        & (F.col("o_totalprice") >= 1000.0)
        & (F.col("o_totalprice") < 50000.0)
        & F.col("o_orderpriority").like("%URGENT%")
        & F.col("o_custkey").isNotNull()
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


@register(
    "q04_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
    tags=("relational", "Q4"),
)
def q04_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: global top-k — the reference's flagship pattern (R2).

    Compiles to TakeOrderedAndProject: no shuffle of the full table, each
    task keeps a k-element heap. Deterministic under ties via the
    orderkey tie-break.
    """
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "q05_multikey_sort",
    oracle="""
    SELECT
        c_custkey,
        c_mktsegment,
        nullif(c_acctbal, 0.0) AS acctbal_nullable,
        c_name
    FROM customer
    ORDER BY c_mktsegment ASC,
             nullif(c_acctbal, 0.0) DESC NULLS LAST,
             c_custkey ASC
    LIMIT 500
    """,
    tags=("relational", "Q5"),
)
def q05_multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: multi-key sort, mixed direction, explicit null placement.

    The nullable key is synthesized with ``nullif`` so NULLS LAST is
    actually exercised. Limit keeps it a TakeOrderedAndProject rather
    than a full range-partitioned sort.
    """
    c = table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            F.nullif(F.col("c_acctbal"), F.lit(0.0)).alias("acctbal_nullable"),
            "c_name",
        )
        .orderBy(
            F.col("c_mktsegment").asc(),
            F.col("acctbal_nullable").desc_nulls_last(),
            F.col("c_custkey").asc(),
        )
        .limit(500)
    )


@register(
    "q06_limit_offset",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_retailprice
    FROM part
    ORDER BY p_partkey
    LIMIT 50 OFFSET 25
    """,
    tags=("relational", "Q6"),
)
def q06_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: deterministic pagination — order by key, offset, limit.

    Offset is only well-defined over a total order; the unique key makes
    the page stable across engines and partitionings.
    """
    return (
        table(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .orderBy("p_partkey")
        .offset(25)
        .limit(50)
    )
