"""Scan / projection / filter / predicate operators (SURVEY.md §2 Part B
"Sources / sinks" scans + "Projection / filter / predicates").

All predicates here are written so Catalyst pushes them into the parquet
scan (verify with ``df.explain`` -> ``PushedFilters``); projections prune
the read schema. Per-row double arithmetic (no reductions) is bit-identical
across engines, so computed columns can be emitted raw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from aind_data_transformation_spark.io.sources import load_table, read_csv, read_json
from aind_data_transformation_spark.ops import scratch_dir


def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain parquet scan with column projection — the read schema must
    prune to the 3 selected columns (ReadSchema in explain)."""
    return load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )


def q_scan_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON ingestion with explicit StructTypes: round-trip nation
    through CSV and region through JSON-lines, then join them back.

    Schema-on-read is explicit (never inferSchema — that is an extra full
    pass at 100 TB); the join broadcasts the 5-row region side.
    """
    scratch = scratch_dir(spark, "scan_csv_json")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nation.write.mode("overwrite").option("header", "true").csv(f"{scratch}/nation_csv")
    region.write.mode("overwrite").json(f"{scratch}/region_json")

    nation_schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    region_schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    nation_csv = read_csv(spark, f"{scratch}/nation_csv", nation_schema)
    region_json = read_json(spark, f"{scratch}/region_json", region_schema)
    return (
        nation_csv.join(
            F.broadcast(region_json),
            nation_csv.n_regionkey == region_json.r_regionkey,
            "inner",
        )
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


def q_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select + alias + row-level arithmetic + pushed-down filter."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_quantity") < 24).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "revenue"
        ),
        (F.col("l_quantity") * F.lit(1.0)).alias("qty"),
    )


def q_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR/NOT, isin, between, null-safe equality (<=>)."""
    o = load_table(spark, sf_dir, "orders")
    return o.where(
        (
            F.col("o_orderstatus").isin("F", "O")
            & F.col("o_totalprice").between(50000.0, 150000.0)
            & ~F.col("o_orderpriority").startswith("5")
        )
        | F.col("o_orderpriority").eqNullSafe(F.lit("1-URGENT"))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


def q_filter_like_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE and RLIKE predicates over part names/brands."""
    p = load_table(spark, sf_dir, "part")
    return p.where(
        F.col("p_name").like("%widget%")
        & F.col("p_brand").rlike("^Brand#1[0-9]$")
    ).select("p_partkey", "p_name", "p_brand", "p_type")


def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional projection + aggregation over the derived bucket."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") >= 200000.0, F.lit("high"))
        .when(F.col("o_totalprice") >= 100000.0, F.lit("mid"))
        .otherwise(F.lit("low"))
        .alias("price_bucket")
    )
    return (
        o.select(bucket, "o_orderkey")
        .groupBy("price_bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion via Spark 4's BUILT-IN xml data source (the
    spark-xml package merged into core): round-trip the nation table
    through an XML file with a ``rowTag``, read it back with an explicit
    schema, and aggregate per region — the instrument-metadata format
    conversion path (many acquisition systems emit XML manifests).

    Schema-on-read is explicit (inferSchema on XML is an extra full
    pass); the oracle recomputes from the parquet table, proving the
    XML round-trip is lossless."""
    scratch = scratch_dir(spark, "scan_xml")
    nation = load_table(spark, sf_dir, "nation")
    nation.write.mode("overwrite").format("xml").option(
        "rowTag", "nation"
    ).save(f"{scratch}/nation_xml")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(schema)
        .load(f"{scratch}/nation_xml")
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
    )


QUERIES = {
    "scan_xml": q_scan_xml,
    "scan_parquet": q_scan_parquet,
    "scan_csv_json": q_scan_csv_json,
    "project_filter": q_project_filter,
    "filter_compound": q_filter_compound,
    "filter_like_regex": q_filter_like_regex,
    "case_when": q_case_when,
}

ORACLES = {
    "scan_xml": """
        SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
               count(*) AS n_nations,
               min(n_name) AS first_nation
        FROM nation GROUP BY n_regionkey
    """,
    "scan_parquet": "SELECT s_suppkey, s_name, s_nationkey FROM supplier",
    "scan_csv_json": """
        SELECT r_name, COUNT(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "project_filter": """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1.0 - l_discount) AS revenue,
               l_quantity * 1.0 AS qty
        FROM lineitem WHERE l_quantity < 24
    """,
    "filter_compound": """
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders
        WHERE (o_orderstatus IN ('F','O')
               AND o_totalprice BETWEEN 50000.0 AND 150000.0
               AND NOT o_orderpriority LIKE '5%')
           OR o_orderpriority IS NOT DISTINCT FROM '1-URGENT'
    """,
    "filter_like_regex": """
        SELECT p_partkey, p_name, p_brand, p_type
        FROM part
        WHERE p_name LIKE '%widget%'
          AND regexp_matches(p_brand, '^Brand#1[0-9]$')
    """,
    "case_when": """
        SELECT CASE WHEN o_totalprice >= 200000.0 THEN 'high'
                    WHEN o_totalprice >= 100000.0 THEN 'mid'
                    ELSE 'low' END AS price_bucket,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY 1
    """,
}
