"""Aggregation operators (SURVEY.md §2 Part B "Aggregations").

All money aggregates use the integer-cents scheme from ``numeric.py`` so
values hash-match the DuckDB oracle exactly. Every groupBy here compiles to
Spark's partial (map-side) + final hash aggregate — one shuffle on the
grouping keys, no sort — which is the scalable plan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import dedup_keep_first
from aind_data_transformation_spark.queries.numeric import (
    cents,
    money_avg,
    money_sum,
    sql_cents,
    sql_money_avg,
    sql_money_sum,
)

_SHIP_CUTOFF = "1998-09-02"


def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the engine's flagship query.

    Scan lineitem -> pushed-down ship-date filter -> hash aggregate on
    (l_returnflag, l_linestatus). disc_price/charge are computed in scaled
    integer space (cents x 1e2 x 1e2) and divided back once at the end.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty, price = cents("l_quantity"), cents("l_extendedprice")
    disc, tax = cents("l_discount"), cents("l_tax")
    return (
        li.where(F.col("l_shipdate") <= F.lit(_SHIP_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty).cast("double") / F.lit(100.0)).alias("sum_qty"),
            (F.sum(price).cast("double") / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(price * (100 - disc)).cast("double") / F.lit(1.0e4)).alias(
                "sum_disc_price"
            ),
            (
                F.sum(price * (100 - disc) * (100 + tax)).cast("double")
                / F.lit(1.0e6)
            ).alias("sum_charge"),
            (F.sum(qty).cast("double") / F.lit(100.0) / F.count(F.col("l_quantity"))).alias(
                "avg_qty"
            ),
            (
                F.sum(price).cast("double")
                / F.lit(100.0)
                / F.count(F.col("l_extendedprice"))
            ).alias("avg_price"),
            (
                F.sum(disc).cast("double") / F.lit(100.0) / F.count(F.col("l_discount"))
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_QTY = sql_cents("l_quantity")
_PRICE = sql_cents("l_extendedprice")
_DISC = sql_cents("l_discount")
_TAX = sql_cents("l_tax")

_AGG_GROUP_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM({_QTY}) AS DOUBLE) / 100.0 AS sum_qty,
  CAST(SUM({_PRICE}) AS DOUBLE) / 100.0 AS sum_base_price,
  CAST(SUM({_PRICE} * (100 - {_DISC})) AS DOUBLE) / 1e4 AS sum_disc_price,
  CAST(SUM({_PRICE} * (100 - {_DISC}) * (100 + {_TAX})) AS DOUBLE) / 1e6 AS sum_charge,
  CAST(SUM({_QTY}) AS DOUBLE) / 100.0 / COUNT(l_quantity) AS avg_qty,
  CAST(SUM({_PRICE}) AS DOUBLE) / 100.0 / COUNT(l_extendedprice) AS avg_price,
  CAST(SUM({_DISC}) AS DOUBLE) / 100.0 / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_SHIP_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct)/sum(distinct) per group — Spark expands these into
    a two-phase aggregate (expand + partial/final), still one logical
    shuffle on the grouping key."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        (F.sum_distinct(cents("l_quantity")).cast("double") / F.lit(100.0)).alias(
            "sum_distinct_qty"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ count-distinct (rows-only check: sketch estimates are
    engine-specific by design; the scale win is no exact-distinct shuffle).
    The relative error vs exact is asserted in tests/test_approx.py."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache Datasketches HLL (Spark 3.5+): per-group ``hll_sketch_agg``
    binary sketches merged with ``hll_union_agg`` — the mergeable-sketch
    pattern that makes count-distinct re-aggregable across partitions,
    days, or pre-computed rollup tiles without ever re-touching raw rows
    (the property ``approx_count_distinct`` alone lacks: its estimate is
    final, sketches compose). Rows-only check — sketch internals are
    engine-specific; tests/test_approx.py asserts the estimates land
    within HLL's error envelope of the exact distinct counts."""
    li = load_table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey", F.lit(14)).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return per_flag.groupBy().agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
            "approx_parts_total"
        ),
        F.sum("n_rows").alias("n_rows"),
    )


def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via re-aggregable bitmaps (Spark 3.5+
    ``bitmap_*`` family): key -> (bucket, bit position), OR the per-bucket
    bitmaps with ``bitmap_construct_agg``, then sum popcounts. Unlike HLL
    this is exact, and unlike ``count_distinct`` the per-bucket bitmaps
    are mergeable state — the 100 TB pattern for incremental/rollup
    distinct counts (store bitmaps per partition-tile, OR them at query
    time). Two hash-agg shuffles, both with map-side partials; dense int
    keys make the bitmaps compact. Oracle: plain COUNT(DISTINCT)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_bucket = (
        li.select(
            "l_returnflag",
            F.bitmap_bucket_number("l_partkey").alias("bucket"),
            F.bitmap_bit_position("l_partkey").alias("pos"),
        )
        .groupBy("l_returnflag", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("bm")).alias("n_distinct_parts")
    )


def q_agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via CUBE (supersets ROLLUP); subtotal rows are
    labeled with coalesce so the driver hash is unambiguous about nulls."""
    li = load_table(spark, sf_dir, "lineitem")
    cube = li.cube("l_returnflag", "l_linestatus").agg(
        (F.sum(cents("l_quantity")).cast("double") / F.lit(100.0)).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return cube.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "sum_qty",
        "n_rows",
    )


def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load_table(spark, sf_dir, "orders")
    spend = (F.sum(cents("o_totalprice")).cast("double") / F.lit(100.0)).alias(
        "total_spend"
    )
    return (
        o.groupBy("o_custkey")
        .agg(spend, F.count(F.lit(1)).alias("n_orders"))
        .where((F.col("n_orders") >= 3) & (F.col("total_spend") > 300000.0))
    )


def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set per group, sorted for determinism and
    string-joined so the oracle hash is representation-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.col("l_linenumber").cast("string"))), ","
        ).alias("line_numbers"),
        F.array_join(F.sort_array(F.collect_set("l_returnflag")), ",").alias(
            "flags"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max/arg-min: the order with the highest/lowest price per
    customer. The ordering key is (cents*1e6 + orderkey) — unique, so
    ties cannot make the result nondeterministic across engines."""
    o = load_table(spark, sf_dir, "orders")
    okey = (cents("o_totalprice") * F.lit(1000000) + F.col("o_orderkey")).alias(
        "price_key"
    )
    return (
        o.select("o_custkey", "o_orderkey", okey)
        .groupBy("o_custkey")
        .agg(
            F.max_by("o_orderkey", F.col("price_key")).alias("best_order"),
            F.min_by("o_orderkey", F.col("price_key")).alias("worst_order"),
        )
    )


def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/p95 per group via distribution aggregation, the
    100-TB-scalable shape: groupBy (group, value) counts (massively
    parallel, map-side combinable), cumulative window over the per-group
    value distribution, then quantile_cont interpolation
    ``lo + frac * (hi - lo)`` on integer cents — bit-identical to DuckDB's
    quantile_cont. Unlike ``percentile()`` (which materializes a per-group
    value->count map in one aggregation buffer), state here is spread over
    the cluster and no single task ever holds a whole group."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag", cents("l_extendedprice").alias("v")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    dist = counts.select(
        "l_returnflag",
        "v",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )

    def quantile(p: float):
        # zero-indexed continuous rank: t = p*(n-1); interpolate between
        # the values holding ranks floor(t) and floor(t)+1
        t = F.lit(p) * (F.col("n") - 1).cast("double")
        lo_rank = F.floor(t)
        frac = t - lo_rank.cast("double")
        v_lo = F.min(F.when(F.col("cum") > lo_rank, F.col("v")))
        v_hi = F.min(F.when(F.col("cum") > lo_rank + 1, F.col("v")))
        # top rank: v_hi is null when lo_rank is the max index => frac==0
        return (
            v_lo.cast("double")
            + F.max(frac) * (F.coalesce(v_hi, v_lo).cast("double") - v_lo.cast("double"))
        ) / F.lit(100.0)

    return dist.groupBy("l_returnflag").agg(
        quantile(0.5).alias("median_price"),
        quantile(0.95).alias("p95_price"),
        F.max("n").alias("n_rows"),
    )


#: corr/covar built from exact int64 power sums so both engines feed the
#: identical doubles into the identical closed-form expressions — a bare
#: ``corr(double, double)`` would drift by partial-aggregation order.
_CORR_FORMULAS = """
    CAST(n AS DOUBLE) AS n_rows,
    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      AS corr_bal_key,
    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      / CAST(n AS DOUBLE) AS covar_pop_c,
    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      / CAST(n - 1 AS DOUBLE) AS covar_samp_c
"""


def q_agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + covariance (pop/samp) of account balance vs
    customer key per market segment. The five power sums are exact
    integer aggregates (associative, order-free); the closed-form
    combination is the verbatim same SQL text on both engines, so the
    doubles are bit-identical. This is also the scalable shape: one
    partial+final hash agg, no second pass for the means.

    int64 headroom: c_custkey is UNBOUNDED (∝ table size), so
    sum(y·y) ≈ n³/3 blows int64 past n ≈ 3e6 — each product operand is
    cast to decimal(19,0) so the products accumulate in decimal(38,0)
    (exact to 1e38; n ≈ 1e12 rows of worst-case 1e14 products fit), and
    sum(y) itself (≈ n²/2, int64-dead past n ≈ 4e9) accumulates in
    decimal too. Consumers read the sums through CAST(.. AS DOUBLE), so
    the widened accumulator changes no output bit (guarded
    registry-wide by tests/test_plan_audit.py's bigint-product-sum
    audit)."""
    c = load_table(spark, sf_dir, "customer")
    x = cents("c_acctbal")
    y = F.col("c_custkey")
    xd = x.cast("decimal(19,0)")
    yd = y.cast("decimal(19,0)")
    sums = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    return sums.selectExpr("c_mktsegment", *_CORR_FORMULAS.split(",\n"))


def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: most frequent order priority per
    order status, ties broken by the smaller priority string (a bare
    ``mode()`` breaks ties arbitrarily in both engines — unhashable)."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return dedup_keep_first(
        counts,
        ["o_orderstatus"],
        [F.col("cnt").desc(), F.col("o_orderpriority").asc()],
    ).select(
        "o_orderstatus",
        F.col("o_orderpriority").alias("mode_priority"),
        "cnt",
    )


def q_agg_countif_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-count and boolean aggregates per order status:
    count_if, bool_and, bool_or — all map-side-combinable."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 100000.0).alias("n_big_orders"),
        F.bool_and(F.col("o_totalprice") > 0.0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (lower): per return flag, the smallest price whose
    cumulative quantity-weight reaches half the group's total weight —
    the robust central-price statistic a revenue dashboard wants when
    line items carry different volumes. Same distribution-aggregation
    shape as agg_percentiles (per-(group, value) weight sums, cumulative
    window over the compressed distribution, threshold probe), all exact
    integers (cents × centi-quantity), so both engines agree bit-for-bit.

    Scale: the shuffled relation is the per-group *distinct value*
    distribution, far smaller than the raw rows; the cumulative window
    partitions per group over that compressed set."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag", cents("l_extendedprice").alias("v")
    ).agg(F.sum(cents("l_quantity")).alias("w"))
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    dist = counts.select(
        "l_returnflag",
        "v",
        F.sum("w").over(wcum).alias("cum"),
        F.sum("w").over(wall).alias("total_w"),
    )
    return dist.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("total_w"), F.col("v"))
        ).alias("wmedian_cents"),
        F.max("total_w").cast("long").alias("total_w"),
    )


def q_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``FILTER (WHERE ...)`` aggregate clause: per-status order
    counts and exact cent sums restricted to disjoint predicates in one
    pass — the standard one-scan-many-conditions rollup (each FILTER
    aggregate partial-combines map-side exactly like a CASE-guarded sum,
    but reads as the SQL standard intends)."""
    from aind_data_transformation_spark.io.sources import register_tables

    register_tables(spark, sf_dir, suffix="_afc", tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                   AS n_urgent,
               COUNT(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
                   AS urgent_cents
        FROM orders_afc
        GROUP BY o_orderstatus
        """
    )


QUERIES = {
    "agg_filter_clause": q_agg_filter_clause,
    "agg_countif_bool": q_agg_countif_bool,
    "agg_group": q_agg_group,
    "agg_distinct": q_agg_distinct,
    "agg_approx_distinct": q_agg_approx_distinct,
    "agg_hll_sketch": q_agg_hll_sketch,
    "agg_bitmap_distinct": q_agg_bitmap_distinct,
    "agg_rollup_cube": q_agg_rollup_cube,
    "agg_having": q_agg_having,
    "agg_collect": q_agg_collect,
    "agg_minmax_by": q_agg_minmax_by,
    "agg_percentiles": q_agg_percentiles,
    "agg_corr_covar": q_agg_corr_covar,
    "agg_mode": q_agg_mode,
    "agg_weighted_median": q_agg_weighted_median,
}

ORACLES = {
    "agg_filter_clause": """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                   AS n_urgent,
               COUNT(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
                   AS urgent_cents
        FROM orders
        GROUP BY o_orderstatus
    """,
    "agg_weighted_median": f"""
        WITH counts AS (
            SELECT l_returnflag,
                   {sql_cents('l_extendedprice')} AS v,
                   CAST(SUM({sql_cents('l_quantity')}) AS BIGINT) AS w
            FROM lineitem GROUP BY 1, 2
        ), dist AS (
            SELECT l_returnflag, v,
                   CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                   CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
                       AS total_w
            FROM counts
        )
        SELECT l_returnflag,
               MIN(CASE WHEN cum * 2 >= total_w THEN v END) AS wmedian_cents,
               CAST(MAX(total_w) AS BIGINT) AS total_w
        FROM dist GROUP BY l_returnflag
    """,
    "agg_countif_bool": """
        SELECT o_orderstatus,
               CAST(count_if(o_totalprice > 100000.0) AS BIGINT) AS n_big_orders,
               bool_and(o_totalprice > 0.0) AS all_positive,
               bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
    """,
    "agg_bitmap_distinct": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS n_distinct_parts
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_group": _AGG_GROUP_SQL,
    "agg_distinct": f"""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_suppkey) AS n_supps,
               CAST(SUM(DISTINCT {_QTY}) AS DOUBLE) / 100.0 AS sum_distinct_qty,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    # agg_approx_distinct: rows-only by design (HLL estimate)
    "agg_rollup_cube": f"""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(SUM({_QTY}) AS DOUBLE) / 100.0 AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "agg_having": f"""
        SELECT o_custkey,
               CAST(SUM({sql_cents('o_totalprice')}) AS DOUBLE) / 100.0 AS total_spend,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey
        HAVING COUNT(*) >= 3
           AND CAST(SUM({sql_cents('o_totalprice')}) AS DOUBLE) / 100.0 > 300000.0
    """,
    "agg_collect": """
        SELECT l_orderkey,
               array_to_string(list(CAST(l_linenumber AS VARCHAR) ORDER BY CAST(l_linenumber AS VARCHAR)), ',') AS line_numbers,
               array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags,
               COUNT(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey
    """,
    "agg_minmax_by": f"""
        SELECT o_custkey,
               arg_max(o_orderkey, {sql_cents('o_totalprice')} * 1000000 + o_orderkey) AS best_order,
               arg_min(o_orderkey, {sql_cents('o_totalprice')} * 1000000 + o_orderkey) AS worst_order
        FROM orders GROUP BY o_custkey
    """,
    # NOT quantile_cont: DuckDB's native interpolation evaluates
    # v_lo*(1-f)+v_hi*f-style orderings whose float rounding can differ
    # from the engine formula by an ulp (seen at sf0.1); mirroring the
    # exact lo + frac*(hi-lo) expression keeps both engines bit-identical.
    "agg_percentiles": f"""
        WITH counts AS (
            SELECT l_returnflag, {_PRICE} AS v, COUNT(*) AS cnt
            FROM lineitem GROUP BY 1, 2
        ), dist AS (
            SELECT l_returnflag, v,
                   SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
            FROM counts
        )
        SELECT l_returnflag,
               (CAST(MIN(CASE WHEN cum > floor(0.5 * CAST(n - 1 AS DOUBLE))
                              THEN v END) AS DOUBLE)
                + MAX(0.5 * CAST(n - 1 AS DOUBLE)
                      - floor(0.5 * CAST(n - 1 AS DOUBLE)))
                  * (CAST(COALESCE(
                         MIN(CASE WHEN cum > floor(0.5 * CAST(n - 1 AS DOUBLE)) + 1
                                  THEN v END),
                         MIN(CASE WHEN cum > floor(0.5 * CAST(n - 1 AS DOUBLE))
                                  THEN v END)) AS DOUBLE)
                     - CAST(MIN(CASE WHEN cum > floor(0.5 * CAST(n - 1 AS DOUBLE))
                                     THEN v END) AS DOUBLE))) / 100.0
                   AS median_price,
               (CAST(MIN(CASE WHEN cum > floor(0.95 * CAST(n - 1 AS DOUBLE))
                              THEN v END) AS DOUBLE)
                + MAX(0.95 * CAST(n - 1 AS DOUBLE)
                      - floor(0.95 * CAST(n - 1 AS DOUBLE)))
                  * (CAST(COALESCE(
                         MIN(CASE WHEN cum > floor(0.95 * CAST(n - 1 AS DOUBLE)) + 1
                                  THEN v END),
                         MIN(CASE WHEN cum > floor(0.95 * CAST(n - 1 AS DOUBLE))
                                  THEN v END)) AS DOUBLE)
                     - CAST(MIN(CASE WHEN cum > floor(0.95 * CAST(n - 1 AS DOUBLE))
                                     THEN v END) AS DOUBLE))) / 100.0
                   AS p95_price,
               CAST(MAX(n) AS BIGINT) AS n_rows
        FROM dist GROUP BY l_returnflag
    """,
    "agg_corr_covar": f"""
        WITH sums AS (
            SELECT c_mktsegment,
                   COUNT(*) AS n,
                   SUM({sql_cents('c_acctbal')}) AS sx,
                   SUM(CAST(c_custkey AS DECIMAL(19,0))) AS sy,
                   SUM(CAST({sql_cents('c_acctbal')} AS DECIMAL(19,0))
                       * CAST(c_custkey AS DECIMAL(19,0))) AS sxy,
                   SUM(CAST({sql_cents('c_acctbal')} AS DECIMAL(19,0))
                       * CAST({sql_cents('c_acctbal')} AS DECIMAL(19,0))) AS sxx,
                   SUM(CAST(c_custkey AS DECIMAL(19,0))
                       * CAST(c_custkey AS DECIMAL(19,0))) AS syy
            FROM customer GROUP BY c_mktsegment
        )
        SELECT c_mktsegment, {_CORR_FORMULAS}
        FROM sums
    """,
    "agg_mode": """
        SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
        FROM (
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
                   row_number() OVER (PARTITION BY o_orderstatus
                        ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rn
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        )
        WHERE rn = 1
    """,
}
