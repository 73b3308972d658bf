"""Analytics extensions: statistical aggregates, pivot/unpivot, hash-based
deterministic sampling, the SQL interface (scalar subqueries, grouping
sets), cryptographic hash functions, and integer-exact histograms.

Cross-engine exactness strategy for the statistical moments: accumulate
exact integer/decimal sums (order-independent), then derive variance /
correlation with the SAME final double arithmetic on both engines —
built-in ``stddev``/``corr`` stream doubles in engine-specific order and
can never hash-match. Decimal(38,0) accumulators keep the squared sums
exact far past int64 (DuckDB SUM(BIGINT) widens to HUGEINT on its own).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import (
    attach_broadcast,
    knuth32_sql,
    local_materializer,
    merge_upsert,
)
from aind_data_transformation_spark.queries.numeric import cents, sql_cents


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag variance / stddev / covariance / correlation of
    (l_quantity, l_discount) from exact integer moments."""
    li = load_table(spark, sf_dir, "lineitem")
    x = cents("l_quantity")
    y = cents("l_discount")
    d38 = "decimal(38,0)"
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast(d38)).cast("double").alias("sx"),
        F.sum(y.cast(d38)).cast("double").alias("sy"),
        F.sum((x * x).cast(d38)).cast("double").alias("sxx"),
        F.sum((y * y).cast(d38)).cast("double").alias("syy"),
        F.sum((x * y).cast(d38)).cast("double").alias("sxy"),
    )
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (
        F.col("n") - F.lit(1.0)
    )
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (
        F.col("n") - F.lit(1.0)
    )
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("n") - F.lit(1.0)
    )
    return agg.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        (var_x / F.lit(1.0e4)).alias("var_qty"),
        F.sqrt(var_x / F.lit(1.0e4)).alias("stddev_qty"),
        (cov / F.lit(1.0e4)).alias("covar_qty_disc"),
        (cov / F.sqrt(var_x * var_y)).alias("corr_qty_disc"),
    )


def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns (count + exact quantity sum per
    cell). Explicit value list => no extra distinct-values job."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(cents("l_quantity")).cast("double") / F.lit(100.0)).alias("qty"),
        )
        .select(
            "l_returnflag",
            F.coalesce("F_cnt", F.lit(0)).alias("f_cnt"),
            F.coalesce("F_qty", F.lit(0.0)).alias("f_qty"),
            F.coalesce("O_cnt", F.lit(0)).alias("o_cnt"),
            F.coalesce("O_qty", F.lit(0.0)).alias("o_qty"),
        )
    )


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide per-flag metrics into (flag, metric, value)
    long form — the inverse format conversion of pivot."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n_rows"),
        (F.sum(cents("l_quantity")).cast("double") / F.lit(100.0)).alias("sum_qty"),
        (F.sum(cents("l_extendedprice")).cast("double") / F.lit(100.0)).alias(
            "sum_price"
        ),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["n_rows", "sum_qty", "sum_price"],
        "metric",
        "value",
    )


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via Knuth multiplicative hashing on the
    key — reproducible across engines, runs, and partitionings (unlike
    ``df.sample``), and exactly the technique for consistent sampling of
    a 100-TB fact table without materializing a sample copy."""
    li = load_table(spark, sf_dir, "lineitem")
    # mod distributes over the sum: (k*K + ln*40503) % 2^32 ==
    # ((k*K % 2^32) + ln*40503) % 2^32, and the overflow-prone k*K term
    # rides the ANSI-safe limb fold (ops.knuth32_sql).
    bucket = F.expr(
        f"pmod({knuth32_sql('l_orderkey', 'spark')}"
        " + l_linenumber * 40503, 4294967296)"
    )
    return (
        li.where(bucket < F.lit(429496730))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


def q_sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point (temp view + spark.sql) with a scalar subquery:
    orders above the global average price. Catalyst plans the subquery as
    an independent scalar stage reused by the filter."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_v")
    avg_expr = (
        f"CAST(SUM({sql_cents('o_totalprice')}) AS DOUBLE) / 100.0 / COUNT(*)"
    )
    return spark.sql(
        f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_v
        WHERE o_totalprice > (SELECT {avg_expr} FROM orders_v)
        """
    )


def q_sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL surface: customers
    holding at least one finished ('F') order but none above $200k.
    Catalyst decorrelates both subqueries into a left-semi and a
    left-anti hash join — no per-row re-execution anywhere."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer_v c
        WHERE EXISTS (
                SELECT 1 FROM orders_v o
                WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
              )
          AND NOT EXISTS (
                SELECT 1 FROM orders_v o
                WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0
              )
        """
    )


def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id labels — finer control than
    rollup/cube (only the three listed sets are computed)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_v")
    return spark.sql(
        f"""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                   AS grouping_id,
               CAST(SUM({sql_cents('l_quantity')}) AS DOUBLE) / 100.0 AS sum_qty
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


def q_fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digests for content-addressing (dedup keys, cache
    keys, shard routing): md5 + sha256 hex, plus a routing shard derived
    from the digest — all standard, engine-portable functions."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2("text", 256).alias("sha256_hex"),
        F.conv(F.substring(F.md5("text"), 1, 4), 16, 10)
        .cast("bigint")
        .alias("shard_16bit"),
    )


def q_hist_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price histogram with integer-exact bucketing (cents DIV bucket
    width — no double-division boundary drift)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (cents("o_totalprice") / F.lit(5000000)).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.min(cents("o_totalprice")).cast("double") / F.lit(100.0)).alias(
                "min_price"
            ),
            (F.max(cents("o_totalprice")).cast("double") / F.lit(100.0)).alias(
                "max_price"
            ),
        )
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot merge (ops.merge_upsert): a synthetic change set
    (every o_orderkey % 3 == 0, price bumped by $5.00 in exact cents) is
    upserted into a base snapshot missing every 7th key — updates replace,
    new keys insert, untouched rows pass through."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (cents("o_totalprice").cast("double") / F.lit(100.0)).alias("price"),
    )
    base = o.where(F.col("o_orderkey") % 7 != 0)
    updates = o.where(F.col("o_orderkey") % 3 == 0).withColumn(
        "price", ((cents("price") + 500).cast("double") / F.lit(100.0))
    )
    return merge_upsert(base, updates, ["o_orderkey"])


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: per-column null count and exact distinct
    count in ONE aggregation pass (count-distinct expansion handles the
    multi-column distinct), emitted long-form via posexplode. At 100 TB
    swap countDistinct for approx_count_distinct — same plan shape."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"dist_{c}"))
    one = o.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"null_{c}").alias("n_null"),
                F.col(f"dist_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return one.select(
        "n_rows", F.explode(entries).alias("e")
    ).select("n_rows", "e.column_name", "e.n_null", "e.n_distinct")


def q_sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: the two
    biggest-quantity lines per order, written the way an analyst would.
    Catalyst decorrelates the lateral into a ranked-window plan — same
    physical shape as topk_per_group, zero per-row re-execution."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT o_orderkey, t.l_linenumber, t.l_quantity
        FROM orders_v,
        LATERAL (
            SELECT l_linenumber, l_quantity
            FROM lineitem_v
            WHERE l_orderkey = o_orderkey
            ORDER BY l_quantity DESC, l_linenumber ASC
            LIMIT 2
        ) t
        WHERE o_orderkey % 10 = 0
        """
    ).withColumn("l_linenumber", F.col("l_linenumber").cast("bigint"))


def q_fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe try_* family: division by zero, bad casts, and int64
    overflow return NULL instead of failing the 10-hour job at hour nine
    — the error-tolerance contract a large-scale pipeline needs.

    Perf note (measured): the JVM implements try_cast/try_multiply's
    failure path with caught exceptions, ~1000× slower per row than
    success — so the bad rows here are the rare case (~1%), which is the
    access pattern these functions are designed for. A dataset where most
    rows fail wants an explicit validity filter, not try_*."""
    li = load_table(spark, sf_dir, "lineitem")
    mostly_num = (
        "CASE WHEN l_orderkey % 100 = 0 THEN l_returnflag"
        " ELSE CAST(l_linenumber AS STRING) END"
    )
    mostly_safe = (
        "CASE WHEN l_orderkey % 100 = 0 THEN 9223372036854775807"
        " ELSE l_orderkey END"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - F.lit(25.0)).alias(
            "price_per_off25"
        ),
        F.expr(f"try_cast({mostly_num} AS INT)").alias("mixed_as_int"),
        F.expr(f"try_multiply({mostly_safe}, CAST(2 AS BIGINT))").alias(
            "key_doubled"
        ),
    )


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: declarative expectations over ``orders``
    (positivity, domain membership, non-null, format, key uniqueness)
    validated in ONE aggregation pass and reported long-form as
    (rule_name, n_violations, passed) — the pre-load contract check every
    ETL framework runs before publishing a table. Null predicate results
    count as violations (a NULL price is not "positive"). The single-pass
    shape is the 100-TB property: five rules cost one scan, not five."""
    o = load_table(spark, sf_dir, "orders")

    def viol(pred):
        # violation = predicate false OR null
        return F.count(F.when(~F.coalesce(pred, F.lit(False)), F.lit(1)))

    one = o.agg(
        viol(F.col("o_totalprice") > 0).alias("v_price_positive"),
        viol(F.col("o_orderstatus").isin("O", "F", "P")).alias(
            "v_status_domain"
        ),
        viol(F.col("o_orderdate").isNotNull()).alias("v_date_not_null"),
        viol(F.col("o_orderpriority").rlike("^[1-5]-")).alias(
            "v_priority_format"
        ),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias(
            "v_key_unique"
        ),
    )
    rules = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule_name"),
                F.col(col).alias("n_violations"),
            )
            for name, col in [
                ("price_positive", "v_price_positive"),
                ("status_domain", "v_status_domain"),
                ("date_not_null", "v_date_not_null"),
                ("priority_format", "v_priority_format"),
                ("key_unique", "v_key_unique"),
            ]
        ]
    )
    return (
        one.select(F.explode(rules).alias("r"))
        .select(
            "r.rule_name",
            "r.n_violations",
            (F.col("r.n_violations") == 0).alias("passed"),
        )
    )


def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (the regr_slope/intercept/r2 family)
    computed from exact integer power sums instead of the engines' native
    ``regr_*`` (whose float accumulation order differs): per event type,
    regress value-cents on user_id. All sums accumulate in decimal(38,0)
    / int128 — order-independent — and the closed-form statistics use
    only IEEE-exact +,-,*,/ on the converted doubles, rounded to 6
    decimals (wide-int→double conversion ulp, same policy as
    agg_skew_kurt). One map-side-combinable aggregation."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    d38 = "decimal(38,0)"
    x = F.col("user_id")
    y = cents("value")
    sums = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast(d38)).cast("double").alias("sx"),
        F.sum(y.cast(d38)).cast("double").alias("sy"),
        F.sum((x * x).cast(d38)).cast("double").alias("sxx"),
        F.sum((y * y).cast(d38)).cast("double").alias("syy"),
        F.sum((x * y).cast(d38)).cast("double").alias("sxy"),
    )
    return sums.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_rows",
        "round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope",
        "round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,"
        " 6) AS intercept",
        "round(((n * sxy - sx * sy) * (n * sxy - sx * sy))"
        " / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2",
    )


def q_diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit — the report a 100-TB pipeline runs BEFORE a
    big join to decide between plain shuffle, salting, and AQE skew
    splitting: per-key cardinality distribution of lineitem.l_suppkey
    (rows, distinct keys, heaviest key, its ppm share of all rows, and
    the p50/p99 of per-key counts). Two aggregation levels, both with
    map-side partial aggregation; the second input is one row per key.
    Exact integers except the percentile interpolation, which is the
    identical double formula in both engines."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    per_key = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_key_rows"),
        F.expr(
            "CAST(round(CAST(max(cnt) AS DOUBLE)"
            " / CAST(sum(cnt) AS DOUBLE) * 1000000.0D) AS BIGINT)"
        ).alias("top_share_ppm"),
        F.expr("percentile(cnt, 0.5D)").alias("p50_key_rows"),
        F.expr("percentile(cnt, 0.99D)").alias("p99_key_rows"),
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer, Recency (days since
    epoch of last order), Frequency (order count), Monetary (total
    cents) — each scored 1-5 against corpus quintile boundaries from ONE
    exact-percentile reduce per dimension, then combined into the
    classic 3-digit RFM code. Same scale shape as ``quantile_bins``: a
    distributed percentile aggregation plus a broadcast boundary probe —
    never a single-task global ntile window.

    All three metrics are exact integers; both engines interpolate
    quintiles with the identical (n-1)*p formula, and the boundary
    comparison casts the metric to double the same way — hash-exact."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("r_days"),
        F.count(F.lit(1)).alias("f_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "m_cents"
        ),
    )
    qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    bounds = per_cust.agg(
        F.expr(f"percentile(r_days, {qs})").alias("rb"),
        F.expr(f"percentile(f_orders, {qs})").alias("fb"),
        F.expr(f"percentile(m_cents, {qs})").alias("mb"),
    )
    score = (
        lambda col, b: f"CAST(1 + size(filter({b}, x -> CAST({col} AS DOUBLE) > x)) AS BIGINT)"
    )
    return (
        per_cust.transform(attach_broadcast, F.broadcast(bounds))
        .select(
            "o_custkey",
            "r_days",
            "f_orders",
            "m_cents",
            F.expr(score("r_days", "rb")).alias("r_score"),
            F.expr(score("f_orders", "fb")).alias("f_score"),
            F.expr(score("m_cents", "mb")).alias("m_score"),
        )
        .withColumn(
            "rfm",
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            ).cast("long"),
        )
    )


def q_stats_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics: clip order totals at the exact
    p05/p95 (one distributed percentile reduce, boundaries broadcast),
    report raw vs winsorized means and how many rows clipped each side.
    The robust-stats companion to the z-score/MAD outlier detectors —
    what a feature pipeline applies BEFORE normalization so tail values
    can't dominate. Clip arithmetic uses double boundaries on integer
    cents with the identical operation order in both engines."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents")
    )
    bounds = o.agg(
        F.expr("percentile(cents, array(0.05D, 0.95D))").alias("b")
    ).select(
        F.expr("b[0]").alias("lo"), F.expr("b[1]").alias("hi")
    )
    clipped = o.transform(attach_broadcast, F.broadcast(bounds)).select(
        "cents",
        "lo",
        "hi",
        # micro-grid the clipped double so the sum is order-independent
        # integer math (module doctrine — a raw double sum would drift
        # with partial-aggregation order)
        F.expr(
            "CAST(round(greatest(least(CAST(cents AS DOUBLE), hi), lo)"
            " * 1000000.0D) AS BIGINT)"
        ).alias("w_micro"),
    )
    return clipped.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum("cents").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_raw"),
        (
            F.sum("w_micro").cast("double")
            / F.count(F.lit(1)).cast("double")
            / 1e6
        ).alias("mean_winsorized"),
        F.sum(
            F.when(F.col("cents").cast("double") < F.col("lo"), 1).otherwise(0)
        ).cast("long").alias("n_clipped_low"),
        F.sum(
            F.when(F.col("cents").cast("double") > F.col("hi"), 1).otherwise(0)
        ).cast("long").alias("n_clipped_high"),
    )


def q_audience_overlap_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event-type segments ("users who
    viewed AND purchased") computed on EXACT mergeable bitmaps: each
    segment's user set packs into 64-bit words (word = user_id div 64,
    bit = user_id mod 64, ``bit_or`` aggregate), segment pairs meet on
    the word index, and the intersection is Σ ``bit_count(a & b)`` —
    the roaring-bitmap audience-analytics pattern, exact (oracle =
    naive COUNT(DISTINCT) self-join) with state ∝ |users|/64 per
    segment instead of the user list itself.

    Scale: membership dedups in one (segment, word) shuffle whose
    key-space is segments × users/64; the pair join is word-aligned
    (equi-join, never user×user); per-segment sizes ride the same
    bitmaps. Output: overlap count + Jaccard per segment pair."""
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    # the segment bitmaps feed sizes + both join sides (4 events scans
    # before); staged once — |segments|·|users|/64 words, exactly the
    # bitmap index an audience system keeps resident.
    words = local_materializer(
        e.groupBy(
            "event_type",
            F.expr("user_id div 64").alias("w_idx"),
        ).agg(
            F.expr(
                "bit_or(shiftleft(1L, CAST(user_id % 64 AS INT)))"
            ).alias("bits")
        ),
        "audience_bitmaps",
    )
    sizes = words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_users")
    )
    a = words.select(
        F.col("event_type").alias("seg_a"),
        F.col("w_idx").alias("wa"),
        F.col("bits").alias("ba"),
    )
    b = words.select(
        F.col("event_type").alias("seg_b"),
        F.col("w_idx").alias("wb"),
        F.col("bits").alias("bb"),
    )
    inter = (
        a.join(b, (F.col("wa") == F.col("wb")) & (F.col("seg_a") < F.col("seg_b")))
        .groupBy("seg_a", "seg_b")
        .agg(
            F.sum(F.bit_count(F.expr("ba & bb"))).cast("long").alias("n_overlap")
        )
    )
    sa = sizes.select(F.col("event_type").alias("seg_a"), F.col("n_users").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("seg_b"), F.col("n_users").alias("n_b"))
    out = inter.join(F.broadcast(sa), "seg_a").join(F.broadcast(sb), "seg_b")
    union = F.col("n_a") + F.col("n_b") - F.col("n_overlap")
    return out.select(
        "seg_a",
        "seg_b",
        "n_overlap",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (F.col("n_overlap").cast("double") / union.cast("double")).alias(
            "jaccard"
        ),
    )


def q_dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over the star schema's three FK
    edges (lineitem→orders, orders→customer, customer→nation): per
    relationship, the child row count and the orphan count (child keys
    with no parent) — the first data-quality gate after any ingest.

    Scale: each orphan check is ONE left-anti equi-join on the FK (AQE
    broadcasts the small parents; the lineitem→orders leg shuffles both
    sides hash-partitioned on the key); the three scalar results union
    into a 3-row frame. No window, no collect."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")

    def leg(name, child, child_key, parent, parent_key):
        total = child.agg(F.count(F.lit(1)).alias("n_child"))
        orphans = child.join(
            parent, child[child_key] == parent[parent_key], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        return attach_broadcast(total, orphans).select(
            F.lit(name).alias("relationship"), "n_child", "n_orphans"
        )

    return (
        leg("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
        .unionAll(leg("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionAll(leg("customer->nation", c, "c_nationkey", n, "n_nationkey"))
    )


_HIST_B = 20


def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of order totals: 20 buckets spanning
    [min, max], exact integer bucket assignment
    ``((x−mn)·B) div (mx−mn+1)`` on the cent grid (no float boundary —
    a value can never flip buckets across engines), with per-bucket
    count and double bounds for plotting.

    Scale: one scalar min/max aggregate broadcasts back (constant-key
    hash join), then one partial+final hash agg on the bounded bucket
    domain."""
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("xc")
    )
    span = o.agg(F.min("xc").alias("mn"), F.max("xc").alias("mx"))
    b = attach_broadcast(o, span).select(
        F.expr(
            f"CAST(((xc - mn) * {_HIST_B}) div (mx - mn + 1) AS BIGINT)"
        ).alias("bucket"),
        "mn",
        "mx",
    )
    return (
        b.groupBy("bucket", "mn", "mx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bucket",
            F.expr(
                f"round((CAST(mn AS DOUBLE) + CAST(bucket AS DOUBLE)"
                f" * (CAST(mx - mn + 1 AS DOUBLE) / {_HIST_B}.0D))"
                " / 100.0, 6)"
            ).alias("lo"),
            F.expr(
                f"round((CAST(mn AS DOUBLE) + CAST(bucket + 1 AS DOUBLE)"
                f" * (CAST(mx - mn + 1 AS DOUBLE) / {_HIST_B}.0D))"
                " / 100.0, 6)"
            ).alias("hi"),
            "cnt",
        )
    )


def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of a quasi-identifier tuple (nation, market
    segment, account balance rounded to hundreds): the distribution of
    equivalence-class sizes bucketed as k=1 / 2–4 / 5–9 / 10+ with group
    and row counts — the privacy gate run before releasing or training
    on user-adjacent records (k=1 rows are directly re-identifiable).

    Scale: one hash agg to the QI domain, one more to the 4-bucket
    domain; integer arithmetic end-to-end."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        # explicit floor: Spark `div` truncates toward zero but DuckDB
        # `//` floors, and balances go negative — floor(x/100.0) is the
        # same op in both engines
        F.expr(
            "CAST(floor(CAST(round(c_acctbal) AS BIGINT) / 100.0D)"
            " AS BIGINT)"
        ).alias("bal_hundreds"),
    ).agg(F.count(F.lit(1)).alias("k"))
    bucket = (
        F.when(F.col("k") == 1, "1")
        .when(F.col("k") <= 4, "2-4")
        .when(F.col("k") <= 9, "5-9")
        .otherwise("10+")
    )
    return (
        qi.groupBy(bucket.alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("k").alias("n_rows"),
        )
    )


def q_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion gate to `privacy_k_anonymity`
    (Machanavajjhala et al. 2007): k-anonymity alone still leaks when an
    equivalence class is homogeneous in the SENSITIVE attribute, so this
    reports how many distinct sensitive values (account-balance hundreds
    bucket) each quasi-identifier class (nation, market segment) carries,
    bucketed l=1 / 2–4 / 5–9 / 10+ with class and row counts — l=1
    classes reveal every member's sensitive value exactly.

    Scale: one hash agg to the (QI, sensitive) domain, one to the QI
    domain, one to 4 buckets; integers end-to-end."""
    c = load_table(spark, sf_dir, "customer")
    sens = F.expr(
        "CAST(floor(CAST(round(c_acctbal) AS BIGINT) / 100.0D) AS BIGINT)"
    )
    per_qi = (
        c.groupBy("c_nationkey", "c_mktsegment", sens.alias("sv"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("l"),
            F.sum("n").alias("n_rows"),
        )
    )
    bucket = (
        F.when(F.col("l") == 1, "1")
        .when(F.col("l") <= 4, "2-4")
        .when(F.col("l") <= 9, "5-9")
        .otherwise("10+")
    )
    return per_qi.groupBy(bucket.alias("l_bucket")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_rows").alias("n_rows"),
    )


def q_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li, Venkatasubramanian, ICDE 2007) — the
    third gate of the anonymity triad: a class can be k-anonymous AND
    l-diverse yet still leak if its sensitive-value DISTRIBUTION skews
    far from the table's. For every quasi-identifier class
    (nation, market segment) this computes the Earth Mover's Distance
    between the class's and the global distribution of the ordered
    sensitive attribute (account balance in thousands): for ordered
    buckets EMD = Σ|CDF_class − CDF_global| / (m−1).

    Exactness: the CDF difference per bucket is kept as the exact
    integer numerator n_gv·N − n_v·N_g over the common denominator
    N_g·N, cumulated and |·|-summed on decimal(38,0) — each cum term is
    bounded by n_g·N, which approaches int64 once n_g·N ≈ 1e18 (a
    dominant class in a ~1e9-row table), so the accumulator widens like
    agg_corr_covar's instead of arguing headroom (r6 advice); the single
    final division is 1e6-rounded. Missing buckets in a class
    participate with count 0 via a dense class×bucket grid.

    Scale: the sensitive domain is schema-bounded (~tens of buckets), so
    the grid is |classes|×m via a constant-key broadcast hash join, the
    CDF window partitions are m rows each, and everything else is hash
    aggs; no unbounded shuffle or window anywhere."""
    c = load_table(spark, sf_dir, "customer")
    sens = F.expr(
        "CAST(floor(CAST(round(c_acctbal) AS BIGINT) / 1000.0D) AS BIGINT)"
    )
    rows = c.select("c_nationkey", "c_mktsegment", sens.alias("sv"))
    cls_sv = rows.groupBy("c_nationkey", "c_mktsegment", "sv").agg(
        F.count(F.lit(1)).alias("n_gv")
    )
    classes = rows.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_g")
    )
    dom = rows.groupBy("sv").agg(F.count(F.lit(1)).alias("n_v"))
    tot = dom.agg(
        F.sum("n_v").alias("n_total"),
        F.count(F.lit(1)).alias("m"),
    )
    grid = attach_broadcast(attach_broadcast(classes, dom), tot)
    dense = grid.join(
        cls_sv, ["c_nationkey", "c_mktsegment", "sv"], "left"
    ).select(
        "c_nationkey",
        "c_mktsegment",
        "sv",
        "n_g",
        "n_v",
        "n_total",
        "m",
        F.coalesce(F.col("n_gv"), F.lit(0)).alias("n_gv"),
    )
    # operands to decimal(19,0) so products land in decimal and the
    # windowed cumulation accumulates in decimal(38,0) — no int64 cliff
    d19 = "decimal(19,0)"
    diff_num = F.col("n_gv").cast(d19) * F.col("n_total").cast(d19) - F.col(
        "n_v"
    ).cast(d19) * F.col("n_g").cast(d19)
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("sv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(diff_num).over(w)
    per = (
        dense.withColumn("cum_abs", F.abs(cum))
        .groupBy("c_nationkey", "c_mktsegment", "n_g", "n_total", "m")
        .agg(F.sum("cum_abs").alias("sum_abs"))
    )
    emd = F.round(
        F.col("sum_abs").cast("double")
        / (
            F.col("n_g").cast("double")
            * F.col("n_total").cast("double")
            * F.greatest(F.col("m") - 1, F.lit(1)).cast("double")
        )
        * 1e6
    ).cast("long")
    return per.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n_g").cast("long").alias("n_rows"),
        emd.alias("emd_u6"),
        (emd > 200000).alias("t02_breach"),
    )


def q_dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA audit over the event stream: per event type,
    the newest record's lag behind the globally newest record, in whole
    minutes, plus a 120-minute SLA breach flag — the staleness check a
    warehouse runs per upstream feed before publishing derived tables
    (a silently-stalled producer shows up as one type lagging).

    Exactness: lags are integer microsecond differences floor-divided to
    minutes. Scale: one hash agg to the type domain + a 1-row global max
    attached via constant-key broadcast hash join."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us")
    )
    per = e.groupBy("event_type").agg(
        F.max("us").alias("newest_us"), F.count(F.lit(1)).alias("n_events")
    )
    glob = per.agg(F.max("newest_us").alias("global_us"))
    lag_min = F.expr(
        "CAST(floor((global_us - newest_us) / 60000000.0D) AS BIGINT)"
    )
    return attach_broadcast(per, glob).select(
        "event_type",
        "n_events",
        lag_min.alias("lag_minutes"),
        (lag_min > 120).alias("sla_breach"),
    )


def q_dq_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: the observed first-digit
    distribution vs the expected log10(1 + 1/d) — the classic
    fraud/fabrication screen for financial amounts (organically-grown
    magnitudes follow Benford; invented ones don't).

    Exactness: the first digit comes from the cent integer's decimal
    string (no float log); shares are one double division; the expected
    curve is the identical ln-expression in both engines rounded with
    the output. Scale: one hash agg to 9 rows."""
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("xc")
    ).where(F.col("xc") > 0)
    per = (
        o.select(
            F.expr("CAST(substr(CAST(xc AS STRING), 1, 1) AS BIGINT)").alias(
                "digit"
            )
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = per.agg(F.sum("n_obs").alias("n"))
    return attach_broadcast(per, tot).select(
        "digit",
        "n_obs",
        F.expr(
            "round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        ).alias("share"),
        F.expr(
            "round(ln(1.0D + 1.0D / CAST(digit AS DOUBLE))"
            " / ln(10.0D), 6)"
        ).alias("benford_p"),
        F.expr(
            "CAST(round((CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)"
            " - ln(1.0D + 1.0D / CAST(digit AS DOUBLE)) / ln(10.0D))"
            " * 1000000.0D) AS BIGINT)"
        ).alias("dev_ppm"),
    )


QUERIES = {
    "dq_benford_check": q_dq_benford_check,
    "privacy_k_anonymity": q_privacy_k_anonymity,
    "privacy_l_diversity": q_privacy_l_diversity,
    "privacy_t_closeness": q_privacy_t_closeness,
    "dq_freshness_sla": q_dq_freshness_sla,
    "dq_referential_integrity": q_dq_referential_integrity,
    "agg_histogram": q_agg_histogram,
    "audience_overlap_bitmap": q_audience_overlap_bitmap,
    "diag_key_skew": q_diag_key_skew,
    "rfm_segments": q_rfm_segments,
    "stats_winsorized": q_stats_winsorized,
    "agg_regression": q_agg_regression,
    "dq_expectations": q_dq_expectations,
    "sql_lateral_topn": q_sql_lateral_topn,
    "fn_try_safe": q_fn_try_safe,
    "merge_upsert": q_merge_upsert,
    "profile_table": q_profile_table,
    "stats_moments": q_stats_moments,
    "agg_pivot": q_agg_pivot,
    "unpivot_metrics": q_unpivot_metrics,
    "sample_hash": q_sample_hash,
    "sql_scalar_subquery": q_sql_scalar_subquery,
    "sql_exists_subquery": q_sql_exists_subquery,
    "sql_grouping_sets": q_sql_grouping_sets,
    "fn_hash": q_fn_hash,
    "hist_buckets": q_hist_buckets,
}

_X = sql_cents("l_quantity")
_Y = sql_cents("l_discount")

ORACLES = {
    "dq_benford_check": """
        WITH o AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc
            FROM orders
            WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
        ), per AS (
            SELECT CAST(substr(CAST(xc AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit,
                   count(*) AS n_obs
            FROM o GROUP BY 1
        ), tot AS (SELECT SUM(n_obs) AS n FROM per)
        SELECT digit,
               CAST(n_obs AS BIGINT) AS n_obs,
               round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share,
               round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE))
                     / ln(10.0), 6) AS benford_p,
               CAST(round((CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)
                    - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
                    * 1000000.0) AS BIGINT) AS dev_ppm
        FROM per CROSS JOIN tot
    """,
    "privacy_l_diversity": """
        WITH per_qi AS (
            SELECT c_nationkey, c_mktsegment,
                   COUNT(DISTINCT CAST(floor(
                       CAST(round(c_acctbal) AS BIGINT) / 100.0)
                       AS BIGINT)) AS l,
                   COUNT(*) AS n_rows
            FROM customer
            GROUP BY c_nationkey, c_mktsegment
        )
        SELECT CASE WHEN l = 1 THEN '1'
                    WHEN l <= 4 THEN '2-4'
                    WHEN l <= 9 THEN '5-9'
                    ELSE '10+' END AS l_bucket,
               COUNT(*)::BIGINT AS n_groups,
               SUM(n_rows)::BIGINT AS n_rows
        FROM per_qi GROUP BY 1
    """,
    "privacy_t_closeness": """
        WITH rows_s AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(floor(CAST(round(c_acctbal) AS BIGINT) / 1000.0)
                        AS BIGINT) AS sv
            FROM customer
        ), cls_sv AS (
            SELECT c_nationkey, c_mktsegment, sv, COUNT(*)::BIGINT AS n_gv
            FROM rows_s GROUP BY 1, 2, 3
        ), classes AS (
            SELECT c_nationkey, c_mktsegment, COUNT(*)::BIGINT AS n_g
            FROM rows_s GROUP BY 1, 2
        ), dom AS (
            SELECT sv, COUNT(*)::BIGINT AS n_v FROM rows_s GROUP BY sv
        ), tot AS (
            SELECT SUM(n_v)::BIGINT AS n_total, COUNT(*)::BIGINT AS m
            FROM dom
        ), dense AS (
            SELECT c.c_nationkey, c.c_mktsegment, d.sv, c.n_g, d.n_v,
                   t.n_total, t.m, COALESCE(s.n_gv, 0) AS n_gv
            FROM classes c CROSS JOIN dom d CROSS JOIN tot t
            LEFT JOIN cls_sv s
              ON s.c_nationkey = c.c_nationkey
             AND s.c_mktsegment = c.c_mktsegment
             AND s.sv = d.sv
        ), cums AS (
            SELECT c_nationkey, c_mktsegment, n_g, n_total, m,
                   abs(SUM(n_gv * n_total - n_v * n_g) OVER (
                       PARTITION BY c_nationkey, c_mktsegment
                       ORDER BY sv
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )) AS cum_abs
            FROM dense
        ), per AS (
            SELECT c_nationkey, c_mktsegment, n_g, n_total, m,
                   SUM(cum_abs)::BIGINT AS sum_abs
            FROM cums GROUP BY 1, 2, 3, 4, 5
        )
        SELECT c_nationkey, c_mktsegment,
               CAST(n_g AS BIGINT) AS n_rows,
               CAST(round(CAST(sum_abs AS DOUBLE)
                    / (CAST(n_g AS DOUBLE) * CAST(n_total AS DOUBLE)
                       * CAST(greatest(m - 1, 1) AS DOUBLE)) * 1e6)
                    AS BIGINT) AS emd_u6,
               CAST(round(CAST(sum_abs AS DOUBLE)
                    / (CAST(n_g AS DOUBLE) * CAST(n_total AS DOUBLE)
                       * CAST(greatest(m - 1, 1) AS DOUBLE)) * 1e6)
                    AS BIGINT) > 200000 AS t02_breach
        FROM per
    """,
    "dq_freshness_sla": """
        WITH per AS (
            SELECT event_type, max(epoch_us(ts)) AS newest_us,
                   COUNT(*)::BIGINT AS n_events
            FROM events GROUP BY event_type
        ), gmax AS (
            SELECT max(newest_us) AS global_us FROM per
        )
        SELECT event_type, n_events,
               CAST(floor((global_us - newest_us) / 60000000.0) AS BIGINT)
                   AS lag_minutes,
               CAST(floor((global_us - newest_us) / 60000000.0) AS BIGINT)
                   > 120 AS sla_breach
        FROM per CROSS JOIN gmax
    """,
    "privacy_k_anonymity": """
        WITH qi AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(floor(CAST(round(c_acctbal) AS BIGINT) / 100.0)
                        AS BIGINT) AS bal_hundreds,
                   count(*) AS k
            FROM customer
            GROUP BY 1, 2, 3
        )
        SELECT CASE WHEN k = 1 THEN '1'
                    WHEN k <= 4 THEN '2-4'
                    WHEN k <= 9 THEN '5-9'
                    ELSE '10+' END AS k_bucket,
               count(*) AS n_groups,
               CAST(SUM(k) AS BIGINT) AS n_rows
        FROM qi GROUP BY 1
    """,
    "dq_referential_integrity": """
        SELECT 'lineitem->orders' AS relationship,
               (SELECT count(*) FROM lineitem) AS n_child,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                   AS n_orphans
        UNION ALL
        SELECT 'orders->customer',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'customer->nation',
               (SELECT count(*) FROM customer),
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
    """,
    "agg_histogram": """
        WITH o AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc
            FROM orders
        ), span AS (
            SELECT min(xc) AS mn, max(xc) AS mx FROM o
        ), b AS (
            SELECT CAST(((xc - mn) * 20) // (mx - mn + 1) AS BIGINT)
                       AS bucket,
                   mn, mx
            FROM o CROSS JOIN span
        )
        SELECT bucket,
               round((CAST(mn AS DOUBLE) + CAST(bucket AS DOUBLE)
                      * (CAST(mx - mn + 1 AS DOUBLE) / 20.0))
                     / 100.0, 6) AS lo,
               round((CAST(mn AS DOUBLE) + CAST(bucket + 1 AS DOUBLE)
                      * (CAST(mx - mn + 1 AS DOUBLE) / 20.0))
                     / 100.0, 6) AS hi,
               count(*) AS cnt
        FROM b GROUP BY bucket, mn, mx
    """,
    "audience_overlap_bitmap": """
        WITH m AS (
            SELECT DISTINCT event_type, user_id FROM events
        ),
        sizes AS (
            SELECT event_type, COUNT(*)::BIGINT AS n_users
            FROM m GROUP BY event_type
        ),
        inter AS (
            SELECT a.event_type AS seg_a, b.event_type AS seg_b,
                   COUNT(*)::BIGINT AS n_overlap
            FROM m a JOIN m b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT seg_a, seg_b, n_overlap,
               sa.n_users AS n_a, sb.n_users AS n_b,
               CAST(n_overlap AS DOUBLE)
                   / CAST(sa.n_users + sb.n_users - n_overlap AS DOUBLE)
                   AS jaccard
        FROM inter
        JOIN sizes sa ON sa.event_type = seg_a
        JOIN sizes sb ON sb.event_type = seg_b
    """,
    "stats_winsorized": """
        WITH c AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        b AS (
            SELECT quantile_cont(cents, 0.05) AS lo,
                   quantile_cont(cents, 0.95) AS hi
            FROM c
        ),
        k AS (
            SELECT cents, lo, hi,
                   CAST(round(greatest(least(CAST(cents AS DOUBLE), hi), lo)
                              * 1000000.0) AS BIGINT) AS w_micro
            FROM c, b
        )
        SELECT count(*) AS n,
               CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS mean_raw,
               CAST(sum(w_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
                   AS mean_winsorized,
               sum(CASE WHEN CAST(cents AS DOUBLE) < lo THEN 1 ELSE 0 END)::BIGINT
                   AS n_clipped_low,
               sum(CASE WHEN CAST(cents AS DOUBLE) > hi THEN 1 ELSE 0 END)::BIGINT
                   AS n_clipped_high
        FROM k
    """,
    "rfm_segments": """
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(date_diff('day', DATE '1970-01-01',
                                  max(o_orderdate)) AS BIGINT) AS r_days,
                   count(*) AS f_orders,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
                       AS m_cents
            FROM orders GROUP BY o_custkey
        ),
        b AS (
            SELECT quantile_cont(r_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
                   quantile_cont(f_orders, [0.2, 0.4, 0.6, 0.8]) AS fb,
                   quantile_cont(m_cents, [0.2, 0.4, 0.6, 0.8]) AS mb
            FROM per_cust
        )
        SELECT o_custkey, r_days, f_orders, m_cents,
               CAST(1 + len(list_filter(rb,
                   x -> CAST(r_days AS DOUBLE) > x)) AS BIGINT) AS r_score,
               CAST(1 + len(list_filter(fb,
                   x -> CAST(f_orders AS DOUBLE) > x)) AS BIGINT) AS f_score,
               CAST(1 + len(list_filter(mb,
                   x -> CAST(m_cents AS DOUBLE) > x)) AS BIGINT) AS m_score,
               CAST((1 + len(list_filter(rb, x -> CAST(r_days AS DOUBLE) > x))) * 100
                    + (1 + len(list_filter(fb, x -> CAST(f_orders AS DOUBLE) > x))) * 10
                    + (1 + len(list_filter(mb, x -> CAST(m_cents AS DOUBLE) > x)))
                    AS BIGINT) AS rfm
        FROM per_cust, b
    """,
    "diag_key_skew": """
        WITH per_key AS (
            SELECT l_suppkey, count(*) AS cnt
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT sum(cnt)::BIGINT AS n_rows,
               count(*) AS n_keys,
               max(cnt) AS max_key_rows,
               CAST(round(CAST(max(cnt) AS DOUBLE)
                          / CAST(sum(cnt) AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS top_share_ppm,
               quantile_cont(cnt, 0.5) AS p50_key_rows,
               quantile_cont(cnt, 0.99) AS p99_key_rows
        FROM per_key
    """,
    "agg_regression": """
        WITH sums AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(user_id AS HUGEINT)) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(yc AS HUGEINT)) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(user_id AS HUGEINT)
                            * CAST(user_id AS HUGEINT)) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(yc AS HUGEINT)
                            * CAST(yc AS HUGEINT)) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(user_id AS HUGEINT)
                            * CAST(yc AS HUGEINT)) AS DOUBLE) AS sxy
            FROM (SELECT event_type, user_id,
                         CAST(round(value * 100) AS BIGINT) AS yc
                  FROM events)
            GROUP BY event_type
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n_rows,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
               round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                     / n, 6) AS intercept,
               round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        FROM sums
    """,
    "dq_expectations": """
        WITH agg AS (
            SELECT
                COUNT(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                      THEN 1 END) AS v_price_positive,
                COUNT(CASE WHEN NOT COALESCE(
                          o_orderstatus IN ('O', 'F', 'P'), FALSE)
                      THEN 1 END) AS v_status_domain,
                COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END)
                    AS v_date_not_null,
                COUNT(CASE WHEN NOT COALESCE(
                          regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)
                      THEN 1 END) AS v_priority_format,
                COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_key_unique
            FROM orders
        ), rules AS (
            SELECT 'price_positive' AS rule_name,
                   v_price_positive AS n_violations FROM agg
            UNION ALL SELECT 'status_domain', v_status_domain FROM agg
            UNION ALL SELECT 'date_not_null', v_date_not_null FROM agg
            UNION ALL SELECT 'priority_format', v_priority_format FROM agg
            UNION ALL SELECT 'key_unique', v_key_unique FROM agg
        )
        SELECT rule_name,
               CAST(n_violations AS BIGINT) AS n_violations,
               n_violations = 0 AS passed
        FROM rules
    """,
    "sql_lateral_topn": """
        SELECT o_orderkey,
               CAST(t.l_linenumber AS BIGINT) AS l_linenumber,
               t.l_quantity
        FROM orders,
        LATERAL (
            SELECT l_linenumber, l_quantity
            FROM lineitem
            WHERE l_orderkey = o_orderkey
            ORDER BY l_quantity DESC, l_linenumber ASC
            LIMIT 2
        ) t
        WHERE o_orderkey % 10 = 0
    """,
    "fn_try_safe": """
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_quantity = 25.0 THEN NULL
                    ELSE l_extendedprice / (l_quantity - 25.0) END AS price_per_off25,
               TRY_CAST(CASE WHEN l_orderkey % 100 = 0 THEN l_returnflag
                             ELSE CAST(l_linenumber AS VARCHAR) END AS INT)
                   AS mixed_as_int,
               CASE WHEN l_orderkey % 100 = 0 THEN NULL
                    ELSE l_orderkey * 2 END AS key_doubled
        FROM lineitem
    """,
    "sql_exists_subquery": """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
              )
          AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0
              )
    """,
    "merge_upsert": f"""
        WITH o AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CAST({sql_cents('o_totalprice')} AS DOUBLE) / 100.0 AS price
            FROM orders
        ), base AS (
            SELECT * FROM o WHERE o_orderkey % 7 != 0
        ), upd AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CAST({sql_cents('price')} + 500 AS DOUBLE) / 100.0 AS price
            FROM o WHERE o_orderkey % 3 = 0
        )
        SELECT * FROM upd
        UNION ALL
        SELECT * FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    """,
    "profile_table": """
        WITH agg AS (
            SELECT COUNT(*) AS n_rows,
                   COUNT(*) - COUNT(o_orderkey) AS null_o_orderkey,
                   COUNT(DISTINCT o_orderkey) AS dist_o_orderkey,
                   COUNT(*) - COUNT(o_custkey) AS null_o_custkey,
                   COUNT(DISTINCT o_custkey) AS dist_o_custkey,
                   COUNT(*) - COUNT(o_orderstatus) AS null_o_orderstatus,
                   COUNT(DISTINCT o_orderstatus) AS dist_o_orderstatus,
                   COUNT(*) - COUNT(o_orderpriority) AS null_o_orderpriority,
                   COUNT(DISTINCT o_orderpriority) AS dist_o_orderpriority
            FROM orders
        )
        SELECT n_rows, 'o_orderkey' AS column_name,
               null_o_orderkey AS n_null, dist_o_orderkey AS n_distinct FROM agg
        UNION ALL
        SELECT n_rows, 'o_custkey', null_o_custkey, dist_o_custkey FROM agg
        UNION ALL
        SELECT n_rows, 'o_orderstatus', null_o_orderstatus, dist_o_orderstatus FROM agg
        UNION ALL
        SELECT n_rows, 'o_orderpriority', null_o_orderpriority, dist_o_orderpriority FROM agg
    """,
    "stats_moments": f"""
        WITH m AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST({_X} AS HUGEINT)) AS DOUBLE) AS sx,
                   CAST(SUM(CAST({_Y} AS HUGEINT)) AS DOUBLE) AS sy,
                   CAST(SUM(CAST({_X} * {_X} AS HUGEINT)) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST({_Y} * {_Y} AS HUGEINT)) AS DOUBLE) AS syy,
                   CAST(SUM(CAST({_X} * {_Y} AS HUGEINT)) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n_rows,
               ((sxx - sx * sx / n) / (n - 1.0)) / 1e4 AS var_qty,
               sqrt(((sxx - sx * sx / n) / (n - 1.0)) / 1e4) AS stddev_qty,
               ((sxy - sx * sy / n) / (n - 1.0)) / 1e4 AS covar_qty_disc,
               ((sxy - sx * sy / n) / (n - 1.0))
                   / sqrt(((sxx - sx * sx / n) / (n - 1.0))
                          * ((syy - sy * sy / n) / (n - 1.0))) AS corr_qty_disc
        FROM m
    """,
    "agg_pivot": f"""
        SELECT l_returnflag,
               COUNT(*) FILTER (l_linestatus = 'F') AS f_cnt,
               coalesce(CAST(SUM({_X}) FILTER (l_linestatus = 'F') AS DOUBLE) / 100.0, 0.0) AS f_qty,
               COUNT(*) FILTER (l_linestatus = 'O') AS o_cnt,
               coalesce(CAST(SUM({_X}) FILTER (l_linestatus = 'O') AS DOUBLE) / 100.0, 0.0) AS o_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    "unpivot_metrics": f"""
        WITH wide AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n_rows,
                   CAST(SUM({_X}) AS DOUBLE) / 100.0 AS sum_qty,
                   CAST(SUM({sql_cents('l_extendedprice')}) AS DOUBLE) / 100.0 AS sum_price
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_qty', sum_qty FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM wide
    """,
    "sample_hash": f"""
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem
        WHERE ({knuth32_sql("l_orderkey", "duck")}
               + l_linenumber * 40503) % 4294967296
              < 429496730
    """,
    "sql_scalar_subquery": f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (
            SELECT CAST(SUM({sql_cents('o_totalprice')}) AS DOUBLE) / 100.0 / COUNT(*)
            FROM orders
        )
    """,
    "sql_grouping_sets": f"""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                   AS grouping_id,
               CAST(SUM({_X}) AS DOUBLE) / 100.0 AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    "fn_hash": """
        SELECT doc_id,
               md5(text) AS md5_hex,
               sha256(text) AS sha256_hex,
               CAST(CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) AS BIGINT)
                   AS shard_16bit
        FROM documents
    """,
    "hist_buckets": f"""
        SELECT CAST({sql_cents('o_totalprice')} // 5000000 AS BIGINT) AS bucket,
               COUNT(*) AS n_orders,
               CAST(MIN({sql_cents('o_totalprice')}) AS DOUBLE) / 100.0 AS min_price,
               CAST(MAX({sql_cents('o_totalprice')}) AS DOUBLE) / 100.0 AS max_price
        FROM orders
        GROUP BY 1
    """,
}


def q_privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential privacy release — the fourth privacy pillar next to
    k-anonymity / l-diversity / t-closeness: per-nation customer counts
    through the epsilon-DP Laplace mechanism (sensitivity 1, epsilon
    0.5, scale b = 1/epsilon = 2). The noise is drawn by inverse-CDF
    from a DETERMINISTIC per-group uniform (the ANSI-safe Knuth hash of
    the group key mapped into (0,1)), so the release is reproducible
    across engines and re-runs — the property a production DP pipeline
    gets from a seeded PRNG keyed on (release_id, group) — and the
    DuckDB oracle restates the identical mechanism. Released values are
    clamped non-negative integers; the raw counts never leave the
    aggregation.

    Scale: one hash aggregation to the group domain, then pure
    per-group scalar arithmetic — noise generation is free at any
    table size."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n"))
    h = knuth32_sql("c_nationkey + 9176", "spark")
    u = f"(pmod({h}, 1048575) + 0.5D) / 1048576.0D"
    noise = (
        f"CASE WHEN {u} < 0.5D THEN 2.0D * ln(2.0D * ({u}))"
        f" ELSE -2.0D * ln(2.0D * (1.0D - ({u}))) END"
    )
    return g.select(
        "c_nationkey",
        F.greatest(
            F.lit(0).cast("long"),
            F.expr(f"CAST(round(n + ({noise})) AS BIGINT)"),
        ).alias("n_released"),
        F.lit(0.5).cast("double").alias("epsilon"),
    )


def q_sample_reservoir_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample via bottom-k hash priorities — the
    distributed, deterministic equivalent of reservoir sampling (and
    the KMV/bottom-k sketch): every row gets an ANSI-safe Knuth-hash
    priority on its composite key, and the global k smallest win.
    Unlike `sample_hash` (Bernoulli: sample size drifts with table
    size) this yields EXACTLY k rows from a table of any unknown size,
    and unlike a true reservoir it is order-independent, mergeable
    across partitions, and reproducible across engines.

    Scale: Spark plans order-by-limit as TakeOrderedAndProject —
    per-partition top-k heaps merged at the driver, k*partitions
    memory, no global sort shuffle; 32-bit hash ties (expected ~40 at
    600k rows by birthday) are broken by the key so the winner set is
    exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    ck = "l_orderkey * 8 + l_linenumber"
    pr = knuth32_sql(ck, "spark")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.expr(pr).cast("long").alias("priority"),
        )
        .orderBy("priority", "l_orderkey", "l_linenumber")
        .limit(500)
    )


QUERIES["privacy_dp_counts"] = q_privacy_dp_counts
_DP_H_DUCK = knuth32_sql("c_nationkey + 9176", "duck")
ORACLES["privacy_dp_counts"] = f"""
    WITH g AS (
        SELECT c_nationkey, COUNT(*) AS n
        FROM customer GROUP BY c_nationkey
    ), uni AS (
        SELECT c_nationkey, n,
               (({_DP_H_DUCK}) % 1048575 + 0.5) / 1048576.0 AS u
        FROM g
    )
    SELECT c_nationkey,
           GREATEST(0, CAST(round(n + CASE WHEN u < 0.5
                THEN 2.0 * ln(2.0 * u)
                ELSE -2.0 * ln(2.0 * (1.0 - u)) END) AS BIGINT))
               AS n_released,
           0.5 AS epsilon
    FROM uni
"""

QUERIES["sample_reservoir_bottomk"] = q_sample_reservoir_bottomk
_RSV_PR_DUCK = knuth32_sql("l_orderkey * 8 + l_linenumber", "duck")
ORACLES["sample_reservoir_bottomk"] = f"""
    SELECT l_orderkey, l_linenumber,
           CAST({_RSV_PR_DUCK} AS BIGINT) AS priority
    FROM lineitem
    ORDER BY priority, l_orderkey, l_linenumber
    LIMIT 500
"""


def q_privacy_dp_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential privacy beyond counts — epsilon-DP SUM and MEAN
    with per-user contribution bounding (the full production recipe,
    extending `privacy_dp_counts`): (1) each user's per-group total is
    computed, then CLIPPED to the contribution bound C (10^7 cents) —
    bounding makes one user's removal change the sum by at most C, so
    C IS the sensitivity; (2) Laplace noise at scale b = C/epsilon
    lands on the clipped sum, and a second independent draw
    (sensitivity 1, b = 1/epsilon) on the user count; (3) the released
    mean is the ratio of the two RELEASED values — post-processing,
    which costs no extra privacy budget. Noise is inverse-CDF over the
    deterministic per-group Knuth-hash uniform (two salts for the two
    draws), so the release is reproducible and the oracle restates the
    mechanism exactly. Raw sums never leave the aggregation; releases
    are clamped non-negative.

    Scale: user-level bounding is one (group, user) partial-aggregated
    hash agg, then a group-domain-sized second agg — noise is free at
    any table size. tests/test_properties.py asserts the contribution
    bound really holds per user."""
    o = load_table(spark, sf_dir, "orders")
    clip = 10_000_000  # cents: $100k — well under a max order, so it bites
    per_user = (
        o.groupBy("o_orderstatus", "o_custkey")
        .agg(
            F.expr(
                "SUM(CAST(round(o_totalprice * 100) AS BIGINT))"
            ).alias("s")
        )
        .select(
            "o_orderstatus",
            F.least(F.col("s"), F.lit(clip)).cast("long").alias("sc"),
        )
    )
    g = per_user.groupBy("o_orderstatus").agg(
        F.sum("sc").alias("S"), F.count(F.lit(1)).alias("n_users")
    )
    key = "ascii(o_orderstatus) + 4242"
    h1 = knuth32_sql(key, "spark")
    h2 = knuth32_sql(f"{key} + 77", "spark")
    u1 = f"(pmod({h1}, 1048575) + 0.5D) / 1048576.0D"
    u2 = f"(pmod({h2}, 1048575) + 0.5D) / 1048576.0D"
    b_sum = "20000000.0D"  # C / epsilon = 10^7 / 0.5
    noise_sum = (
        f"CASE WHEN {u1} < 0.5D THEN {b_sum} * ln(2.0D * ({u1}))"
        f" ELSE -{b_sum} * ln(2.0D * (1.0D - ({u1}))) END"
    )
    noise_cnt = (
        f"CASE WHEN {u2} < 0.5D THEN 2.0D * ln(2.0D * ({u2}))"
        f" ELSE -2.0D * ln(2.0D * (1.0D - ({u2}))) END"
    )
    rel = g.select(
        "o_orderstatus",
        F.greatest(
            F.lit(0).cast("long"),
            F.expr(f"CAST(round(S + ({noise_sum})) AS BIGINT)"),
        ).alias("sum_released_cents"),
        F.greatest(
            F.lit(0).cast("long"),
            F.expr(f"CAST(round(n_users + ({noise_cnt})) AS BIGINT)"),
        ).alias("n_users_released"),
    )
    return rel.select(
        "o_orderstatus",
        "sum_released_cents",
        "n_users_released",
        (
            F.col("sum_released_cents").cast("double")
            / F.greatest(F.lit(1), F.col("n_users_released")).cast("double")
        ).alias("mean_released_cents"),
        F.lit(0.5).cast("double").alias("epsilon"),
        F.lit(clip).cast("long").alias("clip_cents"),
    )


QUERIES["privacy_dp_sums"] = q_privacy_dp_sums
_DPS_H1_DUCK = knuth32_sql("ascii(o_orderstatus) + 4242", "duck")
_DPS_H2_DUCK = knuth32_sql("ascii(o_orderstatus) + 4242 + 77", "duck")
ORACLES["privacy_dp_sums"] = f"""
    WITH pu AS (
        SELECT o_orderstatus, o_custkey,
               LEAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)),
                     10000000) AS sc
        FROM orders GROUP BY o_orderstatus, o_custkey
    ), g AS (
        SELECT o_orderstatus, SUM(sc) AS S, COUNT(*) AS n_users
        FROM pu GROUP BY o_orderstatus
    ), uni AS (
        SELECT o_orderstatus, S, n_users,
               (({_DPS_H1_DUCK}) % 1048575 + 0.5) / 1048576.0 AS u1,
               (({_DPS_H2_DUCK}) % 1048575 + 0.5) / 1048576.0 AS u2
        FROM g
    ), rel AS (
        SELECT o_orderstatus,
               GREATEST(0, CAST(round(S + CASE WHEN u1 < 0.5
                    THEN 20000000.0 * ln(2.0 * u1)
                    ELSE -20000000.0 * ln(2.0 * (1.0 - u1)) END)
                    AS BIGINT)) AS sum_released_cents,
               GREATEST(0, CAST(round(n_users + CASE WHEN u2 < 0.5
                    THEN 2.0 * ln(2.0 * u2)
                    ELSE -2.0 * ln(2.0 * (1.0 - u2)) END)
                    AS BIGINT)) AS n_users_released
        FROM uni
    )
    SELECT o_orderstatus, sum_released_cents, n_users_released,
           CAST(sum_released_cents AS DOUBLE)
               / CAST(GREATEST(1, n_users_released) AS DOUBLE)
               AS mean_released_cents,
           0.5 AS epsilon,
           CAST(10000000 AS BIGINT) AS clip_cents
    FROM rel
"""


def q_diag_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime pipeline metrics via Spark's Observation API (the
    production monitoring hook: named aggregates piggyback on a job's
    OWN pass — `df.observe(...)` — so collecting row counts / sums /
    maxima for data-quality dashboards costs ZERO extra scans, unlike
    a separate .agg() job). The key runs a filter pipeline over
    lineitem with three observed metrics attached, drives it with one
    action, and returns the observed values as a row — the oracle
    restates them from the table, so a metric computed on the wrong
    side of the filter (observe sees PRE-filter rows here) or a lost
    accumulator update breaks the hash.

    Scale: observation metrics are AccumulatorV2s merged driver-side —
    constant driver memory per metric regardless of table size."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
        ).alias("sum_price_cents"),
        F.sum((F.col("l_discount") > 0.05).cast("long")).alias(
            "n_discounted"
        ),
    )
    # one real action drives the pipeline; the metrics ride along
    downstream = observed.where(F.col("l_quantity") >= 25).agg(
        F.count(F.lit(1)).cast("long").alias("n_heavy")
    )
    n_heavy = downstream.collect()[0]["n_heavy"]
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_price_cents"], m["n_discounted"], n_heavy)],
        "n_rows long, sum_price_cents long, n_discounted long,"
        " n_heavy long",
    )


QUERIES["diag_observe_metrics"] = q_diag_observe_metrics
ORACLES["diag_observe_metrics"] = """
    SELECT COUNT(*)::BIGINT AS n_rows,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
               AS sum_price_cents,
           SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)::BIGINT
               AS n_discounted,
           (SELECT COUNT(*) FROM lineitem WHERE l_quantity >= 25)::BIGINT
               AS n_heavy
    FROM lineitem
"""
