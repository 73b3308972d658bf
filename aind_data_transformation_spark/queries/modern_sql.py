"""Modern-SQL surface (Spark 4) plus composite pipelines: recursive CTEs,
string collations, timestamp construction, distinct-count-over-window
emulation, OHLC time-series downsampling, and the end-to-end corpus
preparation pipeline that chains the LLM-data operators into one plan.

Dialect notes are per-query; everything here remains hash-exact against
DuckDB (integer counts, picked — not summed — doubles, or identical final
double arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import dedup_keep_first


def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): build a day calendar
    dimension spanning the event stream's date range from a pure integer
    recursion, then left-join zero-filled per-day event counts — the
    standard warehouse calendar-dim pattern for engines without a
    ``sequence()`` table function.

    The recursion is driver-side tiny (one row per day, depth bounded
    under Spark's default ``cteRecursionLevelLimit`` of 100); the per-day
    count is one shuffle of pre-aggregated map-side partials. Bounds come
    from a separate scalar aggregate so the recursive member stays
    subquery-free (both engines restrict recursive-term subqueries). The
    day key is CAST to TIMESTAMP on output purely for cross-engine dtype
    parity (DuckDB DATE surfaces as datetime64)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_rc")
    return spark.sql(
        """
        WITH RECURSIVE series(i) AS (
            SELECT 0
            UNION ALL
            SELECT i + 1 FROM series WHERE i < 90
        ),
        bounds AS (
            SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0,
                   CAST(date_trunc('day', MAX(ts)) AS DATE) AS d1
            FROM events_rc
        ),
        days AS (
            SELECT date_add(b.d0, s.i) AS day
            FROM series s CROSS JOIN bounds b
            WHERE date_add(b.d0, s.i) <= b.d1
        ),
        daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS n
            FROM events_rc GROUP BY 1
        )
        SELECT CAST(d.day AS TIMESTAMP) AS day, COALESCE(dd.n, 0) AS n_events
        FROM days d LEFT JOIN daily dd ON d.day = dd.day
        """
    )


def q_fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4 ``collate``): distinct counts of a
    mixed-case name column under binary (UTF8_BINARY) vs case-insensitive
    (UTF8_LCASE) collation. The oracle expresses case-insensitivity as
    ``lower()`` — same semantics, pre-collation spelling."""
    c = load_table(spark, sf_dir, "customer")
    mixed = c.select(
        F.when(
            F.col("c_custkey") % 2 == 0, F.upper("c_name")
        ).otherwise(F.col("c_name")).alias("name_cased")
    ).unionAll(c.select(F.col("c_name").alias("name_cased")))
    return mixed.agg(
        F.count_distinct("name_cased").alias("n_case_sensitive"),
        F.count_distinct(
            F.expr("collate(name_cased, 'UTF8_LCASE')")
        ).alias("n_case_insensitive"),
    )


def q_fn_datetime_make(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp construction: decompose o_orderdate into (y, m, d), rebuild
    with ``make_date`` / ``make_timestamp``, and shift with calendar
    intervals (month arithmetic clamps end-of-month identically in both
    engines)."""
    o = load_table(spark, sf_dir, "orders")
    y, m, d = F.year("o_orderdate"), F.month("o_orderdate"), F.dayofmonth("o_orderdate")
    rebuilt = F.make_date(y, m, d)
    # DATE results are CAST to TIMESTAMP on both engines purely for dtype
    # parity in the hash compare (DuckDB DATE surfaces as datetime64).
    return o.select(
        "o_orderkey",
        rebuilt.cast("timestamp").alias("order_day"),
        F.expr(
            "make_timestamp(year(o_orderdate), month(o_orderdate),"
            " day(o_orderdate), 12, 30, 0)"
        ).alias("noonish"),
        F.add_months(rebuilt, 3).cast("timestamp").alias("plus_3_months"),
        F.date_add(rebuilt, 10).cast("timestamp").alias("plus_10_days"),
    )


def q_win_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct count over a running window — not natively supported as
    ``COUNT(DISTINCT) OVER`` in either engine, emulated with
    ``size(collect_set() OVER)``: per user, how many distinct event types
    seen so far (event-time order, event_id tie-break)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.size(F.collect_set("event_type").over(w))
        .cast("long")
        .alias("n_types_so_far"),
    )


def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, hour) the opening / highest /
    lowest / closing ``value`` — the classic tick-to-bar rollup. Open and
    close pick the value at the min/max (ts, event_id) key via
    ``min_by``/``max_by`` over a struct ordering key (DuckDB spells the
    same thing ``first(... ORDER BY ...)``); picked doubles are exact, no
    rounding needed. One hash-agg shuffle on the bucket key."""
    e = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.withColumn("bucket", F.date_trunc("hour", "ts"))
        .groupBy("event_type", "bucket")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


def q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-preparation pipeline as ONE plan: language
    allowlist + length bounds -> exact-hash dedup (keep smallest doc_id per
    identical text) -> per-language corpus stats. Catalyst fuses the
    filters into the scan (pushed predicates), the dedup is one window
    shuffle on the text hash, the stats one hash-agg — three stages total
    regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    filtered = d.where(
        F.col("lang").isin("en", "fr", "de")
        & F.col("n_chars").between(100, 20000)
    )
    deduped = dedup_keep_first(
        filtered, [F.sha2(F.col("text"), 256)], ["doc_id"]
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars_total"),
    )


def q_sql_params_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4): named parameter markers for values and
    the ``IDENTIFIER()`` clause for the table name — the injection-safe way
    to template queries (string-interpolating identifiers into SQL is how
    ETL frameworks get owned). The oracle is the same query with the
    parameters inlined."""
    from aind_data_transformation_spark.io.sources import register_tables

    register_tables(spark, sf_dir, suffix="_prm", tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice > :min_total
        GROUP BY o_orderpriority
        """,
        args={"tbl": "orders_prm", "min_total": 100000.0},
    )


def q_fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scalar functions (Spark 4 ``from_xml``): serialize order fields
    into an XML fragment, parse them back with an explicit struct schema,
    and return the extracted values. Double → string → double round-trips
    exactly (shortest-repr serialization), so the oracle is just the
    original columns. XML shows up in instrument metadata constantly;
    the scale rule is the same as JSON: parse once with an explicit
    schema, never regex-scrape per field."""
    o = load_table(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<order><status>"),
        F.col("o_orderstatus"),
        F.lit("</status><total>"),
        F.col("o_totalprice").cast("string"),
        F.lit("</total></order>"),
    )
    parsed = F.from_xml(xml, "STRUCT<status: STRING, total: DOUBLE>")
    return o.select(
        "o_orderkey",
        parsed.getField("status").alias("status"),
        parsed.getField("total").alias("total"),
    )


def q_sql_hint_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``/*+ REBALANCE(col) */`` — the AQE write-optimization hint: ask
    the runtime to split/merge partitions of the result around the given
    key so the following write gets even file sizes even under key skew
    (unlike REPARTITION, a skewed key's partition is split). The row SET
    is unchanged (oracle checks that); the hint's presence is asserted in
    tests/test_plans.py."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_rb"
    )
    return spark.sql(
        """
        SELECT /*+ REBALANCE(l_returnflag) */
               l_orderkey, l_linenumber, l_returnflag, l_quantity
        FROM lineitem_rb
        WHERE l_quantity >= 48
        """
    )


def q_sql_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-free pagination surface: ``ORDER BY ... LIMIT n OFFSET m``
    (Spark 3.4+). Deterministic because the sort key (totalprice, key) is
    unique. At scale OFFSET is a driver-side skip after a TakeOrdered of
    n+m rows — fine for page-sized m; deep pagination should switch to a
    keyset predicate (WHERE key > last_seen), which is `project_filter`'s
    shape."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_pg"
    )
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders_pg
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10 OFFSET 20
        """
    )


def q_sql_distribute_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout SQL surface: ``DISTRIBUTE BY`` (hash partition) +
    ``SORT BY`` (within-partition order) — the layout clause pair used to
    prepare writes (co-located keys, clustered row groups) without a
    global sort. The row SET is unchanged (the oracle checks exactly
    that); the partitioning/sort shows up in the plan, asserted in
    tests/test_plans.py."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_ds"
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, l_partkey
        FROM lineitem_ds
        WHERE l_quantity > 45
        DISTRIBUTE BY l_orderkey SORT BY l_orderkey, l_linenumber
        """
    )


def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (Spark 3.4+/4 modern-SQL
    surface, same syntax DuckDB pioneered): every non-aggregate select
    item becomes a grouping key. Semantically identical to the explicit
    list — the physical plan is the same partial+final hash aggregate."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_gba"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders_gba
        GROUP BY ALL
        ORDER BY ALL
        """
    )


def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0+, SPARK-49555; the GoogleSQL ``|>``
    operator from "SQL Has Problems. We Can Fix Them", VLDB 2024): each
    ``|>`` stage is a self-contained relational step applied
    top-to-bottom, so the query reads in execution order. Catalyst parses
    it to the same logical plan as the nested-SELECT equivalent (the
    oracle) — same pushdown, same partial+final aggregate, zero runtime
    cost."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_pipe"
    )
    return spark.sql(
        """
        FROM lineitem_pipe
        |> WHERE l_shipdate >= DATE '1994-01-01'
        |> EXTEND CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT) AS disc_cents
        |> AGGREGATE COUNT(*) AS n_items,
                     CAST(SUM(disc_cents) AS BIGINT) AS revenue_cents
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_items > 0
        |> SELECT l_returnflag, l_linestatus, n_items, revenue_cents
        """
    )


def q_sql_exec_immediate_vars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting surface (Spark 4): a session variable declared with
    DECLARE/SET VAR drives a dynamically-composed statement via EXECUTE
    IMMEDIATE ... USING — the pattern stored-procedure-style ETL uses to
    parameterize generated SQL without string interpolation. The oracle
    is the same query with the threshold inlined."""
    from aind_data_transformation_spark.io.sources import register_tables

    register_tables(spark, sf_dir, suffix="_ei", tables=("orders",))
    spark.sql(
        "DECLARE OR REPLACE VARIABLE min_total_ei DOUBLE DEFAULT 0.0"
    )
    spark.sql("SET VAR min_total_ei = 150000.0")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderstatus, COUNT(*) AS n_orders,
                  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders_ei WHERE o_totalprice > ? GROUP BY o_orderstatus'
        USING min_total_ei
        """
    )


def q_sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI three-valued-logic IN / NOT IN subquery semantics, the
    classic correctness trap: when the subquery list contains a NULL,
    ``NOT IN`` returns UNKNOWN for every non-matching row (zero rows),
    while ``NOT EXISTS`` keeps its two-valued behavior. One row of four
    counts proves the engine implements the standard, not the intuitive
    reading — on both engines identically.

    Scale: Catalyst plans IN-subqueries as semi/anti joins (null-aware
    anti join for NOT IN) — set-membership at fact scale is a join, not
    a broadcast list."""
    from aind_data_transformation_spark.io.sources import register_tables

    register_tables(
        spark, sf_dir, suffix="_ins", tables=("orders", "customer")
    )
    return spark.sql(
        """
        SELECT
            (SELECT COUNT(*) FROM orders_ins
             WHERE o_custkey IN (SELECT CASE WHEN c_acctbal < 0 THEN NULL
                                             ELSE c_custkey END
                                 FROM customer_ins)) AS n_in_with_nulls,
            (SELECT COUNT(*) FROM orders_ins
             WHERE o_custkey NOT IN (SELECT CASE WHEN c_acctbal < 0 THEN NULL
                                                 ELSE c_custkey END
                                     FROM customer_ins)) AS n_not_in_with_nulls,
            (SELECT COUNT(*) FROM orders_ins o
             WHERE EXISTS (SELECT 1 FROM customer_ins c
                           WHERE c.c_acctbal >= 0
                             AND c.c_custkey = o.o_custkey)) AS n_exists,
            (SELECT COUNT(*) FROM orders_ins o
             WHERE NOT EXISTS (SELECT 1 FROM customer_ins c
                               WHERE c.c_acctbal >= 0
                                 AND c.c_custkey = o.o_custkey))
                AS n_not_exists
        """
    )


def q_sql_create_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 ``CREATE FUNCTION ... RETURN expr``):
    a scalar price-band function declared IN SQL — no Python, no JVM
    jar — then used like a built-in in an aggregation. Because the body
    is a SQL expression, Catalyst inlines it into the plan: full
    codegen, pushdown through it, zero serialization boundary — the
    answer to 'UDFs are the slow path' whenever the logic is
    expressible as SQL. The oracle inlines the same CASE by hand."""
    from aind_data_transformation_spark.io.sources import register_tables

    register_tables(spark, sf_dir, suffix="_cf", tables=("orders",))
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_band_cf(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p < 100000 THEN 'low'
                    WHEN p < 250000 THEN 'mid'
                    ELSE 'high' END
        """
    )
    return spark.sql(
        """
        SELECT price_band_cf(o_totalprice) AS band,
               COUNT(*) AS n_orders,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders_cf
        GROUP BY price_band_cf(o_totalprice)
        """
    )


def q_sql_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: the set of order days not
    dominated in (recency, max order value) — a later day with an equal
    or higher max price dominates. The classic multi-criteria
    optimization operator (Börzsönyi et al., ICDE 2001) that SQL engines
    lack natively.

    Shape: a naive skyline is an all-pairs anti-join; for a 2-D skyline
    the frontier falls out of ONE running max — aggregate the facts to
    the day domain (max price + its order count via max_by), then a
    strictly-later cumulative max over the bounded day grid; a day
    survives iff its price beats every later day's. Integer cents
    end-to-end; the day key is the ISO date string (chronological in
    binary order on both engines)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    pc = o.groupBy("day", "c").agg(F.count(F.lit(1)).alias("cnt"))
    daily = pc.groupBy("day").agg(
        F.max("c").alias("mx"),
        F.expr("max_by(cnt, c)").alias("n_at_max"),
    )
    w_later = (
        Window.orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        daily.withColumn("bl", F.max("mx").over(w_later))
        .where(F.col("mx") > F.coalesce(F.col("bl"), F.lit(-1)))
        .select(
            "day",
            (F.col("mx").cast("double") / 100.0).alias("best_price"),
            F.col("n_at_max").cast("bigint").alias("n_orders"),
        )
    )


QUERIES = {
    "sql_skyline_pareto": q_sql_skyline_pareto,
    "sql_create_function": q_sql_create_function,
    "sql_in_subquery": q_sql_in_subquery,
    "sql_exec_immediate_vars": q_sql_exec_immediate_vars,
    "sql_pipe_syntax": q_sql_pipe_syntax,
    "sql_hint_rebalance": q_sql_hint_rebalance,
    "sql_limit_offset": q_sql_limit_offset,
    "sql_distribute_sort": q_sql_distribute_sort,
    "sql_group_by_all": q_sql_group_by_all,
    "sql_recursive_cte": q_sql_recursive_cte,
    "sql_params_identifier": q_sql_params_identifier,
    "fn_xml": q_fn_xml,
    "fn_collation": q_fn_collation,
    "fn_datetime_make": q_fn_datetime_make,
    "win_distinct_count": q_win_distinct_count,
    "ts_ohlc": q_ts_ohlc,
    "corpus_prep_pipeline": q_corpus_prep_pipeline,
}

ORACLES = {
    "sql_skyline_pareto": """
        WITH o AS (
            SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS c
            FROM orders
        ), pc AS (
            SELECT day, c, count(*) AS cnt FROM o GROUP BY day, c
        ), daily AS (
            SELECT day, max(c) AS mx, arg_max(cnt, c) AS n_at_max
            FROM pc GROUP BY day
        ), marked AS (
            SELECT *,
                   max(mx) OVER (ORDER BY day DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS bl
            FROM daily
        )
        SELECT day,
               CAST(mx AS DOUBLE) / 100.0 AS best_price,
               CAST(n_at_max AS BIGINT) AS n_orders
        FROM marked
        WHERE mx > coalesce(bl, -1)
    """,
    "sql_create_function": """
        SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                    WHEN o_totalprice < 250000 THEN 'mid'
                    ELSE 'high' END AS band,
               COUNT(*) AS n_orders,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        FROM orders
        GROUP BY 1
    """,
    "sql_in_subquery": """
        SELECT
            (SELECT COUNT(*) FROM orders
             WHERE o_custkey IN (SELECT CASE WHEN c_acctbal < 0 THEN NULL
                                             ELSE c_custkey END
                                 FROM customer)) AS n_in_with_nulls,
            (SELECT COUNT(*) FROM orders
             WHERE o_custkey NOT IN (SELECT CASE WHEN c_acctbal < 0 THEN NULL
                                                 ELSE c_custkey END
                                     FROM customer)) AS n_not_in_with_nulls,
            (SELECT COUNT(*) FROM orders o
             WHERE EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_acctbal >= 0
                             AND c.c_custkey = o.o_custkey)) AS n_exists,
            (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_acctbal >= 0
                                 AND c.c_custkey = o.o_custkey))
                AS n_not_exists
    """,
    "sql_exec_immediate_vars": """
        SELECT o_orderstatus, count(*) AS n_orders,
               sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
                   AS cents
        FROM orders
        WHERE o_totalprice > 150000.0
        GROUP BY o_orderstatus
    """,
    "sql_pipe_syntax": """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem
        WHERE l_shipdate >= DATE '1994-01-01'
        GROUP BY l_returnflag, l_linestatus
        HAVING COUNT(*) > 0
    """,
    "sql_hint_rebalance": """
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        FROM lineitem
        WHERE l_quantity >= 48
    """,
    "sql_limit_offset": """
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10 OFFSET 20
    """,
    "sql_distribute_sort": """
        SELECT l_orderkey, l_linenumber, l_partkey
        FROM lineitem
        WHERE l_quantity > 45
    """,
    "sql_group_by_all": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """,
    "sql_params_identifier": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_totalprice > 100000.0
        GROUP BY o_orderpriority
    """,
    "fn_xml": """
        SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS total
        FROM orders
    """,
    "sql_recursive_cte": """
        WITH RECURSIVE series(i) AS (
            SELECT 0
            UNION ALL
            SELECT i + 1 FROM series WHERE i < 90
        ),
        bounds AS (
            SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0,
                   CAST(date_trunc('day', MAX(ts)) AS DATE) AS d1
            FROM events
        ),
        days AS (
            SELECT b.d0 + s.i AS day
            FROM series s CROSS JOIN bounds b
            WHERE b.d0 + s.i <= b.d1
        ),
        daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        )
        SELECT CAST(d.day AS TIMESTAMP) AS day, COALESCE(dd.n, 0) AS n_events
        FROM days d LEFT JOIN daily dd ON d.day = dd.day
    """,
    "fn_collation": """
        WITH mixed AS (
            SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_name)
                        ELSE c_name END AS name_cased
            FROM customer
            UNION ALL
            SELECT c_name AS name_cased FROM customer
        )
        SELECT COUNT(DISTINCT name_cased) AS n_case_sensitive,
               COUNT(DISTINCT lower(name_cased)) AS n_case_insensitive
        FROM mixed
    """,
    "fn_datetime_make": """
        WITH t AS (
            SELECT o_orderkey,
                   make_date(CAST(year(o_orderdate) AS INT),
                             CAST(month(o_orderdate) AS INT),
                             CAST(day(o_orderdate) AS INT)) AS rebuilt,
                   o_orderdate
            FROM orders
        )
        SELECT o_orderkey,
               CAST(rebuilt AS TIMESTAMP) AS order_day,
               make_timestamp(CAST(year(o_orderdate) AS BIGINT),
                              CAST(month(o_orderdate) AS BIGINT),
                              CAST(day(o_orderdate) AS BIGINT),
                              12, 30, 0) AS noonish,
               CAST(rebuilt + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3_months,
               CAST(rebuilt + 10 AS TIMESTAMP) AS plus_10_days
        FROM t
    """,
    "win_distinct_count": """
        SELECT user_id, event_id, ts,
               CAST(len(list_distinct(list(event_type) OVER w)) AS BIGINT)
                   AS n_types_so_far
        FROM events
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
    """,
    "ts_ohlc": """
        SELECT event_type,
               date_trunc('hour', ts) AS bucket,
               first(value ORDER BY ts, event_id) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               last(value ORDER BY ts, event_id) AS close,
               COUNT(*) AS n_ticks
        FROM events
        GROUP BY 1, 2
    """,
    "corpus_prep_pipeline": """
        WITH filtered AS (
            SELECT * FROM documents
            WHERE lang IN ('en', 'fr', 'de')
              AND n_chars BETWEEN 100 AND 20000
        ), deduped AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY sha256(text) ORDER BY doc_id
                ) AS rn
                FROM filtered
            ) WHERE rn = 1
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                   AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        FROM deduped
        GROUP BY lang
    """,
}
