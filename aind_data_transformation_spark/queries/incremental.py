"""Incremental-maintenance operators: materialized-view refresh from a
delta (no base-fact rescan) and snapshot diffing (CDC extraction between
two table versions).

Both are exact-oracle: the MV refresh must be indistinguishable from a
full recompute (that IS the correctness definition of incremental view
maintenance), and the snapshot diff's change classification is plain
relational algebra. The deltas/versions are carved deterministically out
of ``orders`` so both engines see identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import asof_join, scratch_dir

#: the "already materialized" period boundary — everything before it is
#: the base, everything at/after is the newly-arrived delta
SPLIT_DATE = "1997-01-01"

_CENTS = "CAST(round(o_totalprice*100) AS BIGINT)"


def q_mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the monthly-by-priority
    order rollup is materialized for the pre-SPLIT_DATE period (written to
    parquet and RE-READ — the base facts are provably not rescanned), then
    refreshed with only the delta period's partials merged in via a
    full-outer join + coalesced sums. Works because sum/count are
    self-mergeable; the oracle recomputes the rollup from all facts and
    must match exactly.

    At 100 TB this is the nightly pattern: the refresh cost is
    O(delta + |MV|), independent of base-fact volume; min/max would need
    delete-aware handling (they're not subtractable), which is why this
    MV carries only additive aggregates."""
    o = load_table(spark, sf_dir, "orders")
    # TIMESTAMP on both sides (Spark date_trunc; oracle CASTs) — the
    # repo's standard cross-engine dtype for truncated dates
    month = F.date_trunc("month", "o_orderdate").alias("month")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(month, "o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr(_CENTS)).alias("total_cents"),
        )

    mv_path = scratch_dir(spark, "orders_mv")
    rollup(o.where(F.col("o_orderdate") < SPLIT_DATE)).write.mode(
        "overwrite"
    ).parquet(mv_path)
    base_mv = spark.read.parquet(mv_path)
    delta_mv = rollup(o.where(F.col("o_orderdate") >= SPLIT_DATE))
    b = base_mv.select(
        "month",
        "o_orderpriority",
        F.col("n_orders").alias("n_b"),
        F.col("total_cents").alias("c_b"),
    )
    d = delta_mv.select(
        "month",
        "o_orderpriority",
        F.col("n_orders").alias("n_d"),
        F.col("total_cents").alias("c_d"),
    )
    return b.join(d, ["month", "o_orderpriority"], "full").select(
        "month",
        "o_orderpriority",
        (F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias(
            "n_orders"
        ),
        (F.coalesce("c_b", F.lit(0)) + F.coalesce("c_d", F.lit(0))).alias(
            "total_cents"
        ),
    )


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC extraction without a change log): classify every
    key across two table versions as insert / delete / update by
    full-outer-joining the snapshots on the key and comparing payloads
    null-safely. Version 2 is a deterministic mutation of orders: keys
    divisible by 13 deleted, prices of keys divisible by 7 bumped one
    dollar, mirrored negative keys inserted for keys divisible by 11.

    One shuffle on the key; at 100 TB both snapshots are bucketed on the
    key so the diff is a zero-shuffle sort-merge. Payload comparison uses
    null-safe equality so NULL payloads never classify as phantom
    updates."""
    v1 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = (
        v1.where(F.expr("o_orderkey % 13 != 0"))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.expr("o_orderkey % 7 = 0"), F.col("o_totalprice") + 1.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            v1.where(F.expr("o_orderkey % 11 = 0")).select(
                (-F.col("o_orderkey")).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    # Presence markers (in_a/in_b) detect key existence independently of
    # payload nullability — classifying by payload nullness would turn a
    # genuine all-NULL-payload row into a phantom insert/delete.
    a = v1.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s1"),
        F.col("o_totalprice").alias("p1"),
        F.lit(1).alias("in_a"),
    )
    b = v2.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s2"),
        F.col("o_totalprice").alias("p2"),
        F.lit(1).alias("in_b"),
    )
    j = a.join(b, "k", "full")
    op = (
        F.when(F.col("in_a").isNull(), F.lit("insert"))
        .when(F.col("in_b").isNull(), F.lit("delete"))
        .when(
            ~(F.col("s1").eqNullSafe(F.col("s2")))
            | ~(F.col("p1").eqNullSafe(F.col("p2"))),
            F.lit("update"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("op", op)
        .where(F.col("op") != "unchanged")
        .select(F.col("k").alias("o_orderkey"), "op")
    )




def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change stream: per
    user, collapse consecutive events with the same ``event_type`` into
    versioned validity intervals [valid_from, valid_to) with an
    ``is_current`` flag on the open tail — the standard warehouse
    dimension-history pattern (each attribute change closes the prior
    version and opens a new one).

    Exactness: boundaries are integer microseconds; version numbers come
    from row_number over the change rows; the (us, event_id) tiebreak
    makes every window deterministic.

    Scale: both windows partition by ``user_id`` — high-cardinality, so
    each task sorts only one user's short history; one hash shuffle
    total (the second window reuses the first's partitioning). No
    low-cardinality window anywhere."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("event_type").alias("status"),
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    changes = e.withColumn("prev", F.lag("status").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("status"))
    )
    w2 = Window.partitionBy("user_id").orderBy("us", "event_id")
    return changes.select(
        "user_id",
        "status",
        F.col("us").alias("valid_from_us"),
        F.lead("us").over(w2).alias("valid_to_us"),
        F.row_number().over(w2).cast("bigint").alias("version"),
        F.lead("us").over(w2).isNull().alias("is_current"),
    )


def q_join_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup: enrich each 'purchase' event with the
    user's SCD2 status (see `scd2_build`) VALID AT the event's own
    timestamp — the point-in-time-correct warehouse join that prevents
    feature leakage (a later status must never describe an earlier
    fact).

    Implementation: interval containment against an SCD2 table is
    exactly an as-of join against its change rows (valid_from carries
    the status forward until the next change), so this rides
    `ops.asof_join`: union facts + change rows, ONE hash shuffle on
    user, linear last(ignorenulls) carry — no per-row interval probe,
    no range join. Status changes AT the event instant win (asof is
    inclusive), matching valid_from ≤ ts < valid_to."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    changes = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select(
            F.col("user_id").alias("k"),
            F.col("us").alias("ts"),
            "event_id",
            F.col("event_type").alias("status_at_event"),
        )
        # asof_join requires at most ONE right row per (key, ts): two
        # events for the same user in the same microsecond can both be
        # change rows, so collapse ties deterministically (max event_id
        # wins — the oracle's ORDER BY cts DESC, event_id DESC twin)
        .groupBy("k", "ts")
        .agg(F.max_by("status_at_event", "event_id").alias("status_at_event"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("k"), F.col("us").alias("ts")
    )
    looked = asof_join(
        purchases, changes, on="k", ts="ts",
        value_cols=["status_at_event"],
    )
    return looked.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("ts").alias("us"),
        "status_at_event",
    )


QUERIES = {
    "join_scd2_lookup": q_join_scd2_lookup,
    "mv_incremental_refresh": q_mv_incremental_refresh,
    "cdc_snapshot_diff": q_cdc_snapshot_diff,
    "scd2_build": q_scd2_build,
}

ORACLES = {
    "join_scd2_lookup": """
        WITH e AS (
            SELECT event_id, user_id, event_type, epoch_us(ts) AS us
            FROM events
        ), marked AS (
            SELECT *, lag(event_type) OVER w AS prev
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ), changes AS (
            SELECT user_id AS k, us AS cts, event_id AS ceid,
                   event_type AS status_at_event
            FROM marked
            WHERE prev IS NULL OR prev <> event_type
        ), purchases AS (
            SELECT event_id, user_id AS k, us AS ts
            FROM e WHERE event_type = 'purchase'
        ), ranked AS (
            SELECT p.event_id, p.k, p.ts, c.status_at_event,
                   row_number() OVER (PARTITION BY p.event_id
                        ORDER BY c.cts DESC, c.ceid DESC) AS rk
            FROM purchases p
            JOIN changes c ON c.k = p.k AND c.cts <= p.ts
        )
        SELECT event_id, k AS user_id, ts AS us, status_at_event
        FROM ranked WHERE rk = 1
    """,
    "scd2_build": """
        WITH e AS (
            SELECT event_id, user_id, event_type AS status,
                   epoch_us(ts) AS us
            FROM events
        ), marked AS (
            SELECT *, lag(status) OVER w AS prev
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ), changes AS (
            SELECT * FROM marked
            WHERE prev IS NULL OR prev <> status
        )
        SELECT user_id, status,
               us AS valid_from_us,
               lead(us) OVER w2 AS valid_to_us,
               CAST(row_number() OVER w2 AS BIGINT) AS version,
               lead(us) OVER w2 IS NULL AS is_current
        FROM changes
        WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)
    """,
    "mv_incremental_refresh": """
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM orders
        GROUP BY date_trunc('month', o_orderdate), o_orderpriority
    """,
    "cdc_snapshot_diff": """
        WITH v1 AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ), v2 AS (
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                        ELSE o_totalprice END AS o_totalprice
            FROM v1 WHERE o_orderkey % 13 != 0
            UNION ALL
            SELECT -o_orderkey, o_orderstatus, o_totalprice
            FROM v1 WHERE o_orderkey % 11 = 0
        ), j AS (
            SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                   a.o_orderstatus AS s1, a.o_totalprice AS p1,
                   b.o_orderstatus AS s2, b.o_totalprice AS p2,
                   a.o_orderkey IS NOT NULL AS in_a,
                   b.o_orderkey IS NOT NULL AS in_b
            FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
        )
        SELECT o_orderkey,
               CASE WHEN NOT in_a THEN 'insert'
                    WHEN NOT in_b THEN 'delete'
                    ELSE 'update' END AS op
        FROM j
        WHERE NOT in_a OR NOT in_b
           OR (s1 IS DISTINCT FROM s2 OR p1 IS DISTINCT FROM p2)
    """,
}
