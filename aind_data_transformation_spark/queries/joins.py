"""Join operators (SURVEY.md §2 Part B "Joins").

Scale notes baked into each implementation:
* small dimensions are explicitly ``broadcast()`` (no shuffle of the fact
  side beyond its own aggregation);
* the theta/range join keeps the non-equi side tiny and broadcast, so the
  plan is BroadcastNestedLoopJoin over a handful of band rows — never a
  cartesian of two big tables;
* the as-of join is the union + running-last-value trick: ONE shuffle of
  (events ∪ orders) on user_id, then a linear per-partition window scan —
  the canonical distributed as-of at 100 TB (no per-row subqueries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import (
    asof_join,
    asof_join_forward,
    salted_join,
)


def q_join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer equi-join (shuffle hash / SMJ chosen by AQE)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.where(F.col("o_totalprice") > 300000.0)
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
    )


def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast dims chain: customer -> nation -> region."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_join_left_right_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer joins with null fill: per-nation customer counts FULL OUTER
    per-nation supplier counts, then nation names joined back LEFT so
    nations with neither side survive with zero counts."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    c_per_nation = c.groupBy(F.col("c_nationkey").alias("nk_c")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s_per_nation = s.groupBy(F.col("s_nationkey").alias("nk_s")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    counts = c_per_nation.join(
        s_per_nation, F.col("nk_c") == F.col("nk_s"), "full_outer"
    ).select(
        F.coalesce("nk_c", "nk_s").alias("nk"), "n_cust", "n_supp"
    )
    return n.join(counts, n.n_nationkey == counts.nk, "left").select(
        "n_name",
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence joins: customers with / without an urgent order. Semi and
    anti never duplicate or widen the left side — at scale they beat an
    inner-join + distinct by an order of magnitude."""
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    has = c.join(
        urgent, c.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey").withColumn("tag", F.lit("has_urgent"))
    not_has = c.join(
        urgent, c.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey").withColumn("tag", F.lit("no_urgent"))
    return has.unionByName(not_has)


def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join: orders against price bands. The band side is tiny and
    broadcast -> BroadcastNestedLoopJoin; the alternative (computing the
    band key arithmetically) would be an equi-join, but the point here is
    exercising theta-join semantics without a big-big cartesian."""
    o = load_table(spark, sf_dir, "orders")
    bands = (
        spark.range(0, 20)
        .select(
            F.col("id").alias("band"),
            (F.col("id") * 50000.0).alias("lo"),
            ((F.col("id") + 1) * 50000.0).alias("hi"),
        )
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
            "inner",
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the latest order of the same user placed
    at-or-before the event (order times synthesized into the event window:
    2024-01-01 + (o_orderkey % 30) days, deduped per (user, ts) by max key).

    Implementation is the distributed union-window trick (SURVEY.md §2
    join_asof): tag both sides, union, single shuffle on user_id, then
    ``last(value, ignorenulls)`` over (ts, side) rows-unbounded-preceding.
    Order rows sort before event rows at the same instant => inclusive
    at-or-before semantics. Oracle: DuckDB's native ASOF LEFT JOIN.
    """
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    synth = o.select(
        F.col("o_custkey").alias("user_id"),
        F.to_timestamp(
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("o_orderkey") % 30).cast("int"))
        ).alias("ts"),
        "o_orderkey",
    )
    # deterministic right side: one order per (user, ts)
    synth = synth.groupBy("user_id", "ts").agg(
        F.max("o_orderkey").alias("matched_order")
    )

    return asof_join(
        e.select("user_id", "ts", "event_id"),
        synth,
        on="user_id",
        ts="ts",
        value_cols=["matched_order"],
    ).select("event_id", "user_id", "matched_order")


def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each event, the EARLIEST order of the same
    user placed at-or-after the event — same synthesized order times as
    ``join_asof``, mirrored direction (ops.asof_join_forward: union, one
    shuffle, ``first(ignorenulls)`` forward window scan). Oracle: DuckDB
    native ASOF LEFT JOIN with ``e.ts <= s.ts``."""
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    synth = o.select(
        F.col("o_custkey").alias("user_id"),
        F.to_timestamp(
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                (F.col("o_orderkey") % 30).cast("int"),
            )
        ).alias("ts"),
        "o_orderkey",
    )
    synth = synth.groupBy("user_id", "ts").agg(
        F.max("o_orderkey").alias("next_order")
    )

    return asof_join_forward(
        e.select("user_id", "ts", "event_id"),
        synth,
        on="user_id",
        ts="ts",
        value_cols=["next_order"],
    ).select("event_id", "user_id", "next_order")


def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: for each event, the order of the
    same user closest in time in EITHER direction (ties prefer the
    earlier/backward match).

    Completes the as-of family (backward `join_asof`, forward
    `join_asof_forward`, bounded `join_asof_tolerance`) in ONE window
    sort: both sides union-tagged, a single shuffle on user_id, then a
    backward ``last(ignorenulls)`` and a forward ``first(ignorenulls)``
    share the same ordered frame — Spark executes one sort for both
    frames. Order rows sort before event rows at the same instant, so an
    exactly-simultaneous order is captured by the backward scan (delta
    0, which wins every tie) and correctly skipped by the forward scan.

    Scale: identical to the other as-of variants — per-user sequential
    state, no join blow-up, one shuffle of both inputs."""
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    synth = (
        o.select(
            F.col("o_custkey").alias("user_id"),
            F.unix_micros(
                F.to_timestamp(
                    F.date_add(
                        F.lit("2024-01-01").cast("date"),
                        (F.col("o_orderkey") % 30).cast("int"),
                    )
                )
            ).alias("us"),
            "o_orderkey",
        )
        .groupBy("user_id", "us")
        .agg(F.max("o_orderkey").alias("okey"))
        .select(
            "user_id",
            "us",
            F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("event_id"),
            "okey",
        )
    )
    left = e.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("long").alias("okey"),
    )
    both = left.unionByName(synth)
    w = Window.partitionBy("user_id").orderBy("us", "side")
    bwd = w.rowsBetween(Window.unboundedPreceding, 0)
    fwd = w.rowsBetween(0, Window.unboundedFollowing)
    order_us = F.when(F.col("okey").isNotNull(), F.col("us"))
    scanned = both.select(
        "user_id",
        "us",
        "side",
        "event_id",
        F.last("okey", ignorenulls=True).over(bwd).alias("b_key"),
        F.last(order_us, ignorenulls=True).over(bwd).alias("b_us"),
        F.first("okey", ignorenulls=True).over(fwd).alias("f_key"),
        F.first(order_us, ignorenulls=True).over(fwd).alias("f_us"),
    ).where(F.col("side") == 1)
    d_b = F.col("us") - F.col("b_us")
    d_f = F.col("f_us") - F.col("us")
    pick_b = F.col("b_key").isNotNull() & (
        F.col("f_key").isNull() | (d_b <= d_f)
    )
    return scanned.select(
        "event_id",
        "user_id",
        F.when(pick_b, F.col("b_key"))
        .otherwise(F.col("f_key"))
        .alias("nearest_order"),
        F.when(pick_b, F.lit("backward"))
        .when(F.col("f_key").isNotNull(), F.lit("forward"))
        .otherwise(F.lit(None).cast("string"))
        .alias("direction"),
    )


def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small cartesian: every region × every order status."""
    r = load_table(spark, sf_dir, "region")
    statuses = (
        load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    )
    return r.crossJoin(statuses).select("r_name", "o_orderstatus")


def q_join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem self-join: distinct line pairs within an order."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
            "inner",
        )
        .groupBy(F.col("a.l_orderkey").alias("l_orderkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning: the manual form of runtime row-level
    filtering. The build side (customers in the BUILDING segment) is
    hashed k=3 times into an m=2^16-bit Bloom bitmap stored as 1024
    64-bit words ((word_idx, word) rows via bit_or aggregation); the word
    table broadcasts, and the fact side (orders) probes it with three
    broadcast hash joins + bit tests — no shuffle of the fact, no explode,
    rows whose word row is absent are correctly dropped (absent word ==
    no bits set). Bloom false positives survive the probe but are removed
    by the exact join that follows, so the final result is bit-identical
    to the plain join — exactly what the oracle asserts.

    At 100 TB: the bitmap is 8 KiB regardless of fact size; the probe
    culls non-matching fact rows *before* the join shuffle, which is the
    entire point — shuffle volume scales with the semi-join selectivity,
    not the fact cardinality."""
    m_bits = 1 << 16
    seeds = (1, 2, 3)
    dim = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    positions = dim.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64("c_custkey", F.lit(s)), F.lit(m_bits))
                    for s in seeds
                ]
            )
        ).alias("pos")
    )
    words = positions.groupBy(F.expr("pos DIV 64").alias("word_idx")).agg(
        F.expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").alias("word")
    )
    fact = load_table(spark, sf_dir, "orders")
    probed = fact.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        *[
            F.pmod(F.xxhash64("o_custkey", F.lit(s)), F.lit(m_bits)).alias(
                f"p{s}"
            )
            for s in seeds
        ],
    )
    for s in seeds:
        w = words.select(
            F.col("word_idx").alias(f"i{s}"), F.col("word").alias(f"w{s}")
        )
        probed = probed.join(
            F.broadcast(w), F.expr(f"p{s} DIV 64") == F.col(f"i{s}"), "inner"
        ).where(F.expr(f"shiftright(w{s}, CAST(p{s} % 64 AS INT)) & 1 = 1"))
    return (
        probed.join(F.broadcast(dim), probed.o_custkey == dim.c_custkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
    )


def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted equi-join (ops.salted_join): lineitem (fact)
    joined to part with the fact side spread over 8 salt values and the
    dimension replicated 8x, then a per-brand rollup. Salting changes the
    PLAN, never the result — the oracle is the plain join — and is the
    manual fallback when one hot key would otherwise pin a 500-GB
    partition on a single task and AQE skew-splitting can't help (e.g.
    pre-aggregated inputs, or a skewed build side). Result rolled up in
    exact integer cents."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = salted_join(li, p, "p_partkey", salt=8)
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "price_cents"
        ),
    )


def q_join_aqe_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately skewed fact-dim equi-join, left to ADAPTIVE skew
    handling (r6 verdict item #7 — the complement of
    `join_salted_skew`'s manual salting): ~90% of lineitem rows funnel
    onto one hot join key (k=0), the exact shape that pins a 500-GB
    shuffle partition on a single task at cluster scale. No salting, no
    hints — the fix is AQE's OptimizeSkewedJoin, which splits the
    oversized partition into advisory-sized sub-reads at RUNTIME from
    the shuffle statistics (the first technique reached for on a real
    cluster, because it needs no query rewrite).

    tests/test_plans.py::test_aqe_skew_join_splits_hot_partition
    executes this query under skew-tuned thresholds (tiny advisory
    size, broadcast disabled so the join stays sort-merge) and asserts
    the final adaptive plan carries the ``skew=true`` SMJ marker —
    proving the engine's skew story is the planner's, not a manual
    rewrite. The ORACLE is the plain join: skew handling changes the
    plan, never the result, so the key stays hash-checkable.

    Scale: the hot key is split by AQE wherever the cluster runs it;
    the dim side is key-bounded (≤100 rows) so every sub-join is a
    local hash join against a tiny build."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.when(F.pmod("l_orderkey", F.lit(10)) != 0, F.lit(0))
            .otherwise(F.pmod(F.expr("l_orderkey DIV 10"), F.lit(100)))
            .cast("long")
            .alias("k"),
            "l_extendedprice",
        )
        # a real fact scan has thousands of map tasks; the test corpus is
        # ONE parquet file = one mapper, and AQE splits a skewed reduce
        # partition by MAPPER ranges — so give the join shuffle the
        # multi-mapper input it would have at scale (round-robin, NOT on
        # k: hash-repartitioning on the join key would satisfy the join's
        # distribution and bypass the ENSURE_REQUIREMENTS shuffle the
        # skew rule operates on)
        .repartition(16)
    )
    # the dim side must reach the join as a BARE shuffle (Sort over
    # ShuffleQueryStage): OptimizeSkewedJoin pattern-matches
    # SMJ(Sort(shuffle), Sort(shuffle)) and skips the join entirely if
    # an aggregate sits between — measured, not speculated
    dim = spark.range(0, 100).select(
        F.col("id").cast("long").alias("k"),
        F.pmod("id", F.lit(7)).cast("long").alias("bucket7"),
    )
    return (
        li.join(dim, "k")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).cast("long").alias("price_cents"),
            F.max("bucket7").alias("bucket7"),
        )
    )


def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (pandas ``merge_asof
    (tolerance=...)`` semantics): same synthesized order times as
    ``join_asof`` but a match more than 2 days older than the event is
    rejected (null). Same union + one-shuffle window scan — the tolerance
    rides the existing scan as one carried column (ops.asof_join)."""
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    synth = o.select(
        F.col("o_custkey").alias("user_id"),
        F.to_timestamp(
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                (F.col("o_orderkey") % 30).cast("int"),
            )
        ).alias("ts"),
        "o_orderkey",
    )
    synth = synth.groupBy("user_id", "ts").agg(
        F.max("o_orderkey").alias("matched_order")
    )

    return asof_join(
        e.select("user_id", "ts", "event_id"),
        synth,
        on="user_id",
        ts="ts",
        value_cols=["matched_order"],
        tolerance_seconds=2 * 86400,
    ).select("event_id", "user_id", "matched_order")


def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / ``IS NOT DISTINCT FROM``): join
    orders to themselves on a nullable derived key where NULL must match
    NULL — the semantics plain ``=`` silently drops. The null-safe
    operator still plans as a hash equi-join (NULL hashes like any
    value), unlike an ``(a = b OR (a IS NULL AND b IS NULL))`` rewrite
    which degrades to a nested loop."""
    o = load_table(spark, sf_dir, "orders")
    # nullable key: priority digit for urgent orders, NULL otherwise
    key = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        F.substring("o_orderpriority", 1, 1).cast("long"),
    )
    left = o.select(F.col("o_orderkey").alias("k_l"), key.alias("pk"))
    sizes = left.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_same_key")
    ).select(F.col("pk").alias("pk_s"), "n_same_key")
    return (
        left.join(sizes, F.col("pk").eqNullSafe(F.col("pk_s")))
        .groupBy(F.col("pk_s").alias("pk"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max("n_same_key").alias("n_same_key"),
        )
    )


def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (concurrency analysis): pairs of user
    sessions from *different* users that were active at the same time,
    aggregated to per-user-pair overlap counts.

    An overlap join is a theta join (s1.start ≤ s2.end AND s2.start ≤
    s1.end) that Spark would otherwise plan as a broadcast nested loop.
    Instead each interval explodes into the hour buckets it touches
    (``sequence``), candidates meet through a bucket *equi-join*, the
    pair is de-duplicated (an overlap spanning k shared hours matches k
    times), and the exact predicate verifies. Cost scales with
    Σ(intervals per hour)², never |A|×|B| — the standard grid-banding
    that keeps temporal overlap joins shuffle-based at 100 TB. The
    DuckDB oracle runs the naive theta join, proving the banded plan
    computes identical semantics."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap_us = 30 * 60 * 1_000_000
    prev = F.lag("us").over(w)
    is_new = F.when(
        prev.isNull() | ((F.col("us") - prev) > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        e.withColumn("sidx", F.sum(is_new).over(cum).cast("long"))
        .groupBy("user_id", "sidx")
        .agg(F.min("us").alias("s_us"), F.max("us").alias("e_us"))
    )
    hour_us = 3_600_000_000
    banded = sess.select(
        "user_id",
        "sidx",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                (F.col("s_us") / hour_us).cast("long"),
                (F.col("e_us") / hour_us).cast("long"),
            )
        ).alias("hb"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.hb") == F.col("b.hb"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .where(
            (F.col("a.s_us") <= F.col("b.e_us"))
            & (F.col("b.s_us") <= F.col("a.e_us"))
        )
        .select(
            F.col("a.user_id").alias("u1"),
            F.col("a.sidx").alias("x1"),
            F.col("b.user_id").alias("u2"),
            F.col("b.sidx").alias("x2"),
        )
        .distinct()
    )
    return pairs.groupBy("u1", "u2").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlaps")
    )


QUERIES = {
    "join_null_safe": q_join_null_safe,
    "join_interval_overlap": q_join_interval_overlap,
    "join_inner_equi": q_join_inner_equi,
    "join_salted_skew": q_join_salted_skew,
    "join_aqe_skew": q_join_aqe_skew,
    "join_bloom_prune": q_join_bloom_prune,
    "join_broadcast": q_join_broadcast,
    "join_left_right_full": q_join_left_right_full,
    "join_semi_anti": q_join_semi_anti,
    "join_theta_range": q_join_theta_range,
    "join_asof": q_join_asof,
    "join_asof_forward": q_join_asof_forward,
    "join_asof_nearest": q_join_asof_nearest,
    "join_asof_tolerance": q_join_asof_tolerance,
    "join_cross": q_join_cross,
    "join_self": q_join_self,
}

ORACLES = {
    "join_interval_overlap": """
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        ), marked AS (
            SELECT user_id, event_id, us,
                   CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ), sess AS (
            SELECT user_id,
                   SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS sidx,
                   us
            FROM marked
        ), iv AS (
            SELECT user_id, sidx,
                   MIN(us) AS s_us, MAX(us) AS e_us
            FROM sess GROUP BY user_id, sidx
        )
        SELECT a.user_id AS u1, b.user_id AS u2,
               CAST(COUNT(*) AS BIGINT) AS n_overlaps
        FROM iv a JOIN iv b
          ON a.user_id < b.user_id
         AND a.s_us <= b.e_us AND b.s_us <= a.e_us
        GROUP BY a.user_id, b.user_id
    """,
    "join_aqe_skew": """
        WITH li AS (
            SELECT CASE WHEN l_orderkey % 10 != 0 THEN 0
                        ELSE (l_orderkey // 10) % 100 END AS k,
                   l_extendedprice
            FROM lineitem
        ), dim AS (
            SELECT range AS k, range % 7 AS bucket7 FROM range(0, 100)
        )
        SELECT li.k,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
                   AS price_cents,
               CAST(MAX(bucket7) AS BIGINT) AS bucket7
        FROM li JOIN dim ON li.k = dim.k
        GROUP BY li.k
    """,
    "join_salted_skew": """
        SELECT p_brand,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
                   AS price_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    "join_bloom_prune": """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderstatus
    """,
    "join_inner_equi": """
        SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice > 300000.0
    """,
    "join_broadcast": """
        SELECT r_name, COUNT(*) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "join_left_right_full": """
        WITH c_per_nation AS (
            SELECT c_nationkey AS nk_c, COUNT(*) AS n_cust FROM customer GROUP BY 1
        ), s_per_nation AS (
            SELECT s_nationkey AS nk_s, COUNT(*) AS n_supp FROM supplier GROUP BY 1
        ), counts AS (
            SELECT coalesce(nk_c, nk_s) AS nk, n_cust, n_supp
            FROM c_per_nation FULL OUTER JOIN s_per_nation ON nk_c = nk_s
        )
        SELECT n_name,
               coalesce(n_cust, 0) AS n_cust,
               coalesce(n_supp, 0) AS n_supp
        FROM nation LEFT JOIN counts ON n_nationkey = nk
    """,
    "join_semi_anti": """
        SELECT c_custkey, 'has_urgent' AS tag FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        UNION ALL
        SELECT c_custkey, 'no_urgent' AS tag FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    "join_theta_range": """
        SELECT band, COUNT(*) AS n_orders
        FROM orders
        JOIN (SELECT range AS band, range * 50000.0 AS lo, (range + 1) * 50000.0 AS hi
              FROM range(0, 20)) bands
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band
    """,
    "join_asof_forward": """
        WITH synth AS (
            SELECT o_custkey AS user_id,
                   CAST(DATE '2024-01-01' + (o_orderkey % 30) * INTERVAL 1 DAY AS TIMESTAMP) AS ts,
                   MAX(o_orderkey) AS next_order
            FROM orders GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id, s.next_order
        FROM events e
        ASOF LEFT JOIN synth s
          ON e.user_id = s.user_id AND e.ts <= s.ts
    """,
    "join_asof_nearest": """
        WITH e AS (
            SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        ),
        s AS (
            SELECT o_custkey AS user_id,
                   epoch_us(CAST(DATE '2024-01-01'
                                 + CAST(o_orderkey % 30 AS INTEGER) AS TIMESTAMP)) AS us,
                   MAX(o_orderkey) AS okey
            FROM orders GROUP BY 1, 2
        ),
        b AS (
            SELECT e.event_id, e.user_id, e.us, s.okey AS b_key, s.us AS b_us
            FROM e ASOF LEFT JOIN s
              ON e.user_id = s.user_id AND e.us >= s.us
        ),
        f AS (
            SELECT e.event_id, s.okey AS f_key, s.us AS f_us
            FROM e ASOF LEFT JOIN s
              ON e.user_id = s.user_id AND e.us <= s.us
        )
        SELECT b.event_id, b.user_id,
               CASE WHEN b_key IS NOT NULL
                         AND (f_key IS NULL OR b.us - b_us <= f_us - b.us)
                    THEN b_key ELSE f_key END AS nearest_order,
               CASE WHEN b_key IS NOT NULL
                         AND (f_key IS NULL OR b.us - b_us <= f_us - b.us)
                    THEN 'backward'
                    WHEN f_key IS NOT NULL THEN 'forward'
                    ELSE NULL END AS direction
        FROM b JOIN f ON b.event_id = f.event_id
    """,
    "join_asof": """
        WITH synth AS (
            SELECT o_custkey AS user_id,
                   CAST(DATE '2024-01-01' + (o_orderkey % 30) * INTERVAL 1 DAY AS TIMESTAMP) AS ts,
                   MAX(o_orderkey) AS o_orderkey
            FROM orders GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id, s.o_orderkey AS matched_order
        FROM events e
        ASOF LEFT JOIN synth s
          ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
    "join_null_safe": """
        WITH l AS (
            SELECT o_orderkey AS k_l,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
                   END AS pk
            FROM orders
        ), sizes AS (
            SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_same_key
            FROM l GROUP BY pk
        )
        SELECT s.pk,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               MAX(s.n_same_key) AS n_same_key
        FROM l JOIN sizes s ON l.pk IS NOT DISTINCT FROM s.pk
        GROUP BY s.pk
    """,
    "join_asof_tolerance": """
        WITH synth AS (
            SELECT o_custkey AS user_id,
                   CAST(DATE '2024-01-01' + (o_orderkey % 30) * INTERVAL 1 DAY AS TIMESTAMP) AS ts,
                   MAX(o_orderkey) AS o_orderkey
            FROM orders GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id,
               CASE WHEN e.ts - s.ts > INTERVAL 2 DAY THEN NULL
                    ELSE s.o_orderkey END AS matched_order
        FROM events e
        ASOF LEFT JOIN synth s
          ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
    "join_cross": """
        SELECT r_name, o_orderstatus
        FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
    """,
    "join_self": """
        SELECT a.l_orderkey AS l_orderkey, COUNT(*) AS n_pairs
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
        GROUP BY a.l_orderkey
    """,
}
