"""Event-behavior analytics over the ``events`` stream table: funnel
conversion, cohort retention, SCD2 history building, and z-score anomaly
flagging. These are the product-analytics queries an event warehouse runs
constantly; each is a pure DataFrame composition with a DuckDB oracle twin.

Scale notes (the shapes that survive 100 TB):
* every aggregation is keyed by ``user_id`` or ``event_type`` — one shuffle
  each, partial-aggregated map-side; nothing collects to the driver;
* the funnel's step tables are per-user aggregates (|users| << |events|),
  so the step joins shuffle only the reduced side;
* z-score moments use the integer-cents scheme from ``numeric.py`` so the
  group statistics are exactly associative (safe under any partitioning)
  and hash-match the oracle bit-for-bit.

Capability parity note: the reference framework (core.py:84-110) leaves all
processing to ``run_job`` subclasses; these queries are engine-side concrete
workloads exercising that slot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import (
    asof_join,
    attach_broadcast,
    local_materializer,
)


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: a user counts for a step
    only if the step's event happened strictly AFTER the user's entry into
    the previous step (min-timestamp semantics). Returns one row of step
    counts.

    Three per-user conditional aggregations; each reduces events to one row
    per user before the next join, so the joins move user-cardinality data,
    not event-cardinality."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # each step's per-user entry frame feeds BOTH the next step's join
    # and its own count; un-staged, the chained lazy plan re-derived
    # step 1 three times and step 2 twice (6 events scans before).
    # Staged, the fact table is scanned exactly once per funnel step —
    # the per-step user-state frames are what a funnel engine persists.
    t_view = local_materializer(
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view")),
        "funnel_t_view",
    )
    t_click = local_materializer(
        e.where(F.col("event_type") == "click")
        .join(t_view, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click")),
        "funnel_t_click",
    )
    t_purchase = (
        e.where(F.col("event_type") == "purchase")
        .join(t_click, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    n1 = t_view.agg(F.count(F.lit(1)).alias("n_view"))
    n2 = t_click.agg(F.count(F.lit(1)).alias("n_click"))
    n3 = t_purchase.agg(F.count(F.lit(1)).alias("n_purchase"))
    return attach_broadcast(attach_broadcast(n1, n2), n3)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day; for each
    (cohort_day, day_offset <= 7) the number of distinct users active that
    many days after their first day. Two shuffles total (per-user min, then
    the cohort/offset count-distinct)."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    active = e.select(
        "user_id", F.date_trunc("day", "ts").alias("active_day")
    ).distinct()
    return (
        active.join(first, "user_id")
        .withColumn(
            "day_offset",
            F.datediff(F.col("active_day"), F.col("cohort_day")).cast("long"),
        )
        .where(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a slowly-changing-dimension (type 2) history from the event
    log: per user, each event opens a version valid until the next event
    (``valid_to`` NULL on the current version). Deterministic ordering by
    (ts, event_id) so ties are stable. One window shuffle on user_id —
    exactly the merge a warehouse dimension-build runs incrementally."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers: flag events whose value is more
    than 2 population standard deviations from the type mean. Group moments
    accumulate in exact integer cents (order-independent, associative), and
    the z computation is the same double expression on identical operands
    in both engines — bit-identical without rounding.

    The moments aggregate produces 5 rows, broadcast back onto the event
    scan: no second shuffle of the fact side."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    c = F.round(F.col("value") * 100).cast("long")
    d38 = "decimal(38,0)"
    moments = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c.cast(d38)).cast("double").alias("s1"),
        F.sum((c * c).cast(d38)).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    stats = moments.select(
        "event_type", mean.alias("mean_c"), F.sqrt(var).alias("std_c")
    )
    z = (c.cast("double") - F.col("mean_c")) / F.col("std_c")
    return (
        e.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .where(F.abs(F.col("zscore")) > 2.0)
    )


def q_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct actives: per day, the distinct users active that
    day (DAU), in the trailing 7 days (WAU), and trailing 28 days (MAU).

    Scalable shape: a COUNT(DISTINCT) over a *range* can't partial-
    aggregate, so each (user, active-day) pair is exploded into the ≤7
    (resp. ≤28) report days it contributes to, turning the rolling
    distinct into plain hash count-distincts keyed by day — flatMap ×
    window-size, then one shuffle each; never a per-day rescan of the
    event log. Report days are clamped to the observed [min, max] day
    span."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    # the distinct (user, day) activity table feeds FOUR consumers
    # (bounds, DAU, and both rolling explodes) — staged once instead of
    # re-running the events distinct per branch (5 scans before). This
    # frame is the persisted daily-activity table of any analytics
    # warehouse.
    ud = local_materializer(e.distinct(), "activity_user_day")
    bounds = ud.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    def rolling(n: int, name: str) -> DataFrame:
        contrib = ud.select(
            "user_id",
            F.explode(
                F.expr(f"sequence(day, date_add(day, {n - 1}))")
            ).alias("day"),
        )
        return (
            contrib.transform(attach_broadcast, F.broadcast(bounds))
            .where(F.col("day") <= F.col("d1"))
            .groupBy("day")
            .agg(F.count_distinct("user_id").alias(name))
        )

    # repo cross-engine dtype rule: truncated days travel as TIMESTAMP
    return (
        dau.join(rolling(7, "wau"), "day")
        .join(rolling(28, "mau"), "day")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "dau",
            "wau",
            "mau",
        )
    )


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to the
    campaign (``props.k % 4``) of the user's most recent *view* no more
    than 7 days earlier; purchases with no qualifying view stay
    unattributed (NULL campaign). Revenue rolls up per campaign in exact
    cents.

    Built on the library as-of join with staleness tolerance
    (ops.asof_join): union + ONE user_id shuffle + linear window scan —
    no per-purchase subquery. Views are deduped per (user, ts) with
    max_by(event_id) so the tie rule is explicit."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    views = (
        e.where(F.col("event_type") == "view")
        .select(
            "user_id",
            "ts",
            "event_id",
            (F.get_json_object("props", "$.k").cast("long") % 4).alias(
                "campaign"
            ),
        )
        .groupBy("user_id", "ts")
        .agg(F.max_by("campaign", "event_id").alias("campaign"))
    )
    attributed = asof_join(
        purchases,
        views,
        on="user_id",
        ts="ts",
        value_cols=["campaign"],
        tolerance_seconds=7 * 86400,
    )
    return attributed.groupBy("campaign").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").cast("long").alias("attributed_cents"),
    )


def q_win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, runs of consecutive active days (an
    island = maximal streak of days with >= 1 event). The classic
    row_number trick — a day's integer index minus its row_number within
    the user is constant across one island — turns run detection into a
    plain groupBy, no iterative logic. Returns per-user streak stats
    (counts only, so tie-breaking between equal-length streaks never
    arises and the result is engine-order independent).

    Scale: distinct (user, day) reduces events before any window; the
    window partitions on user_id (high cardinality, no skew beyond
    per-user activity), and both aggregations shuffle day-level rows,
    orders of magnitude fewer than events."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    idx = e.withColumn(
        "grp",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    islands = idx.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return islands.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak"),
    )


def q_seq_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence pattern matching (the MATCH_RECOGNIZE use case,
    expressed portably): users whose full event history contains
    view -> click -> purchase *in that order*, with any events between.
    Each user's history collapses to one delimited string, ordered by
    (ts, event_id) via array_sort over collected structs — deterministic
    regardless of shuffle order — and the pattern is a single regex pass.

    Scale: one shuffle (groupBy user_id); per-user state is that user's
    event-type string, and the regex is linear in it. For 100-TB histories
    you'd cap the collected window (e.g. last 90 days) with a pre-filter —
    same plan."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    seq = e.groupBy("user_id").agg(
        F.concat_ws(
            ",",
            F.expr(
                "transform(array_sort(collect_list("
                "struct(ts, event_id, event_type))), s -> s.event_type)"
            ),
        ).alias("seq")
    )
    hit = F.col("seq").rlike("view.*click.*purchase")
    return seq.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(hit.cast("long")).cast("long").alias("n_matched"),
    )


def _lower_median(df: DataFrame, key: str, val) -> DataFrame:
    """Exact lower median per group over an integer column: per-(group,
    value) counts, cumulative window over the compressed distribution,
    smallest value whose doubled cumulative count reaches the group total.
    The shuffled relation is the distinct-value distribution, not the raw
    rows (same shape as aggregates.q_agg_percentiles)."""
    counts = df.groupBy(key, val.alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = (
        Window.partitionBy(key)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(key)
    dist = counts.select(
        key,
        "v",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    return dist.groupBy(key).agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))).alias("med")
    )


def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: per event
    type, med = lower median of integer cents, mad = lower median of
    |cents - med|, and an event is an outlier when |cents - med| >
    3 * mad. Unlike q_anomaly_zscore this survives heavy-tailed value
    distributions (the mean/stddev pair is itself dragged by the
    outliers it is supposed to flag). Every comparison is on exact
    integers — no floating point anywhere, so the engines agree
    bit-for-bit.

    Scale: two distribution aggregations (each shuffles the compressed
    per-type value distribution) plus one broadcast of the 5-row
    med/mad table back onto the event scan."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    med = _lower_median(e, "event_type", F.col("c"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("c") - F.col("med")).alias("d"), "c", "med"
    )
    mad = _lower_median(
        dev.select("event_type", F.col("d")), "event_type", F.col("d")
    ).withColumnRenamed("med", "mad")
    flagged = (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").alias("med_cents"),
            F.max("mad").alias("mad_cents"),
            F.sum(
                (F.col("d") > F.lit(3) * F.col("mad")).cast("long")
            ).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    return flagged


def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for every
    (current, next) pair within a user's time-ordered stream, the
    transition count and probability P(next | current) — the behavioral
    fingerprint sequence models and anomaly detectors consume. Counts
    are exact integers; the probability is one double division on
    identical operands in both engines.

    Scale: one window shuffle on user_id for the ``lead``, one hash
    aggregation on the (cur, nxt) pair (25 cells here, bounded by
    |types|² in general), and the per-cur totals join is
    broadcast-sized. The fact shuffles twice, never sorts globally."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = (
        e.withColumn("nxt", F.lead("event_type").over(w))
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("cur"), "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("cur").agg(F.sum("n").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "cur")
        .select(
            "cur",
            "nxt",
            "n",
            (F.col("n").cast("double") / F.col("tot").cast("double")).alias(
                "p"
            ),
        )
    )


def q_seq_markov_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence scoring under the learned first-order Markov model: each
    user's event stream gets its transition count and average
    per-transition negative log-likelihood under P(next|cur) trained on
    the SAME corpus (`events_transition_matrix`) — the behavioral
    anomaly score (improbable navigation = high NLL), and the same
    model-scoring shape as corpus perplexity but over event sequences.

    Exactness: the model is exact integer (n, tot) per cell; each
    transition's −ln(n/tot) rounds to a 1e-6 integer BEFORE the per-user
    sum (module doctrine), so user sums are exact and the closing
    division is one double op.

    Scale: the lead window partitions by high-cardinality user_id; the
    scored join keys on the bounded |types|² cell domain (broadcast);
    one more hash agg back to users."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    trans = e.withColumn("nxt", F.lead("event_type").over(w)).where(
        F.col("nxt").isNotNull()
    )
    # the |types|²-row cell table is referenced twice (cells + its
    # per-cur rollup inside the model join); staged once so the
    # user-window pass over events backing it runs once, not twice.
    cells = local_materializer(
        trans.groupBy(F.col("event_type").alias("cur"), "nxt").agg(
            F.count(F.lit(1)).alias("n")
        ),
        "markov_cells",
    )
    model = cells.join(
        F.broadcast(cells.groupBy("cur").agg(F.sum("n").alias("tot"))),
        "cur",
    ).select(
        "cur",
        "nxt",
        F.expr(
            "CAST(round(-ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))"
            " * 1000000.0D) AS BIGINT)"
        ).alias("nll_u"),
    )
    return (
        trans.select(
            "user_id", F.col("event_type").alias("cur"), "nxt"
        )
        .join(F.broadcast(model), ["cur", "nxt"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum("nll_u").alias("sum_nll_u"),
        )
        .select(
            "user_id",
            "n_transitions",
            F.expr(
                "round(CAST(sum_nll_u AS DOUBLE)"
                " / CAST(n_transitions AS DOUBLE) / 1000000.0D, 6)"
            ).alias("avg_nll"),
        )
    )


def q_funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency report: exact p50 / p90 / max of the
    click→purchase delay for purchases converting within 30 minutes of
    the user's most recent click — the funnel-health number ("how fast
    do converters convert") product analytics publishes next to the
    conversion rate.

    Built on the tolerance as-of join (ops.asof_join: union + ONE
    user_id shuffle), carrying the click's own microsecond timestamp as
    the joined value so the delay is a pure integer difference.
    Percentiles are the exact LOWER percentile over the whole-second
    delay DOMAIN (≤ 1801 rows after the tolerance cap): distribution
    groupBy + one bounded cumulative window + threshold probes — never
    a global sort of raw delays (the stats_levene discipline)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.unix_micros("ts").alias("p_us")
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .select("user_id", "ts", F.unix_micros("ts").alias("c_us"))
        .groupBy("user_id", "ts")
        .agg(F.max("c_us").alias("c_us"))
    )
    matched = asof_join(
        purchases,
        clicks,
        on="user_id",
        ts="ts",
        value_cols=["c_us"],
        tolerance_seconds=1800,
    ).where(F.col("c_us").isNotNull())
    delays = matched.select(
        F.expr("(p_us - c_us) DIV 1000000").alias("delay_s")
    )
    # the ≤1801-row delay domain feeds both the cumulative CDF and the
    # total; staged once so the as-of join over events runs once, not
    # twice (4 events scans in the before plan).
    dist = local_materializer(
        delays.groupBy("delay_s").agg(F.count(F.lit(1)).alias("c")),
        "funnel_delay_domain",
    )
    w = Window.orderBy("delay_s").rowsBetween(Window.unboundedPreceding, 0)
    cum = dist.select(
        "delay_s", F.sum("c").over(w).alias("cum")
    )
    tot = dist.agg(F.sum("c").alias("n"))
    return (
        attach_broadcast(cum, tot)
        .groupBy("n")
        .agg(
            F.min(
                F.when(F.col("cum") * 100 >= F.col("n") * 50, F.col("delay_s"))
            ).alias("p50_s"),
            F.min(
                F.when(F.col("cum") * 100 >= F.col("n") * 90, F.col("delay_s"))
            ).alias("p90_s"),
            F.max("delay_s").alias("max_s"),
        )
        .select(
            F.col("n").cast("bigint").alias("n_conversions"),
            "p50_s",
            "p90_s",
            "max_s",
        )
    )


#: generalized-ESD rounds: outliers removed one per round, statistics
#: re-estimated on the survivors each time (Rosner 1983) — the property
#: single-pass z-scores lack (a gross outlier inflates the std and MASKS
#: the next one).
_ESD_ROUNDS = 3


def q_anomaly_esd_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD outlier extraction (Rosner 1983): remove the most
    extreme purchase value, re-estimate mean/std WITHOUT it, repeat —
    `_ESD_ROUNDS` rounds. Returns one row per round: the removed event,
    its exact integer deviation, and its studentized z (1e-6 grid) under
    that round's statistics.

    Exactness: the per-round argmax is on |n·c − s1| — an exact BIGINT
    (n ≤ corpus, c in cents; the squared/normalized forms are monotone
    in it for fixed round statistics), ties to the smallest event_id via
    the (c, event_id) candidate order; z is computed from exact integer
    moments and rounded once, in the same double expression as before.

    Shape (r12 optimization): for fixed round statistics, |c − mean| is
    maximized at an ENDPOINT of the remaining value set, so the R
    removals are guaranteed to come from the R largest or R smallest
    values. One exact-moments aggregate plus two TakeOrdered top-R
    scans replace the R-round chain of (aggregate + broadcast-attach +
    argmax + anti-join) over the survivors — 3 bounded jobs instead of
    ~3R full-table passes, and the removal recursion runs driver-side
    on 2R candidate rows with the identical integer arithmetic
    (n·c − s1 on exact ints; moments updated by subtracting the removed
    value). The studentized z stays a Spark double expression over the
    per-round (dev_u, n, s1d, s2d) so the float sequence is unchanged
    bit-for-bit."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    ).select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    d38 = "decimal(38,0)"
    moments = e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("c").cast(d38)).alias("s1x"),
        F.sum((F.col("c") * F.col("c")).cast(d38)).alias("s2x"),
    ).collect()[0]
    n = int(moments["n"])
    s1 = int(moments["s1x"]) if moments["s1x"] is not None else 0
    s2 = int(moments["s2x"]) if moments["s2x"] is not None else 0
    r_hi = e.orderBy(F.col("c").desc(), F.col("event_id")).limit(
        _ESD_ROUNDS
    ).collect()
    r_lo = e.orderBy(F.col("c").asc(), F.col("event_id")).limit(
        _ESD_ROUNDS
    ).collect()
    hi = [(int(r["c"]), int(r["event_id"])) for r in r_hi]
    lo = [(int(r["c"]), int(r["event_id"])) for r in r_lo]
    removed: set = set()
    picked_rows = []
    for rnd in range(1, _ESD_ROUNDS + 1):
        # heads of the two candidate lists are the remaining extremes;
        # argmax |n*c - s1| with ties to the smallest event_id is the
        # min over (-dev, event_id) across both heads — identical to
        # the min-struct argmax over the full survivor set
        best = None
        for lst in (hi, lo):
            while lst and lst[0][1] in removed:
                lst.pop(0)
            if lst:
                c, eid = lst[0]
                dev = abs(n * c - s1)
                key = (-dev, eid)
                if best is None or key < best[0]:
                    best = (key, c, eid)
        if best is None:
            break
        _, c, eid = best
        dev = abs(n * c - s1)
        # the round's statistics are the survivors' BEFORE this removal:
        # doubles via exact-decimal-to-double, as the old cast("double")
        picked_rows.append((rnd, eid, dev, n, float(s1), float(s2)))
        removed.add(eid)
        n -= 1
        s1 -= c
        s2 -= c * c
    pick = spark.createDataFrame(
        picked_rows,
        "round long, event_id long, dev_u long, n long, s1d double, s2d double",
    )
    # z = |c - mean| / std = (dev/n) / sqrt(s2/n - (s1/n)^2)
    z = (
        F.col("dev_u").cast("double")
        / F.col("n").cast("double")
        / F.sqrt(
            F.col("s2d") / F.col("n").cast("double")
            - (F.col("s1d") / F.col("n").cast("double"))
            * (F.col("s1d") / F.col("n").cast("double"))
        )
    )
    return pick.select(
        "round",
        "event_id",
        "dev_u",
        F.round(z * 1e6).cast("long").alias("z_u6"),
    )


#: value-iteration rounds for the Markov absorption probabilities. The
#: result is DEFINED as the R-round iterate (both engines unroll the
#: same R), so exactness never depends on convergence.
_MARKOV_ROUNDS = 6


def q_attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain attribution with removal effects (Anderl et al.
    2014) — the data-driven upgrade of `attribution_last_touch`: model
    each user journey as a first-order Markov chain over event types
    (START → … → CONV at the first purchase, or NULL if the stream ends
    unconverted), estimate P(conversion | START) by value iteration,
    then re-estimate it with each channel REMOVED (its outgoing rows
    dropped, transitions into it redirected to NULL) — the drop in
    conversion probability is the channel's credit.

    Exactness: transition counts are exact integers; absorption
    probabilities iterate on a 1e-6 integer grid: transition probs
    quantize to q_u6 = n·1e6 DIV tot once, then p' = Σ q·p DIV 1e6 —
    integer arithmetic end-to-end, both engines unroll the same
    `_MARKOV_ROUNDS`, and each round's product-sum is bounded by the
    TYPE DOMAIN (q, p ≤ 1e6; ≤|types|+2 terms per group), so int64 holds
    at any corpus size. Only the final share normalization divides, on
    identical operands. Removal effects may legitimately be negative
    (a channel that mostly routes journeys to NULL); shares are
    reported as-is.

    Scale: journeys need one user_id window pass over the fact; the
    chain itself is a |types|²-bounded frame, so the per-channel × per
    -round iteration is metadata-sized joins — the whole attribution
    model costs one fact shuffle at any corpus size."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    # conv_rk from an unbounded frame over the SAME partitioning — one
    # user_id exchange serves both window functions; no second shuffle,
    # no join back (measured 6.4 s -> ~2 s for the journey stage)
    w_all = Window.partitionBy("user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = e.withColumn("rk", F.row_number().over(w)).withColumn(
        "conv_rk",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rk"))
        ).over(w_all),
    )
    # kept feeds three branches (lag pairs, START edges, last-row edges):
    # materialize once
    kept = local_materializer(
        ranked.where(
            F.col("conv_rk").isNull() | (F.col("rk") <= F.col("conv_rk"))
        ).select(
            "user_id",
            "rk",
            F.when(F.col("event_type") == "purchase", F.lit("CONV"))
            .otherwise(F.col("event_type"))
            .alias("state"),
        ),
        "markov_journeys",
    )
    wk = Window.partitionBy("user_id").orderBy("rk")
    seq = kept.withColumn("prev", F.lag("state").over(wk))
    start_edges = seq.where(F.col("prev").isNull()).select(
        F.lit("START").alias("cur"), F.col("state").alias("dst")
    )
    mid_edges = seq.where(F.col("prev").isNotNull()).select(
        F.col("prev").alias("cur"), F.col("state").alias("dst")
    )
    last = kept.groupBy("user_id").agg(F.max(F.struct("rk", "state")).alias("m"))
    null_edges = last.where(F.col("m.state") != "CONV").select(
        F.col("m.state").alias("cur"), F.lit("NULL").alias("dst")
    )
    t = (
        start_edges.unionByName(mid_edges)
        .unionByName(null_edges)
        .groupBy("cur", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # The chain model is |types|²-bounded METADATA (SURVEY.md §4's
    # bounded-model-frame doctrine): one collect of the transition
    # counts, then the per-channel × per-round value iteration runs
    # driver-side on exact ints — q_u6 = (n·1e6) DIV tot and
    # p' = Σ q·p DIV 1e6 are non-negative integer ops, so Python's //
    # reproduces Spark's DIV bit-for-bit (r12 optimization: the
    # iteration previously ran as 6 localCheckpointed join rounds over
    # the ~100-row state frame — ~8 Spark jobs and a Catalyst compile
    # per round spent on metadata-sized arithmetic; now ONE job builds
    # the counts and the model math costs microseconds. At 100 TB the
    # collected frame is still |types|²-bounded — corpus-independent).
    trows = [
        (r["cur"], r["dst"], int(r["n"])) for r in t.collect()
    ]
    tot_by_cur: dict = {}
    for cur, _dst, cnt in trows:
        tot_by_cur[cur] = tot_by_cur.get(cur, 0) + cnt
    chans = sorted({cur for cur, _d, _n in trows if cur != "START"})
    fin_rows = []
    for removed_ch in chans + ["__none__"]:
        edges_by_cur: dict = {}
        for cur, dst, cnt in trows:
            if cur != removed_ch and dst != removed_ch:
                q_u6 = (cnt * 1000000) // tot_by_cur[cur]
                edges_by_cur.setdefault(cur, []).append((dst, q_u6))
        p = {"CONV": 10**6, "NULL": 0}
        for _rnd in range(_MARKOV_ROUNDS):
            upd = {}
            for cur, edges in edges_by_cur.items():
                terms = [q * p[dst] for dst, q in edges if dst in p]
                # the per-round join keeps only matched (removed, cur)
                # groups: no terms -> no state entry this round
                if terms:
                    upd[cur] = sum(terms) // 10**6
            p = {"CONV": 10**6, "NULL": 0, **upd}
        if "START" in p:
            fin_rows.append((removed_ch, p["START"]))
    fin = spark.createDataFrame(fin_rows, "removed string, p_start long")
    base = fin.where(F.col("removed") == "__none__").select(
        F.col("p_start").alias("p_base_u6")
    )
    eff = attach_broadcast(
        fin.where(F.col("removed") != "__none__"), base
    ).select(
        F.col("removed").alias("channel"),
        "p_base_u6",
        F.col("p_start").alias("p_removed_u6"),
        (F.col("p_base_u6") - F.col("p_start")).alias("removal_u6"),
    )
    tot_eff = eff.agg(F.sum("removal_u6").alias("s"))
    return attach_broadcast(eff, tot_eff).select(
        "channel",
        "p_base_u6",
        "p_removed_u6",
        "removal_u6",
        F.round(
            F.col("removal_u6").cast("double")
            / F.greatest(F.col("s"), F.lit(1)).cast("double")
            * 1e6
        )
        .cast("long")
        .alias("share_u6"),
    )


QUERIES = {
    "attribution_markov_removal": q_attribution_markov_removal,
    "anomaly_esd_rounds": q_anomaly_esd_rounds,
    "seq_markov_score": q_seq_markov_score,
    "events_transition_matrix": q_events_transition_matrix,
    "anomaly_mad": q_anomaly_mad,
    "seq_pattern_match": q_seq_pattern_match,
    "win_gaps_islands": q_win_gaps_islands,
    "attribution_last_touch": q_attribution_last_touch,
    "funnel_latency_quantiles": q_funnel_latency_quantiles,
    "dau_wau_mau": q_dau_wau_mau,
    "funnel_steps": q_funnel_steps,
    "retention_cohorts": q_retention_cohorts,
    "scd2_history": q_scd2_history,
    "anomaly_zscore": q_anomaly_zscore,
}

def _esd_oracle(rounds: int) -> str:
    """DuckDB twin of q_anomaly_esd_rounds with the remove-and-restat
    rounds unrolled (same round count)."""
    ctes = [
        """ev1 AS (
            SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c
            FROM events WHERE event_type = 'purchase'
        )"""
    ]
    finals = []
    for k in range(1, rounds + 1):
        ctes.append(f"""s{k} AS (
            SELECT COUNT(*)::BIGINT AS n, SUM(c)::BIGINT AS s1,
                   CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS s1d,
                   CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS s2d
            FROM ev{k}
        )""")
        ctes.append(f"""p{k} AS (
            SELECT CAST({k} AS BIGINT) AS "round", e.event_id,
                   CAST(abs(s.n * e.c - s.s1) AS BIGINT) AS dev_u,
                   s.n, s.s1d, s.s2d
            FROM ev{k} e CROSS JOIN s{k} s
            ORDER BY abs(s.n * e.c - s.s1) DESC, e.event_id ASC
            LIMIT 1
        )""")
        if k < rounds:
            ctes.append(f"""ev{k + 1} AS (
                SELECT * FROM ev{k}
                WHERE event_id NOT IN (SELECT event_id FROM p{k})
            )""")
        finals.append(f"""SELECT "round", event_id, dev_u,
               CAST(round(CAST(dev_u AS DOUBLE) / n
                    / sqrt(s2d / n - (s1d / n) * (s1d / n)) * 1e6)
                    AS BIGINT) AS z_u6
        FROM p{k}""")
    return (
        "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(finals)
    )


def _markov_oracle(rounds: int) -> str:
    """DuckDB twin of q_attribution_markov_removal with the value
    iteration unrolled as chained CTEs (same round count)."""
    ctes = ""
    prev = "p0"
    for k in range(1, rounds + 1):
        ctes += f""", p{k} AS (
            SELECT tv.removed, tv.cur AS dst,
                   CAST(SUM(tv.q_u6 * q.p_u6) // 1000000 AS BIGINT) AS p_u6
            FROM tv JOIN {prev} q
              ON q.removed = tv.removed AND q.dst = tv.dst
            GROUP BY tv.removed, tv.cur
            UNION ALL
            SELECT removed, dst, p_u6 FROM p0
        )"""
        prev = f"p{k}"
    return f"""
        WITH ranked AS (
            SELECT user_id, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS rk
            FROM events
        ), firstp AS (
            SELECT user_id, MIN(rk) AS conv_rk FROM ranked
            WHERE event_type = 'purchase' GROUP BY user_id
        ), kept AS (
            SELECT r.user_id, r.rk,
                   CASE WHEN r.event_type = 'purchase' THEN 'CONV'
                        ELSE r.event_type END AS state
            FROM ranked r LEFT JOIN firstp f USING (user_id)
            WHERE f.conv_rk IS NULL OR r.rk <= f.conv_rk
        ), seq AS (
            SELECT user_id, rk, state,
                   lag(state) OVER (PARTITION BY user_id ORDER BY rk) AS prev
            FROM kept
        ), lastrow AS (
            SELECT user_id, arg_max(state, rk) AS state
            FROM kept GROUP BY user_id
        ), edges AS (
            SELECT 'START' AS cur, state AS dst FROM seq WHERE prev IS NULL
            UNION ALL
            SELECT prev, state FROM seq WHERE prev IS NOT NULL
            UNION ALL
            SELECT state, 'NULL' FROM lastrow WHERE state != 'CONV'
        ), t AS (
            SELECT cur, dst, COUNT(*)::BIGINT AS n FROM edges GROUP BY 1, 2
        ), tots AS (
            SELECT cur, SUM(n)::BIGINT AS tot FROM t GROUP BY cur
        ), chan AS (
            SELECT DISTINCT cur AS removed FROM t WHERE cur != 'START'
            UNION ALL SELECT '__none__'
        ), tv AS (
            SELECT t.cur, t.dst, t.n, o.tot, c.removed,
                   CAST((t.n * 1000000) // o.tot AS BIGINT) AS q_u6
            FROM t JOIN tots o USING (cur) CROSS JOIN chan c
            WHERE t.cur != c.removed AND t.dst != c.removed
        ), p0 AS (
            SELECT removed, 'CONV' AS dst,
                   CAST(1000000 AS BIGINT) AS p_u6
            FROM chan
            UNION ALL
            SELECT removed, 'NULL', CAST(0 AS BIGINT) FROM chan
        ){ctes}, fin AS (
            SELECT removed, p_u6 AS p_start FROM {prev} WHERE dst = 'START'
        ), base AS (
            SELECT p_start AS p_base_u6 FROM fin WHERE removed = '__none__'
        ), eff AS (
            SELECT f.removed AS channel, b.p_base_u6,
                   f.p_start AS p_removed_u6,
                   b.p_base_u6 - f.p_start AS removal_u6
            FROM fin f CROSS JOIN base b
            WHERE f.removed != '__none__'
        ), tote AS (
            SELECT SUM(removal_u6)::BIGINT AS s FROM eff
        )
        SELECT channel,
               CAST(p_base_u6 AS BIGINT) AS p_base_u6,
               CAST(p_removed_u6 AS BIGINT) AS p_removed_u6,
               CAST(removal_u6 AS BIGINT) AS removal_u6,
               CAST(round(CAST(removal_u6 AS DOUBLE)
                    / CAST(greatest(s, 1) AS DOUBLE) * 1e6) AS BIGINT)
                   AS share_u6
        FROM eff CROSS JOIN tote
    """


ORACLES = {
    "attribution_markov_removal": _markov_oracle(_MARKOV_ROUNDS),
    "anomaly_esd_rounds": _esd_oracle(_ESD_ROUNDS),
    "seq_markov_score": """
        WITH e AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS us
            FROM events
        ), trans AS (
            SELECT user_id, event_type AS cur,
                   lead(event_type) OVER (PARTITION BY user_id
                        ORDER BY us, event_id) AS nxt
            FROM e
        ), t2 AS (
            SELECT * FROM trans WHERE nxt IS NOT NULL
        ), cells AS (
            SELECT cur, nxt, count(*) AS n FROM t2 GROUP BY cur, nxt
        ), model AS (
            SELECT c.cur, c.nxt,
                   CAST(round(-ln(CAST(c.n AS DOUBLE)
                        / CAST(t.tot AS DOUBLE)) * 1000000.0) AS BIGINT)
                       AS nll_u
            FROM cells c
            JOIN (SELECT cur, SUM(n) AS tot FROM cells GROUP BY cur) t
              ON c.cur = t.cur
        )
        SELECT t2.user_id,
               count(*) AS n_transitions,
               round(CAST(SUM(m.nll_u) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS avg_nll
        FROM t2 JOIN model m ON t2.cur = m.cur AND t2.nxt = m.nxt
        GROUP BY t2.user_id
    """,
    "events_transition_matrix": """
        WITH e AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS us
            FROM events
        ),
        seq AS (
            SELECT event_type AS cur,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY us, event_id) AS nxt
            FROM e
        ),
        pairs AS (
            SELECT cur, nxt, count(*) AS n
            FROM seq WHERE nxt IS NOT NULL
            GROUP BY cur, nxt
        ),
        totals AS (
            SELECT cur, sum(n)::BIGINT AS tot FROM pairs GROUP BY cur
        )
        SELECT p.cur, p.nxt, p.n,
               CAST(p.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
        FROM pairs p JOIN totals t ON p.cur = t.cur
    """,
    "anomaly_mad": """
        WITH e AS (
            SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
            FROM events
        ), cnt1 AS (
            SELECT event_type, c AS v, COUNT(*) AS cnt
            FROM e GROUP BY event_type, c
        ), dist1 AS (
            SELECT event_type, v,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type) AS n
            FROM cnt1
        ), med AS (
            SELECT event_type,
                   MIN(CASE WHEN cum * 2 >= n THEN v END) AS med
            FROM dist1 GROUP BY event_type
        ), dev AS (
            SELECT e.event_type, abs(e.c - m.med) AS d, m.med
            FROM e JOIN med m USING (event_type)
        ), cnt2 AS (
            SELECT event_type, d AS v, COUNT(*) AS cnt
            FROM dev GROUP BY event_type, d
        ), dist2 AS (
            SELECT event_type, v,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type) AS n
            FROM cnt2
        ), mad AS (
            SELECT event_type,
                   MIN(CASE WHEN cum * 2 >= n THEN v END) AS mad
            FROM dist2 GROUP BY event_type
        )
        SELECT d.event_type,
               MAX(d.med) AS med_cents,
               MAX(m.mad) AS mad_cents,
               CAST(SUM(CASE WHEN d.d > 3 * m.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM dev d JOIN mad m USING (event_type)
        GROUP BY d.event_type
    """,
    "seq_pattern_match": """
        WITH seq AS (
            SELECT user_id,
                   string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN regexp_matches(seq,
                        'view.*click.*purchase') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_matched
        FROM seq
    """,
    "win_gaps_islands": """
        WITH days AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
            FROM events
        ), idx AS (
            SELECT user_id, d,
                   date_diff('day', DATE '1970-01-01', d)
                       - row_number() OVER (PARTITION BY user_id ORDER BY d)
                       AS grp
            FROM days
        ), islands AS (
            SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
            FROM idx GROUP BY user_id, grp
        )
        SELECT user_id,
               CAST(SUM(len) AS BIGINT) AS n_active_days,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               CAST(MAX(len) AS BIGINT) AS longest_streak
        FROM islands GROUP BY user_id
    """,
    "funnel_latency_quantiles": """
        WITH p AS (
            SELECT user_id, epoch_us(ts) AS p_us
            FROM events WHERE event_type = 'purchase'
        ), c AS (
            SELECT user_id, epoch_us(ts) AS c_us
            FROM events WHERE event_type = 'click'
            GROUP BY 1, 2
        ), matched AS (
            SELECT p.p_us,
                   (SELECT max(c.c_us) FROM c
                    WHERE c.user_id = p.user_id
                      AND c.c_us <= p.p_us
                      AND c.c_us >= p.p_us - 1800 * 1000000) AS c_us
            FROM p
        ), delays AS (
            SELECT (p_us - c_us) // 1000000 AS delay_s
            FROM matched WHERE c_us IS NOT NULL
        ), dist AS (
            SELECT delay_s, COUNT(*) AS c FROM delays GROUP BY delay_s
        ), cum AS (
            SELECT delay_s,
                   SUM(c) OVER (ORDER BY delay_s
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM dist
        ), tot AS (SELECT SUM(c) AS n FROM dist)
        SELECT CAST(n AS BIGINT) AS n_conversions,
               min(CASE WHEN cum * 100 >= n * 50 THEN delay_s END) AS p50_s,
               min(CASE WHEN cum * 100 >= n * 90 THEN delay_s END) AS p90_s,
               max(delay_s) AS max_s
        FROM cum CROSS JOIN tot
        GROUP BY n
    """,
    "attribution_last_touch": """
        WITH purchases AS (
            SELECT user_id, ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ), views AS (
            SELECT user_id, ts,
                   arg_max(CAST(json_extract(props, '$.k') AS BIGINT) % 4,
                           event_id) AS campaign
            FROM events WHERE event_type = 'view'
            GROUP BY user_id, ts
        ), attributed AS (
            SELECT p.user_id, p.cents,
                   CASE WHEN p.ts - v.ts > INTERVAL 7 DAY THEN NULL
                        ELSE v.campaign END AS campaign
            FROM purchases p
            ASOF LEFT JOIN views v
              ON p.user_id = v.user_id AND p.ts >= v.ts
        )
        SELECT campaign,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(cents) AS BIGINT) AS attributed_cents
        FROM attributed GROUP BY campaign
    """,
    "dau_wau_mau": """
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), bounds AS (
            SELECT MAX(day) AS d1 FROM ud
        ), dau AS (
            SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
            FROM ud GROUP BY day
        ), wau AS (
            SELECT cd AS day,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
            FROM (
                SELECT user_id,
                       CAST(unnest(generate_series(
                           CAST(day AS TIMESTAMP),
                           CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                           INTERVAL 1 DAY)) AS DATE) AS cd
                FROM ud
            ), bounds
            WHERE cd <= d1
            GROUP BY cd
        ), mau AS (
            SELECT cd AS day,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
            FROM (
                SELECT user_id,
                       CAST(unnest(generate_series(
                           CAST(day AS TIMESTAMP),
                           CAST(day AS TIMESTAMP) + INTERVAL 27 DAY,
                           INTERVAL 1 DAY)) AS DATE) AS cd
                FROM ud
            ), bounds
            WHERE cd <= d1
            GROUP BY cd
        )
        SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, wau.wau, mau.mau
        FROM dau JOIN wau USING (day) JOIN mau USING (day)
    """,
    "funnel_steps": """
        WITH t_view AS (
            SELECT user_id, MIN(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), t_click AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN t_view v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id
        ), t_purchase AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN t_click c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(*) FROM t_view) AS n_view,
               (SELECT COUNT(*) FROM t_click) AS n_click,
               (SELECT COUNT(*) FROM t_purchase) AS n_purchase
    """,
    "retention_cohorts": """
        WITH first AS (
            SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
            FROM events GROUP BY user_id
        ), active AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day
            FROM events
        )
        SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
               CAST(date_diff('day', f.cohort_day, a.active_day) AS BIGINT)
                   AS day_offset,
               COUNT(DISTINCT a.user_id) AS n_users
        FROM active a JOIN first f ON a.user_id = f.user_id
        WHERE date_diff('day', f.cohort_day, a.active_day) <= 7
        GROUP BY 1, 2
    """,
    "scd2_history": """
        SELECT user_id, event_type,
               ts AS valid_from,
               LEAD(ts) OVER w AS valid_to,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
               (LEAD(ts) OVER w IS NULL) AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "anomaly_zscore": """
        WITH c AS (
            SELECT event_id, event_type, value,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ), stats AS (
            SELECT event_type,
                   CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                       AS mean_c,
                   sqrt(CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE)
                            / CAST(COUNT(*) AS DOUBLE)
                        - (CAST(SUM(cents) AS DOUBLE)
                               / CAST(COUNT(*) AS DOUBLE))
                          * (CAST(SUM(cents) AS DOUBLE)
                                 / CAST(COUNT(*) AS DOUBLE))) AS std_c
            FROM c GROUP BY event_type
        )
        SELECT c.event_id, c.event_type, c.value,
               (CAST(c.cents AS DOUBLE) - s.mean_c) / s.std_c AS zscore
        FROM c JOIN stats s ON c.event_type = s.event_type
        WHERE abs((CAST(c.cents AS DOUBLE) - s.mean_c) / s.std_c) > 2.0
    """,
}
