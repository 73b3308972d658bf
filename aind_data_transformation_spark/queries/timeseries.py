"""Time-series operators over the ``events`` table: gap filling with
forward fill (the hypertable-rollup companion every monitoring pipeline
needs) and a banded event-time range join (interval join as an equi-join).

Determinism: ``value`` aggregates use the integer-cents scheme
(numeric.py); timestamps are the µs-normalized ``events.ts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import (
    attach_broadcast,
    halo_blocks,
    local_materializer,
    series_row_number,
)


def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily rollup with gap filling + forward fill: build each
    user's full day grid from their first to last event (sequence +
    explode — no driver loop, no cross join against a calendar table),
    left-join the real daily totals, and carry the last observed total
    forward across silent days.

    Distributed shape: the rollup is one groupBy shuffle; the grid
    explode is embarrassingly parallel per user; the forward fill is a
    linear ``last(ignorenulls)`` window scan inside the same user
    partitioning — three narrow stages, no global sort. At 100 TB the
    grid size is bounded by users × days, orders of magnitude below the
    event count."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("day_cents"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .withColumn("filled_cents", F.last("day_cents", ignorenulls=True).over(w))
        .select("user_id", "day", "day_cents", "filled_cents")
    )


def q_join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join, banded: for every click, how many events
    the same user produced in the following hour. The naive form is a
    non-equi join (``b.ts > a.ts AND b.ts <= a.ts + 1h``) — a nested-loop
    disaster at scale. Banding by hour bucket turns it into an equi-join
    on (user_id, bucket) probed at bucket k and k+1 (every interval of
    length <= 1h spans at most two hour buckets), with the exact range
    predicate applied only inside matching buckets. Two hash-join probes,
    zero cartesian anywhere in the plan."""
    e = load_table(spark, sf_dir, "events")
    bucket = F.expr("unix_timestamp(ts) div 3600")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("ts_a"), bucket.alias("bk")
    )
    right = e.select(
        "user_id", F.col("ts").alias("ts_b"), bucket.alias("bk_b")
    )
    probes = clicks.select(
        "event_id",
        "user_id",
        "ts_a",
        F.explode(F.array(F.col("bk"), F.col("bk") + 1)).alias("bk_b"),
    )
    matched = (
        probes.join(right, ["user_id", "bk_b"])
        .where(
            (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_next_hour"))
    )
    return (
        clicks.select("event_id")
        .join(matched, "event_id", "left")
        .select(
            "event_id",
            F.coalesce("n_next_hour", F.lit(0)).alias("n_next_hour"),
        )
    )


def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across silent days — the numeric upgrade of
    :func:`q_ts_gapfill`'s forward fill. Same per-user day grid (so the
    first and last grid rows are always observed), then each gap row
    takes prev + (next - prev) * elapsed/gap_len from the nearest
    observed days on either side (ignore-nulls running last/first over
    the same user partitioning — two linear window scans, no self-join,
    no per-row subqueries). All inputs are exact integers (cents, day
    counts) cast to double, and the formula is the same +,-,*,/ tree in
    both engines, so IEEE-754 makes the result bit-identical to the
    DuckDB oracle."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("day_cents"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        ),
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_cents").isNotNull(), F.col("day"))
    joined = (
        grid.join(daily, ["user_id", "day"], "left")
        .withColumn("prev_cents", F.last("day_cents", ignorenulls=True).over(w_back))
        .withColumn("prev_day", F.last(obs_day, ignorenulls=True).over(w_back))
        .withColumn("next_cents", F.first("day_cents", ignorenulls=True).over(w_fwd))
        .withColumn("next_day", F.first(obs_day, ignorenulls=True).over(w_fwd))
    )
    interp = F.when(
        F.col("day_cents").isNotNull(), F.col("day_cents").cast("double")
    ).otherwise(
        F.col("prev_cents").cast("double")
        + (F.col("next_cents") - F.col("prev_cents")).cast("double")
        * (
            F.datediff("day", "prev_day").cast("double")
            / F.datediff("next_day", "prev_day").cast("double")
        )
    )
    return joined.select(
        "user_id", "day", "day_cents", interp.alias("interp_cents")
    )


def q_ts_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: events roll up to
    minutely partials, hourly from the minutely layer, daily from the
    hourly layer — each layer computed ONLY from the one below, never
    from raw events. This works because the aggregates are mergeable
    (sum/count/min/max compose associatively), which is exactly what a
    materialized rollup hierarchy exploits at 100 TB: the daily job reads
    the hourly table (~5 orders of magnitude smaller than raw), and
    backfills touch one layer. The oracle computes daily straight from
    raw events — the cascade must be indistinguishable, proving the
    merge algebra is lossless."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    minutely = e.groupBy(
        F.date_trunc("minute", "ts").alias("m"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("cents"),
        F.min(cents).alias("min_c"),
        F.max(cents).alias("max_c"),
    )
    hourly = minutely.groupBy(
        F.date_trunc("hour", "m").alias("h"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("cents").alias("cents"),
        F.min("min_c").alias("min_c"),
        F.max("max_c").alias("max_c"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "h").alias("day"), "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("cents").alias("total_cents"),
            F.min("min_c").alias("min_cents"),
            F.max("max_c").alias("max_cents"),
            F.count(F.lit(1)).alias("n_hours"),
        )
    )


def q_ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (parallel variant) of
    each event type's series to 20 buckets: within a bucket, keep the
    point with the largest triangle area against the *previous and next
    bucket averages* (the classic LTTB uses the previously-selected point
    — a sequential chain; anchoring on bucket averages is the standard
    parallelization, same visual fidelity class). Edge buckets (no
    neighbor average) keep their earliest point.

    Determinism: x = exact microseconds, y = exact cents; bucket ids come
    from integer DIV on row_number; bucket averages are exact-int sums
    cast to double, so the area arithmetic (IEEE *,-,abs on identical
    operands) is bit-identical across engines and the per-bucket argmax
    (area DESC NULLS LAST, x ASC) cannot drift.

    Scale: point numbering uses ops.series_row_number (two-phase: local
    ranks in (type, hour-bucket) partitions + broadcast bucket offsets)
    and the per-type point count is a broadcast aggregate — parallelism
    ∝ rows/bucket, never capped at the series-key cardinality; then one
    bucket-keyed aggregation, a 20-row-per-series broadcast-sized
    neighbor join back, and a per-bucket top-1 window — no global sort,
    no cross product."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("yc"),
    )
    # the deduped point set feeds counts + both series_row_number
    # phases, and the bucketed frame fans into the averages and the
    # final join (6 events scans before). Stage the points once — the
    # deduped series is the natural persisted input of a downsampler.
    pts = local_materializer(
        e.groupBy("event_type", "x").agg(F.max("yc").alias("yc")),
        "lttb_points",
    )
    counts = pts.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    numbered = series_row_number(
        pts, ["event_type"], ["x"], "x div 3600000000"
    ).join(F.broadcast(counts), "event_type")
    bucketed = numbered.withColumn(
        "bucket", F.expr("CAST(((rn - 1) * 20) DIV n AS BIGINT)")
    )
    avgs = bucketed.groupBy("event_type", "bucket").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("ax"),
        (F.sum("yc").cast("double") / F.count(F.lit(1))).alias("ay"),
        F.count(F.lit(1)).cast("long").alias("n_src"),
    )
    wb = Window.partitionBy("event_type").orderBy("bucket")
    anchors = avgs.select(
        "event_type",
        "bucket",
        "n_src",
        F.lag("ax").over(wb).alias("px"),
        F.lag("ay").over(wb).alias("py"),
        F.lead("ax").over(wb).alias("nx"),
        F.lead("ay").over(wb).alias("ny"),
    )
    joined = bucketed.join(anchors, ["event_type", "bucket"])
    area = F.abs(
        (F.col("px") - F.col("nx"))
        * (F.col("yc").cast("double") - F.col("py"))
        - (F.col("px") - F.col("x").cast("double"))
        * (F.col("ny") - F.col("py"))
    )
    wsel = Window.partitionBy("event_type", "bucket").orderBy(
        area.desc_nulls_last(), F.col("x").asc()
    )
    return (
        joined.withColumn("sel", F.row_number().over(wsel))
        .where(F.col("sel") == 1)
        .select(
            "event_type",
            "bucket",
            F.col("x").alias("x_us"),
            F.col("yc").alias("y_cents"),
            "n_src",
        )
    )


def q_ts_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index per event type: mean event value on
    each ISO weekday divided by the type's overall mean — the naive
    seasonal decomposition a forecasting pipeline computes before
    de-seasonalizing. Sums accumulate in exact integer cents; both means
    and the ratio are the identical double-division sequence in both
    engines, so results hash-match. ISO weekday (1=Mon..7=Sun) via
    ``weekday()+1`` on Spark and ``isodow()`` on DuckDB — both evaluated
    on UTC-pinned timestamps.

    Scale: one hash aggregation to (type, dow) — 7 rows per type — and a
    broadcast-sized join back to per-type totals. The fact shuffles
    once."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.weekday("ts") + F.lit(1)).cast("long").alias("isodow"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    by_dow = e.groupBy("event_type", "isodow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("c"),
    )
    by_type = by_dow.groupBy("event_type").agg(
        F.sum("n").alias("tn"), F.sum("c").alias("tc")
    )
    mean_dow = F.col("c").cast("double") / F.col("n").cast("double")
    mean_type = F.col("tc").cast("double") / F.col("tn").cast("double")
    return (
        by_dow.join(F.broadcast(by_type), "event_type")
        .select(
            "event_type",
            "isodow",
            "n",
            (mean_dow / 100.0).alias("mean_value"),
            (mean_dow / mean_type).alias("seasonal_ratio"),
        )
    )


def q_ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily 'view' and 'purchase'
    value series (lags -3..+3) — the lead/lag-detection primitive of a
    forecasting pipeline ("do views predict purchases k days later?").

    Daily sums accumulate in exact integer cents on an epoch-day integer
    key (``unix_micros DIV 86.4e9`` — no timezone semantics at all); each
    lag is one equi-join of the compact daily frame against itself
    shifted by the lag, and Pearson r closes from the six exact integer
    moments in one identical double expression per engine.

    Scale: the fact table shuffles once down to the day domain; the 7
    lag joins run over that bounded aggregate (days, not rows)."""
    e = load_table(spark, sf_dir, "events")
    day_us = 86_400_000_000
    daily = (
        e.where(F.col("event_type").isin("view", "purchase"))
        .groupBy(
            (F.unix_micros("ts") / day_us).cast("long").alias("day")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "view",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("x"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("y"),
        )
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("long").alias("lag"))
    a = daily.select("day", "x")
    b = daily.select(F.col("day").alias("day_b"), "y")
    shifted = (
        a.transform(attach_broadcast, F.broadcast(lags))
        .join(b, F.col("day_b") == F.col("day") + F.col("lag"))
    )
    # daily totals are unbounded at scale: cast operands to decimal(19,0)
    # so second-moment products accumulate exactly in decimal(38,0)
    # (mirrors q_ml_ols_multifeat) instead of silently wrapping int64
    d19 = "decimal(19,0)"
    xd, yd = F.col("x").cast(d19), F.col("y").cast(d19)
    m = shifted.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    r = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    return m.select(
        "lag",
        F.col("n").cast("long").alias("n_days"),
        r.alias("xcorr"),
    )


def q_ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of each event type's daily
    series (the moving-average STL variant): trend = centered 7-day
    moving average (full windows only), seasonal = day-of-week mean of
    the detrended series, residual = what remains. The before-modeling
    diagnostic every forecasting pipeline runs.

    Exactness: daily values are integer cents; the trend window sum and
    the 7x-scaled detrended value (7·c − Σ₇c) stay exact integers, the
    seasonal component is one integer-sum division per dow group, and
    trend/seasonal/residual close in identical double trees — no double
    is ever summed across rows.

    Scale: one fact shuffle to (type, day); the ±3 trend window and the
    dow aggregation run over the bounded day domain (days × types, not
    rows)."""
    e = load_table(spark, sf_dir, "events")
    day_us = 86_400_000_000
    daily = e.groupBy(
        "event_type",
        (F.unix_micros("ts") / day_us).cast("long").alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trended = (
        daily.withColumn("t7", F.sum("c").over(w7))
        .withColumn("nw", F.count(F.lit(1)).over(w7))
        .where(F.col("nw") == 7)
        # detr7 = 7*c - Σ₇c : the detrended value scaled by 7, exact int
        .withColumn("detr7", 7 * F.col("c") - F.col("t7"))
        .withColumn("dow", F.pmod(F.col("day") + 4, F.lit(7)).cast("long"))
    )
    seas = trended.groupBy("event_type", "dow").agg(
        F.sum("detr7").alias("s7_sum"), F.count(F.lit(1)).alias("s_n")
    )
    joined = trended.join(F.broadcast(seas), ["event_type", "dow"])
    seasonal = (
        F.col("s7_sum").cast("double")
        / F.col("s_n").cast("double")
        / F.lit(700.0)
    )
    detr = F.col("detr7").cast("double") / F.lit(700.0)
    return joined.select(
        "event_type",
        "day",
        "dow",
        (F.col("c").cast("double") / 100.0).alias("value"),
        (F.col("t7").cast("double") / 700.0).alias("trend"),
        seasonal.alias("seasonal"),
        (detr - seasonal).alias("residual"),
    )


def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of each event type's daily value series
    at lags 1..7 — the seasonality/memory diagnostic run before any
    forecasting model choice. Daily sums accumulate in exact integer
    cents on the epoch-day key; each lag is an equi-join of the compact
    daily frame against itself shifted, per (type, lag); Pearson r
    closes from exact decimal moments in one identical double tree.

    Scale: one fact shuffle down to (type, day); the 7 lag joins run
    over that bounded aggregate (days × types, not rows)."""
    e = load_table(spark, sf_dir, "events")
    day_us = 86_400_000_000
    daily = e.groupBy(
        "event_type",
        (F.unix_micros("ts") / day_us).cast("long").alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("lag"))
    a = daily.select("event_type", "day", F.col("c").alias("x"))
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("c").alias("y"),
    )
    shifted = a.transform(attach_broadcast, F.broadcast(lags)).join(
        b,
        (F.col("et_b") == F.col("event_type"))
        & (F.col("day_b") == F.col("day") + F.col("lag")),
    )
    d19 = "decimal(19,0)"
    xd, yd = F.col("x").cast(d19), F.col("y").cast(d19)
    m = shifted.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    r = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    return m.select(
        "event_type",
        "lag",
        F.col("n").cast("long").alias("n_days"),
        r.alias("acf"),
    )


def q_ts_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day and week-over-week growth of daily event value per
    event type — the dashboard staple. Daily sums in exact integer cents
    on the epoch-day key; DoD/WoW deltas via ``lag`` over the compact
    (type, day) aggregate; growth ratios close as one double division.

    Scale: one fact shuffle to (type, day); the lag window partitions on
    event_type over the bounded day domain."""
    e = load_table(spark, sf_dir, "events")
    day_us = 86_400_000_000
    daily = e.groupBy(
        "event_type",
        (F.unix_micros("ts") / day_us).cast("long").alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    dod = F.lag("c", 1).over(w)
    wow = F.lag("c", 7).over(w)
    return daily.select(
        "event_type",
        "day",
        (F.col("c").cast("double") / 100.0).alias("value_sum"),
        F.when(
            dod.isNotNull() & (dod != 0),
            (F.col("c") - dod).cast("double") / F.abs(dod).cast("double"),
        ).alias("dod_growth"),
        F.when(
            wow.isNotNull() & (wow != 0),
            (F.col("c") - wow).cast("double") / F.abs(wow).cast("double"),
        ).alias("wow_growth"),
    )


#: Hampel rolling half-width (window = ±_HAMPEL_K rows, full windows only)
_HAMPEL_K = 5
_HAMPEL_W = 2 * _HAMPEL_K + 1
_HAMPEL_MID = _HAMPEL_K + 1  # 1-based index of the lower median
#: rows per halo block — the scale knob: parallelism = series_rows / block
_HALO_BLOCK = 4096


def q_ts_outlier_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter: flag event values deviating from their rolling
    window median by more than 3 scaled rolling MADs (window = ±5 rows
    per event type, full windows only). Rolling median and MAD are exact
    on the integer-cent grid via sorted-array element extraction
    (``array_sort`` + ``element_at`` over ``collect_list``), so both
    engines agree bit-for-bit; the 3·1.4826·MAD threshold compares on a
    micro-scaled integer.

    Scale: a raw ``Window.partitionBy(event_type)`` would sort the whole
    fact in ≤|event_type| tasks. Instead the rolling window runs
    halo-segmented (ops.series_row_number + ops.halo_blocks): a dense
    per-series row number from the two-phase cumsum (hour-bucket local
    sorts + broadcast offsets), rows cut into 4096-row blocks with ±5
    ghost rows duplicated across block edges, the ±5 frame computed per
    (event_type, block) partition, and only owner rows emitted — output
    bit-identical to the global window (pinned by
    tests/test_properties.py::test_hampel_partition_invariant), with
    parallelism ∝ rows/4096 instead of ≤5."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    rn = series_row_number(
        e, ["event_type"], ["us", "event_id"], "us div 3600000000"
    )
    halo = halo_blocks(rn, "rn", _HALO_BLOCK, _HAMPEL_K, _HAMPEL_K)
    w = (
        Window.partitionBy("event_type", "__blk")
        .orderBy("rn")
        .rowsBetween(-_HAMPEL_K, _HAMPEL_K)
    )
    win = F.array_sort(F.collect_list("c").over(w))
    dev_sorted = F.array_sort(
        F.expr("transform(win_arr, x -> abs(x - med_v))")
    )
    out = (
        halo.withColumn("win_arr", win)
        .where(F.col("__own") & (F.size("win_arr") == _HAMPEL_W))
        .withColumn("med_v", F.element_at("win_arr", _HAMPEL_MID))
        .withColumn("mad_v", F.element_at(dev_sorted, _HAMPEL_MID))
        .withColumn(
            "is_outlier",
            # |x - med| > 3 * 1.4826 * MAD, on a 1e4-scaled integer grid
            (F.abs(F.col("c") - F.col("med_v")) * 10000)
            > (F.col("mad_v") * 44478),
        )
    )
    return out.where("is_outlier").select(
        "event_id",
        "event_type",
        (F.col("c").cast("double") / 100.0).alias("value"),
        (F.col("med_v").cast("double") / 100.0).alias("rolling_median"),
        (F.col("mad_v").cast("double") / 100.0).alias("rolling_mad"),
    )


def q_ts_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maxima (peak) detection per event type: a point is a peak
    when its value strictly exceeds all four ±2 neighbors in time order
    (full neighborhoods only) — the alerting primitive behind spike
    detection, with prominence = value − max(neighbors) reported on the
    exact cent grid.

    Scale: same halo-segmented machinery as hampel — two-phase row
    numbers, 4096-row blocks with ±2 ghost rows, the neighbor lags/leads
    on one (event_type, block) partition sort, owner rows only;
    parallelism ∝ rows/block, never the type cardinality."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    rn = series_row_number(
        e, ["event_type"], ["us", "event_id"], "us div 3600000000"
    )
    halo = halo_blocks(rn, "rn", _HALO_BLOCK, 2, 2)
    w = Window.partitionBy("event_type", "__blk").orderBy("rn")
    nb = [
        F.lag("c", 2).over(w).alias("m2"),
        F.lag("c", 1).over(w).alias("m1"),
        F.lead("c", 1).over(w).alias("p1"),
        F.lead("c", 2).over(w).alias("p2"),
    ]
    cand = halo.select("event_id", "event_type", "c", "__own", *nb).where(
        F.col("__own")
        & F.col("m2").isNotNull()
        & F.col("m1").isNotNull()
        & F.col("p1").isNotNull()
        & F.col("p2").isNotNull()
    )
    nmax = F.greatest("m2", "m1", "p1", "p2")
    return cand.where(F.col("c") > nmax).select(
        "event_id",
        "event_type",
        (F.col("c").cast("double") / 100.0).alias("value"),
        ((F.col("c") - nmax).cast("double") / 100.0).alias("prominence"),
    )


def q_ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event type: cumulative sum of
    deviations from the series mean over the daily aggregate; the day
    with the maximum |S| is the level-shift candidate, reported with its
    micro-scaled CUSUM score. Deviations stay exact: S accumulates
    cents·n-scaled integers (c·N - total, avoiding any division), so the
    argmax is engine-stable.

    Scale: one fact shuffle to (type, day); per-type totals broadcast;
    the cumsum window runs over the bounded day domain."""
    e = load_table(spark, sf_dir, "events")
    day_us = 86_400_000_000
    daily = e.groupBy(
        "event_type",
        (F.unix_micros("ts") / day_us).cast("long").alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    tot = daily.groupBy("event_type").agg(
        F.sum("c").alias("tc"), F.count(F.lit(1)).alias("nd")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # S_i * nd = sum_{j<=i}(c_j * nd - tc): integer-exact CUSUM
    scaled = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn(
            "s_scaled", F.sum(F.col("c") * F.col("nd") - F.col("tc")).over(w)
        )
    )
    wmax = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s_scaled")).desc(), F.col("day").asc()
    )
    return (
        scaled.withColumn("rk", F.row_number().over(wmax))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            (
                F.abs(F.col("s_scaled")).cast("double")
                / F.col("nd").cast("double")
                / 100.0
            ).alias("cusum_score"),
        )
    )


def q_ts_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear-trend forecast: fit value ~ day by OLS over the
    observed daily aggregate (exact integer moments per type, slope and
    intercept close in doubles) and emit a 7-day-ahead forecast — the
    simplest member of the forecasting family, fully in-plan.

    Scale: one fact shuffle to (type, day); the fit is a second
    partial-combined aggregation to one row per type; the horizon
    expansion is a 7-element ``sequence`` explode of that tiny frame —
    no window, no iteration."""
    e = load_table(spark, sf_dir, "events")
    day_us = 86_400_000_000
    daily = e.groupBy(
        "event_type",
        (F.unix_micros("ts") / day_us).cast("long").alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    # day*c mixes a bounded key with an unbounded daily total: decimal
    # operands keep the moment sums exact at any scale (cf. ml_ols_multifeat)
    d19 = "decimal(19,0)"
    dayd, cd = F.col("day").cast(d19), F.col("c").cast(d19)
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("day").cast("double").alias("sx"),
        F.sum("c").cast("double").alias("sy"),
        F.sum(dayd * dayd).cast("double").alias("sxx"),
        F.sum(dayd * cd).cast("double").alias("sxy"),
        F.max("day").alias("last_day"),
    )
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    fitted = m.select(
        "event_type",
        "last_day",
        slope.alias("b"),
        intercept.alias("a"),
    )
    horizon = fitted.select(
        "event_type",
        "a",
        "b",
        F.explode(
            F.sequence(F.col("last_day") + 1, F.col("last_day") + 7)
        ).alias("day"),
    )
    return horizon.select(
        "event_type",
        F.col("day").cast("long").alias("forecast_day"),
        (
            (F.col("a") + F.col("b") * F.col("day").cast("double")) / 100.0
        ).alias("forecast_value"),
    )


#: EWMA smoothing factor and window depth (finite-window approximation)
_EWMA_ALPHA = 0.3
_EWMA_DEPTH = 20
_EWMA_WEIGHTS = [
    _EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** i for i in range(_EWMA_DEPTH)
]


def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of event values per type,
    as a bounded 20-term window (truncated-geometric weights, normalized
    by the finite weight sum; only rows with full history emit). The
    recurrence y_t = a*x_t + (1-a)*y_{t-1} is inherently sequential — a
    scan no engine parallelizes — but its bounded unrolling is 20
    ``lag`` columns over ONE window sort, each term integer-rounded on a
    1e-6 grid before summation (module doctrine: per-term doubles are
    identical literals x identical operands in both engines; the sum of
    integers is order-independent), so it distributes AND hash-matches.

    Scale: the 20 lags run halo-segmented (ops.series_row_number +
    ops.halo_blocks) — dense per-series row numbers from the two-phase
    cumsum, 4096-row blocks with a 19-row preceding ghost margin, lags
    computed per (event_type, block) partition, owner rows only —
    bit-identical to the per-type global sort while parallelism scales
    ∝ rows/4096 instead of being capped at the event-type cardinality.
    Weights are plan literals — no state, no unbounded window."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    rn = series_row_number(
        e, ["event_type"], ["us", "event_id"], "us div 3600000000"
    )
    halo = halo_blocks(rn, "rn", _HALO_BLOCK, _EWMA_DEPTH - 1, 0)
    w = Window.partitionBy("event_type", "__blk").orderBy("rn")
    lagged = halo.select(
        "event_id",
        "event_type",
        "rn",
        "__own",
        *[
            F.lag("cents", i).over(w).alias(f"l{i}")
            for i in range(_EWMA_DEPTH)
        ],
    ).where("__own")
    terms = " + ".join(
        f"CAST(round(CAST(l{i} AS DOUBLE) * CAST('{w_!r}' AS DOUBLE)"
        f" * 1000000.0D) AS BIGINT)"
        for i, w_ in enumerate(_EWMA_WEIGHTS)
    )
    # ONE multiplication by a shared string-cast constant: DuckDB parses
    # bare decimal literals as DECIMAL (different rounding), so the
    # normalizer is round-tripped through CAST('<repr>' AS DOUBLE) in both
    # dialects — string->double parsing is correctly-rounded everywhere.
    inv = 1.0 / (1e6 * sum(_EWMA_WEIGHTS) * 100.0)
    return (
        lagged.where(F.col("rn") >= _EWMA_DEPTH)
        .select(
            "event_id",
            "event_type",
            (
                F.expr(f"CAST(({terms}) AS DOUBLE)")
                * F.expr(f"CAST('{inv!r}' AS DOUBLE)")
            ).alias("ewma_value"),
        )
    )


def _ewma_oracle() -> str:
    lags = ",\n                   ".join(
        f"lag(cents, {i}) OVER w AS l{i}" for i in range(_EWMA_DEPTH)
    )
    terms = " + ".join(
        f"CAST(round(CAST(l{i} AS DOUBLE) * CAST('{w_!r}' AS DOUBLE)"
        f" * 1000000.0) AS BIGINT)"
        for i, w_ in enumerate(_EWMA_WEIGHTS)
    )
    inv = 1.0 / (1e6 * sum(_EWMA_WEIGHTS) * 100.0)
    return f"""
        WITH e AS (
            SELECT event_id, event_type, epoch_us(ts) AS us,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        lagged AS (
            SELECT event_id, event_type,
                   row_number() OVER w AS rn,
                   {lags}
            FROM e
            WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)
        )
        SELECT event_id, event_type,
               CAST(({terms}) AS DOUBLE) * CAST('{inv!r}' AS DOUBLE)
                   AS ewma_value
        FROM lagged
        WHERE rn >= {_EWMA_DEPTH}
    """


def q_ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (the error-free line-chart reduction: per pixel
    bucket keep min, max, first, and last — provably sufficient to
    render the exact pixel-perfect line): per (event_type, day) emit
    min/max value and the first/last observation by (ts, event_id).

    first/last are ``min_by``/``max_by`` over the (us, event_id) struct
    key — one hash aggregation, fully map-side-combinable (each partial
    keeps 4 scalars per group), so a 100-TB series downsamples in one
    shuffle of |type × day| rows. Values stay on the integer-cent grid
    until the final division."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    day_us = 86_400_000_000
    key = F.struct(F.col("us"), F.col("event_id"))
    agg = e.groupBy(
        "event_type",
        (F.col("us") / day_us).cast("long").alias("day"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.min("c").alias("vmin"),
        F.max("c").alias("vmax"),
        F.min_by("c", key).alias("vfirst"),
        F.max_by("c", key).alias("vlast"),
    )
    return agg.select(
        "event_type",
        "day",
        "n_points",
        (F.col("vmin").cast("double") / 100.0).alias("v_min"),
        (F.col("vmax").cast("double") / 100.0).alias("v_max"),
        (F.col("vfirst").cast("double") / 100.0).alias("v_first"),
        (F.col("vlast").cast("double") / 100.0).alias("v_last"),
    )


#: Holt's linear (double-exponential) smoothing, truncated to a bounded
#: lag window like the EWMA: level/trend are a linear recurrence
#: s_t = A s_{t-1} + v x_t with constant A, v, so the truncated state is
#: a weighted sum of the last K inputs with PLAN-LITERAL weights A^i v —
#: computed here once in Python and inlined identically in both dialects.
_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3
_HOLT_DEPTH = 24


def _holt_weights() -> tuple[list, list]:
    a, b = _HOLT_ALPHA, _HOLT_BETA
    # A = [[1-a, 1-a], [-a*b, 1-a*b]], v = (a, a*b)
    m = ((1.0 - a, 1.0 - a), (-a * b, 1.0 - a * b))
    cur = (a, a * b)  # A^0 v
    wl, wb = [], []
    for _ in range(_HOLT_DEPTH):
        wl.append(cur[0])
        wb.append(cur[1])
        cur = (
            m[0][0] * cur[0] + m[0][1] * cur[1],
            m[1][0] * cur[0] + m[1][1] * cur[1],
        )
    return wl, wb


def _holt_terms(weights: list) -> str:
    # the 1e6 grid scale folds into the weight literal so ONE builder
    # serves both dialects (bare decimal literals parse as DECIMAL in
    # both engines; the string-cast double is correctly-rounded in both)
    return " + ".join(
        f"CAST(round(CAST(l{i} AS DOUBLE)"
        f" * CAST('{w * 1e6!r}' AS DOUBLE)) AS BIGINT)"
        for i, w in enumerate(weights)
    )


def q_ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (level + trend double-exponential) smoothing per
    event type, truncated to the last 24 observations, with the h=1
    forecast level+trend. The coupled recurrence is linear with constant
    coefficients, so the truncated state is two weighted lag-sums whose
    weights (A^i·v) are computed once driver-side and inlined as
    IDENTICAL literals in both engines; each term integer-rounds on a
    1e-6 grid before the order-independent integer sum (module
    doctrine), so it distributes AND hash-matches.

    Scale: same halo-segmented shape as `ts_ewma` — two-phase row
    numbers, 4096-row blocks with a 23-row ghost margin; parallelism ∝
    rows/4096. The weighted sums run as ONE `collect_list` frame window
    plus `zip_with`/`aggregate` higher-order functions over the 24-slot
    array instead of 24 `lag` windows feeding 48 unrolled
    cast-round-multiply terms: the term arithmetic is identical
    (round(CAST(v AS DOUBLE) · w·1e6) per slot, exact integer sum) but
    the expression tree shrinks ~20×. Measured at sf0.1 local[32]
    (PERF.md): cold 3.05 s vs 3.28 s unrolled, warm ~1.0 s vs ~1.2 s —
    a modest win both ways plus a far smaller codegen unit; the
    ann_pq_topk compact-HOF-vs-unrolled tradeoff, decided the same way
    under the cold-plan bench protocol."""
    wl, wb = _holt_weights()
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    rn = series_row_number(
        e, ["event_type"], ["us", "event_id"], "us div 3600000000"
    )
    halo = halo_blocks(rn, "rn", _HALO_BLOCK, _HOLT_DEPTH - 1, 0)
    w = (
        Window.partitionBy("event_type", "__blk")
        .orderBy("rn")
        .rowsBetween(-(_HOLT_DEPTH - 1), 0)
    )
    vals = (
        halo.select(
            "event_id",
            "event_type",
            "rn",
            "__own",
            F.collect_list("cents").over(w).alias("__vals"),
        )
        .where("__own")
        .where(F.col("rn") >= _HOLT_DEPTH)
    )

    def warr(ws: list) -> str:
        return (
            "array("
            + ", ".join(f"CAST('{wt * 1e6!r}' AS DOUBLE)" for wt in ws)
            + ")"
        )

    def wsum(ws: list) -> str:
        # __vals is frame-ordered oldest→current; reverse aligns slot i
        # with lag i so the weight vectors apply unchanged
        return (
            f"aggregate(zip_with(reverse(__vals), {warr(ws)},"
            " (v, wt) -> CAST(round(CAST(v AS DOUBLE) * wt) AS BIGINT)),"
            " 0L, (acc, x) -> acc + x)"
        )

    inv = "CAST('1e-08' AS DOUBLE)"  # 1e-6 grid x cents
    return vals.select(
        "event_id",
        "event_type",
        F.expr(f"CAST(({wsum(wl)}) AS DOUBLE) * {inv}").alias("level"),
        F.expr(f"CAST(({wsum(wb)}) AS DOUBLE) * {inv}").alias("trend"),
    ).withColumn("forecast_1", F.col("level") + F.col("trend"))


def _holt_oracle() -> str:
    wl, wb = _holt_weights()
    lags = ",\n                   ".join(
        f"lag(cents, {i}) OVER w AS l{i}" for i in range(_HOLT_DEPTH)
    )
    inv = "CAST('1e-08' AS DOUBLE)"
    lvl = f"CAST(({_holt_terms(wl)}) AS DOUBLE) * {inv}"
    trd = f"CAST(({_holt_terms(wb)}) AS DOUBLE) * {inv}"
    return f"""
        WITH e AS (
            SELECT event_id, event_type, epoch_us(ts) AS us,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        lagged AS (
            SELECT event_id, event_type,
                   row_number() OVER w AS rn,
                   {lags}
            FROM e
            WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)
        )
        SELECT event_id, event_type,
               {lvl} AS level,
               {trd} AS trend,
               ({lvl}) + ({trd}) AS forecast_1
        FROM lagged
        WHERE rn >= {_HOLT_DEPTH}
    """


def q_ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average (the TimescaleDB ``time_weight``
    op): each observation's value is held until the next observation, so
    the mean weights by holding duration, not by sample count — the
    correct average for irregularly-sampled gauges. Weights are integer
    SECONDS (``dt_us DIV 1_000_000``) and values integer cents, so the
    weighted sum is exact int64 (bounded ~1e12 per user) and
    order-independent; the final division is one identical double op.
    Users whose observations all fall in the same second are dropped
    (zero total weight).

    Scale: one window shuffle on user_id for the ``lead``, one hash
    aggregation per user. Nothing global."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seg = (
        e.withColumn("nxt_us", F.lead("us").over(w))
        .where(F.col("nxt_us").isNotNull())
        .select(
            "user_id",
            "cents",
            F.expr("(nxt_us - us) DIV 1000000").alias("dt_s"),
        )
    )
    agg = seg.groupBy("user_id").agg(
        F.sum(F.col("cents") * F.col("dt_s")).alias("wsum"),
        F.sum("dt_s").alias("tsum"),
        F.count(F.lit(1)).alias("n_segments"),
    )
    return agg.where(F.col("tsum") > 0).select(
        "user_id",
        "n_segments",
        "tsum",
        (
            F.col("wsum").cast("double")
            / F.col("tsum").cast("double")
            / F.lit(100.0)
        ).alias("twa_value"),
    )


_BT_ORIGINS = 5  #: rolling-origin backtest: evaluate the last 5 days


def q_ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest: for each event type and each of
    the last 5 days, fit an OLS linear trend on ALL daily totals strictly
    before that origin day, forecast the origin, and report absolute and
    percentage error — the honest evaluation protocol for any forecaster
    (one train/test split per origin, never trained on the future).

    Exactness: per-(type, origin) OLS moments (n, Σd, Σy, Σdy, Σd²)
    accumulate exactly with decimal(38,0) product sums (day × cent
    totals can pass int64 at cluster scale); slope/intercept/forecast
    close in one identical double tree; errors round to 6 dp.

    Scale: the fact table collapses to the (type, day) domain first; the
    train-set expansion is (bounded days) × (5 origins) on that compact
    frame — a banded self-join on the day domain, never on raw rows."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("d"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    w_last = Window.partitionBy("event_type").orderBy(F.col("d").desc())
    origins = (
        daily.withColumn("rk", F.row_number().over(w_last))
        .where(F.col("rk") <= _BT_ORIGINS)
        .select(
            "event_type",
            F.col("d").alias("origin_d"),
            F.col("y").alias("actual_y"),
        )
    )
    train = origins.join(
        daily.select("event_type", "d", "y"), "event_type"
    ).where(F.col("d") < F.col("origin_d"))
    dd, dy = "CAST(d AS DECIMAL(19,0))", "CAST(y AS DECIMAL(19,0))"
    m = train.groupBy("event_type", "origin_d", "actual_y").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("sd"),
        F.sum("y").alias("sy"),
        F.expr(f"SUM({dd} * {dy})").alias("sdy"),
        F.expr(f"SUM({dd} * {dd})").alias("sdd"),
    )
    # b = (n·Σdy − Σd·Σy) / (n·Σd² − Σd²); a = (Σy − b·Σd)/n
    b = (
        "((CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE)"
        " - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)"
        " - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)))"
    )
    pred = (
        f"((CAST(sy AS DOUBLE) - {b} * CAST(sd AS DOUBLE))"
        f" / CAST(n AS DOUBLE) + {b} * CAST(origin_d AS DOUBLE))"
    )
    return m.where(F.col("n") >= 2).select(
        "event_type",
        "origin_d",
        (F.col("actual_y").cast("double") / 100.0).alias("actual"),
        F.expr(f"round({pred} / 100.0, 6)").alias("forecast"),
        F.expr(
            f"round(abs({pred} - CAST(actual_y AS DOUBLE)) / 100.0, 6)"
        ).alias("abs_err"),
        F.expr(
            f"round(abs({pred} - CAST(actual_y AS DOUBLE))"
            " / abs(CAST(actual_y AS DOUBLE)) * 100.0, 6)"
        ).alias("pct_err"),
    )


def q_ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: the LOWER MEDIAN of all
    pairwise slopes between daily totals — the outlier-resistant
    alternative to OLS (a few corrupted days cannot move it, unlike
    `ts_linear_forecast`'s least squares).

    Exactness: slopes are one double division of exact integer
    (Δcents, Δdays) pairs — identical in both engines; the lower median
    picks by row_number over (slope, day-pair) with a full tiebreak, so
    no averaging and no float comparison ambiguity.

    Scale: the fact table collapses to the (type, day) domain FIRST;
    the pair explosion is the bounded day domain squared (~30²/2 per
    type — thousands of rows, not facts²), and the median window runs
    per type over that bounded pair set. The banded self-join is an
    equi-join on event_type."""
    e = load_table(spark, sf_dir, "events")
    # the (type, day) domain feeds both self-join sides AND the pair
    # branch twice (count + rank) — un-staged the events aggregation ran
    # 4×. The frame is |types|·|days| rows; staged once.
    daily = local_materializer(
        e.groupBy(
            "event_type",
            (F.unix_micros("ts") / F.lit(86_400_000_000))
            .cast("long")
            .alias("d"),
        ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")),
        "theil_sen_daily",
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.d").alias("d1"),
        F.col("b.d").alias("d2"),
        F.expr(
            "CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)"
        ).alias("slope"),
    )
    w = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    counted = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    ranked = pairs.withColumn("rk", F.row_number().over(w)).join(
        F.broadcast(counted), "event_type"
    )
    # integer div, not `/` (double): an even pair count would make
    # (n+1)/2 = x.5 and the equality silently match nothing
    return ranked.where(
        F.expr("rk = (n_pairs + 1) div 2")
    ).select(
        "event_type",
        "n_pairs",
        F.expr("round(slope / 100.0, 6)").alias("trend_per_day"),
    )


QUERIES = {
    "ts_theil_sen_trend": q_ts_theil_sen_trend,
    "ts_forecast_backtest": q_ts_forecast_backtest,
    "ts_m4_downsample": q_ts_m4_downsample,
    "ts_acf": q_ts_acf,
    "ts_stl_decompose": q_ts_stl_decompose,
    "ts_peak_detect": q_ts_peak_detect,
    "ts_holt_linear": q_ts_holt_linear,
    "ts_ewma": q_ts_ewma,
    "ts_time_weighted_avg": q_ts_time_weighted_avg,
    "ts_seasonal_dow": q_ts_seasonal_dow,
    "ts_cross_correlation": q_ts_cross_correlation,
    "ts_period_over_period": q_ts_period_over_period,
    "ts_outlier_hampel": q_ts_outlier_hampel,
    "ts_changepoint_cusum": q_ts_changepoint_cusum,
    "ts_linear_forecast": q_ts_linear_forecast,
    "ts_gapfill": q_ts_gapfill,
    "ts_interpolate": q_ts_interpolate,
    "ts_rollup_cascade": q_ts_rollup_cascade,
    "ts_downsample_lttb": q_ts_downsample_lttb,
    "join_range_banded": q_join_range_banded,
}

ORACLES = {
    "ts_theil_sen_trend": """
        WITH daily AS (
            SELECT event_type,
                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                   SUM(CAST(round(value * 100) AS BIGINT)) AS y
            FROM events GROUP BY 1, 2
        ), pairs AS (
            SELECT a.event_type, a.d AS d1, b.d AS d2,
                   CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
                       AS slope
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.d < b.d
        ), ranked AS (
            SELECT *,
                   row_number() OVER (PARTITION BY event_type
                        ORDER BY slope, d1, d2) AS rk,
                   count(*) OVER (PARTITION BY event_type) AS n_pairs
            FROM pairs
        )
        SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
               round(slope / 100.0, 6) AS trend_per_day
        FROM ranked
        WHERE rk = (n_pairs + 1) // 2
    """,
    "ts_forecast_backtest": f"""
        WITH daily AS (
            SELECT event_type,
                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                   SUM(CAST(round(value * 100) AS BIGINT)) AS y
            FROM events GROUP BY 1, 2
        ), origins AS (
            SELECT event_type, d AS origin_d, y AS actual_y
            FROM (
                SELECT *, row_number() OVER (PARTITION BY event_type
                              ORDER BY d DESC) AS rk
                FROM daily
            ) WHERE rk <= {_BT_ORIGINS}
        ), m AS (
            SELECT o.event_type, o.origin_d, o.actual_y,
                   count(*) AS n,
                   SUM(t.d) AS sd,
                   SUM(t.y) AS sy,
                   SUM(CAST(t.d AS DECIMAL(19,0))
                       * CAST(t.y AS DECIMAL(19,0))) AS sdy,
                   SUM(CAST(t.d AS DECIMAL(19,0))
                       * CAST(t.d AS DECIMAL(19,0))) AS sdd
            FROM origins o
            JOIN daily t ON o.event_type = t.event_type
                        AND t.d < o.origin_d
            GROUP BY 1, 2, 3
        )
        SELECT event_type, origin_d,
               CAST(actual_y AS DOUBLE) / 100.0 AS actual,
               round(((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) * CAST(sd AS DOUBLE)) / CAST(n AS DOUBLE) + ((CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) * CAST(origin_d AS DOUBLE)) / 100.0, 6)
                   AS forecast,
               round(abs(((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) * CAST(sd AS DOUBLE)) / CAST(n AS DOUBLE) + ((CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) * CAST(origin_d AS DOUBLE)) - CAST(actual_y AS DOUBLE)) / 100.0, 6)
                   AS abs_err,
               round(abs(((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) * CAST(sd AS DOUBLE)) / CAST(n AS DOUBLE) + ((CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) * CAST(origin_d AS DOUBLE)) - CAST(actual_y AS DOUBLE)) / abs(CAST(actual_y AS DOUBLE)) * 100.0, 6)
                   AS pct_err
        FROM m WHERE n >= 2
    """,
    "ts_linear_forecast": """
        WITH daily AS (
            SELECT event_type,
                   epoch_us(ts) // 86400000000 AS day,
                   SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
            FROM events GROUP BY 1, 2
        ),
        m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(day)::BIGINT AS DOUBLE) AS sx,
                   CAST(SUM(c)::BIGINT AS DOUBLE) AS sy,
                   CAST(SUM(CAST(day AS DECIMAL(19,0))
                            * CAST(day AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(day AS DECIMAL(19,0))
                            * CAST(c AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
                   MAX(day) AS last_day
            FROM daily GROUP BY event_type
        ),
        fitted AS (
            SELECT event_type, last_day,
                   (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
                   (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                       AS a
            FROM m
        )
        SELECT event_type,
               CAST(h.day AS BIGINT) AS forecast_day,
               (a + b * CAST(h.day AS DOUBLE)) / 100.0 AS forecast_value
        FROM fitted,
             LATERAL (SELECT unnest(range(last_day + 1, last_day + 8)) AS day) h
    """,
    "ts_period_over_period": """
        WITH daily AS (
            SELECT event_type,
                   epoch_us(ts) // 86400000000 AS day,
                   SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, CAST(day AS BIGINT) AS day,
               CAST(c AS DOUBLE) / 100.0 AS value_sum,
               CASE WHEN lag(c, 1) OVER w IS NOT NULL
                         AND lag(c, 1) OVER w <> 0
                    THEN CAST(c - lag(c, 1) OVER w AS DOUBLE)
                         / CAST(abs(lag(c, 1) OVER w) AS DOUBLE)
               END AS dod_growth,
               CASE WHEN lag(c, 7) OVER w IS NOT NULL
                         AND lag(c, 7) OVER w <> 0
                    THEN CAST(c - lag(c, 7) OVER w AS DOUBLE)
                         / CAST(abs(lag(c, 7) OVER w) AS DOUBLE)
               END AS wow_growth
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
    "ts_outlier_hampel": """
        WITH e AS (
            SELECT event_id, event_type, epoch_us(ts) AS us,
                   CAST(round(value * 100) AS BIGINT) AS c
            FROM events
        ),
        wined AS (
            SELECT event_id, event_type, c,
                   list_sort(list(c) OVER (
                       PARTITION BY event_type ORDER BY us, event_id
                       ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING
                   )) AS win_arr
            FROM e
        ),
        full_w AS (
            SELECT event_id, event_type, c, win_arr,
                   win_arr[6] AS med_v
            FROM wined WHERE len(win_arr) = 11
        ),
        mads AS (
            SELECT event_id, event_type, c, med_v,
                   list_sort(list_transform(win_arr, x -> abs(x - med_v)))[6] AS mad_v
            FROM full_w
        )
        SELECT event_id, event_type,
               CAST(c AS DOUBLE) / 100.0 AS value,
               CAST(med_v AS DOUBLE) / 100.0 AS rolling_median,
               CAST(mad_v AS DOUBLE) / 100.0 AS rolling_mad
        FROM mads
        WHERE abs(c - med_v) * 10000 > mad_v * 44478
    """,
    "ts_changepoint_cusum": """
        WITH daily AS (
            SELECT event_type,
                   epoch_us(ts) // 86400000000 AS day,
                   SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, SUM(c)::BIGINT AS tc, COUNT(*)::BIGINT AS nd
            FROM daily GROUP BY event_type
        ),
        scaled AS (
            SELECT d.event_type, d.day, t.nd,
                   SUM(d.c * t.nd - t.tc) OVER (
                       PARTITION BY d.event_type ORDER BY d.day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS s_scaled
            FROM daily d JOIN tot t ON d.event_type = t.event_type
        ),
        ranked AS (
            SELECT event_type, day, nd, s_scaled,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY abs(s_scaled) DESC, day ASC
                   ) AS rk
            FROM scaled
        )
        SELECT event_type,
               CAST(day AS BIGINT) AS changepoint_day,
               CAST(abs(s_scaled) AS DOUBLE) / CAST(nd AS DOUBLE) / 100.0
                   AS cusum_score
        FROM ranked WHERE rk = 1
    """,
    "ts_cross_correlation": """
        WITH daily AS (
            SELECT epoch_us(ts) // 86400000000 AS day,
                   SUM(CASE WHEN event_type = 'view'
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END)::BIGINT AS x,
                   SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END)::BIGINT AS y
            FROM events
            WHERE event_type IN ('view', 'purchase')
            GROUP BY 1
        ),
        lags AS (SELECT unnest(range(-3, 4)) AS lag),
        shifted AS (
            SELECT l.lag, a.x, b.y
            FROM daily a
            CROSS JOIN lags l
            JOIN daily b ON b.day = a.day + l.lag
        ),
        m AS (
            SELECT lag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(x)::BIGINT AS DOUBLE) AS sx,
                   CAST(SUM(y)::BIGINT AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(19,0))
                            * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(19,0))
                            * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(x AS DECIMAL(19,0))
                            * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy
            FROM shifted GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag,
               CAST(n AS BIGINT) AS n_days,
               (n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS xcorr
        FROM m
    """,
    "ts_ewma": _ewma_oracle(),
    "ts_peak_detect": """
        WITH e AS (
            SELECT event_id, event_type, epoch_us(ts) AS us,
                   CAST(round(value * 100) AS BIGINT) AS c
            FROM events
        ),
        nb AS (
            SELECT event_id, event_type, c,
                   lag(c, 2) OVER w AS m2, lag(c, 1) OVER w AS m1,
                   lead(c, 1) OVER w AS p1, lead(c, 2) OVER w AS p2
            FROM e
            WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)
        )
        SELECT event_id, event_type,
               CAST(c AS DOUBLE) / 100.0 AS value,
               CAST(c - greatest(m2, m1, p1, p2) AS DOUBLE) / 100.0
                   AS prominence
        FROM nb
        WHERE m2 IS NOT NULL AND m1 IS NOT NULL
          AND p1 IS NOT NULL AND p2 IS NOT NULL
          AND c > greatest(m2, m1, p1, p2)
    """,
    "ts_holt_linear": _holt_oracle(),
    "ts_stl_decompose": """
        WITH daily AS (
            SELECT event_type,
                   epoch_us(ts) // 86400000000 AS day,
                   SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
            FROM events GROUP BY 1, 2
        ),
        trended AS (
            SELECT event_type, day, c,
                   SUM(c) OVER w AS t7,
                   COUNT(*) OVER w AS nw,
                   (day + 4) % 7 AS dow
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        full_w AS (
            SELECT event_type, day, dow, c,
                   t7, 7 * c - t7 AS detr7
            FROM trended WHERE nw = 7
        ),
        seas AS (
            SELECT event_type, dow,
                   SUM(detr7)::BIGINT AS s7_sum, COUNT(*)::BIGINT AS s_n
            FROM full_w GROUP BY 1, 2
        )
        SELECT f.event_type, CAST(f.day AS BIGINT) AS day,
               CAST(f.dow AS BIGINT) AS dow,
               CAST(f.c AS DOUBLE) / 100.0 AS value,
               CAST(f.t7 AS DOUBLE) / 700.0 AS trend,
               CAST(s.s7_sum AS DOUBLE) / CAST(s.s_n AS DOUBLE) / 700.0
                   AS seasonal,
               CAST(f.detr7 AS DOUBLE) / 700.0
                 - CAST(s.s7_sum AS DOUBLE) / CAST(s.s_n AS DOUBLE) / 700.0
                   AS residual
        FROM full_w f
        JOIN seas s ON s.event_type = f.event_type AND s.dow = f.dow
    """,
    "ts_acf": """
        WITH daily AS (
            SELECT event_type,
                   epoch_us(ts) // 86400000000 AS day,
                   SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS c
            FROM events GROUP BY 1, 2
        ),
        lags AS (SELECT unnest(range(1, 8)) AS lag),
        shifted AS (
            SELECT a.event_type, l.lag, a.c AS x, b.c AS y
            FROM daily a
            CROSS JOIN lags l
            JOIN daily b ON b.event_type = a.event_type
                        AND b.day = a.day + l.lag
        ),
        m AS (
            SELECT event_type, lag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(x)::BIGINT AS DOUBLE) AS sx,
                   CAST(SUM(y)::BIGINT AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(19,0))
                            * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(19,0))
                            * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(x AS DECIMAL(19,0))
                            * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy
            FROM shifted GROUP BY 1, 2
        )
        SELECT event_type, CAST(lag AS BIGINT) AS lag,
               CAST(n AS BIGINT) AS n_days,
               (n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS acf
        FROM m
    """,
    "ts_m4_downsample": """
        WITH e AS (
            SELECT event_type, epoch_us(ts) AS us, event_id,
                   CAST(round(value * 100) AS BIGINT) AS c
            FROM events
        )
        SELECT event_type,
               us // 86400000000 AS day,
               COUNT(*)::BIGINT AS n_points,
               CAST(MIN(c) AS DOUBLE) / 100.0 AS v_min,
               CAST(MAX(c) AS DOUBLE) / 100.0 AS v_max,
               CAST(first(c ORDER BY us, event_id) AS DOUBLE) / 100.0
                   AS v_first,
               CAST(last(c ORDER BY us, event_id) AS DOUBLE) / 100.0
                   AS v_last
        FROM e
        GROUP BY 1, 2
    """,
    "ts_time_weighted_avg": """
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS us,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        seg AS (
            SELECT user_id, cents,
                   (lead(us) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) - us)
                       // 1000000 AS dt_s
            FROM e
            QUALIFY dt_s IS NOT NULL
        ),
        agg AS (
            SELECT user_id,
                   sum(cents * dt_s)::BIGINT AS wsum,
                   sum(dt_s)::BIGINT AS tsum,
                   count(*) AS n_segments
            FROM seg GROUP BY user_id
        )
        SELECT user_id, n_segments, tsum,
               CAST(wsum AS DOUBLE) / CAST(tsum AS DOUBLE) / 100.0
                   AS twa_value
        FROM agg WHERE tsum > 0
    """,
    "ts_seasonal_dow": """
        WITH e AS (
            SELECT event_type, isodow(ts) AS isodow,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        by_dow AS (
            SELECT event_type, CAST(isodow AS BIGINT) AS isodow,
                   count(*) AS n, sum(cents)::BIGINT AS c
            FROM e GROUP BY event_type, isodow
        ),
        by_type AS (
            SELECT event_type, sum(n)::BIGINT AS tn, sum(c)::BIGINT AS tc
            FROM by_dow GROUP BY event_type
        )
        SELECT d.event_type, d.isodow, d.n,
               CAST(d.c AS DOUBLE) / CAST(d.n AS DOUBLE) / 100.0
                   AS mean_value,
               (CAST(d.c AS DOUBLE) / CAST(d.n AS DOUBLE))
                   / (CAST(t.tc AS DOUBLE) / CAST(t.tn AS DOUBLE))
                   AS seasonal_ratio
        FROM by_dow d JOIN by_type t ON d.event_type = t.event_type
    """,
    "ts_downsample_lttb": """
        WITH pts AS (
            SELECT event_type, epoch_us(ts) AS x,
                   MAX(CAST(round(value * 100) AS BIGINT)) AS yc
            FROM events GROUP BY event_type, epoch_us(ts)
        ), numbered AS (
            SELECT event_type, x, yc,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY x
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM pts
        ), bucketed AS (
            SELECT event_type, x, yc,
                   CAST(((rn - 1) * 20) // n AS BIGINT) AS bucket
            FROM numbered
        ), avgs AS (
            SELECT event_type, bucket,
                   CAST(SUM(x) AS DOUBLE) / COUNT(*) AS ax,
                   CAST(SUM(yc) AS DOUBLE) / COUNT(*) AS ay,
                   CAST(COUNT(*) AS BIGINT) AS n_src
            FROM bucketed GROUP BY event_type, bucket
        ), anchors AS (
            SELECT event_type, bucket, n_src,
                   lag(ax) OVER wb AS px, lag(ay) OVER wb AS py,
                   lead(ax) OVER wb AS nx, lead(ay) OVER wb AS ny
            FROM avgs
            WINDOW wb AS (PARTITION BY event_type ORDER BY bucket)
        ), joined AS (
            SELECT b.event_type, b.bucket, b.x, b.yc, a.n_src,
                   abs((a.px - a.nx) * (CAST(b.yc AS DOUBLE) - a.py)
                       - (a.px - CAST(b.x AS DOUBLE)) * (a.ny - a.py))
                       AS area
            FROM bucketed b
            JOIN anchors a
              ON b.event_type = a.event_type AND b.bucket = a.bucket
        )
        SELECT event_type, bucket, x AS x_us, yc AS y_cents, n_src
        FROM (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY event_type, bucket
                       ORDER BY area DESC NULLS LAST, x ASC
                   ) AS sel
            FROM joined
        ) WHERE sel = 1
    """,
    "ts_rollup_cascade": """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
                   AS total_cents,
               MIN(CAST(round(value*100) AS BIGINT)) AS min_cents,
               MAX(CAST(round(value*100) AS BIGINT)) AS max_cents,
               COUNT(DISTINCT date_trunc('hour', ts)) AS n_hours
        FROM events
        GROUP BY date_trunc('day', ts), event_type
    """,
    "ts_interpolate": """
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
                       AS day_cents
            FROM events GROUP BY user_id, date_trunc('day', ts)
        ), span AS (
            SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
            FROM daily GROUP BY user_id
        ), grid AS (
            SELECT user_id,
                   unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM span
        ), ctx AS (
            SELECT g.user_id, g.day, d.day_cents,
                   LAST_VALUE(d.day_cents IGNORE NULLS) OVER w_back AS prev_cents,
                   LAST_VALUE(CASE WHEN d.day_cents IS NOT NULL THEN g.day END
                              IGNORE NULLS) OVER w_back AS prev_day,
                   FIRST_VALUE(d.day_cents IGNORE NULLS) OVER w_fwd AS next_cents,
                   FIRST_VALUE(CASE WHEN d.day_cents IS NOT NULL THEN g.day END
                               IGNORE NULLS) OVER w_fwd AS next_day
            FROM grid g
            LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
            WINDOW w_back AS (
                PARTITION BY g.user_id ORDER BY g.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ), w_fwd AS (
                PARTITION BY g.user_id ORDER BY g.day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
            )
        )
        SELECT user_id, day, day_cents,
               CASE WHEN day_cents IS NOT NULL THEN CAST(day_cents AS DOUBLE)
                    ELSE CAST(prev_cents AS DOUBLE)
                         + CAST(next_cents - prev_cents AS DOUBLE)
                           * (CAST(date_diff('day', prev_day, day) AS DOUBLE)
                              / CAST(date_diff('day', prev_day, next_day) AS DOUBLE))
               END AS interp_cents
        FROM ctx
    """,
    "ts_gapfill": """
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
                       AS day_cents
            FROM events GROUP BY user_id, date_trunc('day', ts)
        ), span AS (
            SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
            FROM daily GROUP BY user_id
        ), grid AS (
            SELECT user_id,
                   unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM span
        )
        SELECT g.user_id, g.day, d.day_cents,
               LAST_VALUE(d.day_cents IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_cents
        FROM grid g
        LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
    """,
    "join_range_banded": """
        SELECT a.event_id,
               COUNT(b.event_id) AS n_next_hour
        FROM events a
        LEFT JOIN events b
          ON a.user_id = b.user_id
         AND b.ts > a.ts
         AND b.ts <= a.ts + INTERVAL 1 HOUR
        WHERE a.event_type = 'click'
        GROUP BY a.event_id
    """,
}
