"""Distribution-testing and model-fitting statistics as single Catalyst
plans: two-sample Kolmogorov–Smirnov, Mann–Whitney U, chi-square
independence, multi-feature OLS via exact normal equations, Kaplan–Meier
survival, a Zipf rank-frequency fit, and a deterministic count-min sketch.

Cross-engine exactness strategy (see numeric.py): every sum that feeds a
final statistic is accumulated over *integers* (cents, micro-scaled logs,
exact counts) so partial-aggregation order cannot perturb the result; the
closing arithmetic is the same double expression tree on both engines.

Scale shapes: every operator pre-aggregates the raw fact table down to its
*value domain* (distinct prices, durations, contingency cells, vocabulary)
before any global window — the unpartitioned windows below run over those
compact aggregates, never over raw rows, which is what makes a global ECDF
or at-risk cumsum viable at 100 TB.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import (
    attach_broadcast,
    local_materializer,
)
from aind_data_transformation_spark.queries.numeric import cents, sql_cents

_G1 = "1-URGENT"
_G2 = "5-LOW"


def _two_sample_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-value counts of o_totalprice cents for the two priority
    groups: (v, c1, c2). One shuffle (groupBy v); all ECDF/rank math
    downstream runs on this compact value-domain frame."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin(_G1, _G2)
    )
    return (
        o.select(
            cents("o_totalprice").alias("v"),
            (F.col("o_orderpriority") == _G1).cast("long").alias("is1"),
        )
        .groupBy("v")
        .agg(
            F.sum("is1").alias("c1"),
            (F.count(F.lit(1)) - F.sum("is1")).alias("c2"),
        )
    )


def q_stats_ks_twosample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D statistic between the order-price
    distributions of URGENT vs LOW priority orders.

    ECDFs are step functions that only move at observed values, so D is
    computed over the distinct-value aggregate: cumulative counts per
    group via one ordered window, D = max |c1/n1 - c2/n2|. max() is
    order-independent and each ratio is one double division on exact
    integers — bit-identical across engines."""
    per = _two_sample_values(spark, sf_dir)
    tot = per.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    ).transform(attach_broadcast, F.broadcast(tot))
    diff = F.abs(
        F.col("cum1").cast("double") / F.col("n1").cast("double")
        - F.col("cum2").cast("double") / F.col("n2").cast("double")
    )
    return cum.groupBy("n1", "n2").agg(F.max(diff).alias("ks_d"))


def q_stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U for the same two groups, exact tie handling via
    average ranks. Doubled ranks (2·avg_rank is always an integer, even
    on ties) keep the rank sum in exact BIGINT space; U emerges from one
    closing division."""
    per = _two_sample_values(spark, sf_dir)
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ct = F.col("c1") + F.col("c2")
    cum_before = F.coalesce(F.sum(ct).over(w), F.lit(0))
    # 2*avg_rank of a tie block starting after cum_before with ct members
    rank2 = 2 * cum_before + ct + 1
    agg = per.select(
        (F.col("c1") * rank2).alias("r1_2x"), "c1", "c2"
    ).agg(
        F.sum("r1_2x").alias("r1_2x"),
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
    )
    u1 = (
        F.col("r1_2x") - F.col("n1") * (F.col("n1") + 1)
    ).cast("double") / F.lit(2.0)
    return agg.select(
        "n1",
        "n2",
        u1.alias("u1"),
        (F.col("n1").cast("double") * F.col("n2").cast("double") - u1).alias(
            "u2"
        ),
    )


def q_stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the five order priorities:
    F = (SSB/(k−1)) / (SSW/(N−k)) plus the η² effect size — the
    did-the-group-means-really-differ test that follows every A/B/n
    segmentation.

    Exactness: per-group n/Σ/Σ² accumulate as integer cents with
    decimal(38,0) squared sums (order-free); SSB/SSW derive from those
    exact moments in one identical double tree per engine. Scale: ONE
    map-side-combinable aggregation to k rows, then a k-row reduce —
    the whole test is two tiny aggregations over one fact scan."""
    o = load_table(spark, sf_dir, "orders")
    x = cents("o_totalprice")
    d38 = "decimal(38,0)"
    per = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(d38)).alias("s"),
        F.sum((x * x).cast(d38)).alias("ss"),
    )
    # s_g²/n_g rounds to an integer before the cross-group sum (identical
    # double operands -> identical rounding in both engines; summing raw
    # doubles across rows would be accumulation-order-dependent)
    term = F.expr(
        "CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        " / CAST(n AS DOUBLE)) AS DECIMAL(38,0))"
    )
    m = per.select("n", "s", "ss", term.alias("sq_over_n")).agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").cast("double").alias("nt"),
        F.sum("s").cast("double").alias("st"),
        F.sum("ss").cast("double").alias("sst"),
        F.sum("sq_over_n").cast("double").alias("sum_sq_over_n"),
    )
    # SSB = Σ s_g²/n_g − s_t²/N ; SSW = Σss − Σ s_g²/n_g (exact moments)
    ssb = F.col("sum_sq_over_n") - (
        F.col("st") * F.col("st") / F.col("nt")
    )
    ssw = F.col("sst") - F.col("sum_sq_over_n")
    fstat = (ssb / (F.col("k") - 1.0)) / (ssw / (F.col("nt") - F.col("k")))
    return m.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nt").cast("long").alias("n_rows"),
        fstat.alias("f_stat"),
        (ssb / (ssb + ssw)).alias("eta_squared"),
    )


def q_stats_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene's test with group medians) for equal
    variances of order value across the five priorities — the
    homoscedasticity check that validates `stats_anova`'s assumption.
    W = ANOVA-F computed on z = |x − median_g|.

    Exactness end-to-end: group medians are the exact LOWER median
    (smallest value whose cumulative count reaches ⌈n/2⌉ over the
    per-group value distribution — no interpolation, stays integer);
    deviations are integers WEIGHTED BY VALUE COUNTS (the fact table is
    scanned once — z-moments come from the same distribution frame, not
    a second scan); moment sums are decimal(38,0); the per-group z̄²·n
    terms integer-round before the cross-group sum (the stats_anova
    discipline).

    Scale: one fact shuffle to the (group × distinct value) domain; the
    median windows and moment aggregation run over that compact
    frame."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy(
        "o_orderpriority", cents("o_totalprice").alias("v")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("o_orderpriority")
    dist = counts.select(
        "o_orderpriority",
        "v",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    target = F.expr("(n + 1) DIV 2")
    meds = dist.groupBy("o_orderpriority").agg(
        F.min(F.when(F.col("cum") >= target, F.col("v"))).alias("med")
    )
    d19 = "decimal(19,0)"
    z = F.abs(F.col("v") - F.col("med"))
    # operands cast to decimal BEFORE multiplying: cnt·z² wraps int64
    # once per-value counts grow (the ts_cross_correlation discipline)
    per = (
        counts.join(F.broadcast(meds), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum(z.cast(d19) * F.col("cnt")).alias("s"),
            F.sum(z.cast(d19) * z.cast(d19) * F.col("cnt")).alias("ss"),
        )
    )
    term = F.expr(
        "CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        " / CAST(n AS DOUBLE)) AS DECIMAL(38,0))"
    )
    m = per.select("n", "s", "ss", term.alias("sq_over_n")).agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").cast("double").alias("nt"),
        F.sum("s").cast("double").alias("st"),
        F.sum("ss").cast("double").alias("sst"),
        F.sum("sq_over_n").cast("double").alias("sum_sq_over_n"),
    )
    ssb = F.col("sum_sq_over_n") - (
        F.col("st") * F.col("st") / F.col("nt")
    )
    ssw = F.col("sst") - F.col("sum_sq_over_n")
    w_stat = (ssb / (F.col("k") - 1.0)) / (
        ssw / (F.col("nt") - F.col("k"))
    )
    return m.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nt").cast("long").alias("n_rows"),
        w_stat.alias("bf_stat"),
    )


def q_stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for the o_orderstatus ×
    o_orderpriority contingency table. Marginals come from window sums
    over the (tiny) contingency aggregate; each cell's (obs-exp)²/exp
    term is nano-scaled to BIGINT before the final sum so the statistic
    is order-independent."""
    o = load_table(spark, sf_dir, "orders")
    cont = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("obs")
    )
    row_t = F.sum("obs").over(Window.partitionBy("o_orderstatus"))
    col_t = F.sum("obs").over(Window.partitionBy("o_orderpriority"))
    n_t = F.sum("obs").over(
        Window.partitionBy()
    )
    cells = cont.select(
        "obs",
        row_t.alias("rt"),
        col_t.alias("ct"),
        n_t.alias("n"),
    )
    exp = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    term = (F.col("obs").cast("double") - exp) * (
        F.col("obs").cast("double") - exp
    ) / exp
    nano = F.round(term * F.lit(1.0e9)).cast("long")
    stats = cells.select(
        nano.alias("nano"), "n"
    ).groupBy("n").agg(F.sum("nano").alias("chi2_nano"))
    dims = cont.agg(
        F.countDistinct("o_orderstatus").alias("r"),
        F.countDistinct("o_orderpriority").alias("c"),
    )
    return stats.transform(attach_broadcast, F.broadcast(dims)).select(
        F.col("n").alias("n_orders"),
        (F.col("chi2_nano").cast("double") / F.lit(1.0e9)).alias("chi2"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
    )


def q_ml_ols_multifeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-feature ordinary least squares (extendedprice ~ quantity +
    discount + tax) solved in one reduce: accumulate the 13 raw integer
    moments exactly (DECIMAL(38,0) — order-independent), derive the
    centered normal-equation matrix, and solve the symmetric 3×3 system
    by Cramer's rule in a closing double expression. The whole model fit
    is a single map-side-combinable aggregation over the fact table —
    the textbook pattern for closed-form fits at 100 TB (one pass, no
    gradient rounds, no driver-side math)."""
    li = load_table(spark, sf_dir, "lineitem")
    x1, x2, x3, y = (
        cents("l_quantity"),
        cents("l_discount"),
        cents("l_tax"),
        cents("l_extendedprice"),
    )
    d38 = "decimal(38,0)"

    def s(col, name):
        return F.sum(col.cast(d38)).cast("double").alias(name)

    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        s(x1, "s1"), s(x2, "s2"), s(x3, "s3"), s(y, "sy"),
        s(x1 * x1, "s11"), s(x1 * x2, "s12"), s(x1 * x3, "s13"),
        s(x2 * x2, "s22"), s(x2 * x3, "s23"), s(x3 * x3, "s33"),
        s(x1 * y, "s1y"), s(x2 * y, "s2y"), s(x3 * y, "s3y"),
        s(y * y, "syy"),
    )
    n = F.col("n")
    # centered second moments: Cij = Sij - Si*Sj/n (double, same tree
    # both engines)
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c13 = F.col("s13") - F.col("s1") * F.col("s3") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c23 = F.col("s23") - F.col("s2") * F.col("s3") / n
    c33 = F.col("s33") - F.col("s3") * F.col("s3") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    c3y = F.col("s3y") - F.col("s3") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = (
        c11 * (c22 * c33 - c23 * c23)
        - c12 * (c12 * c33 - c23 * c13)
        + c13 * (c12 * c23 - c22 * c13)
    )
    b1 = (
        c1y * (c22 * c33 - c23 * c23)
        - c12 * (c2y * c33 - c23 * c3y)
        + c13 * (c2y * c23 - c22 * c3y)
    ) / det
    b2 = (
        c11 * (c2y * c33 - c3y * c23)
        - c1y * (c12 * c33 - c23 * c13)
        + c13 * (c12 * c3y - c2y * c13)
    ) / det
    b3 = (
        c11 * (c22 * c3y - c2y * c23)
        - c12 * (c12 * c3y - c2y * c13)
        + c1y * (c12 * c23 - c22 * c13)
    ) / det
    b0 = (
        F.col("sy") - b1 * F.col("s1") - b2 * F.col("s2") - b3 * F.col("s3")
    ) / n
    sse = cyy - (b1 * c1y + b2 * c2y + b3 * c3y)
    return m.select(
        n.cast("long").alias("n_rows"),
        b0.alias("beta0"),
        b1.alias("beta1"),
        b2.alias("beta2"),
        b3.alias("beta3"),
        (F.lit(1.0) - sse / cyy).alias("r2"),
    )


def q_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival over customer lifetimes: duration = days
    between a customer's first and last order; a customer is an *event*
    (churned) when their last order predates the observation end by more
    than 90 days, otherwise right-censored. At-risk counts come from one
    cumulative window over the distinct-duration aggregate; the product
    ∏(1-dᵢ/nᵢ) is carried as a nano-scaled log sum (exact BIGINT, order
    independent) and exponentiated once at the end."""
    o = load_table(spark, sf_dir, "orders")
    life = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
    )
    end = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("end_d"))
    per_cust = life.transform(attach_broadcast, F.broadcast(end)).select(
        F.datediff("last_d", "first_d").cast("long").alias("dur"),
        (F.datediff("end_d", "last_d") > 90).cast("long").alias("event"),
    )
    # r12 measured note: staging the duration domain (the total re-runs
    # the per-customer lifetime aggregation — 4 orders scans) was
    # REJECTED on paired evidence (1.38× / 1.15×) — barrier > saved
    # pass at bench scale.
    per_t = per_cust.groupBy("dur").agg(
        F.sum("event").alias("d"),
        F.count(F.lit(1)).alias("m"),
    )
    w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    cumw = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    tot = per_t.agg(F.sum("m").alias("n_total"))
    t = per_t.transform(attach_broadcast, F.broadcast(tot)).withColumn(
        "n_risk", F.col("n_total") - F.coalesce(F.sum("m").over(w), F.lit(0))
    )
    factor = F.lit(1.0) - F.col("d").cast("double") / F.col(
        "n_risk"
    ).cast("double")
    log_nano = F.when(
        F.col("d") >= F.col("n_risk"), F.lit(None).cast("long")
    ).otherwise(F.round(F.log(factor) * F.lit(1.0e9)).cast("long"))
    t = t.withColumn("log_nano", log_nano)
    zero_flag = F.max(
        F.when(F.col("log_nano").isNull(), 1).otherwise(0)
    ).over(cumw)
    cum_log = F.sum("log_nano").over(cumw)
    # exp() may differ in the final ulp between JVM and libm — round the
    # survival probability to 6 dp so both engines emit identical doubles
    surv = F.when(zero_flag == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(cum_log.cast("double") / F.lit(1.0e9)), 6)
    )
    return (
        t.select(
            F.col("dur").alias("dur_days"),
            "n_risk",
            F.col("d").alias("n_events"),
            surv.alias("survival"),
        )
        .where(F.col("n_events") > 0)
    )


def q_text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(frequency) on ln(rank) for the top 500 terms. Log values are
    micro-scaled to BIGINT per term (rank ties broken lexically), so the
    four regression sums are exact integers; a heavy-tailed corpus obeys
    slope ≈ -1. Scale: vocabulary aggregation is the only fact-table
    shuffle; the regression runs over 500 rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("term")).where(
        F.col("term") != ""
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    top = freq.select(
        "cnt", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= 500)
    xm = F.round(F.log(F.col("rank").cast("double")) * 1.0e6).cast("long")
    ym = F.round(F.log(F.col("cnt").cast("double")) * 1.0e6).cast("long")
    pts = top.select(
        xm.alias("x"),
        ym.alias("y"),
        (xm * ym).alias("xy"),
        (xm * xm).alias("xx"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    intercept = (
        (F.col("sy") / F.lit(1.0e6)) - slope * (F.col("sx") / F.lit(1.0e6))
    ) / F.col("n")
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        slope.alias("zipf_slope"),
        intercept.alias("intercept"),
    )


def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic count-min sketch over the corpus vocabulary: 4 hash
    rows × 512 buckets, hashes drawn from disjoint md5 substrings (so
    both engines agree bit-for-bit), estimate = min over rows of the
    bucket counters. Emits the 20 true-top terms with their exact and
    estimated counts — est ≥ true always (one-sided CMS error).

    Scale: the sketch is a 2k-cell aggregate (fixed size regardless of
    corpus size) built in one shuffle — exactly how a heavy-hitter pass
    over 100 TB avoids a full vocabulary materialization."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("term")).where(
        F.col("term") != ""
    )
    # the term-frequency table fed EIGHT plan branches (4 sketch-row
    # unions + 4 probe unions through the top-20 window), each
    # re-running the corpus explode+groupBy. Stage it once and fan the
    # 4 hash rows out with ONE posexplode over a 4-slot array instead
    # of 4 unions — same (h, b, cnt) multiset, 1 pass.
    freq = local_materializer(
        toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")),
        "cms_term_freq",
    )

    def bucket(row: int):
        # 7 hex chars (28 bits) from md5 offset 1+7*row, mod 512
        sub = F.substring(F.md5("term"), 1 + 7 * row, 7)
        return F.pmod(F.conv(sub, 16, 10).cast("long"), F.lit(512))

    rows4 = F.array(*[bucket(r) for r in range(4)])
    hashed = freq.select(
        F.posexplode(rows4).alias("h", "b"), "cnt"
    ).select(F.col("h").cast("int").alias("h"), "b", "cnt")
    sketch = hashed.groupBy("h", "b").agg(F.sum("cnt").alias("cell"))
    wtop = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    top = freq.select(
        "term", "cnt", F.row_number().over(wtop).alias("rk")
    ).where(F.col("rk") <= 20)
    probe = top.select(
        "term", "cnt", F.posexplode(rows4).alias("h", "b")
    ).select("term", "cnt", F.col("h").cast("int").alias("h"), "b")
    est = (
        probe.join(F.broadcast(sketch), ["h", "b"])
        .groupBy("term", "cnt")
        .agg(F.min("cell").alias("est"))
    )
    return est.select(
        "term",
        F.col("cnt").alias("true_cnt"),
        F.col("est").alias("est_cnt"),
    )


#: Poisson(1) CDF thresholds quantized to the 32-bit hash space — the
#: SAME integer literals serve both dialects, so the resample weight of
#: every row is engine-exact
_BOOT_B = 64
_BOOT_THRESH = [
    int(sum(math.exp(-1.0) / math.factorial(j) for j in range(k + 1))
        * 4294967296.0)
    for k in range(7)
]


def _boot_weight_case(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_THRESH)
    )
    return f"CASE {cases} ELSE 7 END"


def _hash32(x: str) -> str:
    """Overflow-safe Knuth multiplicative hash ``(x * 2654435761) mod
    2^32`` as ONE shared SQL string for both dialects (``%`` on
    non-negative BIGINTs is identical in Spark and DuckDB).

    A direct ``(x * 2654435761) % 4294967296`` overflows int64 once
    x > ~3.5e9 — Spark silently wraps negative while DuckDB raises, so
    the naive form breaks cross-engine exactness far below 100-TB key
    ranges. Instead reduce x mod 2^32 first (same residue class), then
    split into 16-bit halves: with xm = hi·2^16 + lo,
    ``(xm·K) mod 2^32 = (((hi·K) mod 2^16)·2^16 + lo·K) mod 2^32`` and
    every intermediate stays below 2^49. Requires only that the INPUT
    expression x itself fits int64 (callers keep x < 2^57)."""
    xm = f"(({x}) % 4294967296)"
    lo = f"({xm} % 65536)"
    hi = f"CAST(({xm} - {lo}) / 65536 AS BIGINT)"
    return (
        f"((({hi} * 2654435761) % 65536) * 65536"
        f" + {lo} * 2654435761) % 4294967296"
    )


def q_ml_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order total —
    the cluster-scale bootstrap (Chamandy et al., Google 2012): instead
    of resampling n rows WITH replacement (impossible distributed), each
    row enters resample b with weight ~ Poisson(1), drawn
    DETERMINISTICALLY by quantizing a Knuth multiplicative hash of
    (orderkey, b) against integer CDF thresholds. 64 resample means →
    order-statistic 5%/95% envelope.

    Exactness: weights are pure integer comparisons on the shared
    32-bit hash; each resample mean is ONE double division of exact
    integer sums; the envelope picks ranked means via row_number (ties
    on b), so every byte matches DuckDB.

    Scale: the explode is ×B=64 but collapses immediately through a
    partial hash agg to 64 rows/task before the one shuffle; the
    ranking window runs on the 64-row aggregate domain. At 100 TB,
    B=64 resamples of a mean is the textbook production shape."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    # 16-bit-split hash: int64-safe for o_orderkey < 2^57/B ≈ 2.3e15
    # (TPC-H orderkey at sf 100k is ~2.4e12), same value as the naive
    # product wherever that didn't overflow — see _hash32
    u = _hash32(f"o_orderkey * {_BOOT_B} + b")
    res = (
        o.select(
            "o_orderkey",
            "c",
            F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("b"),
        )
        .select(
            "b", "c", F.expr(_boot_weight_case(u)).alias("w")
        )
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("c")).alias("sc"),
            F.sum("w").alias("n"),
        )
        .select(
            "b",
            F.expr("CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)").alias("mean_c"),
        )
    )
    w_rank = Window.orderBy("mean_c", "b")
    ranked = res.withColumn("rn", F.row_number().over(w_rank))
    env = ranked.agg(
        F.min(F.when(F.col("rn") == 4, F.col("mean_c"))).alias("lo_c"),
        F.min(F.when(F.col("rn") == 61, F.col("mean_c"))).alias("hi_c"),
    )
    full = o.agg(
        F.expr(
            "CAST(SUM(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
        ).alias("mean_full_c")
    )
    return attach_broadcast(env, full).select(
        F.expr("round(mean_full_c / 100.0, 6)").alias("mean_value"),
        F.expr("round(lo_c / 100.0, 6)").alias("ci_lo"),
        F.expr("round(hi_c / 100.0, 6)").alias("ci_hi"),
    )


def q_stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test on order value between
    URGENT and LOW priority orders: t statistic plus the
    Welch–Satterthwaite effective degrees of freedom — the default
    two-group mean comparison (does not assume equal variances, unlike
    Student's t).

    Exactness: per-group moments (n, Σx, Σx²) accumulate as integer
    cents with decimal(38,0) squared sums (order-free); t and df close
    in one identical double expression tree per engine. Scale: ONE
    map-side-combinable aggregation to 2 rows — a single fact scan."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin(_G1, _G2)
    )
    x = cents("o_totalprice")
    per = o.groupBy(
        (F.col("o_orderpriority") == _G1).alias("g1")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast("decimal(19,0)")).alias("s"),
        F.sum((x * x).cast("decimal(38,0)")).alias("ss"),
    )
    m = per.agg(
        F.min(F.when(F.col("g1"), F.col("n"))).cast("double").alias("n1"),
        F.min(F.when(F.col("g1"), F.col("s"))).cast("double").alias("s1"),
        F.min(F.when(F.col("g1"), F.col("ss"))).cast("double").alias("ss1"),
        F.min(F.when(~F.col("g1"), F.col("n"))).cast("double").alias("n2"),
        F.min(F.when(~F.col("g1"), F.col("s"))).cast("double").alias("s2"),
        F.min(F.when(~F.col("g1"), F.col("ss"))).cast("double").alias("ss2"),
    )
    # sample variances from exact moments; vi = var_i / n_i (the same
    # subexpression text in both engines — identical double sequence)
    v1 = "(((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1)"
    v2 = "(((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2)"
    return m.selectExpr(
        "CAST(n1 AS BIGINT) AS n1",
        "CAST(n2 AS BIGINT) AS n2",
        f"round((s1 / n1 - s2 / n2) / sqrt({v1} + {v2}) / 100.0 * 100.0, 6)"
        " AS t_stat",
        f"round(pow({v1} + {v2}, 2) / (pow({v1}, 2) / (n1 - 1)"
        f" + pow({v2}, 2) / (n2 - 1)), 6) AS welch_df",
    )


def q_stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order value and order date —
    the monotone-association test that Pearson misses (is spending
    drifting over time, in ANY shape?). Exact tie handling via average
    ranks on both variables.

    Exactness: doubled average ranks are exact integers (the MWU
    machinery) assigned from each variable's VALUE-DOMAIN cumulative
    counts; the Pearson closing over ranks uses decimal(38,0) moment
    sums (2r ≤ 2n, products ≈ 4n², summed ≈ 4n³ — int64-dead past
    ~1e6 rows) read back through doubles.

    Scale: two value-domain aggregations (distinct cents / distinct
    days), two broadcast-scale rank joins, one moment reduce. The fact
    table shuffles twice on value keys — never sorts globally."""
    o = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("x"),
        F.expr("datediff(o_orderdate, DATE '1970-01-01')")
        .cast("long")
        .alias("y"),
    )

    def ranks(col):
        per = o.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        w = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, -1
        )
        return per.select(
            "v",
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            ).alias(f"r2_{col}"),
        )
    d19 = "decimal(19,0)"
    joined = (
        o.join(ranks("x").withColumnRenamed("v", "x"), "x")
        .join(ranks("y").withColumnRenamed("v", "y"), "y")
    )
    m = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2_x").alias("sx"),
        F.sum("r2_y").alias("sy"),
        F.sum(
            F.col("r2_x").cast(d19) * F.col("r2_y").cast(d19)
        ).alias("sxy"),
        F.sum(
            F.col("r2_x").cast(d19) * F.col("r2_x").cast(d19)
        ).alias("sxx"),
        F.sum(
            F.col("r2_y").cast(d19) * F.col("r2_y").cast(d19)
        ).alias("syy"),
    )
    rho = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        "    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr(f"round({rho}, 6)").alias("spearman_rho"),
    )


QUERIES = {
    "stats_spearman_corr": q_stats_spearman_corr,
    "stats_welch_ttest": q_stats_welch_ttest,
    "ml_bootstrap_ci": q_ml_bootstrap_ci,
    "stats_anova": q_stats_anova,
    "stats_levene": q_stats_levene,
    "stats_ks_twosample": q_stats_ks_twosample,
    "stats_mannwhitney": q_stats_mannwhitney,
    "stats_chi2": q_stats_chi2,
    "ml_ols_multifeat": q_ml_ols_multifeat,
    "survival_kaplan_meier": q_survival_kaplan_meier,
    "text_zipf_slope": q_text_zipf_slope,
    "sketch_countmin": q_sketch_countmin,
}

_V = sql_cents("o_totalprice")

ORACLES = {
    "stats_spearman_corr": f"""
        WITH o AS (
            SELECT {sql_cents('o_totalprice')} AS x,
                   CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                        AS BIGINT) AS y
            FROM orders
        ), rx AS (
            SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) + c + 1 AS r2_x
            FROM (SELECT x AS v, count(*) AS c FROM o GROUP BY x)
        ), ry AS (
            SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) + c + 1 AS r2_y
            FROM (SELECT y AS v, count(*) AS c FROM o GROUP BY y)
        ), j AS (
            SELECT r2_x, r2_y
            FROM o JOIN rx ON o.x = rx.v JOIN ry ON o.y = ry.v
        ), m AS (
            SELECT count(*) AS n,
                   SUM(r2_x) AS sx, SUM(r2_y) AS sy,
                   SUM(CAST(r2_x AS DECIMAL(19,0))
                       * CAST(r2_y AS DECIMAL(19,0))) AS sxy,
                   SUM(CAST(r2_x AS DECIMAL(19,0))
                       * CAST(r2_x AS DECIMAL(19,0))) AS sxx,
                   SUM(CAST(r2_y AS DECIMAL(19,0))
                       * CAST(r2_y AS DECIMAL(19,0))) AS syy
            FROM j
        )
        SELECT CAST(n AS BIGINT) AS n_rows,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                     6) AS spearman_rho
        FROM m
    """,
    "stats_welch_ttest": f"""
        WITH per AS (
            SELECT (o_orderpriority = '{_G1}') AS g1,
                   count(*) AS n,
                   SUM(CAST({sql_cents('o_totalprice')} AS DECIMAL(19,0)))
                       AS s,
                   SUM(CAST({sql_cents('o_totalprice')}
                            * {sql_cents('o_totalprice')} AS DECIMAL(38,0)))
                       AS ss
            FROM orders
            WHERE o_orderpriority IN ('{_G1}', '{_G2}')
            GROUP BY 1
        ), m AS (
            SELECT CAST(min(CASE WHEN g1 THEN n END) AS DOUBLE) AS n1,
                   CAST(min(CASE WHEN g1 THEN s END) AS DOUBLE) AS s1,
                   CAST(min(CASE WHEN g1 THEN ss END) AS DOUBLE) AS ss1,
                   CAST(min(CASE WHEN NOT g1 THEN n END) AS DOUBLE) AS n2,
                   CAST(min(CASE WHEN NOT g1 THEN s END) AS DOUBLE) AS s2,
                   CAST(min(CASE WHEN NOT g1 THEN ss END) AS DOUBLE) AS ss2
            FROM per
        )
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               round((s1 / n1 - s2 / n2)
               / sqrt((((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1)
                      + (((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2)) / 100.0
               * 100.0, 6) AS t_stat,
               round(pow((((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1)
                         + (((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2), 2)
               / (pow((((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1), 2) / (n1 - 1)
                  + pow((((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2), 2)
                    / (n2 - 1)),
               6) AS welch_df
        FROM m
    """,
    "ml_bootstrap_ci": f"""
        WITH o AS (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS c
            FROM orders
        ), ex AS (
            SELECT o_orderkey, c, unnest(range(0, {_BOOT_B})) AS b
            FROM o
        ), wt AS (
            SELECT b, c,
                   {_boot_weight_case(
                       _hash32(f"o_orderkey * {_BOOT_B} + b")
                   )} AS w
            FROM ex
        ), res AS (
            SELECT b,
                   CAST(SUM(w * c) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
                       AS mean_c
            FROM wt GROUP BY b
        ), ranked AS (
            SELECT mean_c, row_number() OVER (ORDER BY mean_c, b) AS rn
            FROM res
        ), env AS (
            SELECT min(CASE WHEN rn = 4 THEN mean_c END) AS lo_c,
                   min(CASE WHEN rn = 61 THEN mean_c END) AS hi_c
            FROM ranked
        ), tot AS (
            SELECT CAST(SUM(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS mean_full_c
            FROM o
        )
        SELECT round(mean_full_c / 100.0, 6) AS mean_value,
               round(lo_c / 100.0, 6) AS ci_lo,
               round(hi_c / 100.0, 6) AS ci_hi
        FROM env CROSS JOIN tot
    """,
    "stats_levene": f"""
        WITH counts AS (
            SELECT o_orderpriority, {sql_cents('o_totalprice')} AS v,
                   COUNT(*)::BIGINT AS cnt
            FROM orders GROUP BY 1, 2
        ),
        dist AS (
            SELECT o_orderpriority, v, cnt,
                   SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
            FROM counts
        ),
        meds AS (
            SELECT o_orderpriority,
                   MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS med
            FROM dist GROUP BY o_orderpriority
        ),
        per AS (
            SELECT c.o_orderpriority,
                   SUM(cnt)::BIGINT AS n,
                   SUM(CAST(abs(c.v - m.med) AS HUGEINT) * cnt) AS s,
                   SUM(CAST(abs(c.v - m.med) AS HUGEINT)
                       * abs(c.v - m.med) * cnt) AS ss
            FROM counts c JOIN meds m USING (o_orderpriority)
            GROUP BY c.o_orderpriority
        ),
        terms AS (
            SELECT n, s, ss,
                   CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE)) AS HUGEINT) AS sq_over_n
            FROM per
        ),
        m AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS k,
                   CAST(SUM(n)::BIGINT AS DOUBLE) AS nt,
                   CAST(SUM(s) AS DOUBLE) AS st,
                   CAST(SUM(ss) AS DOUBLE) AS sst,
                   CAST(SUM(sq_over_n) AS DOUBLE) AS sum_sq_over_n
            FROM terms
        )
        SELECT CAST(k AS BIGINT) AS k_groups,
               CAST(nt AS BIGINT) AS n_rows,
               ((sum_sq_over_n - st * st / nt) / (k - 1.0))
                 / ((sst - sum_sq_over_n) / (nt - k)) AS bf_stat
        FROM m
    """,
    "stats_anova": f"""
        WITH per AS (
            SELECT o_orderpriority,
                   COUNT(*)::BIGINT AS n,
                   SUM(CAST({sql_cents('o_totalprice')} AS DECIMAL(38,0))) AS s,
                   SUM(CAST({sql_cents('o_totalprice')} * {sql_cents('o_totalprice')} AS DECIMAL(38,0))) AS ss
            FROM orders GROUP BY o_orderpriority
        ),
        terms AS (
            SELECT n, s, ss,
                   CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE)) AS DECIMAL(38,0)) AS sq_over_n
            FROM per
        ),
        m AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS k,
                   CAST(SUM(n)::BIGINT AS DOUBLE) AS nt,
                   CAST(SUM(s) AS DOUBLE) AS st,
                   CAST(SUM(ss) AS DOUBLE) AS sst,
                   CAST(SUM(sq_over_n) AS DOUBLE) AS sum_sq_over_n
            FROM terms
        )
        SELECT CAST(k AS BIGINT) AS k_groups,
               CAST(nt AS BIGINT) AS n_rows,
               ((sum_sq_over_n - st * st / nt) / (k - 1.0))
                 / ((sst - sum_sq_over_n) / (nt - k)) AS f_stat,
               (sum_sq_over_n - st * st / nt)
                 / ((sum_sq_over_n - st * st / nt) + (sst - sum_sq_over_n))
                   AS eta_squared
        FROM m
    """,
    "stats_ks_twosample": f"""
        WITH per AS (
            SELECT {_V} AS v,
                   SUM(CASE WHEN o_orderpriority = '{_G1}' THEN 1 ELSE 0 END)::BIGINT AS c1,
                   SUM(CASE WHEN o_orderpriority = '{_G2}' THEN 1 ELSE 0 END)::BIGINT AS c2
            FROM orders
            WHERE o_orderpriority IN ('{_G1}', '{_G2}')
            GROUP BY 1
        ),
        tot AS (SELECT SUM(c1)::BIGINT AS n1, SUM(c2)::BIGINT AS n2 FROM per),
        cum AS (
            SELECT SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
                   SUM(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
            FROM per
        )
        SELECT n1, n2,
               MAX(abs(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE))) AS ks_d
        FROM cum, tot
        GROUP BY n1, n2
    """,
    "stats_mannwhitney": f"""
        WITH per AS (
            SELECT {_V} AS v,
                   SUM(CASE WHEN o_orderpriority = '{_G1}' THEN 1 ELSE 0 END)::BIGINT AS c1,
                   SUM(CASE WHEN o_orderpriority = '{_G2}' THEN 1 ELSE 0 END)::BIGINT AS c2
            FROM orders
            WHERE o_orderpriority IN ('{_G1}', '{_G2}')
            GROUP BY 1
        ),
        rk AS (
            SELECT c1, c2,
                   2 * COALESCE(SUM(c1 + c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     + (c1 + c2) + 1 AS rank2
            FROM per
        ),
        agg AS (
            SELECT SUM(c1 * rank2)::BIGINT AS r1_2x,
                   SUM(c1)::BIGINT AS n1, SUM(c2)::BIGINT AS n2
            FROM rk
        )
        SELECT n1, n2,
               CAST(r1_2x - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
               CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 - CAST(r1_2x - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u2
        FROM agg
    """,
    "stats_chi2": """
        WITH cont AS (
            SELECT o_orderstatus, o_orderpriority, COUNT(*)::BIGINT AS obs
            FROM orders GROUP BY 1, 2
        ),
        cells AS (
            SELECT obs,
                   SUM(obs) OVER (PARTITION BY o_orderstatus) AS rt,
                   SUM(obs) OVER (PARTITION BY o_orderpriority) AS ct,
                   SUM(obs) OVER () AS n
            FROM cont
        ),
        terms AS (
            SELECT n,
                   CAST(round(
                       (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                     / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                     * 1e9) AS BIGINT) AS nano
            FROM cells
        ),
        stat AS (
            SELECT n, SUM(nano)::BIGINT AS chi2_nano FROM terms GROUP BY n
        ),
        dims AS (
            SELECT COUNT(DISTINCT o_orderstatus) AS r,
                   COUNT(DISTINCT o_orderpriority) AS c
            FROM orders
        )
        SELECT CAST(n AS BIGINT) AS n_orders,
               CAST(chi2_nano AS DOUBLE) / 1e9 AS chi2,
               CAST((r - 1) * (c - 1) AS BIGINT) AS dof
        FROM stat, dims
    """,
    "ml_ols_multifeat": f"""
        WITH m AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST({sql_cents('l_quantity')} AS DECIMAL(38,0))) AS DOUBLE) AS s1,
                   CAST(SUM(CAST({sql_cents('l_discount')} AS DECIMAL(38,0))) AS DOUBLE) AS s2,
                   CAST(SUM(CAST({sql_cents('l_tax')} AS DECIMAL(38,0))) AS DOUBLE) AS s3,
                   CAST(SUM(CAST({sql_cents('l_extendedprice')} AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST({sql_cents('l_quantity')} * {sql_cents('l_quantity')} AS DECIMAL(38,0))) AS DOUBLE) AS s11,
                   CAST(SUM(CAST({sql_cents('l_quantity')} * {sql_cents('l_discount')} AS DECIMAL(38,0))) AS DOUBLE) AS s12,
                   CAST(SUM(CAST({sql_cents('l_quantity')} * {sql_cents('l_tax')} AS DECIMAL(38,0))) AS DOUBLE) AS s13,
                   CAST(SUM(CAST({sql_cents('l_discount')} * {sql_cents('l_discount')} AS DECIMAL(38,0))) AS DOUBLE) AS s22,
                   CAST(SUM(CAST({sql_cents('l_discount')} * {sql_cents('l_tax')} AS DECIMAL(38,0))) AS DOUBLE) AS s23,
                   CAST(SUM(CAST({sql_cents('l_tax')} * {sql_cents('l_tax')} AS DECIMAL(38,0))) AS DOUBLE) AS s33,
                   CAST(SUM(CAST({sql_cents('l_quantity')} * {sql_cents('l_extendedprice')} AS DECIMAL(38,0))) AS DOUBLE) AS s1y,
                   CAST(SUM(CAST({sql_cents('l_discount')} * {sql_cents('l_extendedprice')} AS DECIMAL(38,0))) AS DOUBLE) AS s2y,
                   CAST(SUM(CAST({sql_cents('l_tax')} * {sql_cents('l_extendedprice')} AS DECIMAL(38,0))) AS DOUBLE) AS s3y,
                   CAST(SUM(CAST({sql_cents('l_extendedprice')} * {sql_cents('l_extendedprice')} AS DECIMAL(38,0))) AS DOUBLE) AS syy
            FROM lineitem
        ),
        c AS (
            SELECT n, s1, s2, s3, sy,
                   s11 - s1 * s1 / n AS c11,
                   s12 - s1 * s2 / n AS c12,
                   s13 - s1 * s3 / n AS c13,
                   s22 - s2 * s2 / n AS c22,
                   s23 - s2 * s3 / n AS c23,
                   s33 - s3 * s3 / n AS c33,
                   s1y - s1 * sy / n AS c1y,
                   s2y - s2 * sy / n AS c2y,
                   s3y - s3 * sy / n AS c3y,
                   syy - sy * sy / n AS cyy
            FROM m
        ),
        sol AS (
            SELECT n, s1, s2, s3, sy, c1y, c2y, c3y, cyy,
                   (c1y * (c22 * c33 - c23 * c23)
                    - c12 * (c2y * c33 - c23 * c3y)
                    + c13 * (c2y * c23 - c22 * c3y))
                   / (c11 * (c22 * c33 - c23 * c23)
                      - c12 * (c12 * c33 - c23 * c13)
                      + c13 * (c12 * c23 - c22 * c13)) AS b1,
                   (c11 * (c2y * c33 - c3y * c23)
                    - c1y * (c12 * c33 - c23 * c13)
                    + c13 * (c12 * c3y - c2y * c13))
                   / (c11 * (c22 * c33 - c23 * c23)
                      - c12 * (c12 * c33 - c23 * c13)
                      + c13 * (c12 * c23 - c22 * c13)) AS b2,
                   (c11 * (c22 * c3y - c2y * c23)
                    - c12 * (c12 * c3y - c2y * c13)
                    + c1y * (c12 * c23 - c22 * c13))
                   / (c11 * (c22 * c33 - c23 * c23)
                      - c12 * (c12 * c33 - c23 * c13)
                      + c13 * (c12 * c23 - c22 * c13)) AS b3
            FROM c
        )
        SELECT CAST(n AS BIGINT) AS n_rows,
               (sy - b1 * s1 - b2 * s2 - b3 * s3) / n AS beta0,
               b1 AS beta1, b2 AS beta2, b3 AS beta3,
               1.0 - (cyy - (b1 * c1y + b2 * c2y + b3 * c3y)) / cyy AS r2
        FROM sol
    """,
    "survival_kaplan_meier": """
        WITH life AS (
            SELECT o_custkey,
                   MIN(CAST(o_orderdate AS DATE)) AS first_d,
                   MAX(CAST(o_orderdate AS DATE)) AS last_d
            FROM orders GROUP BY o_custkey
        ),
        obs AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS end_d FROM orders),
        per_cust AS (
            SELECT CAST(date_diff('day', first_d, last_d) AS BIGINT) AS dur,
                   CASE WHEN date_diff('day', last_d, end_d) > 90
                        THEN 1 ELSE 0 END AS event
            FROM life, obs
        ),
        per_t AS (
            SELECT dur, SUM(event)::BIGINT AS d, COUNT(*)::BIGINT AS m
            FROM per_cust GROUP BY dur
        ),
        tot AS (SELECT SUM(m)::BIGINT AS n_total FROM per_t),
        t AS (
            SELECT dur, d, m,
                   n_total - COALESCE(SUM(m) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
            FROM per_t, tot
        ),
        lg AS (
            SELECT dur, d, n_risk,
                   CASE WHEN d >= n_risk THEN NULL
                        ELSE CAST(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT)
                   END AS log_nano
            FROM t
        ),
        cum AS (
            SELECT dur, d, n_risk,
                   MAX(CASE WHEN log_nano IS NULL THEN 1 ELSE 0 END)
                       OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zf,
                   SUM(log_nano)
                       OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_log
            FROM lg
        )
        SELECT dur AS dur_days,
               CAST(n_risk AS BIGINT) AS n_risk,
               d AS n_events,
               CASE WHEN zf = 1 THEN 0.0
                    ELSE round(exp(CAST(cum_log AS DOUBLE) / 1e9), 6)
               END AS survival
        FROM cum
        WHERE d > 0
    """,
    "text_zipf_slope": """
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ),
        freq AS (
            SELECT term, COUNT(*)::BIGINT AS cnt FROM toks
            WHERE term <> '' GROUP BY term
        ),
        top AS (
            SELECT cnt,
                   row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank
            FROM freq QUALIFY rank <= 500
        ),
        pts AS (
            SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                   CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
            FROM top
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(x)::BIGINT AS DOUBLE) AS sx,
                   CAST(SUM(y)::BIGINT AS DOUBLE) AS sy,
                   CAST(SUM(x * y)::BIGINT AS DOUBLE) AS sxy,
                   CAST(SUM(x * x)::BIGINT AS DOUBLE) AS sxx
            FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_terms,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope,
               ((sy / 1e6) - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sx / 1e6)) / n AS intercept
        FROM agg
    """,
    "sketch_countmin": """
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ),
        freq AS (
            SELECT term, COUNT(*)::BIGINT AS cnt FROM toks
            WHERE term <> '' GROUP BY term
        ),
        hashed AS (
            SELECT h.r AS h,
                   CAST(CAST('0x' || substr(md5(term), 1 + 7 * h.r, 7) AS BIGINT) % 512 AS BIGINT) AS b,
                   cnt
            FROM freq, (SELECT unnest([0, 1, 2, 3]) AS r) h
        ),
        sketch AS (
            SELECT h, b, SUM(cnt)::BIGINT AS cell FROM hashed GROUP BY h, b
        ),
        top AS (
            SELECT term, cnt,
                   row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk
            FROM freq QUALIFY rk <= 20
        ),
        probe AS (
            SELECT term, cnt, h.r AS h,
                   CAST(CAST('0x' || substr(md5(term), 1 + 7 * h.r, 7) AS BIGINT) % 512 AS BIGINT) AS b
            FROM top, (SELECT unnest([0, 1, 2, 3]) AS r) h
        )
        SELECT p.term, p.cnt AS true_cnt, MIN(s.cell)::BIGINT AS est_cnt
        FROM probe p JOIN sketch s ON p.h = s.h AND p.b = s.b
        GROUP BY p.term, p.cnt
    """,
}
