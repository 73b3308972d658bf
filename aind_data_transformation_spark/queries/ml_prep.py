"""ML-preparation operators, batch 3: per-dimension embedding statistics,
distributed covariance (the PCA front-end), vocabulary coverage / OOV
rates, a word-bigram language-model quality score (the conditional-prob
step up from ``text_unigram_logprob``), exact distributed quantile
binning, and per-session event-path extraction for sequence modeling.

These extend the LLM-pipeline surface (SURVEY.md §2 Part C) with the
feature-engineering passes that sit between corpus curation and model
training:

- ``embed_dim_stats``    — per-dimension mean/variance/min/max across the
                           corpus (embedding drift / dead-dimension audit)
- ``embed_covariance``   — upper-triangle covariance of the leading
                           dimensions from one distributed pass of integer
                           moment sums; the d x d result is driver-sized,
                           which is exactly how distributed PCA splits
                           work (reduce moments, eigensolve locally)
- ``tok_vocab_coverage`` — per-document OOV-token rate against the corpus
                           top-K vocabulary (tokenizer-coverage audit)
- ``text_bigram_lm_score`` — add-1-smoothed word-bigram log-probability
                           per document (KenLM-style fluency filter, one
                           order above the unigram proxy)
- ``quantile_bins``      — exact decile binning via one distributed
                           percentile reduce + broadcast boundary probe
                           (NOT a single-task global ntile window)
- ``session_paths``      — ordered event-type path string per gap session
                           (the sequence-model view of the event log)

Cross-engine exactness strategy (module doctrine shared with
``queries/training_prep.py``): aggregate in exact integers wherever
accumulation order could matter (micro-scaled element values, token
counts, cents); round each transcendental term (``ln``) to a 1e-6
integer grid *before* summation; keep raw doubles only for the final
identical-operand-order arithmetic (division, sqrt) that IEEE rounds
deterministically.

Scale notes are per operator; none materializes a cross product,
collects to the driver (beyond the d x d covariance contract), or
broadcasts an unbounded side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.ops import (
    attach_broadcast,
    local_materializer,
    pack_sequences,
    session_stage,
)

from aind_data_transformation_spark.io.sources import load_table

#: leading dimensions covered by the covariance pass (the PCA front-end
#: contract: moments for a fixed d' x d' block, eigensolve driver-side)
_COV_DIMS = 8

#: vocabulary size for the coverage audit (fixed K => the vocab side is
#: bounded and broadcast-safe at any corpus size)
_VOCAB_K = 20

#: decile boundaries for quantile binning
_QS = [i / 10.0 for i in range(1, 10)]

_GAP_US = 30 * 60 * 1_000_000

#: micro-scaled integer element: exact for float32 inputs well inside the
#: int64 range, and makes every subsequent sum order-independent
_XI = "CAST(round(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT)"


def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics of the embedding column: n, mean,
    population variance, min, max. Elements are micro-scaled to BIGINT
    before summation (sum and sum-of-squares are then order-independent
    exact integers); mean/variance are recovered with an identical
    double-operation sequence in both engines, so results hash-match.

    Scale: ``posexplode`` is a map-side expansion (rows x dim), followed
    by ONE hash aggregation keyed on the 64-value dim column — partial
    aggregation collapses each task's input to 64 rows before the
    shuffle, so the shuffle is O(tasks x dim) regardless of corpus size.
    Column pruning keeps the scan to the embedding column only."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        F.posexplode(F.expr(f"transform(embedding, x -> {_XI})")).alias(
            "dim", "xi"
        )
    )
    n = F.count(F.lit(1))
    # decimal accumulators: xi is 1e6-grid per row, so int64 sums wrap
    # past ~1e12 rows; DuckDB SUM(BIGINT) widens to HUGEINT on its own
    d38 = "decimal(38,0)"
    sx = F.sum(F.col("xi").cast(d38))
    sxx = F.sum((F.col("xi") * F.col("xi")).cast(d38))
    nd = n.cast("double")
    sxd = sx.cast("double")
    sxxd = sxx.cast("double")
    return (
        x.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            n.alias("n"),
            (sxd / nd / 1e6).alias("mean"),
            (((sxxd - sxd * sxd / nd) / nd) / 1e12).alias("var_pop"),
            (F.min("xi").cast("double") / 1e6).alias("vmin"),
            (F.max("xi").cast("double") / 1e6).alias("vmax"),
        )
    )


def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance entries cov(i, j), i <= j < 8, of the
    leading embedding dimensions, from exact integer moment sums
    (sum xi, sum xj, sum xi*xj) in a single distributed reduce. This is
    the scale-correct PCA front-end: the reduce is one pass over the
    data producing O(d'^2) numbers; the eigensolve on the tiny d' x d'
    matrix is driver work by design.

    Exactness: micro-scaled integer sums (order-independent); covariance
    recovered as (Sxy - Sx*Sy/n)/n with the identical double sequence in
    both engines, then de-scaled by 1e12.

    int64 headroom: a micro-scaled product is ≤1e12 per row, so a BIGINT
    product sum dies past ~9e6 rows — each operand casts to
    decimal(19,0) and the products accumulate exactly in decimal(38,0)
    (read back through CAST(.. AS DOUBLE), so no output bit changes);
    the linear sums s_i (≤1e6/row) keep int64 headroom to 9e12 rows."""
    e = load_table(spark, sf_dir, "embeddings")
    cols = [
        F.expr(
            f"CAST(round(CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
            f" * 1000000.0D) AS BIGINT)"
        ).alias(f"x{i}")
        for i in range(_COV_DIMS)
    ]
    w = e.select(*cols)
    pairs = [
        (i, j) for i in range(_COV_DIMS) for j in range(_COV_DIMS) if i <= j
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(_COV_DIMS):
        aggs.append(F.sum(f"x{i}").alias(f"s{i}"))
    for i, j in pairs:
        aggs.append(
            F.sum(
                F.col(f"x{i}").cast("decimal(19,0)")
                * F.col(f"x{j}").cast("decimal(19,0)")
            ).alias(f"p_{i}_{j}")
        )
    row = w.agg(*aggs)
    cov_terms = ", ".join(
        f"{i}L, {j}L, (CAST(p_{i}_{j} AS DOUBLE)"
        f" - CAST(s{i} AS DOUBLE) * CAST(s{j} AS DOUBLE)"
        f" / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) / 1e12"
        for i, j in pairs
    )
    return row.selectExpr(
        f"stack({len(pairs)}, {cov_terms}) AS (i, j, cov)"
    ).selectExpr("CAST(i AS BIGINT) AS i", "CAST(j AS BIGINT) AS j", "cov")


_PCA_ROUNDS = 4


def _pca_cov_cols(dialect: str) -> str:
    """Full-matrix covariance columns c_i_j (i<=j) from micro-scaled
    integer moment sums — identical formula in both dialects."""
    elem = (
        "element_at(embedding, {k})" if dialect == "spark" else "embedding[{k}]"
    )
    terms = []
    for i, j in _COV_PAIRS:
        xi = f"CAST(round(CAST({elem.format(k=i + 1)} AS DOUBLE) * 1000000.0) AS BIGINT)"
        xj = f"CAST(round(CAST({elem.format(k=j + 1)} AS DOUBLE) * 1000000.0) AS BIGINT)"
        terms.append(
            f"(CAST(sum({xi} * {xj}) AS DOUBLE)"
            f" - CAST(sum({xi}) AS DOUBLE) * CAST(sum({xj}) AS DOUBLE)"
            f" / CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE)"
            f" / 1e12 AS c_{i}_{j}"
        )
    return ", ".join(terms)


def _pca_round_exprs() -> tuple[list, list]:
    """Per-round (u-step, v-step) select expressions, shared by both
    dialects: u = C v (fixed summation order), v = round(u/||u||, 6)."""

    def c(i, j):
        return f"c_{min(i, j)}_{max(i, j)}"

    u_step = [
        f"({' + '.join(f'{c(d, j)} * v{j}' for j in range(_COV_DIMS))}) AS u{d}"
        for d in range(_COV_DIMS)
    ]
    nrm = "sqrt(" + " + ".join(f"u{d} * u{d}" for d in range(_COV_DIMS)) + ")"
    v_step = [
        f"round(u{d} / {nrm}, 6) AS v{d}" for d in range(_COV_DIMS)
    ] + [f"round({nrm}, 6) AS lam"]
    return u_step, v_step


def _pca_sql(table: str, dialect: str) -> str:
    """The COMPLETE power-iteration query, generated once and rendered
    for either dialect (only the array-indexing syntax differs) —
    maximal cross-engine parity by construction."""
    u_step, v_step = _pca_round_exprs()
    ccols = ", ".join(f"c_{i}_{j}" for i, j in _COV_PAIRS)
    ctes = [
        f"cov AS (SELECT {_pca_cov_cols(dialect)} FROM {table})",
        "it0 AS (SELECT "
        + ", ".join(
            f"CAST({1.0 if d == 0 else 0.0} AS DOUBLE) AS v{d}"
            for d in range(_COV_DIMS)
        )
        + f", {ccols} FROM cov)",
    ]
    prev = "it0"
    for r in range(1, _PCA_ROUNDS + 1):
        ctes.append(
            f"u{r} AS (SELECT {', '.join(u_step)}, {ccols} FROM {prev})"
        )
        ctes.append(
            f"it{r} AS (SELECT {', '.join(v_step)}, {ccols} FROM u{r})"
        )
        prev = f"it{r}"
    # long-form expansion of the 1-row iterate. Spark INLINES CTEs, so a
    # d-branch UNION ALL would re-run the corpus covariance reduce d
    # times — inline(array(...)) references the iterate ONCE (single
    # scan, measured 8x faster). DuckDB materializes CTEs, so the UNION
    # form is fine there and keeps its planner on the simple path.
    if dialect == "spark":
        structs = ", ".join(
            f"named_struct('dim', CAST({d} AS BIGINT), 'loading', v{d},"
            f" 'eigenvalue', lam)"
            for d in range(_COV_DIMS)
        )
        rows = f"SELECT inline(array({structs})) FROM {prev}"
    else:
        rows = "\n        UNION ALL ".join(
            f"SELECT CAST({d} AS BIGINT) AS dim, v{d} AS loading, lam"
            f" AS eigenvalue FROM {prev}"
            for d in range(_COV_DIMS)
        )
    return "WITH " + ",\n        ".join(ctes) + "\n        " + rows


def _pca_project_sql(table: str, dialect: str) -> str:
    """Projection companion: scores every vector against the trained
    component from :func:`_pca_sql`'s final iterate (1-row broadcast)."""
    u_step, v_step = _pca_round_exprs()
    ccols = ", ".join(f"c_{i}_{j}" for i, j in _COV_PAIRS)
    elem = (
        "element_at(embedding, {k})" if dialect == "spark" else "embedding[{k}]"
    )
    base = _pca_sql(table, dialect)
    # reuse the WITH chain up to the final iterate, then project
    marker = (
        "\n        SELECT inline"
        if dialect == "spark"
        else "\n        SELECT CAST(0"
    )
    with_part = base.split(marker, 1)[0]
    score = " + ".join(
        f"w.v{d} * CAST({elem.format(k=d + 1)} AS DOUBLE)"
        for d in range(_COV_DIMS)
    )
    return f"""{with_part},
        proj AS (
            SELECT e.vec_id,
                   CAST(round(({score}) * 1000000.0) AS BIGINT)
                       AS score_micro
            FROM {table} e, it{_PCA_ROUNDS} w
        )
        SELECT vec_id, score_micro FROM proj"""


def q_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the trained principal component (the
    dimensionality-reduction apply step): the 1-row component from the
    power iteration probes the corpus as a broadcast — one covariance
    reduce + one map pass over the vectors, no corpus shuffle. Scores
    are 1e-6 integer-gridded (identical double dot products feed the
    grid, so both engines agree exactly)."""
    from aind_data_transformation_spark.io.sources import register_tables

    register_tables(spark, sf_dir, suffix="_pcap", tables=("embeddings",))
    return spark.sql(_pca_project_sql("embeddings_pcap", "spark"))


def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the leading embedding dimensions by
    power iteration, entirely in-plan: ONE distributed moment reduce
    builds the 8x8 covariance (same exact-integer scheme as
    ``embed_covariance``), then 4 power-iteration rounds run as scalar
    expression folding over that single row — matrix-vector products on
    a d' x d' matrix are driver-scale work by definition, here kept
    inside the plan so the whole thing is one job. The iterate
    re-normalizes and rounds to 6 decimals each round (fixed-point
    discipline). Spark and DuckDB run the SAME generated SQL (only the
    array-index syntax differs), so the loadings match exactly.

    Returns long-form (dim, loading) plus the iterate-norm eigenvalue
    estimate."""
    from aind_data_transformation_spark.io.sources import register_tables

    register_tables(spark, sf_dir, suffix="_pca", tables=("embeddings",))
    return spark.sql(_pca_sql("embeddings_pca", "spark"))


def q_tok_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-K
    vocabulary (K=20, ranked by document frequency with lexicographic
    tie-break). The OOV rate is reported in exact parts-per-million
    (integer), sidestepping float rounding entirely.

    Scale: document frequency is one distinct + hash aggregation on the
    term key; the vocabulary is a fixed-K TakeOrdered (driver-sized by
    contract) re-broadcast to the probe join — the broadcast side is
    bounded by K, never by the corpus, so this is broadcast-correct at
    100 TB. The probe join + per-doc aggregation shuffle on term and
    doc_id respectively."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("term"),
    )
    dfreq = (
        terms.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    vocab = (
        dfreq.orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(_VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    n_tok = F.count(F.lit(1))
    n_in = F.count("in_vocab")
    return (
        terms.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            n_tok.alias("n_tokens"),
            (n_tok - n_in).alias("n_oov"),
            F.expr(
                "CAST(round(CAST(count(1) - count(in_vocab) AS DOUBLE)"
                " / CAST(count(1) AS DOUBLE) * 1000000.0D) AS BIGINT)"
            ).alias("oov_ppm"),
        )
    )


def q_text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1-smoothed word-bigram log-probability score per document:
    P(w2 | w1) = (C(w1 w2) + 1) / (C(w1 ·) + V) with counts taken over
    the whole corpus and V the distinct-unigram count. Per-bigram
    ln(P) is rounded to a 1e-6 integer grid BEFORE summation (module
    doctrine: an engine's last-ulp ``ln`` difference cannot survive the
    grid), so the per-document sum is exact; the average is the
    identical double division in both engines.

    This is the KenLM-style fluency filter one order above
    ``text_unigram_logprob``: gibberish token order now scores low even
    when the unigram distribution looks normal.

    Scale: bigrams are an array-local ``zip_with`` + explode (map-side);
    the model is two hash aggregations keyed on bigram/unigram; scoring
    re-joins the exploded bigrams to the model on the bigram key — all
    shuffle-equi-join work on high-cardinality keys, with the scalar V
    joined as a broadcast literal. No cross product, no driver loop."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias("w"),
    )
    # r12 measured note: staging the exploded bigram stream (3
    # derivations of the tokenize+explode) was REJECTED on paired
    # evidence (0.74, 1.77, 1.04, 1.57 — median 1.30): the stream is
    # CORPUS-sized, so the materialization write+read costs more than
    # two re-explodes here (same mechanism as the rejected
    # ml_naive_bayes_score token-array staging). At cluster scale,
    # stage it durably (ops.parquet_materializer) — three passes over
    # 100 TB do not amortize there.
    big = toks.where(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uc = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = toks.select(F.explode("w").alias("t")).agg(
        F.countDistinct("t").alias("vs")
    )
    lp = (
        big.join(bc, ["w1", "w2"])
        .join(uc, ["w1"])
        .transform(attach_broadcast, F.broadcast(v))
        .select(
            "doc_id",
            F.expr(
                "CAST(round(ln((CAST(c2 AS DOUBLE) + 1.0D)"
                " / (CAST(c1 AS DOUBLE) + CAST(vs AS DOUBLE)))"
                " * 1000000.0D) AS BIGINT)"
            ).alias("lp_micro"),
        )
    )
    return lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp_micro").alias("lp_micro_sum"),
        (
            F.sum("lp_micro").cast("double")
            / F.count(F.lit(1)).cast("double")
            / 1e6
        ).alias("avg_logprob"),
    )


def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decile binning of order totals with per-bin stats — the ML
    feature-bucketization pass. Boundaries come from ONE distributed
    exact-percentile reduce (Spark's ``percentile`` merges per-partition
    state; no global sort); assignment probes the broadcast 9-value
    boundary array with an array-local ``filter`` count. This is the
    scale-correct shape: a single-task global ``ntile`` window would
    serialize 100 TB through one executor, the percentile reduce does
    not.

    Exactness: cents are exact BIGINT; both engines interpolate
    percentiles as lo + (h - floor(h)) * (hi - lo) with h = (n-1)*p on
    identical operands, giving bit-identical double boundaries."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents")
    )
    qs = ", ".join(f"{p}D" for p in _QS)
    bounds = o.agg(
        F.expr(f"percentile(cents, array({qs}))").alias("bs")
    )
    binned = o.transform(attach_broadcast, F.broadcast(bounds)).select(
        "cents",
        F.expr(
            "CAST(size(filter(bs, x -> CAST(cents AS DOUBLE) >= x))"
            " AS BIGINT)"
        ).alias("bucket"),
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.sum("cents").alias("sum_cents"),
    )


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-type path per gap session (30-minute idle cutoff):
    the sequence-model view of the event log ('view>click>purchase').
    Session assignment is the standard lag + running-sum window pair on
    (user_id); the path is an order-guaranteed aggregation — Spark sorts
    the collected (us, event_id, event_type) structs (lexicographic
    struct order == the window order), DuckDB uses
    ``string_agg(... ORDER BY ...)`` — so the strings match exactly.

    Scale: both windows and the final aggregation partition on user_id,
    the natural high-cardinality key; per-group state is one session's
    events. Exact-microsecond arithmetic (no truncation ambiguity)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(w)
    is_new = F.when(
        prev.isNull() | ((F.col("us") - prev) > _GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = e.withColumn("session_idx", F.sum(is_new).over(cum).cast("long"))
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("us").alias("start_us"),
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(us, event_id, event_type))),"
                " s -> s.event_type), '>')"
            ).alias("path"),
        )
    )


def q_bpe_pair_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration at corpus scale: the top-20 adjacent
    character pairs by total occurrence count, counted on **word types
    weighted by word frequency** — the standard BPE optimization (Sennrich
    et al. 2016): the pair scan runs over the distinct-word table (small),
    not the raw token stream (huge). A full tokenizer train is a driver
    loop re-running this step with the winning pair merged into one
    symbol; each iteration is this exact plan.

    Ties break on the pair string, counts are exact integers, and the
    character split is the portable substring form (both engines index
    chars identically), so the oracle hash-matches.

    Scale: word-type table = one hash aggregation of the token explode;
    pair explode is array-local over words (bounded length); final count
    is one more hash aggregation + TakeOrdered-20. No joins at all."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(
            F.explode(
                F.expr("filter(split(lower(text), ' '), x -> x <> '')")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    pairs = (
        "zip_with(slice(cs, 1, size(cs) - 1), slice(cs, 2, size(cs) - 1),"
        " (a, b) -> concat(a, b))"
    )
    return (
        wc.where(F.length("w") >= 2)
        .select("cnt", F.expr(chars).alias("cs"))
        .select("cnt", F.explode(F.expr(pairs)).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("cnt").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(20)
    )


_BPE_ROUNDS = 4

#: greedy left-to-right non-overlapping merge of the winning pair
#: (pa, pb) inside a symbol array ``cs`` — a string FOLD with a
#: chr(31)-delimited accumulator, because both engines can fold strings
#: (Spark `aggregate`, DuckDB `list_reduce`) but neither can fold with a
#: struct accumulator. Initial acc = first symbol; per element x: if the
#: accumulator's LAST symbol equals pa and x = pb, replace that tail
#: symbol with pa||pb (the merge — a freshly-merged tail can never
#: re-trigger as pa because its string pa||pb ≠ pa, which is exactly the
#: non-overlap rule), else append x. This reproduces Sennrich's re.sub
#: left-to-right semantics without regex lookarounds (RE2/DuckDB has
#: none).
def _bpe_merge_spark_expr(pa: str, pb: str) -> str:
    """The merge fold with ``pa``/``pb`` as arbitrary SQL expressions:
    column refs during training (the winner is a joined 1-row frame),
    quoted string literals during encode (the learned merges.txt is a
    driver-side artifact inlined into the fold)."""
    return (
        "split(aggregate(slice(cs, 2, size(cs) - 1), element_at(cs, 1),"
        " (acc, x) -> CASE"
        f"  WHEN element_at(split(acc, char(31)), -1) = {pa}"
        f" AND x = {pb} THEN"
        f"   CASE WHEN length(acc) = length({pa})"
        f" THEN concat({pa}, {pb})"
        f"        ELSE concat(left(acc, length(acc) - length({pa}) - 1),"
        f"                    char(31), {pa}, {pb}) END"
        "  ELSE concat(acc, char(31), x) END), char(31))"
    )


_BPE_MERGE_SPARK = _bpe_merge_spark_expr("pa", "pb")


def _sql_str_lit(s: str) -> str:
    """A Spark-SQL single-quoted string literal (backslash and quote
    escaped — Spark's parser treats backslash as an escape char)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def q_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round BPE tokenizer training: 4 full merge rounds — each
    round counts adjacent symbol pairs on the frequency-weighted
    word-TYPE table (the `bpe_pair_merge_step` plan), picks THE winning
    pair (max count, ties to the lexicographically smallest pair), and
    rewrites every word with the greedy left-to-right non-overlapping
    merge before the next round. This turns the single demo step into
    the actual tokenizer-training pipeline stage; the output is the
    learned merge table (round, pair, count) — exactly what a BPE
    tokenizer ships as its merges.txt.

    Scale: the `graph_bfs_frontier` bounded-round pattern — each round
    is one pair-explode + hash agg over the word-type table (vocab-, not
    corpus-sized), one 1-row TakeOrdered winner (collected — merges.txt
    is a driver-side artifact), one literal-inlined map rewrite; rounds
    are stage-materialized (ops.local_materializer; parquet on a
    cluster) so the plan stays linear in rounds. Training runs once per
    (session, sf_dir) (`_bpe_learned_merges`) and is shared with
    `bpe_encode_apply`.

    Exactness: counts are integers; the merge is a deterministic string
    fold with identical semantics in both engines (see _BPE_MERGE_SPARK)
    and the oracle unrolls the same 4 rounds as chained CTEs."""
    merges = _bpe_learned_merges(spark, sf_dir)
    return spark.createDataFrame(
        [(r, pa + pb, n) for (r, pa, pb, n) in merges],
        "round bigint, pair string, n_occurrences bigint",
    )


# The merge table IS a tokenizer's shipped artifact (merges.txt) —
# inherently metadata-sized (4 rows here; ~50k for a production vocab),
# so collecting it driver-side and inlining it as literals is the
# production shape, not a scale compromise.
def _bpe_learned_merges(spark: SparkSession, sf_dir: str) -> list:
    """Run the multi-round training loop once per (session, sf_dir) and
    return the learned merge list [(round, pa, pb, n_occurrences)].
    Each round: one pair-explode + hash agg over the word-TYPE table
    (vocab-, not corpus-sized), one 1-row TakeOrdered winner (collected
    — it feeds the next round's rewrite as inlined literals), one
    map-side merge fold. Rounds are stage-materialized
    (ops.local_materializer; parquet on a cluster) so the plan stays
    linear in rounds."""
    def build(_scratch: str) -> list:
        d = load_table(spark, sf_dir, "documents")
        wc = (
            d.select(
                F.explode(
                    F.expr("filter(split(lower(text), ' '), x -> x <> '')")
                ).alias("w")
            )
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.length("w") >= 2)
        )
        chars = "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        words = local_materializer(
            wc.select("cnt", F.expr(chars).alias("cs")), "bpe_w0"
        )
        merges = []
        for r in range(1, _BPE_ROUNDS + 1):
            pairs = (
                words.select(
                    "cnt",
                    F.explode(
                        F.expr(
                            "zip_with(slice(cs, 1, size(cs) - 1),"
                            " slice(cs, 2, size(cs) - 1),"
                            " (a, b) -> struct(a AS pa, b AS pb))"
                        )
                    ).alias("p"),
                )
                .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
                .agg(F.sum("cnt").alias("n_occurrences"))
            )
            row = (
                pairs.orderBy(
                    F.desc("n_occurrences"), F.asc("pa"), F.asc("pb")
                )
                .limit(1)
                .collect()[0]
            )
            merges.append((r, row["pa"], row["pb"], int(row["n_occurrences"])))
            if r < _BPE_ROUNDS:
                fold = _bpe_merge_spark_expr(
                    _sql_str_lit(row["pa"]), _sql_str_lit(row["pb"])
                )
                words = local_materializer(
                    words.select("cnt", F.expr(fold).alias("cs")), f"bpe_w{r}"
                )
        return merges

    return session_stage(spark, ("bpe_merges", sf_dir), build)


def q_bpe_encode_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the learned merges (r8 verdict item #3 —
    the apply half of the tokenizer train→apply loop that
    `text_tokens_bpeish` only approximates): every document's words are
    folded through the merge table in rank order (the same greedy
    left-to-right fold as training, with the learned pairs inlined as
    literals), emitting per-document word/char/token counts and an
    order-sensitive md5 of the full token stream — so one mis-merged
    symbol anywhere in any document breaks the hash.

    Scale shape: the fold runs over the DISTINCT word types (vocab-,
    not corpus-sized — the standard tokenizer trick), then one
    equi-join maps word instances to their encodings; per-doc token
    order is restored by array_sort over (pos, toks), never a
    single-task global window. The merge table itself is collected
    driver-side once per session (`_bpe_learned_merges` — merges.txt is
    metadata) and inlined, so encode adds zero joins per round."""
    merges = _bpe_learned_merges(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.posexplode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("pos", "w"),
    )
    chars = "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    enc = words.select("w").distinct().withColumn("cs", F.expr(chars))
    for (_r, pa, pb, _n) in merges:
        fold = _bpe_merge_spark_expr(_sql_str_lit(pa), _sql_str_lit(pb))
        enc = enc.withColumn("cs", F.expr(fold))
    enc = enc.select(
        "w",
        F.length("w").cast("long").alias("n_chars_w"),
        F.size("cs").cast("long").alias("n_sym"),
        F.array_join("cs", chr(31)).alias("toks"),
    )
    per = (
        words.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_chars_w").cast("long").alias("n_chars"),
            F.sum("n_sym").cast("long").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    chr(31),
                    F.expr(
                        "transform(array_sort(collect_list("
                        "struct(pos, toks))), s -> s.toks)"
                    ),
                )
            ).alias("tokens_md5"),
        )
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_chars", F.lit(0)).cast("long").alias("n_chars"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("tokens_md5", F.md5(F.lit(""))).alias("tokens_md5"),
        )
    )


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words featurization (long form): every token
    maps to bucket = portable_hash(token) % 64 and per-document bucket
    counts are the model-ready sparse features — the fixed-width,
    vocabulary-free encoding (no dictionary to build, ship, or broadcast)
    that linear models and gradient-boosted trees train on at corpus
    scale. Uses the same portable token hash as the minhash pipeline
    (texthash.tokval), so the oracle reproduces buckets exactly.

    Scale: explode + one hash aggregation on (doc_id, bucket); output is
    bounded by docs x 64. No vocabulary state of any kind — the defining
    advantage of feature hashing at 100 TB."""
    from aind_data_transformation_spark.texthash import tokval

    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("t"),
    )
    return (
        terms.select("doc_id", F.expr(f"({tokval('t')}) % 64").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


#: logistic-regression geometry: leading dims as features, fixed rounds
_LR_DIMS = 4
_LR_ROUNDS = 3
_LR_RATE = "CAST('0.1' AS DOUBLE)"


def _lr_z(wcols: list, xcols: list) -> str:
    return " + ".join(f"{w} * {x}" for w, x in zip(wcols, xcols)) + " + b"


def q_ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training: 3 full-batch gradient
    descent rounds on the leading 4 embedding dimensions predicting
    label parity, entirely as DataFrame plans (the iterative-ML shape of
    ``embed_kmeans_lloyd``: per round ONE moment-style reduce of the
    corpus + a 1-row broadcast weight update — the corpus is never
    shuffled on an unbounded key, and gradients are driver-sized by
    construction, exactly how distributed GD parallelizes).

    Cross-engine exactness: per-row gradient terms round to a 1e-6
    integer grid before summation (order-independent; a last-ulp
    ``exp`` difference cannot survive the grid except on exact
    boundaries), and updated weights round to 6 decimals so each
    round's inputs are bit-identical in both engines — same fixed-point
    discipline as PageRank/k-means. Returns the trained weights plus
    in-sample accuracy counts.

    Plan-shape note (r12, measured): a staged-training-frame +
    driver-side-weight-update rewrite (1 linear job per round instead
    of the lazily-nested weight chain whose ONE plan re-derives the
    projection 15× for 3 rounds) was built, oracle-verified, and
    REJECTED on paired-interleave evidence (median 1.67×, two of three
    runs slower): at bench scale the 5 extra job barriers cost more
    than the fused re-derivations save. On a real cluster, persist the
    training projection and iterate driver-side — the MLlib GD shape —
    because 2^rounds corpus passes do not amortize there."""
    em = load_table(spark, sf_dir, "embeddings")
    feats = em.select(
        *[
            F.expr(f"CAST(element_at(embedding, {d + 1}) AS DOUBLE)").alias(
                f"x{d + 1}"
            )
            for d in range(_LR_DIMS)
        ],
        F.expr("CAST(label % 2 AS DOUBLE)").alias("y"),
    )
    wcols = [f"w{d + 1}" for d in range(_LR_DIMS)]
    xcols = [f"x{d + 1}" for d in range(_LR_DIMS)]
    wdf = spark.sql(
        "SELECT "
        + ", ".join(f"CAST(0.0 AS DOUBLE) AS {w}" for w in wcols)
        + ", CAST(0.0 AS DOUBLE) AS b"
    )
    resid = f"(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-({_lr_z(wcols, xcols)}))) - y)"
    for _ in range(_LR_ROUNDS):
        joined = feats.transform(attach_broadcast, F.broadcast(wdf))
        grads = joined.agg(
            *[
                F.expr(
                    f"sum(CAST(round({resid} * {x} * 1000000.0D) AS BIGINT))"
                ).alias(f"g{i + 1}")
                for i, x in enumerate(xcols)
            ],
            F.expr(
                f"sum(CAST(round({resid} * 1000000.0D) AS BIGINT))"
            ).alias("gb"),
            F.count(F.lit(1)).alias("n"),
        )
        wdf = grads.transform(attach_broadcast, F.broadcast(wdf)).select(
            *[
                F.expr(
                    f"round({w} - {_LR_RATE} * CAST(g{i + 1} AS DOUBLE)"
                    f" / 1000000.0D / CAST(n AS DOUBLE), 6) AS {w}"
                )
                for i, w in enumerate(wcols)
            ],
            F.expr(
                f"round(b - {_LR_RATE} * CAST(gb AS DOUBLE)"
                f" / 1000000.0D / CAST(n AS DOUBLE), 6) AS b"
            ),
        )
    pred = f"(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-({_lr_z(wcols, xcols)}))) > CAST(0.5 AS DOUBLE))"
    scored = feats.transform(attach_broadcast, F.broadcast(wdf)).agg(
        F.expr(
            f"sum(CASE WHEN {pred} = (y = CAST(1.0 AS DOUBLE))"
            " THEN 1L ELSE 0L END)"
        ).alias("n_correct"),
        F.count(F.lit(1)).alias("n"),
    )
    return attach_broadcast(wdf, scored)


def _logreg_oracle() -> str:
    wcols = [f"w{d + 1}" for d in range(_LR_DIMS)]
    xcols = [f"x{d + 1}" for d in range(_LR_DIMS)]
    feats = ", ".join(
        f"CAST(embedding[{d + 1}] AS DOUBLE) AS x{d + 1}"
        for d in range(_LR_DIMS)
    )
    z = _lr_z([f"w.{w}" for w in wcols], xcols)
    resid = f"(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-({z}))) - y)"
    ctes = [
        f"feats AS (SELECT {feats}, CAST(label % 2 AS DOUBLE) AS y"
        " FROM embeddings)",
        "wr0 AS (SELECT "
        + ", ".join(f"CAST(0.0 AS DOUBLE) AS {w}" for w in wcols)
        + ", CAST(0.0 AS DOUBLE) AS b)",
    ]
    prev = "wr0"
    for r in range(1, _LR_ROUNDS + 1):
        gsel = ", ".join(
            f"sum(CAST(round({resid} * {x} * 1000000.0) AS BIGINT)) AS g{i + 1}"
            for i, x in enumerate(xcols)
        )
        ctes.append(
            f"gr{r} AS (SELECT {gsel},"
            f" sum(CAST(round({resid} * 1000000.0) AS BIGINT)) AS gb,"
            f" count(*) AS n FROM feats, {prev} w)"
        )
        wsel = ", ".join(
            f"round(w.{w} - {_LR_RATE} * CAST(g.g{i + 1} AS DOUBLE)"
            f" / 1000000.0 / CAST(g.n AS DOUBLE), 6) AS {w}"
            for i, w in enumerate(wcols)
        )
        ctes.append(
            f"wr{r} AS (SELECT {wsel},"
            f" round(w.b - {_LR_RATE} * CAST(g.gb AS DOUBLE)"
            f" / 1000000.0 / CAST(g.n AS DOUBLE), 6) AS b"
            f" FROM {prev} w, gr{r} g)"
        )
        prev = f"wr{r}"
    pred = (
        f"(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-({z})))"
        " > CAST(0.5 AS DOUBLE))"
    )
    ctes.append(
        f"scored AS (SELECT sum(CASE WHEN {pred} = (y = CAST(1.0 AS DOUBLE))"
        " THEN 1 ELSE 0 END)::BIGINT AS n_correct, count(*) AS n"
        f" FROM feats, {prev} w)"
    )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"\n        SELECT w.*, s.n_correct, s.n FROM {prev} w, scored s"
    )


def _bpe_train_oracle() -> str:
    """Unrolled 4-round BPE-train CTE chain — the same per-round SQL
    (pair count → 1-row winner → list_reduce merge fold) as the Spark
    loop, initial fold value = first symbol in both engines."""
    merge = (
        "string_split(list_reduce(cs, (acc, x) -> CASE"
        " WHEN string_split(acc, chr(31))[-1] = pa AND x = pb THEN"
        "  CASE WHEN len(acc) = len(pa) THEN pa || pb"
        "       ELSE left(acc, len(acc) - len(pa) - 1)"
        "            || chr(31) || pa || pb END"
        " ELSE acc || chr(31) || x END), chr(31))"
    )
    ctes = [
        """wc AS (
            SELECT w, count(*) AS cnt FROM (
                SELECT unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS w
                FROM documents
            ) GROUP BY w
        )""",
        """w0 AS (
            SELECT cnt,
                   list_transform(range(1, length(w) + 1),
                                  i -> w[i]) AS cs
            FROM wc WHERE length(w) >= 2
        )""",
    ]
    legs = []
    for r in range(1, _BPE_ROUNDS + 1):
        ctes.append(f"""p{r} AS (
            SELECT cs[i] AS pa, cs[i + 1] AS pb, SUM(cnt) AS n
            FROM w{r - 1}, unnest(generate_series(1, len(cs) - 1)) AS u(i)
            GROUP BY 1, 2
        )""")
        ctes.append(f"""win{r} AS (
            SELECT pa, pb, n FROM p{r}
            ORDER BY n DESC, pa ASC, pb ASC LIMIT 1
        )""")
        legs.append(
            f"SELECT CAST({r} AS BIGINT) AS round, pa || pb AS pair,"
            f" CAST(n AS BIGINT) AS n_occurrences FROM win{r}"
        )
        if r < _BPE_ROUNDS:
            ctes.append(f"""w{r} AS (
            SELECT cnt, {merge} AS cs
            FROM w{r - 1} CROSS JOIN win{r}
        )""")
    return (
        "WITH " + ",\n        ".join(ctes) + "\n        "
        + " UNION ALL ".join(legs)
    )


def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on TRUE tokenizer counts — the composition a
    real pretraining pipeline runs (`pack_sequences` bins on whitespace
    counts only because no tokenizer had been applied yet): per-doc BPE
    token counts from `bpe_encode_apply` feed the scalable two-phase
    exclusive cumsum (ops.pack_sequences — never a single-task global
    window), cutting the corpus into 512-TOKEN training bins. The
    oracle re-derives the merges, the per-doc counts, and the packing
    in one CTE chain, so a drifted token count anywhere shifts every
    later seq_id and breaks the hash."""
    # pack_sequences' two-phase cumsum references its input twice; the
    # input here is the full BPE encode chain, so stage the tiny
    # (doc_id, n_tokens) projection once instead of tokenizing the
    # corpus twice (6 documents scans in the before plan).
    tok = local_materializer(
        q_bpe_encode_apply(spark, sf_dir).select("doc_id", "n_tokens"),
        "bpe_token_counts",
    )
    return pack_sequences(tok, "doc_id", "n_tokens", budget=512, coarse=256)


def _bpe_encode_ctes() -> list:
    """Shared CTE chain for the encode-side oracles: re-derive the 4
    winners through the train chain, fold EVERY word type (incl. the
    length-1 words training skips) through the merges in rank order,
    and join word instances back (ending at the `tok` CTE)."""
    merge = (
        "string_split(list_reduce(cs, (acc, x) -> CASE"
        " WHEN string_split(acc, chr(31))[-1] = pa AND x = pb THEN"
        "  CASE WHEN len(acc) = len(pa) THEN pa || pb"
        "       ELSE left(acc, len(acc) - len(pa) - 1)"
        "            || chr(31) || pa || pb END"
        " ELSE acc || chr(31) || x END), chr(31))"
    )
    ctes = [
        """wc AS (
            SELECT w, count(*) AS cnt FROM (
                SELECT unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS w
                FROM documents
            ) GROUP BY w
        )""",
        """w0 AS (
            SELECT cnt,
                   list_transform(range(1, length(w) + 1),
                                  i -> w[i]) AS cs
            FROM wc WHERE length(w) >= 2
        )""",
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        ctes.append(f"""p{r} AS (
            SELECT cs[i] AS pa, cs[i + 1] AS pb, SUM(cnt) AS n
            FROM w{r - 1}, unnest(generate_series(1, len(cs) - 1)) AS u(i)
            GROUP BY 1, 2
        )""")
        ctes.append(f"""win{r} AS (
            SELECT pa, pb, n FROM p{r}
            ORDER BY n DESC, pa ASC, pb ASC LIMIT 1
        )""")
        if r < _BPE_ROUNDS:
            ctes.append(f"""w{r} AS (
            SELECT cnt, {merge} AS cs
            FROM w{r - 1} CROSS JOIN win{r}
        )""")
    ctes.append("""e0 AS (
            SELECT w, list_transform(range(1, length(w) + 1),
                                     i -> w[i]) AS cs
            FROM wc
        )""")
    for r in range(1, _BPE_ROUNDS + 1):
        ctes.append(f"""e{r} AS (
            SELECT w, {merge} AS cs FROM e{r - 1} CROSS JOIN win{r}
        )""")
    ctes.append("""docw AS (
            SELECT doc_id, unnest(ws) AS w,
                   generate_subscripts(ws, 1) AS pos
            FROM (SELECT doc_id,
                         list_filter(string_split(lower(text), ' '),
                                     x -> x <> '') AS ws
                  FROM documents)
        )""")
    ctes.append(f"""tok AS (
            SELECT doc_id, pos, length(w) AS n_chars_w, len(cs) AS n_sym,
                   array_to_string(cs, chr(31)) AS toks
            FROM docw JOIN e{_BPE_ROUNDS} USING (w)
        )""")
    return ctes


def _bpe_encode_oracle() -> str:
    """Per-doc counts + the order-sensitive token-stream md5
    (string_agg ORDER BY position) over the shared encode chain."""
    ctes = _bpe_encode_ctes()
    ctes.append("""per AS (
            SELECT doc_id,
                   COUNT(*) AS n_words,
                   SUM(n_chars_w) AS n_chars,
                   SUM(n_sym) AS n_tokens,
                   md5(string_agg(toks, chr(31) ORDER BY pos))
                       AS tokens_md5
            FROM tok GROUP BY doc_id
        )""")
    return (
        "WITH " + ",\n        ".join(ctes) + """
        SELECT d.doc_id,
               CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
               CAST(COALESCE(p.n_chars, 0) AS BIGINT) AS n_chars,
               CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
               COALESCE(p.tokens_md5, md5('')) AS tokens_md5
        FROM documents d LEFT JOIN per p USING (doc_id)"""
    )


def _bpe_pack_oracle() -> str:
    """`pack_sequences_bpe`: the shared encode chain down to per-doc
    TRUE token counts, then the same exclusive-cumsum packing SQL as
    the whitespace `pack_sequences` oracle."""
    ctes = _bpe_encode_ctes()
    ctes.append("""perdoc AS (
            SELECT doc_id, SUM(n_sym) AS n_tokens
            FROM tok GROUP BY doc_id
        )""")
    ctes.append("""t AS (
            SELECT d.doc_id,
                   CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens
            FROM documents d LEFT JOIN perdoc p USING (doc_id)
        )""")
    ctes.append("""c AS (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
            FROM t
        )""")
    return (
        "WITH " + ",\n        ".join(ctes) + """
        SELECT doc_id, n_tokens, cum_before,
               cum_before // 512 AS seq_id,
               cum_before % 512 AS seq_offset
        FROM c"""
    )


QUERIES = {
    "bpe_train_rounds": q_bpe_train_rounds,
    "bpe_encode_apply": q_bpe_encode_apply,
    "pack_sequences_bpe": q_pack_sequences_bpe,
    "bpe_pair_merge_step": q_bpe_pair_merge_step,
    "ml_logreg_gd": q_ml_logreg_gd,
    "embed_pca_power": q_embed_pca_power,
    "embed_pca_project": q_embed_pca_project,
    "feature_hashing": q_feature_hashing,
    "embed_dim_stats": q_embed_dim_stats,
    "embed_covariance": q_embed_covariance,
    "tok_vocab_coverage": q_tok_vocab_coverage,
    "text_bigram_lm_score": q_text_bigram_lm_score,
    "quantile_bins": q_quantile_bins,
    "session_paths": q_session_paths,
}

_XI_SQL = "CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)"

_COV_PAIRS = [
    (i, j) for i in range(_COV_DIMS) for j in range(_COV_DIMS) if i <= j
]

_COV_MOMENTS = ", ".join(
    [
        f"sum(CAST(round(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000.0)"
        f" AS BIGINT)) AS s{i}"
        for i in range(_COV_DIMS)
    ]
    + [
        f"sum(CAST(round(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000.0)"
        f" AS DECIMAL(19,0))"
        f" * CAST(round(CAST(embedding[{j + 1}] AS DOUBLE) * 1000000.0)"
        f" AS DECIMAL(19,0))) AS p_{i}_{j}"
        for i, j in _COV_PAIRS
    ]
)

_COV_ROWS = "\nUNION ALL\n".join(
    f"SELECT CAST({i} AS BIGINT) AS i, CAST({j} AS BIGINT) AS j,"
    f" (CAST(p_{i}_{j} AS DOUBLE)"
    f" - CAST(s{i} AS DOUBLE) * CAST(s{j} AS DOUBLE) / CAST(n AS DOUBLE))"
    f" / CAST(n AS DOUBLE) / 1e12 AS cov FROM m"
    for i, j in _COV_PAIRS
)

_QS_SQL = ", ".join(str(p) for p in _QS)

def _feature_hashing_oracle() -> str:
    from aind_data_transformation_spark.texthash import tokval

    return f"""
        WITH terms AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS t
            FROM documents
        )
        SELECT doc_id, ({tokval('t')}) % 64 AS bucket,
               count(*) AS cnt
        FROM terms
        GROUP BY doc_id, bucket
    """


ORACLES = {
    "bpe_train_rounds": _bpe_train_oracle(),
    "bpe_encode_apply": _bpe_encode_oracle(),
    "pack_sequences_bpe": _bpe_pack_oracle(),
    "ml_logreg_gd": _logreg_oracle(),
    "embed_pca_power": _pca_sql("embeddings", "duck"),
    "embed_pca_project": _pca_project_sql("embeddings", "duck"),
    "feature_hashing": _feature_hashing_oracle(),
    "bpe_pair_merge_step": """
        WITH wc AS (
            SELECT w, count(*) AS cnt FROM (
                SELECT unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS w
                FROM documents
            ) GROUP BY w
        ),
        cs AS (
            SELECT cnt,
                   list_transform(range(1, length(w) + 1),
                                  i -> w[i]) AS chars
            FROM wc WHERE length(w) >= 2
        ),
        p AS (
            SELECT cnt,
                   unnest(list_transform(
                       range(1, len(chars)),
                       i -> chars[i] || chars[i + 1])) AS pair
            FROM cs
        )
        SELECT pair, sum(cnt)::BIGINT AS n_occurrences
        FROM p
        GROUP BY pair
        ORDER BY n_occurrences DESC, pair ASC
        LIMIT 20
    """,
    "embed_dim_stats": f"""
        WITH t AS (
            SELECT unnest(range(len(embedding))) AS dim,
                   unnest(list_transform(embedding, x -> {_XI_SQL})) AS xi
            FROM embeddings
        )
        SELECT CAST(dim AS BIGINT) AS dim,
               count(*) AS n,
               CAST(sum(xi) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
                   AS mean,
               (CAST(sum(xi * xi) AS DOUBLE)
                - CAST(sum(xi) AS DOUBLE) * CAST(sum(xi) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE))
               / CAST(count(*) AS DOUBLE) / 1e12 AS var_pop,
               CAST(min(xi) AS DOUBLE) / 1e6 AS vmin,
               CAST(max(xi) AS DOUBLE) / 1e6 AS vmax
        FROM t
        GROUP BY dim
    """,
    "embed_covariance": f"""
        WITH m AS (
            SELECT count(*) AS n, {_COV_MOMENTS}
            FROM embeddings
        )
        {_COV_ROWS}
    """,
    "tok_vocab_coverage": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS term
            FROM documents
        ),
        dfreq AS (
            SELECT term, count(DISTINCT doc_id) AS df
            FROM toks GROUP BY term
        ),
        vocab AS (
            SELECT term FROM dfreq
            ORDER BY df DESC, term ASC LIMIT {_VOCAB_K}
        )
        SELECT t.doc_id,
               count(*) AS n_tokens,
               CAST(count(*) - count(v.term) AS BIGINT) AS n_oov,
               CAST(round(CAST(count(*) - count(v.term) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS oov_ppm
        FROM toks t LEFT JOIN vocab v ON t.term = v.term
        GROUP BY t.doc_id
    """,
    "text_bigram_lm_score": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS w
            FROM documents
        ),
        big AS (
            SELECT doc_id,
                   unnest(w[1:len(w) - 1]) AS w1,
                   unnest(w[2:len(w)]) AS w2
            FROM toks WHERE len(w) >= 2
        ),
        bc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
        uc AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        v AS (
            SELECT count(DISTINCT t) AS vs
            FROM (SELECT unnest(w) AS t FROM toks)
        ),
        lp AS (
            SELECT big.doc_id,
                   CAST(round(ln((CAST(c2 AS DOUBLE) + 1.0)
                                 / (CAST(c1 AS DOUBLE)
                                    + CAST(vs AS DOUBLE)))
                              * 1000000.0) AS BIGINT) AS lp_micro
            FROM big
            JOIN bc ON big.w1 = bc.w1 AND big.w2 = bc.w2
            JOIN uc ON big.w1 = uc.w1
            CROSS JOIN v
        )
        SELECT doc_id,
               count(*) AS n_bigrams,
               sum(lp_micro)::BIGINT AS lp_micro_sum,
               CAST(sum(lp_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / 1e6 AS avg_logprob
        FROM lp
        GROUP BY doc_id
    """,
    "quantile_bins": f"""
        WITH c AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        b AS (
            SELECT quantile_cont(cents, [{_QS_SQL}]) AS bs FROM c
        )
        SELECT CAST(len(list_filter(bs, x -> CAST(cents AS DOUBLE) >= x))
                    AS BIGINT) AS bucket,
               count(*) AS n,
               min(cents) AS min_cents,
               max(cents) AS max_cents,
               sum(cents)::BIGINT AS sum_cents
        FROM c, b
        GROUP BY bucket
    """,
    "session_paths": f"""
        WITH e AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS us
            FROM events
        ),
        f AS (
            SELECT *,
                   CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w > {_GAP_US}
                        THEN 1 ELSE 0 END AS is_new
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        s AS (
            SELECT *,
                   CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
            FROM f
        )
        SELECT user_id, session_idx,
               count(*) AS n_events,
               min(us) AS start_us,
               string_agg(event_type, '>' ORDER BY us, event_id) AS path
        FROM s
        GROUP BY user_id, session_idx
    """,
}
