"""Model-evaluation and dataset-monitoring operators: confusion-matrix
metrics for the heuristic language classifier, rank-based AUC for the
quality scorer, smoothed target encoding, per-dimension embedding drift.

Everything follows the cross-engine doctrine (numeric.py): counts and
micro-scaled integers accumulate exactly; precision/recall/AUC close with
one identical double expression per engine.

Scale: evaluation is aggregation — each operator shuffles the fact table
once down to a class/score/dimension domain and computes metrics over that
compact frame. This is how model evals run over a 100-TB scored corpus
without sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import (
    attach_broadcast,
    knuth32_sql,
    local_materializer,
)
from aind_data_transformation_spark.queries.numeric import cents, sql_cents
from aind_data_transformation_spark.queries.llm_text import (
    q_text_langid,
    q_text_quality_score,
)
from aind_data_transformation_spark.queries.llm_vectors import (
    _N_QUERIES,
    _TOP_K,
)


def q_ml_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the `text_langid` classifier
    against the documents' true ``lang`` label (which includes fr/zh the
    classifier never predicts — realistic open-set conditions).

    ONE scan: the fact table aggregates once down to the tiny
    (true, predicted) contingency domain; per-class tp/fp/fn then close
    by exploding the literal class list over that compact frame (no
    re-scan, no union of single-row aggregates); ratios close in
    doubles. The confusion source is the langid query itself, so the
    eval follows the model, not a copy of its logic."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = q_text_langid(spark, sf_dir).select("doc_id", "predicted_lang")
    joined = d.join(pred, "doc_id").select(
        F.col("lang").alias("t"), F.col("predicted_lang").alias("p")
    )
    cont = joined.groupBy("t", "p").agg(F.count(F.lit(1)).alias("n"))
    cls = F.col("cls")
    m = (
        cont.select(
            "t",
            "p",
            "n",
            F.explode(
                F.array(*[F.lit(c) for c in ("en", "es", "de")])
            ).alias("cls"),
        )
        .groupBy("cls")
        .agg(
            F.sum(
                F.when((F.col("t") == cls) & (F.col("p") == cls), F.col("n"))
                .otherwise(F.lit(0))
            ).alias("tp"),
            F.sum(
                F.when((F.col("t") != cls) & (F.col("p") == cls), F.col("n"))
                .otherwise(F.lit(0))
            ).alias("fp"),
            F.sum(
                F.when((F.col("t") == cls) & (F.col("p") != cls), F.col("n"))
                .otherwise(F.lit(0))
            ).alias("fn"),
        )
    )
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double")
    rec = F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double")
    return m.select(
        "cls",
        "tp",
        "fp",
        "fn",
        prec.alias("precision"),
        rec.alias("recall"),
        (2.0 * prec * rec / (prec + rec)).alias("f1"),
    )


def q_ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC-ROC of the `text_quality_score` scorer for predicting
    English documents, via the rank-sum identity AUC = U/(n⁺·n⁻) with
    average-rank tie handling — no threshold sweep, no sampling.

    Scores discretize to a 1e6 integer grid; the rank accumulation runs
    over the distinct-score domain (same machinery as
    `stats_mannwhitney`), so a 100-TB scored corpus reduces to its score
    histogram in one shuffle before any window."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = q_text_quality_score(spark, sf_dir).select("doc_id", "quality")
    per = (
        d.join(scored, "doc_id")
        .select(
            F.round(F.col("quality") * 1.0e6).cast("long").alias("s"),
            (F.col("lang") == "en").cast("long").alias("is_pos"),
        )
        .groupBy("s")
        .agg(
            F.sum("is_pos").alias("c1"),
            (F.count(F.lit(1)) - F.sum("is_pos")).alias("c0"),
        )
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ct = F.col("c1") + F.col("c0")
    rank2 = 2 * F.coalesce(F.sum(ct).over(w), F.lit(0)) + ct + 1
    agg = per.select((F.col("c1") * rank2).alias("r1_2x"), "c1", "c0").agg(
        F.sum("r1_2x").alias("r1_2x"),
        F.sum("c1").alias("n_pos"),
        F.sum("c0").alias("n_neg"),
    )
    u1 = (
        F.col("r1_2x") - F.col("n_pos") * (F.col("n_pos") + 1)
    ).cast("double") / F.lit(2.0)
    return agg.select(
        "n_pos",
        "n_neg",
        (
            u1 / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
        ).alias("auc"),
    )


def q_ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of o_orderpriority by mean order value:
    enc = (Σcents + m·global_mean) / (n + m) with m=10 — the standard
    high-cardinality categorical encoder. Category sums and the global
    mean are exact integer aggregates; the smoothing closes in doubles.

    Scale: two partial-combined aggregations (per-category, global) and
    a broadcast of the 1-row global mean — no per-row state, applies
    unchanged to a billion-category key."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("sc")
    )
    g = o.agg(
        F.count(F.lit(1)).alias("gn"), F.sum(cents).alias("gc")
    )
    m = F.lit(10.0)
    gmean = F.col("gc").cast("double") / F.col("gn").cast("double")
    enc = (F.col("sc").cast("double") + m * gmean) / (
        F.col("n").cast("double") + m
    )
    return per.transform(attach_broadcast, F.broadcast(g)).select(
        "o_orderpriority",
        "n",
        (enc / 100.0).alias("encoded_value"),
        (gmean / 100.0).alias("global_mean"),
    )


def q_embed_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution-drift report between two deterministic
    corpus halves (vec_id parity stands in for reference/production
    snapshots): mean shift and pooled-variance-normalized shift per
    dimension. Micro-int sums keep both halves' moments exact; the
    normalized drift closes in doubles.

    Scale: posexplode + ONE hash aggregation keyed on (dim, half) —
    partial aggregation collapses each task to 2·dims rows, so the
    drift report over a 100-TB embedding store shuffles kilobytes."""
    e = load_table(spark, sf_dir, "embeddings")
    xi = "CAST(round(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT)"
    x = e.select(
        (F.col("vec_id") % 2).cast("long").alias("half"),
        F.posexplode(F.expr(f"transform(embedding, x -> {xi})")).alias(
            "dim", "v"
        ),
    )
    d38 = "decimal(38,0)"  # int64 second-moment sums wrap at ~1e12 rows
    agg = x.groupBy(F.col("dim").cast("long").alias("dim"), "half").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast(d38)).alias("s"),
        F.sum((F.col("v") * F.col("v")).cast(d38)).alias("ss"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    varp = (
        F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s").cast("double") / nd
    ) / nd
    sides = agg.select("dim", "half", mean.alias("mu"), varp.alias("var"))
    a = sides.where(F.col("half") == 0).select(
        "dim", F.col("mu").alias("mu_a"), F.col("var").alias("var_a")
    )
    b = sides.where(F.col("half") == 1).select(
        F.col("dim").alias("dim_b"),
        F.col("mu").alias("mu_b"),
        F.col("var").alias("var_b"),
    )
    j = a.join(b, F.col("dim") == F.col("dim_b"))
    shift = F.abs(F.col("mu_a") - F.col("mu_b"))
    pooled = F.sqrt((F.col("var_a") + F.col("var_b")) / F.lit(2.0))
    return j.select(
        "dim",
        (F.col("mu_a") / 1e6).alias("mean_ref"),
        (F.col("mu_b") / 1e6).alias("mean_cur"),
        (shift / 1e6).alias("mean_shift"),
        (shift / pooled).alias("normalized_shift"),
    )


def q_ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the order-value distributions
    of two deterministic population halves (orderkey parity stands in
    for reference vs production scoring windows): 20 fixed-width bins on
    the cent grid, Laplace-smoothed shares, PSI = Σ(p-q)·ln(p/q).

    Each bin's PSI term is nano-scaled to BIGINT before the final sum
    (order-independent); shares close in identical double trees. PSI
    < 0.1 is the conventional "stable" threshold — emitted alongside the
    statistic. Scale: one fact shuffle to (bin, half); the PSI closes
    over 20 rows."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    binned = o.select(
        F.least(F.lit(19), (cents / F.lit(3000000)).cast("long")).alias("bin"),
        (F.col("o_orderkey") % 2).cast("long").alias("half"),
    )
    # the ≤40-row (bin, half) table feeds both halves AND the totals;
    # staged once so the orders scan runs once, not three times.
    counts = local_materializer(
        binned.groupBy("bin", "half").agg(F.count(F.lit(1)).alias("n")),
        "psi_bins",
    )
    a = counts.where(F.col("half") == 0).select("bin", F.col("n").alias("na"))
    b = counts.where(F.col("half") == 1).select(
        F.col("bin").alias("bin_b"), F.col("n").alias("nb")
    )
    bins = spark.range(0, 20).select(F.col("id").cast("long").alias("bin"))
    tot = counts.groupBy().agg(
        F.sum(F.when(F.col("half") == 0, F.col("n")).otherwise(0)).alias("ta"),
        F.sum(F.when(F.col("half") == 1, F.col("n")).otherwise(0)).alias("tb"),
    )
    j = (
        bins.join(a, "bin", "left")
        .join(b, F.col("bin") == F.col("bin_b"), "left")
        .transform(attach_broadcast, F.broadcast(tot))
        .select(
            "bin",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
            "ta",
            "tb",
        )
    )
    p = (F.col("na") + 1).cast("double") / (F.col("ta") + 20).cast("double")
    q = (F.col("nb") + 1).cast("double") / (F.col("tb") + 20).cast("double")
    term_nano = F.round((p - q) * F.log(p / q) * F.lit(1.0e9)).cast("long")
    agg = j.select(term_nano.alias("t")).agg(F.sum("t").alias("psi_nano"))
    return agg.select(
        (F.col("psi_nano").cast("double") / 1.0e9).alias("psi"),
        (F.col("psi_nano") < F.lit(100000000)).alias("is_stable"),
    )


def q_ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact precision-recall curve of the quality scorer for predicting
    English documents — one point per distinct threshold (descending
    score), with running average precision (AP = Σ Δrecall·precision,
    the PR-AUC estimator every retrieval eval reports).

    Same scale shape as `ml_auc_roc`: the corpus reduces to its
    1e6-grid score histogram in ONE shuffle; the cumulative tp/fp
    window and AP cumsum run over the compact distinct-score domain.
    tp/fp are exact integers; precision/recall close in identical
    double trees; each AP increment Δrecall·precision nano-rounds to a
    1e-9-grid BIGINT before the cumulative sum (module doctrine —
    engine SUM(double) accumulation strategies differ in the last ulp
    even at identical order), so ap_cum is engine-exact."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = q_text_quality_score(spark, sf_dir).select("doc_id", "quality")
    per = (
        d.join(scored, "doc_id")
        .select(
            F.round(F.col("quality") * 1.0e6).cast("long").alias("s"),
            (F.col("lang") == "en").cast("long").alias("is_pos"),
        )
        .groupBy("s")
        .agg(
            F.sum("is_pos").alias("c1"),
            (F.count(F.lit(1)) - F.sum("is_pos")).alias("c0"),
        )
    )
    # the distinct-score histogram feeds both the positives total and
    # the cumulative curve; staged once so the quality-score text pass
    # runs once, not twice (4 documents scans in the before plan).
    per = local_materializer(per, "pr_score_hist")
    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = per.agg(F.sum("c1").alias("n_pos"))
    cum = per.transform(attach_broadcast, F.broadcast(tot)).select(
        "s",
        "n_pos",
        F.sum("c1").over(w).alias("tp"),
        F.sum("c0").over(w).alias("fp"),
        (F.col("c1").cast("double") / F.col("n_pos").cast("double")).alias(
            "d_recall"
        ),
    )
    prec = F.col("tp").cast("double") / (
        F.col("tp") + F.col("fp")
    ).cast("double")
    rec = F.col("tp").cast("double") / F.col("n_pos").cast("double")
    w_ap = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ap_term_nano = F.round(F.col("d_recall") * prec * F.lit(1.0e9)).cast(
        "long"
    )
    return cum.select(
        "s",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        prec.alias("precision"),
        rec.alias("recall"),
        (
            F.sum(ap_term_nano).over(w_ap).cast("double") / 1.0e9
        ).alias("ap_cum"),
    )


def q_ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) report of the quality scorer against
    the is-English label: 10 fixed-width confidence bins, each with its
    exact mean predicted score (1e6-grid integer sum / n), observed
    positive rate, gap, and the bin's contribution to Expected
    Calibration Error (n_b/N·|acc−conf|).

    Scale: one hash aggregation to ≤10 rows (bin sums are exact
    integers, map-side-combinable) + a broadcast 1-row total — the
    whole eval is a single reduce over any corpus size."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = q_text_quality_score(spark, sf_dir).select("doc_id", "quality")
    rows = d.join(scored, "doc_id").select(
        F.least(
            F.lit(9), (F.round(F.col("quality") * 1.0e6) / 100000).cast("long")
        ).alias("bin"),
        F.round(F.col("quality") * 1.0e6).cast("long").alias("s"),
        (F.col("lang") == "en").cast("long").alias("is_pos"),
    )
    # the ≤10-row bin table feeds both the grand total and the report;
    # staged once so the quality-score text pass runs once, not twice.
    per = local_materializer(
        rows.groupBy("bin").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("s").alias("s_sum"),
            F.sum("is_pos").alias("n_pos"),
        ),
        "calib_bins",
    )
    tot = per.agg(F.sum("n").alias("n_total"))
    conf = F.col("s_sum").cast("double") / F.col("n").cast("double") / 1.0e6
    acc = F.col("n_pos").cast("double") / F.col("n").cast("double")
    return per.transform(attach_broadcast, F.broadcast(tot)).select(
        "bin",
        F.col("n").cast("long").alias("n"),
        conf.alias("mean_predicted"),
        acc.alias("observed_rate"),
        F.abs(acc - conf).alias("gap"),
        (
            F.col("n").cast("double")
            / F.col("n_total").cast("double")
            * F.abs(acc - conf)
        ).alias("ece_term"),
    )


def q_ml_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold split assignment via the portable md5 hash
    (engine-independent, reshuffle-proof — the split survives
    repartitioning, appends, and engine swaps), reported as per
    (fold, lang) counts with the fold's share of that language — the
    balance check run before any cross-validation.

    Scale: fold id is a pure row expression (no shuffle to assign);
    the report is one hash aggregation over a ≤ 5×|langs| domain."""
    d = load_table(spark, sf_dir, "documents")
    fold = F.expr(
        "conv(substr(md5(cast(doc_id AS STRING)), 1, 7), 16, 10) % 5"
    ).cast("long")
    per = d.select(fold.alias("fold"), "lang").groupBy("fold", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w_lang = Window.partitionBy("lang")
    return per.select(
        "fold",
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w_lang).cast("double")
        ).alias("lang_share"),
    )


def q_ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation-set-size sweep (the learning/stability curve): langid
    accuracy measured on NESTED deterministic subsets (25% ⊂ 50% ⊂
    100%) carved by the Knuth multiplicative hash of doc_id — the
    sample-size sensitivity check run before trusting a metric. Nesting
    matters: each fraction's docs are a superset of the smaller one, so
    the curve shows metric convergence, not resample noise.

    Scale: ONE scan — the (true==pred) bit and the hash land in a
    single projection; each fraction is a conditional aggregation over
    the same pass (no per-fraction re-scan)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = q_text_langid(spark, sf_dir).select("doc_id", "predicted_lang")
    h = F.expr(knuth32_sql("doc_id", "spark"))
    rows = d.join(pred, "doc_id").select(
        h.alias("h"),
        (F.col("lang") == F.col("predicted_lang")).cast("long").alias("ok"),
    )
    fracs = [(25, 1073741824), (50, 2147483648), (100, 4294967296)]
    aggs = []
    for pct, thr in fracs:
        in_f = F.col("h") < F.lit(thr)
        aggs += [
            F.sum(in_f.cast("long")).alias(f"n_{pct}"),
            F.sum(F.when(in_f, F.col("ok")).otherwise(F.lit(0))).alias(
                f"ok_{pct}"
            ),
        ]
    # r12 measured note: staging this 1-row aggregate (the 3-way union
    # re-runs the langid-join subtree per fraction — 6 documents scans)
    # was REJECTED on paired evidence (1.25× median): the barrier costs
    # more than two langid re-passes at bench scale. At cluster scale,
    # collect the one row or stage it.
    one = rows.agg(*aggs)
    parts = [
        one.select(
            F.lit(pct).cast("long").alias("sample_pct"),
            F.col(f"n_{pct}").cast("long").alias("n_docs"),
            (
                F.col(f"ok_{pct}").cast("double")
                / F.col(f"n_{pct}").cast("double")
            ).alias("accuracy"),
        )
        for pct, _ in fracs
    ]
    return parts[0].unionAll(parts[1]).unionAll(parts[2])


def q_ml_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of BOTH ANN tiers — IVF cell-probe (`ann_ivf_topk`)
    and IVFADC (`ann_ivfpq_topk`) — against the exact brute-force
    top-k, per (tier, query): the eval consumes the retrieval queries
    themselves rather than re-deriving them, so a regression in the
    probe logic or the ADC algebra shows up here, not just in the
    recall property tests.

    Scale: every input is a k×queries-row frame by construction; each
    overlap is a tiny semi-join + one aggregation."""
    from aind_data_transformation_spark.queries.llm_vectors import (
        q_ann_ivf_topk,
        q_ann_ivfpq_topk,
        q_sim_search_topk,
    )

    # the exact top-k feeds THREE plan consumers (per_q + one semi-join
    # per tier); without materialization each consumer re-runs the full
    # brute-force corpus-scoring pass. The frame is k·|queries| rows
    # (~25), so staging it is metadata-sized; the documented cluster
    # swap is ops.parquet_materializer (guide §8 / materialize-once-at-
    # ≥3-derivations doctrine).
    exact = local_materializer(
        q_sim_search_topk(spark, sf_dir).select("query_id", "neighbor_id"),
        "ann_recall_exact",
    )
    tiers = {
        "ivf": q_ann_ivf_topk(spark, sf_dir),
        "ivfpq": q_ann_ivfpq_topk(spark, sf_dir),
    }
    per_q = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k")
    )
    out = None
    for tier, approx_df in tiers.items():
        approx = approx_df.select(
            F.col("query_id").alias("q2"), F.col("neighbor_id").alias("n2")
        )
        hit = exact.join(
            approx,
            (F.col("query_id") == F.col("q2"))
            & (F.col("neighbor_id") == F.col("n2")),
            "left_semi",
        )
        hits = hit.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
        rep = (
            per_q.join(hits, "query_id", "left")
            .select(
                F.lit(tier).alias("tier"),
                "query_id",
                F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
                (
                    F.coalesce("n_hit", F.lit(0)).cast("double")
                    / F.col("k").cast("double")
                ).alias("recall_at_5"),
            )
        )
        out = rep if out is None else out.unionByName(rep)
    return out


def q_ml_cross_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the langid classifier: per-fold
    accuracy over the deterministic portable-hash folds
    (`ml_kfold_assign`'s split), plus each fold's deviation from the
    overall accuracy — the variance check that says whether a measured
    accuracy is stable or fold-luck.

    Exactness: counts are integers; accuracies and deviations close in
    identical double trees (the overall accuracy is derived from the
    same integer totals, not averaged doubles). Scale: ONE scan — fold
    id and the correctness bit are row expressions; the report is a
    5-row aggregation plus a broadcast 1-row total."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = q_text_langid(spark, sf_dir).select("doc_id", "predicted_lang")
    fold = F.expr(
        "conv(substr(md5(cast(doc_id AS STRING)), 1, 7), 16, 10) % 5"
    ).cast("long")
    rows = d.join(pred, "doc_id").select(
        fold.alias("fold"),
        (F.col("lang") == F.col("predicted_lang")).cast("long").alias("ok"),
    )
    # r12 measured note: staging the 5-row fold table (the total
    # re-runs the langid pass) was REJECTED on paired evidence
    # (1.35× / 1.11×) — barrier > saved pass at bench scale.
    per = rows.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("ok").alias("n_ok")
    )
    tot = per.agg(
        F.sum("n_docs").alias("tn"), F.sum("n_ok").alias("tok")
    )
    acc = F.col("n_ok").cast("double") / F.col("n_docs").cast("double")
    overall = F.col("tok").cast("double") / F.col("tn").cast("double")
    return per.transform(attach_broadcast, F.broadcast(tot)).select(
        "fold",
        F.col("n_docs").cast("long").alias("n_docs"),
        acc.alias("fold_accuracy"),
        overall.alias("overall_accuracy"),
        (acc - overall).alias("deviation"),
    )


def q_ml_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the exact top-k similarity search
    (`sim_search_topk`): treating same-label neighbors as relevant,
    per-query precision@5, reciprocal rank of the first relevant hit,
    and the corpus-level label-match base rate the scores must beat.

    The eval consumes the retrieval query itself (not a re-derivation),
    joins labels on both ends of each (query, neighbor) edge, and closes
    with one aggregation per query plus one corpus mean. Scale: the k×q
    result set is tiny by construction; label joins broadcast the query
    side."""
    from aind_data_transformation_spark.queries.llm_vectors import (
        q_sim_search_topk,
    )

    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    hits = q_sim_search_topk(spark, sf_dir)
    labeled = (
        hits.join(
            em.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("q_label"),
            ),
            "query_id",
        )
        .join(
            em.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rank",
            (F.col("q_label") == F.col("n_label")).cast("long").alias("rel"),
        )
    )
    per_q = labeled.groupBy("query_id").agg(
        (
            F.sum("rel").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("precision_at_5"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel"),
    )
    return per_q.select(
        "query_id",
        "precision_at_5",
        F.coalesce(
            F.lit(1.0) / F.col("first_rel").cast("double"), F.lit(0.0)
        ).alias("reciprocal_rank"),
    )


#: integer-scaled NDCG discount gains: round(1e9 / log2(rank+1)) for
#: ranks 1.._TOP_K, and their prefix sums (the ideal DCG for R relevant
#: results). DERIVED from the retrieval tier's _TOP_K (r6 advice: the
#: old literal lists baked in k=5 independently, so changing _TOP_K
#: silently desynchronized Spark and oracle) and inlined as the SAME
#: constants in both engines so DCG sums stay exact BIGINT arithmetic —
#: no float log at query time in either engine.
import math as _math

_NDCG_GAIN_U9 = [
    round(1e9 / _math.log2(r + 1)) for r in range(1, _TOP_K + 1)
]
_NDCG_IDEAL_U9 = [
    sum(_NDCG_GAIN_U9[: r + 1]) for r in range(_TOP_K)
]


def q_ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the exact top-k similarity search — the standard graded
    ranking metric `ml_retrieval_eval`'s precision/MRR pair lacks:
    same-label neighbors are relevant, DCG discounts each hit by
    1/log2(rank+1), and the score normalizes by the ideal DCG given how
    many relevant neighbors exist in the corpus (capped at k). A
    retrieval change that finds the same neighbors but ranks the
    relevant ones lower now shows up where precision@k is blind.

    Exactness: the five discount gains and their prefix sums are inlined
    as identical 1e9-scaled BIGINT constants in both engines (no float
    log anywhere); DCG/IDCG are exact integer sums and only the final
    ratio rounds to 1e-6. Scale: rides the retrieval result (k×q rows),
    one broadcast label join per side, one per-query agg; the corpus
    relevance count is one hash agg on the label domain."""
    from aind_data_transformation_spark.queries.llm_vectors import (
        q_sim_search_topk,
    )

    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    hits = q_sim_search_topk(spark, sf_dir)
    gain = F.element_at(
        F.array(*[F.lit(g) for g in _NDCG_GAIN_U9]), F.col("rank").cast("int")
    )
    labeled = (
        hits.join(
            em.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("q_label"),
            ),
            "query_id",
        )
        .join(
            em.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "q_label",
            (
                (F.col("q_label") == F.col("n_label")).cast("long") * gain
            ).alias("g"),
        )
    )
    dcg = labeled.groupBy("query_id", "q_label").agg(
        F.sum("g").cast("long").alias("dcg_u9")
    )
    # relevant-in-corpus per label (minus the query itself), capped at k
    lab_n = em.groupBy("label").agg(F.count(F.lit(1)).alias("n_label_rows"))
    # greatest(1, ...) guards the singleton-label corpus edge: with zero
    # relevant neighbors DCG is 0, so NDCG is 0 for any positive IDCG
    ideal = F.element_at(
        F.array(*[F.lit(i) for i in _NDCG_IDEAL_U9]),
        F.greatest(
            F.least(F.col("n_label_rows") - 1, F.lit(_TOP_K)), F.lit(1)
        ).cast("int"),
    )
    per_q = dcg.join(
        F.broadcast(lab_n), dcg["q_label"] == lab_n["label"]
    ).select(
        "query_id",
        (F.col("n_label_rows") - 1).cast("long").alias("n_relevant"),
        "dcg_u9",
        ideal.cast("long").alias("idcg_u9"),
    )
    ndcg = F.round(
        F.col("dcg_u9").cast("double") / F.col("idcg_u9").cast("double") * 1e6
    ).cast("long")
    return per_q.withColumn("ndcg_u6", ndcg)


def q_ml_gini_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump learning: the best ``n_chars ≤ t`` split for
    predicting ``lang = 'en'`` by minimum weighted Gini impurity — the
    inner loop of every tree/GBDT trainer, done the distributed way:
    candidate thresholds are the DISTINCT feature values (aggregated
    first), cumulative class counts give each threshold's left/right
    composition in one window pass, and the argmin closes on a 1e-9
    integer grid so ties break identically on the smaller threshold.

    Scale: one hash agg to the value domain, one cumulative window over
    that bounded domain, one 1-row reduce. The fact table is scanned
    once; no per-threshold pass exists (the naive trainer's O(values ×
    rows) rescan is the thing this shape eliminates)."""
    d = load_table(spark, sf_dir, "documents").select(
        "n_chars", (F.col("lang") == "en").cast("long").alias("pos")
    )
    # the value domain feeds the cumulative window AND two total
    # attaches; staged once so the corpus aggregation runs once, not
    # three times (3 documents scans in the before plan).
    per_v = local_materializer(
        d.groupBy(F.col("n_chars").alias("v")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("pos").alias("p")
        ),
        "gini_value_domain",
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        "v",
        F.sum("n").over(w).alias("nl"),
        F.sum("p").over(w).alias("pl"),
    )
    tot = per_v.agg(
        F.sum("n").alias("nt"), F.sum("p").alias("pt")
    )
    gini = (
        "(CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE))"
        " * (1.0D - pow(CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE), 2)"
        "     - pow(CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE), 2))"
        " + (CAST(nt - nl AS DOUBLE) / CAST(nt AS DOUBLE))"
        " * (1.0D - pow(CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE), 2)"
        "     - pow(CAST((nt - nl) - (pt - pl) AS DOUBLE)"
        "           / CAST(nt - nl AS DOUBLE), 2))"
    )
    scored = attach_broadcast(cum, tot).where(F.col("nl") < F.col("nt")).select(
        "v",
        "nl",
        "nt",
        F.expr(
            f"CAST(round(({gini}) * 1000000000.0D) AS BIGINT)"
        ).alias("gini_u"),
    )
    best = scored.agg(F.min(F.struct("gini_u", "v")).alias("m"))
    out = best.select(
        F.col("m.v").alias("threshold"),
        (F.col("m.gini_u").cast("double") / 1e9).alias("weighted_gini"),
    )
    return attach_broadcast(out, tot.select(F.col("nt").alias("n_rows")))


def q_ml_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two AdaBoost rounds over decision stumps (Freund & Schapire 1997)
    — the boosting layer on top of `ml_gini_best_split`'s single-stump
    trainer, i.e. the actual GBDT-style training loop done the
    distributed way. Task: predict lang='en' from n_chars.

    Round r: pick the (threshold, polarity) stump minimizing WEIGHTED
    error — computed entirely on the aggregated (value, label) domain
    via one cumulative window, never a per-threshold rescan — then
    alpha_r = ½·ln((W−err)/err) and the weight update
    w ← w·exp(∓alpha). The update multiplier depends only on
    (value ≤ t₁, label), so round 2's weighted counts stay on the SAME
    bounded domain: the fact table is scanned once in total, and each
    round adds one window over the value domain plus 1-row broadcast
    attaches. No collect, no driver loop — the chosen stump rides
    through the plan as a broadcast scalar.

    Exactness: round-1 weights are unit integers; alpha and the two
    weight multipliers are 1e6-grid BIGINTs (exp/ln of exact-rounded
    rationals, the `ml_logreg_gd` discipline), so round-2 weighted
    counts are exact integer sums; stump argmin ties break to the
    smaller threshold then left-positive polarity via struct order."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("v"),
        (F.col("lang") == "en").cast("long").alias("pos"),
    )
    # the aggregated (value, label) domain is the ONLY corpus-sized
    # reduction; every boosting-round branch re-derived it through the
    # nested round-1/round-2 plan (8 documents scans before). Stage it
    # once — all downstream work is domain-sized (distinct values × 2).
    per_vy = local_materializer(
        d.groupBy("v", "pos").agg(F.count(F.lit(1)).alias("n_vy")),
        "ada_value_domain",
    )

    def best_stump(per_v: DataFrame, tag: str) -> DataFrame:
        """per_v: (v, n, p) weighted counts -> 1-row best stump with
        columns t, pol (0 = left-positive), err_w, total_w."""
        wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        cum = per_v.select(
            "v",
            F.sum("n").over(wv).alias("nl"),
            F.sum("p").over(wv).alias("pl"),
        )
        tot = per_v.agg(F.sum("n").alias("nt"), F.sum("p").alias("pt"))
        scored = attach_broadcast(cum, tot).where(F.col("nl") < F.col("nt"))
        err_a = (F.col("nl") - F.col("pl")) + (F.col("pt") - F.col("pl"))
        err_b = F.col("pl") + (
            F.col("nt") - F.col("nl") - F.col("pt") + F.col("pl")
        )
        both = scored.select(
            "v",
            "nt",
            F.explode(
                F.array(
                    F.struct(
                        err_a.cast("long").alias("err_w"),
                        F.lit(0).cast("long").alias("pol"),
                    ),
                    F.struct(
                        err_b.cast("long").alias("err_w"),
                        F.lit(1).cast("long").alias("pol"),
                    ),
                )
            ).alias("s"),
        ).select("v", "nt", F.col("s.err_w"), F.col("s.pol"))
        return both.agg(
            F.min(F.struct("err_w", "v", "pol")).alias("m"),
            F.max("nt").alias("total_w"),
        ).select(
            F.col("m.v").alias("t"),
            F.col("m.pol").alias("pol"),
            F.col("m.err_w").alias("err_w"),
            "total_w",
        )

    # ---- round 1: unit weights ----
    per_v1 = per_vy.groupBy("v").agg(
        F.sum("n_vy").alias("n"),
        F.sum(F.when(F.col("pos") == 1, F.col("n_vy")).otherwise(0)).alias(
            "p"
        ),
    )
    b1 = best_stump(per_v1, "r1")
    # alpha1 and the two weight multipliers on the 1e6 grid; clamp err
    # into [1, W-1] so ln stays finite on degenerate corpora
    b1x = b1.select(
        "t",
        "pol",
        "err_w",
        "total_w",
        F.expr(
            "CAST(round(0.5D * ln(CAST(total_w - least(greatest(err_w, 1),"
            " total_w - 1) AS DOUBLE)"
            " / CAST(least(greatest(err_w, 1), total_w - 1) AS DOUBLE))"
            " * 1e6) AS BIGINT)"
        ).alias("alpha_u6"),
    ).withColumn(
        "m_corr_u6",
        F.expr("CAST(round(exp(-CAST(alpha_u6 AS DOUBLE) / 1e6) * 1e6) AS BIGINT)"),
    ).withColumn(
        "m_wrong_u6",
        F.expr("CAST(round(exp(CAST(alpha_u6 AS DOUBLE) / 1e6) * 1e6) AS BIGINT)"),
    )
    # ---- round 2: weights as a function of (v <= t1, pos) ----
    correct = (
        (F.col("pol") == 0)
        & (
            ((F.col("v") <= F.col("t")) & (F.col("pos") == 1))
            | ((F.col("v") > F.col("t")) & (F.col("pos") == 0))
        )
    ) | (
        (F.col("pol") == 1)
        & (
            ((F.col("v") <= F.col("t")) & (F.col("pos") == 0))
            | ((F.col("v") > F.col("t")) & (F.col("pos") == 1))
        )
    )
    weighted = attach_broadcast(per_vy, b1x).select(
        "v",
        "pos",
        (
            F.col("n_vy")
            * F.when(correct, F.col("m_corr_u6")).otherwise(
                F.col("m_wrong_u6")
            )
        ).alias("w2"),
    )
    per_v2 = weighted.groupBy("v").agg(
        F.sum("w2").alias("n"),
        F.sum(F.when(F.col("pos") == 1, F.col("w2")).otherwise(0)).alias("p"),
    )
    b2 = best_stump(per_v2, "r2").select(
        "t",
        "pol",
        "err_w",
        "total_w",
        F.expr(
            "CAST(round(0.5D * ln(CAST(total_w - least(greatest(err_w, 1),"
            " total_w - 1) AS DOUBLE)"
            " / CAST(least(greatest(err_w, 1), total_w - 1) AS DOUBLE))"
            " * 1e6) AS BIGINT)"
        ).alias("alpha_u6"),
    )
    r1 = b1x.select(
        F.lit(1).cast("long").alias("round"),
        F.col("t").alias("threshold"),
        "pol",
        "err_w",
        "total_w",
        "alpha_u6",
    )
    r2 = b2.select(
        F.lit(2).cast("long").alias("round"),
        F.col("t").alias("threshold"),
        "pol",
        "err_w",
        "total_w",
        "alpha_u6",
    )
    return r1.unionByName(r2)


def q_ml_lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lift & gain chart by score decile — the
    targeting-model report (if I contact the top k% by score, what
    fraction of the positives do I capture, and how much better than
    random?). Score = order value ranking signal, positive = URGENT
    priority.

    Deciles are assigned on the DESCENDING score value domain by each
    value-group's exact cumulative start position (``cum_before·10 div
    n`` — ties stay together, deterministically), so no global
    row-numbering of raw facts exists; gains/lifts close over the
    ≤10-row decile frame. Integer counts end-to-end; two double
    divisions per output row.

    Scale: one hash agg to the score domain, cumulative windows on that
    bounded domain, a ≤10-row reduce."""
    o = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("pos"),
    )
    per = o.groupBy("v").agg(
        F.count(F.lit(1)).alias("c"), F.sum("pos").alias("p")
    )
    w = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = per.agg(
        F.sum("c").alias("n"), F.sum("p").alias("tp")
    )
    binned = attach_broadcast(
        per.withColumn(
            "cb", F.coalesce(F.sum("c").over(w), F.lit(0))
        ),
        tot,
    ).select(
        F.expr("CAST(cb * 10 div n AS BIGINT)").alias("decile"),
        "c",
        "p",
        "n",
        "tp",
    )
    dec = binned.groupBy("decile", "n", "tp").agg(
        F.sum("c").alias("n_d"), F.sum("p").alias("pos_d")
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        dec.withColumn("cum_n", F.sum("n_d").over(w_cum))
        .withColumn("cum_pos", F.sum("pos_d").over(w_cum))
        .select(
            "decile",
            F.col("n_d").cast("bigint").alias("n_rows"),
            F.col("pos_d").cast("bigint").alias("n_pos"),
            F.expr(
                "round(CAST(cum_pos AS DOUBLE) / CAST(tp AS DOUBLE), 6)"
            ).alias("cum_gain"),
            F.expr(
                "round((CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))"
                " / (CAST(tp AS DOUBLE) / CAST(n AS DOUBLE)), 6)"
            ).alias("cum_lift"),
        )
    )


QUERIES = {
    "ml_lift_gain_deciles": q_ml_lift_gain_deciles,
    "ml_gini_best_split": q_ml_gini_best_split,
    "ml_learning_curve": q_ml_learning_curve,
    "ml_cross_validation": q_ml_cross_validation,
    "ml_ann_recall": q_ml_ann_recall,
    "ml_pr_curve": q_ml_pr_curve,
    "ml_calibration_bins": q_ml_calibration_bins,
    "ml_kfold_assign": q_ml_kfold_assign,
    "ml_eval_confusion": q_ml_eval_confusion,
    "ml_auc_roc": q_ml_auc_roc,
    "ml_target_encoding": q_ml_target_encoding,
    "embed_drift_report": q_embed_drift_report,
    "ml_psi_drift": q_ml_psi_drift,
    "ml_retrieval_eval": q_ml_retrieval_eval,
    "ml_ndcg_at_k": q_ml_ndcg_at_k,
    "ml_adaboost_stumps": q_ml_adaboost_stumps,
}

_TOKS = "string_split(text, ' ')"

#: shared oracle fragment: the quality score on the 1e6 integer grid with
#: the is-English label (mirrors q_text_quality_score + the grid round)
_QUALITY_GRID = f"""
        t AS (
            SELECT doc_id, lang,
                   CAST(len({_TOKS}) AS DOUBLE) AS n,
                   CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS nd,
                   CAST(len(list_filter({_TOKS}, x -> x = 'the')) AS DOUBLE) AS nthe
            FROM documents
        ),
        q AS (
            SELECT CAST(round((0.4 * least(1.0, n / 50.0) + 0.3 * (nd / n)
                               + 0.3 * (1.0 - nthe / n)) * 1e6) AS BIGINT) AS s,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos
            FROM t
        )
"""

def _ann_recall_oracle() -> str:
    # compose from the retrieval oracles themselves (nested WITH is fine
    # in DuckDB subqueries) so this eval can never drift from them
    from aind_data_transformation_spark.queries.llm_vectors import (
        ORACLES as _VEC,
    )

    legs = []
    for tier, key in (("ivf", "ann_ivf_topk"), ("ivfpq", "ann_ivfpq_topk")):
        legs.append(f"""
        SELECT '{tier}' AS tier, p.query_id,
               COALESCE(h.n_hit, 0) AS n_hit,
               CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(p.k AS DOUBLE)
                   AS recall_at_5
        FROM (
            SELECT query_id, COUNT(*)::BIGINT AS k
            FROM ({_VEC["sim_search_topk"]}) ex GROUP BY query_id
        ) p LEFT JOIN (
            SELECT e.query_id, COUNT(*)::BIGINT AS n_hit
            FROM ({_VEC["sim_search_topk"]}) e
            WHERE EXISTS (SELECT 1 FROM ({_VEC[key]}) a
                          WHERE a.query_id = e.query_id
                            AND a.neighbor_id = e.neighbor_id)
            GROUP BY e.query_id
        ) h ON h.query_id = p.query_id""")
    return " UNION ALL ".join(legs)


ORACLES = {
    "ml_lift_gain_deciles": f"""
        WITH o AS (
            SELECT {sql_cents('o_totalprice')} AS v,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                       AS pos
            FROM orders
        ), per AS (
            SELECT v, count(*) AS c, SUM(pos) AS p FROM o GROUP BY v
        ), tot AS (
            SELECT SUM(c) AS n, SUM(p) AS tp FROM per
        ), binned AS (
            SELECT CAST(COALESCE(SUM(c) OVER (ORDER BY v DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) * 10 // t.n AS BIGINT) AS decile,
                   c, p, t.n, t.tp
            FROM per CROSS JOIN tot t
        ), dec AS (
            SELECT decile, n, tp, SUM(c) AS n_d, SUM(p) AS pos_d
            FROM binned GROUP BY decile, n, tp
        )
        SELECT decile,
               CAST(n_d AS BIGINT) AS n_rows,
               CAST(pos_d AS BIGINT) AS n_pos,
               round(CAST(SUM(pos_d) OVER wc AS DOUBLE)
                     / CAST(tp AS DOUBLE), 6) AS cum_gain,
               round((CAST(SUM(pos_d) OVER wc AS DOUBLE)
                      / CAST(SUM(n_d) OVER wc AS DOUBLE))
                     / (CAST(tp AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                   AS cum_lift
        FROM dec
        WINDOW wc AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW)
    """,
    "ml_gini_best_split": """
        WITH d AS (
            SELECT n_chars AS v,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
            FROM documents
        ), per_v AS (
            SELECT v, count(*) AS n, SUM(pos) AS p FROM d GROUP BY v
        ), cum AS (
            SELECT v,
                   SUM(n) OVER w AS nl,
                   SUM(p) OVER w AS pl
            FROM per_v
            WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        ), tot AS (
            SELECT SUM(n) AS nt, SUM(p) AS pt FROM per_v
        ), scored AS (
            SELECT v, nl, nt,
                   CAST(round(((CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE)) * (1.0 - pow(CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE), 2)     - pow(CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE), 2)) + (CAST(nt - nl AS DOUBLE) / CAST(nt AS DOUBLE)) * (1.0 - pow(CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE), 2)     - pow(CAST((nt - nl) - (pt - pl) AS DOUBLE)           / CAST(nt - nl AS DOUBLE), 2))) * 1000000000.0) AS BIGINT)
                       AS gini_u
            FROM cum CROSS JOIN tot
            WHERE nl < nt
        ), best AS (
            SELECT v, gini_u,
                   row_number() OVER (ORDER BY gini_u, v) AS rk
            FROM scored
        )
        SELECT b.v AS threshold,
               CAST(b.gini_u AS DOUBLE) / 1e9 AS weighted_gini,
               CAST(t.nt AS BIGINT) AS n_rows
        FROM best b CROSS JOIN tot t WHERE b.rk = 1
    """,
    "ml_ann_recall": _ann_recall_oracle(),
    "ml_cross_validation": f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   CAST(len(list_intersect({_TOKS}, ['the','a','fast','small'])) AS BIGINT) AS score_en,
                   CAST(len(list_intersect({_TOKS}, ['data','table','row','column'])) AS BIGINT) AS score_es,
                   CAST(len(list_intersect({_TOKS}, ['merge','join','sort','filter'])) AS BIGINT) AS score_de
            FROM documents
        ),
        rows_f AS (
            SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                        AS BIGINT) % 5 AS fold,
                   CASE WHEN lang = (CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
                                          WHEN score_es >= score_de THEN 'es'
                                          ELSE 'de' END)
                        THEN 1 ELSE 0 END AS ok
            FROM scored
        ),
        per AS (
            SELECT fold, COUNT(*)::BIGINT AS n_docs, SUM(ok)::BIGINT AS n_ok
            FROM rows_f GROUP BY fold
        ),
        tot AS (
            SELECT SUM(n_docs)::BIGINT AS tn, SUM(n_ok)::BIGINT AS tok
            FROM per
        )
        SELECT fold, n_docs,
               CAST(n_ok AS DOUBLE) / CAST(n_docs AS DOUBLE)
                   AS fold_accuracy,
               CAST(tok AS DOUBLE) / CAST(tn AS DOUBLE) AS overall_accuracy,
               CAST(n_ok AS DOUBLE) / CAST(n_docs AS DOUBLE)
                 - CAST(tok AS DOUBLE) / CAST(tn AS DOUBLE) AS deviation
        FROM per CROSS JOIN tot
    """,
    "ml_learning_curve": f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   CAST(len(list_intersect({_TOKS}, ['the','a','fast','small'])) AS BIGINT) AS score_en,
                   CAST(len(list_intersect({_TOKS}, ['data','table','row','column'])) AS BIGINT) AS score_es,
                   CAST(len(list_intersect({_TOKS}, ['merge','join','sort','filter'])) AS BIGINT) AS score_de
            FROM documents
        ),
        pairs AS (
            SELECT {knuth32_sql("doc_id", "duck")} AS h,
                   CASE WHEN lang = (CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
                                          WHEN score_es >= score_de THEN 'es'
                                          ELSE 'de' END)
                        THEN 1 ELSE 0 END AS ok
            FROM scored
        ),
        fr AS (
            SELECT * FROM (VALUES (25, 1073741824),
                                  (50, 2147483648),
                                  (100, 4294967296)) AS t(sample_pct, thr)
        )
        SELECT CAST(sample_pct AS BIGINT) AS sample_pct,
               SUM(CASE WHEN h < thr THEN 1 ELSE 0 END)::BIGINT AS n_docs,
               CAST(SUM(CASE WHEN h < thr THEN ok ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(CASE WHEN h < thr THEN 1 ELSE 0 END) AS DOUBLE)
                   AS accuracy
        FROM pairs CROSS JOIN fr
        GROUP BY sample_pct
    """,
    "ml_pr_curve": f"""
        WITH {_QUALITY_GRID},
        per AS (
            SELECT s, SUM(is_pos)::BIGINT AS c1,
                   (COUNT(*) - SUM(is_pos))::BIGINT AS c0
            FROM q GROUP BY s
        ),
        tot AS (SELECT SUM(c1)::BIGINT AS n_pos FROM per),
        cum AS (
            SELECT s, n_pos,
                   SUM(c1) OVER w AS tp,
                   SUM(c0) OVER w AS fp,
                   CAST(c1 AS DOUBLE) / CAST(n_pos AS DOUBLE) AS d_recall
            FROM per CROSS JOIN tot
            WINDOW w AS (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
        )
        SELECT s, tp::BIGINT AS tp, fp::BIGINT AS fp,
               CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
               CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) AS recall,
               CAST(SUM(CAST(round(d_recall
                        * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
                        * 1e9) AS BIGINT))
                   OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
                   AS DOUBLE) / 1e9 AS ap_cum
        FROM cum
    """,
    "ml_calibration_bins": f"""
        WITH {_QUALITY_GRID},
        rows_b AS (
            SELECT least(9, s // 100000) AS bin, s, is_pos FROM q
        ),
        per AS (
            SELECT bin, COUNT(*)::BIGINT AS n, SUM(s)::BIGINT AS s_sum,
                   SUM(is_pos)::BIGINT AS n_pos
            FROM rows_b GROUP BY bin
        ),
        tot AS (SELECT SUM(n)::BIGINT AS n_total FROM per)
        SELECT bin, n,
               CAST(s_sum AS DOUBLE) / CAST(n AS DOUBLE) / 1e6
                   AS mean_predicted,
               CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS observed_rate,
               abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                   - CAST(s_sum AS DOUBLE) / CAST(n AS DOUBLE) / 1e6) AS gap,
               CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                   * abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                         - CAST(s_sum AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
                   AS ece_term
        FROM per CROSS JOIN tot
    """,
    "ml_kfold_assign": """
        WITH f AS (
            SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                        AS BIGINT) % 5 AS fold,
                   lang
            FROM documents
        ),
        per AS (
            SELECT fold, lang, COUNT(*)::BIGINT AS n_docs
            FROM f GROUP BY fold, lang
        )
        SELECT fold, lang, n_docs,
               CAST(n_docs AS DOUBLE)
                   / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE)
                   AS lang_share
        FROM per
    """,
    "ml_retrieval_eval": """
        WITH corpus AS (
            SELECT vec_id, label, embedding,
                   sqrt(list_dot_product(
                       list_transform(embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(embedding, x -> CAST(x AS DOUBLE))))
                       AS nrm
            FROM embeddings
        ), queries AS (
            SELECT vec_id AS query_id, label AS q_label,
                   embedding AS q_emb, nrm AS q_nrm
            FROM corpus WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, q.q_label, c.vec_id AS neighbor_id,
                   c.label AS n_label,
                   round(list_dot_product(
                           list_transform(c.embedding, x -> CAST(x AS DOUBLE)),
                           list_transform(q.q_emb, x -> CAST(x AS DOUBLE)))
                         / (c.nrm * q.q_nrm), 9) AS cos_r9
            FROM corpus c CROSS JOIN queries q
            WHERE c.vec_id != q.query_id
        ), ranked AS (
            SELECT query_id, q_label, n_label,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_r9 DESC, neighbor_id ASC) AS rank
            FROM scored
            QUALIFY rank <= 5
        ), per_q AS (
            SELECT query_id,
                   CAST(SUM(CASE WHEN q_label = n_label THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                       AS precision_at_5,
                   MIN(CASE WHEN q_label = n_label THEN rank END) AS first_rel
            FROM ranked GROUP BY query_id
        )
        SELECT query_id, precision_at_5,
               COALESCE(1.0 / CAST(first_rel AS DOUBLE), 0.0)
                   AS reciprocal_rank
        FROM per_q
    """,
    "ml_adaboost_stumps": """
        WITH per_vy AS (
            SELECT n_chars AS v,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
                   COUNT(*)::BIGINT AS n_vy
            FROM documents GROUP BY 1, 2
        ), per_v1 AS (
            SELECT v, SUM(n_vy)::BIGINT AS n,
                   SUM(CASE WHEN pos = 1 THEN n_vy ELSE 0 END)::BIGINT AS p
            FROM per_vy GROUP BY v
        ), cum1 AS (
            SELECT v,
                   SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS nl,
                   SUM(p) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS pl
            FROM per_v1
        ), tot1 AS (
            SELECT SUM(n)::BIGINT AS nt, SUM(p)::BIGINT AS pt FROM per_v1
        ), sc1 AS (
            SELECT c.v, t.nt,
                   CAST((c.nl - c.pl) + (t.pt - c.pl) AS BIGINT) AS err_w,
                   CAST(0 AS BIGINT) AS pol
            FROM cum1 c CROSS JOIN tot1 t WHERE c.nl < t.nt
            UNION ALL
            SELECT c.v, t.nt,
                   CAST(c.pl + (t.nt - c.nl - t.pt + c.pl) AS BIGINT),
                   CAST(1 AS BIGINT)
            FROM cum1 c CROSS JOIN tot1 t WHERE c.nl < t.nt
        ), b1 AS (
            SELECT v AS t, pol, err_w, CAST(nt AS BIGINT) AS total_w FROM (
                SELECT *, row_number() OVER (ORDER BY err_w, v, pol) AS rn
                FROM sc1
            ) WHERE rn = 1
        ), b1x AS (
            SELECT t, pol, err_w, total_w,
                   CAST(round(0.5 * ln(
                       CAST(total_w - least(greatest(err_w, 1), total_w - 1)
                            AS DOUBLE)
                       / CAST(least(greatest(err_w, 1), total_w - 1)
                              AS DOUBLE)) * 1e6) AS BIGINT) AS alpha_u6
            FROM b1
        ), b1m AS (
            SELECT *,
                   CAST(round(exp(-CAST(alpha_u6 AS DOUBLE) / 1e6) * 1e6)
                        AS BIGINT) AS m_corr_u6,
                   CAST(round(exp(CAST(alpha_u6 AS DOUBLE) / 1e6) * 1e6)
                        AS BIGINT) AS m_wrong_u6
            FROM b1x
        ), weighted AS (
            SELECT p.v, p.pos,
                   p.n_vy * CASE WHEN
                       (b.pol = 0 AND ((p.v <= b.t AND p.pos = 1)
                                       OR (p.v > b.t AND p.pos = 0)))
                       OR (b.pol = 1 AND ((p.v <= b.t AND p.pos = 0)
                                          OR (p.v > b.t AND p.pos = 1)))
                       THEN b.m_corr_u6 ELSE b.m_wrong_u6 END AS w2
            FROM per_vy p CROSS JOIN b1m b
        ), per_v2 AS (
            SELECT v, SUM(w2)::BIGINT AS n,
                   SUM(CASE WHEN pos = 1 THEN w2 ELSE 0 END)::BIGINT AS p
            FROM weighted GROUP BY v
        ), cum2 AS (
            SELECT v,
                   SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS nl,
                   SUM(p) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS pl
            FROM per_v2
        ), tot2 AS (
            SELECT SUM(n)::BIGINT AS nt, SUM(p)::BIGINT AS pt FROM per_v2
        ), sc2 AS (
            SELECT c.v, t.nt,
                   CAST((c.nl - c.pl) + (t.pt - c.pl) AS BIGINT) AS err_w,
                   CAST(0 AS BIGINT) AS pol
            FROM cum2 c CROSS JOIN tot2 t WHERE c.nl < t.nt
            UNION ALL
            SELECT c.v, t.nt,
                   CAST(c.pl + (t.nt - c.nl - t.pt + c.pl) AS BIGINT),
                   CAST(1 AS BIGINT)
            FROM cum2 c CROSS JOIN tot2 t WHERE c.nl < t.nt
        ), b2 AS (
            SELECT v AS t, pol, err_w, CAST(nt AS BIGINT) AS total_w FROM (
                SELECT *, row_number() OVER (ORDER BY err_w, v, pol) AS rn
                FROM sc2
            ) WHERE rn = 1
        ), b2x AS (
            SELECT t, pol, err_w, total_w,
                   CAST(round(0.5 * ln(
                       CAST(total_w - least(greatest(err_w, 1), total_w - 1)
                            AS DOUBLE)
                       / CAST(least(greatest(err_w, 1), total_w - 1)
                              AS DOUBLE)) * 1e6) AS BIGINT) AS alpha_u6
            FROM b2
        )
        SELECT CAST(1 AS BIGINT) AS "round", t AS threshold, pol, err_w,
               total_w, alpha_u6
        FROM b1x
        UNION ALL
        SELECT CAST(2 AS BIGINT), t, pol, err_w, total_w, alpha_u6
        FROM b2x
    """,
    "ml_ndcg_at_k": f"""
        WITH corpus AS (
            SELECT vec_id, label, embedding,
                   sqrt(list_dot_product(
                       list_transform(embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(embedding, x -> CAST(x AS DOUBLE))))
                       AS nrm
            FROM embeddings
        ), queries AS (
            SELECT vec_id AS query_id, label AS q_label,
                   embedding AS q_emb, nrm AS q_nrm
            FROM corpus WHERE vec_id < {_N_QUERIES}
        ), scored AS (
            SELECT q.query_id, q.q_label, c.vec_id AS neighbor_id,
                   c.label AS n_label,
                   round(list_dot_product(
                           list_transform(c.embedding, x -> CAST(x AS DOUBLE)),
                           list_transform(q.q_emb, x -> CAST(x AS DOUBLE)))
                         / (c.nrm * q.q_nrm), 9) AS cos_r9
            FROM corpus c CROSS JOIN queries q
            WHERE c.vec_id != q.query_id
        ), ranked AS (
            SELECT query_id, q_label, n_label,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_r9 DESC, neighbor_id ASC) AS rank
            FROM scored
            QUALIFY rank <= {_TOP_K}
        ), gains AS (
            SELECT * FROM (VALUES
                {", ".join(f"({r + 1}, {g})" for r, g in enumerate(_NDCG_GAIN_U9))}
            ) AS t(rank, gain_u9)
        ), dcg AS (
            SELECT r.query_id, r.q_label,
                   SUM(CASE WHEN r.q_label = r.n_label
                            THEN g.gain_u9 ELSE 0 END)::BIGINT AS dcg_u9
            FROM ranked r JOIN gains g USING (rank)
            GROUP BY r.query_id, r.q_label
        ), lab_n AS (
            SELECT label, COUNT(*)::BIGINT AS n_label_rows
            FROM corpus GROUP BY label
        ), ideals AS (
            SELECT * FROM (VALUES
                {", ".join(f"({r + 1}, {i})" for r, i in enumerate(_NDCG_IDEAL_U9))}
            ) AS t(r, ideal_u9)
        ), per_q AS (
            SELECT d.query_id,
                   CAST(l.n_label_rows - 1 AS BIGINT) AS n_relevant,
                   d.dcg_u9,
                   CAST(i.ideal_u9 AS BIGINT) AS idcg_u9
            FROM dcg d
            JOIN lab_n l ON d.q_label = l.label
            JOIN ideals i
              ON i.r = greatest(least(l.n_label_rows - 1, {_TOP_K}), 1)
        )
        SELECT query_id, n_relevant, dcg_u9, idcg_u9,
               CAST(round(CAST(dcg_u9 AS DOUBLE) / CAST(idcg_u9 AS DOUBLE)
                    * 1e6) AS BIGINT) AS ndcg_u6
        FROM per_q
    """,
    "ml_psi_drift": """
        WITH binned AS (
            SELECT least(19, CAST(round(o_totalprice * 100) AS BIGINT) // 3000000) AS bin,
                   CAST(o_orderkey % 2 AS BIGINT) AS half
            FROM orders
        ),
        counts AS (
            SELECT bin, half, COUNT(*)::BIGINT AS n FROM binned GROUP BY 1, 2
        ),
        tot AS (
            SELECT SUM(CASE WHEN half = 0 THEN n ELSE 0 END)::BIGINT AS ta,
                   SUM(CASE WHEN half = 1 THEN n ELSE 0 END)::BIGINT AS tb
            FROM counts
        ),
        bins AS (SELECT unnest(range(0, 20)) AS bin),
        j AS (
            SELECT b.bin,
                   COALESCE(a.n, 0) AS na, COALESCE(c.n, 0) AS nb, ta, tb
            FROM bins b
            LEFT JOIN counts a ON a.bin = b.bin AND a.half = 0
            LEFT JOIN counts c ON c.bin = b.bin AND c.half = 1
            CROSS JOIN tot
        ),
        terms AS (
            SELECT CAST(round(
                (CAST(na + 1 AS DOUBLE) / CAST(ta + 20 AS DOUBLE)
                 - CAST(nb + 1 AS DOUBLE) / CAST(tb + 20 AS DOUBLE))
                * ln((CAST(na + 1 AS DOUBLE) / CAST(ta + 20 AS DOUBLE))
                     / (CAST(nb + 1 AS DOUBLE) / CAST(tb + 20 AS DOUBLE)))
                * 1e9) AS BIGINT) AS t
            FROM j
        )
        SELECT CAST(SUM(t)::BIGINT AS DOUBLE) / 1e9 AS psi,
               SUM(t)::BIGINT < 100000000 AS is_stable
        FROM terms
    """,
    "ml_eval_confusion": f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   CAST(len(list_intersect({_TOKS}, ['the','a','fast','small'])) AS BIGINT) AS score_en,
                   CAST(len(list_intersect({_TOKS}, ['data','table','row','column'])) AS BIGINT) AS score_es,
                   CAST(len(list_intersect({_TOKS}, ['merge','join','sort','filter'])) AS BIGINT) AS score_de
            FROM documents
        ),
        pairs AS (
            SELECT lang AS t,
                   CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
                        WHEN score_es >= score_de THEN 'es'
                        ELSE 'de' END AS p
            FROM scored
        ),
        m AS (
            SELECT c.cls,
                   SUM(CASE WHEN t = c.cls AND p = c.cls THEN 1 ELSE 0 END)::BIGINT AS tp,
                   SUM(CASE WHEN t <> c.cls AND p = c.cls THEN 1 ELSE 0 END)::BIGINT AS fp,
                   SUM(CASE WHEN t = c.cls AND p <> c.cls THEN 1 ELSE 0 END)::BIGINT AS fn
            FROM pairs, (SELECT unnest(['en','es','de']) AS cls) c
            GROUP BY c.cls
        )
        SELECT cls, tp, fp, fn,
               CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
               CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
               2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
                   * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))
                   / (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                      + CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) AS f1
        FROM m
    """,
    "ml_auc_roc": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(len({_TOKS}) AS DOUBLE) AS n,
                   CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS nd,
                   CAST(len(list_filter({_TOKS}, x -> x = 'the')) AS DOUBLE) AS nthe
            FROM documents
        ),
        q AS (
            SELECT CAST(round((0.4 * least(1.0, n / 50.0) + 0.3 * (nd / n)
                               + 0.3 * (1.0 - nthe / n)) * 1e6) AS BIGINT) AS s,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos
            FROM t
        ),
        per AS (
            SELECT s, SUM(is_pos)::BIGINT AS c1,
                   (COUNT(*) - SUM(is_pos))::BIGINT AS c0
            FROM q GROUP BY s
        ),
        rk AS (
            SELECT c1, c0,
                   2 * COALESCE(SUM(c1 + c0) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     + (c1 + c0) + 1 AS rank2
            FROM per
        ),
        agg AS (
            SELECT SUM(c1 * rank2)::BIGINT AS r1_2x,
                   SUM(c1)::BIGINT AS n_pos, SUM(c0)::BIGINT AS n_neg
            FROM rk
        )
        SELECT n_pos, n_neg,
               (CAST(r1_2x - n_pos * (n_pos + 1) AS DOUBLE) / 2.0)
                   / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
        FROM agg
    """,
    "ml_target_encoding": """
        WITH per AS (
            SELECT o_orderpriority, COUNT(*)::BIGINT AS n,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS sc
            FROM orders GROUP BY o_orderpriority
        ),
        g AS (
            SELECT COUNT(*)::BIGINT AS gn,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS gc
            FROM orders
        )
        SELECT o_orderpriority, n,
               ((CAST(sc AS DOUBLE) + 10.0 * (CAST(gc AS DOUBLE) / CAST(gn AS DOUBLE)))
                / (CAST(n AS DOUBLE) + 10.0)) / 100.0 AS encoded_value,
               (CAST(gc AS DOUBLE) / CAST(gn AS DOUBLE)) / 100.0 AS global_mean
        FROM per, g
    """,
    "embed_drift_report": """
        WITH x AS (
            SELECT CAST(vec_id % 2 AS BIGINT) AS half,
                   unnest(range(len(embedding))) AS dim,
                   unnest(list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS v
            FROM embeddings
        ),
        agg AS (
            SELECT CAST(dim AS BIGINT) AS dim, half,
                   COUNT(*)::BIGINT AS n, SUM(v)::BIGINT AS s,
                   SUM(v * v)::BIGINT AS ss
            FROM x GROUP BY dim, half
        ),
        sides AS (
            SELECT dim, half,
                   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                   (CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   / CAST(n AS DOUBLE) AS var
            FROM agg
        )
        SELECT a.dim,
               a.mu / 1e6 AS mean_ref,
               b.mu / 1e6 AS mean_cur,
               abs(a.mu - b.mu) / 1e6 AS mean_shift,
               abs(a.mu - b.mu) / sqrt((a.var + b.var) / 2.0)
                   AS normalized_shift
        FROM sides a JOIN sides b
          ON a.dim = b.dim AND a.half = 0 AND b.half = 1
    """,
}


#: histogram resolution for the binned split finder — LightGBM's
#: max_bin default territory; shared with the oracle.
_HIST_BINS = 64


def q_ml_hist_binned_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-BINNED split finding — the LightGBM/XGBoost-hist inner
    loop, and the reason GBDT training scales past `ml_gini_best_split`'s
    distinct-value scan: the continuous feature (extended price, exact
    cents) is bucketed into `_HIST_BINS` equal-width integer bins in ONE
    map pass, per-bin label sums/counts aggregate to a 64-row histogram,
    and the best variance-reduction split (regression gain
    sl^2/nl + sr^2/nr - st^2/nt on the quantity label) closes with a
    cumulative window over those 64 rows. Ties break on the smaller bin
    via a 1e-6 integer gain grid, so both engines elect the same split.

    Scale: the fact table is scanned once and reduced to a
    `_HIST_BINS`-row histogram — the candidate evaluation never touches
    data again, which is why binned trainers handle billions of rows
    per feature; the min/max prepass is a broadcast scalar, not a
    collect."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("x"),
        F.col("l_quantity").cast("double").alias("y"),
    )
    rng = li.agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    binned = attach_broadcast(li, F.broadcast(rng)).select(
        F.expr(
            f"CAST(((x - mn) * {_HIST_BINS}) DIV (mx - mn + 1) AS BIGINT)"
        ).alias("bin"),
        "y",
        "mn",
        "mx",
    )
    # the 64-row histogram feeds both the totals and the cumulative
    # gain window; staged once so the lineitem scan + min/max prepass
    # run once, not twice (4 lineitem scans in the before plan).
    hist = local_materializer(
        binned.groupBy("bin", "mn", "mx").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").alias("sy"),
        ),
        "gbdt_hist",
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = hist.agg(
        F.sum("n").alias("nt"), F.sum("sy").alias("st")
    )
    cum = hist.select(
        "bin",
        "mn",
        "mx",
        F.sum("n").over(w).alias("nl"),
        F.sum("sy").over(w).alias("sl"),
    )
    gain = (
        "(sl * sl) / CAST(nl AS DOUBLE)"
        " + ((st - sl) * (st - sl)) / CAST(nt - nl AS DOUBLE)"
        " - (st * st) / CAST(nt AS DOUBLE)"
    )
    scored = attach_broadcast(cum, F.broadcast(tot)).where(
        F.col("nl") < F.col("nt")
    ).select(
        "bin",
        "mn",
        "mx",
        F.expr(f"CAST(round(({gain}) * 1000000.0D) AS BIGINT)").alias(
            "gain_u"
        ),
    )
    best = scored.agg(
        F.min(F.struct((-F.col("gain_u")).alias("neg"), "bin", "mn", "mx"))
        .alias("m")
    )
    return best.select(
        F.col("m.bin").cast("long").alias("best_bin"),
        F.expr(
            f"CAST(m.mn + ((m.bin + 1) * (m.mx - m.mn + 1)) DIV {_HIST_BINS}"
            " AS BIGINT)"
        ).alias("threshold_cents"),
        (F.col("m.neg").cast("double") / -1e6).alias("gain"),
        F.lit(_HIST_BINS).cast("long").alias("n_bins"),
    )


QUERIES["ml_hist_binned_split"] = q_ml_hist_binned_split
ORACLES["ml_hist_binned_split"] = f"""
    WITH pts AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
               CAST(l_quantity AS DOUBLE) AS y
        FROM lineitem
    ), rng AS (
        SELECT MIN(x) AS mn, MAX(x) AS mx FROM pts
    ), hist AS (
        SELECT ((x - mn) * {_HIST_BINS}) // (mx - mn + 1) AS bin,
               mn, mx, COUNT(*) AS n, SUM(y) AS sy
        FROM pts, rng GROUP BY 1, 2, 3
    ), tot AS (
        SELECT SUM(n) AS nt, SUM(sy) AS st FROM hist
    ), cum AS (
        SELECT bin, mn, mx,
               SUM(n) OVER (ORDER BY bin) AS nl,
               SUM(sy) OVER (ORDER BY bin) AS sl
        FROM hist
    ), scored AS (
        SELECT bin, mn, mx,
               CAST(round(((sl * sl) / CAST(nl AS DOUBLE)
                    + ((st - sl) * (st - sl)) / CAST(nt - nl AS DOUBLE)
                    - (st * st) / CAST(nt AS DOUBLE)) * 1000000.0)
                   AS BIGINT) AS gain_u
        FROM cum, tot
        WHERE nl < nt
    ), best AS (
        SELECT bin, mn, mx, gain_u
        FROM scored
        ORDER BY -gain_u, bin
        LIMIT 1
    )
    SELECT CAST(bin AS BIGINT) AS best_bin,
           CAST(mn + ((bin + 1) * (mx - mn + 1)) // {_HIST_BINS} AS BIGINT)
               AS threshold_cents,
           CAST(gain_u AS DOUBLE) / 1e6 AS gain,
           CAST({_HIST_BINS} AS BIGINT) AS n_bins
    FROM best
"""



def _rha(x: float) -> int:
    """round-half-AWAY-from-zero to int — the rounding rule both Spark's
    `round(double)` (BigDecimal HALF_UP) and DuckDB's `round` apply, so
    driver-side elections stay bit-identical to the in-plan/oracle form
    (Python's built-in round() is half-to-even and would drift)."""
    import math

    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


def q_ml_gbdt_binned_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO gradient-boosting rounds on the binned histogram — the
    training loop `ml_hist_binned_split` is the inner step of, made
    real: round 1 fits a depth-1 tree (best variance-reduction split,
    leaf means as values) to the residuals around the global mean;
    the model applies with learning rate 0.5 and round 2 re-fits on
    the UPDATED residuals, electing a different split because the
    first stump flattened the strongest gradient. All residuals live
    on an exact 1e-6 integer grid (quantities are integers, so y,
    the mean, and every leaf delta quantize exactly), making each
    histogram an exact BIGINT sum — no float-summation order
    dependence anywhere, which is what lets the DuckDB oracle restate
    both rounds as chained CTEs and hash-match.

    Scale: THREE linear scans total — one (min/max/mean) prepass, one
    exact 64-bin histogram per round — with each round's split election
    running driver-side over the collected histogram (64 rows — the
    same metadata-sized-model discipline as the Lloyd trainer and the
    BPE merge table); the model state between rounds is two inlined
    literals. N rounds of GBDT on 100 TB cost N scans, never a
    per-candidate or per-node rescan, and nothing data-sized ever
    reaches the driver. The driver-side election mirrors the SQL
    arithmetic operation-for-operation in IEEE doubles (including
    round-half-away-from-zero), so the result is bit-identical to the
    all-in-plan formulation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("x"),
        F.expr("CAST(round(l_quantity * 1000000) AS BIGINT)").alias("yu"),
    )
    g0 = li.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.sum("yu").alias("syu"),
    ).collect()[0]
    mn, mx, n0, syu = g0["mn"], g0["mx"], g0["n"], g0["syu"]
    p0u = _rha(float(syu) / float(n0))
    bin_expr = f"CAST(((x - {mn}) * {_HIST_BINS}) DIV ({mx - mn + 1}) AS BIGINT)"

    def _hist(extra_delta_sql: str) -> list:
        """One scan: exact (bin, n, sum residual-micro) histogram with
        the current model inlined as literals in the residual."""
        h = (
            li.select(
                F.expr(bin_expr).alias("bin"),
                F.expr(f"yu - {p0u} {extra_delta_sql}").alias("ru"),
            )
            .groupBy("bin")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("ru").cast("long").alias("s"),
            )
            .collect()
        )
        return sorted((r["bin"], r["n"], r["s"]) for r in h)

    def _elect(hist: list) -> tuple:
        """Best stump over the histogram — the IEEE-double mirror of the
        oracle's scored CTE: (split_bin, gain_u, lmu, rmu)."""
        nt = sum(h[1] for h in hist)
        st = sum(h[2] for h in hist)
        dst, dnt = float(st), float(nt)
        best = None
        nl = sl = 0
        for b, nb, sb in hist:
            nl += nb
            sl += sb
            if nl >= nt:
                continue
            dsl, dnl = float(sl), float(nl)
            gain = (
                dsl * dsl / dnl
                + (dst - dsl) * (dst - dsl) / float(nt - nl)
                - dst * dst / dnt
            )
            cand = (
                -_rha(gain / 1000000.0),
                b,
                _rha(dsl / dnl),
                _rha(float(st - sl) / float(nt - nl)),
            )
            if best is None or cand < best:
                best = cand
        return (best[1], -best[0], best[2], best[3])

    s1 = _elect(_hist(""))
    ld, rd = _rha(s1[2] / 2.0), _rha(s1[3] / 2.0)
    s2 = _elect(
        _hist(
            f"- (CASE WHEN {bin_expr} <= {s1[0]} THEN {ld} ELSE {rd} END)"
        )
    )
    span1 = mx - mn + 1
    rows = [
        (
            rnd,
            s[0],
            mn + ((s[0] + 1) * span1) // _HIST_BINS,
            s[1] / 1e6,
            s[2],
            s[3],
        )
        for rnd, s in ((1, s1), (2, s2))
    ]
    return spark.createDataFrame(
        rows,
        "round long, best_bin long, threshold_cents long, gain double,"
        " leaf_left_micro long, leaf_right_micro long",
    )



QUERIES["ml_gbdt_binned_rounds"] = q_ml_gbdt_binned_rounds


def _gbdt_stump_cte(src: str, tag: str) -> str:
    """Oracle CTE chain electing the best stump over `src`(bin, ru):
    emits `best_{tag}`(split_bin, gain_u, lmu, rmu)."""
    return f"""hist_{tag} AS (
        SELECT bin, COUNT(*) AS n, CAST(SUM(ru) AS BIGINT) AS s
        FROM {src} GROUP BY bin
    ), tot_{tag} AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st
        FROM hist_{tag}
    ), cum_{tag} AS (
        SELECT bin,
               CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS nl,
               CAST(SUM(s) OVER (ORDER BY bin) AS BIGINT) AS sl
        FROM hist_{tag}
    ), scored_{tag} AS (
        SELECT bin,
               CAST(round((
                   (CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE))
                       / CAST(nl AS DOUBLE)
                   + (CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE))
                       / CAST(nt - nl AS DOUBLE)
                   - (CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                       / CAST(nt AS DOUBLE)) / 1000000.0)
                   AS BIGINT) AS gain_u,
               CAST(round(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
                   AS BIGINT) AS lmu,
               CAST(round(CAST(st - sl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
                   AS BIGINT) AS rmu
        FROM cum_{tag}, tot_{tag}
        WHERE nl < nt
    ), best_{tag} AS (
        SELECT bin AS split_bin, gain_u, lmu, rmu
        FROM scored_{tag}
        ORDER BY -gain_u, bin LIMIT 1
    )"""


ORACLES["ml_gbdt_binned_rounds"] = f"""
    WITH pts AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
               CAST(round(l_quantity * 1000000) AS BIGINT) AS yu
        FROM lineitem
    ), rng AS (
        SELECT MIN(x) AS mn, MAX(x) AS mx FROM pts
    ), based AS (
        SELECT ((x - mn) * {_HIST_BINS}) // (mx - mn + 1) AS bin, yu
        FROM pts, rng
    ), p0 AS (
        SELECT CAST(round(CAST(SUM(yu) AS DOUBLE) / COUNT(*)) AS BIGINT)
            AS p0u
        FROM based
    ), r1 AS (
        SELECT bin, yu - p0u AS ru FROM based, p0
    ), {_gbdt_stump_cte('r1', 's1')}, deltas AS (
        SELECT split_bin,
               CAST(round(lmu / 2.0) AS BIGINT) AS ld,
               CAST(round(rmu / 2.0) AS BIGINT) AS rd
        FROM best_s1
    ), r2 AS (
        SELECT bin,
               ru - CASE WHEN bin <= split_bin THEN ld ELSE rd END AS ru
        FROM r1, deltas
    ), {_gbdt_stump_cte('r2', 's2')}
    SELECT CAST(1 AS BIGINT) AS round,
           CAST(split_bin AS BIGINT) AS best_bin,
           CAST(mn + ((split_bin + 1) * (mx - mn + 1)) // {_HIST_BINS}
               AS BIGINT) AS threshold_cents,
           CAST(gain_u AS DOUBLE) / 1e6 AS gain,
           CAST(lmu AS BIGINT) AS leaf_left_micro,
           CAST(rmu AS BIGINT) AS leaf_right_micro
    FROM best_s1, rng
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(split_bin AS BIGINT),
           CAST(mn + ((split_bin + 1) * (mx - mn + 1)) // {_HIST_BINS}
               AS BIGINT),
           CAST(gain_u AS DOUBLE) / 1e6,
           CAST(lmu AS BIGINT), CAST(rmu AS BIGINT)
    FROM best_s2, rng
"""


#: multi-feature GBDT label construction (micro units): a step of this
#: height on feature 1's bin grid plus this slope per feature-2 bin —
#: chosen so round 1 provably elects feature 1 (the step dominates) and
#: a full-step round-1 stump removes it exactly, forcing round 2 onto
#: feature 2. Shared with the oracle.
_MFG_STEP = 5_000_000
_MFG_SLOPE = 100_000


def q_ml_gbdt_multifeature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram GBDT electing across MULTIPLE features per round —
    the `ml_gbdt_binned_rounds` trainer generalized from one candidate
    feature to a candidate SET (extendedprice cents, partkey, suppkey), the way
    LightGBM scores every feature's histogram each round: ONE stacked
    scan per round builds both features' exact 64-bin integer
    histograms (explode to (feature, bin, residual), then one hash
    agg), the driver elects the globally best stump over the 3x64
    metadata-sized rows, and the model applies on the ELECTED feature.

    The label is constructed (micro grid, exact integers): a
    `_MFG_STEP` step at feature 1's bin 32 plus `_MFG_SLOPE` per
    feature-2 bin. That makes the cross-feature election PROVABLE, not
    incidental: round 1 must elect feature 1 (the step's gain
    dominates), and — because a learning-rate-1.0 depth-1 stump on an
    exact bin-threshold step removes it completely — round 2 must
    elect feature 2 — while feature 3 (suppkey, uninformative by
    construction) is provably never elected (asserted in tests by the
    oracle itself: the hashed rows carry the feature names). The
    oracle chains both rounds as CTEs over the identical integer
    arithmetic.

    Scale: two scans total (one per round) regardless of feature
    count within a round — the stacked histogram grows the SHUFFLED
    key domain (features x 64 rows), never the scan count; election
    stays driver-side over metadata-sized histograms."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("x1"),
        F.col("l_partkey").cast("long").alias("x2"),
        F.col("l_suppkey").cast("long").alias("x3"),
    )
    b0 = li.agg(
        F.min("x1").alias("mn1"),
        F.max("x1").alias("mx1"),
        F.min("x2").alias("mn2"),
        F.max("x2").alias("mx2"),
        F.min("x3").alias("mn3"),
        F.max("x3").alias("mx3"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    mn1, mx1, mn2, mx2, mn3, mx3, n0 = (
        b0["mn1"], b0["mx1"], b0["mn2"], b0["mx2"],
        b0["mn3"], b0["mx3"], b0["n"],
    )
    span1, span2 = mx1 - mn1 + 1, mx2 - mn2 + 1
    span3 = mx3 - mn3 + 1
    bin1 = f"CAST(((x1 - {mn1}) * {_HIST_BINS}) DIV {span1} AS BIGINT)"
    bin2 = f"CAST(((x2 - {mn2}) * {_HIST_BINS}) DIV {span2} AS BIGINT)"
    bin3 = f"CAST(((x3 - {mn3}) * {_HIST_BINS}) DIV {span3} AS BIGINT)"
    yu = (
        f"({_MFG_STEP}L * (CASE WHEN {bin1} >= {_HIST_BINS // 2}"
        f" THEN 1 ELSE 0 END) + {_MFG_SLOPE}L * {bin2})"
    )
    syu = li.agg(F.expr(f"SUM({yu})").alias("s")).collect()[0]["s"]
    p0u = _rha(float(syu) / float(n0))

    def _hist(delta_sql: str) -> list:
        rows = (
            li.select(
                F.expr(bin1).alias("b1"),
                F.expr(bin2).alias("b2"),
                F.expr(bin3).alias("b3"),
                F.expr(f"{yu} - {p0u}{delta_sql}").alias("ru"),
            )
            .select(
                F.expr(
                    "explode(array(struct(1 AS f, b1 AS bin, ru),"
                    " struct(2 AS f, b2 AS bin, ru),"
                    " struct(3 AS f, b3 AS bin, ru))) AS e"
                )
            )
            .groupBy("e.f", "e.bin")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("e.ru").cast("long").alias("s"),
            )
            .collect()
        )
        return sorted((r["f"], r["bin"], r["n"], r["s"]) for r in rows)

    def _elect(hist: list) -> tuple:
        """Globally best stump over every feature's histogram — the
        IEEE-double mirror of the oracle's ORDER BY -gain_u, f, bin."""
        per: dict = {}
        for f, b, nb, sb in hist:
            per.setdefault(f, []).append((b, nb, sb))
        best = None
        for f in sorted(per):
            rows = sorted(per[f])
            nt = sum(n for _, n, _ in rows)
            st = sum(s for _, _, s in rows)
            dst, dnt = float(st), float(nt)
            nl = sl = 0
            for b, nb, sb in rows:
                nl += nb
                sl += sb
                if nl >= nt:
                    continue
                dsl, dnl = float(sl), float(nl)
                gain = (
                    dsl * dsl / dnl
                    + (dst - dsl) * (dst - dsl) / float(nt - nl)
                    - dst * dst / dnt
                )
                cand = (
                    -_rha(gain / 1000000.0),
                    f,
                    b,
                    _rha(dsl / dnl),
                    _rha(float(st - sl) / float(nt - nl)),
                )
                if best is None or cand < best:
                    best = cand
        return (best[1], best[2], -best[0], best[3], best[4])

    s1 = _elect(_hist(""))
    bexpr = {1: bin1, 2: bin2, 3: bin3}[s1[0]]
    # learning rate 1.0: the full leaf means come off, so an exact
    # bin-threshold step is removed completely in one round
    s2 = _elect(
        _hist(
            f" - (CASE WHEN {bexpr} <= {s1[1]} THEN {s1[3]}"
            f" ELSE {s1[4]} END)"
        )
    )

    def row(rnd: int, s: tuple) -> tuple:
        f, b, gain_u, lmu, rmu = s
        mn, span = {
            1: (mn1, span1), 2: (mn2, span2), 3: (mn3, span3)
        }[f]
        name = {1: "extendedprice_cents", 2: "partkey", 3: "suppkey"}[f]
        return (
            rnd,
            name,
            b,
            mn + ((b + 1) * span) // _HIST_BINS,
            gain_u / 1e6,
            lmu,
            rmu,
        )

    return spark.createDataFrame(
        [row(1, s1), row(2, s2)],
        "round long, feature string, best_bin long, threshold long,"
        " gain double, leaf_left_micro long, leaf_right_micro long",
    )


QUERIES["ml_gbdt_multifeature"] = q_ml_gbdt_multifeature


def _gbdt_mf_stump_cte(src: str, tag: str) -> str:
    """Oracle CTE chain electing the best stump ACROSS features over
    `src`(f, bin, ru): emits `best_{tag}`(f, split_bin, gain_u, lmu,
    rmu) — ties broken by feature then bin, like the driver mirror."""
    return f"""hist_{tag} AS (
        SELECT f, bin, COUNT(*) AS n, CAST(SUM(ru) AS BIGINT) AS s
        FROM {src} GROUP BY f, bin
    ), tot_{tag} AS (
        SELECT f, CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(s) AS BIGINT) AS st
        FROM hist_{tag} GROUP BY f
    ), cum_{tag} AS (
        SELECT f, bin,
               CAST(SUM(n) OVER (PARTITION BY f ORDER BY bin) AS BIGINT)
                   AS nl,
               CAST(SUM(s) OVER (PARTITION BY f ORDER BY bin) AS BIGINT)
                   AS sl
        FROM hist_{tag}
    ), scored_{tag} AS (
        SELECT c.f AS f, bin,
               CAST(round(((CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE))
                       / CAST(nl AS DOUBLE)
                   + (CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE))
                       / CAST(nt - nl AS DOUBLE)
                   - (CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                       / CAST(nt AS DOUBLE)) / 1000000.0)
                   AS BIGINT) AS gain_u,
               CAST(round(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
                   AS BIGINT) AS lmu,
               CAST(round(CAST(st - sl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
                   AS BIGINT) AS rmu
        FROM cum_{tag} c JOIN tot_{tag} t ON c.f = t.f
        WHERE nl < nt
    ), best_{tag} AS (
        SELECT f, bin AS split_bin, gain_u, lmu, rmu
        FROM scored_{tag}
        ORDER BY -gain_u, f, bin LIMIT 1
    )"""


ORACLES["ml_gbdt_multifeature"] = f"""
    WITH pts AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x1,
               CAST(l_partkey AS BIGINT) AS x2,
               CAST(l_suppkey AS BIGINT) AS x3
        FROM lineitem
    ), rng AS (
        SELECT MIN(x1) AS mn1, MAX(x1) AS mx1,
               MIN(x2) AS mn2, MAX(x2) AS mx2,
               MIN(x3) AS mn3, MAX(x3) AS mx3
        FROM pts
    ), based AS (
        SELECT ((x1 - mn1) * {_HIST_BINS}) // (mx1 - mn1 + 1) AS b1,
               ((x2 - mn2) * {_HIST_BINS}) // (mx2 - mn2 + 1) AS b2,
               ((x3 - mn3) * {_HIST_BINS}) // (mx3 - mn3 + 1) AS b3
        FROM pts, rng
    ), lab AS (
        SELECT b1, b2, b3,
               {_MFG_STEP} * (CASE WHEN b1 >= {_HIST_BINS // 2}
                              THEN 1 ELSE 0 END)
                   + {_MFG_SLOPE} * b2 AS yu
        FROM based
    ), p0 AS (
        SELECT CAST(round(CAST(SUM(yu) AS DOUBLE) / COUNT(*)) AS BIGINT)
            AS p0u
        FROM lab
    ), r1 AS (
        SELECT b1, b2, b3, yu - p0u AS ru FROM lab, p0
    ), st1 AS (
        SELECT 1 AS f, b1 AS bin, ru FROM r1
        UNION ALL
        SELECT 2, b2, ru FROM r1
        UNION ALL
        SELECT 3, b3, ru FROM r1
    ), {_gbdt_mf_stump_cte('st1', 'm1')}, r2 AS (
        SELECT b1, b2, b3,
               ru - (CASE WHEN (CASE WHEN best_m1.f = 1 THEN b1
                                     WHEN best_m1.f = 2 THEN b2
                                     ELSE b3 END)
                              <= split_bin
                     THEN lmu ELSE rmu END) AS ru
        FROM r1, best_m1
    ), st2 AS (
        SELECT 1 AS f, b1 AS bin, ru FROM r2
        UNION ALL
        SELECT 2, b2, ru FROM r2
        UNION ALL
        SELECT 3, b3, ru FROM r2
    ), {_gbdt_mf_stump_cte('st2', 'm2')}
    SELECT CAST(1 AS BIGINT) AS round,
           CASE WHEN f = 1 THEN 'extendedprice_cents'
                WHEN f = 2 THEN 'partkey' ELSE 'suppkey' END
               AS feature,
           CAST(split_bin AS BIGINT) AS best_bin,
           CAST(CASE WHEN f = 1
                THEN mn1 + ((split_bin + 1) * (mx1 - mn1 + 1))
                         // {_HIST_BINS}
                WHEN f = 2
                THEN mn2 + ((split_bin + 1) * (mx2 - mn2 + 1))
                         // {_HIST_BINS}
                ELSE mn3 + ((split_bin + 1) * (mx3 - mn3 + 1))
                         // {_HIST_BINS} END AS BIGINT) AS threshold,
           CAST(gain_u AS DOUBLE) / 1e6 AS gain,
           CAST(lmu AS BIGINT) AS leaf_left_micro,
           CAST(rmu AS BIGINT) AS leaf_right_micro
    FROM best_m1, rng
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           CASE WHEN f = 1 THEN 'extendedprice_cents'
                WHEN f = 2 THEN 'partkey' ELSE 'suppkey' END,
           CAST(split_bin AS BIGINT),
           CAST(CASE WHEN f = 1
                THEN mn1 + ((split_bin + 1) * (mx1 - mn1 + 1))
                         // {_HIST_BINS}
                WHEN f = 2
                THEN mn2 + ((split_bin + 1) * (mx2 - mn2 + 1))
                         // {_HIST_BINS}
                ELSE mn3 + ((split_bin + 1) * (mx3 - mn3 + 1))
                         // {_HIST_BINS} END AS BIGINT),
           CAST(gain_u AS DOUBLE) / 1e6,
           CAST(lmu AS BIGINT), CAST(rmu AS BIGINT)
    FROM best_m2, rng
"""


def q_ml_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE K-fold OUT-OF-FOLD target encoding — the
    cross-validation-grade companion of the in-sample
    `ml_target_encoding` key (the feature-engineering op every tabular
    pipeline runs before a GBDT): each row's categorical
    (o_orderpriority) is replaced by the smoothed mean of the target
    (o_orderstatus = 'F') computed ONLY over the OTHER folds — fold id
    from the portable md5 hash (`ml_kfold_assign`'s split), so the
    encoding is reshuffle-proof and the row's own target can never
    leak into its feature. Smoothing shrinks rare categories toward
    the global prior: enc = (s_out + α·prior)/(n_out + α), α = 10,
    computed in EXACT integer arithmetic as
    ppm = 10⁶·(s_out·g_n + α·g_s) DIV ((n_out + α)·g_n), so the
    engines cannot drift. Output: one row per (fold, category) — the
    entire encoder table a scorer would broadcast.

    Scale: ONE fact scan and ONE fact shuffle to (fold, category) —
    the folds×categories aggregate is materialized (metadata-sized),
    so the per-category totals and the global prior derive from 25
    rows, never from a re-scan; out-of-fold sums are totals minus own
    fold. The encoder domain stays metadata-sized at any table size,
    which is exactly why target encoding scales where one-hot
    doesn't."""
    o = load_table(spark, sf_dir, "orders")
    fold = F.expr(
        "conv(substr(md5(cast(o_orderkey AS STRING)), 1, 7), 16, 10) % 5"
    ).cast("long")
    rows = o.select(
        fold.alias("fold"),
        F.col("o_orderpriority").alias("category"),
        (F.col("o_orderstatus") == "F").cast("long").alias("y"),
    )
    per = local_materializer(
        rows.groupBy("fold", "category").agg(
            F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
        ),
        "target_enc_per",
    )
    tot = per.groupBy("category").agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts")
    )
    g = per.agg(F.sum("n").alias("gn"), F.sum("s").alias("gs"))
    j = per.join(F.broadcast(tot), "category").transform(
        attach_broadcast, F.broadcast(g)
    )
    return j.select(
        "fold",
        "category",
        F.col("n").cast("long").alias("n_rows"),
        (F.col("tn") - F.col("n")).cast("long").alias("n_out"),
        (F.col("ts") - F.col("s")).cast("long").alias("s_out"),
        F.expr(
            "(1000000 * ((ts - s) * gn + 10 * gs))"
            " DIV (((tn - n) + 10) * gn)"
        ).cast("long").alias("enc_ppm"),
    )


QUERIES["ml_target_encoding_oof"] = q_ml_target_encoding_oof
ORACLES["ml_target_encoding_oof"] = """
    WITH r AS (
        SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 7)
                    AS BIGINT) % 5 AS fold,
               o_orderpriority AS category,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ), per AS (
        SELECT fold, category, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS s
        FROM r GROUP BY fold, category
    ), tot AS (
        SELECT category, SUM(n)::BIGINT AS tn, SUM(s)::BIGINT AS ts
        FROM per GROUP BY category
    ), g AS (
        SELECT SUM(n)::BIGINT AS gn, SUM(s)::BIGINT AS gs FROM per
    )
    SELECT fold, per.category,
           n AS n_rows,
           (tn - n)::BIGINT AS n_out,
           (ts - s)::BIGINT AS s_out,
           ((1000000 * ((ts - s) * gn + 10 * gs))
               // (((tn - n) + 10) * gn))::BIGINT AS enc_ppm
    FROM per JOIN tot ON per.category = tot.category CROSS JOIN g
"""


def q_ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence + Information Value per category — the
    credit-scorecard feature-screening pair: WOE_i =
    ln(good_share_i / bad_share_i) with Laplace-smoothed shares
    (p = (g_i+1)/(G+k), q = (b_i+1)/(B+k), k = #categories), and the
    category's IV contribution (p−q)·WOE_i. good = o_orderstatus 'F'.
    Doubles close over nano-scaled integers (the `ml_psi_drift`
    idiom), so a last-ulp ln() difference between engines is rounded
    away. Output: one row per category with counts, shares, WOE, the
    IV term, and the total IV replicated per row (window sum over the
    k-row domain).

    Scale: ONE fact scan, one shuffle to the category domain; the
    materialized k-row aggregate feeds both the per-category rows and
    the broadcast totals (which carry k itself — no separate count
    action), so nothing re-scans the table."""
    o = load_table(spark, sf_dir, "orders")
    per = local_materializer(
        o.groupBy(F.col("o_orderpriority").alias("category")).agg(
            F.sum(
                (F.col("o_orderstatus") == "F").cast("long")
            ).alias("n_good"),
            F.sum(
                (F.col("o_orderstatus") != "F").cast("long")
            ).alias("n_bad"),
        ),
        "woe_per",
    )
    tot = per.agg(
        F.sum("n_good").alias("tg"),
        F.sum("n_bad").alias("tb"),
        F.count(F.lit(1)).alias("k"),
    )
    j = per.transform(attach_broadcast, F.broadcast(tot))
    p = (F.col("n_good") + 1).cast("double") / (
        F.col("tg") + F.col("k")
    ).cast("double")
    q = (F.col("n_bad") + 1).cast("double") / (
        F.col("tb") + F.col("k")
    ).cast("double")
    woe_nano = F.round(F.log(p / q) * F.lit(1.0e9)).cast("long")
    iv_nano = F.round((p - q) * F.log(p / q) * F.lit(1.0e9)).cast("long")
    staged = local_materializer(
        j.select(
            "category",
            F.col("n_good").cast("long").alias("n_good"),
            F.col("n_bad").cast("long").alias("n_bad"),
            woe_nano.alias("woe_nano"),
            iv_nano.alias("iv_term_nano"),
        ),
        "woe_terms",
    )
    # total IV via a broadcast of the 1-row sum, not a global window —
    # an empty-partition window would be a single-partition exchange
    tot_iv = staged.agg(F.sum("iv_term_nano").alias("iv_total_nano"))
    return staged.transform(attach_broadcast, F.broadcast(tot_iv)).select(
        "category",
        "n_good",
        "n_bad",
        (F.col("woe_nano").cast("double") / 1.0e9).alias("woe"),
        (F.col("iv_term_nano").cast("double") / 1.0e9).alias("iv_term"),
        (F.col("iv_total_nano").cast("double") / 1.0e9).alias("iv_total"),
    )


QUERIES["ml_woe_iv"] = q_ml_woe_iv
ORACLES["ml_woe_iv"] = """
    WITH per AS (
        SELECT o_orderpriority AS category,
               SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
                   AS n_good,
               SUM(CASE WHEN o_orderstatus != 'F' THEN 1 ELSE 0 END)::BIGINT
                   AS n_bad
        FROM orders GROUP BY o_orderpriority
    ), tot AS (
        SELECT SUM(n_good)::BIGINT AS tg, SUM(n_bad)::BIGINT AS tb,
               COUNT(*)::BIGINT AS k
        FROM per
    ), t AS (
        SELECT category, n_good, n_bad,
               CAST(round(ln(
                   ((n_good + 1)::DOUBLE / (tg + k)::DOUBLE)
                   / ((n_bad + 1)::DOUBLE / (tb + k)::DOUBLE)
               ) * 1e9) AS BIGINT) AS woe_nano,
               CAST(round(
                   (((n_good + 1)::DOUBLE / (tg + k)::DOUBLE)
                    - ((n_bad + 1)::DOUBLE / (tb + k)::DOUBLE))
                   * ln(((n_good + 1)::DOUBLE / (tg + k)::DOUBLE)
                        / ((n_bad + 1)::DOUBLE / (tb + k)::DOUBLE))
                   * 1e9) AS BIGINT) AS iv_term_nano
        FROM per CROSS JOIN tot
    )
    SELECT category, n_good, n_bad,
           woe_nano::DOUBLE / 1e9 AS woe,
           iv_term_nano::DOUBLE / 1e9 AS iv_term,
           (SUM(iv_term_nano) OVER ())::DOUBLE / 1e9 AS iv_total
    FROM t
"""
