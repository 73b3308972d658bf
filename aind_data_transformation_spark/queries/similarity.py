"""Similarity-join and classification operators: banded edit-distance
string joins, k-NN label prediction, grid-bucketed spatial neighbor joins,
CCNet-style perplexity bucketing, and multinomial Naive Bayes scoring.

These are the record-linkage / curation passes a training-data pipeline
runs after the dedup family (``llm_text.py``): fuzzy matching that is NOT
near-duplicate detection (different thresholds, different verify
predicate), label transfer from a labelled seed set, and model-based
quality partitioning (the CCNet head/middle/tail split).

Scale doctrine (shared with the dedup family): every pairwise operator in
this module generates candidates with an EQUI-join on a banding key
(string prefix band, grid cell, coarse quantile) and verifies with an
exact predicate only on the banded candidates — the all-pairs cross
product never materializes, so cost is Σ(band size²), not N². This is the
PassJoin / Ed-Join blocking scheme for strings and the fixed-grid cell
join for points; both band keys are plain column expressions, so the
"index build" is free at scan time and survives any partitioning.

Cross-engine determinism: edit distances and vote counts are integers;
spatial distances are 1e6-scaled integer coordinates (order-free sums);
Naive-Bayes log-probabilities are rounded to a 1e-6 grid per term BEFORE
summation (the module doctrine of ``ml_prep.py``: a last-ulp ``ln``
difference between the JVM and DuckDB's libm cannot survive the grid), so
argmax ties cannot flip across engines and every operator here hash-matches
its DuckDB oracle exactly.

Reference parity note: the reference framework (aind-data-transformation,
``src/aind_data_transformation/core.py``) defines only the ETL job shell —
similarity/classification operators are part of this repo's mandated
LLM-pipeline extension surface (SURVEY.md §2), not reference ports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import (
    attach_broadcast,
    local_materializer,
    series_row_number,
)

#: string-sim join: prefix-band width, length-difference cap, distance cap.
#: A true edit-distance join needs |len(a)-len(b)| <= tau to match, so the
#: length filter is lossless for tau <= _SIM_LEN_DIFF; the prefix band is
#: the blocking approximation (standard Ed-Join trade: near-misses whose
#: first _SIM_BAND chars differ are not candidates).
_SIM_HEAD = 40
_SIM_BAND = 12
_SIM_LEN_DIFF = 8
_SIM_TAU = 20

#: k-NN: held-out query rows (smallest vec_ids) and neighbourhood size.
_KNN_QUERIES = 10
_KNN_K = 5

#: spatial grid join: 1e6-scaled integer epsilon (0.02 in embedding units).
_EPS_U = 20_000


def q_join_string_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded edit-distance similarity join over document heads (first
    40 chars, lowercased): candidates share a 12-char prefix band and
    differ in total length by <= 8, then the exact Levenshtein distance
    is computed on candidates only and thresholded at 20.

    This is the PassJoin/Ed-Join blocking shape: the prefix band is an
    equi-join key, so Spark plans a hash shuffle join on ``band`` —
    cost is Σ(band size²) over bands, never |docs|². At 100 TB you add
    more/segmented bands (PassJoin's partition lemma) to keep bands
    bounded; the plan shape is unchanged. The length filter is applied
    IN the join condition so oversized candidates never reach the
    Levenshtein kernel."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.substring("text", 1, _SIM_HEAD)).alias("head"),
        F.length("text").alias("tlen"),
    )
    b = d.withColumn("band", F.substring("head", 1, _SIM_BAND))
    a, c = b.alias("a"), b.alias("b")
    pairs = a.join(
        c,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.abs(F.col("a.tlen") - F.col("b.tlen")) <= _SIM_LEN_DIFF
        ),
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein(F.col("a.head"), F.col("b.head"))
            .cast("bigint")
            .alias("lev_head"),
        )
        .where(F.col("lev_head") <= _SIM_TAU)
    )


def q_ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label transfer: the 10 smallest vec_ids are the unlabelled
    query set; each is assigned the majority label of its 5 nearest
    training vectors (exact integer-scaled squared-L2, ties on distance
    to the lower vec_id, ties on vote count to the lower label).

    Scale shape: identical to ``sim_search_topk`` — the query side is
    tiny and broadcast, the corpus is scanned once, per-query top-k is a
    window over the broadcast-join output, and the vote is a k-row
    aggregation per query. Label transfer over a 100-TB corpus against a
    labelled seed set is exactly this plan with the seed set broadcast
    (or LSH-bucketed via ``ann_lsh_topk`` when the seed set outgrows the
    broadcast threshold)."""
    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        "label",
    )
    queries = em.where(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    train = em.where(F.col("vec_id") >= _KNN_QUERIES)
    # per-dimension 1e9-scaled integer terms: addition order cannot
    # change the sum, so the argmin is engine-exact (kmeans doctrine)
    dist_u = F.expr(
        "aggregate(zip_with(v, qv, (x, q) ->"
        " CAST(round((x - q) * (x - q) * 1e9) AS BIGINT)),"
        " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_u").asc(), F.col("vec_id").asc()
    )
    neigh = (
        train.transform(attach_broadcast, F.broadcast(queries))
        .select("query_id", "vec_id", "label", dist_u.alias("dist_u"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _KNN_K)
    )
    votes = neigh.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    best = votes.groupBy("query_id").agg(
        F.min(F.struct((-F.col("votes")).alias("nv"), "label")).alias("m")
    )
    return best.select(
        "query_id",
        F.col("m.label").cast("bigint").alias("pred_label"),
        (-F.col("m.nv")).cast("bigint").alias("votes"),
    )


def q_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid ε-neighborhood self-join over the first two embedding
    dimensions (1e6-scaled integer coordinates): each point lands in a
    cell of side ε; the left side probes its own cell plus the 8
    neighbors (exploded offset array — a flatMap, no shuffle), the right
    side stays in its home cell, and the join is a plain equi-join on
    the probed cell. Every qualifying pair (a<b, squared distance
    <= ε²) is emitted exactly once because the right side's home cell is
    unique. This is the standard grid/cell spatial join: candidates per
    point are bounded by 9-cell occupancy, the N² cross product never
    exists, and the cell key is a column expression (free at scan, any
    partitioning). All arithmetic is integer — engine-exact."""
    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "CAST(round(CAST(embedding[0] AS DOUBLE) * 1e6) AS BIGINT)"
        ).alias("xi"),
        F.expr(
            "CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)"
        ).alias("yi"),
    )
    # floor (not truncating) division: coordinates are signed, and
    # Spark's DIV truncates toward zero while a grid needs floor cells
    # (and the DuckDB oracle's // floors) — floor() on the exact double
    # quotient is engine-identical for these magnitudes
    pts = em.withColumn(
        "cx",
        F.floor(F.col("xi").cast("double") / F.lit(float(_EPS_U))).cast("long"),
    ).withColumn(
        "cy",
        F.floor(F.col("yi").cast("double") / F.lit(float(_EPS_U))).cast("long"),
    )
    probes = pts.select(
        F.col("vec_id").alias("id_a"),
        F.col("xi").alias("xa"),
        F.col("yi").alias("ya"),
        F.explode(F.expr("array(-1L, 0L, 1L)")).alias("dx"),
        "cx",
        "cy",
    ).select(
        "id_a",
        "xa",
        "ya",
        (F.col("cx") + F.col("dx")).alias("pcx"),
        F.explode(F.expr("array(-1L, 0L, 1L)")).alias("dy"),
        "cy",
    ).select(
        "id_a", "xa", "ya", "pcx", (F.col("cy") + F.col("dy")).alias("pcy")
    )
    d2 = (F.col("xa") - F.col("xi")) * (F.col("xa") - F.col("xi")) + (
        F.col("ya") - F.col("yi")
    ) * (F.col("ya") - F.col("yi"))
    return (
        probes.join(
            pts,
            (F.col("pcx") == F.col("cx"))
            & (F.col("pcy") == F.col("cy"))
            & (F.col("id_a") < F.col("vec_id")),
        )
        .select(
            "id_a",
            F.col("vec_id").alias("id_b"),
            d2.cast("bigint").alias("dist2_u"),
        )
        .where(F.col("dist2_u") <= _EPS_U * _EPS_U)
    )


def q_corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality partitioning: score every document with the
    corpus bigram language model (the exact integer-grid algebra of
    ``text_bigram_lm_score``), then split each language into
    head/middle/tail terciles by score (``ntile(3)`` over avg log-prob
    DESC, doc_id ASC — a total order, so the split is engine-exact).
    CCNet (Wenzek et al. 2020) uses exactly this per-language
    perplexity tercile to keep head-quality web text for LM training.

    Scale: the LM passes are the ``text_bigram_lm_score`` shape (hash
    aggregations + equi-joins on bigram keys); the tercile rank comes
    from ops.series_row_number over (lang, score-bucket) partitions
    (broadcast bucket offsets; the score's integer part is the monotone
    coarse bucket) with the tile closed arithmetically as
    ((rn-1)·3) DIV n + 1 — exactly ntile's tie-free semantics, but
    parallelism ∝ score buckets instead of the language count.

    The tokenized frame and the bigram stream are STAGE-MATERIALIZED
    (r12 optimization, guide §8's decide-on-a-proxy discipline): the
    plan referenced ``toks`` four times and ``big`` three times, and
    since each consumer shuffles on a different key no exchange is
    shared — every reference re-ran scan → lower → split → explode
    over the whole corpus (12 Generates / 15 scans in the before
    plan). Tokenizing once and re-deriving the three aggregations from
    the materialized stream scans the text exactly once; on a cluster
    the materializer is the parquet stage writer (ops doctrine), the
    same tokenize-once layout every LM data pipeline uses."""
    d = load_table(spark, sf_dir, "documents")
    toks = local_materializer(
        d.select(
            "doc_id",
            "lang",
            F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias("w"),
        ),
        "perplexity_toks",
    )
    big = local_materializer(
        toks.where(F.size("w") >= 2).select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("bg"),
        ).select("doc_id", "bg.w1", "bg.w2"),
        "perplexity_bigrams",
    )
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
    scores = lp.groupBy("doc_id").agg(
        (
            F.sum("lp_micro").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_lp")
    )
    scored = (
        toks.select("doc_id", "lang")
        .join(scores, "doc_id")
        # series_row_number orders ascending: negate for score-DESC rank
        .withColumn("__neglp", -F.col("avg_lp"))
    )
    sizes = scored.groupBy("lang").agg(F.count(F.lit(1)).alias("__n"))
    ranked = series_row_number(
        scored,
        ["lang"],
        ["__neglp", "doc_id"],
        "CAST(__neglp AS BIGINT) div 1048576",
    ).join(F.broadcast(sizes), "lang")
    tile = (F.expr("((rn - 1) * 3) DIV __n") + 1).cast("int")
    bucket = F.element_at(F.expr("array('head', 'middle', 'tail')"), tile)
    return ranked.select(
        "lang",
        "doc_id",
        (F.col("avg_lp") / 1e6).alias("avg_logprob"),
        bucket.alias("bucket"),
    )


def q_ml_naive_bayes_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes source classification: train per-source
    add-1-smoothed token models over the corpus, score every document
    against all 20 sources, return each document's argmax source and
    its 1e-6-integer score. Per-term log-probabilities are rounded to
    the 1e-6 grid BEFORE summation and the prior is rounded on the same
    grid, so per-(doc, class) scores are exact integer sums and the
    argmax (score DESC, source ASC) cannot flip across engines.

    Scale shape: the model is two hash aggregations (per-(source, term)
    counts, per-source totals); scoring joins doc-term frequencies to
    the sparse model on the high-cardinality ``term`` key ONLY, so the
    expansion is proportional to OBSERVED (term, class) matches — not a
    hard ×|classes| blowup of the largest relation. The unseen-term mass
    is closed arithmetically per (doc, class) as
    ``(doc_tf_total − matched_tf_c) · floor_c`` where
    ``floor_c = round(ln(1/(tot_c+V))·1e6)`` comes from the 20-row class
    frame, attached to the per-doc totals via a constant-key broadcast
    HASH join (``ops.attach_broadcast``) — no BroadcastNestedLoopJoin
    anywhere in the plan. Every term is integer on the 1e-6 grid, so the
    sums are exact and hash-identical to the naive all-classes oracle."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("term"),
    )
    # the sparse (class, term) count table feeds THREE derivations
    # (class totals, vocabulary, the scored model) and the (doc, term)
    # frequency table two (doc totals, the scoring join); un-staged,
    # each derivation re-ran the corpus explode (11 documents scans in
    # the before plan — the r12 attempts that regressed materialized
    # corpus-sized frames or re-keyed the shuffle; these two are the
    # COMPACT aggregates, staged with the shuffles unchanged).
    class_term = local_materializer(
        toks.groupBy(F.col("source").alias("cls"), "term").agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        "nb_class_term",
    )
    class_tot = class_term.groupBy("cls").agg(F.sum("cnt").alias("tot"))
    # vocabulary size from the (already aggregated) sparse model rather
    # than a third pass over the token explode — identical value: every
    # corpus term appears in at least one class
    vocab = class_term.agg(F.countDistinct("term").alias("vs"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n"))
    priors = attach_broadcast(
        d.groupBy(F.col("source").alias("cls")).agg(
            F.count(F.lit(1)).alias("dc")
        ),
        n_docs,
    ).select(
        "cls",
        F.expr(
            "CAST(round(ln(CAST(dc AS DOUBLE) / CAST(n AS DOUBLE))"
            " * 1000000.0D) AS BIGINT)"
        ).alias("prior_u"),
    )
    # bounded per-class frame: prior, observed-token total, vocab size,
    # and the add-1 smoothing floor ln(1/(tot+V)) on the 1e-6 grid
    classes = attach_broadcast(priors.join(class_tot, "cls"), vocab).select(
        "cls",
        "prior_u",
        "tot",
        "vs",
        F.expr(
            "CAST(round(ln(1.0D / (CAST(tot AS DOUBLE)"
            " + CAST(vs AS DOUBLE))) * 1000000.0D) AS BIGINT)"
        ).alias("floor_u"),
    )
    # sparse scored model: per observed (class, term), the smoothed
    # log-probability on the integer grid
    model = class_term.join(F.broadcast(classes), "cls").select(
        "cls",
        "term",
        F.expr(
            "CAST(round(ln((CAST(cnt AS DOUBLE) + 1.0D)"
            " / (CAST(tot AS DOUBLE) + CAST(vs AS DOUBLE)))"
            " * 1000000.0D) AS BIGINT)"
        ).alias("lp_u"),
    )
    doc_term = local_materializer(
        toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")),
        "nb_doc_term",
    )
    doc_tot = doc_term.groupBy("doc_id").agg(
        F.sum("tf").alias("tf_total")
    )
    # observed mass only: equi-join on term alone, then per-(doc, cls)
    # integer sums of tf·lp_u and the matched token count
    obs = (
        doc_term.join(model, "term")
        .groupBy("doc_id", "cls")
        .agg(
            F.sum(F.col("tf") * F.col("lp_u")).alias("obs_sum"),
            F.sum("tf").alias("matched_tf"),
        )
    )
    # full doc × class grid (constant-key broadcast hash join, 20 rows)
    # with the unseen mass closed arithmetically
    doc_cls = (
        attach_broadcast(doc_tot, classes.select("cls", "prior_u", "floor_u"))
        .join(obs, ["doc_id", "cls"], "left")
        .select(
            "doc_id",
            "cls",
            (
                F.col("prior_u")
                + F.coalesce(F.col("obs_sum"), F.lit(0))
                + (
                    F.col("tf_total")
                    - F.coalesce(F.col("matched_tf"), F.lit(0))
                )
                * F.col("floor_u")
            ).alias("score_u"),
        )
    )
    best = doc_cls.groupBy("doc_id").agg(
        F.min(
            F.struct((-F.col("score_u")).alias("ns"), "cls")
        ).alias("m")
    )
    return best.select(
        "doc_id",
        F.col("m.cls").alias("pred_source"),
        (-F.col("m.ns")).cast("bigint").alias("score_u"),
    )


_SN_WINDOW = 5  #: sorted-neighborhood window (compare to next w-1 rows)
_SN_BLOCK = 16  #: rn-block size for the banded neighbor equi-join
_SN_TAU = 8


def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution (Hernández & Stolfo 1995):
    sort the corpus by a normalized blocking key (lowercased 40-char
    head), then compare each record only to its next ``w−1 = 4``
    neighbors in sort order — the classic alternative to LSH banding
    when near-duplicates share a prefix (crawl re-fetches, versioned
    titles). Survivor pairs are scored with exact Levenshtein ≤ 8.

    Scale: the global sort position comes from the two-phase
    ``series_row_number`` (coarse bucket = first-two-char code, monotone
    in the binary string order — NO single-partition sort), and the
    neighbor pairing is an EQUI-join on rn-blocks: the left row fans out
    to the (≤2) blocks its window can reach, the right row joins on its
    own block, and ``1 ≤ rn_b − rn_a ≤ 4`` trims inside the join. Cost
    is w·|docs| candidate pairs exactly — linear, never quadratic."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.substring("text", 1, _SIM_HEAD)).alias("head"),
    )

    # the row-numbered frame feeds both neighbor-join sides; staged once
    # so the two-phase global numbering (two window passes) runs once,
    # not once per side (4 documents scans in the before plan).
    rn = local_materializer(
        series_row_number(
            d,
            [],
            [F.col("head").asc(), F.col("doc_id").asc()],
            # second code clamped to 255: ascii() returns full
            # codepoints, and an unclamped second char >= 256 (e.g.
            # 'a€') would jump past the next first-char bucket, breaking
            # the monotone-bucket precondition on non-Latin-1 text; the
            # clamp stays monotone (ties collapse INTO the same bucket,
            # never cross one) because cp1*256 + 255 < cp2*256 whenever
            # cp1 < cp2
            "ascii(substr(head, 1, 1)) * 256"
            " + least(ascii(substr(head, 2, 1)), 255)",
        ),
        "sn_numbered",
    )
    left = rn.select(
        F.col("doc_id").alias("id_a"),
        F.col("head").alias("head_a"),
        F.col("rn").alias("rn_a"),
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"rn div {_SN_BLOCK}"),
                    F.expr(f"(rn + {_SN_WINDOW - 1}) div {_SN_BLOCK}"),
                )
            )
        ).alias("blk"),
    )
    right = rn.select(
        F.col("doc_id").alias("id_b"),
        F.col("head").alias("head_b"),
        F.col("rn").alias("rn_b"),
        F.expr(f"rn div {_SN_BLOCK}").alias("blk"),
    )
    pairs = left.join(right, "blk").where(
        (F.col("rn_b") - F.col("rn_a") >= 1)
        & (F.col("rn_b") - F.col("rn_a") <= _SN_WINDOW - 1)
    )
    return pairs.select(
        "id_a",
        "id_b",
        (F.col("rn_b") - F.col("rn_a")).alias("neighbor_offset"),
        F.levenshtein("head_a", "head_b").cast("bigint").alias("lev_head"),
    ).where(F.col("lev_head") <= _SN_TAU)


_TFIDF_MAX_DF_FRAC = 4  #: retain terms with df <= N/4 (stopword prune)
_TFIDF_MAX_DF_ABS = 10000  #: ABSOLUTE retained-df ceiling (index prune)
_TFIDF_COS_TAU = 0.3
#: prefix-filter bound τ' = 0.29 < τ: suffix²·10⁴ ≥ 841·‖v‖² keeps a
#: term in the PPJoin prefix; the 0.01 margin under τ covers the 6-dp
#: rounding of the final cosine so the filter stays lossless
_TFIDF_PREF_NUM = 841
_TFIDF_PREF_DEN = 10000


def q_join_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join: document pairs scoring
    cos ≥ 0.3 on their stopword-pruned TF-IDF vectors. The third member
    of the similarity-join family: token-set (minhash), bit-sketch
    (simhash), and now weighted-vector cosine.

    Scale shape (PPJoin, Bayardo/Ma/Srikant WWW'07 prefix filtering):

    1. Term prune is an ABSOLUTE cap — ``df ≤ min(N/4, 10⁴)`` — so
       candidate generation cost never scales with corpus size (a
       fractional-only cap lets Σdf² grow quadratically on a Zipfian
       vocabulary; the absolute cap is the standard "drop ultra-common
       terms from the index" rule).
    2. Each doc's retained terms sort by GLOBAL rarity order
       (df asc, term asc); its PREFIX is the minimal head whose removal
       leaves suffix norm < τ' = 0.29. If two docs share NO prefix
       term, cos ≤ ‖tail‖/‖v‖ < τ' (Cauchy–Schwarz), so candidates come
       ONLY from the prefix⋈prefix term equi-join — rare-term-dominated,
       orders of magnitude below the full Σdf². τ' sits 0.01 under τ so
       the 6-dp rounding of the final cosine cannot resurrect a skipped
       pair: anything missed has cos < 0.29.
    3. Exact cosines are computed ONLY for candidate pairs: each side's
       full vector rides in as a term→weight map (bounded by doc
       length) via two hash joins, and the dot product is one
       `aggregate` HOF over the smaller map probing the larger — no
       second pass over the term join, no all-pairs stage anywhere.

    Exactness: weights are 1e-3-grid integers round(tf·ln(N/df)·1e3);
    prefix membership is an integer comparison (suffix²·10⁴ ≥ 841·‖v‖²
    on decimal(38,0) sums); dots accumulate decimal products; cos
    closes in the identical double tree and rounds to 6 dp — the DuckDB
    oracle runs the UNFILTERED term join and must match byte-for-byte,
    which doubles as the losslessness proof of the prefix filter."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        attach_broadcast(tf.join(df_t, "term"), n_docs)
        .where(
            (F.col("df") * _TFIDF_MAX_DF_FRAC <= F.col("n"))
            & (F.col("df") <= _TFIDF_MAX_DF_ABS)
        )
        .select(
            "doc_id",
            "term",
            "df",
            F.expr(
                "CAST(round(tf * ln(CAST(n AS DOUBLE)"
                " / CAST(df AS DOUBLE)) * 1000.0D) AS BIGINT)"
            ).alias("w"),
        )
    )
    # the pruned TF-IDF index feeds FOUR plan branches (prefix a/b +
    # vector a/b); un-materialized, each branch re-runs the corpus
    # explode + two shuffles (12 documents scans in the before plan).
    # Stage it once — at 100 TB this frame IS the inverted index a
    # similarity-join system persists (ops.parquet_materializer there).
    w = local_materializer(w, "tfidf_index")
    # decimal operands: worst-case w ≈ tf_max·ln(N) · 1e3 can reach 1e8,
    # so w² sums can pass int64 — the registry-wide product-sum audit
    # demands the decimal(38,0) accumulator (exact, reads back as double)
    w2 = w.withColumn(
        "w2",
        F.col("w").cast("decimal(19,0)") * F.col("w").cast("decimal(19,0)"),
    )
    w_doc = Window.partitionBy("doc_id")
    w_sfx = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("df").asc(), F.col("term").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    flagged = w2.select(
        "doc_id",
        "term",
        "w",
        F.sum("w2").over(w_doc).alias("nrm2"),
        F.sum("w2").over(w_sfx).alias("sfx2"),
    )
    pref = flagged.where(
        F.col("sfx2") * _TFIDF_PREF_DEN >= F.col("nrm2") * _TFIDF_PREF_NUM
    ).select("doc_id", "term")
    pa = pref.select(F.col("doc_id").alias("id_a"), "term")
    pb = pref.select(F.col("doc_id").alias("id_b"), "term")
    cand = (
        pa.join(pb, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = w.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "w"))
        ).alias("vec"),
        F.expr(
            "sqrt(CAST(SUM(CAST(w AS DECIMAL(19,0))"
            " * CAST(w AS DECIMAL(19,0))) AS DOUBLE))"
        ).alias("nrm"),
    )
    va = vecs.select(
        F.col("doc_id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("nrm").alias("na"),
    )
    vb = vecs.select(
        F.col("doc_id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nb"),
    )
    dot = F.expr(
        "aggregate(map_entries(vec_a), CAST(0 AS DECIMAL(38,0)),"
        " (acc, s) -> CAST(acc"
        " + CAST(s.value AS DECIMAL(19,0))"
        " * CAST(coalesce(vec_b[s.key], 0L) AS DECIMAL(19,0))"
        " AS DECIMAL(38,0)))"
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("dot", dot)
        .select(
            "id_a",
            "id_b",
            F.expr(
                "round(CAST(dot AS DOUBLE) / (na * nb), 6)"
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= _TFIDF_COS_TAU)
    )


QUERIES = {
    "join_tfidf_cosine": q_join_tfidf_cosine,
    "dedup_sorted_neighborhood": q_dedup_sorted_neighborhood,
    "join_string_sim": q_join_string_sim,
    "ml_knn_classify": q_ml_knn_classify,
    "spatial_grid_join": q_spatial_grid_join,
    "corpus_perplexity_buckets": q_corpus_perplexity_buckets,
    "ml_naive_bayes_score": q_ml_naive_bayes_score,
}

ORACLES = {
    "join_tfidf_cosine": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                          x -> x <> '')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks GROUP BY doc_id, term
        ), df_t AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), w AS (
            SELECT tf.doc_id, tf.term,
                   CAST(round(tf.tf * ln(CAST(n.n AS DOUBLE)
                        / CAST(df_t.df AS DOUBLE)) * 1000.0) AS BIGINT) AS w
            FROM tf
            JOIN df_t ON tf.term = df_t.term
            CROSS JOIN (SELECT count(*) AS n FROM documents) n
            WHERE df_t.df * {_TFIDF_MAX_DF_FRAC} <= n.n
              AND df_t.df <= {_TFIDF_MAX_DF_ABS}
        ), norms AS (
            SELECT doc_id,
                   sqrt(CAST(SUM(CAST(w AS DECIMAL(19,0))
                        * CAST(w AS DECIMAL(19,0))) AS DOUBLE)) AS nrm
            FROM w GROUP BY doc_id
        ), dots AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   SUM(CAST(a.w AS DECIMAL(19,0))
                       * CAST(b.w AS DECIMAL(19,0))) AS dot
            FROM w a JOIN w b
              ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cosine
        FROM dots
        JOIN norms na ON dots.id_a = na.doc_id
        JOIN norms nb ON dots.id_b = nb.doc_id
        WHERE round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6)
              >= {_TFIDF_COS_TAU}
    """,
    "dedup_sorted_neighborhood": f"""
        WITH d AS (
            SELECT doc_id, lower(substr(text, 1, {_SIM_HEAD})) AS head
            FROM documents
        ), numbered AS (
            SELECT doc_id, head,
                   row_number() OVER (ORDER BY head, doc_id) AS rn
            FROM d
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               b.rn - a.rn AS neighbor_offset,
               CAST(levenshtein(a.head, b.head) AS BIGINT) AS lev_head
        FROM numbered a JOIN numbered b
          ON b.rn - a.rn BETWEEN 1 AND {_SN_WINDOW - 1}
        WHERE levenshtein(a.head, b.head) <= {_SN_TAU}
    """,
    "join_string_sim": f"""
        WITH d AS (
            SELECT doc_id,
                   lower(substr(text, 1, {_SIM_HEAD})) AS head,
                   length(text) AS tlen
            FROM documents
        ), b AS (
            SELECT doc_id, head, tlen, substr(head, 1, {_SIM_BAND}) AS band
            FROM d
        )
        SELECT a.doc_id AS id_a, c.doc_id AS id_b,
               CAST(levenshtein(a.head, c.head) AS BIGINT) AS lev_head
        FROM b a JOIN b c
          ON a.band = c.band AND a.doc_id < c.doc_id
         AND abs(a.tlen - c.tlen) <= {_SIM_LEN_DIFF}
        WHERE levenshtein(a.head, c.head) <= {_SIM_TAU}
    """,
    "ml_knn_classify": f"""
        WITH em AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   label
            FROM embeddings
        ), queries AS (
            SELECT vec_id AS query_id, v AS qv FROM em
            WHERE vec_id < {_KNN_QUERIES}
        ), scored AS (
            SELECT q.query_id, t.vec_id, t.label,
                   list_sum(list_transform(list_zip(t.v, q.qv),
                       p -> CAST(round((p[1] - p[2]) * (p[1] - p[2]) * 1e9)
                                 AS BIGINT))) AS dist_u
            FROM em t CROSS JOIN queries q
            WHERE t.vec_id >= {_KNN_QUERIES}
        ), neigh AS (
            SELECT query_id, label
            FROM scored
            QUALIFY row_number() OVER (PARTITION BY query_id
                        ORDER BY dist_u ASC, vec_id ASC) <= {_KNN_K}
        ), votes AS (
            SELECT query_id, label, COUNT(*) AS votes
            FROM neigh GROUP BY query_id, label
        )
        SELECT query_id,
               CAST(label AS BIGINT) AS pred_label,
               CAST(votes AS BIGINT) AS votes
        FROM votes
        QUALIFY row_number() OVER (PARTITION BY query_id
                    ORDER BY votes DESC, label ASC) = 1
    """,
    "spatial_grid_join": f"""
        WITH pts AS (
            SELECT vec_id,
                   CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)
                       AS xi,
                   CAST(round(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT)
                       AS yi
            FROM embeddings
        ), cells AS (
            SELECT vec_id, xi, yi,
                   CAST(floor(CAST(xi AS DOUBLE) / {float(_EPS_U)})
                        AS BIGINT) AS cx,
                   CAST(floor(CAST(yi AS DOUBLE) / {float(_EPS_U)})
                        AS BIGINT) AS cy
            FROM pts
        ), offsets AS (
            SELECT dx.x AS dx, dy.x AS dy
            FROM (VALUES (-1), (0), (1)) dx(x),
                 (VALUES (-1), (0), (1)) dy(x)
        ), probes AS (
            SELECT c.vec_id AS id_a, c.xi AS xa, c.yi AS ya,
                   c.cx + o.dx AS pcx, c.cy + o.dy AS pcy
            FROM cells c CROSS JOIN offsets o
        )
        SELECT p.id_a, b.vec_id AS id_b,
               CAST((p.xa - b.xi) * (p.xa - b.xi)
                    + (p.ya - b.yi) * (p.ya - b.yi) AS BIGINT) AS dist2_u
        FROM probes p JOIN cells b
          ON p.pcx = b.cx AND p.pcy = b.cy AND p.id_a < b.vec_id
        WHERE (p.xa - b.xi) * (p.xa - b.xi)
              + (p.ya - b.yi) * (p.ya - b.yi) <= {_EPS_U * _EPS_U}
    """,
    "corpus_perplexity_buckets": """
        WITH toks AS (
            SELECT doc_id, lang,
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
        ),
        scores AS (
            SELECT doc_id,
                   CAST(sum(lp_micro) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS avg_lp
            FROM lp GROUP BY doc_id
        )
        SELECT t.lang, s.doc_id,
               s.avg_lp / 1e6 AS avg_logprob,
               (['head', 'middle', 'tail'])[
                   ntile(3) OVER (PARTITION BY t.lang
                                  ORDER BY s.avg_lp DESC, s.doc_id ASC)]
                   AS bucket
        FROM scores s JOIN toks t ON s.doc_id = t.doc_id
    """,
    "ml_naive_bayes_score": """
        WITH toks AS (
            SELECT doc_id, source,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS term
            FROM documents
        ),
        class_term AS (
            SELECT source AS cls, term, count(*) AS cnt
            FROM toks GROUP BY source, term
        ),
        class_tot AS (
            SELECT cls, sum(cnt) AS tot FROM class_term GROUP BY cls
        ),
        vocab AS (SELECT count(DISTINCT term) AS vs FROM toks),
        n_docs AS (SELECT count(*) AS n FROM documents),
        priors AS (
            SELECT source AS cls,
                   CAST(round(ln(CAST(count(*) AS DOUBLE)
                                 / CAST((SELECT n FROM n_docs) AS DOUBLE))
                              * 1000000.0) AS BIGINT) AS prior_u
            FROM documents GROUP BY source
        ),
        classes AS (
            SELECT p.cls, p.prior_u, t.tot, v.vs
            FROM priors p JOIN class_tot t ON p.cls = t.cls CROSS JOIN vocab v
        ),
        doc_term AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks GROUP BY doc_id, term
        ),
        scored_terms AS (
            SELECT k.doc_id, c.cls, c.prior_u,
                   k.tf * CAST(round(ln((CAST(coalesce(m.cnt, 0) AS DOUBLE)
                                         + 1.0)
                                 / (CAST(c.tot AS DOUBLE)
                                    + CAST(c.vs AS DOUBLE)))
                              * 1000000.0) AS BIGINT) AS lp_u
            FROM doc_term k
            CROSS JOIN classes c
            LEFT JOIN class_term m ON m.cls = c.cls AND m.term = k.term
        ),
        doc_cls AS (
            SELECT doc_id, cls, prior_u + sum(lp_u) AS score_u
            FROM scored_terms GROUP BY doc_id, cls, prior_u
        )
        SELECT doc_id, cls AS pred_source,
               CAST(score_u AS BIGINT) AS score_u
        FROM doc_cls
        QUALIFY row_number() OVER (PARTITION BY doc_id
                    ORDER BY score_u DESC, cls ASC) = 1
    """,
}
