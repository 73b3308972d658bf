"""Corpus text-mining operators: per-document keyword extraction
(tf-idf-style) and corpus-level n-gram frequency — the term-statistics
passes an LLM-data pipeline runs for vocabulary construction, topic
screening, and boilerplate detection.

Exactness strategy: the classic tf*idf score needs ``ln()``, whose last-ulp
behavior differs between the JVM and DuckDB's libm, which would break the
driver's bit-exact hash compare on rank boundaries. The ranking here is the
equivalent *integer* ordering (tf DESC, df ASC, term ASC): for a fixed
document, tf*ln((N+1)/(df+1)) is monotone in (tf, -df), so the top-k set is
a valid tf-idf keyword set while staying engine-exact. The raw (tf, df)
integers are returned so a caller can compute any idf weighting downstream.

Scale notes: token explode is a flatMap (no shuffle); the (doc, term) tf
aggregation and the term df aggregation are single hash-agg shuffles; df is
term-cardinality (vocabulary) sized, orders of magnitude smaller than the
corpus, so the df join broadcasts at any realistic vocabulary size — at
100 TB you'd cap it with a min-df filter, same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.ops import (
    attach_broadcast,
    local_materializer,
)

from aind_data_transformation_spark.io.sources import load_table

_TOKENS = "split(lower(text), ' ')"


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document ranked by (tf DESC, df ASC, term ASC) —
    the integer-exact tf-idf ordering (module docstring). Returns
    (doc_id, term, tf, df, rank)."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("term")
    ).where(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = terms.distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    # No forced broadcast of the document-frequency side: at 100 TB the
    # distinct-token table is heavy-tailed and GB-scale, and a mandatory
    # broadcast OOMs the driver. A plain equi-join on term lets AQE
    # broadcast only when the vocab actually fits the threshold.
    return (
        tf.join(df_, "term")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
    )


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams with occurrence counts (ties broken
    by gram text). The bigram construction is a zip of the token array with
    its own tail via ``transform`` — array-local, no shuffle; the count is
    one hash aggregation; the global top-20 is a TakeOrdered (no full
    sort)."""
    d = load_table(spark, sf_dir, "documents")
    # materialize the token array once: referencing the split expression
    # inside transform/element_at/size would re-tokenize per reference
    toks = d.select(F.expr(_TOKENS).alias("toks")).where(F.size("toks") >= 2)
    grams = (
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat_ws(' ', element_at(toks, i),"
        " element_at(toks, i + 1)))"
    )
    return (
        toks.select(F.explode(F.expr(grams)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram").asc())
        .limit(20)
    )


def q_ngram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 bigrams by pointwise mutual information,
    PMI(x,y) = ln( (c_xy / M) / ((c_x / N) * (c_y / N)) ) computed as
    ``ln((c_xy * N * N) / (M * c_x * c_y))`` over exact integer counts
    (c_xy bigram count, c_x/c_y unigram counts, N/M corpus totals), the
    double division formed with identical operand order in both engines
    and 1e6-scaled to BIGINT (module docstring playbook: one
    transcendental, then integers). A min-support filter (c_xy >= 5)
    keeps the rare-pair noise PMI is notorious for out of the ranking.

    Scale: bigram construction is array-local; both count aggregations
    are single hash-agg shuffles; the unigram side is vocabulary-sized,
    so the two c_x/c_y joins are plain equi-joins AQE will broadcast when
    they fit (same reasoning as tfidf_keywords); totals are one broadcast
    row."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.expr(_TOKENS).alias("toks")).where(F.size("toks") >= 2)
    # the unigram table feeds THREE consumers (totals + the c_x and c_y
    # joins) and the bigram table two (totals + scoring); without
    # staging, every consumer re-ran the corpus tokenize+explode+groupBy
    # (5 documents scans in the before plan). Both frames are
    # vocabulary-sized — the natural persisted artifacts of a
    # collocation pass.
    uni = local_materializer(
        toks.select(F.explode("toks").alias("t"))
        .where(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        "pmi_unigrams",
    )
    pairs_expr = (
        "transform(sequence(1, size(toks) - 1),"
        " i -> struct(element_at(toks, i) AS x, element_at(toks, i + 1) AS y))"
    )
    bi = local_materializer(
        toks.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.x", "p.y")
        .where((F.col("x") != "") & (F.col("y") != ""))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy")),
        "pmi_bigrams",
    )
    totals = attach_broadcast(
        uni.agg(F.sum("c").cast("long").alias("n_uni")),
        bi.agg(F.sum("c_xy").cast("long").alias("n_bi")),
    )
    scored = (
        bi.where(F.col("c_xy") >= 5)
        .join(uni.select(F.col("t").alias("x"), F.col("c").alias("c_x")), "x")
        .join(uni.select(F.col("t").alias("y"), F.col("c").alias("c_y")), "y")
        .transform(attach_broadcast, F.broadcast(totals))
        .withColumn(
            "pmi_u6",
            F.expr(
                "CAST(round(1e6 * ln((CAST(c_xy AS DOUBLE) * n_uni * n_uni)"
                " / (CAST(n_bi AS DOUBLE) * c_x * c_y))) AS BIGINT)"
            ),
        )
    )
    return (
        scored.select("x", "y", "c_xy", "c_x", "c_y", "pmi_u6")
        .orderBy(F.col("pmi_u6").desc(), F.col("x").asc(), F.col("y").asc())
        .limit(20)
    )


def q_corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the IR-side product of a corpus
    build: per term, document frequency, total term frequency, and the
    sorted postings list of doc_ids. One explode + one hash aggregation
    on the term key; the distinct-doc set per term is collected and
    sorted array-locally, so determinism never depends on shuffle order.

    Scale: the term key is the natural shard key (this IS the sharded
    inverted index layout); hot stop-word terms produce long postings —
    the production layout splits those rows into fixed-size posting
    blocks (term, block_no, postings), which is the same plan plus one
    array-chunking projection."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(F.expr(_TOKENS)).alias("term"),
    ).where(F.col("term") != "")
    return terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("total_tf"),
        F.sort_array(F.collect_set("doc_id")).alias("postings"),
    )


_RAKE_STOP = (
    "a an and are as at be but by for from has have he her his i in is it "
    "its not of on or she that the their they this to was we were will with "
    "you"
).split()
_RAKE_K = 30


def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each word scores deg/freq where
    freq counts its occurrences and deg sums the lengths of the phrases
    it appears in (co-occurrence degree, python-rake's Σ(len−1)+freq);
    a phrase scores the sum of its word scores. Top 30 phrases
    corpus-wide — the classic unsupervised keyword miner, fully
    relational (no NLP library).

    Phrase segmentation is the gaps-islands trick: non-stopword tokens
    keep their document position, and ``pos − row_number()`` is constant
    exactly within a maximal run. Word scores integer-round to a 1e-6
    grid BEFORE the per-phrase sum (order-free exactness doctrine).

    Scale: token explode is linear; phrase assembly windows partition by
    high-cardinality doc_id; word stats are one hash agg on the
    vocabulary; the final rank is TakeOrdered-30."""
    stop_sql = ", ".join(f"'{w}'" for w in _RAKE_STOP)
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("pos", "tok"),
    ).where(F.expr(f"tok NOT IN ({stop_sql})"))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    runs = toks.withColumn(
        "island", F.col("pos") - F.row_number().over(w_doc)
    )
    w_run = Window.partitionBy("doc_id", "island")
    occ = runs.withColumn(
        "plen", F.count(F.lit(1)).over(w_run)
    )
    words = occ.groupBy("tok").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("deg"),
    ).select(
        "tok",
        F.expr(
            "CAST(round(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)"
            " * 1000000.0D) AS BIGINT)"
        ).alias("wscore_u"),
    )
    phrases = (
        occ.join(words, "tok")
        .groupBy("doc_id", "island")
        .agg(
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(pos, tok))), x -> x.tok), ' ')"
            ).alias("phrase"),
            F.sum("wscore_u").alias("score_u"),
        )
    )
    return (
        phrases.groupBy("phrase", "score_u")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .select(
            "phrase",
            (F.col("score_u").cast("double") / 1e6).alias("rake_score"),
            "n_occurrences",
        )
        .orderBy(F.col("score_u").desc(), F.col("phrase").asc())
        .limit(_RAKE_K)
    )


_CHI2_TOPK = 5


def q_ml_chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: the top-5 most label-discriminative
    terms per language by the 2x2 presence/label chi2 statistic — the
    classic supervised vocabulary pruner (Manning/Schutze IR ch.13) run
    before training text classifiers at corpus scale. Only observed
    (term, lang) presence pairs are ranked (a term absent from a class
    is evidence AGAINST it, but selection wants positively
    characteristic features).

    Contingency per (term, lang): n11 = docs of the lang containing the
    term; margins from the term's total df (term-keyed agg), the lang's
    doc count (k-row attach), and N (1-row attach) — so the whole grid
    derives from three hash aggs and two broadcast attaches, shuffling
    only on the term key. At 100 TB that is one doc-term distinct + two
    tiny joins: the canonical shape.

    Exactness: the numerator N*(n11*n00 - n10*n01)^2 reaches ~N^5 and is
    accumulated in decimal(38,0); chi2 closes in one identical double
    tree and is 1e-6-integer-gridded before the rank window, ties to the
    lexicographically smaller term."""
    d = load_table(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("array_distinct(filter(split(lower(text), ' '),"
                   " x -> x <> ''))")
        ).alias("term"),
    )
    # the (term, lang) presence table feeds both the term-df rollup and
    # the contingency join; staged once so the distinct-term explode
    # runs once, not twice (4 documents scans in the before plan).
    tl = local_materializer(
        dt.groupBy("term", "lang").agg(F.count(F.lit(1)).alias("n11")),
        "chi2_term_lang",
    )
    tdf = tl.groupBy("term").agg(F.sum("n11").alias("n1x"))
    ldf = d.groupBy("lang").agg(F.count(F.lit(1)).alias("nx1"))
    ntot = d.agg(F.count(F.lit(1)).alias("n"))
    g = attach_broadcast(
        tl.join(tdf, "term").join(F.broadcast(ldf), "lang"), ntot
    )
    chi2_u = F.expr(
        """CAST(round(
             CAST(n AS DOUBLE)
             * CAST(CAST(n11 AS DECIMAL(38,0)) * (n - n1x - nx1 + n11)
                    - CAST(n1x - n11 AS DECIMAL(38,0)) * (nx1 - n11)
                    AS DOUBLE)
             * CAST(CAST(n11 AS DECIMAL(38,0)) * (n - n1x - nx1 + n11)
                    - CAST(n1x - n11 AS DECIMAL(38,0)) * (nx1 - n11)
                    AS DOUBLE)
             / CAST(n1x AS DOUBLE) / CAST(n - n1x AS DOUBLE)
             / CAST(nx1 AS DOUBLE) / CAST(n - nx1 AS DOUBLE)
             * 1e6) AS BIGINT)"""
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("chi2_u").desc(), F.col("term").asc()
    )
    return (
        g.select("lang", "term", "n11", chi2_u.alias("chi2_u"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= _CHI2_TOPK)
    )


QUERIES = {
    "text_rake_keywords": q_text_rake_keywords,
    "corpus_inverted_index": q_corpus_inverted_index,
    "tfidf_keywords": q_tfidf_keywords,
    "ml_chi2_feature_selection": q_ml_chi2_feature_selection,
    "ngram_topk": q_ngram_topk,
    "ngram_pmi": q_ngram_pmi,
}

ORACLES = {
    "text_rake_keywords": f"""
        WITH lists AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS l
            FROM documents
        ), raw AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(l))) - 1 AS pos,
                   unnest(l) AS tok
            FROM lists
        ), toks AS (
            SELECT doc_id, pos, tok FROM raw
            WHERE tok NOT IN ({", ".join(f"'{w}'" for w in _RAKE_STOP)})
        ), runs AS (
            SELECT doc_id, pos, tok,
                   pos - row_number() OVER (PARTITION BY doc_id
                        ORDER BY pos) AS island
            FROM toks
        ), occ AS (
            SELECT *, count(*) OVER (PARTITION BY doc_id, island) AS plen
            FROM runs
        ), words AS (
            SELECT tok,
                   CAST(round(CAST(SUM(plen) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE) * 1000000.0)
                        AS BIGINT) AS wscore_u
            FROM occ GROUP BY tok
        ), phrases AS (
            SELECT o.doc_id, o.island,
                   string_agg(o.tok, ' ' ORDER BY o.pos) AS phrase,
                   SUM(w.wscore_u) AS score_u
            FROM occ o JOIN words w ON o.tok = w.tok
            GROUP BY o.doc_id, o.island
        )
        SELECT phrase,
               CAST(score_u AS DOUBLE) / 1e6 AS rake_score,
               count(*) AS n_occurrences
        FROM phrases
        GROUP BY phrase, score_u
        ORDER BY score_u DESC, phrase ASC LIMIT {_RAKE_K}
    """,
    "corpus_inverted_index": """
        WITH terms AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ), t AS (SELECT * FROM terms WHERE term <> '')
        SELECT term,
               count(DISTINCT doc_id) AS df,
               count(*) AS total_tf,
               list_sort(list(DISTINCT doc_id)) AS postings
        FROM t
        GROUP BY term
    """,
    "ml_chi2_feature_selection": f"""
        WITH dt AS (
            SELECT DISTINCT doc_id, lang, t.term
            FROM documents,
                 unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS t(term)
        ), tl AS (
            SELECT term, lang, count(*) AS n11 FROM dt GROUP BY 1, 2
        ), tdf AS (
            SELECT term, SUM(n11) AS n1x FROM tl GROUP BY term
        ), ldf AS (
            SELECT lang, count(*) AS nx1 FROM documents GROUP BY lang
        ), ntot AS (
            SELECT count(*) AS n FROM documents
        ), g AS (
            SELECT tl.term, tl.lang, tl.n11, tdf.n1x, ldf.nx1, ntot.n
            FROM tl JOIN tdf USING (term) JOIN ldf USING (lang)
            CROSS JOIN ntot
        ), scored AS (
            SELECT lang, term, CAST(n11 AS BIGINT) AS n11,
                   CAST(round(
                     CAST(n AS DOUBLE)
                     * CAST(CAST(n11 AS DECIMAL(38,0)) * (n - n1x - nx1 + n11)
                            - CAST(n1x - n11 AS DECIMAL(38,0)) * (nx1 - n11)
                            AS DOUBLE)
                     * CAST(CAST(n11 AS DECIMAL(38,0)) * (n - n1x - nx1 + n11)
                            - CAST(n1x - n11 AS DECIMAL(38,0)) * (nx1 - n11)
                            AS DOUBLE)
                     / CAST(n1x AS DOUBLE) / CAST(n - n1x AS DOUBLE)
                     / CAST(nx1 AS DOUBLE) / CAST(n - nx1 AS DOUBLE)
                     * 1e6) AS BIGINT) AS chi2_u
            FROM g
        )
        SELECT lang, term, n11, chi2_u,
               CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY chi2_u DESC, term ASC) AS BIGINT) AS rk
        FROM scored
        QUALIFY rk <= {_CHI2_TOPK}
    """,
    "tfidf_keywords": """
        WITH terms AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ), nonempty AS (
            SELECT doc_id, term FROM terms WHERE term <> ''
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM nonempty GROUP BY doc_id, term
        ), df AS (
            SELECT term, COUNT(*) AS df
            FROM (SELECT DISTINCT doc_id, term FROM nonempty)
            GROUP BY term
        )
        SELECT doc_id, term, tf, df, rank FROM (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, df.df ASC, tf.term ASC
                   ) AS BIGINT) AS rank
            FROM tf JOIN df ON tf.term = df.term
        ) WHERE rank <= 3
    """,
    "ngram_pmi": """
        WITH toks AS (
            SELECT string_split(lower(text), ' ') AS t FROM documents
            WHERE len(string_split(lower(text), ' ')) >= 2
        ), uni AS (
            SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(t) AS t FROM toks) WHERE t <> ''
            GROUP BY t
        ), bi AS (
            SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c_xy
            FROM (
                SELECT unnest(list_transform(range(1, len(t)),
                           i -> struct_pack(x := t[i], y := t[i + 1]))
                       , recursive := true)
                FROM toks
            ) WHERE x <> '' AND y <> ''
            GROUP BY x, y
        ), totals AS (
            SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n_uni,
                   (SELECT CAST(SUM(c_xy) AS BIGINT) FROM bi) AS n_bi
        )
        SELECT x, y, c_xy, c_x, c_y, pmi_u6 FROM (
            SELECT b.x, b.y, b.c_xy,
                   ux.c AS c_x, uy.c AS c_y,
                   CAST(round(1e6 * ln((CAST(b.c_xy AS DOUBLE) * t.n_uni * t.n_uni)
                        / (CAST(t.n_bi AS DOUBLE) * ux.c * uy.c))) AS BIGINT)
                       AS pmi_u6
            FROM bi b
            JOIN uni ux ON b.x = ux.term
            JOIN uni uy ON b.y = uy.term
            CROSS JOIN totals t
            WHERE b.c_xy >= 5
        )
        ORDER BY pmi_u6 DESC, x ASC, y ASC
        LIMIT 20
    """,
    "ngram_topk": """
        WITH toks AS (
            SELECT string_split(lower(text), ' ') AS t FROM documents
        ), grams AS (
            SELECT unnest(list_transform(
                       range(1, len(t)),
                       i -> t[i] || ' ' || t[i + 1]
                   )) AS gram
            FROM toks WHERE len(t) >= 2
        )
        SELECT gram, COUNT(*) AS n
        FROM grams GROUP BY gram
        ORDER BY n DESC, gram ASC
        LIMIT 20
    """,
}
