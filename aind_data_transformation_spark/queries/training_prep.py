"""Training-data preparation operators, batch 2: sessionization, quality
scoring (entropy / unigram log-prob), BM25 relevance, duplicated-span
detection, edit distance, and exact higher-moment statistics.

These extend the LLM-pipeline surface (SURVEY.md §2 Part C) with the
passes a 100-TB corpus build runs between raw ingest and tokenization:

- ``sessionize_gap``     — gap-based session assignment over the event log
- ``rank_bm25``          — BM25 keyword relevance over ``documents``
- ``text_entropy``       — per-document character-entropy quality score
- ``text_unigram_logprob`` — corpus-unigram log-probability score (the
                           KenLM-style "perplexity proxy" quality filter)
- ``dedup_substring_spans`` — token 8-gram spans repeated across documents
                           (the substring-level view of duplication, after
                           Lee et al. 2021, "Deduplicating Training Data")
- ``dedup_substring_scrub`` — removes those repeated spans (earliest doc
                           keeps the text; later copies rebuilt without it)
- ``corpus_shuffle_shard`` — deterministic global-shuffle shard manifest
- ``fn_levenshtein``     — edit-distance scalar over a fixed dimension
- ``agg_skew_kurt``      — exact skewness/kurtosis from integer moments

Cross-engine exactness strategy (same playbook as
``queries/behavior.py::q_anomaly_zscore`` and ``queries/text_mining.py``):

1. Aggregate in **exact integers** (token/char counts, cents, int128-safe
   decimal power sums) so accumulation order cannot matter.
2. Where a transcendental (``ln``/``log2``) is unavoidable, scale the term
   to a ``BIGINT`` with ``round(x * 1e6)`` *before* any further summation:
   the two engines' libm may differ in the last ulp (~1e-16 relative),
   which cannot flip a rounding at the 1e-6 grid except on an exact
   boundary, and the subsequent integer sums are order-independent.
3. Where only +,-,*,/ and sqrt are needed (``agg_skew_kurt``), keep raw
   doubles: those operators are IEEE-exact-rounded, so identical operand
   order gives bit-identical results in both engines.

Scale notes are given per operator; none of them materializes a cross
product, collects to the driver, or broadcasts an unbounded side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.ops import (
    attach_broadcast,
    knuth32,
    knuth32_sql,
    local_materializer,
)

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.texthash import (
    token_grams,
    token_grams_expr,
)

#: session gap threshold, microseconds (30 minutes)
_GAP_US = 30 * 60 * 1_000_000

_TOKS_SPARK = "split(lower(text), ' ')"
_TOKS_DUCK = "string_split(lower(text), ' ')"


def q_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event log: a new session starts when
    a user is idle for more than 30 minutes. Exact-microsecond arithmetic
    (``unix_micros`` / ``epoch_us``) — no truncation ambiguity between
    engines. One window shuffle on user_id (lag + running sum share the
    same sort), then a hash aggregation per (user, session).

    Scale: state per user is O(1); the window partitions on user_id, the
    natural high-cardinality key, so no skew beyond per-user activity."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(w)
    is_new = F.when(
        prev.isNull() | ((F.col("us") - prev) > _GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = e.withColumn("session_idx", F.sum(is_new).over(cum).cast("long"))
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


def q_rank_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) relevance of every document against three
    query terms, top-10 per term. The score is returned as a 1e6-scaled
    BIGINT (module docstring, rule 2) so the per-term ranking is performed
    on integers and is stable across engines.

    Scale: term filter *before* the tf aggregation keeps the scored side
    at (matching docs × |query terms|); df is |query terms| rows and the
    corpus stats are one row — both broadcast. The only corpus-sized pass
    is the token explode feeding tf/dl."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_TOKS_SPARK).alias("toks")
    )
    # the per-doc length frame feeds the corpus stats AND the scoring
    # join; staged once so the corpus tokenize runs for it once, not
    # once per consumer (4 documents scans in the before plan).
    dl = local_materializer(
        d.select("doc_id", F.size("toks").cast("long").alias("dl")),
        "bm25_doclens",
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    terms = d.select("doc_id", F.explode("toks").alias("term")).where(
        F.col("term").isin("table", "query", "stream")
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_t = tf.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .transform(attach_broadcast, F.broadcast(stats))
        .withColumn(
            "score_u6",
            F.expr(
                "CAST(round(1e6 * (ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
                " * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))"
                " AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("score_u6").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .select("term", "rank", "doc_id", "tf", "score_u6")
    )


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap "is this
    natural text or noise/boilerplate" quality score. Per-char counts are
    exact; each count's ``c*log2(c)`` term is 1e6-scaled to BIGINT before
    the order-independent integer sum (module docstring, rule 2).

    Scale: explode is a flatMap; the (doc, char) aggregation keys are
    bounded by |alphabet| per doc, so the shuffle is ~|alphabet| × docs
    rows — smaller than the input text."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .where(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.expr("CAST(round(c * log2(c) * 1e6) AS BIGINT)"))
        .cast("long")
        .alias("s"),
    )
    return agg.select(
        "doc_id",
        F.col("n").alias("n_chars_seen"),
        F.expr("CAST(round((log2(n) - s / 1e6 / n) * 1e6) AS BIGINT)").alias(
            "entropy_u6"
        ),
    )


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram average log-probability per document — the standard
    "perplexity proxy" quality filter: documents whose tokens are globally
    rare (or whose distribution diverges from the corpus) score low. The
    per-term ``tf * ln(p)`` contribution is 1e6-scaled to BIGINT before the
    per-document sum (module docstring, rule 2).

    Scale: vocabulary is heavy-tailed but orders of magnitude smaller than
    the corpus; the vocab join is a plain equi-join on term — AQE
    broadcasts it only if it fits (same reasoning as tfidf_keywords)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("term")
    ).where(F.col("term") != "")
    tf = d.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # r12 measured note: staging the vocabulary (the total re-runs the
    # corpus explode) was REJECTED on paired evidence (1.21×) — barrier
    # > saved pass at bench scale.
    vocab = d.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("long").alias("t_total"))
    per_term = (
        tf.join(vocab, "term")
        .transform(attach_broadcast, F.broadcast(total))
        .withColumn(
            "u", F.expr("CAST(round(tf * ln(cnt / t_total) * 1e6) AS BIGINT)")
        )
    )
    return per_term.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.expr("CAST(round(CAST(sum(u) AS DOUBLE) / CAST(sum(tf) AS DOUBLE)) AS BIGINT)").alias(
            "avg_logp_u6"
        ),
    )


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication profile: for each document, the fraction
    of its token 8-gram windows that also occur in at least one *other*
    document (the signal substring-dedup passes act on — Lee et al. 2021
    remove such spans rather than whole documents). Returns per-doc window
    count, duplicated-window count, and a 1e6-scaled duplicate fraction.

    Scale: windows explode is a flatMap (≈ tokens-per-doc rows each); the
    gram document-frequency aggregation is one hash shuffle keyed on the
    gram (at 100 TB you would key on xxhash64(gram) to shrink shuffle
    width; the string key is kept here for oracle parity), and the
    flag-back join is gram-keyed equi-join — never all-pairs."""
    g = token_grams(
        load_table(spark, sf_dir, "documents"), ["doc_id"], _TOKS_SPARK
    )
    # "occurs in >= 2 distinct docs" == min(doc_id) != max(doc_id): two
    # map-side-combinable extrema instead of a count-distinct expansion.
    dup = (
        g.groupBy("gram")
        .agg(F.min("doc_id").alias("d_lo"), F.max("doc_id").alias("d_hi"))
        .where(F.col("d_lo") != F.col("d_hi"))
        .select("gram")
        .withColumn("is_dup", F.lit(1))
    )
    flagged = g.join(dup, "gram", "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("long").alias("n_dup"),
        F.expr(
            "CAST(round(1e6 * sum(coalesce(is_dup, 0)) / count(1)) AS BIGINT)"
        ).alias("dup_frac_u6"),
    )


def q_dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup that actually REMOVES repeated spans (the
    action to ``dedup_substring_spans``'s signal, after Lee et al. 2021):
    a token 8-gram window is *foreign-duplicated* in doc d if the same
    gram occurs in an earlier document (owner = min doc_id); every token
    position covered by a foreign-duplicated window is dropped and the
    document is rebuilt from the surviving tokens in order. The earliest
    document keeps its text; later copies lose the repeated span.
    Documents under 8 tokens pass through untouched.

    Returns (doc_id, n_tokens, n_removed, scrubbed_md5) — md5 because
    both engines produce identical digests, giving an exact cross-engine
    proof of the rebuilt string without hauling full texts through the
    compare.

    Scale: windows and positions are flatMaps; ownership is one gram-
    keyed aggregation; coverage expansion is bounded by 8× the
    foreign-dup window count; the rebuild is a per-doc sorted
    collect_list — all equi-joins and hash aggregations, no cross
    product."""
    # tokenize ONCE (r12 optimization): the tokenized frame feeds four
    # differently-keyed consumers (gram stream twice — ownership agg +
    # foreign probe —, the token-position stream, and the final rebuild
    # join whose n_tokens needs size(toks)), so nothing shares an
    # exchange and the split previously re-ran per reference. Stage-
    # materialized via ops.local_materializer (cluster swap: the
    # parquet stage writer) — one text scan + split, explodes run over
    # the stored arrays.
    d = local_materializer(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", F.expr(_TOKS_SPARK).alias("toks"))
        .withColumn("n_tokens", F.size("toks").cast("long")),
        "substring_scrub_toks",
    )
    big = d.where(F.col("n_tokens") >= 8)
    g = big.select(
        "doc_id",
        F.posexplode(F.expr(token_grams_expr("toks"))).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), "gram")
    owner = g.groupBy("gram").agg(F.min("doc_id").alias("owner"))
    foreign = g.join(owner, "gram").where(F.col("owner") < F.col("doc_id"))
    # no .distinct(): left_anti tolerates duplicate probe rows, so the
    # coverage expansion needs no dedup shuffle of its own
    covered = foreign.select(
        "doc_id", F.explode(F.expr("sequence(i, i + 7)")).alias("pos")
    )
    tokpos = big.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tokpos.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list("
            "struct(pos, tok))), s -> s.tok))"
        ).alias("scrubbed"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    return (
        d.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.when(F.col("n_tokens") < 8, F.lit(0))
            .otherwise(F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.md5(
                F.when(F.col("n_tokens") < 8, F.col("text")).otherwise(
                    F.coalesce(F.col("scrubbed"), F.lit(""))
                )
            ).alias("scrubbed_md5"),
        )
    )


def q_corpus_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training: every document gets a
    pseudorandom but reproducible shuffle key (Knuth multiplicative hash,
    ``(doc_id * 2654435761) % 2^32``) and is assigned to one of 16 output
    shards by key range — the pre-tokenization randomization pass that
    breaks source/time ordering. Returns the per-shard manifest (count,
    key range, id checksum) proving balance and determinism.

    The hash is emitted through ``ops.knuth32`` (16-bit limb fold), so
    it stays exact AND overflow-safe under ANSI mode at any int64 id
    space — no wrap-around, no ARITHMETIC_OVERFLOW past doc_id ~3.5e9.
    Scale: one projection + one 16-group aggregation, map-side combinable;
    the real shuffle write is ``repartitionByRange(shuffle_key)`` into the
    sink, which this manifest validates."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    key = knuth32(F.col("doc_id"))
    sharded = d.select(
        "doc_id",
        key.alias("shuffle_key"),
        (key % 16).cast("long").alias("shard"),
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("shuffle_key").alias("key_lo"),
        F.max("shuffle_key").alias("key_hi"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


def q_fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance scalar family over the nation dimension: all unordered
    name pairs within Levenshtein distance 8 — the fuzzy-matching primitive
    entity-resolution pipelines use for candidate verification. The pair
    space is dimension-sized (25×25), constant in the fact scale."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    a = n.select(
        F.col("n_nationkey").alias("key_a"), F.col("n_name").alias("name_a")
    )
    b = n.select(
        F.col("n_nationkey").alias("key_b"), F.col("n_name").alias("name_b")
    )
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
        )
        .where(F.col("dist") <= 8)
    )


def q_agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population skewness and excess kurtosis per event type, from
    integer power sums in cents: c ≤ ~5.7e4 so c² fits a BIGINT and c³/c⁴
    are computed as decimal(19,0)×decimal(19,0) products (exact up to
    1e38). The final moments use only +,-,*,/ and sqrt (IEEE-exact), but
    the sums exceed 2^53 so the wide-int→double conversion itself can
    differ by ulps between engines — hence the 6-decimal rounding of the
    two statistics. One map-side-combinable aggregation; the oracle
    accumulates the same sums in int128."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    c = F.round(F.col("value") * 100).cast("long")
    c19 = c.cast("decimal(19,0)")
    c2 = c * c
    c2_19 = c2.cast("decimal(19,0)")
    sums = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c.cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(c2.cast("decimal(38,0)")).cast("double").alias("s2"),
        F.sum(c2_19 * c19).cast("double").alias("s3"),
        F.sum(c2_19 * c2_19).cast("double").alias("s4"),
    )
    mom = sums.selectExpr(
        "event_type",
        "n",
        "s1 / n AS m",
        "s2 / n AS r2",
        "s3 / n AS r3",
        "s4 / n AS r4",
    )
    cm = mom.selectExpr(
        "event_type",
        "n",
        "r2 - m * m AS m2",
        "r3 - 3 * m * r2 + 2 * m * m * m AS m3",
        "r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m AS m4",
    )
    # round(…, 6): the power sums exceed 2^53, and the engines' wide-int →
    # double conversions can differ by a few ulps (DuckDB's int128 path
    # double-rounds), so the final statistics are reported at 6 decimals.
    return cm.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_events",
        "round(m3 / (m2 * sqrt(m2)), 6) AS skew",
        "round(m4 / (m2 * m2) - 3.0, 6) AS kurt",
    )




_CHUNK_W = 64  #: tokens per chunk (the model context-window unit)
_CHUNK_S = 48  #: stride — 16-token overlap between consecutive chunks


def q_text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking for context-window packing: each
    document is split on whitespace and emitted as overlapping
    ``_CHUNK_W``-token chunks starting every ``_CHUNK_S`` tokens (16-token
    overlap carries context across boundaries — the standard RAG /
    pretraining chunker). Chunk starts are ``sequence(0, n-1, stride)``
    so every document emits ≥1 chunk and the tail chunk may run short.

    Scale: pure per-row expression work — tokenize, explode the bounded
    start list, slice — NO shuffle anywhere in the plan; at 100 TB this
    is a map-only pass whose output lands straight in the downstream
    shard writer. No UDF: `slice`/`array_join` stay in codegen."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr("filter(split(text, ' '), x -> x <> '')").alias("toks"),
        )
        .where(F.size("toks") > 0)
    )
    return d.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(0, size(toks) - 1, {_CHUNK_S})")
        ).alias("p"),
        "toks",
    ).select(
        "doc_id",
        F.expr(f"CAST(p div {_CHUNK_S} AS BIGINT)").alias("chunk_id"),
        F.expr(f"CAST(size(slice(toks, p + 1, {_CHUNK_W})) AS BIGINT)").alias(
            "n_tokens"
        ),
        F.expr(f"array_join(slice(toks, p + 1, {_CHUNK_W}), ' ')").alias(
            "chunk_text"
        ),
    )


QUERIES = {
    "sessionize_gap": q_sessionize_gap,
    "rank_bm25": q_rank_bm25,
    "text_entropy": q_text_entropy,
    "text_unigram_logprob": q_text_unigram_logprob,
    "dedup_substring_spans": q_dedup_substring_spans,
    "dedup_substring_scrub": q_dedup_substring_scrub,
    "corpus_shuffle_shard": q_corpus_shuffle_shard,
    "fn_levenshtein": q_fn_levenshtein,
    "agg_skew_kurt": q_agg_skew_kurt,
    "text_chunk_sliding": q_text_chunk_sliding,
}

ORACLES = {
    "sessionize_gap": f"""
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        ), marked AS (
            SELECT user_id, us,
                   CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w > {_GAP_US}
                        THEN 1 ELSE 0 END AS is_new
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ), sess AS (
            SELECT user_id, us,
                   CAST(SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY us
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS session_idx
            FROM marked
        )
        SELECT user_id, session_idx,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MIN(us) AS BIGINT) AS start_us,
               CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
        FROM sess GROUP BY user_id, session_idx
    """,
    "rank_bm25": f"""
        WITH d AS (
            SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
        ), dl AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d
        ), stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
            FROM dl
        ), tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM d)
            WHERE term IN ('table', 'query', 'stream')
            GROUP BY doc_id, term
        ), df AS (
            SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM tf GROUP BY term
        ), scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   CAST(round(1e6 * (ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                        * (tf.tf * 2.2)
                        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))))
                        AS BIGINT) AS score_u6
            FROM tf
            JOIN df USING (term)
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN stats s
        )
        SELECT term, rank, doc_id, tf, score_u6 FROM (
            SELECT term, doc_id, tf, score_u6,
                   CAST(row_number() OVER (
                       PARTITION BY term ORDER BY score_u6 DESC, doc_id
                   ) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
    "text_entropy": """
        WITH cnt AS (
            SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
                  FROM documents)
            WHERE ch <> ''
            GROUP BY doc_id, ch
        ), agg AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CAST(round(c * log2(c) * 1e6) AS BIGINT))
                        AS BIGINT) AS s
            FROM cnt GROUP BY doc_id
        )
        SELECT doc_id, n AS n_chars_seen,
               CAST(round((log2(n) - s / 1e6 / n) * 1e6) AS BIGINT)
                   AS entropy_u6
        FROM agg
    """,
    "text_unigram_logprob": f"""
        WITH t AS (
            SELECT doc_id, term
            FROM (SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM documents)
            WHERE term <> ''
        ), tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM t GROUP BY doc_id, term
        ), vocab AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY term
        ), total AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS t_total FROM vocab
        ), per_term AS (
            SELECT tf.doc_id, tf.tf,
                   CAST(round(tf.tf * ln(v.cnt / tt.t_total) * 1e6) AS BIGINT)
                       AS u
            FROM tf JOIN vocab v USING (term) CROSS JOIN total tt
        )
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               CAST(round(CAST(SUM(u) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE))
                    AS BIGINT) AS avg_logp_u6
        FROM per_term GROUP BY doc_id
    """,
    "dedup_substring_spans": f"""
        WITH d AS (
            SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
            WHERE len({_TOKS_DUCK}) >= 8
        ), g AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks) - 6),
                       i -> array_to_string(list_slice(toks, i, i + 7), ' ')
                   )) AS gram
            FROM d
        ), dup AS (
            SELECT gram, 1 AS is_dup FROM g
            GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
        )
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(coalesce(dup.is_dup, 0)) AS BIGINT) AS n_dup,
               CAST(round(1e6 * SUM(coalesce(dup.is_dup, 0)) / COUNT(*))
                    AS BIGINT) AS dup_frac_u6
        FROM g LEFT JOIN dup USING (gram)
        GROUP BY g.doc_id
    """,
    "dedup_substring_scrub": f"""
        WITH d AS (
            SELECT doc_id, text, {_TOKS_DUCK} AS toks,
                   CAST(len({_TOKS_DUCK}) AS BIGINT) AS n_tokens
            FROM documents
        ), g AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(toks) - 7)) AS i,
                   unnest(list_transform(
                       generate_series(1, len(toks) - 7),
                       j -> array_to_string(list_slice(toks, j, j + 7), ' ')
                   )) AS gram
            FROM d WHERE n_tokens >= 8
        ), owner AS (
            SELECT gram, MIN(doc_id) AS owner FROM g GROUP BY gram
        ), covered AS (
            SELECT DISTINCT g.doc_id,
                   unnest(generate_series(g.i, g.i + 7)) AS pos
            FROM g JOIN owner USING (gram)
            WHERE owner.owner < g.doc_id
        ), tokpos AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(toks))) AS pos,
                   unnest(toks) AS tok
            FROM d WHERE n_tokens >= 8
        ), kept AS (
            SELECT t.doc_id, t.pos, t.tok
            FROM tokpos t
            LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
            WHERE c.pos IS NULL
        ), rebuilt AS (
            SELECT doc_id,
                   string_agg(tok, ' ' ORDER BY pos) AS scrubbed,
                   CAST(COUNT(*) AS BIGINT) AS n_kept
            FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id, d.n_tokens,
               CASE WHEN d.n_tokens < 8 THEN 0
                    ELSE d.n_tokens - coalesce(r.n_kept, 0)
               END AS n_removed,
               md5(CASE WHEN d.n_tokens < 8 THEN d.text
                        ELSE coalesce(r.scrubbed, '') END) AS scrubbed_md5
        FROM d LEFT JOIN rebuilt r USING (doc_id)
    """,
    "corpus_shuffle_shard": f"""
        WITH sharded AS (
            SELECT doc_id,
                   {knuth32_sql("doc_id", "duck")} AS shuffle_key,
                   CAST(({knuth32_sql("doc_id", "duck")}) % 16 AS BIGINT)
                       AS shard
            FROM documents
        )
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(shuffle_key) AS BIGINT) AS key_lo,
               CAST(MAX(shuffle_key) AS BIGINT) AS key_hi,
               CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        FROM sharded GROUP BY shard
    """,
    "fn_levenshtein": """
        SELECT a.n_name AS name_a, b.n_name AS name_b,
               CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
        FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
        WHERE levenshtein(a.n_name, b.n_name) <= 8
    """,
    "agg_skew_kurt": """
        WITH sums AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(hc) AS DOUBLE) AS s1,
                   CAST(SUM(hc * hc) AS DOUBLE) AS s2,
                   CAST(SUM(hc * hc * hc) AS DOUBLE) AS s3,
                   CAST(SUM(hc * hc * hc * hc) AS DOUBLE) AS s4
            FROM (SELECT event_type,
                         CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                             AS hc
                  FROM events)
            GROUP BY event_type
        ), mom AS (
            SELECT event_type, n,
                   s1 / n AS m, s2 / n AS r2, s3 / n AS r3, s4 / n AS r4
            FROM sums
        ), cm AS (
            SELECT event_type, n,
                   r2 - m * m AS m2,
                   r3 - 3 * m * r2 + 2 * m * m * m AS m3,
                   r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m AS m4
            FROM mom
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n_events,
               round(m3 / (m2 * sqrt(m2)), 6) AS skew,
               round(m4 / (m2 * m2) - 3.0, 6) AS kurt
        FROM cm
    """,
"text_chunk_sliding": f"""
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), c AS (
            SELECT doc_id, toks,
                   unnest(range(0, len(toks), {_CHUNK_S})) AS p
            FROM d WHERE len(toks) > 0
        )
        SELECT doc_id,
               CAST(p // {_CHUNK_S} AS BIGINT) AS chunk_id,
               CAST(len(list_slice(toks, p + 1, p + {_CHUNK_W})) AS BIGINT)
                   AS n_tokens,
               array_to_string(list_slice(toks, p + 1, p + {_CHUNK_W}), ' ')
                   AS chunk_text
        FROM c
    """,
}
