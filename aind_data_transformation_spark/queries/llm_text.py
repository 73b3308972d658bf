"""LLM-data-pipeline text operators (BASELINE.json north star: dedup,
text analysis; SURVEY.md §2 Part B "LLM-data-pipeline operators").

Design rules:
* every hash/fingerprint uses *portable integer arithmetic* (no engine-
  specific hash function), so even the algorithmic operators are
  oracle-checkable — stronger than the rows-only contract SURVEY promised;
* everything is built-in column functions (split / higher-order lambdas /
  groupBy) — no Python in any of these paths, so the whole family stays in
  whole-stage codegen and scales linearly with executors;
* dedup keeps ``min(doc_id)`` per cluster — a deterministic survivor rule.

Portable token value: ``tokval(t) = length(t)*256 + ascii(first) +
ascii(last)*7`` — cheap, engine-agnostic, and position-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import local_materializer
from aind_data_transformation_spark.texthash import (
    TOKS_DUCK as _TOKS_DUCK,
    TOKS_SPARK as _TOKS_SPARK,
    candidate_tris_cte,
    lsh_candidate_pairs,
    minhash_from_shingles as _minhash_from_shingles,
    minhash_signatures,
    shingles_expr as _shingles_expr,
    tokval as _tokval,
    tokvals_expr as _tokvals_expr,
    trigram_set_expr,
    verified_near_dups,
    verified_pairs_sql,
)


# --- operators ------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on sha256(text): one hash-shuffle, min-doc_id survivor."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.sha2("text", 256).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics — all higher-order fns, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_toks = F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        F.col("n_chars"),
        n_toks.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double") / n_toks.cast("double")
        ).alias("type_token_ratio"),
        F.array_max(F.transform(toks, lambda t: F.length(t)))
        .cast("bigint")
        .alias("longest_token"),
        (
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / n_toks.cast("double")
        ).alias("avg_token_len"),
    )


def q_lang_filter_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language + quality gate: the standard pretraining-corpus filter
    shape (lang allowlist, length bounds, token-shape heuristics)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_toks = F.size(toks).cast("bigint")
    avg_len = (
        F.length(F.regexp_replace("text", " ", "")).cast("double")
        / n_toks.cast("double")
    )
    return (
        d.withColumn("n_tokens", n_toks)
        .withColumn("avg_token_len", avg_len)
        .where(
            F.col("lang").isin("en", "de", "fr")
            & F.col("n_chars").between(50, 5000)
            & (F.col("n_tokens") >= 10)
            & F.col("avg_token_len").between(2.0, 10.0)
        )
        .select("doc_id", "lang", "n_chars", "n_tokens", "avg_token_len")
    )


_STOPWORDS = {
    "en": ["the", "a", "fast", "small"],
    "es": ["data", "table", "row", "column"],
    "de": ["merge", "join", "sort", "filter"],
}


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: seed-list overlap scoring with a fixed
    priority argmax (en >= es >= de). Real corpora would use char n-gram
    profiles; the mechanics (portable scoring + deterministic argmax) are
    identical."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in _STOPWORDS.items()
    }
    predicted = (
        F.when(
            (scores["en"] >= scores["es"]) & (scores["en"] >= scores["de"]),
            F.lit("en"),
        )
        .when(scores["es"] >= scores["de"], F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return d.select(
        "doc_id",
        scores["en"].cast("bigint").alias("score_en"),
        scores["es"].cast("bigint").alias("score_es"),
        scores["de"].cast("bigint").alias("score_de"),
        predicted.alias("predicted_lang"),
    )


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score in [0,1]: length saturation + lexical
    diversity + stopword-pollution penalty. Pure row-level arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    the_ratio = (
        F.size(F.filter(toks, lambda t: t == F.lit("the"))).cast("double") / n
    )
    length_sat = F.least(F.lit(1.0), n / F.lit(50.0))
    return d.select(
        "doc_id",
        "lang",
        (
            F.lit(0.4) * length_sat
            + F.lit(0.3) * distinct_ratio
            + F.lit(0.3) * (F.lit(1.0) - the_ratio)
        ).alias("quality"),
    )


def q_text_tokens_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, regex word-ish tokens, and
    the chars/4 BPE-budget estimate (integer, exact)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count("text", F.lit(r"[a-z0-9]+")).cast("bigint").alias(
            "regex_tokens"
        ),
        ((F.col("n_chars") + 3) / 4).cast("bigint").alias("bpe_budget"),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters: per document the most-
    frequent-word fraction and the duplicate-bigram fraction, plus the
    resulting keep/drop decision (top word <= 30% of tokens AND < 20%
    repeated bigrams — the classic "boilerplate / keyword-stuffing" gate).

    Two shapes on purpose: the bigram metric is pure higher-order
    functions (zero shuffle, codegen'd, embarrassingly parallel — the
    100 TB shape), while the top-word metric uses the canonical
    explode -> two-level groupBy, whose map-side partial aggregation
    absorbs the per-doc repetition before any bytes move. Doubles are
    single int/int divisions — bit-exact on both engines."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("toks"))
    top = (
        base.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            (F.max("n").cast("double") / F.sum("n").cast("double")).alias(
                "top_word_frac"
            )
        )
    )
    # sequence(1, 0) would step *down* ([1, 0]) — guard short docs.
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup = base.select(
        "doc_id",
        F.when(
            F.size(bigrams) >= 1,
            F.lit(1.0)
            - F.size(F.array_distinct(bigrams)).cast("double")
            / F.size(bigrams).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )
    return top.join(dup, "doc_id").select(
        "doc_id",
        "top_word_frac",
        "dup_bigram_frac",
        (
            (F.col("top_word_frac") <= 0.3) & (F.col("dup_bigram_frac") < 0.2)
        ).alias("keep"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted rolling checksum fingerprint:
    ``sum((pos+1) * tokval(t)) mod 1e9+7`` — order-sensitive like a rolling
    hash, but associative integer math, so it is exactly reproducible on
    any engine and parallelizes as a plain aggregate."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.expr(
        "aggregate("
        f"  zip_with({_TOKS_SPARK}, sequence(1, size({_TOKS_SPARK})),"
        "            (t, i) -> struct(t, CAST(i AS LONG) AS i)),"
        "  CAST(0 AS LONG),"
        f"  (acc, s) -> (acc + s.i * {_tokval('s.t')}) % 1000000007)"
    )
    return d.select("doc_id", fp.alias("fingerprint"))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates.

    8 portable minhash permutations over token values -> 2 bands of 4 ->
    docs sharing a band key become candidate pairs (doc_a < doc_b).
    At 100 TB the band-key groupBy is the only shuffle and LSH keeps the
    pair blowup bounded per bucket; full-corpus pairwise never happens.
    """
    d = load_table(spark, sf_dir, "documents")
    # Trigram shingles, not unigrams: with a small vocabulary most docs
    # contain the minimizing token, every signature collides, and the
    # band join blows up (measured: 4.5M candidate pairs at sf0.1 with
    # unigrams vs a linear-ish candidate set with trigram shingles).
    pairs = lsh_candidate_pairs(minhash_signatures(d, "doc_id", "text"), "doc_id")
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


def q_dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete production near-dup pipeline (texthash.
    verified_near_dups): LSH candidate generation followed by exact
    trigram-Jaccard verification at threshold 0.7 — candidates that LSH
    surfaces but true similarity rejects are dropped. The expensive exact
    compare runs only on the LSH-bounded candidate set."""
    from aind_data_transformation_spark.texthash import (
        verified_near_dups_docs,
    )

    return verified_near_dups_docs(spark, sf_dir, threshold=0.7).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard",
    )


def q_dedup_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality report of the LSH candidate tier itself: of all pairs the
    2-band/8-hash banding surfaces, what fraction verify at trigram
    Jaccard >= 0.7 (tier precision), plus the candidate count and the
    exact micro-grid mean Jaccard — the numbers that drive band/row
    tuning before a 100-TB dedup run (low precision = wasted verify
    compute; tune bands up). The eval consumes the SAME pipeline
    (texthash.candidate_jaccard) the production dedup runs — not a
    re-derivation — so banding regressions surface here.

    Scale: identical shape to the verified pipeline (band equi-joins,
    candidate-bounded verification) closing into one 1-row aggregate."""
    from aind_data_transformation_spark.texthash import candidate_jaccard

    d = load_table(spark, sf_dir, "documents")
    cj = candidate_jaccard(d, "doc_id", "text")
    jac_micro = F.round(F.col("jaccard") * 1.0e6).cast("long")
    agg = cj.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum((F.col("jaccard") >= 0.7).cast("long")).alias("n_verified"),
        F.sum(jac_micro).alias("jac_sum_micro"),
    )
    return agg.select(
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_verified").cast("long").alias("n_verified"),
        (
            F.col("n_verified").cast("double")
            / F.col("n_candidates").cast("double")
        ).alias("precision"),
        (
            F.col("jac_sum_micro").cast("double")
            / F.col("n_candidates").cast("double")
            / 1.0e6
        ).alias("mean_jaccard"),
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment verification of the LSH candidate pairs:
    containment_ab = |A ∩ B| / |A| over trigram sets (and the b-in-a
    mirror). Jaccard misses the 'small doc embedded inside a big doc'
    duplication mode — a 100-word quote inside a 10k-word page has tiny
    Jaccard but containment ~1. Pairs with either direction >= 0.5
    survive. The expensive exact set intersection runs only on the
    LSH-bounded candidate set (same discipline as
    ``dedup_minhash_verified``); trigram sets are built only for docs in
    some candidate pair (left-semi before the transform).

    Scale: identical shape to the verified near-dup pipeline — band
    equi-joins for candidates, candidate-bounded verification; no
    all-pairs stage anywhere. Both the candidate set and the trigram
    table feed two plan branches each (pair sides a/b), so they are
    stage-materialized exactly like ``verified_near_dups`` — without
    that the minhash and shingling work runs twice (measured 3x the
    verified pipeline's wall time at sf0.1)."""
    d = load_table(spark, sf_dir, "documents")
    cands = local_materializer(
        lsh_candidate_pairs(minhash_signatures(d, "doc_id", "text"), "doc_id"),
        "containment_cands",
    )
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .unionByName(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    tris = local_materializer(
        d.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", F.expr("split(text, ' ')").alias("__toks"))
        .select(
            "doc_id",
            F.expr(trigram_set_expr("__toks", "spark")).alias("tri"),
        ),
        "containment_tris",
    )
    j = (
        cands.join(
            tris.select(F.col("doc_id").alias("id_a"), F.col("tri").alias("tri_a")),
            "id_a",
        )
        .join(
            tris.select(F.col("doc_id").alias("id_b"), F.col("tri").alias("tri_b")),
            "id_b",
        )
        .where((F.size("tri_a") > 0) & (F.size("tri_b") > 0))
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            (
                F.expr("CAST(size(array_intersect(tri_a, tri_b)) AS DOUBLE)")
                / F.expr("CAST(size(tri_a) AS DOUBLE)")
            ).alias("containment_ab"),
            (
                F.expr("CAST(size(array_intersect(tri_a, tri_b)) AS DOUBLE)")
                / F.expr("CAST(size(tri_b) AS DOUBLE)")
            ).alias("containment_ba"),
        )
    )
    return j.where(
        (F.col("containment_ab") >= 0.5) | (F.col("containment_ba") >= 0.5)
    )


def _containment_oracle() -> str:
    from aind_data_transformation_spark.texthash import candidate_tris_cte

    return f"""{candidate_tris_cte()}
        SELECT doc_a, doc_b,
               CAST(len(list_intersect(ta.tri, tb.tri)) AS DOUBLE)
                 / CAST(len(ta.tri) AS DOUBLE) AS containment_ab,
               CAST(len(list_intersect(ta.tri, tb.tri)) AS DOUBLE)
                 / CAST(len(tb.tri) AS DOUBLE) AS containment_ba
        FROM cands
        JOIN tris ta ON ta.doc_id = doc_a
        JOIN tris tb ON tb.doc_id = doc_b
        WHERE len(ta.tri) > 0 AND len(tb.tri) > 0
          AND (CAST(len(list_intersect(ta.tri, tb.tri)) AS DOUBLE)
                 / CAST(len(ta.tri) AS DOUBLE) >= 0.5
               OR CAST(len(list_intersect(ta.tri, tb.tri)) AS DOUBLE)
                 / CAST(len(tb.tri) AS DOUBLE) >= 0.5)
    """


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash sketch per document + bucket sizes (identical
    sketches = near-dup bucket). Bit j is the sign of the sum of
    (+1/-1) contributions of bit j of each token value."""
    d = load_table(spark, sf_dir, "documents")
    vals = d.select(
        "doc_id",
        F.expr(f"transform({_TOKS_SPARK}, t -> {_tokval('t')})").alias("tok_vals"),
    )
    bit_terms = []
    for j in range(16):
        s = (
            "aggregate(tok_vals, CAST(0 AS LONG),"
            f" (acc, v) -> acc + (2 * ((v >> {j}) % 2) - 1))"
        )
        bit_terms.append(f"(CASE WHEN ({s}) > 0 THEN {1 << j} ELSE 0 END)")
    simhash = F.expr("CAST(" + " + ".join(bit_terms) + " AS LONG)")
    sketches = vals.select("doc_id", simhash.alias("simhash"))
    buckets = sketches.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return sketches.join(buckets, "simhash").select(
        "doc_id", "simhash", "bucket_size"
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-trigram Jaccard over a bounded candidate window (same
    lang, doc_id within 4) — the verify step that follows LSH candidate
    generation in a production dedup pipeline. Window-bounding keeps the
    join linear; the full cross product never materializes."""
    d = load_table(spark, sf_dir, "documents")
    # Materialize the token array BEFORE the trigram lambda: inlining
    # split() into the per-index lambda re-splits the string once per
    # trigram position -> O(tokens^2) per doc (measured 9.3 s vs 1.5 s at
    # sf0.1 for this query).
    toks = d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    tri = F.expr(
        "array_distinct(CASE WHEN size(toks) >= 3 THEN "
        "transform(sequence(1, size(toks) - 2),"
        " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
        " ELSE array() END)"
    )
    base = toks.select("doc_id", "lang", tri.alias("trigrams"))
    # Block-banding turns the range condition into an equi-join: docs live
    # in blocks of 4 ids; a candidate pair (gap <= 4) is always in the same
    # or adjacent block, so the left side probes exactly two block keys.
    # Without this, lang (5 values) is the only equi-key and the join is
    # quadratic within each language — 182 s at sf0.1 vs ~2 s banded.
    a = base.select(
        F.col("doc_id").alias("doc_a"), "lang", F.col("trigrams").alias("tri_a"),
        F.explode(
            F.array(
                F.expr("doc_id DIV 4"), F.expr("doc_id DIV 4 + 1")
            )
        ).alias("probe_block"),
    )
    b = base.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("trigrams").alias("tri_b"),
        F.expr("doc_id DIV 4").alias("block_b"),
    )
    joined = a.join(
        b,
        (F.col("lang") == F.col("lang_b"))
        & (F.col("probe_block") == F.col("block_b"))
        & (F.col("doc_b") > F.col("doc_a"))
        & (F.col("doc_b") <= F.col("doc_a") + 4),
        "inner",
    )
    inter = F.size(F.array_intersect("tri_a", "tri_b")).cast("double")
    union = F.size(F.array_union("tri_a", "tri_b")).cast("double")
    return joined.select(
        "doc_a",
        "doc_b",
        "lang",
        (inter / union).alias("jaccard"),
    ).where(F.col("jaccard") > 0.0)


# --- oracle SQL -----------------------------------------------------------

_TV_DUCK = _tokval("t")

_SIMHASH_BITS_DUCK = " + ".join(
    f"(CASE WHEN list_sum(list_transform({_TOKS_DUCK},"
    f" t -> (2 * (({_TV_DUCK} >> {j}) % 2) - 1))) > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(16)
)

def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails and phone-shaped tokens replaced with typed
    placeholders, with per-doc redaction counts. The corpus is synthetic
    and clean, so deterministic PII is injected first (same expression on
    both engines) — the scrubber regexes are the real, reusable part.
    Pure projection: stays in one codegen stage, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    dirty = F.expr(
        "concat('contact user', doc_id, '@example.com ', text,"
        " ' or call 555-', lpad(cast(doc_id % 10000 as string), 4, '0'))"
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"555-[0-9]{4}"
    scrubbed = F.regexp_replace(
        F.regexp_replace(dirty, email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(dirty, F.lit(email_re), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(dirty, F.lit(phone_re), 0))
        .cast("bigint")
        .alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — the step every dedup/fingerprint
    family runs first: lowercase, strip everything outside [a-z0-9 ],
    collapse runs of spaces, trim; plus the sha-256 of the normalized
    form (the exact-dedup key over *normalized* content, which catches
    case/punctuation-only near-dups that raw-hash dedup misses). Pure
    column expressions — stays in whole-stage codegen, no shuffle, and
    the simple character classes behave identically in Java regex and
    RE2."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.sha2(norm, 256).alias("norm_hash"),
        F.length(norm).cast("long").alias("norm_len"),
    )


QUERIES = {
    "text_normalize": q_text_normalize,
    "text_pii_scrub": q_text_pii_scrub,
    "dedup_exact": q_dedup_exact,
    "text_stats": q_text_stats,
    "lang_filter_quality": q_lang_filter_quality,
    "text_langid": q_text_langid,
    "text_quality_score": q_text_quality_score,
    "text_tokens_bpeish": q_text_tokens_bpeish,
    "text_repetition": q_text_repetition,
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_fuzzy_minhash": q_dedup_minhash,
    "dedup_minhash_verified": q_dedup_minhash_verified,
    "dedup_lsh_precision": q_dedup_lsh_precision,
    "dedup_containment": q_dedup_containment,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
}

ORACLES = {
    "text_normalize": """
        WITH t AS (
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                       ' +', ' ', 'g')) AS norm_text
            FROM documents
        )
        SELECT doc_id, norm_text,
               sha256(norm_text) AS norm_hash,
               CAST(length(norm_text) AS BIGINT) AS norm_len
        FROM t
    """,
    "text_pii_scrub": r"""
        WITH dirty AS (
            SELECT doc_id,
                   concat('contact user', doc_id, '@example.com ', text,
                          ' or call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
                       AS dt
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(dt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(dt, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
               regexp_replace(
                   regexp_replace(dt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
        FROM dirty
    """,
    "dedup_exact": """
        SELECT sha256(text) AS text_hash,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "text_stats": f"""
        SELECT doc_id, lang, n_chars,
               CAST(len({_TOKS_DUCK}) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct({_TOKS_DUCK})) AS BIGINT) AS n_distinct_tokens,
               CAST(len(list_distinct({_TOKS_DUCK})) AS DOUBLE)
                   / CAST(len({_TOKS_DUCK}) AS DOUBLE) AS type_token_ratio,
               CAST(list_max(list_transform({_TOKS_DUCK}, t -> length(t))) AS BIGINT)
                   AS longest_token,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / CAST(len({_TOKS_DUCK}) AS DOUBLE) AS avg_token_len
        FROM documents
    """,
    "lang_filter_quality": f"""
        SELECT doc_id, lang, n_chars,
               CAST(len({_TOKS_DUCK}) AS BIGINT) AS n_tokens,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / CAST(len({_TOKS_DUCK}) AS DOUBLE) AS avg_token_len
        FROM documents
        WHERE lang IN ('en', 'de', 'fr')
          AND n_chars BETWEEN 50 AND 5000
          AND len({_TOKS_DUCK}) >= 10
          AND (CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / CAST(len({_TOKS_DUCK}) AS DOUBLE)) BETWEEN 2.0 AND 10.0
    """,
    "text_langid": f"""
        WITH scored AS (
            SELECT doc_id,
                   CAST(len(list_intersect({_TOKS_DUCK}, ['the','a','fast','small'])) AS BIGINT) AS score_en,
                   CAST(len(list_intersect({_TOKS_DUCK}, ['data','table','row','column'])) AS BIGINT) AS score_es,
                   CAST(len(list_intersect({_TOKS_DUCK}, ['merge','join','sort','filter'])) AS BIGINT) AS score_de
            FROM documents
        )
        SELECT doc_id, score_en, score_es, score_de,
               CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
                    WHEN score_es >= score_de THEN 'es'
                    ELSE 'de' END AS predicted_lang
        FROM scored
    """,
    "text_quality_score": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(len({_TOKS_DUCK}) AS DOUBLE) AS n,
                   CAST(len(list_distinct({_TOKS_DUCK})) AS DOUBLE) AS nd,
                   CAST(len(list_filter({_TOKS_DUCK}, t -> t = 'the')) AS DOUBLE) AS nthe
            FROM documents
        )
        SELECT doc_id, lang,
               0.4 * least(1.0, n / 50.0) + 0.3 * (nd / n) + 0.3 * (1.0 - nthe / n)
                   AS quality
        FROM t
    """,
    "text_tokens_bpeish": f"""
        SELECT doc_id,
               CAST(len({_TOKS_DUCK}) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS regex_tokens,
               (n_chars + 3) // 4 AS bpe_budget
        FROM documents
    """,
    "text_repetition": f"""
        WITH base AS (
            SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
        ), top AS (
            SELECT doc_id,
                   CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                       AS top_word_frac
            FROM (
                SELECT doc_id, w, COUNT(*) AS n
                FROM (SELECT doc_id, unnest(toks) AS w FROM base)
                GROUP BY doc_id, w
            )
            GROUP BY doc_id
        ), dup AS (
            SELECT doc_id,
                   CASE WHEN len(bigrams) >= 1 THEN
                       1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
                           / CAST(len(bigrams) AS DOUBLE)
                   ELSE 0.0 END AS dup_bigram_frac
            FROM (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 2 THEN
                           list_transform(range(1, len(toks)),
                                          i -> toks[i] || ' ' || toks[i+1])
                       ELSE [] END AS bigrams
                FROM base
            )
        )
        SELECT top.doc_id, top_word_frac, dup_bigram_frac,
               (top_word_frac <= 0.3 AND dup_bigram_frac < 0.2) AS keep
        FROM top JOIN dup USING (doc_id)
    """,
    "doc_fingerprint": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest({_TOKS_DUCK}) AS t,
                   CAST(generate_subscripts({_TOKS_DUCK}, 1) AS BIGINT) AS i
            FROM documents
        )
        SELECT doc_id,
               CAST(SUM(i * {_TV_DUCK}) % 1000000007 AS BIGINT) AS fingerprint
        FROM toks GROUP BY doc_id
    """,
    "dedup_fuzzy_minhash": f"""
        WITH tv AS (
            SELECT doc_id,
                   {_tokvals_expr(_TOKS_DUCK, 'duck')} AS tok_vals
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   {_shingles_expr('tok_vals', 'duck')} AS shingle_vals
            FROM tv
        ), sig AS (
            SELECT doc_id,
                   {_minhash_from_shingles(0, 'shingle_vals', 'duck')} AS mh0,
                   {_minhash_from_shingles(1, 'shingle_vals', 'duck')} AS mh1,
                   {_minhash_from_shingles(2, 'shingle_vals', 'duck')} AS mh2,
                   {_minhash_from_shingles(3, 'shingle_vals', 'duck')} AS mh3,
                   {_minhash_from_shingles(4, 'shingle_vals', 'duck')} AS mh4,
                   {_minhash_from_shingles(5, 'shingle_vals', 'duck')} AS mh5,
                   {_minhash_from_shingles(6, 'shingle_vals', 'duck')} AS mh6,
                   {_minhash_from_shingles(7, 'shingle_vals', 'duck')} AS mh7
            FROM sh
        ), banded AS (
            SELECT doc_id,
                   concat_ws('_', mh0, mh1, mh2, mh3) AS band1,
                   concat_ws('_', mh4, mh5, mh6, mh7) AS band2
            FROM sig
        )
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
            UNION ALL
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b ON a.band2 = b.band2 AND a.doc_id < b.doc_id
        )
    """,
    "dedup_minhash_verified": verified_pairs_sql(0.7),
    "dedup_lsh_precision": f"""{candidate_tris_cte()},
        cj AS (
            SELECT doc_a, doc_b,
                   CASE WHEN len(list_distinct(list_concat(ta.tri, tb.tri))) > 0
                        THEN CAST(len(list_intersect(ta.tri, tb.tri)) AS DOUBLE)
                             / CAST(len(list_distinct(list_concat(ta.tri, tb.tri))) AS DOUBLE)
                        ELSE 0.0 END AS jaccard
            FROM cands
            JOIN tris ta ON ta.doc_id = doc_a
            JOIN tris tb ON tb.doc_id = doc_b
        )
        SELECT COUNT(*)::BIGINT AS n_candidates,
               SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END)::BIGINT
                   AS n_verified,
               CAST(SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS precision,
               CAST(SUM(CAST(round(jaccard * 1e6) AS BIGINT))::BIGINT AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) / 1e6 AS mean_jaccard
        FROM cj
    """,
    "dedup_containment": _containment_oracle(),
    "dedup_simhash": f"""
        WITH sketches AS (
            SELECT doc_id, CAST({_SIMHASH_BITS_DUCK} AS BIGINT) AS simhash
            FROM documents
        ), buckets AS (
            SELECT simhash, COUNT(*) AS bucket_size FROM sketches GROUP BY 1
        )
        SELECT s.doc_id, s.simhash, b.bucket_size
        FROM sketches s JOIN buckets b USING (simhash)
    """,
    "dedup_ngram_jaccard": f"""
        WITH base AS (
            SELECT doc_id, lang,
                   CASE WHEN len({_TOKS_DUCK}) >= 3 THEN
                     list_distinct(list_transform(
                        range(1, len({_TOKS_DUCK}) - 1),
                        i -> concat_ws(' ', {_TOKS_DUCK}[i], {_TOKS_DUCK}[i+1], {_TOKS_DUCK}[i+2])))
                   ELSE [] END AS trigrams
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
               CAST(len(list_intersect(a.trigrams, b.trigrams)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(a.trigrams, b.trigrams))) AS DOUBLE)
                 AS jaccard
        FROM base a JOIN base b
          ON a.lang = b.lang AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 4
        WHERE CAST(len(list_intersect(a.trigrams, b.trigrams)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(a.trigrams, b.trigrams))) AS DOUBLE) > 0.0
    """,
}


def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus dedup — the daily-crawl shape: the existing
    corpus (doc_id % 10 != 0) is represented ONLY by its persisted LSH
    band index (~40 bytes/doc: id + 2 band keys — the artifact a real
    pipeline writes once and reuses every day); an incoming batch
    (doc_id % 10 == 0) is signed, band-joined AGAINST THE INDEX (never
    against the corpus text), and only the candidate corpus docs are
    pulled for exact trigram-Jaccard verification (semi-join before the
    shingling transform). Output: one verdict row per batch doc —
    candidate count, verified-dup count (>= 0.7), and the is_new
    admission bit.

    Scale: per-batch cost ∝ batch size + candidate set; the 100-TB
    corpus is touched only through its index and the (tiny) candidate
    pull — this is what makes continuous dedup affordable where a full
    self-join dedup per crawl is not."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 10 != 0)
    batch = d.where(F.col("doc_id") % 10 == 0)

    def banded(df):
        return minhash_signatures(df, "doc_id", "text").select(
            "doc_id",
            F.concat_ws("_", "mh0", "mh1", "mh2", "mh3").alias("band1"),
            F.concat_ws("_", "mh4", "mh5", "mh6", "mh7").alias("band2"),
        )

    idx = local_materializer(banded(corpus), "inc_dedup_index")
    bb = local_materializer(banded(batch), "inc_dedup_batch")
    cands = None
    for band in ("band1", "band2"):
        a = bb.select(
            F.col("doc_id").alias("batch_id"), F.col(band).alias("bk")
        )
        c = idx.select(
            F.col("doc_id").alias("corpus_id"), F.col(band).alias("bk")
        )
        p = a.join(c, "bk").select("batch_id", "corpus_id")
        cands = p if cands is None else cands.unionByName(p)
    cands = local_materializer(cands.distinct(), "inc_dedup_cands")

    def tri(df):
        return df.select(
            "doc_id", F.expr("split(text, ' ')").alias("__toks")
        ).select(
            "doc_id",
            F.expr(trigram_set_expr("__toks", "spark")).alias("tri"),
        )

    bt = tri(
        batch.join(
            cands.select(F.col("batch_id").alias("doc_id")).distinct(),
            "doc_id",
            "left_semi",
        )
    )
    ct = tri(
        corpus.join(
            cands.select(F.col("corpus_id").alias("doc_id")).distinct(),
            "doc_id",
            "left_semi",
        )
    )
    j = cands.join(
        bt.select(
            F.col("doc_id").alias("batch_id"), F.col("tri").alias("tri_b")
        ),
        "batch_id",
    ).join(
        ct.select(
            F.col("doc_id").alias("corpus_id"), F.col("tri").alias("tri_c")
        ),
        "corpus_id",
    )
    union_sz = F.size(F.array_union("tri_b", "tri_c"))
    jac = F.when(
        union_sz > 0,
        F.size(F.array_intersect("tri_b", "tri_c")).cast("double")
        / union_sz.cast("double"),
    ).otherwise(F.lit(0.0))
    per_doc = (
        j.select("batch_id", (jac >= 0.7).cast("long").alias("dup"))
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum("dup").alias("n_dups"),
        )
    )
    out = batch.select(F.col("doc_id").alias("batch_id")).join(
        per_doc, "batch_id", "left"
    )
    return out.select(
        F.col("batch_id").alias("doc_id"),
        F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
            "n_candidates"
        ),
        F.coalesce("n_dups", F.lit(0)).cast("long").alias("n_dups"),
        (F.coalesce("n_dups", F.lit(0)) == 0).alias("is_new"),
    )


QUERIES["dedup_incremental_minhash"] = q_dedup_incremental_minhash
ORACLES["dedup_incremental_minhash"] = f"""
    WITH tv AS (
        SELECT doc_id, {_tokvals_expr(_TOKS_DUCK, 'duck')} AS tok_vals
        FROM documents
    ), sh AS (
        SELECT doc_id, {_shingles_expr('tok_vals', 'duck')} AS shingle_vals
        FROM tv
    ), banded AS (
        SELECT doc_id,
               concat_ws('_',
                   {_minhash_from_shingles(0, 'shingle_vals', 'duck')},
                   {_minhash_from_shingles(1, 'shingle_vals', 'duck')},
                   {_minhash_from_shingles(2, 'shingle_vals', 'duck')},
                   {_minhash_from_shingles(3, 'shingle_vals', 'duck')}
               ) AS band1,
               concat_ws('_',
                   {_minhash_from_shingles(4, 'shingle_vals', 'duck')},
                   {_minhash_from_shingles(5, 'shingle_vals', 'duck')},
                   {_minhash_from_shingles(6, 'shingle_vals', 'duck')},
                   {_minhash_from_shingles(7, 'shingle_vals', 'duck')}
               ) AS band2
        FROM sh
    ), cands AS (
        SELECT DISTINCT batch_id, corpus_id FROM (
            SELECT b.doc_id AS batch_id, i.doc_id AS corpus_id
            FROM banded b JOIN banded i ON b.band1 = i.band1
            WHERE b.doc_id % 10 = 0 AND i.doc_id % 10 != 0
            UNION ALL
            SELECT b.doc_id, i.doc_id
            FROM banded b JOIN banded i ON b.band2 = i.band2
            WHERE b.doc_id % 10 = 0 AND i.doc_id % 10 != 0
        )
    ), tris AS (
        SELECT doc_id, {trigram_set_expr(_TOKS_DUCK, 'duck')} AS tri
        FROM documents
    ), per AS (
        SELECT batch_id,
               COUNT(*)::BIGINT AS n_candidates,
               SUM(CASE WHEN len(list_distinct(list_concat(tb.tri, tc.tri))) > 0
                         AND CAST(len(list_intersect(tb.tri, tc.tri)) AS DOUBLE)
                             / CAST(len(list_distinct(list_concat(tb.tri, tc.tri)))
                                    AS DOUBLE) >= 0.7
                        THEN 1 ELSE 0 END)::BIGINT AS n_dups
        FROM cands
        JOIN tris tb ON tb.doc_id = batch_id
        JOIN tris tc ON tc.doc_id = corpus_id
        GROUP BY batch_id
    )
    SELECT d.doc_id,
           COALESCE(per.n_candidates, 0)::BIGINT AS n_candidates,
           COALESCE(per.n_dups, 0)::BIGINT AS n_dups,
           COALESCE(per.n_dups, 0) = 0 AS is_new
    FROM documents d LEFT JOIN per ON per.batch_id = d.doc_id
    WHERE d.doc_id % 10 = 0
"""
