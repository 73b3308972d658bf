"""Corpus-preparation operators: the table-level transformations a
training-data pipeline runs after per-document scoring/dedup — resolving
pairwise duplicates into canonical clusters, packing documents into
fixed-token-budget sequences, carving reproducible stratified samples, and
re-weighting the language mixture.

Like every other family these are oracle-checked exactly: the Spark side
composes library operators from ``ops.py``/``texthash.py``; the DuckDB side
re-expresses the same semantics in ANSI SQL (a recursive CTE stands in for
the iterative component propagation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import (
    attach_broadcast,
    connected_components,
    knuth32_sql,
    local_materializer,
    pack_sequences,
    series_row_number,
    staged_parquet,
)
from aind_data_transformation_spark.texthash import (
    token_grams,
    tokval,
    verified_near_dups,
    verified_pairs_sql,
)

#: Knuth multiplicative hash of doc_id over the 32-bit space — the same
#: deterministic sampler ops.hash_sample uses, portable to DuckDB. Emitted
#: through ops.knuth32_sql so it stays ANSI-overflow-safe past doc_id
#: ~3.47e9 (the multi-billion-document id space of a 100-TB corpus).
_HASH_SPARK = knuth32_sql("doc_id", "spark")
_HASH_DUCK = knuth32_sql("doc_id", "duck")


def _dedup_clusters_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resolved (doc_id, canonical_id) frame, staged once per
    (session, sf_dir): the LSH + exact-Jaccard + connected-components
    pass is the expensive part of every consumer (dedup_clusters,
    split_leakage_safe), which read the staged resolution instead."""
    from aind_data_transformation_spark.texthash import (
        verified_near_dups_docs,
    )

    def resolve() -> DataFrame:
        pairs = verified_near_dups_docs(spark, sf_dir, threshold=0.7)
        comp = connected_components(pairs, "id_a", "id_b")
        return (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .join(
                comp.select(F.col("node").alias("doc_id"), "component"),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("component", "doc_id").alias("canonical_id"),
            )
        )

    return staged_parquet(spark, ("dedup_clusters", sf_dir), resolve)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end duplicate resolution: verified near-dup pairs (LSH +
    exact Jaccard >= 0.7) become an edge list, connected components
    collapse transitive chains (A~B, B~C => one cluster even if A!~C), and
    every document maps to the smallest doc_id of its cluster. Docs with
    no near-dup are their own canonical. This is the step that turns
    pairwise dedup output into a keep/drop decision. The resolution is
    computed once per (session, sf_dir) (`_dedup_clusters_frame`) and
    shared with split_leakage_safe."""
    return _dedup_clusters_frame(spark, sf_dir)


def _split_case(col: str, dialect: str) -> str:
    """80/10/10 train/val/test assignment from the Knuth hash of ``col``
    (buckets 0-7/8/9 of hash % 10), emitted per dialect so both engines
    label identically."""
    if dialect == "spark":
        b = f"pmod({knuth32_sql(col, 'spark')}, 10)"
    else:
        b = f"({knuth32_sql(col, 'duck')}) % 10"
    return (
        f"CASE WHEN {b} < 8 THEN 'train' WHEN {b} = 8 THEN 'val'"
        " ELSE 'test' END"
    )


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split — the step after duplicate
    resolution that naive pipelines get wrong: hashing each DOCUMENT
    into a split lets two near-duplicates straddle the train/eval
    boundary (the eval doc's twin was trained on — benchmark leakage);
    hashing each dedup CLUSTER's canonical id sends every member of a
    near-dup cluster to the same split by construction. Both schemes are
    computed over the same `q_dedup_clusters` resolution and returned as
    one report — (scheme, split) doc counts plus `n_leaky_clusters`, the
    number of clusters whose members landed in more than one split:
    structurally 0 for by_cluster, and exactly the leakage a by_doc
    split ships. The oracle re-derives the clusters through the shared
    recursive-CTE component SQL and restates both hash assignments, so
    the leak counts themselves are hash-checked.

    Scale: one extra map-side hash label over the cluster frame, a
    per-cluster countDistinct, and a 1-row broadcast attached via
    `ops.attach_broadcast` (broadcast HASH join, never a nested loop) —
    nothing beyond the dedup pass itself touches the corpus."""
    cl = q_dedup_clusters(spark, sf_dir)
    labeled = cl.select(
        "doc_id",
        "canonical_id",
        F.expr(_split_case("doc_id", "spark")).alias("by_doc"),
        F.expr(_split_case("canonical_id", "spark")).alias("by_cluster"),
    )
    parts = []
    for scheme in ("by_doc", "by_cluster"):
        leaks = (
            labeled.groupBy("canonical_id")
            .agg(F.countDistinct(scheme).alias("ns"))
            .agg(
                F.sum((F.col("ns") > 1).cast("long"))
                .cast("long")
                .alias("n_leaky_clusters")
            )
        )
        per = (
            labeled.groupBy(F.col(scheme).alias("split"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("doc_id").cast("long").alias("sum_doc_ids"),
            )
            .withColumn("scheme", F.lit(scheme))
        )
        parts.append(attach_broadcast(per, leaks))
    return parts[0].union(parts[1]).select(
        "scheme", "split", "n_docs", "sum_doc_ids", "n_leaky_clusters"
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (ops.pack_sequences): documents in doc_id order are
    cut into 512-token bins by exclusive running token count — the
    concat-and-chunk layout used to build training batches. The running
    total uses the scalable two-phase cumsum, never a single-task global
    window."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(d, "doc_id", "n_tokens", budget=512, coarse=256)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sample: 10 documents per language, chosen by the
    deterministic Knuth hash order (reproducible across runs, engines, and
    partitionings — unlike df.sample).

    Scale: the per-stratum rank comes from ops.series_row_number (local
    row_numbers inside (lang, hash-bucket) partitions + broadcast bucket
    offsets — the hash IS the order key, so its high bits are a monotone
    coarse bucket), not a raw per-lang window whose parallelism would be
    capped at the language count."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(_HASH_SPARK).alias("__h")
    )
    ranked = series_row_number(
        d, ["lang"], ["__h", "doc_id"], "__h div 16777216",
        rn_name="sample_rank",
    )
    return (
        ranked.where(F.col("sample_rank") <= 10)
        .select("doc_id", "lang", F.col("sample_rank").cast("long").alias("sample_rank"))
    )


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture rebalancing: downsample over-represented languages
    with the consistent hash (en keeps 25%, zh 50%, the rest 100%) and
    carry the inverse-rate weight so downstream aggregation stays
    unbiased. Pure filter — no shuffle, fully pushed down."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    thr = (
        F.when(F.col("lang") == "en", F.lit(1073741824))
        .when(F.col("lang") == "zh", F.lit(2147483648))
        .otherwise(F.lit(4294967296))
    )
    weight = (
        F.when(F.col("lang") == "en", F.lit(4.0))
        .when(F.col("lang") == "zh", F.lit(2.0))
        .otherwise(F.lit(1.0))
    )
    return d.where(F.expr(_HASH_SPARK) < thr).withColumn("weight", weight)


def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs that share any
    8-token n-gram with the held-out benchmark set (sources src0/src1) —
    the standard eval-leakage guard run before pretraining.

    Shape: both sides explode to (gram, doc) pairs; the benchmark side is
    orders of magnitude smaller, so its distinct gram set broadcasts and
    the probe is a broadcast left-semi join — no shuffle of the training
    corpus. Grams are matched as strings (not engine hashes) so the DuckDB
    twin is exact. At 100 TB you'd hash the grams to 8-byte ints for the
    broadcast and keep the same plan."""
    d = load_table(spark, sf_dir, "documents")
    is_bench = F.col("source").isin("src0", "src1")
    bench_grams = token_grams(d.where(is_bench), []).distinct()
    train = d.where(~is_bench)
    train_grams = token_grams(train, ["doc_id", "source"])
    contaminated = (
        train_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id", "source")
        .distinct()
    )
    return (
        train.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            contaminated.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_contaminated")
            ),
            "source",
            "left",
        )
        .select(
            "source",
            "n_docs",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        )
    )


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling (alpha = 0.3) over the ``source`` column — the
    standard LLM-pretraining mixture rebalance: source keep-rate
    ``(n_min / n_s) ** (1 - alpha)`` so the smallest source keeps 100%
    and larger sources are downsampled toward uniform; ``weight`` is the
    inverse rate for unbiased downstream stats. The keep decision uses
    the corpus-standard consistent doc hash, so samples are reproducible
    across runs and engines.

    Distributed shape: one tiny per-source count (broadcastable by AQE —
    source cardinality is enumerably small BY SCHEMA, unlike a token
    vocabulary), one scalar min, then a pure pushed-down filter over the
    corpus — no shuffle of the fact table at any scale."""
    alpha = 0.3
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # the |sources|-row count table feeds both the scalar min and the
    # rate table; staged once so the corpus aggregation runs once.
    counts = local_materializer(
        d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s")),
        "temp_source_counts",
    )
    n_min = counts.agg(F.min("n_s").alias("n_min"))
    rates = attach_broadcast(counts, n_min).select(
        "source",
        F.pow(
            F.col("n_min").cast("double") / F.col("n_s").cast("double"),
            F.lit(1.0 - alpha),
        ).alias("keep_rate"),
    )
    return (
        d.join(rates, "source")
        .where(
            F.expr(_HASH_SPARK).cast("double")
            < F.col("keep_rate") * F.lit(4294967296.0)
        )
        .select(
            "doc_id",
            "source",
            F.round("keep_rate", 6).alias("keep_rate_r6"),
            F.round(F.lit(1.0) / F.col("keep_rate"), 6).alias("weight_r6"),
        )
    )


def q_corpus_stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card — the health dashboard a corpus
    build publishes after ingest: document count, exact char volume,
    distinct-text count (sha256), exact-duplicate rate (1e4-scaled), and
    mean document length. One pass building per-(source, hash) counts,
    then a map-side-combinable rollup to sources; never a self-join."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", F.sha2("text", 256).alias("h")
    )
    per_hash = d.groupBy("source", "h").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
    )
    return per_hash.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.expr(
            "CAST(round(1e4 * (sum(n) - count(1)) / sum(n)) AS BIGINT)"
        ).alias("dup_rate_u4"),
        F.expr(
            "CAST(sum(chars) AS DOUBLE) / CAST(sum(n) AS DOUBLE)"
        ).alias("mean_chars"),
    )


def q_sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    min-class-size documents, chosen by Knuth multiplicative hash rank on
    doc_id — deterministic across engines, runs, and partitionings, so a
    100-TB corpus rebalance is reproducible without materializing the
    sample. Returns per-language before/after counts plus the kept rows'
    char sum (proves the *selection identity*, not just the count).

    Scale: one per-language count (6 rows, broadcast); the per-language
    hash rank comes from ops.series_row_number — local row_numbers
    inside (lang, hash-bucket) partitions plus broadcast bucket offsets
    (the hash is the order key, so its high bits are a monotone coarse
    bucket) — parallelism ∝ hash buckets, never capped at the class
    count; one final aggregation."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.expr(_HASH_SPARK).alias("__h")
    )
    sizes = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    target = sizes.agg(F.min("n_before").alias("n_target"))
    ranked = series_row_number(
        d, ["lang"], ["__h", "doc_id"], "__h div 16777216", rn_name="rk"
    ).transform(attach_broadcast, F.broadcast(target))
    kept = ranked.where(F.col("rk") <= F.col("n_target"))
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
        .join(F.broadcast(sizes), "lang")
        .select(
            "lang",
            F.col("n_before").cast("long").alias("n_before"),
            "n_kept",
            "kept_chars",
        )
    )


#: chunker geometry: window of 32 tokens advancing by 24 (8-token overlap)
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24


def q_doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunker — the pass that turns long
    documents into fixed-size overlapping token windows for pretraining
    or retrieval indexing (window 32, stride 24, so consecutive chunks
    share 8 tokens of context). Chunk starts come from an array-local
    ``sequence``; each chunk is a ``slice`` + join — the whole operator
    is one explode with zero shuffles, so at 100 TB it is a pure map
    pass bounded by scan bandwidth (output rows ~= tokens/stride).

    Output: (doc_id, chunk_idx, n_tokens, chunk_text); exact integers
    and strings only — trivially hash-stable."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias("w"),
    ).where(F.size("w") > 0)
    starts = f"sequence(0, size(w) - 1, {_CHUNK_STRIDE})"
    return (
        toks.select(
            "doc_id",
            "w",
            F.posexplode(F.expr(starts)).alias("chunk_idx", "start"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.expr(f"slice(w, start + 1, {_CHUNK_SIZE})").alias("c"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("c").cast("long").alias("n_tokens"),
            F.array_join("c", " ").alias("chunk_text"),
        )
    )


def q_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch shuffle manifest: every training epoch needs a
    DIFFERENT deterministic permutation of the corpus (same order each
    rerun, different order each epoch). Each (doc, epoch) gets a mixed
    integer key from a portable multiplicative hash; sharding is key
    mod 8. The manifest per (epoch, shard) — counts plus key span —
    is what the data-loader consumes; the full permutation is the same
    expression ordered by the key.

    Scale: the epoch dimension is an array-local explode (3 rows per
    doc); the manifest is one hash aggregation on (epoch, shard). The
    actual epoch write would be repartitionByRange on shuffle_key —
    same plan as corpus_shuffle_shard."""
    d = load_table(spark, sf_dir, "documents")
    # reduce doc_id+1 mod M BEFORE the multiply: (a*K + e*C) mod M ==
    # (((a mod M)*K) + e*C) mod M, and (M-1)*K ~ 5.7e18 stays inside
    # int64 — the naive product overflows (ANSI ARITHMETIC_OVERFLOW)
    # once doc_id exceeds ~3.47e9.
    mix = (
        "(pmod(doc_id + 1, 2147483647L) * 2654435761L"
        " + CAST(epoch AS BIGINT) * 1103515245L) % 2147483647L"
    )
    return (
        d.select(
            "doc_id", F.explode(F.expr("sequence(0, 2)")).alias("epoch")
        )
        .select(
            F.col("epoch").cast("long").alias("epoch"),
            F.expr(f"({mix}) % 8").alias("shard"),
            F.expr(mix).alias("k"),
        )
        .groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
    )


def q_corpus_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-screen for incremental corpus ingest: the
    already-ingested half of the corpus (even doc_id) builds a 4096-bit
    / 3-hash Bloom bitmap over content digests; the incoming half probes
    it. Docs with any unset bit are DEFINITELY new and skip the exact
    check entirely; "maybe-dup" docs are verified against the exact
    digest set to count true dups vs Bloom false positives — the row
    that tells you whether the filter is sized right.

    Determinism: positions derive from disjoint md5 substrings (the
    engine's portable hash discipline); the bitmap packs 32 bits per
    BIGINT word (sign-safe in both engines) via ``bit_or`` aggregation —
    a mergeable integer aggregate, so the filter builds map-side like
    any sum. Scale: the bitmap is O(filter bits) regardless of corpus
    size and broadcasts to the probe side; only the maybe-dup fraction
    ever reaches the exact (shuffle) check. That cost model — broadcast
    sketch probe gating an exact join — is the point of the operator."""
    # the digest projection (md5 over the full text) fed SEVEN plan
    # branches (3 bitmap-position unions + 3 probe-position unions + the
    # exact check), each re-hashing the corpus. Stage the 2-column
    # digest frame once — at 100 TB this is the content-digest pass an
    # ingest system persists anyway — and fan the 3 hash positions out
    # with ONE posexplode instead of 3 unions (same multiset, 1 pass).
    d = local_materializer(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.md5("text").alias("dig")
        ),
        "bloom_digests",
    )
    seen = d.where(F.col("doc_id") % 2 == 0)
    incoming = d.where(F.col("doc_id") % 2 == 1)

    def positions(frame):
        pos3 = F.array(
            *[
                F.pmod(
                    F.conv(
                        F.substring("dig", 1 + 7 * r, 7), 16, 10
                    ).cast("long"),
                    F.lit(4096),
                )
                for r in range(3)
            ]
        )
        return frame.select(
            "doc_id", "dig", F.explode(pos3).alias("pos")
        ).select(
            "doc_id",
            "dig",
            (F.col("pos") / 32).cast("long").alias("word"),
            F.pmod("pos", F.lit(32)).cast("int").alias("bit"),
        )

    bitmap = (
        positions(seen)
        .groupBy("word")
        .agg(F.bit_or(F.expr("shiftleft(1L, bit)")).alias("wv"))
    )
    probed = (
        positions(incoming)
        .join(F.broadcast(bitmap), "word", "left")
        .select(
            "doc_id",
            "dig",
            (
                F.coalesce(
                    F.col("wv").bitwiseAND(F.expr("shiftleft(1L, bit)")),
                    F.lit(0),
                )
                != 0
            ).alias("hit"),
        )
        .groupBy("doc_id", "dig")
        .agg(F.bool_and("hit").alias("maybe_dup"))
    )
    truth = probed.join(
        seen.select(F.col("dig").alias("dig_s")).distinct(),
        F.col("dig") == F.col("dig_s"),
        "left",
    ).select(
        "doc_id",
        "maybe_dup",
        F.col("dig_s").isNotNull().alias("is_true_dup"),
    )
    return truth.agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum(F.col("maybe_dup").cast("long")).alias("n_maybe_dup"),
        F.sum((~F.col("maybe_dup")).cast("long")).alias("n_definitely_new"),
        F.sum(F.col("is_true_dup").cast("long")).alias("n_true_dup"),
        F.sum(
            (F.col("maybe_dup") & ~F.col("is_true_dup")).cast("long")
        ).alias("n_false_positive"),
    )


def q_corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source document-length quantiles (p50/p90/p99, lower
    interpolation) via the distribution-aggregate shape: value counts
    per (source, n_chars), one cumulative window per source over the
    compact length domain, then the first length whose cumulative count
    reaches ⌈q·n⌉ — never a per-group sort of raw documents.

    Scale: the corpus shuffles once down to its (source × distinct
    length) domain; the quantile windows run over that bounded frame —
    the same discipline as agg_percentiles / quantile_bins."""
    d = load_table(spark, sf_dir, "documents")
    vc = d.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    tot = vc.groupBy("source").agg(F.sum("c").alias("n"))
    w = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vc.withColumn("cum", F.sum("c").over(w)).join(tot, "source")

    def pick(q: float, name: str):
        target = F.ceil(F.col("n").cast("double") * F.lit(q)).cast("long")
        return F.min(
            F.when(F.col("cum") >= target, F.col("n_chars"))
        ).alias(name)

    return cum.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        pick(0.5, "p50_chars"),
        pick(0.9, "p90_chars"),
        pick(0.99, "p99_chars"),
    )




def q_corpus_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE as one attrition report — cheap
    stages first, each operating only on the previous stage's survivors
    (the cost discipline every corpus pipeline runs: exact hashing is
    pennies, minhash verification is not): stage 1 removes exact
    duplicates (keep the smallest doc_id per identical text), stage 2
    removes survivors that have a verified near-duplicate partner
    (LSH candidates + trigram Jaccard >= 0.7, the `dedup_minhash_verified`
    machinery) with a smaller SURVIVING doc_id. Output: one row per
    stage with (n_in, n_removed, n_out) — the funnel a data-quality
    dashboard tracks per ingest batch.

    Scale: exact stage is one hash-key window; near stage reuses the
    LSH band equi-join (candidate pairs only, never all-pairs); the
    survivor gates are semi-join-shaped; counters are 1-row aggregates
    attached by constant-key broadcast."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    flagged = d.withColumn("rn", F.row_number().over(w))
    surv = flagged.where(F.col("rn") == 1).select("doc_id")
    from aind_data_transformation_spark.texthash import (
        verified_near_dups_docs,
    )

    pairs = verified_near_dups_docs(spark, sf_dir, threshold=0.7).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    near_rm = (
        pairs.join(
            surv.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
        )
        .join(surv.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select("doc_b")
        .distinct()
    )
    n0 = d.agg(F.count(F.lit(1)).alias("n0"))
    e = flagged.where(F.col("rn") > 1).agg(F.count(F.lit(1)).alias("e"))
    m = near_rm.agg(F.count(F.lit(1)).alias("m"))
    c = attach_broadcast(attach_broadcast(n0, e), m)
    stages = F.array(
        F.struct(
            F.lit("exact").alias("stage"),
            F.col("n0").cast("long").alias("n_in"),
            F.col("e").cast("long").alias("n_removed"),
            (F.col("n0") - F.col("e")).cast("long").alias("n_out"),
        ),
        F.struct(
            F.lit("near_dup").alias("stage"),
            (F.col("n0") - F.col("e")).cast("long").alias("n_in"),
            F.col("m").cast("long").alias("n_removed"),
            (F.col("n0") - F.col("e") - F.col("m")).cast("long").alias("n_out"),
        ),
    )
    return c.select(F.explode(stages).alias("s")).select("s.*")


#: DSIR: hashed-feature bucket count and documents kept. 64 buckets is
#: the test-scale stand-in for the paper's 10k hashed n-gram buckets;
#: the bucket count is a constant in both engines' generated SQL so any
#: setting stays hash-checkable. Keep follows the paper's top-weight
#: selection (their Gumbel-noise sampling step is replaced by the
#: deterministic top-K so the operator is reproducible and
#: oracle-checkable; a seeded Gumbel column drops in at production).
_DSIR_BUCKETS = 64
_DSIR_KEEP = 100


def q_corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169), the standard pretraining-data selection pass:
    score every document by how much more likely its hashed-token
    features are under a TARGET distribution (here the 'en' slice — the
    paper's high-quality-domain stand-in) than under the raw SOURCE pool
    (all documents), then keep the top ``_DSIR_KEEP`` by log importance
    weight.

    Shape: one token explode -> 64-bucket hashed unigram counts (the
    paper's hashed n-gram features via the portable ``tokval`` hash) ->
    add-1-smoothed log-ratio per bucket, 1e6-scaled to BIGINT so
    per-document weights are exact integer sums in any aggregation
    order -> per-doc sum -> global top-K via orderBy+limit
    (TakeOrderedAndProject: per-partition top-K then a K-row merge — no
    full sort, no unbounded single-partition exchange; the rank window
    after the limit sees only K rows). The bucket table is ~64 rows and
    broadcasts; the corpus is scanned twice (count pass, score pass) and
    shuffled only on the 64-key bucket agg and the doc_id agg. At 100 TB
    the feature space grows to the paper's 10k buckets and everything
    still broadcasts.

    Exactness: counts are integers; the only float step is ln() of
    exact-rounded divisions, nano-rounded to 1e-6 per bucket before any
    summation, so both engines sum identical BIGINTs."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = d.select(
        "doc_id", "lang", F.explode(F.expr("split(text, ' ')")).alias("tok")
    ).where(F.col("tok") != "")
    bucketed = toks.withColumn(
        "bucket", F.expr(f"({tokval('tok')}) % {_DSIR_BUCKETS}")
    )
    # r12 measured note: staging the 64-row bucket table (the totals
    # re-run the counting explode) was REJECTED on paired evidence
    # (1.16×) — barrier > saved pass at bench scale.
    cnt = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("src_n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("tgt_n"),
    )
    tot = cnt.agg(
        F.sum("src_n").cast("long").alias("src_tot"),
        F.sum("tgt_n").cast("long").alias("tgt_tot"),
    )
    lr = attach_broadcast(cnt, tot).select(
        "bucket",
        F.round(
            (
                F.log(
                    (F.col("tgt_n") + 1).cast("double")
                    / (F.col("tgt_tot") + _DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.col("src_n") + 1).cast("double")
                    / (F.col("src_tot") + _DSIR_BUCKETS).cast("double")
                )
            )
            * 1e6
        )
        .cast("long")
        .alias("lr_u6"),
    )
    scored = (
        bucketed.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum("lr_u6").cast("long").alias("logw_u6"),
        )
    )
    top = scored.orderBy(
        F.col("logw_u6").desc(), F.col("doc_id").asc()
    ).limit(_DSIR_KEEP)
    w = Window.orderBy(F.col("logw_u6").desc(), F.col("doc_id").asc())
    return top.withColumn("sel_rank", F.row_number().over(w).cast("long"))


def q_corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix allocation planner: given per-source token counts
    and a token budget of half the corpus, allocate the budget uniformly
    across sources and report each source's sampling rate and epoch
    count — the driver table a weighted pretraining dataloader consumes
    (sources below their allocation repeat for ⌈alloc/tokens⌉ epochs,
    over-represented sources downsample to rate alloc/tokens).

    Exactness: budget and per-source allocation stay in integer
    arithmetic (`div`); the rate is ONE bigint/bigint double division
    rounded to 6 dp; the epoch ceiling is pure integer
    (alloc + tokens − 1) div tokens. Scale: one hash aggregation to the
    source domain (~20 rows) + a constant-key broadcast hash join for
    the totals — nothing else touches the corpus."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.size(F.expr("filter(split(text, ' '), x -> x <> '')")).cast(
                "bigint"
            )
        ).alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("__tot"),
        F.count(F.lit(1)).alias("__n_src"),
    )
    out = attach_broadcast(per_src, totals).selectExpr(
        "source",
        "n_docs",
        "n_tokens",
        "CAST((__tot div 2) div __n_src AS BIGINT) AS alloc_tokens",
        "round(CAST((__tot div 2) div __n_src AS DOUBLE)"
        " / CAST(n_tokens AS DOUBLE), 6) AS sample_rate",
        "CAST(((__tot div 2) div __n_src + n_tokens - 1) div n_tokens"
        " AS BIGINT) AS n_epochs",
    )
    return out


_LINE_MIN_CHARS = 30  #: ignore short fragments (C4 used 3+ words / line)


def q_corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty report: the fraction (ppm) of 8-token
    grams that first appear in that source's docs versus grams already
    seen in any LOWER doc_id — the repetition/novelty diagnostic run on
    a crawl snapshot before mixing it into a training corpus (a source
    whose novelty collapses is re-crawling what you already have).

    Shape: one (gram -> min doc_id) hash agg defines first sight; the
    per-doc gram explode joins back on the gram key and a gram counts as
    novel for its doc iff that doc IS the first sight. Both sides shuffle
    on the gram key only — at 100 TB this is the decontaminate plan with
    the broadcast replaced by a gram-keyed equi-join, and grams would be
    8-byte hashes instead of strings (same plan).

    Exactness: counts are integers; the ppm is one floor-divide."""
    d = load_table(spark, sf_dir, "documents")
    dg = token_grams(d, ["doc_id", "source"]).distinct()
    first = dg.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    marked = dg.join(first, "gram").select(
        "source",
        (F.col("doc_id") == F.col("first_doc")).cast("long").alias("novel"),
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("novel").alias("n_novel"),
        F.expr(
            "CAST(SUM(novel) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("novelty_ppm"),
    )


def q_corpus_quality_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style composite quality gate: every document gets ONE verdict —
    the FIRST failing rule in a fixed precedence order (too_short <25
    tokens, too_long >90, low_diversity: type/token ratio <0.35) or
    'ok' — and the report is the per-source verdict census. This is the
    kept/dropped accounting a corpus-filter run publishes next to its
    output (the C4 paper's table 1 shape); precedence ordering is what
    makes drop REASONS sum to the drop count.

    Exactness: token and distinct-token counts are integers and the TTR
    rule is the cross-multiplied integer comparison distinct*100 <
    total*35 — no float anywhere. Scale: one map pass (two size() calls
    over the token split) + one hash agg to source x verdict; zero
    joins."""
    d = load_table(spark, sf_dir, "documents")
    toks = "filter(split(lower(text), ' '), x -> x <> '')"
    sized = d.select(
        "source",
        F.expr(f"size({toks})").alias("nt"),
        F.expr(f"size(array_distinct({toks}))").alias("nd"),
    )
    verdict = (
        F.when(F.col("nt") < 25, "too_short")
        .when(F.col("nt") > 90, "too_long")
        .when(F.col("nd") * 100 < F.col("nt") * 35, "low_diversity")
        .otherwise("ok")
    )
    return (
        sized.groupBy("source", verdict.alias("verdict"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate line audit: split every document into
    sentence-level lines, find lines repeated across ≥2 DISTINCT
    documents (navigation chrome, license footers, cookie banners), and
    report per document its line count, boilerplate line count, and
    boilerplate ratio in ppm — the input to the "drop repeated lines /
    drop mostly-boilerplate docs" cleaning pass every web-corpus
    pipeline runs.

    Scale: lines explode linearly; the repeated-line table is one
    (line → distinct-doc count) hash aggregation; membership flows back
    over an equi-join on the line string (at 100 TB you'd key on a
    64-bit line hash — same plan). Counts are exact integers; the ratio
    is integer ppm."""
    d = load_table(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(split(text, '\\\\. '), x -> trim(x)),"
                f" x -> length(x) >= {_LINE_MIN_CHARS})"
            )
        ).alias("line"),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("line")
    )
    flagged = lines.join(
        boiler.withColumn("is_boiler", F.lit(1)), "line", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).alias(
                "n_boiler_lines"
            ),
        )
        .withColumn(
            "boiler_ppm",
            F.expr(
                "CAST(round(CAST(n_boiler_lines AS DOUBLE)"
                " / CAST(n_lines AS DOUBLE) * 1000000.0D) AS BIGINT)"
            ),
        )
    )


QUERIES = {
    "corpus_line_dedup": q_corpus_line_dedup,
    "corpus_ngram_novelty": q_corpus_ngram_novelty,
    "corpus_quality_composite": q_corpus_quality_composite,
    "corpus_length_quantiles": q_corpus_length_quantiles,
    "corpus_bloom_dedup": q_corpus_bloom_dedup,
    "doc_chunk_overlap": q_doc_chunk_overlap,
    "epoch_shuffle_plan": q_epoch_shuffle_plan,
    "sample_class_balance": q_sample_class_balance,
    "corpus_stats_summary": q_corpus_stats_summary,
    "corpus_decontaminate": q_corpus_decontaminate,
    "sample_temperature": q_sample_temperature,
    "dedup_clusters": q_dedup_clusters,
    "split_leakage_safe": q_split_leakage_safe,
    "pack_sequences": q_pack_sequences,
    "sample_stratified": q_sample_stratified,
    "corpus_mixture": q_corpus_mixture,
    "corpus_mix_weights": q_corpus_mix_weights,
    "corpus_dsir_importance": q_corpus_dsir_importance,
    "corpus_dedup_cascade": q_corpus_dedup_cascade,
}

ORACLES = {
    "corpus_quality_composite": """
        WITH sized AS (
            SELECT source,
                   len(list_filter(string_split(lower(text), ' '),
                       x -> x <> '')) AS nt,
                   len(list_distinct(list_filter(string_split(lower(text),
                       ' '), x -> x <> ''))) AS nd
            FROM documents
        )
        SELECT source,
               CASE WHEN nt < 25 THEN 'too_short'
                    WHEN nt > 90 THEN 'too_long'
                    WHEN nd * 100 < nt * 35 THEN 'low_diversity'
                    ELSE 'ok' END AS verdict,
               COUNT(*)::BIGINT AS n_docs
        FROM sized GROUP BY 1, 2
    """,
    "corpus_ngram_novelty": """
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS t
            FROM documents
        ), dg AS (
            SELECT DISTINCT doc_id, source,
                   array_to_string(t[i + 1 : i + 8], ' ') AS gram
            FROM toks, unnest(generate_series(0, len(t) - 8)) AS u(i)
            WHERE len(t) >= 8
        ), first AS (
            SELECT gram, min(doc_id) AS first_doc FROM dg GROUP BY gram
        )
        SELECT source,
               COUNT(*)::BIGINT AS n_grams,
               SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)::BIGINT
                   AS n_novel,
               CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                    * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
        FROM dg JOIN first USING (gram)
        GROUP BY source
    """,
    "corpus_line_dedup": f"""
        WITH lines AS (
            SELECT doc_id, line
            FROM (
                SELECT doc_id,
                       unnest(list_transform(string_split(text, '. '),
                                             x -> trim(x))) AS line
                FROM documents
            )
            WHERE length(line) >= {_LINE_MIN_CHARS}
        ), boiler AS (
            SELECT line FROM lines
            GROUP BY line HAVING count(DISTINCT doc_id) >= 2
        ), flagged AS (
            SELECT l.doc_id,
                   CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END
                       AS is_boiler
            FROM lines l LEFT JOIN boiler b ON l.line = b.line
        )
        SELECT doc_id,
               count(*) AS n_lines,
               CAST(SUM(is_boiler) AS BIGINT) AS n_boiler_lines,
               CAST(round(CAST(SUM(is_boiler) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) * 1000000.0) AS BIGINT)
                   AS boiler_ppm
        FROM flagged GROUP BY doc_id
    """,
    "corpus_mix_weights": """
        WITH per_src AS (
            SELECT source, count(*) AS n_docs,
                   SUM(len(list_filter(string_split(text, ' '),
                                       x -> x <> ''))) AS n_tokens
            FROM documents GROUP BY source
        ), totals AS (
            SELECT SUM(n_tokens) AS tot, count(*) AS n_src FROM per_src
        )
        SELECT source,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST((tot // 2) // n_src AS BIGINT) AS alloc_tokens,
               round(CAST((tot // 2) // n_src AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE), 6) AS sample_rate,
               CAST(((tot // 2) // n_src + n_tokens - 1) // n_tokens
                    AS BIGINT) AS n_epochs
        FROM per_src CROSS JOIN totals
    """,
    "corpus_length_quantiles": """
        WITH vc AS (
            SELECT source, n_chars, COUNT(*)::BIGINT AS c
            FROM documents GROUP BY 1, 2
        ),
        tot AS (SELECT source, SUM(c)::BIGINT AS n FROM vc GROUP BY source),
        cum AS (
            SELECT v.source, v.n_chars, t.n,
                   SUM(v.c) OVER (PARTITION BY v.source ORDER BY v.n_chars
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM vc v JOIN tot t ON v.source = t.source
        )
        SELECT source,
               MAX(n) AS n_docs,
               MIN(CASE WHEN cum >= CAST(ceil(CAST(n AS DOUBLE) * 0.5) AS BIGINT)
                        THEN n_chars END) AS p50_chars,
               MIN(CASE WHEN cum >= CAST(ceil(CAST(n AS DOUBLE) * 0.9) AS BIGINT)
                        THEN n_chars END) AS p90_chars,
               MIN(CASE WHEN cum >= CAST(ceil(CAST(n AS DOUBLE) * 0.99) AS BIGINT)
                        THEN n_chars END) AS p99_chars
        FROM cum
        GROUP BY source
    """,
    "corpus_bloom_dedup": """
        WITH d AS (
            SELECT doc_id, md5(text) AS dig FROM documents
        ),
        seen AS (SELECT doc_id, dig FROM d WHERE doc_id % 2 = 0),
        incoming AS (SELECT doc_id, dig FROM d WHERE doc_id % 2 = 1),
        hashes AS (SELECT unnest([0, 1, 2]) AS r),
        seen_pos AS (
            SELECT CAST(CAST('0x' || substr(dig, 1 + 7 * h.r, 7) AS BIGINT)
                        % 4096 AS BIGINT) AS pos
            FROM seen, hashes h
        ),
        bitmap AS (
            SELECT pos // 32 AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER))
                       AS wv
            FROM seen_pos GROUP BY pos // 32
        ),
        probe AS (
            SELECT i.doc_id, i.dig,
                   CAST(CAST('0x' || substr(i.dig, 1 + 7 * h.r, 7) AS BIGINT)
                        % 4096 AS BIGINT) AS pos
            FROM incoming i, hashes h
        ),
        probed AS (
            SELECT p.doc_id, p.dig,
                   bool_and(COALESCE(
                       b.wv & (CAST(1 AS BIGINT)
                               << CAST(p.pos % 32 AS INTEGER)), 0) <> 0)
                       AS maybe_dup
            FROM probe p LEFT JOIN bitmap b ON b.word = p.pos // 32
            GROUP BY p.doc_id, p.dig
        ),
        truth AS (
            SELECT pr.doc_id, pr.maybe_dup,
                   EXISTS (SELECT 1 FROM seen s WHERE s.dig = pr.dig)
                       AS is_true_dup
            FROM probed pr
        )
        SELECT COUNT(*)::BIGINT AS n_incoming,
               SUM(CASE WHEN maybe_dup THEN 1 ELSE 0 END)::BIGINT
                   AS n_maybe_dup,
               SUM(CASE WHEN maybe_dup THEN 0 ELSE 1 END)::BIGINT
                   AS n_definitely_new,
               SUM(CASE WHEN is_true_dup THEN 1 ELSE 0 END)::BIGINT
                   AS n_true_dup,
               SUM(CASE WHEN maybe_dup AND NOT is_true_dup THEN 1 ELSE 0 END)::BIGINT
                   AS n_false_positive
        FROM truth
    """,
    "epoch_shuffle_plan": """
        WITH ex AS (
            SELECT doc_id, unnest(range(0, 3)) AS epoch FROM documents
        ), keyed AS (
            SELECT CAST(epoch AS BIGINT) AS epoch,
                   (((doc_id + 1) % 2147483647) * 2654435761
                    + epoch * 1103515245) % 2147483647 AS k
            FROM ex
        )
        SELECT epoch, k % 8 AS shard,
               count(*) AS n_docs,
               min(k) AS min_key,
               max(k) AS max_key
        FROM keyed
        GROUP BY epoch, shard
    """,
    "doc_chunk_overlap": f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS w
            FROM documents
        ), nz AS (
            SELECT * FROM toks WHERE len(w) > 0
        ), st AS (
            SELECT doc_id, w,
                   unnest(range(0, len(w), {_CHUNK_STRIDE})) AS start,
                   generate_subscripts(range(0, len(w), {_CHUNK_STRIDE}), 1)
                       AS ord
            FROM nz
        )
        SELECT doc_id,
               CAST(ord - 1 AS BIGINT) AS chunk_idx,
               CAST(len(w[start + 1 : least(start + {_CHUNK_SIZE}, len(w))])
                    AS BIGINT) AS n_tokens,
               array_to_string(
                   w[start + 1 : least(start + {_CHUNK_SIZE}, len(w))], ' ')
                   AS chunk_text
        FROM st
    """,
    "sample_class_balance": f"""
        WITH sizes AS (
            SELECT lang, COUNT(*) AS n_before FROM documents GROUP BY lang
        ), target AS (
            SELECT MIN(n_before) AS n_target FROM sizes
        ), ranked AS (
            SELECT doc_id, lang, n_chars,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {_HASH_DUCK} ASC,
                                doc_id ASC
                   ) AS rk
            FROM documents
        ), kept AS (
            SELECT lang, n_chars FROM ranked, target WHERE rk <= n_target
        )
        SELECT k.lang,
               CAST(s.n_before AS BIGINT) AS n_before,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(k.n_chars) AS BIGINT) AS kept_chars
        FROM kept k JOIN sizes s USING (lang)
        GROUP BY k.lang, s.n_before
    """,
    "corpus_stats_summary": """
        WITH per_hash AS (
            SELECT source, sha256(text) AS h,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY source, sha256(text)
        )
        SELECT source,
               CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(SUM(chars) AS BIGINT) AS total_chars,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(round(1e4 * (SUM(n) - COUNT(*)) / SUM(n)) AS BIGINT)
                   AS dup_rate_u4,
               CAST(SUM(chars) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                   AS mean_chars
        FROM per_hash GROUP BY source
    """,
    "sample_temperature": f"""
        WITH counts AS (
            SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
        ), m AS (
            SELECT MIN(n_s) AS n_min FROM counts
        ), rates AS (
            SELECT source,
                   pow(CAST(n_min AS DOUBLE) / CAST(n_s AS DOUBLE), 0.7)
                       AS keep_rate
            FROM counts, m
        )
        SELECT d.doc_id, d.source,
               round(r.keep_rate, 6) AS keep_rate_r6,
               round(1.0 / r.keep_rate, 6) AS weight_r6
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE CAST({_HASH_DUCK} AS DOUBLE) < r.keep_rate * 4294967296.0
    """,
    "corpus_decontaminate": """
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS t
            FROM documents
        ), bench_grams AS (
            SELECT DISTINCT unnest(list_transform(
                       range(1, len(t) - 6),
                       i -> array_to_string(list_slice(t, i, i + 7), ' ')
                   )) AS gram
            FROM toks
            WHERE source IN ('src0', 'src1') AND len(t) >= 8
        ), train_grams AS (
            SELECT doc_id, source,
                   unnest(list_transform(
                       range(1, len(t) - 6),
                       i -> array_to_string(list_slice(t, i, i + 7), ' ')
                   )) AS gram
            FROM toks
            WHERE source NOT IN ('src0', 'src1') AND len(t) >= 8
        ), contaminated AS (
            SELECT DISTINCT doc_id, source
            FROM train_grams
            WHERE gram IN (SELECT gram FROM bench_grams)
        )
        SELECT d.source,
               COUNT(*) AS n_docs,
               coalesce(MAX(c.n), 0) AS n_contaminated
        FROM documents d
        LEFT JOIN (
            SELECT source, COUNT(*) AS n FROM contaminated GROUP BY source
        ) c ON d.source = c.source
        WHERE d.source NOT IN ('src0', 'src1')
        GROUP BY d.source
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE pairs AS (
            {verified_pairs_sql(0.7)}
        ), edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION
            SELECT doc_b AS s, doc_a AS d FROM pairs
        ), reach AS (
            SELECT s, d FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        ), comp AS (
            SELECT s AS doc_id, MIN(d) AS mn FROM reach GROUP BY s
        )
        SELECT dd.doc_id,
               COALESCE(LEAST(c.mn, dd.doc_id), dd.doc_id) AS canonical_id
        FROM documents dd LEFT JOIN comp c ON c.doc_id = dd.doc_id
    """,
    # same recursive-CTE component resolution as dedup_clusters, then
    # both hash splits labeled and the per-cluster distinct-split audit
    # folded in — by_cluster leakage is structurally 0, by_doc leakage
    # is whatever the data says, and both are hash-checked
    "split_leakage_safe": f"""
        WITH RECURSIVE pairs AS (
            {verified_pairs_sql(0.7)}
        ), edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION
            SELECT doc_b AS s, doc_a AS d FROM pairs
        ), reach AS (
            SELECT s, d FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        ), comp AS (
            SELECT s AS doc_id, MIN(d) AS mn FROM reach GROUP BY s
        ), clusters AS (
            SELECT dd.doc_id,
                   COALESCE(LEAST(c.mn, dd.doc_id), dd.doc_id)
                       AS canonical_id
            FROM documents dd LEFT JOIN comp c ON c.doc_id = dd.doc_id
        ), labeled AS (
            SELECT doc_id, canonical_id,
                   {_split_case("doc_id", "duck")} AS by_doc,
                   {_split_case("canonical_id", "duck")} AS by_cluster
            FROM clusters
        ), leak AS (
            SELECT
                (SELECT COUNT(*) FROM (
                    SELECT canonical_id FROM labeled GROUP BY canonical_id
                    HAVING COUNT(DISTINCT by_doc) > 1)) AS leak_doc,
                (SELECT COUNT(*) FROM (
                    SELECT canonical_id FROM labeled GROUP BY canonical_id
                    HAVING COUNT(DISTINCT by_cluster) > 1)) AS leak_cl
        )
        SELECT 'by_doc' AS scheme, by_doc AS split,
               COUNT(*)::BIGINT AS n_docs,
               SUM(doc_id)::BIGINT AS sum_doc_ids,
               (SELECT leak_doc FROM leak)::BIGINT AS n_leaky_clusters
        FROM labeled GROUP BY by_doc
        UNION ALL
        SELECT 'by_cluster', by_cluster,
               COUNT(*)::BIGINT, SUM(doc_id)::BIGINT,
               (SELECT leak_cl FROM leak)::BIGINT
        FROM labeled GROUP BY by_cluster
    """,
    "pack_sequences": """
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
            FROM t
        )
        SELECT doc_id, n_tokens, cum_before,
               cum_before // 512 AS seq_id,
               cum_before % 512 AS seq_offset
        FROM c
    """,
    "sample_stratified": f"""
        SELECT doc_id, lang, sample_rank FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY {_HASH_DUCK}, doc_id
                   ) AS sample_rank
            FROM documents
        ) WHERE sample_rank <= 10
    """,
    "corpus_mixture": f"""
        SELECT doc_id, lang,
               CASE lang WHEN 'en' THEN 4.0
                         WHEN 'zh' THEN 2.0
                         ELSE 1.0 END AS weight
        FROM documents
        WHERE {_HASH_DUCK} <
              CASE lang WHEN 'en' THEN 1073741824
                        WHEN 'zh' THEN 2147483648
                        ELSE 4294967296 END
    """,
    "corpus_dedup_cascade": f"""
        WITH pairs AS (
            SELECT doc_a, doc_b FROM ({verified_pairs_sql(0.7)})
        ), exact_rm AS (
            SELECT d.doc_id FROM documents d
            WHERE EXISTS (SELECT 1 FROM documents d2
                          WHERE d2.text = d.text AND d2.doc_id < d.doc_id)
        ), surv AS (
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM exact_rm)
        ), near_rm AS (
            SELECT DISTINCT s.doc_id FROM surv s
            WHERE EXISTS (
                SELECT 1 FROM pairs p JOIN surv s2 ON s2.doc_id = p.doc_a
                WHERE p.doc_b = s.doc_id
            )
        ), c AS (
            SELECT (SELECT COUNT(*) FROM documents) AS n0,
                   (SELECT COUNT(*) FROM exact_rm) AS e,
                   (SELECT COUNT(*) FROM near_rm) AS m
        )
        SELECT 'exact' AS stage,
               CAST(n0 AS BIGINT) AS n_in,
               CAST(e AS BIGINT) AS n_removed,
               CAST(n0 - e AS BIGINT) AS n_out
        FROM c
        UNION ALL
        SELECT 'near_dup',
               CAST(n0 - e AS BIGINT),
               CAST(m AS BIGINT),
               CAST(n0 - e - m AS BIGINT)
        FROM c
    """,
    "corpus_dsir_importance": f"""
        WITH toks AS (
            SELECT doc_id, lang, tok FROM (
                SELECT doc_id, lang,
                       unnest(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ), b AS (
            SELECT doc_id, lang,
                   ({tokval('tok')}) % {_DSIR_BUCKETS} AS bucket
            FROM toks
        ), cnt AS (
            SELECT bucket,
                   COUNT(*)::BIGINT AS src_n,
                   count_if(lang = 'en')::BIGINT AS tgt_n
            FROM b GROUP BY bucket
        ), tot AS (
            SELECT SUM(src_n)::BIGINT AS src_tot,
                   SUM(tgt_n)::BIGINT AS tgt_tot
            FROM cnt
        ), lr AS (
            SELECT bucket,
                   CAST(round((ln(CAST(tgt_n + 1 AS DOUBLE)
                                  / CAST(tgt_tot + {_DSIR_BUCKETS} AS DOUBLE))
                             - ln(CAST(src_n + 1 AS DOUBLE)
                                  / CAST(src_tot + {_DSIR_BUCKETS} AS DOUBLE)))
                              * 1e6) AS BIGINT) AS lr_u6
            FROM cnt CROSS JOIN tot
        ), scored AS (
            SELECT doc_id, lang,
                   COUNT(*)::BIGINT AS n_toks,
                   SUM(lr_u6)::BIGINT AS logw_u6
            FROM b JOIN lr USING (bucket)
            GROUP BY doc_id, lang
        )
        SELECT doc_id, lang, n_toks, logw_u6,
               CAST(row_number() OVER (
                    ORDER BY logw_u6 DESC, doc_id ASC) AS BIGINT) AS sel_rank
        FROM scored
        QUALIFY sel_rank <= {_DSIR_KEEP}
    """,
}
