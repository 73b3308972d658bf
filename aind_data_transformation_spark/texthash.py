"""Portable text-hashing primitives + near-duplicate detection operators.

The expression builders emit BOTH Spark SQL and DuckDB dialects from one
definition, so every operator built on them stays oracle-checkable (the
engine's standard is exact cross-engine reproducibility, not rows-only
spot checks — see queries/llm_text.py).

Hash design (all portable 64-bit integer arithmetic, no engine-specific
hash functions):
* token value   tokval(t) = len(t)*256 + ascii(first) + ascii(last)*7
* shingle value s_i = tv[i]*961 + tv[i+1]*31 + tv[i+2]   (token trigrams)
* minhash_i     min over shingles of (a_i * s + b_i) mod p,  p = 2^31-1

The DataFrame-level operators compose these into the production near-dup
pipeline: signatures -> LSH band buckets -> candidate pairs -> exact
verification. At 100 TB the band-key equi-join is the only shuffle and
bounds the pair blowup per bucket; the full cross product never exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from aind_data_transformation_spark.ops import (
    local_materializer,
    staged_parquet,
)

TOKS_SPARK = "split(text, ' ')"
TOKS_DUCK = "string_split(text, ' ')"

#: (a, b) coefficients of the 8 minhash permutations h_i(x) = (a*x+b) % p
MINHASH_COEFFS = [
    (1299721, 104729), (15485863, 32452843), (49979687, 67867967),
    (86028121, 15485867), (22801763, 49979693), (67867979, 86028157),
    (32452867, 1299743), (104729, 22801787),
]
MINHASH_P = 2147483647


def tokval(var: str) -> str:
    """Portable token->int64 (BIGINT from the start: Spark runs ANSI mode
    and int32 would overflow in the minhash multiply)."""
    return (
        f"(CAST(length({var}) AS BIGINT) * 256"
        f" + ascii(substr({var}, 1, 1))"
        f" + ascii(substr({var}, length({var}), 1)) * 7)"
    )


def tokvals_expr(toks: str, dialect: str) -> str:
    transform = "transform" if dialect == "spark" else "list_transform"
    return f"{transform}({toks}, t -> {tokval('t')})"


def shingles_expr(var: str, dialect: str) -> str:
    """Token-trigram shingle values from a token-value array column named
    ``var``; docs with fewer than 3 tokens fall back to raw token values."""
    if dialect == "spark":
        # spark sequence(1, n) is inclusive; element_at is 1-based
        tri = (
            f"transform(sequence(1, size({var}) - 2),"
            f" i -> element_at({var}, i) * 961"
            f" + element_at({var}, i + 1) * 31"
            f" + element_at({var}, i + 2))"
        )
        return f"CASE WHEN size({var}) >= 3 THEN {tri} ELSE {var} END"
    # duckdb range(1, n) is exclusive; list indexing is 1-based
    tri = (
        f"list_transform(range(1, len({var}) - 1),"
        f" i -> {var}[i] * 961 + {var}[i+1] * 31 + {var}[i+2])"
    )
    return f"CASE WHEN len({var}) >= 3 THEN {tri} ELSE {var} END"


def minhash_from_shingles(i: int, var: str, dialect: str) -> str:
    a, b = MINHASH_COEFFS[i]
    transform = "transform" if dialect == "spark" else "list_transform"
    amin = "array_min" if dialect == "spark" else "list_min"
    return (
        f"{amin}({transform}({var},"
        f" v -> (CAST({a} AS BIGINT) * v + {b}) % {MINHASH_P}))"
    )


def trigram_set_expr(toks: str, dialect: str) -> str:
    """Distinct token-trigram strings (for exact Jaccard verification)."""
    if dialect == "spark":
        return (
            f"array_distinct(CASE WHEN size({toks}) >= 3 THEN "
            f"transform(sequence(1, size({toks}) - 2),"
            f" i -> concat_ws(' ', {toks}[i-1], {toks}[i], {toks}[i+1]))"
            " ELSE array() END)"
        )
    return (
        f"CASE WHEN len({toks}) >= 3 THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - 1),"
        f" i -> concat_ws(' ', {toks}[i], {toks}[i+1], {toks}[i+2])))"
        " ELSE [] END"
    )


def candidate_tris_cte() -> str:
    """Shared DuckDB WITH-clause prefix over ``documents``: minhash
    signatures -> LSH bands -> candidate pairs (``cands``: doc_a < doc_b)
    plus per-doc trigram sets (``tris``). Every oracle built on the
    near-dup pipeline (Jaccard verification, containment) composes this
    one definition so the candidate set can never drift between keys."""
    mh = ",\n                   ".join(
        f"{minhash_from_shingles(i, 'shingle_vals', 'duck')} AS mh{i}"
        for i in range(8)
    )
    return f"""
        WITH tv AS (
            SELECT doc_id,
                   {tokvals_expr(TOKS_DUCK, 'duck')} AS tok_vals
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   {shingles_expr('tok_vals', 'duck')} AS shingle_vals
            FROM tv
        ), sig AS (
            SELECT doc_id,
                   {mh}
            FROM sh
        ), banded AS (
            SELECT doc_id,
                   concat_ws('_', mh0, mh1, mh2, mh3) AS band1,
                   concat_ws('_', mh4, mh5, mh6, mh7) AS band2
            FROM sig
        ), cands AS (
            SELECT DISTINCT doc_a, doc_b FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
                UNION ALL
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b ON a.band2 = b.band2 AND a.doc_id < b.doc_id
            )
        ), tris AS (
            SELECT doc_id, {trigram_set_expr(TOKS_DUCK, 'duck')} AS tri
            FROM documents
        )
    """


def verified_pairs_sql(threshold: float = 0.7) -> str:
    """DuckDB twin of :func:`verified_near_dups` over the ``documents``
    table: emits ``(doc_a, doc_b, jaccard)`` for every LSH-candidate pair
    whose exact trigram Jaccard is >= ``threshold``."""
    return f"""{candidate_tris_cte()}
        SELECT doc_a, doc_b,
               CAST(len(list_intersect(ta.tri, tb.tri)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(ta.tri, tb.tri))) AS DOUBLE)
                 AS jaccard
        FROM cands
        JOIN tris ta ON ta.doc_id = doc_a
        JOIN tris tb ON tb.doc_id = doc_b
        WHERE len(list_distinct(list_concat(ta.tri, tb.tri))) > 0
          AND CAST(len(list_intersect(ta.tri, tb.tri)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(ta.tri, tb.tri))) AS DOUBLE)
              >= {threshold}
    """


def token_grams_expr(toks: str) -> str:
    """Spark SQL array of the contiguous 8-token windows of the token
    array column ``toks``, each joined by single spaces. The builder
    references ``toks`` three times, so pass a column that was split once
    (a projected array), never a ``split(...)`` call; rows must hold at
    least 8 tokens."""
    return (
        f"transform(sequence(0, size({toks}) - 8),"
        f" i -> concat_ws(' ', slice({toks}, i + 1, 8)))"
    )


# --- DataFrame-level operators --------------------------------------------


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """8 minhash values over token-trigram shingles of ``text_col``.
    Pure column expressions — no shuffle, stays in codegen."""
    toks = f"split({text_col}, ' ')"
    vals = df.select(
        id_col, F.expr(tokvals_expr(toks, "spark")).alias("__tv")
    ).select(id_col, F.expr(shingles_expr("__tv", "spark")).alias("__sh"))
    sigs = [
        F.expr(minhash_from_shingles(i, "__sh", "spark")).alias(f"mh{i}")
        for i in range(8)
    ]
    return vals.select(id_col, *sigs)


def token_grams(
    df: DataFrame, keep: list[str], toks: str = TOKS_SPARK
) -> DataFrame:
    """``(*keep, gram)``: one row per 8-token window of each row's
    ``toks`` expression (see :func:`token_grams_expr`). The text is split
    once per row; rows with fewer than 8 tokens yield no grams."""
    return (
        df.select(*keep, F.expr(toks).alias("__toks"))
        .where(F.size("__toks") >= 8)
        .select(
            *keep, F.explode(F.expr(token_grams_expr("__toks"))).alias("gram")
        )
    )


def lsh_candidate_pairs(
    sig_df: DataFrame, id_col: str, materializer=None
) -> DataFrame:
    """Band the 8-value signature into 2 bands of 4; docs sharing a band
    key become candidate pairs (id_a < id_b). One equi-join shuffle per
    band, bounded by bucket sizes.

    The banded table is materialized once (``localCheckpoint``): it feeds
    FOUR plan branches (2 bands x 2 self-join sides), and without
    materialization Spark re-runs the minhash transforms — the expensive
    part of the whole pipeline — for every branch. The signature table is
    ~40 bytes/doc, orders of magnitude smaller than the corpus, so
    persisting it is the right call at 100 TB too — pass
    ``ops.parquet_materializer(dir)`` as ``materializer`` there so the
    stage is durable instead of executor-local."""
    mat = materializer or local_materializer
    banded = mat(
        sig_df.select(
            id_col,
            F.concat_ws("_", "mh0", "mh1", "mh2", "mh3").alias("band1"),
            F.concat_ws("_", "mh4", "mh5", "mh6", "mh7").alias("band2"),
        ),
        "lsh_banded",
    )
    pairs = None
    for band in ("band1", "band2"):
        a = banded.select(F.col(id_col).alias("id_a"), F.col(band).alias("bk"))
        b = banded.select(F.col(id_col).alias("id_b"), F.col(band).alias("bk"))
        p = (
            a.join(b, "bk")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct()


def candidate_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    materializer=None,
) -> DataFrame:
    """Every LSH candidate pair with its exact trigram Jaccard —
    UNFILTERED (``verified_near_dups`` is the >= threshold view of this;
    the LSH-tier precision eval consumes it whole).

    Columns: id_a, id_b, jaccard. The verify join brings the trigram sets
    to the (small) candidate set, not the other way around: trigram sets
    are computed only for docs that appear in some candidate pair (a
    left-semi join placed BEFORE the transform, so the shingling cost
    scales with the candidate set, not the corpus) and materialized once
    for the two probe sides. ``materializer`` selects the stage storage
    (default executor-local checkpoint; parquet for cluster runs)."""
    mat = materializer or local_materializer
    cands = mat(
        lsh_candidate_pairs(
            minhash_signatures(df, id_col, text_col),
            id_col,
            materializer=mat,
        ),
        "lsh_cands",
    )
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    tris = mat(
        df.join(cand_ids, id_col, "left_semi")
        # tokenize once: trigram_set_expr references its array 5 times
        .select(F.col(id_col), F.expr(f"split({text_col}, ' ')").alias("__toks"))
        .select(
            F.col(id_col),
            F.expr(trigram_set_expr("__toks", "spark")).alias("__tri"),
        ),
        "verify_trigrams",
    )
    a = tris.select(F.col(id_col).alias("id_a"), F.col("__tri").alias("tri_a"))
    b = tris.select(F.col(id_col).alias("id_b"), F.col("__tri").alias("tri_b"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("tri_a", "tri_b")).cast("double")
    union = F.size(F.array_union("tri_a", "tri_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return joined.select("id_a", "id_b", jac.alias("jaccard"))


def verified_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    materializer=None,
) -> DataFrame:
    """The full production near-dup pipeline: LSH candidates -> exact
    trigram-Jaccard verification -> pairs >= threshold (see
    :func:`candidate_jaccard` for the pipeline shape)."""
    return candidate_jaccard(
        df, id_col, text_col, materializer=materializer
    ).where(F.col("jaccard") >= threshold)


def verified_near_dups_docs(spark, sf_dir: str, threshold: float = 0.7):
    """`verified_near_dups` over the documents table, staged once per
    (session, sf_dir, threshold): the LSH + exact-Jaccard pass is the
    expensive common prefix of dedup_minhash_verified, dedup_clusters and
    corpus_dedup_cascade. Columns: (id_a, id_b, jaccard)."""
    from aind_data_transformation_spark.io.sources import load_table

    return staged_parquet(
        spark,
        ("verified_pairs", sf_dir, threshold),
        lambda: verified_near_dups(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            threshold=threshold,
        ),
    )

