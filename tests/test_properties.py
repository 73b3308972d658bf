"""Property-based tests (hypothesis) for the algorithmic library operators
in ``ops.py`` — randomized inputs vs brute-force reference semantics,
covering the edge shapes the fixed test tables never hit (empty groups,
ties at the boundary, keys on one side only)."""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F, types as T

from tests.conftest import TEST_SF_DIR

from aind_data_transformation_spark.ops import (
    asof_join,
    connected_components,
    dedup_keep_first,
    hash_sample,
    topk_per_group,
)

_SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_key = st.integers(min_value=0, max_value=3)
_ts = st.integers(min_value=0, max_value=20)

_LEFT_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("event_id", T.LongType()),
    ]
)
_RIGHT_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("val", T.LongType()),
    ]
)


@_SLOW
@given(
    left=st.lists(st.tuples(_key, _ts), min_size=0, max_size=15),
    right=st.lists(st.tuples(_key, _ts, st.integers(0, 99)), min_size=0, max_size=15),
)
def test_asof_join_matches_brute_force(spark, left, right):
    # precondition: right unique per (k, ts) — keep max val like prod code
    rmap = {}
    for k, ts, v in right:
        rmap[(k, ts)] = max(v, rmap.get((k, ts), -1))
    right_rows = [(k, ts, v) for (k, ts), v in rmap.items()]
    left_rows = [(k, ts, i) for i, (k, ts) in enumerate(left)]

    ldf = spark.createDataFrame(left_rows, _LEFT_SCHEMA)
    rdf = spark.createDataFrame(right_rows, _RIGHT_SCHEMA)
    got = {
        r.event_id: r.val
        for r in asof_join(ldf, rdf, on="k", ts="ts", value_cols=["val"]).collect()
    }

    want = {}
    for k, ts, eid in left_rows:
        candidates = [(rts, v) for (rk, rts), v in rmap.items() if rk == k and rts <= ts]
        want[eid] = max(candidates)[1] if candidates else None
    assert got == want


@_SLOW
@given(
    rows=st.lists(
        st.tuples(_key, st.integers(0, 9), st.integers(0, 999)),
        min_size=0,
        max_size=30,
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_topk_per_group_matches_brute_force(spark, rows, k):
    rows = [(g, val, uid) for uid, (g, val, _) in enumerate(rows)]
    df = spark.createDataFrame(rows, "g long, val long, uid long")
    got = sorted(
        (r.g, r.val, r.uid, r.rank)
        for r in topk_per_group(
            df, ["g"], [F.col("val").desc(), F.col("uid").asc()], k
        ).collect()
    )
    want = []
    for g in {r[0] for r in rows}:
        grp = sorted(
            [r for r in rows if r[0] == g], key=lambda r: (-r[1], r[2])
        )
        want.extend((g, val, uid, i + 1) for i, (g, val, uid) in enumerate(grp[:k]))
    assert got == sorted(want)


@_SLOW
@given(
    rows=st.lists(
        st.tuples(_key, st.integers(0, 5), st.integers(0, 99)),
        min_size=0,
        max_size=30,
    )
)
def test_dedup_keep_first_is_deterministic_min(spark, rows):
    rows = [(k, o, uid) for uid, (k, o, _) in enumerate(rows)]
    df = spark.createDataFrame(rows, "k long, o long, uid long")
    got = sorted(
        (r.k, r.o, r.uid)
        for r in dedup_keep_first(df, ["k"], [F.col("o").asc(), F.col("uid").asc()]).collect()
    )
    want = sorted(
        min((r for r in rows if r[0] == k), key=lambda r: (r[1], r[2]))
        for k in {r[0] for r in rows}
    )
    assert got == want


@_SLOW
@given(
    money=st.lists(
        st.integers(min_value=-10**9, max_value=10**9).map(lambda c: c / 100.0),
        min_size=1,
        max_size=50,
    )
)
def test_cents_sum_is_exact(spark, money):
    """Integer-cents aggregation equals exact Decimal arithmetic for any
    2-decimal inputs, regardless of partitioning/order."""
    from aind_data_transformation_spark.queries.numeric import money_sum

    df = spark.createDataFrame([(x,) for x in money], "v double").repartition(4)
    got = df.agg(money_sum("v").alias("s")).collect()[0].s
    want = float(sum(Decimal(str(x)) for x in money))
    assert got == pytest.approx(want, abs=0)


def test_hash_sample_consistent_and_partition_independent(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    a = {r.k for r in hash_sample(df, "k", 0.2).collect()}
    b = {r.k for r in hash_sample(df.repartition(13), "k", 0.2).collect()}
    assert a == b
    assert 0.15 < len(a) / 5000 < 0.25
    # nested property: sample(0.1) ⊂ sample(0.2) — consistent thresholds
    c = {r.k for r in hash_sample(df, "k", 0.1).collect()}
    assert c <= a


def test_ann_variants_recall_vs_brute_force(spark):
    """The approximate searches (IVF cells, LSH buckets, PQ codes) must
    actually find most of the true neighbors, not just execute: recall@5
    against the exact brute-force top-5 must clear a floor for each
    variant. Guards against a refactor that silently breaks bucketing
    (e.g. every query landing in an empty cell still 'passes' the
    oracle, which only pins the approximate result, not its quality)."""
    from tests.conftest import TEST_SF_DIR

    from aind_data_transformation_spark.queries.llm_vectors import (
        q_ann_ivf_topk,
        q_ann_ivfpq_topk,
        q_ann_lsh_topk,
        q_ann_pq_topk,
        q_sim_search_topk,
    )

    def topsets(df):
        out = {}
        for r in df.select("query_id", "neighbor_id").collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topsets(q_sim_search_topk(spark, TEST_SF_DIR))
    floors = {
        # k-means 64-cell quantizer, nprobe=4: measured 0.76 at sf0.001,
        # 0.96 at sf0.1 — the r5 8-cell sign-bit gate scored 0.70 while
        # scanning 50% of the corpus; this scans ~7%
        q_ann_ivf_topk: 0.6,
        q_ann_lsh_topk: 0.35,  # nprobe=5 Hamming-1 multi-probe
        q_ann_pq_topk: 0.6,  # PQ reranks exactly, should be closest
        # IVFADC composition: bounded by the cell gate (same as IVF);
        # the ADC cut costs little recall on top of it
        q_ann_ivfpq_topk: 0.5,
    }
    for fn, floor in floors.items():
        approx = topsets(fn(spark, TEST_SF_DIR))
        hits = sum(
            len(exact[q] & approx.get(q, set())) for q in exact
        )
        total = sum(len(v) for v in exact.values())
        recall = hits / total
        assert recall >= floor, (
            f"{fn.__name__}: recall@5 {recall:.2f} below floor {floor}"
        )


def test_ivf_scan_fraction_bounded(spark):
    """The IVF probe must actually prune: the number of (query,
    candidate) pairs the exact-cosine scan touches is bounded by
    2.5 × (nprobe / k) × N × n_queries — the nominal scan fraction with
    headroom for cell-size skew — where k is the AUTO-SIZED cluster
    count (clamp(ceil(sqrt(N)), 4, 256), r6 verdict item #1). The r5
    8-cell sign-bit quantizer scanned 50% of the corpus per query and
    would fail this at ~8× the bound."""
    from tests.conftest import TEST_SF_DIR

    from aind_data_transformation_spark.queries.llm_vectors import (
        _IVF_NPROBE,
        _N_QUERIES,
        _auto_k,
        _ivf_scored,
    )
    from aind_data_transformation_spark.io.sources import load_table

    n = load_table(spark, TEST_SF_DIR, "embeddings").count()
    k = _auto_k(n)
    scanned = _ivf_scored(spark, TEST_SF_DIR).count()
    bound = 2.5 * (_IVF_NPROBE / k) * n * _N_QUERIES
    assert scanned <= bound, (
        f"IVF scanned {scanned} candidate pairs > bound {bound:.0f} "
        f"(nominal {(_IVF_NPROBE / k) * n * _N_QUERIES:.0f})"
    )


def test_nprobe_tradeoff_monotone(spark):
    """The tuning table's defining property: widening the probe set can
    only add candidates, so BOTH the scanned-candidate count and the
    recall must be non-decreasing in nprobe (recall monotonicity holds
    because the top-k over a superset of candidates can only gain true
    neighbors — every candidate visible at nprobe n is visible at
    n' > n, and ranking is by exact cosine). Also pins the endpoints:
    the nprobe=4 row must agree exactly with the production
    `ann_ivf_topk` key's recall, and the widest setting must scan
    strictly more than the narrowest (else the sweep measured
    nothing)."""
    from tests.conftest import TEST_SF_DIR

    from aind_data_transformation_spark.queries.llm_vectors import (
        q_ann_nprobe_tradeoff,
    )

    rows = sorted(
        q_ann_nprobe_tradeoff(spark, TEST_SF_DIR).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in rows] == [1, 2, 4, 8]
    for lo, hi in zip(rows, rows[1:]):
        assert hi["n_scanned"] >= lo["n_scanned"]
        assert hi["recall_r6"] >= lo["recall_r6"]
    assert rows[-1]["n_scanned"] > rows[0]["n_scanned"]
    # recall floor at the production setting (matches the ivf floor in
    # test_ann_variants_recall_vs_brute_force)
    by_np = {r["nprobe"]: r for r in rows}
    assert by_np[4]["recall_r6"] >= 0.6


def test_lloyd_training_input_bounded(spark):
    """The quantizer must train on a BOUNDED sample (r6 verdict item
    #1): the rows the trainer reads are capped at
    k × _TRAIN_PTS_PER_CENTROID, and the cap actually bites at the test
    corpus (cap < N), so the FAISS-style sampled path is exercised, not
    just theoretically present."""
    from tests.conftest import TEST_SF_DIR

    from aind_data_transformation_spark.queries.llm_vectors import (
        _TRAIN_PTS_PER_CENTROID,
        _auto_k,
    )
    from aind_data_transformation_spark.io.sources import load_table
    from pyspark.sql import functions as F

    em = load_table(spark, TEST_SF_DIR, "embeddings")
    n = em.count()
    k = _auto_k(n)
    cap = k * _TRAIN_PTS_PER_CENTROID
    assert cap < n, (
        f"training cap {cap} does not bite at N={n} — the sampled"
        " trainer is untested at this scale factor"
    )
    # reproduce the trainer's sample definition and check its size
    sample = (
        em.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(cap)
        .collect()
    )
    assert len(sample) == cap <= n


def test_png_decoder_handles_all_implemented_filters():
    """The pixel decoder must reconstruct correctly under every filter
    it claims (None/Sub/Up): hand-build a PNG whose three scanlines each
    use a different filter and check the recovered channel sums against
    numpy ground truth. The pipeline's encoder only emits None/Sub, so
    this is the only coverage the Up branch gets."""
    import struct
    import zlib

    import numpy as np
    import pandas as pd

    from aind_data_transformation_spark.queries.llm_vectors import (
        _decode_png_pixels,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(3, 4, 3), dtype=np.uint8)
    flat = img.reshape(3, 12).astype(np.int64)

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    lines = [b"\x00" + flat[0].astype(np.uint8).tobytes()]  # None
    sub = flat[1].copy()
    sub[3:] = (flat[1][3:] - flat[1][:-3]) % 256
    lines.append(b"\x01" + sub.astype(np.uint8).tobytes())  # Sub
    up = (flat[2] - flat[1]) % 256
    lines.append(b"\x02" + up.astype(np.uint8).tobytes())  # Up
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )
    out = next(
        _decode_png_pixels(iter([pd.DataFrame({"doc_id": [0], "payload": [png]})]))
    )
    row = out.iloc[0]
    px = img.astype(np.int64)
    assert (row["width"], row["height"]) == (4, 3)
    assert row["crc_ok"]
    assert row["sum_r"] == px[:, :, 0].sum()
    assert row["sum_g"] == px[:, :, 1].sum()
    assert row["sum_b"] == px[:, :, 2].sum()
    # corrupted CRC must be reported, not silently accepted
    bad = bytearray(png)
    bad[-5] ^= 0xFF  # flip a byte inside IEND's CRC
    out_bad = next(
        _decode_png_pixels(
            iter([pd.DataFrame({"doc_id": [0], "payload": [bytes(bad)]})])
        )
    )
    assert not out_bad.iloc[0]["crc_ok"]


def test_lloyd_cache_isolated_by_corpus_and_k(spark):
    """The trained-quantizer cache must key on (session, sf_dir, k): a
    collision across corpora or cluster counts would silently serve one
    corpus's cells to another's probes — hash-green at the checked SF
    and wrong everywhere else."""
    import os

    from aind_data_transformation_spark import ops
    from aind_data_transformation_spark.queries.llm_vectors import (
        _lloyd_rounds,
    )

    fixtures = os.path.dirname(TEST_SF_DIR)
    small, big = (os.path.join(fixtures, s) for s in ("sf0.001", "sf0.01"))
    _, a_small, _, _ = _lloyd_rounds(spark, small, k=4)
    _, a_big, _, _ = _lloyd_rounds(spark, big, k=4)
    _, a_k8, _, _ = _lloyd_rounds(spark, small, k=8)
    app = spark.sparkContext.applicationId
    entries = [
        ops._STAGES[(app, "lloyd", sf, k)]
        for sf, k in ((small, 4), (big, 4), (small, 8))
    ]
    assert len({id(e) for e in entries}) == 3
    assert len({e["scratch"] for e in entries}) == 3
    for e, a2 in zip(entries, (a_small, a_big, a_k8)):
        assert e["value"][1] is a2
    # same corpus, different k -> different cell structure
    assert a_small is not a_k8
    assert a_k8.select("cid").distinct().count() > a_small.select(
        "cid"
    ).distinct().count()
    # repeat call returns the identical cached frames
    _, again, _, _ = _lloyd_rounds(spark, small, k=4)
    assert again is a_small


def test_semdedup_k_parameterized_and_pair_bounded(spark, oracle):
    """SemDeDup's cluster count is a real knob (r5 verdict item #4):
    Spark and the generated DuckDB oracle stay hash-identical at TWO
    different k values, and the within-cell candidate-pair count obeys
    the Σ|cell|·(|cell|-1)/2 ≤ N²/k scale bound that makes the operator
    survive a growing corpus (k scales ~sqrt(N) in production)."""
    from tests.conftest import TEST_SF_DIR, assert_matches_oracle

    from aind_data_transformation_spark.queries.llm_vectors import (
        _dedup_semantic_impl,
        _lloyd_rounds,
        _semdedup_oracle,
    )

    for k in (4, 8):
        assert_matches_oracle(
            _dedup_semantic_impl(spark, TEST_SF_DIR, k),
            oracle,
            _semdedup_oracle(k),
            label=f"dedup_semantic k={k}",
        )
        _, a2, _, _ = _lloyd_rounds(spark, TEST_SF_DIR, k=k)
        sizes = [r["n"] for r in a2.groupBy("cid").agg(
            F.count(F.lit(1)).alias("n")).collect()]
        n = sum(sizes)
        pairs = sum(s * (s - 1) // 2 for s in sizes)
        assert pairs <= n * n / k, (
            f"k={k}: {pairs} within-cell pairs exceeds N²/k = {n * n / k:.0f}"
        )


@_SLOW
@given(
    left=st.lists(st.tuples(_key, _ts), min_size=0, max_size=15),
    right=st.lists(
        st.tuples(_key, _ts, st.integers(0, 99)), min_size=0, max_size=15
    ),
    tol=st.integers(min_value=0, max_value=8),
)
def test_asof_tolerance_matches_pandas_merge_asof(spark, left, right, tol):
    """Differential test against pandas.merge_asof(tolerance=...): the
    industry-reference as-of semantics (backward, inclusive, stale match
    dropped when delta > tolerance)."""
    import pandas as pd

    rmap = {}
    for k, ts, v in right:
        rmap[(k, ts)] = max(v, rmap.get((k, ts), -1))
    right_rows = [(k, ts, v) for (k, ts), v in rmap.items()]
    left_rows = [(k, ts, i) for i, (k, ts) in enumerate(left)]

    ldf = spark.createDataFrame(left_rows, _LEFT_SCHEMA)
    rdf = spark.createDataFrame(right_rows, _RIGHT_SCHEMA)
    got = {
        r.event_id: r.val
        for r in asof_join(
            ldf, rdf, on="k", ts="ts", value_cols=["val"],
            tolerance_seconds=tol,
        ).collect()
    }

    lp = pd.DataFrame(left_rows, columns=["k", "ts", "event_id"]).sort_values(
        ["ts", "event_id"]
    )
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "val"]).sort_values(
        ["ts", "k"]
    )
    if len(lp) and len(rp):
        merged = pd.merge_asof(
            lp, rp, on="ts", by="k", direction="backward", tolerance=tol
        )
        want = {
            int(r.event_id): (None if pd.isna(r.val) else int(r.val))
            for r in merged.itertuples()
        }
    else:
        want = {int(eid): None for _, _, eid in left_rows}
    assert got == want


def test_quantile_bins_partition_all_rows(spark):
    """The decile binning must partition the input exactly: bucket ids
    0..9, per-bucket counts summing to the table count, and bucket spans
    non-overlapping in order."""
    from aind_data_transformation_spark.queries.ml_prep import q_quantile_bins
    from tests.conftest import TEST_SF_DIR

    rows = {
        r["bucket"]: r
        for r in q_quantile_bins(spark, TEST_SF_DIR).collect()
    }
    orders = spark.read.parquet(f"{TEST_SF_DIR}/orders.parquet")
    assert sum(r["n"] for r in rows.values()) == orders.count()
    assert set(rows) <= set(range(10))
    spans = [rows[b] for b in sorted(rows)]
    for lo, hi in zip(spans, spans[1:]):
        assert lo["max_cents"] <= hi["min_cents"]



def _union_find_components(edges):
    """Driver-side reference: node -> smallest node id of its component
    (union by smaller root, so every root is its set's minimum)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


@st.composite
def _edge_lists(draw):
    """Disjoint pieces over randomly permuted ids — long chains, stars,
    isolated pairs and dense random blobs — plus reversed duplicate
    edges and self-loops (some on otherwise isolated ids)."""
    ids = draw(st.permutations(range(200)))
    edges, used = [], 0
    kinds = ["chain", "star", "pair", "blob"]
    for kind in draw(st.lists(st.sampled_from(kinds), min_size=1, max_size=4)):
        size = 2 if kind == "pair" else draw(st.integers(2, 48))
        nodes = ids[used:used + size]
        used += size
        if kind == "chain":
            edges += list(zip(nodes, nodes[1:]))
        elif kind == "star":
            edges += [(nodes[0], n) for n in nodes[1:]]
        elif kind == "pair":
            edges.append((nodes[0], nodes[1]))
        else:
            pick = st.sampled_from(nodes)
            edges += draw(st.lists(st.tuples(pick, pick), min_size=1, max_size=40))
    dups = draw(st.lists(st.sampled_from(edges), max_size=5))
    loops = draw(st.lists(st.sampled_from(ids), max_size=3))
    return edges + [(b, a) for a, b in dups] + [(v, v) for v in loops]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edge_lists())
def test_connected_components_matches_union_find(spark, edges):
    """Hooking + pointer jumping gives every node its component minimum,
    exactly as a union-find does — including 48-node chains, which
    one-hop label propagation could not finish in the default 25 rounds."""
    schema = T.StructType(
        [T.StructField("s", T.LongType()), T.StructField("d", T.LongType())]
    )
    df = spark.createDataFrame(edges, schema)
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, "s", "d").collect()
    }
    assert got == _union_find_components(edges)


_GRAPH_ROUNDS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
_node = st.integers(min_value=0, max_value=11)


@st.composite
def _weighted_edges(draw):
    """Directed ``(u, v, w)`` edges over a few nodes, weights 1–5, with
    repeated pairs at other weights and isolated pairs far from the
    rest."""
    edges = draw(
        st.lists(
            st.tuples(_node, _node, st.integers(1, 5)), min_size=1, max_size=24
        )
    )
    dups = [
        (u, v, draw(st.integers(1, 5)))
        for u, v, _ in draw(st.lists(st.sampled_from(edges), max_size=4))
    ]
    pairs = [
        (100 + 2 * i, 101 + 2 * i, draw(st.integers(1, 5)))
        for i in range(draw(st.integers(0, 2)))
    ]
    return edges + dups + pairs


@st.composite
def _symmetric_edges(draw):
    """Both directions of random undirected pairs, repeats included."""
    half = draw(
        st.lists(
            st.tuples(_node, _node).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=24,
        )
    )
    return half + [(v, u) for u, v in half]


def _edge_frame(spark, edges, cols):
    schema = T.StructType([T.StructField(c, T.LongType()) for c in cols])
    return spark.createDataFrame(edges, schema)


@_GRAPH_ROUNDS
@given(edges=_weighted_edges(), rounds=st.integers(1, 4))
def test_shortest_paths_matches_synchronous_relaxation(spark, edges, rounds):
    """Each round relaxes every edge from the PREVIOUS round's distances
    (synchronous Bellman-Ford), from the minimum source at 0."""
    from aind_data_transformation_spark.queries.graph import _shortest_paths

    want = {min(u for u, _, _ in edges): 0}
    for _ in range(rounds):
        nxt = dict(want)
        for u, v, w in edges:
            if u in want:
                nxt[v] = min(nxt.get(v, want[u] + w), want[u] + w)
        want = nxt
    df = _edge_frame(spark, edges, ["u", "v", "w"])
    got = {r["node"]: r["dist"] for r in _shortest_paths(df, rounds).collect()}
    assert got == want


@_GRAPH_ROUNDS
@given(
    edges=_symmetric_edges(),
    k=st.integers(1, 3),
    rounds=st.integers(1, 3),
)
def test_k_core_peel_matches_reference(spark, edges, k, rounds):
    """A round keeps the edges whose endpoints both have degree >= k in
    the previous round's edge multiset."""
    from collections import Counter

    from aind_data_transformation_spark.queries.graph import _k_core_peel

    want = list(edges)
    for _ in range(rounds):
        deg = Counter(u for u, _ in want)
        want = [(u, v) for u, v in want if deg[u] >= k and deg[v] >= k]
    df = _edge_frame(spark, edges, ["u", "v"])
    got = [tuple(r) for r in _k_core_peel(df, k, rounds).collect()]
    assert sorted(got) == sorted(want)


@_GRAPH_ROUNDS
@given(
    edges=st.lists(st.tuples(_node, _node), min_size=1, max_size=30),
    rounds=st.integers(1, 3),
)
def test_label_propagation_matches_reference(spark, edges, rounds):
    """Every ``u`` takes the label most common among its ``v`` neighbours'
    previous labels, ties to the smaller label; a ``u`` whose neighbours
    all lack a label drops out, as in the inner join."""
    from collections import Counter

    from aind_data_transformation_spark.queries.graph import _label_propagation

    want = {u: u for u, _ in edges}
    for _ in range(rounds):
        votes = Counter((u, want[v]) for u, v in edges if v in want)
        best: dict = {}
        for (u, label), cnt in votes.items():
            best[u] = min(best.get(u, (-cnt, label)), (-cnt, label))
        want = {u: label for u, (_, label) in best.items()}
    df = _edge_frame(spark, edges, ["u", "v"])
    got = {
        r["node"]: r["label"] for r in _label_propagation(df, rounds).collect()
    }
    assert got == want


def test_bfs_distances_consistent_with_edges(spark):
    """BFS output sanity: the seed has distance 0; every other reached
    node at distance d has at least one neighbor at distance d-1."""
    from aind_data_transformation_spark.queries.graph import (
        _copurchase_edges,
        q_graph_bfs_frontier,
    )
    from tests.conftest import TEST_SF_DIR

    dist = {r["part"]: r["dist"] for r in q_graph_bfs_frontier(spark, TEST_SF_DIR).collect()}
    edges = [
        (r["u"], r["v"]) for r in _copurchase_edges(spark, TEST_SF_DIR).collect()
    ]
    nbrs: dict = {}
    for u, v in edges:
        nbrs.setdefault(v, set()).add(u)
    seed = min(u for u, _ in edges)
    assert dist[seed] == 0
    for node, d in dist.items():
        if d == 0:
            assert node == seed
        else:
            assert any(dist.get(n) == d - 1 for n in nbrs.get(node, ()))


def test_session_paths_agree_with_sessionize_gap(spark):
    """The path aggregation must produce exactly one row per
    (user, session) of sessionize_gap, with matching event counts —
    the two sessionizations can never drift apart."""
    from aind_data_transformation_spark.queries.ml_prep import q_session_paths
    from aind_data_transformation_spark.queries.training_prep import (
        q_sessionize_gap,
    )
    from tests.conftest import TEST_SF_DIR

    paths = {
        (r["user_id"], r["session_idx"]): r["n_events"]
        for r in q_session_paths(spark, TEST_SF_DIR).collect()
    }
    sess = {
        (r["user_id"], r["session_idx"]): r["n_events"]
        for r in q_sessionize_gap(spark, TEST_SF_DIR).collect()
    }
    assert paths == sess


def test_chunker_covers_every_token(spark):
    """Chunk coverage invariant: for every document, stitching the
    chunks back with the stride exactly reconstructs the token stream —
    no token lost, none duplicated outside the designed overlap."""
    from aind_data_transformation_spark.queries.corpus import (
        _CHUNK_SIZE,
        _CHUNK_STRIDE,
        q_doc_chunk_overlap,
    )
    from tests.conftest import TEST_SF_DIR

    chunks = {}
    for r in q_doc_chunk_overlap(spark, TEST_SF_DIR).collect():
        chunks.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r[
            "chunk_text"
        ].split(" ")
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").collect()
    checked = 0
    for row in docs[:50]:
        toks = [t for t in row["text"].lower().split(" ") if t]
        if not toks:
            continue
        got = chunks[row["doc_id"]]
        # exact invariant: every chunk equals the slice it claims
        for idx, ctoks in got.items():
            start = idx * _CHUNK_STRIDE
            assert ctoks == toks[start : start + _CHUNK_SIZE]
        # and chunk starts tile the full range (last start < n_tokens,
        # next would-be start >= n_tokens)
        assert (len(got) - 1) * _CHUNK_STRIDE < len(toks)
        assert len(got) * _CHUNK_STRIDE >= len(toks)
        checked += 1
    assert checked > 0


def _hampel_global_reference(spark):
    """The pre-halo implementation: one global window sort per
    event_type. Semantically the spec the segmented rewrite must match
    bit-for-bit."""
    from pyspark.sql import Window
    from aind_data_transformation_spark.io.sources import load_table

    e = load_table(spark, TEST_SF_DIR, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("us", "event_id")
        .rowsBetween(-5, 5)
    )
    win = F.array_sort(F.collect_list("c").over(w))
    dev_sorted = F.array_sort(F.expr("transform(win_arr, x -> abs(x - med_v))"))
    out = (
        e.withColumn("win_arr", win)
        .where(F.size("win_arr") == 11)
        .withColumn("med_v", F.element_at("win_arr", 6))
        .withColumn("mad_v", F.element_at(dev_sorted, 6))
        .where((F.abs(F.col("c") - F.col("med_v")) * 10000) > (F.col("mad_v") * 44478))
    )
    return out.select(
        "event_id",
        "event_type",
        (F.col("c").cast("double") / 100.0).alias("value"),
        (F.col("med_v").cast("double") / 100.0).alias("rolling_median"),
        (F.col("mad_v").cast("double") / 100.0).alias("rolling_mad"),
    )


def _ewma_global_reference(spark):
    from pyspark.sql import Window
    from aind_data_transformation_spark.io.sources import load_table
    from aind_data_transformation_spark.queries.timeseries import (
        _EWMA_DEPTH,
        _EWMA_WEIGHTS,
    )

    e = load_table(spark, TEST_SF_DIR, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    lagged = e.select(
        "event_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        *[F.lag("cents", i).over(w).alias(f"l{i}") for i in range(_EWMA_DEPTH)],
    )
    terms = " + ".join(
        f"CAST(round(CAST(l{i} AS DOUBLE) * CAST('{w_!r}' AS DOUBLE)"
        f" * 1000000.0D) AS BIGINT)"
        for i, w_ in enumerate(_EWMA_WEIGHTS)
    )
    inv = 1.0 / (1e6 * sum(_EWMA_WEIGHTS) * 100.0)
    return lagged.where(F.col("rn") >= _EWMA_DEPTH).select(
        "event_id",
        "event_type",
        (
            F.expr(f"CAST(({terms}) AS DOUBLE)")
            * F.expr(f"CAST('{inv!r}' AS DOUBLE)")
        ).alias("ewma_value"),
    )


def _holt_global_reference(spark):
    """Plain global-window Holt: one row_number + 24 unrolled lag terms
    over Window.partitionBy(event_type) — the naive spec the
    halo-segmented query must reproduce byte-identically."""
    from pyspark.sql import Window
    from aind_data_transformation_spark.io.sources import load_table
    from aind_data_transformation_spark.queries.timeseries import (
        _HOLT_DEPTH,
        _holt_terms,
        _holt_weights,
    )

    wl, wb = _holt_weights()
    e = load_table(spark, TEST_SF_DIR, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    lagged = e.select(
        "event_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        *[
            F.lag("cents", i).over(w).alias(f"l{i}")
            for i in range(_HOLT_DEPTH)
        ],
    )
    inv = "CAST('1e-08' AS DOUBLE)"
    return (
        lagged.where(F.col("rn") >= _HOLT_DEPTH)
        .select(
            "event_id",
            "event_type",
            F.expr(f"CAST(({_holt_terms(wl)}) AS DOUBLE) * {inv}").alias(
                "level"
            ),
            F.expr(f"CAST(({_holt_terms(wb)}) AS DOUBLE) * {inv}").alias(
                "trend"
            ),
        )
        .withColumn("forecast_1", F.col("level") + F.col("trend"))
    )


def _peak_global_reference(spark):
    """Plain global-window ±2-neighbor peak detection."""
    from pyspark.sql import Window
    from aind_data_transformation_spark.io.sources import load_table

    e = load_table(spark, TEST_SF_DIR, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    cand = e.select(
        "event_id",
        "event_type",
        "c",
        F.lag("c", 2).over(w).alias("m2"),
        F.lag("c", 1).over(w).alias("m1"),
        F.lead("c", 1).over(w).alias("p1"),
        F.lead("c", 2).over(w).alias("p2"),
    ).where(
        F.col("m2").isNotNull()
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


@pytest.mark.parametrize("shuffle_partitions", ["1", "7"])
def test_halo_windows_partition_invariant(spark, shuffle_partitions):
    """Every halo-segmented rolling query must be byte-identical to its
    naive global-window spec under ANY parallelism (1 task vs many) —
    the ghost-row margins make segment boundaries invisible. Covers all
    four keys riding the machinery: hampel, ewma, holt, peak-detect."""
    from aind_data_transformation_spark.queries.timeseries import (
        q_ts_ewma,
        q_ts_holt_linear,
        q_ts_outlier_hampel,
        q_ts_peak_detect,
    )

    pairs = [
        (q_ts_outlier_hampel, _hampel_global_reference),
        (q_ts_ewma, _ewma_global_reference),
        (q_ts_holt_linear, _holt_global_reference),
        (q_ts_peak_detect, _peak_global_reference),
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
        for query, reference in pairs:
            got = sorted(map(tuple, query(spark, TEST_SF_DIR).collect()))
            ref = sorted(map(tuple, reference(spark).collect()))
            assert len(got) > 0, query.__name__
            assert got == ref, query.__name__
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize(
    "key",
    [
        "sample_stratified",
        "sample_class_balance",
        "corpus_perplexity_buckets",
        "ts_downsample_lttb",
        # r4: global two-phase row numbers (empty part_cols)
        "win_ntile_cume",
        "dedup_sorted_neighborhood",
    ],
)
def test_bucket_segmented_ranks_partition_invariant(spark, key):
    """The series_row_number-based rewrites must produce identical rows
    under 1-task and default parallelism — rank assignment cannot depend
    on physical partitioning."""
    from aind_data_transformation_spark.queries import registry

    queries, _ = registry()
    base = sorted(map(tuple, queries[key](spark, TEST_SF_DIR).collect()))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        one = sorted(map(tuple, queries[key](spark, TEST_SF_DIR).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == one


def test_text_chunk_sliding_reconstructs_documents(spark):
    """Chunking invariants: chunk 0 starts at token 0; consecutive
    chunks overlap by exactly window−stride tokens; concatenating each
    chunk's first `stride` tokens (plus the final chunk's tail)
    reconstructs every document's token stream exactly."""
    from aind_data_transformation_spark.queries.training_prep import (
        _CHUNK_S,
        _CHUNK_W,
        q_text_chunk_sliding,
    )

    pdf = (
        q_text_chunk_sliding(spark, TEST_SF_DIR)
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
    )
    import pandas as pd

    docs = pd.read_parquet(f"{TEST_SF_DIR}/documents.parquet")
    toks = {
        r.doc_id: [t for t in r.text.split(" ") if t != ""]
        for r in docs.itertuples()
    }
    for doc_id, grp in pdf.groupby("doc_id"):
        want = toks[doc_id]
        rebuilt = []
        chunks = list(grp.itertuples())
        for i, ch in enumerate(chunks):
            ctoks = ch.chunk_text.split(" ") if ch.chunk_text else []
            assert len(ctoks) == ch.n_tokens
            assert len(ctoks) <= _CHUNK_W
            if i < len(chunks) - 1:
                rebuilt.extend(ctoks[:_CHUNK_S])
            else:
                rebuilt.extend(ctoks)
        assert rebuilt == want, doc_id
    assert set(pdf.doc_id) == {d for d, t in toks.items() if t}


def test_scd2_lookup_consistent_with_history(spark):
    """Cross-operator consistency: for every purchase event,
    `join_scd2_lookup`'s as-of status must equal the `scd2_build`
    version whose [valid_from, valid_to) interval contains the event
    timestamp — the same temporal truth through two different plans
    (linear as-of carry vs interval containment)."""
    from aind_data_transformation_spark.queries.incremental import (
        q_join_scd2_lookup,
        q_scd2_build,
    )

    looked = {
        r["event_id"]: (r["user_id"], r["us"], r["status_at_event"])
        for r in q_join_scd2_lookup(spark, TEST_SF_DIR).collect()
    }
    hist = {}
    for r in q_scd2_build(spark, TEST_SF_DIR).collect():
        hist.setdefault(r["user_id"], []).append(
            (r["valid_from_us"], r["valid_to_us"], r["status"])
        )
    assert looked
    for eid, (uid, us, status) in looked.items():
        matches = [
            s
            for (f, t, s) in hist[uid]
            if f <= us and (t is None or us < t)
        ]
        # boundary: a new version starting AT the event instant wins in
        # the as-of (inclusive) — the containment check agrees because
        # the closing version's valid_to == the new valid_from
        assert matches == [status], (eid, uid, us, status, matches)


def test_tfidf_absolute_df_cap_enforced(spark, tmp_path, monkeypatch):
    """The retained-term prune must honor the ABSOLUTE df ceiling, not
    just the fractional N/4 rule: a term common enough to pass N/4 but
    over the absolute cap must be dropped from every vector (the
    100-TB index-size guard). Cap lowered to 3 via monkeypatch so a
    24-doc corpus can cross it."""
    from aind_data_transformation_spark.queries import similarity

    docs = [(i, f"common common common filler{i}") for i in range(5)]
    docs += [(i, f"unique{i} filler{i} pad{i}") for i in range(5, 24)]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    monkeypatch.setattr(similarity, "_TFIDF_MAX_DF_ABS", 3)
    out = similarity.q_join_tfidf_cosine(spark, str(tmp_path)).collect()
    # 'common' (df=5: passes 5*4<=24, fails cap 3) was the ONLY shared
    # term — with the cap applied no pair can reach cos >= 0.3
    assert out == []
    monkeypatch.setattr(similarity, "_TFIDF_MAX_DF_ABS", 10)
    out2 = similarity.q_join_tfidf_cosine(spark, str(tmp_path)).collect()
    assert {(r["id_a"], r["id_b"]) for r in out2} >= {
        (a, b) for a in range(5) for b in range(a + 1, 5)
    }


def test_tfidf_prefix_filter_lossless_and_bounded(spark):
    """PPJoin guarantee on the real corpus: (1) the prefix⋈prefix
    candidate set is a SUBSET of the full retained-term join's pair set
    (strictly smaller here — that's the point), and (2) every pair the
    naive full term join scores at cos >= tau survives the prefix
    filter — losslessness beyond what the DuckDB oracle already
    hash-proves."""
    from pyspark.sql import Window

    from aind_data_transformation_spark.ops import attach_broadcast
    from aind_data_transformation_spark.queries.relational import load_table
    from aind_data_transformation_spark.queries.similarity import (
        _TFIDF_MAX_DF_ABS,
        _TFIDF_MAX_DF_FRAC,
        _TFIDF_PREF_DEN,
        _TFIDF_PREF_NUM,
        q_join_tfidf_cosine,
    )

    d = load_table(spark, TEST_SF_DIR, "documents")
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
        .select("doc_id", "term", "df", F.col("tf").cast("long").alias("w"))
    )
    full_pairs = (
        w.alias("a")
        .join(
            w.alias("b"),
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
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
    pref = (
        w2.select(
            "doc_id",
            "term",
            F.sum("w2").over(w_doc).alias("nrm2"),
            F.sum("w2").over(w_sfx).alias("sfx2"),
        )
        .where(
            F.col("sfx2") * _TFIDF_PREF_DEN
            >= F.col("nrm2") * _TFIDF_PREF_NUM
        )
        .select("doc_id", "term")
    )
    cand_pairs = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    n_full = full_pairs.count()
    n_cand = cand_pairs.count()
    assert n_cand <= n_full
    assert cand_pairs.exceptAll(full_pairs).count() == 0
    # losslessness: every emitted pair is a candidate pair by
    # construction; the oracle hash-match proves none are missing.
    out = q_join_tfidf_cosine(spark, TEST_SF_DIR)
    assert out.join(cand_pairs, ["id_a", "id_b"], "left_anti").count() == 0


def test_jpeg_decoder_handles_general_ac_runlength():
    """The JPEG entropy decoder must implement the FULL baseline AC
    grammar — (run,size) symbols, ZRL, EOB — not just the DC-only shape
    the pipeline's fixtures emit: hand-assemble a single-block JPEG
    whose stream encodes DC=5, an AC at zigzag 1, a ZRL-spanning zero
    run, and an AC at zigzag 19, and check the decoded pixel sum against
    an independently computed IDCT ground truth."""
    import struct

    import numpy as np
    import pandas as pd

    from aind_data_transformation_spark.queries.llm_vectors import (
        _JPEG_ZIGZAG,
        _JpegBitWriter,
        _decode_jpeg_pixels,
        _jpeg_canonical_codes,
    )

    dc_bits = [0, 3, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = [0, 1, 2, 3, 4, 5, 6, 7]
    ac_bits = [0, 3, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    ac_vals = [0x00, 0xF0, 0x02, 0x12]  # EOB, ZRL, (0,2), (1,2)

    def codes(bits, vals):
        return {
            sym: (code, ln)
            for (ln, code), sym in _jpeg_canonical_codes(bits, vals).items()
        }

    dc, ac = codes(dc_bits, dc_vals), codes(ac_bits, ac_vals)

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    bw = _JpegBitWriter()
    bw.put(*dc[3])  # DC category 3
    bw.put(5, 3)  # diff = +5
    bw.put(*ac[0x02])  # (run 0, size 2) -> zigzag k=1
    bw.put(3, 2)  # +3
    bw.put(*ac[0xF0])  # ZRL: 16 zeros (k=2..17)
    bw.put(*ac[0x12])  # (run 1, size 2): one more zero -> k=19
    bw.put(0b01, 2)  # extend(1, 2) = -2
    bw.put(*ac[0x00])  # EOB
    payload = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + bytes([8] + [16] * 63))
        + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
        + seg(0xFFC4, b"\x00" + bytes(dc_bits) + bytes(dc_vals))
        + seg(0xFFC4, b"\x10" + bytes(ac_bits) + bytes(ac_vals))
        + seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
        + bw.flush()
        + b"\xff\xd9"
    )
    out = next(
        _decode_jpeg_pixels(
            iter([pd.DataFrame({"doc_id": [0], "payload": [payload]})])
        )
    ).iloc[0]

    # independent ground truth: dequantized coefficient matrix -> IDCT
    zz = np.zeros(64)
    zz[0] = 5 * 8
    zz[1] = 3 * 16
    zz[19] = -2 * 16
    C = np.zeros(64)
    C[np.array(_JPEG_ZIGZAG)] = zz
    C = C.reshape(8, 8)
    u = np.arange(8)
    M = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) / 2
    M[0, :] /= np.sqrt(2.0)
    px = np.clip(np.round(M.T @ C @ M) + 128, 0, 255)
    assert out["eoi_ok"]
    assert (out["width"], out["height"], out["n_blocks"]) == (8, 8, 1)
    assert int(out["sum_gray"]) == int(px.sum())


def test_wav_decoder_skips_extra_and_odd_length_chunks():
    """The RIFF chunk walk must handle what real WAV files contain that
    the pipeline's fixtures don't: extra metadata chunks between fmt and
    data, including ODD-length ones (RIFF pads chunks to word
    boundaries — a walker that forgets the pad byte desynchronizes and
    misses the data chunk entirely)."""
    import struct

    import numpy as np
    import pandas as pd

    from aind_data_transformation_spark.queries.llm_vectors import (
        _WAV_WIN,
        _decode_wav_features,
    )

    x = (((np.arange(256, dtype=np.int64) * 7) % 512) - 256).astype("<i2")
    pcm = x.tobytes()
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16
    )
    info = b"INFO" + struct.pack("<I", 5) + b"hello"  # odd length: pad!
    payload = (
        b"RIFF"
        + struct.pack("<I", 4 + len(fmt) + len(info) + 1 + 8 + len(pcm))
        + b"WAVE"
        + fmt
        + info
        + b"\x00"  # RIFF word-alignment pad for the odd INFO chunk
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )
    out = next(
        _decode_wav_features(
            iter([pd.DataFrame({"doc_id": [0], "payload": [payload]})])
        )
    )
    assert len(out) == 256 // _WAV_WIN
    xs = x.astype(np.int64)
    for _, r in out.iterrows():
        w0 = int(r["window_idx"]) * _WAV_WIN
        win = xs[w0 : w0 + _WAV_WIN]
        assert int(r["energy"]) == int((win * win).sum())
        assert int(r["zero_crossings"]) == int(((win[:-1] * win[1:]) < 0).sum())


def test_mjpeg_skip_agrees_with_full_decode_on_frame_boundaries():
    """`_jpeg_skip_frame` (the sampler's fast path for unsampled frames)
    must land on EXACTLY the same next-frame offset as the full decoder
    for every frame of an MJPEG blob — a one-byte disagreement
    desynchronizes the stream and silently corrupts every later sampled
    frame."""
    import pandas as pd

    from aind_data_transformation_spark.queries.llm_vectors import (
        _decode_jpeg_pixels,
        _encode_mjpeg,
        _jpeg_decode_gray,
        _jpeg_skip_frame,
    )

    docs = pd.DataFrame({"doc_id": list(range(9))})
    enc = next(_encode_mjpeg(iter([docs])))
    for doc_id, blob in zip(enc["doc_id"], enc["payload"]):
        b = bytes(blob)
        pos, n = 0, 0
        while pos < len(b):
            full = _jpeg_decode_gray(b, pos)
            skip_end = _jpeg_skip_frame(b, pos)
            assert full[4], f"doc {doc_id}: frame {n} missing EOI"
            assert skip_end == full[5], (
                f"doc {doc_id} frame {n}: skip={skip_end} decode={full[5]}"
            )
            pos, n = skip_end, n + 1
        assert n == 3 + int(doc_id) % 4  # every frame accounted for


def test_split_leakage_safe_cluster_split_never_leaks(spark):
    """The leakage audit's structural guarantee: hashing the CLUSTER
    canonical puts every member of a near-dup cluster in one split
    (n_leaky_clusters == 0), while the naive per-document hash split
    provably leaks on this corpus (> 0) — and both schemes partition the
    same 80/10/10 universe (per-scheme doc totals equal)."""
    from aind_data_transformation_spark.queries.corpus import (
        q_split_leakage_safe,
    )

    rows = q_split_leakage_safe(spark, TEST_SF_DIR).collect()
    by = lambda s: [r for r in rows if r["scheme"] == s]  # noqa: E731
    assert by("by_cluster")[0]["n_leaky_clusters"] == 0
    assert by("by_doc")[0]["n_leaky_clusters"] > 0
    assert sum(r["n_docs"] for r in by("by_doc")) == sum(
        r["n_docs"] for r in by("by_cluster")
    )
    assert {r["split"] for r in rows} == {"train", "val", "test"}


def test_bpe_encode_is_a_lossless_segmentation(spark):
    """Tokenizer invariant: BPE only MERGES adjacent symbols, so
    concatenating any word's tokens must reproduce the word exactly
    (decode == identity), and every word's token count must lie in
    [1, len(word)] with total tokens <= total chars. Checked over the
    whole corpus via the same vocab-sized fold the key uses."""
    from pyspark.sql import functions as F

    from tests.conftest import TEST_SF_DIR

    from aind_data_transformation_spark.io.sources import load_table
    from aind_data_transformation_spark.queries.ml_prep import (
        _bpe_learned_merges,
        _bpe_merge_spark_expr,
        _sql_str_lit,
    )

    merges = _bpe_learned_merges(spark, TEST_SF_DIR)
    assert len(merges) == 4
    d = load_table(spark, TEST_SF_DIR, "documents")
    words = d.select(
        F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("w")
    ).distinct()
    chars = "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    enc = words.withColumn("cs", F.expr(chars))
    for (_r, pa, pb, _n) in merges:
        enc = enc.withColumn(
            "cs",
            F.expr(_bpe_merge_spark_expr(_sql_str_lit(pa), _sql_str_lit(pb))),
        )
    bad = enc.where(
        (F.array_join("cs", "") != F.col("w"))
        | (F.size("cs") < 1)
        | (F.size("cs") > F.length("w"))
    )
    assert bad.count() == 0


def test_phash_matches_formula_recomputation(spark):
    """Differential check of the image dHash independent of the DuckDB
    oracle: recompute the expected 64-bit hash in pure Python straight
    from the `_PX_*` pattern formulas (no PNG bytes involved) and
    compare against the staged Spark hashes, which were computed by
    ACTUALLY encoding, decoding and unfiltering the PNGs."""
    from tests.conftest import TEST_SF_DIR

    from aind_data_transformation_spark.queries import llm_vectors as lv

    got = {
        r["doc_id"]: (r["phash_hi"], r["phash_lo"])
        for r in lv._phash_staged(spark, TEST_SF_DIR).collect()
    }
    assert got, "stage produced no rows"

    def expect(d: int):
        w, h = 8 + d % 16, 8 + d % 8

        def gray(x, y):
            return (
                299 * ((x * 3 + y * 5 + d) % 256)
                + 587 * ((x * 7 + y) % 256)
                + 114 * ((x + y * 11 + d * 13) % 256)
            )

        xs = [((2 * i + 1) * w) // 18 for i in range(9)]
        ys = [((2 * j + 1) * h) // 16 for j in range(8)]
        lo = hi = 0
        for j in range(8):
            for i in range(8):
                if gray(xs[i + 1], ys[j]) > gray(xs[i], ys[j]):
                    k = j * 8 + i
                    if k < 32:
                        lo |= 1 << k
                    else:
                        hi |= 1 << (k - 32)
        return hi, lo

    for d, hashes in got.items():
        assert hashes == expect(d), f"doc {d} hash mismatch"


def test_gbdt_rounds_match_numpy_differential(spark):
    """NumPy differential test of the two boosting rounds: rebuild the
    bins, residual grids, histograms and elections from the raw parquet
    with an independent implementation and compare every output
    column."""
    import math

    import duckdb
    import numpy as np

    from tests.conftest import TEST_SF_DIR

    from aind_data_transformation_spark.queries.ml_eval import (
        _HIST_BINS,
        q_ml_gbdt_binned_rounds,
    )

    got = sorted(
        tuple(r)
        for r in q_ml_gbdt_binned_rounds(spark, TEST_SF_DIR).collect()
    )

    tbl = duckdb.sql(
        "SELECT round(l_extendedprice * 100)::BIGINT AS x,"
        " round(l_quantity * 1000000)::BIGINT AS yu"
        f" FROM '{TEST_SF_DIR}/lineitem.parquet'"
    ).fetchnumpy()
    x, yu = tbl["x"].astype(np.int64), tbl["yu"].astype(np.int64)

    def rha(v: float) -> int:
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    mn, mx = int(x.min()), int(x.max())
    bins = (x - mn) * _HIST_BINS // (mx - mn + 1)
    p0u = rha(float(yu.sum()) / len(yu))
    ru = yu - p0u

    def elect(res):
        nt, st = len(res), int(res.sum())
        best = None
        for b in range(_HIST_BINS):
            m = bins <= b
            nl, sl = int(m.sum()), int(res[m].sum())
            if nl == 0 or nl >= nt:
                continue
            g = (
                float(sl) * float(sl) / float(nl)
                + float(st - sl) * float(st - sl) / float(nt - nl)
                - float(st) * float(st) / float(nt)
            )
            cand = (
                -rha(g / 1e6), b,
                rha(float(sl) / float(nl)),
                rha(float(st - sl) / float(nt - nl)),
            )
            if best is None or cand < best:
                best = cand
        return (best[1], -best[0], best[2], best[3])

    s1 = elect(ru)
    ld, rd = rha(s1[2] / 2.0), rha(s1[3] / 2.0)
    ru2 = ru - np.where(bins <= s1[0], ld, rd)
    s2 = elect(ru2)
    span1 = mx - mn + 1
    want = sorted(
        (
            rnd,
            s[0],
            mn + ((s[0] + 1) * span1) // _HIST_BINS,
            s[1] / 1e6,
            s[2],
            s[3],
        )
        for rnd, s in ((1, s1), (2, s2))
    )
    assert got == want


def test_dp_sums_contribution_really_bounded(spark):
    """The DP-sum privacy claim rests on per-user contribution
    bounding: after clipping, no (group, user) contributes more than
    clip_cents to the released sum — and the clip genuinely bites at
    this scale (some user exceeds it raw), so the sensitivity argument
    is load-bearing, not vacuous."""
    from aind_data_transformation_spark.io.sources import load_table

    clip = 10_000_000
    o = load_table(spark, TEST_SF_DIR, "orders")
    per_user = o.groupBy("o_orderstatus", "o_custkey").agg(
        F.expr("SUM(CAST(round(o_totalprice * 100) AS BIGINT))").alias("s")
    )
    raw_max, n_over = per_user.agg(
        F.max("s"), F.sum((F.col("s") > clip).cast("long"))
    ).collect()[0]
    assert raw_max > clip and n_over > 0, "clip bound never binds here"
    clipped_max = per_user.select(
        F.least(F.col("s"), F.lit(clip)).alias("sc")
    ).agg(F.max("sc")).collect()[0][0]
    assert clipped_max <= clip


def test_gbdt_multifeature_elects_across_features(spark):
    """The multi-feature trainer's load-bearing property: round 1
    elects the step feature (extendedprice bins), and — because the
    lr=1.0 stump removes an exact bin-threshold step completely —
    round 2 elects the OTHER feature, with positive gain both times."""
    from aind_data_transformation_spark.queries.ml_eval import (
        q_ml_gbdt_multifeature,
    )

    rows = {
        r["round"]: r
        for r in q_ml_gbdt_multifeature(spark, TEST_SF_DIR).collect()
    }
    assert rows[1]["feature"] == "extendedprice_cents"
    assert rows[2]["feature"] == "partkey"
    assert rows[1]["gain"] > rows[2]["gain"] > 0
    # the uninformative third candidate never wins a round
    assert all(r["feature"] != "suppkey" for r in rows.values())


# --- r11: bloom index, DDL parsing, pushdown intersection ---------------


@settings(max_examples=50, deadline=None)
@given(
    members=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), max_size=200
    ),
    probes=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=20,
    ),
)
def test_bloom_never_false_negative(members, probes):
    """The bloom index's one hard guarantee: a value that was folded
    into the filter ALWAYS probes present (pruning on it would drop
    rows); absent values may false-positive but never the reverse.
    Also pins write/probe hash agreement across the two call sites."""
    import numpy as np

    from aind_data_transformation_spark.io.txlog_source import (
        _bloom_encode,
        _bloom_hashes,
        _bloom_maybe_contains,
    )

    m = 1 << 12
    bits = np.zeros(m >> 3, dtype=np.uint8)
    if members:
        for pos in _bloom_hashes(np.array(members, dtype=np.int64), m):
            np.bitwise_or.at(
                bits, pos >> 3,
                np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)),
            )
    add = {"bloom": _bloom_encode(bits), "bloom_bits": m}
    for v in members:
        assert _bloom_maybe_contains(add, v), v
    for v in probes:
        got = _bloom_maybe_contains(add, v)
        if v in set(members):
            assert got


@settings(max_examples=50, deadline=None)
@given(
    cols=st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(
                    whitelist_categories=("Ll",), max_codepoint=122
                ),
                min_size=1,
                max_size=8,
            ),
            st.sampled_from(
                ["bigint", "int", "double", "string", "boolean",
                 "date", "timestamp", "decimal(10,2)", "decimal(38,0)"]
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_parse_ddl_roundtrip(cols):
    """_parse_ddl inverts the DDL the connector emits — including
    paren-carrying decimal types and backtick quoting — so an evolved
    schema survives commit -> replay -> projection unchanged."""
    from aind_data_transformation_spark.io.txlog_source import _parse_ddl

    ddl = ", ".join(f"`{n}` {t}" for n, t in cols)
    assert _parse_ddl(ddl) == [(n, t) for n, t in cols]
    ddl_unquoted = ", ".join(f"{n} {t}" for n, t in cols)
    assert _parse_ddl(ddl_unquoted) == [(n, t) for n, t in cols]


@settings(max_examples=40, deadline=None)
@given(
    pushes=st.lists(
        st.lists(st.sampled_from(["F", "O", "P"]), max_size=3),
        min_size=1,
        max_size=4,
    )
)
def test_pushdown_intersection_is_superset_for_every_push(spark, pushes):
    """The shared-readInfo defense's invariant, property-tested: after
    ANY sequence of pushFilters calls for one relation, the effective
    pruning filter set is contained in EVERY pushed set — so whichever
    planning's partitions survive the JVM's last-write-wins, they are
    a superset for every scan whose push preceded them."""
    from pyspark.sql.datasource import EqualTo

    from aind_data_transformation_spark.io.txlog_source import (
        TxlogBatchReader,
        _PUSHED_SETS,
    )

    rid = f"prop-{id(pushes)}-{len(_PUSHED_SETS)}"
    effective = None
    pushed_so_far = []
    for vals in pushes:
        r = TxlogBatchReader(
            {"path": "/tmp/nonexistent/_log"}, ["s"], relation_id=rid
        )
        filters = [EqualTo(("s",), v) for v in vals]
        residual = r.pushFilters(filters)
        assert list(residual) == filters  # everything stays residual
        pushed_so_far.append({repr(f) for f in filters})
        effective = {repr(f) for f in r._pushed}
        # invariant: effective ⊆ every set pushed so far (incl. this)
        for prior in pushed_so_far:
            assert effective <= prior
        # and the registry's running intersection agrees
        n, common = _PUSHED_SETS[rid]
        assert n == len(pushed_so_far)
        assert common == set.intersection(*pushed_so_far)
    # and ⊆ the final push's set specifically
    assert effective <= {repr(EqualTo(("s",), v)) for v in pushes[-1]}


# --- the txlog replay core vs a brute-force log simulation --------------

_TXLOG_PATHS = [f"/t/data/f{i}" for i in range(5)]
_txlog_action = st.one_of(
    st.tuples(st.just("add"), st.sampled_from(_TXLOG_PATHS)),
    st.tuples(st.just("remove"), st.sampled_from(_TXLOG_PATHS)),
    st.tuples(
        st.just("dv"),
        st.sampled_from(["/t/data/dv0", "/t/data/dv1"]),
        st.sampled_from(_TXLOG_PATHS),
    ),
    # the same file added AND removed in one commit, in either order
    st.tuples(
        st.just("add+remove"), st.sampled_from(_TXLOG_PATHS), st.booleans()
    ),
)


def _txlog_commits(draw_acts):
    """[[action dict]] per commit, in file order."""
    commits = []
    for c, acts in enumerate(draw_acts):
        out = []
        for a in acts:
            if a[0] == "dv":
                out.append(
                    {"commit": c, "action": "dv", "path": a[1], "target": a[2]}
                )
            elif a[0] == "add+remove":
                pair = [
                    {"commit": c, "action": "add", "path": a[1]},
                    {"commit": c, "action": "remove", "path": a[1]},
                ]
                out.extend(pair[::-1] if a[2] else pair)
            else:
                out.append({"commit": c, "action": a[0], "path": a[1]})
        commits.append(out)
    return commits


def _ref_live(commits, v):
    live = set()
    for acts in commits[: v + 1]:
        live |= {a["path"] for a in acts if a["action"] == "add"}
        live -= {a["path"] for a in acts if a["action"] == "remove"}
    return sorted(live)


@settings(max_examples=60, deadline=None)
@given(
    acts=st.lists(
        st.lists(_txlog_action, min_size=1, max_size=4),
        min_size=1,
        max_size=7,
    ),
    data=st.data(),
)
def test_txlog_replay_matches_brute_force(acts, data):
    """`_live_files`, `_incremental_files`, `_live_dvs` and `_live_adds`
    against a commit-by-commit simulation (a commit applies its adds,
    then its removes: remove beats add within a commit, whatever the
    action order in the file), and checkpoint + tail replay equals full
    replay at and after the checkpoint version."""
    import json
    import shutil
    import tempfile

    from aind_data_transformation_spark.io.txlog_source import (
        _incremental_files,
        _live_adds,
        _live_dvs,
        _live_files,
        _log_rows,
        checkpoint_log,
    )

    commits = _txlog_commits(acts)
    head = len(commits) - 1
    log_dir = tempfile.mkdtemp(prefix="txlog_replay_prop_")
    try:
        for c, rows in enumerate(commits):
            with open(f"{log_dir}/{c:05d}.json", "w") as fh:
                fh.writelines(json.dumps(r) + "\n" for r in rows)
        full = _log_rows(log_dir)
        for v in range(head + 1):
            live = _ref_live(commits, v)
            assert _live_files(full, v) == live
            adds = _live_adds(full, v)
            assert sorted(adds) == live
            for p, r in adds.items():
                assert r["action"] == "add" and r["commit"] == max(
                    c
                    for c, rows in enumerate(commits[: v + 1])
                    if any(
                        a["action"] == "add" and a["path"] == p for a in rows
                    )
                )
            want_dvs: dict = {}
            for rows in commits[: v + 1]:
                for a in rows:
                    if a["action"] == "dv" and a["target"] in live:
                        want_dvs.setdefault(a["target"], set()).add(a["path"])
            got_dvs = _live_dvs(full, live, v)
            assert {t: set(ps) for t, ps in got_dvs.items()} == want_dvs
            for start in range(-1, v):
                added = {
                    a["path"]
                    for rows in commits[start + 1 : v + 1]
                    for a in rows
                    if a["action"] == "add"
                }
                assert _incremental_files(full, start, v) == sorted(
                    added & set(live)
                )
        ckpt = data.draw(st.integers(min_value=0, max_value=head))
        checkpoint_log(log_dir, ckpt)
        compacted = _log_rows(log_dir)
        for v in range(ckpt, head + 1):
            live = _live_files(full, v)
            assert _live_files(compacted, v) == live
            assert (
                _live_adds(compacted, v).keys() == _live_adds(full, v).keys()
            )
            assert {
                t: set(ps) for t, ps in _live_dvs(compacted, live, v).items()
            } == {t: set(ps) for t, ps in _live_dvs(full, live, v).items()}
            for start in range(ckpt, v):
                assert _incremental_files(compacted, start, v) == (
                    _incremental_files(full, start, v)
                )
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
