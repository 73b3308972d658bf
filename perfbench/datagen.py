"""Deterministic synthetic tables for the benchmark.

Builds the ten tables the engine reads (``region`` ... ``embeddings``) as
Arrow tables with the column names, types, value domains and, in ``ROWS``,
the row counts of the engine's sf0.1 fixture tables (TESTDATA.md,
FIXTURES.md): the same nation, segment, part-name and document vocabularies,
key ranges and date ranges. Every value comes from
``numpy.random.default_rng(seed)``, so the same seed gives identical tables.

``documents`` carries the redundancy the corpus pipeline removes in the
same shares as the fixture table: a few exact copies, 5% near-duplicate
copies (the text plus one token), and sources that the decontamination
stage checks by 8-gram overlap.
"""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa

#: rows per table, those of the sf0.1 fixture tables
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: datetime.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def documents(seed: int) -> pa.Table:
    """Base documents plus copies: 0.2% exact, 5% near-dup (+ ``dup``).

    Drawn from a stream of its own, so the relational tables do not change
    when the documents do."""
    rng = np.random.default_rng([seed, 1])
    n = ROWS["documents"]
    n_exact, n_near = n // 500, n // 20
    n_base = n - n_exact - n_near
    texts = [
        " ".join(rng.choice(_VOCAB, rng.integers(10, 101)))
        for _ in range(n_base)
    ]
    exact = rng.choice(n_base, n_exact, replace=False)
    near = rng.choice(n_base, n_near, replace=False)
    texts += [texts[i] for i in exact] + [texts[i] + " dup" for i in near]
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(_LANGS, n, p=_LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    r = ROWS
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": _REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    n = r["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": list(rng.choice(_SEGMENTS, n)),
        }
    )
    n = r["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = r["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [
                f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                for _ in range(n)
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": list(rng.choice(_PART_TYPES, n)),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
        }
    )
    n = r["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, r["customer"], n), pa.int64()),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": _money(rng, 1000, 500000, n),
            "o_orderdate": _days(rng, datetime.date(1995, 1, 1), 2404, n),
            "o_orderpriority": list(rng.choice(_PRIORITIES, n)),
        }
    )
    n = r["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, r["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": _money(rng, 0, 0.10, n),
            "l_tax": _money(rng, 0, 0.08, n),
            "l_returnflag": list(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": list(rng.choice(["F", "O"], n)),
            "l_shipdate": _days(rng, datetime.date(1995, 1, 2), 2498, n),
        }
    )
    n = r["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.choice(30 * 86400 * 10**6, n, replace=False))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, r["customer"] // 10, n), pa.int64()),
            "event_type": list(rng.choice(_EVENT_TYPES, n)),
            "value": _money(rng, 0.01, 500, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    out["documents"] = documents(seed)
    n = r["embeddings"]
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    return out
