"""Unit tests for the library operators not already covered by the
property suite: salted joins (skew defense) and the SQL catalog surface."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR

from aind_data_transformation_spark.io.sources import register_tables
from aind_data_transformation_spark.ops import salted_join


def _skewed(spark):
    # 10k rows on one hot key + a long tail
    hot = spark.range(0, 10000).select(
        F.lit(7).alias("k"), F.col("id").alias("payload")
    )
    tail = spark.range(0, 1000).select(
        (F.col("id") % 50).alias("k"), (F.col("id") + 100000).alias("payload")
    )
    return hot.unionByName(tail)


def _dim(spark):
    return spark.range(0, 50).select(
        F.col("id").alias("k"), F.concat(F.lit("name_"), F.col("id")).alias("name")
    )


def test_salted_join_matches_plain_inner(spark):
    left, right = _skewed(spark), _dim(spark)
    got = salted_join(left, right, "k", salt=8).groupBy("k").count()
    want = left.join(right, "k").groupBy("k").count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salted_join_matches_plain_left(spark):
    left = _skewed(spark)
    right = _dim(spark).where(F.col("k") < 10)  # some left keys unmatched
    got = salted_join(left, right, "k", salt=4, how="left")
    want = left.join(right, "k", "left")
    assert sorted(
        (r.k, r.payload, r.name) for r in got.collect()
    ) == sorted((r.k, r.payload, r.name) for r in want.collect())


def test_salted_join_spreads_hot_key(spark):
    """The hot key must occupy multiple shuffle partitions after salting."""
    left, right = _skewed(spark), _dim(spark)
    parts = (
        salted_join(left, right, "k", salt=8)
        .where(F.col("k") == 7)
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert parts > 1


def test_salted_join_rejects_unsupported_how(spark):
    with pytest.raises(ValueError):
        salted_join(_skewed(spark), _dim(spark), "k", how="full")


def test_register_tables_sql_surface(spark):
    register_tables(spark, TEST_SF_DIR, suffix="_sql")
    row = spark.sql(
        """
        SELECT COUNT(*) AS n
        FROM lineitem_sql li JOIN orders_sql o ON li.l_orderkey = o.o_orderkey
        """
    ).collect()[0]
    assert row.n > 0
    # events view exposes normalized µs timestamps, not raw ns longs
    assert dict(spark.table("events_sql").dtypes)["ts"] == "timestamp"


def test_asof_join_forward_semantics(spark):
    """Inclusive at-or-after: equal-ts right row matches; a left row past
    the last right row gets NULL; earliest (not latest) right wins."""
    from aind_data_transformation_spark.ops import asof_join_forward

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 13, "c"), (2, 1, "d")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 7, 70), (1, 10, 100), (1, 12, 120)], ["k", "ts", "v"]
    )
    got = {
        r["tag"]: r["v"]
        for r in asof_join_forward(
            left, right, on="k", ts="ts", value_cols=["v"]
        ).collect()
    }
    assert got == {"a": 70, "b": 100, "c": None, "d": None}


def test_asof_join_tolerance_rejects_stale_matches(spark):
    """Backward as-of with tolerance: a match within the window survives,
    one older than the tolerance nulls out, the no-match row stays NULL.
    Numeric ts => tolerance in column units."""
    from aind_data_transformation_spark.ops import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 20, "b"), (2, 3, "c")], ["k", "ts", "tag"]
    )
    right = spark.createDataFrame([(1, 4, 40), (1, 10, 100)], ["k", "ts", "v"])
    got = {
        r["tag"]: r["v"]
        for r in asof_join(
            left, right, on="k", ts="ts", value_cols=["v"],
            tolerance_seconds=5,
        ).collect()
    }
    # "a": matched 4 (delta 1 <= 5); "b": nearest is 10 (delta 10 > 5) -> stale
    assert got == {"a": 40, "b": None, "c": None}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),      # series key
            st.integers(0, 500),    # order value (collides often)
            st.integers(0, 99),     # payload
        ),
        min_size=0,
        max_size=60,
    ),
    block=st.sampled_from([4, 8, 16]),
)
def test_series_row_number_and_halo_blocks_match_global_window(
    spark, rows, block
):
    """The halo machinery vs the naive global window, on adversarial
    shapes (empty series, heavy order-key ties, blocks smaller than the
    frame headroom): series_row_number must equal the global
    row_number, and a ±2 rolling sum over halo blocks must equal the
    global rolling sum exactly."""
    from pyspark.sql import Window

    from aind_data_transformation_spark.ops import (
        halo_blocks,
        series_row_number,
    )

    uniq = [(k, o, i, p) for i, (k, o, p) in enumerate(rows)]
    df = spark.createDataFrame(
        uniq, "k long, o long, uid long, p long"
    )
    got_rn = series_row_number(df, ["k"], ["o", "uid"], "o div 7")
    w = Window.partitionBy("k").orderBy("o", "uid")
    want_rn = df.withColumn("rn", F.row_number().over(w).cast("long"))
    assert sorted(map(tuple, got_rn.collect())) == sorted(
        map(tuple, want_rn.collect())
    )

    halo = halo_blocks(got_rn, "rn", block, 2, 2)
    wb = (
        Window.partitionBy("k", "__blk").orderBy("rn").rowsBetween(-2, 2)
    )
    got = (
        halo.withColumn("rsum", F.sum("p").over(wb))
        .where("__own")
        .select("k", "uid", "rsum")
    )
    wg = w.rowsBetween(-2, 2)
    want = want_rn.select(
        "k", "uid", F.sum("p").over(wg).alias("rsum")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_attach_broadcast_is_hash_join_not_nested_loop(spark):
    """ops.attach_broadcast must plan a BroadcastHashJoin (the whole
    point: a fold-proof constant equi-key) and produce exactly the
    cross-join semantics. A regression to a literal key would be
    constant-folded by Catalyst into a BroadcastNestedLoopJoin."""
    import io
    import contextlib

    from pyspark.sql import functions as F

    from aind_data_transformation_spark.ops import attach_broadcast

    a = spark.range(100).toDF("x")
    tiny = spark.createDataFrame(
        [(1, "p"), (2, "q"), (3, "r")], "k int, tag string"
    )
    out = attach_broadcast(a, tiny)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    rows = out.collect()
    assert len(rows) == 300
    assert sorted({r["tag"] for r in rows}) == ["p", "q", "r"]
    assert out.columns == ["x", "k", "tag"]


def test_attach_broadcast_null_first_column(spark):
    """The xxhash64 key must tolerate nulls in the key-derivation column
    (xxhash64 of null returns the seed, never null — no rows drop)."""
    from pyspark.sql import Row

    from aind_data_transformation_spark.ops import attach_broadcast

    a = spark.createDataFrame(
        [Row(x=None), Row(x=1), Row(x=2)], "x int"
    )
    tiny = spark.createDataFrame([(7,)], "y int")
    assert attach_broadcast(a, tiny).count() == 3


def test_no_function_imports_from_ops():
    """Package modules import `ops` names at module level only, so a
    name rebound on `ops` (a tracer's wrapper) is rebound in every
    module that holds it, and each module lists its `ops` use in one
    place."""
    import ast
    import os

    import aind_data_transformation_spark

    root = os.path.dirname(aind_data_transformation_spark.__file__)
    hits = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            tree = ast.parse(open(path).read(), path)
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                for node in ast.walk(fn):
                    if (
                        isinstance(node, ast.ImportFrom)
                        and node.module == "aind_data_transformation_spark.ops"
                    ):
                        hits.append(f"{path}:{node.lineno}")
    assert hits == []
