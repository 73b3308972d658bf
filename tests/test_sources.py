"""The table loader's per-application schema cache (io/sources.py): a
cached load runs no Spark job and reads exactly what an inferred read
does; a rewritten table is re-inferred; a missing table fails as before;
and building the benchmark's read-only registry keys runs no
construction-time job once their tables are loaded."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from aind_data_transformation_spark.io import sources
from aind_data_transformation_spark.io.sources import (
    TABLES,
    load_table,
    normalize_event_ts,
    table_path,
)
from tests.conftest import TEST_SF_DIR


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn()`` under Spark job group ``group``; returns (result,
    number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(spark, sf_dir: str, name: str):
    df = spark.read.parquet(table_path(sf_dir, name))
    return normalize_event_ts(df) if name == "events" else df


@pytest.mark.parametrize("name", TABLES)
def test_cached_load_runs_no_job_and_matches_inferred_read(spark, name):
    load_table(spark, TEST_SF_DIR, name)  # first load: infers (or hits)
    df, n_jobs = _jobs_in_group(
        spark,
        f"cached-load-{name}",
        lambda: load_table(spark, TEST_SF_DIR, name),
    )
    assert n_jobs == 0, f"cached load of {name} ran {n_jobs} Spark jobs"
    ref = _inferred(spark, TEST_SF_DIR, name)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()


def test_nanos_events_same_rows_inferred_and_cached(spark, tmp_path):
    """INT64 TIMESTAMP(NANOS) events: the cached schema is the one inferred
    under nanosAsLong, so both loads floor the raw long to the same µs."""
    ns = [1_704_067_200_123_456_789, 1_704_067_260_000_000_999, 5_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([0, 1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
                "value": pa.array([1.0, 2.0, 3.0]),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    sf_dir = str(tmp_path)
    first = load_table(spark, sf_dir, "events")
    rows_first = sorted(first.collect())
    _, n_jobs = _jobs_in_group(
        spark, "nanos-cached", lambda: load_table(spark, sf_dir, "events")
    )
    rows_cached = sorted(load_table(spark, sf_dir, "events").collect())
    assert n_jobs == 0
    assert dict(first.dtypes)["ts"] == "timestamp"
    assert rows_cached == rows_first
    got = [
        r.ts_us
        for r in load_table(spark, sf_dir, "events")
        .selectExpr("event_id", "unix_micros(ts) AS ts_us")
        .orderBy("event_id")
        .collect()
    ]
    assert got == [v // 1000 for v in ns]


def test_rewritten_table_is_reinferred(spark, tmp_path):
    """A table rewritten at the same path with an extra column shows that
    column on the next load — the cache key carries the file's version."""
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([0, 1], pa.int64()),
                "r_name": pa.array(["AFRICA", "AMERICA"]),
            }
        ),
        path,
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(df.collect()) == [(0, "AFRICA"), (1, "AMERICA")]
    cached = [k for k in sources._SCHEMA_CACHE if k[1] == path]
    assert len(cached) == 1, "older versions of a path are evicted"


def test_missing_table_raises_spark_analysis_exception(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "region")


#: the read-only keys of the benchmark's registry workload
_READ_ONLY_KEYS = (
    "tpch_q3",
    "tpch_q13",
    "join_left_right_full",
    "agg_group",
    "win_ntile_cume",
    "sort_limit",
    "set_intersect_except",
)


def test_read_only_keys_construct_without_jobs(spark):
    """Once a key's tables are loaded, building its frame again runs no
    Spark job: no footer/schema inference and no other eager work during
    construction. Inferring schemas on every load gives 12 jobs here."""
    from aind_data_transformation_spark.queries import registry

    queries, _ = registry()
    for key in _READ_ONLY_KEYS:
        queries[key](spark, TEST_SF_DIR)
    _, n_jobs = _jobs_in_group(
        spark,
        "read-only-keys-construction",
        lambda: [queries[key](spark, TEST_SF_DIR) for key in _READ_ONLY_KEYS],
    )
    assert n_jobs == 0, f"building {_READ_ONLY_KEYS} ran {n_jobs} Spark jobs"
