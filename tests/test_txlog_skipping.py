"""One file-skipping rule for log tables: the engine's stats reads count
exactly the files the connector reader's rule (`_kept_files`) keeps; no
second bounds vocabulary is left in the package; the connector skipping
keys take their windows from the log instead of a min/max job; and
memory-sink drains leave no temp views behind."""

from __future__ import annotations

import os

import pytest

from aind_data_transformation_spark.io import txlog_source as tx
from aind_data_transformation_spark.queries import registry, sinks
from tests.conftest import TEST_SF_DIR
from tests.test_sources import _jobs_in_group

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "aind_data_transformation_spark",
)

#: windows as (lo, hi) percent of a column's span; the last lies past
#: the maximum, so every file is pruned
_WINDOWS = ((25, 40), (0, 10), (60, 100), (45, 46), (101, 110))


def _windows(lo_v, hi_v):
    span = hi_v - lo_v
    return [
        (lo_v + span * a // 100, lo_v + span * b // 100) for a, b in _WINDOWS
    ]


def test_stats_reads_count_the_connector_rule(spark):
    """On the stats fixture (o_orderkey) and on both versions of the
    z-order table (both columns), over several windows, `txlog_stats_read`
    reports (files live, files scanned) equal to the live files and the
    files `_kept_files` keeps under the same pushed filters."""
    stats_log = sinks._build_txlog_stats_table(
        spark, TEST_SF_DIR, "one_rule_stats"
    )[0]
    z_log, (kmin, kmax, cmin, cmax) = sinks._build_txlog_zorder_table(
        spark, TEST_SF_DIR, "one_rule_z2"
    )
    key = ("o_orderkey", _windows(kmin, kmax))
    cust = ("o_custkey", _windows(cmin, cmax))
    n_pruned = 0
    for log_dir, as_of, columns in (
        (stats_log, None, (key,)),
        (z_log, 0, (key, cust)),
        (z_log, None, (key, cust)),
    ):
        rows = sinks._txlog_log_rows(spark, log_dir)
        live = tx._live_files(rows, as_of)
        for column, windows in columns:
            for lo, hi in windows:
                _, n_live, n_scanned = sinks.txlog_stats_read(
                    spark, log_dir, lo, hi, column=column, as_of=as_of
                )
                kept = tx._kept_files(
                    rows, sinks._between(column, lo, hi), as_of
                )
                assert (n_live, n_scanned) == (len(live), len(kept)), (
                    log_dir, as_of, column, lo, hi
                )
                n_pruned += n_scanned < n_live
    assert n_pruned, "no window pruned any file"
    # every file pruned: a correct empty result, not a crash
    snap, _, n_scanned = sinks.txlog_stats_read(
        spark, stats_log, kmax + 1, kmax + 10
    )
    assert n_scanned == 0 and snap.count() == 0


@pytest.mark.parametrize("name", ["min_cust", "max_cust", "_STATS_BOUNDS"])
def test_package_has_one_bounds_vocabulary(name):
    """Per-file bounds are written only by `_attach_stats` and read only
    by `_add_bounds`: no module names a second vocabulary."""
    hits = []
    for root, _, files in os.walk(PACKAGE):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    if name in fh.read():
                        hits.append(path)
    assert hits == []


#: construction jobs of the keys whose window now comes from the log
#: (each was 2 more at the parent: a min/max collect runs a map job and
#: a result job under AQE)
_BUILD_JOBS = {
    "sink_txlog_datasource_write_stats": 3,
    "scan_txlog_datasource_pruned": 3,
    "sink_txlog_datasource_write_stats_multi": 3,
    "sink_txlog_stats_read_checkpointed": 6,
}


@pytest.mark.parametrize("key", sorted(_BUILD_JOBS))
def test_window_keys_run_no_min_max_job(spark, key):
    """The key's range window is read from the bounds its own write
    logged, so building it runs only the write's jobs."""
    build = registry()[0][key]
    build(spark, TEST_SF_DIR)  # loads the table schema
    _, n_jobs = _jobs_in_group(
        spark, f"window-{key}", lambda: build(spark, TEST_SF_DIR)
    )
    assert n_jobs == _BUILD_JOBS[key]


def _catalog_names(spark) -> set:
    return {t.name for t in spark.catalog.listTables()}


def test_memory_sink_drains_leave_no_views(spark):
    """Three drains through `run_available_now` and three builds of
    `stream_txlog_source` add no entry to the catalog."""
    from aind_data_transformation_spark.streaming import jobs

    before = _catalog_names(spark)
    events = jobs.read_events_stream(spark, TEST_SF_DIR)
    build = registry()[0]["stream_txlog_source"]
    for _ in range(3):
        assert jobs.run_available_now(
            jobs.tumbling_counts(events), mode="complete"
        )
        assert build(spark, TEST_SF_DIR).collect()
    assert _catalog_names(spark) == before


def test_replace_where_prunes_under_the_connector_rule(spark):
    """The partition fixture's adds and `txlog_replace_where`'s actions
    carry ``part_col``, so `_kept_files` alone picks the replaced
    partition's one file out of the live table."""
    from pyspark.sql.datasource import EqualTo

    log_dir, _ = sinks._build_txlog_part_table(
        spark, TEST_SF_DIR, "prune_rule_rw"
    )
    orders = spark.read.parquet(f"{TEST_SF_DIR}/orders.parquet")
    sinks.txlog_replace_where(
        spark, log_dir, "O", orders.where("o_orderstatus = 'O'")
    )
    rows = sinks._txlog_log_rows(spark, log_dir)
    live = tx._live_adds(rows)
    replaced = [p for p, r in live.items() if r["commit"] == 1]
    assert len(replaced) == 1 and len(live) > 1
    assert tx._kept_files(rows, [EqualTo(("o_orderstatus",), "O")]) == replaced
