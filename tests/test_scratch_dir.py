"""Per-call scratch dirs (``ops.scratch_dir``) against a live Spark
session: a key that writes gives every call its own directory, so a
rebuild never pulls the files from under a frame an earlier call
returned, corpora whose dirs share a basename never meet, and nothing a
run wrote outlives its process."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from aind_data_transformation_spark.io.sources import TABLES, table_path
from aind_data_transformation_spark.queries import registry
from tests.conftest import TEST_SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "key", ["sink_repartition", "sink_txlog_datasource_write_stats"]
)
def test_rebuild_keeps_first_frame_readable(spark, key):
    """Build a key twice, then collect the first frame: it still reads
    its own files and equals the second. (With one fixed path per key
    the second build overwrote the first frame's files, and its collect
    raised ``FileNotFoundException``.)"""
    q = registry()[0][key]
    first = q(spark, TEST_SF_DIR)
    second = q(spark, TEST_SF_DIR)
    assert sorted(first.collect()) == sorted(second.collect())


@pytest.mark.parametrize("key", ["sink_bucketed_join", "mv_incremental_refresh"])
def test_same_basename_corpora_write_apart(spark, tmp_path, key):
    """Corpora at ``A/sf0.001`` (the sf0.001 tables) and ``B/sf0.001``
    (the sf0.01 tables): building B must not replace A's output, so A's
    first frame still returns A's rows."""
    fixtures = os.path.dirname(TEST_SF_DIR)
    for name, scale in (("A", "sf0.001"), ("B", "sf0.01")):
        sf = tmp_path / name / "sf0.001"
        sf.mkdir(parents=True)
        for t in TABLES:
            (sf / f"{t}.parquet").symlink_to(
                table_path(os.path.join(fixtures, scale), t)
            )
    q = registry()[0][key]
    a, b = str(tmp_path / "A" / "sf0.001"), str(tmp_path / "B" / "sf0.001")
    want = sorted(q(spark, a).collect())
    frame_a = q(spark, a)
    frame_b = q(spark, b)
    other = sorted(frame_b.collect())
    assert other != want
    assert sorted(frame_a.collect()) == want


_RUN_AND_EXIT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from aind_data_transformation_spark.queries import registry
    from aind_data_transformation_spark.session import build_session

    queries, _ = registry()
    spark = build_session(
        app_name="scratch-exit", master="local[2]", shuffle_partitions=2
    )
    for key in {keys!r}:
        assert queries[key](spark, {sf!r}).collect(), key
    print("built")
    """
)


def test_scratch_is_removed_at_exit(tmp_path):
    """A process that builds a sinks key, a streaming txlog key and
    ``scan_csv_json`` with ``TMPDIR`` pointed at a private dir leaves
    nothing there once it exits: no scratch root, no per-call dir and no
    pid-named or leaked temp dir."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    keys = ["sink_repartition", "stream_txlog_sink", "scan_csv_json"]
    script = _RUN_AND_EXIT.format(repo=REPO, sf=TEST_SF_DIR, keys=keys)
    env = dict(os.environ, PYTHONPATH=REPO, TMPDIR=str(tmp))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=600, env=env, cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "built"
    assert sorted(os.listdir(tmp)) == []
