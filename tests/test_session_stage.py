"""Session stages (``ops.session_stage``) against a live Spark session:
a restarted session rebuilds its stages instead of deleting them, two
corpora whose directories share a basename stage apart, and a staged
parquet hit runs no Spark job. The primitive's locking, eviction and hit
rule are covered JVM-free in tests/test_concurrency.py."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from aind_data_transformation_spark.io.sources import TABLES, table_path
from aind_data_transformation_spark.queries.corpus import q_dedup_clusters
from aind_data_transformation_spark.texthash import verified_near_dups_docs
from tests.conftest import TEST_SF_DIR
from tests.test_sources import _jobs_in_group

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RESTART = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from aind_data_transformation_spark.queries import registry
    from aind_data_transformation_spark.session import build_session

    queries, _ = registry()
    runs = []
    for _ in range(2):
        spark = build_session(
            app_name="stage-restart", master="local[2]", shuffle_partitions=2
        )
        runs.append({{
            key: sorted(repr(tuple(r)) for r in queries[key](spark, {sf!r}).collect())
            for key in {keys!r}
        }})
        spark.stop()
    print(json.dumps(runs))
    """
)


def test_stages_survive_session_restart():
    """Stop a session and start a second one in the same process: the
    first call of each stage in the new session builds it afresh and
    returns the same rows. (A stage whose output path was named by pid
    and corpus deleted its own fresh output while evicting the dead
    session's entry at that same path.)"""
    keys = ["sink_txlog_time_travel", "dedup_clusters", "multimodal_phash_dedup"]
    script = _RESTART.format(repo=REPO, sf=TEST_SF_DIR, keys=keys)
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert all(first[k] for k in keys), first
    assert second == first


def test_same_basename_corpora_stage_apart(spark, tmp_path):
    """Two corpora at ``A/sfx`` and ``B/sfx``: staging B must not replace
    A's staged pairs, so A's third call equals its first."""
    fixtures = os.path.dirname(TEST_SF_DIR)
    for name, scale in (("A", "sf0.001"), ("B", "sf0.01")):
        src = os.path.join(fixtures, scale)
        sf = tmp_path / name / "sfx"
        sf.mkdir(parents=True)
        for t in TABLES:
            (sf / f"{t}.parquet").symlink_to(table_path(src, t))
    a, b = str(tmp_path / "A" / "sfx"), str(tmp_path / "B" / "sfx")
    first = sorted(verified_near_dups_docs(spark, a).collect())
    other = sorted(verified_near_dups_docs(spark, b).collect())
    third = sorted(verified_near_dups_docs(spark, a).collect())
    assert other != first
    assert third == first


def test_staged_parquet_hit_runs_no_job(spark):
    """After one warm call a staged-parquet stage is read back with the
    schema kept at its write: building the frame again runs no Spark job
    (``spark.read.parquet(dir)`` would run a footer job every call)."""
    for name, build in (
        ("verified-pairs", lambda: verified_near_dups_docs(spark, TEST_SF_DIR)),
        ("dedup-clusters", lambda: q_dedup_clusters(spark, TEST_SF_DIR)),
    ):
        warm = build().collect()
        df, n_jobs = _jobs_in_group(spark, f"staged-hit-{name}", build)
        assert n_jobs == 0, f"{name}: a staged hit ran {n_jobs} jobs"
        assert sorted(df.collect()) == sorted(warm)
