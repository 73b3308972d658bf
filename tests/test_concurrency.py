"""Multi-writer stress: the put-if-absent commit protocol under REAL
process-level concurrency (separate interpreters — the deployment shape
of N independent Spark drivers sharing one table on an object store),
plus serializability of racing semantic mutators.

The thread-level races live in tests/test_sinks.py
(test_txlog_ds_writer_concurrent_appends); this module removes the
shared-interpreter safety net: children share NOTHING but the
filesystem, exactly like independent cluster jobs."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from tests.conftest import TEST_SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = textwrap.dedent(
    """
    import os, sys, json
    sys.path.insert(0, {repo!r})
    import pyarrow as pa
    import pyarrow.parquet as pq
    from aind_data_transformation_spark.io.txlog_source import (
        _log_rows, attempt_commit,
    )

    log_dir, data_dir, pid, n_commits = (
        sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
    )
    for seq in range(n_commits):
        path = os.path.join(data_dir, f"p{{pid}}-s{{seq}}.parquet")
        pq.write_table(
            pa.table({{
                "pid": pa.array([pid] * 5, pa.int64()),
                "seq": pa.array([seq] * 5, pa.int64()),
                "val": pa.array(list(range(5)), pa.int64()),
            }}),
            path,
        )
        # optimistic loop: ONE snapshot feeds the version claim; a
        # lost race re-snapshots (same invariant as every engine
        # mutator). No backoff on purpose — maximal contention.
        for _ in range(2000):
            rows = _log_rows(log_dir)
            version = max(
                (r.get("commit", 0) for r in rows), default=-1
            ) + 1
            if attempt_commit(
                log_dir, version,
                [{{"commit": version, "action": "add", "path": path}}],
                op=f"APPEND-p{{pid}}", rows=rows,
            ):
                break
        else:
            raise SystemExit(f"p{{pid}} seq {{seq}}: retries exhausted")
    print("done", pid)
    """
)


def test_multiprocess_appenders_no_lost_commits(tmp_path, spark):
    """8 interpreter processes x 6 commits each against ONE table, no
    coordination beyond O_CREAT|O_EXCL on the version file. Every
    commit must land: versions contiguous, every (pid, seq) add live,
    exactly one commitInfo per commit with non-decreasing timestamps,
    and the connector read serves all rows."""
    from aind_data_transformation_spark.io import txlog_source as tx

    n_procs, n_commits = 8, 6
    base = tmp_path / "mp_appends"
    log_dir, data_dir = str(base / "_log"), str(base / "data")
    os.makedirs(log_dir)
    os.makedirs(data_dir)
    child = _CHILD.format(repo=REPO)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", child, log_dir, data_dir,
             str(pid), str(n_commits)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for pid in range(n_procs)
    ]
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err[-1500:]

    rows = tx._log_rows(log_dir)
    versions = sorted({r["commit"] for r in rows})
    assert versions == list(range(n_procs * n_commits)), (
        "lost or duplicated commit versions"
    )
    adds = [r for r in rows if r["action"] == "add"]
    assert len(adds) == n_procs * n_commits
    # exactly one commitInfo per version, timestamps non-decreasing in
    # version order (attempt_commit clamps against the head it saw —
    # under racing this is monotone per the winning chain)
    cis = sorted(
        (r for r in rows if r["action"] == "commitInfo"),
        key=lambda r: r["commit"],
    )
    assert len(cis) == n_procs * n_commits
    assert [c["commit"] for c in cis] == versions
    ts = [c["ts"] for c in cis]
    assert all(b >= a for a, b in zip(ts, ts[1:])), (
        "commit timestamps regressed across the winning chain"
    )
    # every (pid, seq) present exactly once, via the real connector
    tx.register(spark)
    df = spark.read.format("txlog").option("path", log_dir).load()
    got = {
        (r["pid"], r["seq"], r["n"])
        for r in df.groupBy("pid", "seq").count()
        .withColumnRenamed("count", "n").collect()
    }
    want = {
        (pid, seq, 5)
        for pid in range(n_procs)
        for seq in range(n_commits)
    }
    assert got == want


def test_merge_vs_delete_serializability(tmp_path, spark, monkeypatch):
    """A COPY-ON-WRITE merge racing a file-removing compaction on the
    same table must end in a state equal to SOME serial order — never
    a lost update or a resurrected file. Forced interleaving: the
    merge computes its rewrite against snapshot S, then a delete
    commits FIRST touching one of the merge's files; the merge's
    commit-race path must detect the overlap and recompute (engine
    conflict check), not blind-rebase."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.io.txlog_source import (
        _live_files, _log_rows, attempt_commit,
    )
    from aind_data_transformation_spark.queries import sinks

    base = tmp_path / "merge_race"
    log_dir, data_dir = str(base / "_log"), str(base / "data")
    os.makedirs(log_dir)
    os.makedirs(data_dir)
    # two files, keys 0-4 and 5-9
    for b in range(2):
        pq.write_table(
            pa.table({
                "k": pa.array(range(b * 5, b * 5 + 5), pa.int64()),
                "v": pa.array([10] * 5, pa.int64()),
            }),
            os.path.join(data_dir, f"f{b}.parquet"),
        )
        attempt_commit(
            log_dir, b,
            [{
                "commit": b, "action": "add",
                "path": os.path.join(data_dir, f"f{b}.parquet"),
            }],
        )
    # interloper: remove f0 (the file the merge must rewrite) and
    # re-add its surviving rows as f0b — a compaction shape
    pq.write_table(
        pa.table({
            "k": pa.array(range(1, 5), pa.int64()),
            "v": pa.array([10] * 4, pa.int64()),
        }),
        os.path.join(data_dir, "f0b.parquet"),
    )

    interposed = {"done": False}
    orig = attempt_commit

    def racing_commit(log_dir_, version, actions, **kw):
        # fire the interloper exactly once, just before the merge's
        # first commit attempt — the merge's snapshot is now stale
        if not interposed["done"]:
            interposed["done"] = True
            assert orig(
                log_dir_, version,
                [
                    {"commit": version, "action": "remove",
                     "path": os.path.join(data_dir, "f0.parquet")},
                    {"commit": version, "action": "add",
                     "path": os.path.join(data_dir, "f0b.parquet")},
                ],
                op="DELETE",
            )
        return orig(log_dir_, version, actions, **kw)

    # merge: delete key 0 (lives in f0), update key 7 -> v=99
    changes = spark.createDataFrame(
        [(0, 10, "D"), (7, 99, "U")], "k long, v long, op string"
    )
    monkeypatch.setattr(txlog_source, "attempt_commit", racing_commit)
    res = sinks.txlog_merge(spark, log_dir, changes, "k")
    assert res["version"] is not None
    assert interposed["done"], "interloper never fired"
    # the overlap was a REAL conflict (interloper removed a file the
    # merge planned to rewrite) — the merge must have recomputed, not
    # blind-rebased its stale rewrite
    assert res["recomputes"] >= 1, res

    rows = _log_rows(log_dir)
    live = _live_files(rows)
    final = {
        (r["k"], r["v"])
        for r in spark.read.parquet(*live).collect()
    }
    # serial order delete-then-merge: k0 removed (by BOTH — the merge
    # recomputed over f0b which no longer holds it... and the delete
    # dropped it), k7 updated, everything else intact
    want = {(k, 10) for k in range(1, 10) if k != 7} | {(7, 99)}
    assert final == want, final
    # and f0 must NOT be live (no resurrection by the merge's stale
    # rewrite plan)
    assert not any(p.endswith("f0.parquet") for p in live)


def test_append_only_survives_multiprocess_race(tmp_path):
    """The protocol gate holds under racing: with append_only set,
    concurrent processes doing appends all land, and a racing remover
    process NEVER lands regardless of interleaving."""
    import textwrap as tw

    from aind_data_transformation_spark.io.txlog_source import (
        _log_rows, attempt_commit, set_protocol,
    )

    base = tmp_path / "mp_appendonly"
    log_dir, data_dir = str(base / "_log"), str(base / "data")
    os.makedirs(log_dir)
    os.makedirs(data_dir)
    set_protocol(log_dir, 2, 2, [], ["append_only"])
    remover = tw.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from aind_data_transformation_spark.io.txlog_source import (
            _log_rows, attempt_commit, TxlogProtocolError,
        )
        blocked = 0
        for i in range(10):
            rows = _log_rows({log_dir!r})
            v = max((r.get("commit", 0) for r in rows), default=-1) + 1
            try:
                attempt_commit(
                    {log_dir!r}, v,
                    [{{"commit": v, "action": "remove", "path": "x"}}],
                    rows=rows,
                )
            except TxlogProtocolError:
                blocked += 1
        print(blocked)
        """
    )
    appender = _CHILD.format(repo=REPO)
    ps = [
        subprocess.Popen(
            [sys.executable, "-c", appender, log_dir, data_dir,
             str(pid), "4"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for pid in range(3)
    ] + [
        subprocess.Popen(
            [sys.executable, "-c", remover],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
    ]
    outs = []
    for p in ps:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err[-1500:]
        outs.append(out.strip())
    assert outs[-1] == "10", "some remove slipped past the gate"
    rows = _log_rows(log_dir)
    assert sum(1 for r in rows if r["action"] == "remove") == 0
    assert sum(1 for r in rows if r["action"] == "add") == 12


def test_dv_delete_applies_on_file_granular_tables(tmp_path, spark):
    """Regression (r12): the mutators mapped input_file_name() to its
    parent DIRECTORY unconditionally, so on a table whose adds are
    per-FILE (the connector's stats/bloom shape) a DV's target matched
    no live path — the live-DV replay dropped it and deleted rows came
    back. The mapping now resolves to the logged add itself."""
    from aind_data_transformation_spark.io import txlog_source as tx
    from aind_data_transformation_spark.queries import sinks
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "dv_filegranular")
    log_dir = os.path.join(base, "_log")
    tx.register(spark)
    nation = load_table(spark, TEST_SF_DIR, "nation")
    # stats_col => Delta-style one add PER FILE
    (
        nation.repartition(4)
        .write.format("txlog")
        .mode("append")
        .option("stats_col", "n_nationkey")
        .save(log_dir)
    )
    adds = [
        r for r in tx._log_rows(log_dir) if r.get("action") == "add"
    ]
    assert len(adds) == 4 and all(
        r["path"].endswith(".parquet") for r in adds
    ), "fixture must be file-granular"
    res = sinks.txlog_delete_with_dv(
        spark,
        log_dir,
        spark.createDataFrame(
            [(k,) for k in (0, 7, 19)], "n_nationkey long"
        ),
        "n_nationkey",
    )
    assert res["version"] is not None
    got = sorted(
        r["n_nationkey"]
        for r in sinks.txlog_read_with_dvs(
            spark, log_dir, "n_nationkey"
        ).collect()
    )
    assert got == [k for k in range(25) if k not in (0, 7, 19)], (
        "DV delete did not apply on a file-granular table"
    )


def test_upsert_classify_delete_race_degrades_to_insert(
    tmp_path, spark, monkeypatch
):
    """A key classified U (live) that a concurrent delete removes
    before the merge's own snapshot must still land — the unmatched
    update degrades to an insert (Delta's whenNotMatched fallback),
    never a lost row or a resurrected old image."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.io.txlog_source import (
        _live_files, _log_rows, attempt_commit,
    )
    from aind_data_transformation_spark.queries import sinks

    base = tmp_path / "upsert_race"
    log_dir, data_dir = str(base / "_log"), str(base / "data")
    os.makedirs(log_dir)
    os.makedirs(data_dir)
    pq.write_table(
        pa.table({
            "k": pa.array(range(5), pa.int64()),
            "v": pa.array([1] * 5, pa.int64()),
        }),
        os.path.join(data_dir, "f0.parquet"),
    )
    attempt_commit(
        log_dir, 0,
        [{"commit": 0, "action": "add",
          "path": os.path.join(data_dir, "f0.parquet")}],
    )

    fired = {"done": False}
    orig = attempt_commit

    def racing(log_dir_, version, actions, **kw):
        if not fired["done"]:
            fired["done"] = True
            # interloper: compaction drops key 2 entirely
            pq.write_table(
                pa.table({
                    "k": pa.array([0, 1, 3, 4], pa.int64()),
                    "v": pa.array([1] * 4, pa.int64()),
                }),
                os.path.join(data_dir, "f0b.parquet"),
            )
            assert orig(
                log_dir_, version,
                [
                    {"commit": version, "action": "remove",
                     "path": os.path.join(data_dir, "f0.parquet")},
                    {"commit": version, "action": "add",
                     "path": os.path.join(data_dir, "f0b.parquet")},
                ],
                op="DELETE",
            )
        return orig(log_dir_, version, actions, **kw)

    batch = spark.createDataFrame([(2, 99), (7, 50)], "k long, v long")
    monkeypatch.setattr(txlog_source, "attempt_commit", racing)
    res = sinks.txlog_upsert(spark, log_dir, batch, "k")
    # classification saw key 2 live -> U; key 7 new -> I
    assert (res["n_updated"], res["n_inserted"]) == (1, 1)
    assert fired["done"]
    final = {
        (r["k"], r["v"])
        for r in spark.read.parquet(
            *_live_files(_log_rows(log_dir))
        ).collect()
    }
    # delete-then-upsert serial order: key 2 re-lands with the NEW
    # image, key 7 inserted, others untouched
    assert final == {(0, 1), (1, 1), (3, 1), (4, 1), (2, 99), (7, 50)}, (
        final
    )


def test_concurrent_load_table_fills_schema_cache_once_per_table(
    spark, monkeypatch
):
    """8 threads load the 10 driver tables at once, starting from an empty
    schema cache (``queries/sinks.py`` calls ``load_table`` from a thread
    pool). No load raises, every schema equals an inferred read's, and the
    cache ends with exactly one entry per table."""
    from concurrent.futures import ThreadPoolExecutor

    from aind_data_transformation_spark.io import sources
    from tests.test_sources import _inferred

    monkeypatch.setattr(sources, "_SCHEMA_CACHE", {})
    expected = {
        name: _inferred(spark, TEST_SF_DIR, name).schema
        for name in sources.TABLES
    }

    def load_all(i):
        # each thread starts at a different table
        order = sources.TABLES[i:] + sources.TABLES[:i]
        return {
            name: sources.load_table(spark, TEST_SF_DIR, name).schema
            for name in order
        }

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(load_all, range(8)))
    assert results == [expected] * 8
    cached_paths = sorted(k[1] for k in sources._SCHEMA_CACHE)
    assert cached_paths == sorted(
        sources.table_path(TEST_SF_DIR, name) for name in sources.TABLES
    )
    app = spark.sparkContext.applicationId
    assert {k[0] for k in sources._SCHEMA_CACHE} == {app}


class _StubSession:
    """Just enough of a SparkSession for ``ops.session_stage``."""

    def __init__(self, app_id: str):
        self.sparkContext = type("SC", (), {"applicationId": app_id})()


@pytest.fixture
def ops(monkeypatch):
    """The ``ops`` module with an empty session-stage table; the scratch
    dirs made during the test are removed afterwards."""
    from aind_data_transformation_spark import ops as ops_module

    monkeypatch.setattr(ops_module, "_STAGES", {})
    yield ops_module
    ops_module._drop_stages()


def test_session_stage_concurrent_first_calls_build_once(ops):
    """8 threads first-call one key with a slow build: it runs once and
    every thread gets the same value."""
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    spark = _StubSession("app-1")
    builds = []
    lock = threading.Lock()

    def build(scratch):
        with lock:
            builds.append(scratch)
        time.sleep(0.3)
        return object()

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            values = list(
                pool.map(
                    lambda _: ops.session_stage(spark, ("slow", "x"), build),
                    range(8),
                    timeout=60,
                )
            )
    finally:
        sys.setswitchinterval(switch)
    assert len(builds) == 1
    assert all(v is values[0] for v in values)


def test_session_stage_new_application_evicts_dead_entries(ops):
    """A second application id rebuilds the key; the first application's
    entry is dropped and its scratch dir removed, while the new entry's
    dir exists."""
    scratches = []

    def build(scratch):
        scratches.append(scratch)
        return len(scratches)

    assert ops.session_stage(_StubSession("app-a"), ("s", "x"), build) == 1
    assert ops.session_stage(_StubSession("app-a"), ("s", "x"), build) == 1
    assert ops.session_stage(_StubSession("app-b"), ("s", "x"), build) == 2
    assert [k[0] for k in ops._STAGES] == ["app-b"]
    assert not os.path.exists(scratches[0])
    assert os.path.isdir(scratches[1])


def test_session_stage_inputs_get_distinct_scratch_dirs(ops):
    """Keys that differ only in an input never share a scratch dir, so
    one input's build can never overwrite another's output."""
    spark = _StubSession("app-1")
    a = ops.session_stage(spark, ("s", "/a/sfx"), lambda d: d)
    b = ops.session_stage(spark, ("s", "/b/sfx"), lambda d: d)
    c = ops.session_stage(spark, ("s", "/a/sfx", 8), lambda d: d)
    assert len({a, b, c}) == 3
    assert all(os.path.isdir(d) for d in (a, b, c))


def test_session_stage_missing_scratch_dir_forces_rebuild(ops):
    """An entry is valid only while its scratch dir exists."""
    import shutil

    spark = _StubSession("app-1")
    first = ops.session_stage(spark, ("s",), lambda d: d)
    assert ops.session_stage(spark, ("s",), lambda d: "unused") == first
    shutil.rmtree(first)
    second = ops.session_stage(spark, ("s",), lambda d: d)
    assert second != first and os.path.isdir(second)


def test_application_id_read_only_by_the_two_session_caches():
    """``ops.session_stage`` is the one session-stage cache, beside the
    table-schema cache of ``io/sources.table_schema`` (keyed by file
    version, not a scratch stage). A new ``sparkContext.applicationId``
    read anywhere else is a hand-rolled cache."""
    import ast

    pkg = os.path.join(REPO, "aind_data_transformation_spark")
    found = set()
    for d, _dirs, files in os.walk(pkg):
        for f in (f for f in files if f.endswith(".py")):
            path = os.path.join(d, f)
            tree = ast.parse(open(path).read(), path)
            parent = {
                child: node
                for node in ast.walk(tree)
                for child in ast.iter_child_nodes(node)
            }
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Attribute)
                    and node.attr == "applicationId"
                ):
                    continue
                fn = node
                while fn is not None and not isinstance(
                    fn, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    fn = parent.get(fn)
                where = fn.name if fn is not None else "<module>"
                found.add((os.path.relpath(path, pkg), where))
    assert found == {
        ("ops.py", "session_stage"),
        (os.path.join("io", "sources.py"), "table_schema"),
    }


def test_temp_paths_made_only_in_ops():
    """``ops.session_stage`` and ``ops.scratch_dir`` are the package's
    only makers of temporary paths: a ``tempfile.*`` or ``os.getpid()``
    call anywhere else is a hand-built path that no application owns
    (a fixed pid path that a rebuild overwrites, or a temp dir nothing
    deletes)."""
    import ast

    pkg = os.path.join(REPO, "aind_data_transformation_spark")
    found = set()
    for d, _dirs, files in os.walk(pkg):
        for f in (f for f in files if f.endswith(".py")):
            path = os.path.join(d, f)
            for node in ast.walk(ast.parse(open(path).read(), path)):
                fn = getattr(node, "func", None)
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(fn, ast.Attribute)
                    and isinstance(fn.value, ast.Name)
                ):
                    continue
                if fn.value.id == "tempfile" or (
                    fn.value.id == "os" and fn.attr == "getpid"
                ):
                    found.add((os.path.relpath(path, pkg), node.lineno))
    assert {f for f, _ in found} == {"ops.py"}, sorted(found)


def test_attempt_commit_retried_only_by_the_commit_loop():
    """`io/txlog_source.commit_loop` is the one optimistic retry loop:
    a `for`/`while` loop anywhere else in the package that calls an
    ``*attempt_commit`` function is a hand-rolled copy of it, with its
    own snapshot, version and budget rules."""
    import ast

    pkg = os.path.join(REPO, "aind_data_transformation_spark")
    found = set()
    for d, _dirs, files in os.walk(pkg):
        for f in (f for f in files if f.endswith(".py")):
            path = os.path.join(d, f)
            tree = ast.parse(open(path).read(), path)
            parent = {
                child: node
                for node in ast.walk(tree)
                for child in ast.iter_child_nodes(node)
            }
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = getattr(fn, "id", None) or getattr(fn, "attr", "")
                if not name.endswith("attempt_commit"):
                    continue
                up, in_loop = parent.get(node), False
                while up is not None and not isinstance(
                    up, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    in_loop = in_loop or isinstance(up, (ast.For, ast.While))
                    up = parent.get(up)
                if in_loop:
                    where = up.name if up is not None else "<module>"
                    found.add((os.path.relpath(path, pkg), where))
    assert found == {(os.path.join("io", "txlog_source.py"), "commit_loop")}
