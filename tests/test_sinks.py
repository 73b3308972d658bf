"""Physical-layout assertions for the sink operators (the parts the
row-value oracle can't see): partition directory structure, file counts,
and codec."""

from __future__ import annotations

import glob
import os

import pytest

from tests.conftest import TEST_SF_DIR

from aind_data_transformation_spark.io import txlog_source as tx
from aind_data_transformation_spark.queries import sinks


def _live(spark, log_dir: str, as_of=None) -> list:
    """The live file list at ``as_of`` through the engine's replay."""
    return tx._live_files(sinks._txlog_log_rows(spark, log_dir), as_of)


def _input_root(df, depth: int = 1) -> str:
    """The directory ``depth`` levels above the first of ``df``'s input
    files: the layout a key wrote into its own scratch dir."""
    from urllib.parse import unquote, urlparse

    path = unquote(urlparse(sorted(df.inputFiles())[0]).path)
    for _ in range(depth):
        path = os.path.dirname(path)
    return path


def test_partitioned_sink_layout(spark):
    df = sinks.q_sink_parquet_partitioned(spark, TEST_SF_DIR)
    df.collect()
    out = _input_root(df, 2)
    part_dirs = sorted(
        d for d in os.listdir(out) if d.startswith("l_returnflag=")
    )
    assert part_dirs == ["l_returnflag=A", "l_returnflag=N", "l_returnflag=R"]
    files = glob.glob(os.path.join(out, "l_returnflag=A", "*.zstd.parquet"))
    assert files, "expected zstd-codec parquet files in each partition"


def test_repartition_sink_file_count(spark):
    df = sinks.q_sink_repartition(spark, TEST_SF_DIR)
    df.collect()
    out = _input_root(df)
    files = glob.glob(os.path.join(out, "part-*.parquet"))
    assert len(files) == 8


def test_txlog_merge_is_copy_on_write(spark):
    """The merge contract beyond the row oracle: (1) only the files
    holding matched keys are rewritten — batch-3 keeps its exact bytes
    and mtimes; (2) removes are logical — the replaced files stay on
    disk for time travel; (3) AS OF the pre-merge version still
    reconstructs the pre-merge snapshot exactly."""
    from tests.conftest import canon_frame

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_cow_test")
    pre = sinks._txlog_read(spark, log_dir, as_of=None).toPandas()
    data_dir = os.path.join(os.path.dirname(log_dir), "data")
    batch3 = os.path.join(data_dir, "batch-3")
    stat_before = {
        f: os.stat(os.path.join(batch3, f)).st_mtime_ns
        for f in os.listdir(batch3)
        if f.startswith("part-")
    }

    res = sinks.txlog_merge(
        spark, log_dir, sinks._merge_changes(spark, TEST_SF_DIR), "o_orderkey"
    )

    # exactly the two files holding matched keys were touched
    assert sorted(os.path.basename(p) for p in res["touched"]) == [
        "batch-0",
        "batch-2",
    ]
    assert res["version"] == 3
    # live set swapped touched files for the merge file; batch-3 intact
    live = _live(spark, log_dir)
    live_names = sorted(os.path.basename(p) for p in live)
    assert live_names[0] == "batch-3" and len(live_names) == 2
    assert live_names[1].startswith("merge-00003-")  # GUID-suffixed
    # untouched file not rewritten (same part files, same mtimes)
    stat_after = {
        f: os.stat(os.path.join(batch3, f)).st_mtime_ns
        for f in os.listdir(batch3)
        if f.startswith("part-")
    }
    assert stat_after == stat_before
    # removes are logical: replaced files still on disk (VACUUM's job)
    for p in res["touched"]:
        assert os.path.isdir(p) and any(
            f.startswith("part-") for f in os.listdir(p)
        )
    # time travel to the pre-merge version reconstructs the old rows
    pre_again = sinks._txlog_read(spark, log_dir, as_of=2).toPandas()
    assert canon_frame(pre_again) == canon_frame(pre)


def test_txlog_merge_survives_commit_race(spark, monkeypatch):
    """Optimistic concurrency: a concurrent writer steals the version
    the merge computed, AFTER the merge has read the log but BEFORE its
    commit lands (injected just ahead of the first put-if-absent
    attempt). The merge must lose attempt 1, recompute against the NEW
    snapshot, land at the next version — and produce exactly the rows a
    conflict-free merge would."""
    import json

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_race_test")
    data_dir = os.path.join(os.path.dirname(log_dir), "data")
    real = tx.attempt_commit
    state = {"injected": False}

    def racy(log_dir_, version, actions, **kw):
        if not state["injected"]:
            state["injected"] = True
            # the winner: a benign re-add of the already-live batch-3
            # (idempotent under last-action-wins, so the expected merge
            # result is unchanged)
            with open(
                os.path.join(log_dir_, f"{version:05d}.json"), "w"
            ) as fh:
                fh.write(
                    json.dumps(
                        {
                            "commit": version,
                            "action": "add",
                            "path": os.path.join(data_dir, "batch-3"),
                        }
                    )
                    + "\n"
                )
        return real(log_dir_, version, actions, **kw)

    monkeypatch.setattr(tx, "attempt_commit", racy)
    res = sinks.txlog_merge(
        spark, log_dir, sinks._merge_changes(spark, TEST_SF_DIR), "o_orderkey"
    )
    assert res["attempts"] == 2
    assert res["version"] == 4
    # the merged snapshot equals a conflict-free merge on a twin table
    twin = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_race_twin")
    sinks.txlog_merge(
        spark, twin, sinks._merge_changes(spark, TEST_SF_DIR), "o_orderkey"
    )
    got = sorted(
        tuple(r) for r in sinks._txlog_read(spark, log_dir, None).collect()
    )
    want = sorted(
        tuple(r) for r in sinks._txlog_read(spark, twin, None).collect()
    )
    assert got == want


def _orders(spark):
    from aind_data_transformation_spark.io.sources import load_table

    return load_table(spark, TEST_SF_DIR, "orders")


def _dv_delete(spark, log_dir):
    sinks.txlog_delete_with_dv(
        spark,
        log_dir,
        _orders(spark)
        .where("o_orderkey % 4 = 0 AND o_orderkey % 3 = 0")
        .select("o_orderkey"),
        "o_orderkey",
    )


def _with_dv_delete(spark, name):
    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, name)
    _dv_delete(spark, log_dir)
    return log_dir


def _with_constraint(spark, name):
    import json

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, name)
    with open(os.path.join(log_dir, "00003.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "commit": 3,
                    "action": "metaData",
                    "constraint": sinks._TXLOG_CHECK,
                }
            )
            + "\n"
        )
    return log_dir


def _dv_update(spark, log_dir):
    from pyspark.sql import functions as F

    k = F.col("o_orderkey")
    sinks.txlog_update_with_dv(
        spark,
        log_dir,
        _orders(spark)
        .where((k % 4 == 2) & (k % 5 == 0))
        .withColumn("o_totalprice", F.col("o_totalprice") + 10),
        "o_orderkey",
    )


def _mapped_append(spark, log_dir):
    from pyspark.sql import functions as F

    sinks.txlog_mapped_write(
        spark,
        log_dir,
        _orders(spark)
        .where(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").alias("price"),
            "o_custkey",
        ),
        "batch-c",
    )


def _std(spark, name):
    return sinks._build_txlog_table(spark, TEST_SF_DIR, name)


def _part(spark, name):
    return sinks._build_txlog_part_table(spark, TEST_SF_DIR, name)[0]


def _mapped(spark, name):
    return sinks._build_txlog_mapped_table(spark, TEST_SF_DIR, name)


def _plain_read(spark, log_dir):
    return sinks._txlog_snapshot(spark, log_dir)


def _dv_read(spark, log_dir):
    return sinks.txlog_read_with_dvs(spark, log_dir, "o_orderkey")


#: every engine mutator that commits through the one commit loop:
#: name -> (fixture table, mutation, snapshot read)
_MUTATORS = {
    "restore": (
        _std,
        lambda spark, d: sinks.txlog_restore(spark, d, to_version=1),
        _plain_read,
    ),
    "delete_with_dv": (_std, _dv_delete, _dv_read),
    "dv_materialize": (
        _with_dv_delete,
        lambda spark, d: sinks.txlog_dv_materialize(spark, d, "o_orderkey"),
        _plain_read,
    ),
    "update_with_dv": (_std, _dv_update, _dv_read),
    "replace_where": (
        _part,
        lambda spark, d: sinks.txlog_replace_where(
            spark,
            d,
            "O",
            _orders(spark).where(
                "o_orderstatus = 'O' AND o_orderkey % 2 = 0"
            ),
        ),
        _plain_read,
    ),
    "constrained_append": (
        _with_constraint,
        lambda spark, d: sinks.txlog_constrained_append(
            spark, d, _orders(spark).limit(10)
        ),
        _plain_read,
    ),
    "add_column": (
        _mapped,
        lambda spark, d: sinks.txlog_add_column(spark, d, "extra", "bigint"),
        sinks.txlog_mapped_read,
    ),
    "rename_column": (
        _mapped,
        lambda spark, d: sinks.txlog_rename_column(spark, d, "price", "p2"),
        sinks.txlog_mapped_read,
    ),
    "drop_column": (
        _mapped,
        lambda spark, d: sinks.txlog_drop_column(spark, d, "o_orderstatus"),
        sinks.txlog_mapped_read,
    ),
    "mapped_write": (_mapped, _mapped_append, sinks.txlog_mapped_read),
}


def _head(log_dir):
    return max(r["commit"] for r in tx._log_rows(log_dir))


def _competitor(version):
    # a benign concurrent commit: a txn marker touches no file, no
    # partition, no constraint and no mapping, so the conflict-free
    # result stays the expected one
    return [{"commit": version, "action": "txn", "path": f"rival-{version}"}]


@pytest.mark.parametrize("name", sorted(_MUTATORS))
def test_txlog_mutator_survives_commit_race(spark, monkeypatch, name):
    """The lost-race contract of every engine mutator: a competing
    commit takes the version the mutator claimed, just before its
    first attempt. The mutator must lose that attempt, land at the next
    version, and leave exactly the snapshot a conflict-free run leaves
    on a twin table."""
    from tests.conftest import canon_frame

    build, mutate, read = _MUTATORS[name]
    twin = build(spark, f"txlog_race_twin_{name}")
    mutate(spark, twin)
    log_dir = build(spark, f"txlog_race_{name}")
    head0 = _head(log_dir)
    real = tx.attempt_commit
    calls = []

    def racy(log_dir_, version, actions, **kw):
        calls.append(version)
        if len(calls) == 1:
            assert real(log_dir_, version, _competitor(version))
        return real(log_dir_, version, actions, **kw)

    monkeypatch.setattr(tx, "attempt_commit", racy)
    mutate(spark, log_dir)
    monkeypatch.setattr(tx, "attempt_commit", real)
    assert calls == [head0 + 1, head0 + 2]
    assert _head(log_dir) == head0 + 2 == _head(twin) + 1
    got, want = read(spark, log_dir), read(spark, twin)
    assert got.columns == want.columns
    assert canon_frame(got.toPandas()) == canon_frame(want.toPandas())


@pytest.mark.parametrize("name", sorted(_MUTATORS))
def test_txlog_mutator_raises_after_its_budget(spark, monkeypatch, name):
    """A competing commit before EVERY attempt: the mutator raises
    `TxlogConflictError` after exactly the engine budget of attempts,
    and none of its actions reach the log."""
    build, mutate, _ = _MUTATORS[name]
    log_dir = build(spark, f"txlog_budget_{name}")
    head0 = _head(log_dir)
    real = tx.attempt_commit
    calls = []

    def always(log_dir_, version, actions, **kw):
        calls.append(version)
        assert real(log_dir_, version, _competitor(version))
        return real(log_dir_, version, actions, **kw)

    monkeypatch.setattr(tx, "attempt_commit", always)
    with pytest.raises(sinks.TxlogConflictError):
        mutate(spark, log_dir)
    monkeypatch.setattr(tx, "attempt_commit", real)
    budget = tx.ENGINE_COMMIT_BUDGET
    assert budget == 3
    assert calls == [head0 + 1 + i for i in range(budget)]
    tail = [r for r in tx._log_rows(log_dir) if r["commit"] > head0]
    assert {r["action"] for r in tail} == {"commitInfo", "txn"}


def test_txlog_merge_disjoint_writers_skip_recompute(spark, monkeypatch):
    """Delta's conflict checker, cheap path (r8 verdict item #6): writer
    B lands a full merge touching ONLY batch-2 between writer A's log
    read and A's commit (A touches only batch-0, and B's new file holds
    none of A's keys). A must lose attempt 1, pass the cheap
    disjointness check, and re-commit its already-written rewrite at
    the next version with ZERO recomputes — and the final table must
    equal the two merges applied sequentially on a twin."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    orders = load_table(spark, TEST_SF_DIR, "orders")
    k = F.col("o_orderkey")
    # A: deletes living only in batch-0 (keys ≡0 mod 4)
    a_changes = orders.where((k % 4 == 0) & (k % 3 == 0)).withColumn(
        "op", F.lit("D")
    )
    # B: updates living only in batch-2 (keys ≡2 mod 4)
    b_changes = (
        orders.where((k % 4 == 2) & (k % 5 == 0))
        .withColumn("o_totalprice", F.col("o_totalprice") + 10)
        .withColumn("op", F.lit("U"))
    )

    log_dir = sinks._build_txlog_table(
        spark, TEST_SF_DIR, "txlog_disjoint_test"
    )
    real = tx.attempt_commit
    state = {"injected": False}

    def racy(log_dir_, version, actions, **kw):
        if not state["injected"]:
            state["injected"] = True
            # writer B: a complete merge that wins version 3
            res_b = sinks.txlog_merge(
                spark, log_dir_, b_changes, "o_orderkey"
            )
            assert res_b["version"] == 3
            assert res_b["attempts"] == 1 and res_b["recomputes"] == 0
        return real(log_dir_, version, actions, **kw)

    monkeypatch.setattr(tx, "attempt_commit", racy)
    res_a = sinks.txlog_merge(spark, log_dir, a_changes, "o_orderkey")
    assert res_a["recomputes"] == 0, "disjoint writers must not recompute"
    assert res_a["attempts"] == 2
    assert res_a["version"] == 4
    assert sorted(os.path.basename(p) for p in res_a["touched"]) == [
        "batch-0"
    ]

    # equivalence: sequential application on a twin table
    twin = sinks._build_txlog_table(
        spark, TEST_SF_DIR, "txlog_disjoint_twin"
    )
    monkeypatch.setattr(tx, "attempt_commit", real)
    sinks.txlog_merge(spark, twin, b_changes, "o_orderkey")
    sinks.txlog_merge(spark, twin, a_changes, "o_orderkey")
    got = sorted(
        tuple(r) for r in sinks._txlog_read(spark, log_dir, None).collect()
    )
    want = sorted(
        tuple(r) for r in sinks._txlog_read(spark, twin, None).collect()
    )
    assert got == want


def test_txlog_merge_overlapping_writers_do_recompute(spark, monkeypatch):
    """The conflict checker's other face: the intervener's new file DOES
    contain keys A deletes (B inserts re-keyed copies that collide with
    A's delete set), so A must take the full revalidate-and-retry path —
    recomputes == 1 — and the recomputed merge must delete the keys from
    B's file too (serial equivalence B-then-A)."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    orders = load_table(spark, TEST_SF_DIR, "orders")
    k = F.col("o_orderkey")
    # A deletes keys ≡0 mod 4 divisible by 3
    a_changes = orders.where((k % 4 == 0) & (k % 3 == 0)).withColumn(
        "op", F.lit("D")
    )
    # B INSERTS rows whose keys collide with A's delete set
    b_changes = (
        orders.where((k % 4 == 0) & (k % 3 == 0))
        .limit(5)
        .withColumn("op", F.lit("I"))
    )

    log_dir = sinks._build_txlog_table(
        spark, TEST_SF_DIR, "txlog_overlap_test"
    )
    real = tx.attempt_commit
    state = {"injected": False}

    def racy(log_dir_, version, actions, **kw):
        if not state["injected"]:
            state["injected"] = True
            sinks.txlog_merge(spark, log_dir_, b_changes, "o_orderkey")
        return real(log_dir_, version, actions, **kw)

    monkeypatch.setattr(tx, "attempt_commit", racy)
    res_a = sinks.txlog_merge(spark, log_dir, a_changes, "o_orderkey")
    assert res_a["recomputes"] == 1, "overlapping keys must recompute"
    # serial equivalence: B's inserted copies of the deleted keys are
    # gone too — no row with a deleted key survives anywhere
    live = _live(spark, log_dir)
    survivors = spark.read.parquet(*live).join(
        a_changes.select("o_orderkey"), "o_orderkey", "left_semi"
    )
    assert survivors.count() == 0


def test_txlog_merge_insert_only_changeset(spark):
    """An insert-only change-set (no D/U rows, so no live file holds a
    matched key) must commit cleanly: nothing touched, no parquet read
    of an empty path list, just the new rows appended as the merge
    file (r8 ADVICE item #2)."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_ins_test")
    pre = sinks._txlog_read(spark, log_dir, as_of=None).toPandas()
    k = F.col("o_orderkey")
    inserts = (
        load_table(spark, TEST_SF_DIR, "orders")
        .where((k % 4 == 1) & (k % 7 == 0))
        .withColumn("o_orderkey", (k + 100000000).cast("long"))
        .withColumn("op", F.lit("I"))
    )
    res = sinks.txlog_merge(spark, log_dir, inserts, "o_orderkey")
    assert res["touched"] == []
    assert res["version"] == 3
    live = _live(spark, log_dir)
    live_names = sorted(os.path.basename(p) for p in live)
    assert live_names[:3] == ["batch-0", "batch-2", "batch-3"]
    assert len(live_names) == 4 and live_names[3].startswith("merge-00003-")
    # post-merge rows = pre-merge rows + exactly the inserts
    import pandas as pd

    post = sinks._txlog_read(spark, log_dir, as_of=None).toPandas()
    n_ins = inserts.count()
    assert post["n_rows"].sum() == pre["n_rows"].sum() + n_ins


def test_txlog_dv_read_runs_no_job(spark):
    """Deletion-vector sidecars have a fixed schema (``target string``
    plus the snapshot's key type), so building a DV-aware read runs no
    Spark job: no footer is opened to infer it. The read still drops
    exactly the deleted keys."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table
    from tests.test_sources import _jobs_in_group

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_dv_jobs")
    k = F.col("o_orderkey")
    deletes = (
        load_table(spark, TEST_SF_DIR, "orders")
        .where((k % 4 == 0) & (k % 3 == 0))
        .select("o_orderkey")
    )
    sinks.txlog_delete_with_dv(spark, log_dir, deletes, "o_orderkey")
    df, n_jobs = _jobs_in_group(
        spark,
        "dv-read-build",
        lambda: sinks.txlog_read_with_dvs(spark, log_dir, "o_orderkey"),
    )
    assert n_jobs == 0
    snap = sinks._txlog_snapshot(spark, log_dir)
    assert df.join(deletes, "o_orderkey", "left_semi").count() == 0
    assert df.count() == snap.join(deletes, "o_orderkey", "left_anti").count()


def test_txlog_dv_delete_is_merge_on_read(spark):
    """The MoR contract beyond the row oracle — the INVERSE of the CoW
    layout test: (1) a DV DELETE rewrites NO data file (every batch
    keeps its exact part files and mtimes); (2) the deletion vector is
    a real sidecar on disk, delete-sized; (3) time travel to the
    pre-delete version still sees the deleted rows; (4) OPTIMIZE
    (`txlog_dv_materialize`) rewrites exactly the DV'd file, after
    which the DV is inert and the plain snapshot equals the DV-aware
    read."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table
    from tests.conftest import canon_frame

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_dv_test")
    data_dir = os.path.join(os.path.dirname(log_dir), "data")

    def _mtimes():
        out = {}
        for b in ("batch-0", "batch-2", "batch-3"):
            d = os.path.join(data_dir, b)
            for f in os.listdir(d):
                if f.startswith("part-"):
                    out[(b, f)] = os.stat(os.path.join(d, f)).st_mtime_ns
        return out

    pre_rows = sinks._txlog_read(spark, log_dir, as_of=None).toPandas()
    before = _mtimes()
    k = F.col("o_orderkey")
    deletes = (
        load_table(spark, TEST_SF_DIR, "orders")
        .where((k % 4 == 0) & (k % 3 == 0))
        .select("o_orderkey")
    )
    res = sinks.txlog_delete_with_dv(spark, log_dir, deletes, "o_orderkey")
    assert res["version"] == 3 and res["attempts"] == 1
    # (1) NO data file rewritten
    assert _mtimes() == before
    # (2) the DV sidecar exists and holds (target, key) rows
    assert os.path.isdir(res["dv"])
    dv = spark.read.parquet(res["dv"])
    assert set(dv.columns) == {"target", "key"}
    n_dv = dv.count()
    assert n_dv == deletes.join(
        spark.read.parquet(os.path.join(data_dir, "batch-0")),
        "o_orderkey",
        "left_semi",
    ).count()
    # the live file SET is unchanged (the delete is pure metadata)
    live = _live(spark, log_dir)
    assert sorted(os.path.basename(p) for p in live) == [
        "batch-0",
        "batch-2",
        "batch-3",
    ]
    # (3) time travel to the pre-delete version sees the deleted rows
    tt = sinks.txlog_read_with_dvs(
        spark, log_dir, "o_orderkey", as_of=2
    )
    agg = tt.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        ).cast("long").alias("sum_price_cents"),
    )
    assert canon_frame(agg.toPandas()) == canon_frame(pre_rows)
    # (4) OPTIMIZE rewrites exactly the DV'd file and retires the DV
    post_dv = sinks.txlog_read_with_dvs(spark, log_dir, "o_orderkey")
    want = sorted(tuple(r) for r in post_dv.collect())
    mat = sinks.txlog_dv_materialize(spark, log_dir, "o_orderkey")
    assert sorted(os.path.basename(p) for p in mat["rewritten"]) == [
        "batch-0"
    ]
    live2 = _live(spark, log_dir)
    assert sorted(os.path.basename(p) for p in live2) == [
        "batch-2",
        "batch-3",
        f"optimize-{mat['version']:05d}",
    ]
    plain = spark.read.parquet(*live2)
    assert sorted(tuple(r) for r in plain.collect()) == want
    # DV-aware read after materialize = plain read (the DV is inert)
    dvread = sinks.txlog_read_with_dvs(spark, log_dir, "o_orderkey")
    assert sorted(tuple(r) for r in dvread.collect()) == want


def test_txlog_vacuum_reclaims_inert_dvs_and_readers_survive(spark):
    """The DV storage lifecycle: while the DV's target is live, VACUUM
    must keep the sidecar (a reader still needs it); after OPTIMIZE
    retires the DV, VACUUM physically reclaims it — and the DV-aware
    reader still works because applicability is decided from the log's
    target metadata, never by opening dead sidecars."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_dvvac_test")
    k = F.col("o_orderkey")
    deletes = (
        load_table(spark, TEST_SF_DIR, "orders")
        .where((k % 4 == 0) & (k % 3 == 0))
        .select("o_orderkey")
    )
    res = sinks.txlog_delete_with_dv(spark, log_dir, deletes, "o_orderkey")
    want = sorted(
        tuple(r)
        for r in sinks.txlog_read_with_dvs(
            spark, log_dir, "o_orderkey"
        ).collect()
    )
    # target still live: vacuum keeps the sidecar
    v1 = sinks.txlog_vacuum(spark, log_dir, retain_versions=(None,))
    assert res["dv"] not in v1["deleted"]
    assert os.path.isdir(res["dv"])
    # OPTIMIZE retires the DV; vacuum now reclaims it
    sinks.txlog_dv_materialize(spark, log_dir, "o_orderkey")
    v2 = sinks.txlog_vacuum(spark, log_dir, retain_versions=(None,))
    assert res["dv"] in v2["deleted"]
    assert not os.path.isdir(res["dv"])
    # the DV-aware reader never lists the dead sidecar -> still exact
    got = sorted(
        tuple(r)
        for r in sinks.txlog_read_with_dvs(
            spark, log_dir, "o_orderkey"
        ).collect()
    )
    assert got == want


def test_txlog_mor_update_rewrites_nothing(spark):
    """MoR UPDATE layout contract: zero base files rewritten (all three
    batches keep their exact part files and mtimes); the commit adds
    only the delta file and the DV sidecar, both delete/update-sized."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    log_dir = sinks._build_txlog_table(
        spark, TEST_SF_DIR, "txlog_morupd_test"
    )
    data_dir = os.path.join(os.path.dirname(log_dir), "data")

    def _mtimes():
        out = {}
        for b in ("batch-0", "batch-2", "batch-3"):
            d = os.path.join(data_dir, b)
            for f in os.listdir(d):
                if f.startswith("part-"):
                    out[(b, f)] = os.stat(os.path.join(d, f)).st_mtime_ns
        return out

    before = _mtimes()
    k = F.col("o_orderkey")
    updates = (
        load_table(spark, TEST_SF_DIR, "orders")
        .where((k % 4 == 2) & (k % 5 == 0))
        .withColumn("o_totalprice", F.col("o_totalprice") + 10)
    )
    res = sinks.txlog_update_with_dv(spark, log_dir, updates, "o_orderkey")
    assert _mtimes() == before
    assert sorted(os.path.basename(t) for t in res["targets"]) == [
        "batch-2"
    ]
    # updated keys read back with the NEW image exactly once
    snap = sinks.txlog_read_with_dvs(spark, log_dir, "o_orderkey")
    one = updates.limit(1).collect()[0]
    got = snap.where(
        F.col("o_orderkey") == one["o_orderkey"]
    ).collect()
    assert len(got) == 1
    assert abs(got[0]["o_totalprice"] - one["o_totalprice"]) < 1e-9


def test_txlog_shallow_clone_is_zero_copy_and_isolated(spark, tmp_path):
    """Clone contract: (1) commit 0 of the clone references the SOURCE's
    batch dirs verbatim — no data copied; (2) a merge on the clone
    leaves the source snapshot byte-identical; (3) the clone's merge
    file lands under the CLONE's data dir, not the source's."""
    from tests.conftest import canon_frame

    src_log = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_cl_src")
    pre = sinks._txlog_read(spark, src_log, as_of=None).toPandas()
    clone_base = str(tmp_path / "txlog_cl_dst")
    clone_log = sinks.txlog_shallow_clone(spark, src_log, clone_base)
    # zero copy: the clone's live set IS the source's live set
    assert _live(spark, clone_log) == _live(spark, src_log)
    res = sinks.txlog_merge(
        spark, clone_log, sinks._merge_changes(spark, TEST_SF_DIR),
        "o_orderkey",
    )
    # the clone's rewrite lives under the clone, not the source
    assert res["added"].startswith(clone_base)
    # divergence: source snapshot unchanged
    post_src = sinks._txlog_read(spark, src_log, as_of=None).toPandas()
    assert canon_frame(post_src) == canon_frame(pre)


def test_txlog_clone_vacuum_never_deletes_source_files(spark, tmp_path):
    """Ownership scope: after a merge on the clone tombstones the
    SHARED batch files in the clone's log, VACUUM on the clone must
    skip them (they live under the source's root) and report them as
    skipped_external — the source keeps reading exactly."""
    from tests.conftest import canon_frame

    src_log = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_clv_src")
    pre = sinks._txlog_read(spark, src_log, as_of=None).toPandas()
    clone_base = str(tmp_path / "txlog_clv_dst")
    clone_log = sinks.txlog_shallow_clone(spark, src_log, clone_base)
    sinks.txlog_merge(
        spark, clone_log, sinks._merge_changes(spark, TEST_SF_DIR),
        "o_orderkey",
    )
    res = sinks.txlog_vacuum(spark, clone_log, retain_versions=(None,))
    assert res.get("skipped_external"), "shared tombstones must be skipped"
    for p in res["skipped_external"]:
        assert os.path.isdir(p), "source file must survive clone vacuum"
    for p in res["deleted"]:
        assert p.startswith(clone_base + os.sep)
    post_src = sinks._txlog_read(spark, src_log, as_of=None).toPandas()
    assert canon_frame(post_src) == canon_frame(pre)


def test_txlog_checkpoint_preserves_dv_and_txn_actions(spark):
    """The compaction interop hazard, unit form: a log holding dv and
    txn actions is checkpointed at head; the reconstructed rows must
    still carry every dv (path, target) pair and every txn id — a
    naive per-path add/remove reconcile loses both."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_ckgen")
    k = F.col("o_orderkey")
    deletes = (
        load_table(spark, TEST_SF_DIR, "orders")
        .where((k % 4 == 0) & (k % 3 == 0))
        .select("o_orderkey")
    )
    res = sinks.txlog_delete_with_dv(spark, log_dir, deletes, "o_orderkey")
    # one txn-marked (empty) merge so the log holds a txn action too
    sinks.txlog_merge(
        spark,
        log_dir,
        load_table(spark, TEST_SF_DIR, "orders").limit(0).withColumn(
            "op", F.lit("I")
        ),
        "o_orderkey",
        txn_id="unit:1",
    )
    before = sinks._txlog_log_rows(spark, log_dir)
    head = max(r["commit"] for r in before)
    ckpt = sinks.txlog_checkpoint(spark, log_dir, head)
    after = sinks._txlog_log_rows(spark, log_dir)  # checkpoint-aware

    def pairs(rows, action):
        return {
            (r["path"], r["target"]) for r in rows if r["action"] == action
        }

    assert pairs(after, "dv") == pairs(before, "dv") != set()
    assert {r["path"] for r in after if r["action"] == "txn"} == {"unit:1"}
    # the reconstructed live set matches the pre-checkpoint one
    assert tx._live_files(after) == tx._live_files(
        before
    )
    # and the DV-aware read still hides the deleted rows
    live = tx._live_files(after)
    dvs = sorted({p for ps in tx._live_dvs(after, live).values() for p in ps})
    assert dvs == [res["dv"]]


def test_txlog_attempt_commit_is_put_if_absent(spark):
    """The primitive itself: second attempt at a taken version returns
    False and leaves the winner's bytes untouched."""
    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_pia_test")
    a = [{"commit": 3, "action": "add", "path": "/tmp/x"}]
    assert tx.attempt_commit(log_dir, 3, a) is True
    before = open(os.path.join(log_dir, "00003.json")).read()
    assert (
        tx.attempt_commit(
            log_dir, 3, [{"commit": 3, "action": "add", "path": "/tmp/y"}]
        )
        is False
    )
    assert open(os.path.join(log_dir, "00003.json")).read() == before


def test_txlog_incremental_read_composes_with_merge(spark):
    """The streaming-source mechanic across the mutation tier: a
    consumer checkpointed at the pre-merge head sees EXACTLY the merge
    commit's rewrite file as its next increment; a consumer further
    behind sees every still-live file added since its checkpoint and
    never a file that was since removed."""
    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_incr_test")
    res = sinks.txlog_merge(
        spark, log_dir, sinks._merge_changes(spark, TEST_SF_DIR), "o_orderkey"
    )
    assert sinks.txlog_incremental_files(spark, log_dir, from_version=2) == [
        res["added"]
    ]
    behind = sinks.txlog_incremental_files(spark, log_dir, from_version=1)
    behind_names = sorted(os.path.basename(p) for p in behind)
    assert behind_names[0] == "batch-3" and len(behind_names) == 2
    assert behind_names[1].startswith("merge-00003-")
    # bounded consumption: to_version caps the increment at the
    # pre-merge head, so the merge file is not yet visible
    capped = sinks.txlog_incremental_files(
        spark, log_dir, from_version=1, to_version=2
    )
    assert sorted(os.path.basename(p) for p in capped) == ["batch-3"]


def test_txlog_zorder_prunes_the_second_column(spark):
    """The clustering tradeoff, strictly: the linear layout opens EVERY
    live file for the o_custkey predicate (its files bound only the sort
    column) while the z-order rewrite opens at most half; on the sort
    column itself both layouts prune strictly below live. The rewrite is
    lossless: both layouts return identical row aggregates per
    predicate."""
    rows = {
        (r["layout"], r["pred"]): r
        for r in sinks.q_sink_txlog_zorder_skipping(
            spark, TEST_SF_DIR
        ).collect()
    }
    lin_cust = rows[("linear", "cust")]
    z_cust = rows[("zorder", "cust")]
    assert lin_cust["n_files_scanned"] == lin_cust["n_files_live"]
    assert z_cust["n_files_scanned"] * 2 <= z_cust["n_files_live"]
    for layout in ("linear", "zorder"):
        r = rows[(layout, "key")]
        assert r["n_files_scanned"] < r["n_files_live"]
    for pred in ("key", "cust"):
        a, b = rows[("linear", pred)], rows[("zorder", pred)]
        assert (a["n_rows"], a["sum_keys"], a["sum_custs"]) == (
            b["n_rows"], b["sum_keys"], b["sum_custs"]
        )


def test_txlog_checkpoint_keeps_second_column_stats(spark):
    """A checkpoint keeps the adds' second-column bounds (``stats_json``):
    the o_custkey stats read of the z-order table returns the same
    (live, opened, rows) after `txlog_checkpoint` as before it."""
    log_dir, (_, _, cmin, cmax) = sinks._build_txlog_zorder_table(
        spark, TEST_SF_DIR, "txlog_z2_ckpt"
    )
    lo = cmin + (cmax - cmin) * sinks._STATS_LO_PCT // 100
    hi = cmin + (cmax - cmin) * sinks._STATS_HI_PCT // 100

    def cust_read():
        snap, n_live, n_scanned = sinks.txlog_stats_read(
            spark, log_dir, lo, hi, column="o_custkey"
        )
        return n_live, n_scanned, snap.count()

    before = cust_read()
    sinks.txlog_checkpoint(spark, log_dir, 1)
    assert cust_read() == before


def test_txlog_stats_read_scans_appended_file_without_column_stats(spark):
    """A connector append to the z-order table records o_orderkey stats
    only: an o_custkey stats read still prunes the fixture's files, always
    scans the appended file (it records no o_custkey bounds to prune by)
    and returns its matching rows."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source

    log_dir, (_, _, cmin, cmax) = sinks._build_txlog_zorder_table(
        spark, TEST_SF_DIR, "txlog_z2_append"
    )
    lo = cmin + (cmax - cmin) * sinks._STATS_LO_PCT // 100
    hi = cmin + (cmax - cmin) * sinks._STATS_HI_PCT // 100
    snap, n_live, n_scanned = sinks.txlog_stats_read(
        spark, log_dir, lo, hi, column="o_custkey"
    )
    before = (n_live, n_scanned, snap.count())

    txlog_source.register(spark)
    extra = spark.createDataFrame(
        [(10**9 + i, lo + i, "appended") for i in range(3)],
        "o_orderkey long, o_custkey long, bucket string",
    )
    extra.coalesce(1).write.format("txlog").mode("append").option(
        "stats_col", "o_orderkey"
    ).save(log_dir)
    snap, n_live, n_scanned = sinks.txlog_stats_read(
        spark, log_dir, lo, hi, column="o_custkey"
    )
    assert (n_live, n_scanned) == (before[0] + 1, before[1] + 1)
    assert snap.count() == before[2] + 3
    assert snap.where(F.col("o_orderkey") >= 10**9).count() == 3


def test_txlog_schema_evolution_never_rewrites_old_files(spark):
    """The ALTER ADD COLUMN guarantee: evolution is a metaData commit —
    the v1 file's bytes are untouched, the current reader sees the v2
    schema with NULLs backfilled virtually, and the v1 schema still
    reads BOTH files (old readers keep working: the added column is
    simply projected away)."""
    log_dir = sinks._build_txlog_evo_table(spark, TEST_SF_DIR, "txlog_evo_t")
    data_dir = os.path.join(os.path.dirname(log_dir), "data")
    v1 = os.path.join(data_dir, "batch-v1")
    stat_before = {
        f: os.stat(os.path.join(v1, f)).st_mtime_ns
        for f in os.listdir(v1)
        if f.startswith("part-")
    }
    snap, ddl = sinks.txlog_evo_read(spark, log_dir)
    assert ddl == sinks._EVO_SCHEMA_V2
    assert snap.columns[-1] == "o_priority_rank"
    n_total = snap.count()
    n_ranked = snap.where("o_priority_rank IS NOT NULL").count()
    assert 0 < n_ranked < n_total
    # v1 file untouched by the evolution
    stat_after = {
        f: os.stat(os.path.join(v1, f)).st_mtime_ns
        for f in os.listdir(v1)
        if f.startswith("part-")
    }
    assert stat_after == stat_before
    # an old reader pinned to schema v1 still reads the whole table
    old = spark.read.schema(sinks._EVO_SCHEMA_V1).parquet(
        v1, os.path.join(data_dir, "batch-v2")
    )
    assert old.count() == n_total
    assert "o_priority_rank" not in old.columns


def test_txlog_vacuum_reclaims_only_dead_files(spark):
    """VACUUM's contract: every non-retained file is physically gone,
    every retained file intact, the current snapshot unchanged, and
    time travel BEFORE the horizon now fails (its files were
    reclaimed) — while a retained historical version still reads."""
    import pytest

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_vac_test")
    sinks.txlog_merge(
        spark, log_dir, sinks._merge_changes(spark, TEST_SF_DIR), "o_orderkey"
    )
    before = sorted(
        tuple(r) for r in sinks._txlog_read(spark, log_dir, None).collect()
    )
    res = sinks.txlog_vacuum(spark, log_dir, retain_versions=(None,))
    assert sorted(os.path.basename(p) for p in res["deleted"]) == [
        "batch-0",
        "batch-1",
        "batch-2",
    ]
    for p in res["deleted"]:
        assert not os.path.exists(p)
    for p in res["kept"]:
        assert os.path.isdir(p)
    after = sorted(
        tuple(r) for r in sinks._txlog_read(spark, log_dir, None).collect()
    )
    assert after == before
    # pre-horizon time travel is now impossible — the documented cost
    with pytest.raises(Exception):
        sinks._txlog_read(spark, log_dir, as_of=1).collect()


def test_txlog_vacuum_retains_requested_versions(spark):
    """Retention window: vacuum retaining (current, v2) must keep v2's
    files readable — only batch-1 (dead since commit 1) is
    reclaimed."""
    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_vac_test2")
    sinks.txlog_merge(
        spark, log_dir, sinks._merge_changes(spark, TEST_SF_DIR), "o_orderkey"
    )
    v2 = sorted(
        tuple(r) for r in sinks._txlog_read(spark, log_dir, as_of=2).collect()
    )
    res = sinks.txlog_vacuum(spark, log_dir, retain_versions=(None, 2))
    assert [os.path.basename(p) for p in res["deleted"]] == ["batch-1"]
    assert (
        sorted(
            tuple(r)
            for r in sinks._txlog_read(spark, log_dir, as_of=2).collect()
        )
        == v2
    )


def test_txlog_restore_is_metadata_only_and_preserves_history(spark):
    """RESTORE's contract: rollback happens as a NEW commit (no data
    moved, no log rewritten), the restored snapshot equals the target
    version exactly, and the rolled-back merge version stays
    time-travel-readable."""
    log_dir = sinks._build_txlog_table(
        spark, TEST_SF_DIR, "txlog_restore_test"
    )
    pre_merge = sorted(
        tuple(r) for r in sinks._txlog_read(spark, log_dir, None).collect()
    )
    sinks.txlog_merge(
        spark, log_dir, sinks._merge_changes(spark, TEST_SF_DIR), "o_orderkey"
    )
    merged = sorted(
        tuple(r) for r in sinks._txlog_read(spark, log_dir, None).collect()
    )
    res = sinks.txlog_restore(spark, log_dir, to_version=2)
    assert res["version"] == 4
    removed_names = [os.path.basename(p) for p in res["removed"]]
    assert len(removed_names) == 1
    assert removed_names[0].startswith("merge-00003-")
    assert sorted(os.path.basename(p) for p in res["re_added"]) == [
        "batch-0",
        "batch-2",
    ]
    # current snapshot == the target version's content
    now = sorted(
        tuple(r) for r in sinks._txlog_read(spark, log_dir, None).collect()
    )
    assert now == pre_merge
    # the merge version is still readable AS OF 3 (history preserved)
    at3 = sorted(
        tuple(r) for r in sinks._txlog_read(spark, log_dir, as_of=3).collect()
    )
    assert at3 == merged


def test_txlog_stats_skipping_opens_fewer_files(spark):
    """The skipping proof the oracle states but this test pins down
    operationally: a selective key-range read must open strictly fewer
    files than are live, and the pruned scan must return exactly what
    an unpruned scan-then-filter returns (soundness)."""
    log_dir, kmin, kmax = sinks._build_txlog_stats_table(
        spark, TEST_SF_DIR, "txlog_stats_test"
    )
    span = kmax - kmin
    lo = kmin + span * sinks._STATS_LO_PCT // 100
    hi = kmin + span * sinks._STATS_HI_PCT // 100
    snap, n_live, n_scanned = sinks.txlog_stats_read(spark, log_dir, lo, hi)
    assert n_live == sinks._STATS_BUCKETS
    assert 0 < n_scanned < n_live
    # soundness: pruning dropped no needed rows
    full = sinks._txlog_snapshot(spark, log_dir).where(
        f"o_orderkey BETWEEN {lo} AND {hi}"
    )
    assert snap.count() == full.count()
    assert (
        snap.agg({"o_orderkey": "sum"}).collect()[0][0]
        == full.agg({"o_orderkey": "sum"}).collect()[0][0]
    )


def test_codec_tradeoff_sizes_are_ordinal(spark):
    """The codec report's whole point: compression must actually bite.
    Byte sizes are codec-version-dependent, so the oracle checks only
    losslessness; the ordinal claims live here — uncompressed strictly
    larger than either codec, and zstd no larger than snappy (the
    stated reason the engine defaults cold data to zstd)."""
    df = sinks.q_sink_codec_tradeoff(spark, TEST_SF_DIR)
    df.collect()
    sizes = sinks.codec_bytes(df)
    assert sizes["uncompressed"] > sizes["snappy"]
    assert sizes["uncompressed"] > sizes["zstd"]
    assert sizes["zstd"] <= sizes["snappy"]


def test_codec_tradeoff_writes_stay_in_caller_job_group(spark):
    """The three codec writes run on a thread pool; each worker inherits
    the caller's job group, so the key's work is attributed to it (the
    Spark UI, job cancellation and per-key job counts all go by group).
    No job of the call runs outside the group. (The tracker keeps only
    the newest ``spark.ui.retainedJobs`` jobs and drops the oldest 100 at
    a time, so ungrouped ids may vanish during the call; none may
    appear.)"""
    from tests.test_sources import _jobs_in_group

    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    _, n_jobs = _jobs_in_group(
        spark,
        "codec-tradeoff-group",
        lambda: sinks.q_sink_codec_tradeoff(spark, TEST_SF_DIR),
    )
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert n_jobs >= len(sinks._TRADEOFF_CODECS)


def test_compact_small_files_collapses_file_count(spark):
    """The compactor must actually fix the layout: 64 fragmented input
    files collapse to the byte-planned target count (ceil(total bytes /
    target size)) — and the target must be materially smaller than the
    fragmentation it fixes."""
    import math

    df = sinks.q_sink_compact_small_files(spark, TEST_SF_DIR)
    df.collect()
    compact = _input_root(df)
    frag = os.path.join(os.path.dirname(compact), "fragmented")
    from aind_data_transformation_spark.queries.sinks import (
        _COMPACT_TARGET_BYTES,
    )

    frag_files = glob.glob(os.path.join(frag, "part-*.parquet"))
    compact_files = glob.glob(os.path.join(compact, "part-*.parquet"))
    assert len(frag_files) == 64
    total = sum(os.path.getsize(f) for f in frag_files)
    want = max(1, math.ceil(total / _COMPACT_TARGET_BYTES))
    assert len(compact_files) == want
    assert len(compact_files) < len(frag_files) / 4


def test_zorder_layout_bounds_both_dimensions(spark):
    """The point of the Z-order layout: every z-bucket confines BOTH grid
    coordinates to a narrow span (top 2 bits of each are fixed by the
    bucket id), which is what lets parquet min/max stats skip files for
    filters on either column. A single-column sort would give a narrow
    span on one dimension and the full 0..255 on the other."""
    df = sinks.q_sink_zorder_layout(spark, TEST_SF_DIR)
    rows = df.collect()
    assert len(rows) == 16
    for r in rows:
        assert r.zx_max - r.zx_min <= 64, f"zx span too wide in {r}"
        assert r.zy_max - r.zy_min <= 64, f"zy span too wide in {r}"
    # the layout really is hive-partitioned by bucket on disk
    out = _input_root(df, 2)
    part_dirs = [d for d in os.listdir(out) if d.startswith("zbucket=")]
    assert len(part_dirs) == 16


def test_binaryfile_source_ingests_media_blobs(spark, tmp_path):
    """Multimodal ingestion path: opaque media files on disk -> Spark's
    binaryFile source (path, modificationTime, length, content) ->
    mapInPandas decode stage. The decode is the deterministic stand-in
    (no codecs in this container); the source contract — binary content
    column, per-file rows, partition-parallel decode — is real."""
    import pandas as pd
    from pyspark.sql import functions as F

    media = tmp_path / "media"
    media.mkdir()
    blobs = {f"doc_{i}.bin": bytes([i]) * (100 + i) for i in range(8)}
    for name, payload in blobs.items():
        (media / name).write_bytes(payload)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(media))
    )
    assert {"path", "modificationTime", "length", "content"} <= set(files.columns)

    def decode_batch(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "name": pdf["path"].map(lambda p: p.rsplit("/", 1)[-1]),
                    "n_bytes": pdf["content"].map(len).astype("int64"),
                    "first_byte": pdf["content"].map(lambda b: b[0]).astype("int64"),
                }
            )

    decoded = files.select("path", "content").mapInPandas(
        decode_batch, "name string, n_bytes long, first_byte long"
    )
    got = {r["name"]: (r["n_bytes"], r["first_byte"]) for r in decoded.collect()}
    want = {n: (len(b), b[0]) for n, b in blobs.items()}
    assert got == want


def test_python_datasource_reads_length_prefixed_records(spark, tmp_path):
    """Custom Python DataSource (Spark 4 API): a proprietary
    length-prefixed binary record format becomes a first-class
    spark.read format with one partition per file."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import custom_source

    d = tmp_path / "dump"
    d.mkdir()
    want = {}
    for fi in range(3):
        payloads = [bytes([fi]) * (5 + i) for i in range(4)]
        custom_source.write_record_file(str(d / f"part{fi}.rec"), payloads)
        want[f"part{fi}.rec"] = payloads

    custom_source.register(spark)
    df = spark.read.format("lenprefixed").option("path", str(d)).load()
    assert df.rdd.getNumPartitions() == 3  # one per file
    rows = df.orderBy("file", "record_idx").collect()
    got = {}
    for r in rows:
        got.setdefault(r["file"], []).append(bytes(r["payload"]))
        assert r["n_bytes"] == len(r["payload"])
    assert got == want
    # projection works like any source
    assert df.select(F.sum("n_bytes")).first()[0] == sum(
        len(p) for ps in want.values() for p in ps
    )


def test_python_datasource_streams_new_record_files(spark, tmp_path):
    """Streaming half of the custom connector: files arriving in the
    watched directory come through as micro-batches with exactly-once
    content-addressed offsets; every payload from every file is delivered
    once."""
    import uuid

    from aind_data_transformation_spark.io import custom_source

    d = tmp_path / "dump_stream"
    d.mkdir()
    want_rows = 0
    for fi in range(3):
        payloads = [bytes([fi]) * (3 + i) for i in range(5)]
        custom_source.write_record_file(str(d / f"seq{fi}.rec"), payloads)
        want_rows += len(payloads)

    custom_source.register(spark)
    stream = (
        spark.readStream.format("lenprefixed").option("path", str(d)).load()
    )
    name = f"recstream_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_rec"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(f"SELECT file, record_idx, n_bytes, payload FROM {name}").collect()
    assert len(got) == want_rows
    by_file = {}
    for r in got:
        by_file.setdefault(r["file"], []).append((r["record_idx"], bytes(r["payload"])))
    assert set(by_file) == {"seq0.rec", "seq1.rec", "seq2.rec"}
    for fi in range(3):
        recs = sorted(by_file[f"seq{fi}.rec"])
        assert recs == [(i, bytes([fi]) * (3 + i)) for i in range(5)]


def test_stream_offsets_are_content_addressed(tmp_path):
    """A file arriving whose name sorts BEFORE already-committed files
    must not shift committed offsets: replaying a committed batch
    (readBetweenOffsets) returns exactly the same files as when it was
    first read. Positional (count-based) offsets fail this."""
    from aind_data_transformation_spark.io.custom_source import (
        RecordStreamReader,
        write_record_file,
    )

    d = tmp_path / "dump_late"
    d.mkdir()
    for name in ("seq2.rec", "seq3.rec"):
        write_record_file(str(d / name), [name.encode()])

    reader = RecordStreamReader({"path": str(d)})
    start = reader.initialOffset()
    rows, end = reader.read(start)
    assert sorted({r[0] for r in rows}) == ["seq2.rec", "seq3.rec"]

    # late-sorting arrival: would shift every index under count offsets
    write_record_file(str(d / "seq1.rec"), [b"late"])

    replay = {r[0] for r in reader.readBetweenOffsets(start, end)}
    assert replay == {"seq2.rec", "seq3.rec"}, (
        "committed batch replay changed after a late-sorting arrival"
    )

    # the next batch picks up only names beyond the committed watermark
    rows2, end2 = reader.read(end)
    assert [r[0] for r in rows2] == []  # seq1 sorts before the watermark
    write_record_file(str(d / "seq4.rec"), [b"new"])
    rows3, end3 = reader.read(end)
    assert {r[0] for r in rows3} == {"seq4.rec"}


def test_custom_datasource_writer_roundtrip(spark, tmp_path):
    """Write half of the Python DataSource connector: df.write.format
    streams each partition's payloads into one .rec file via the
    two-phase temp-then-rename commit (a _SUCCESS manifest marks commit);
    reading the directory back yields the exact payload multiset."""
    from aind_data_transformation_spark.io import custom_source

    custom_source.register(spark)
    out = str(tmp_path / "rec_sink")
    df = (
        spark.range(20)
        .selectExpr(
            "CAST(NULL AS STRING) AS file",
            "id AS record_idx",
            "CAST(8 AS INT) AS n_bytes",
            "CAST(concat('payload', id) AS BINARY) AS payload",
        )
        .repartition(4)
    )
    df.write.format("lenprefixed").option("path", out).mode("append").save()
    import os

    names = sorted(os.listdir(out))
    assert "_SUCCESS" in names
    assert not [n for n in names if n.endswith(".tmp")]
    back = spark.read.format("lenprefixed").option("path", out).load()
    got = sorted(bytes(r["payload"]) for r in back.collect())
    want = sorted(f"payload{i}".encode() for i in range(20))
    assert got == want


def test_custom_stream_writer_exactly_once(spark, tmp_path):
    """The DataSourceStreamWriter half of the lenprefixed connector:
    stream events into the custom sink with AvailableNow + checkpoint,
    read back via the batch reader — every source row exactly once; a
    re-run against the same checkpoint is a no-op (no new epochs); new
    source data lands as a new epoch exactly once."""
    from aind_data_transformation_spark.io import custom_source

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    custom_source.register(spark)

    ev = spark.read.parquet(f"{TEST_SF_DIR}/events.parquet")
    first = ev.limit(50)
    first.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        from pyspark.sql import functions as F

        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream.select(
                F.encode(F.col("props"), "utf-8").alias("payload")
            )
            .writeStream.format("lenprefixed")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    back = spark.read.format("lenprefixed").option("path", out).load()
    assert back.count() == 50
    drain()  # same checkpoint: no-op
    assert (
        spark.read.format("lenprefixed").option("path", out).load().count()
        == 50
    )
    ev.limit(80).exceptAll(first).write.mode("append").parquet(src)
    drain()
    back2 = spark.read.format("lenprefixed").option("path", out).load()
    assert back2.count() == 80
    # payload content round-trips (multiset equality on the JSON strings)
    got = sorted(
        bytes(r["payload"]).decode("utf-8") for r in back2.collect()
    )
    want = sorted(r["props"] for r in ev.limit(80).collect())
    assert got == want


def test_stream_writer_commit_clears_stale_epoch_parts(tmp_path):
    """Replay hardening: a crashed attempt of epoch 7 left 3 committed
    part files; the replay runs with only 2 tasks. commit() must clear
    the WHOLE epoch prefix first so part-00002 from the dead attempt
    cannot survive beside the replayed parts and duplicate records."""
    import os

    from aind_data_transformation_spark.io.custom_source import (
        RecordStreamWriter,
        _RecCommit,
    )

    d = str(tmp_path / "out")
    os.makedirs(d)
    # stale files from the crashed wider attempt
    for k in range(3):
        with open(os.path.join(d, f"epoch-0000000007-part-{k:05d}.rec"),
                  "wb") as f:
            f.write(b"stale")
    # the replay's two temp files
    for name in ("t0.rec.tmp", "t1.rec.tmp"):
        with open(os.path.join(d, name), "wb") as f:
            f.write(b"fresh")
    w = RecordStreamWriter({"path": d})
    w.commit([_RecCommit("t0.rec.tmp", 1), _RecCommit("t1.rec.tmp", 1)], 7)
    recs = sorted(p for p in os.listdir(d) if p.endswith(".rec"))
    assert recs == [
        "epoch-0000000007-part-00000.rec",
        "epoch-0000000007-part-00001.rec",
    ]
    for p in recs:
        with open(os.path.join(d, p), "rb") as f:
            assert f.read() == b"fresh"


def test_txlog_four_concurrent_writers_converge(spark):
    """Multi-writer stress on the optimistic protocol: four threads
    concurrently merge key-disjoint change-sets (one per residue class)
    against the same table with NO injection — real races on real
    version files. All four must commit (some via the cheap disjoint
    re-commit, some after recompute — both legal), and the final table
    must equal the four merges applied sequentially on a twin."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    orders = load_table(spark, TEST_SF_DIR, "orders")
    k = F.col("o_orderkey")

    def changeset(residue):
        # per-residue updates: price += residue + 1 (key-disjoint by
        # construction; every residue's keys live in one batch file,
        # but two writers CAN touch the same file after a rewrite —
        # exactly the conflict the checker must adjudicate)
        return (
            orders.where((k % 4 == residue) & (k % 11 == 0))
            .withColumn(
                "o_totalprice", F.col("o_totalprice") + (residue + 1)
            )
            .withColumn("op", F.lit("U"))
        )

    log_dir = sinks._build_txlog_table(
        spark, TEST_SF_DIR, "txlog_stress_test"
    )
    sets = [changeset(r) for r in range(4)]
    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(
            ex.map(
                lambda ch: sinks.txlog_merge(
                    spark, log_dir, ch, "o_orderkey"
                ),
                sets,
            )
        )
    versions = sorted(r["version"] for r in results)
    assert versions == [3, 4, 5, 6], versions

    twin = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_stress_twin")
    for ch in sets:
        sinks.txlog_merge(spark, twin, ch, "o_orderkey")
    got = sorted(
        tuple(r) for r in sinks._txlog_read(spark, log_dir, None).collect()
    )
    want = sorted(
        tuple(r) for r in sinks._txlog_read(spark, twin, None).collect()
    )
    assert got == want


def test_txlog_replace_where_is_partition_scoped(spark):
    """replaceWhere's contract beyond the row oracle: non-target
    partition files keep their exact bytes/mtimes (no rewrite), the
    old target file stays on disk for time travel (logical remove),
    and the pre-replace version still reconstructs the original 'O'
    partition."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    log_dir, data_dir = sinks._build_txlog_part_table(
        spark, TEST_SF_DIR, "txlog_rw_layout_test"
    )
    others = {}
    for d in os.listdir(data_dir):
        if d != "part-O":
            full = os.path.join(data_dir, d)
            others[d] = {
                f: os.stat(os.path.join(full, f)).st_mtime_ns
                for f in os.listdir(full)
                if f.startswith("part-")
            }
    orders = load_table(spark, TEST_SF_DIR, "orders")
    repl = orders.where(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 2 == 0)
    )
    res = sinks.txlog_replace_where(spark, log_dir, "O", repl)
    assert res["attempts"] == 1 and res["n_removed"] == 1

    for d, before in others.items():
        full = os.path.join(data_dir, d)
        after = {
            f: os.stat(os.path.join(full, f)).st_mtime_ns
            for f in os.listdir(full)
            if f.startswith("part-")
        }
        assert after == before, f"non-target partition {d} was rewritten"
    assert os.path.isdir(os.path.join(data_dir, "part-O")), (
        "removed file must stay on disk (logical remove)"
    )

    # time travel: AS OF version 0 still sees the full 'O' partition
    live0 = tx._live_adds(sinks._txlog_log_rows(spark, log_dir), as_of=0)
    o_files0 = [p for p, r in live0.items() if r["part"] == "O"]
    n0 = spark.read.parquet(*o_files0).count()
    want0 = orders.where(F.col("o_orderstatus") == "O").count()
    assert n0 == want0


def test_txlog_replace_where_disjoint_partitions_skip_recompute(
    spark, monkeypatch
):
    """Two replaceWhere writers on DIFFERENT partitions: the loser of
    the commit race re-commits its already-written file at the next
    version with zero recomputes (partition-scoped conflict check),
    and both replacements land."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    log_dir, _ = sinks._build_txlog_part_table(
        spark, TEST_SF_DIR, "txlog_rw_race_test"
    )
    orders = load_table(spark, TEST_SF_DIR, "orders")
    repl_o = orders.where(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 2 == 0)
    )
    repl_f = orders.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 0)
    )
    real = tx.attempt_commit
    state = {"injected": False}

    def racy(log_dir_, version, actions, **kw):
        if not state["injected"]:
            state["injected"] = True
            res_b = sinks.txlog_replace_where(spark, log_dir_, "F", repl_f)
            assert res_b["attempts"] == 1 and res_b["recomputes"] == 0
        return real(log_dir_, version, actions, **kw)

    monkeypatch.setattr(tx, "attempt_commit", racy)
    res_a = sinks.txlog_replace_where(spark, log_dir, "O", repl_o)
    monkeypatch.setattr(tx, "attempt_commit", real)
    assert res_a["attempts"] == 2
    assert res_a["recomputes"] == 0, "disjoint partitions must not recompute"

    live = tx._live_adds(sinks._txlog_log_rows(spark, log_dir))
    o_rows = spark.read.parquet(
        *[p for p, r in live.items() if r["part"] == "O"]
    ).count()
    f_rows = spark.read.parquet(
        *[p for p, r in live.items() if r["part"] == "F"]
    ).count()
    assert o_rows == repl_o.count()
    assert f_rows == repl_f.count()


def test_manifest_two_level_prunes_both_levels(spark):
    """Both metadata levels must do real work on the straddling
    predicate: strictly fewer manifests opened than live, strictly
    fewer files opened than live, AND file pruning must beat the
    manifest level alone (some file inside an opened manifest is
    pruned by its own stats). Soundness: the pruned scan equals an
    unpruned scan-then-filter."""
    meta_dir, kmin, kmax = sinks._build_manifest_table(
        spark, TEST_SF_DIR, "manifest_two_level_test"
    )
    span = kmax - kmin
    lo = kmin + span * sinks._MF2_LO_PCT // 100
    hi = kmin + span * sinks._MF2_HI_PCT // 100
    snap, n_m, n_mo, n_f, n_fo = sinks.manifest_two_level_read(
        spark, meta_dir, lo, hi
    )
    assert n_m == sinks._MF2_BUCKETS // sinks._MF2_PER_MANIFEST
    assert n_f == sinks._MF2_BUCKETS
    assert 0 < n_mo < n_m
    assert 0 < n_fo < n_f
    assert n_fo < n_mo * sinks._MF2_PER_MANIFEST
    full = (
        spark.read.parquet(
            os.path.join(os.path.dirname(meta_dir), "data")
        ).where(f"o_orderkey BETWEEN {lo} AND {hi}")
    )
    assert snap.count() == full.count()


def test_txlog_replace_where_error_mode_raises_on_overlap(
    spark, monkeypatch
):
    """on_conflict='error' is Delta's ConcurrentAppendException
    contract: an interloper landing on the SAME partition between the
    log read and the commit must raise, never silently serialize."""
    import pytest
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    log_dir, _ = sinks._build_txlog_part_table(
        spark, TEST_SF_DIR, "txlog_rw_err_test"
    )
    orders = load_table(spark, TEST_SF_DIR, "orders")
    repl_a = orders.where(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 2 == 0)
    )
    repl_b = orders.where(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 3 == 0)
    )
    real = tx.attempt_commit
    state = {"injected": False}

    def racy(log_dir_, version, actions, **kw):
        if not state["injected"]:
            state["injected"] = True
            sinks.txlog_replace_where(spark, log_dir_, "O", repl_b)
        return real(log_dir_, version, actions, **kw)

    monkeypatch.setattr(tx, "attempt_commit", racy)
    with pytest.raises(sinks.TxlogConflictError):
        sinks.txlog_replace_where(
            spark, log_dir, "O", repl_a, on_conflict="error"
        )


def test_txlog_constraint_rejects_before_writing(spark):
    """A failing batch must leave NO trace: no data file written, no
    log version consumed — and the constraint is read from the LOG
    (changing the logged predicate changes enforcement)."""
    import json

    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    log_dir = sinks._build_txlog_table(
        spark, TEST_SF_DIR, "txlog_check_test"
    )
    with open(os.path.join(log_dir, "00003.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "commit": 3,
                    "action": "metaData",
                    "constraint": sinks._TXLOG_CHECK,
                }
            )
            + "\n"
        )
    data_dir = os.path.join(os.path.dirname(log_dir), "data")
    before_files = sorted(os.listdir(data_dir))
    before_log = sorted(os.listdir(log_dir))
    orders = load_table(spark, TEST_SF_DIR, "orders")
    bad = orders.withColumn("o_totalprice", -F.col("o_totalprice") - 1)
    res = sinks.txlog_constrained_append(spark, log_dir, bad)
    assert res["committed"] is False
    assert res["n_rejected"] == orders.count()
    assert sorted(os.listdir(data_dir)) == before_files
    assert sorted(os.listdir(log_dir)) == before_log
    good = orders.limit(10)
    res2 = sinks.txlog_constrained_append(spark, log_dir, good)
    assert res2["committed"] is True and res2["version"] == 4


def test_txlog_constrained_append_race_paths(spark, monkeypatch):
    """Lost-race behavior of the constrained append: an append-only
    interloper is safe to serialize after (commit lands at the next
    version); a CONSTRAINT-CHANGING interloper means the batch was
    validated against a stale predicate and must raise (Delta's
    MetadataChangedException contract)."""
    import json

    import pytest

    from aind_data_transformation_spark.io.sources import load_table

    orders = load_table(spark, TEST_SF_DIR, "orders")
    good = orders.limit(10)

    def build(name):
        log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, name)
        with open(os.path.join(log_dir, "00003.json"), "w") as fh:
            fh.write(
                json.dumps(
                    {
                        "commit": 3,
                        "action": "metaData",
                        "constraint": sinks._TXLOG_CHECK,
                    }
                )
                + "\n"
            )
        return log_dir

    real = tx.attempt_commit

    # interloper 1: plain append wins version 4 -> we serialize at 5
    log_a = build("txlog_check_race_a")
    state = {"injected": False}

    def racy_append(log_dir_, version, actions, **kw):
        if not state["injected"]:
            state["injected"] = True
            real(
                log_dir_,
                version,
                [{"commit": version, "action": "add", "path": None}],
            )
        return real(log_dir_, version, actions, **kw)

    monkeypatch.setattr(tx, "attempt_commit", racy_append)
    res = sinks.txlog_constrained_append(spark, log_a, good)
    assert res["committed"] is True and res["version"] == 5

    # interloper 2: constraint change wins -> stale validation, raise
    log_b = build("txlog_check_race_b")
    state2 = {"injected": False}

    def racy_meta(log_dir_, version, actions, **kw):
        if not state2["injected"]:
            state2["injected"] = True
            real(
                log_dir_,
                version,
                [
                    {
                        "commit": version,
                        "action": "metaData",
                        "constraint": "o_totalprice >= 100",
                    }
                ],
            )
        return real(log_dir_, version, actions, **kw)

    monkeypatch.setattr(tx, "attempt_commit", racy_meta)
    with pytest.raises(sinks.TxlogConflictError):
        sinks.txlog_constrained_append(spark, log_b, good)


def test_txlog_connector_mor_semantics(spark):
    """The connector's DV contract: (1) reading a table with live
    deletion vectors WITHOUT dv_key fails loudly (silently resurrecting
    deleted rows is the one unacceptable outcome); (2) with dv_key the
    connector equals the engine's DV-aware replay exactly; (3) the DV
    filter survives column pruning (projection without the key
    column)."""
    import pytest
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.io.sources import load_table

    log_dir = sinks._build_txlog_table(
        spark, TEST_SF_DIR, "txlog_connector_mor_test"
    )
    k = F.col("o_orderkey")
    deletes = (
        load_table(spark, TEST_SF_DIR, "orders")
        .where((k % 4 == 0) & (k % 3 == 0))
        .select("o_orderkey")
    )
    sinks.txlog_delete_with_dv(spark, log_dir, deletes, "o_orderkey")
    txlog_source.register(spark)

    with pytest.raises(Exception, match="deletion vectors"):
        (
            spark.read.format("txlog").option("path", log_dir).load()
            .count()
        )

    got = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .option("dv_key", "o_orderkey")
        .load()
    )
    want = sinks.txlog_read_with_dvs(spark, log_dir, "o_orderkey")
    assert got.count() == want.count()
    assert (
        got.agg(F.sum("o_orderkey")).collect()[0][0]
        == want.agg(F.sum("o_orderkey")).collect()[0][0]
    )

    # pruned projection: o_orderkey absent from the scan schema, DV
    # filter must still apply
    pruned = got.select("o_orderstatus")
    assert pruned.count() == want.count()


def test_cdf_dv_leg_excludes_pre_window_tombstones(spark):
    """Re-deleting a superset must not re-emit pre-images for keys
    already tombstoned BEFORE the CDF window: delete {k: k%12==0} at
    v3, then {k: k%6==0} at v4 — table_changes(3, 4) may only emit the
    newly dead keys (k%6==0 and not k%12==0)."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.sources import load_table

    log_dir = sinks._build_txlog_table(
        spark, TEST_SF_DIR, "txlog_cdf_redelete_test"
    )
    orders = load_table(spark, TEST_SF_DIR, "orders")
    k = F.col("o_orderkey")
    d1 = orders.where(k % 12 == 0).select("o_orderkey")
    d2 = orders.where(k % 6 == 0).select("o_orderkey")
    r1 = sinks.txlog_delete_with_dv(spark, log_dir, d1, "o_orderkey")
    r2 = sinks.txlog_delete_with_dv(spark, log_dir, d2, "o_orderkey")
    feed = sinks.txlog_table_changes(
        spark, log_dir, "o_orderkey", r1["version"], r2["version"]
    )
    got = sorted(
        r["o_orderkey"]
        for r in feed.where(F.col("_change_type") == "delete").collect()
    )
    # live table = keys % 4 != 1 (base fixture); newly dead in window:
    want = sorted(
        r["o_orderkey"]
        for r in orders.where(
            (k % 4 != 1) & (k % 6 == 0) & ~(k % 12 == 0)
        ).collect()
    )
    assert got == want


def test_checkpoint_preserves_constraint_and_txn_for_all_consumers(spark):
    """The checkpoint is action-complete for EVERY consumer of
    _txlog_log_rows, not just the checkpoint-demo reader: after
    compacting the whole log (no JSON tail left), (1) the CHECK
    constraint still rejects violating appends, (2) a re-delivered
    merge txn id is still recognized as committed (no double apply),
    (3) the connector still reads the right snapshot."""
    import json

    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.io.sources import load_table

    log_dir = sinks._build_txlog_table(
        spark, TEST_SF_DIR, "txlog_ckpt_complete_test"
    )
    with open(os.path.join(log_dir, "00003.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "commit": 3,
                    "action": "metaData",
                    "constraint": sinks._TXLOG_CHECK,
                }
            )
            + "\n"
        )
    orders = load_table(spark, TEST_SF_DIR, "orders")
    changes = (
        orders.where(F.col("o_orderkey") % 9 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 5)
        .withColumn("op", F.lit("U"))
    )
    res = sinks.txlog_merge(
        spark, log_dir, changes, "o_orderkey", txn_id="epoch-7"
    )
    pre_count = sinks._txlog_read(spark, log_dir, None).agg(
        F.sum("n_rows")
    ).collect()[0][0]

    ckpt = sinks.txlog_checkpoint(spark, log_dir, res["version"])
    assert not [
        f for f in os.listdir(log_dir) if f.endswith(".json")
    ], "log should be fully compacted"

    # (1) constraint survived compaction
    bad = orders.withColumn("o_totalprice", -F.col("o_totalprice") - 1)
    r_bad = sinks.txlog_constrained_append(spark, log_dir, bad)
    assert r_bad["committed"] is False

    # (2) txn idempotence marker survived: replay skips
    r_replay = sinks.txlog_merge(
        spark, log_dir, changes, "o_orderkey", txn_id="epoch-7"
    )
    assert r_replay.get("skipped") == "epoch-7"

    # (3) snapshot unchanged through engine replay AND the connector
    post_count = sinks._txlog_read(spark, log_dir, None).agg(
        F.sum("n_rows")
    ).collect()[0][0]
    assert post_count == pre_count
    txlog_source.register(spark)
    conn = (
        spark.read.format("txlog").option("path", log_dir).load()
    )
    assert conn.count() == pre_count
    assert ckpt.startswith(log_dir)


def test_stream_source_rejects_dv_tables_by_default(spark, tmp_path):
    """The streaming source over a MoR-mutated table fails loudly by
    default (it streams ADDED files only and would miss the deletes);
    ignore_deletes=true consumes the add-only stream deliberately."""
    import pytest
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.io.sources import load_table

    log_dir = sinks._build_txlog_table(
        spark, TEST_SF_DIR, "txlog_stream_dv_guard_test"
    )
    deletes = (
        load_table(spark, TEST_SF_DIR, "orders")
        .where(F.col("o_orderkey") % 8 == 0)
        .select("o_orderkey")
    )
    sinks.txlog_delete_with_dv(spark, log_dir, deletes, "o_orderkey")
    txlog_source.register(spark)

    def drain(opts):
        reader = spark.readStream.format("txlog").option("path", log_dir)
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .groupBy()
            .count()
            .writeStream.format("memory")
            .queryName(f"dv_guard_{len(opts)}")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / f"ck{len(opts)}"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    with pytest.raises(Exception, match="deletion vectors"):
        drain({})
    drain({"ignore_deletes": "true"})  # explicit opt-in succeeds


# ---------------------------------------------------------------------------
# txlog connector WRITE path (io/txlog_source.TxlogBatchWriter /
# TxlogStreamWriter) + commit provenance (commitInfo timestamps)
# ---------------------------------------------------------------------------


def _read_log_json(log_dir):
    import json as _json

    out = []
    for f in sorted(glob.glob(os.path.join(log_dir, "*.json"))):
        with open(f) as fh:
            out += [_json.loads(ln) for ln in fh if ln.strip()]
    return out


def test_txlog_ds_writer_append_overwrite_lifecycle(spark, tmp_path):
    """Batch writer: append creates the table (v0), append extends it
    (v1), overwrite atomically replaces it (v2) while history stays
    time-travelable; every commit carries exactly one commitInfo with
    the right operation name; no staging temps leak."""
    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_ds_writer_lifecycle")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    nation = load_table(spark, TEST_SF_DIR, "nation")
    nation.where("n_nationkey < 10").write.format("txlog").mode(
        "append"
    ).save(log_dir)
    nation.where("n_nationkey >= 10").write.format("txlog").mode(
        "append"
    ).save(log_dir)
    nation.where("n_regionkey = 0").write.format("txlog").mode(
        "overwrite"
    ).save(log_dir)

    rows = _read_log_json(log_dir)
    by_commit = {}
    for r in rows:
        by_commit.setdefault(r["commit"], []).append(r)
    assert sorted(by_commit) == [0, 1, 2]
    ops = []
    for v in (0, 1, 2):
        cis = [r for r in by_commit[v] if r["action"] == "commitInfo"]
        assert len(cis) == 1, f"commit {v} must carry exactly one commitInfo"
        assert cis[0]["ts"] is not None
        ops.append(cis[0]["op"])
    assert ops == ["APPEND", "APPEND", "OVERWRITE"]
    # the overwrite removed BOTH prior files in its own commit (atomic)
    assert sum(1 for r in by_commit[2] if r["action"] == "remove") == 2

    head = (
        spark.read.format("txlog").option("path", log_dir).load().collect()
    )
    expect = nation.where("n_regionkey = 0").count()
    assert len(head) == expect
    live_v1 = _live(spark, log_dir, 1)
    assert len(live_v1) == 2  # both appends still readable pre-overwrite
    assert spark.read.parquet(*live_v1).count() == 25
    # staging temps all published or cleaned
    assert glob.glob(os.path.join(base, "data", "_ds_tmp", "*")) == []


def test_txlog_ds_writer_append_schema_mismatch(spark, tmp_path):
    import pytest

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_ds_writer_schema")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    load_table(spark, TEST_SF_DIR, "nation").write.format("txlog").mode(
        "append"
    ).save(log_dir)
    with pytest.raises(Exception, match="schema mismatch"):
        load_table(spark, TEST_SF_DIR, "region").write.format(
            "txlog"
        ).mode("append").save(log_dir)
    # the failed write must not have committed a version
    assert [r["commit"] for r in _read_log_json(log_dir)].count(1) == 0


def test_txlog_ds_writer_concurrent_appends(spark, tmp_path):
    """Two threads appending to the same table: the put-if-absent race
    gives each its own version; no rows lost, no version clobbered."""
    import threading

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_ds_writer_race")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    nation = load_table(spark, TEST_SF_DIR, "nation")

    errs = []

    def appender(lo, hi):
        try:
            # a fresh Python thread maps to a fresh JVM thread whose
            # thread-local active session is unset, and Python data
            # source lookup resolves through the ACTIVE session — pin
            # it before writing (what a real multi-writer deployment's
            # separate driver processes each do implicitly)
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                spark._jsparkSession
            )
            nation.where(
                f"n_nationkey >= {lo} AND n_nationkey < {hi}"
            ).write.format("txlog").mode("append").save(log_dir)
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    ts = [
        threading.Thread(target=appender, args=a)
        for a in ((0, 12), (12, 25))
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    rows = _read_log_json(log_dir)
    versions = sorted({r["commit"] for r in rows})
    assert versions == [0, 1]
    got = (
        spark.read.format("txlog").option("path", log_dir).load().count()
    )
    assert got == 25


def test_txlog_ds_stream_writer_replay_exactly_once(spark, tmp_path):
    """Crash-replay idempotence at the commit level: re-invoking the
    stream writer's commit for an already-committed epoch must drop the
    replay's temps and leave the log untouched; a half-published epoch
    dir (crash after publish, before log commit) is cleared and
    republished completely."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aind_data_transformation_spark.io.txlog_source import (
        TxlogStreamWriter,
        _TxlogWriteCommit,
    )

    base = str(tmp_path / "txlog_ds_stream_replay")
    log_dir = os.path.join(base, "_log")
    data_root = os.path.join(base, "data")
    schema = spark.createDataFrame([(1,)], "a bigint").schema
    w = TxlogStreamWriter({"path": log_dir}, schema)

    def stage(vals):
        tmp_dir = os.path.join(data_root, "_ds_tmp")
        os.makedirs(tmp_dir, exist_ok=True)
        tmp = os.path.join(tmp_dir, f"stage-{len(vals)}-{vals[0]}.parquet")
        pq.write_table(pa.table({"a": pa.array(vals, pa.int64())}), tmp)
        return _TxlogWriteCommit(tmp, len(vals))

    w.commit([stage([1, 2, 3])], 0)
    rows0 = _read_log_json(log_dir)
    assert {r["action"] for r in rows0} == {"commitInfo", "add", "txn"}

    # replay of epoch 0 with different staged bytes: must be a no-op
    replay = stage([9, 9, 9])
    w.commit([replay], 0)
    assert _read_log_json(log_dir) == rows0
    assert not os.path.exists(replay.tmp_path)
    got = sorted(
        r["a"]
        for r in spark.read.parquet(
            *_live(spark, log_dir)
        ).collect()
    )
    assert got == [1, 2, 3]

    # crash-after-publish: epoch 1's dir exists with junk, no log entry
    junk_dir = os.path.join(
        data_root, "stream-txlog-stream-epoch-0000000001"
    )
    os.makedirs(junk_dir)
    with open(os.path.join(junk_dir, "part-99999.parquet"), "w") as f:
        f.write("junk")
    w.commit([stage([4, 5])], 1)
    assert sorted(os.listdir(junk_dir)) == ["part-00000.parquet"]
    got = sorted(
        r["a"]
        for r in spark.read.parquet(
            *_live(spark, log_dir)
        ).collect()
    )
    assert got == [1, 2, 3, 4, 5]

    # empty epoch still commits its marker so ITS replay is detected
    w.commit([], 2)
    rows2 = _read_log_json(log_dir)
    assert any(
        r["action"] == "txn" and r["path"].endswith("-2") for r in rows2
    )
    w.commit([], 2)
    assert _read_log_json(log_dir) == rows2


def test_txlog_commit_timestamps_monotonic(spark):
    """commitInfo timestamps are non-decreasing even across wall-clock
    skew: a commit stamped in the future forces the next auto-stamped
    commit to clamp to prev+1, and every mutation path stamps exactly
    one commitInfo."""
    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_ts_mono")
    sinks.txlog_merge(
        spark, log_dir, sinks._merge_changes(spark, TEST_SF_DIR), "o_orderkey"
    )
    future = 4_000_000_000_000_000  # year ~2096, beyond any test clock
    assert tx.attempt_commit(
        log_dir,
        4,
        [
            {
                "commit": 4,
                "action": "commitInfo",
                "op": "TEST",
                "ts": future,
            }
        ],
    )
    assert tx.attempt_commit(log_dir, 5, [], op="EMPTY")
    rows = _read_log_json(log_dir)
    cis = sorted(
        (r["commit"], r["ts"], r["op"])
        for r in rows
        if r["action"] == "commitInfo"
    )
    assert [c for c, _, _ in cis] == [0, 1, 2, 3, 4, 5]
    ts = [t for _, t, _ in cis]
    assert ts == sorted(ts)
    assert all(b > a for a, b in zip(ts, ts[1:])), ts
    assert ts[5] == future + 1  # clamped past the future-stamped commit
    assert cis[3][2] == "MERGE"  # merge stamps its operation name


def test_txlog_as_of_timestamp_resolution(spark):
    """Timestamp resolution: exact boundaries inclusive, pre-history
    raises, and resolution survives log compaction (commitInfo rows are
    retained in checkpoints)."""
    import pytest

    log_dir = sinks._build_txlog_table_with_delete(
        spark, TEST_SF_DIR, "txlog_ts_resolve"
    )
    rows = sinks._txlog_log_rows(spark, log_dir)
    t0 = sinks._TXLOG_TS0
    assert tx._version_as_of_ts(rows, t0) == 0  # inclusive
    assert tx._version_as_of_ts(rows, t0 + 59_999_999) == 0
    assert tx._version_as_of_ts(rows, t0 + 60_000_000) == 1
    assert tx._version_as_of_ts(rows, t0 + 10**12) == 3
    with pytest.raises(ValueError, match="history begins later"):
        tx._version_as_of_ts(rows, t0 - 1)

    sinks.txlog_checkpoint(spark, log_dir, 3)
    rows2 = sinks._txlog_log_rows(spark, log_dir)
    assert tx._version_as_of_ts(rows2, t0 + 10**12) == 3
    assert {
        r["commit"] for r in rows2 if r["action"] == "commitInfo"
    } == {0, 1, 2, 3}


def test_txlog_vacuum_age_gate(spark):
    """Time-based retention: only tombstones whose REMOVING commit is
    at or before the horizon are reclaimed; younger tombstones stay on
    disk (a pinned recent snapshot keeps reading) until the horizon
    passes them."""
    log_dir = sinks._build_txlog_table_with_delete(
        spark, TEST_SF_DIR, "txlog_vac_age"
    )
    data_dir = os.path.join(os.path.dirname(log_dir), "data")
    b0 = os.path.join(data_dir, "batch-0")  # removed at v3 (+180s)
    b1 = os.path.join(data_dir, "batch-1")  # removed at v1 (+60s)
    t0 = sinks._TXLOG_TS0

    res = sinks.txlog_vacuum(
        spark, log_dir, retain_versions=(None,), older_than_ts=t0 + 120_000_000
    )
    assert b1 in res["deleted"] and not os.path.exists(b1)
    assert b0 in res["retained_young"] and os.path.exists(b0)
    # current snapshot unchanged by the gated vacuum
    assert sinks._txlog_read(spark, log_dir, as_of=None).count() == 3

    res2 = sinks.txlog_vacuum(
        spark, log_dir, retain_versions=(None,), older_than_ts=t0 + 200_000_000
    )
    assert b0 in res2["deleted"] and not os.path.exists(b0)


def test_txlog_column_mapping_never_rewrites(spark, tmp_path):
    """The column-mapping contract beyond the row oracle: (1) RENAME /
    DROP / re-ADD are metadata-ONLY — no data file's bytes or mtime
    change across the three schema commits; (2) the dropped column's
    physical bytes remain IN the old file (soft drop) yet are
    unreachable through the mapped read; (3) mapping mutators validate
    their preconditions."""
    import json as _json

    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_colmap_layout")
    data_dir = os.path.join(base, "data")
    log_dir = os.path.join(base, "_log")
    orders = load_table(spark, TEST_SF_DIR, "orders")
    a_path = os.path.join(data_dir, "batch-a")
    orders.where("o_orderkey % 2 = 0").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_custkey"
    ).write.parquet(a_path)
    os.makedirs(log_dir)
    mapping = {
        "columns": [
            {"name": c, "physical": c, "type": t}
            for c, t in zip(
                ["o_orderkey", "o_orderstatus", "o_totalprice", "o_custkey"],
                ["bigint", "string", "double", "bigint"],
            )
        ]
    }
    assert tx.attempt_commit(
        log_dir,
        0,
        [
            {
                "commit": 0,
                "action": "metaData",
                "schema": _json.dumps(mapping, sort_keys=True),
            },
            {"commit": 0, "action": "add", "path": a_path},
        ],
    )

    def snapshot_stats():
        return {
            f: os.stat(os.path.join(a_path, f)).st_mtime_ns
            for f in os.listdir(a_path)
            if f.startswith("part-")
        }

    before = snapshot_stats()
    sinks.txlog_rename_column(spark, log_dir, "o_totalprice", "price")
    sinks.txlog_drop_column(spark, log_dir, "o_custkey")
    v3 = sinks.txlog_add_column(spark, log_dir, "o_custkey", "bigint")
    assert snapshot_stats() == before, "schema surgery must not touch data"

    snap = sinks.txlog_mapped_read(spark, log_dir)
    assert snap.columns == ["o_orderkey", "o_orderstatus", "price", "o_custkey"]
    # old physical bytes still in the file, unreachable through the map
    part = next(
        f for f in os.listdir(a_path) if f.startswith("part-")
    )
    assert "o_custkey" in pq.read_schema(os.path.join(a_path, part)).names
    got = snap.agg(
        F.count("price").alias("n_price"), F.count("o_custkey").alias("n_cust")
    ).collect()[0]
    assert got["n_price"] == snap.count() and got["n_cust"] == 0

    m = tx._mapping_as_of(sinks._txlog_log_rows(spark, log_dir))
    recust = next(c for c in m["columns"] if c["name"] == "o_custkey")
    assert recust["physical"] == f"o_custkey__v{v3}"

    with pytest.raises(ValueError, match="no such column"):
        sinks.txlog_rename_column(spark, log_dir, "nope", "x")
    with pytest.raises(ValueError, match="column exists"):
        sinks.txlog_rename_column(spark, log_dir, "price", "o_custkey")
    with pytest.raises(ValueError, match="column exists"):
        sinks.txlog_add_column(spark, log_dir, "price", "double")
    with pytest.raises(ValueError, match="no such column"):
        sinks.txlog_drop_column(spark, log_dir, "nope")


def test_rowgroup_skipping_layout_and_complement(spark):
    """Beyond the row oracle: the physical layout really is fixed-size,
    sorted, page-indexed row groups, and the pruning is EXACT — the
    skipped row groups contain zero predicate rows, and reading only
    the matching groups reproduces the full scan's predicate answer."""
    import glob as g

    import pyarrow.parquet as pq

    data_dir, kmin, kmax = sinks._build_rowgroup_table(
        spark, TEST_SF_DIR, "rowgroup_layout_test"
    )
    span1 = kmax - kmin + 1
    lo = kmin + (span1 * sinks._STATS_LO_PCT) // 100
    hi = kmin + (span1 * sinks._STATS_HI_PCT) // 100

    matched_rows, skipped_rows, n_match, n_total = [], [], 0, 0
    for f in sorted(g.glob(os.path.join(data_dir, "bucket-*.parquet"))):
        pf = pq.ParquetFile(f)
        md = pf.metadata
        ki = md.schema.names.index("o_orderkey")
        for i in range(md.num_row_groups):
            col = md.row_group(i).column(ki)
            # page index structures present; row groups full-size
            # except the tail; declared sort order
            assert col.has_offset_index and col.has_column_index
            if i < md.num_row_groups - 1:
                assert md.row_group(i).num_rows == sinks._RG_SIZE
            st = col.statistics
            n_total += 1
            keys = pf.read_row_group(i, columns=["o_orderkey"]).column(
                "o_orderkey"
            ).to_pylist()
            assert keys == sorted(keys), "row group must be key-sorted"
            hits = [k for k in keys if lo <= k <= hi]
            if st.max >= lo and st.min <= hi:
                n_match += 1
                matched_rows += hits
            else:
                skipped_rows += hits
        assert md.row_group(0).sorting_columns, "sorting metadata missing"

    assert skipped_rows == [], "a skipped row group held predicate rows"
    assert 0 < n_match < n_total, "predicate must prune but not to zero"
    full = (
        spark.read.parquet(data_dir)
        .where(f"o_orderkey BETWEEN {lo} AND {hi}")
        .count()
    )
    assert len(matched_rows) == full

    # the Spark scan pushes the range predicate down to parquet
    plan = (
        spark.read.parquet(data_dir)
        .where(f"o_orderkey BETWEEN {lo} AND {hi}")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "GreaterThanOrEqual(o_orderkey" in plan


def test_txlog_uniform_export_is_metadata_only_and_versioned(spark):
    """The UniForm export contract: (1) cost is O(footers) — zero data
    rows read, footer count == part-file count; (2) the exported
    plane's row counts reproduce the table count without scanning it;
    (3) exports are snapshot-addressed: exporting pre- and post-merge
    versions leaves BOTH planes readable, each equal to its version's
    replay."""
    from tests.conftest import canon_frame

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_uniform_t")
    sinks.txlog_merge(
        spark, log_dir, sinks._merge_changes(spark, TEST_SF_DIR), "o_orderkey"
    )
    meta_dir = os.path.join(os.path.dirname(log_dir), "_meta_t")

    for v in (2, 3):
        exp = sinks.txlog_export_manifests(spark, log_dir, meta_dir, version=v)
        assert exp["n_data_rows_read"] == 0
        live = _live(spark, log_dir, v)
        n_parts = sum(len(sinks._part_files_local(d)) for d in live)
        assert exp["n_footers_read"] == n_parts
        assert exp["n_files"] == len(live)
        # stats-plane row count == true count, derived without a scan
        import json as _json

        mlist_path = os.path.join(meta_dir, f"manifest-list-{v:05d}.json")
        with open(mlist_path) as fh:
            mlist = [_json.loads(ln) for ln in fh if ln.strip()]
        assert sum(m["n_rows"] for m in mlist) == spark.read.parquet(
            *live
        ).count()
        got = (
            sinks.manifest_snapshot_read(spark, meta_dir, v)
            .groupBy("o_orderstatus")
            .count()
            .toPandas()
        )
        want = (
            spark.read.parquet(*live).groupBy("o_orderstatus").count().toPandas()
        )
        assert canon_frame(got) == canon_frame(want)


def test_txlog_ds_writer_stats_per_file_exact(spark, tmp_path):
    """The stats-writing connector contract beyond the row oracle: ONE
    add action per written file, each carrying that file's EXACT key
    min/max (verified against the parquet footers), and the stats-
    pruning reader genuinely skips files for a narrow range while
    reproducing the full predicate answer."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_ds_stats_layout")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    (
        orders.repartitionByRange(8, "o_orderkey")
        .write.format("txlog")
        .mode("append")
        .option("stats_col", "o_orderkey")
        .save(log_dir)
    )
    adds = [
        r
        for r in _read_log_json(log_dir)
        if r["action"] == "add"
    ]
    assert len(adds) == 8
    for a in adds:
        assert os.path.isfile(a["path"]), "per-file adds log the FILE"
        md = pq.read_metadata(a["path"])
        ki = md.schema.names.index("o_orderkey")
        mn = min(
            md.row_group(i).column(ki).statistics.min
            for i in range(md.num_row_groups)
        )
        mx = max(
            md.row_group(i).column(ki).statistics.max
            for i in range(md.num_row_groups)
        )
        assert (a["min_key"], a["max_key"]) == (mn, mx)

    kmin, kmax = orders.agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).collect()[0]
    lo = kmin + (kmax - kmin) * 25 // 100
    hi = kmin + (kmax - kmin) * 40 // 100
    snap, n_live, n_scanned = sinks.txlog_stats_read(spark, log_dir, lo, hi)
    assert n_live == 8 and 0 < n_scanned < n_live
    assert (
        snap.count()
        == orders.where(f"o_orderkey BETWEEN {lo} AND {hi}").count()
    )


def test_txlog_restore_by_timestamp_and_op_audit(spark):
    """RESTORE TO TIMESTAMP resolves through the same commit-provenance
    rule as AS OF TIMESTAMP reads, rolls back as a new RESTORE-stamped
    commit, and the history's operation names audit every mutation."""
    import pytest

    log_dir = sinks._build_txlog_table_with_delete(
        spark, TEST_SF_DIR, "txlog_restore_ts"
    )
    pre = sinks._txlog_read(spark, log_dir, as_of=2).toPandas()
    res = sinks.txlog_restore(
        spark, log_dir, to_ts=sinks._TXLOG_TS0 + 150_000_000
    )
    assert res["restored_to"] == 2 and res["version"] == 4
    from tests.conftest import canon_frame

    post = sinks._txlog_read(spark, log_dir, as_of=None).toPandas()
    assert canon_frame(post) == canon_frame(pre)
    ops = [
        (r["commit"], r["op"])
        for r in sorted(
            sinks._txlog_log_rows(spark, log_dir), key=lambda r: r["commit"]
        )
        if r["action"] == "commitInfo"
    ]
    assert ops == [
        (0, "WRITE"),
        (1, "WRITE"),
        (2, "WRITE"),
        (3, "DELETE"),
        (4, "RESTORE"),
    ]
    with pytest.raises(ValueError, match="exactly one"):
        sinks.txlog_restore(spark, log_dir)
    with pytest.raises(ValueError, match="exactly one"):
        sinks.txlog_restore(spark, log_dir, to_version=1, to_ts=1)


def test_txlog_commit_operation_metrics(spark):
    """commitInfo carries operation metrics (Delta's operationMetrics)
    for the mutators that know them driver-side: a MERGE's commit
    records exactly how many files it tombstoned and added — numbers a
    storage auditor can reconcile against the commit's own
    add/remove actions — and they survive log checkpoint compaction."""
    import json as _json

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_opmetrics")
    res = sinks.txlog_merge(
        spark, log_dir, sinks._merge_changes(spark, TEST_SF_DIR), "o_orderkey"
    )

    def merge_ci(rows):
        return next(
            r
            for r in rows
            if r["action"] == "commitInfo" and r["commit"] == res["version"]
        )

    rows = sinks._txlog_log_rows(spark, log_dir)
    m = _json.loads(merge_ci(rows)["metrics"])
    assert m == {
        "n_removed_files": len(res["touched"]),
        "n_added_files": 1,
    }
    # reconcile against the commit's own actions
    acts = [r for r in rows if r["commit"] == res["version"]]
    assert m["n_removed_files"] == sum(
        1 for r in acts if r["action"] == "remove"
    )
    assert m["n_added_files"] == sum(1 for r in acts if r["action"] == "add")
    sinks.txlog_checkpoint(spark, log_dir, res["version"])
    m2 = _json.loads(
        merge_ci(sinks._txlog_log_rows(spark, log_dir))["metrics"]
    )
    assert m2 == m


def test_txlog_cdf_incremental_equals_one_shot(spark):
    """The streaming-CDF guarantee: per-commit window consumption
    accumulates to exactly the one-shot multi-version feed — no change
    duplicated across windows, none lost at a boundary."""
    from tests.conftest import canon_frame

    from aind_data_transformation_spark.queries.relational import load_table

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_cdf_inc")
    sinks.txlog_merge(
        spark, log_dir, sinks._merge_changes(spark, TEST_SF_DIR), "o_orderkey"
    )
    deletes = (
        load_table(spark, TEST_SF_DIR, "orders")
        .where("o_orderkey % 4 = 3 AND o_orderkey % 5 = 0")
        .select("o_orderkey")
    )
    sinks.txlog_delete_with_dv(spark, log_dir, deletes, "o_orderkey")

    def feed(f, t):
        return sinks.txlog_table_changes(
            spark, log_dir, "o_orderkey", from_version=f, to_version=t
        )

    acc = feed(2, 3).unionByName(feed(3, 4)).toPandas()
    one = feed(2, 4).toPandas()
    assert canon_frame(acc) == canon_frame(one)


def test_txlog_ds_writer_partitioned_layout(spark, tmp_path):
    """Partitioned connector writes beyond the row oracle: each add
    action's ``part`` value matches its dir name; every file under a
    partition dir holds ONLY that partition's rows; option validation
    (unknown column, stats_col conflict) fails before any write."""
    from urllib.parse import quote

    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_ds_part_layout")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    (
        orders.write.format("txlog")
        .mode("append")
        .option("partition_col", "o_orderstatus")
        .save(log_dir)
    )
    pairs = sorted(
        (p, r["part"])
        for p, r in tx._live_adds(
            sinks._txlog_log_rows(spark, log_dir)
        ).items()
    )
    assert sorted(v for _, v in pairs) == ["F", "O", "P"]
    total = 0
    for pdir, v in pairs:
        assert pdir.endswith(f"o_orderstatus={quote(v, safe='')}")
        for f in os.listdir(pdir):
            t = pq.read_table(os.path.join(pdir, f), columns=["o_orderstatus"])
            vals = set(t.column("o_orderstatus").to_pylist())
            assert vals == {v}, (pdir, f, vals)
            total += t.num_rows
    assert total == orders.count()

    with pytest.raises(Exception, match="not in write schema"):
        orders.write.format("txlog").mode("append").option(
            "partition_col", "nope"
        ).save(log_dir)

    # partition_col + stats_col COMBINE (r10 verdict gap #2): each
    # partition's add action records that partition's exact min/max of
    # the stats column, so the table gets partition pruning AND range
    # pruning from one commit's metadata
    both_log = os.path.join(base, "both", "_log")
    (
        orders.write.format("txlog")
        .mode("append")
        .option("partition_col", "o_orderstatus")
        .option("stats_col", "o_orderkey")
        .save(both_log)
    )
    adds = [
        r
        for r in sinks._txlog_log_rows(spark, both_log)
        if r["action"] == "add"
    ]
    assert sorted(a["part"] for a in adds) == ["F", "O", "P"]
    exact = {
        (r["o_orderstatus"], r["mn"], r["mx"])
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
        )
        .collect()
    }
    assert {
        (a["part"], a["min_key"], a["max_key"]) for a in adds
    } == exact
    assert all(a["stats_col"] == "o_orderkey" for a in adds)
    assert all(a["part_col"] == "o_orderstatus" for a in adds)


def test_txlog_ds_reader_pushdown_prunes_files(spark, tmp_path):
    """pushFilters-level pruning contract: partition EqualTo/In prunes
    whole partition dirs, range filters on the stats column prune
    files by recorded min/max, every filter stays residual (Spark
    re-applies), unprovable or incomparable filters keep all files,
    and reads through the real Spark path stay exact."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        In,
        LessThanOrEqual,
        StringContains,
    )

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_ds_pushdown_unit")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    part_log = os.path.join(base, "part", "_log")
    orders.write.format("txlog").mode("append").option(
        "partition_col", "o_orderstatus"
    ).save(part_log)
    stats_log = os.path.join(base, "stats", "_log")
    orders.repartitionByRange(8, "o_orderkey").write.format("txlog").mode(
        "append"
    ).option("stats_col", "o_orderkey").save(stats_log)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]

    r = txlog_source.TxlogBatchReader({"path": part_log}, cols)
    n_all = len(r.partitions())
    residual = list(r.pushFilters([EqualTo(("o_orderstatus",), "F")]))
    assert len(residual) == 1  # every filter re-applied by Spark
    assert len(r.partitions()) == 1 < n_all
    r2 = txlog_source.TxlogBatchReader({"path": part_log}, cols)
    r2.pushFilters([In(("o_orderstatus",), ("F", "O"))])
    assert len(r2.partitions()) == 2
    # a filter the metadata can't prove keeps everything
    r3 = txlog_source.TxlogBatchReader({"path": part_log}, cols)
    r3.pushFilters([StringContains(("o_orderstatus",), "F")])
    assert len(r3.partitions()) == n_all

    kmin, kmax = orders.agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).collect()[0]
    mid = (kmin + kmax) // 2
    s = txlog_source.TxlogBatchReader({"path": stats_log}, cols)
    s_all = len(s.partitions())
    s.pushFilters([GreaterThan(("o_orderkey",), mid)])
    upper = len(s.partitions())
    assert 0 < upper < s_all
    s2 = txlog_source.TxlogBatchReader({"path": stats_log}, cols)
    s2.pushFilters(
        [GreaterThan(("o_orderkey",), mid), LessThanOrEqual(("o_orderkey",), mid + 1)]
    )
    assert len(s2.partitions()) <= 2  # AND semantics: a point range

    # real Spark read through the pushdown path stays exact
    got = (
        spark.read.format("txlog")
        .option("path", stats_log)
        .load()
        .where(f"o_orderkey > {mid}")
        .count()
    )
    assert got == orders.where(f"o_orderkey > {mid}").count()


def test_txlog_ds_reader_time_travel_scopes_dvs(spark):
    """Connector time travel beyond the row oracle: a DV committed at
    version N must NOT apply when reading as of N-1 (the as_of-scoped
    DV resolution), while the head read still needs dv_key; and the
    two as_of options are mutually exclusive."""
    import pytest
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_ds_tt_dv")
    pre = sinks._txlog_read(spark, log_dir, as_of=None).toPandas()
    deletes = (
        load_table(spark, TEST_SF_DIR, "orders")
        .where("o_orderkey % 8 = 0")
        .select("o_orderkey")
    )
    res = sinks.txlog_delete_with_dv(spark, log_dir, deletes, "o_orderkey")
    txlog_source.register(spark)

    # as of the pre-DV version: full snapshot, NO dv_key required
    old = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .option("version_as_of", str(res["version"] - 1))
        .load()
    )
    from tests.conftest import canon_frame

    got = (
        old.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            ).cast("long").alias("sum_price_cents"),
        )
        .toPandas()
    )
    assert canon_frame(got) == canon_frame(pre)
    # head read still enforces the DV guard
    with pytest.raises(Exception, match="deletion vectors"):
        spark.read.format("txlog").option("path", log_dir).load().count()
    with pytest.raises(Exception, match="at most one"):
        (
            spark.read.format("txlog")
            .option("path", log_dir)
            .option("version_as_of", "1")
            .option("timestamp_as_of", "1")
            .load()
            .count()
        )


def test_txlog_ds_writer_append_type_mismatch(spark, tmp_path):
    """Append type safety: same column names with a different type
    (o_totalprice written as string) must be rejected BEFORE any log
    version is committed — a silently type-drifted file would poison
    every later footer-schema read."""
    import pytest

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_ds_type_check")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    orders.write.format("txlog").mode("append").save(log_dir)
    drifted = orders.selectExpr(
        "o_orderkey", "CAST(o_totalprice AS STRING) AS o_totalprice"
    )
    with pytest.raises(Exception, match="type mismatch"):
        drifted.write.format("txlog").mode("append").save(log_dir)
    assert len(_read_log_json(log_dir)) and max(
        r["commit"] for r in _read_log_json(log_dir)
    ) == 0  # the failed write committed nothing


def test_txlog_ds_two_stream_writers_share_one_table(spark, tmp_path):
    """Two streaming writers with distinct txn_id options feed ONE
    table: each stream's epochs commit under its own idempotence
    marker namespace, the commit race interleaves them at distinct
    versions, and the drained table holds both streams' rows exactly
    once."""
    import os

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries import sinks

    txlog_source.register(spark)
    base = str(tmp_path)
    log_dir = os.path.join(base, "tbl", "_log")
    for tag, lo, hi in (("wa", 0, 50), ("wb", 50, 100)):
        src = os.path.join(base, f"src_{tag}")
        (
            spark.read.parquet(f"{TEST_SF_DIR}/orders.parquet")
            .where(f"o_orderkey >= {lo * 100} AND o_orderkey < {hi * 100}")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .write.parquet(src)
        )
        q = (
            spark.readStream.schema(
                "o_orderkey bigint, o_orderstatus string,"
                " o_totalprice double"
            )
            .parquet(src)
            .writeStream.format("txlog")
            .option("path", log_dir)
            .option("txn_id", tag)
            .option(
                "checkpointLocation", os.path.join(base, f"ckpt_{tag}")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    rows = sinks._txlog_log_rows(spark, log_dir)
    txns = sorted(
        r["path"] for r in rows if r["action"] == "txn"
    )
    assert any(t.startswith("wa-") for t in txns)
    assert any(t.startswith("wb-") for t in txns)
    got = spark.read.format("txlog").option("path", log_dir).load().count()
    want = (
        spark.read.parquet(f"{TEST_SF_DIR}/orders.parquet")
        .where("o_orderkey < 10000")
        .count()
    )
    assert got == want


def test_txlog_ds_stream_writer_auto_checkpoint(spark, tmp_path):
    """checkpoint_interval compacts the log mid-stream, stdlib-only
    (the writer commits in Spark's planning worker where no session
    exists): with interval 5, a 12-epoch stream leaves checkpoints at
    versions 4 and 9, JSON files <= 9 deleted, and BOTH readers (the
    engine's replay and the connector) reconstruct exactly; txn
    idempotence markers survive compaction so a replayed old epoch
    still skips."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.io.txlog_source import (
        TxlogStreamWriter,
        _TxlogWriteCommit,
    )
    from aind_data_transformation_spark.queries import sinks

    base = str(tmp_path)
    log_dir = os.path.join(base, "_log")
    data_root = os.path.join(base, "data")
    schema = spark.createDataFrame([(1,)], "a bigint").schema
    w = TxlogStreamWriter(
        {"path": log_dir, "checkpoint_interval": "5"}, schema
    )

    def stage(vals):
        tmp_dir = os.path.join(data_root, "_ds_tmp")
        os.makedirs(tmp_dir, exist_ok=True)
        import uuid

        tmp = os.path.join(tmp_dir, f"s-{uuid.uuid4().hex}.parquet")
        pq.write_table(pa.table({"a": pa.array(vals, pa.int64())}), tmp)
        return _TxlogWriteCommit(tmp, len(vals))

    for epoch in range(12):
        w.commit([stage([epoch * 10, epoch * 10 + 1])], epoch)

    names = sorted(os.listdir(log_dir))
    assert "_checkpoint_00004" in names and "_checkpoint_00009" in names
    jsons = [n for n in names if n.endswith(".json")]
    assert jsons == ["00010.json", "00011.json"], jsons

    want = sorted(x for e in range(12) for x in (e * 10, e * 10 + 1))
    live = _live(spark, log_dir)
    got_engine = sorted(
        r["a"] for r in spark.read.parquet(*live).collect()
    )
    assert got_engine == want
    txlog_source.register(spark)
    got_conn = sorted(
        r["a"]
        for r in spark.read.format("txlog")
        .option("path", log_dir)
        .load()
        .collect()
    )
    assert got_conn == want

    # replay of a compacted epoch still finds its txn marker and skips
    replay = stage([999])
    w.commit([replay], 3)
    assert not os.path.exists(replay.tmp_path)
    assert sorted(
        r["a"]
        for r in spark.read.parquet(
            *_live(spark, log_dir)
        ).collect()
    ) == want


def test_txlog_stream_writer_rejects_overwrite_modes(spark):
    """A writeStream in complete/truncate output mode must fail loudly
    (the streaming sink only appends) instead of silently appending
    epochs that the mode contract says replace the table."""
    import pytest

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    schema = load_table(spark, TEST_SF_DIR, "nation").schema
    ds = txlog_source.TxlogDataSource({"path": "/tmp/nowhere/_log"})
    with pytest.raises(ValueError, match="append output mode only"):
        ds.streamWriter(schema, overwrite=True)
    # append contract still constructs fine
    assert ds.streamWriter(schema, overwrite=False) is not None


def test_txlog_stats_col_types_and_bloom_guard(spark, tmp_path):
    """Write-time stats validation under the r12 GENERALIZED tier:
    orderable non-integer columns (string/double/date/timestamp) are
    now ACCEPTED for stats_col (typed-JSON ``stats_json`` bounds —
    Delta records min/max for all orderable types), comma lists parse
    per column, a non-orderable column is rejected at construction,
    and bloom_col keeps the integer-only hashing contract. The legacy
    flag is exactly "one integer column"."""
    import pytest
    from pyspark.sql.types import StructType

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_stats_type")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    # orderable non-integer types accepted on both writer halves now
    for col in ("o_totalprice", "o_orderstatus", "o_orderdate"):
        w = txlog_source.TxlogBatchWriter(
            {"path": log_dir, "stats_col": col}, orders.schema, False
        )
        assert w.stats_cols == [col] and not w.legacy_stats
        txlog_source.TxlogStreamWriter(
            {"path": log_dir, "stats_col": col}, orders.schema
        )
    # comma list parses per column; single integer column = legacy
    w = txlog_source.TxlogBatchWriter(
        {"path": log_dir, "stats_col": "o_orderkey, o_totalprice"},
        orders.schema,
        False,
    )
    assert w.stats_cols == ["o_orderkey", "o_totalprice"]
    assert not w.legacy_stats
    w = txlog_source.TxlogBatchWriter(
        {"path": log_dir, "stats_col": "o_orderkey"}, orders.schema, False
    )
    assert w.legacy_stats
    # a non-orderable column type is rejected at construction
    arr_schema = StructType.fromDDL("k bigint, v array<bigint>")
    with pytest.raises(ValueError, match="orderable"):
        txlog_source.TxlogBatchWriter(
            {"path": log_dir, "stats_col": "v"}, arr_schema, False
        )
    with pytest.raises(ValueError, match="duplicate"):
        txlog_source.TxlogBatchWriter(
            {"path": log_dir, "stats_col": "k,k"}, arr_schema, False
        )
    # bloom_col keeps the integer-only hashing vocabulary, both halves
    with pytest.raises(ValueError, match="must be an integer column"):
        txlog_source.TxlogBatchWriter(
            {"path": log_dir, "bloom_col": "o_orderstatus"},
            orders.schema,
            False,
        )
    with pytest.raises(ValueError, match="must be an integer column"):
        txlog_source.TxlogStreamWriter(
            {"path": log_dir, "bloom_col": "o_totalprice"}, orders.schema
        )


def test_txlog_register_pushdown_opt_out(spark):
    """register(enable_pushdown=False) leaves the session-wide Python
    filter-pushdown conf untouched (the documented side effect is
    opt-outable); the default register() turns it on."""
    from aind_data_transformation_spark.io import txlog_source

    key = "spark.sql.python.filterPushdown.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        txlog_source.register(spark, enable_pushdown=False)
        assert spark.conf.get(key) == "false"
        txlog_source.register(spark)
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, old)


def test_txlog_checkpoint_twins_share_one_schema(spark, tmp_path):
    """The advisor's twin-divergence hazard, pinned: a connector
    STATS-recording table compacted through the ENGINE's
    txlog_checkpoint (fully — no JSON tail at all) keeps every add's
    min_key/max_key/stats_col in the checkpoint parquet, and the
    stats-pruning reader still prunes and returns exact rows. Before
    unification this silently stripped the skipping metadata (and the
    fully-compacted read crashed on an empty glob)."""
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_ckpt_twins")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    for pred in (k % 2 == 0, k % 2 == 1):
        (
            orders.where(pred)
            .repartitionByRange(4, "o_orderkey")
            .write.format("txlog")
            .mode("append")
            .option("stats_col", "o_orderkey")
            .save(log_dir)
        )
    sinks.txlog_checkpoint(spark, log_dir, 1)
    assert not _glob.glob(os.path.join(log_dir, "*.json"))
    ckpt = _glob.glob(os.path.join(log_dir, "_checkpoint_*"))
    assert len(ckpt) == 1
    t = pq.read_table(ckpt[0]).to_pylist()
    adds = [r for r in t if r["action"] == "add"]
    assert len(adds) == 8
    assert all(
        r["min_key"] is not None
        and r["max_key"] is not None
        and r["stats_col"] == "o_orderkey"
        for r in adds
    )
    kmin, kmax = orders.agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).collect()[0]
    lo = kmin + (kmax - kmin) * 25 // 100
    hi = kmin + (kmax - kmin) * 40 // 100
    snap, n_live, n_scanned = sinks.txlog_stats_read(spark, log_dir, lo, hi)
    assert n_live == 8 and n_scanned < n_live
    want = orders.where(k.between(lo, hi)).count()
    assert snap.count() == want
    # the compacted table also reads exactly through the connector
    assert (
        spark.read.format("txlog").option("path", log_dir).load().count()
        == orders.count()
    )


def test_txlog_ds_merge_schema_mechanics(spark, tmp_path):
    """merge_schema unit contracts beyond the row oracle: the evolved
    union DDL lands as a metaData action IN THE SAME COMMIT as the
    adds; connector schema() serves the evolved DDL (log-owned, never
    a footer); a write that OMITS existing columns under merge is
    admitted and null-fills; type drift on a common column is still
    rejected even under merge."""
    import pytest
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_merge_mech")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders")
    k = F.col("o_orderkey")
    orders.where(k % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).write.format("txlog").mode("append").save(log_dir)
    # write OMITTING o_orderstatus/o_totalprice but adding a new column
    (
        orders.where(k % 2 == 1)
        .select("o_orderkey", (k % 10).cast("int").alias("kmod"))
        .write.format("txlog")
        .mode("append")
        .option("merge_schema", "true")
        .save(log_dir)
    )
    rows = _read_log_json(log_dir)
    metas = [r for r in rows if r["action"] == "metaData"]
    assert len(metas) == 1 and metas[0]["commit"] == 1
    assert "kmod" in metas[0]["schema"]
    snap = spark.read.format("txlog").option("path", log_dir).load()
    assert set(snap.columns) == {
        "o_orderkey", "o_orderstatus", "o_totalprice", "kmod",
    }
    n_even = orders.where(k % 2 == 0).count()
    n_odd = orders.where(k % 2 == 1).count()
    got = snap.agg(
        F.count(F.lit(1)),
        F.count("o_orderstatus"),
        F.count("kmod"),
    ).collect()[0]
    assert tuple(got) == (n_even + n_odd, n_even, n_odd)
    # type drift on a shared column still rejected under merge
    drifted = orders.where(k % 2 == 1).selectExpr(
        "o_orderkey", "CAST(o_totalprice AS STRING) AS o_totalprice"
    )
    with pytest.raises(Exception, match="type mismatch"):
        drifted.write.format("txlog").mode("append").option(
            "merge_schema", "true"
        ).save(log_dir)


def test_txlog_ds_branched_filters_no_row_loss(spark, tmp_path):
    """Regression for an upstream Spark 4.1 defect (verified on the
    bytecode: PythonScanBuilder.pushFilters stores each branch's
    planned read via PythonDataSourceV2.setReadInfo on the ONE object
    shared by every scan of a load(); execution returns whichever plan
    was set last): two differently-filtered branches of one loaded
    DataFrame both executed the LAST branch's pruned file list and
    silently dropped the other branch's rows. The connector's defense
    prunes by the intersection of every filter set pushed for the
    relation (planning-worker registry keyed by a per-load uuid), so
    branched unions are exact while fresh single-scan loads keep full
    pruning."""
    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_ds_branch_union")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.format("txlog").mode("append").option(
        "partition_col", "o_orderstatus"
    ).save(log_dir)
    tbl = spark.read.format("txlog").option("path", log_dir).load()
    u = tbl.where("o_orderstatus='F'").unionByName(
        tbl.where("o_orderstatus='O'")
    )
    want = orders.where("o_orderstatus IN ('F','O')").count()
    assert u.count() == want
    # 3-way branch reconstructs the full table
    t3 = spark.read.format("txlog").option("path", log_dir).load()
    w = (
        t3.where("o_orderstatus='F'")
        .unionByName(t3.where("o_orderstatus='O'"))
        .unionByName(t3.where("o_orderstatus='P'"))
    )
    assert w.count() == orders.count()
    # sequential reuse of ONE load with changing filters stays exact
    t2 = spark.read.format("txlog").option("path", log_dir).load()
    for status in ("F", "O", "P", "F"):
        got = t2.where(f"o_orderstatus='{status}'").count()
        assert got == orders.where(f"o_orderstatus='{status}'").count()
    # a FRESH load still gets full single-scan pruning (log metadata)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    from pyspark.sql.datasource import EqualTo

    r = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
    n_all = len(r.partitions())
    r.pushFilters([EqualTo(("o_orderstatus",), "F")])
    assert len(r.partitions()) == 1 < n_all


def test_txlog_ds_bloom_index_mechanics(spark, tmp_path):
    """Bloom index unit contracts beyond the row oracle: the add
    actions carry a decodable filter (bloom/bloom_col/bloom_bits);
    NO file containing a probed key is ever pruned (membership is
    exact for present values — only absence can be proven); a key
    absent from the whole table prunes EVERY file (modulo false
    positives: asserted ≤ half the files at these sizes); bloom_col
    rejects non-integer columns and non-power-of-two sizes."""
    import pytest
    from pyspark.sql.datasource import EqualTo

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    base = str(tmp_path / "txlog_ds_bloom_unit")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    (
        orders.repartition(8, "o_orderkey")
        .write.format("txlog")
        .mode("append")
        .option("bloom_col", "o_orderkey")
        .save(log_dir)
    )
    rows = sinks._txlog_log_rows(spark, log_dir)
    adds = [r for r in rows if r["action"] == "add"]
    assert all(
        r["bloom"] and r["bloom_col"] == "o_orderkey" and r["bloom_bits"]
        for r in adds
    )
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    # every present key must keep exactly the file(s) that hold it
    import pyarrow.parquet as pq

    sample_keys = [
        r["o_orderkey"]
        for r in orders.where("o_orderkey % 131 = 7").limit(10).collect()
    ]
    for key in sample_keys:
        r = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
        r.pushFilters([EqualTo(("o_orderkey",), key)])
        kept = {p.path for p in r.partitions()}
        holders = {
            p
            for a in adds
            for p in [a["path"]]
            if key
            in pq.read_table(p, columns=["o_orderkey"])
            .column("o_orderkey")
            .to_pylist()
        }
        assert holders <= kept, (key, holders - kept)
    # an absent key prunes (false positives bounded at this density)
    absent = (
        orders.agg({"o_orderkey": "max"}).collect()[0][0] + 123456789
    )
    r = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
    r.pushFilters([EqualTo(("o_orderkey",), absent)])
    assert len(r.partitions()) <= len(adds) // 2
    # option validation
    with pytest.raises(Exception, match="must be an integer column"):
        orders.write.format("txlog").mode("append").option(
            "bloom_col", "o_orderstatus"
        ).save(log_dir)
    with pytest.raises(Exception, match="power of two"):
        orders.write.format("txlog").mode("append").option(
            "bloom_col", "o_orderkey"
        ).option("bloom_bits", "1000").save(log_dir)


def test_txlog_stream_writer_partitioned_epochs(spark, tmp_path):
    """Streaming PARTITIONED epochs: each micro-batch commits one
    part-valued add per partition value (same Hive layout + metadata
    as the batch writer — `_publish_partitioned` is shared), with
    per-partition stats folded in; a replayed epoch finds its txn
    marker and skips; partition-pruned reads work on the streaming
    table immediately."""
    import os

    import pyarrow as pa
    from pyspark.sql.datasource import EqualTo

    from aind_data_transformation_spark.io import txlog_source

    log_dir = os.path.join(str(tmp_path), "tbl", "_log")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "b"), (5, "a")], "k long, s string"
    )
    w = txlog_source.TxlogStreamWriter(
        {
            "path": log_dir,
            "partition_col": "s",
            "stats_col": "k",
        },
        df.schema,
    )

    def stage(rows):
        batch = pa.record_batch(
            {
                "k": pa.array([r[0] for r in rows], pa.int64()),
                "s": pa.array([r[1] for r in rows], pa.string()),
            }
        )
        return w.write(iter([batch]))

    w.commit([stage([(1, "a"), (2, "b"), (3, "a")])], 0)
    w.commit([stage([(4, "b"), (5, "a")])], 1)
    rows = sinks._txlog_log_rows(spark, log_dir)
    adds = [r for r in rows if r["action"] == "add"]
    assert sorted((a["part"], a["min_key"], a["max_key"]) for a in adds) == [
        ("a", 1, 3),
        ("a", 5, 5),
        ("b", 2, 2),
        ("b", 4, 4),
    ]
    assert all(a["part_col"] == "s" for a in adds)
    # replayed epoch is a no-op (its txn marker is already committed)
    n_commits = max(r["commit"] for r in rows)
    w.commit([stage([(99, "zzz")])], 1)
    rows2 = sinks._txlog_log_rows(spark, log_dir)
    assert max(r["commit"] for r in rows2) == n_commits
    # partition-pruned read through the connector
    txlog_source.register(spark)
    tbl = spark.read.format("txlog").option("path", log_dir).load()
    assert sorted(
        r["k"] for r in tbl.where("s = 'a'").collect()
    ) == [1, 3, 5]
    r = txlog_source.TxlogBatchReader({"path": log_dir}, ["k", "s"])
    n_all = len({p.data_dir for p in r.partitions()})
    r.pushFilters([EqualTo(("s",), "a")])
    n_a = len({p.data_dir for p in r.partitions()})
    assert n_a == 2 < n_all == 4


def test_txlog_ds_edge_compositions(spark, tmp_path):
    """Edge compositions across the r11 features: (1) a plain
    connector append to a column-MAPPED table fails loudly naming the
    mapped-write tool (a silent logical-name file would be misread by
    the physical->logical projection); (2) time travel to BEFORE a
    merge_schema evolution serves the pre-evolution schema (the added
    column must not exist at the earlier snapshot); (3) merge_schema
    composes with partitioned writes (the metaData action and the
    part-valued adds land in ONE commit)."""
    import pytest
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders")
    k = F.col("o_orderkey")

    # (1) mapped table rejects the plain writer
    mapped_log = sinks._build_txlog_mapped_table(
        spark, TEST_SF_DIR, "txlog_ds_edge_mapped"
    )
    with pytest.raises(Exception, match="column-mapped table"):
        orders.select("o_orderkey").write.format("txlog").mode(
            "append"
        ).save(mapped_log)

    # (2) evolution x time travel
    base = str(tmp_path / "txlog_ds_edge_evo_tt")
    log_dir = os.path.join(base, "_log")
    orders.where(k % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.format("txlog").mode("append").save(log_dir)
    (
        orders.where(k % 2 == 1)
        .select("o_orderkey", "o_totalprice", (k % 7).cast("int").alias("k7"))
        .write.format("txlog")
        .mode("append")
        .option("merge_schema", "true")
        .save(log_dir)
    )
    now = spark.read.format("txlog").option("path", log_dir).load()
    assert "k7" in now.columns
    v0 = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .option("version_as_of", "0")
        .load()
    )
    assert "k7" not in v0.columns
    assert v0.count() == orders.where(k % 2 == 0).count()

    # (3) merge_schema x partitioned write: one commit holds both the
    # metaData and the part-valued adds
    base2 = str(tmp_path / "txlog_ds_edge_merge_part")
    log2 = os.path.join(base2, "_log")
    orders.where(k % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).write.format("txlog").mode("append").option(
        "partition_col", "o_orderstatus"
    ).save(log2)
    (
        orders.where(k % 2 == 1)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            (k % 7).cast("int").alias("k7"),
        )
        .write.format("txlog")
        .mode("append")
        .option("partition_col", "o_orderstatus")
        .option("merge_schema", "true")
        .save(log2)
    )
    rows = sinks._txlog_log_rows(spark, log2)
    v1 = [r for r in rows if r["commit"] == 1]
    assert any(r["action"] == "metaData" and "k7" in r["schema"] for r in v1)
    assert sum(1 for r in v1 if r["action"] == "add") == 3
    snap = spark.read.format("txlog").option("path", log2).load()
    assert snap.count() == orders.count()
    assert snap.where("k7 IS NULL").count() == orders.where(k % 2 == 0).count()


def test_txlog_checkpoint_twins_inverse_direction(spark):
    """The other direction of the twin-unification: an ENGINE-mutated
    table (MoR DV delete + txn + commitInfo + metaData constraint)
    compacted by the CONNECTOR's stdlib `checkpoint_log` must replay
    identically through the ENGINE's checkpoint-aware `_txlog_log_rows`
    — DV state, idempotence markers, provenance and the recorded
    constraint all survive, and the DV-aware snapshot equals the
    pre-compaction one."""
    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io.txlog_source import (
        checkpoint_log,
    )
    from aind_data_transformation_spark.queries.relational import load_table

    base_name = "txlog_ckpt_twins_inv"
    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, base_name)
    k = F.col("o_orderkey")
    deletes = (
        load_table(spark, TEST_SF_DIR, "orders")
        .where(k % 6 == 0)
        .select("o_orderkey")
    )
    res = sinks.txlog_delete_with_dv(spark, log_dir, deletes, "o_orderkey")
    before = (
        sinks.txlog_read_with_dvs(spark, log_dir, "o_orderkey")
        .agg(F.count(F.lit(1)), F.sum("o_orderkey"))
        .collect()[0]
    )
    rows_before = sinks._txlog_log_rows(spark, log_dir)
    ckpt = checkpoint_log(log_dir, res["version"])
    assert os.path.isdir(ckpt)
    rows_after = sinks._txlog_log_rows(spark, log_dir)
    # the RECONCILED state the readers consume survives compaction:
    # live files, applicable DV (sidecar, target) pairs, provenance
    assert tx._live_files(
        rows_after
    ) == tx._live_files(rows_before)

    def live_dvs(rows):
        live = tx._live_files(rows)
        return {
            (r["path"], r["target"])
            for r in rows
            if r["action"] == "dv" and r["target"] in set(live)
        }

    assert live_dvs(rows_after) == live_dvs(rows_before)
    assert any(r["action"] == "commitInfo" for r in rows_after)
    after = (
        sinks.txlog_read_with_dvs(spark, log_dir, "o_orderkey")
        .agg(F.count(F.lit(1)), F.sum("o_orderkey"))
        .collect()[0]
    )
    assert tuple(before) == tuple(after)


def test_txlog_bloom_on_partitioned_and_stream_writes(spark, tmp_path):
    """Bloom indexing composes with the rest of the writer matrix:
    (1) a PARTITIONED batch write with bloom_col records one OR-merged
    filter per partition dir (tasks contribute independently), and a
    point lookup through pushFilters keeps only dirs whose bloom
    admits the key while every dir holding it is kept (no false
    negatives); (2) the STREAM writer records a per-epoch bloom and an
    absent-key probe prunes the epoch dirs."""
    import os

    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    log_dir = os.path.join(str(tmp_path), "part_bloom", "_log")
    (
        orders.repartition(4)  # tasks don't align with partition values
        .write.format("txlog")
        .mode("append")
        .option("partition_col", "o_orderstatus")
        .option("bloom_col", "o_orderkey")
        .option("bloom_bits", str(1 << 18))
        .save(log_dir)
    )
    adds = [
        r
        for r in sinks._txlog_log_rows(spark, log_dir)
        if r["action"] == "add"
    ]
    assert len(adds) == 3 and all(
        a["bloom"] and a["bloom_col"] == "o_orderkey" for a in adds
    )
    # a key from one known status: its dir must be kept, most others
    # pruned (FP-tolerant: strictly fewer dirs than live)
    probe = orders.where("o_orderstatus = 'P'").limit(1).collect()[0]
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    r = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
    r.pushFilters([EqualTo(("o_orderkey",), probe["o_orderkey"])])
    kept_dirs = {p.data_dir for p in r.partitions()}
    assert any(d.endswith("o_orderstatus=P") for d in kept_dirs)
    assert len(kept_dirs) < 3
    # end-to-end exactness of the probed read
    got = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .load()
        .where(F.col("o_orderkey") == probe["o_orderkey"])
        .collect()
    )
    assert [tuple(x) for x in got] == [tuple(probe)]

    # (2) stream writer bloom
    slog = os.path.join(str(tmp_path), "stream_bloom", "_log")
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    w = txlog_source.TxlogStreamWriter(
        {"path": slog, "bloom_col": "k", "bloom_bits": str(1 << 12)},
        df.schema,
    )
    batch = pa.record_batch(
        {"k": pa.array([10, 20, 30], pa.int64()),
         "s": pa.array(["a", "b", "c"], pa.string())}
    )
    w.commit([w.write(iter([batch]))], 0)
    batch2 = pa.record_batch(
        {"k": pa.array([40, 50], pa.int64()),
         "s": pa.array(["d", "e"], pa.string())}
    )
    w.commit([w.write(iter([batch2]))], 1)
    sadds = [
        r
        for r in sinks._txlog_log_rows(spark, slog)
        if r["action"] == "add"
    ]
    assert len(sadds) == 2 and all(a["bloom"] for a in sadds)
    r2 = txlog_source.TxlogBatchReader({"path": slog}, ["k", "s"])
    r2.pushFilters([EqualTo(("k",), 40)])
    kept = {p.data_dir for p in r2.partitions()}
    assert len(kept) == 1 and kept.pop().endswith("epoch-0000000001")


def test_txlog_pruning_respects_time_travel_snapshot(spark, tmp_path):
    """pushFilters pruning composes with version_as_of: the prune
    evaluates each LIVE-AT-SNAPSHOT file's OWN add metadata, so a v0
    read of a later-overwritten stats table prunes from v0's recorded
    bounds and returns exactly v0's rows — never the overwriting
    commit's layout."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    log_dir = os.path.join(str(tmp_path), "tt_prune", "_log")
    half = orders.where("o_orderkey % 2 = 0")
    (
        half.repartitionByRange(4, "o_orderkey")
        .write.format("txlog")
        .mode("append")
        .option("stats_col", "o_orderkey")
        .save(log_dir)
    )
    # v1 OVERWRITES with the other half — different files, different stats
    (
        orders.where("o_orderkey % 2 = 1")
        .repartitionByRange(4, "o_orderkey")
        .write.format("txlog")
        .mode("overwrite")
        .option("stats_col", "o_orderkey")
        .save(log_dir)
    )
    kmin, kmax = half.agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).collect()[0]
    lo = kmin + (kmax - kmin) * 25 // 100
    hi = kmin + (kmax - kmin) * 40 // 100
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    r = txlog_source.TxlogBatchReader(
        {"path": log_dir, "version_as_of": "0"}, cols
    )
    n_all_v0 = len(r.partitions())
    r2 = txlog_source.TxlogBatchReader(
        {"path": log_dir, "version_as_of": "0"}, cols
    )
    r2.pushFilters(
        [GreaterThanOrEqual(("o_orderkey",), lo),
         LessThanOrEqual(("o_orderkey",), hi)]
    )
    assert len(r2.partitions()) < n_all_v0 == 4
    got = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .option("version_as_of", "0")
        .load()
        .where(F.col("o_orderkey").between(lo, hi))
        .count()
    )
    assert got == half.where(F.col("o_orderkey").between(lo, hi)).count()


def test_txlog_merge_schema_survives_compaction(spark, tmp_path):
    """The evolved-DDL metaData action survives log compaction (both
    checkpoint twins keep metaData rows), so a compacted evolved table
    still serves the log-owned schema and null-fills pre-evolution
    files through the connector."""
    import os

    from pyspark.sql import functions as F

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.io.txlog_source import (
        checkpoint_log,
    )
    from aind_data_transformation_spark.queries.relational import load_table

    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders")
    k = F.col("o_orderkey")
    log_dir = os.path.join(str(tmp_path), "evo_ckpt", "_log")
    orders.where(k % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.format("txlog").mode("append").save(log_dir)
    (
        orders.where(k % 2 == 1)
        .select("o_orderkey", "o_totalprice", (k % 9).cast("int").alias("k9"))
        .write.format("txlog")
        .mode("append")
        .option("merge_schema", "true")
        .save(log_dir)
    )
    checkpoint_log(log_dir, 1)  # fully compacted: no JSON tail
    assert not [
        f for f in os.listdir(log_dir) if f.endswith(".json")
    ]
    snap = spark.read.format("txlog").option("path", log_dir).load()
    assert set(snap.columns) == {"o_orderkey", "o_totalprice", "k9"}
    assert snap.count() == orders.count()
    assert (
        snap.where("k9 IS NULL").count()
        == orders.where(k % 2 == 0).count()
    )


def test_txlog_review_regressions_r11(spark, tmp_path):
    """Regressions from the r11 self-review, each a confirmed defect:
    (1) OVERWRITE of a merge_schema-evolved table resets the log-owned
    DDL to the new write's schema (stale evolved metaData would read
    the table back as all-NULL ghost columns); (2) a merge append that
    only OMITS columns evolves the table so the narrow file null-fills
    instead of crashing footer-served reads; (3) bloom staging drops
    nulls BEFORE numpy conversion, so a >2^53 key sharing a batch with
    a NULL still probes present (the float64 path would hash its
    rounded value and prune the file that holds it); (4) a streaming
    read of an evolved table null-fills pre-evolution files instead of
    crashing; (5) all-NULL stats batches record no bounds instead of
    folding None into min/max."""
    import os

    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries.relational import load_table

    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders")
    k = F.col("o_orderkey")

    # (1) overwrite resets the evolved DDL
    log1 = os.path.join(str(tmp_path), "ow_evo", "_log")
    orders.where(k % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.format("txlog").mode("append").save(log1)
    (
        orders.where(k % 2 == 1)
        .select("o_orderkey", "o_totalprice", (k % 3).cast("int").alias("k3"))
        .write.format("txlog")
        .mode("append")
        .option("merge_schema", "true")
        .save(log1)
    )
    orders.select("o_orderkey", "o_orderstatus").write.format(
        "txlog"
    ).mode("overwrite").save(log1)
    snap = spark.read.format("txlog").option("path", log1).load()
    assert set(snap.columns) == {"o_orderkey", "o_orderstatus"}
    assert snap.count() == orders.count()
    assert snap.where("o_orderstatus IS NULL").count() == 0

    # (2) merge append that only omits columns on a never-evolved table
    log2 = os.path.join(str(tmp_path), "omit_only", "_log")
    orders.where(k % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.format("txlog").mode("append").save(log2)
    (
        orders.where(k % 2 == 1)
        .select("o_orderkey")
        .write.format("txlog")
        .mode("append")
        .option("merge_schema", "true")
        .save(log2)
    )
    snap2 = spark.read.format("txlog").option("path", log2).load()
    assert set(snap2.columns) == {"o_orderkey", "o_totalprice"}
    assert snap2.count() == orders.count()
    assert (
        snap2.where("o_totalprice IS NULL").count()
        == orders.where(k % 2 == 1).count()
    )

    # (3) bloom exactness with NULLs + >2^53 keys in one batch
    log3 = os.path.join(str(tmp_path), "bloom_null", "_log")
    big = (1 << 60) + 1
    df = spark.createDataFrame(
        [(1, "a"), (None, "n"), (big, "b")], "k long, s string"
    )
    df.write.format("txlog").mode("append").option("bloom_col", "k").option(
        "bloom_bits", str(1 << 12)
    ).save(log3)
    r = txlog_source.TxlogBatchReader({"path": log3}, ["k", "s"])
    r.pushFilters([EqualTo(("k",), big)])
    assert len(r.partitions()) >= 1, "exact big key must probe present"
    got = (
        spark.read.format("txlog")
        .option("path", log3)
        .load()
        .where(F.col("k") == big)
        .collect()
    )
    assert [tuple(x) for x in got] == [(big, "b")]

    # (4) streaming read of an evolved table null-fills old files
    stream = (
        spark.readStream.format("txlog").option("path", log2).load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("evo_stream_t")
        .option(
            "checkpointLocation", os.path.join(str(tmp_path), "ck4")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    mem = spark.table("evo_stream_t")
    assert set(mem.columns) == {"o_orderkey", "o_totalprice"}
    assert mem.count() == orders.count()

    # (5) all-NULL stats batches record no bounds (no None-fold crash)
    log5 = os.path.join(str(tmp_path), "null_stats", "_log")
    df5 = spark.createDataFrame(
        [(None, "x"), (None, "y")], "k long, s string"
    )
    df5.coalesce(1).write.format("txlog").mode("append").option(
        "stats_col", "k"
    ).save(log5)
    adds = [
        r
        for r in sinks._txlog_log_rows(spark, log5)
        if r["action"] == "add"
    ]
    assert adds and all(a["min_key"] is None for a in adds)
    assert (
        spark.read.format("txlog").option("path", log5).load().count() == 2
    )


def test_txlog_protocol_gates_and_checkpoint_survival(spark, tmp_path):
    """Protocol tier mechanics beyond the registry key: (a) the
    connector WRITE path refuses a table fenced by an unknown writer
    feature and leaks no published ds-write dir; (b) append_only
    allows connector appends but the primitive rejects engine removes;
    (c) protocol survives BOTH checkpoint compaction paths with
    enforcement intact; (d) the engine replay gate refuses unknown
    reader features while pre-upgrade connector time travel still
    serves."""
    import shutil as _shutil

    import pytest

    from aind_data_transformation_spark.io import txlog_source as tx
    from aind_data_transformation_spark.queries import sinks
    from aind_data_transformation_spark.queries.relational import load_table

    tx.register(spark)
    nation = load_table(spark, TEST_SF_DIR, "nation")

    # (a) unknown WRITER feature: connector append refused, no orphans
    base_a = str(tmp_path / "proto_wfence")
    log_a = os.path.join(base_a, "_log")
    os.makedirs(log_a)
    nation.write.format("txlog").mode("append").save(log_a)
    tx.set_protocol(log_a, 1, 2, [], ["wf_from_the_future"])
    with pytest.raises(Exception, match="writer feature"):
        nation.write.format("txlog").mode("append").save(log_a)
    orphans = [
        d
        for d in os.listdir(base_a)
        if d.startswith("ds-write-") and d not in {
            os.path.basename(r["path"])
            for r in tx._log_rows(log_a)
            if r.get("action") == "add"
        }
    ]
    assert not orphans, f"rejected write leaked {orphans}"
    # the refused write must not have committed anything
    assert max(r["commit"] for r in tx._log_rows(log_a)) == 1

    # (b) append_only: connector append fine, remove rejected
    base_b = str(tmp_path / "proto_appendonly")
    log_b = os.path.join(base_b, "_log")
    os.makedirs(log_b)
    nation.write.format("txlog").mode("append").save(log_b)
    tx.set_protocol(log_b, 2, 2, [], ["append_only"])
    nation.where("n_nationkey < 5").write.format("txlog").mode(
        "append"
    ).save(log_b)
    n_before = (
        spark.read.format("txlog").option("path", log_b).load().count()
    )
    assert n_before == 30
    with pytest.raises(tx.TxlogProtocolError, match="append-only"):
        tx.attempt_commit(
            log_b,
            99,
            [{"commit": 99, "action": "remove", "path": "whatever"}],
        )
    # overwrite mode = removes: refused through the full connector path
    with pytest.raises(Exception, match="append-only"):
        nation.write.format("txlog").mode("overwrite").save(log_b)

    # (c) checkpoint survival, BOTH paths
    #   engine path
    head = max(r["commit"] for r in tx._log_rows(log_b))
    sinks.txlog_checkpoint(spark, log_b, head)
    assert not [
        f for f in os.listdir(log_b)
        if f.endswith(".json") and f.split(".")[0].isdigit()
        and int(f.split(".")[0]) <= head
    ]
    with pytest.raises(tx.TxlogProtocolError, match="append-only"):
        tx.attempt_commit(
            log_b,
            99,
            [{"commit": 99, "action": "remove", "path": "w"}],
        )
    assert (
        spark.read.format("txlog").option("path", log_b).load().count()
        == 30
    )
    #   connector path
    base_c = str(tmp_path / "proto_ckpt_conn")
    log_c = os.path.join(base_c, "_log")
    os.makedirs(log_c)
    nation.write.format("txlog").mode("append").save(log_c)
    tx.set_protocol(log_c, 2, 2, [], ["append_only"])
    tx.checkpoint_log(log_c, 1)
    with pytest.raises(tx.TxlogProtocolError, match="append-only"):
        tx.attempt_commit(
            log_c,
            99,
            [{"commit": 99, "action": "remove", "path": "w"}],
        )

    # (d) unknown READER feature: engine replay gate + scoped travel
    base_d = str(tmp_path / "proto_rfence")
    log_d = os.path.join(base_d, "_log")
    os.makedirs(log_d)
    nation.write.format("txlog").mode("append").save(log_d)
    tx.set_protocol(log_d, 2, 2, ["rf_from_the_future"], [])
    with pytest.raises(tx.TxlogProtocolError, match="reader feature"):
        sinks._txlog_log_rows(spark, log_d)
    with pytest.raises(Exception, match="reader feature"):
        spark.read.format("txlog").option("path", log_d).load().count()
    assert (
        spark.read.format("txlog")
        .option("path", log_d)
        .option("version_as_of", "0")
        .load()
        .count()
        == 25
    )
    # describe stays exempt (Delta: you can always inspect provenance)
    hist = (
        spark.read.format("txlog")
        .option("path", log_d)
        .option("describe", "history")
        .load()
        .collect()
    )
    assert len(hist) == 2
    _shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_txlog_text_bloom_mechanics(spark, tmp_path):
    """Text (4-gram) bloom beyond the registry key: per-epoch folds on
    the STREAM writer, survival through checkpoint compaction, the
    prefix/equality/In filter classes, short-needle no-op, and the
    loud partitioned-write reject."""
    import pytest

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        EqualTo,
        In,
        StringContains,
        StringStartsWith,
    )

    from aind_data_transformation_spark.io import txlog_source as tx

    tx.register(spark)
    base = str(tmp_path / "tbloom")
    log_dir = os.path.join(base, "_log")
    df = spark.createDataFrame(
        [(i, f"row number {i} carries marker_{i % 3}") for i in range(30)],
        "id long, text string",
    )
    (
        df.repartition(4)
        .write.format("txlog")
        .mode("append")
        .option("text_bloom_col", "text")
        .option("text_bloom_bits", str(1 << 16))
        .save(log_dir)
    )
    adds = [r for r in tx._log_rows(log_dir) if r["action"] == "add"]
    assert len(adds) == 4 and all(a.get("tbloom") for a in adds)
    assert all(a["tbloom_bits"] == 1 << 16 for a in adds)

    names = ["id", "text"]

    def planned(filters):
        rd = tx.TxlogBatchReader({"path": log_dir}, names)
        rd.pushFilters(filters)
        return len(rd.partitions())

    # every filter class prunes on an absent needle...
    assert planned([StringContains(("text",), "absent_needle")]) == 0
    assert planned([StringStartsWith(("text",), "absent_needle")]) == 0
    assert planned([EqualTo(("text",), "absent_needle_value")]) == 0
    assert planned(
        [In(("text",), ("absent_one_111", "absent_two_222"))]
    ) == 0
    # ...mixed In (one maybe-present value) keeps files
    assert planned(
        [In(("text",), ("absent_one_111", "row number 7 carries marker_1"))]
    ) > 0
    # short needles prove nothing (kept, exact residual applies)
    assert planned([StringContains(("text",), "xq")]) == 4
    # exactness under pruning, case-insensitive index is superset-only
    table = spark.read.format("txlog").option("path", log_dir).load()
    assert table.where(F.col("text").contains("marker_2")).count() == 10
    assert table.where(F.col("text").contains("MARKER_2")).count() == 0

    # checkpoint survival (connector compaction path)
    head = max(r["commit"] for r in tx._log_rows(log_dir))
    tx.checkpoint_log(log_dir, head)
    assert planned([StringContains(("text",), "absent_needle")]) == 0
    assert table.where(F.col("text").contains("marker_1")).count() == 10

    # stream writer: per-epoch merged fold
    sbase = str(tmp_path / "tbloom_stream")
    slog = os.path.join(sbase, "_log")
    src = str(tmp_path / "src")
    df.coalesce(2).write.parquet(src)
    q = (
        spark.readStream.schema("id long, text string")
        .parquet(src)
        .writeStream.format("txlog")
        .option("path", slog)
        .option("text_bloom_col", "text")
        .option("text_bloom_bits", str(1 << 16))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sadds = [r for r in tx._log_rows(slog) if r["action"] == "add"]
    assert sadds and all(a.get("tbloom") for a in sadds)
    rd = tx.TxlogBatchReader({"path": slog}, names)
    rd.pushFilters([StringContains(("text",), "absent_needle")])
    assert len(rd.partitions()) == 0

    # partitioned write: per-VALUE folds, merged across tasks — each
    # partition's add carries its own substring index, so contains
    # pruning composes with partition pruning from one commit
    plog = os.path.join(str(tmp_path), "tbloom_part", "_log")
    (
        df.withColumn("p", (F.col("id") % 2).cast("string"))
        .repartition(4)
        .write.format("txlog")
        .mode("append")
        .option("text_bloom_col", "text")
        .option("text_bloom_bits", str(1 << 16))
        .option("partition_col", "p")
        .save(plog)
    )
    padds = [r for r in tx._log_rows(plog) if r["action"] == "add"]
    assert sorted(r["part"] for r in padds) == ["0", "1"]
    assert all(r.get("tbloom") for r in padds)
    # marker_1 occurs only in odd ids (1, 4, 7, ... have id%3==1 ->
    # markers mix across partitions; use an id-unique needle instead):
    # "row number 13 " lives ONLY in partition p=1
    pnames = ["id", "text", "p"]
    rdp = tx.TxlogBatchReader({"path": plog}, pnames)
    rdp.pushFilters([StringContains(("text",), "row number 13 ")])
    kept = rdp.partitions()
    assert 1 <= len(kept) < len(
        tx._part_files([r["path"] for r in padds])
    )
    rdp2 = tx.TxlogBatchReader({"path": plog}, pnames)
    rdp2.pushFilters([StringContains(("text",), "absent_needle")])
    assert len(rdp2.partitions()) == 0
    ptable = spark.read.format("txlog").option("path", plog).load()
    assert (
        ptable.where(F.col("text").contains("row number 13 ")).count()
        == 1
    )


def test_crashed_checkpoint_tmp_never_replayed(spark, tmp_path):
    """Regression (r12 review): a compaction that crashed between
    staging and rename leaves ``_checkpoint_NNNNN.tmp``, which sorts
    AFTER the committed checkpoint name — the unfiltered glob replayed
    the partial state (or died parsing its version) on every read of
    the table, both replay twins."""
    from aind_data_transformation_spark.io import txlog_source as tx
    from aind_data_transformation_spark.queries import sinks
    from aind_data_transformation_spark.queries.relational import load_table

    tx.register(spark)
    base = str(tmp_path / "ckpt_tmp")
    log_dir = os.path.join(base, "_log")
    nation = load_table(spark, TEST_SF_DIR, "nation")
    nation.write.format("txlog").mode("append").save(log_dir)
    nation.write.format("txlog").mode("append").save(log_dir)
    tx.checkpoint_log(log_dir, 1)
    # simulate the crashed NEXT compaction: staged dir, never renamed
    crashed = os.path.join(log_dir, "_checkpoint_00099.tmp")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-00000.parquet"), "w") as fh:
        fh.write("partial garbage, not parquet")
    # connector replay, engine replay, and a real read all still serve
    rows = tx._log_rows(log_dir)
    assert max(r["commit"] for r in rows) == 1
    assert len(sinks._txlog_log_rows(spark, log_dir)) == len(rows)
    assert (
        spark.read.format("txlog").option("path", log_dir).load().count()
        == 50
    )


def test_stream_reader_protocol_gate(spark, tmp_path):
    """The txlog STREAM source refuses a table fenced by an unknown
    reader feature — the micro-batch fails loudly instead of silently
    misreading the upgraded table."""
    import pytest

    from aind_data_transformation_spark.io import txlog_source as tx
    from aind_data_transformation_spark.queries.relational import load_table

    tx.register(spark)
    log_dir = os.path.join(str(tmp_path), "fenced_stream", "_log")
    nation = load_table(spark, TEST_SF_DIR, "nation")
    nation.write.format("txlog").mode("append").save(log_dir)
    tx.set_protocol(log_dir, 2, 2, ["rf_future_stream"], [])
    q = (
        spark.readStream.format("txlog")
        .option("path", log_dir)
        .load()
        .writeStream.format("memory")
        .queryName("fenced_stream_q")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="reader feature"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise Exception(str(q.exception()))


def test_txlog_snapshot_ddl_equals_spark_inference(spark):
    """The one snapshot-schema rule (`_snapshot_ddl`, which the engine's
    snapshot reads use instead of Spark's footer inference) must give
    exactly the schema Spark infers from the same live files, for every
    fixture table the engine builds. The evolved table's log DDL is
    compared with Spark's merged-schema inference (its old files lack
    the added column); the rowgroup and manifest fixtures carry no log,
    so their files are replayed as one add commit."""
    import json

    fixtures = {
        "plain": sinks._build_txlog_table(spark, TEST_SF_DIR, "ddl_plain"),
        "with_delete": sinks._build_txlog_table_with_delete(
            spark, TEST_SF_DIR, "ddl_delete"
        ),
        "evolved": sinks._build_txlog_evo_table(spark, TEST_SF_DIR, "ddl_evo"),
        "stats": sinks._build_txlog_stats_table(
            spark, TEST_SF_DIR, "ddl_stats"
        )[0],
        "zorder": sinks._build_txlog_zorder_table(
            spark, TEST_SF_DIR, "ddl_z2"
        )[0],
        "part": sinks._build_txlog_part_table(spark, TEST_SF_DIR, "ddl_part")[
            0
        ],
    }
    cases = [
        (name, sinks._txlog_log_rows(spark, d), as_of)
        for name, d in fixtures.items()
        for as_of in (None, 0)
    ]
    rg_dir, _, _ = sinks._build_rowgroup_table(spark, TEST_SF_DIR, "ddl_rg")
    meta_dir, _, _ = sinks._build_manifest_table(spark, TEST_SF_DIR, "ddl_mf")
    manifest_files = []
    for f in sorted(glob.glob(os.path.join(meta_dir, "manifest-0*.json"))):
        with open(f) as fh:
            manifest_files += [json.loads(ln)["path"] for ln in fh]
    for name, paths in (
        ("rowgroup", sorted(glob.glob(os.path.join(rg_dir, "*.parquet")))),
        ("manifest", manifest_files),
    ):
        assert paths, name
        rows = [{"commit": 0, "action": "add", "path": p} for p in paths]
        cases.append((name, rows, None))
    for name, rows, as_of in cases:
        live = tx._live_files(rows, as_of)
        reader = spark.read
        if name == "evolved":
            reader = reader.option("mergeSchema", "true")
        want = reader.parquet(*live).schema
        got = spark.read.schema(tx._snapshot_ddl(rows, as_of)).parquet(
            *live
        ).schema
        assert got == want, (name, as_of, got, want)
