"""Round-12 regression tests: the four ADVICE defects in the txlog
connector (quote-aware DDL round-trip, LRU pushed-set registry,
orphaned-dir cleanup on rejected commits, memoized bloom decode) plus
their guard rails. End-to-end through ``df.write.format("txlog")``
where the defect was end-to-end; unit-level where the state is
planning-worker-internal."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR

from aind_data_transformation_spark.io import txlog_source
from aind_data_transformation_spark.queries import sinks
from aind_data_transformation_spark.queries.relational import load_table


def test_parse_ddl_is_backtick_quote_aware():
    """A quoted name may contain commas, parens, and spaces — the
    comma/paren bookkeeping must be suspended inside backticks
    (ADVICE r11 medium: a committed `a,b` column made every
    subsequent read raise in _parse_ddl)."""
    ddl = "`a,b` bigint, `c(d` string, `e f` double, g decimal(10,2)"
    assert txlog_source._parse_ddl(ddl) == [
        ("a,b", "bigint"),
        ("c(d", "string"),
        ("e f", "double"),
        ("g", "decimal(10,2)"),
    ]
    # unbalanced quoting is a loud error, not a silent mis-split
    with pytest.raises(ValueError, match="unbalanced backtick"):
        txlog_source._parse_ddl("`a,b bigint")
    # round-trip helper proves render(parse(x)) == x for these names
    cols = [("a,b", "bigint"), ("c(d", "string")]
    assert txlog_source._roundtrip_ddl(cols, "t") == "`a,b` bigint, `c(d` string"


def test_merge_schema_comma_name_table_stays_readable(spark, tmp_path):
    """End-to-end for the ADVICE medium: evolving a column literally
    named ``a,b`` (legal in Spark) must leave the table READABLE —
    the write committing and every later read crashing was the
    defect. The evolved schema is served by the connector and the
    new column's rows come back exact."""
    base = str(tmp_path / "txlog_r12_comma_name")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders")
    k = F.col("o_orderkey")
    orders.where(k % 2 == 0).select("o_orderkey", "o_totalprice").write.format(
        "txlog"
    ).mode("append").save(log_dir)
    (
        orders.where(k % 2 == 1)
        .select(
            "o_orderkey",
            (k % 7).cast("int").alias("a,b"),
            (k % 3).alias("c(d)"),
        )
        .write.format("txlog")
        .mode("append")
        .option("merge_schema", "true")
        .save(log_dir)
    )
    snap = spark.read.format("txlog").option("path", log_dir).load()
    assert set(snap.columns) == {"o_orderkey", "o_totalprice", "a,b", "c(d)"}
    n_odd = orders.where(k % 2 == 1).count()
    got = snap.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.col("`a,b`")).alias("n_ab"),
        F.sum(F.col("`a,b`")).alias("s_ab"),
        F.sum(F.col("`c(d)`")).alias("s_cd"),
    ).collect()[0]
    want_ab = (
        orders.where(k % 2 == 1).agg(F.sum((k % 7).cast("int"))).collect()[0][0]
    )
    want_cd = orders.where(k % 2 == 1).agg(F.sum(k % 3)).collect()[0][0]
    assert got["n"] == orders.count()
    assert got["n_ab"] == n_odd
    assert got["s_ab"] == want_ab
    assert got["s_cd"] == want_cd
    # backticks remain the one unrepresentable character — still loud
    with pytest.raises(Exception, match="backtick"):
        (
            orders.limit(5)
            .select("o_orderkey", F.lit(1).alias("bad`name"))
            .write.format("txlog")
            .mode("append")
            .option("merge_schema", "true")
            .save(log_dir)
        )


def test_pushed_sets_registry_is_lru(monkeypatch):
    """ADVICE r11 low: at capacity the eviction victim must be the
    LEAST recently planned relation — FIFO evicted the oldest ever
    inserted, i.e. exactly the long-lived actively-branched relation
    the shared-readInfo defense exists for."""
    from pyspark.sql.datasource import EqualTo

    monkeypatch.setattr(txlog_source, "_PUSHED_SETS_MAX", 2)
    monkeypatch.setattr(txlog_source, "_PUSHED_SETS", {})
    reg = txlog_source._PUSHED_SETS

    def push(rel, val):
        r = txlog_source.TxlogBatchReader(
            {"path": "/nonexistent"}, ["k"], relation_id=rel
        )
        r.pushFilters([EqualTo(("k",), val)])
        return r

    push("relA", 1)
    push("relB", 2)
    assert list(reg) == ["relA", "relB"]
    # a fresh planning of relA refreshes its recency (pop+reinsert)
    push("relA", 3)
    assert list(reg) == ["relB", "relA"]
    # capacity eviction now removes relB (least recent), NOT relA
    push("relC", 4)
    assert "relA" in reg and "relB" not in reg and "relC" in reg
    # and relA's running intersection survived the refresh
    assert reg["relA"][0] == 2


def test_rejected_commit_leaves_no_orphan_dir(spark, tmp_path):
    """ADVICE r11 low: commit-time schema rejection happens after the
    task files were renamed into the final ds-write-* dir; abort only
    knows the (renamed-away) tmp paths, so each rejected write leaked
    an orphaned data dir. The commit wrapper must rmtree the
    unreferenced dir on ANY pre-commit failure."""
    base = str(tmp_path / "txlog_r12_orphan")
    log_dir = os.path.join(base, "_log")
    data_root = os.path.join(base, "data")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders")
    orders.select("o_orderkey", "o_totalprice").write.format("txlog").mode(
        "append"
    ).save(log_dir)
    before = set(glob.glob(os.path.join(data_root, "ds-write-*")))
    assert len(before) == 1
    # schema-mismatched append (no merge) → rejected at commit time
    with pytest.raises(Exception, match="schema mismatch"):
        orders.select("o_orderkey", "o_orderstatus").write.format(
            "txlog"
        ).mode("append").save(log_dir)
    after = set(glob.glob(os.path.join(data_root, "ds-write-*")))
    assert after == before, "rejected write leaked an orphaned data dir"
    assert glob.glob(os.path.join(data_root, "_ds_tmp", "*")) == []
    # the table is untouched and still exact
    n = (
        spark.read.format("txlog").option("path", log_dir).load().count()
    )
    assert n == orders.count()


def test_checkpoint_failure_never_deletes_committed_data(
    spark, monkeypatch, tmp_path
):
    """Guard on the orphan-cleanup fix: the auto-checkpoint runs AFTER
    a successful commit, so a checkpoint failure must propagate
    WITHOUT the cleanup path deleting the (now log-referenced) data
    dir. Driven in-process (a real write's commit runs in a Python
    worker the monkeypatch cannot reach): stage one file, commit via
    the writer object directly with checkpoint_log exploding."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    base = str(tmp_path / "txlog_r12_ckpt_fail")
    log_dir = os.path.join(base, "_log")
    data_root = os.path.join(base, "data")
    os.makedirs(os.path.join(data_root, "_ds_tmp"))
    tmp = os.path.join(data_root, "_ds_tmp", "stage-x.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64())}), tmp)
    schema = StructType.fromDDL("k bigint")
    w = txlog_source.TxlogBatchWriter(
        {"path": log_dir, "checkpoint_interval": "1"}, schema, False
    )
    msg = txlog_source._TxlogWriteCommit(tmp, 3)

    def boom(*a, **kw):
        raise RuntimeError("checkpoint exploded")

    monkeypatch.setattr(txlog_source, "checkpoint_log", boom)
    os.makedirs(log_dir, exist_ok=True)
    with pytest.raises(RuntimeError, match="checkpoint exploded"):
        w.commit([msg])
    monkeypatch.undo()
    # the commit itself landed and its data survived the failure
    live = txlog_source._live_files(txlog_source._log_rows(log_dir))
    assert len(live) == 1 and os.path.isdir(live[0])
    assert txlog_source._part_files(live), "published part files survive"


def test_bloom_decode_memoized_and_vectorized():
    """ADVICE r11 low: probing an In(k values) filter over N files
    decompressed the same filter k*N times. _bloom_decode is now an
    lru_cache; _bloom_any_contains probes all values against ONE
    decoded array with identical semantics to the per-value probe."""
    import numpy as np

    bits_n = 1 << 12
    arr = np.zeros(bits_n >> 3, dtype=np.uint8)
    present = np.array([5, 1 << 40, -3, 0, 999983], dtype=np.int64)
    for pos in txlog_source._bloom_hashes(present, bits_n):
        np.bitwise_or.at(
            arr, pos >> 3,
            np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)),
        )
    add = {
        "bloom": txlog_source._bloom_encode(arr),
        "bloom_bits": bits_n,
        "bloom_col": "k",
    }
    txlog_source._bloom_decode.cache_clear()
    # present values can never be reported absent
    for v in present.tolist():
        assert txlog_source._bloom_maybe_contains(add, v)
    # a sparse filter proves absence for (almost all) other values;
    # pick ones verified absent by direct bit probing
    absent = [
        v
        for v in range(100, 3000)
        if not txlog_source._bloom_maybe_contains(add, v)
    ]
    assert len(absent) > 2000, "filter should prove most absences"
    assert not txlog_source._bloom_any_contains(add, absent)
    assert txlog_source._bloom_any_contains(add, absent + [5])
    info = txlog_source._bloom_decode.cache_info()
    assert info.misses == 1 and info.hits >= len(present)


def test_stage_partitioned_bounds_open_writers(monkeypatch, tmp_path):
    """VERDICT r11 item 1: one open ParquetWriter per distinct
    partition value per task exhausts fds on high-cardinality
    partition columns. The staging path must never hold more than
    ``max_open`` writers open at once — evicted values reopen FRESH
    temp files on revisit (the publish step already groups several
    files per value), and per-value counts/stats/blooms stay exact
    across evictions."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    gauge = {"cur": 0, "max": 0}
    real_writer = pq.ParquetWriter

    class CountingWriter(real_writer):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self._counted_open = True
            gauge["cur"] += 1
            gauge["max"] = max(gauge["max"], gauge["cur"])

        def close(self):
            if getattr(self, "_counted_open", False):
                self._counted_open = False
                gauge["cur"] -= 1
            super().close()

    monkeypatch.setattr(pq, "ParquetWriter", CountingWriter)
    base = str(tmp_path / "txlog_r12_fd_cap")
    data_root = os.path.join(base, "data")
    os.makedirs(data_root)
    n_vals = 200

    def batches():
        # two passes over all values → every value is evicted between
        # passes (cap 8 << 200) and must reopen a second temp file
        for _ in range(2):
            for start in range(0, n_vals, 20):
                vals = list(range(start, start + 20))
                yield pa.record_batch(
                    {
                        "part": pa.array(
                            [f"v{v:03d}" for v in vals for _ in (0, 1)]
                        ),
                        "k": pa.array(
                            [v * 10 + i for v in vals for i in (0, 1)],
                            pa.int64(),
                        ),
                    }
                )

    msg = txlog_source._stage_partitioned(
        data_root, batches(), "part", stats_cols=["k"],
        bloom_col="k", bloom_bits=1 << 12, max_open=8,
    )
    assert gauge["max"] <= 8, f"held {gauge['max']} writers open"
    assert gauge["cur"] == 0, "writers left open after staging"
    by_val: dict = {}
    for tmp, v, rows, stats, bloom, _tbloom in msg.parts:
        by_val.setdefault(v, []).append((tmp, rows, stats, bloom))
    assert len(by_val) == n_vals
    for v, entries in by_val.items():
        i = int(v[1:])
        assert len(entries) == 2, f"{v}: expected 2 temp files (eviction)"
        # per-value stats/bloom ride the first tuple, folded over BOTH
        # files' rows (two passes × two rows each)
        stats = [e[2] for e in entries if e[2] is not None]
        assert stats == [{"k": [i * 10, i * 10 + 1, 0]}]
        # per-value ROWS also ride the first tuple only (the commit's
        # add records them; duplicates would double-count)
        assert sorted(e[1] for e in entries) == [0, 4]
        blooms = [e[3] for e in entries if e[3] is not None]
        assert len(blooms) == 1
        add = {"bloom": blooms[0], "bloom_bits": 1 << 12, "bloom_col": "k"}
        assert txlog_source._bloom_maybe_contains(add, i * 10)
        assert txlog_source._bloom_maybe_contains(add, i * 10 + 1)
    assert msg.n_rows == n_vals * 4


def test_partitioned_write_high_cardinality_end_to_end(spark, tmp_path):
    """End-to-end fd-cap stress: ONE task writes 150 distinct
    partition values with max_open_files=8 — the exact shape that
    previously risked fd exhaustion. The table must read back exact
    (per-partition counts and key sums), one add per value, and
    partition pruning must still plan from pure log metadata."""
    from pyspark.sql.datasource import EqualTo

    base = str(tmp_path / "txlog_r12_highcard")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey",
        F.lpad((F.col("o_orderkey") % 150).cast("string"), 3, "0").alias(
            "bucket"
        ),
    )
    (
        orders.coalesce(1)
        .write.format("txlog")
        .mode("append")
        .option("partition_col", "bucket")
        .option("max_open_files", "8")
        .option("stats_col", "o_orderkey")
        .save(log_dir)
    )
    rows = txlog_source._log_rows(log_dir)
    adds = [r for r in rows if r["action"] == "add"]
    n_vals = orders.select("bucket").distinct().count()
    assert len(adds) == n_vals
    snap = spark.read.format("txlog").option("path", log_dir).load()
    got = {
        r["bucket"]: (r["n"], r["s"])
        for r in snap.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("s"))
        .collect()
    }
    want = {
        r["bucket"]: (r["n"], r["s"])
        for r in orders.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("s"))
        .collect()
    }
    assert got == want
    # per-partition stats recorded exactly despite writer eviction
    mm = {
        r["bucket"]: (r["mn"], r["mx"])
        for r in orders.groupBy("bucket")
        .agg(F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx"))
        .collect()
    }
    for a in adds:
        assert (a["min_key"], a["max_key"]) == mm[a["part"]]
    # partition pruning still plans on log metadata alone
    r = txlog_source.TxlogBatchReader(
        {"path": log_dir}, ["o_orderkey", "bucket"]
    )
    n_all = len(r.partitions())
    r.pushFilters([EqualTo(("bucket",), "007")])
    assert len(r.partitions()) < n_all


def test_stats_json_string_and_timestamp_pruning(spark, tmp_path):
    """The generalized stats tier beyond the date/multi oracle keys:
    STRING bounds prune equality probes outside a file's range;
    TIMESTAMP bounds prune range probes; and the legacy single-int
    vocabulary is untouched (min_key/max_key, no stats_json)."""
    import datetime

    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    base = str(tmp_path / "txlog_r12_stats_str")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    (
        orders.repartitionByRange(4, "o_orderpriority")
        .write.format("txlog")
        .mode("append")
        .option("stats_col", "o_orderpriority,o_orderdate")
        .save(log_dir)
    )
    cols = ["o_orderkey", "o_orderpriority", "o_orderdate"]
    r = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
    n_all = len(r.partitions())
    assert n_all >= 3
    # string equality on the lexicographically-last priority prunes
    # every file whose recorded [min,max] excludes it
    r1 = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
    r1.pushFilters([EqualTo(("o_orderpriority",), "5-LOW")])
    assert 0 < len(r1.partitions()) < n_all
    # timestamp range probe prunes too (o_orderdate is timestamp[us])
    hi = datetime.datetime(1997, 1, 1)
    r2 = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
    r2.pushFilters([GreaterThanOrEqual(("o_orderdate",), hi)])
    assert len(r2.partitions()) == n_all, (
        "priority-ranged files all span the full date range — a date "
        "probe must not prune (proves column attribution is per-column)"
    )
    # every value still served exactly (superset guarantee end-to-end)
    snap = spark.read.format("txlog").option("path", log_dir).load()
    got = snap.where(F.col("o_orderpriority") == "5-LOW").count()
    assert got == orders.where(F.col("o_orderpriority") == "5-LOW").count()
    # legacy single-int vocabulary untouched
    base2 = str(tmp_path / "txlog_r12_stats_legacy")
    log2 = os.path.join(base2, "_log")
    orders.select("o_orderkey").write.format("txlog").mode("append").option(
        "stats_col", "o_orderkey"
    ).save(log2)
    adds = [
        r for r in txlog_source._log_rows(log2) if r["action"] == "add"
    ]
    assert all(
        a.get("min_key") is not None
        and a.get("stats_col") == "o_orderkey"
        and a.get("stats_json") is None
        for a in adds
    )


def test_stats_json_survives_both_checkpoint_paths(spark, tmp_path):
    """VERDICT item 2's checkpoint-survival clause: typed-JSON bounds
    must ride the ONE unified checkpoint action schema through BOTH
    compaction paths — the connector's stdlib `checkpoint_log` and
    the engine's `txlog_checkpoint` — so a compacted table keeps
    pruning and keeps serving exact rows."""
    import datetime

    from pyspark.sql.datasource import GreaterThanOrEqual

    for label, compact in (
        (
            "connector",
            lambda log_dir, v: txlog_source.checkpoint_log(log_dir, v),
        ),
        (
            "engine",
            lambda log_dir, v: sinks.txlog_checkpoint(spark, log_dir, v),
        ),
    ):
        base = str(tmp_path / f"txlog_r12_sjckpt_{label}")
        log_dir = os.path.join(base, "_log")
        txlog_source.register(spark)
        orders = load_table(spark, TEST_SF_DIR, "orders").select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("d"),
        )
        (
            orders.repartitionByRange(4, "d")
            .write.format("txlog")
            .mode("append")
            .option("stats_col", "d")
            .save(log_dir)
        )
        before = (
            spark.read.format("txlog")
            .option("path", log_dir)
            .load()
            .groupBy("d")
            .count()
            .collect()
        )
        compact(log_dir, 0)
        assert glob.glob(os.path.join(log_dir, "_checkpoint_*")), label
        assert not glob.glob(os.path.join(log_dir, "0*.json")), label
        rows = txlog_source._log_rows(log_dir)
        adds = [r for r in rows if r["action"] == "add"]
        assert adds and all(r.get("stats_json") for r in adds), label
        # pruning still plans from the CHECKPOINTED metadata
        cols = ["o_orderkey", "d"]
        r = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
        n_all = len(r.partitions())
        r2 = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
        r2.pushFilters(
            [GreaterThanOrEqual(("d",), datetime.date(1998, 1, 1))]
        )
        n_pruned = len(r2.partitions())
        assert n_pruned < n_all, f"{label}: no pruning after checkpoint"
        after = (
            spark.read.format("txlog")
            .option("path", log_dir)
            .load()
            .groupBy("d")
            .count()
            .collect()
        )
        assert sorted(map(tuple, before)) == sorted(map(tuple, after)), label


def test_rowgroup_split_partitions_and_exact_rows(spark, tmp_path):
    """VERDICT r11 item 3: the connector planned ONE input partition
    per data file, so a few-huge-files table under-parallelized at
    scale. Oversize files (past ``rowgroup_split_bytes``) now split
    into row-group packs: a 1-file/10-row-group table must plan ~10
    partitions, serve IDENTICAL rows to the unsplit read, and compose
    with deletion vectors and schema evolution (both are value-level
    mechanics, indifferent to the split boundary)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = str(tmp_path / "txlog_r12_rgsplit")
    log_dir = os.path.join(base, "_log")
    data_dir = os.path.join(base, "data", "batch-0")
    os.makedirs(log_dir)
    os.makedirs(data_dir)
    n = 1000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "v": pa.array([i * 3 for i in range(n)], pa.int64()),
        }
    )
    pq.write_table(
        tbl, os.path.join(data_dir, "part-00000.parquet"),
        row_group_size=100,
    )
    with open(os.path.join(log_dir, "00000.json"), "w") as fh:
        fh.write(
            json.dumps({"commit": 0, "action": "add", "path": data_dir})
            + "\n"
        )
    txlog_source.register(spark)
    cols = ["k", "v"]
    # split plan: ~10 partitions for the 10-row-group file
    r = txlog_source.TxlogBatchReader(
        {"path": log_dir, "rowgroup_split_bytes": "1"}, cols
    )
    n_split = len(r.partitions())
    assert 5 <= n_split <= 10, f"expected ~10 split partitions, {n_split}"
    r0 = txlog_source.TxlogBatchReader(
        {"path": log_dir, "rowgroup_split_bytes": "0"}, cols
    )
    assert len(r0.partitions()) == 1
    # identical rows either way, through real Spark reads
    split = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .option("rowgroup_split_bytes", "1")
        .load()
    )
    whole = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .option("rowgroup_split_bytes", "0")
        .load()
    )
    assert split.rdd.getNumPartitions() == n_split
    assert sorted(map(tuple, split.collect())) == sorted(
        map(tuple, whole.collect())
    )
    # compose with a DV delete: tombstoned keys stay gone under split
    dv_dir = os.path.join(base, "data", "dv-0")
    os.makedirs(dv_dir)
    dead = [5, 250, 999]
    pq.write_table(
        pa.table(
            {
                "target": pa.array([data_dir] * len(dead)),
                "key": pa.array(dead, pa.int64()),
            }
        ),
        os.path.join(dv_dir, "part-00000.parquet"),
    )
    with open(os.path.join(log_dir, "00001.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "commit": 1,
                    "action": "dv",
                    "path": os.path.join(dv_dir, "part-00000.parquet"),
                    "target": data_dir,
                }
            )
            + "\n"
        )
    got = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .option("rowgroup_split_bytes", "1")
        .option("dv_key", "k")
        .load()
    )
    assert got.count() == n - len(dead)
    assert got.where(F.col("k").isin(dead)).count() == 0
    # compose with additive evolution: old row groups null-fill
    with open(os.path.join(log_dir, "00002.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "commit": 2,
                    "action": "metaData",
                    "schema": "`k` bigint, `v` bigint, `w` double",
                }
            )
            + "\n"
        )
    evolved = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .option("rowgroup_split_bytes", "1")
        .option("dv_key", "k")
        .load()
    )
    assert evolved.columns == ["k", "v", "w"]
    row = evolved.agg(
        F.count(F.lit(1)).alias("n"), F.count("w").alias("nw")
    ).collect()[0]
    assert (row["n"], row["nw"]) == (n - len(dead), 0)


def test_adds_record_bytes_and_stream_paces_by_bytes(spark, tmp_path):
    """VERDICT r11 item 4: add actions now record on-disk bytes
    (Delta's add.size) and the stream source takes
    ``max_bytes_per_trigger`` — commit-size skew no longer makes the
    commit-count cap the only pacing lever. Steady state: after the
    catch-up batch, a budget of ~1.5 commits drains two
    simultaneously-landed commits as TWO batches; an engine-side add
    without recorded bytes is statted and memoized (fallback path
    exercised by the fixture's hand-built commits)."""
    import time

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_r12_bytes")
    data_dir = os.path.join(os.path.dirname(log_dir), "data")
    txlog_source.register(spark)
    # connector writes stamp bytes on their adds
    wbase = str(tmp_path / "txlog_r12_bytes_w")
    wlog = os.path.join(wbase, "_log")
    load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey"
    ).write.format("txlog").mode("append").save(wlog)
    adds = [
        r for r in txlog_source._log_rows(wlog) if r["action"] == "add"
    ]
    assert adds and all(
        a.get("bytes") == txlog_source._dir_bytes(a["path"]) > 0
        for a in adds
    )
    # byte budget: one fixture commit fits, two do not
    b1 = os.path.join(data_dir, "batch-1")
    budget = int(txlog_source._dir_bytes(b1) * 1.5)
    seen = []

    def collect_batch(df, batch_id):
        seen.append((batch_id, df.count()))

    q = (
        spark.readStream.format("txlog")
        .option("path", log_dir)
        .option("max_bytes_per_trigger", str(budget))
        .load()
        .writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and not seen:
            time.sleep(0.5)
        assert seen and seen[0][1] == 1125, seen  # catch-up batch
        b4 = os.path.join(data_dir, "batch-4x")
        shutil.copytree(b1, b4)
        assert txlog_source.attempt_commit(
            log_dir, 3, [{"commit": 3, "action": "add", "path": b1}]
        )
        assert txlog_source.attempt_commit(
            log_dir, 4, [{"commit": 4, "action": "add", "path": b4}]
        )
        while time.monotonic() < deadline and sum(n for _, n in seen) < 1875:
            time.sleep(0.5)
    finally:
        q.stop()
    tail = [n for _, n in seen[1:] if n > 0]
    # one ~budget batch per commit — a single 750-row batch means the
    # byte cap admitted both commits at once
    assert tail == [375, 375], seen


def test_bloom_pruning_is_snapshot_scoped_under_time_travel(spark, tmp_path):
    """VERDICT r11 item 6: a versionAsOf read must prune from the
    winning add action AT THE TRAVEL POINT only — a bloom committed
    after the travel point (e.g. a later stats/bloom re-commit of the
    same path) must not prune a historical read, and symmetrically a
    bloom in force at the travel point keeps pruning there even after
    a later commit dropped it. Built on a hand-written log so the two
    adds can disagree about the same path."""
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.datasource import EqualTo

    base = str(tmp_path / "txlog_r12_bloom_travel")
    log_dir = os.path.join(base, "_log")
    data_dir = os.path.join(base, "data", "batch-0")
    os.makedirs(log_dir)
    os.makedirs(data_dir)
    pq.write_table(
        pa.table({"k": pa.array(range(100), pa.int64())}),
        os.path.join(data_dir, "part-00000.parquet"),
    )
    bits_n = 1 << 12
    arr = np.zeros(bits_n >> 3, dtype=np.uint8)
    vals = np.arange(1000, 1100, dtype=np.int64)  # does NOT contain 50
    for pos in txlog_source._bloom_hashes(vals, bits_n):
        np.bitwise_or.at(
            arr, pos >> 3,
            np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)),
        )
    bloom = txlog_source._bloom_encode(arr)
    acts = [
        {"commit": 0, "action": "commitInfo", "op": "WRITE", "ts": 1},
        {"commit": 0, "action": "add", "path": data_dir},
        {"commit": 1, "action": "commitInfo", "op": "STATS", "ts": 2},
        # a metadata re-commit is a plain re-add: last action per path
        # wins ACROSS commits (remove would beat add WITHIN one)
        {
            "commit": 1,
            "action": "add",
            "path": data_dir,
            "bloom": bloom,
            "bloom_col": "k",
            "bloom_bits": bits_n,
        },
    ]
    for v in (0, 1):
        with open(os.path.join(log_dir, f"{v:05d}.json"), "w") as fh:
            for a in acts:
                if a["commit"] == v:
                    fh.write(json.dumps(a) + "\n")
    txlog_source.register(spark)
    probe = EqualTo(("k",), 50)
    # head: commit 1's bloom is the winning add — it prunes
    r_head = txlog_source.TxlogBatchReader({"path": log_dir}, ["k"])
    r_head.pushFilters([probe])
    assert len(r_head.partitions()) == 0
    # as-of 0: the travel point's winning add carries NO bloom — a
    # post-travel bloom must not prune the historical read
    r_v0 = txlog_source.TxlogBatchReader(
        {"path": log_dir, "version_as_of": "0"}, ["k"]
    )
    r_v0.pushFilters([probe])
    assert len(r_v0.partitions()) == 1
    # and the historical row actually comes back end to end
    got = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .option("version_as_of", "0")
        .load()
        .where("k = 50")
        .collect()
    )
    assert [tuple(r) for r in got] == [(50,)]
    # symmetric: commit 2 re-adds WITHOUT the bloom — head stops
    # pruning, but as-of 1 still prunes from ITS winning add
    with open(os.path.join(log_dir, "00002.json"), "w") as fh:
        for a in (
            {"commit": 2, "action": "commitInfo", "op": "RESET", "ts": 3},
            {"commit": 2, "action": "add", "path": data_dir},
        ):
            fh.write(json.dumps(a) + "\n")
    r_head2 = txlog_source.TxlogBatchReader({"path": log_dir}, ["k"])
    r_head2.pushFilters([probe])
    assert len(r_head2.partitions()) == 1
    r_v1 = txlog_source.TxlogBatchReader(
        {"path": log_dir, "version_as_of": "1"}, ["k"]
    )
    r_v1.pushFilters([probe])
    assert len(r_v1.partitions()) == 0


def test_describe_surfaces_match_engine_and_inventory(spark):
    """VERDICT r11 item 8: the connector's describe surfaces.
    ``describe=history`` must equal the engine's history computation
    row-for-row on the same table; ``describe=files`` serves the live
    inventory (winning add per path, partition value, bytes); unknown
    surfaces and write/stream attempts fail loudly."""
    log_dir = sinks._build_txlog_table_with_delete(
        spark, TEST_SF_DIR, "txlog_r12_describe"
    )
    txlog_source.register(spark)
    hist = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .option("describe", "history")
        .load()
    )
    assert hist.columns == [
        "version", "ts", "op", "n_adds", "n_removes", "rows_added",
    ]
    got = sorted(map(tuple, hist.collect()))
    # engine-side recomputation on the SAME table (the registered key
    # uses its own fixture copy; here we pin the exact same log)
    rows = sinks._txlog_log_rows(spark, log_dir)
    adds = [(r["commit"], r["path"]) for r in rows if r["action"] == "add"]
    removes = [r["commit"] for r in rows if r["action"] == "remove"]
    cis = sorted(
        (r["commit"], r["ts"], r["op"])
        for r in rows
        if r["action"] == "commitInfo"
    )
    import pyarrow.parquet as pq

    def n_rows(d):
        return sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in txlog_source._part_files([d])
        )

    want = sorted(
        (
            v,
            ts,
            op,
            sum(1 for c, _ in adds if c == v),
            sum(1 for c in removes if c == v),
            sum(n_rows(p) for c, p in adds if c == v),
        )
        for v, ts, op in cis
    )
    assert got == want
    # files inventory: winning add per live path with bytes
    inv = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .option("describe", "files")
        .load()
        .collect()
    )
    live = txlog_source._live_files(
        txlog_source._log_rows(log_dir)
    )
    assert sorted(r["path"] for r in inv) == live
    for r in inv:
        assert r["bytes"] == txlog_source._dir_bytes(r["path"]) > 0
        assert r["n_files"] >= 1
    # loud failures: unknown surface, write, stream
    with pytest.raises(Exception, match="unknown describe"):
        spark.read.format("txlog").option("path", log_dir).option(
            "describe", "nope"
        ).load().collect()
    with pytest.raises(Exception, match="read-only"):
        spark.range(3).write.format("txlog").mode("append").option(
            "describe", "history"
        ).save(log_dir)


def test_nullcount_and_prefix_pruning(spark, tmp_path):
    """Delta-parity data skipping, r12 second pass: stats_json records
    per-column NULL COUNTS (nullCount) and adds record ROW counts, so
    IS NULL / IS NOT NULL prune all-valued / all-null files; string
    bounds additionally prove StringStartsWith windows
    ([p, p[:-1]+succ(p[-1]))). Superset guarantee end-to-end: row
    results stay exact under every probe."""
    from pyspark.sql.datasource import (
        IsNotNull,
        IsNull,
        StringStartsWith,
    )

    base = str(tmp_path / "txlog_r12_nullprefix")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    df = spark.range(300).select(
        F.col("id").alias("grp"),
        F.when(F.col("id") < 100, F.lit(None))
        .when(
            (F.col("id") >= 200) & (F.col("id") % 2 == 0), F.lit(None)
        )
        .otherwise(F.col("id"))
        .cast("long")
        .alias("x"),
        F.format_string("pre%03d", F.col("id")).alias("name"),
    )
    (
        df.repartitionByRange(3, "grp")
        .write.format("txlog")
        .mode("append")
        .option("stats_col", "x, name, grp")
        .save(log_dir)
    )
    import json as _json

    adds = [
        r for r in txlog_source._log_rows(log_dir) if r["action"] == "add"
    ]
    assert len(adds) == 3
    for a in adds:
        b = _json.loads(a["stats_json"])
        assert set(b) == {"x", "name", "grp"} and a["rows"] == 100
        assert "nulls" in b["x"]
    # one file is all-null in x (nulls == rows, and NO bounds), one is
    # fully valued (nulls == 0)
    nullish = sorted(
        _json.loads(a["stats_json"])["x"].get("nulls") for a in adds
    )
    assert nullish == [0, 50, 100]
    allnull = [
        a
        for a in adds
        if _json.loads(a["stats_json"])["x"]["nulls"] == 100
    ]
    assert "min" not in _json.loads(allnull[0]["stats_json"])["x"]
    cols = ["grp", "x", "name"]

    def n_parts(*filters):
        r = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
        r.pushFilters(list(filters))
        return len(r.partitions())

    assert n_parts() == 3
    assert n_parts(IsNull(("x",))) == 2  # the no-null file pruned
    assert n_parts(IsNotNull(("x",))) == 2  # the all-null file pruned
    # prefix proofs against the string bounds
    assert n_parts(StringStartsWith(("name",), "pre2")) == 1
    assert n_parts(StringStartsWith(("name",), "pre")) == 3
    assert n_parts(StringStartsWith(("name",), "zzz")) == 0
    # rows stay exact end to end under each probe (residual re-apply)
    snap = spark.read.format("txlog").option("path", log_dir).load()
    assert snap.where("x IS NULL").count() == 150
    assert snap.where("x IS NOT NULL").count() == 150
    assert snap.where("name LIKE 'pre2%'").count() == 100
