"""Structured Streaming jobs vs their batch twins (SURVEY.md §5.2.3).

Each stream is drained with Trigger.AvailableNow into a memory sink and the
result is compared row-for-row against the batch twin from
queries/streaming_batch.py — the streaming analog of the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR, canon_frame

from aind_data_transformation_spark.queries import streaming_batch as sb
from aind_data_transformation_spark.streaming import jobs


def _stream_vs_batch(spark, stream_fn, batch_fn, mode):
    events = jobs.read_events_stream(spark, TEST_SF_DIR)
    rows = jobs.run_available_now(stream_fn(events), mode=mode)
    got = canon_frame(_rows_to_pdf(rows))
    want = canon_frame(batch_fn(spark, TEST_SF_DIR).toPandas())
    assert got == want


def _rows_to_pdf(rows):
    import pandas as pd

    return pd.DataFrame([r.asDict() for r in rows])


def test_stream_tumbling_matches_batch(spark):
    _stream_vs_batch(spark, jobs.tumbling_counts, sb.q_stream_tumbling, "complete")


def test_stream_sliding_matches_batch(spark):
    _stream_vs_batch(spark, jobs.sliding_counts, sb.q_stream_sliding, "complete")


def test_stream_session_matches_batch(spark):
    _stream_vs_batch(spark, jobs.session_rollup, sb.q_stream_session, "complete")


def test_stream_static_join_matches_batch(spark):
    from aind_data_transformation_spark.io.sources import load_table

    nation = load_table(spark, TEST_SF_DIR, "nation")
    _stream_vs_batch(
        spark,
        lambda ev: jobs.nation_enriched_counts(ev, nation),
        sb.q_stream_static_join,
        "complete",
    )


def test_stream_dedup_keeps_unique_event_ids(spark):
    events = jobs.read_events_stream(spark, TEST_SF_DIR)
    rows = jobs.run_available_now(jobs.dedup_events(events), mode="append")
    batch = sb.q_stream_dedup(spark, TEST_SF_DIR)
    ids = sorted(r["event_id"] for r in rows)
    want_ids = sorted(r["event_id"] for r in batch.select("event_id").collect())
    assert ids == want_ids


def test_stateful_user_totals_matches_batch_final_state(spark):
    """applyInPandasWithState final per-user totals == last row of the
    batch running-total window per user."""
    events = jobs.read_events_stream(spark, TEST_SF_DIR)
    rows = jobs.run_available_now(jobs.stateful_user_totals(events), mode="update")
    # update mode emits one row per user per micro-batch; keep the last
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = sb.q_stream_stateful(spark, TEST_SF_DIR).toPandas()
    last = (
        batch.sort_values(["user_id", "n_events_so_far"])
        .groupby("user_id")
        .tail(1)
    )
    want = {
        int(r.user_id): (int(r.n_events_so_far), float(r.value_so_far))
        for r in last.itertuples()
    }
    assert final == want


def test_tws_user_totals_matches_batch_final_state(spark):
    """transformWithStateInPandas (Spark 4 StatefulProcessor API) final
    per-user totals == the batch groupBy twin. Skipped where protobuf
    (a TWS runtime dep) is absent — the batch twin stays oracle-checked."""
    import pytest

    if not jobs.tws_available():
        pytest.skip("google.protobuf not available: TWS runtime dep")
    events = jobs.read_events_stream(spark, TEST_SF_DIR)
    rows = jobs.run_available_now(jobs.tws_user_totals(events), mode="update")
    final = {}
    for r in rows:  # update mode: keep the last emission per user
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = sb.q_stream_tws_totals(spark, TEST_SF_DIR).toPandas()
    want = {
        int(r.user_id): (int(r.n_events), float(r.total_value))
        for r in batch.itertuples()
    }
    assert final == want


def test_stream_incremental_two_batches(spark, tmp_path):
    """Same totals when the source arrives as multiple files/micro-batches:
    split events into 2 parquet files, maxFilesPerTrigger=1, and check the
    stateful operator's final state is unchanged — incremental == batch."""
    src = str(tmp_path / "events_split")
    e = (
        spark.read.parquet(f"{TEST_SF_DIR}/events.parquet")
        .repartitionByRange(2, "event_id")
    )
    e.write.mode("overwrite").parquet(src)
    events = jobs.normalize_event_ts(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rows = jobs.run_available_now(jobs.stateful_user_totals(events), mode="update")
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = sb.q_stream_stateful(spark, TEST_SF_DIR).toPandas()
    last = (
        batch.sort_values(["user_id", "n_events_so_far"]).groupby("user_id").tail(1)
    )
    want = {
        int(r.user_id): (int(r.n_events_so_far), float(r.value_so_far))
        for r in last.itertuples()
    }
    assert final == want


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream interval join == its batch twin. Two
    independent file-stream sources over the same events dir (as two
    different streams would be in production)."""
    clicks = jobs.read_events_stream(spark, TEST_SF_DIR)
    purchases = jobs.read_events_stream(spark, TEST_SF_DIR)
    rows = jobs.run_available_now(
        jobs.click_purchase_join(clicks, purchases), mode="append"
    )
    got = canon_frame(_rows_to_pdf(rows))
    want = canon_frame(sb.q_stream_stream_join(spark, TEST_SF_DIR).toPandas())
    assert got == want
    assert len(rows) > 0


def test_upsert_stream_foreach_batch_applies_cdc(spark, tmp_path):
    """Stream of updates merged into a parquet snapshot via foreachBatch:
    pre-seeded stale rows (value=-1) are replaced key-by-key; final
    snapshot equals the deduped batch view of the events table."""
    import os

    target = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    batch = sb.q_stream_dedup(spark, TEST_SF_DIR)  # event_id unique
    # seed the snapshot with stale versions of half the keys
    batch.where("event_id % 2 = 0").withColumn(
        "value", F.lit(-1.0)
    ).write.parquet(target)

    updates = jobs.dedup_events(jobs.read_events_stream(spark, TEST_SF_DIR))
    q = jobs.upsert_stream_foreach_batch(updates, target, ckpt, ["event_id"])
    q.awaitTermination()

    got = canon_frame(
        spark.read.parquet(target)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .toPandas()
    )
    want = canon_frame(batch.toPandas())
    assert got == want  # every stale row replaced, no key lost or duped


def _unreadable_store(path) -> None:
    """A store dir whose one part file is not parquet."""
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not a parquet file")


def test_upsert_stream_raises_on_unreadable_snapshot(spark, tmp_path):
    """A snapshot that exists but cannot be read fails the batch; it is
    never replaced by the batch's rows alone."""
    import pytest
    from pyspark.errors import StreamingQueryException

    target = tmp_path / "snapshot"
    _unreadable_store(target)
    updates = jobs.dedup_events(jobs.read_events_stream(spark, TEST_SF_DIR))
    q = jobs.upsert_stream_foreach_batch(
        updates, str(target), str(tmp_path / "ckpt"), ["event_id"]
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert os.listdir(target) == ["part-00000.parquet"]


def test_incremental_corpus_ingest_raises_on_unreadable_corpus(
    spark, tmp_path
):
    """A corpus that exists but cannot be read fails the batch instead
    of skipping the cross-batch dedup and appending duplicates."""
    import pytest
    from pyspark.errors import StreamingQueryException

    corpus = tmp_path / "corpus"
    _unreadable_store(corpus)
    src = str(tmp_path / "incoming")
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    docs.where("doc_id < 50").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = jobs.incremental_corpus_ingest(
        stream, str(corpus), str(tmp_path / "ckpt")
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert os.listdir(corpus) == ["part-00000.parquet"]


def test_stream_file_sink_exactly_once_on_restart(spark, tmp_path):
    """Operational exactly-once guarantee of the checkpointed file sink:
    draining the same source twice against the SAME checkpoint must not
    duplicate output (run 2 is a no-op because every source file is
    already committed); new data arriving after the restart is appended
    exactly once."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = spark.read.parquet(f"{TEST_SF_DIR}/events.parquet").limit(100)
    base.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n1 = spark.read.parquet(out).count()
    drain()  # restart with same checkpoint: must be a no-op
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == 100

    # late-arriving file is delivered exactly once
    more = spark.read.parquet(f"{TEST_SF_DIR}/events.parquet").limit(130)
    more.exceptAll(base).write.mode("append").parquet(src)
    drain()
    assert spark.read.parquet(out).count() == 130


def test_incremental_corpus_ingest_dedups_across_batches(spark, tmp_path):
    """Documents re-sent in later micro-batches (same text, new doc_id)
    must not re-enter the corpus: batch 1 loads docs 0-49, batch 2
    delivers docs 30-79 (20 overlapping texts) — the corpus ends with
    exactly 80 unique texts, and a restart drain adds nothing."""
    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt_ingest")

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    b1 = docs.where("doc_id < 50")
    # re-sent texts arrive under NEW doc_ids (re-crawl shape)
    b2 = (
        docs.where("doc_id >= 30 AND doc_id < 80")
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        q = jobs.incremental_corpus_ingest(
            jobs_read(src, schema), corpus, ckpt
        )
        q.awaitTermination()

    def jobs_read(path, sch):
        return (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    drain()
    assert spark.read.parquet(corpus).count() == 50
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()
    got = spark.read.parquet(corpus)
    assert got.count() == 80  # 30 new texts, 20 re-sent dropped
    assert got.select("text_sha").distinct().count() == 80
    drain()  # restart: no-op
    assert spark.read.parquet(corpus).count() == 80


def test_windowed_topk_stream_matches_batch(spark):
    """The foreachBatch-ranked streaming top-k must equal the batch twin
    exactly once the bounded source drains."""
    from aind_data_transformation_spark.queries.streaming_batch import (
        q_stream_topk_window,
    )
    from aind_data_transformation_spark.streaming.jobs import (
        read_events_stream,
        windowed_topk_foreach_batch,
    )
    from tests.conftest import TEST_SF_DIR

    out: list = []
    q = windowed_topk_foreach_batch(
        read_events_stream(spark, TEST_SF_DIR), out
    )
    q.awaitTermination()
    got = sorted(
        (r.win_start, r.event_type, r.n_events, r.rnk) for r in out
    )
    want = sorted(
        (r.win_start, r.event_type, r.n_events, r.rnk)
        for r in q_stream_topk_window(spark, TEST_SF_DIR).collect()
    )
    assert got == want


def test_stateful_totals_under_rocksdb_state_store(spark):
    """The streaming_state_store='rocksdb' settings knob end-to-end: the
    same applyInPandasWithState job runs under RocksDBStateStoreProvider
    (the at-scale state backend — disk-spilling, changelog-checkpointed)
    and produces the same final per-user totals as the batch twin."""
    from aind_data_transformation_spark.core import (
        GenericSparkEtl,
        JobResponse,
        SparkJobSettings,
    )

    class _Probe(GenericSparkEtl[SparkJobSettings]):
        def run_job(self) -> JobResponse:  # pragma: no cover - not used
            return JobResponse(status_code=200)

    job = _Probe(
        SparkJobSettings(
            input_source=TEST_SF_DIR,
            output_directory=TEST_SF_DIR,
            streaming_state_store="rocksdb",
        ),
        spark=spark,
    )
    try:
        s = job.spark
        assert "RocksDBStateStoreProvider" in s.conf.get(
            "spark.sql.streaming.stateStore.providerClass"
        )
        events = jobs.read_events_stream(s, TEST_SF_DIR)
        rows = jobs.run_available_now(
            jobs.stateful_user_totals(events), mode="update"
        )
        final = {}
        for r in rows:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
        batch = sb.q_stream_stateful(s, TEST_SF_DIR).toPandas()
        last = (
            batch.sort_values(["user_id", "n_events_so_far"])
            .groupby("user_id")
            .tail(1)
        )
        want = {
            int(r.user_id): (int(r.n_events_so_far), float(r.value_so_far))
            for r in last.itertuples()
        }
        assert final == want
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_m4_stream_matches_batch(spark):
    """Streaming M4 (struct-keyed min_by/max_by in a watermarked agg)
    == the batch ts_m4_downsample twin, mapping window.start to the
    epoch-day key."""
    from aind_data_transformation_spark.queries.timeseries import (
        q_ts_m4_downsample,
    )

    events = jobs.read_events_stream(spark, TEST_SF_DIR)
    rows = jobs.run_available_now(
        jobs.m4_downsample_stream(events), mode="append"
    )
    got = {
        (int(r["win_start"].timestamp() // 86400), r["event_type"]): (
            r["n_points"], r["v_min"], r["v_max"], r["v_first"], r["v_last"]
        )
        for r in rows
    }
    batch = q_ts_m4_downsample(spark, TEST_SF_DIR).collect()
    want = {
        (int(r["day"]), r["event_type"]): (
            r["n_points"], r["v_min"], r["v_max"], r["v_first"], r["v_last"]
        )
        for r in batch
    }
    # append mode drops windows still open at end-of-stream (watermark):
    # every emitted window must match the batch value exactly, and most
    # windows must have been emitted
    assert got
    for k, v in got.items():
        assert want[k] == v
    assert len(got) >= len(want) - 2 * 5  # ≤2 trailing days × 5 types open


def test_stateful_checkpoint_recovery_across_restart(spark, tmp_path):
    """The capability the settings knobs promise but no other test
    proves: a RocksDB-backed STATEFUL streaming aggregation is killed
    mid-stream (q.stop() after the first committed micro-batch, unread
    source files still pending), late data arrives, and a NEW query
    restarted from the SAME checkpoint must resume the recovered state
    and land on exactly-once totals — every per-user (count, cent-sum)
    equal to one batch aggregation over the full source, nothing dropped
    from the killed run, nothing double-counted on replay."""
    import time as _time

    from aind_data_transformation_spark.core import (
        GenericSparkEtl,
        JobResponse,
        SparkJobSettings,
    )
    from aind_data_transformation_spark.io.sources import normalize_event_ts

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    class _Probe(GenericSparkEtl[SparkJobSettings]):
        def run_job(self) -> JobResponse:  # pragma: no cover - not used
            return JobResponse(status_code=200)

    job = _Probe(
        SparkJobSettings(
            input_source=src,
            output_directory=src,
            streaming_state_store="rocksdb",
            checkpoint_dir=ckpt,
        ),
        spark=spark,
    )
    try:
        s = job.spark
        assert "RocksDBStateStoreProvider" in s.conf.get(
            "spark.sql.streaming.stateStore.providerClass"
        )
        ev = s.read.parquet(f"{TEST_SF_DIR}/events.parquet")
        first = ev.limit(400)
        # 8 source files + maxFilesPerTrigger=1 so the kill lands with
        # files still unprocessed (the assertion holds wherever it lands)
        first.repartition(8).write.mode("overwrite").parquet(src)
        schema = s.read.parquet(src).schema

        def totals_stream(max_files=None):
            reader = s.readStream.schema(schema)
            if max_files:
                reader = reader.option("maxFilesPerTrigger", max_files)
            stream = normalize_event_ts(reader.parquet(src))
            return stream.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("value") * 100).cast("long")
                ).alias("cents"),
            )

        ckpt_loc = str(job.job_settings.checkpoint_dir)

        # foreachBatch is a checkpoint-recoverable sink (memory is not);
        # each micro-batch appends its update rows to a driver-side list
        run1, run2 = [], []

        def collector(into):
            def apply(batch_df, batch_id):
                into.extend(batch_df.collect())

            return apply

        # run 1: kill after the first committed micro-batch
        q1 = (
            totals_stream(max_files=1)
            .writeStream.foreachBatch(collector(run1))
            .outputMode("update")
            .option("checkpointLocation", ckpt_loc)
            .start()
        )
        deadline = _time.time() + 60
        while _time.time() < deadline:
            p = q1.lastProgress
            if p and p["batchId"] >= 1:
                break
            _time.sleep(0.2)
        q1.stop()
        q1.awaitTermination()
        assert run1, "no micro-batch committed before the kill"

        # late data lands while the query is down
        late = ev.limit(460).exceptAll(first)
        late.write.mode("append").parquet(src)

        # run 2: new query object, SAME checkpoint — must recover state
        q2 = (
            totals_stream()
            .writeStream.foreachBatch(collector(run2))
            .outputMode("update")
            .option("checkpointLocation", ckpt_loc)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()

        # a user's FINAL state is its max-n update across both runs
        # (n is monotone; the accompanying cent-sum rides along)
        final = {}
        for r in list(run1) + list(run2):
            if r["user_id"] not in final or r["n"] > final[r["user_id"]][0]:
                final[r["user_id"]] = (r["n"], r["cents"])
        batch = (
            s.read.parquet(src)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("value") * 100).cast("long")
                ).alias("cents"),
            )
            .collect()
        )
        want = {r["user_id"]: (r["n"], r["cents"]) for r in batch}
        assert final == want
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_left_outer_join_matches_batch(spark, tmp_path):
    """Outer stream-stream join equivalence over the provable region:
    the time-sorted source is split into files so the watermark advances
    across micro-batches, and every click older than (watermark delay +
    join interval) must have its row — matched or null-padded — in the
    drained output, byte-equal to the batch twin (which restricts itself
    to the same region)."""
    src = str(tmp_path / "events_sorted")
    base = spark.read.parquet(f"{TEST_SF_DIR}/events.parquet")
    # write the 6 time-range files SEQUENTIALLY: the file stream source
    # orders by modification time, and a parallel repartitionByRange
    # write lands in arbitrary mtime order — time-disordered processing
    # would watermark-drop whole early files
    import time as _t

    ranged = base.repartitionByRange(6, "ts").withColumn(
        "__pid", F.spark_partition_id()
    )
    for i in range(6):
        ranged.where(F.col("__pid") == i).drop("__pid").coalesce(
            1
        ).write.mode("append").parquet(src)
        _t.sleep(1.1)
    schema = spark.read.parquet(src).schema

    from aind_data_transformation_spark.io.sources import normalize_event_ts

    def stream():
        return normalize_event_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    # ONE source feeding both join sides: two independent file sources
    # can race (one side batches ahead, the global watermark passes the
    # other side's rows and drops them as late); a single source keeps
    # the two branches lockstep per micro-batch
    ev = stream()
    rows = jobs.run_available_now(
        jobs.click_purchase_left_join(ev, ev), mode="append"
    )
    got = _rows_to_pdf(rows)
    # the registry batch twin loads <sf_dir>/events.parquet; the source
    # dir here differs, so rebuild the same twin against the sorted copy
    import pandas as pd

    # provable region: during the LAST data batch (file 6) the watermark
    # is max(files 1..5) - 1h, so every click with click_ts + 30min
    # below that has provably emitted. The theoretical max(all) - 90min
    # bound additionally relies on a trailing no-data batch whose
    # watermark folds the last file in - empirically it lags one sliver,
    # so anchor the cutoff to the second-to-last file instead.
    cutoff = (
        ranged.where(F.col("__pid") <= 4)
        .agg(F.expr("max(ts) - INTERVAL 90 minutes").alias("cut"))
        .collect()[0]["cut"]
    )
    got = got[pd.to_datetime(got["click_ts"]) <= cutoff]
    ev = normalize_event_ts(spark.read.parquet(src))
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("click_ts"),
    ).where(F.col("click_ts") <= F.lit(cutoff))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    want = (
        clicks.join(
            purchases,
            (F.col("c_uid") == F.col("p_uid"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")
            ),
            "left",
        )
        .select(
            "click_id",
            F.col("c_uid").alias("user_id"),
            "click_ts",
            "purchase_id",
            "purchase_ts",
            "purchase_value",
        )
        .toPandas()
    )
    assert canon_frame(got) == canon_frame(want)
    # outer semantics actually exercised: some clicks have no purchase
    assert got["purchase_id"].isna().any()


def test_stream_full_outer_join_matches_batch(spark, tmp_path):
    """FULL OUTER stream-stream join equivalence over the provable
    regions: time-split source files advance the watermark across
    micro-batches; every click older than (delay + interval) must appear
    matched-or-null-padded, and every purchase older than the same
    cutoff that followed no click must appear null-padded — byte-equal
    to the batch full join restricted to those regions."""
    import time as _t

    import pandas as pd

    from aind_data_transformation_spark.io.sources import normalize_event_ts

    src = str(tmp_path / "events_sorted")
    base = spark.read.parquet(f"{TEST_SF_DIR}/events.parquet")
    ranged = base.repartitionByRange(6, "ts").withColumn(
        "__pid", F.spark_partition_id()
    )
    for i in range(6):
        ranged.where(F.col("__pid") == i).drop("__pid").coalesce(
            1
        ).write.mode("append").parquet(src)
        _t.sleep(1.1)
    schema = spark.read.parquet(src).schema

    ev = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rows = jobs.run_available_now(
        jobs.click_purchase_full_join(ev, ev), mode="append"
    )
    got = _rows_to_pdf(rows)
    cutoff = (
        ranged.where(F.col("__pid") <= 4)
        .agg(F.expr("max(ts) - INTERVAL 90 minutes").alias("cut"))
        .collect()[0]["cut"]
    )
    # provable region: click rows (matched or padded) with click_ts <=
    # cutoff; padded purchase rows with purchase_ts <= cutoff. Matched
    # rows with a newer click emitted eagerly — outside the proof, drop.
    keep = (pd.to_datetime(got["click_ts"]) <= cutoff) | (
        got["click_id"].isna()
        & (pd.to_datetime(got["purchase_ts"]) <= cutoff)
    )
    got = got[keep]
    ev_b = normalize_event_ts(spark.read.parquet(src))
    clicks = ev_b.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev_b.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    want = (
        clicks.join(
            purchases,
            (F.col("c_uid") == F.col("p_uid"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")
            ),
            "full",
        )
        .select(
            "click_id",
            F.coalesce("c_uid", "p_uid").alias("user_id"),
            "click_ts",
            "purchase_id",
            "purchase_ts",
            "purchase_value",
        )
        .where(
            (F.col("click_ts") <= F.lit(cutoff))
            | (
                F.col("click_id").isNull()
                & (F.col("purchase_ts") <= F.lit(cutoff))
            )
        )
        .toPandas()
    )
    assert canon_frame(got) == canon_frame(want)
    # both outer directions actually exercised
    assert got["purchase_id"].isna().any()
    assert got["click_id"].isna().any()


def test_incremental_minhash_dedup_matches_batch(spark, tmp_path):
    """Batch/stream equivalence for NEAR-dup dedup (r6 verdict item #3):
    documents delivered over two separate stream drains (3 deliveries
    total) must accumulate exactly the pair set the batch
    `dedup_fuzzy_minhash` pipeline finds over the full corpus — and a
    restart drain with nothing new must add nothing."""
    from aind_data_transformation_spark.queries.llm_text import (
        q_dedup_minhash,
    )

    src = str(tmp_path / "incoming")
    sig = str(tmp_path / "sigs")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt_minhash")

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )

    def drain():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = jobs.incremental_minhash_dedup_ingest(stream, sig, pairs, ckpt)
        q.awaitTermination()

    # first drain: two deliveries
    docs.where("doc_id % 3 = 0").coalesce(1).write.mode("append").parquet(src)
    docs.where("doc_id % 3 = 1").coalesce(1).write.mode("append").parquet(src)
    drain()
    n_after_first = (
        jobs.read_stream_dedup_pairs(spark, pairs).count()
    )
    # second drain (stream restart from checkpoint): the final delivery
    docs.where("doc_id % 3 = 2").coalesce(1).write.mode("append").parquet(src)
    drain()

    got = {
        (r["doc_a"], r["doc_b"])
        for r in jobs.read_stream_dedup_pairs(spark, pairs).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_minhash(spark, TEST_SF_DIR).collect()
    }
    assert got == want, (
        f"stream={len(got)} batch={len(want)} "
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )
    assert len(got) >= n_after_first  # pairs only accumulate

    # restart with no new files: exactly-once, nothing re-emitted
    drain()
    again = {
        (r["doc_a"], r["doc_b"])
        for r in jobs.read_stream_dedup_pairs(spark, pairs).collect()
    }
    assert again == got


def test_incremental_minhash_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """Crash-replay proof: re-applying an ALREADY-applied micro-batch
    (foreachBatch gives at-least-once on restart-after-crash) must leave
    the pair set unchanged — the batch-id-partitioned overwrite rewrites
    the batch's own partition, and the store read filters batch_id < N
    so the replayed batch never joins its own half-written output."""
    src = str(tmp_path / "incoming")
    sig = str(tmp_path / "sigs")
    pairs = str(tmp_path / "pairs")

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.where("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    docs.where("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = jobs.incremental_minhash_dedup_ingest(
        stream, sig, pairs, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    before = {
        (r["doc_a"], r["doc_b"])
        for r in jobs.read_stream_dedup_pairs(spark, pairs).collect()
    }

    # replay batch 1 through the SAME module-level batch body a
    # post-crash restart re-invokes
    fb = spark.read.parquet(src).join(
        docs.where("doc_id % 2 = 1"), ["doc_id", "text"], "left_semi"
    )
    jobs.minhash_dedup_apply_batch(fb, 1, sig, pairs)

    after = {
        (r["doc_a"], r["doc_b"])
        for r in jobs.read_stream_dedup_pairs(spark, pairs).collect()
    }
    assert after == before


def test_minhash_signature_store_read_errors_raise(spark, tmp_path):
    """An existing signature store that cannot be read must fail the
    batch: treating the error as "no store yet" would silently drop
    every cross-batch near-dup pair. A missing store (no earlier batch
    landed signatures) is still the legitimate empty case."""
    import os

    import pytest

    sig = str(tmp_path / "sigs")
    pairs = str(tmp_path / "pairs")
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    batch = docs.where("doc_id % 2 = 1")
    # no store at all: batch 1 lands its pairs and signatures
    jobs.minhash_dedup_apply_batch(batch, 1, sig, pairs)
    assert os.path.isdir(os.path.join(sig, "batch_id=1"))

    bad = tmp_path / "bad_sigs"
    (bad / "batch_id=0").mkdir(parents=True)
    (bad / "batch_id=0" / "part-00000.parquet").write_bytes(
        b"not a parquet file"
    )
    with pytest.raises(Exception):
        jobs.minhash_dedup_apply_batch(
            batch, 1, str(bad), str(tmp_path / "bad_pairs")
        )
    assert not os.path.exists(tmp_path / "bad_pairs"), (
        "a batch whose store read failed must not land pairs"
    )


def test_txlog_stream_sink_exactly_once_across_kill_restart(
    spark, tmp_path, monkeypatch
):
    """r8 verdict item #2's contract: the stream crashes mid-run (commit
    bomb on epoch 2), is restarted from the SAME checkpoint, and every
    epoch must land in the transaction log exactly once — 4 version
    files, 4 epoch data dirs, snapshot equal to the full source, and the
    incremental-read consumer checkpointed mid-stream sees each later
    epoch exactly once."""
    import os

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.io.sources import load_table
    from aind_data_transformation_spark.queries import sinks
    from aind_data_transformation_spark.streaming import jobs as sjobs

    src = str(tmp_path / "src")
    log_dir = str(tmp_path / "_log")
    data_dir = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    orders = load_table(spark, TEST_SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.repartition(4).write.mode("overwrite").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(
                "o_orderkey bigint, o_orderstatus string,"
                " o_totalprice double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sjobs.txlog_stream_commit_ingest(stream, log_dir, data_dir, ckpt)
        q.awaitTermination()

    # run 1: bomb the commit of epoch 2 AFTER its data write — the
    # worst-case crash point (data on disk, nothing in the log)
    real = txlog_source.attempt_commit
    state = {"armed": True}

    def bombed(log_dir_, version, actions, **kw):
        if state["armed"] and version == 2:
            state["armed"] = False
            raise RuntimeError("injected crash before epoch-2 commit")
        return real(log_dir_, version, actions, **kw)

    monkeypatch.setattr(txlog_source, "attempt_commit", bombed)
    import pytest as _pytest

    with _pytest.raises(Exception):
        run()
    committed = sorted(os.listdir(log_dir))
    assert committed == ["00000.json", "00001.json"]

    # run 2: same checkpoint, bomb disarmed — epoch 2 replays (same
    # deterministic path, put-if-absent commit), 3 completes
    monkeypatch.setattr(txlog_source, "attempt_commit", real)
    run()
    assert sorted(os.listdir(log_dir)) == [
        "00000.json",
        "00001.json",
        "00002.json",
        "00003.json",
    ]
    assert sorted(os.listdir(data_dir)) == [
        f"epoch-{i:05d}" for i in range(4)
    ]
    # snapshot == full source, nothing dropped or doubled
    live = txlog_source._live_files(sinks._txlog_log_rows(spark, log_dir))
    snap = spark.read.parquet(*live)
    assert snap.count() == orders.count()
    assert (
        snap.agg(F.sum("o_orderkey")).collect()[0][0]
        == orders.agg(F.sum("o_orderkey")).collect()[0][0]
    )
    # a consumer checkpointed at epoch 1 sees exactly epochs 2 and 3
    inc = sinks.txlog_incremental_files(spark, log_dir, from_version=1)
    assert sorted(os.path.basename(p) for p in inc) == [
        "epoch-00002",
        "epoch-00003",
    ]


def test_txlog_epoch_commit_replay_is_idempotent(spark, tmp_path):
    """The foreachBatch body directly: replaying the SAME micro-batch
    (crash between sink commit and checkpoint commit) rewrites the same
    path and its commit attempt returns False — one version file, no
    duplicate rows, log bytes unchanged."""
    import os

    from aind_data_transformation_spark.io.sources import load_table
    from aind_data_transformation_spark.streaming import jobs as sjobs

    log_dir = str(tmp_path / "_log")
    data_dir = str(tmp_path / "data")
    batch = (
        load_table(spark, TEST_SF_DIR, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .limit(100)
    )
    assert sjobs.txlog_epoch_commit(batch, 0, log_dir, data_dir) is True
    log_bytes = open(os.path.join(log_dir, "00000.json")).read()
    n = spark.read.parquet(os.path.join(data_dir, "epoch-00000")).count()
    # the replay
    assert sjobs.txlog_epoch_commit(batch, 0, log_dir, data_dir) is False
    assert os.listdir(log_dir) == ["00000.json"]
    assert open(os.path.join(log_dir, "00000.json")).read() == log_bytes
    assert (
        spark.read.parquet(os.path.join(data_dir, "epoch-00000")).count()
        == n
    )


def test_txlog_cdc_apply_exactly_once_across_kill_restart(
    spark, tmp_path, monkeypatch
):
    """The foreachBatch + MERGE + txn recipe under the worst-case crash:
    batch 1's merge COMMITS, then the stream dies before the checkpoint
    commit (bomb AFTER the put-if-absent succeeds), so the restart
    re-delivers batch 1 — whose inserts would double-apply without the
    txn guard. After the restart the table must equal the one-shot
    merge, and batch 1's replayed merge must report skipped."""
    import os

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.io.sources import load_table
    from aind_data_transformation_spark.queries import sinks
    from aind_data_transformation_spark.streaming import jobs as sjobs

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    changes = sinks._merge_changes(spark, TEST_SF_DIR)
    changes.repartition(4).write.mode("overwrite").parquet(src)
    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_cdcx_test")

    def run():
        stream = (
            spark.readStream.schema(
                spark.read.parquet(src).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sjobs.txlog_cdc_apply_ingest(stream, log_dir, ckpt)
        q.awaitTermination()

    # bomb: let batch 1's merge commit, then crash before the
    # checkpoint records it
    real = txlog_source.attempt_commit
    state = {"armed": True}
    skipped = []

    def bombed(log_dir_, version, actions, **kw):
        ok = real(log_dir_, version, actions, **kw)
        if (
            state["armed"]
            and ok
            and any(
                a.get("action") == "txn" and a.get("path") == "cdc:1"
                for a in actions
            )
        ):
            state["armed"] = False
            raise RuntimeError("injected crash after cdc:1 commit")
        return ok

    monkeypatch.setattr(txlog_source, "attempt_commit", bombed)
    import pytest as _pytest

    with _pytest.raises(Exception):
        run()

    # restart: batch 1 replays and must SKIP (txn already committed)
    monkeypatch.setattr(txlog_source, "attempt_commit", real)
    real_merge = sinks.txlog_merge

    def spying_merge(spark_, log_dir_, changes_, key_col, txn_id=None):
        res = real_merge(spark_, log_dir_, changes_, key_col, txn_id=txn_id)
        if res.get("skipped"):
            skipped.append(res["skipped"])
        return res

    monkeypatch.setattr(sinks, "txlog_merge", spying_merge)
    run()
    assert "cdc:1" in skipped, "replayed batch must skip via its txn id"

    # final table == one-shot merge on a twin
    twin = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_cdcx_twin")
    real_merge(spark, twin, changes, "o_orderkey")
    got = sorted(
        tuple(r) for r in sinks._txlog_read(spark, log_dir, None).collect()
    )
    want = sorted(
        tuple(r) for r in sinks._txlog_read(spark, twin, None).collect()
    )
    assert got == want


def test_txlog_stream_source_resumes_from_checkpoint(spark, tmp_path):
    """The custom txlog stream source's offset contract: a drained query
    restarted from its checkpoint must consume ONLY the commits that
    landed while it was down (numInputRows == the appended rows), and
    its complete-mode aggregation state must absorb them exactly."""
    import json
    import os

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries import sinks

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_src_ckpt")
    txlog_source.register(spark)
    ckpt = str(tmp_path / "ckpt")
    name = "txlog_src_resume"

    def drain():
        q = (
            spark.readStream.format("txlog")
            .option("path", log_dir)
            .load()
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    drain()
    base = {
        r["o_orderstatus"]: r["n"]
        for r in spark.table(name).collect()
    }
    live = txlog_source._live_files(sinks._txlog_log_rows(spark, log_dir))
    assert sum(base.values()) == spark.read.parquet(*live).count()

    # an append-only commit lands while the stream is down
    extra_dir = os.path.join(os.path.dirname(log_dir), "data", "extra")
    extra = spark.read.parquet(*live).limit(100)
    n_extra = extra.count()
    extra.coalesce(1).write.mode("overwrite").parquet(extra_dir)
    with open(os.path.join(log_dir, "00003.json"), "w") as fh:
        fh.write(
            json.dumps(
                {"commit": 3, "action": "add", "path": extra_dir}
            )
            + "\n"
        )

    q2 = drain()
    got = {
        r["o_orderstatus"]: r["n"]
        for r in spark.table(name).collect()
    }
    assert sum(got.values()) == sum(base.values()) + n_extra
    # resume read ONLY the increment
    read_rows = sum(
        p["numInputRows"] for p in q2.recentProgress if p["numInputRows"]
    )
    assert read_rows == n_extra


def test_txlog_stream_source_admission_control(spark, tmp_path):
    """max_commits_per_trigger paces the connector stream in steady
    state: the first planned batch takes the whole backlog (catch-up —
    the engine asks for latestOffset before revealing the start, so
    the cap has no anchor yet), then every subsequent micro-batch
    admits at most one commit: two commits landed together must drain
    as two separate batches, never one."""
    import os
    import shutil
    import time

    from tests.conftest import TEST_SF_DIR

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries import sinks

    log_dir = sinks._build_txlog_table(spark, TEST_SF_DIR, "txlog_admission")
    data_dir = os.path.join(os.path.dirname(log_dir), "data")
    txlog_source.register(spark)
    seen = []

    def collect_batch(df, batch_id):
        seen.append((batch_id, df.count()))

    q = (
        spark.readStream.format("txlog")
        .option("path", log_dir)
        .option("max_commits_per_trigger", "1")
        .load()
        .writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and not seen:
            time.sleep(0.5)
        assert seen and seen[0][1] == 1125, seen  # backlog catch-up batch
        # two commits land "at once": re-add the logically removed
        # batch-1 (its file still exists) and a fresh copy of it
        b1 = os.path.join(data_dir, "batch-1")
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
    # one capped batch per commit — a single 750-row batch means the
    # cap admitted both commits at once
    assert tail == [375, 375], seen
