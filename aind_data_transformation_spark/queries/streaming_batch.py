"""Batch twins of the streaming operators (SURVEY.md §2 "Streaming-only").

Per the batch-first rule (SURVEY.md §2 footer): every streaming construct is
implemented here as an oracle-checkable batch expression over the ``events``
table, and ``aind_data_transformation_spark/streaming/jobs.py`` wraps the
*same expressions* in ``readStream``/``writeStream`` with watermarks —
Spark's unified API makes the twin nearly verbatim, and the equivalence is
asserted in tests/test_streaming.py.

Determinism notes:
* ``events.ts`` arrives as µs timestamps (ns floor-divided by 1000 in
  ``load_table``), matching DuckDB's ns→µs view truncation.
* ``sum(value)`` uses the integer-cents scheme (numeric.py) — exact,
  associative, order-independent — so window sums hash-match the oracle.
* Tumbling/sliding windows are epoch-aligned in both engines (Spark
  ``F.window`` default origin = epoch; DuckDB ``time_bucket`` origin
  2000-01-01, which is 10-minute-aligned with epoch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from aind_data_transformation_spark.io.sources import load_table
from aind_data_transformation_spark.ops import (
    attach_broadcast,
    dedup_keep_first,
    scratch_dir,
    session_stage,
)
from aind_data_transformation_spark.queries.numeric import money_sum, sql_money_sum

#: Session gap / watermark delay shared with streaming/jobs.py.
SESSION_GAP = "30 minutes"
WATERMARK_DELAY = "1 hour"


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-10-minute tumbling-window counts by event_type.

    Streaming form: ``withWatermark("ts", ...)`` + same groupBy — see
    streaming/jobs.py:tumbling_counts. One shuffle on (window, event_type);
    at 100 TB the watermark bounds state to ~1h of open windows.
    """
    e = load_table(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes")
    return (
        e.groupBy(w, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes: each event lands in
    exactly two windows (Spark expands via Expand, not a self-join)."""
    e = load_table(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        e.groupBy(w, "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
        )
    )


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user, 30-minute inactivity gap, via Spark's
    native ``session_window`` (works identically in batch). Oracle is the
    classic gaps-and-islands rewrite. Session end = last event + gap; a new
    session starts when the gap to the previous event is >= 30 min
    (session windows are half-open [start, end))."""
    e = load_table(spark, sf_dir, "events")
    sw = F.session_window("ts", SESSION_GAP)
    return (
        e.groupBy(sw, "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup on event_id: keep the earliest (ts, then
    lowest-value) row per key. Streaming form is
    ``dropDuplicatesWithinWatermark(["event_id"])`` (streaming/jobs.py);
    the batch twin makes the survivor rule explicit so it is
    oracle-checkable (streaming dedup keeps an arbitrary first-seen row)."""
    e = load_table(spark, sf_dir, "events")
    return dedup_keep_first(e, ["event_id"], ["ts", "value"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark cutoff as a batch expression: drop events older than
    ``max(ts) - 1 hour`` — exactly the rows an append-mode stream with a
    1-hour watermark would drop if they arrived last. The max is a scalar
    broadcast (single-row cross join), not a per-row shuffle."""
    e = load_table(spark, sf_dir, "events")
    cutoff = e.agg(
        (F.max("ts") - F.expr(f"INTERVAL {WATERMARK_DELAY}")).alias("cutoff")
    )
    return (
        e.transform(attach_broadcast, F.broadcast(cutoff))
        .where(F.col("ts") >= F.col("cutoff"))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user state (cumulative event count + value sum in event-
    time order) — the batch twin of an ``applyInPandasWithState`` stream
    (streaming/jobs.py:stateful_running_totals). Tie-broken by event_id so
    the frame is total-ordered and cross-engine deterministic."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_events_so_far"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).over(w).cast("double")
            / F.lit(100.0)
        ).alias("value_so_far"),
    )


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment, batch twin: events join the
    (small, broadcast) nation table and aggregate per nation name. In the
    streaming form (streaming/jobs.py:nation_enriched_counts) the static
    side is re-broadcast per micro-batch — the standard pattern for
    enriching an unbounded stream with a slowly-changing dim; the join
    itself is stateless, so no watermark is involved."""
    e = load_table(spark, sf_dir, "events")
    n = load_table(spark, sf_dir, "nation")
    return (
        e.withColumn("n_nationkey", F.col("user_id") % 25)
        .join(F.broadcast(n.select("n_nationkey", "n_name")), "n_nationkey")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch twin: each click pairs with the
    same user's purchases within the following 30 minutes. In the
    streaming form (streaming/jobs.py:click_purchase_join) both sides
    carry a watermark and the time-range condition bounds join state to
    ~(watermark + 30 min) of buffered rows per side — without the range
    predicate a stream-stream join would have to keep every row forever."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        clicks.join(
            purchases,
            (F.col("c_uid") == F.col("p_uid"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")
            ),
        )
        .select(
            "click_id",
            "purchase_id",
            F.col("c_uid").alias("user_id"),
            "click_ts",
            "purchase_ts",
            "purchase_value",
        )
    )


def q_stream_tws_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-user totals — the batch twin of the Spark 4
    ``transformWithStateInPandas`` stateful processor
    (streaming/jobs.py:tws_user_totals): the fixpoint that the update-mode
    stream's last emission per user converges to. Integer-cents sum keeps
    incremental micro-batch accumulation exact and associative."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / F.lit(100.0)
        ).alias("total_value"),
    )


def q_stream_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 6-hour tumbling window by count (ties by
    type name) — the "trending topics" streaming staple. Batch form is
    window-agg + row_number; the streaming form
    (streaming/jobs.py:windowed_topk_foreach_batch) computes the same
    window aggregate under a watermark and ranks inside ``foreachBatch``
    — ranking is not an incremental aggregate, so the standard pattern
    is agg-in-stream, rank-at-sink. One shuffle on (window, type); the
    rank window runs per emitted window, bounded by the type domain."""
    e = load_table(spark, sf_dir, "events")
    w = F.window("ts", "6 hours")
    counts = (
        e.groupBy(w, "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    rankw = Window.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(rankw).cast("bigint"))
        .where(F.col("rnk") <= 3)
    )


def q_stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-store audit via the Spark 4 State Data Source
    (``spark.read.format("statestore")``): run a complete-mode daily
    tumbling aggregation over the event stream (availableNow, noop
    sink), then read the aggregation's OWN state files back as a
    DataFrame. The state of a complete-mode agg holds every group, so
    the inspected state must equal the batch daily rollup exactly —
    which is what the oracle checks. This is the production debugging
    workflow for stuck/oversized streaming state (what keys live in the
    store? how big is each?) without touching the running query.

    Scale: the state read is partition-parallel over the checkpoint's
    shuffle partitions; nothing is collected. The streaming pass itself
    is one watermark-free shuffle on (window, type) — bounded keys."""
    from aind_data_transformation_spark.streaming import jobs as sjobs

    events = sjobs.read_events_stream(spark, sf_dir)
    agg = events.groupBy(F.window("ts", "1 day"), "event_type").count()
    ckpt = scratch_dir(spark, "state_inspect_ckpt")
    q = (
        agg.writeStream.outputMode("complete")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.window.start").alias("win_start"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n_events"),
    )


def q_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, batch twin: every click —
    converted or not — with its same-user purchases in the following 30
    minutes, nulls for clicks that never converted. The batch side is
    restricted to clicks with ``click_ts ≤ max(ts) − 90 min``
    (watermark delay 1 h + join interval 30 min): that is exactly the
    region where the streaming form (streaming/jobs.py:
    click_purchase_left_join) has PROVABLY emitted the outer row —
    beyond it a null result would still be buffered in state when the
    stream ends, so only this region is batch/stream comparable (and
    the test proves equality over it).

    Scale: one equi+range shuffle join keyed on user; the cutoff is a
    scalar aggregate attached via constant-key broadcast hash join."""
    e = load_table(spark, sf_dir, "events")
    maxts = e.agg(F.max("ts").alias("max_ts"))
    clicks = attach_broadcast(
        e.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_uid"),
            F.col("ts").alias("click_ts"),
        ),
        maxts,
    ).where(
        F.col("click_ts") <= F.col("max_ts") - F.expr("INTERVAL 90 minutes")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
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
    )


def q_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join, batch twin of
    streaming/jobs.click_purchase_full_join: every click matched-or-null
    with following-30-min same-user purchases, PLUS null-padded rows for
    purchases no click window covers. Restricted to the two PROVABLE
    regions (click_ts ≤ max(ts) − 90 min for click rows; padded-purchase
    rows with purchase_ts ≤ the same cutoff) — exactly where the
    streaming form has provably emitted, per the equivalence proof in
    tests/test_streaming.py::test_stream_full_outer_join_matches_batch.

    Scale: one equi+range shuffle join keyed on user; the cutoff is a
    scalar aggregate attached via constant-key broadcast hash join."""
    e = load_table(spark, sf_dir, "events")
    maxts = e.agg(
        (F.max("ts") - F.expr("INTERVAL 90 minutes")).alias("cut")
    )
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = clicks.join(
        purchases,
        (F.col("c_uid") == F.col("p_uid"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")
        ),
        "full",
    )
    return (
        attach_broadcast(joined, maxts)
        .where(
            (F.col("click_ts") <= F.col("cut"))
            | (
                F.col("click_id").isNull()
                & (F.col("purchase_ts") <= F.col("cut"))
            )
        )
        .select(
            "click_id",
            F.coalesce("c_uid", "p_uid").alias("user_id"),
            "click_ts",
            "purchase_id",
            "purchase_ts",
            "purchase_value",
        )
    )


#: micro-batch deliveries per staged stream source
_N_CHUNKS = 4


def _stage_chunks(
    df: DataFrame, chunk: Column, scratch: str
) -> tuple[str, list]:
    """Stage ``df`` as up to ``_N_CHUNKS`` files ``chunk-<c>.parquet``
    (the stream's micro-batch deliveries) in ``scratch/incoming``, with
    ``chunk`` in ``[0, _N_CHUNKS)`` picking each row's file. ONE write job
    for all chunks (partitionBy), then each chunk's part file is renamed
    into the source dir: sequential per-chunk writes were about half of
    a streaming key's cost. Delivery order (lexical by name once mtimes
    tie) does not matter to any consumer. Returns the source dir and the
    chunks that received rows."""
    import glob
    import os
    import shutil

    staging = os.path.join(scratch, "staging")
    (
        df.withColumn("chunk", chunk)
        .repartition(_N_CHUNKS, "chunk")
        .write.partitionBy("chunk")
        .parquet(staging)
    )
    src = os.path.join(scratch, "incoming")
    os.makedirs(src)
    present = []
    for c in range(_N_CHUNKS):
        parts = glob.glob(os.path.join(staging, f"chunk={c}", "part-*"))
        assert len(parts) <= 1, parts
        if parts:
            os.rename(parts[0], os.path.join(src, f"chunk-{c}.parquet"))
            present.append(c)
    shutil.rmtree(staging, ignore_errors=True)
    return src, present


def _all_chunks(spark: SparkSession, key: tuple, frame, chunk_col: str) -> str:
    """A session-staged source dir of ``frame()`` chunked on
    ``chunk_col mod _N_CHUNKS``, with every chunk present."""

    def build(scratch: str) -> str:
        src, present = _stage_chunks(
            frame(), F.pmod(chunk_col, F.lit(_N_CHUNKS)), scratch
        )
        assert present == list(range(_N_CHUNKS)), present
        return src

    return session_stage(spark, key, build)


def _minhash_stage(spark: SparkSession, sf_dir: str) -> str:
    """The documents table as 4 deterministic hash-chunk files (the
    micro-batch deliveries), staged once per (session, sf_dir)."""
    return _all_chunks(
        spark,
        ("minhash_stream", sf_dir),
        lambda: load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        ),
        "doc_id",
    )


def q_stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-streaming MinHash-LSH near-dup detection (r6 verdict item
    #3): the documents table is delivered as a 4-file stream
    (maxFilesPerTrigger=1 -> 4 micro-batches) into
    streaming/jobs.py:incremental_minhash_dedup_ingest — per batch, new
    docs' band keys equi-join the accumulated signature store, pairs and
    signatures land in batch-id-partitioned parquet with replay-safe
    overwrite. The returned frame is the accumulated pair set, whose
    ORACLE is the batch `dedup_fuzzy_minhash` SQL: incremental ingest
    must surface exactly the pairs one batch pass over the full corpus
    finds, or the streaming tier silently diverges from the batch tier.

    The 4-chunk source dir is staged once per (session, sf_dir)
    (`_minhash_stage`); only the ingest under test — fresh sig/pair
    stores + checkpoint per invocation — is re-run.

    Scale: per-delivery cost is (new x colliding-buckets), never
    corpus x corpus; the signature store is ~40 bytes/doc."""
    from aind_data_transformation_spark.streaming import jobs as sjobs

    src = _minhash_stage(spark, sf_dir)
    base = scratch_dir(spark, "stream_minhash")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sjobs.incremental_minhash_dedup_ingest(
        stream, f"{base}/sigs", f"{base}/pairs", f"{base}/ckpt"
    )
    q.awaitTermination()
    return sjobs.read_stream_dedup_pairs(spark, f"{base}/pairs")


def _txlog_sink_stage(spark: SparkSession, sf_dir: str) -> str:
    """Orders as 4 deterministic hash-chunk files (the stream's
    micro-batch deliveries), staged once per (session, sf_dir)."""
    return _all_chunks(
        spark,
        ("txlog_stream", sf_dir),
        lambda: load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
        "o_orderkey",
    )


def q_stream_txlog_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-streaming exactly-once write into the transaction log: the
    orders table arrives as a 4-file stream (maxFilesPerTrigger=1 → 4
    micro-batches); each micro-batch commits its rows as one epoch-keyed
    txlog version (`streaming.jobs.txlog_stream_commit_ingest` —
    deterministic epoch path + put-if-absent commit). After the stream
    drains, the snapshot read through the ordinary log replay must equal
    the full orders table — a dropped epoch, a double-committed replay,
    or rows landing outside their epoch's file all break the hash.
    Kill/restart exactly-once (a crash mid-stream, then a resume from
    the same checkpoint) and composition with the incremental-read
    consumer are asserted in tests/test_streaming.py."""
    import os

    from aind_data_transformation_spark.queries import sinks as _sinks
    from aind_data_transformation_spark.streaming import jobs as sjobs

    src = _txlog_sink_stage(spark, sf_dir)
    base = scratch_dir(spark, "stream_txlog_sink")
    log_dir = os.path.join(base, "_log")
    data_dir = os.path.join(base, "data")
    stream = (
        spark.readStream.schema(
            "o_orderkey bigint, o_orderstatus string, o_totalprice double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sjobs.txlog_stream_commit_ingest(
        stream, log_dir, data_dir, os.path.join(base, "ckpt")
    )
    q.awaitTermination()
    return _sinks._txlog_read(spark, log_dir, as_of=None)


def _cdc_stage(spark: SparkSession, sf_dir: str) -> tuple:
    """`sinks._merge_changes` as 4 deterministic hash-chunk files (the
    CDC deliveries), staged once per (session, sf_dir); returns the
    source dir and its schema. Chunking on the (possibly re-keyed) row
    key keeps chunks key-disjoint, so applying them sequentially equals
    the one-shot merge."""
    from aind_data_transformation_spark.queries import sinks as _sinks

    def build(scratch: str) -> tuple:
        # chunk on key div 4: the change-set's keys live in fixed residues
        # mod 4 (that's how the fixture maps ops to batches), so dividing
        # first spreads every op kind across all four deliveries
        src, _ = _stage_chunks(
            _sinks._merge_changes(spark, sf_dir),
            F.pmod(F.expr("o_orderkey div 4"), F.lit(_N_CHUNKS)),
            scratch,
        )
        return src, spark.read.parquet(src).schema

    return session_stage(spark, ("cdc_stream", sf_dir), build)


def q_stream_txlog_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-streaming exactly-once CDC apply: the MERGE change-set
    arrives as a 4-file stream (maxFilesPerTrigger=1 → 4 key-disjoint
    micro-batches); each batch runs the copy-on-write `txlog_merge`
    under its epoch's txn id (`streaming.jobs.txlog_cdc_apply_ingest`).
    After the stream drains, the snapshot must hash-equal the ONE-SHOT
    merge's oracle — a double-applied replay (duplicated inserts), a
    dropped batch, or chunk interaction through the rewritten files all
    break the hash. Crash-replay idempotence (kill between merge commit
    and checkpoint commit, restart) is asserted in
    tests/test_streaming.py."""
    import os

    from aind_data_transformation_spark.queries import sinks as _sinks
    from aind_data_transformation_spark.streaming import jobs as sjobs

    src, schema = _cdc_stage(spark, sf_dir)
    log_dir = _sinks._build_txlog_table(
        spark, sf_dir, "txlog_table_stream_cdc"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ckpt = os.path.join(os.path.dirname(log_dir), "_cdc_ckpt")
    q = sjobs.txlog_cdc_apply_ingest(stream, log_dir, ckpt)
    q.awaitTermination()
    snap = _sinks._txlog_snapshot(spark, log_dir)
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("sum_keys"),
        F.sum(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        ).cast("long").alias("sum_price_cents"),
    )


QUERIES = {
    "stream_txlog_cdc_apply": q_stream_txlog_cdc_apply,
    "stream_txlog_sink": q_stream_txlog_sink,
    "stream_full_join": q_stream_full_join,
    "stream_state_inspect": q_stream_state_inspect,
    "stream_tws_totals": q_stream_tws_totals,
    "stream_static_join": q_stream_static_join,
    "stream_stream_join": q_stream_stream_join,
    "stream_left_join": q_stream_left_join,
    "stream_tumbling": q_stream_tumbling,
    "stream_sliding": q_stream_sliding,
    "stream_session": q_stream_session,
    "stream_dedup": q_stream_dedup,
    "stream_dedup_minhash": q_stream_dedup_minhash,
    "stream_late_data": q_stream_late_data,
    "stream_stateful": q_stream_stateful,
    "stream_topk_window": q_stream_topk_window,
}

ORACLES = {
    # exactly-once streaming CDC apply: final snapshot == the ONE-SHOT
    # merge's restatement (same SQL as sinks "sink_txlog_merge")
    "stream_txlog_cdc_apply": """
        WITH merged AS (
            SELECT o_orderstatus, o_orderkey,
                   CASE WHEN o_orderkey % 4 = 2 AND o_orderkey % 5 = 0
                        THEN o_totalprice + 10
                        ELSE o_totalprice END AS price
            FROM orders
            WHERE o_orderkey % 4 != 1
              AND NOT (o_orderkey % 4 = 0 AND o_orderkey % 3 = 0)
            UNION ALL
            SELECT o_orderstatus, o_orderkey + 100000000, o_totalprice
            FROM orders
            WHERE o_orderkey % 4 = 1 AND o_orderkey % 7 = 0
        )
        SELECT o_orderstatus,
               COUNT(*)::BIGINT AS n_rows,
               SUM(o_orderkey)::BIGINT AS sum_keys,
               SUM(CAST(round(price * 100) AS BIGINT))::BIGINT
                   AS sum_price_cents
        FROM merged GROUP BY o_orderstatus
    """,
    # exactly-once streaming commit: after 4 epoch-keyed txlog versions
    # the snapshot must equal the whole orders table
    "stream_txlog_sink": """
        SELECT o_orderstatus,
               COUNT(*)::BIGINT AS n_rows,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
                   AS sum_price_cents
        FROM orders GROUP BY o_orderstatus
    """,
    "stream_full_join": """
        WITH cutoff AS (
            SELECT max(ts) - INTERVAL '90 minutes' AS cut FROM events
        ), c AS (
            SELECT event_id AS click_id, user_id AS c_uid, ts AS click_ts
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT event_id AS purchase_id, user_id AS p_uid,
                   ts AS purchase_ts, value AS purchase_value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT click_id,
               coalesce(c_uid, p_uid) AS user_id,
               click_ts, purchase_id, purchase_ts, purchase_value
        FROM c FULL OUTER JOIN p
          ON c_uid = p_uid
         AND purchase_ts >= click_ts
         AND purchase_ts <= click_ts + INTERVAL '30 minutes'
        CROSS JOIN cutoff
        WHERE click_ts <= cut
           OR (click_id IS NULL AND purchase_ts <= cut)
    """,
    "stream_left_join": """
        WITH cutoff AS (
            SELECT max(ts) - INTERVAL '90 minutes' AS cut FROM events
        )
        SELECT c.event_id AS click_id,
               c.user_id AS user_id,
               c.ts AS click_ts,
               p.event_id AS purchase_id,
               p.ts AS purchase_ts,
               p.value AS purchase_value
        FROM events c
        CROSS JOIN cutoff
        LEFT JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL '30 minutes'
         AND p.event_type = 'purchase'
        WHERE c.event_type = 'click'
          AND c.ts <= cutoff.cut
    """,
    "stream_state_inspect": """
        SELECT time_bucket(INTERVAL '1 day', ts) AS win_start,
               event_type,
               COUNT(*)::BIGINT AS n_events
        FROM events
        GROUP BY 1, 2
    """,
    "stream_topk_window": """
        WITH counts AS (
            SELECT time_bucket(INTERVAL '6 hours', ts) AS win_start,
                   event_type,
                   COUNT(*)::BIGINT AS n_events
            FROM events
            GROUP BY 1, 2
        )
        SELECT win_start, event_type, n_events,
               CAST(row_number() OVER (PARTITION BY win_start
                    ORDER BY n_events DESC, event_type ASC) AS BIGINT) AS rnk
        FROM counts
        QUALIFY rnk <= 3
    """,
    "stream_tws_totals": """
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   / 100.0 AS total_value
        FROM events
        GROUP BY user_id
    """,
    "stream_stream_join": """
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id AS user_id,
               c.ts AS click_ts,
               p.ts AS purchase_ts,
               p.value AS purchase_value
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL '30 minutes'
        WHERE c.event_type = 'click'
          AND p.event_type = 'purchase'
    """,
    "stream_static_join": f"""
        SELECT n_name,
               COUNT(*) AS n_events,
               {sql_money_sum('value')} AS sum_value
        FROM events JOIN nation ON n_nationkey = user_id % 25
        GROUP BY n_name
    """,
    "stream_tumbling": f"""
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
               time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS win_end,
               event_type,
               COUNT(*) AS n_events,
               {sql_money_sum('value')} AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    "stream_sliding": """
        WITH expanded AS (
            SELECT event_type,
                   unnest([time_bucket(INTERVAL '5 minutes', ts),
                           time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']
                   ) AS win_start
            FROM events
        )
        SELECT win_start,
               win_start + INTERVAL '10 minutes' AS win_end,
               event_type,
               COUNT(*) AS n_events
        FROM expanded
        GROUP BY 1, 2, 3
    """,
    "stream_session": f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts >= lag(ts) OVER w + INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), islands AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS sess_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS sess_start,
               MAX(ts) + INTERVAL '30 minutes' AS sess_end,
               COUNT(*) AS n_events,
               {sql_money_sum('value')} AS sum_value
        FROM islands
        GROUP BY user_id, sess_id
    """,
    "stream_dedup": """
        SELECT event_id, ts, user_id, event_type, value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY event_id ORDER BY ts, value
            ) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    "stream_late_data": """
        SELECT event_id, ts, user_id, event_type, value
        FROM events
        WHERE ts >= (SELECT MAX(ts) - INTERVAL '1 hour' FROM events)
    """,
    "stream_stateful": """
        SELECT user_id, event_id, ts,
               COUNT(*) OVER w AS n_events_so_far,
               CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER w AS DOUBLE) / 100.0
                   AS value_so_far
        FROM events
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
    """,
}

# the streaming minhash ingest must converge to EXACTLY the batch
# `dedup_fuzzy_minhash` pair set — one oracle definition, two execution
# models (import, not copy, so the contract can never drift)
from aind_data_transformation_spark.queries.llm_text import (  # noqa: E402
    ORACLES as _TEXT_ORACLES,
)

ORACLES["stream_dedup_minhash"] = _TEXT_ORACLES["dedup_fuzzy_minhash"]


def q_stream_txlog_datasource_write(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once streaming ingest through the CONNECTOR's stream
    writer (``df.writeStream.format("txlog")`` —
    io/txlog_source.TxlogStreamWriter), not the engine's foreachBatch
    helper: orders arrive as a 4-file stream (maxFilesPerTrigger=1 → 4
    micro-batches); each epoch's tasks stage Arrow RecordBatches into
    temp parquet and the driver commit publishes a deterministic
    epoch-keyed data dir plus a ``txn`` idempotence marker ATOMICALLY
    in one log version, with ``checkpoint_interval=2`` compacting the
    log into a parquet checkpoint every second commit (Delta's
    checkpointInterval — replay cost stays O(live state + tail) on a
    long-lived streaming table; it runs stdlib-side because the writer
    commits where no SparkSession exists). After the drain, the
    snapshot through the ordinary log replay must equal the full
    orders table — a dropped epoch, a double-committed replay, rows
    leaking across epochs, or a checkpoint that lost an action all
    break the hash. Crash-replay idempotence (commit re-invoked for an
    already-committed epoch, markers surviving compaction) is asserted
    in tests/test_sinks.py."""
    import os

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries import sinks as _sinks

    src = _txlog_sink_stage(spark, sf_dir)
    base = scratch_dir(spark, "stream_txlog_ds_write")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    stream = (
        spark.readStream.schema(
            "o_orderkey bigint, o_orderstatus string, o_totalprice double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.format("txlog")
        .option("path", log_dir)
        .option("checkpoint_interval", "2")
        .option(
            "checkpointLocation", os.path.join(base, "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _sinks._txlog_read(spark, log_dir, as_of=None)


QUERIES["stream_txlog_datasource_write"] = q_stream_txlog_datasource_write
ORACLES["stream_txlog_datasource_write"] = ORACLES["stream_txlog_sink"]


def q_stream_txlog_write_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITIONED exactly-once streaming ingest through the connector
    (``.option("partition_col", ...)`` on the stream writer): each
    micro-batch's tasks split their Arrow batches by o_orderstatus
    (columnar masks) and the epoch commits one Hive-style dir + one
    ``part``-valued add PER PARTITION VALUE, atomically with the
    epoch's txn marker — the same layout and metadata the batch writer
    publishes (`_publish_partitioned` is shared), so partition-pruned
    reads work on the streaming table from the first micro-batch. One
    file per trigger makes each epoch exactly one deterministic hash
    chunk (o_orderkey % 4) REGARDLESS of file pickup order, so the
    pruning evidence is restatable: dirs live = sum of distinct
    statuses per chunk, dirs opened for the 'F' probe = chunks holding
    an F row — a writer that misrouted rows or a reader that opened a
    partition it could prove irrelevant breaks the hash.

    Scale: epochs × partitions metadata rows; each epoch's commit cost
    is its own rows, and the planner never lists a directory."""
    import os

    from pyspark.sql.datasource import EqualTo

    from aind_data_transformation_spark.io import txlog_source
    from aind_data_transformation_spark.queries import sinks as _sinks

    src = _txlog_sink_stage(spark, sf_dir)
    base = scratch_dir(spark, "stream_txlog_part_write")
    log_dir = os.path.join(base, "_log")
    txlog_source.register(spark)
    stream = (
        spark.readStream.schema(
            "o_orderkey bigint, o_orderstatus string, o_totalprice double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.format("txlog")
        .option("path", log_dir)
        .option("partition_col", "o_orderstatus")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    rdr = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
    n_live = len({p.data_dir for p in rdr.partitions()})
    rdr2 = txlog_source.TxlogBatchReader({"path": log_dir}, cols)
    rdr2.pushFilters([EqualTo(("o_orderstatus",), "F")])
    n_scanned = len({p.data_dir for p in rdr2.partitions()})
    snap = (
        spark.read.format("txlog")
        .option("path", log_dir)
        .load()
        .where(F.col("o_orderstatus") == "F")
    )
    return snap.agg(
        F.lit(n_live).cast("long").alias("n_parts_live"),
        F.lit(n_scanned).cast("long").alias("n_parts_scanned"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("sum_keys"),
        F.sum(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        ).cast("long").alias("sum_price_cents"),
    )


QUERIES["stream_txlog_write_partitioned"] = q_stream_txlog_write_partitioned
ORACLES["stream_txlog_write_partitioned"] = """
    WITH e AS (
        SELECT o_orderkey % 4 AS chunk, o_orderstatus FROM orders
    ), live AS (
        SELECT COUNT(*)::BIGINT AS n
        FROM (SELECT DISTINCT chunk, o_orderstatus FROM e)
    ), scanned AS (
        SELECT COUNT(DISTINCT chunk)::BIGINT AS n
        FROM e WHERE o_orderstatus = 'F'
    )
    SELECT (SELECT n FROM live) AS n_parts_live,
           (SELECT n FROM scanned) AS n_parts_scanned,
           COUNT(*)::BIGINT AS n_rows,
           SUM(o_orderkey)::BIGINT AS sum_keys,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
               AS sum_price_cents
    FROM orders WHERE o_orderstatus = 'F'
"""
