"""Structured Streaming jobs over the ``events`` table.

Streaming counterparts of the batch twins in
``queries/streaming_batch.py`` (batch-first rule, SURVEY.md §2): the
transformation expressions are identical; only the source
(``readStream`` + watermark) and sink differ. tests/test_streaming.py
runs each job with ``Trigger.AvailableNow`` into a memory sink and asserts
the result equals the batch twin — the strongest check available for
streaming (the DuckDB oracle can't see a stream).

Scale notes (100 TB / unbounded):
* every aggregation is keyed by (window, key) with a watermark, so state
  size is bounded by (windows open within the watermark) × key cardinality;
* ``dropDuplicatesWithinWatermark`` state is bounded the same way — a plain
  ``dropDuplicates`` on a stream would grow state forever;
* the stateful job uses ``applyInPandasWithState`` with per-group state of
  two longs — constant per key, Arrow-batched transfer;
* sinks go through ``foreachBatch`` in production (parquet append +
  exactly-once via checkpoint); the memory sink here is test-only.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from aind_data_transformation_spark.queries.streaming_batch import (
    SESSION_GAP,
    WATERMARK_DELAY,
)
from aind_data_transformation_spark.io.sources import (
    normalize_event_ts,
    table_schema,
)
from aind_data_transformation_spark.ops import (
    dedup_keep_first,
    merge_upsert,
    scratch_dir,
)

#: events physical schema for synthetic INT64 TIMESTAMP(NANOS) fixtures
#: (tests/test_watermark.py writes these): with
#: spark.sql.legacy.parquet.nanosAsLong the ns timestamp arrives as a raw
#: long and is floor-divided to µs by ``normalize_event_ts``. The real
#: testdata tables may instead be TIMESTAMP(MICROS) — ``read_events_stream``
#: takes the actual footer schema from ``io.sources.table_schema`` (the
#: loader's per-application schema cache) rather than assuming this one.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet (same ns→µs ts
    normalization as the batch ``load_table``)."""
    # streams need an explicit schema; the loader's cached footer schema
    # covers both the ns-as-long and the µs-native files (table_schema also
    # applies the runtime confs the stream reads under)
    raw_schema = table_schema(spark, sf_dir, "events")
    # the file stream source wants a directory; glob-filter to the one table
    reader = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(sf_dir)
    return normalize_event_ts(df)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of q_stream_tumbling (identical expression +
    watermark)."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def m4_downsample_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of q_ts_m4_downsample: per-day M4 chart reduction
    (min/max plus first/last by (ts, event_id) via struct-keyed
    min_by/max_by — all mergeable aggregates, so they run in a
    watermarked streaming aggregation unchanged). The live-dashboard
    form of the error-free line-chart downsample."""
    key = F.struct(F.unix_micros("ts").alias("us"), F.col("event_id"))
    c = F.round(F.col("value") * 100).cast("long")
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            (F.min(c).cast("double") / 100.0).alias("v_min"),
            (F.max(c).cast("double") / 100.0).alias("v_max"),
            (F.min_by(c, key).cast("double") / 100.0).alias("v_first"),
            (F.max_by(c, key).cast("double") / 100.0).alias("v_last"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_points",
            "v_min",
            "v_max",
            "v_first",
            "v_last",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of q_stream_sliding."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
        )
    )


def session_rollup(events: DataFrame) -> DataFrame:
    """Streaming twin of q_stream_session (native session_window +
    watermark; Spark merges/extends open sessions in state)."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Streaming twin of q_stream_dedup: stateful dedup on event_id with
    watermark-bounded state."""
    return events.withWatermark("ts", WATERMARK_DELAY).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)

_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event count + exact value
    total via ``applyInPandasWithState``. State is two longs per user
    (integer cents — associative, so incremental batches are exact)."""

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> bool:
    """True when the transformWithStateInPandas runtime deps (protobuf)
    exist in this Python environment."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def tws_user_totals(events: DataFrame) -> DataFrame:
    """Spark 4 arbitrary-state operator (``transformWithStateInPandas``):
    running per-user event count + exact value total, same semantics as
    ``stateful_user_totals`` but on the new StatefulProcessor API — typed
    value state, explicit lifecycle, RocksDB-backed state store (required
    by this API; also the production choice for large state because it
    spills to disk and supports changelog checkpointing). Batch twin:
    queries/streaming_batch.q_stream_tws_totals.

    Environment gate: the TWS protocol serializes state over protobuf;
    ``google.protobuf`` is not part of this container's baked-in deps, so
    callers should check :func:`tws_available` first (tests skip when it
    is False). On a real cluster with protobuf installed this runs as-is."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (
                tuple(self._totals.get()) if self._totals.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    pdf["value"].mul(100).round().astype("int64").sum()
                )
            self._totals.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [cents / 100.0],
                }
            )

        def close(self) -> None:
            pass

    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotals(),
        outputStructType=_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def nation_enriched_counts(events: DataFrame, nation: DataFrame) -> DataFrame:
    """Stream-static broadcast join: enrich the event stream with the
    nation dim, then aggregate per nation. The static side is planned as
    a broadcast per micro-batch (re-read each trigger, so a slowly-
    changing dim is picked up without restarting the query); the join is
    stateless — watermarks only matter for the downstream aggregation's
    output mode. Batch twin: queries/streaming_batch.q_stream_static_join."""
    from aind_data_transformation_spark.queries.numeric import money_sum

    return (
        events.withColumn("n_nationkey", F.col("user_id") % 25)
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), "n_nationkey")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
    )


def click_purchase_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream interval join: clicks pair with the same user's
    purchases in the following 30 minutes. Both inputs are event streams
    with their own watermark; the time-range condition lets Spark expire
    buffered state once the other side's watermark passes
    ``click_ts + 30 min`` — state stays bounded at (watermark delay +
    interval) per side regardless of stream length. Batch twin:
    queries/streaming_batch.q_stream_stream_join."""
    c = clicks.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", WATERMARK_DELAY)
    p = purchases.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", WATERMARK_DELAY)
    return c.join(
        p,
        F.expr(
            """
            c_uid = p_uid
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL 30 minutes
            """
        ),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_uid").alias("user_id"),
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def click_purchase_left_join(
    clicks: DataFrame, purchases: DataFrame
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click with its
    same-user purchases in the following 30 minutes, or nulls if none
    arrive. Outer results cannot emit eagerly — Spark holds each click
    in state until the purchase-side watermark passes
    ``click_ts + 30 min`` (only then is "no purchase" provable), so null
    rows trail the data by (watermark delay + interval); state stays
    bounded exactly as in the inner form. Batch twin:
    queries/streaming_batch.q_stream_left_join (restricted to the
    provably-emitted region)."""
    c = clicks.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", WATERMARK_DELAY)
    p = purchases.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", WATERMARK_DELAY)
    return c.join(
        p,
        F.expr(
            """
            c_uid = p_uid
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL 30 minutes
            """
        ),
        "leftOuter",
    ).select(
        "click_id",
        F.col("c_uid").alias("user_id"),
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def click_purchase_full_join(
    clicks: DataFrame, purchases: DataFrame
) -> DataFrame:
    """FULL OUTER stream-stream interval join — the third member of the
    interval-join family (inner `click_purchase_join`, left-outer
    `click_purchase_left_join`): every click with its same-user
    purchases in the following 30 minutes, PLUS null-padded rows for
    clicks that provably attracted no purchase AND purchases that
    provably followed no click. Matches emit eagerly; the null-padded
    click emits when the watermark passes ``click_ts + 30 min`` (no
    qualifying purchase can still arrive), the null-padded purchase when
    it passes ``purchase_ts`` (no click whose window could cover it can
    still arrive) — both sides' state stays bounded at
    (watermark delay + interval), same as the inner form.

    Batch twin restricted to the two provable regions is proven
    equivalent in tests/test_streaming.py."""
    c = clicks.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", WATERMARK_DELAY)
    p = purchases.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", WATERMARK_DELAY)
    return c.join(
        p,
        F.expr(
            """
            c_uid = p_uid
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL 30 minutes
            """
        ),
        "fullOuter",
    ).select(
        "click_id",
        F.coalesce("c_uid", "p_uid").alias("user_id"),
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def windowed_topk_foreach_batch(
    events: DataFrame, out: list, k: int = 3
) -> "object":
    """Streaming twin of q_stream_topk_window: the per-window type counts
    aggregate incrementally under the watermark (complete mode keeps all
    windows addressable for ranking); ``foreachBatch`` ranks each
    emitted snapshot and appends the top-k rows per window to ``out``.

    Ranking (row_number) is not an incremental aggregate — the standard
    streaming pattern is aggregate-in-stream, rank-at-sink, which this
    implements. Returns the started query; callers await termination."""
    from pyspark.sql import Window as W

    counts = (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )

    def rank_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("win_start").orderBy(
            F.col("n_events").desc(), F.col("event_type").asc()
        )
        rows = (
            batch_df.withColumn(
                "rnk", F.row_number().over(w).cast("bigint")
            )
            .where(F.col("rnk") <= k)
            .collect()
        )
        out.clear()
        out.extend(rows)

    ckpt = scratch_dir(events.sparkSession, "topk_ckpt")
    return (
        counts.writeStream.outputMode("complete")
        .foreachBatch(rank_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(df: DataFrame, *, mode: str) -> list:
    """Drain a stream built on a bounded source with AvailableNow into a
    memory sink; returns the collected rows. Test/dev helper — production
    sinks use ``write_stream_parquet``."""
    ckpt = scratch_dir(df.sparkSession, "available_now_ckpt")
    # the memory table is named by the call's checkpoint dir: per-call
    name = os.path.basename(ckpt)
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = df.sparkSession.table(name).collect()
    df.sparkSession.catalog.dropTempView(name)
    return rows


def upsert_stream_foreach_batch(
    updates: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key_cols: list,
):
    """CDC apply: drain a stream of upserts into a parquet snapshot via
    ``foreachBatch`` + ``ops.merge_upsert``. Each micro-batch rewrites the
    snapshot with update rows replacing same-key rows (last-writer-wins
    within a batch is made deterministic by max_by on event time upstream).

    This is the production shape for "stream into a mutable table" without
    a lakehouse format: foreachBatch gives exactly-once-per-batch batch
    semantics (checkpoint tracks the applied batch id), and the merge is
    one anti-join + union per batch. The double-buffer write (tmp dir then
    swap) keeps readers from seeing a half-written snapshot; a real
    deployment would swap a metastore pointer instead. Returns the started
    StreamingQuery.
    """
    import shutil

    def apply_batch(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        if len(batch_df.take(1)) == 0:
            return
        # the snapshot exists once some batch swapped it in; one that
        # exists but cannot be read raises instead of being replaced
        # by this batch alone
        merged = batch_df
        if glob.glob(os.path.join(target_dir, "part-*")):
            base = spark.read.parquet(target_dir)
            merged = merge_upsert(
                base, batch_df.select(*base.columns), key_cols
            )
        tmp = f"{target_dir}__staging_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(target_dir, ignore_errors=True)
        shutil.move(tmp, target_dir)

    return (
        updates.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_stream_parquet(df: DataFrame, out_dir: str, checkpoint_dir: str, *, mode: str = "append"):
    """Production sink shape: exactly-once parquet append driven by the
    checkpoint; returns the started StreamingQuery."""
    return (
        df.writeStream.format("parquet")
        .outputMode(mode)
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def incremental_corpus_ingest(
    docs_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
):
    """Incremental corpus ingestion with cross-batch exact dedup: each
    micro-batch of arriving documents is deduped within itself (min
    doc_id per sha256(text)) and then anti-joined against the hashes
    already in the corpus before appending — so re-sent or re-crawled
    documents never enter the corpus twice, across any number of batches
    and restarts (foreachBatch + checkpoint = exactly-once per batch).

    Scale: the anti-join probes only the ``text_sha`` column of the
    existing corpus (column-pruned scan); at 100 TB you'd keep the seen-
    hash set as its own compact parquet (or a Bloom sidecar) instead of
    re-scanning the corpus — same plan, smaller probe side. Returns the
    started StreamingQuery.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        if len(batch_df.take(1)) == 0:
            return
        hashed = batch_df.withColumn("text_sha", F.sha2("text", 256))
        fresh = dedup_keep_first(hashed, ["text_sha"], ["doc_id"])
        # the corpus exists once some batch appended to it; one that
        # exists but cannot be read raises instead of skipping the
        # cross-batch dedup
        if glob.glob(os.path.join(corpus_dir, "part-*")):
            seen = spark.read.parquet(corpus_dir).select("text_sha").distinct()
            fresh = fresh.join(seen, "text_sha", "left_anti")
        fresh.write.mode("append").parquet(corpus_dir)

    return (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def incremental_minhash_dedup_ingest(
    docs_stream: DataFrame,
    sig_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
):
    """Incremental MinHash-LSH NEAR-duplicate detection over an arriving
    document stream (r6 verdict item #3) — the production LLM-ingest
    pattern: shards are deduplicated AS THEY ARRIVE instead of re-running
    the batch dedup over the whole corpus per delivery.

    Per micro-batch (foreachBatch, availableNow):

    1. compute the 8-permutation minhash signature + 2 LSH band keys for
       the NEW documents only (texthash.minhash_signatures — the same
       algebra as the batch `dedup_fuzzy_minhash` key);
    2. equi-join the new docs' band keys against the ACCUMULATED
       signature store plus the batch itself — so candidates are
       (new x all), never (all x all): per-batch cost scales with the
       delivery, not the corpus;
    3. append the normalized candidate pairs (doc_a < doc_b) and the new
       signatures, each into a ``batch_id=N`` partition written with
       OVERWRITE — a replayed batch after a crash rewrites its own
       partition instead of duplicating it, and the store read filters
       ``batch_id < N`` so a half-written replay partition can never
       feed its own candidate join. That pair of guards is what turns
       foreachBatch's at-least-once into exactly-once here.

    The pair partitions are NOT a set: a batch lands its pairs without a
    distinct, so one partition may hold the same pair up to four times
    (two bands, and both join directions of a pair whose two documents
    arrived in the same batch), and a document delivered twice repeats
    its pairs across partitions. Read them only through
    ``read_stream_dedup_pairs``, the distinct over all partitions.

    Equivalence contract (tested in tests/test_streaming.py): after the
    stream drains, ``read_stream_dedup_pairs`` equals the batch
    `dedup_fuzzy_minhash` pair set over the same documents.

    Scale: the signature store is ~40 bytes/doc (orders of magnitude
    smaller than the corpus); the band join is the only shuffle; at
    100 TB the store becomes a bucketed-by-band-key table so each
    arriving shard joins against only its colliding buckets."""
    def apply_batch(batch_df: DataFrame, batch_id: int):
        minhash_dedup_apply_batch(batch_df, batch_id, sig_dir, pairs_dir)

    return (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def minhash_dedup_apply_batch(
    batch_df: DataFrame, batch_id: int, sig_dir: str, pairs_dir: str
) -> None:
    """One micro-batch of the incremental minhash dedup — module-level
    so the crash-replay test can re-apply a batch EXACTLY as a restart
    would (same code path, not a re-derivation). Idempotent by
    construction: both outputs land in ``batch_id=N`` partitions with
    overwrite, and the store read filters ``batch_id < N``."""
    from aind_data_transformation_spark.texthash import minhash_signatures

    spark = batch_df.sparkSession
    banded = (
        minhash_signatures(batch_df, "doc_id", "text")
        .select(
            "doc_id",
            F.concat_ws("_", "mh0", "mh1", "mh2", "mh3").alias("band1"),
            F.concat_ws("_", "mh4", "mh5", "mh6", "mh7").alias("band2"),
        )
        .localCheckpoint()
    )
    # emptiness guard AFTER the signature stage: the take probes the
    # already-checkpointed blocks instead of launching a separate scan
    # job over the delivery file (r13: one fewer job per micro-batch;
    # band keys of an empty batch would also be an empty frame, so the
    # guard's semantics are unchanged)
    if len(banded.take(1)) == 0:
        return
    # the store exists once some batch landed its signatures (empty
    # batches write nothing, so batch N>0 may find none yet); a store
    # that exists but cannot be read raises instead of silently
    # dropping every cross-batch pair
    all_b = banded
    if glob.glob(os.path.join(sig_dir, "batch_id=*")):
        all_b = (
            spark.read.parquet(sig_dir)
            .where(F.col("batch_id") < batch_id)
            .select("doc_id", "band1", "band2")
            .unionByName(banded)
        )
    # ONE equi-join on (band_no, band_key) instead of two per-band joins
    # unioned (r13, guide §2.4: the two joins carried identical inputs
    # under different keys — stacking the two bands as rows keys both
    # probes through a single exchange/broadcast; cross-band collisions
    # stay excluded by the band_no equality, and the distinct() collapse
    # of pairs found by both bands is unchanged)
    stack = "stack(2, 1, band1, 2, band2) AS (bno, bk)"
    a = banded.selectExpr("doc_id AS id_x", stack)
    b = all_b.selectExpr("doc_id AS id_y", stack)
    pairs = (
        a.join(b, ["bno", "bk"])
        .where(F.col("id_x") != F.col("id_y"))
        .select(
            F.least("id_x", "id_y").alias("doc_a"),
            F.greatest("id_x", "id_y").alias("doc_b"),
        )
    )
    # candidates land WITHOUT a per-batch distinct (r13, guide §2.4):
    # `read_stream_dedup_pairs` is already a distinct over all batch
    # partitions (it must be — the same pair can surface in several
    # batches), so the per-batch shuffle only trimmed ≤4 bounded
    # within-batch copies (two bands × two join directions) at the cost
    # of one exchange + one AQE stage job per micro-batch. The store
    # stays pair-bounded; the accumulated SET is unchanged.
    pairs.write.mode("overwrite").parquet(
        os.path.join(pairs_dir, f"batch_id={batch_id}")
    )
    banded.write.mode("overwrite").parquet(
        os.path.join(sig_dir, f"batch_id={batch_id}")
    )


def read_stream_dedup_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """The accumulated near-dup pair set of
    `incremental_minhash_dedup_ingest`: distinct (doc_a, doc_b) across
    all batch partitions — the frame that must equal the batch
    `dedup_fuzzy_minhash` result over the same documents."""
    return (
        spark.read.parquet(pairs_dir).select("doc_a", "doc_b").distinct()
    )


def txlog_epoch_commit(
    batch_df, batch_id: int, log_dir: str, data_dir: str
) -> bool:
    """One micro-batch's exactly-once landing in the transaction log
    (the foreachBatch body of `txlog_stream_commit_ingest`, exposed for
    direct replay testing): write the batch's rows to the DETERMINISTIC
    epoch-keyed path ``data/epoch-<batchId>`` (mode overwrite — a
    replayed batch rewrites the same bytes at the same path, never a
    second copy), then commit it as txlog version == batchId through
    the same put-if-absent primitive the batch writers use. A replay's
    commit attempt finds the version file already present and returns
    False — the epoch is already in the log, nothing to do. That
    idempotent-by-naming + put-if-absent pair is what turns
    foreachBatch's at-least-once into exactly-once."""
    import os

    from aind_data_transformation_spark.io.txlog_source import attempt_commit

    path = os.path.join(data_dir, f"epoch-{int(batch_id):05d}")
    batch_df.write.mode("overwrite").parquet(path)
    os.makedirs(log_dir, exist_ok=True)
    return attempt_commit(
        log_dir,
        int(batch_id),
        [{"commit": int(batch_id), "action": "add", "path": path}],
        op="STREAMING UPDATE",
    )


def txlog_stream_commit_ingest(
    stream, log_dir: str, data_dir: str, checkpoint_dir: str
):
    """Exactly-once STREAMING SINK into the transaction log (r8 verdict
    item #2 — the write-side complement of `sink_txlog_incremental_read`'s
    streaming source): every micro-batch lands as one epoch-keyed txlog
    version via `txlog_epoch_commit`, so a log-tailing consumer
    (`txlog_incremental_files`) sees each epoch exactly once, and the
    whole stream is replay-safe across kill/restart (crash between sink
    commit and checkpoint commit replays the batch; the deterministic
    path + put-if-absent commit make the replay a no-op).

    Version numbering assumes this stream owns the table (epoch N is
    commit N — Delta's txn/appId action generalizes this to shared
    tables). Scale: per-batch cost ∝ the delivery, commit is one
    driver-side O_CREAT|O_EXCL; at 1000 executors the data write
    parallelizes and the log stays metadata-sized."""

    def _commit(batch_df, batch_id):
        txlog_epoch_commit(batch_df, batch_id, log_dir, data_dir)

    return (
        stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

def txlog_cdc_apply_ingest(
    cdc_stream, log_dir: str, checkpoint_dir: str
):
    """Exactly-once streaming CDC apply into the transaction log — the
    MUTATION counterpart of `txlog_stream_commit_ingest` (which only
    appends): every micro-batch of CDC rows (op in D/U/I + full row
    image) is applied through the copy-on-write `txlog_merge`, with the
    batch id as the merge's transactional id (Delta's foreachBatch +
    MERGE + txn recipe). A replayed micro-batch finds its txn id in a
    committed version and skips — a D is never double-tombstoned across
    a rewrite, an I is never double-appended. The merge itself keeps
    its own optimistic concurrency underneath, so external writers can
    interleave with the stream."""
    from aind_data_transformation_spark.queries import sinks as _sinks

    def _apply(batch_df, batch_id):
        _sinks.txlog_merge(
            batch_df.sparkSession,
            log_dir,
            batch_df,
            "o_orderkey",
            txn_id=f"cdc:{int(batch_id)}",
        )

    return (
        cdc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
