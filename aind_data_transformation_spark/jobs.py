"""Concrete ETL jobs: what a reference user writes against the framework
(subclass the generic job, implement ``run_job``, get a ``JobResponse`` —
reference README.md:12-47 usage pattern), rebuilt as Spark pipelines.

Seven jobs cover the reference's documented job domain plus the engine's
LLM-pipeline and lakehouse extensions:

* :class:`FormatConversionJob` — the reference's literal purpose
  ("compression and format conversion", reference pyproject.toml:7,
  README.md:12): read any supported format, write any other, with codec,
  partitioning, and file-count control from settings.
* :class:`CompactionJob` — small-files compaction of a parquet directory
  into files of a target size.
* :class:`CorpusCleanJob` — the 100-TB training-data shape: language/
  quality gate -> exact dedup, one declarative plan, metrics in
  ``JobResponse.data``.
* :class:`NearDupResolveJob` — the fuzzy tier CorpusCleanJob's exact hash
  can't catch: MinHash-LSH candidates -> exact-Jaccard verification ->
  connected components -> keep one survivor per duplicate cluster.
* :class:`TrainingCorpusPipelineJob` — the two stages above chained with
  benchmark decontamination and a deterministic shard write.
* :class:`AnnIndexBuildJob` — build, publish and validate a quantized
  ANN index over an embeddings table.
* :class:`StreamingIngestJob` — incremental watermark-windowed event
  aggregation into a parquet sink.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, Observation, functions as F

from aind_data_transformation_spark.core import (
    GenericSparkEtl,
    JobResponse,
    SparkJobSettings,
)
from aind_data_transformation_spark.ops import (
    attach_broadcast,
    connected_components,
    dedup_keep_first,
    knuth32,
    local_materializer,
    materialize_observed,
    parquet_materializer,
    scratch_dir,
)
from aind_data_transformation_spark.texthash import (
    token_grams,
    verified_near_dups,
)


def _stage_materializer(s: SparkJobSettings):
    """Durable parquet stages under ``checkpoint_dir`` when it is set
    (the fault-tolerant cluster mode: a lost executor replays from
    storage), executor-local checkpoints otherwise."""
    if s.checkpoint_dir:
        return parquet_materializer(s.checkpoint_dir)
    return local_materializer


def _gate_exact_dedup(docs: DataFrame, s: CorpusCleanJobSettings) -> DataFrame:
    """Language / length / token-count quality gate, then exact dedup on
    sha256(text) keeping the min-doc_id survivor: one scan-level filter
    and one hash-window shuffle, no collect, no loop."""
    gated = docs.where(
        F.col("lang").isin(s.langs)
        & F.col("n_chars").between(s.min_chars, s.max_chars)
        & (F.size(F.split("text", " ")) >= s.min_tokens)
    )
    return dedup_keep_first(gated, [F.sha2("text", 256)], ["doc_id"])


def _resolve_near_dups(
    docs: DataFrame, threshold: float, mat
) -> tuple[DataFrame, DataFrame]:
    """MinHash-LSH candidates -> exact trigram-Jaccard verification (>=
    ``threshold``) -> connected components -> anti-join the non-survivors
    out of ``docs``. Returns ``(survivors, components)``; components are
    ``(node, component)`` rows. Every stage and component round is
    materialized through ``mat``."""
    edges = verified_near_dups(
        docs, "doc_id", "text", threshold=threshold, materializer=mat
    )
    comps = connected_components(edges, "id_a", "id_b", materializer=mat)
    # survivor = min doc_id per component == the component label itself
    losers = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti"), comps


class FormatConversionJobSettings(SparkJobSettings):
    """IO knobs are inherited: input_format/output_format (parquet, csv,
    json), compression, partition_by, target_partitions."""


class FormatConversionJob(GenericSparkEtl[FormatConversionJobSettings]):
    """Read ``input_source`` in ``input_format``, write ``output_directory``
    in ``output_format`` with the requested codec / partitioning / file
    count. The whole job is one scan->write plan: no driver materialization,
    so it streams through executors at any scale."""

    def _read(self) -> DataFrame:
        s = self.job_settings
        reader = self.spark.read
        if s.input_format == "parquet":
            return reader.parquet(str(s.input_source))
        if s.input_format == "csv":
            return reader.option("header", "true").option("inferSchema", "true").csv(
                str(s.input_source)
            )
        if s.input_format == "json":
            return reader.json(str(s.input_source))
        if s.input_format == "orc":
            return reader.orc(str(s.input_source))
        raise ValueError(f"unsupported input_format: {s.input_format}")

    def run_job(self) -> JobResponse:
        started = time.time()
        s = self.job_settings
        df = self._read()
        # row count rides along with the write (df.observe) — a separate
        # count() would scan the full input a second time, which at 100 TB
        # doubles the job cost
        obs = Observation("fmt_conv")
        df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        if s.target_partitions:
            df = df.repartition(s.target_partitions)
        # columnar codecs (zstd) aren't available for the text sinks in a
        # stock Hadoop build — degrade to gzip rather than fail the job
        codec = s.compression
        if s.output_format in ("csv", "json") and codec in ("zstd", "lz4raw"):
            codec = "gzip"
        writer = df.write.mode("overwrite").option("compression", codec)
        if s.partition_by:
            writer = writer.partitionBy(*s.partition_by)
        out = str(s.output_directory)
        if s.output_format == "parquet":
            writer.parquet(out)
        elif s.output_format == "csv":
            writer.option("header", "true").csv(out)
        elif s.output_format == "json":
            writer.json(out)
        elif s.output_format == "orc":
            writer.orc(out)
        else:
            return JobResponse(
                status_code=400,
                message=f"unsupported output_format: {s.output_format}",
            )
        return self.timed_response(
            started,
            rows_written=int(obs.get["n_rows"]),
            output_format=s.output_format,
            compression=codec,
        )


class CompactionJobSettings(SparkJobSettings):
    target_file_bytes: int = 128 * 1024 * 1024


class CompactionJob(GenericSparkEtl[CompactionJobSettings]):
    """Small-files compaction: rewrite a parquet directory into files of
    ~``target_file_bytes`` each. The #1 recurring maintenance job on any
    large lake — streaming sinks and over-parallel writers leave thousands
    of tiny files that wreck scan planning (one task per file) and listing.

    File count is sized from the actual on-disk bytes; the rewrite is a
    single scan->repartition->write plan (one shuffle, no driver data)."""

    def run_job(self) -> JobResponse:
        started = time.time()
        s = self.job_settings
        src = str(s.input_source)
        df = self.spark.read.parquet(src)
        # on-disk size via the Hadoop FS API (works for any scheme)
        jvm = self.spark.sparkContext._jvm
        jsc = self.spark.sparkContext._jsc
        path = jvm.org.apache.hadoop.fs.Path(src)
        fs = path.getFileSystem(jsc.hadoopConfiguration())
        total_bytes = fs.getContentSummary(path).getLength()
        n_files = max(1, -(-total_bytes // s.target_file_bytes))  # ceil
        obs = Observation("compaction")
        df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        df.repartition(int(n_files)).write.mode("overwrite").option(
            "compression", s.compression
        ).parquet(str(s.output_directory))
        return self.timed_response(
            started,
            rows_written=int(obs.get["n_rows"]),
            input_bytes=int(total_bytes),
            output_files=int(n_files),
        )


class CorpusCleanJobSettings(SparkJobSettings):
    langs: list[str] = ["en", "de", "fr"]
    min_chars: int = 50
    max_chars: int = 5000
    min_tokens: int = 10


class CorpusCleanJob(GenericSparkEtl[CorpusCleanJobSettings]):
    """Pretraining-corpus cleaning: quality gate -> exact-hash dedup
    (min-doc_id survivor) -> write, as one declarative plan
    (:func:`_gate_exact_dedup`)."""

    def run_job(self) -> JobResponse:
        started = time.time()
        s = self.job_settings
        docs = self.spark.read.parquet(str(s.input_source))
        # both counts ride the single write pass: one observation on the
        # raw scan, one on the final plan — no extra count() scan of the
        # input and no re-read of the output
        obs_in = Observation("corpus_in")
        obs_out = Observation("corpus_out")
        docs = docs.observe(obs_in, F.count(F.lit(1)).alias("n"))
        deduped = _gate_exact_dedup(docs, s).observe(
            obs_out, F.count(F.lit(1)).alias("n")
        )
        deduped.write.mode("overwrite").option(
            "compression", s.compression
        ).parquet(str(s.output_directory))
        n_in = int(obs_in.get["n"])
        n_out = int(obs_out.get["n"])
        return self.timed_response(
            started, rows_in=n_in, rows_out=n_out, rows_dropped=n_in - n_out
        )


class NearDupResolveJobSettings(SparkJobSettings):
    jaccard_threshold: float = 0.7


class NearDupResolveJob(GenericSparkEtl[NearDupResolveJobSettings]):
    """Fuzzy dedup tier: resolve near-duplicate documents into clusters
    and keep one survivor per cluster.

    Pipeline (all distributed, no driver data): MinHash-LSH candidate
    pairs -> exact trigram-Jaccard verification (>= threshold) ->
    connected components over the duplicate edges -> anti-join the
    non-survivors out of the corpus. At 100 TB the expensive stages are
    bounded by the candidate set (LSH buckets), not the corpus: the
    verify join and the component graph only ever see docs that share a
    signature band. With ``checkpoint_dir`` set, LSH bands, candidate
    pairs, trigram sets and per-round component labels are staged there
    as parquet."""

    def run_job(self) -> JobResponse:
        started = time.time()
        s = self.job_settings
        docs = self.spark.read.parquet(str(s.input_source))
        n_in = docs.count()

        survivors, comps = _resolve_near_dups(
            docs, s.jaccard_threshold, _stage_materializer(s)
        )
        # rows_out rides the write (observed at the root, as in
        # CorpusCleanJob) — no re-read of the output
        obs_out = Observation("neardup_out")
        survivors = survivors.observe(obs_out, F.count(F.lit(1)).alias("n"))
        survivors.write.mode("overwrite").option(
            "compression", s.compression
        ).parquet(str(s.output_directory))
        n_out = int(obs_out.get["n"])
        n_clusters = comps.select("component").distinct().count()
        return self.timed_response(
            started,
            rows_in=n_in,
            rows_out=n_out,
            near_dup_clusters=n_clusters,
            rows_dropped=n_in - n_out,
        )


class TrainingCorpusPipelineJobSettings(
    CorpusCleanJobSettings, NearDupResolveJobSettings
):
    """End-to-end corpus build: gate -> exact dedup -> near-dup resolve ->
    benchmark decontamination -> deterministic shard write. The gate and
    near-dup knobs are the two stage jobs' own settings."""

    #: sources treated as evaluation benchmarks; any training doc sharing
    #: a token 8-gram with them is dropped (and bench docs themselves are
    #: excluded from the output corpus)
    bench_sources: list[str] = ["src0", "src1"]
    n_shards: int = 16


class TrainingCorpusPipelineJob(
    GenericSparkEtl[TrainingCorpusPipelineJobSettings]
):
    """The 100-TB training-corpus pipeline as ONE job: every stage is the
    operator already proven in isolation (CorpusCleanJob's
    :func:`_gate_exact_dedup`, NearDupResolveJob's
    :func:`_resolve_near_dups`, corpus_decontaminate's 8-gram probe,
    corpus_shuffle_shard's deterministic sharding), chained through
    materialized stage boundaries so each stage runs once.
    ``JobResponse.data`` carries the per-stage row counts and
    ``stage_seconds`` (gate, neardup, decontaminate, write).

    With ``checkpoint_dir`` set, every stage materializes as parquet under
    it — the stage boundaries ``stage1_gated.parquet``,
    ``stage2_neardup.parquet`` and ``stage3_clean.parquet``, and the
    near-dup work ``lsh_banded``, ``lsh_cands``, ``verify_trigrams``,
    ``cc_edges`` and ``cc_labels_{round}`` for rounds 1, 2, ... (each
    ``.parquet``; the starting labels are computed inline, not staged) —
    the fault-tolerant cluster mode: lost executors replay from storage.
    Unset, the same boundaries are executor-local checkpoints (fine in
    local mode).

    Scale shape per stage: (1) gate is a scan-level filter + one
    hash-window dedup on sha256(text); (2) near-dup cost is bounded by
    LSH bucket collisions, never corpus²; (3) the benchmark 8-gram set is
    distinct-small -> broadcast left-anti probe, zero shuffle of the
    training side; (4) the shard write repartitions on the shard id so
    each output directory is written in parallel with bounded file
    counts."""

    def run_job(self) -> JobResponse:
        started = time.time()
        s = self.job_settings
        # one materializer for every stage boundary, near-dup stage and
        # connected-components round: each stage runs once, and every
        # stage's rows_* count is observed on the job that materializes it
        mat = _stage_materializer(s)
        stage_seconds = {}
        docs = self.spark.read.parquet(str(s.input_source))
        n_in = docs.count()

        # stage 1: quality gate + exact dedup (min-doc_id survivor)
        t0 = time.perf_counter()
        exact, seen = materialize_observed(
            mat, _gate_exact_dedup(docs, s), "stage1_gated",
            rows=F.count(F.lit(1)),
        )
        n_gated = seen["rows"]
        stage_seconds["gate"] = time.perf_counter() - t0

        # stage 2: near-dup clusters -> one survivor per cluster
        t0 = time.perf_counter()
        survivors, _ = _resolve_near_dups(exact, s.jaccard_threshold, mat)
        neardup, seen = materialize_observed(
            mat, survivors, "stage2_neardup", rows=F.count(F.lit(1)),
        )
        n_neardup = seen["rows"]
        stage_seconds["neardup"] = time.perf_counter() - t0

        # stage 3: benchmark decontamination (8-gram overlap, bench side
        # is distinct-small -> broadcast anti-join; training side never
        # shuffles)
        t0 = time.perf_counter()
        is_bench = F.col("source").isin(s.bench_sources)
        bench_grams = token_grams(docs.where(is_bench), []).distinct()
        train = neardup.where(~is_bench)
        contaminated = (
            token_grams(train, ["doc_id"])
            .join(F.broadcast(bench_grams), "gram", "left_semi")
            .select("doc_id")
            .distinct()
        )
        clean, seen = materialize_observed(
            mat, train.join(contaminated, "doc_id", "left_anti"), "stage3_clean",
            rows=F.count(F.lit(1)),
        )
        n_clean = seen["rows"]
        stage_seconds["decontaminate"] = time.perf_counter() - t0

        # stage 4: deterministic shuffle-shard write (Knuth multiplicative
        # key -> shard; partition-parallel, pruned reads per shard)
        t0 = time.perf_counter()
        key = knuth32(F.col("doc_id"))
        sharded = clean.withColumn(
            "shard", (key % s.n_shards).cast("long")
        )
        (
            sharded.repartition(s.n_shards, "shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .option("compression", s.compression)
            .parquet(str(s.output_directory))
        )
        stage_seconds["write"] = time.perf_counter() - t0
        return self.timed_response(
            started,
            rows_in=n_in,
            rows_gated=n_gated,
            rows_after_neardup=n_neardup,
            rows_clean=n_clean,
            exact_dropped=n_in - n_gated,
            neardup_dropped=n_gated - n_neardup,
            contaminated_dropped=n_neardup - n_clean,
            n_shards=s.n_shards,
            stage_seconds={k: round(v, 3) for k, v in stage_seconds.items()},
        )


class AnnIndexBuildJobSettings(SparkJobSettings):
    """ANN index build: probe-set size and rerank depth knobs."""

    n_probe_queries: int = 5
    top_k: int = 5


class AnnIndexBuildJob(GenericSparkEtl[AnnIndexBuildJobSettings]):
    """Build a scalar-quantization ANN index from an embeddings table and
    validate it before publishing — the production packaging of the
    ``ann_pq_topk`` operator family (queries/llm_vectors.py).

    Pipeline (all distributed):
      1. L2-normalize and quantize each vector to integer micros;
      2. per-dimension corpus min/max bounds (128 map-side-combining
         aggregations) written as a 1-row parquet sidecar;
      3. 4-bit codes packed 16-per-BIGINT into 4 words — 32 bytes/vector
         of index state — written as the parquet code table;
      4. validation: re-read the published index, run the ADC scan +
         exact rerank for a deterministic probe set, and compute
         recall@k against exact brute-force cosine. The job FAILS
         (status 500) if recall drops below 0.6 — an index that cannot
         find true neighbors must never be published.

    ``JobResponse.data`` reports vectors indexed, code-table bytes, and
    the measured recall — the go/no-go numbers an embedding-store deploy
    gates on."""

    def run_job(self) -> JobResponse:
        from pyspark.sql import Window

        started = time.time()
        s = self.job_settings
        out = str(s.output_directory)
        em = self.spark.read.parquet(str(s.input_source)).select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                "emb"
            ),
        )
        norm = F.sqrt(
            F.expr(
                "aggregate(zip_with(emb, emb, (x, y) -> x * y), 0.0D,"
                " (acc, x) -> acc + x)"
            )
        )
        base = em.select("vec_id", "emb", norm.alias("nrm")).withColumn(
            "v",
            F.expr("transform(emb, x -> CAST(round(x / nrm * 1e6) AS BIGINT))"),
        )
        dims = 64
        bounds = base.agg(
            *[F.min(F.element_at("v", d + 1)).alias(f"mn{d}") for d in range(dims)],
            *[F.max(F.element_at("v", d + 1)).alias(f"mx{d}") for d in range(dims)],
        ).select(
            F.array(*[F.col(f"mn{d}") for d in range(dims)]).alias("mn"),
            F.array(*[F.col(f"mx{d}") for d in range(dims)]).alias("mx"),
        )
        bounds.write.mode("overwrite").parquet(f"{out}/bounds")
        b = self.spark.read.parquet(f"{out}/bounds")
        words = (
            "transform(sequence(0, 3), wd -> "
            " aggregate(sequence(wd * 16, wd * 16 + 15), 0L, (acc, d) ->"
            "  acc + shiftleft(least(15,"
            "   ((element_at(v, CAST(d + 1 AS INT))"
            "     - element_at(mn, CAST(d + 1 AS INT))) * 16)"
            "   DIV (element_at(mx, CAST(d + 1 AS INT))"
            "        - element_at(mn, CAST(d + 1 AS INT)) + 1)),"
            "  CAST(4 * (d % 16) AS INT))))"
        )
        codes = base.transform(attach_broadcast, F.broadcast(b)).select(
            "vec_id", F.expr(words).alias("w")
        )
        codes.write.mode("overwrite").option(
            "compression", s.compression
        ).parquet(f"{out}/codes")

        # validation: query the PUBLISHED index (re-read from disk)
        idx = self.spark.read.parquet(f"{out}/codes")
        n_vectors = idx.count()
        queries = base.where(F.col("vec_id") < s.n_probe_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.col("v").alias("qv"),
        )
        recon = (
            "(element_at(mn, CAST(d + 1 AS INT)) +"
            " ((2 * (shiftright(element_at(w, CAST(d DIV 16 + 1 AS INT)),"
            "        CAST(4 * (d % 16) AS INT)) & 15) + 1)"
            "  * (element_at(mx, CAST(d + 1 AS INT))"
            "     - element_at(mn, CAST(d + 1 AS INT)) + 1)) DIV 32)"
        )
        adc = (
            "aggregate(sequence(0, 63), 0L, (acc, d) -> acc + "
            f" (element_at(qv, CAST(d + 1 AS INT)) - {recon})"
            f" * (element_at(qv, CAST(d + 1 AS INT)) - {recon}))"
        )
        scored = (
            idx.transform(attach_broadcast, F.broadcast(b))
            .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
            .withColumn("adc_dist", F.expr(adc))
        )
        w_adc = Window.partitionBy("query_id").orderBy(
            F.col("adc_dist").asc(), F.col("vec_id").asc()
        )
        cands = scored.withColumn(
            "adc_rank", F.row_number().over(w_adc)
        ).where(F.col("adc_rank") <= 3 * s.top_k)
        # exact rerank joins the original vectors back by id
        vecs = base.select("vec_id", F.col("emb").alias("c_emb"), F.col("nrm").alias("c_nrm"))
        dot = F.expr(
            "aggregate(zip_with(c_emb, q_emb, (x, y) -> x * y), 0.0D,"
            " (acc, x) -> acc + x)"
        )
        w_cos = Window.partitionBy("query_id").orderBy(
            F.col("cos_r9").desc(), F.col("vec_id").asc()
        )
        approx = (
            cands.join(vecs, "vec_id")
            .withColumn(
                "cos_r9", F.round(dot / (F.col("c_nrm") * F.col("q_nrm")), 9)
            )
            .withColumn("rank", F.row_number().over(w_cos))
            .where(F.col("rank") <= s.top_k)
            .select("query_id", "vec_id")
        )
        # exact brute-force ground truth on the raw vectors
        exact_scored = vecs.join(
            F.broadcast(queries), F.col("vec_id") != F.col("query_id")
        ).withColumn(
            "cos_r9", F.round(dot / (F.col("c_nrm") * F.col("q_nrm")), 9)
        )
        exact = (
            exact_scored.withColumn("rank", F.row_number().over(w_cos))
            .where(F.col("rank") <= s.top_k)
            .select(
                F.col("query_id").alias("eq"), F.col("vec_id").alias("ev")
            )
        )
        hits = approx.join(
            exact,
            (F.col("query_id") == F.col("eq")) & (F.col("vec_id") == F.col("ev")),
            "left_semi",
        ).count()
        # denominator = the ACTUAL exact ground-truth pair count, not
        # n_probe_queries * top_k: on a sparse / non-zero-based vec_id
        # domain (or a corpus smaller than top_k+1) the assumed product
        # overstates the attainable hits and a perfect index would
        # spuriously fail validation
        total = exact.count()
        if total == 0:
            return JobResponse(
                status_code=500,
                message="index validation failed: empty probe ground"
                " truth (no probe query ids present in the corpus)",
                data=json.dumps({"n_vectors": int(n_vectors)}),
            )
        recall = hits / total
        payload = {
            "n_vectors": int(n_vectors),
            "code_bytes_per_vector": 32,
            "recall_at_k": round(recall, 4),
            "k": s.top_k,
        }
        if recall < 0.6:
            payload["seconds"] = round(time.time() - started, 3)
            return JobResponse(
                status_code=500,
                message=f"index validation failed: recall {recall:.2f} < 0.6",
                data=json.dumps(payload),
            )
        return self.timed_response(started, **payload)


class StreamingIngestJobSettings(SparkJobSettings):
    """Settings for the incremental streaming ingest: event-time window
    width and watermark (late-data tolerance)."""

    window: str = "10 minutes"
    watermark_delay: str = "1 hour"


class StreamingIngestJob(GenericSparkEtl[StreamingIngestJobSettings]):
    """Incremental streaming ingest (Trigger.AvailableNow — the modern
    production pattern for periodic pipelines): drain whatever NEW event
    files appeared since the last run, roll them into watermark-finalized
    per-type tumbling-window aggregates, and append to a parquet sink
    exactly once. The checkpoint (``checkpoint_dir`` knob) carries source
    offsets AND window state across invocations, so re-running the job is
    an incremental batch, not a recompute — windows still inside the
    watermark stay in state and finalize on a later run. Pairs with the
    ``streaming_state_store='rocksdb'`` knob for heap-free state. With
    ``checkpoint_dir`` unset the checkpoint is a scratch dir that lives
    only as long as the Spark application, so a later process starts
    over; set ``checkpoint_dir`` to resume across processes.

    Scale: the aggregation is the same partial+final hash-agg shape as the
    batch twin (queries/streaming_batch.q_stream_tumbling); state size is
    bounded by (open windows × types), not stream length."""

    def run_job(self) -> JobResponse:
        import os

        from aind_data_transformation_spark.io.sources import (
            normalize_event_ts,
        )
        from aind_data_transformation_spark.session import (
            apply_runtime_confs,
        )

        started = time.time()
        s = self.spark
        st = self.job_settings
        apply_runtime_confs(s)
        # production shape: input_source is a DIRECTORY of event parquet
        # files that grows between invocations; schema from the footer
        src_dir = str(st.input_source)
        schema = s.read.parquet(src_dir).schema
        events = normalize_event_ts(
            s.readStream.schema(schema).parquet(src_dir)
        )
        agg = (
            events.withWatermark("ts", st.watermark_delay)
            .groupBy(F.window("ts", st.window), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (
                    F.sum(
                        F.round(F.col("value") * 100).cast("long")
                    ).cast("double")
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
        out = str(st.output_directory)
        ckpt = str(st.checkpoint_dir or scratch_dir(s, "ingest_ckpt"))
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_rows = s.read.parquet(out).count() if os.path.isdir(out) else 0
        return self.timed_response(
            started, sink_rows_total=int(n_rows), checkpoint=ckpt
        )
