"""End-to-end concrete jobs through the framework surface: settings ->
GenericSparkEtl subclass -> run_job() -> JobResponse with metrics —
the exact usage pattern a reference user brings over."""

from __future__ import annotations

import json

import duckdb

from tests.conftest import TEST_SF_DIR

from aind_data_transformation_spark.jobs import (
    CorpusCleanJob,
    CorpusCleanJobSettings,
    FormatConversionJob,
    FormatConversionJobSettings,
)


def test_format_conversion_parquet_to_json_roundtrip(spark, tmp_path):
    out = tmp_path / "nation_json"
    job = FormatConversionJob(
        FormatConversionJobSettings(
            input_source=f"{TEST_SF_DIR}/nation.parquet",
            output_directory=str(out),
            output_format="json",
            compression="gzip",
        ),
        spark=spark,
    )
    resp = job.run_job()
    assert resp.status_code == 200
    metrics = json.loads(resp.data)
    reread = spark.read.json(str(out))
    assert reread.count() == metrics["rows_written"] > 0
    assert set(reread.columns) == {"n_nationkey", "n_name", "n_regionkey"}


def test_format_conversion_partitioned_parquet(spark, tmp_path):
    out = tmp_path / "orders_by_status"
    job = FormatConversionJob(
        FormatConversionJobSettings(
            input_source=f"{TEST_SF_DIR}/orders.parquet",
            output_directory=str(out),
            partition_by=["o_orderstatus"],
            target_partitions=4,
        ),
        spark=spark,
    )
    resp = job.run_job()
    assert resp.status_code == 200
    dirs = {p.name for p in out.iterdir() if p.name.startswith("o_orderstatus=")}
    assert dirs == {"o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"}


def test_format_conversion_rejects_unknown_format(spark, tmp_path):
    job = FormatConversionJob(
        FormatConversionJobSettings(
            input_source=f"{TEST_SF_DIR}/nation.parquet",
            output_directory=str(tmp_path / "x"),
            output_format="avro",
        ),
        spark=spark,
    )
    assert job.run_job().status_code == 400


def test_corpus_clean_job_matches_oracle(spark, tmp_path):
    out = tmp_path / "clean_docs"
    job = CorpusCleanJob(
        CorpusCleanJobSettings(
            input_source=f"{TEST_SF_DIR}/documents.parquet",
            output_directory=str(out),
        ),
        spark=spark,
    )
    resp = job.run_job()
    assert resp.status_code == 200
    metrics = json.loads(resp.data)
    assert metrics["rows_in"] > metrics["rows_out"] > 0

    con = duckdb.connect()
    want = con.execute(
        f"""
        WITH gated AS (
            SELECT * FROM read_parquet('{TEST_SF_DIR}/documents.parquet')
            WHERE lang IN ('en','de','fr')
              AND n_chars BETWEEN 50 AND 5000
              AND len(string_split(text, ' ')) >= 10
        )
        SELECT COUNT(*) FROM gated
        WHERE doc_id = (SELECT MIN(doc_id) FROM gated g2 WHERE g2.text = gated.text)
        """
    ).fetchone()[0]
    assert metrics["rows_out"] == want
    got_ids = {
        r.doc_id for r in spark.read.parquet(str(out)).select("doc_id").collect()
    }
    want_ids = {
        r[0]
        for r in con.execute(
            f"""
            WITH gated AS (
                SELECT * FROM read_parquet('{TEST_SF_DIR}/documents.parquet')
                WHERE lang IN ('en','de','fr')
                  AND n_chars BETWEEN 50 AND 5000
                  AND len(string_split(text, ' ')) >= 10
            )
            SELECT doc_id FROM gated
            WHERE doc_id = (SELECT MIN(doc_id) FROM gated g2 WHERE g2.text = gated.text)
            """
        ).fetchall()
    }
    assert got_ids == want_ids


def test_compaction_job_reduces_file_count(spark, tmp_path):
    from aind_data_transformation_spark.jobs import (
        CompactionJob,
        CompactionJobSettings,
    )

    # simulate a streaming sink's small-files mess: 64 tiny files
    src = tmp_path / "fragmented"
    orders = spark.read.parquet(f"{TEST_SF_DIR}/orders.parquet")
    orders.repartition(64).write.parquet(str(src))
    assert len(list(src.glob("part-*.parquet"))) == 64

    out = tmp_path / "compacted"
    resp = CompactionJob(
        CompactionJobSettings(
            input_source=str(src),
            output_directory=str(out),
            target_file_bytes=1024 * 1024,
        ),
        spark=spark,
    ).run_job()
    assert resp.status_code == 200
    metrics = json.loads(resp.data)
    n_files = len(list(out.glob("part-*.parquet")))
    assert n_files == metrics["output_files"] < 64
    assert spark.read.parquet(str(out)).count() == metrics["rows_written"] == orders.count()


def test_near_dup_resolve_job_collapses_planted_clusters(spark, tmp_path):
    from aind_data_transformation_spark.jobs import (
        NearDupResolveJob,
        NearDupResolveJobSettings,
    )

    # Plant near-dup clusters: for each of 5 base docs, add two variants
    # that differ by one appended token (trigram-Jaccard stays >= 0.7 for
    # long docs), on top of a corpus of distinct docs.
    docs = (
        spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
        .where("length(text) > 400")
        .orderBy("doc_id")
        .limit(40)
        .select("doc_id", "text")
        .cache()
    )
    base = docs.limit(5)
    v1 = base.selectExpr(
        "doc_id + 1000000 AS doc_id", "concat(text, ' extrawordone') AS text"
    )
    v2 = base.selectExpr(
        "doc_id + 2000000 AS doc_id", "concat(text, ' extrawordtwo') AS text"
    )
    src = tmp_path / "planted"
    docs.unionByName(v1).unionByName(v2).write.parquet(str(src))

    out = tmp_path / "resolved"
    resp = NearDupResolveJob(
        NearDupResolveJobSettings(
            input_source=str(src), output_directory=str(out)
        ),
        spark=spark,
    ).run_job()
    assert resp.status_code == 200
    metrics = json.loads(resp.data)
    assert metrics["rows_in"] == 50

    survivors = {
        r.doc_id for r in spark.read.parquet(str(out)).select("doc_id").collect()
    }
    # No planted variant can survive: each variant's cluster contains its
    # base doc, whose id is smaller, so the variant is never the cluster
    # minimum. (Base docs themselves may merge into bigger clusters — the
    # source corpus has its own planted near-dups — so we don't assert
    # on them individually.)
    assert all(doc_id < 1000000 for doc_id in survivors)
    # at least the 10 planted variants were dropped, bookkeeping consistent
    assert metrics["rows_dropped"] >= 10
    assert metrics["rows_out"] + metrics["rows_dropped"] == 50
    assert len(survivors) == metrics["rows_out"]


def test_format_conversion_orc_roundtrip(spark, tmp_path):
    """parquet -> orc -> parquet through two job runs preserves rows."""
    orc_dir, back_dir = tmp_path / "as_orc", tmp_path / "back"
    r1 = FormatConversionJob(
        FormatConversionJobSettings(
            input_source=f"{TEST_SF_DIR}/customer.parquet",
            output_directory=str(orc_dir),
            output_format="orc",
        ),
        spark=spark,
    ).run_job()
    assert r1.status_code == 200
    r2 = FormatConversionJob(
        FormatConversionJobSettings(
            input_source=str(orc_dir),
            input_format="orc",
            output_directory=str(back_dir),
            output_format="parquet",
        ),
        spark=spark,
    ).run_job()
    assert r2.status_code == 200
    orig = spark.read.parquet(f"{TEST_SF_DIR}/customer.parquet")
    back = spark.read.parquet(str(back_dir))
    assert back.count() == orig.count() == json.loads(r2.data)["rows_written"]
    assert set(back.columns) == set(orig.columns)


def test_neardup_parquet_materialization_identical_to_checkpoint(
    spark, tmp_path
):
    """The fault-tolerant parquet stage-materialization mode must be
    byte-identical to the default localCheckpoint mode — same survivors,
    same metrics — and setting only ``checkpoint_dir`` must actually
    write its stages there."""
    import json

    from aind_data_transformation_spark.jobs import (
        NearDupResolveJob,
        NearDupResolveJobSettings,
    )

    docs = (
        spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
        .where("length(text) > 400")
        .orderBy("doc_id")
        .limit(30)
        .select("doc_id", "text")
    )
    base = docs.limit(4)
    variants = base.selectExpr(
        "doc_id + 1000000 AS doc_id", "concat(text, ' extraword') AS text"
    )
    src = tmp_path / "planted"
    docs.unionByName(variants).write.parquet(str(src))

    results = {}
    for mode in ("checkpoint", "parquet"):
        out = tmp_path / f"resolved_{mode}"
        mat_dir = str(tmp_path / "stages") if mode == "parquet" else None
        resp = NearDupResolveJob(
            NearDupResolveJobSettings(
                input_source=str(src),
                output_directory=str(out),
                checkpoint_dir=mat_dir,
            ),
            spark=spark,
        ).run_job()
        assert resp.status_code == 200
        survivors = sorted(
            r.doc_id
            for r in spark.read.parquet(str(out)).select("doc_id").collect()
        )
        rows_out = json.loads(resp.data)["rows_out"]
        # rows_out is observed on the write, not re-read: it must equal
        # what the output holds
        assert rows_out == len(survivors)
        results[mode] = (survivors, rows_out)

    assert results["checkpoint"] == results["parquet"]
    staged = list((tmp_path / "stages").glob("*.parquet"))
    assert staged, "parquet mode must write stage directories"


def _run_training_corpus_pipeline(spark, out, **settings):
    from aind_data_transformation_spark.jobs import (
        TrainingCorpusPipelineJob,
        TrainingCorpusPipelineJobSettings,
    )

    resp = TrainingCorpusPipelineJob(
        TrainingCorpusPipelineJobSettings(
            input_source=f"{TEST_SF_DIR}/documents.parquet",
            output_directory=str(out),
            n_shards=4,
            **settings,
        ),
        spark=spark,
    ).run_job()
    assert resp.status_code == 200
    return json.loads(resp.data)


def test_training_corpus_pipeline_end_to_end(spark, tmp_path):
    """The capstone pipeline: gate -> exact dedup -> near-dup ->
    decontaminate -> shard write. Checks monotone stage counts, the
    hive-sharded output layout, the gate count against DuckDB, and that
    the staged (durable-boundary) mode gives the same counts and the
    same shard contents, every column included; the staged gate stage
    is exactly CorpusCleanJob's output on the same input."""
    import os

    out1 = tmp_path / "corpus_a"
    m = _run_training_corpus_pipeline(spark, out1)
    assert (
        m["rows_in"] >= m["rows_gated"] >= m["rows_after_neardup"]
        >= m["rows_clean"] > 0
    )
    assert set(m["stage_seconds"]) == {
        "gate", "neardup", "decontaminate", "write"
    }
    # bench sources are gone and the output is hive-sharded
    shard_dirs = [d for d in os.listdir(out1) if d.startswith("shard=")]
    assert 1 <= len(shard_dirs) <= 4
    got = spark.read.parquet(str(out1))
    assert got.where(got.source.isin("src0", "src1")).count() == 0
    assert got.count() == m["rows_clean"]

    # gate + exact dedup keeps one doc per distinct gated text
    want_gated = duckdb.connect().execute(
        f"""
        SELECT count(DISTINCT text)
        FROM read_parquet('{TEST_SF_DIR}/documents.parquet')
        WHERE lang IN ('en', 'de', 'fr') AND n_chars BETWEEN 50 AND 5000
          AND len(string_split(text, ' ')) >= 10
        """
    ).fetchone()[0]
    assert m["rows_gated"] == want_gated

    # rerun with durable staging: identical counts and shard contents
    out2 = tmp_path / "corpus_b"
    staging = tmp_path / "staging"
    m2 = _run_training_corpus_pipeline(
        spark, out2, checkpoint_dir=str(staging)
    )
    rows = {k: v for k, v in m.items() if k.startswith("rows_")}
    assert rows == {k: v for k, v in m2.items() if k.startswith("rows_")}
    for stage in ("stage1_gated", "stage2_neardup", "stage3_clean"):
        assert (staging / f"{stage}.parquet").is_dir(), stage

    def contents(out):
        df = spark.read.parquet(str(out))
        cols = sorted(df.columns)
        return cols, sorted(tuple(r) for r in df.select(*cols).collect())

    assert contents(out1) == contents(out2)

    clean = tmp_path / "corpus_clean"
    resp = CorpusCleanJob(
        CorpusCleanJobSettings(
            input_source=f"{TEST_SF_DIR}/documents.parquet",
            output_directory=str(clean),
        ),
        spark=spark,
    ).run_job()
    assert resp.status_code == 200
    assert contents(clean) == contents(staging / "stage1_gated.parquet")


#: Spark jobs one TrainingCorpusPipelineJob may launch on the test
#: fixture: the count measured when every stage runs once and each
#: stage's row count is observed on the job that materializes it, plus
#: one of headroom for a plan that runs one job more on some runs of the
#: same input. A stage recomputed from its lineage instead of read from
#: its materialized boundary, or counted by a job of its own, fails this.
_CORPUS_PIPELINE_JOB_BUDGET = 35 + 1
#: The same with ``checkpoint_dir`` set: each parquet stage is one write
#: job, and its read-back takes the written schema, so it runs no
#: footer-inference job of its own.
_CORPUS_PIPELINE_STAGED_JOB_BUDGET = 32 + 1


def _pipeline_jobs(spark, tmp_path, **settings) -> int:
    """Spark jobs one TrainingCorpusPipelineJob run launches."""
    sc = spark.sparkContext
    group = f"corpus-pipeline-budget-{tmp_path}"
    sc.setJobGroup(group, "TrainingCorpusPipelineJob job budget")
    try:
        _run_training_corpus_pipeline(spark, tmp_path / "out", **settings)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_training_corpus_pipeline_job_budget(spark, tmp_path):
    n_jobs = _pipeline_jobs(spark, tmp_path)
    assert n_jobs <= _CORPUS_PIPELINE_JOB_BUDGET, (
        f"{n_jobs} Spark jobs > budget {_CORPUS_PIPELINE_JOB_BUDGET}: a"
        " stage is computed more than once"
    )


def test_training_corpus_pipeline_staged_job_budget(spark, tmp_path):
    n_jobs = _pipeline_jobs(
        spark, tmp_path, checkpoint_dir=str(tmp_path / "stages")
    )
    assert n_jobs <= _CORPUS_PIPELINE_STAGED_JOB_BUDGET, (
        f"{n_jobs} Spark jobs > budget {_CORPUS_PIPELINE_STAGED_JOB_BUDGET}:"
        " a stage is computed more than once or a staged read-back"
        " infers its schema"
    )


#: Janino compiles the second of two back-to-back TrainingCorpusPipelineJob
#: runs may pay. The job's working set is about 115 generated classes;
#: with the session's generated-code cache sized above it the warm run
#: compiled 0-12 (plan variants the cold run did not meet). At Spark's
#: default of 100 entries it recompiled 83-105.
_CORPUS_WARM_COMPILE_BUDGET = 20


def test_training_corpus_pipeline_warm_rerun_compile_budget(spark, tmp_path):
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        return codegen.METRIC_COMPILATION_TIME().getCount()

    _run_training_corpus_pipeline(spark, tmp_path / "cold")
    before = compiles()
    _run_training_corpus_pipeline(spark, tmp_path / "warm")
    n_compiles = compiles() - before
    assert n_compiles <= _CORPUS_WARM_COMPILE_BUDGET, (
        f"warm rerun compiled {n_compiles} classes > budget"
        f" {_CORPUS_WARM_COMPILE_BUDGET}: the generated-code cache no"
        " longer holds the job's working set"
    )


def test_session_knobs_shuffle_partitions_and_state_store(spark, tmp_path):
    """The SCALE.md cluster knobs are real settings: shuffle_partitions
    and streaming_state_store apply to the session (runtime confs, safe
    on an externally-owned session)."""
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        job = FormatConversionJob(
            FormatConversionJobSettings(
                input_source=f"{TEST_SF_DIR}/nation.parquet",
                output_directory=str(tmp_path / "out"),
                shuffle_partitions=7,
                streaming_state_store="rocksdb",
            ),
            spark=spark,
        )
        s = job.spark  # applies the knobs
        assert s.conf.get("spark.sql.shuffle.partitions") == "7"
        assert "RocksDBStateStoreProvider" in s.conf.get(
            "spark.sql.streaming.stateStore.providerClass"
        )
        resp = job.run_job()
        assert resp.status_code == 200
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_ann_index_build_job_publishes_and_validates(spark, tmp_path):
    """AnnIndexBuildJob end-to-end: packed code table + bounds sidecar
    land on disk, the published index answers probe queries, and the
    validation recall clears the publish gate."""
    import json as _json

    from aind_data_transformation_spark.jobs import (
        AnnIndexBuildJob,
        AnnIndexBuildJobSettings,
    )

    out = tmp_path / "ann_index"
    job = AnnIndexBuildJob(
        AnnIndexBuildJobSettings(
            input_source=f"{TEST_SF_DIR}/embeddings.parquet",
            output_directory=str(out),
        ),
        spark=spark,
    )
    resp = job.run_job()
    assert resp.status_code == 200, resp.message
    m = _json.loads(resp.data)
    assert m["recall_at_k"] >= 0.6
    codes = spark.read.parquet(str(out / "codes"))
    assert codes.count() == m["n_vectors"] > 0
    row = codes.first()
    assert len(row["w"]) == 4  # 4 packed BIGINT words = 32 bytes/vector
    b = spark.read.parquet(str(out / "bounds")).first()
    assert len(b["mn"]) == 64 and len(b["mx"]) == 64


def test_streaming_ingest_job_incremental(spark, tmp_path):
    """Two CLI-level invocations of StreamingIngestJob over a growing
    source dir: run 2 drains ONLY the new file (checkpointed offsets),
    appends only newly-finalized windows, and the union of both runs'
    sink rows equals the batch aggregation over the watermark-finalized
    region — incremental, exactly-once."""
    import json as _json

    from pyspark.sql import functions as F

    from aind_data_transformation_spark.jobs import (
        StreamingIngestJob,
        StreamingIngestJobSettings,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = spark.read.parquet(f"{TEST_SF_DIR}/events.parquet").orderBy("ts")
    n = ev.count()
    first, second = ev.limit(n // 2), ev.subtract(ev.limit(n // 2))
    first.coalesce(1).write.mode("append").parquet(src)

    def run():
        job = StreamingIngestJob(
            StreamingIngestJobSettings(
                input_source=src,
                output_directory=out,
                checkpoint_dir=ckpt,
            ),
            spark=spark,
        )
        resp = job.run_job()
        assert resp.status_code == 200
        return _json.loads(resp.data)["sink_rows_total"]

    n1 = run()
    second.coalesce(1).write.mode("append").parquet(src)
    n2 = run()
    assert n2 >= n1

    sink = spark.read.parquet(out)
    # exactly-once: no window/type appears twice
    dup = (
        sink.groupBy("win_start", "event_type")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    # every sink row matches the batch aggregation over the full source
    batch = (
        spark.read.parquet(src)
        .groupBy(
            F.window("ts", "10 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("win_start"), "event_type", "n_events"
        )
    )
    got = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in sink.collect()
    }
    want = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in batch.collect()
    }
    assert got, "no finalized windows written"
    for k, v in got.items():
        assert want.get(k) == v, k


def test_corpus_job_settings_reject_removed_dir_names():
    """``checkpoint_dir`` is the one stage directory: a config still
    naming a removed per-job stage directory fails validation instead of
    silently running unstaged."""
    import pytest
    from pydantic import ValidationError

    from aind_data_transformation_spark.jobs import (
        NearDupResolveJobSettings,
        TrainingCorpusPipelineJobSettings,
    )

    for cls, name in (
        (NearDupResolveJobSettings, "materialize_dir"),
        (TrainingCorpusPipelineJobSettings, "staging_dir"),
    ):
        with pytest.raises(ValidationError):
            cls(input_source="/in", output_directory="/out", **{name: "/d"})


def test_jobs_declare_each_setting_and_near_dup_stage_once():
    """Each settings field in ``jobs.py`` is declared by one class (a
    composite job inherits its stage jobs' settings), and the near-dup
    stage's ``verified_near_dups`` and ``connected_components`` are each
    called from one function, which every near-dup job shares."""
    import ast
    import collections

    import aind_data_transformation_spark.jobs as jobs

    tree = ast.parse(open(jobs.__file__).read(), jobs.__file__)
    declared = collections.defaultdict(list)
    for cls in (n for n in tree.body if isinstance(n, ast.ClassDef)):
        for stmt in cls.body:
            if isinstance(stmt, ast.AnnAssign):
                declared[stmt.target.id].append(cls.name)
    twice = {f: c for f, c in declared.items() if len(c) > 1}
    assert not twice, f"settings declared in more than one class: {twice}"

    callers = collections.defaultdict(set)
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "id", None) or getattr(
                    node.func, "attr", ""
                )
                if name in ("verified_near_dups", "connected_components"):
                    callers[name].add(fn.name)
    assert {k: len(v) for k, v in callers.items()} == {
        "verified_near_dups": 1,
        "connected_components": 1,
    }, dict(callers)
