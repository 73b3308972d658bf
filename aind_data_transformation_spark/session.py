"""Tuned SparkSession construction for the engine.

Defaults chosen for the 100-TB design point (SURVEY.md §4): AQE on (runtime
shuffle-partition coalescing, skew-join splitting, broadcast demotion),
Arrow for any Python<->JVM exchange, UTC session time zone (oracle
determinism, SURVEY.md §5.2.4), and the legacy nanos-as-long parquet flag so
TIMESTAMP(NANOS) sources (the ``events`` table) are readable.

The JVM-wide generated-code cache is sized above Spark's default of 100
entries. One TrainingCorpusPipelineJob compiles 112-118 classes cold and
one pass of the benchmark's registry workload 118-120, so at the default
every warm pass evicted and recompiled most of its own code: 85 Janino
compiles per warm corpus job and 90 per warm registry pass (sf0.1-shaped
tables, ``local[4]``). With room for 1000 classes both fall to 0-4.
These workloads are short queries, where compile time is a visible share
of latency.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs every engine entry point applies defensively —
#: they matter even when the caller (e.g. the verify driver) owns the session.
RUNTIME_CONFS = {
    # events.parquet stores INT64 TIMESTAMP(NANOS); Spark's reader rejects it
    # unless read as raw long (we convert to microsecond timestamps ourselves).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic time semantics vs the DuckDB oracle (naive timestamps).
    "spark.sql.session.timeZone": "UTC",
    # Arrow-accelerated toPandas / pandas UDF exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI SQL mode — Spark 4's default, pinned explicitly so the whole
    # registry runs under throw-on-overflow / strict-cast semantics even
    # when a caller-owned session was built with it off. Every oracle
    # key passing under ANSI is the proof none relies on wrap-around or
    # lossy casts (r7 verdict item #4); tests/test_ansi.py pins this.
    "spark.sql.ansi.enabled": "true",
}

BUILD_CONFS = {
    # Keep stdout machine-parseable (the bench contract is ONE JSON line).
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.filterPushdown": "true",
    # Python DataSource pushFilters (the txlog connector implements it;
    # Spark hard-fails such a reader when this is off)
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # generated-code cache entries (Spark default 100): above the measured
    # working sets, about 115 classes per corpus job and 120 per registry
    # pass, with headroom for the full registry (module docstring). A
    # static conf, so it only takes effect when the session is built.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime-settable confs on an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked down in this deployment; proceed
    return spark


def build_session(
    app_name: str = "aind-data-transformation-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` falls back to ``local[$SPARK_GRAFT_CPUS]`` (default 32) when
    no cluster master is configured — on a real cluster, leave ``master``
    unset and submit via spark-submit.
    """
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    confs = dict(BUILD_CONFS)
    confs.update(RUNTIME_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions
        if shuffle_partitions is not None
        else int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
