"""Reusable composite operators: the library pieces Spark lacks natively,
built as compositions of DataFrame primitives (SURVEY.md §4: nothing here
needs a custom Catalyst rule — these are algorithmic, not planner-level).

Every operator is a pure DataFrame -> DataFrame function, independent of
the driver tables, so jobs and queries compose them; the ``queries/``
modules are thin bindings of these onto the test tables. The two
exceptions are :func:`session_stage`, the cache of per-session artifacts
those bindings share, and :func:`scratch_dir`, the fresh directory every
call that writes gets; they are the package's only makers of temporary
paths.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable, Sequence

from pyspark.sql import (
    Column,
    DataFrame,
    Observation,
    SparkSession,
    Window,
    functions as F,
)

#: (applicationId, *key) -> {"lock", "scratch", "value"}; see session_stage
_STAGES: dict = {}
_STAGES_LOCK = threading.Lock()


def session_stage(spark: SparkSession, key: tuple, build: Callable):
    """The value of ``build(scratch)``, built once per Spark application
    and ``key`` and reused by every later call: the staged parquet,
    checkpointed frames and trained models that several keys of one
    session share.

    * **Key:** the stage name plus its inputs, e.g. ``("copurchase",
      sf_dir)`` or ``("lloyd", sf_dir, k)``. The application id is added
      here, so a stage never serves another session's checkpoints.
    * **Scratch:** ``build`` receives a fresh ``tempfile.mkdtemp``
      directory owned by the entry; stages that hold in-memory values
      ignore it. No two entries share a directory, so a rebuild can
      never overwrite or delete another entry's output.
    * **Hit rule:** an entry is valid while its scratch directory exists;
      deleting it forces a rebuild.
    * **Locking:** each key has its own lock, so concurrent first calls
      build once. The table lock is never held during a build, because
      builds nest (the IVF layout builds the IVF base, which builds the
      Lloyd quantizer).
    * **Eviction:** when a key is first seen, the entries of other (dead)
      applications are dropped and their scratch directories removed;
      the entries left at interpreter exit are removed too.
    """
    app = spark.sparkContext.applicationId
    ck = (app, *key)
    dead = []
    with _STAGES_LOCK:
        entry = _STAGES.get(ck)
        if entry is None:
            dead = [_STAGES.pop(k) for k in list(_STAGES) if k[0] != app]
            entry = _STAGES[ck] = {
                "lock": threading.Lock(), "scratch": None, "value": None
            }
    for d in dead:
        if d["scratch"] is not None:
            shutil.rmtree(d["scratch"], ignore_errors=True)
    with entry["lock"]:
        if entry["scratch"] is not None and os.path.isdir(entry["scratch"]):
            return entry["value"]
        scratch = tempfile.mkdtemp(prefix=f"stage_{key[0]}_")
        try:
            value = build(scratch)
        except BaseException:
            shutil.rmtree(scratch, ignore_errors=True)
            raise
        entry["scratch"], entry["value"] = scratch, value
        return value


@atexit.register
def _drop_stages() -> None:
    for entry in _STAGES.values():
        if entry["scratch"] is not None:
            shutil.rmtree(entry["scratch"], ignore_errors=True)


def scratch_dir(spark: SparkSession, name: str) -> str:
    """A fresh, empty directory for one call's output, named
    ``<name>_<random>``. It lives under one root per Spark application
    (a :func:`session_stage` entry), so it is removed with that entry:
    when another application's first stage call evicts this one, or at
    interpreter exit. Two calls never share a directory, so a later
    call can never overwrite the files under a frame an earlier call
    returned."""
    root = session_stage(spark, ("scratch",), lambda d: d)
    return tempfile.mkdtemp(prefix=f"{name}_", dir=root)


def staged_parquet(
    spark: SparkSession, key: tuple, frame: Callable[[], DataFrame]
) -> DataFrame:
    """``frame()`` written to parquet once per session (a
    :func:`session_stage` under ``key``) and read back with the schema
    inferred at that write, so a hit runs no footer job. Only the schema
    is shared, never a ``DataFrame``: every call gets a fresh read."""

    def build(scratch: str):
        out = os.path.join(scratch, "data")
        frame().write.parquet(out)
        return out, spark.read.parquet(out).schema

    out, schema = session_stage(spark, key, build)
    return spark.read.schema(schema).parquet(out)


# A materializer ``(df, name) -> DataFrame`` truncates lineage between
# pipeline stages and returns a frame backed by the materialized data.
# ``None`` everywhere means :func:`local_materializer`.


def local_materializer(df: DataFrame, name: str) -> DataFrame:
    """Default stage materializer: ``localCheckpoint`` — fast, in-memory,
    executor-local. Right for local mode and short-lived pipelines; NOT
    fault-tolerant (a lost executor loses its blocks with no lineage left
    to recompute them)."""
    return df.localCheckpoint()


def parquet_materializer(base_dir: str):
    """Stage materializer that writes each stage to
    ``{base_dir}/{name}.parquet`` and reads it back — the 100-TB-safe
    option: stages become durable, replayable from any executor, and
    restartable mid-pipeline. Costs one write+read of the (small,
    signature/edge-sized) intermediate per stage; the read takes the
    written frame's schema, so it runs no footer-inference job."""

    def materialize(df: DataFrame, name: str) -> DataFrame:
        path = f"{base_dir.rstrip('/')}/{name}.parquet"
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.schema(df.schema).parquet(path)

    return materialize


def materialize_observed(
    mat, df: DataFrame, name: str, **metrics: Column
) -> tuple[DataFrame, dict]:
    """``mat(df, name)`` with ``metrics`` (name -> aggregate column)
    observed at the frame's root: returns the materialized frame and the
    metric values, which ride the materializing job instead of costing a
    second one (a ``count()`` of the staged frame). At the root the
    metrics are collected in the result stage, which a retried map stage
    cannot count twice. ``mat`` must run the frame eagerly, as both
    materializers above do."""
    obs = Observation()
    out = mat(df.observe(obs, *(c.alias(k) for k, c in metrics.items())), name)
    return out, obs.get


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    ts: str,
    value_cols: Sequence[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Backward (at-or-before) as-of join, inclusive: for each left row,
    attach the ``value_cols`` of the latest right row with the same key
    and ``right.ts <= left.ts``. With ``tolerance_seconds`` set, a match
    older than the tolerance is rejected (values null) — the "stale
    quote" guard of pandas ``merge_asof(tolerance=...)``.

    Distributed shape (the reason this beats per-row subqueries at 100 TB):
    tag both sides, union, ONE shuffle on the key, then a linear
    ``last(value, ignorenulls)`` window scan per partition. Right rows sort
    before left rows at the same instant, giving inclusive semantics. The
    tolerance adds one carried column (the matched right ts) to the same
    scan — no extra shuffle.

    Preconditions: ``right`` has at most one row per (key, ts) — dedupe
    first (e.g. ``groupBy(key, ts).agg(max_by(...))``) or the match among
    equal-ts right rows is unspecified; ``value_cols`` must not collide
    with left column names.
    """
    keys = [on] if isinstance(on, str) else list(on)
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"value_cols collide with left columns: {overlap}")
    l_tagged = left
    for c in value_cols:
        l_tagged = l_tagged.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    l_tagged = l_tagged.withColumn("__side", F.lit(1))
    r_tagged = right.select(
        *keys, ts, *value_cols
    ).withColumn("__side", F.lit(0))
    if tolerance_seconds is not None:
        l_tagged = l_tagged.withColumn(
            "__rts", F.lit(None).cast(right.schema[ts].dataType)
        )
        r_tagged = r_tagged.withColumn("__rts", F.col(ts))
    merged = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts, "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = list(value_cols) + (
        ["__rts"] if tolerance_seconds is not None else []
    )
    for c in carried:
        merged = merged.withColumn(c, F.last(c, ignorenulls=True).over(w))
    out = merged.where(F.col("__side") == 1).drop("__side")
    if tolerance_seconds is not None:
        from pyspark.sql import types as T

        ts_type = right.schema[ts].dataType
        if isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
            delta = F.unix_micros(F.col(ts)) - F.unix_micros(F.col("__rts"))
            limit = F.lit(tolerance_seconds * 1_000_000)
        else:  # numeric ts: tolerance is in the column's own units
            delta = F.col(ts) - F.col("__rts")
            limit = F.lit(tolerance_seconds)
        stale = delta > limit
        for c in value_cols:
            out = out.withColumn(
                c, F.when(stale, F.lit(None)).otherwise(F.col(c))
            )
        out = out.drop("__rts")
    return out


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    ts: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Forward (at-or-after) as-of join, inclusive: for each left row,
    attach the ``value_cols`` of the EARLIEST right row with the same key
    and ``right.ts >= left.ts`` — the "next quote / next calibration"
    lookup that backward as-of can't express.

    Same distributed shape as :func:`asof_join` (union, one key shuffle,
    linear window scan), mirrored: left rows sort before right rows at
    the same instant and the scan is ``first(value, ignorenulls)`` over
    (current row .. unbounded following), so an equal-ts right row is
    matched (inclusive). Same preconditions as :func:`asof_join`."""
    keys = [on] if isinstance(on, str) else list(on)
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"value_cols collide with left columns: {overlap}")
    l_tagged = left
    for c in value_cols:
        l_tagged = l_tagged.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    l_tagged = l_tagged.withColumn("__side", F.lit(0))
    r_tagged = right.select(
        *keys, ts, *value_cols
    ).withColumn("__side", F.lit(1))
    merged = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts, "__side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    for c in value_cols:
        merged = merged.withColumn(c, F.first(c, ignorenulls=True).over(w))
    return merged.where(F.col("__side") == 0).drop("__side")


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows per group via row_number — never a global sort; the only
    shuffle is the hash partitioning on the group key."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("bigint"))
        .where(F.col(rank_col) <= k)
    )


def dedup_keep_first(
    df: DataFrame,
    key_cols: Sequence[str | Column],
    order_by: Sequence[str | Column],
) -> DataFrame:
    """Deterministic dedup: keep the first row per key under an explicit
    total order (unlike ``dropDuplicates``, which keeps an arbitrary one).
    One shuffle on the key columns."""
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    base: DataFrame, updates: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """Snapshot upsert (CDC merge semantics without a table format):
    rows from ``updates`` replace base rows with the same key; new keys
    are inserted; untouched base rows pass through.

    Shape: one left-anti shuffle of base against the update keys + a
    union — no window, no full-outer coalesce of every column. With both
    sides bucketed on the key (see tests/test_bucketing.py) even that
    shuffle disappears. Schemas must match by name.
    """
    keys = list(key_cols)
    if set(base.columns) != set(updates.columns):
        raise ValueError("merge_upsert requires identical column sets")
    untouched = base.join(updates.select(*keys), keys, "left_anti")
    return untouched.unionByName(updates)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    *,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot left key over ``salt``
    shuffle partitions by salting the left side deterministically and
    replicating the right side ``salt`` times.

    Use when one join key carries a disproportionate share of the left
    (fact) rows and AQE's skew splitting isn't available or sufficient —
    a single 500-GB key otherwise lands on one task. Right-side rows are
    duplicated ``salt``× , so keep ``right`` the smaller side. Inner and
    left joins only (the salt preserves their semantics row-for-row).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    keys = [on] if isinstance(on, str) else list(on)
    l_salted = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)),
    )
    r_salted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    joined = l_salted.join(r_salted, [*keys, "__salt"], how)
    return joined.drop("__salt")


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iters: int = 25,
    materializer=None,
) -> DataFrame:
    """Connected components by min-label hooking plus pointer jumping:
    returns ``(node, component)`` where ``component`` is the smallest node
    id in the node's component. Input is an undirected edge list (one
    direction per pair is enough; duplicate edges and self-loops are
    harmless).

    Labels start at each node's neighbour minimum (itself included). A
    round then (1) takes ``m(v)``, the minimum label over v's closed
    neighbourhood, and hooks v's label onto it —
    ``parent(w) = min(m(w), m(v) for every v labelled w)`` — and (2)
    jumps pointers, ``label <- parent[parent]``. Labels only fall, always
    name a node of the same component, and a round that changes no label
    leaves every edge's two ends with equal labels, so the fixed point is
    the component minimum. Jumping doubles the distance a label travels
    per round, so rounds grow with log(component diameter), not with the
    diameter itself (Kiveris et al., *Connected Components in MapReduce
    and Beyond*, SoCC 2014): a 1,000-node path takes 10 rounds, the near-
    dup clusters of a corpus (stars and cliques) one.

    Distributed shape: each round is two equi-joins of the edge list with
    the label table, one groupBy and one self-join of the parent table.
    State is truncated per round through ``materializer`` — without it the
    plan doubles every iteration. The starting labels are not staged:
    round 1 computes them inline, and its two joins with them share one
    exchange. Convergence is detected by ``count_if(new_label < label)``,
    observed on the round's own materialization, so the probe adds no
    Spark job.

    ``materializer`` controls how per-round state is persisted:
    ``local_materializer`` (default) for local/short runs,
    ``parquet_materializer(dir)`` for fault-tolerant cluster runs.
    """
    mat = materializer or local_materializer
    s, d = F.col(src), F.col(dst)
    # both directions plus a self-loop per endpoint: the closed
    # neighbourhood, so a node's own label takes part in every minimum
    sym = mat(
        edges.select(
            F.explode(
                F.array(
                    F.struct(s.alias("a"), d.alias("b")),
                    F.struct(d.alias("a"), s.alias("b")),
                    F.struct(s.alias("a"), s.alias("b")),
                    F.struct(d.alias("a"), d.alias("b")),
                )
            ).alias("e")
        ).select("e.*"),
        "cc_edges",
    )
    labels = sym.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("label"))
    no_label = F.lit(None).cast(labels.schema["label"].dataType)
    for round_no in range(1, max_iters + 1):
        # each edge (v, u) offers L(u) to v itself and to v's label L(v)
        offers = (
            sym.join(
                labels.select(F.col("node").alias("b"), F.col("label").alias("lb")),
                "b",
            )
            .join(
                labels.select(F.col("node").alias("a"), F.col("label").alias("la")),
                "a",
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("a").alias("node"),
                            F.col("lb").alias("p"),
                            F.col("la").alias("old"),
                        ),
                        F.struct(
                            F.col("la").alias("node"),
                            F.col("lb").alias("p"),
                            no_label.alias("old"),
                        ),
                    )
                ).alias("o")
            )
            .select("o.*")
        )
        parent = offers.groupBy("node").agg(
            F.min("p").alias("p"), F.max("old").alias("label")
        )
        stepped = parent.join(
            parent.select(F.col("node").alias("p"), F.col("p").alias("new_label")),
            "p",
        ).select("node", "label", "new_label")
        stepped, seen = materialize_observed(
            mat, stepped, f"cc_labels_{round_no}",
            changed=F.count_if(F.col("new_label") < F.col("label")),
        )
        labels = stepped.select("node", F.col("new_label").alias("label"))
        if seen["changed"] == 0:
            return labels.select("node", F.col("label").alias("component"))
    # exhausting the round budget with changes still pending means the
    # labels are PARTIAL and silently wrong (a long chain would split
    # into several components) — fail loudly instead of returning them
    raise RuntimeError(
        f"connected_components did not converge within max_iters="
        f"{max_iters} rounds (labels still changing): the graph's"
        " components need more rounds than the budget — pass a larger"
        " max_iters"
    )


def pack_sequences(
    df: DataFrame,
    order_col: str,
    size_col: str,
    budget: int,
    coarse: int = 4096,
) -> DataFrame:
    """Sequence packing (the concat-and-chunk layout LLM training data
    uses): rows are laid out in ``order_col`` order and cut into
    fixed-``budget`` bins by exclusive running total of ``size_col``.
    Adds ``cum_before`` (tokens before this row), ``seq_id`` (bin) and
    ``seq_offset`` (position within the bin).

    A naive global running total is a ``Window.orderBy`` with no
    partitioning — every row through ONE task. This uses the scalable
    two-phase cumsum instead: rows are windowed inside coarse
    ``order_col div coarse`` groups (parallel, one shuffle), group totals
    form a table ~1/coarse the size whose own running total is cheap, and
    the per-group offsets broadcast-join back. All arithmetic stays in
    64-bit integers (``div``, never double division).
    """
    grouped = df.withColumn("__g", F.expr(f"{order_col} div {coarse}"))
    w_in = (
        Window.partitionBy("__g")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = grouped.withColumn(
        "__local_before",
        F.coalesce(F.sum(size_col).over(w_in), F.lit(0)).cast("long"),
    )
    w_g = Window.orderBy("__g").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        grouped.groupBy("__g")
        .agg(F.sum(size_col).alias("__gtot"))
        .withColumn(
            "__offset", F.coalesce(F.sum("__gtot").over(w_g), F.lit(0)).cast("long")
        )
        .select("__g", "__offset")
    )
    return (
        local.join(F.broadcast(offsets), "__g")
        .withColumn("cum_before", F.col("__local_before") + F.col("__offset"))
        .withColumn("seq_id", F.expr(f"cum_before div {budget}"))
        .withColumn("seq_offset", F.col("cum_before") % F.lit(budget))
        .drop("__g", "__local_before", "__offset")
    )


def series_row_number(
    df: DataFrame,
    part_cols: list,
    order_cols: list,
    coarse_expr: str,
    rn_name: str = "rn",
) -> DataFrame:
    """Dense global per-series row number WITHOUT a whole-series window
    sort — the prerequisite for halo-segmented rolling windows.

    A plain ``row_number() OVER (PARTITION BY series ORDER BY ts)`` sorts
    the entire series in one task, so parallelism is capped at the series
    cardinality (fatal when the series key is a schema-bounded enum like
    ``event_type``). This is the two-phase cumsum applied to row counts:

    1. ``row_number`` inside (series, coarse-bucket) partitions —
       parallelism ∝ series × buckets;
    2. per-bucket row counts (a frame ~|buckets| rows) take their own
       running total per series and broadcast back as bucket offsets.

    ``coarse_expr`` must be a monotone function of the order columns
    (e.g. an hour bucket of the timestamp) so bucket order == row order.
    """
    grouped = df.withColumn("__cg", F.expr(coarse_expr).cast("long"))
    w_in = Window.partitionBy(*part_cols, "__cg").orderBy(*order_cols)
    local = grouped.withColumn("__lrn", F.row_number().over(w_in))
    w_g = (
        Window.partitionBy(*part_cols)
        .orderBy("__cg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        grouped.groupBy(*part_cols, "__cg")
        .agg(F.count(F.lit(1)).alias("__ct"))
        .withColumn(
            "__off", F.coalesce(F.sum("__ct").over(w_g), F.lit(0)).cast("long")
        )
        .select(*part_cols, "__cg", "__off")
    )
    return (
        local.join(F.broadcast(offsets), [*part_cols, "__cg"])
        .withColumn(rn_name, (F.col("__lrn") + F.col("__off")).cast("long"))
        .drop("__cg", "__lrn", "__off")
    )


def partitioned_cum_before(
    df: DataFrame,
    part_cols: list,
    order_col: str,
    size_col: str,
    coarse: int = 4096,
    out_name: str = "cum_before",
) -> DataFrame:
    """EXCLUSIVE running total of ``size_col`` in ``order_col`` order
    within each ``part_cols`` group, via the two-phase cumsum (the
    per-partition generalization of ``pack_sequences``): local running
    totals inside (group, order div coarse) buckets, per-bucket totals
    take their own running sum over the tiny bucket domain and broadcast
    back. Avoids the per-group unbounded window whose parallelism is
    capped at the group-key cardinality."""
    grouped = df.withColumn("__g", F.expr(f"{order_col} div {coarse}"))
    w_in = (
        Window.partitionBy(*part_cols, "__g")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = grouped.withColumn(
        "__local_before",
        F.coalesce(F.sum(size_col).over(w_in), F.lit(0)).cast("long"),
    )
    w_g = (
        Window.partitionBy(*part_cols)
        .orderBy("__g")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        grouped.groupBy(*part_cols, "__g")
        .agg(F.sum(size_col).alias("__gtot"))
        .withColumn(
            "__off",
            F.coalesce(F.sum("__gtot").over(w_g), F.lit(0)).cast("long"),
        )
        .select(*part_cols, "__g", "__off")
    )
    return (
        local.join(F.broadcast(offsets), [*part_cols, "__g"])
        .withColumn(out_name, F.col("__local_before") + F.col("__off"))
        .drop("__g", "__local_before", "__off")
    )


def halo_blocks(
    df: DataFrame,
    rn_col: str,
    block: int,
    before: int,
    after: int,
) -> DataFrame:
    """Split a dense per-series row number into fixed-size blocks and
    duplicate boundary rows into the neighbor blocks whose rolling
    windows need them as context (the halo / ghost-cell pattern).

    Adds ``__blk`` (window the downstream rolling computation by
    (series, __blk)) and ``__own`` (true on the single copy that owns
    the row — filter on it after the windowed computation). Because
    ``rn_col`` is dense, block *b* plus its halos holds exactly rows
    ``[b·block-before+1, (b+1)·block+after]``, so every owner row sees
    its full ±frame and the segmented result is bit-identical to the
    global window while parallelism scales ∝ rows/block instead of
    being capped at the series-key cardinality.

    Row duplication is (before+after)/block — e.g. 10/4096 ≈ 0.2 %.
    Requires ``block >= max(before, after)``.
    """
    if block < max(before, after):
        raise ValueError("block must be >= max(before, after)")
    own = F.expr(f"({rn_col} - 1) div {block}")
    pos = (F.col(rn_col) - 1) % F.lit(block)
    empty = F.expr("CAST(array() AS ARRAY<BIGINT>)")
    targets = F.concat(
        F.array(own),
        # first `after` rows of a block are FOLLOWING context for b-1
        F.when((pos < after) & (own > 0), F.array(own - 1)).otherwise(empty),
        # last `before` rows of a block are PRECEDING context for b+1
        F.when(pos >= block - before, F.array(own + 1)).otherwise(empty),
    )
    return df.withColumn("__blk", F.explode(targets)).withColumn(
        "__own", F.col("__blk") == own
    )


#: Knuth's 32-bit multiplicative-hash constant (2^32 / phi)
_KNUTH_K = 2654435761


def knuth32_sql(expr: str, dialect: str) -> str:
    """``(expr * 2654435761) % 2^32`` emitted overflow-safe for either
    engine. The naive product overflows int64 once ``expr`` exceeds
    ~3.47e9 — under the pinned ANSI mode that is ARITHMETIC_OVERFLOW,
    i.e. the hash would CRASH exactly at the multi-billion-row id space
    a 100-TB corpus has. Fold via 16-bit limbs instead: with
    a = expr mod 2^32 split as a = ah*2^16 + al,
    ``(a*K) mod 2^32 == (al*K + ((ah*K) mod 2^16)*2^16) mod 2^32``
    and every intermediate stays below 2^48 (al, ah < 2^16). Values are
    bit-identical to the naive form wherever that form doesn't overflow,
    so existing oracles are unchanged."""
    if dialect == "spark":
        a = f"pmod({expr}, 4294967296)"
        return (
            f"pmod(pmod({a}, 65536) * 2654435761 + "
            f"pmod(({a} div 65536) * 2654435761, 65536) * 65536, "
            "4294967296)"
        )
    a = f"(({expr}) % 4294967296)"
    return (
        f"((({a}) % 65536) * 2654435761 + "
        f"((({a}) // 65536) * 2654435761) % 65536 * 65536) % 4294967296"
    )


def knuth32(col: Column) -> Column:
    """Column form of :func:`knuth32_sql` (same 16-bit limb fold, same
    values, ANSI-overflow-safe). The ``(a - al) / 65536`` division is
    exact: a < 2^32 is exact in double and 65536 is a power of two."""
    a = F.pmod(col.cast("long"), F.lit(4294967296))
    al = F.pmod(a, F.lit(65536))
    ah = ((a - al) / F.lit(65536)).cast("long")
    return F.pmod(
        al * F.lit(_KNUTH_K)
        + F.pmod(ah * F.lit(_KNUTH_K), F.lit(65536)) * F.lit(65536),
        F.lit(4294967296),
    )


def hash_sample(df: DataFrame, key_expr: str, fraction: float) -> DataFrame:
    """Deterministic consistent sample: keep rows whose Knuth
    multiplicative hash of ``key_expr`` falls below ``fraction`` of the
    32-bit space. Reproducible across runs/engines/partitionings, unlike
    ``df.sample``; the standard way to carve stable subsets of a 100-TB
    table (and its complement) without materializing them."""
    threshold = int(fraction * 4294967296)
    return df.where(
        F.expr(knuth32_sql(key_expr, "spark")) < F.lit(threshold)
    )


def attach_broadcast(df: DataFrame, tiny: DataFrame) -> DataFrame:
    """Cartesian-attach a BOUNDED frame (scalar aggregate, k-row class /
    centroid / query list) to every row of ``df`` via a constant-key
    broadcast HASH join instead of ``crossJoin(broadcast(tiny))``.

    Semantically identical to the cross join, but the equi-key lets
    Spark plan a BroadcastHashJoin (whole-stage-codegen'd hash probe
    into a 1-bucket table) rather than a BroadcastNestedLoopJoin, so
    keys using it stay out of the BNLJ audit allowlist and the probe
    stays inside codegen at 100-TB scan widths.

    The key must NOT be foldable: FoldablePropagation rewrites
    ``lit(1) == lit(1)`` to ``true`` and the join degrades straight back
    to a nested loop (so does ``col * 0`` — Spark 4 simplifies it for
    non-nullable inputs; so does ``xxhash64(col)`` when the frame is a
    pure-literal one-row relation, e.g. an initial weight vector).
    ``pmod(xxhash64(spark_partition_id()), 1)`` evaluates to 0 on every
    row of ANY frame (pmod(x, 1) is 0 for every bigint, xxhash64 never
    returns null) and spark_partition_id's nondeterministic flag blocks
    every folding rule while remaining legal in the projection feeding
    the join — the equi-key survives to ExtractEquiJoinKeys regardless
    of what the inputs are made of. Verified empirically to plan as
    BroadcastHashJoin even over two literal relations."""
    key = "__attach_k"

    def _k(frame: DataFrame):
        return F.pmod(F.xxhash64(F.spark_partition_id()), F.lit(1))

    return (
        df.withColumn(key, _k(df))
        .join(F.broadcast(tiny.withColumn(key, _k(tiny))), key)
        .drop(key)
    )
