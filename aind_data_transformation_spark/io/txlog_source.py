"""A Python DataSource V2 over the transaction-log table format — the
log-backed tables the sinks tier writes (`queries/sinks.py`:
`_build_txlog_table` and every `sink_txlog_*` mutation), readable AND
writable as a first-class Spark source:

    spark.read.format("txlog").option("path", log_dir).load()
    spark.readStream.format("txlog").option("path", log_dir).load()
    df.write.format("txlog").mode("append"|"overwrite").save(log_dir)
    df.writeStream.format("txlog").option("checkpointLocation", ...)\
        .start(log_dir)

Batch read = log replay to the live file set, one input partition per
parquet part file, rows decoded EXECUTOR-side with pyarrow (the data
never moves through the driver — only the metadata replay does, exactly
like a JVM file source's driver-side listing).

Streaming read = the lakehouse streaming-source mechanic
(`sink_txlog_incremental_read`'s file-list algebra) as a real
`DataSourceStreamReader`: offsets are commit versions; each micro-batch
serves the files ADDED in ``(start, end]`` that are still live at
``end``, partitioned per part file. ``latestOffset`` reports the log
head, so each micro-batch consumes every commit since the last poll —
and replaying a batch re-reads exactly its version window's files
(offsets are pure log metadata, immune to later directory changes).

Batch write = the two-phase output commit over the log's optimistic
put-if-absent primitive: each task streams its Arrow RecordBatches into
a temp parquet file (columnar all the way — `DataSourceArrowWriter`,
the write-side twin of the reader's RecordBatch fast path); the
driver-side ``commit`` renames temps into one new data dir and commits
ONE log version (``append`` = add actions only; ``overwrite`` = remove
every live file + add, both revalidated per commit-race retry). A
failed/speculated task can never publish a half-written file, and a
lost commit race never corrupts the log — the loser's files are
orphans until a later commit references them.

Streaming write = epoch-keyed exactly-once: per micro-batch the tasks
stage temps, and ``commit(messages, batchId)`` publishes them under a
DETERMINISTIC epoch-named data dir plus a ``txn`` idempotence marker
(Delta's txn/appId action) in the same log version; a replayed
micro-batch (crash between sink commit and checkpoint commit) finds
its marker in the log and skips instead of double-applying.

This module is the format's ONE replay, commit and schema core; the
engine's mutators and snapshot reads (`queries/sinks.py`,
`queries/streaming_batch.py`, `streaming/jobs.py`) call it rather than
keeping copies:

- replay: `_log_rows` (checkpoint + JSON tail) feeds `_live_files`,
  `_incremental_files`, `_live_dvs` and `_live_adds` — one last-action-
  per-path rule (remove beats add within a commit) — plus
  `_version_as_of_ts` (AS OF TIMESTAMP) and `_mapping_as_of`;
- commit: `commit_loop` is the only retry loop around the put-if-absent
  `attempt_commit` (one snapshot per attempt, a budget, an optional
  cheap rebase); losing past the budget raises `TxlogConflictError`;
- schema: `_snapshot_ddl` decides a snapshot's schema from the log
  (mapping, evolved DDL) or the first live file's footer, so the engine
  reads snapshots with ``spark.read.schema(ddl)`` and no inference job.

Reference scope: the reference framework (core.py:15-110) reads opaque
input directories; this connector is the engine-idiomatic equivalent
surface for its own table format.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)


def _local_path(p):
    """Normalize a path option to a local filesystem path: the SQL
    catalog (`CREATE TABLE ... USING txlog OPTIONS (path ...)`) hands
    the option through Hadoop path resolution, which prefixes the
    ``file:`` scheme — strip it so the stdlib/pyarrow IO below sees a
    plain path."""
    if p and p.startswith("file://"):
        return p[len("file://"):] or "/"
    if p and p.startswith("file:"):
        return p[len("file:"):]
    return p


def _checkpoint_dirs(log_dir: str) -> list:
    """Committed checkpoint dirs, sorted by version. The name filter
    is load-bearing: a crashed compaction can leave a partial
    ``_checkpoint_NNNNN.tmp`` next to the real one, and it SORTS AFTER
    the committed name — an unfiltered glob would replay the partial
    state (or crash parsing its version) on every subsequent read."""
    return sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "_checkpoint_*"))
        if p.rsplit("_", 1)[-1].isdigit()
    )


def _log_rows(log_dir: str) -> list:
    """Driver-side log replay input: every action line of every commit
    file (metadata-sized), via stdlib json — no Spark needed, so the
    reader classes stay picklable and executor-safe. Checkpoint-aware:
    a compacted table replays latest checkpoint parquet + JSON tail.
    The engine's one entry point (`queries/sinks._txlog_log_rows`)
    normalizes these rows and applies the read gate."""
    ckpts = _checkpoint_dirs(log_dir)
    rows = []
    ckpt_version = -1
    if ckpts:
        import pyarrow.parquet as pq

        latest = ckpts[-1]
        ckpt_version = int(latest.rsplit("_", 1)[-1])
        rows.extend(pq.read_table(latest).to_pylist())
    for f in sorted(glob.glob(os.path.join(log_dir, "*.json"))):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    r = json.loads(line)
                    if r.get("commit", 0) > ckpt_version:
                        rows.append(r)
    return rows


def _live_files(rows: list, as_of=None) -> list:
    """The live file list at ``as_of`` (None = head): last action per
    path wins, with remove beating add within one commit (the
    (commit, action) sort puts 'remove' after 'add')."""
    last: dict = {}
    for r in sorted(rows, key=lambda r: (r["commit"], r["action"] or "")):
        if as_of is not None and r["commit"] > as_of:
            continue
        if r["action"] in ("add", "remove") and r.get("path") is not None:
            last[r["path"]] = r["action"]
    return sorted(p for p, a in last.items() if a == "add")


def _incremental_files(rows: list, start: int, end: int) -> list:
    """Files ADDED in commits (start, end] that are still live at end —
    the per-batch increment of a log-tailing consumer."""
    live_at_end = set(_live_files(rows, as_of=end))
    added = {
        r["path"]
        for r in rows
        if r["action"] == "add"
        and start < r["commit"] <= end
        and r.get("path") is not None
    }
    return sorted(added & live_at_end)


def _live_dvs(rows: list, live: list, as_of=None) -> dict:
    """Deletion-vector applicability from pure log metadata: each
    ``dv`` action names its TARGET data file, so a sidecar applies iff
    one of its targets is still live (a rewrite of the target retires
    the DV without a log edit); sidecar -> its targets, kept only
    where a target is still live (and, for time travel, only DVs
    committed at or before ``as_of`` — later deletes must not apply to
    an earlier snapshot). Returned as {target data dir: [sidecar
    paths]} so each partition can resolve its own tombstones
    executor-side."""
    live_set = set(live)
    by_target: dict = {}
    for r in rows:
        if as_of is not None and r["commit"] > as_of:
            continue
        if r.get("action") == "dv" and r.get("path") is not None:
            t = r.get("target")
            if t in live_set:
                by_target.setdefault(t, []).append(r["path"])
    return by_target


def _version_as_of_ts(rows: list, ts: int) -> int:
    """``AS OF TIMESTAMP`` resolution: the latest commit whose
    commitInfo timestamp (microseconds) is at or before ``ts``
    (Delta's rule). Well-defined because `attempt_commit` clamps
    commit timestamps to be non-decreasing."""
    cand = [
        r["commit"]
        for r in rows
        if r.get("action") == "commitInfo"
        and r.get("ts") is not None
        and r["ts"] <= ts
    ]
    if not cand:
        raise ValueError(
            f"no commit at or before timestamp {ts}; table history"
            " begins later"
        )
    return max(cand)


def _resolve_as_of(rows: list, options) -> "int | None":
    """Time-travel resolution for the reader options: ``version_as_of``
    (a commit number) or ``timestamp_as_of`` (microseconds, resolved by
    `_version_as_of_ts`). None = head."""
    v = options.get("version_as_of")
    t = options.get("timestamp_as_of")
    if v is not None and t is not None:
        raise ValueError(
            "pass at most one of version_as_of / timestamp_as_of"
        )
    if v is not None:
        return int(v)
    if t is not None:
        return _version_as_of_ts(rows, int(t))
    return None


#: Spark DDL type -> pyarrow type factory, for null-filling columns a
#: pre-evolution file lacks (inverse of _infer_ddl's mapping)
def _arrow_type(ddl: str):
    import pyarrow as pa

    m = {
        "bigint": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
    }
    if ddl in m:
        return m[ddl]
    raise ValueError(f"unsupported mapped column type: {ddl}")


def _mapping_as_of(rows: list, as_of=None):
    """The column mapping in force at ``as_of`` (None = head): latest
    metaData action whose schema payload is a JSON mapping document.
    None when the table is unmapped."""
    cand = [
        r
        for r in rows
        if r["action"] == "metaData"
        and (as_of is None or r["commit"] <= as_of)
        and r.get("schema")
        and str(r["schema"]).lstrip().startswith("{")
    ]
    if not cand:
        return None
    return json.loads(max(cand, key=lambda r: r["commit"])["schema"])


def _ddl_schema_as_of(rows: list, as_of=None):
    """The DDL schema in force at ``as_of`` (None = head): latest
    metaData action whose schema payload is a plain DDL string — the
    additive schema-evolution mechanic (`sink_txlog_schema_evolution`
    and the connector's ``merge_schema`` writes). None when the table
    has never evolved (its schema is whatever the file footers say).
    Mapping documents (JSON payloads) are a different mechanic and are
    excluded here; constraint-only metaData rows carry no schema."""
    cand = [
        r
        for r in rows
        if r["action"] == "metaData"
        and (as_of is None or r["commit"] <= as_of)
        and r.get("schema")
        and not str(r["schema"]).lstrip().startswith("{")
    ]
    if not cand:
        return None
    return max(cand, key=lambda r: r["commit"])["schema"]


def _parse_ddl(ddl: str) -> list:
    """``"a bigint, `my col` decimal(10,2)"`` -> ``[("a","bigint"),
    ("my col","decimal(10,2)")]``: split on commas outside parentheses
    (decimal types carry one), then split name from type respecting
    backtick quoting — a quoted name may contain spaces, commas, or
    parens (all legal Spark column-name characters; Spark's own DDL
    parser accepts them quoted), so the comma/paren bookkeeping is
    suspended INSIDE backticks. Backticks themselves cannot occur in
    names (the write path rejects them — the one character the
    quoting cannot represent)."""
    cols, depth, cur, quoted = [], 0, [], False
    for ch in ddl + ",":
        if ch == "`":
            quoted = not quoted
            cur.append(ch)
            continue
        if not quoted:
            if ch == "," and depth == 0:
                part = "".join(cur).strip()
                if part:
                    if part.startswith("`"):
                        close = part.index("`", 1)
                        name = part[1:close]
                        typ = part[close + 1:]
                    else:
                        name, typ = part.split(None, 1)
                    cols.append((name, typ.strip().lower()))
                cur = []
                continue
            depth += ch == "("
            depth -= ch == ")"
        cur.append(ch)
    if quoted:
        raise ValueError(f"unbalanced backtick quoting in DDL: {ddl!r}")
    return cols


def _roundtrip_ddl(cols: list, context: str) -> str:
    """Render ``[(name, ddl_type)]`` as the quoted DDL string the log
    records, PROVING first that `_parse_ddl` reads it back to exactly
    the same columns — the self-check that makes "write succeeds,
    table unreadable" impossible: any name/type the DDL round-trip
    cannot preserve is rejected at COMMIT time instead of poisoning
    every subsequent read."""
    ddl = ", ".join(f"`{n}` {t}" for n, t in cols)
    try:
        back = _parse_ddl(ddl)
    except Exception as e:
        raise ValueError(
            f"{context}: schema is not DDL-round-trippable ({e})"
        )
    want = [(n, t.lower()) for n, t in cols]
    if back != want:
        raise ValueError(
            f"{context}: schema does not survive the DDL round-trip"
            f" (wrote {want}, read back {back}) — a column name or type"
            " contains characters the log's DDL vocabulary cannot"
            " preserve"
        )
    return ddl


#: bloom index geometry: number of hash probes per value (double
#: hashing over one 64-bit avalanche — classic Kirsch–Mitzenmacher)
_BLOOM_K = 4
#: default filter size in bits (128 KiB raw; zlib+base64 in the log —
#: a sparse filter compresses to almost nothing)
_BLOOM_DEFAULT_BITS = 1 << 20


def _bloom_hashes(vals, m: int):
    """k probe positions per value, vectorized (numpy uint64, wrapping
    arithmetic): splitmix64-style avalanche for two independent hashes
    h1/h2, probes (h1 + i*h2) mod m. Deterministic across processes —
    no Python hash randomization anywhere."""
    import numpy as np

    x = np.asarray(vals, dtype=np.int64).astype(np.uint64)

    def mix(v):
        v = v.copy()
        v ^= v >> np.uint64(30)
        v *= np.uint64(0xBF58476D1CE4E5B9)
        v ^= v >> np.uint64(27)
        v *= np.uint64(0x94D049BB133111EB)
        v ^= v >> np.uint64(31)
        return v

    h1 = mix(x + np.uint64(0x9E3779B97F4A7C15))
    h2 = mix(x ^ np.uint64(0xD6E8FEB86659FD93)) | np.uint64(1)
    mm = np.uint64(m)
    return [
        ((h1 + np.uint64(i) * h2) % mm).astype(np.int64)
        for i in range(_BLOOM_K)
    ]


def _bloom_encode(bits) -> str:
    """uint8 bit array -> zlib+base64 string for the add action."""
    import base64
    import zlib

    return base64.b64encode(zlib.compress(bits.tobytes(), 6)).decode()


def _bloom_merge(encs: list) -> str:
    """OR-merge encoded bloom filters (same bit width by construction —
    one writer's option) into one encoded filter. Blooms are unions'
    fixed point, which is what makes them per-task foldable."""
    import base64
    import zlib

    import numpy as np

    if len(encs) == 1:
        return encs[0]
    acc = None
    for e in encs:
        bits = np.frombuffer(
            zlib.decompress(base64.b64decode(e)), dtype=np.uint8
        )
        acc = bits.copy() if acc is None else (acc | bits)
    return _bloom_encode(acc)


def _bloom_decode(enc: str):
    """base64+zlib -> uint8 bit array, MEMOIZED: planning an ``In``
    filter with k values over N bloom-indexed files would otherwise
    decompress the same (up to 128 KiB raw) filter k*N times —
    quadratic planning overhead for exactly the point-lookup workload
    the index targets. Keyed by the encoded string itself; bounded
    (64 × 128 KiB = 8 MiB worst case in the planning worker)."""
    import base64
    import zlib

    import numpy as np

    return np.frombuffer(
        zlib.decompress(base64.b64decode(enc)), dtype=np.uint8
    )


try:
    from functools import lru_cache as _lru_cache

    _bloom_decode = _lru_cache(maxsize=64)(_bloom_decode)
except Exception:  # pragma: no cover - functools is stdlib
    pass


def _bloom_maybe_contains(add: dict, value) -> bool:
    """Membership probe against the add action's recorded bloom: True
    unless some probe bit is UNSET (definitely absent — safe to prune;
    false positives only ever keep a file)."""
    return _bloom_any_contains(add, [value])


def _bloom_any_contains(add: dict, values) -> bool:
    """Vectorized any-membership probe: decode the filter ONCE (see
    `_bloom_decode`), probe every value's k positions as numpy index
    arithmetic. True unless EVERY value has some unset probe bit
    (all definitely absent — safe to prune the file)."""
    import numpy as np

    m = int(add["bloom_bits"])
    bits = _bloom_decode(add["bloom"])
    vals = np.asarray(list(values), dtype=np.int64)
    maybe = np.ones(len(vals), dtype=bool)
    for pos in _bloom_hashes(vals, m):
        maybe &= (
            (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        ).astype(bool)
    return bool(maybe.any())


# ---------------------------------------------------------------------
# Text (character n-gram) bloom index: per-file membership of every
# 4-byte substring window of a string column, the pg_trgm / Google
# Code Search trigram-index idea folded into the write. Soundness for
# ``contains`` pruning: if any single value CONTAINS the needle, every
# 4-byte window of the needle occurs contiguously inside that value's
# utf-8 bytes, hence inside this file's indexed window set — so a
# needle window the bloom PROVES absent proves no value contains the
# needle, and the file is safely skipped. Values are indexed from the
# Arrow data buffer directly (already the concatenation of all string
# bytes): windows that straddle two values add only noise bits, which
# can never un-prune a match. Both index and probe are ASCII-lowercased
# (byte-level, locale-free), a pure superset widening.

#: window width in BYTES. 4 packs into one int64 code and reuses the
#: integer bloom hashing unchanged; needles shorter than 4 bytes are
#: simply not prunable (kept files, exact residual re-filter).
_TEXT_NGRAM = 4
#: default text-bloom width: distinct 4-gram counts run far above
#: distinct key counts (~10^5-10^6 per file of prose), so the default
#: is 2 MiB of bits (256 KiB raw; zlib+base64 in the log)
_TEXT_BLOOM_DEFAULT_BITS = 1 << 21


def _ngram_codes_from_bytes(data):
    """uint8 byte array -> unique int64 codes of every 4-byte window,
    ASCII-lowercased, fully vectorized."""
    import numpy as np

    if data.size < _TEXT_NGRAM:
        return np.empty(0, dtype=np.int64)
    low = np.where(
        (data >= 65) & (data <= 90), data + 32, data
    ).astype(np.int64)
    codes = (
        (low[:-3] << 24) | (low[1:-2] << 16) | (low[2:-1] << 8) | low[3:]
    )
    return np.unique(codes)


def _text_ngram_codes(arr):
    """Unique window codes of a pyarrow string column chunk: nulls
    dropped, then the underlying utf-8 DATA BUFFER is windowed in one
    numpy pass — no per-row Python, no copies beyond the offsets
    slice."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pc.drop_null(arr)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if len(arr) == 0:
        return np.empty(0, dtype=np.int64)
    arr = arr.cast(pa.large_binary())
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int64)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    data = np.frombuffer(bufs[2], dtype=np.uint8)[off[0] : off[-1]]
    return _ngram_codes_from_bytes(data)


def _needle_ngram_codes(s: str):
    """Window codes of a pushed needle, or None when the needle is too
    short to prune on (< 4 utf-8 bytes)."""
    import numpy as np

    b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
    if b.size < _TEXT_NGRAM:
        return None
    return _ngram_codes_from_bytes(b)


def _text_bloom_prunes(add: dict, needle: str) -> bool:
    """True iff the add's text bloom PROVES no value in the file
    contains ``needle``: some window of the needle has an unset probe
    bit. ALL windows maybe-present keeps the file (false positives
    only ever keep)."""
    import numpy as np

    codes = _needle_ngram_codes(needle)
    if codes is None:
        return False
    m = int(add["tbloom_bits"])
    bits = _bloom_decode(add["tbloom"])
    present = np.ones(len(codes), dtype=bool)
    for pos in _bloom_hashes(codes, m):
        present &= (
            (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        ).astype(bool)
    return not bool(present.all())


# ---------------------------------------------------------------------
# Protocol versioning + table features (Delta's protocol action /
# reader-writer table features, delta.io PROTOCOL.md): a table can
# require capabilities of its clients, so a client that does NOT
# understand e.g. deletion vectors fails LOUDLY instead of silently
# resurrecting deleted rows. Tables without a protocol action are
# implicit version 1 (the pre-protocol format) and readable/writable
# by everyone.

#: format versions this code understands. Version 1 = the bare
#: add/remove log; version 2 = feature-gated (this tier). A table
#: demanding min_reader/min_writer above these is refused.
PROTOCOL_READER_VERSION = 2
PROTOCOL_WRITER_VERSION = 2

#: capabilities this module's READ paths actually implement — each name
#: corresponds to a shipped, tested behavior of the reader tier
SUPPORTED_READER_FEATURES = frozenset({
    "deletion_vectors",     # dv sidecar tombstones applied at read
    "column_mapping",       # metaData mapping: physical->logical names
    "partition_evolution",  # per-generation partition specs
    "checkpoint",           # compacted checkpoint + tail replay
    "stats_json",           # typed min/max/nullCount data skipping
    "bloom_index",          # per-add bloom membership pruning
    "time_travel",          # version/timestamp_as_of snapshot reads
    "cdf",                  # change-data-feed reconstruction
    "row_group_split",      # row-group-granular input partitions
    "text_bloom_index",     # substring (4-gram) bloom pruning
})

#: capabilities the CONNECTOR write path implements. "constraints" is
#: deliberately ABSENT: the connector writer does not evaluate CHECK
#: constraints, so a table whose protocol demands the constraints
#: writer feature refuses `df.write.format("txlog")` appends loudly —
#: without the protocol gate such an append would silently bypass the
#: constraint (the engine's `txlog_constrained_append` declares the
#: feature via extra_writer_features and remains the supported path).
SUPPORTED_WRITER_FEATURES = SUPPORTED_READER_FEATURES | frozenset({
    "append_only",          # enforced below: commits with remove/dv
                            # actions are rejected at the primitive
})


class TxlogProtocolError(RuntimeError):
    """The table's protocol demands a version or feature this client
    does not implement (Delta's InvalidProtocolVersionException /
    unsupported-table-feature analogue)."""


def _latest_protocol(rows: list, as_of=None):
    """Latest protocol payload at/before ``as_of`` (None = table head),
    decoded from the newest ``protocol`` action's JSON column. Protocol
    is snapshot-scoped: a time-travel read before an upgrade is
    governed by the protocol that was in force at that version."""
    best = None
    best_commit = -1
    for r in rows:
        if r.get("action") != "protocol":
            continue
        c = r.get("commit") or 0
        if as_of is not None and c > as_of:
            continue
        if c >= best_commit:
            best_commit = c
            best = r.get("protocol")
    if best is None:
        return None
    return json.loads(best)


def check_protocol(
    rows: list,
    mode: str,
    as_of=None,
    extra_writer_features=(),
    actions=None,
):
    """Refuse to proceed if the table's protocol demands more than this
    client implements. ``mode`` is "read" or "write"; writing implies
    reading (a writer must reconstruct the snapshot it mutates), so the
    write check includes the read check — Delta's rule.

    ``extra_writer_features``: capabilities the CALLER implements
    beyond this module's own write path (the engine's constrained
    append declares "constraints").

    ``actions`` (write mode): the actions about to be committed —
    needed for features with behavioral teeth: a table whose protocol
    carries ``append_only`` rejects any commit containing remove or dv
    actions (Delta's delta.appendOnly), making the guarantee hold for
    EVERY writer that reaches the one commit primitive."""
    proto = _latest_protocol(rows, as_of)
    if proto is None:
        return
    min_r = int(proto.get("min_reader", 1))
    if min_r > PROTOCOL_READER_VERSION:
        raise TxlogProtocolError(
            f"table requires reader version {min_r}; this client "
            f"implements {PROTOCOL_READER_VERSION}"
        )
    unknown_r = (
        set(proto.get("reader_features") or []) - SUPPORTED_READER_FEATURES
    )
    if unknown_r:
        raise TxlogProtocolError(
            "table requires reader feature(s) this client does not "
            f"implement: {sorted(unknown_r)}"
        )
    if mode != "write":
        return
    min_w = int(proto.get("min_writer", 1))
    if min_w > PROTOCOL_WRITER_VERSION:
        raise TxlogProtocolError(
            f"table requires writer version {min_w}; this client "
            f"implements {PROTOCOL_WRITER_VERSION}"
        )
    supported_w = SUPPORTED_WRITER_FEATURES | set(extra_writer_features)
    declared_w = set(proto.get("writer_features") or [])
    unknown_w = declared_w - supported_w
    if unknown_w:
        raise TxlogProtocolError(
            "table requires writer feature(s) this client does not "
            f"implement: {sorted(unknown_w)}"
        )
    if "append_only" in declared_w and actions is not None:
        bad = sorted({
            a.get("action")
            for a in actions
            if a.get("action") in ("remove", "dv")
        })
        if bad:
            raise TxlogProtocolError(
                "table is append-only (protocol writer feature "
                f"'append_only'): commit carries forbidden {bad} "
                "action(s)"
            )


def set_protocol(
    log_dir: str,
    min_reader: int = 1,
    min_writer: int = 1,
    reader_features=(),
    writer_features=(),
) -> int:
    """Commit a ``protocol`` action (Delta's upgradeTableProtocol).
    Validated against the PRE-upgrade snapshot like any transaction —
    so a table whose current protocol this client cannot write stays
    immutable to it, but any reachable table can be upgraded to demand
    features the upgrader itself does not implement (how the
    enforcement tests build their fixtures, and how a table is fenced
    to newer clients). Returns the committed version."""
    payload = json.dumps(
        {
            "min_reader": int(min_reader),
            "min_writer": int(min_writer),
            "reader_features": sorted(reader_features),
            "writer_features": sorted(writer_features),
        },
        sort_keys=True,
    )
    version, _ = commit_loop(
        log_dir,
        lambda rows, v: [
            {"commit": v, "action": "protocol", "protocol": payload}
        ],
        "SET PROTOCOL",
        WRITER_COMMIT_BUDGET,
    )
    return version


def text_candidate_files(log_dir: str, needles) -> tuple:
    """Metadata-only candidate pull for substring search over a
    text-bloom-indexed table: the live files that MAY contain any of
    ``needles`` (per-file 4-gram bloom probes — see
    `_text_ngram_codes`), plus the total live count. Unindexed files
    are always candidates (soundness). The 100-TB decontamination
    shape: |needles| x |files| bloom probes on the driver replace a
    full corpus scan; only candidates are read."""
    rows = _log_rows(log_dir)
    live = _live_adds(rows)
    cands = []
    for p, add in sorted(live.items()):
        if add.get("tbloom"):
            if any(not _text_bloom_prunes(add, n) for n in needles):
                cands.append(p)
        else:
            cands.append(p)
    return cands, len(live)


def _dir_bytes(path: str) -> int:
    """On-disk bytes behind one logged add path (a data dir or a
    single part file) — recorded on add actions at write time so
    byte-based stream admission paces on pure log metadata."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(p) for p in _part_files([path]))


def _part_files(data_dirs: list) -> list:
    """Part files under each logged path. A logged path is usually a
    data DIR; stats-carrying writes (Delta-style one-add-per-file)
    log the part FILE itself — pass through unchanged."""
    out = []
    for d in data_dirs:
        if os.path.isfile(d):
            out.append(d)
            continue
        out.extend(
            sorted(glob.glob(os.path.join(d, "part-*.parquet")))
            or sorted(glob.glob(os.path.join(d, "part-*")))
        )
    return out


def _infer_ddl(log_dir: str, options=None) -> str:
    """Spark DDL for the table at the snapshot the reader options
    request (see `_snapshot_ddl`)."""
    rows = _log_rows(log_dir)
    return _snapshot_ddl(rows, _resolve_as_of(rows, options or {}))


def _snapshot_ddl(rows: list, as_of=None) -> str:
    """Spark DDL of the snapshot at ``as_of`` (None = head) — the one
    schema rule for the connector and the engine: a column-MAPPED
    table's schema is its mapping's logical names/types (the log owns
    the schema, files only know physical names); an EVOLVED table's is
    its latest metaData DDL (old files null-fill the added columns at
    read time); any other table's is the first live file's parquet
    footer, read with pyarrow on the driver — the footer a JVM parquet
    scan would infer from, without the Spark job that inference costs.
    A footer type the DDL vocabulary lacks raises."""
    import pyarrow.parquet as pq

    mapping = _mapping_as_of(rows, as_of)
    if mapping is not None:
        return ", ".join(
            f"`{c['name']}` {c['type']}" for c in mapping["columns"]
        )
    evolved = _ddl_schema_as_of(rows, as_of)
    if evolved is not None:
        return ", ".join(f"`{n}` {t}" for n, t in _parse_ddl(evolved))
    live = _live_files(rows, as_of=as_of)
    if not live:
        raise ValueError("txlog table has no live files")

    def ddl(t):
        if str(t).startswith("decimal"):
            # pyarrow prints decimal128(p, s) — not valid Spark DDL
            return f"decimal({t.precision},{t.scale})"
        if str(t).startswith("timestamp") and t.tz is None and t.unit != "ns":
            # isAdjustedToUTC=false: Spark infers TIMESTAMP_NTZ (a UTC-
            # adjusted column carries a tz here; INT96 reads as ns)
            return "timestamp_ntz"
        d = _arrow_ddl(t)
        if not d:
            raise ValueError(f"unsupported txlog column type: {t}")
        return d

    schema = pq.read_schema(_part_files(live[:1])[0])
    return ", ".join(f"`{f.name}` {ddl(f.type)}" for f in schema)


def attempt_commit(
    log_dir: str,
    version: int,
    actions,
    op: str = "WRITE",
    metrics=None,
    rows=None,
    extra_writer_features=(),
):
    """ONE optimistic-concurrency commit attempt: atomically create
    ``{version:05d}.json`` (O_CREAT|O_EXCL — the put-if-absent primitive
    Delta uses on object stores). Returns False if a concurrent writer
    already owns this version; the caller must re-read the log,
    revalidate against the new snapshot, and retry at the next version.
    Losing a race never corrupts the log: the loser's data files are
    orphans until a later commit references them.

    Unless the caller supplied its own, a ``commitInfo`` action (Delta's
    commit provenance record) is prepended: operation name ``op`` plus a
    microsecond timestamp clamped to be strictly greater than the log
    head's — commit timestamps are non-decreasing even across wall-clock
    skew, which is what makes ``AS OF TIMESTAMP`` resolution
    (latest commit with ts <= t) well-defined.

    This is the ONE commit primitive of the format — every retrying
    writer reaches it through `commit_loop`, so the connector and the
    engine's mutators can never drift on log semantics.
    Being the one primitive also makes it the write-side protocol
    gate: the table's protocol (version + writer features, validated
    against the pre-commit snapshot) is enforced HERE, so no writer —
    engine mutator, connector batch/stream writer, or a direct caller
    — can mutate a table it does not implement, and `append_only`
    tables reject remove/dv-carrying commits at the primitive.
    ``rows``: the caller's already-replayed log snapshot (avoids a
    second replay); ``extra_writer_features``: capabilities the caller
    implements beyond this module's write path.
    """
    acts = list(actions)
    if rows is None:
        rows = [
            r
            for r in _log_rows(log_dir)
            if r.get("action") in ("commitInfo", "protocol")
        ]
    check_protocol(
        rows,
        "write",
        extra_writer_features=extra_writer_features,
        actions=acts,
    )
    if not any(a.get("action") == "commitInfo" for a in acts):
        import time

        prev = max(
            (
                r.get("ts") or 0
                for r in rows
                if r.get("action") == "commitInfo"
            ),
            default=0,
        )
        ci = {
            "commit": version,
            "action": "commitInfo",
            "op": op,
            "ts": max(int(time.time() * 1_000_000), prev + 1),
        }
        if metrics:
            # operation metrics (Delta's operationMetrics): driver-known
            # counters only — recording them must never cost a data pass
            ci["metrics"] = json.dumps(metrics, sort_keys=True)
        acts.insert(0, ci)
    path = os.path.join(log_dir, f"{version:05d}.json")
    try:
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    return True


#: commit-race budgets (commit attempts): an engine mutator's attempt
#: may re-run Spark work, a connector writer's only rebuilds actions
#: over already-published files, so the writers can afford more.
#: Each retry revalidates against a fresh snapshot, so a budget bounds
#: live-lock under contention, not correctness.
ENGINE_COMMIT_BUDGET = 3
WRITER_COMMIT_BUDGET = 20


class TxlogConflictError(RuntimeError):
    """A concurrent writer kept winning the commit race past the retry
    budget, or changed what this commit was validated against (Delta's
    ConcurrentModificationException analogue)."""


def commit_loop(
    log_dir: str,
    plan,
    op: str,
    budget: int = ENGINE_COMMIT_BUDGET,
    rebase=None,
    read=_log_rows,
    **commit_kw,
):
    """THE optimistic commit loop of the format. Each attempt reads ONE
    log snapshot (``read(log_dir)``), claims version head+1 (0 on an
    empty log), and commits through `attempt_commit` with that snapshot
    as ``rows`` — so what the actions were validated against, the
    version they claim and the protocol gate all see the same state,
    and a commit landing in between collides on the version file.

    ``plan(rows, version)`` returns the actions to commit, or None when
    there is nothing to commit (an empty append, an already-applied
    txn). After a lost race, ``rebase(rows, lost)`` — when given — says
    whether the previous plan is still valid against the fresh snapshot
    (``lost``: the version the intervening commits took first); True
    re-commits the same actions at the new version without re-planning
    (the cheap path of a conflict check), False re-plans. A rebase may
    raise `TxlogConflictError` itself (a caller that must not serialize
    after a conflicting writer). ``commit_kw`` goes to `attempt_commit`.

    Returns ``(version, attempts)`` — version None when ``plan``
    declined; raises `TxlogConflictError` after ``budget`` lost
    attempts."""
    actions = lost = None
    for attempt in range(1, budget + 1):
        rows = read(log_dir)
        version = max((r["commit"] for r in rows), default=-1) + 1
        if actions is not None and rebase is not None and rebase(rows, lost):
            actions = [{**a, "commit": version} for a in actions]
        else:
            actions = plan(rows, version)
            if actions is None:
                return None, attempt - 1
        if attempt_commit(
            log_dir, version, actions, op=op, rows=rows, **commit_kw
        ):
            return version, attempt
        lost = version
    raise TxlogConflictError(
        f"{op} lost the commit race {budget} times: {log_dir}"
    )


#: default row-group split threshold: files larger than this are split
#: into one input partition per PACK of row groups (~threshold bytes
#: each) — a table of few huge files otherwise under-parallelizes (one
#: partition per file starves a wide cluster). Matches the spirit of
#: spark.sql.files.maxPartitionBytes.
_RG_SPLIT_DEFAULT = 128 << 20


def _rg_splits(path: str, threshold: int) -> list:
    """Input-partition split plan for one part file: ``[None]`` (whole
    file, the common small-file case — one stat syscall, no footer
    read) or row-group index packs of ~``threshold`` bytes each for an
    OVERSIZE file. Only oversize files pay a footer read, and the
    footer is metadata-sized — the same planning cost profile as a JVM
    file source's split computation."""
    if threshold <= 0:
        return [None]
    try:
        if os.path.getsize(path) <= threshold:
            return [None]
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except Exception:
        return [None]  # unreadable metadata: fall back to whole-file
    n = md.num_row_groups
    if n <= 1:
        return [None]
    packs, cur, cur_bytes = [], [], 0
    for i in range(n):
        sz = md.row_group(i).total_byte_size
        if cur and cur_bytes + sz > threshold:
            packs.append(cur)
            cur, cur_bytes = [], 0
        cur.append(i)
        cur_bytes += sz
    if cur:
        packs.append(cur)
    return packs if len(packs) > 1 else [None]


class _PartFilePartition(InputPartition):
    def __init__(self, path: str, data_dir: str = "", dv_paths=None,
                 colmap=None, row_groups=None):
        self.path = path
        self.data_dir = data_dir
        self.dv_paths = dv_paths or []
        #: logical -> (physical, ddl type) when the snapshot is
        #: column-mapped; pickled WITH the partition so executors see
        #: the planning-time mapping (only pushFilters-era self
        #: mutations are guaranteed visible to read())
        self.colmap = colmap
        #: row-group indices this partition serves (None = whole file)
        self.row_groups = row_groups


def _read_pq(path: str, columns, row_groups=None):
    """One part file (or a row-group pack of it) as a pyarrow Table —
    the split unit `_rg_splits` planned."""
    import pyarrow.parquet as pq

    if row_groups is None:
        return pq.read_table(path, columns=columns)
    f = pq.ParquetFile(path)
    try:
        return f.read_row_groups(row_groups, columns=columns)
    finally:
        f.close()


def _read_part(path: str, names: list, data_dir: str = "",
               dv_paths=None, dv_key: str = "", colmap=None,
               row_groups=None):
    """Executor-side decode of one parquet part file via pyarrow,
    yielding whole Arrow RecordBatches (the Spark 4 Python DataSource
    fast path — columnar hand-off, no per-row Python tuples). When the
    file has live deletion vectors, their keys are anti-filtered HERE,
    still columnar (pyarrow compute is_in): merge-on-read tables read
    through the connector see exactly what the engine's DV-aware replay
    sees, never resurrected rows. A column-MAPPED (or additively
    EVOLVED) table's files are read under their PHYSICAL names and
    projected to logical; a physical column the file predates (re-ADD
    after DROP binds a fresh physical name, evolution adds a new one)
    null-fills — so dropped data can never resurrect through the
    connector either. The two mechanics COMPOSE: DV keys are logical
    VALUES (unchanged by renames), so tombstones are applied to the
    logical table after projection — a rename between the delete and
    the read never resurrects a deleted row."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # the dv key column must be readable even when the projection
    # pruned it — read it alongside, filter, then drop it back out
    want_dv = bool(dv_paths) and bool(dv_key)
    read_names = (
        list(names) + [dv_key]
        if want_dv and dv_key not in names
        else names
    )
    if colmap:
        import pyarrow as pa

        avail = set(pq.read_schema(path).names)
        present = [
            colmap[n][0] for n in read_names if colmap[n][0] in avail
        ]
        raw = _read_pq(path, present, row_groups)
        cols, fields = [], []
        for n in read_names:
            phys, ddl = colmap[n]
            typ = _arrow_type(ddl)
            if phys in avail:
                col = raw.column(phys).cast(typ)
            else:
                col = pa.nulls(raw.num_rows, type=typ)
            cols.append(col)
            fields.append(pa.field(n, typ))
        table = pa.table(cols, schema=pa.schema(fields))
    else:
        table = _read_pq(path, read_names, row_groups)
    if want_dv:
        import pyarrow as pa

        dead = []
        for dv in dv_paths:
            t = pq.read_table(dv, columns=["target", "key"])
            mask = pc.equal(t.column("target"), data_dir)
            dead.append(t.filter(mask).column("key"))
        keys = pa.concat_arrays([c.combine_chunks() for c in dead])
        if len(keys):
            key_col = table.column(dv_key)
            if colmap:
                # dv sidecars store raw key values; cast to the logical
                # type already applied to the table's key column
                keys = keys.cast(key_col.type)
            keep = pc.invert(pc.is_in(key_col, value_set=keys))
            table = table.filter(keep)
    yield from table.select(names).to_batches()


def _stats_encode(v):
    """Typed-JSON encoding of a recorded bound: int/float/str are
    JSON-native; date/timestamp become self-describing ISO documents
    (Delta stores per-type stats in its add-action JSON likewise).
    Self-describing, so no separate type column is needed and mixed
    tables replay without a schema registry."""
    import datetime

    if isinstance(v, datetime.datetime):
        return {"t": "timestamp", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"t": "date", "v": v.isoformat()}
    return v


def _stats_decode(e):
    """Inverse of `_stats_encode` — returns a value comparable with
    the pushed filter's Python value (str/int/float compare natively;
    dates/timestamps decode to datetime objects)."""
    if isinstance(e, dict):
        import datetime

        if e.get("t") == "date":
            return datetime.date.fromisoformat(e["v"])
        return datetime.datetime.fromisoformat(e["v"])
    return e


def _fold_stats(stats_dicts) -> dict:
    """Fold per-column [min, max, nulls] stat entries across
    tasks/files: None-aware min/max (an all-null file contributes no
    bounds), summed null counts."""
    out: dict = {}
    for d in stats_dicts:
        for c, cur in (d or {}).items():
            mn, mx = cur[0], cur[1]
            nulls = cur[2] if len(cur) > 2 else 0
            old = out.get(c)
            if old is None:
                out[c] = [mn, mx, nulls]
                continue
            if mn is not None:
                old[0] = mn if old[0] is None else min(old[0], mn)
                old[1] = mx if old[1] is None else max(old[1], mx)
            old[2] += nulls
    return out


def _stats_json(stats: dict) -> str:
    """Render a {col: [mn, mx, nulls]} fold as the add action's
    ``stats_json`` payload (sorted keys — deterministic commits).
    An all-null column records only its null count (Delta's
    nullCount stat); bounds appear only when real values exist."""
    doc: dict = {}
    for c, cur in stats.items():
        mn, mx = cur[0], cur[1]
        e: dict = {}
        if mn is not None:
            e["min"] = _stats_encode(mn)
            e["max"] = _stats_encode(mx)
        if len(cur) > 2:
            e["nulls"] = cur[2]
        doc[c] = e
    return json.dumps(doc, sort_keys=True)


def _attach_bytes(actions: list) -> None:
    """Record each add action's on-disk size (Delta's add.size):
    driver-side stat of already-published files, metadata-cost only.
    Best-effort — a stat failure just leaves the add byte-less, and
    byte-based admission falls back to stat-at-planning for those."""
    for a in actions:
        if a.get("action") == "add" and "bytes" not in a:
            try:
                a["bytes"] = _dir_bytes(a["path"])
            except OSError:
                pass


def _attach_stats(add: dict, stats, stats_cols, legacy: bool) -> None:
    """Record a ``{col: (mn, mx)}`` fold on an add action — the ONE
    writer of the two stats vocabularies: a single integer column
    keeps the original int64 ``min_key``/``max_key``/``stats_col``
    fields (existing tables unchanged); everything else (comma lists,
    strings, dates, timestamps, floats) records typed-JSON
    ``stats_json`` bounds. `_add_bounds` is the one reader of both,
    and `_kept_files` the one pruning rule over them."""
    if not stats_cols:
        return
    if legacy:
        c = stats_cols[0]
        cur = (stats or {}).get(c)
        add["min_key"] = cur[0] if cur else None
        add["max_key"] = cur[1] if cur else None
        add["stats_col"] = c
    elif stats:
        add["stats_json"] = _stats_json(stats)


def _range_prunes(f, mn, mx) -> bool:
    """True iff filter ``f`` PROVES [mn, mx] holds no matching value.
    Each proof only returns True when it PRUNES; incomparable types
    (TypeError) prove nothing and keep the file."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
        StringStartsWith,
    )

    try:
        if isinstance(f, EqualTo) and (f.value < mn or f.value > mx):
            return True
        if isinstance(f, GreaterThan) and mx <= f.value:
            return True
        if isinstance(f, GreaterThanOrEqual) and mx < f.value:
            return True
        if isinstance(f, LessThan) and mn >= f.value:
            return True
        if isinstance(f, LessThanOrEqual) and mn > f.value:
            return True
        if isinstance(f, In) and all(v < mn or v > mx for v in f.value):
            return True
        if (
            isinstance(f, StringStartsWith)
            and isinstance(f.value, str)
            and f.value
            and isinstance(mn, str)
            and isinstance(mx, str)
        ):
            # strings with prefix p live in [p, p[:-1] + succ(p[-1]))
            p = f.value
            if mx < p:
                return True
            last = ord(p[-1])
            if last < 0x10FFFF and mn >= p[:-1] + chr(last + 1):
                return True
    except TypeError:
        pass  # incomparable types: no range proof for this filter
    return False


def _stats_entry(add: dict, col: str):
    """``add``'s ``stats_json`` entry for ``col`` (``{min, max,
    nulls}``), or None when it records none or is undecodable — an
    undecodable entry proves nothing, so the file is kept."""
    sj = add.get("stats_json")
    if not sj:
        return None
    try:
        return (json.loads(sj) if isinstance(sj, str) else sj).get(col)
    except Exception:
        return None


def _add_bounds(add: dict, col: str):
    """The exact ``(min, max)`` of ``col`` that ``add`` records, in
    either vocabulary `_attach_stats` writes (int64 ``min_key``/
    ``max_key`` under ``stats_col``, or typed ``stats_json``); None
    when it records no bounds for ``col``."""
    if (
        add.get("stats_col") == col
        and add.get("min_key") is not None
        and add.get("max_key") is not None
    ):
        return add["min_key"], add["max_key"]
    entry = _stats_entry(add, col)
    if entry is None or entry.get("min") is None or entry.get("max") is None:
        return None
    try:
        return _stats_decode(entry["min"]), _stats_decode(entry["max"])
    except Exception:
        return None


def _prunes_file(f, add: dict) -> bool:
    """True iff pushed filter ``f`` PROVES the file behind ``add``
    holds no matching rows, from the add action's own metadata:
    partition value (part/part_col), recorded integer column bounds
    (min_key/max_key/stats_col), typed multi-column bounds
    (stats_json), or bloom membership. Conservative by construction —
    any unprovable case keeps the file, and Spark re-applies every
    filter post-scan, so pruning is a pure superset guarantee."""
    from pyspark.sql.datasource import EqualTo, In

    if len(f.attribute) != 1:
        return False
    col = f.attribute[0]
    if add.get("part_col") == col and add.get("part") is not None:
        v = add["part"]
        if isinstance(f, EqualTo) and isinstance(f.value, str):
            return v != f.value
        if isinstance(f, In):
            vals = [x for x in f.value if isinstance(x, str)]
            return len(vals) == len(f.value) and v not in vals
        return False
    # a proof that fails falls through to the next kind of metadata —
    # a file can carry bounds, null counts and a bloom on one column
    bounds = _add_bounds(add, col)
    if bounds is not None and _range_prunes(f, *bounds):
        return True
    entry = _stats_entry(add, col)
    if entry is not None:
        from pyspark.sql.datasource import IsNotNull, IsNull

        nulls = entry.get("nulls")
        # null-count proofs (Delta's nullCount skipping): a file
        # with zero nulls holds no IS NULL row; a file whose nulls
        # equal its row count holds no IS NOT NULL row
        if isinstance(f, IsNull) and nulls == 0:
            return True
        if (
            isinstance(f, IsNotNull)
            and nulls is not None
            and add.get("rows") is not None
            and nulls == add["rows"]
        ):
            return True
    if add.get("bloom_col") == col and add.get("bloom"):
        # bloom membership: an unset probe bit PROVES absence (prune);
        # a set bit may be a false positive (keep — superset guarantee)
        try:
            if isinstance(f, EqualTo) and isinstance(f.value, int):
                return not _bloom_maybe_contains(add, f.value)
            if isinstance(f, In) and all(
                isinstance(v, int) for v in f.value
            ):
                return not _bloom_any_contains(add, f.value)
        except Exception:
            return False  # undecodable filter metadata: keep the file
    if add.get("tbloom_col") == col and add.get("tbloom"):
        # substring bloom: a needle window the filter proves absent
        # proves no value CONTAINS the needle. Prefix/suffix/equality
        # matches are substrings too, so the same proof applies.
        from pyspark.sql.datasource import (
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        try:
            if isinstance(
                f, (StringContains, StringStartsWith, StringEndsWith)
            ) and isinstance(f.value, str):
                return _text_bloom_prunes(add, f.value)
            if isinstance(f, EqualTo) and isinstance(f.value, str):
                return _text_bloom_prunes(add, f.value)
            if (
                isinstance(f, In)
                and f.value
                and all(isinstance(v, str) for v in f.value)
            ):
                # prune only if EVERY candidate value is proven absent
                return all(
                    _text_bloom_prunes(add, v) for v in f.value
                )
        except Exception:
            return False
    return False


def _live_adds(rows: list, as_of=None) -> dict:
    """{live path: its winning add action} — the per-file metadata
    (part values, recorded stats) pruning evaluates against."""
    last: dict = {}
    for r in sorted(rows, key=lambda r: (r["commit"], r["action"] or "")):
        if as_of is not None and r["commit"] > as_of:
            continue
        if r["action"] in ("add", "remove") and r.get("path") is not None:
            last[r["path"]] = r
    return {p: r for p, r in last.items() if r["action"] == "add"}


def _kept_files(rows: list, filters, as_of=None) -> list:
    """The live files at ``as_of`` that no pushed filter proves empty
    (`_prunes_file`) — the ONE file-pruning rule for log tables, shared
    by the connector reader and the engine's stats reads. A superset
    of the matching files: the caller re-applies every filter."""
    live = _live_files(rows, as_of=as_of)
    if not filters:
        return live
    adds = _live_adds(rows, as_of=as_of)
    return [
        p for p in live if not any(_prunes_file(f, adds[p]) for f in filters)
    ]


#: planning-worker registry: relation id -> (push count, RUNNING
#: INTERSECTION of every filter-set pushed for that relation, as stable
#: reprs). Defense against SPARK's shared readInfo (see
#: TxlogBatchReader.pushFilters); worker processes are long-lived
#: (spark.python.worker.reuse), so sequential plannings of a relation
#: share it. Bounded FIFO so a long session can't grow it.
_PUSHED_SETS: dict = {}
_PUSHED_SETS_MAX = 1024


class TxlogBatchReader(DataSourceReader):
    def __init__(self, options, names, relation_id=None):
        self.log_dir = _local_path(options.get("path"))
        self.names = names
        #: key column the dv sidecars tombstone (Delta's DV descriptor
        #: carries row positions; this format carries keys) — required
        #: only when the log holds live dv actions
        self.dv_key = options.get("dv_key", "")
        #: time travel: version_as_of / timestamp_as_of reader options
        #: (resolved against the log at planning time)
        self.version_as_of = options.get("version_as_of")
        self.timestamp_as_of = options.get("timestamp_as_of")
        #: row-group split threshold (0 disables): oversize files plan
        #: one input partition per ~threshold-byte row-group pack, so
        #: a few-huge-files table parallelizes across a wide cluster
        self.rg_split_bytes = int(
            options.get("rowgroup_split_bytes", str(_RG_SPLIT_DEFAULT))
        )
        #: filters Spark pushed down (pushFilters) — used ONLY to
        #: prune whole files at planning time from log metadata
        self._pushed = []
        #: identity of the spark.read...load() relation this reader
        #: plans for (None for directly constructed readers) — keys the
        #: shared-readInfo defense in pushFilters
        self._relation_id = relation_id
        if not self.log_dir:
            raise ValueError("txlog source requires a path option")

    def _as_of_opts(self) -> dict:
        return {
            "version_as_of": self.version_as_of,
            "timestamp_as_of": self.timestamp_as_of,
        }

    def pushFilters(self, filters):
        """Planning-time file pruning from pushed predicates (the
        Python DataSource pushdown hook, Spark 4.1): equality/range/IN
        filters on columns whose bounds the LOG records — partition
        values of partitioned writes, min/max of stats-recording
        writes, bloom membership of bloom-indexed writes — shrink the
        file list in ``partitions()``. EVERY filter is returned as
        residual so Spark re-applies it exactly: metadata pruning is a
        superset guarantee, never a row filter, so a loose bound can
        only cost performance, never rows.

        SHARED-READINFO SAFETY (upstream Spark 4.1 defect, verified on
        the bytecode: ``PythonScanBuilder.pushFilters`` stores each
        branch's planned read via ``PythonDataSourceV2.setReadInfo`` on
        the ONE object shared by every scan of the same ``load()``, and
        execution's ``getOrCreateReadInfo`` returns whichever plan was
        set LAST): two differently-filtered branches of one loaded
        DataFrame would both execute the last branch's pruned file
        list, and the other branch's residual re-filter would silently
        DROP ROWS. Defense: the planning worker keeps a registry of
        every filter set ever pushed for this RELATION (a uuid minted
        per load(); the pickled DataSource instance is cached per
        relation, so all its plannings share it), and pruning uses the
        INTERSECTION of those sets. Any readInfo that survives the
        last-write-wins race was therefore planned against a file list
        that is a SUPERSET for every scan whose push preceded it — each
        scan's own residual re-apply restores exactness — while the
        common single-scan case (one push ever) keeps full pruning.
        Directly constructed readers (unit probes) have no relation id
        and keep plain per-instance semantics.

        Scope honesty: the registry lives in ONE planning worker's
        module globals. With worker reuse on (the default) sequential
        plannings of a relation share it; plannings dispatched to
        DIFFERENT planning workers (heavily concurrent multi-thread
        drivers) or a relation evicted by the bounded FIFO fall back to
        full per-planning pruning — i.e. the upstream defect's exposure
        narrows to those windows rather than vanishing. The real fix is
        upstream (per-scan readInfo); until then prefer separate
        load() calls per concurrent branch pipeline."""
        filters = list(filters)
        self._pushed = filters
        if self._relation_id is not None:
            if (
                self._relation_id not in _PUSHED_SETS
                and len(_PUSHED_SETS) >= _PUSHED_SETS_MAX
            ):
                _PUSHED_SETS.pop(next(iter(_PUSHED_SETS)))
            cur = {repr(f) for f in filters}
            # LRU, not FIFO: pop-and-reinsert on every hit so the
            # eviction victim at capacity is the LEAST recently
            # planned relation — a long-lived, actively branched
            # relation (exactly where the shared-readInfo defense
            # matters most) is never the one evicted
            seen = _PUSHED_SETS.pop(self._relation_id, None)
            if seen is None:
                _PUSHED_SETS[self._relation_id] = (1, cur)
            else:
                # running intersection: O(1) state per relation, same
                # invariant (effective ⊆ every pushed set ever)
                common = seen[1] & cur
                _PUSHED_SETS[self._relation_id] = (seen[0] + 1, common)
                self._pushed = [
                    f for f in filters if repr(f) in common
                ]
        return filters

    def partitions(self):
        rows = _log_rows(self.log_dir)
        as_of = _resolve_as_of(rows, self._as_of_opts())
        # protocol gate, snapshot-scoped: a time-travel read before an
        # upgrade is governed by the protocol in force at that version
        check_protocol(rows, "read", as_of=as_of)
        mapping = _mapping_as_of(rows, as_of)
        live = _kept_files(rows, self._pushed, as_of)
        dvs = _live_dvs(rows, live, as_of=as_of)
        if dvs and not self.dv_key:
            raise ValueError(
                "txlog table has live deletion vectors; pass "
                ".option('dv_key', <key column>) so the reader can "
                "apply them"
            )
        if mapping is not None:
            colmap = {
                c["name"]: (c["physical"], c["type"])
                for c in mapping["columns"]
            }
            if dvs and self.dv_key not in colmap:
                raise ValueError(
                    f"dv_key {self.dv_key!r} is not a logical column of"
                    " the column-mapped table"
                )
        else:
            evolved = _ddl_schema_as_of(rows, as_of)
            # an EVOLVED table reads like an identity-mapped one: files
            # that predate an added column null-fill it at decode time
            colmap = (
                {n: (n, t) for n, t in _parse_ddl(evolved)}
                if evolved is not None
                else None
            )
        return [
            _PartFilePartition(p, d, dvs.get(d, []), colmap, rgs)
            for d in live
            for p in _part_files([d])
            for rgs in _rg_splits(p, self.rg_split_bytes)
        ]

    def read(self, partition):
        yield from _read_part(
            partition.path,
            self.names,
            partition.data_dir,
            partition.dv_paths,
            self.dv_key,
            partition.colmap,
            partition.row_groups,
        )


class TxlogStreamReader(DataSourceStreamReader):
    """Commit-window micro-batches: ``latestOffset`` reports the log
    head, ``partitions(start, end)`` lists the window's still-live
    added files, and ``read`` decodes executor-side. Offsets are just
    commit versions — pure log metadata, so a checkpointed restart
    re-plans exactly the same window."""

    def __init__(self, options, names):
        self.log_dir = _local_path(options.get("path"))
        self.names = names
        #: Delta's streaming contract: a source over a mutated table
        #: fails by default — set ignore_deletes=true to consume the
        #: add-only file stream anyway (deletes surface via the change
        #: data feed, not this source)
        self.ignore_deletes = (
            str(options.get("ignore_deletes", "false")).lower() == "true"
        )
        #: admission control (Delta's maxFilesPerTrigger analogue, in
        #: commit units): cap each micro-batch at this many commits
        #: past the last planned end. 0 = unbounded. The Python stream
        #: API has no ReadLimit plumbing and the engine asks for
        #: latestOffset BEFORE it reveals the start (observed call
        #: order; initialOffset comes later), so the cursor is reader
        #: instance state seeded by the first partitions() call: the
        #: FIRST planned batch takes the whole backlog (catch-up),
        #: every batch after it admits at most this many commits.
        #: Correctness never depends on the cap — offsets stay pure
        #: log metadata; under-admitting only defers commits.
        self.max_commits = int(options.get("max_commits_per_trigger", "0"))
        #: Delta's maxBytesPerTrigger analogue, in commit units: after
        #: the catch-up batch, admit commits while their cumulative
        #: add-action bytes fit the budget (always at least one —
        #: a single over-budget commit must still drain). Bytes come
        #: from the adds' recorded ``bytes`` (connector writes stamp
        #: them); an engine-written add without one is statted at
        #: planning time and memoized. 0 = unbounded. Commit-size skew
        #: no longer makes max_commits_per_trigger the only (wrong)
        #: lever. Both caps compose: commits AND bytes each bound the
        #: admitted window.
        self.max_bytes = int(options.get("max_bytes_per_trigger", "0"))
        self._bytes_cache: dict = {}
        #: same row-group split plan as the batch reader — a stream
        #: micro-batch over a few huge files parallelizes too
        self.rg_split_bytes = int(
            options.get("rowgroup_split_bytes", str(_RG_SPLIT_DEFAULT))
        )
        self._cursor = None
        if not self.log_dir:
            raise ValueError("txlog stream source requires a path option")

    def initialOffset(self):
        return {"version": -1}

    def _head(self) -> int:
        rows = _log_rows(self.log_dir)
        return max((r["commit"] for r in rows), default=-1)

    def _commit_bytes(self, rows, version: int) -> int:
        """Total add-action bytes of one commit, from recorded sizes
        where present, statted-and-memoized where not (engine-side
        writers predate byte recording)."""
        total = 0
        for r in rows:
            if r["commit"] != version or r["action"] != "add":
                continue
            b = r.get("bytes")
            if b is None:
                p = r.get("path")
                b = self._bytes_cache.get(p)
                if b is None:
                    try:
                        b = _dir_bytes(p)
                    except OSError:
                        b = 0
                    self._bytes_cache[p] = b
            total += b
        return total

    def latestOffset(self):
        # the current log head: each micro-batch consumes every commit
        # that landed since the last one (with admission control on,
        # availableNow drains to the head in capped steps instead of
        # one giant batch; a continuous trigger gets one capped batch
        # per poll — the standard file-source pacing).
        head = self._head()
        if self._cursor is None or (
            self.max_commits <= 0 and self.max_bytes <= 0
        ):
            return {"version": head}
        end = head
        if self.max_commits > 0:
            end = min(end, self._cursor + self.max_commits)
        if self.max_bytes > 0 and end > self._cursor:
            rows = _log_rows(self.log_dir)
            budget = self.max_bytes
            admitted = self._cursor
            for v in range(self._cursor + 1, end + 1):
                b = self._commit_bytes(rows, v)
                if admitted > self._cursor and b > budget:
                    break  # budget spent; defer the rest
                budget -= b
                admitted = v
            # at least one commit always drains (a single over-budget
            # commit must not wedge the stream)
            end = max(admitted, min(self._cursor + 1, end))
        return {"version": end}

    def partitions(self, start, end):
        self._cursor = int(end["version"])
        rows = _log_rows(self.log_dir)
        # protocol gate at the window end (the snapshot this batch is
        # planned against) — a mid-stream upgrade to an unsupported
        # feature fails the NEXT micro-batch loudly instead of
        # silently misreading the upgraded table
        check_protocol(rows, "read", as_of=int(end["version"]))
        if not self.ignore_deletes and any(
            r.get("action") == "dv" and r["commit"] <= int(end["version"])
            for r in rows
        ):
            raise ValueError(
                "txlog stream source over a table with deletion vectors:"
                " this source streams ADDED files only and would"
                " silently miss the deletes. Use the change data feed"
                " for row-level changes, or pass"
                " .option('ignore_deletes', 'true') to consume the"
                " add-only stream deliberately."
            )
        files = _incremental_files(
            rows, int(start["version"]), int(end["version"])
        )
        # evolved or column-mapped tables: stream partitions carry the
        # window-end snapshot's logical projection, so pre-evolution
        # files null-fill instead of crashing the micro-batch
        end_v = int(end["version"])
        mapping = _mapping_as_of(rows, as_of=end_v)
        if mapping is not None:
            colmap = {
                c["name"]: (c["physical"], c["type"])
                for c in mapping["columns"]
            }
        else:
            evolved = _ddl_schema_as_of(rows, as_of=end_v)
            colmap = (
                {n: (n, t) for n, t in _parse_ddl(evolved)}
                if evolved is not None
                else None
            )
        return [
            _PartFilePartition(p, colmap=colmap, row_groups=rgs)
            for p in _part_files(files)
            for rgs in _rg_splits(p, self.rg_split_bytes)
        ]

    def read(self, partition):
        yield from _read_part(
            partition.path, self.names, colmap=partition.colmap,
            row_groups=partition.row_groups,
        )

    def commit(self, end):
        pass


#: DESCRIBE surfaces the connector serves without engine imports
#: (Delta's DESCRIBE HISTORY / DESCRIBE DETAIL shape): option
#: ``describe`` -> result schema
_DESCRIBE_SCHEMAS = {
    "history": (
        "version bigint, ts bigint, op string, n_adds bigint,"
        " n_removes bigint, rows_added bigint"
    ),
    "files": (
        "path string, commit bigint, part string, part_col string,"
        " bytes bigint, rows bigint, n_files bigint"
    ),
    "detail": (
        "format string, num_files bigint, size_bytes bigint,"
        " num_rows bigint, partition_cols string, num_commits bigint,"
        " checkpoint_version bigint, min_reader bigint,"
        " min_writer bigint, reader_features string,"
        " writer_features string, table_schema string"
    ),
}


class _HistoryPartition(InputPartition):
    def __init__(self, version, ts, op, n_adds, n_removes, add_paths):
        self.version = version
        self.ts = ts
        self.op = op
        self.n_adds = n_adds
        self.n_removes = n_removes
        self.add_paths = add_paths


class _FilesPartition(InputPartition):
    def __init__(self, row):
        self.row = row


class TxlogDescribeReader(DataSourceReader):
    """Provenance/inventory reads THROUGH the connector —
    ``spark.read.format("txlog").option("describe", "history")`` — so
    external readers get DESCRIBE HISTORY / DESCRIBE DETAIL-style
    metadata without importing the engine (whose
    `queries/sinks.q_sink_txlog_history` computes the identical
    history; the connector key's oracle pins the two equal).

    ``history``: one row per commit — version, commitInfo ts/op,
    add/remove action counts, and rows_added recomputed from the
    added files' parquet FOOTER counts (one partition per commit, so
    a long history parallelizes; footers are metadata-sized — no data
    scan anywhere). ``files``: the LIVE file inventory at the head —
    winning add per path with its partition value and on-disk bytes
    (recorded add bytes where present, statted otherwise)."""

    def __init__(self, options):
        self.log_dir = _local_path(options.get("path"))
        self.what = options.get("describe")
        if not self.log_dir:
            raise ValueError("txlog describe requires a path option")

    def _schema_or_empty(self) -> str:
        try:
            return _infer_ddl(self.log_dir)
        except ValueError:
            return ""

    def partitions(self):
        rows = _log_rows(self.log_dir)
        if self.what == "detail":
            # ONE metadata-sized row (Delta's DESCRIBE DETAIL): the
            # live inventory rollup, the commit/checkpoint positions,
            # and the protocol in force — all from log replay; row
            # counts fall back to parquet FOOTER counts only for adds
            # that predate row recording (still metadata, no data scan)
            live = _live_adds(rows)
            n_bytes = 0
            n_rows = 0
            for p, r in live.items():
                b = r.get("bytes")
                if b is None:
                    try:
                        b = _dir_bytes(p)
                    except OSError:
                        b = 0
                n_bytes += b or 0
                rr = r.get("rows")
                if rr is None:
                    import pyarrow.parquet as pq

                    rr = sum(
                        pq.ParquetFile(f).metadata.num_rows
                        for f in _part_files([p])
                    )
                n_rows += rr
            pcols = sorted(
                {
                    r["part_col"]
                    for r in live.values()
                    if r.get("part_col")
                }
            )
            ckpts = _checkpoint_dirs(self.log_dir)
            proto = _latest_protocol(rows) or {}
            return [
                _FilesPartition(
                    (
                        "txlog",
                        len(live),
                        n_bytes,
                        n_rows,
                        ",".join(pcols),
                        max((r["commit"] for r in rows), default=-1) + 1,
                        int(ckpts[-1].rsplit("_", 1)[-1])
                        if ckpts
                        else -1,
                        int(proto.get("min_reader", 1)),
                        int(proto.get("min_writer", 1)),
                        ",".join(proto.get("reader_features") or []),
                        ",".join(proto.get("writer_features") or []),
                        # an EMPTY footer-served table has no schema
                        # to infer; detail must still serve (Delta's
                        # DESCRIBE DETAIL works on empty tables)
                        self._schema_or_empty(),
                    )
                )
            ]
        if self.what == "files":
            out = []
            for p, r in sorted(_live_adds(rows).items()):
                b = r.get("bytes")
                if b is None:
                    try:
                        b = _dir_bytes(p)
                    except OSError:
                        b = None
                out.append(
                    _FilesPartition(
                        (
                            p,
                            r["commit"],
                            r.get("part"),
                            r.get("part_col"),
                            b,
                            r.get("rows"),
                            len(_part_files([p])),
                        )
                    )
                )
            return out
        adds: dict = {}
        removes: dict = {}
        for r in rows:
            if r["action"] == "add":
                adds.setdefault(r["commit"], []).append(r["path"])
            elif r["action"] == "remove":
                removes[r["commit"]] = removes.get(r["commit"], 0) + 1
        cis = sorted(
            (r["commit"], r["ts"], r["op"])
            for r in rows
            if r["action"] == "commitInfo"
        )
        return [
            _HistoryPartition(
                v, ts, op, len(adds.get(v, [])), removes.get(v, 0),
                adds.get(v, []),
            )
            for v, ts, op in cis
        ]

    def read(self, partition):
        if isinstance(partition, _FilesPartition):
            yield partition.row
            return
        import pyarrow.parquet as pq

        n = 0
        for d in partition.add_paths:
            for p in _part_files([d]):
                n += pq.ParquetFile(p).metadata.num_rows
        yield (
            partition.version,
            partition.ts,
            partition.op,
            partition.n_adds,
            partition.n_removes,
            n,
        )


def checkpoint_log(log_dir: str, version: int) -> str:
    """Action-complete log CHECKPOINT, stdlib+pyarrow only (the
    connector's writers run in Spark's Python planning worker, where no
    SparkSession exists) — the same reconciliation as
    queries/sinks.txlog_checkpoint: add/remove last-wins per path, dv
    kept per (sidecar, target), txn markers and metaData rows kept,
    one commitInfo per commit kept (timestamp resolution and history
    survive compaction). Writes ONE parquet file named
    ``_checkpoint_<version>`` carrying every column of the engine's
    action schema and DELETES the compacted JSON commits. Two racers
    checkpointing the same version write identical content from the
    same immutable log prefix — last rename wins, benign."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = _log_rows(log_dir)
    state: dict = {}
    for r in sorted(
        (r for r in rows if r["commit"] <= version),
        key=lambda r: (r["commit"], r["action"] or ""),
    ):
        if r["action"] in ("add", "remove"):
            state[("file", r["path"])] = r
        elif r["action"] == "dv":
            state[("dv", r["path"], r.get("target"))] = r
        elif r["action"] == "txn":
            state[("txn", r["path"])] = r
        elif r["action"] == "metaData":
            state[("meta", r["commit"])] = r
        elif r["action"] == "commitInfo":
            state[("ci", r["commit"])] = r
        elif r["action"] == "protocol":
            # per-commit retention (like metaData): protocol is
            # snapshot-scoped, so enforcement under time travel uses
            # the protocol in force at the travelled-to version
            state[("protocol", r["commit"])] = r
    cols = [
        ("commit", pa.int64()),
        ("action", pa.string()),
        ("path", pa.string()),
        ("target", pa.string()),
        ("constraint", pa.string()),
        ("part", pa.string()),
        ("schema", pa.string()),
        ("ts", pa.int64()),
        ("op", pa.string()),
        ("metrics", pa.string()),
        ("min_key", pa.int64()),
        ("max_key", pa.int64()),
        ("part_col", pa.string()),
        ("stats_col", pa.string()),
        ("bloom", pa.string()),
        ("bloom_col", pa.string()),
        ("bloom_bits", pa.int64()),
        ("stats_json", pa.string()),
        ("bytes", pa.int64()),
        ("rows", pa.int64()),
        ("protocol", pa.string()),
        ("tbloom", pa.string()),
        ("tbloom_col", pa.string()),
        ("tbloom_bits", pa.int64()),
    ]
    vals = list(state.values())
    table = pa.table(
        {n: pa.array([v.get(n) for v in vals], type=t) for n, t in cols}
    )
    # a DIRECTORY of part files, matching the engine's layout — a bare
    # file named _checkpoint_* would be invisible to Spark readers
    # (leading underscore = Hadoop hidden-file convention)
    ckpt = os.path.join(log_dir, f"_checkpoint_{version:05d}")
    tmp = ckpt + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    shutil.rmtree(ckpt, ignore_errors=True)
    os.replace(tmp, ckpt)
    for f in glob.glob(os.path.join(log_dir, "*.json")):
        base = os.path.basename(f).split(".")[0]
        if base.isdigit() and int(base) <= version:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass
    return ckpt


class _TxlogWriteCommit(WriterCommitMessage):
    """Per-task commit message: the temp parquet file the task staged
    (None for an empty partition), its row count, and — when the write
    carries ``stats_col`` columns — the task's exact per-column
    min/max as ``{col: (mn, mx)}``. Must be picklable (travels task ->
    driver)."""

    def __init__(self, tmp_path, n_rows: int, stats=None):
        self.tmp_path = tmp_path
        self.n_rows = n_rows
        #: {stats col: (exact min, exact max)} over this file's rows
        self.stats = stats
        #: partitioned writes: (tmp, partition value, rows, stats, bloom)
        self.parts = None
        #: bloom-indexed writes: encoded filter over this file's
        #: ``bloom_col`` values
        self.bloom = None
        #: text-bloom-indexed writes: encoded filter over every 4-byte
        #: substring window of this file's ``text_bloom_col`` values
        self.tbloom = None


def _writer_dirs(options) -> tuple:
    """(log_dir, data_root): the table address is the LOG dir (same
    option the readers take); data files land in the sibling ``data``
    dir unless ``data_dir`` overrides it — matching the layout
    `queries/sinks._build_txlog_table` creates."""
    log_dir = _local_path(options.get("path"))
    if not log_dir:
        raise ValueError("txlog sink requires a path option (the log dir)")
    data_root = options.get("data_dir") or os.path.join(
        os.path.dirname(log_dir.rstrip("/")), "data"
    )
    return log_dir, data_root


def _fold_batch_stats(stats: dict, batch, stats_cols) -> None:
    """Fold one Arrow batch's exact per-column min/max AND null count
    into the running ``{col: [mn, mx, nulls]}`` fold (pyarrow compute
    — the stats a real lakehouse writer records in its add action;
    all-null batches fold only nulls)."""
    import pyarrow.compute as pc

    for c in stats_cols:
        col = batch.column(c)
        s = pc.min_max(col)
        bmn, bmx = s["min"].as_py(), s["max"].as_py()
        old = stats.get(c)
        if old is None:
            stats[c] = [bmn, bmx, col.null_count]
            continue
        if bmn is not None:
            old[0] = bmn if old[0] is None else min(old[0], bmn)
            old[1] = bmx if old[1] is None else max(old[1], bmx)
        old[2] += col.null_count


def _stage_batches(
    data_root: str, iterator, stats_cols=(),
    bloom_col: str = "", bloom_bits: int = 0,
    text_bloom_col: str = "", text_bloom_bits: int = 0,
) -> _TxlogWriteCommit:
    """Task-side staging: stream Arrow RecordBatches into ONE temp
    parquet file (columnar hand-off from Spark, columnar write via
    pyarrow — no Python rows anywhere), folding exact per-column
    ``stats_cols`` min/max per batch when requested (pyarrow compute)
    and, when ``bloom_col`` is set, a per-file BLOOM FILTER over that
    column's values (numpy-vectorized probe positions — point-lookup
    pruning where a hash-distributed layout gives min/max stats
    nothing to prune on). Empty partitions stage nothing."""
    import uuid

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    it = iter(iterator)
    first = next(it, None)
    if first is None:
        return _TxlogWriteCommit(None, 0)
    tmp_dir = os.path.join(data_root, "_ds_tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    tmp = os.path.join(tmp_dir, f"stage-{uuid.uuid4().hex}.parquet")
    n = 0
    stats: dict = {}
    bloom_arr = None
    if bloom_col:
        import numpy as np

        bloom_arr = np.zeros(bloom_bits >> 3, dtype=np.uint8)
    tbloom_arr = None
    if text_bloom_col:
        import numpy as np

        tbloom_arr = np.zeros(text_bloom_bits >> 3, dtype=np.uint8)
    with pq.ParquetWriter(tmp, first.schema) as w:
        for b in _chain(first, it):
            w.write_batch(b)
            n += b.num_rows
            if stats_cols and b.num_rows:
                _fold_batch_stats(stats, b, stats_cols)
            if bloom_col and b.num_rows:
                import numpy as np

                # drop nulls BEFORE to_numpy: a null in the column makes
                # pyarrow hand back float64, and a key above 2^53 would
                # hash its ROUNDED value — a probe of the exact int then
                # proves a false absence and prunes a file holding the
                # row. drop_null keeps the dtype exact int64.
                vals = pc.drop_null(b.column(bloom_col)).to_numpy(
                    zero_copy_only=False
                )
                if len(vals):
                    for pos in _bloom_hashes(vals, bloom_bits):
                        np.bitwise_or.at(
                            bloom_arr, pos >> 3,
                            np.left_shift(
                                np.uint8(1), (pos & 7).astype(np.uint8)
                            ),
                        )
            if text_bloom_col and b.num_rows:
                import numpy as np

                # one vectorized pass over the batch's utf-8 data
                # buffer (window codes are O(bytes), no per-row python)
                codes = _text_ngram_codes(b.column(text_bloom_col))
                if len(codes):
                    for pos in _bloom_hashes(codes, text_bloom_bits):
                        np.bitwise_or.at(
                            tbloom_arr, pos >> 3,
                            np.left_shift(
                                np.uint8(1), (pos & 7).astype(np.uint8)
                            ),
                        )
    msg = _TxlogWriteCommit(tmp, n, stats or None)
    if bloom_col:
        msg.bloom = _bloom_encode(bloom_arr)
    if text_bloom_col:
        msg.tbloom = _bloom_encode(tbloom_arr)
    return msg


def _chain(first, rest):
    yield first
    yield from rest


#: bound on SIMULTANEOUSLY open ParquetWriters per task in a
#: partitioned write: one open writer per DISTINCT partition value
#: would exhaust file descriptors the first time a task sees a
#: high-cardinality partition column (the failure Delta avoids by
#: sorting/spilling). Beyond the bound the least-recently-written
#: value's file is closed; if that value recurs, a FRESH temp file is
#: opened for it — the publish step already groups multiple files per
#: value, so the layout is unchanged, just more part files.
_MAX_OPEN_PART_WRITERS = 64


def _stage_partitioned(
    data_root: str, iterator, partition_col: str, stats_cols=(),
    bloom_col: str = "", bloom_bits: int = 0,
    max_open: int = _MAX_OPEN_PART_WRITERS,
    text_bloom_col: str = "", text_bloom_bits: int = 0,
) -> _TxlogWriteCommit:
    """Task-side staging for a PARTITIONED write: each Arrow batch is
    split by the partition column's values (pyarrow compute — columnar
    masks, no Python rows) and streamed into temp parquet files per
    partition value seen by this task, folding exact ``stats_col``
    min/max AND (when requested) a ``bloom_col`` bloom filter per
    partition value (so a partitioned table gets range pruning and
    point-lookup pruning WITHIN each partition, not just partition
    pruning — Delta records per-add stats likewise). At most
    ``max_open`` writers are open at once (LRU close-and-reopen — see
    `_MAX_OPEN_PART_WRITERS`), so task fd usage is bounded regardless
    of partition-value cardinality. Returns (tmp, value, rows, min,
    max, bloom) tuples in ``parts`` — the driver groups them into
    per-partition data dirs and per-partition add actions, OR-merging
    the tasks' blooms per value."""
    import uuid

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if bloom_col or text_bloom_col:
        import numpy as np

    writers: dict = {}
    order: list = []  # LRU over OPEN writers (most recently written last)
    counts: dict = {}
    paths: dict = {}  # value -> [every temp file staged for it]
    stats: dict = {}
    blooms: dict = {}
    #: per-value text-bloom folds. NOTE the memory shape (same as
    #: ``blooms``): one filter per DISTINCT partition value seen by
    #: the task, NOT bounded by max_open — per-partition indexing is
    #: for low-cardinality partition columns (dates, categories);
    #: size text_bloom_bits down for wide layouts
    tblooms: dict = {}
    n_total = 0

    def _open_writer(v, schema):
        if len(writers) >= max_open:
            evict = order.pop(0)
            writers.pop(evict).close()
        tmp_dir = os.path.join(data_root, "_ds_tmp")
        os.makedirs(tmp_dir, exist_ok=True)
        p = os.path.join(tmp_dir, f"stage-{uuid.uuid4().hex}.parquet")
        paths.setdefault(v, []).append(p)
        counts.setdefault(v, 0)
        w = writers[v] = pq.ParquetWriter(p, schema)
        order.append(v)
        return w

    try:
        for b in iterator:
            if b.num_rows == 0:
                continue
            col = b.column(partition_col)
            if col.null_count:
                raise ValueError(
                    f"partition column {partition_col!r} must be non-null"
                )
            for v in pc.unique(col).to_pylist():
                mask = pc.equal(col, v)
                sub = b.filter(mask)
                w = writers.get(v)
                if w is None:
                    w = _open_writer(v, b.schema)
                else:
                    # refresh LRU position (len(order) <= max_open)
                    order.remove(v)
                    order.append(v)
                w.write_batch(sub)
                counts[v] += sub.num_rows
                n_total += sub.num_rows
                if stats_cols and sub.num_rows:
                    _fold_batch_stats(
                        stats.setdefault(v, {}), sub, stats_cols
                    )
                if bloom_col and sub.num_rows:
                    arr = blooms.get(v)
                    if arr is None:
                        arr = blooms[v] = np.zeros(
                            bloom_bits >> 3, dtype=np.uint8
                        )
                    # drop_null before to_numpy: see _stage_batches —
                    # a null would force a lossy float64 conversion
                    vals = pc.drop_null(sub.column(bloom_col)).to_numpy(
                        zero_copy_only=False
                    )
                    if len(vals):
                        for pos in _bloom_hashes(vals, bloom_bits):
                            np.bitwise_or.at(
                                arr, pos >> 3,
                                np.left_shift(
                                    np.uint8(1), (pos & 7).astype(np.uint8)
                                ),
                            )
                if text_bloom_col and sub.num_rows:
                    tarr = tblooms.get(v)
                    if tarr is None:
                        tarr = tblooms[v] = np.zeros(
                            text_bloom_bits >> 3, dtype=np.uint8
                        )
                    codes = _text_ngram_codes(
                        sub.column(text_bloom_col)
                    )
                    if len(codes):
                        for pos in _bloom_hashes(
                            codes, text_bloom_bits
                        ):
                            np.bitwise_or.at(
                                tarr, pos >> 3,
                                np.left_shift(
                                    np.uint8(1),
                                    (pos & 7).astype(np.uint8),
                                ),
                            )
    finally:
        for w in writers.values():
            w.close()
    msg = _TxlogWriteCommit(None, n_total)
    # one tuple per TEMP FILE (a value evicted and revisited has
    # several); the per-value stats/bloom ride on the value's first
    # tuple only — `_publish_partitioned` folds/merges per value, so
    # attaching once is exact and avoids redundant bloom encodes
    msg.parts = [
        (
            p,
            str(v),
            counts[v] if i == 0 else 0,
            stats.get(v) if i == 0 else None,
            (
                _bloom_encode(blooms[v])
                if i == 0 and v in blooms
                else None
            ),
            (
                _bloom_encode(tblooms[v])
                if i == 0 and v in tblooms
                else None
            ),
        )
        for v in sorted(paths)
        for i, p in enumerate(paths[v])
    ]
    return msg


def _publish(msgs, final_dir: str) -> None:
    """Rename the tasks' temp files into the commit's data dir with
    part-file names the replay readers glob (`_part_files`)."""
    os.makedirs(final_dir, exist_ok=True)
    for k, m in enumerate(msgs):
        os.replace(
            m.tmp_path, os.path.join(final_dir, f"part-{k:05d}.parquet")
        )


def _publish_partitioned(messages, final_dir: str, partition_col: str):
    """Group the tasks' per-partition temp files into Hive-style
    ``col=value`` dirs under ``final_dir``, folding each value's
    min/max stats and OR-merging its bloom filters across tasks.
    Returns [(pdir, value, stats|None, bloom|None)] — the driver
    commits one add action per tuple. Shared by the batch and
    streaming writer halves so the partitioned layout cannot drift
    between them."""
    from urllib.parse import quote

    groups: dict = {}
    prows: dict = {}
    pstats: dict = {}
    pblooms: dict = {}
    ptblooms: dict = {}
    for m in messages:
        for tmp, v, rows, stats, bloom, tbloom in (
            (m.parts or []) if m else []
        ):
            groups.setdefault(v, []).append(tmp)
            # per-value rows ride each message's FIRST tuple for the
            # value (like stats/bloom); later tuples carry 0
            prows[v] = prows.get(v, 0) + rows
            if stats:
                pstats[v] = _fold_stats([pstats.get(v), stats])
            if bloom is not None:
                pblooms.setdefault(v, []).append(bloom)
            if tbloom is not None:
                ptblooms.setdefault(v, []).append(tbloom)
    merged = {v: _bloom_merge(encs) for v, encs in pblooms.items()}
    tmerged = {v: _bloom_merge(encs) for v, encs in ptblooms.items()}
    out = []
    for v in sorted(groups):
        pdir = os.path.join(
            final_dir, f"{partition_col}={quote(v, safe='')}"
        )
        os.makedirs(pdir, exist_ok=True)
        for k, tmp in enumerate(groups[v]):
            os.replace(tmp, os.path.join(pdir, f"part-{k:05d}.parquet"))
        out.append(
            (
                pdir,
                v,
                prows.get(v, 0),
                pstats.get(v),
                merged.get(v),
                tmerged.get(v),
            )
        )
    return out


def _drop_temps(messages) -> None:
    for m in messages:
        if m is None:
            continue
        tmps = [m.tmp_path] if m.tmp_path else []
        tmps += [p[0] for p in (m.parts or [])]
        for t in tmps:
            try:
                os.remove(t)
            except FileNotFoundError:
                pass


def _arrow_ddl(t) -> str:
    """Best-effort Arrow type -> Spark DDL normalization (the shared
    vocabulary of the append type check and schema merge); '' for a
    type the map doesn't know — callers skip the check, never falsely
    reject."""
    s = str(t)
    m = {
        "int64": "bigint",
        "int32": "int",
        "double": "double",
        "float": "float",
        "string": "string",
        "large_string": "string",
        "bool": "boolean",
        "date32[day]": "date",
    }
    if s in m:
        return m[s]
    if s.startswith("timestamp"):
        return "timestamp"
    return ""


def _table_schema_cols(log_dir: str, rows=None):
    """[(name, ddl)] of the table's CURRENT schema: the latest DDL
    metaData when the table has evolved (the log owns the schema),
    else the footer of any live part file (same footer `_infer_ddl`
    reads; unmappable footer types get ddl ''). None for an empty
    table. Pass pre-read ``rows`` to stay on one log snapshot."""
    import pyarrow.parquet as pq

    if rows is None:
        rows = _log_rows(log_dir)
    evolved = _ddl_schema_as_of(rows)
    if evolved is not None:
        return _parse_ddl(evolved)
    parts = _part_files(_live_files(rows)[:1])
    if not parts:
        return None
    sch = pq.read_schema(parts[0])
    return [(f.name, _arrow_ddl(f.type)) for f in sch]


def _check_append_schema(
    log_dir: str, names, arrow_schema=None, merge: bool = False,
    rows=None,
):
    """Appending to a non-empty table must match its column set —
    order-insensitive (the log stores whole files, so per-file column
    order is self-describing), types checked by DDL normalization when
    the incoming Arrow schema is available (string/large_string unify;
    an unknown type is skipped, never a false reject). With
    ``merge=True`` (the connector's ``merge_schema`` option — Delta's
    mergeSchema), NEW columns are admitted instead of rejected and the
    evolved union DDL is returned for the commit to record as a
    metaData action; a column the write OMITS is also fine under merge
    (its rows null-fill at read, like any pre-evolution file). Returns
    the evolved DDL string when the schema widened, else None."""
    if rows is None:
        rows = _log_rows(log_dir)
    if _mapping_as_of(rows) is not None:
        # a column-MAPPED table's files carry version-unique PHYSICAL
        # names the log owns — a plain connector append would write
        # files under logical names that the mapped projection then
        # misreads. Fail with the right tool named instead of a
        # confusing name-mismatch against a physical footer.
        raise ValueError(
            "txlog append to a column-mapped table is not supported"
            " through the plain connector writer: use the engine's"
            " mapped write (queries/sinks.txlog_mapped_write), which"
            " maps logical to physical names at write time"
        )
    table_cols = _table_schema_cols(log_dir, rows=rows)
    if table_cols is None:
        return None
    have = dict(table_cols)
    extra = sorted(set(names) - set(have))
    missing = sorted(set(have) - set(names))
    if (extra or missing) and not merge:
        raise ValueError(
            f"txlog append schema mismatch: table has {sorted(have)}, "
            f"write has {sorted(names)}; pass"
            " .option('merge_schema', 'true') to evolve the table"
            " schema additively"
        )
    if arrow_schema is not None:
        for n in names:
            if n not in have:
                continue
            got = _arrow_ddl(arrow_schema.field(n).type)
            if have[n] and got and have[n] != got:
                raise ValueError(
                    f"txlog append type mismatch on {n!r}: table has "
                    f"{have[n]}, write has {got}"
                )
    if not extra and not missing:
        return None
    if not extra:
        # the write only OMITS columns: no new types needed, but the
        # table must become log-owned-schema (evolved) so the narrow
        # file's rows null-fill the omitted columns at read time — a
        # footer-served table would crash or silently narrow depending
        # on which file's footer planning happens to read
        if any(not t for _, t in table_cols):
            raise ValueError(
                "merge_schema: an existing table column's type is not"
                " DDL-expressible; cannot record the evolved schema"
            )
        return _roundtrip_ddl(table_cols, "merge_schema")
    if arrow_schema is None:
        raise ValueError(
            "merge_schema needs the write's Arrow schema to type the"
            " new columns"
        )
    added = []
    for n in names:
        if n in have:
            continue
        t = _arrow_ddl(arrow_schema.field(n).type)
        if not t:
            raise ValueError(
                f"merge_schema: new column {n!r} has a type the txlog"
                " DDL vocabulary cannot record"
            )
        if "`" in n:
            raise ValueError(
                f"merge_schema: column name {n!r} contains a backtick,"
                " which the DDL schema cannot quote"
            )
        added.append((n, t))
    evolved_cols = table_cols + added
    if any(not t for _, t in evolved_cols):
        raise ValueError(
            "merge_schema: an existing table column's type is not"
            " DDL-expressible; cannot record the evolved schema"
        )
    return _roundtrip_ddl(evolved_cols, "merge_schema")


def _is_integer_type(dt) -> bool:
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    return isinstance(dt, (ByteType, ShortType, IntegerType, LongType))


def _validate_stats_col(
    schema, stats_col: str, names: list, label: str = "stats_col"
) -> None:
    """stats_col columns must exist and be ORDERABLE with a recordable
    encoding: the integer family rides the legacy int64
    min_key/max_key fields; string/date/timestamp/float/double record
    typed-JSON bounds in ``stats_json`` (Delta records min/max for all
    orderable types likewise). ``bloom_col`` keeps the integer-only
    constraint so write-side and probe-side hashing agree on one
    vocabulary — rejected at writer construction, never mid-stream."""
    if not stats_col:
        return
    if stats_col not in names:
        raise ValueError(f"{label} {stats_col!r} not in write schema")
    dt = schema[stats_col].dataType
    if label == "bloom_col":
        if not _is_integer_type(dt):
            raise ValueError(
                f"{label} {stats_col!r} must be an integer column (got"
                f" {dt.simpleString()}): the bloom index hashes int64"
                " values"
            )
        return
    from pyspark.sql.types import (
        DateType,
        DoubleType,
        FloatType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    if not (
        _is_integer_type(dt)
        or isinstance(
            dt,
            (
                StringType,
                DateType,
                TimestampType,
                TimestampNTZType,
                DoubleType,
                FloatType,
            ),
        )
    ):
        raise ValueError(
            f"{label} {stats_col!r} must be an orderable column type"
            " (integer, string, date, timestamp, float, double); got"
            f" {dt.simpleString()}"
        )


def _parse_text_bloom_option(options, schema, names):
    """Parse ``text_bloom_col``/``text_bloom_bits``: the substring
    (character 4-gram) bloom index over ONE string column. Validated
    loudly at writer construction — a wrong column type or a
    non-power-of-two width must fail the job, not a task."""
    col = options.get("text_bloom_col", "")
    bits = int(
        options.get("text_bloom_bits", str(_TEXT_BLOOM_DEFAULT_BITS))
    )
    if not col:
        return "", bits
    if col not in names:
        raise ValueError(
            f"text_bloom_col {col!r} not in write schema"
        )
    from pyspark.sql.types import StringType

    if not isinstance(schema[col].dataType, StringType):
        raise ValueError(
            f"text_bloom_col {col!r} must be a string column; got"
            f" {schema[col].dataType.simpleString()}"
        )
    if bits & (bits - 1):
        raise ValueError("text_bloom_bits must be a power of two")
    return col, bits


def _parse_stats_option(options, schema, names) -> tuple:
    """Parse the ``stats_col`` option — a single column or a comma
    list (Delta's dataSkippingNumIndexedCols shape: one write serves
    range pruning on several keys). Returns ``(cols, legacy)`` where
    ``legacy`` means EXACTLY one integer column: that case keeps
    recording the original int64 ``min_key``/``max_key`` add fields
    (existing tables, readers, and hashes unchanged); every other
    shape records typed-JSON ``stats_json`` bounds."""
    raw = options.get("stats_col", "")
    cols = [c.strip() for c in raw.split(",") if c.strip()]
    if len(set(cols)) != len(cols):
        raise ValueError(f"stats_col has duplicate columns: {raw!r}")
    for c in cols:
        _validate_stats_col(schema, c, names)
    legacy = len(cols) == 1 and _is_integer_type(
        schema[cols[0]].dataType
    )
    return cols, legacy


class TxlogBatchWriter(DataSourceArrowWriter):
    """Batch writer half (``df.write.format('txlog')``): two-phase
    output commit composed with the log's optimistic concurrency.
    Tasks stage temp parquet; the driver ``commit`` publishes them
    under one fresh ``ds-write-*`` data dir and commits ONE log
    version. ``overwrite`` logically removes every live file in the
    SAME commit (atomic replace, old versions stay time-travelable);
    the remove set is recomputed from a fresh snapshot on every
    commit-race retry, so racing an engine-side mutator never loses
    its update."""

    def __init__(self, options, schema, overwrite: bool):
        self.log_dir, self.data_root = _writer_dirs(options)
        self.names = [f.name for f in schema.fields]
        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            self.arrow_schema = to_arrow_schema(schema)
        except Exception:
            self.arrow_schema = None  # names-only check still applies
        self.overwrite = overwrite
        #: columns whose exact min/max the commit records on its add
        #: actions — feeds the stats-skipping readers with zero extra
        #: passes. ONE integer column = the legacy int64
        #: min_key/max_key fields; a comma list and/or non-integer
        #: orderable types = typed-JSON ``stats_json`` bounds.
        self.stats_cols, self.legacy_stats = _parse_stats_option(
            options, schema, self.names
        )
        #: Hive/Delta-style partitioned layout: tasks split their Arrow
        #: batches by this column's value; the commit publishes one
        #: data dir per partition value and one ``part``-valued add
        #: action each, so partition-pruned reads
        #: (`_live_adds` carries each add's ``part``) plan on pure log
        #: metadata.
        #: Combines with stats_col: each partition's add also records
        #: that partition's exact min/max (partition pruning AND range
        #: pruning from one commit's metadata).
        self.partition_col = options.get("partition_col", "")
        if self.partition_col and self.partition_col not in self.names:
            raise ValueError(
                f"partition_col {self.partition_col!r} not in write schema"
            )
        #: fd-exhaustion bound for partitioned staging (see
        #: `_MAX_OPEN_PART_WRITERS`)
        self.max_open = int(
            options.get("max_open_files", str(_MAX_OPEN_PART_WRITERS))
        )
        if self.max_open < 1:
            raise ValueError("max_open_files must be >= 1")
        #: Delta's mergeSchema: an append whose column set differs from
        #: the table's evolves the schema additively (metaData action in
        #: the SAME commit) instead of rejecting
        self.merge_schema = (
            str(options.get("merge_schema", "false")).lower() == "true"
        )
        #: Delta's bloom filter index: each task folds a bloom filter
        #: over this column's values and the add action records it —
        #: point lookups (EqualTo/In) prune files a hash-distributed
        #: layout's min/max stats never could. Integer columns only
        #: (same hashing vocabulary everywhere).
        self.bloom_col = options.get("bloom_col", "")
        _validate_stats_col(schema, self.bloom_col, self.names, "bloom_col")
        self.bloom_bits = int(
            options.get("bloom_bits", str(_BLOOM_DEFAULT_BITS))
        )
        if self.bloom_col and self.bloom_bits & (self.bloom_bits - 1):
            raise ValueError("bloom_bits must be a power of two")
        #: substring (character 4-gram) bloom index over a string
        #: column — ``contains``/``LIKE '%needle%'`` reads prune whole
        #: files from log metadata (see `_text_ngram_codes`)
        self.text_bloom_col, self.text_bloom_bits = (
            _parse_text_bloom_option(options, schema, self.names)
        )
        #: Delta's checkpointInterval on the batch path: after every Nth
        #: commit, compact the log (stdlib `checkpoint_log`) so a
        #: long-lived batch-appended table's replay stays O(live + tail)
        self.ckpt_interval = int(options.get("checkpoint_interval", "0"))

    def write(self, iterator):
        if self.partition_col:
            return _stage_partitioned(
                self.data_root, iterator, self.partition_col,
                self.stats_cols, self.bloom_col, self.bloom_bits,
                self.max_open,
                self.text_bloom_col, self.text_bloom_bits,
            )
        return _stage_batches(
            self.data_root, iterator, self.stats_cols,
            self.bloom_col, self.bloom_bits,
            self.text_bloom_col, self.text_bloom_bits,
        )

    def _overwrite_ddl(self, rows):
        """Schema handling for OVERWRITE: a column-mapped table cannot
        take plain-writer files (reject, same as append), and a table
        whose schema is LOG-OWNED (a prior merge_schema evolution) must
        have its metaData RESET to this write's schema in the same
        commit — leaving the stale evolved DDL in force would make the
        overwritten table read back as all-NULL ghost columns. Runs on
        the commit attempt's OWN log snapshot."""
        if _mapping_as_of(rows) is not None:
            raise ValueError(
                "txlog overwrite of a column-mapped table is not"
                " supported through the plain connector writer: use the"
                " engine's mapped write"
                " (queries/sinks.txlog_mapped_write)"
            )
        if _ddl_schema_as_of(rows) is None:
            return None  # footer-served table: stays self-consistent
        if self.arrow_schema is None:
            raise ValueError(
                "txlog overwrite of a schema-evolved table needs the"
                " write's Arrow schema to reset the logged DDL"
            )
        cols = []
        for n in self.names:
            t = _arrow_ddl(self.arrow_schema.field(n).type)
            if not t:
                raise ValueError(
                    f"txlog overwrite: column {n!r} has a type the"
                    " evolved table's DDL vocabulary cannot record"
                )
            cols.append((n, t))
        return _roundtrip_ddl(cols, "txlog overwrite")

    def commit(self, messages):
        import uuid

        os.makedirs(self.log_dir, exist_ok=True)
        msgs = [m for m in messages if m is not None and m.tmp_path]
        final_dir = os.path.join(
            self.data_root, f"ds-write-{uuid.uuid4().hex[:8]}"
        )
        part_adds = []
        if self.partition_col:
            part_adds = _publish_partitioned(
                messages, final_dir, self.partition_col
            )
        elif msgs:
            _publish(msgs, final_dir)
        try:
            version = self._commit_published(msgs, part_adds, final_dir)
        except BaseException:
            # commit-time rejection (schema validation, mapped-table
            # reject, lost race budget) happens AFTER the task files
            # were renamed into final_dir — abort's _drop_temps only
            # knows the (already renamed away) tmp paths, so without
            # this the rejected write leaks an orphaned ds-write-* dir
            # forever. Nothing references final_dir until attempt_commit
            # succeeds (we return immediately after), so removal here is
            # always safe.
            shutil.rmtree(final_dir, ignore_errors=True)
            raise
        # checkpointing runs OUTSIDE the cleanup guard: once
        # attempt_commit succeeded the log references final_dir, and a
        # checkpoint failure must never delete committed data
        if (
            version is not None
            and self.ckpt_interval > 0
            and (version + 1) % self.ckpt_interval == 0
        ):
            checkpoint_log(self.log_dir, version)

    def _commit_published(self, msgs, part_adds, final_dir):
        def plan(rows, version):
            # ONE log snapshot per attempt feeds BOTH the schema
            # decision and the attempt version: a concurrent
            # merge_schema commit between attempts changes the schema
            # this write must validate/evolve against, and a decision
            # made on an earlier snapshot than the version claim would
            # be a lost update (the other writer's column silently
            # dropped from the head schema)
            if self.overwrite:
                evolved_ddl = self._overwrite_ddl(rows)
            else:
                evolved_ddl = _check_append_schema(
                    self.log_dir, self.names, self.arrow_schema,
                    merge=self.merge_schema, rows=rows,
                )
            actions = []
            if evolved_ddl is not None:
                actions.append(
                    {
                        "commit": version,
                        "action": "metaData",
                        "schema": evolved_ddl,
                    }
                )
            if self.overwrite:
                actions += [
                    {"commit": version, "action": "remove", "path": p}
                    for p in _live_files(rows)
                ]
            if part_adds:
                for pdir, v, nrows, st, bloom, tbloom in part_adds:
                    add = {
                        "commit": version,
                        "action": "add",
                        "path": pdir,
                        "part": v,
                        "part_col": self.partition_col,
                        "rows": nrows,
                    }
                    if st:
                        _attach_stats(
                            add, st, self.stats_cols, self.legacy_stats
                        )
                    if bloom is not None:
                        add["bloom"] = bloom
                        add["bloom_col"] = self.bloom_col
                        add["bloom_bits"] = self.bloom_bits
                    if tbloom is not None:
                        add["tbloom"] = tbloom
                        add["tbloom_col"] = self.text_bloom_col
                        add["tbloom_bits"] = self.text_bloom_bits
                    actions.append(add)
            elif msgs and (
                self.stats_cols or self.bloom_col or self.text_bloom_col
            ):
                # Delta's shape: one add PER FILE, each carrying that
                # task's exact stats and/or bloom filter — a single
                # write of a single job yields per-file metadata the
                # pruning reader serves immediately (which columns the
                # bounds describe rides in the action, so readers
                # prune without options)
                for k, m in enumerate(msgs):
                    add = {
                        "commit": version,
                        "action": "add",
                        "path": os.path.join(
                            final_dir, f"part-{k:05d}.parquet"
                        ),
                        "rows": m.n_rows,
                    }
                    _attach_stats(
                        add, m.stats, self.stats_cols, self.legacy_stats
                    )
                    if self.bloom_col and m.bloom is not None:
                        add["bloom"] = m.bloom
                        add["bloom_col"] = self.bloom_col
                        add["bloom_bits"] = self.bloom_bits
                    if self.text_bloom_col and m.tbloom is not None:
                        add["tbloom"] = m.tbloom
                        add["tbloom_col"] = self.text_bloom_col
                        add["tbloom_bits"] = self.text_bloom_bits
                    actions.append(add)
            elif msgs:
                actions.append(
                    {
                        "commit": version,
                        "action": "add",
                        "path": final_dir,
                        "rows": sum(m.n_rows for m in msgs),
                    }
                )
            if not actions:
                return None  # empty append: nothing to commit
            _attach_bytes(actions)
            return actions

        # the loop hands attempt_commit each attempt's snapshot: the
        # protocol write-gate (unknown writer features, append_only vs
        # the overwrite's removes) validates against the same state the
        # schema decision used, and a protocol rejection raises out
        # through commit()'s cleanup guard, so the published-but-
        # unreferenced final_dir is removed
        version, _ = commit_loop(
            self.log_dir,
            plan,
            "OVERWRITE" if self.overwrite else "APPEND",
            WRITER_COMMIT_BUDGET,
        )
        return version

    def abort(self, messages):
        _drop_temps(messages)


class TxlogStreamWriter(DataSourceStreamArrowWriter):
    """Streaming writer half (``df.writeStream.format('txlog')``):
    exactly-once via a per-epoch ``txn`` idempotence marker committed
    ATOMICALLY with the epoch's add action. Replay of a micro-batch
    (crash after the log commit but before the checkpoint commit)
    finds its marker and skips; a crash after the data-dir publish but
    before the log commit leaves an unreferenced dir that the replay
    clears and republishes — either way each epoch's rows land exactly
    once. ``queryName``-scoped ``txn_id`` option lets multiple streams
    share one table."""

    def __init__(self, options, schema):
        self.log_dir, self.data_root = _writer_dirs(options)
        self.names = [f.name for f in schema.fields]
        self.txn_prefix = options.get("txn_id", "txlog-stream")
        #: same two stats vocabularies as the batch writer (see
        #: `_parse_stats_option`) — a continuously-ingested table gets
        #: per-epoch data-skipping bounds on every stats column
        self.stats_cols, self.legacy_stats = _parse_stats_option(
            options, schema, self.names
        )
        #: per-epoch bloom index, same mechanic as the batch writer —
        #: a continuously-ingested table stays point-lookup-prunable
        self.bloom_col = options.get("bloom_col", "")
        _validate_stats_col(schema, self.bloom_col, self.names, "bloom_col")
        self.bloom_bits = int(
            options.get("bloom_bits", str(_BLOOM_DEFAULT_BITS))
        )
        if self.bloom_col and self.bloom_bits & (self.bloom_bits - 1):
            raise ValueError("bloom_bits must be a power of two")
        #: per-epoch substring (4-gram) bloom, same fold as the batch
        #: writer — a continuously-ingested text table stays
        #: contains-prunable epoch by epoch
        self.text_bloom_col, self.text_bloom_bits = (
            _parse_text_bloom_option(options, schema, self.names)
        )
        #: Hive/Delta-style partitioned epochs (same layout + metadata
        #: as the batch writer — `_publish_partitioned` is shared):
        #: each epoch commits one ``part``-valued add per partition
        #: value it saw, so partition-pruned reads work on streaming
        #: tables from the first micro-batch
        self.partition_col = options.get("partition_col", "")
        if self.partition_col and self.partition_col not in self.names:
            raise ValueError(
                f"partition_col {self.partition_col!r} not in write schema"
            )
        #: fd-exhaustion bound for partitioned staging (see
        #: `_MAX_OPEN_PART_WRITERS`)
        self.max_open = int(
            options.get("max_open_files", str(_MAX_OPEN_PART_WRITERS))
        )
        if self.max_open < 1:
            raise ValueError("max_open_files must be >= 1")
        #: Delta's checkpointInterval: after every Nth commit, compact
        #: the log into a parquet checkpoint (stdlib `checkpoint_log`)
        #: so a long-lived streaming table's replay cost stays
        #: O(live state + tail), not O(commits ever)
        self.ckpt_interval = int(options.get("checkpoint_interval", "0"))

    def write(self, iterator):
        if self.partition_col:
            return _stage_partitioned(
                self.data_root, iterator, self.partition_col,
                self.stats_cols, self.bloom_col, self.bloom_bits,
                self.max_open,
                self.text_bloom_col, self.text_bloom_bits,
            )
        return _stage_batches(
            self.data_root, iterator, self.stats_cols,
            self.bloom_col, self.bloom_bits,
            self.text_bloom_col, self.text_bloom_bits,
        )

    def _txn_done(self, rows, txn: str) -> bool:
        return any(
            r.get("action") == "txn" and r.get("path") == txn for r in rows
        )

    def commit(self, messages, batchId) -> None:
        txn = f"{self.txn_prefix}-{batchId}"
        msgs = [m for m in messages if m is not None and m.tmp_path]
        os.makedirs(self.log_dir, exist_ok=True)
        if self._txn_done(_log_rows(self.log_dir), txn):
            # replayed epoch: its version is already in the log
            _drop_temps(messages)
            return
        final_dir = os.path.join(
            self.data_root, f"stream-{self.txn_prefix}-epoch-{batchId:010d}"
        )
        # a crashed prior attempt may have published files without
        # committing the log version; clear so the rename set below is
        # the COMPLETE content of this epoch (partition dirs included)
        if os.path.isdir(final_dir):
            shutil.rmtree(final_dir)
        part_adds = []
        if self.partition_col:
            part_adds = _publish_partitioned(
                messages, final_dir, self.partition_col
            )
        elif msgs:
            _publish(msgs, final_dir)
        try:
            version = self._commit_epoch(msgs, part_adds, final_dir, txn)
        except BaseException:
            # a commit-time rejection (protocol gate, lost race budget)
            # leaves final_dir published but unreferenced — remove it.
            # _commit_epoch raises only BEFORE a successful
            # attempt_commit, so the removal can never touch data the
            # log references
            shutil.rmtree(final_dir, ignore_errors=True)
            raise
        # checkpointing runs OUTSIDE the cleanup guard: once committed,
        # a checkpoint failure must never delete referenced data
        if (
            version is not None
            and self.ckpt_interval > 0
            and (version + 1) % self.ckpt_interval == 0
        ):
            checkpoint_log(self.log_dir, version)

    def _commit_epoch(self, msgs, part_adds, final_dir, txn):
        def plan(rows, version):
            if self._txn_done(rows, txn):
                return None  # a concurrent replayer committed this epoch
            actions = []
            for pdir, v, nrows, st, bloom, tbloom in part_adds:
                add = {
                    "commit": version,
                    "action": "add",
                    "path": pdir,
                    "part": v,
                    "part_col": self.partition_col,
                    "rows": nrows,
                }
                if st:
                    _attach_stats(
                        add, st, self.stats_cols, self.legacy_stats
                    )
                if bloom is not None:
                    add["bloom"] = bloom
                    add["bloom_col"] = self.bloom_col
                    add["bloom_bits"] = self.bloom_bits
                if tbloom is not None:
                    add["tbloom"] = tbloom
                    add["tbloom_col"] = self.text_bloom_col
                    add["tbloom_bits"] = self.text_bloom_bits
                actions.append(add)
            if msgs and not self.partition_col:
                add = {
                    "commit": version,
                    "action": "add",
                    "path": final_dir,
                    "rows": sum(m.n_rows for m in msgs),
                }
                if self.stats_cols:
                    folded = _fold_stats([m.stats for m in msgs])
                    if folded:  # an all-null epoch records no bounds
                        _attach_stats(
                            add, folded, self.stats_cols,
                            self.legacy_stats,
                        )
                if self.bloom_col:
                    encs = [m.bloom for m in msgs if m.bloom is not None]
                    if encs:
                        add["bloom"] = _bloom_merge(encs)
                        add["bloom_col"] = self.bloom_col
                        add["bloom_bits"] = self.bloom_bits
                if self.text_bloom_col:
                    tencs = [
                        m.tbloom for m in msgs if m.tbloom is not None
                    ]
                    if tencs:
                        add["tbloom"] = _bloom_merge(tencs)
                        add["tbloom_col"] = self.text_bloom_col
                        add["tbloom_bits"] = self.text_bloom_bits
                actions.append(add)
            # the marker commits even for an empty epoch, so replay
            # detection never depends on the epoch having had rows
            actions.append(
                {"commit": version, "action": "txn", "path": txn}
            )
            _attach_bytes(actions)
            return actions

        version, _ = commit_loop(
            self.log_dir, plan, "STREAMING UPDATE", WRITER_COMMIT_BUDGET
        )
        return version

    def abort(self, messages, batchId) -> None:
        _drop_temps(messages)


class TxlogDataSource(DataSource):
    def __init__(self, options):
        super().__init__(options)
        import uuid

        #: one id per spark.read...load() relation: the JVM pickles
        #: this instance ONCE per relation and replays the bytes into
        #: every planning, so the id identifies the relation across
        #: branch plannings — the key of the shared-readInfo defense
        #: (TxlogBatchReader.pushFilters)
        self._relation_id = uuid.uuid4().hex

    @classmethod
    def name(cls):
        return "txlog"

    def _describe(self):
        what = self.options.get("describe")
        if what and what not in _DESCRIBE_SCHEMAS:
            raise ValueError(
                f"unknown describe surface {what!r}; supported:"
                f" {sorted(_DESCRIBE_SCHEMAS)}"
            )
        return what

    def schema(self):
        what = self._describe()
        if what:
            return _DESCRIBE_SCHEMAS[what]
        return _infer_ddl(_local_path(self.options.get("path")), self.options)

    def reader(self, schema):
        if self._describe():
            return TxlogDescribeReader(self.options)
        return TxlogBatchReader(
            self.options,
            [f.name for f in schema.fields],
            relation_id=self._relation_id,
        )

    def streamReader(self, schema):
        if self._describe():
            raise ValueError(
                "describe surfaces are batch-only (one snapshot of the"
                " log); use spark.read, not readStream"
            )
        return TxlogStreamReader(
            self.options, [f.name for f in schema.fields]
        )

    def writer(self, schema, overwrite: bool):
        if self._describe():
            raise ValueError("describe surfaces are read-only")
        return TxlogBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        if overwrite:
            # complete/truncate output modes would need to replace the
            # table's contents per epoch; this writer only appends —
            # fail loudly instead of silently accumulating epochs
            raise ValueError(
                "txlog streaming sink supports append output mode only"
                " (got an overwrite/truncate epoch contract)"
            )
        return TxlogStreamWriter(self.options, schema)


def register(spark, enable_pushdown: bool = True) -> None:
    """Idempotent registration: ``spark.read.format('txlog')``.

    SIDE EFFECT (session-wide): also enables Python data source filter
    pushdown (``spark.sql.python.filterPushdown.enabled``, a runtime
    SQL conf that defaults to false in Spark 4.1) — for EVERY Python
    DataSource in the session, not just txlog. The batch reader
    implements ``pushFilters``, and Spark HARD-FAILS a
    pushFilters-implementing reader when the conf is off rather than
    silently skipping pruning, so registration turns it on by default;
    other pushFilters-implementing Python sources registered in the
    same session will start receiving pushed filters too (a behavior
    change their own hard-fail semantics may depend on). Pass
    ``enable_pushdown=False`` to leave the conf untouched — txlog
    reads will then fail until the caller sets it themselves."""
    if enable_pushdown:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxlogDataSource)
