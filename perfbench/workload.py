"""One benchmark run of one workload, in one driver process.

Started by ``run.py`` inside a private run directory (cwd, ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and ``SPARK_CONF_DIR`` all point there). Prints the
result JSON as the last line of stdout and writes a fuller record (per-key
timings, and with ``--trace 1`` the spans and per-layer counts) to
``--record``.

A run is: set up ``SETUPS`` times (build the session, warm it, build the
workload's session-stage fixtures; all but the last session are stopped
again); ``WARMUP_PASSES`` untimed passes; timed passes for up to
``--seconds``; then the output checks. The tables are made beforehand by
``run.py``, outside this process, and read from ``--data``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from trace import Tracer, attribute, inclusive  # noqa: E402

#: set-ups per run; the first also starts the JVM, so ``setup_s`` is the
#: median of the rest. Fewer where fixture builds make a set-up long.
SETUPS = {"registry": 4}
DEFAULT_SETUPS = 10
#: untimed passes, numbered 1 - WARMUP_PASSES .. 0, before the timed ones
WARMUP_PASSES = 1
#: A corpus job's wall time still falls from job to job after the warm-up
#: job, by up to a third within a run, so its runs time at least three jobs
#: and report the median.
MIN_TIMED_PASSES = {"corpus_pipeline": 3}
DEFAULT_MIN_TIMED_PASSES = 1

#: Registry keys per workload: the read-only relational keys, one or two of
#: each query module, then the txlog keys (full registry families do not fit
#: the per-run time budget; see README.md).
KEYS = {
    "registry": [
        "tpch_q3", "tpch_q13", "join_left_right_full", "agg_group",
        "win_ntile_cume", "sort_limit", "set_intersect_except",
        "sink_txlog_time_travel", "sink_txlog_checkpoint", "stream_txlog_sink",
    ],
}
WORKLOADS = (*KEYS, "corpus_pipeline")

#: per-module per-layer metrics are reported for these query modules
MODULES = ("tpch", "tpch2", "joins", "aggregates", "windows", "sortset",
           "sinks", "streaming_batch")

#: session-stage fixtures built in set-up, per workload
STAGE_FIXTURES = {
    "registry": [
        ("setup.txlog_fixture_build", "sinks", "_txlog_fixture_batches"),
        ("setup.txlog_stream_stage_build", "streaming_batch",
         "_txlog_sink_stage"),
    ],
}
ALL_FIXTURES = tuple(n for fx in STAGE_FIXTURES.values() for n, _, _ in fx)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Corpus pipeline settings are the job's defaults; the DuckDB recount of
# stage 1 (quality gate + exact dedup) mirrors them.
GATED_SQL = """
SELECT count(DISTINCT text) FROM documents
WHERE lang IN ('en', 'de', 'fr') AND n_chars BETWEEN 50 AND 5000
  AND len(string_split(text, ' ')) >= 10
"""


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_state(root: str) -> dict:
    state = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            state[p] = (st.st_size, st.st_mtime_ns)
    return state


class Run:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.rng = np.random.default_rng(args.seed)
        self.data_dir = os.path.abspath(args.data)
        self.cpus = os.cpu_count() or 1
        self.spark = None
        self.setup_s: list[float] = []
        self.ops: list[dict] = []
        self.pass_s: list[float] = []
        self.failed_keys: dict[str, str] = {}

    # ---- set-up -------------------------------------------------------
    def setup_once(self, last: bool) -> None:
        import importlib

        from aind_data_transformation_spark.session import build_session

        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("session.build"):
                spark = build_session(
                    app_name=f"perfbench-{self.args.workload}",
                    master=f"local[{self.cpus}]",
                    shuffle_partitions=self.cpus,
                )
                spark.sparkContext.setLogLevel("ERROR")
            with self.tracer.span("setup.warmup"):
                spark.range(1000).selectExpr("sum(id)").collect()
            for name, mod, fn in STAGE_FIXTURES.get(self.args.workload, []):
                m = importlib.import_module(
                    f"aind_data_transformation_spark.queries.{mod}"
                )
                with self.tracer.span(name):
                    getattr(m, fn)(spark, self.data_dir)
        self.setup_s.append(time.perf_counter() - t0)
        if last:
            self.spark = spark
        else:
            spark.stop()

    def install_wrappers(self) -> None:
        from aind_data_transformation_spark import jobs, ops, texthash
        from aind_data_transformation_spark.io import sources, txlog_source

        w = self.tracer.wrap
        w(sources, "load_table", "io.sources.load_table")
        w(txlog_source, "attempt_commit", "io.txlog_source.attempt_commit")
        w(txlog_source, "checkpoint_log", "io.txlog_source.checkpoint_log")
        w(ops, "connected_components", "ops.connected_components")
        w(texthash, "verified_near_dups", "texthash.verified_near_dups")
        w(jobs.TrainingCorpusPipelineJob, "run_job", "jobs.run_job")

    # ---- passes -------------------------------------------------------
    def run_op(self, key: str, fn, pass_no: int):
        """One timed op; returns what the op's output check needs."""
        tr = self.tracer
        t0 = time.perf_counter()
        before = tree_state(os.environ["TMPDIR"]) if tr.enabled else None
        walk_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        err, out = None, None
        with tr.span("op", key=key, pass_no=pass_no) as span:
            try:
                out = fn()
            except Exception as exc:  # a failed op is counted, not fatal
                err = f"{type(exc).__name__}: {exc}"[:500]
        wall = time.perf_counter() - t0
        if tr.enabled:
            t1 = time.perf_counter()
            after = tree_state(os.environ["TMPDIR"])
            changed = [p for p, v in after.items() if before.get(p) != v]
            span["files_written"] = len(changed)
            span["bytes_written"] = sum(after[p][0] for p in changed)
            if pass_no > 0:
                tr.overhead_s += time.perf_counter() - t1 + walk_s
        self.ops.append(
            {"key": key, "pass": pass_no, "s": wall, "error": err,
             "span": span["id"] if span else None}
        )
        if err:
            self.failed_keys.setdefault(key, err)
        return out

    def registry_pass(self, pass_no: int, frames: dict) -> None:
        from aind_data_transformation_spark.queries import registry

        queries, _ = registry()
        tr = self.tracer
        for i in self.rng.permutation(len(self.keys)):
            key = self.keys[i]

            def op(key=key):
                with tr.span("queries.build"):
                    df = queries[key](self.spark, self.data_dir)
                with tr.span("queries.exec"):
                    df.write.mode("overwrite").format("noop").save()
                return df

            frames[key] = self.run_op(key, op, pass_no)

    def corpus_pass(self, pass_no: int, outputs: dict) -> None:
        from aind_data_transformation_spark.jobs import (
            TrainingCorpusPipelineJob,
            TrainingCorpusPipelineJobSettings,
        )

        out_dir = os.path.abspath(f"out/pass{pass_no}")
        settings = TrainingCorpusPipelineJobSettings(
            input_source=os.path.join(self.data_dir, "documents.parquet"),
            output_directory=out_dir,
        )
        job = TrainingCorpusPipelineJob(settings, spark=self.spark)
        resp = self.run_op("corpus_pipeline", job.run_job, pass_no)
        outputs[pass_no] = (out_dir, resp)

    def passes(self) -> dict:
        """Warm-up passes, then timed passes for up to ``--seconds`` (at
        least ``MIN_TIMED_PASSES``)."""
        results: dict = {}
        run_pass = (
            self.corpus_pass
            if self.args.workload == "corpus_pipeline"
            else self.registry_pass
        )
        for pass_no in range(1 - WARMUP_PASSES, 1):
            run_pass(pass_no, results)
        t_start = time.perf_counter()
        min_passes = MIN_TIMED_PASSES.get(self.args.workload,
                                          DEFAULT_MIN_TIMED_PASSES)
        pass_no = 0
        # Stop before a pass that would end past ``--seconds``, so that every
        # run of one commit times the same number of passes: pass times
        # still fall from pass to pass (JIT), so a median over a varying
        # number of passes would drift.
        while (pass_no < min_passes
               or time.perf_counter() - t_start + statistics.mean(self.pass_s)
               <= self.args.seconds):
            pass_no += 1
            t0 = time.perf_counter()
            with self.tracer.span("pass", pass_no=pass_no):
                run_pass(pass_no, results)
            self.pass_s.append(time.perf_counter() - t0)
        return results

    # ---- checks -------------------------------------------------------
    def check_registry(self, frames: dict) -> None:
        import duckdb

        from aind_data_transformation_spark.queries import registry
        from tests.conftest import assert_matches_oracle

        _, oracles = registry()
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for key in self.keys:
            if key in self.failed_keys:
                continue
            try:
                assert_matches_oracle(frames[key], con, oracles[key], key)
            except Exception as exc:
                self.failed_keys[key] = f"oracle: {exc}"[:500]
        con.close()

    def check_corpus(self, outputs: dict) -> None:
        import duckdb
        import pyarrow.dataset as ds

        con = duckdb.connect()
        path = os.path.join(self.data_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        want_gated = con.execute(GATED_SQL).fetchone()[0]
        con.close()
        for pass_no, (out_dir, resp) in outputs.items():
            if resp is None:
                continue
            data = json.loads(resp.data)
            rows = ds.dataset(out_dir, format="parquet",
                              partitioning="hive").count_rows()
            problems = []
            if resp.status_code != 200:
                problems.append(f"status_code {resp.status_code}")
            if rows != data["rows_clean"]:
                problems.append(f"shards hold {rows} rows, rows_clean "
                                f"{data['rows_clean']}")
            if data["rows_gated"] != want_gated:
                problems.append(f"rows_gated {data['rows_gated']}, DuckDB "
                                f"recount {want_gated}")
            if problems:
                self.failed_keys.setdefault(
                    f"corpus_pipeline#{pass_no}", "; ".join(problems)
                )

    # ---- metrics ------------------------------------------------------
    def failed_ops(self) -> int:
        if self.args.workload == "corpus_pipeline":
            bad = {int(k.split("#")[1]) for k in self.failed_keys if "#" in k}
            return sum(1 for o in self.ops if o["error"] or o["pass"] in bad)
        return sum(1 for o in self.ops if o["key"] in self.failed_keys)

    def end_to_end(self, peak_rss_mb: float) -> dict:
        timed = [o["s"] for o in self.ops if o["pass"] > 0]
        return {
            "setup_s": (statistics.median(self.setup_s[1:]), "s"),
            "pass_s": (statistics.median(self.pass_s), "s"),
            "op_gmean_s": (statistics.geometric_mean(timed), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

    def per_layer(self) -> dict:
        spans = self.tracer.spans
        inclusive(spans)
        by_id = {s["id"]: s for s in spans}
        n_passes = len(self.pass_s)

        def op_of(s):
            while s is not None and s["name"] != "op":
                s = by_id.get(s["parent"])
            return s

        def timed(s) -> bool:
            op = op_of(s)
            return op is not None and op["pass_no"] > 0

        def per_pass(pred, field) -> float:
            total = sum(s[field] for s in spans if pred(s) and timed(s))
            return total / n_passes

        def setup_median(name, field) -> float:
            vals = [s[field] for s in spans if s["name"] == name]
            return statistics.median(vals) if vals else 0.0

        from aind_data_transformation_spark.queries import registry

        queries, _ = registry()
        module_of = {
            k: queries[k].__module__.rsplit(".", 1)[1] for k in self.keys
        }

        def key_of(s):
            return op_of(s)["key"]

        m: dict[str, tuple] = {
            "session.build_s": (setup_median("session.build", "dur_s"), "s"),
        }
        for name in ALL_FIXTURES:
            m[name + "_s"] = (setup_median(name, "dur_s"), "s")
        for phase in ("build", "exec"):
            name = f"queries.{phase}"
            is_phase = lambda s, name=name: s["name"] == name  # noqa: E731
            m[f"{name}_s"] = (per_pass(is_phase, "dur_s"), "s")
            for c in ("jobs", "stages", "tasks"):
                m[f"{name}_{c}"] = (per_pass(is_phase, "incl_" + c), "count")
            if phase == "exec":
                for c in ("shuffle_read_bytes", "shuffle_write_bytes",
                          "input_bytes"):
                    m[f"{name}_{c}"] = (per_pass(is_phase, "incl_" + c), "bytes")
            for mod in MODULES:
                in_mod = (
                    lambda s, name=name, mod=mod: s["name"] == name
                    and module_of.get(key_of(s)) == mod
                )
                m[f"queries.{mod}.{phase}_s"] = (per_pass(in_mod, "dur_s"), "s")
                m[f"queries.{mod}.{phase}_jobs"] = (
                    per_pass(in_mod, "incl_jobs"), "count")

        def named(name):
            return lambda s: s["name"] == name

        lt = named("io.sources.load_table")
        m["io.sources.load_table_calls"] = (
            sum(1 for s in spans if lt(s) and timed(s)) / n_passes, "count")
        m["io.sources.load_table_s"] = (per_pass(lt, "dur_s"), "s")
        m["io.sources.load_table_jobs"] = (per_pass(lt, "incl_jobs"), "count")
        ac = named("io.txlog_source.attempt_commit")
        m["io.txlog_source.attempt_commit_calls"] = (
            sum(1 for s in spans if ac(s) and timed(s)) / n_passes, "count")
        m["io.txlog_source.attempt_commit_s"] = (per_pass(ac, "dur_s"), "s")
        m["io.txlog_source.checkpoint_log_s"] = (
            per_pass(named("io.txlog_source.checkpoint_log"), "dur_s"), "s")
        is_op = named("op")
        m["io.txlog_source.bytes_written"] = (
            per_pass(is_op, "bytes_written"), "bytes")
        m["io.txlog_source.files_written"] = (
            per_pass(is_op, "files_written"), "count")
        stream_op = lambda s: is_op(s) and s["key"].startswith("stream_")  # noqa: E731
        m["streaming.jobs"] = (per_pass(stream_op, "incl_jobs"), "count")
        m["streaming.s"] = (per_pass(stream_op, "dur_s"), "s")
        rj = named("jobs.run_job")
        m["jobs.run_job_s"] = (per_pass(rj, "dur_s"), "s")
        m["jobs.run_job_self_s"] = (per_pass(rj, "self_s"), "s")
        m["jobs.run_job_jobs"] = (per_pass(rj, "incl_jobs"), "count")
        for name in ("ops.connected_components", "texthash.verified_near_dups"):
            m[f"{name}_s"] = (per_pass(named(name), "dur_s"), "s")
            m[f"{name}_jobs"] = (per_pass(named(name), "incl_jobs"), "count")
        m["trace.overhead_s"] = (self.tracer.overhead_s / n_passes, "s")
        return m

    # ---- driver -------------------------------------------------------
    def stop_spark(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def main(self) -> dict:
        a = self.args
        self.keys = KEYS.get(a.workload, [])
        phases = {}
        t0 = time.perf_counter()

        def phase(name):
            nonlocal t0
            t1 = time.perf_counter()
            phases[name] = t1 - t0
            t0 = t1

        setups = SETUPS.get(a.workload, DEFAULT_SETUPS)
        for i in range(setups):
            self.setup_once(last=i == setups - 1)
        phase("setup")
        self.install_wrappers()
        results = self.passes()
        phase("passes")
        # read before the checks, which run DuckDB and collect every result
        # into this process
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        peak = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        with self.tracer.span("checks"):
            if a.workload == "corpus_pipeline":
                self.check_corpus(results)
            else:
                self.check_registry(results)
        phase("checks")
        self.stop_spark()
        phase("stop")
        failed = self.failed_ops()
        payload = {
            "correct": failed == 0,
            "attempted": len(self.ops),
            "failed": failed,
        }
        record = {
            "workload": a.workload,
            "seed": a.seed,
            "trace": a.trace,
            "keys": self.keys,
            "ops": self.ops,
            "pass_s": self.pass_s,
            "setup_s": self.setup_s,
            "failures": self.failed_keys,
            "phases_s": phases,
        }
        if a.trace:
            record["unattributed_jobs"] = attribute(
                self.tracer.spans, os.path.abspath("events"))
            metrics = self.per_layer()
            record["spans"] = self.tracer.spans
            record["op_counts"] = op_counts(self.tracer.spans, self.ops)
        else:
            metrics = self.end_to_end(peak)
        payload["metrics"] = {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        }
        record["result"] = payload
        with open(a.record, "w") as fh:
            json.dump(record, fh, indent=1)
        return payload


def op_counts(spans: list[dict], ops: list[dict]) -> dict:
    """Per key: jobs, stages and tasks of each timed op (build + exec);
    ``layer_share``, the self times of the layer spans inside the op summed
    and divided by the op's wall time as the benchmark timed it; and
    ``uncovered_share``, the op span's own self time (covered by no layer
    span) over the same wall time."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def self_sum(s) -> float:
        return s["self_s"] + sum(self_sum(c) for c in children.get(s["id"], []))

    out: dict = {}
    for o in ops:
        if o["pass"] <= 0:
            continue
        s = spans[o["span"]]
        layers = sum(self_sum(c) for c in children.get(s["id"], []))
        out.setdefault(o["key"], []).append(
            {"pass": o["pass"], "jobs": s["incl_jobs"],
             "stages": s["incl_stages"], "tasks": s["incl_tasks"],
             "files_written": s.get("files_written", 0),
             "layer_share": layers / o["s"],
             "uncovered_share": s["self_s"] / o["s"]}
        )
    return out


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", required=True, help="directory of the tables")
    p.add_argument("--record", required=True)
    return p.parse_args(argv)


if __name__ == "__main__":
    payload = Run(parse_args()).main()
    print(json.dumps(payload), flush=True)
