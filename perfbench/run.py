"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: ``registry`` and
``corpus_pipeline`` (see README.md). With ``--trace 0`` the last line
of stdout is the result JSON with the end-to-end metrics; with ``--trace 1``
it carries the per-layer metrics, and the spans and per-key counts go to
the run's record under ``--results``.

Each run gets a private directory under ``perfbench/.runs/`` that serves
as cwd, ``TMPDIR``, Spark local dir, warehouse and event-log dir of a child
process running ``workload.py``; ``PYTHONPATH`` points at the checkout so
Spark's Python workers import the package under test. The tables are
generated here (``datagen.py``), outside the measured child, once per
checkout into ``perfbench/.data/``; ``--data DIR`` reads existing tables of
the same schema instead. The run directory and every process the child
started are removed when the run ends.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
PACKAGE = "aind_data_transformation_spark"
#: seed of the generated tables; the run's ``--seed`` orders the work
DATA_SEED = 42
#: the whole run, set-up included, must end within this many seconds
TIMEOUT_S = 170

SPARK_DEFAULTS = """\
spark.driver.memory 1g
spark.driver.extraJavaOptions -Djava.io.tmpdir={run}/jtmp -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch
spark.ui.enabled false
spark.sql.warehouse.dir {run}/warehouse
spark.eventLog.enabled {trace}
spark.eventLog.dir file://{run}/events
spark.eventLog.rolling.enabled false
spark.eventLog.compress false
"""

LOG4J2 = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--results", default=os.path.join(HERE, "results"),
                   help="directory for the run's record")
    p.add_argument("--data", help="read the tables from this directory "
                   "instead of generating them")
    return p.parse_args()


def make_run_dir(args) -> str:
    run = os.path.join(
        HERE, ".runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    for sub in ("tmp", "jtmp", "local", "conf", "events", "warehouse"):
        os.makedirs(os.path.join(run, sub))
    with open(os.path.join(run, "conf", "spark-defaults.conf"), "w") as fh:
        fh.write(SPARK_DEFAULTS.format(
            run=run, trace="true" if args.trace else "false"))
    with open(os.path.join(run, "conf", "log4j2.properties"), "w") as fh:
        fh.write(LOG4J2)
    return run


def generated_tables() -> str:
    """Directory of the generated tables, made by the first run in a
    checkout and read, never written, by later ones. The tables depend only
    on ``DATA_SEED`` and ``datagen.py``, whose digest names the directory."""
    import datagen
    import pyarrow.parquet as pq

    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    out = os.path.join(HERE, ".data", f"seed{DATA_SEED}-{digest}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp)
        for name, table in datagen.tables(DATA_SEED).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, out)
    return out


def group_members(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the process group follows the parenthesised command name
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def kill_group(pgid: int) -> None:
    """SIGKILL the process group and wait until none of it is left."""
    deadline = time.monotonic() + 30
    while group_members(pgid) and time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.05)


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside {HERE}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    os.makedirs(args.results, exist_ok=True)
    record = os.path.abspath(os.path.join(
        args.results, f"{args.workload}-s{args.seed}-t{args.trace}.json"))
    data = os.path.abspath(args.data) if args.data else generated_tables()
    run = make_run_dir(args)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=os.path.join(run, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run, "local"),
        SPARK_CONF_DIR=os.path.join(run, "conf"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONWARNINGS="ignore",
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--record", record,
    ]
    child = subprocess.Popen(
        cmd, cwd=run, env=env, stdout=subprocess.PIPE,
        text=True, start_new_session=True,
    )
    try:
        out, _ = child.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill_group(child.pid)
        child.communicate()
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        # Spark's Python workers and anything else the child left behind
        kill_group(child.pid)
        shutil.rmtree(run, ignore_errors=True)
    lines = out.strip().splitlines()
    if child.returncode != 0 or not lines:
        print(f"perfbench: workload exited with {child.returncode}",
              file=sys.stderr)
        return child.returncode or 1
    sys.stderr.write("".join(line + "\n" for line in lines[:-1]))
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
