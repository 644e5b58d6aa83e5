"""Shared pieces of the perfbench workloads: the checkout paths, the Spark
session, the reference op, op accounting and the DuckDB result
normalisation."""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import gen
from tracer import Tracer

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
CORES = min(4, os.cpu_count() or 1)


class Workspace:
    """A per-run scratch directory inside the checkout, removed on exit."""

    def __init__(self, name: str):
        self.path = os.path.join(WORK, f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


def start_session(ws: Workspace):
    """The package's tuned session on ``local[CORES]``, with every file it
    writes kept inside the workspace."""
    tmp = ws.sub("tmp")
    os.environ["TMPDIR"] = tmp
    from aliyun_maxcompute_data_collectors_spark.session import get_spark
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf={
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": ws.sub("spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    """{parent pid: [child pids]} of the processes alive now, zombies
    left out."""
    out: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; the fields after it do not
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, IndexError, ValueError):
            continue
        if state != "Z":
            out[int(ppid)].append(int(name))
    return out


def _descendants(pid: int) -> set[int]:
    children, found, todo = _children(), set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in found:
                found.add(c)
                todo.append(c)
    return found


def stop_session(spark=None, timeout_s: float = 60.0) -> None:
    """Stop the SparkContext, end the JVM this process launched for it,
    and wait until the JVM and every process it started (the Python
    workers) have ended.  Left alone, the JVM outlives this process by
    seconds: it exits only when it sees its stdin closed.  Safe to call
    when no session or no JVM was started."""
    import signal
    import subprocess

    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    family = _descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits on EOF
            except OSError:
                pass
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the Python workers see the JVM gone and exit; whatever has not
        # by the deadline is killed, and waited for a little longer
        for pid in _wait_gone(family, timeout_s):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        _wait_gone(family, 10.0)


def _wait_gone(pids: set[int], timeout_s: float) -> set[int]:
    """Wait until none of ``pids`` is alive, or the timeout; the ones
    still alive."""
    deadline = time.monotonic() + timeout_s
    while ((alive := pids & set().union(*_children().values()))
           and time.monotonic() < deadline):
        time.sleep(0.05)
    return alive


# SQL settings of the reference op's session, pinned here so that a
# change to the package's own session settings moves the workloads' ops
# but not the reference
REF_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.files.openCostInBytes": "4194304",
    "spark.sql.parquet.columnarReaderBatchSize": "4096",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.parquet.filterPushdown": "true",
}


class Reference:
    """A fixed piece of plain PySpark work, timed between ops, that
    calls nothing in the package: a filtered aggregate over a parquet
    file (a JVM scan, a shuffle, a collect) and a small pandas frame
    sent through a Python worker and written as parquet.

    The host this runs on is shared, and its speed drifts by a third
    within minutes; all ops of one run slow down together.  Dividing an
    op latency by the reference's median in the same run cancels that
    drift (README, "Steadiness").  It is timed twice before the timed
    cycles, once after every ``EVERY`` ops within them, and twice after
    them, so its samples spread over the same stretch of time as the
    ops'.  The reference runs in its own session of the same
    SparkContext, with ``REF_CONF``."""

    EDGE_REPS = 2  # before the timed cycles, and again after them
    EVERY = 4  # ops between two timings within the cycles
    WARM_REPS = 2

    def __init__(self, spark, ws: Workspace, seed: int):
        self.spark = spark.newSession()
        for k, v in REF_CONF.items():
            self.spark.conf.set(k, v)
        orders = gen.orders_table(seed)
        self.src = gen.write_parquet(orders, ws.sub("reference", "orders.parquet"))
        self.out = ws.sub("reference", "out")
        self.pdf = orders.slice(0, 2_000).select(
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]).to_pandas()
        self.samples: list[float] = []
        for _ in range(self.WARM_REPS):  # untimed: the first runs are cold
            self._once()

    def _once(self) -> None:
        from pyspark.sql import functions as F
        s = self.spark
        (s.read.parquet(self.src).where(F.col("o_orderkey").between(1_000, 5_999))
         .groupBy("o_orderstatus").agg(F.count(F.lit(1)), F.sum("o_totalprice"))
         .collect())
        df = s.createDataFrame(self.pdf)
        # a lambda, so that it is pickled by value: the Python workers
        # cannot import this file
        df.mapInPandas(lambda batches: batches, df.schema).write.mode(
            "overwrite").parquet(self.out)

    def measure(self, reps: int = 1) -> None:
        for _ in range(reps):
            t0 = time.perf_counter()
            self._once()
            self.samples.append(time.perf_counter() - t0)

    @property
    def seconds(self) -> float:
        return statistics.median(self.samples)


def code_digest() -> str:
    """SHA-256 over the package's and the benchmark's Python sources, so
    saved runs can be matched to the code that made them in a checkout
    that is not a git repository."""
    h = hashlib.sha256()
    for top in ("aliyun_maxcompute_data_collectors_spark", "perfbench"):
        for d, subdirs, names in sorted(os.walk(os.path.join(ROOT, top))):
            subdirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(d, n)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


class Recorder:
    """Times ops by type, checks each result, and counts failures.

    An op that raises, or whose result fails its check, counts as
    failed; the run goes on.  Only ops that return give a latency
    sample; ``timed_s`` sums the timers of every op, and is the time
    throughput is taken over, so result checks never count."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.timed_s = 0.0
        self.between = None  # (every n ops, what to run then, untimed)

    def op(self, kind: str, fn, check=None, roots=(), rows=None):
        try:
            return self._op(kind, fn, check, roots, rows)
        finally:
            if self.between and self.attempted % self.between[0] == 0:
                self.between[1]()

    def _op(self, kind, fn, check, roots, rows):
        op_id = self.attempted
        self.attempted += 1
        self.tracer.begin_op(op_id, kind, roots, rows)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # counted, reported, and the run goes on
            self.timed_s += time.perf_counter() - t0
            self.tracer.end_op()
            self._fail(op_id, kind, f"raised {type(e).__name__}: {e}".splitlines()[0])
            traceback.print_exc(file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        self.timed_s += dt
        self.tracer.end_op()
        self.samples[kind].append(dt)
        if check is not None:
            try:
                problem = check(out)
            except Exception as e:
                problem = f"check raised {type(e).__name__}: {e}"
            if problem:
                self._fail(op_id, kind, f"wrong result: {problem}")
        return out

    def _fail(self, op_id: int, kind: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"op {op_id} ({kind}): {why}"[:300])
        print(f"perfbench: op {op_id} ({kind}) failed: {why}"[:300], file=sys.stderr)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# -- DuckDB oracle --------------------------------------------------------

@functools.cache
def normaliser():
    """The result normalisation of ``tests/test_correctness.py``:
    (frame keys, Spark date columns, DuckDB date columns)."""
    path = os.path.join(ROOT, "tests", "test_correctness.py")
    spec = importlib.util.spec_from_file_location("_perfbench_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._frame_keys, mod._spark_date_cols, mod._duck_date_cols


def duck(tables: dict[str, str]):
    """A DuckDB connection with one view per parquet file."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={CORES}")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_keys(con, sql: str) -> list:
    frame_keys, _s, duck_dates = normaliser()
    cur = con.execute(sql)
    dates = duck_dates(cur.description)
    return frame_keys(cur.df(), dates)


def spark_keys(df, pdf=None) -> list:
    """Normalised keys of a Spark result (``pdf`` if already fetched)."""
    frame_keys, spark_dates, _d = normaliser()
    return frame_keys(df.toPandas() if pdf is None else pdf, spark_dates(df))


def keys_problem(got: list, want: list) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for a, b in zip(got, want):
        if a != b:
            return f"row {a} != expected {b}"
    return None
