"""Run context shared by the workloads: checkout paths, the Spark
session, timers, resource readings and the run-environment record.

Everything a run writes stays under ``<checkout>/.perfbench/``: the
generated inputs, the KG bases, the index, Spark's local and temp dirs
and the event log of a traced run.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


class MissingProgram(RuntimeError):
    """The checkout does not hold the program the benchmark measures."""


def require_program() -> None:
    """Fail fast in a checkout that lacks the engine sources."""
    for rel in ("sema_spark/__init__.py", "sema_spark/plans/pipeline.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise MissingProgram(f"{rel} not found under {ROOT}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def work_dir(*parts: str, fresh: bool = False) -> str:
    path = os.path.join(WORK, *parts)
    if fresh:
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def confine_scratch() -> str:
    """Point Spark's shuffle/spill dir and every temp dir of the driver
    Python, the JVM and the Python workers at the checkout.  Must run before
    pyspark is imported (the gateway launcher reads ``TMPDIR``)."""
    tmp = work_dir("tmp")
    local = work_dir("spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    prev = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if opts not in prev:
        os.environ["JAVA_TOOL_OPTIONS"] = f"{prev} {opts}".strip()
    return local


def start_session(trace_dir: str | None):
    """``get_spark`` with its defaults on ``local[nproc]``; a traced run
    adds only the uncompressed, non-rolling event log."""
    from sema_spark.session import get_spark

    extra = {}
    if trace_dir is not None:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(app_name="sema_spark-perfbench", cores=os.cpu_count(), extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Spawn the whole Python worker pool (one pandas-UDF task per
    worker slot), as a serving process's executors would have it."""
    from pyspark.sql import functions as F

    from sema_spark.functions.encoder import encode_text

    n = spark.sparkContext.defaultParallelism * 2
    (
        spark.range(n * 4, numPartitions=n)
        .select(encode_text(F.col("id").cast("string")).alias("v"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids) -> float:
    """Sum of ``VmHWM`` (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total / 1e6


def tables_digest(tables: dict) -> str:
    """sha256 over the Arrow IPC bytes of named tables, used to name
    input directories so a generator change can never be served a stale
    input."""
    import pyarrow as pa

    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as writer:
            writer.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def median(values) -> float:
    return float(statistics.median(values))


class Clock:
    """Wall-clock timer whose ``lap`` returns seconds since start."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def lap(self) -> float:
        return time.perf_counter() - self.t0


def environment(spark, steal0: tuple[int, int]) -> dict:
    import pyspark

    from sema_spark.plans.materialize import materialize_mode

    conf = spark.sparkContext.getConf()
    steal1 = cpu_ticks()
    local_dir = conf.get("spark.local.dir", None) or os.environ.get("SPARK_LOCAL_DIRS", "")
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "materialize_mode": materialize_mode(),
        "driver_memory": conf.get("spark.driver.memory", None),
        "shuffle_dir": local_dir,
        "shuffle_on_dev_shm": local_dir.startswith("/dev/shm"),
        "steal_pct": round(100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 2),
    }


class Ledger:
    """Operations attempted, and the ones that raised or failed a check
    (an operation failing several checks counts once)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed_ops: set[str] = set()
        self.messages: list[str] = []

    def begin(self, name: str) -> str:
        self.attempted += 1
        return f"{name}#{self.attempted}"

    def fail(self, op: str, message: str) -> None:
        self.messages.append(f"{op}: {message}")
        self.failed_ops.add(op)

    def check(self, op: str, ok: bool, message: str) -> None:
        if not ok:
            self.fail(op, message)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)
