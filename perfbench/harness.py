"""Process-level plumbing: pinned environment, Spark session life
cycle, warm-up, memory and summary statistics.

Everything the run writes lives under ``<checkout>/.perfbench_work``.
The environment is pinned before PySpark is imported, because the
driver JVM reads ``PYSPARK_SUBMIT_ARGS`` when it launches.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import statistics
import subprocess
import sys
import time

DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, work: str, trace: bool) -> dict[str, str]:
    """Pin cores, driver memory, local dirs and confs for this process
    and the JVM it will launch; returns what was pinned."""
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dirs, tmp, os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(work, 'derby')} "
            f"-Djava.io.tmpdir={tmp}"
        ),
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        )
        + " pyspark-shell",
    }
    os.environ.update(pinned)
    return pinned


def source_identity(root: str, package: str) -> dict[str, str | None]:
    """The HEAD commit when the checkout is a git repository, and a
    digest of the package sources either way."""
    h = hashlib.sha256()
    pkg = os.path.join(root, package)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    head = None
    if os.path.isdir(os.path.join(root, ".git")):
        proc = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            check=False,
        )
        head = proc.stdout.strip() or None
    return {"head": head, "source_sha256": h.hexdigest()}


def write_warm_table(path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": [i % 7 for i in range(1000)], "v": list(range(1000))}), path)


def warm_up(spark, parquet_path: str) -> None:
    """Run a first job, a Parquet scan and a shuffle, so set-up ends
    with a usable session. Python workers are left to the cold pass,
    which is where a one-shot run pays for them."""
    spark.range(1000).count()
    spark.read.parquet(parquet_path).groupBy("k").count().collect()


def start_session():
    from omop_dump_to_parquet_spark.session import get_spark

    return get_spark("perfbench")


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def gc(spark) -> None:
    spark.sparkContext._jvm.System.gc()


def shutdown(spark) -> None:
    """Stop the session and the driver JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 20:
        return None
    return int(100 * (1 - 10 / n))


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Stopwatch:
    def __enter__(self):
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.start
        return False


def cpu_stat() -> tuple[int, int]:
    """(steal, total) jiffies of the whole VM, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_fraction(start: tuple[int, int]) -> float:
    """Share of CPU time the host took from this VM since ``start``."""
    steal, total = cpu_stat()
    return (steal - start[0]) / max(1, total - start[1])
