"""Process-level plumbing shared by the benchmark's entry points: a
per-run work directory that keeps every file the run writes inside the
checkout, the Spark session start, the machine-state record and the
small statistics helpers."""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
SF_TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()
WORK_ROOT = os.path.join(HERE, ".work")


class MissingProgram(RuntimeError):
    """The package under test is not next to the benchmark directory."""


def require_package() -> None:
    """Make the checkout's package importable, or raise
    ``MissingProgram`` when the benchmark directory stands alone."""
    if not os.path.isfile(os.path.join(REPO, "stock_ops_spark", "__init__.py")):
        raise MissingProgram(f"no stock_ops_spark package under {REPO}")
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


class Workdir:
    """``perfbench/.work/<name>-<pid>/`` holding the run's stores, stream
    files, Spark local dirs and every temp file (``TMPDIR`` and the JVM's
    ``java.io.tmpdir`` point into it).  Removed on exit.  Must be entered
    before the JVM starts."""

    def __init__(self, name: str):
        self.path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
        self._n = itertools.count()

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, name: str) -> str:
        """A new empty directory ``<name>-<n>``."""
        return self.sub(f"{name}-{next(self._n)}")

    def __enter__(self) -> "Workdir":
        shutil.rmtree(self.path, ignore_errors=True)
        tmp = self.sub("tmp")
        local = self.sub("spark-local")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options '-Djava.io.tmpdir={tmp}' pyspark-shell"
        )
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def start_spark(wd: Workdir, cores: int):
    """A session from the engine's own ``get_spark`` on ``local[cores]``,
    with the engine's own driver heap sizing (which depends on the
    machine's memory; ``driver_heap`` records it)."""
    from stock_ops_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    spark = get_spark("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait until it has exited
    (``SparkSession.stop`` leaves the gateway JVM running)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — TimeoutExpired: make sure it ends
            proc.kill()
            proc.wait()


def machine_state() -> dict:
    """What else the machine was doing when the run started, so a run on
    a loaded machine can be told apart: core count, load average, other
    JVMs running, and a fixed single-core Python loop's time."""
    snap: dict = {"nproc": os.cpu_count()}
    try:
        snap["load_avg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                continue
    snap["other_jvms"] = n
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i
    snap["cpu_mark_ms"] = round((time.perf_counter() - t0) * 1000, 1)
    return snap


def driver_heap(spark) -> dict:
    """The driver heap the session got: the configured size and the
    JVM's maximum, so runs on machines with different memory can be told
    apart."""
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return {
        "spark.driver.memory": spark.sparkContext.getConf().get(
            "spark.driver.memory", ""),
        "max_heap_mb": round(rt.maxMemory() / 2**20),
    }


def jvm_heap_peak_mb(spark) -> float:
    """Peak heap use of the driver JVM: the sum of its heap pools' peaks."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(
        pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    ) / 2**20


def jvm_gc_s(spark) -> float:
    """Time the driver JVM's garbage collectors have spent so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(
        gc.getCollectionTime() for gc in mf.getGarbageCollectorMXBeans()
    ) / 1000.0


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python process plus its JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def py_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python process."""
    return _vm_hwm_kb("self") / 1024.0


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]); ``nan`` for no values."""
    if not values:
        return float("nan")
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")
