"""Run context shared by the workloads: the Spark session, working
directories inside the checkout, op bookkeeping, and host readings.
"""

from __future__ import annotations

import os
import platform
import shutil
import threading
import time
from dataclasses import dataclass, field

from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work_dir: str) -> None:
    """Process-wide settings that must exist before the JVM launches.

    Spark's Python workers import the package (the ``record_feed`` data
    source is unpickled there), so the checkout root goes on
    ``PYTHONPATH``; temporary files stay inside the working directory.
    """
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Every JVM the session launches (the launcher and the driver): no
    # hsperfdata files in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def session_conf(work_dir: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # The engine default (8g) is sized for a dedicated host; the
        # benchmark shares its machine.
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if traced:
        # Keep every job and stage for the end-of-run attribution pass.
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return conf


def start_session(work_dir: str, traced: bool):
    from deathmetal_datalake_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        extra_conf=session_conf(work_dir, traced),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory_mb(spark) -> dict[str, float]:
    """High-water RSS of this Python process and of the driver JVM, and
    the JVM heap still in use after a full collection."""
    jvm = spark.sparkContext._jvm
    jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
    # The second collection frees what Spark's context cleaner released
    # after the first one (broadcasts and shuffles of collected plans).
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return {
        "python_hwm_mb": _vm_hwm_kb(os.getpid()) / 1024.0,
        "jvm_hwm_mb": _vm_hwm_kb(jvm_pid) / 1024.0,
        "jvm_heap_after_gc_mb": heap / 2**20,
    }


def host_stamp() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "loadavg_1m": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring checksum and marker files."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_") or n.startswith("."):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


@dataclass
class Op:
    kind: str
    start: float
    end: float
    ok: bool = True
    info: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Context:
    seed: int
    seconds: float
    tracer: Tracer
    work_dir: str
    spark: object = None
    ops: list[Op] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, op: Op) -> None:
        with self._lock:
            self.ops.append(op)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def now() -> float:
    return time.perf_counter()


def run_threads(*targets) -> None:
    """Run each target on its own thread, wait for all, and re-raise the
    first exception on the calling thread."""
    errors: list[Exception] = []

    def guard(fn):
        def run():
            try:
                fn()
            except Exception as e:
                errors.append(e)
        return run

    threads = [threading.Thread(target=guard(fn)) for fn in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def stop_session(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it to exit
    (it exits when its standard input closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
