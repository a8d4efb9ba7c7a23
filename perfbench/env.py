"""Machine fit, Spark session lifetime and process-tree memory sampling.

Everything the benchmark writes (Spark spill, JVM temp files, indexes,
span files) goes under one work directory inside the benchmark's own
directory, never into the repository root.
"""

from __future__ import annotations

import os
import threading

#: driver heap, fixed (-Xms = -Xmx) and touched at JVM start, so the
#: JVM's resident size does not depend on when the collector grew the
#: heap.  The engine's own default (48g) does not fit small machines; the
#: corpora here keep well under 100 MB live.
DRIVER_HEAP_MB = 1024


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def total_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure(work_dir: str) -> dict:
    """Set the environment the session factory reads.  Must run before
    the JVM starts.  Returns the settings, recorded with each result."""
    n = nproc()
    heap = DRIVER_HEAP_MB
    dirs = {k: os.path.join(work_dir, k)
            for k in ("spark-local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Xms{heap}m -XX:+AlwaysPreTouch"
        f" -Djava.io.tmpdir={dirs['tmp']}'",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={dirs['warehouse']}",
        # every job of a run stays in the status store for the tracer
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])
    return {"nproc": n, "driver_heap_mb": heap, "mem_total_mb": total_mem_mb()}


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__}


def loadavg() -> list[float]:
    return list(os.getloadavg())


def start_session(n: int):
    """get_spark + warmup_python_workers, the engine's own start-up path."""
    from tantivy_spark.session import get_spark, warmup_python_workers

    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n)
    warmup_python_workers(spark, n)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ----------------------------------------------------------------- memory
def _tree_peaks_kb(root: int) -> dict[int, tuple[int, int]]:
    """{pid: (depth below root, peak RSS (VmHWM) in KiB)} for ``root`` and
    all its descendants, read from /proc.  Depth 0 is this process, depth
    1 the JVM, deeper ones the Python worker daemon and its workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = {}, [(root, 0)]
    while todo:
        pid, depth = todo.pop()
        todo.extend((c, depth + 1) for c in children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = (depth, int(line.split()[1]))
                        break
        except OSError:
            continue
    return out


class RssSampler:
    """Background sampler of the process tree's memory high-water marks.

    The kernel keeps each process's own RSS peak (VmHWM), so the result
    does not depend on when a sample lands.  ``peak_mb`` is the peak of
    the long-lived processes: this one and the JVM.  Python workers come
    and go with Spark's worker reuse, so a sum over them would count how
    many were forked; ``worker_peak_mb`` is the largest single worker."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._peaks: dict[int, tuple[int, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for pid, (depth, kb) in _tree_peaks_kb(os.getpid()).items():
            self._peaks[pid] = (depth, max(self._peaks.get(pid, (0, 0))[1], kb))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def stop(self) -> None:
        """End sampling; the peaks seen so far are the result."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
            self._sample()

    def __exit__(self, *exc):
        self.stop()
        return False

    @property
    def peak_mb(self) -> float:
        return sum(kb for depth, kb in self._peaks.values() if depth <= 1) / 1024.0

    @property
    def worker_peak_mb(self) -> float:
        return max((kb for depth, kb in self._peaks.values() if depth > 1),
                   default=0) / 1024.0
