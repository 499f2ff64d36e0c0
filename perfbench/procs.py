"""Process bookkeeping for the benchmark: process age, the driver's process
tree (Python driver, Spark JVM, pyspark.daemon workers), its sampled peak
resident memory, and a Spark session that is stopped with every process it
started."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, so the
    interpreter start-up before any benchmark code runs is included)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                out[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed it
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for child, parent in _parents().items():
        children.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _running(pid: int) -> bool:
    """True until the process has exited (a zombie awaiting its reaper has
    exited)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _pss_bytes(pid: int) -> int:
    """Proportional resident memory: a page shared by n processes counts
    1/n in each, so forked pyspark.daemon workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (summed proportional set size) every `interval` seconds and keeps the
    peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            tree = [me, *descendants(me)]
            self.peak_bytes = max(self.peak_bytes,
                                  sum(_pss_bytes(p) for p in tree))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def start_spark(work_dir: str):
    """SparkSession on local[<cores available>] with every scratch file
    (block manager, JVM and Python temp files) kept inside `work_dir`."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    from reach_spark.session import get_spark
    return get_spark(
        app_name="perfbench", cores=len(os.sched_getaffinity(0)),
        extra_conf={
            # spark-submit's default heap, the one jobs/run_pipeline.py
            # gets; pinned so the caller's SPARK_DRIVER_MEM cannot change
            # it. A larger heap grows with GC timing and made the peak
            # memory spread 15 % between runs.
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        })


def stop_spark(timeout: float = 60.0) -> None:
    """Stop the JVM the session launched and wait until it and every
    Python worker it started have exited. The JVM is killed rather than
    asked to stop: a graceful SparkContext.stop() spends seconds cleaning
    up caches and scratch directories that the caller deletes anyway."""
    from pyspark import SparkContext
    # workers orphaned by the JVM's exit are re-parented away from us, so
    # the tree is listed before anything stops
    started = descendants(os.getpid())
    accumulators = SparkContext._active_spark_context._accumulatorServer
    # the kill cuts the JVM's accumulator connection mid-read
    accumulators.handle_error = lambda *_: None
    gateway = SparkContext._gateway
    gateway.proc.kill()
    gateway.proc.wait()
    gateway.shutdown()
    accumulators.shutdown()
    SparkContext._active_spark_context = None  # nothing left to stop at exit
    deadline = time.monotonic() + timeout
    left = [p for p in started if _running(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _running(p)]
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
