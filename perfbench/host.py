"""Host set-up for a benchmark run: environment, Spark session lifecycle,
and the peak-RSS sampler. Nothing here starts a process at import time."""

from __future__ import annotations

import os
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_facts() -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem = os.sysconf("SC_PHYS_PAGES") * _PAGE
    try:  # a cgroup limit, when set, is the memory this process can use
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            mem = min(mem, int(raw))
    except (OSError, ValueError):
        pass
    return {"nproc": cpus, "mem_total_gb": round(mem / 2**30, 1)}


def configure_env(work: str, facts: dict) -> dict:
    """Environment the driver JVM and its Python workers inherit. Must run
    before the first SparkSession is built."""
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # workers import the checkout under test, wherever the process started
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # heap sized to the host: an eighth of memory, between 1 and 4 GiB
    heap_gb = max(1, min(4, round(facts["mem_total_gb"] / 8)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(facts["nproc"])
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {"driver_mem": f"{heap_gb}g", "spark_local_dirs": local_dirs}


class Session:
    """Starts and stops the SparkSession through the package's get_spark."""

    def __init__(self, work: str, cpus: int, heap: str):
        self.work, self.cpus, self.heap = work, cpus, heap
        self.spark = None

    def start(self, event_log: str | None = None) -> float:
        from biosd_feature_annotator_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the whole heap is committed at start, so peak RSS tracks the
            # memory outside it (Python workers, off-heap and code cache)
            # instead of when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{self.heap} -XX:+AlwaysPreTouch",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark(master=f"local[{self.cpus}]", app_name="perfbench",
                               extra_conf=conf)
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def effective_conf(self) -> dict:
        keys = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                "spark.sql.files.maxPartitionBytes", "spark.eventLog.enabled")
        conf = self.spark.sparkContext.getConf()
        return {k: conf.get(k, None) for k in keys}

    def shutdown_jvm(self, timeout: float = 60) -> None:
        """Stop the session and the gateway JVM, and wait for both."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the gateway may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()  # the launcher exits when its stdin closes
                proc.wait(timeout=timeout)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait(timeout=timeout)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _resident_bytes(pid: int) -> int:
    """RSS of the JVM; PSS of every other process. Python workers are
    forked from one daemon and share its pages, which RSS would count once
    per worker."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass  # the process ended between listing and reading
    return 0


class RssSampler:
    """Peak resident memory of this process's descendants (the driver JVM
    and its Python workers), read from /proc every `period` seconds. Also
    keeps the peak of the largest single process (the JVM)."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = self.peak_largest = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = [_resident_bytes(p) for p in descendants(me)]
            self.peak = max(self.peak, sum(rss))
            self.peak_largest = max([self.peak_largest, *rss])
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def reap_children(timeout: float = 30) -> list[int]:
    """Wait for every descendant process to end; kill what is left after
    `timeout`. Returns the pids that had to be killed."""
    import signal

    deadline = time.time() + timeout
    while time.time() < deadline:
        left = descendants(os.getpid())
        if not left:
            return []
        time.sleep(0.2)
    left = descendants(os.getpid())
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in left:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass
    return left
