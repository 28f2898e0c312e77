"""Process environment, Spark session lifetime and resource sampling.

The package's defaults are sized for a 32-core, 48 GB driver; the
benchmark pins them to the machine it runs on, and gives every run
private temp, Spark-local and warehouse directories inside its own work
directory, so no state carries from one run to the next.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Driver heap: a quarter of RAM, capped — the workloads need far less
# than the package's 48g default.
DRIVER_MEM_CAP_MB = 3072


def package_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "src_to_kb_spark")) and os.path.isfile(
        os.path.join(ROOT, "jobs", "run_kg_pipeline.py")
    )


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(work_dir: str) -> int:
    """Set cpus, driver memory, worker import path and private dirs in
    ``os.environ`` (inherited by the JVM and its Python workers).
    Returns the cpu count."""
    cpus = len(os.sched_getaffinity(0))
    driver_mem = f"{max(1024, min(DRIVER_MEM_CAP_MB, _mem_total_mb() // 4))}m"
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=driver_mem,
        PYTHONPATH=ROOT if not path else ROOT + os.pathsep + path,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        # every JVM, the launcher's too: temp files in the work dir, and
        # no hsperfdata files in the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                          + os.environ.get("JAVA_TOOL_OPTIONS", ""),
    )
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)
    return cpus


def start_spark(work_dir: str, cpus: int):
    from src_to_kb_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads per-stage counters back from the status
            # store; keep every job and stage of a run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its
    stdin closes) and wait for it and every other child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def _ppids() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    return out


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppids().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def descendants_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process's
    descendants (the driver JVM and the Python workers), counting the
    descendants they have already reaped."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def program_cpu_s() -> float:
    """CPU seconds used so far by the whole program: this process (every
    thread of it, and the children it has reaped), which runs the job's
    driver code, and its descendants.  Unlike wall time it does not grow
    while another tenant of the machine holds the CPUs."""
    return sum(os.times()[:4]) + descendants_cpu_s()


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class MemorySampler:
    """Samples the memory of this process and all its descendants (the
    driver JVM and its Python workers) on a background thread.

    Python processes count their PSS, not RSS: the workers are forked
    from one daemon and share most of their pages, which a sum of RSS
    would count once per worker.  The JVM shares next to nothing and
    counts its RSS: reading its PSS walks every one of its thousands of
    mappings under the JVM's memory-map lock (~20 ms a read), which slows
    the program being measured."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        # CPU seconds the sampling thread has used
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        me = os.getpid()
        return sum(_rss_bytes(p) if _is_jvm(p) else _pss_bytes(p)
                   for p in (me, *_descendants(me)))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def program_cpu_s(self) -> float:
        """:func:`program_cpu_s` less the CPU this sampler has used."""
        return program_cpu_s() - self.cpu_s

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def file_count(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
