"""Host side of the benchmark: the Spark session sized to the machine,
peak RSS of the process tree, and the memcpy probe of the host regime.

Everything the benchmark writes goes under one work directory inside the
checkout: shuffle and spill files, temp files of the JVM and of Python,
the corpora, the outputs and the trace files.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

import numpy as np

DRIVER_MEM = "2g"  # far below the RAM of any host this runs on; inputs are small


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(repo_root: str, work: str) -> dict[str, str]:
    """Environment the Spark session and its Python workers inherit.
    Must run before the JVM starts. Returns the settings to echo."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = host_cpus()
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    settings = {
        "master": f"local[{cpus}]",
        # get_spark derives spark.sql.shuffle.partitions from this
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": local,
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(dict.fromkeys(paths)),
        "TMPDIR": tmp,
    }
    for k, v in settings.items():
        if k != "master":
            os.environ[k] = v
    import tempfile

    tempfile.tempdir = tmp
    return settings


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        # the heap is only capped (-Xmx from SPARK_GRAFT_DRIVER_MEM), so
        # the JVM's resident size follows what the engine allocates
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the traced run reads every stage of a run back from the status store
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "5000",
    }


def start_spark(settings: dict[str, str], work: str):
    from entity_resolution_engine_spark.session import get_spark

    return get_spark(
        app_name="erbench", master=settings["master"], extra_conf=spark_conf(work)
    )


def shutdown_spark() -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    from entity_resolution_engine_spark.session import stop_spark

    gateway = SparkContext._gateway  # noqa: SLF001
    stop_spark()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits on EOF of its stdin
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# peak RSS of the process tree
# ---------------------------------------------------------------------------

def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree_rss(root: int) -> dict[str, list[int]]:
    """Resident bytes of each process in the tree under ``root``, by
    command name. Counted as PSS, so that the pages the forked Python
    workers share with their daemon (and a child the JVM forks shares
    with the JVM) count once."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out: dict[str, list[int]] = {}
    todo = [(root, None)]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if exe is not None and exe == parent_exe and os.path.basename(exe) == "java":
            # the JVM spawns by vfork: until the child execs, it shares
            # the JVM's memory, and counting it would count the JVM twice
            continue
        todo.extend((child, exe) for child in children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss_kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            out.setdefault(comm, []).append(pss_kb * 1024)
        except OSError:
            pass
    return out


class RssSampler:
    """Samples the summed resident memory of this process and all its
    descendants (driver Python, the JVM, Python workers) on a background
    thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_command: dict[str, list[int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            tree = _tree_rss(pid)
            total = sum(sum(v) for v in tree.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_by_command = total, tree
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    def describe_peak(self) -> str:
        return ", ".join(
            f"{comm} {len(v)}x {sum(v) / 2**20:.0f} MB"
            for comm, v in sorted(self.peak_by_command.items())
        )


# ---------------------------------------------------------------------------
# host regime: memcpy bandwidth at 1 and at nproc streams
# ---------------------------------------------------------------------------

def memcpy_gbps(streams: int, mib: int = 32, reps: int = 5) -> float:
    """Median copy bandwidth in GB/s over ``reps`` rounds, ``streams``
    threads each copying its own ``mib`` MiB buffer (numpy releases the
    interpreter lock while it copies)."""
    bufs = [(np.ones(mib * 2**20, np.uint8), np.empty(mib * 2**20, np.uint8)) for _ in range(streams)]
    rates = []
    for _ in range(reps):
        threads = [threading.Thread(target=np.copyto, args=(dst, src)) for src, dst in bufs]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        rates.append(streams * mib * 2**20 / (time.perf_counter() - t0) / 1e9)
    return float(np.median(rates))


def host_regime() -> dict[str, float]:
    cpus = host_cpus()
    return {
        "memcpy_1_stream_gbps": round(memcpy_gbps(1), 2),
        f"memcpy_{cpus}_streams_gbps": round(memcpy_gbps(cpus), 2),
    }
