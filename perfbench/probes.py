"""Host probes: process-tree memory, the GEMM host-load control, and the
launch facts every artifact records."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

# The GEMM control: nproc concurrent single-thread processes, each running
# GEMM_REPS products of two GEMM_N x GEMM_N float64 matrices. The slowest
# took 0.53 s (median of nine; 0.41-1.03 s) on a 4-core, 15 GB x86-64 VM
# with the machine otherwise idle (one process alone: 0.35-0.49 s). A
# control well above this means something else shared the cores while the
# workload ran, and the run's timings should not be compared with others.
GEMM_N = 384
GEMM_REPS = 48
GEMM_REFERENCE_S = 0.53


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the summed RSS of this process tree (this process, the
    JVM, the Python workers) every 0.1 s on a background thread while the
    ``with`` block runs."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(0.1)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


_GEMM_CODE = f"""
import time
import numpy as np
rng = np.random.default_rng(0)
a = rng.random(({GEMM_N}, {GEMM_N}))
b = rng.random(({GEMM_N}, {GEMM_N}))
t0 = time.perf_counter()
for _ in range({GEMM_REPS}):
    a = (a @ b) / {GEMM_N}
print(time.perf_counter() - t0)
"""


def gemm_control(procs: int) -> float:
    """Wall of the slowest of ``procs`` concurrent single-thread GEMM
    processes (interpreter start-up excluded)."""
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    runs = [
        subprocess.Popen([sys.executable, "-c", _GEMM_CODE], env=env, stdout=subprocess.PIPE, text=True)
        for _ in range(procs)
    ]
    walls = [float(p.communicate()[0]) for p in runs]
    return max(walls)


def descendants() -> list[int]:
    """PIDs of every process below this one."""
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until none of ``pids`` runs: those still running after
    ``timeout_s`` get SIGTERM, and SIGKILL ``timeout_s`` later."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in filter(_alive, pids):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if not any(_alive(p) for p in pids):
                return
            time.sleep(0.1)


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 0.0


def host_facts(cpus: int) -> dict:
    from ocr_service_spark.session import driver_memory, java_opts

    return {
        "effective_cores": cpus,
        "os_cpu_count": os.cpu_count(),
        "mem_total_gb": round(mem_total_gb(), 2),
        "driver_memory": driver_memory(),
        "java_opts": java_opts(),
        "spark_driver_memory_env": os.environ.get("SPARK_DRIVER_MEMORY"),
        "loadavg_1m": os.getloadavg()[0],
    }
