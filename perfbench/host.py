"""Host evidence recorded next to every run, and the process-tree CPU and
memory readings.

Nothing here touches Spark: the probe runs before the session starts, and the
readings only read ``/proc``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time


def steal_s() -> float:
    """Cumulative hypervisor steal time of the whole machine, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


_PROBE_WORKER = """
import sys

def work(k):
    acc = 0
    for i in range(k):
        acc ^= hash((i, acc & 1023))
    return acc

work(10_000)  # warm up
print("ready", flush=True)
sys.stdin.readline()
work(int(sys.argv[1]))
print("done", flush=True)
"""


def _probe_once(procs: int, per_proc: int) -> float:
    """Wall seconds ``procs`` worker processes take to hash ``per_proc``
    times each, timed from a common start after they have warmed up."""
    workers = [
        subprocess.Popen(
            [sys.executable, "-c", _PROBE_WORKER, str(per_proc)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        for _ in range(procs)
    ]
    try:
        for w in workers:
            w.stdout.readline()
        t0 = time.perf_counter()
        for w in workers:
            w.stdin.write("go\n")
            w.stdin.flush()
        for w in workers:
            w.stdout.readline()
        return time.perf_counter() - t0
    finally:
        for w in workers:
            w.stdin.close()
            try:
                w.wait(timeout=10)
            except subprocess.TimeoutExpired:
                w.kill()
                w.wait()
            w.stdout.close()


def host_probe(n_small: int = 1, n_big: int = 4, per_proc: int = 600_000) -> dict:
    """Raw compute the host backs right now: million hashes per second with
    ``n_small`` and with ``n_big`` processes, and their ratio. A ratio well
    under ``n_big / n_small`` means the cores are contended. Every worker
    process has ended when this returns."""
    out: dict = {}
    for procs in (n_small, n_big):
        out[f"mhash_s_p{procs}"] = procs * per_proc / _probe_once(procs, per_proc) / 1e6
    out["ratio"] = out[f"mhash_s_p{n_big}"] / out[f"mhash_s_p{n_small}"]
    return out


def children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass  # the process ended between listing and reading
    return kids


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants (Python
    driver, the JVM it launched, and the JVM's Python workers): resident
    memory with each shared page split among its sharers, so the workers
    forked from one daemon are not counted many times over."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue
        todo.extend(children(pid))
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its
    descendants, including reaped children. Hypervisor steal is not CPU
    time, so this cost moves far less with host congestion than wall time."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        todo.extend(children(pid))
    return total / os.sysconf("SC_CLK_TCK")


class MemorySampler:
    """Polls the process tree's proportional set size on a daemon thread and
    keeps the peak. Use as a context manager so the thread is always joined."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

