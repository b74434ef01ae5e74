"""Host evidence and process-tree memory, read from ``/proc``.

The evidence (load average and two CPU probes) is printed beside every
run so results can be read against the state of the host; it gates
nothing.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

def _cpu_probe(n: int) -> float:
    """Fixed single-threaded integer work; returns its wall seconds."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


PROBE_LOOPS = 2_000_000


def evidence() -> dict:
    """1-minute load average, a single-thread probe, and the same probe
    run at once in one process per core (``nproc`` workers, so the
    probe never oversubscribes the host)."""
    cores = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    single = _cpu_probe(PROBE_LOOPS)
    code = (f"import sys; sys.path.insert(0, {os.path.dirname(__file__)!r}); "
            "import host, time; time.sleep(0.3); "
            f"print(host._cpu_probe({PROBE_LOOPS}))")
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", code],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(cores)]
    per_worker = [float(p.communicate()[0]) for p in procs]
    wall = time.perf_counter() - t0
    return {"nproc": cores, "load1": load1, "probe_1t_s": single,
            "probe_nt_s": max(per_worker), "probe_nt_wall_s": wall}


def cpu_ticks() -> list[int]:
    """The host-wide counters of the ``cpu`` line of ``/proc/stat``:
    user, nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests (0 on bare metal)."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes (a forked
    Python worker and its daemon) count once across them, not once
    per process as in RSS."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(pid: int) -> dict[str, int]:
    """Summed PSS of ``pid`` and its descendants, split into the
    driver process itself, JVMs and other (Python worker) processes."""
    out = {"driver": 0, "jvm": 0, "workers": 0}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
            size = _pss_bytes(p)
        except OSError:
            continue                       # exited while sampled
        kind = "driver" if p == pid else "jvm" if comm == "java" else "workers"
        out[kind] += size
    return out


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class MemorySampler:
    """Samples the summed PSS of this process and all its descendants on
    a background thread; ``peak`` holds the largest sum seen and
    ``peak_parts`` its split at that moment."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            parts = tree_pss_bytes(pid)
            if sum(parts.values()) > self.peak:
                self.peak = sum(parts.values())
                self.peak_parts = parts
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
