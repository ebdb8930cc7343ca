"""Host context and process bookkeeping, read from /proc (no psutil).

- ``bandwidth_gbps``: multi-thread memory-streaming probe, recorded
  before and after each run as host-noise context (not a metric). It
  follows the warm-then-measure protocol: the first sweep after idle
  pays a first-touch page-fault tax, so one short throwaway sweep runs
  first and the best of two measured sweeps is reported. The probe
  runs in a child process (``python3 perfbench/host.py``) that exits
  before the engine starts, so its arrays never count in the
  benchmark process's peak RSS.
- ``cpu_times``: CPU steal, recorded over each run as context too.
- ``tree_peak_rss_mb``: summed peak RSS (VmHWM) of a process tree.
- ``wait_gone``: wait until a set of pids has exited.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

_STREAM_N = 8_000_000  # 64 MB of float64 per thread, far beyond L3


def _sweep(n: int, dur: float) -> float:
    """Aggregate streaming bytes/s of ``n`` threads (numpy's copy and
    sum release the interpreter lock, so the threads stream in
    parallel)."""
    import numpy as np  # only the probe's child process loads numpy

    rates = [0.0] * n

    def work(i: int) -> None:
        a = np.full(_STREAM_N, float(i + 1))
        b = np.empty_like(a)
        t0 = time.perf_counter()
        done = 0
        while time.perf_counter() - t0 < dur:
            np.copyto(b, a)  # read + write
            a.sum()          # read
            done += a.nbytes * 3
        rates[i] = done / (time.perf_counter() - t0)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(n)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return sum(rates)


def _probe(n: int = 2, dur: float = 0.2) -> float:
    _sweep(n, 0.1)  # absorb the first-touch fault tax
    return round(max(_sweep(n, dur) for _ in range(2)) / 1e9, 2)


def bandwidth_gbps() -> float:
    out = subprocess.run([sys.executable, os.path.abspath(__file__)],
                         stdout=subprocess.PIPE, text=True, check=True,
                         timeout=60)
    return float(out.stdout)


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot, from /proc/stat: the
    share of steal over a run is the time a hypervisor gave this
    machine's CPUs to others."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


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
        # the comm field may hold spaces; ppid follows its closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of per-process peak RSS over ``pid`` and its descendants (the
    driver python, the Spark JVM and its python worker daemons)."""
    pids = [pid, *descendants(pid)]
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until every pid has exited; returns the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
        return stat[stat.rindex(")") + 2] == "Z"
    except OSError:
        return True


if __name__ == "__main__":
    print(_probe())
