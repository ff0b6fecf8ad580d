"""Process and host readings taken from /proc, outside the program.

`ProcessTree` follows the Spark JVM and every process below it (the
PySpark daemon and its Python workers): CPU seconds including reaped
children, the CPU seconds of the JIT compiler threads, and resident
memory sampled on a background thread.
`HostNoise` records steal time and load so noisy runs can be spotted.
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(entry))
    return kids


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, so the
    interpreter's own start-up is included)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / _TICK


class ProcessTree:
    """The JVM at ``root_pid`` and its descendants."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root = root_pid
        self.interval = interval_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[int]:
        kids = _children_map()
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def cpu_s(self) -> float:
        """utime+stime of every live process in the tree plus the time of
        children they already reaped."""
        total = 0
        for pid in self.pids():
            f = _stat_fields(pid)
            if f is not None:
                total += sum(int(x) for x in f[11:15])
        return total / _TICK

    def jit_cpu_s(self) -> float:
        """utime+stime of the JVM's JIT compiler threads. Their work
        depends on how far warm-up has got, not on the iteration; the JVM
        must run with -XX:-UseDynamicNumberOfCompilerThreads so that no
        compiler thread exits and takes its time out of this sum."""
        total = 0
        for task in Path(f"/proc/{self.root}/task").iterdir():
            try:
                raw = (task / "stat").read_text()
            except OSError:
                continue
            if "CompilerThre" in raw[raw.index("(") : raw.rindex(")")]:
                total += sum(int(x) for x in raw[raw.rindex(")") + 2 :].split()[11:13])
        return total / _TICK

    def rss_bytes(self, pids: list[int] | None = None) -> int:
        total = 0
        for pid in pids if pids is not None else self.pids():
            try:
                total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
            except (OSError, IndexError):
                pass
        return total

    def _sample(self) -> None:
        # walking /proc for the tree is the costly part; workers are
        # long-lived, so the pid list is refreshed once a second
        pids, listed = self.pids(), time.monotonic()
        while not self._stop.wait(self.interval):
            if time.monotonic() - listed > 1.0:
                pids, listed = self.pids(), time.monotonic()
            self.peak_rss = max(self.peak_rss, self.rss_bytes(pids))

    def start_sampling(self) -> None:
        self.peak_rss = self.rss_bytes()
        self._thread = threading.Thread(target=self._sample, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop_sampling(self) -> int:
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=5)
            self._thread = None
        self.peak_rss = max(self.peak_rss, self.rss_bytes())
        return self.peak_rss


def _cpu_line() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostNoise:
    """Steal share and load average between construction and `read()`."""

    def __init__(self):
        self._start = _cpu_line()

    def read(self) -> dict:
        end = _cpu_line()
        delta = [b - a for a, b in zip(self._start, end)]
        total = sum(delta) or 1
        steal = delta[7] if len(delta) > 7 else 0
        load = Path("/proc/loadavg").read_text().split()[:3]
        return {
            "steal_pct": round(100.0 * steal / total, 3),
            "loadavg": [float(x) for x in load],
            "cores": len(os.sched_getaffinity(0)),
        }
