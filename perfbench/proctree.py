"""Process-tree sampler: peak RSS and CPU time of the bench process, the
driver JVM it launches and the PySpark Python workers.

``resource.getrusage`` cannot see the JVM (it is not a waited-for child), so
one background thread reads ``/proc/<pid>/stat`` for every process below the
root pid at a fixed interval and keeps the peak of the summed resident set.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcSample:
    pid: int
    ppid: int
    kind: str  # "bench", "jvm", "python_worker" or "other"
    rss_bytes: int
    cpu_s: float  # user + system time of the process itself


def parse_stat(text: str) -> tuple[int, float, int]:
    """(ppid, own cpu seconds, rss bytes) from one ``/proc/<pid>/stat`` line.

    The command name (field 2) may contain spaces and parentheses, so the
    fields are counted from the last ``)``."""
    rest = text[text.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    cpu_s = (int(rest[11]) + int(rest[12])) / CLOCK_TICKS
    rss_bytes = int(rest[21]) * PAGE_BYTES
    return ppid, cpu_s, rss_bytes


def _classify(pid: int, root: int, cmdline: bytes) -> str:
    if pid == root:
        return "bench"
    argv0 = os.path.basename(cmdline.split(b"\0", 1)[0]).decode(errors="replace")
    if argv0.startswith("java"):
        return "jvm"
    if argv0.startswith("python"):
        return "python_worker"
    return "other"


def snapshot(root: int, proc: str = "/proc") -> list[ProcSample]:
    """One reading of every live process in the tree rooted at ``root``."""
    stats: dict[int, tuple[int, float, int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as f:
                stats[int(name)] = parse_stat(f.read())
        except (FileNotFoundError, ProcessLookupError, ValueError, IndexError):
            continue  # exited between listdir and open, or a torn read
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: list[ProcSample] = []
    todo = [root] if root in stats else []
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(os.path.join(proc, str(pid), "cmdline"), "rb") as f:
                cmdline = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        ppid, cpu_s, rss = stats[pid]
        out.append(ProcSample(pid, ppid, _classify(pid, root, cmdline), rss, cpu_s))
    return out


class ProcessTreeSampler:
    """Samples the process tree of ``root_pid`` every ``interval`` seconds on
    one daemon thread. Use as a context manager or call start()/stop()."""

    def __init__(self, root_pid: int | None = None, interval: float = 0.1, proc: str = "/proc"):
        self.root = root_pid or os.getpid()
        self.interval = interval
        self.proc = proc
        self.peak_rss_bytes = 0
        self.samples = 0
        self._cpu: dict[int, tuple[str, float]] = {}  # pid -> (kind, last cpu_s)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> list[ProcSample]:
        procs = snapshot(self.root, self.proc)
        total = sum(p.rss_bytes for p in procs)
        with self._lock:
            self.samples += 1
            self.peak_rss_bytes = max(self.peak_rss_bytes, total)
            for p in procs:
                self._cpu[p.pid] = (p.kind, p.cpu_s)
        return procs

    def cpu_by_kind(self) -> dict[str, float]:
        """CPU seconds per process kind, summed over every process seen so
        far (an exited process keeps its last sampled value)."""
        self.sample()
        out: dict[str, float] = {}
        with self._lock:
            for kind, cpu in self._cpu.values():
                out[kind] = out.get(kind, 0.0) + cpu
        return out

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> "ProcessTreeSampler":
        self._thread = threading.Thread(target=self._loop, name="proctree-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None

    def __enter__(self) -> "ProcessTreeSampler":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


def _running(pid: int, proc: str = "/proc") -> bool:
    try:
        with open(os.path.join(proc, str(pid), "stat")) as f:
            text = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return False
    return text[text.rindex(")") + 2] not in "ZX"  # zombies have ended


def wait_for_exit(pids: list[int], timeout: float = 30.0) -> list[int]:
    """Pids from ``pids`` still running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    return alive
