"""Host facts the benchmark sizes itself by, and /proc readings it records.

Everything here reads Linux /proc directly: the core count the process may
use, physical RAM, CPU steal and other-load from /proc/stat, and the
resident memory of this process and all of its descendants (the Spark JVM
and its Python workers).
"""

from __future__ import annotations

import os
import re
import signal
import threading
import time

# Default Spark driver heap. In local mode the driver JVM is also the only
# executor and the benchmark's tables are a few MB. Measured on the 4-core
# host: with a 1g heap the JVM's RSS and the walls repeated within ~4% run
# to run; with 3g the heap grew differently each run (RSS 2.9-5.3 GB) and
# the walls spread twice as wide.
DEFAULT_DRIVER_MEM = "1g"


def cpu_count() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def parse_mem(s: str) -> int:
    """A JVM memory string ("3g", "3072m", "512k", "1073741824") in bytes."""
    m = re.fullmatch(r"\s*(\d+)\s*([kKmMgGtT]?)[bB]?\s*", s)
    if not m:
        raise ValueError(f"unparseable memory setting {s!r}")
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    return int(m.group(1)) * mult[m.group(2).lower()]


def session_config(env: dict[str, str]) -> dict:
    """The declared session: cores = nproc, driver memory from
    SPARK_GRAFT_DRIVER_MEM (default DEFAULT_DRIVER_MEM). Raises ValueError
    when the memory setting reaches physical RAM, because a heap the host
    cannot back ends in swapping or the OOM killer, not in a measurement."""
    cpus = cpu_count()
    mem = env.get("SPARK_GRAFT_DRIVER_MEM") or DEFAULT_DRIVER_MEM
    ram = ram_bytes()
    if parse_mem(mem) >= ram:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={mem} is not below physical RAM "
            f"({ram / 2**30:.1f} GiB)")
    return {"cpus": cpus, "driver_mem": mem, "ram_gb": round(ram / 2**30, 2)}


# ------------------------------------------------------------------ /proc/stat


def read_cpu_ticks() -> list[int]:
    """Host-wide cpu line of /proc/stat: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":  # exited, only waiting to be reaped
            kids.setdefault(int(ppid), []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_ticks(pid: int) -> int:
    """utime+stime of ``pid`` and its live descendants, plus the children
    they have already reaped (cutime+cstime), in clock ticks."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total


class Interference:
    """Steal % and other-load % over a region: steal is hypervisor time
    taken from this VM; other-load is host CPU busy time that this process
    tree did not use, as a share of all host CPU time."""

    def __init__(self) -> None:
        self.pid = os.getpid()
        self.t0 = read_cpu_ticks()
        self.own0 = tree_cpu_ticks(self.pid)

    def finish(self) -> dict[str, float]:
        t1 = read_cpu_ticks()
        own1 = tree_cpu_ticks(self.pid)
        d = [b - a for a, b in zip(self.t0, t1)]
        total = sum(d[:8]) or 1
        idle = d[3] + d[4]
        steal = d[7] if len(d) > 7 else 0
        busy = total - idle - steal
        other = max(busy - (own1 - self.own0), 0)
        return {"steal_pct": round(100.0 * steal / total, 3),
                "other_load_pct": round(100.0 * other / total, 3)}


# ------------------------------------------------------------------ memory


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss(pid: int) -> dict[str, int]:
    """RSS in bytes of ``pid`` and its descendants, summed by command name.
    A child the JVM has forked but not yet exec'd (to run a shell command)
    maps the whole JVM heap for a moment; it is skipped, so the heap is not
    counted twice. /proc/<pid>/statm is read rather than smaps: reading
    smaps takes the target's memory-map lock and slowed the measured JVM."""
    out: dict[str, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    kids = _children()
    todo = [(pid, "")]
    while todo:
        p, parent_exe = todo.pop()
        exe = _exe(p)
        todo.extend((k, exe) for k in kids.get(p, []))
        if exe == parent_exe and os.path.basename(exe) == "java":
            continue
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class PeakRss:
    """Polls the RSS of this process tree on a thread; ``peak`` is the
    highest sum seen since ``start`` and ``at_peak`` its split by command."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _poll(self) -> None:
        split = tree_rss(os.getpid())
        if sum(split.values()) > self.peak:
            self.peak, self.at_peak = sum(split.values()), split

    def start(self) -> None:
        self._poll()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._poll()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._poll()
        return self.peak


# ------------------------------------------------------------------ teardown


def reap_descendants(timeout_s: float = 30.0) -> None:
    """Wait for every descendant of this process to exit; after
    ``timeout_s`` send SIGTERM, then SIGKILL."""
    me = os.getpid()
    deadline = time.time() + timeout_s
    while descendants(me) and time.time() < deadline:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in descendants(me):
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        t = time.time() + 5
        while descendants(me) and time.time() < t:
            time.sleep(0.1)
    # collect exit statuses of direct children so none stays a zombie
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break
