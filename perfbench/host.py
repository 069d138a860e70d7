"""Host sizing, the host stamp, and the RSS sampler.

The session is sized from the host it runs on (``sched_getaffinity``
and ``/proc/meminfo``), never from environment variables, so the
benchmark starts the same way on any Linux box.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List, Optional


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("/proc/meminfo has no MemTotal")


def driver_memory_mb() -> int:
    """An eighth of physical memory, kept between 1 and 4 GiB: local mode
    runs the executor inside the driver JVM, and the Python workers
    (one per core) live outside this heap."""
    return max(1024, min(4096, mem_total_bytes() // 8 // (1 << 20)))


def session_conf(work: str, trace: bool) -> Dict[str, str]:
    """Spark conf for ``medcat_spark.session.get_spark(extra_conf=...)``.
    Every scratch path lives under ``work`` (inside the checkout)."""
    from medcat_spark.session import fixed_heap_conf
    tmp = os.path.join(work, "tmp")
    # a fixed, pre-touched heap (the engine's own measured-path conf, at
    # a host-derived size) keeps JVM page faults out of timed passes
    conf = fixed_heap_conf(f"{driver_memory_mb()}m")
    conf["spark.driver.extraJavaOptions"] += f" -Djava.io.tmpdir={tmp}"
    conf.update({
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def _cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostStamp:
    """Cores, memory, hypervisor steal over the run, and the 133 MB
    first-touch probe (a fresh numpy buffer; ~0.1 s on a healthy host,
    seconds during page-backing degradation episodes)."""

    def __init__(self) -> None:
        import numpy as np
        self.cores = cores()
        self.mem_gb = mem_total_bytes() / 2 ** 30
        self._cpu0 = _cpu_times()
        t0 = time.perf_counter()
        buf = np.ones((20000, 26, 32))
        self.first_touch_s = time.perf_counter() - t0
        del buf

    def steal_pct(self) -> float:
        d = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        return 100.0 * d[7] / max(sum(d), 1) if len(d) > 7 else 0.0

    def as_dict(self) -> Dict[str, float]:
        return {"host.cores": self.cores, "host.mem_gb": self.mem_gb,
                "host.steal_pct": self.steal_pct(),
                "host.first_touch_133mb_s": self.first_touch_s}


def descendants(root: int) -> List[int]:
    """Pids of every live process below ``root``."""
    children: Dict[int, list] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_descendants(timeout_s: float = 10.0) -> List[int]:
    """Terminate every process still below this one (SIGTERM, then
    SIGKILL after ``timeout_s``) and wait until each has ended; returns
    the pids that were found."""
    import signal
    found = left = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while left and time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            left = [p for p in left if _alive(p)]
            time.sleep(0.05)
        if not left:
            break
    return found


class RssSampler:
    """Peak summed RSS of the driver JVM (``root``) and every process
    below it, i.e. the Python workers it forks.  Sampled from ``/proc``
    on a daemon thread; :meth:`stop` joins it."""

    def __init__(self, root: int, period_s: float = 0.2) -> None:
        self.root = root
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread: Optional[threading.Thread] = None

    def sample(self) -> int:
        total = 0
        for pid in [self.root] + descendants(self.root):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak_bytes / 2 ** 20
