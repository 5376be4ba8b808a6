"""Host and process readings from /proc (psutil is not available)."""

from __future__ import annotations

import os
import threading

def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies since boot, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[1] - before[1]) / max(after[0] - before[0], 1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss(root: int) -> dict[str, int]:
    """Resident bytes (PSS) of ``root`` and every process below it (the
    driver, the JVM it launched and the JVM's Python workers), by role."""
    kids = _children()
    out = {"driver": 0, "jvm": 0, "workers": 0}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            rss = _pss_bytes(pid)
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except (OSError, IndexError, ValueError):
            continue
        role = "driver" if pid == root else "jvm" if comm == "java" else "workers"
        out[role] += rss
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it. Python workers are forked from one
    daemon, so summing their plain RSS would count the shared pages once
    per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    raise ValueError(f"no Pss line for pid {pid}")


class RssSampler:
    """Samples the process tree's RSS on a daemon thread; :meth:`stop`
    returns the largest sum seen (MB), and ``at_peak`` its split by role."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss(os.getpid())
        if sum(parts.values()) > self.peak:
            self.peak, self.at_peak = sum(parts.values()), parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak / float(1 << 20)
