"""Peak memory of the program under test: the summed PSS of this process
and its descendants (the driver JVM, the Python daemon and its forked
workers), sampled on a daemon thread from the end of set-up to the end
of the timed region. Input generation runs in a child process that has
exited by then, and the output checks (DuckDB oracle, replays) run after
sampling stops, so neither counts."""

from __future__ import annotations

import os
import threading


def process_tree_pss_kb() -> dict[str, int]:
    """Proportional set size of this process and its descendants (PSS
    splits the pages a fork shares with its parent), summed per command
    name ("java", or "other" for this process and the Python workers),
    with the number of processes in "procs". A child of the JVM that is still named `java` has not yet
    exec'd the command it was spawned for and shares the JVM's memory, so
    it is not counted."""
    children: dict[int, list[tuple[int, str]]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            comm = stat[stat.index("(") + 1 : stat.rindex(")")]
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append((int(pid), comm))
    by_comm: dict[str, int] = {}
    stack = [(os.getpid(), "")]
    while stack:
        pid, comm = stack.pop()
        stack.extend(c for c in children.get(pid, []) if not c[1] == comm == "java")
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        key = "java" if comm == "java" else "other"
                        by_comm[key] = by_comm.get(key, 0) + int(line.split()[1])
                        by_comm["procs"] = by_comm.get("procs", 0) + 1
                        break
        except OSError:
            pass
    return by_comm


class PeakRss:
    """Samples the process tree's summed PSS every PERIOD_S seconds and
    keeps the largest sum. Workers that exit before the run ends count
    while they live, which the per-process high-water marks of the
    survivors would miss."""

    PERIOD_S = 0.25

    def __init__(self):
        self.peak_kb = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        by_comm = process_tree_pss_kb()
        kb = by_comm.get("java", 0) + by_comm.get("other", 0)
        if kb > self.peak_kb:
            self.peak_kb, self.at_peak = kb, by_comm

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.PERIOD_S)

    def stop_mb(self) -> float:
        """Stop sampling (idempotent); the peak in MB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self._sample()
        return self.peak_kb / 1024.0
