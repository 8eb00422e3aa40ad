"""Peak proportional set size (PSS) of a process tree, read from /proc.

PSS splits each shared page between the processes that map it, so summing it
over the driver, the JVM and the forked PySpark workers counts shared pages
once. Summed RSS counts them once per process and can exceed physical memory.

A background thread samples the tree while the ops run, so memory held only
inside an op (Arrow batches and pandas frames in the workers, shuffle
buffers) is seen. Reading the JVM's ``smaps_rollup`` walks its page tables
(~50 ms for a 2 GB heap) and stalls its page faults meanwhile: sampling it
every 250 ms slowed a clips op by 40%, and reading the JVM every 2 s and the
rest every 250 ms still slowed clips ops by ~8% (three of four interleaved
pairs). So the JVM is read every JVM_EVERY_S seconds and the other
processes (driver, PySpark daemon and workers) every INTERVAL_S seconds;
each sample adds the JVM's last reading. The JVM heap is pinned and
pre-touched, so its PSS moves slowly.
"""

from __future__ import annotations

import os
import threading
import time

INTERVAL_S = 1.0
JVM_EVERY_S = 5.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces or parens; ppid is the 2nd field after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class PeakPss:
    """Peak of this process tree's summed PSS, sampled in the background
    from ``start()`` to ``stop()``."""

    def __init__(self):
        self.peak_mb = 0.0
        self.samples = 0
        self._jvm_kb: dict[int, int] = {}
        self._jvm_read = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-pss", daemon=True)

    def sample(self, read_jvm: bool = True) -> None:
        pids = tree_pids(os.getpid())
        jvms = [p for p in pids if _comm(p) == "java"]
        if read_jvm:
            self._jvm_kb = {p: pss_kb(p) for p in jvms}
            self._jvm_read = time.monotonic()
        kb = sum(self._jvm_kb.get(p, 0) for p in jvms)
        kb += sum(pss_kb(p) for p in pids if p not in jvms)
        self.peak_mb = max(self.peak_mb, kb / 1024.0)
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(INTERVAL_S):
            self.sample(read_jvm=time.monotonic() - self._jvm_read >= JVM_EVERY_S)

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
