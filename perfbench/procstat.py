"""CPU time and proportional set size of this process and its
descendants (the Spark JVM and its Python workers), read from
/proc so the benchmark needs no extra package."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return text[text.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant, so the
    Python workers that outlive the JVM come back here to be reaped."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_spark(spark, grace_s: float = 10.0) -> None:
    """Stop ``spark`` (if any), end the JVM and wait until every process
    this one started has exited.

    ``spark.stop()`` leaves the JVM running: it exits on EOF of its stdin,
    which otherwise comes only when this process exits, so the JVM and
    its shutdown hooks would outlive the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    except Exception:  # noqa: BLE001
        pass  # a gateway call cut short by SIGTERM breaks stop(); the JVM ends below
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap_descendants(grace_s)


def reap_descendants(grace_s: float) -> None:
    """Wait for every descendant to exit, reaping each. Those still alive
    after ``grace_s`` get SIGTERM, and SIGKILL ``grace_s`` later."""
    me = os.getpid()
    t0 = time.monotonic()
    signals = [(grace_s, signal.SIGTERM), (2 * grace_s, signal.SIGKILL)]
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left, ended or not
        if signals and time.monotonic() - t0 > signals[0][0]:
            sig = signals.pop(0)[1]
            for pid in tree():
                if pid != me:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children
    (a Python worker that exits is charged to the daemon that reaps it)."""
    total = 0
    for pid in pids:
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def pss_mb(pids: list[int]) -> dict[int, float]:
    """pid → proportional set size in MiB, for the pids still alive."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakPss:
    """Background sampler of the process tree's PSS; ``peak`` holds the
    largest sum seen between ``start()`` and ``stop()``.

    Reading smaps_rollup walks a process's page tables under its memory
    map lock. Sampled every 0.2 s, that stalled the JVM and the Python
    workers enough to spread pipeline invocations over 13-17 s; every
    5 s it left them within 15.0 ± 0.3 s. The JVM never hands memory
    back (its RSS equals its high-water mark throughout a run), so its
    peak is its size at the end; ``stop()`` takes a last sample there
    rather than miss up to 5 s of growth."""

    def __init__(self, interval_s: float = 5.0):
        self.interval_s = interval_s
        self.peak = 0.0
        self.at_peak: list[tuple[str, float]] = []  # (command, MiB) per process
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        per_pid = pss_mb(tree())
        total = sum(per_pid.values())
        if total > self.peak:
            self.peak = total
            self.at_peak = [(_comm(p), round(v, 1)) for p, v in per_pid.items()]

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._sample()
        return self.peak
