"""Counters read from outside the engine: `/proc` and Spark's status store.

Everything here observes the Spark JVM and the Python workers it forks
without touching their code: memory and CPU come from
`/proc/<pid>/smaps_rollup` and `/proc/<pid>/stat`, per-stage task metrics from
the driver's status store (populated even with the UI disabled).
"""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")

# Every process a benchmark run starts (the JVM and, through it, each
# Python worker) inherits this variable, set to the run's own pid. A
# process carrying it whose owner is gone was left by a killed run.
OWNER_ENV = "PERFBENCH_OWNER"


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name may hold spaces and parens: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _pids() -> list[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def descendants(root: int) -> list[int]:
    """Live processes below `root` in the process tree (not `root`)."""
    children: dict[int, list[int]] = {}
    for pid in _pids():
        f = _stat_fields(pid)
        if f:
            children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: resident pages, each page shared by
    n processes counted 1/n in each. Summed RSS would count the pages a
    forked Python worker shares with its daemon once per process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass  # the process ended between listing and reading
    return total


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", "rb") as fh:
            return fh.read().startswith(b"python")
    except OSError:
        return False


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) of the JVM's Python descendants.

    Each process contributes its own time plus that of the children it
    has already reaped, so a worker that exited is still counted once,
    inside its parent's total.
    """
    ticks = 0
    for pid in descendants(jvm_pid):
        if not _is_python(pid):
            continue
        f = _stat_fields(pid)
        if f:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


class MemorySampler:
    """Background thread recording the peak summed PSS of a process tree."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            tree = [self.root_pid] + descendants(self.root_pid)
            pss = pss_bytes(tree)
            with self._lock:
                self._peak = max(self._peak, pss)
            self._stop.wait(self.interval_s)

    def take_peak(self) -> int:
        """Peak bytes since the previous call (or the start); resets it."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _owner_of(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/environ", "rb") as fh:
            env = fh.read().split(b"\0")
    except OSError:
        return None
    prefix = OWNER_ENV.encode() + b"="
    for item in env:
        if item.startswith(prefix):
            try:
                return int(item[len(prefix) :])
            except ValueError:
                return None
    return None


def reap_stale() -> int:
    """SIGKILL processes left by an earlier benchmark run that was killed.

    A process is stale when it carries OWNER_ENV and the run that set it
    no longer exists. Returns the number of processes killed.
    """
    me = os.getpid()
    stale = []
    for pid in _pids():
        owner = _owner_of(pid)
        if owner is None or owner == me or pid == me:
            continue
        if not os.path.exists(f"/proc/{owner}"):
            stale.append(pid)
    for pid in stale:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(stale, timeout_s=10)
    return len(stale)


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


# ---------------------------------------------------------------------------
# Spark status store: per-stage task metrics
# ---------------------------------------------------------------------------


def _stages(sc) -> list:
    jvm = sc._jvm
    seq = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    return [seq.apply(i) for i in range(seq.length())]


def last_stage_id(sc) -> int:
    return max((s.stageId() for s in _stages(sc)), default=-1)


def stage_totals(sc, after_id: int) -> dict[str, float]:
    """Task metrics summed over the stages with id > after_id.

    With one client issuing one operation at a time, those are exactly
    the stages that operation ran.
    """
    tot = {"task_run_s": 0.0, "jvm_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "input_mb": 0.0}
    for s in _stages(sc):
        if s.stageId() <= after_id:
            continue
        tot["task_run_s"] += s.executorRunTime() / 1e3
        tot["jvm_cpu_s"] += s.executorCpuTime() / 1e9
        tot["gc_s"] += s.jvmGcTime() / 1e3
        tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
        tot["input_mb"] += s.inputBytes() / 1e6
    return tot
