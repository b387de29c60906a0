"""CPU time and resident memory of the program's processes, read from /proc.

The program runs as three kinds of process: the Python driver (this
process), the JVM that the driver starts, and the PySpark Python workers
that the JVM forks. Only this process and its descendants are read.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int, int, str] | None:
    """(ppid, own cpu ticks, reaped-children cpu ticks, state) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    return int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14]), fields[0]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return ""


def hwm_kb(pid: int) -> int:
    """Resident high-water mark (VmHWM) in kB, 0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class ProgramProcesses:
    """The driver, its JVM and the JVM's Python workers."""

    def __init__(self) -> None:
        self.driver = os.getpid()
        jvms = [p for p in descendants(self.driver) if "java" in _cmdline(p).split(" ")[0]]
        if len(jvms) != 1:
            raise RuntimeError(f"expected one JVM below the driver, found {jvms}")
        self.jvm = jvms[0]
        self.seen: set[int] = {self.jvm}
        self.hwm: dict[int, int] = {}
        self.jit: dict[str, int] = {}

    def workers(self) -> list[int]:
        ws = descendants(self.jvm)
        self.seen.update(ws)
        return ws

    def _jit_ticks(self) -> int:
        """CPU ticks of the JVM's JIT compiler threads, each at the last
        value seen (HotSpot ends idle compiler threads)."""
        task_dir = f"/proc/{self.jvm}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as fh:
                    raw = fh.read()
            except (FileNotFoundError, ProcessLookupError):
                continue
            if raw[raw.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                fields = raw[raw.rindex(")") + 2 :].split()
                self.jit[tid] = int(fields[11]) + int(fields[12])
        return sum(self.jit.values())

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per kind. A worker that has exited and been
        reaped is counted in its parent's children ticks. ``jit`` is the
        JVM's compiler threads, ``jvm`` every other JVM thread."""
        drv, jvm, workers = _stat(self.driver), _stat(self.jvm), 0
        jit = self._jit_ticks()
        for w in self.workers():
            st = _stat(w)
            if st is not None:
                workers += st[1] + st[2]
        return {
            "driver": drv[1] / _TICK,
            "jvm": (jvm[1] - jit) / _TICK,
            "jit": jit / _TICK,
            # the JVM's reaped children are Python workers or daemons
            "python_workers": (workers + jvm[2]) / _TICK,
        }

    def sample_memory(self) -> None:
        for p in [self.jvm, *self.workers()]:
            self.hwm[p] = max(self.hwm.get(p, 0), hwm_kb(p))

    def peak_rss_mb(self) -> float:
        """Sum over the JVM and every worker seen of its resident high-water
        mark. The driver is left out: it also runs the benchmark's own
        input generation, DuckDB oracle and pyarrow checks."""
        self.sample_memory()
        return sum(self.hwm.values()) / 1024.0

    def wait_ended(self, timeout: float) -> list[int]:
        """Wait until the JVM and every worker seen have ended; return the
        pids still alive after ``timeout`` seconds."""
        deadline = time.monotonic() + timeout
        while True:
            alive = [p for p in self.seen if (st := _stat(p)) is not None and st[3] != "Z"]
            if not alive or time.monotonic() > deadline:
                return alive
            time.sleep(0.1)


def seconds_since_process_start() -> float:
    """Wall seconds since this process was created (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def _spin(n: int) -> float:
    """Thread CPU seconds of a fixed pure-Python loop."""
    t0 = time.thread_time()
    x = 0
    for i in range(n):
        x += i * i % 7
    return time.thread_time() - t0


def cpu_probe_s(n: int = 50_000, repeats: int = 8) -> float:
    """How fast this machine's CPUs run a fixed loop right now: the mean
    thread CPU time of ``repeats`` runs of the loop on each CPU of this
    process's affinity in turn. Thread CPU time leaves out time the thread
    waited for a CPU; it grows when the host runs the CPUs slower (a busy
    neighbour on the same physical cores, a lower clock)."""
    cpus = sorted(os.sched_getaffinity(0))
    times = []
    try:
        for c in cpus:
            os.sched_setaffinity(0, {c})
            times += [_spin(n) for _ in range(repeats)]
    finally:
        os.sched_setaffinity(0, cpus)
    return sum(times) / len(times)
