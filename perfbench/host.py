"""Host-side probes: memory of the Spark processes, CPU steal and
load average, and the wait for every child process to end."""

from __future__ import annotations

import os
import select
import signal
import subprocess
import sys
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process ended while we looked
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _proc_field(pid: int, name: str, field: str) -> str:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(field):
                    return line.split()[1]
    except OSError:
        pass  # process ended while we looked
    return "0"


def memory_mb(pids: list[int]) -> float:
    """Resident memory of the Spark processes ``pids``: the JVM's RSS
    plus the proportional resident size (PSS) of every other process.

    PSS splits each shared page between the processes mapping it, so the
    Python workers, forked from one daemon, count their shared pages
    once. Reading PSS walks a process's page tables, too slow to repeat
    on the JVM; its RSS is a kernel counter and it shares next to
    nothing. A JVM child caught between fork and exec reads as a second
    JVM, hence the max over ``java`` processes rather than the sum."""
    jvm, rest = 0.0, 0.0
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue  # process ended while we looked
        if comm == "java":
            jvm = max(jvm, int(_proc_field(p, "status", "VmRSS:")) / 1024.0)
        else:
            rest += int(_proc_field(p, "smaps_rollup", "Pss:")) / 1024.0
    return jvm + rest


# Memory sampling interval: peaks of warm runs of several seconds show at
# this rate, and the sampler costs about 4% of one core (a PSS read walks
# each worker's page tables).
SAMPLE_INTERVAL_S = 0.5


class RssSampler:
    """Samples the resident memory of this process's descendants (the
    Spark JVM and the Python workers it forks, see ``memory_mb``) from a
    separate process, so the sampling neither holds this process's GIL
    nor shows up in its timings. ``take_peak()`` returns the peak since
    the previous call; ``cpu_s`` is the CPU time the sampler used."""

    def __init__(self):
        self.cpu_s = 0.0
        self._proc: subprocess.Popen | None = None

    def take_peak(self) -> float:
        self._proc.stdin.write("\n")
        self._proc.stdin.flush()
        peak, cpu = self._proc.stdout.readline().split()
        self.cpu_s = float(cpu)
        return float(peak)

    def __enter__(self) -> "RssSampler":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid())],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        return self

    def __exit__(self, *exc) -> None:
        self._proc.stdin.close()  # EOF ends the sampler
        self._proc.wait(timeout=30)


def _sample(pid: int) -> None:
    """The sampler process: a line on stdin asks for "<peak MB> <own CPU
    s>" since the previous line; EOF ends it."""
    me, peak = os.getpid(), 0.0
    while True:
        now = memory_mb([p for p in descendants(pid) if p != me])
        peak = max(peak, now)
        if select.select([sys.stdin], [], [], SAMPLE_INTERVAL_S)[0]:
            if not sys.stdin.readline():
                return
            t = os.times()
            print(f"{peak} {t.user + t.system}", flush=True)
            peak = 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is inside user
    return 100.0 * delta[7] / total if total > 0 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def wait_children(timeout_s: float = 60.0) -> None:
    """Wait until every descendant of this process has exited; kill what
    is left after the timeout."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while left := descendants(os.getpid()):
        if time.monotonic() > deadline:
            if killed:
                return  # not even SIGKILL ended them; nothing more to do
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 5
        time.sleep(0.1)
        try:  # reap direct children that have exited
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


if __name__ == "__main__":
    _sample(int(sys.argv[1]))
