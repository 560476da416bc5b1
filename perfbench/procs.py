"""Process and disk bookkeeping read from /proc and the file system
(psutil is not installed).

Every process of one benchmark run -- the workload worker, the Spark
driver JVM it launches and the Python workers that JVM forks -- carries
the environment variable ``PERFBENCH_RUN=<run id>``. The marker survives
the process-group changes Spark makes (PySpark's worker daemon calls
``setpgid``), so sweeping by marker reaches every descendant.

Run as a script, this module is the reaper: it blocks on its standard
input, which the runner holds open, and when the runner exits or is
killed it kills every marked process and removes the run's scratch
directory.
"""

from __future__ import annotations

import os
import shutil
import signal
import sys
import time

MARK = "PERFBENCH_RUN"


def marked_pids(run_id: str) -> list[int]:
    """Live processes whose environment carries this run's marker."""
    needle = f"{MARK}={run_id}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:  # exited, or not ours to read
            continue
        if needle in env:
            out.append(int(name))
    return out


def sweep(run_id: str, timeout_s: float = 30.0) -> bool:
    """SIGKILL every marked process until none is left; True when clean."""
    deadline = time.monotonic() + timeout_s
    while True:
        pids = marked_pids(run_id)
        if not pids:
            return True
        if time.monotonic() > deadline:
            return False
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(run_id: str) -> float:
    """Sum of per-process peak resident set (VmHWM) over the run's live
    processes: the worker's Python driver, the JVM and the Python
    workers."""
    return sum(_status_kb(p, "VmHWM") for p in marked_pids(run_id)) / 1024.0


def cpu_s(run_id: str) -> float:
    """CPU seconds (user + system) spent so far by the run's live
    processes and the children they have reaped, less the JVM's JIT
    compiler threads. A process that exits and is reaped moves its time
    into its parent's count, so differences of this sum stay exact
    across process exits. Time the hypervisor gives to other guests
    (steal) is not counted. JIT compilation is left out because how much
    of it lands in an early operation depends on how busy the host is;
    the compiler threads live as long as the JVM (the worker starts it
    with -XX:-UseDynamicNumberOfCompilerThreads), so none of their time
    is lost when one would otherwise exit."""
    ticks = 0
    for pid in marked_pids(run_id):
        ticks += _cpu_ticks(f"/proc/{pid}")
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" in f.read():  # C1/C2 CompilerThread<n>
                        ticks -= _cpu_ticks(f"/proc/{pid}/task/{tid}")
            except OSError:
                pass
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(proc_dir: str) -> int:
    """utime + stime + cutime + cstime of a process or thread."""
    try:
        with open(f"{proc_dir}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def driver_memory() -> str:
    """Spark driver heap for this box: 15% of MemTotal, 1g to 31g (31g
    keeps compressed oops). The session's 20g default does not fit a
    15 GB box, and the heap is pre-touched, so it is sized to what the
    workloads use rather than to what the box could hold."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    gb = int(total_kb * 0.15 / (1024 * 1024))
    return f"{max(1, min(31, gb))}g"


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under path."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task slots for a run: half the CPUs. The workloads are bound
    by fixed per-job cost, so the other half costs them no speed; it
    keeps the JVM's compiler and GC threads, the driver's Python process
    and the Python workers off the task threads' CPUs."""
    return max(1, nproc() // 2)


def reap(run_id: str, scratch: str) -> None:
    """Wait for EOF on stdin (the runner has gone), then clean up."""
    signal.signal(signal.SIGINT, signal.SIG_IGN)
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    while sys.stdin.buffer.read(4096):
        pass
    sweep(run_id)
    shutil.rmtree(scratch, ignore_errors=True)
    parent = os.path.dirname(scratch)
    try:
        os.rmdir(parent)  # only when no other run is using it
    except OSError:
        pass


if __name__ == "__main__":
    reap(sys.argv[1], sys.argv[2])
