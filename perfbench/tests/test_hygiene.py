"""Process hygiene of the benchmark runner.

``kill -9`` the runner while its workload is mid-flight: no JVM, Python
worker or helper process of the run may survive, and the run's scratch
directory must be gone. Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q
"""

import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import procs  # noqa: E402


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _run_id_of(runner_pid: int) -> str | None:
    """The run id the runner gave its worker (``<runner pid>-<hex>``)."""
    prefix = f"{procs.MARK}={runner_pid}-".encode()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        for kv in env:
            if kv.startswith(prefix):
                return kv.split(b"=", 1)[1].decode()
    return None


def _wait(cond, timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(0.5)
    return cond()


def test_kill_9_mid_workload_leaves_nothing_behind():
    runner = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_hot",
         "--seed", "1", "--seconds", "120", "--trace", "0"],
        cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    run_id = None
    try:
        def busy() -> bool:
            nonlocal run_id
            run_id = run_id or _run_id_of(runner.pid)
            if not run_id:
                return False
            cmds = [_cmdline(p) for p in procs.marked_pids(run_id)]
            # the JVM is up and has forked the Python worker daemon
            return any("java" in c for c in cmds) and any("pyspark.daemon" in c for c in cmds)

        assert _wait(busy, 150), "the run never reached its Python workers"
        time.sleep(2)
        os.kill(runner.pid, signal.SIGKILL)
        runner.wait(timeout=10)
    finally:
        if runner.poll() is None:
            runner.kill()
            runner.wait()

    scratch = os.path.join(ROOT, ".perfbench_scratch", run_id)

    def clean() -> bool:
        helpers = [
            name for name in os.listdir("/proc")
            if name.isdigit() and run_id in _cmdline(int(name))
        ]
        return not procs.marked_pids(run_id) and not helpers and not os.path.exists(scratch)

    assert _wait(clean, 60), (
        f"left behind: processes {procs.marked_pids(run_id)}, "
        f"scratch exists={os.path.exists(scratch)}"
    )
