"""bench.py harness: its one-level inner mode runs real crawl rounds, and
no bench process outlives a `kill -9` of the harness."""

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "bench.py")


def test_round_bench_level_smoke():
    proc = subprocess.run(
        [sys.executable, BENCH, "--round-bench", "--cores", "1", "--urls", "500"],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("ROUNDJSON:")]
    assert lines, proc.stderr[-2000:]
    res = json.loads(lines[0][len("ROUNDJSON:"):])
    assert set(res) == {"cores", "seeds", "round_secs", "fetched"}
    assert res["cores"] == 1 and res["seeds"] == 500
    assert len(res["fetched"]) == len(res["round_secs"]) > 0
    assert all(n > 0 for n in res["fetched"]), res


def _marked(tag: bytes) -> list[int]:
    """Live pids whose environment carries tag."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if tag in f.read().split(b"\0"):
                    pids.append(int(pid))
        except OSError:
            pass
    return pids


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def test_kill_9_leaves_no_bench_process():
    """SIGKILL cannot be trapped, so only the kernel can take the level
    subprocess down with the harness (PR_SET_PDEATHSIG); its JVM and
    that JVM's Python workers follow on their stdin EOF."""
    marker = uuid.uuid4().hex
    # the killed run's crawl root, Spark scratch and JVM temp files land
    # here, not in /tmp
    scratch = tempfile.mkdtemp(prefix="bench-kill-test-")
    # a level of 20 000 seeds runs well past the 30 s wait, so an orphaned
    # level cannot pass the test by finishing on its own
    env = dict(os.environ, BENCH_URLS="20000", BENCH_KILL_TEST=marker,
               TMPDIR=scratch, SPARK_LOCAL_DIRS=scratch,
               SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={scratch}")
    tag = f"BENCH_KILL_TEST={marker}".encode()
    bench = subprocess.Popen(
        [sys.executable, BENCH], env=env, cwd=REPO,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    try:
        # kill mid-crawl: the crawl root exists once the level's gateway
        # JVM is up (spark-submit's launcher JVM before it is short-lived)
        deadline = time.monotonic() + 60
        while not (any(_is_java(p) for p in _marked(tag))
                   and glob.glob(os.path.join(scratch, "spark-round-bench-*"))):
            assert bench.poll() is None, "bench.py exited before starting a crawl"
            assert time.monotonic() < deadline, "no bench crawl within 60 s"
            time.sleep(0.2)
        bench.kill()
        bench.wait()
        deadline = time.monotonic() + 30
        while _marked(tag) and time.monotonic() < deadline:
            time.sleep(0.5)
        assert not _marked(tag)
    finally:
        bench.kill()
        for pid in _marked(tag):
            os.kill(pid, signal.SIGKILL)
        shutil.rmtree(scratch, ignore_errors=True)
