#!/usr/bin/env python3
"""Crawl-round benchmark runner.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The runner starts one workload worker
(perfbench/worker.py) in its own session, with a per-run scratch
directory under ``.perfbench_scratch/`` for the crawl store, Spark's
local dirs and the event log. A reaper process (perfbench/procs.py)
holds the other end of a pipe: however the runner ends, even by
``kill -9``, the reaper kills every process of the run and removes the
scratch directory. The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``.
"""

import time

T0 = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402

WORKLOADS = ("crawl_steady", "ingest_hot")
RUN_LIMIT_S = 170.0  # a run must end within 180 s
OUT_DIR = ".perfbench_out"  # untraced op CPU medians, the base of trace.overhead


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def _untraced_history(workload: str) -> list[float]:
    path = os.path.join(OUT_DIR, f"{workload}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r["op_cpu_s_p50"] for r in rows if "op_cpu_s_p50" in r]


def _record_untraced(workload: str, seed: int, op_cpu_s_p50: float) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"{workload}.jsonl"), "a") as f:
        f.write(json.dumps({"seed": seed, "op_cpu_s_p50": op_cpu_s_p50}) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(
        os.path.join(root, "openslack_crawler_spark", "plans", "round_job.py")
    ):
        print(
            "perfbench: no openslack_crawler_spark package here; run from "
            "the root of a checkout",
            file=sys.stderr,
        )
        return 2

    run_id = f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
    scratch = os.path.join(root, ".perfbench_scratch", run_id)
    os.makedirs(os.path.join(scratch, "tmp"))
    reaper = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "procs.py"), run_id, scratch],
        stdin=subprocess.PIPE,
        start_new_session=True,
    )
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _terminate)

    worker = None
    try:
        env = dict(
            os.environ,
            **{
                procs.MARK: run_id,
                "PERFBENCH_T0": repr(T0),
                "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
                "TMPDIR": os.path.join(scratch, "tmp"),
                "SPARK_GRAFT_DRIVER_MEM": procs.driver_memory(),
                "SPARK_GRAFT_CPUS": str(procs.task_slots()),
                # no hsperfdata file from spark-submit's launcher JVM
                "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            },
        )
        env.pop("SPARK_GRAFT_MASTER", None)
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "scratch": scratch,
            "run_id": run_id,
        }
        worker = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            env=env,
            stdout=sys.stderr.fileno(),  # our stdout carries only the result
            start_new_session=True,
        )
        rc = worker.wait(timeout=max(1.0, T0 + RUN_LIMIT_S - time.time()))
        result_path = os.path.join(scratch, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            print(f"perfbench: worker exited with code {rc}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 1
    finally:
        if worker is not None and worker.poll() is None:
            worker.kill()
            worker.wait()
        reaper.stdin.close()  # the reaper sweeps the run and removes scratch
        reaper.wait()

    op_p50 = result.pop("op_cpu_s_p50")
    values = result["metrics"]
    if args.trace:
        base = _untraced_history(args.workload)
        values["trace.overhead"] = op_p50 / statistics.median(base) - 1.0 if base else 0.0
        values["trace.overhead_base_runs"] = len(base)
    elif result["correct"]:
        _record_untraced(args.workload, args.seed, op_p50)
    # names and units come from BENCHMARK.json: a metric it lists and the
    # run did not produce is an error, not a silent gap
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    result["metrics"] = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
