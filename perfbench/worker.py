"""One workload run, in its own process (started by perfbench/run.py).

Starts the Spark session sized to the box, makes the workload's inputs,
runs the warm-up operations, then issues timed operations until the
run's seconds are spent. Afterwards it checks the program's outputs and,
in a traced run, folds the event log into the per-layer table. The
result goes to ``<scratch>/result.json``.
"""

import json
import os
import statistics
import sys
import threading
import time
import traceback

T0 = float(os.environ["PERFBENCH_T0"])

sys.path.insert(0, os.getcwd())  # the checkout's program
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procs  # noqa: E402
from py4j.protocol import Py4JJavaError  # noqa: E402
import tracing  # noqa: E402

SCALING_OPS = 2  # operations at the low parallelism level, traced runs only


def start_spark(cfg: dict):
    from openslack_crawler_spark.session import get_spark

    scratch = cfg["scratch"]
    conf = {
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # the whole heap committed and touched at start: otherwise the
        # JVM's resident set grows as G1 first touches heap regions, at a
        # pace set by its adaptive young-generation sizing, which follows
        # the box's speed; no hsperfdata file in the system temp dir;
        # compiler threads that never exit (see procs.cpu_s)
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
    }
    if cfg["trace"]:
        events = os.path.join(scratch, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(cores=procs.task_slots(), extra_conf=conf)


class SlotBlocker:
    """Hold `blocked` task slots with sleeping tasks, so the jobs the
    program issues meanwhile run on the remaining slots, in the same warm
    JVM."""

    GROUP = "perfbench-slot-blocker"

    def __init__(self, spark, blocked: int):
        self.sc, self.blocked = spark.sparkContext, blocked
        self.thread = threading.Thread(target=self._hold, daemon=True)

    def _hold(self):
        self.sc.setJobGroup(self.GROUP, "slot blocker", interruptOnCancel=True)
        try:
            self.sc.parallelize(range(self.blocked), self.blocked).foreach(
                lambda _: time.sleep(3600)
            )
        except Py4JJavaError:  # cancelled on exit, as intended
            pass

    def __enter__(self):
        self.thread.start()
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            infos = (tracker.getStageInfo(s) for s in tracker.getActiveStageIds())
            running = sum(i.numActiveTasks for i in infos if i)
            if running >= self.blocked:
                return self
            time.sleep(0.05)
        raise RuntimeError("slot blocker tasks did not start")

    def __exit__(self, *exc):
        self.sc.cancelJobGroup(self.GROUP)
        self.thread.join(timeout=60)
        return False


def run(cfg: dict) -> dict:
    from workloads import WORKLOADS

    run_id, trace = cfg["run_id"], cfg["trace"]
    t = time.time()
    spark = start_spark(cfg)
    session_start_s = time.time() - t
    tracer = None
    if trace:
        tracer = tracing.Tracer(spark.sparkContext)
        tracing.install(tracer)

    wl = WORKLOADS[cfg["workload"]](spark, cfg["seed"], cfg["scratch"])
    wl.setup()
    op_spans: list[str] = []
    failed: set[int] = set()

    def one_op() -> tuple[float, float]:
        """One operation: its wall time and the CPU time the run's
        processes spent meanwhile."""
        wl.prepare()
        c = procs.cpu_s(run_id)
        s = time.perf_counter()
        try:
            if tracer:
                with tracer.span(wl.op_span) as rec:
                    op_spans.append(rec["id"])
                    wl.op()
            else:
                wl.op()
        except Exception:
            traceback.print_exc()
            failed.add(wl.n_ops)
        d = time.perf_counter() - s
        cpu = procs.cpu_s(run_id) - c
        wl.after_op()
        return d, cpu

    t = time.time()
    for _ in range(wl.warmup_ops):
        one_op()
    first_timed = wl.n_ops
    setup_s = time.time() - T0
    _log(f"session {session_start_s:.1f}s, warm-up {time.time() - t:.1f}s, set-up {setup_s:.1f}s")

    # at least min_ops, so that the median rests on the same operations
    # in every run however busy the host is
    durations, cpus = [], []
    start = time.perf_counter()
    while len(durations) < wl.min_ops or time.perf_counter() - start < cfg["seconds"]:
        d, cpu = one_op()
        durations.append(d)
        cpus.append(cpu)
        if len(durations) == 1:
            # memory and store size are taken at the same point of every
            # run, whatever the number of operations that fit in it
            rss = procs.peak_rss_mb(run_id)
    timed = list(range(first_timed, wl.n_ops))

    per_layer = {}
    if trace:
        n = procs.task_slots()
        free = max(1, n // 4)
        low = []
        if free < n:
            with SlotBlocker(spark, n - free):
                low = [one_op()[0] for _ in range(SCALING_OPS)]
        # run_crawl compacts every 16 rounds, which a run does not reach
        wl.fmt.compact("seen")
        high_p50 = statistics.median(durations)
        low_p50 = statistics.median(low) if low else high_p50
        per_layer.update({
            "round_job.scaling_low_p50_s": low_p50,
            "round_job.scaling_high_p50_s": high_p50,
            "round_job.scaling_low_spread": _spread(low),
            "round_job.scaling_high_spread": _spread(durations),
            # speed-up from free to n task slots, over the ideal n / free
            "round_job.scaling_eff": low_p50 / high_p50 / (n / free),
        })

    t = time.time()
    verdicts, msgs = wl.check()
    for m in msgs:
        _log(f"check failed: {m}")
    _log(f"ops {[round(d, 3) for d in durations]} s wall, "
         f"{[round(c, 3) for c in cpus]} s CPU, check {time.time() - t:.1f}s")
    bad = failed | {i for i, v in enumerate(verdicts) if not v}
    n_failed = sum(1 for i in timed if i in bad)
    first = timed[0]
    metrics = {
        "setup_s": setup_s,
        "urls_per_cpu_s": statistics.median(wl.work([i]) / c for i, c in zip(timed, cpus)),
        "op_cpu_s_p50": statistics.median(cpus),
        "peak_rss_mb": rss,
        "store_bytes_per_url": wl.store_bytes[first] / wl.seen_rows(first),
        "op_ok_ratio": 1.0 - n_failed / len(timed),
    }
    if trace:
        c = wl.layer_counts(timed)
        spark.stop()  # flushes the event log
        log = tracing.EventLog(_event_log(cfg["scratch"]))
        new_share = c["frontier.new_rows"] / c["frontier.rows"] if c["frontier.rows"] else 0.0
        per_layer.update(tracing.fold(
            log, tracer.spans, op_spans[first_timed:first_timed + len(timed)], new_share
        ))
        per_op = lambda k: c.get(k, 0) / len(timed)  # noqa: E731
        cands = c["seen_filter.candidates"]
        per_layer.update({
            "politeness.robots_dropped": per_op("politeness.robots_dropped"),
            "linkextract.links": per_op("linkextract.links"),
            "seen_filter.intra_dupes": per_op("seen_filter.intra_dupes"),
            "seen_filter.seen_hits": per_op("seen_filter.seen_hits"),
            "seen_filter.useful_ratio": c["seen_filter.enqueued"] / cands if cands else 0.0,
            "ingest.rejected": per_op("ingest.rejected"),
            "session.start_s": session_start_s,
            "round_job.wall_s_p50": statistics.median(durations),
            "round_job.urls_per_s": statistics.median(
                wl.work([i]) / d for i, d in zip(timed, durations)
            ),
        })
        metrics = per_layer
    else:
        spark.stop()
    return {
        "correct": not bad,
        "attempted": len(timed),
        "failed": n_failed,
        "metrics": {k: float(v) for k, v in metrics.items()},
        "op_cpu_s_p50": statistics.median(cpus),
    }


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _spread(xs) -> float:
    return (max(xs) - min(xs)) / statistics.median(xs) if len(xs) > 1 else 0.0


def _event_log(scratch: str) -> str:
    d = os.path.join(scratch, "events")
    (name,) = [f for f in os.listdir(d) if not f.startswith(".")]
    return os.path.join(d, name)


def main() -> int:
    cfg = json.loads(sys.argv[1])
    result = run(cfg)
    with open(os.path.join(cfg["scratch"], "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
