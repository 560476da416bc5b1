"""Spans around the program's eager entry points, and the fold of Spark's
event log into per-layer metrics.

Tracing lives in the benchmark's files only. ``install`` wraps, by
module attribute, the eager calls a round or an ingest batch reaches:
``with_dense_seq`` (operators.sequence), the lineage cut ``_ckpt``
(operators.components) and ``SnapshotParquetFormat.commit`` / ``read`` /
``compact`` (sources.table_format). Each wrapper records a span (name,
start, end, parent) and makes the span id the Spark job group for the
call, so every job the call issues is tagged with it. After the run,
``fold`` reads the event log and attributes each job, stage, task and
SQL-operator metric to the innermost span that issued it.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

import procs


class Tracer:
    """In-memory spans; each span is also the Spark job group of its calls."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = f"pb{len(self.spans)}"
        rec = {
            "id": sid, "name": name, "attrs": attrs,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", parent)
            self.sc.setLocalProperty("spark.job.description", None)


def _ckpt_kind(columns) -> str:
    """Which step of a round a lineage cut materializes, from its columns."""
    cols = set(columns)
    if "fetch_at" in cols:
        return "politeness"
    if "dequeue_rank" in cols:
        return "dequeue"
    if "_pid" in cols:
        return "sequence"
    if "parent_seq" in cols:
        return "seen_filter"
    return "other"


def _table_dirs(entry) -> list[str]:
    if isinstance(entry, dict):
        return list(entry["buckets"].values())
    return [entry] if isinstance(entry, str) else list(entry)


def install(tracer: Tracer) -> None:
    """Wrap the program's eager entry points for the rest of the process."""
    from openslack_crawler_spark.operators import components, sequence
    from openslack_crawler_spark.plans import round_job
    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    seq_fn = sequence.with_dense_seq

    def with_dense_seq(df, order_cols, *args, **kwargs):
        col = kwargs.get("col_name", args[1] if len(args) > 1 else "seq")
        with tracer.span("sequence", col=col):
            return seq_fn(df, order_cols, *args, **kwargs)

    ckpt_fn = components._ckpt

    def _ckpt(df, checkpoint_dir, eager=True):
        with tracer.span("ckpt", kind=_ckpt_kind(df.columns)):
            return ckpt_fn(df, checkpoint_dir, eager)

    sequence.with_dense_seq = round_job.with_dense_seq = with_dense_seq
    components._ckpt = round_job._ckpt = _ckpt

    commit_fn = SnapshotParquetFormat.commit
    read_fn = SnapshotParquetFormat.read
    compact_fn = SnapshotParquetFormat.compact

    def commit(self, updates=None, meta=None, appends=None):
        parent = (self.current_manifest() or {"tables": {}})["tables"]
        with tracer.span("table_format.commit", replaced=sorted(updates or {})) as rec:
            sid = commit_fn(self, updates, meta, appends)
        written = {}
        for table, entry in self.current_manifest()["tables"].items():
            old = set(_table_dirs(parent.get(table, [])))
            new = [d for d in _table_dirs(entry) if d not in old]
            if new:
                written[table] = sum(procs.dir_bytes(d) for d in new)
        rec["attrs"]["written"] = written
        return sid

    def read(self, table, *args, **kwargs):
        with tracer.span("table_format.read", table=table) as rec:
            df = read_fn(self, table, *args, **kwargs)
        rec["attrs"]["files"] = len(df.inputFiles()) if df is not None else 0
        return df

    def compact(self, table):
        with tracer.span("table_format.compact", table=table):
            return compact_fn(self, table)

    SnapshotParquetFormat.commit = commit
    SnapshotParquetFormat.read = read
    SnapshotParquetFormat.compact = compact


# --------------------------------------------------------------------------
# event log fold
# --------------------------------------------------------------------------


def _walk(node, out):
    out.append(node)
    for ch in node.get("children", []):
        _walk(ch, out)


class EventLog:
    """Jobs, stages, tasks and SQL-operator accumulators of one app."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # stage -> tasks
        self.acc_total: dict[int, float] = defaultdict(float)
        self.acc_stages: dict[int, set] = defaultdict(set)
        self.acc_node: dict[int, tuple] = {}  # acc id -> (node, text, metric, type)
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(e["Stage IDs"]),
            }
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            stage = e["Stage ID"]
            shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            self.tasks[stage].append({
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "run": m.get("Executor Run Time", 0) / 1000.0,
                "gc": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_w": shuffle,
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })
            for acc in info.get("Accumulables", []):
                try:
                    upd = float(acc["Update"])
                except (KeyError, TypeError, ValueError):
                    continue
                self.acc_total[acc["ID"]] += upd
                self.acc_stages[acc["ID"]].add(stage)
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.acc_total[acc_id] += value
        elif "sparkPlanInfo" in e:
            nodes: list[dict] = []
            _walk(e["sparkPlanInfo"], nodes)
            for n in nodes:
                for m in n.get("metrics", []):
                    self.acc_node[m["accumulatorId"]] = (
                        n["nodeName"], n.get("simpleString", ""), m["name"], m["metricType"],
                    )

    def node_accs(self, pred) -> list[int]:
        return [a for a, node in self.acc_node.items() if pred(node)]

    def stages_of(self, accs) -> set:
        out = set()
        for a in accs:
            out |= self.acc_stages.get(a, set())
        return out


def _metric_value(log: EventLog, acc: int) -> float:
    """An accumulator's total in base units: seconds for timings, bytes
    for sizes, a count otherwise."""
    kind = log.acc_node[acc][3]
    v = log.acc_total.get(acc, 0.0)
    if kind == "timing":
        return v / 1e3
    if kind == "nsTiming":
        return v / 1e9
    return v


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(
    log: EventLog, spans: list[dict], op_ids: list[str], new_share: float
) -> dict[str, float]:
    """Per-layer metrics, each the mean over the timed operations op_ids.
    new_share is the share of new rows in a replaced table (the frontier),
    the base of table_format.write_amp."""
    by_id = {s["id"]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s["id"])

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children[cur])
        return out

    def jobs_in(sids):
        sids = set(sids)
        return [j for j in log.jobs.values() if j["group"] in sids]

    def ran_stages(jobs):
        return {st for j in jobs for st in j["stages"] if log.tasks.get(st)}

    def task_sum(stages, key):
        return sum(t[key] for st in stages for t in log.tasks[st])

    # SQL operators the layers are read from
    url_accs = log.node_accs(
        lambda n: n[0] == "ArrowEvalPython" and "canonicalize" in n[1]
    )
    dedup_accs = log.node_accs(
        lambda n: "Aggregate" in n[0] and "min_by" in n[1]
        and "=[url_hash" in n[1].split("functions=")[0]
    )
    anti_accs = log.node_accs(
        lambda n: "Join" in n[0] and "LeftAnti" in n[1] and n[1].split("[", 1)[-1].startswith("url_hash")
    )
    seen_scan_accs = log.node_accs(lambda n: "Scan" in n[0] and "/data/seen/" in n[1])
    text_scan_accs = log.node_accs(lambda n: "Scan" in n[0] and "text" in n[1].lower()
                                   and "/requests/" in n[1])
    dedup_all = log.stages_of(dedup_accs)
    anti_all = log.stages_of(anti_accs) | log.stages_of(seen_scan_accs)
    text_scan_all = log.stages_of(text_scan_accs)

    per_op = defaultdict(list)
    for oid in op_ids:
        op = by_id[oid]
        tree = subtree(oid)
        tree_spans = [by_id[s] for s in tree]
        op_s = op["end"] - op["start"]
        jobs = jobs_in(tree)
        stages = ran_stages(jobs)
        commit_ids = [s for s in tree if by_id[s]["name"] == "table_format.commit"]
        commit_stages = ran_stages(jobs_in(
            [x for c in commit_ids for x in subtree(c)]
        ))
        job_iv = [(j["submit"], j["end"]) for j in jobs if j["end"] is not None]
        per_op["round_job.jobs"].append(len(jobs))
        per_op["round_job.stages"].append(len(stages))
        per_op["round_job.driver_gap_s"].append(op_s - _union_len(job_iv))
        per_op["round_job.task_s"].append(task_sum(stages, "run"))
        per_op["round_job.gc_s"].append(task_sum(stages, "gc"))
        per_op["round_job.shuffle_write_mb"].append(task_sum(stages, "shuffle_w") / 1e6)
        per_op["round_job.spill_mb"].append(task_sum(stages, "spill") / 1e6)

        # functions.url: the canonicalizer's ArrowEvalPython operator
        def url_metric(name, accs=url_accs, stages=stages):
            return sum(
                _metric_value(log, a) for a in accs
                if log.acc_node[a][2] == name and log.acc_stages.get(a, set()) & stages
            )

        py_s = url_metric("time to run Python workers")
        rows = url_metric("number of output rows")
        per_op["url.python_s"].append(py_s)
        per_op["url.rows"].append(rows)
        per_op["url.us_per_row"].append(py_s * 1e6 / rows if rows else 0.0)
        per_op["url.arrow_in_mb"].append(url_metric("data sent to Python workers") / 1e6)
        per_op["url.arrow_out_mb"].append(url_metric("data returned from Python workers") / 1e6)

        # operators.seen_filter: stages holding the first-wins aggregate,
        # and the anti-join against seen (its probe when it is not fused
        # into the dedup stage, plus the scans of the seen table)
        dedup_st = (dedup_all & stages) - commit_stages
        anti_st = (anti_all & stages) - commit_stages - dedup_st
        durs = [t["dur"] for st in dedup_st for t in log.tasks[st]]
        per_op["seen_filter.dedup_s"].append(task_sum(dedup_st, "run"))
        per_op["seen_filter.task_skew"].append(
            max(durs) / statistics.median(durs) if durs and statistics.median(durs) > 0 else 0.0
        )
        per_op["seen_filter.antijoin_s"].append(task_sum(anti_st, "run"))

        # span-timed layers
        def span_s(pred):
            return sum(s["end"] - s["start"] for s in tree_spans if pred(s))

        def ckpt(kind):
            return lambda s: s["name"] == "ckpt" and s["attrs"].get("kind") == kind

        per_op["frontier.dequeue_s"].append(span_s(ckpt("dequeue")))
        per_op["politeness.slots_s"].append(span_s(ckpt("politeness")))
        # the candidate-rank pass materializes link extraction and the
        # canonicalization of every extracted link
        per_op["linkextract.s"].append(
            span_s(lambda s: s["name"] == "sequence" and s["attrs"]["col"] == "_cand_rank")
        )
        seq_spans = [s for s in tree_spans if s["name"] == "sequence"]
        per_op["sequence.calls"].append(len(seq_spans))
        per_op["sequence.jobs"].append(len(jobs_in(
            [x for s in seq_spans for x in subtree(s["id"])]
        )))
        per_op["sequence.s"].append(span_s(lambda s: s["name"] == "sequence"))
        per_op["ckpt.calls"].append(sum(1 for s in tree_spans if s["name"] == "ckpt"))
        per_op["ckpt.s"].append(span_s(lambda s: s["name"] == "ckpt"))

        # bytes written over bytes of new rows: appended tables count
        # whole, a replaced table by its share of new rows
        commits = [by_id[c]["attrs"] for c in commit_ids]
        written = sum(b for c in commits for b in c["written"].values())
        new = sum(
            b * (new_share if t in c["replaced"] else 1.0)
            for c in commits for t, b in c["written"].items()
        )
        per_op["table_format.commit_s"].append(span_s(lambda s: s["name"] == "table_format.commit"))
        per_op["table_format.write_mb"].append(written / 1e6)
        per_op["table_format.write_amp"].append(written / new if new else 0.0)
        per_op["table_format.read_files"].append(sum(
            s["attrs"].get("files", 0) for s in tree_spans if s["name"] == "table_format.read"
        ))

        # streaming.ingest: tasks of the stages that scan the request files
        # (read + JSON parse), less the canonicalizer's Python time there
        scan_st = text_scan_all & stages
        per_op["ingest.parse_s"].append(
            max(0.0, task_sum(scan_st, "run") - url_metric("time to run Python workers",
                                                           stages=scan_st))
        )

        covered = _union_len(
            [(by_id[c]["start"], by_id[c]["end"]) for c in children[oid]]
        )
        per_op["trace.span_coverage"].append(covered / op_s if op_s > 0 else 0.0)

    out = {k: statistics.fmean(v) for k, v in per_op.items()}
    compacts = [s for s in spans if s["name"] == "table_format.compact"]
    out["table_format.compact_s"] = sum(s["end"] - s["start"] for s in compacts)
    return out
